package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.SparkSession

import scala.collection.concurrent.TrieMap

/** A shared intermediate built by the first query that needs it and
  * probed by every later one: graft's one memo policy. Entries are
  * keyed by session and the path's normalized absolute spelling (`d`
  * and `d/./` share one). A memo with a fill counter builds inside
  * `Memo.timed`, so Bench publishes its cold cost apart from the warm
  * per-query figures. Concurrent first callers may each build; all of
  * them get the value stored first.
  */
final class Memo[V] private (val name: String, fill: Option[AtomicLong]) {
  private val entries = TrieMap.empty[(SparkSession, String), V]

  def apply(spark: SparkSession, path: String)(build: => V): V =
    entries.getOrElseUpdate(
      (spark, java.nio.file.Paths.get(path).toAbsolutePath.normalize.toString),
      fill.fold(build)(Memo.timed(_)(build)))
}

object Memo {
  private val all = new java.util.concurrent.CopyOnWriteArrayList[Memo[_]]()

  private def register[V](m: Memo[V]): Memo[V] = { all.add(m); m }

  /** A memo whose builds add their wall time to `fill`. */
  def apply[V](name: String, fill: AtomicLong): Memo[V] = {
    require(fill != null, s"$name: declare its fill counter before the memo")
    register(new Memo[V](name, Some(fill)))
  }

  /** A memo whose builds are not timed (schema lookups). */
  def untimed[V](name: String): Memo[V] = register(new Memo[V](name, None))

  def names: Seq[String] = all.toArray(Array.empty[Memo[_]]).toSeq.map(_.name)

  /** Drop every entry of every memo (tests: re-execute memo-backed
    * rows under another conf).
    */
  private[graft] def clear(): Unit = all.forEach(_.entries.clear())

  private val open = ThreadLocal.withInitial[Set[AtomicLong]](() => Set.empty)

  /** Run `body`, adding its wall time to `fill` unless a span of the
    * same counter is already open on this thread, so a fill nested in
    * another of its counter (landmark BFS builds the bipartite graph)
    * counts once. Spans of different counters each get the time.
    */
  def timed[T](fill: AtomicLong)(body: => T): T =
    if (open.get.contains(fill)) body
    else {
      open.set(open.get + fill)
      val t0 = System.nanoTime()
      try body
      finally {
        fill.addAndGet(System.nanoTime() - t0)
        open.set(open.get - fill)
      }
    }
}
