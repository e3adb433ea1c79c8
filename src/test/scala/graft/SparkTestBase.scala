package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import scala.util.control.NonFatal

/** Shared local session for specs — one per suite, UTC, small shuffle. */
trait SparkTestBase extends AnyFunSuite {
  val SfDir = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    // deterministic physical plans for the plan-shape assertions
    .config("spark.sql.adaptive.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Run `body(name)` for every registry name under ONE stable conf
    * window, overlapping independent BATCH queries from a small
    * driver-side thread pool (guide §2.6 — Spark happily runs
    * concurrent jobs; sequential sweeps of 297 tiny queries leave the
    * session mostly idle). The four whole-registry sweeps
    * (ANSI / AQE / partition-count parity, robustness) were 2 100 s of
    * the suite's 2 909 s wall when strictly sequential (r17 measure).
    * `stream_*` drains run SEQUENTIALLY after the pool drains:
    * `withDrainConf` mutates the session's shuffle-partition conf
    * around each drain, which a concurrently PLANNED batch query
    * could otherwise observe — exactly what the partition sweep must
    * not let happen. Per-query assertions/coverage are unchanged;
    * each query's result is computed by the same `body` and returned
    * keyed by name (Left = the first line of a non-fatal throw,
    * matching the sequential sweeps' error capture; a fatal error
    * aborts the sweep).
    */
  def sweepRegistry[A](names: Seq[String], par: Int = 4)(
      body: String => A): Map[String, Either[String, A]] = {
    val (streams, batches) = names.partition(_.startsWith("stream_"))
    val out = scala.collection.concurrent.TrieMap
      .empty[String, Either[String, A]]
    def one(n: String): Unit = out(n) =
      try Right(body(n))
      catch { case NonFatal(e) => Left(e.toString.linesIterator.next()) }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
    try {
      import scala.jdk.CollectionConverters._
      pool.invokeAll(
        batches.map(n => new java.util.concurrent.Callable[Unit] {
          def call(): Unit = one(n)
        }).asJava).asScala.foreach(_.get())
    } finally pool.shutdown()
    streams.foreach(one)
    out.toMap
  }
}
