package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** The shared memo policy (`graft.Memo`): per-counter fill timing
  * with an outermost-span guard, normalized path keys, `clear()`, and
  * one stored value under concurrent first calls. Memos built here
  * are named `MemoSpec.*` so the frozen-set check can tell them apart.
  */
class MemoSpec extends SparkTestBase {

  private val SleepMs = 30L
  private def ms(n: Long): Long = n * 1000000L

  private def wallNanos(body: => Unit): Long = {
    val t0 = System.nanoTime()
    body
    System.nanoTime() - t0
  }

  test("a nested fill of the same counter adds its time once") {
    val fill = new AtomicLong(0L)
    val inner = Memo[String]("MemoSpec.sameInner", fill)
    val outer = Memo[String]("MemoSpec.sameOuter", fill)
    val session = spark // started outside the timed call
    val wall = wallNanos(outer(session, SfDir) {
      Thread.sleep(SleepMs)
      inner(session, SfDir) { Thread.sleep(SleepMs); "i" } + "o"
    })
    // counted twice, the total would exceed the outer call's own wall
    // time by the inner span (>= SleepMs)
    assert(fill.get >= ms(2 * SleepMs))
    assert(fill.get <= wall)
  }

  test("a nested fill of a different counter adds to both") {
    val outerFill = new AtomicLong(0L)
    val innerFill = new AtomicLong(0L)
    val inner = Memo[String]("MemoSpec.otherInner", innerFill)
    val outer = Memo[String]("MemoSpec.otherOuter", outerFill)
    outer(spark, SfDir) {
      Thread.sleep(SleepMs)
      inner(spark, SfDir) { Thread.sleep(SleepMs); "i" } + "o"
    }
    assert(innerFill.get >= ms(SleepMs))
    assert(outerFill.get >= ms(2 * SleepMs))
  }

  test("two spellings of one directory hit one entry; clear() rebuilds") {
    val builds = new AtomicInteger(0)
    val m = Memo.untimed[Int]("MemoSpec.spellings")
    def call(dir: String): Int = m(spark, dir)(builds.incrementAndGet())
    assert(call(SfDir) == 1)
    assert(call(s"$SfDir/./") == 1)
    assert(builds.get == 1)
    Memo.clear()
    assert(call(SfDir) == 2)
  }

  test("concurrent first callers all get the same value") {
    val m = Memo.untimed[AnyRef]("MemoSpec.concurrent")
    val got = sweepRegistry((1 to 32).map(i => s"q$i"))(_ =>
      m(spark, SfDir) { Thread.sleep(5); new Object })
    val values = got.values.map(_.fold(e => fail(e), identity)).toSeq
    assert(values.size == 32)
    assert(values.forall(_ eq values.head))
  }

  test("the memo set is frozen at twelve") {
    // initialise every object that owns a memo
    assert(Seq[AnyRef](SparkEntry.queries, Tables, streaming.EventsStreaming)
      .forall(_ != null))
    val expected = Seq(
      "WordCount.bipartite", "WordCount.landmark", "WordCount.lpa",
      "WordCount.coPurchase",
      "Bpe.merges", "Bpe.batched", "Bpe.wordIds",
      "Dedup.nearDupPairs", "Dedup.components", "Dedup.semIndex",
      "Tables.schema", "EventsStreaming.srcSchema")
    assert(Memo.names.filterNot(_.startsWith("MemoSpec.")).sorted ==
      expected.sorted)
  }
}
