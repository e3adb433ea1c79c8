package graft

/** AQE parity sweep — the third engine-mode invariance axis (with
  * AnsiParitySpec and PartitionInvarianceSpec): every registry query
  * must return byte-identical rows with adaptive query execution ON.
  * The test session pins AQE off for deterministic plan-shape
  * assertions, while Bench runs AQE on — this sweep certifies that
  * the two configurations can never disagree on RESULTS, i.e. no
  * operator's output depends on runtime re-planning (coalesced
  * partitions, demoted joins, skew splits). Streaming queries disable
  * AQE internally and ride through unchanged — included for the
  * sink/replay invariance. The in-process memos are cleared between
  * the two passes (`Memo.clear()`), so memo-backed rows rebuild them
  * with AQE on; on-disk stagings built under the default conf are
  * still reused, so their build paths are not re-run here.
  */
class AqeParitySpec extends SparkTestBase {

  test("every registry query is byte-identical under adaptive execution") {
    val names = SparkEntry.queries.keys.toSeq.sorted
    // two pooled passes under stable conf windows (sweepRegistry);
    // restore the PREVIOUS value, not a literal — the session is
    // shared across suites via getOrCreate (ADVICE r12 #2)
    val default = sweepRegistry(names)(n =>
      SparkEntry.queries(n)(spark, SfDir).collect().map(_.toSeq).toSeq)
    Memo.clear()
    val prev = spark.conf.getOption("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    val aqe =
      try sweepRegistry(names)(n =>
        SparkEntry.queries(n)(spark, SfDir).collect().map(_.toSeq).toSeq)
      finally prev.fold(spark.conf.unset("spark.sql.adaptive.enabled"))(
        spark.conf.set("spark.sql.adaptive.enabled", _))
    val diverged = names.flatMap { name =>
      (default(name), aqe(name)) match {
        case (Left(err), _) => Some(s"$name THREW under default conf: $err")
        case (_, Left(err)) => Some(s"$name THREW under AQE: $err")
        case (Right(d), Right(a)) if d != a =>
          Some(s"$name rows diverged under AQE")
        case _ => None
      }
    }
    assert(diverged.isEmpty,
      s"${diverged.size} queries not AQE-invariant:\n  ${diverged.mkString("\n  ")}")
  }
}
