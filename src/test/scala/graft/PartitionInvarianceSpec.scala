package graft

/** Partition-count invariance sweep — the single-machine analogue of
  * "would this answer change on a 1000-executor cluster": every
  * registry query must return byte-identical rows when
  * `spark.sql.shuffle.partitions` changes (4 → 13, a deliberately
  * awkward prime). Any operator that leaks physical partitioning into
  * its OUTPUT — a per-partition sample, a limit without a total
  * order, an aggregation whose tie-break depends on merge order, an
  * unrounded FP sum whose association varies with reducer count —
  * fails here instead of surfacing as a cluster-vs-laptop diff.
  * The in-process memos are cleared between the two passes
  * (`Memo.clear()`), so memo-backed rows rebuild them at 13
  * partitions; on-disk stagings built at 4 are still reused, so
  * their build paths are not re-run here.
  * Streaming drains pin their own state-partition count (8) inside
  * withDrainConf, so they are exercised for sink/replay invariance
  * rather than state sizing.
  */
class PartitionInvarianceSpec extends SparkTestBase {

  test("every registry query is byte-identical at 13 shuffle partitions") {
    val names = SparkEntry.queries.keys.toSeq.sorted
    // two pooled passes under stable conf windows (sweepRegistry —
    // the conf is flipped ONCE around the whole second pass, so a
    // concurrently planned query can never observe a mid-sweep
    // partition count; stream drains run sequentially inside each
    // pass for the same reason); restore the PREVIOUS value, not a
    // literal — the session is shared across suites (ADVICE r12 #2)
    val at4 = sweepRegistry(names)(n =>
      SparkEntry.queries(n)(spark, SfDir).collect().map(_.toSeq).toSeq)
    Memo.clear()
    val prev = spark.conf.getOption("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "13")
    val at13 =
      try sweepRegistry(names)(n =>
        SparkEntry.queries(n)(spark, SfDir).collect().map(_.toSeq).toSeq)
      finally prev.fold(spark.conf.unset("spark.sql.shuffle.partitions"))(
        spark.conf.set("spark.sql.shuffle.partitions", _))
    val diverged = names.flatMap { name =>
      (at4(name), at13(name)) match {
        case (Left(err), _) => Some(s"$name THREW at 4 partitions: $err")
        case (_, Left(err)) => Some(s"$name THREW at 13 partitions: $err")
        case (Right(a), Right(b)) if a != b =>
          Some(s"$name rows depend on the shuffle partition count")
        case _ => None
      }
    }
    assert(diverged.isEmpty,
      s"${diverged.size} queries not partition-invariant:\n  ${diverged.mkString("\n  ")}")
  }
}
