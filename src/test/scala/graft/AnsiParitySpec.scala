package graft

/** ANSI-mode parity sweep — the silent-wraparound audit run as a
  * structural property over the WHOLE registry: every query must
  * return byte-identical rows with `spark.sql.ansi.enabled=true`.
  *
  * Why this matters at 100 TB: under default (non-ANSI) semantics an
  * integer overflow WRAPS and a decimal overflow NULLs — both flow
  * silently into downstream aggregates, which is exactly the failure
  * mode ADVICE r11 #5 flagged for betweenness σ (now assert-guarded).
  * Under ANSI the same conditions THROW. A registry that produces
  * identical output under both modes therefore has no SERVE-PATH
  * arithmetic that silently relies on wrap/NULL-on-overflow at the
  * tested scale — and any FUTURE operator that sneaks one in fails
  * this suite, not a 3 a.m. production job. The in-process memos
  * are cleared between the two passes (`Memo.clear()`), so every
  * memo-backed row rebuilds its memo under ANSI. On-disk stagings
  * (indexes, snapshots, DV tables) built under the default conf are
  * still reused; their build paths are certified by AnsiBuildSpec,
  * which re-stages them on a fresh corpus copy with ANSI on.
  *
  * NULL-on-missing lookups that are semantically intended (the
  * Viterbi piece-score probe, the JS-divergence per-source mass) use
  * try_element_at, which keeps NULL semantics in both modes.
  */
class AnsiParitySpec extends SparkTestBase {

  test("every registry query is byte-identical under ANSI mode") {
    val names = SparkEntry.queries.keys.toSeq.sorted
    // two pooled passes under stable conf windows (sweepRegistry —
    // same per-query comparisons as the former sequential
    // run-default-then-flip loop, ~3x less wall): all default-mode
    // results first, then all ANSI results under one conf window;
    // restore the PREVIOUS value, not a literal — the session is
    // shared across suites via getOrCreate (ADVICE r12 #2)
    val default = sweepRegistry(names)(n =>
      SparkEntry.queries(n)(spark, SfDir).collect().map(_.toSeq).toSeq)
    Memo.clear()
    val prev = spark.conf.getOption("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    val ansi =
      try sweepRegistry(names)(n =>
        SparkEntry.queries(n)(spark, SfDir).collect().map(_.toSeq).toSeq)
      finally prev.fold(spark.conf.unset("spark.sql.ansi.enabled"))(
        spark.conf.set("spark.sql.ansi.enabled", _))
    val diverged = names.flatMap { name =>
      (default(name), ansi(name)) match {
        case (Left(err), _) => Some(s"$name THREW under default conf: $err")
        case (_, Left(err)) => Some(s"$name THREW under ANSI: $err")
        case (Right(d), Right(a)) if d != a =>
          Some(s"$name rows diverged under ANSI")
        case _ => None
      }
    }
    assert(diverged.isEmpty,
      s"${diverged.size} queries not ANSI-clean:\n  ${diverged.mkString("\n  ")}")
  }
}
