package graft

/** Whole-registry conf-parity sweeps: every registry query must
  * return byte-identical rows when one engine conf is flipped. The
  * default-conf pass is computed once and shared; each test clears
  * the in-process memos (`Memo.clear()`), flips its conf, sweeps the
  * registry again, and restores the PREVIOUS value, not a literal —
  * the session is shared across suites via getOrCreate (ADVICE r12
  * #2). Each flipped pass runs under one stable conf window
  * (sweepRegistry), so a concurrently planned query can never observe
  * a mid-sweep conf. Memo-backed rows rebuild their memos under the
  * flipped conf. On-disk stagings (indexes, snapshots, DV tables)
  * built under the default conf are still reused, so their build
  * paths are not re-run here; AnsiBuildSpec re-stages them on a fresh
  * corpus copy with ANSI on.
  *
  * The three axes:
  *  - ANSI mode — the silent-wraparound audit. Under default
  *    (non-ANSI) semantics an integer overflow WRAPS and a decimal
  *    overflow NULLs; both flow silently into downstream aggregates
  *    (ADVICE r11 #5 flagged betweenness σ, now assert-guarded). Under
  *    ANSI the same conditions THROW, so a registry identical under
  *    both modes has no serve-path arithmetic that silently relies on
  *    wrap/NULL-on-overflow at the tested scale. NULL-on-missing
  *    lookups that are semantically intended (the Viterbi piece-score
  *    probe, the JS-divergence per-source mass) use try_element_at,
  *    which keeps NULL semantics in both modes.
  *  - Adaptive execution. The test session pins AQE off for
  *    deterministic plan-shape assertions, while Bench runs AQE on:
  *    no operator's output may depend on runtime re-planning
  *    (coalesced partitions, demoted joins, skew splits). Streaming
  *    queries disable AQE internally and ride through unchanged —
  *    included for the sink/replay invariance.
  *  - Shuffle-partition count (4 → 13, a deliberately awkward prime) —
  *    the single-machine analogue of "would this answer change on a
  *    1000-executor cluster": a per-partition sample, a limit without
  *    a total order, a tie-break that depends on merge order or an
  *    unrounded FP sum whose association varies with reducer count
  *    fails here. Streaming drains pin their own state-partition
  *    count (8) inside withDrainConf, so they are exercised for
  *    sink/replay invariance rather than state sizing.
  */
class ConfParitySpec extends SparkTestBase {

  private type Rows = Seq[Seq[Any]]

  /** `spark` is read once on the calling thread: a pool thread that
    * initialised it would wait on the suite's lock, which the lazy
    * `default` holds while it sweeps.
    */
  private def sweep(names: Seq[String]): Map[String, Either[String, Rows]] = {
    val session = spark
    sweepRegistry(names)(n =>
      SparkEntry.queries(n)(session, SfDir).collect().map(_.toSeq).toSeq)
  }

  private lazy val names = SparkEntry.queries.keys.toSeq.sorted

  /** The default-conf pass every axis compares against. */
  private lazy val default = sweep(names)

  /** Sweep the registry with `key` set to `value`; the memos are
    * cleared first so memo-backed rows rebuild under the flipped conf.
    */
  private def flipped(key: String, value: String)
      : Map[String, Either[String, Rows]] = {
    Memo.clear()
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try sweep(names)
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** One message per query that threw in either pass or whose rows
    * differ; `mode` names the flipped pass, `diverged` the row message.
    */
  private def divergences(base: Map[String, Either[String, Rows]],
      flip: Map[String, Either[String, Rows]], baseMode: String,
      mode: String, diverged: String): Seq[String] =
    names.flatMap { name =>
      (base(name), flip(name)) match {
        case (Left(err), _) => Some(s"$name THREW $baseMode: $err")
        case (_, Left(err)) => Some(s"$name THREW $mode: $err")
        case (Right(d), Right(f)) if d != f => Some(s"$name $diverged")
        case _ => None
      }
    }

  test("every registry query is byte-identical under ANSI mode") {
    val base = default
    val ansi = flipped("spark.sql.ansi.enabled", "true")
    val diverged = divergences(base, ansi, "under default conf",
      "under ANSI", "rows diverged under ANSI")
    assert(diverged.isEmpty,
      s"${diverged.size} queries not ANSI-clean:\n  ${diverged.mkString("\n  ")}")
  }

  test("every registry query is byte-identical under adaptive execution") {
    val base = default
    val aqe = flipped("spark.sql.adaptive.enabled", "true")
    val diverged = divergences(base, aqe, "under default conf",
      "under AQE", "rows diverged under AQE")
    assert(diverged.isEmpty,
      s"${diverged.size} queries not AQE-invariant:\n  ${diverged.mkString("\n  ")}")
  }

  test("every registry query is byte-identical at 13 shuffle partitions") {
    val at4 = default
    val at13 = flipped("spark.sql.shuffle.partitions", "13")
    val diverged = divergences(at4, at13, "at 4 partitions",
      "at 13 partitions", "rows depend on the shuffle partition count")
    assert(diverged.isEmpty,
      s"${diverged.size} queries not partition-invariant:\n  ${diverged.mkString("\n  ")}")
  }
}
