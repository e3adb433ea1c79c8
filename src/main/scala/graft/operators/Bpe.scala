package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GQuery, Memo, Tables}
import graft.Ckpt.TruncOps
import graft.functions.Text

/** Distributed subword BPE (VERDICT r10 #1) — the first-class
  * LLM-pipeline primitive the word-level token ops don't cover: a
  * training pipeline ships SUBWORD ids, not word ranks.
  *
  * `pipe_bpe_train` runs the Sennrich byte-pair-encoding merge
  * fixpoint AS A SPARK JOB: the corpus reduces once to a (word, cnt)
  * vocabulary (the only corpus-scaled aggregate), each word spelled
  * as a space-joined character sequence; each merge round is then
  *   (1) one keyed pair-count aggregate over the VOCABULARY
  *       (map-side combinable — the corpus is never re-scanned),
  *   (2) an argmax collected to the driver (1 row — the constant-size
  *       driver contract, the k-means-centroid precedent), and
  *   (3) a greedy left-to-right in-word merge applied as a codegen'd
  *       string fold over each word's symbol sequence,
  * with per-round lineage truncation (the PageRank loop discipline).
  * Every count and tie-break is an INTEGER (max pair count, then
  * lexicographically smallest pair), so DuckDB replays the ENTIRE
  * merge sequence — all NumMerges rounds of pair counting, argmax,
  * and greedy refolding — cell-for-cell in one unrolled SQL chain
  * (the `dd_lsh_recall` standard: the algorithm itself is
  * hash-audited, not a planted corner).
  *
  * `pipe_bpe_encode` applies the learned merge table to every
  * document: distinct words encode ONCE (vocabulary-sized work), the
  * corpus joins to the encoded vocabulary on the word (the
  * `pipe_tokenize_to_ids` join shape), and per-doc id sequences
  * reassemble with the bounded per-doc collect. Symbol ids are
  * data-derived but window-free: alphabet chars rank by the ≤~100-row
  * broadcast theta-join count-of-smaller (ids 0..A−1), merged symbols
  * follow in merge order (A, A+1, …); a symbol string minted twice
  * (e.g. "ab"+"c" and "a"+"bc" both yielding "abc") keeps its FIRST
  * id via a min-id dedup, exactly as a real BPE vocab file would.
  *
  * Scale shape at 100 TB: the corpus is scanned once for the
  * vocabulary and once for the encode join; every merge round touches
  * only the vocabulary (~10⁸ rows at web scale, a cheap keyed agg);
  * driver traffic is NumMerges single rows plus the ≤~100-row merge
  * table. NumMerges is a compile-time constant (48) because the
  * oracle is a static unrolled replay; production trainings raise it
  * (and batch non-overlapping merges per round) without changing any
  * plan shape. Exhaustion (no pair left anywhere) simply stops
  * minting merges — the Spark loop breaks, and the oracle's empty
  * per-round argmax makes the same round an identity, so the two
  * merge tables stay equal with no data-dependent unroll.
  *
  * Reference ground: generalizes the reference tokenizer
  * (/root/reference/mapreduce/worker/algorithm.py:9-11) below the
  * word level, the way wc_wordcount generalized its word count.
  */
object Bpe {

  /** Fixed merge budget — MUST be a compile-time constant: the DuckDB
    * oracle unrolls exactly this many merge rounds. The driver corpora
    * exhaust at 89 merges (measured at every SF), so 48 never hits the
    * empty-argmax identity path there; tiny spec corpora may, and both
    * engines then agree by construction (see object doc).
    */
  val NumMerges = 48

  /** Lineage-truncation stride for the encode-side refold chain: the
    * vocabulary frame re-checkpoints every 12 merges so no plan ever
    * carries more than 12 nested fold expressions (analyzer cost grows
    * with expression depth; the data is vocabulary-sized either way).
    */
  val FoldStride = 12

  // ---------------------------------------------------------------
  // Shared primitives (Spark side)
  // ---------------------------------------------------------------

  /** (word, cnt) vocabulary of the lowercased reference-tokenized
    * corpus — the one corpus-scaled aggregate in the whole family.
    */
  private def vocabOf(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(Text.tokens(lower(col("text")))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))

  /** Space-joined character spelling of `w` (the initial symbol
    * sequence). Char-indexed substring on both engines, so non-ASCII
    * code points would spell identically too.
    */
  private def charSeq(w: Column): Column =
    array_join(
      transform(sequence(lit(1), length(w)), i => w.substr(i, lit(1))), " ")

  /** One greedy left-to-right merge of the pair (a, b) in a
    * space-joined symbol sequence, as a string fold: scan symbols,
    * and when the accumulated sequence ends in symbol `a` and the
    * next symbol is `b`, splice them into `ab`. Greedy semantics fall
    * out naturally — a just-merged `ab` tail can never equal `a`
    * again (symbols are non-empty, so `ab` is strictly longer), which
    * is exactly how [a,a,a] merges to [aa,a] and not [a,aa]. Symbols
    * never contain spaces or LIKE metacharacters (they are
    * concatenations of word characters), so the suffix test is exact.
    */
  private def foldMerge(seq: Column, a: String, b: String): Column =
    foldMergeMulti(seq, Seq((a, b)))

  /** One pass applying a BATCH of string-disjoint pairs (see
    * `selectDisjoint`: no pair's lhs/rhs/minted string collides with
    * another's, so at most one arm can fire per (suffix, x) and a
    * just-minted token can never feed another arm — simultaneous
    * application equals any sequential order).
    */
  private def foldMergeMulti(seq: Column, pairs: Seq[(String, String)]): Column =
    aggregate(split(seq, " "), lit(""), (acc, x) => {
      val base = when(acc === lit(""), x).otherwise(concat(acc, lit(" "), x))
      pairs.foldRight(base) { case ((a, b), els) =>
        when(x === lit(b) && (acc === lit(a) || acc.like("% " + a)),
          concat(acc.substr(lit(1), length(acc) - lit(a.length)), lit(a + b)))
          .otherwise(els)
      }
    })

  /** Adjacent symbol pairs of each word, weighted by word count:
    * zip(symbols[0..n−2], symbols[1..n−1]) — length-0 slices for
    * single-symbol words, no descending-`sequence` edge case.
    */
  private def pairCounts(v: DataFrame): DataFrame = {
    val arr = split(col("seq"), " ")
    v.select(col("cnt"),
        explode(zip_with(
          slice(arr, lit(1), size(arr) - 1),
          slice(arr, lit(2), size(arr) - 1),
          (l, r) => struct(l.as("l"), r.as("r")))).as("p"))
      .groupBy(col("p.l").as("lhs"), col("p.r").as("rhs"))
      .agg(sum(col("cnt")).as("pair_count"))
  }

  // ---------------------------------------------------------------
  // Training (memoized per session × corpus dir)
  // ---------------------------------------------------------------

  /** Cold cost of the BPE memo fills (merge table + encoded
    * vocabulary), published by Bench next to the graph memos'
    * counter so per-query warm numbers stay honestly accounted.
    * The three memos share this counter, so the merge training nested
    * in a wordIds fill counts once.
    */
  val memoFillNanos = new java.util.concurrent.atomic.AtomicLong(0L)

  private val mergesMemo =
    Memo[Seq[(String, String, Long)]]("Bpe.merges", memoFillNanos)

  /** The learned merge sequence [(lhs, rhs, pair_count)], memoized
    * like the graph memos: a production pipeline trains the tokenizer
    * once and every downstream op (encode, roundtrip certification)
    * probes the artifact.
    *
    * `graft.bpe.batched=true` (the `graft.session.skewsafe` conf
    * pattern) swaps in the BATCHED schedule below for every consumer
    * — the production switch for large vocabularies; each schedule
    * keeps its own memo, so flipping the conf mid-session can't serve
    * a stale table. The driver-checked registry rows pin each path
    * against its own oracle (`pipe_bpe_train` sequential,
    * `pipe_bpe_train_batched` batched).
    */
  def trainMerges(spark: SparkSession, dir: String): Seq[(String, String, Long)] =
    if (spark.conf.getOption("graft.bpe.batched").contains("true"))
      trainMergesBatched(spark, dir)
    else trainMergesSequential(spark, dir)

  private def trainMergesSequential(spark: SparkSession, dir: String): Seq[(String, String, Long)] =
    mergesMemo(spark, dir) {
      var v = vocabOf(spark, dir)
        .withColumn("seq", charSeq(col("w"))).truncated
      val out = scala.collection.mutable.ListBuffer.empty[(String, String, Long)]
      var exhausted = false
      while (out.length < NumMerges && !exhausted) {
        // TakeOrdered, not a global sort: 1 row reaches the driver
        val best = pairCounts(v)
          .orderBy(desc("pair_count"), asc("lhs"), asc("rhs"))
          .limit(1).collect()
        if (best.isEmpty) exhausted = true
        else {
          val a = best(0).getString(0)
          val b = best(0).getString(1)
          out += ((a, b, best(0).getLong(2)))
          v = v.withColumn("seq", foldMerge(col("seq"), a, b)).truncated
        }
      }
      out.toList
    }

  /** The merge table as the driver-visible artifact. */
  def bpeTrain(spark: SparkSession, dir: String): DataFrame =
    mergeTableOf(spark, trainMergesSequential(spark, dir))

  private def mergeTableOf(spark: SparkSession,
      merges: Seq[(String, String, Long)]): DataFrame = {
    import spark.implicits._
    val rows = merges.zipWithIndex.map {
      case ((a, b, c), i) => (i + 1L, a, b, a + b, c)
    }
    rows.toDF("merge_idx", "lhs", "rhs", "merged", "pair_count")
      .orderBy("merge_idx")
  }

  // ---------------------------------------------------------------
  // Batched merge rounds (VERDICT r12 #5)
  // ---------------------------------------------------------------

  /** Disjoint merges applied per round. 48 sequential argmax
    * round-trips become NumMerges/BpeBatch = 6 — the classic
    * distributed-BPE batching: a 50k-merge production vocabulary is
    * ~500 driver round-trips at B=100 instead of 50k.
    */
  val BpeBatch = 8

  /** Batched rounds — compile-time (the oracle unrolls exactly this
    * many), budgeting the same NumMerges total merges.
    */
  val BpeRounds: Int = NumMerges / BpeBatch

  /** Ranked candidate slice BOTH engines select from: the greedy
    * disjoint picks are defined over the top-W pairs by
    * (count DESC, lhs, rhs) — W is what bounds the per-round driver
    * collect (constant-size contract) and the oracle's selection CTEs
    * apply the identical window, so the schedules can never drift.
    */
  val BpeCandidateWindow = 64

  /** Greedy STRING-level-disjoint batch selection from the ranked
    * candidates: scan in rank order, pick a pair unless its lhs, rhs,
    * or minted string (lhs+rhs) collides with the {lhs, rhs, minted}
    * set of an earlier pick. Symbol-level disjointness alone is NOT
    * enough: BPE can mint the same STRING twice, so a pick whose rhs
    * equals another pick's minted string would let a just-merged
    * token feed a second arm inside the one-pass fold (order
    * dependence); the string-level rule forbids exactly that, which
    * is what makes the simultaneous fold equal every sequential
    * application order — and pair counts of string-disjoint pairs
    * are invariant under each other's application, so each pick's
    * recorded count is exact at its own application point too.
    */
  private[graft] def selectDisjoint(cands: Seq[(String, String, Long)],
      batch: Int): Seq[(String, String, Long)] = {
    val used = scala.collection.mutable.Set.empty[String]
    val out = scala.collection.mutable.ListBuffer.empty[(String, String, Long)]
    for (c @ (a, b, _) <- cands if out.length < batch) {
      val syms = Set(a, b, a + b)
      if (!syms.exists(used.contains)) { out += c; used ++= syms }
    }
    out.toList
  }

  private val batchedMemo =
    Memo[Seq[(String, String, Long)]]("Bpe.batched", memoFillNanos)

  /** Batched-round training: per round ONE TakeOrdered collect of the
    * top-BpeCandidateWindow pairs (constant-size driver contract),
    * greedy string-disjoint selection of ≤BpeBatch merges, ONE fold
    * pass applying them all. Driver round-trips and refold passes
    * drop 48 → 6 at identical plan shapes per round — the difference
    * a real 50k-merge training feels. The schedule differs from
    * sequential BPE only where sequential's next argmax would involve
    * a symbol minted THIS round (the standard batched-BPE
    * approximation); the batched schedule itself is deterministic and
    * the `pipe_bpe_train_batched` oracle replays it cell-for-cell.
    */
  def trainMergesBatched(spark: SparkSession, dir: String): Seq[(String, String, Long)] =
    batchedMemo(spark, dir) {
      var v = vocabOf(spark, dir)
        .withColumn("seq", charSeq(col("w"))).truncated
      val out = scala.collection.mutable.ListBuffer.empty[(String, String, Long)]
      var round = 0
      var exhausted = false
      while (round < BpeRounds && !exhausted) {
        val top = pairCounts(v)
          .orderBy(desc("pair_count"), asc("lhs"), asc("rhs"))
          .limit(BpeCandidateWindow).collect()
          .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
        val picks = selectDisjoint(top, BpeBatch)
        if (picks.isEmpty) exhausted = true
        else {
          out ++= picks
          v = v.withColumn("seq",
            foldMergeMulti(col("seq"), picks.map(p => (p._1, p._2)))).truncated
        }
        round += 1
      }
      out.toList
    }

  /** The batched merge table as the driver-visible artifact. */
  def bpeTrainBatched(spark: SparkSession, dir: String): DataFrame =
    mergeTableOf(spark, trainMergesBatched(spark, dir))

  // ---------------------------------------------------------------
  // Encoding
  // ---------------------------------------------------------------

  /** Distinct words with their final symbol sequence under the
    * learned merges: the whole refold chain runs on the VOCABULARY,
    * never the corpus, re-truncated every FoldStride merges.
    */
  private def encodedVocab(spark: SparkSession, dir: String,
      merges: Seq[(String, String, Long)]): DataFrame = {
    var v = vocabOf(spark, dir).select(col("w"))
      .withColumn("seq", charSeq(col("w"))).truncated
    merges.grouped(FoldStride).foreach { batch =>
      v = batch.foldLeft(v) { case (d, (a, b, _)) =>
        d.withColumn("seq", foldMerge(col("seq"), a, b))
      }.truncated
    }
    v
  }

  /** Symbol → id table: alphabet chars first in char order (broadcast
    * theta-join count-of-smaller — no window), merges after in merge
    * order; duplicate-string mints keep their first id (min-id dedup).
    */
  private def symbolIds(spark: SparkSession, vocabWords: DataFrame,
      merges: Seq[(String, String, Long)]): DataFrame = {
    import spark.implicits._
    val alpha = vocabWords
      .select(explode(transform(sequence(lit(1), length(col("w"))),
        i => col("w").substr(i, lit(1)))).as("sym"))
      .distinct()
      .select(col("sym"), lit(0).as("grp"), col("sym").as("ck"),
        lit(0L).as("mi"))
    val minted = merges.zipWithIndex
      .map { case ((a, b, _), i) => (a + b, 1, "", i + 1L) }
      .toDF("sym", "grp", "ck", "mi")
    val all = alpha.unionByName(minted)
    all.as("a")
      .join(broadcast(all.as("b")),
        col("b.grp") < col("a.grp") ||
          (col("b.grp") === col("a.grp") &&
            ((col("a.grp") === 0 && col("b.ck") < col("a.ck")) ||
              (col("a.grp") === 1 && col("b.mi") < col("a.mi")))),
        "left")
      .groupBy(col("a.sym").as("sym0"))
      .agg(count(col("b.sym")).as("id0"))
      .groupBy(col("sym0").as("sym")).agg(min(col("id0")).as("id"))
  }

  private val wordIdsMemo = Memo[DataFrame]("Bpe.wordIds", memoFillNanos)

  /** Per-word id sequence (space-joined) and symbol count — the
    * encoded VOCABULARY, memoized like the merge table itself (it is
    * the same artifact a production pipeline materializes next to the
    * merges: the tokenizer's word→ids cache). Checkpointed, so every
    * consumer (encode, roundtrip) probes a vocabulary-sized table.
    */
  def wordIds(spark: SparkSession, dir: String): DataFrame =
    wordIdsMemo(spark, dir) {
      val merges = trainMerges(spark, dir)
      val enc = encodedVocab(spark, dir, merges)
      val syms = symbolIds(spark, enc, merges)
      enc.select(col("w"),
          posexplode(split(col("seq"), " ")).as(Seq("spos", "sym")))
        .join(syms, Seq("sym"))
        .groupBy("w")
        .agg(count(lit(1)).as("n_syms"),
          array_join(
            transform(array_sort(collect_list(struct(col("spos"), col("id")))),
              x => x.getField("id").cast("string")), " ").as("wids"))
        .truncated
    }

  /** Inverse vocabulary id → symbol string (min-id entries only, the
    * bijective slice `wordIds` actually emits).
    */
  def symbolOf(spark: SparkSession, dir: String): DataFrame = {
    val merges = trainMerges(spark, dir)
    symbolIds(spark, vocabOf(spark, dir).select(col("w")), merges)
      .select(col("id"), col("sym"))
  }

  /** Per-document BPE encoding: id sequence, symbol count, fertility
    * denominator. The corpus shuffles once (the doc_id reassembly);
    * the vocabulary join is AQE's choice exactly like
    * `pipe_tokenize_to_ids`.
    */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"),
        posexplode(Text.tokens(lower(col("text")))).as(Seq("pos", "w")))
    toks.join(wordIds(spark, dir), Seq("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_syms")).as("n_bpe_tokens"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("wids")))),
            x => x.getField("wids")), " ").as("ids"))
      .orderBy("doc_id")
  }

  /** Per-source subword fertility — the tokenizer-quality readout a
    * mixture owner actually watches (a source whose fertility runs
    * hot is under-served by the learned merges and will eat budget):
    * BPE symbols per word as a HALF_UP ×1000 integer, from the REAL
    * learned tokenizer — unlike `pipe_tokenizer_fertility`, which
    * meters the fixed regex proxy. Shape: one corpus token scan
    * joined to the memoized encoded vocabulary (symbol COUNTS only —
    * the id table never enters the plan), then a keyed agg on the
    * bounded source domain.
    */
  def bpeFertility(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"), explode(Text.tokens(lower(col("text")))).as("w"))
      .join(wordIds(spark, dir).select("w", "n_syms"), Seq("w"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_words"), sum(col("n_syms")).as("n_bpe_tokens"))
      .select(col("source"), col("n_words"), col("n_bpe_tokens"),
        expr("(2*1000*n_bpe_tokens + n_words) div (2*n_words)")
          .as("fertility_x1000"))
      .orderBy("source")

  // ---------------------------------------------------------------
  // Viterbi subword segmentation (unigram-LM inference)
  // ---------------------------------------------------------------

  /** DP window bound: pieces longer than this never match (a standard
    * Viterbi beam bound — BOTH engines apply the same window, so the
    * result stays hash-equal even if a longer piece exists).
    */
  val MaxPieceLen = 16

  /** Unreachable-position floor: far enough below zero that floor +
    * any piece score can never win a `greatest`, near enough that the
    * sum cannot overflow a long.
    */
  private val VitFloor = -1000000000000000L

  /** Viterbi max-score subword segmentation — the INFERENCE step of a
    * SentencePiece-unigram tokenizer (Kudo 2018: segment each word by
    * the highest-scoring piece decomposition via DP over positions),
    * run over the learned BPE piece inventory with the deterministic
    * integer score s(p) = 1000·len(p)² − id(p): the len² term makes
    * the DP genuinely nontrivial (splitting a coverable span always
    * loses to covering it whole, but competing long-piece overlaps
    * must be searched), and the id term prefers earlier-minted (more
    * frequent) pieces — every score an integer, so both engines agree
    * exactly. Output is the per-DISTINCT-WORD certification (w,
    * n_chars, vit_score): the best SCORE is unique by definition of
    * max even where multiple optimal paths tie, which is what makes
    * the row deterministic without a path tie-break protocol.
    *
    * Plan shape: the DP runs on the VOCABULARY (never the corpus —
    * the `encodedVocab` discipline) as maxLen chained column folds
    * over a string accumulator of best-scores ("0 b1 b2 …"), each
    * level one single-level `aggregate` over the ≤MaxPieceLen
    * predecessor window with a broadcast piece-score map literal
    * (collected symbol table — the ≤~100-row constant-size driver
    * contract, same as the merge table). Lineage re-truncates every
    * FoldStride levels. The DuckDB oracle replays the identical DP as
    * a WITH RECURSIVE accumulator walk over the same replayed symbol
    * table — same window, same floor, same arithmetic.
    */
  def viterbiSegment(spark: SparkSession, dir: String): DataFrame = {
    val merges = trainMerges(spark, dir)
    val scores: Map[String, Long] =
      symbolIds(spark, vocabOf(spark, dir).select(col("w")), merges)
        .collect()
        .map(r => r.getString(0) ->
          (1000L * r.getString(0).length * r.getString(0).length - r.getLong(1)))
        .toMap
    val scoreMap =
      if (scores.isEmpty) typedLit(Map("" -> 0L)) else typedLit(scores)
    var v = vocabOf(spark, dir).select(col("w"))
      .withColumn("acc", lit("0"))
    val maxLen = Option(v.agg(max(length(col("w")))).head().get(0))
      .map(_.asInstanceOf[Int]).getOrElse(0)
    (1 to maxLen).foreach { i =>
      val bestI = aggregate(
        sequence(lit(math.max(i - MaxPieceLen, 0)), lit(i - 1)),
        lit(VitFloor),
        (m, j) => {
          val piece = col("w").substr(j + 1, lit(i) - j)
          // try_element_at: a missing piece is the NORMAL case (not
          // every substring is in the inventory) and must stay NULL
          // under ANSI mode too, where plain element_at throws
          val sc = try_element_at(scoreMap, piece)
          val bj = element_at(split(col("acc"), " "), j + 1).cast("long")
          greatest(m, when(sc.isNotNull, bj + sc).otherwise(m))
        })
      v = v.withColumn("acc",
        when(length(col("w")) >= i,
          concat(col("acc"), lit(" "), bestI.cast("string")))
          .otherwise(col("acc")))
      if (i % FoldStride == 0) v = v.truncated
    }
    v.select(col("w"),
        length(col("w")).cast("long").as("n_chars"),
        element_at(split(col("acc"), " "), length(col("w")) + 1)
          .cast("long").as("vit_score"))
      .orderBy("w")
  }

  private def viterbiOracle: String =
    (trainChain + symbolChainSql).replaceFirst("WITH ", "WITH RECURSIVE ") +
      s""",
sm AS (
  SELECT map(list(sym), list(1000 * length(sym) * length(sym) - id)) AS m
  FROM symu),
rec AS (
  SELECT w, 0 AS i, '0' AS acc FROM v0
  UNION ALL
  SELECT w, i + 1,
    acc || ' ' || CAST(
      list_reduce(
        list_prepend(CAST($VitFloor AS BIGINT),
          range(greatest(i + 1 - $MaxPieceLen, 0), i + 1)),
        (mm, j) -> greatest(mm, CASE
          WHEN map_extract(sm.m, substr(w, CAST(j AS INTEGER) + 1,
                 i + 1 - CAST(j AS INTEGER)))[1] IS NOT NULL
          THEN CAST(string_split(acc, ' ')[CAST(j AS INTEGER) + 1] AS BIGINT)
               + map_extract(sm.m, substr(w, CAST(j AS INTEGER) + 1,
                   i + 1 - CAST(j AS INTEGER)))[1]
          ELSE mm END)) AS VARCHAR)
  FROM rec, sm WHERE i < length(w))
SELECT w, CAST(length(w) AS BIGINT) AS n_chars,
  CAST(string_split(acc, ' ')[length(w) + 1] AS BIGINT) AS vit_score
FROM rec WHERE i = length(w) ORDER BY w"""

  // ---------------------------------------------------------------
  // DuckDB oracle: the full unrolled merge-fixpoint replay
  // ---------------------------------------------------------------

  /** CTE chain computing v0/s0 and, per round k = 1..NumMerges:
    * p$k (pair counts), b$k (argmax — AT MOST one row), s$k (greedy
    * refold; LEFT JOIN keeps words flowing when b$k is empty and the
    * NULL pair makes the fold an identity).
    */
  /** Shared v0/s0 prefix (tokenize → vocabulary → char spellings). */
  private def chainPrefix: String = s"""WITH toks AS (
  SELECT unnest(list_filter(
    regexp_split_to_array(lower(text), '[[:punct:][:space:]]+'),
    x -> len(x) > 0)) AS w
  FROM documents),
v0 AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY w),
s0 AS (
  SELECT w, cnt,
    array_to_string(list_transform(range(1, length(w) + 1), i -> w[i]), ' ')
    AS seq
  FROM v0)"""

  /** Pair counts of round k over the previous spelling state `prev`. */
  private def pairCountsSql(k: Int, prev: String): String = s""",
p$k AS MATERIALIZED (
  SELECT split_part(pr, '|', 1) AS lhs, split_part(pr, '|', 2) AS rhs,
         CAST(sum(cnt) AS BIGINT) AS pair_count
  FROM (SELECT cnt,
          unnest(list_transform(range(1, len(a)),
            i -> a[i] || '|' || a[i+1])) AS pr
        FROM (SELECT cnt, string_split(seq, ' ') AS a FROM $prev))
  GROUP BY 1, 2)"""

  private def trainChain: String = {
    def round(k: Int): String = pairCountsSql(k, s"s${k - 1}") + s""",
b$k AS MATERIALIZED (
  SELECT lhs, rhs, pair_count FROM p$k
  ORDER BY pair_count DESC, lhs, rhs LIMIT 1),
s$k AS MATERIALIZED (
  SELECT w, cnt,
    list_reduce(list_prepend('', string_split(seq, ' ')),
      (acc, x) -> CASE
        WHEN x = b.rhs AND (acc = b.lhs OR acc LIKE '% ' || b.lhs)
          THEN substr(acc, 1, length(acc) - length(b.lhs)) || b.lhs || b.rhs
        ELSE CASE WHEN acc = '' THEN x ELSE acc || ' ' || x END END) AS seq
  FROM s${k - 1} LEFT JOIN b$k b ON TRUE)"""
    chainPrefix + (1 to NumMerges).map(round).mkString
  }

  /** The batched replay (`pipe_bpe_train_batched`): per round, rank
    * the pairs, keep the top-BpeCandidateWindow slice, unroll
    * BpeBatch greedy selection steps — each c{k}_j is the best pair
    * whose lhs/rhs/minted string avoids the accumulated used-symbol
    * set u{k}_{j−1} (string-level disjointness, `selectDisjoint`'s
    * exact rule) — then ONE fold applies all picks: at most one CASE
    * arm can fire per (suffix, x) because rhs values are pairwise
    * distinct, so arm order is immaterial, like the Spark fold. An
    * empty p$k leaves every pick NULL and the fold an identity — the
    * exhaustion convention of the sequential chain.
    */
  private def batchedChain: String = {
    def selection(k: Int, j: Int): String = {
      val from = if (j == 1) s"r$k"
        else s"""r$k
  WHERE lhs NOT IN (SELECT s FROM u${k}_${j - 1})
    AND rhs NOT IN (SELECT s FROM u${k}_${j - 1})
    AND lhs || rhs NOT IN (SELECT s FROM u${k}_${j - 1})"""
      val uPrev = if (j == 1) "" else s"SELECT s FROM u${k}_${j - 1} UNION "
      s""",
c${k}_$j AS MATERIALIZED (
  SELECT lhs, rhs, pair_count FROM $from
  ORDER BY pair_count DESC, lhs, rhs LIMIT 1),
u${k}_$j AS (
  ${uPrev}SELECT lhs AS s FROM c${k}_$j UNION SELECT rhs FROM c${k}_$j
  UNION SELECT lhs || rhs FROM c${k}_$j)"""
    }
    def round(k: Int): String = {
      val prev = if (k == 1) "s0" else s"t${k - 1}"
      val arms = (1 to BpeBatch).map(j =>
        s"""        WHEN x = m$j.rhs AND (acc = m$j.lhs OR acc LIKE '% ' || m$j.lhs)
          THEN substr(acc, 1, length(acc) - length(m$j.lhs)) || m$j.lhs || m$j.rhs""")
        .mkString("\n")
      val joins = (1 to BpeBatch).map(j =>
        s"  LEFT JOIN c${k}_$j m$j ON TRUE").mkString("\n")
      pairCountsSql(k, prev) + s""",
r$k AS MATERIALIZED (
  SELECT lhs, rhs, pair_count FROM p$k
  ORDER BY pair_count DESC, lhs, rhs LIMIT $BpeCandidateWindow)""" +
        (1 to BpeBatch).map(selection(k, _)).mkString + s""",
t$k AS MATERIALIZED (
  SELECT w, cnt,
    list_reduce(list_prepend('', string_split(seq, ' ')),
      (acc, x) -> CASE
$arms
        ELSE CASE WHEN acc = '' THEN x ELSE acc || ' ' || x END END) AS seq
  FROM $prev
$joins)"""
    }
    chainPrefix + (1 to BpeRounds).map(round).mkString
  }

  private def batchedTrainOracle: String = {
    val picks = (for (k <- 1 to BpeRounds; j <- 1 to BpeBatch) yield
      s"SELECT $k AS rk, $j AS rj, lhs, rhs, pair_count FROM c${k}_$j")
      .mkString("\n  UNION ALL\n  ")
    batchedChain + s""",
allpicks AS (
  $picks)
SELECT row_number() OVER (ORDER BY rk, rj) AS merge_idx,
  lhs, rhs, lhs || rhs AS merged, pair_count
FROM allpicks ORDER BY merge_idx"""
  }

  /** UNION ALL of the per-round argmax rows — the merge table. */
  private def mergeTableSql: String =
    (1 to NumMerges).map(k =>
      s"SELECT $k AS merge_idx, lhs, rhs, lhs || rhs AS merged, pair_count FROM b$k")
      .mkString("\n  UNION ALL\n  ")

  private def trainOracle: String =
    trainChain + s""",
mergetbl AS (
  $mergeTableSql)
SELECT CAST(merge_idx AS BIGINT) AS merge_idx, lhs, rhs, merged, pair_count
FROM mergetbl ORDER BY merge_idx"""

  /** Symbol → id CTE chain (chars, syms, symid, symu) shared by the
    * encode and Viterbi oracles — one definition of the id numbering.
    */
  private def symbolChainSql: String = s""",
mergetbl AS (
  $mergeTableSql),
chars AS (
  SELECT DISTINCT unnest(list_transform(range(1, length(w) + 1), i -> w[i]))
    AS sym
  FROM v0),
syms AS (
  SELECT sym, 0 AS grp, sym AS ck, CAST(0 AS BIGINT) AS mi FROM chars
  UNION ALL
  SELECT merged, 1, '', CAST(merge_idx AS BIGINT) FROM mergetbl),
symid AS (
  SELECT a.sym,
    (SELECT count(*) FROM syms b
     WHERE b.grp < a.grp OR (b.grp = a.grp AND
       ((a.grp = 0 AND b.ck < a.ck) OR (a.grp = 1 AND b.mi < a.mi))))
    AS id
  FROM syms a),
symu AS (SELECT sym, CAST(min(id) AS BIGINT) AS id FROM symid GROUP BY sym)"""

  private def encodeOracle: String =
    trainChain + symbolChainSql + s""",
wsym AS (
  SELECT w, CAST(split_part(sp, '|', 1) AS BIGINT) AS spos,
         split_part(sp, '|', 2) AS sym
  FROM (SELECT w,
          unnest(list_transform(range(1, len(a) + 1),
            i -> CAST(i AS VARCHAR) || '|' || a[i])) AS sp
        FROM (SELECT w, string_split(seq, ' ') AS a FROM s$NumMerges))),
wids AS (
  SELECT w, count(*) AS n_syms,
    string_agg(CAST(id AS VARCHAR), ' ' ORDER BY spos) AS wids
  FROM wsym JOIN symu USING (sym) GROUP BY w),
tokp AS (
  SELECT doc_id, CAST(split_part(tp, '|', 1) AS BIGINT) AS pos,
         split_part(tp, '|', 2) AS w
  FROM (SELECT doc_id,
          unnest(list_transform(range(1, len(t) + 1),
            i -> CAST(i AS VARCHAR) || '|' || t[i])) AS tp
        FROM (SELECT doc_id,
                list_filter(regexp_split_to_array(lower(text),
                  '[[:punct:][:space:]]+'), x -> len(x) > 0) AS t
              FROM documents)))
SELECT doc_id, count(*) AS n_words,
  CAST(sum(n_syms) AS BIGINT) AS n_bpe_tokens,
  string_agg(wids, ' ' ORDER BY pos) AS ids
FROM tokp JOIN wids USING (w)
GROUP BY doc_id ORDER BY doc_id"""

  private def fertilityOracle: String =
    trainChain + s""",
wn AS (SELECT w, len(string_split(seq, ' ')) AS n_syms FROM s$NumMerges),
dt AS (
  SELECT source,
    unnest(list_filter(
      regexp_split_to_array(lower(text), '[[:punct:][:space:]]+'),
      x -> len(x) > 0)) AS w
  FROM documents)
SELECT source, count(*) AS n_words,
  CAST(sum(n_syms) AS BIGINT) AS n_bpe_tokens,
  CAST((2*1000*sum(n_syms) + count(*)) // (2*count(*)) AS BIGINT)
    AS fertility_x1000
FROM dt JOIN wn USING (w)
GROUP BY source ORDER BY source"""

  val queries: Map[String, GQuery] = Map(
    "pipe_bpe_train" -> GQuery.sql(bpeTrain, trainOracle),
    "pipe_bpe_train_batched" -> GQuery.sql(bpeTrainBatched, batchedTrainOracle),
    "pipe_bpe_encode" -> GQuery.sql(bpeEncode, encodeOracle),
    "pipe_bpe_fertility" -> GQuery.sql(bpeFertility, fertilityOracle),
    "pipe_viterbi_segment" -> GQuery.sql(viterbiSegment, viterbiOracle))
}
