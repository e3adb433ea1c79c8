package graft.operators

import graft.{GQuery, Memo, Tables}
import graft.Ckpt.TruncOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over the embeddings table
  * (SURVEY.md §2.E). Brute-force cosine is the exactness baseline
  * (broadcast the query set, never the corpus); the IVF variant is
  * the 100 TB path — assign corpus to cells once, probe only the
  * nearest cells per query, so scan cost drops by ~n_cells/n_probe.
  */
object Similarity {

  import graft.functions.VectorFunctions.{vec_dot => dot, vec_cosine => cosine}

  private[graft] def vecs(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), col("embedding").as("v"))

  /** The corpus's uniform embedding width, or None when empty: ONE
    * column-pruned pass computing min AND max of `size(v)` together,
    * failing LOUD on a mixed-width corpus — the silent hazard behind
    * every width-derived artifact (`vec_dot` truncates to the shorter
    * operand, so planes/ladders minted at max width would silently
    * degrade narrower rows; review finding, r13). NULL vectors fail
    * the same way — min/max aggregates skip them, so a corpus with
    * some NULL rows would pass the width guard while vec_dot yields
    * NULL signatures downstream (ADVICE r13 #3) — so the SAME pass
    * counts them and requires zero. Constant driver traffic, the
    * Lloyd-seed discipline.
    */
  private[operators] def uniformDim(e: DataFrame): Option[Int] = {
    val r = e.agg(min(size(col("v"))).as("lo"),
      max(size(col("v"))).as("hi"),
      count(when(col("v").isNull, 1)).as("nulls")).head()
    require(r.getLong(2) == 0L,
      s"${r.getLong(2)} NULL embedding rows — width-derived artifacts " +
        "(planes, ladders) would silently emit NULL signatures for them")
    if (r.isNullAt(0)) None
    else {
      require(r.getInt(0) == r.getInt(1),
        s"mixed embedding widths: min ${r.getInt(0)} != max ${r.getInt(1)} — " +
          "width-derived artifacts (planes, ladders) need a uniform corpus")
      Some(r.getInt(1))
    }
  }

  val NQueries = 5
  val TopK = 10
  val SaltBuckets = 64

  /** Exact top-k cosine neighbors for the first NQueries vectors via
    * SALTED two-phase windows. A single window partitioned by q_id
    * alone funnels every scored corpus row into NQueries tasks — the
    * round-3 scale defect. Phase 1 partitions by (q_id, salt) with
    * salt = hash(vec_id) mod SaltBuckets, so the corpus-sized sort
    * spreads over NQueries × SaltBuckets tasks and keeps ≤ k rows per
    * salt (each true global top-k row is necessarily in its salt's
    * top-k); phase 2 ranks the ≤ NQueries·SaltBuckets·k survivors —
    * its tiny-partition window runs over an already-reduced input.
    * The bounded-heap Aggregator form (`ann_topk_agg`) remains the
    * preferred 100 TB plan — it never sorts the full scored set —
    * but this is the window strategy done scale-right, checked
    * against the identical oracle.
    */
  def bruteforceTopk(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), cosine(col("qv"), col("v")).as("cos_raw"))
      .withColumn("salt", pmod(xxhash64(col("vec_id")), lit(SaltBuckets.toLong)))
    val w1 = Window.partitionBy("q_id", "salt").orderBy(desc("cos_raw"), asc("vec_id"))
    val w2 = Window.partitionBy("q_id").orderBy(desc("cos_raw"), asc("vec_id"))
    scored
      .withColumn("srank", row_number().over(w1))
      .filter(col("srank") <= TopK)
      .withColumn("rank", row_number().over(w2).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("q_id"), col("rank"), col("vec_id"), round(col("cos_raw"), 4).as("cosine"))
      .orderBy("q_id", "rank")
  }

  /** Same exact top-k, but via the bounded-heap TopKByScore
    * Aggregator instead of a window sort: partial aggregation caps
    * every map partition's contribution at k rows before the shuffle
    * — the plan that survives a corpus 1000× larger. Verified against
    * the identical DuckDB oracle as the window form.
    */
  def bruteforceTopkAgg(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val topk = graft.functions.TopK.topKByScore(TopK)
    e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), cosine(col("qv"), col("v")).as("score"), col("vec_id"))
      .groupBy("q_id")
      .agg(topk(col("score"), col("vec_id")).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("q_id"), (col("pos") + 1).cast("long").as("rank"),
        col("s.id").as("vec_id"), round(col("s.score"), 4).as("cosine"))
      .orderBy("q_id", "rank")
  }

  /** Maximum-inner-product top-k (MIPS) — the retrieval metric
    * recommendation/recall systems actually rank by (user·item score,
    * not angle): per query, exact top-k by RAW inner product, id
    * tie-break, via the same bounded-heap Aggregator plan as
    * `ann_topk_agg` — map partitions each contribute ≤ k rows before
    * the shuffle, so the plan survives a 1000× corpus. Cosine top-k
    * and MIPS top-k genuinely differ (norms vary), which is why
    * retrieval stacks carry both. The at-scale ANN path is the
    * standard norm-augmentation reduction (append sqrt(M²−‖x‖²) to
    * each item, 0 to each query — Bachrach et al. 2014): augmented
    * cosine order = inner-product order, so the IVF/sign-LSH
    * machinery above applies unchanged; this row certifies the exact
    * scorer those candidates verify against. DuckDB replays
    * list_inner_product bit-for-bit against the native DotProduct.
    *
    * The synthetic embeddings are UNIT-NORM, which would collapse
    * exact MIPS into a cosine alias — so the op mints the magnitude
    * profile a real item catalog carries: item i scales by
    * w(i) = 1 + (i mod 7)/4 (exact quarter steps, so the scalar
    * product is the bit-identical IEEE op on both engines). Scaling a
    * unit vector by w and taking the inner product IS multiplying the
    * dot by w — the scalar form avoids materializing scaled arrays in
    * the hot loop.
    */
  def mipsTopk(spark: SparkSession, dir: String): DataFrame =
    mipsTopkWith(spark, dir)(id =>
      lit(1.0) + pmod(id, lit(7L)).cast("double") * lit(0.25))

  /** The dyadic-geometric magnitude rule of `ann_mips_zipf`:
    * w = 2^k where k is the number of trailing zero bits of the id
    * (capped at 10), so P(w = 2^k) = 2^-(k+1) — a zipf-ish heavy
    * tail spanning three decades. Pure integer-mod CASE arms and
    * exact power-of-two doubles: multiplying by w only shifts the
    * IEEE exponent, so both engines score bit-identically.
    */
  private[graft] def zipfMagnitude(id: org.apache.spark.sql.Column) =
    (1 to 9).foldLeft(
      when(pmod(id, lit(2L)) === 1L, lit(1.0))) { (c, k) =>
        c.when(pmod(id, lit(1L << (k + 1))) === (1L << k), lit((1L << k).toDouble))
      }.otherwise(lit(1024.0))

  private[graft] def zipfMagnitudeSql(id: String): String =
    (1 to 9).map(k =>
        s"WHEN $id % ${1L << (k + 1)} = ${1L << k} THEN ${(1L << k).toDouble}")
      .mkString(s"CASE WHEN $id % 2 = 1 THEN 1.0 ", " ", " ELSE 1024.0 END")

  /** MIPS under a HEAVY-TAILED magnitude profile (VERDICT r12 #7):
    * the quarter-step weights of `ann_mips_topk` keep magnitudes in
    * [1, 2.5], where inner-product and cosine orders mostly agree —
    * this row certifies the scorer in the regime where they disagree
    * MOST: zipf-ish dyadic magnitudes spanning 2^0..2^10 (a rare
    * viral item outscores angle almost everywhere, exactly the
    * recommendation-catalog shape MIPS exists for). Round13OpsSpec
    * pins that the zipf ranking genuinely diverges from the cosine
    * ranking; same bounded-heap plan, same bit-exact oracle replay.
    */
  def mipsZipfTopk(spark: SparkSession, dir: String): DataFrame =
    mipsTopkWith(spark, dir)(zipfMagnitude)

  private def mipsTopkWith(spark: SparkSession, dir: String)(
      w: org.apache.spark.sql.Column => org.apache.spark.sql.Column): DataFrame = {
    val e = vecs(spark, dir)
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val topk = graft.functions.TopK.topKByScore(TopK)
    e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"),
        (w(col("q_id")) * w(col("vec_id")) * dot(col("qv"), col("v"))).as("score"),
        col("vec_id"))
      .groupBy("q_id")
      .agg(topk(col("score"), col("vec_id")).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("q_id"), (col("pos") + 1).cast("long").as("rank"),
        col("s.id").as("vec_id"), round(col("s.score"), 4).as("dot"))
      .orderBy("q_id", "rank")
  }

  /** IVF-style ANN: deterministic hash-sampled centroids (≈ √n of
    * them — the classic IVF cell count, derived from the corpus count
    * inside the plan, so the index keeps per-cell size ≈ √n at ANY
    * corpus scale), one-time cell assignment of the corpus via
    * map-side max_by aggregation, per-query probing of the nearest
    * half of the cells (synthetic embeddings are near-uniform, so
    * recall tracks the probe fraction; clustered real corpora reach
    * high recall at far lower fractions), and a bounded-heap final
    * ranking — no query-count-partition window anywhere. Recall vs
    * brute force is checked in PipelineOpsSpec. Rows-only.
    */
  def ivfTopk(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    ivfTopkFrom(e,
      e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("q_id"), col("v").as("qv")))
  }

  /** Planted-copy offset for the oracle-checked IVF variant (distinct
    * ids from the natural corpus, same convention as
    * `Dedup.PlantOffset`).
    */
  val QueryOffset = 1000000L

  /** The oracle-checkable IVF run (the `dd_minhash_lsh` planted-copy
    * construction applied to ANN): queries are EXACT copies of every
    * 8th corpus vector at `vec_id + QueryOffset`. A copy's
    * nearest-centroid cell is its source's assigned cell (identical
    * vector, identical tie-break: max cell_cos then min cell_id on
    * both the assignment max_by and the probe ranking), the probe set
    * always includes the rank-1 cell, and cosine(copy, source) = 1.0
    * beats every natural pair — so the pipeline's top-1 for every
    * planted query is its source, deterministically, regardless of
    * which centroids the hash sample drew. Restricting the output to
    * rank 1 therefore makes the ENTIRE IVF pipeline (sampling →
    * assignment → probing → bounded-heap ranking) hash-checkable
    * against a closed-form DuckDB oracle.
    */
  def ivfTopkPlanted(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val q = e.filter(pmod(col("vec_id"), lit(8L)) === 0L)
      .select((col("vec_id") + QueryOffset).as("q_id"), col("v").as("qv"))
    ivfTopkFrom(e, q)
      .filter(col("rank") === 1L)
      .orderBy("q_id")
  }

  /** IVF pipeline over corpus `e` for query set `q` (q_id, qv). */
  private def ivfTopkFrom(e: DataFrame, q: DataFrame): DataFrame = {
    val (centroids, assigned) = ivfIndexOf(e)
    ivfProbe(centroids, assigned, q)
  }

  /** IVF INDEX construction — centroids + cell assignments, the two
    * tables a vector store persists (see `ann_index_probe`).
    */
  private def ivfIndexOf(e: DataFrame): (DataFrame, DataFrame) = {
    // materialized once: the centroid table feeds the assignment AND
    // both probe references (query ranking + cell count) — left live,
    // the corpus-wide sampling union re-executed per reference
    val centroids = ivfCentroidsOf(e).truncated
    (centroids, ivfAssign(e, centroids))
  }

  /** Centroid selection alone — the OFFLINE training half every IVF
    * store runs once; streaming maintenance (`stream_vec_index_ingest`)
    * assigns new vectors against these without retraining.
    */
  private[graft] def ivfCentroidsOf(e: DataFrame): DataFrame = {
    // Centroids by deterministic hash sampling: keep vec_ids whose
    // xxhash64 falls in a 1-in-(n/ceil(sqrt(n))) residue class — a
    // single scan + scalar count, instead of a single-task global
    // window. step degrades to 1 (every row a centroid) at tiny n.
    val n = e.agg(count(lit(1)).as("n_vecs"))
    val sampled = e.crossJoin(broadcast(n))
      .filter(pmod(xxhash64(col("vec_id")),
        greatest(expr("n_vecs div greatest(CAST(ceil(sqrt(n_vecs)) AS BIGINT), 1)"), lit(1L))) === 0L)
      .select(col("vec_id").as("cell_id"), col("v").as("cv"))
    // The sample count is ~Binomial(n, sqrt(n)/n): an unlucky draw can
    // come up short (or, pathologically, empty → silently empty
    // result). Union a guaranteed centroid — the min vec_id — so at
    // least one cell always exists; dedup covers the overlap.
    val fallback = e.crossJoin(broadcast(e.agg(min(col("vec_id")).as("min_id"))))
      .filter(col("vec_id") === col("min_id"))
      .select(col("vec_id").as("cell_id"), col("v").as("cv"))
    sampled.unionByName(fallback).dropDuplicates("cell_id")
  }

  /** Nearest-centroid assignment for ANY vector set against ANY
    * centroid set — the per-vector half shared by offline builds
    * (whole corpus) and streaming maintenance (one micro-batch).
    * Aggregation, not a window: max_by partials run map-side, so the
    * shuffle carries one row per (partition, vec_id) — not
    * rows × n_cells. Ties break to the lowest cell_id via the
    * (cos, -cell_id) ordering struct — the deterministic rule the
    * planted oracle depends on.
    */
  private[graft] def ivfAssign(e: DataFrame, centroids: DataFrame): DataFrame =
    e.join(broadcast(centroids), lit(true))
      .select(col("vec_id"), col("v"), col("cell_id"),
        cosine(col("v"), col("cv")).as("cell_cos"))
      .groupBy("vec_id")
      .agg(max_by(col("cell_id"), struct(col("cell_cos"), -col("cell_id"))).as("cell_id"),
        first(col("v")).as("v"))
      .select(col("vec_id"), col("v"), col("cell_id"))

  /** IVF PROBE against an already-built index (in-memory frames or
    * parquet-backed reads — the plan is identical either way).
    */
  private[graft] def ivfProbe(centroids: DataFrame, assigned: DataFrame,
      q: DataFrame): DataFrame = {
    // Probe the nearest half of the cells. The crank window is
    // per-query over the ~√n centroid rows only (already reduced by
    // the centroid aggregate), never over corpus rows.
    val nCells = centroids.agg(count(lit(1)).as("n_cells"))
    val qCells = q.join(broadcast(centroids), lit(true))
      .select(col("q_id"), col("qv"), col("cell_id"),
        cosine(col("qv"), col("cv")).as("cell_cos"))
      .crossJoin(broadcast(nCells))
      .withColumn("crank", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("cell_cos"), asc("cell_id"))))
      .filter(col("crank") <= greatest(expr("n_cells div 2"), lit(1L)))
      .select(col("q_id"), col("qv"), col("cell_id"))
    // Final ranking through the bounded-heap Aggregator: each map
    // partition contributes ≤ k rows to the q_id shuffle, so the
    // probed-candidate stream never funnels into NQueries sort tasks.
    val topk = graft.functions.TopK.topKByScore(TopK)
    qCells.join(assigned, Seq("cell_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), cosine(col("qv"), col("v")).as("score"), col("vec_id"))
      .groupBy("q_id")
      .agg(topk(col("score"), col("vec_id")).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("q_id"), (col("pos") + 1).cast("long").as("rank"),
        col("s.id").as("vec_id"), round(col("s.score"), 4).as("cosine"))
      .orderBy("q_id", "rank")
  }

  // ---------------------------------------------------------------
  // Persisted IVF index + probe (the vector-store ingest/serve split)
  // ---------------------------------------------------------------

  val IvfIndexRoot = "/root/repo/target/graft_ivf_index"

  /** Persist the IVF index (centroids + cell assignments) once per
    * corpus dir — the ingest half of every production vector store:
    * the index is BUILT offline and SERVED by probes that never touch
    * the build path. Shared `Staging.stagedDir` commit protocol.
    */
  /** Cold fill times of the on-disk IVF index and serve-adjacency
    * graph (accumulate only on an actual rebuild) — itemized in
    * bench.json's `memo_fill_breakdown` (VERDICT r14 #8).
    */
  val ivfFillNanos = new java.util.concurrent.atomic.AtomicLong(0L)
  val knnGraphFillNanos = new java.util.concurrent.atomic.AtomicLong(0L)

  def stageIvfIndex(spark: SparkSession, dir: String): String =
    Staging.stagedDir(IvfIndexRoot, dir) { tmp =>
      Memo.timed(ivfFillNanos) {
        val (centroids, assigned) = ivfIndexOf(vecs(spark, dir))
        centroids.write.mode("overwrite")
          .parquet(tmp.resolve("centroids").toString)
        assigned.write.mode("overwrite")
          .parquet(tmp.resolve("assigned").toString)
      }
    }

  /** ANN serving against the PERSISTED IVF index — the
    * `dd_incremental_probe` story on the vector side: `stageIvfIndex`
    * builds centroids + assignments ONCE (the offline ingest job);
    * this probe reads them back from parquet and serves the planted
    * query set through `ivfProbe` without ever re-running sampling or
    * assignment — the recurring cost is O(queries × probed cells),
    * not a corpus re-index. Same planted construction and rank-1
    * restriction as `ann_ivf_topk`, so the identical closed-form
    * oracle hash-checks the WHOLE stored path (index write → schema'd
    * read → probe → bounded-heap ranking). Round12OpsSpec pins index
    * reuse and byte-equality with the in-memory pipeline.
    */
  def annIndexProbe(spark: SparkSession, dir: String): DataFrame = {
    val idx = stageIvfIndex(spark, dir)
    val (centroids, assigned) = readIvfIndex(spark, idx)
    ivfProbe(centroids, assigned, plantedVecQueriesOf(vecs(spark, dir)))
      .filter(col("rank") === 1L)
      .orderBy("q_id")
  }

  /** The serve-side read of ANY on-disk IVF layout — batch-staged by
    * `stageIvfIndex` (flat) or stream-maintained by
    * `StreamingOps.streamVecIndexIngest` (per-batchId assigned
    * subdirectories): recursiveFileLookup makes the two
    * indistinguishable to the probe, exactly like
    * `Dedup.probeLshIndex`. Explicit schemas: an empty corpus stages
    * no part files.
    */
  /** (subtable, read schema) of the on-disk IVF index layout — the
    * compaction helper rewrites each subtable through these schemas
    * (StreamingOps.compactStreamedIndex).
    */
  private[graft] val IvfIndexTables: Seq[(String, String)] = Seq(
    "centroids" -> "cell_id BIGINT, cv ARRAY<FLOAT>",
    "assigned" -> "vec_id BIGINT, v ARRAY<FLOAT>, cell_id BIGINT")

  private[graft] def readIvfIndex(spark: SparkSession,
      idxRoot: String): (DataFrame, DataFrame) = {
    // resolve the `_CURRENT` pointer when present (compacted
    // stream-owned root); flat live layouts and staged version paths
    // read as-is — see Dedup.probeLshIndex
    val idx = Staging.resolveOpt(idxRoot).getOrElse(idxRoot)
    val centroids = spark.read.schema("cell_id BIGINT, cv ARRAY<FLOAT>")
      .option("recursiveFileLookup", "true").parquet(s"$idx/centroids")
    val assigned = spark.read
      .schema("vec_id BIGINT, v ARRAY<FLOAT>, cell_id BIGINT")
      .option("recursiveFileLookup", "true").parquet(s"$idx/assigned")
    (centroids, assigned)
  }

  /** The planted certification query set (every 8th vector, copied to
    * vec_id + QueryOffset) — shared by `ann_ivf_topk`,
    * `ann_index_probe`, and the streamed index's probe so all three
    * rows share one closed-form oracle.
    */
  private[graft] def plantedVecQueriesOf(e: DataFrame): DataFrame =
    e.filter(pmod(col("vec_id"), lit(8L)) === 0L)
      .select((col("vec_id") + QueryOffset).as("q_id"), col("v").as("qv"))

  // ---------------------------------------------------------------
  // Two-level IVF — the √n-centroid broadcast-budget escape hatch
  // (SURVEY §3) as a code path, not just arithmetic
  // ---------------------------------------------------------------

  /** Coarse (level-1) centroids: ~n^(1/3) of them by the same
    * deterministic xxhash64 residue sampling as `ivfCentroidsOf`,
    * with the same guaranteed-nonempty fallback. At 10¹² vectors this
    * is ~10⁴ rows — the ONLY table the two-level probe broadcasts,
    * ~100× under the flat design's √n = 10⁶-row broadcast that §3's
    * budget note flags at high dim.
    */
  private[graft] def ivf2CoarseOf(e: DataFrame): DataFrame = {
    val n = e.agg(count(lit(1)).as("n_vecs"))
    val sampled = e.crossJoin(broadcast(n))
      .filter(pmod(xxhash64(col("vec_id")),
        greatest(expr("n_vecs div greatest(CAST(ceil(pow(n_vecs, 1.0/3)) AS BIGINT), 1)"),
          lit(1L))) === 0L)
      .select(col("vec_id").as("c1_id"), col("v").as("c1v"))
    val fallback = e.crossJoin(broadcast(e.agg(min(col("vec_id")).as("min_id"))))
      .filter(col("vec_id") === col("min_id"))
      .select(col("vec_id").as("c1_id"), col("v").as("c1v"))
    sampled.unionByName(fallback).dropDuplicates("c1_id")
  }

  /** Sub-centroids (level 2): within EACH coarse cell, ~√cell of the
    * cell's own vectors by per-cell residue sampling (per-cell min
    * vec_id as the nonempty fallback). The table is ~n^(2/3) rows
    * total but it is PARTITIONED BY c1_id and only ever reached
    * through joins KEYED on c1_id — it is never broadcast, which is
    * the entire point of the second level.
    */
  private[graft] def ivf2SubOf(assigned1: DataFrame): DataFrame = {
    val cellSizes = assigned1.groupBy("c1_id").agg(count(lit(1)).as("cell_n"))
    val sampled = assigned1.join(cellSizes, "c1_id")
      .filter(pmod(xxhash64(col("vec_id")),
        greatest(expr("cell_n div greatest(CAST(ceil(sqrt(cell_n)) AS BIGINT), 1)"),
          lit(1L))) === 0L)
      .select(col("c1_id"), col("vec_id").as("c2_id"), col("v").as("c2v"))
    val fallback = assigned1.groupBy("c1_id")
      .agg(min(col("vec_id")).as("c2_id"), min_by(col("v"), col("vec_id")).as("c2v"))
      .select(col("c1_id"), col("c2_id"), col("c2v"))
    sampled.unionByName(fallback).dropDuplicates("c1_id", "c2_id")
  }

  /** Two-level IVF index: coarse assignment (broadcast n^(1/3)
    * centroids, map-side max_by), then sub-assignment via a join
    * KEYED on c1_id (per-vector fanout ≈ √cell, never corpus ×
    * all-sub-cells) with the same (cos, -id) deterministic tie-break
    * at both levels — the property the planted oracle rides.
    */
  private[graft] def ivf2IndexOf(e: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    // Each index table is MATERIALIZED once (build-once/probe-many —
    // the in-plan analogue of `stageIvfIndex`'s on-disk staging):
    // coarse feeds both the level-1 assignment and the probe's
    // broadcast, assigned1 feeds the sub-sampling and the level-2
    // assignment, sub feeds the assignment and two probe joins —
    // left as live plans, every downstream reference re-executed the
    // whole upstream build (r15: a 29-exchange single plan for
    // `ann_ivf2_topk`).
    val coarse = ivf2CoarseOf(e).truncated
    val assigned1 = ivfAssign(e,
      coarse.select(col("c1_id").as("cell_id"), col("c1v").as("cv")))
      .select(col("vec_id"), col("v"), col("cell_id").as("c1_id"))
      .truncated
    val sub = ivf2SubOf(assigned1).truncated
    val assigned2 = assigned1.join(sub, "c1_id")
      .select(col("vec_id"), col("v"), col("c1_id"), col("c2_id"),
        cosine(col("v"), col("c2v")).as("c2_cos"))
      .groupBy("vec_id")
      .agg(first(col("c1_id")).as("c1_id"),
        max_by(col("c2_id"), struct(col("c2_cos"), -col("c2_id"))).as("c2_id"),
        first(col("v")).as("v"))
      .select(col("vec_id"), col("v"), col("c1_id"), col("c2_id"))
    (coarse, sub, assigned2)
  }

  /** Two-level probe: rank coarse cells against the BROADCAST coarse
    * table (window over ~n^(1/3) reduced rows per query), keep the top
    * half; descend into the probed cells' sub-centroids through a
    * join KEYED on c1_id and keep the top half per (query, cell); the
    * candidate fetch joins on (c1_id, c2_id). Probe work is
    * O(queries × (n^(1/3) + probed_cells·√cell + candidates)) and NO
    * n^(2/3)-row structure is ever broadcast or globally sorted.
    */
  private[graft] def ivf2Probe(coarse: DataFrame, sub: DataFrame,
      assigned2: DataFrame, q: DataFrame): DataFrame = {
    val nC1 = coarse.agg(count(lit(1)).as("n_c1"))
    val qC1 = q.join(broadcast(coarse), lit(true))
      .select(col("q_id"), col("qv"), col("c1_id"),
        cosine(col("qv"), col("c1v")).as("c1_cos"))
      .crossJoin(broadcast(nC1))
      .withColumn("crank", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("c1_cos"), asc("c1_id"))))
      .filter(col("crank") <= greatest(expr("n_c1 div 2"), lit(1L)))
      .select(col("q_id"), col("qv"), col("c1_id"))
    val subCounts = sub.groupBy("c1_id").agg(count(lit(1)).as("n_c2"))
    val qC2 = qC1.join(sub, "c1_id")
      .select(col("q_id"), col("qv"), col("c1_id"), col("c2_id"),
        cosine(col("qv"), col("c2v")).as("c2_cos"))
      .join(subCounts, "c1_id")
      .withColumn("srank", row_number().over(
        Window.partitionBy("q_id", "c1_id").orderBy(desc("c2_cos"), asc("c2_id"))))
      .filter(col("srank") <= greatest(expr("n_c2 div 2"), lit(1L)))
      .select(col("q_id"), col("qv"), col("c1_id"), col("c2_id"))
    val topk = graft.functions.TopK.topKByScore(TopK)
    qC2.join(assigned2, Seq("c1_id", "c2_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), cosine(col("qv"), col("v")).as("score"), col("vec_id"))
      .groupBy("q_id")
      .agg(topk(col("score"), col("vec_id")).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("q_id"), (col("pos") + 1).cast("long").as("rank"),
        col("s.id").as("vec_id"), round(col("s.score"), 4).as("cosine"))
      .orderBy("q_id", "rank")
  }

  /** Oracle-checked two-level IVF (`ann_ivf2_topk`): the planted-copy
    * construction of `ann_ivf_topk` survives the second level — a
    * copy's coarse ranking lands rank-1 on its source's assigned
    * coarse cell (identical vector, identical (cos, -id) tie-break),
    * the top-half rule always probes rank 1, the same argument
    * repeats for the sub-level inside that cell, and the candidate
    * join then surfaces the source at cosine 1.0 — so the ENTIRE
    * two-level pipeline (both sampling levels → both assignments →
    * two-stage descent → bounded-heap ranking) hash-checks against
    * the same closed-form oracle.
    */
  def ivf2TopkPlanted(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val (coarse, sub, assigned2) = ivf2IndexOf(e)
    ivf2Probe(coarse, sub, assigned2, plantedVecQueriesOf(e))
      .filter(col("rank") === 1L)
      .orderBy("q_id")
  }

  val GramDim = 64

  /** Distributed Gram matrix G = Σ v·vᵀ over the embedding corpus —
    * the canonical distributed linear-algebra reduction (covariance /
    * PCA precursor; MLlib computeGramian's plan). One bounded-buffer
    * Aggregator pass: each partition folds its vectors into a single
    * dim×dim upper-triangle buffer, so the shuffle carries
    * partitions × dim(dim+1)/2 doubles regardless of row count — vs
    * the naive dim²-explode that multiplies the corpus by 4096 before
    * aggregating. Triangle indices decode through a broadcast 2080-row
    * literal map; cells round to 6 like every FP aggregate here.
    */
  /** LOUD width guard for the Gram-workspace family (the r13
    * dimension rehearsal's fix for this pair): the Gram aggregator's
    * buffer and the driver-side eigensolve workspace are minted at
    * GramDim — a dim(dim+1)/2 shuffle row and a dim-squared driver
    * collect are ARCHITECTURAL constants (at dim 4096 the collect is
    * 128 MiB and wants a distributed eigensolve instead), not a
    * per-query knob — and the aggregator reads exactly GramDim
    * components, so a wider corpus would be silently censused on its
    * first GramDim dimensions. Fail loud instead; a wider deployment
    * raises GramDim consciously.
    */
  private def guardGramWidth(e: DataFrame): DataFrame =
    e.filter(assert_true(size(col("v")) === GramDim,
      lit(s"Gram workspace minted at width $GramDim; corpus width differs — raise GramDim")).isNull)

  def gramMatrix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val g = vecs(spark, dir)
      .transform(guardGramWidth)
      .select(graft.functions.Gram.gram(GramDim)(col("v")).as("g"))
    val idx = (for { i <- 0 until GramDim; j <- i until GramDim }
      yield (i * GramDim - i * (i - 1) / 2 + (j - i), i.toLong, j.toLong))
      .toDF("k", "i", "j")
    g.select(posexplode(col("g")).as(Seq("k", "gv")))
      .join(broadcast(idx), Seq("k"))
      .select(col("i"), col("j"), round(col("gv"), 6).as("g"))
      .orderBy("i", "j")
  }

  val KmeansK = 8
  val KmeansIters = 3

  private def toDoubles(r: org.apache.spark.sql.Row, i: Int): Array[Double] =
    r.getSeq[Any](i).map {
      case f: Float => f.toDouble
      case d: Double => d
    }.toArray

  private def subvec(a: Array[Double], m: Int): Array[Double] =
    a.slice(m * PqSub, (m + 1) * PqSub)

  // ascending-index accumulation — the list_inner_product order
  private def ddot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }; s
  }

  val PqM = 8        // subspaces
  val PqSub = 8      // dims per subspace (PqM * PqSub = 64)
  val PqNCent = 16   // codebook entries per subspace
  val PqSeedMod = 31 // deterministic codebook seed rule: vec_id % mod == 0
  val PqShortlist = 64 // ADC candidates kept per query for exact re-rank

  /** Product-quantization ANN — the third member of the ANN ladder
    * (brute force → IVF cells → PQ codes). The 64-dim corpus is split
    * into PqM subspaces; each subvector is quantized to its nearest of
    * PqNCent codebook entries (codebooks = hash-rule-sampled corpus
    * vectors, the same deterministic seeding as IVF/k-means), so every
    * vector compresses to PqM small codes. A query then scores the
    * ENTIRE corpus through a PqM × PqNCent lookup table of
    * query·codebook partial products (asymmetric distance computation)
    * — per-vector work is PqM table lookups + adds instead of a 64-dim
    * dot product, and the compressed corpus is 64/8 = 8× smaller than
    * the raw vectors, which is the whole point at 100 TB. The ADC scan
    * keeps a PqShortlist-deep candidate list per query; only those few
    * raw vectors are fetched and re-ranked by the TRUE inner product —
    * the standard two-stage compressed-scan + exact-re-rank serving
    * architecture (quantization error affects which candidates
    * surface, never the reported scores).
    *
    * Everything is a zero-join codegen projection over codebook
    * LITERALS (the k-means broadcast shape): encoding uses the
    * identical xx − 2·xs + ss expression tree as DuckDB's
    * list_inner_product chain, and both the encoding argmin key and
    * the LUT entries are SCALED-INTEGER (×10⁶, round-to-long), so ADC
    * scores are exact integer sums — no FP summation-order slack
    * anywhere, which is what lets a brute-force DuckDB replay
    * hash-verify the whole quantize→encode→LUT→scan pipeline.
    * Final per-query top-k via the bounded-heap Aggregator.
    */
  def pqTopk(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir).select(col("vec_id"), col("v"))

    val seeds: Array[Array[Double]] =
      e.filter(col("vec_id") % PqSeedMod === 0).orderBy("vec_id")
        .limit(PqNCent).collect().map(toDoubles(_, 1))
    val queries: Array[(Long, Array[Double])] =
      e.filter(col("vec_id") < NQueries).orderBy("vec_id").collect()
        .map(r => (r.getLong(0), toDoubles(r, 1)))
    if (seeds.isEmpty || queries.isEmpty) {
      import spark.implicits._
      return Seq.empty[(Long, Long, Long, Long)]
        .toDF("q_id", "rank", "vec_id", "score_e6")
    }

    // code_m = argmin_c of the scaled-integer quantization distance,
    // via the native PqEncode expression — the composed form (array_min
    // over 16 inlined struct candidates) blew janino's method budget
    // and silently fell back to interpreted execution. The encoded
    // table is materialized once (localCheckpoint) — it IS the PQ index
    // a serving system persists; every query batch then scans only the
    // 8-codes-per-vector table, never the raw vectors (those are
    // fetched solely for the shortlist re-rank below).
    val seedSubs: Int => Array[Array[Double]] = m => seeds.map(subvec(_, m))
    val withCodes = (0 until PqM).foldLeft(e) { (df, m) =>
      df.withColumn(s"code_$m",
        graft.functions.PqFunctions.pq_encode(col("v"), seedSubs(m), m, PqSub))
    }.select(col("vec_id") +: (0 until PqM).map(m => col(s"code_$m")): _*)
      .localCheckpoint()

    // lut(q)(m)(c) = round(q_m · c_m × 10⁶) — exact integers, so the
    // ADC sum below is order-free
    // One shared rounding rule (decimal HALF_UP, ×10⁶) for the LUT and
    // the PqEncode argmin keys — two hand-kept copies of this contract
    // would be an oracle-hash time bomb.
    val lut: Map[Long, Array[Array[Long]]] = queries.map { case (qid, qv) =>
      qid -> Array.tabulate(PqM) { m =>
        seeds.map(s =>
          graft.functions.PqEncode.roundKey(ddot(subvec(qv, m), subvec(s, m))))
      }
    }.toMap

    val scoredWide = queries.foldLeft(withCodes) { case (df, (qid, _)) =>
      val score = (0 until PqM).map { m =>
        element_at(typedLit(lut(qid)(m).toSeq), (col(s"code_$m") + 1).cast("int"))
      }.reduce(_ + _)
      df.withColumn(s"score_q$qid", score)
    }
    val stackArgs = queries.map { case (qid, _) => s"${qid}L, score_q$qid" }
      .mkString(", ")
    val shortlist = graft.functions.TopK.topKByScore(PqShortlist)
    val topk = graft.functions.TopK.topKByScore(TopK)
    // Stage 1: ADC shortlist — the compressed scan ranks everything,
    // only PqShortlist ids per query survive.
    val candidates = scoredWide
      .selectExpr("vec_id",
        s"stack(${queries.length}, $stackArgs) as (q_id, score_e6)")
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy("q_id")
      .agg(shortlist(col("score_e6").cast("double"), col("vec_id")).as("top"))
      .select(col("q_id"), explode(col("top")).as("s"))
      .select(col("q_id"), col("s.id").as("vec_id"))
    // Stage 2: exact re-rank — fetch the shortlist's RAW vectors
    // (PqShortlist·NQueries rows, not the corpus) and rank by the true
    // inner product, scaled-integer like everything else.
    val qlits = map(queries.flatMap { case (qid, qv) =>
      Seq(lit(qid), typedLit(qv.toSeq))
    }.toIndexedSeq: _*)
    candidates.join(e, Seq("vec_id"))
      .withColumn("exact_e6",
        round(dot(element_at(qlits, col("q_id")), col("v")) * 1e6).cast("long"))
      .groupBy("q_id")
      .agg(topk(col("exact_e6").cast("double"), col("vec_id")).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("q_id"), (col("pos") + 1).cast("long").as("rank"),
        col("s.id").as("vec_id"), col("s.score").cast("long").as("score_e6"))
      .orderBy("q_id", "rank")
  }

  /** PQ index-quality census — the "how lossy is the compressed
    * index" readout a serving team reads BEFORE trusting
    * `ann_pq_topk`'s shortlists: per subspace, the distribution
    * (count / Σ / max / HALF_UP mean) of each vector's quantization
    * error min_c ‖v_m − c_m‖² under the SAME scaled-integer rounding
    * contract as the PQ encode itself, so the census is measuring
    * exactly the metric the argmin ranks by. Shape: the corpus
    * cross-joins a broadcast 128-row literal codebook table
    * (PqM × PqNCent — constant fanout, not dim²), partial min-agg
    * reduces it map-side to PqM rows per vector, and the final
    * subspace rollup is 8 rows. The expression tree
    * (xx − 2·xs + ss, ascending-index dots, round ×1e6 to BIGINT) is
    * the one DuckDB's list_inner_product replay builds, so the
    * doubles are bit-identical and the census hash-verifies with no
    * planting.
    */
  def pqDistortionCensus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = vecs(spark, dir).select(col("vec_id"), col("v"))
    val seeds: Array[Array[Double]] =
      e.filter(col("vec_id") % PqSeedMod === 0).orderBy("vec_id")
        .limit(PqNCent).collect().map(toDoubles(_, 1))
    if (seeds.isEmpty)
      return Seq.empty[(Long, Long, Long, Long, Long)]
        .toDF("m", "n_vecs", "sum_err_e6", "max_err_e6", "avg_err_e6")
    val codebook = (for { m <- 0 until PqM; c <- seeds.indices }
      yield (m.toLong, c.toLong, subvec(seeds(c), m).toSeq))
      .toDF("m", "c", "sv")
    val vm = slice(col("v"), col("m").cast("int") * PqSub + 1, lit(PqSub))
    e.join(broadcast(codebook), lit(true))
      .select(col("vec_id"), col("m"),
        round((dot(vm, vm) - lit(2.0) * dot(vm, col("sv"))
          + dot(col("sv"), col("sv"))) * lit(1e6)).cast("long").as("d_e6"))
      .groupBy("vec_id", "m")
      .agg(min(col("d_e6")).as("err_e6"))
      .groupBy("m")
      .agg(count(lit(1)).as("n_vecs"), sum(col("err_e6")).as("sum_err_e6"),
        max(col("err_e6")).as("max_err_e6"))
      .withColumn("avg_err_e6",
        expr("(2*sum_err_e6 + n_vecs) div (2*n_vecs)"))
      .orderBy("m")
  }

  private def pqDistortionOracle: String = {
    val sl = s"sub.m*$PqSub+1 : sub.m*$PqSub+$PqSub"
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |seeds AS (
      |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, v
      |  FROM (SELECT vec_id, v FROM e WHERE vec_id % $PqSeedMod = 0
      |        ORDER BY vec_id LIMIT $PqNCent)),
      |ms AS (SELECT unnest(range(0, $PqM)) AS m),
      |sub AS (SELECT s.c, ms.m, s.v[ms.m*$PqSub+1 : ms.m*$PqSub+$PqSub] AS sv
      |        FROM seeds s CROSS JOIN ms),
      |d AS (
      |  SELECT e.vec_id, sub.m,
      |    min(CAST(round((list_inner_product(e.v[$sl], e.v[$sl])
      |      - 2.0*list_inner_product(e.v[$sl], sub.sv)
      |      + list_inner_product(sub.sv, sub.sv)) * 1e6, 0) AS BIGINT)) AS err_e6
      |  FROM e CROSS JOIN sub
      |  GROUP BY e.vec_id, sub.m)
      |SELECT m, count(*) AS n_vecs,
      |  CAST(sum(err_e6) AS BIGINT) AS sum_err_e6,
      |  max(err_e6) AS max_err_e6,
      |  (2*CAST(sum(err_e6) AS BIGINT) + count(*)) // (2*count(*)) AS avg_err_e6
      |FROM d GROUP BY m ORDER BY m""".stripMargin
  }

  private def pqOracle: String = {
    val sl = s"sub.m*$PqSub+1 : sub.m*$PqSub+$PqSub"
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |seeds AS (
      |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, v
      |  FROM (SELECT vec_id, v FROM e WHERE vec_id % $PqSeedMod = 0
      |        ORDER BY vec_id LIMIT $PqNCent)),
      |ms AS (SELECT unnest(range(0, $PqM)) AS m),
      |sub AS (SELECT s.c, ms.m, s.v[ms.m*$PqSub+1 : ms.m*$PqSub+$PqSub] AS sv
      |        FROM seeds s CROSS JOIN ms),
      |codes AS (
      |  SELECT vec_id, m, c FROM (
      |    SELECT e.vec_id, sub.m, sub.c,
      |      row_number() OVER (PARTITION BY e.vec_id, sub.m ORDER BY
      |        CAST(round((list_inner_product(e.v[$sl], e.v[$sl])
      |          - 2.0*list_inner_product(e.v[$sl], sub.sv)
      |          + list_inner_product(sub.sv, sub.sv)) * 1e6, 0) AS BIGINT),
      |        sub.c) AS rn
      |    FROM e CROSS JOIN sub) WHERE rn = 1),
      |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < $NQueries),
      |lut AS (
      |  SELECT q.q_id, sub.m, sub.c,
      |    CAST(round(list_inner_product(q.qv[$sl], sub.sv) * 1e6, 0) AS BIGINT) AS p
      |  FROM q CROSS JOIN sub),
      |scored AS (
      |  SELECT l.q_id, cd.vec_id, CAST(sum(l.p) AS BIGINT) AS adc_e6
      |  FROM codes cd JOIN lut l ON l.m = cd.m AND l.c = cd.c
      |  WHERE cd.vec_id <> l.q_id
      |  GROUP BY l.q_id, cd.vec_id),
      |shortlist AS (
      |  SELECT q_id, vec_id FROM (
      |    SELECT q_id, vec_id,
      |      row_number() OVER (PARTITION BY q_id
      |        ORDER BY adc_e6 DESC, vec_id) AS rn
      |    FROM scored) WHERE rn <= $PqShortlist),
      |rer AS (
      |  SELECT s.q_id, s.vec_id,
      |    CAST(round(list_inner_product(q.qv, e.v) * 1e6, 0) AS BIGINT) AS score_e6
      |  FROM shortlist s JOIN e ON e.vec_id = s.vec_id JOIN q ON q.q_id = s.q_id)
      |SELECT q_id, rank, vec_id, score_e6 FROM (
      |  SELECT q_id, vec_id, score_e6,
      |    CAST(row_number() OVER (PARTITION BY q_id
      |      ORDER BY score_e6 DESC, vec_id) AS BIGINT) AS rank
      |  FROM rer) WHERE rank <= $TopK
      |ORDER BY q_id, rank""".stripMargin
  }

  /** IVF + PQ — the composite IVFADC serving architecture (the
    * standard large-scale ANN index, Jégou et al. 2011 / faiss
    * `IVFxx,PQyy`): a coarse inverted file restricts each query to
    * its probed cells, and *within* them the corpus is scored from
    * 8-byte PQ codes by LUT additions, shortlisted, then exactly
    * re-ranked from raw vectors. At 100 TB the two stages multiply:
    * probing half the cells halves the scan and PQ shrinks what IS
    * scanned 8× with no raw-vector I/O until the PqShortlist·NQueries
    * re-rank fetch. Unlike `ann_ivf_topk` (xxhash64 residue sampling —
    * not computable in DuckDB, hence its planted-copy oracle), the
    * coarse centroids here are the count-derived MODULUS sample
    * vec_id % (n div ceil(√n)) == 0 — same ≈√n cell count at any
    * corpus size, but a one-line SQL predicate, so the ENTIRE
    * composite (sampling → assignment → probing → encode → LUT → ADC
    * → shortlist → exact re-rank) replays in DuckDB and
    * hash-verifies with no planting. Cell assignment and probe
    * ranking order by RAW cosine: both engines build the identical
    * dot/(√·√) expression tree, so the doubles are bit-identical and
    * ties fall to cell_id on both (§4 different-construction rule).
    * ADC stays in exact scaled integers (shared PqEncode rounding).
    */
  def ivfpqTopk(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir).select(col("vec_id"), col("v"))

    val seeds: Array[Array[Double]] =
      e.filter(col("vec_id") % PqSeedMod === 0).orderBy("vec_id")
        .limit(PqNCent).collect().map(toDoubles(_, 1))
    val queries: Array[(Long, Array[Double])] =
      e.filter(col("vec_id") < NQueries).orderBy("vec_id").collect()
        .map(r => (r.getLong(0), toDoubles(r, 1)))
    if (seeds.isEmpty || queries.isEmpty) {
      import spark.implicits._
      return Seq.empty[(Long, Long, Long, Long)]
        .toDF("q_id", "rank", "vec_id", "score_e6")
    }

    // Coarse IVF: ≈√n modulus-sampled centroids, map-side max_by cell
    // assignment (one row per vector reaches the shuffle), per-query
    // probe ranking over the ~√n centroid rows only.
    val n = e.agg(count(lit(1)).as("n_vecs"))
    val centroids = e.crossJoin(broadcast(n))
      .filter(pmod(col("vec_id"),
        greatest(expr("n_vecs div greatest(CAST(ceil(sqrt(n_vecs)) AS BIGINT), 1)"),
          lit(1L))) === 0L)
      .select(col("vec_id").as("cell_id"), col("v").as("cv"))
    val assigned = e.join(broadcast(centroids), lit(true))
      .select(col("vec_id"), col("cell_id"),
        cosine(col("v"), col("cv")).as("cell_cos"))
      .groupBy("vec_id")
      .agg(max_by(col("cell_id"), struct(col("cell_cos"), -col("cell_id")))
        .as("cell_id"))
    val nCells = centroids.agg(count(lit(1)).as("n_cells"))
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val probed = q.join(broadcast(centroids), lit(true))
      .select(col("q_id"), col("cell_id"),
        cosine(col("qv"), col("cv")).as("cell_cos"))
      .crossJoin(broadcast(nCells))
      .withColumn("crank", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("cell_cos"), asc("cell_id"))))
      .filter(col("crank") <= greatest(expr("n_cells div 2"), lit(1L)))
      .select(col("q_id"), col("cell_id"))

    // PQ codes (native PqEncode) + per-(query, subspace) LUTs as ONE
    // map literal each — 50·16 longs of data, not 50 generated columns,
    // so janino never sees them (§3 codegen-budget lesson).
    val seedSubs: Int => Array[Array[Double]] = m => seeds.map(subvec(_, m))
    val codes = (0 until PqM).foldLeft(e) { (df, m) =>
      df.withColumn(s"code_$m",
        graft.functions.PqFunctions.pq_encode(col("v"), seedSubs(m), m, PqSub))
    }.select(col("vec_id") +: (0 until PqM).map(m => col(s"code_$m")): _*)
    val lutMaps: IndexedSeq[Column] = (0 until PqM).map { m =>
      typedLit(queries.map { case (qid, qv) =>
        qid -> seeds.map(s =>
          graft.functions.PqEncode.roundKey(ddot(subvec(qv, m), subvec(s, m))))
          .toSeq
      }.toMap)
    }

    // ADC over ONLY the probed cells: codes ⋈ assignment ⋈ broadcast
    // probe list; the integer LUT sum touches no raw vector.
    val adc = (0 until PqM).map { m =>
      element_at(element_at(lutMaps(m), col("q_id")),
        (col(s"code_$m") + 1).cast("int"))
    }.reduce(_ + _)
    val shortlist = graft.functions.TopK.topKByScore(PqShortlist)
    val topk = graft.functions.TopK.topKByScore(TopK)
    val candidates = codes.join(assigned, Seq("vec_id"))
      .join(broadcast(probed), Seq("cell_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("score_e6", adc)
      .groupBy("q_id")
      .agg(shortlist(col("score_e6").cast("double"), col("vec_id")).as("top"))
      .select(col("q_id"), explode(col("top")).as("s"))
      .select(col("q_id"), col("s.id").as("vec_id"))
    val qlits = map(queries.flatMap { case (qid, qv) =>
      Seq(lit(qid), typedLit(qv.toSeq))
    }.toIndexedSeq: _*)
    candidates.join(e, Seq("vec_id"))
      .withColumn("exact_e6",
        round(dot(element_at(qlits, col("q_id")), col("v")) * 1e6).cast("long"))
      .groupBy("q_id")
      .agg(topk(col("exact_e6").cast("double"), col("vec_id")).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("q_id"), (col("pos") + 1).cast("long").as("rank"),
        col("s.id").as("vec_id"), col("s.score").cast("long").as("score_e6"))
      .orderBy("q_id", "rank")
  }

  /** IVF index-health census — the partition-balance readout that
    * decides whether an inverted-file layout is servable: a hot cell
    * serves a disproportionate share of probes (latency tail) and an
    * empty cell wastes a centroid. Reports, over the ivfpq modulus
    * sample's cells and raw-cosine assignment (identical expression
    * trees, so DuckDB replays it): centroid count, used cells,
    * min/max cell population, HALF_UP mean ×1000, skew = max/mean
    * ×1000, and the hottest cell's corpus share in ppm. Shape: the
    * corpus × broadcast-centroid assignment (map-side max_by partials,
    * ≈√n fanout), a cell-keyed count whose domain is ≈√n rows, then
    * 1-row reduces — the census never scales past the cell domain.
    */
  def ivfBalanceCensus(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir).select(col("vec_id"), col("v"))
    val n = e.agg(count(lit(1)).as("n_vecs"))
    val centroids = e.crossJoin(broadcast(n))
      .filter(pmod(col("vec_id"),
        greatest(expr("n_vecs div greatest(CAST(ceil(sqrt(n_vecs)) AS BIGINT), 1)"),
          lit(1L))) === 0L)
      .select(col("vec_id").as("cell_id"), col("v").as("cv"))
    val assigned = e.join(broadcast(centroids), lit(true))
      .select(col("vec_id"), col("cell_id"),
        cosine(col("v"), col("cv")).as("cell_cos"))
      .groupBy("vec_id")
      .agg(max_by(col("cell_id"), struct(col("cell_cos"), -col("cell_id")))
        .as("cell_id"))
    val sizeCensus = assigned.groupBy("cell_id")
      .agg(count(lit(1)).as("cell_n"))
      .agg(count(lit(1)).as("n_used"), sum(col("cell_n")).as("nv"),
        min(col("cell_n")).as("min_cell"), max(col("cell_n")).as("max_cell"))
    centroids.agg(count(lit(1)).as("n_cells"))
      .crossJoin(broadcast(sizeCensus))
      .select(col("n_cells"), col("n_used"), col("nv").as("n_vecs"),
        col("min_cell"), col("max_cell"),
        // CASE-guarded: global aggs emit one row on an empty corpus,
        // where n_used = 0 / nv NULL would be ANSI division errors
        expr("CASE WHEN n_used = 0 THEN NULL " +
          "ELSE (2*nv*1000 + n_used) div (2*n_used) END").as("avg_x1000"),
        expr("CASE WHEN nv IS NULL OR nv = 0 THEN NULL " +
          "ELSE (2*max_cell*1000*n_used + nv) div (2*nv) END").as("skew_x1000"),
        expr("CASE WHEN nv IS NULL OR nv = 0 THEN NULL " +
          "ELSE (2*max_cell*1000000 + nv) div (2*nv) END").as("top_share_ppm"))
  }

  /** Native-expression-through-SQL certification: `vec_dot` is a
    * custom Catalyst Expression (doGenCode fused loop) registered
    * into the session FunctionRegistry — this row calls it FROM SQL
    * TEXT (`spark.sql`, temp view), proving the extension surface a
    * SQL-only user would touch, and the per-label squared-norm census
    * rides the established vec_dot ≡ list_inner_product bit-identity:
    * round ×1e6 per row to exact integers, then integer sums.
    */
  def vecSqlUdf(spark: SparkSession, dir: String): DataFrame = {
    graft.GraftFunctions.register(spark)
    Tables.embeddings(spark, dir).createOrReplaceTempView("g_embeddings")
    spark.sql(
      """SELECT label, count(*) AS n_vecs,
        |  CAST(sum(CAST(round(vec_dot(embedding, embedding) * 1e6, 0)
        |    AS BIGINT)) AS BIGINT) AS norm2_e6_sum
        |FROM g_embeddings
        |GROUP BY label ORDER BY label""".stripMargin)
  }

  private def ivfBalanceOracle: String = {
    val cos = (a: String, b: String) =>
      s"list_inner_product($a, $b) / (sqrt(list_inner_product($a, $a)) * sqrt(list_inner_product($b, $b)))"
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |n AS (SELECT count(*) AS n_vecs FROM e),
      |cent AS (
      |  SELECT vec_id AS cell_id, v AS cv FROM e, n
      |  WHERE vec_id % greatest(n_vecs // CAST(ceil(sqrt(n_vecs)) AS BIGINT), 1) = 0),
      |asg AS (
      |  SELECT vec_id, cell_id FROM (
      |    SELECT e.vec_id, c.cell_id,
      |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |        ${cos("e.v", "c.cv")} DESC, c.cell_id) AS rn
      |    FROM e CROSS JOIN cent c) WHERE rn = 1),
      |sz AS (SELECT cell_id, count(*) AS cell_n FROM asg GROUP BY cell_id),
      |agg AS (
      |  SELECT count(*) AS n_used, CAST(sum(cell_n) AS BIGINT) AS nv,
      |    min(cell_n) AS min_cell, max(cell_n) AS max_cell FROM sz),
      |nc AS (SELECT count(*) AS n_cells FROM cent)
      |SELECT nc.n_cells, agg.n_used, agg.nv AS n_vecs,
      |  agg.min_cell, agg.max_cell,
      |  CASE WHEN agg.n_used = 0 THEN NULL
      |    ELSE (2*agg.nv*1000 + agg.n_used) // (2*agg.n_used) END AS avg_x1000,
      |  CASE WHEN agg.nv IS NULL OR agg.nv = 0 THEN NULL
      |    ELSE (2*agg.max_cell*1000*agg.n_used + agg.nv) // (2*agg.nv) END
      |    AS skew_x1000,
      |  CASE WHEN agg.nv IS NULL OR agg.nv = 0 THEN NULL
      |    ELSE (2*agg.max_cell*1000000 + agg.nv) // (2*agg.nv) END
      |    AS top_share_ppm
      |FROM nc CROSS JOIN agg""".stripMargin
  }

  private def ivfpqOracle: String = {
    val sl = s"sub.m*$PqSub+1 : sub.m*$PqSub+$PqSub"
    val cos = (a: String, b: String) =>
      s"list_inner_product($a, $b) / (sqrt(list_inner_product($a, $a)) * sqrt(list_inner_product($b, $b)))"
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |n AS (SELECT count(*) AS n_vecs FROM e),
      |cent AS (
      |  SELECT vec_id AS cell_id, v AS cv FROM e, n
      |  WHERE vec_id % greatest(n_vecs // CAST(ceil(sqrt(n_vecs)) AS BIGINT), 1) = 0),
      |asg AS (
      |  SELECT vec_id, cell_id FROM (
      |    SELECT e.vec_id, c.cell_id,
      |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |        ${cos("e.v", "c.cv")} DESC, c.cell_id) AS rn
      |    FROM e CROSS JOIN cent c) WHERE rn = 1),
      |nc AS (SELECT count(*) AS n_cells FROM cent),
      |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < $NQueries),
      |probe AS (
      |  SELECT q_id, cell_id FROM (
      |    SELECT q.q_id, c.cell_id,
      |      row_number() OVER (PARTITION BY q.q_id ORDER BY
      |        ${cos("q.qv", "c.cv")} DESC, c.cell_id) AS crank
      |    FROM q CROSS JOIN cent c) p, nc
      |  WHERE p.crank <= greatest(nc.n_cells // 2, 1)),
      |seeds AS (
      |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, v
      |  FROM (SELECT vec_id, v FROM e WHERE vec_id % $PqSeedMod = 0
      |        ORDER BY vec_id LIMIT $PqNCent)),
      |ms AS (SELECT unnest(range(0, $PqM)) AS m),
      |sub AS (SELECT s.c, ms.m, s.v[ms.m*$PqSub+1 : ms.m*$PqSub+$PqSub] AS sv
      |        FROM seeds s CROSS JOIN ms),
      |codes AS (
      |  SELECT vec_id, m, c FROM (
      |    SELECT e.vec_id, sub.m, sub.c,
      |      row_number() OVER (PARTITION BY e.vec_id, sub.m ORDER BY
      |        CAST(round((list_inner_product(e.v[$sl], e.v[$sl])
      |          - 2.0*list_inner_product(e.v[$sl], sub.sv)
      |          + list_inner_product(sub.sv, sub.sv)) * 1e6, 0) AS BIGINT),
      |        sub.c) AS rn
      |    FROM e CROSS JOIN sub) WHERE rn = 1),
      |lut AS (
      |  SELECT q.q_id, sub.m, sub.c,
      |    CAST(round(list_inner_product(q.qv[$sl], sub.sv) * 1e6, 0) AS BIGINT) AS p
      |  FROM q CROSS JOIN sub),
      |scored AS (
      |  SELECT l.q_id, cd.vec_id, CAST(sum(l.p) AS BIGINT) AS adc_e6
      |  FROM codes cd
      |  JOIN asg a ON a.vec_id = cd.vec_id
      |  JOIN probe pr ON pr.cell_id = a.cell_id
      |  JOIN lut l ON l.q_id = pr.q_id AND l.m = cd.m AND l.c = cd.c
      |  WHERE cd.vec_id <> l.q_id
      |  GROUP BY l.q_id, cd.vec_id),
      |shortlist AS (
      |  SELECT q_id, vec_id FROM (
      |    SELECT q_id, vec_id,
      |      row_number() OVER (PARTITION BY q_id
      |        ORDER BY adc_e6 DESC, vec_id) AS rn
      |    FROM scored) WHERE rn <= $PqShortlist),
      |rer AS (
      |  SELECT s.q_id, s.vec_id,
      |    CAST(round(list_inner_product(q.qv, e.v) * 1e6, 0) AS BIGINT) AS score_e6
      |  FROM shortlist s JOIN e ON e.vec_id = s.vec_id JOIN q ON q.q_id = s.q_id)
      |SELECT q_id, rank, vec_id, score_e6 FROM (
      |  SELECT q_id, vec_id, score_e6,
      |    CAST(row_number() OVER (PARTITION BY q_id
      |      ORDER BY score_e6 DESC, vec_id) AS BIGINT) AS rank
      |  FROM rer) WHERE rank <= $TopK
      |ORDER BY q_id, rank""".stripMargin
  }

  /** Distributed Lloyd's k-means over the embedding corpus — the
    * broadcast-centroid shape (the plan Spark MLlib's KMeans uses):
    * each iteration collects the k×dim centroid matrix to the driver
    * (k·dim doubles — constant-size, never corpus-size), embeds it as
    * LITERALS in a single codegen'd projection, and assigns every
    * vector to its nearest centroid with zero joins and zero shuffles;
    * the centroid update is one map-side-combinable groupBy on
    * (cluster, dim) whose key space is k×dim regardless of corpus
    * size. Determinism that makes the fixpoint oracle-checkable:
    * init = the first k vectors by id; squared distances are computed
    * in the identical expression shape as DuckDB's
    * `list_inner_product` chain and ROUNDED to 6 before the argmin
    * (ulp-level summation-order differences cannot flip an
    * assignment); means are rounded to 6 before the next iteration,
    * so both engines iterate over bit-identical centroids.
    */

  /** Nearest-centroid id as a pure projection over centroid literals:
    * argmin (round(dist2, 6), cid) via array_min over structs.
    */
  private def assign(cents: Array[(Long, Array[Double])]): Column = {
    val cands = cents.map { case (cid, c) =>
      // ||c||² accumulated in ascending index order — the same
      // order DuckDB's list_inner_product(c, c) uses.
      var cc = 0.0
      var i = 0
      while (i < c.length) { cc += c(i) * c(i); i += 1 }
      val d2 = round(
        dot(col("v"), col("v")) - lit(2.0) * dot(col("v"), typedLit(c.toSeq)) + lit(cc), 6)
      struct(d2.as("d"), lit(cid).as("cid"))
    }
    array_min(array(cands.toIndexedSeq: _*)).getField("cid")
  }

  /** The Lloyd fixpoint over any (vec_id, v) relation: seeds = first
    * KmeansK vectors by id, KmeansIters broadcast-assign + keyed-mean
    * rounds, means rounded to 6 so both engines iterate bit-identical
    * centroids. Returns the final k×dim matrix (constant driver
    * traffic). Empty when no seed ids < KmeansK exist.
    *
    * The input is PERSISTED for the duration of the loop (the
    * iterative-job discipline, cf. PageRank): the loop launches
    * KmeansIters + 1 actions, and without a persist each one re-reads
    * the parquet and re-derives `e` (for semantic dedup that is a
    * re-normalization of the corpus per round). At cluster scale use
    * MEMORY_AND_DISK + a reliable checkpoint every few rounds.
    */
  private def lloydCentroids(e0: DataFrame): Array[(Long, Array[Double])] = {
    val e = e0.persist()
    try {
      var cents: Array[(Long, Array[Double])] =
        e.filter(col("vec_id") < KmeansK).orderBy("vec_id").collect()
          .map(r => (r.getLong(0), toDoubles(r, 1)))
      if (cents.isEmpty) return cents
      for (_ <- 1 to KmeansIters) {
        cents = e.select(assign(cents).as("cid"), col("v"))
          .select(col("cid"), posexplode(col("v")).as(Seq("pos", "val")))
          .groupBy("cid", "pos")
          .agg(round(avg(col("val")), 6).as("m"))
          .groupBy("cid")
          .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
          .select(col("cid"), expr("transform(pm, x -> x.m)").as("c"))
          .orderBy("cid").collect()
          .map(r => (r.getLong(0), toDoubles(r, 1)))
      }
      cents
    } finally e.unpersist(blocking = false)
  }

  def kmeans(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir).select(col("vec_id"), col("v"))
    val cents = lloydCentroids(e)
    // No seed vectors (empty corpus, or ids all >= K): both engines
    // agree the result is empty — don't build an empty literal argmin.
    if (cents.isEmpty) {
      import spark.implicits._
      return Seq.empty[(Long, Long, String)]
        .toDF("cluster_id", "n_vecs", "centroid")
    }

    import spark.implicits._
    // The centroid rides as a SPACE-JOINED SCALED-INT STRING, not an
    // array<double>: the driver's oracle harness canonicalizes with
    // pandas sort_values, which cannot hash an ndarray cell. Each
    // component is already round(·, 6), so ×1e6 is integer-exact on
    // both engines (the §4 scaled-integer strategy).
    val cdf = cents.toSeq.map { case (cid, c) =>
      (cid, c.map(x => math.round(x * 1e6)).mkString(" "))
    }.toDF("cluster_id", "centroid")
    e.select(assign(cents).as("cluster_id"))
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_vecs"))
      .join(broadcast(cdf), Seq("cluster_id"))
      .select(col("cluster_id"), col("n_vecs"), col("centroid"))
      .orderBy("cluster_id")
  }

  private def lloydIterCte(i: Int): String = s""",
a$i AS (
  SELECT vec_id, v, cid FROM (
    SELECT e.vec_id, e.v, c.cid,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        round(list_inner_product(e.v, e.v) - 2.0*list_inner_product(e.v, c.c)
              + list_inner_product(c.c, c.c), 6), c.cid) AS rn
    FROM e CROSS JOIN c${i - 1} c) WHERE rn = 1),
c$i AS (
  SELECT cid, list(m ORDER BY pos) AS c FROM (
    SELECT cid, pos, round(avg(val), 6) AS m FROM (
      SELECT cid, generate_subscripts(v, 1) AS pos, unnest(v) AS val FROM a$i)
    GROUP BY cid, pos) GROUP BY cid)"""

  /** WITH-prefix shared by the k-means-family oracles: caller supplies
    * the `e` CTE body (the (vec_id, v) relation), this appends the
    * seed CTE, KmeansIters Lloyd rounds, and the final assignment
    * `afin(vec_id, cid)`.
    */
  private def lloydCtesOracle(eCte: String): String =
    s"""WITH e AS ($eCte),
c0 AS (SELECT vec_id AS cid, v AS c FROM e WHERE vec_id < $KmeansK)""" +
      (1 to KmeansIters).map(lloydIterCte).mkString +
      s""",
afin AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        round(list_inner_product(e.v, e.v) - 2.0*list_inner_product(e.v, c.c)
              + list_inner_product(c.c, c.c), 6), c.cid) AS rn
    FROM e CROSS JOIN c$KmeansIters c) WHERE rn = 1)"""

  /** 3 Lloyd iterations + final assignment, replicated CTE-for-CTE in
    * DuckDB — both engines round distances and means to 6, so the
    * entire iterative fixpoint is hash-comparable.
    */
  private def kmeansOracle: String =
    lloydCtesOracle("SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings") +
      s"""
SELECT a.cid AS cluster_id, count(*) AS n_vecs,
  array_to_string(
    list_transform(any_value(c.c),
      x -> CAST(CAST(round(x * 1000000.0) AS BIGINT) AS VARCHAR)), ' ') AS centroid
FROM afin a JOIN c$KmeansIters c ON a.cid = c.cid
GROUP BY a.cid ORDER BY cluster_id"""

  val SemTau = 0.95
  val SemPlantOffset = 1000000L
  val SemChunks = 8

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023) — the
    * modern embedding-space pruning pass a training pipeline runs
    * after exact/MinHash dedup: spherical k-means over NORMALIZED
    * embeddings (the Lloyd fixpoint above, reused verbatim on
    * u = v/‖v‖), then within each cluster drop every vector that has
    * a lower-id neighbor with cosine ≥ τ. 100 TB shape: clustering is
    * the broadcast-centroid plan (k scales as corpus/target-cluster-
    * size, still only k×dim driver traffic); the pairwise stage is
    * CLUSTER-BLOCKED and chunk-sharded exactly like `embedCosine`
    * (x side hashed into SemChunks, y side replicated), so per-task
    * memory is |cluster|/SemChunks and no task ever sees the corpus.
    *
    * The synthetic corpus has no natural pairs above cosine 0.48, so
    * the query PLANTS a 0.5-scaled copy of every 4th vector
    * (vec_id + SemPlantOffset): scaling by a power of two is FP-exact,
    * normalization maps copy and original to bit-identical unit
    * vectors on both engines (×0.5 and /0.5·s commute exactly with
    * IEEE rounding), so each copy lands in its original's cluster
    * with cosine ≈ 1 — recall of the planted set is exactly 1 and the
    * whole pipeline (normalize → 3 Lloyd rounds → assignment →
    * blocked pairwise → keep-lowest-id) is hash-checked end to end.
    */
  def semanticDedup(spark: SparkSession, dir: String): DataFrame = {
    val raw = vecs(spark, dir).select(col("vec_id"), col("v"))
    val base = raw.union(
      raw.filter(col("vec_id") % 4 === 0)
        .select((col("vec_id") + SemPlantOffset).as("vec_id"),
          transform(col("v"), x => x * lit(0.5f)).as("v")))
    val e = base.select(col("vec_id"),
      transform(col("v"),
        x => x.cast("double") / sqrt(dot(col("v"), col("v")))).as("v"))
    val cents = lloydCentroids(e)
    if (cents.isEmpty) {
      import spark.implicits._
      return Seq.empty[(Long, Long, Long)]
        .toDF("vec_id", "cluster_id", "is_dup")
    }
    val assigned = e.select(col("vec_id"), col("v"), assign(cents).as("cluster_id"))
    val x = assigned
      .select(col("cluster_id"), col("vec_id").as("i_id"), col("v").as("iv"))
      .withColumn("chunk", pmod(xxhash64(col("i_id")), lit(SemChunks.toLong)))
    val y = assigned
      .select(col("cluster_id").as("y_cluster"), col("vec_id").as("j_id"),
        col("v").as("jv"))
      .withColumn("chunk",
        explode(array((0 until SemChunks).map(k => lit(k.toLong)): _*)))
    val dup = x.join(y,
        col("cluster_id") === col("y_cluster") &&
          x("chunk") === y("chunk") && col("i_id") < col("j_id"))
      .filter(round(cosine(col("iv"), col("jv")), 6) >= SemTau)
      .select(col("j_id").as("vec_id")).distinct()
      .withColumn("dropped", lit(1L))
    assigned
      .join(dup, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster_id"),
        coalesce(col("dropped"), lit(0L)).as("is_dup"))
      .orderBy("vec_id")
  }

  private def semanticDedupOracle: String =
    lloydCtesOracle(
      s"""WITH base AS (
    SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    UNION ALL
    SELECT vec_id + $SemPlantOffset,
      list_transform(embedding::DOUBLE[], x -> x * 0.5)
    FROM embeddings WHERE vec_id % 4 = 0)
  SELECT vec_id,
    list_transform(v, x -> x / sqrt(list_inner_product(v, v))) AS v
  FROM base""") +
      s""",
dup AS (
  SELECT DISTINCT b.vec_id
  FROM afin a JOIN afin b ON a.cid = b.cid AND a.vec_id < b.vec_id
  JOIN e ea ON ea.vec_id = a.vec_id
  JOIN e eb ON eb.vec_id = b.vec_id
  WHERE round(list_inner_product(ea.v, eb.v) /
        (sqrt(list_inner_product(ea.v, ea.v)) *
         sqrt(list_inner_product(eb.v, eb.v))), 6) >= $SemTau)
SELECT f.vec_id, f.cid AS cluster_id,
  CAST(d.vec_id IS NOT NULL AS BIGINT) AS is_dup
FROM afin f LEFT JOIN dup d ON d.vec_id = f.vec_id
ORDER BY f.vec_id"""

  /** Per-label vector stats via codegen'd higher-order functions —
    * no UDFs: L2 norms and first-component spread.
    */
  def normStats(spark: SparkSession, dir: String): DataFrame =
    vecs(spark, dir)
      .select(col("label"), sqrt(dot(col("v"), col("v"))).as("norm"),
        element_at(col("v"), 1).as("d0"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        round(avg(col("norm")), 6).as("avg_norm"),
        round(min(col("norm")), 6).as("min_norm"),
        round(max(col("norm")), 6).as("max_norm"),
        round(avg(col("d0")), 6).as("avg_d0"))
      .orderBy("label")

  /** Symmetric per-vector int8 quantization census — the embedding
    * compression pass (4× over float32) a vector pipeline ships before
    * serving: scale m = max|v_i|, code q_i = ⌊v_i·127/m + 0.5⌋ ∈
    * [−127, 127]. Exactness strategy: NO round() anywhere — ⌊x+0.5⌋
    * is composed of exactly-rounded IEEE double ops, so both engines
    * compute bit-identical codes (Spark's shortest-decimal HALF_UP
    * round vs DuckDB's binary-value round diverge at .5 boundaries;
    * floor on the binary value cannot). Emitted facts are INTEGERS
    * ONLY (µ-scale, code sum / sum-of-squares, saturation count) —
    * hash-verifiable with no FP in the output and no array column
    * (the ann_kmeans harness lesson, §4). Plan: one narrow projection
    * scan, all per-row codegen'd higher-order expressions, ZERO
    * shuffles — embarrassingly parallel at any corpus size.
    */
  def quantizeInt8(spark: SparkSession, dir: String): DataFrame = {
    val m = aggregate(col("v"), lit(0.0),
      (a, x) => greatest(a, abs(x.cast("double"))))
    val q = transform(col("v"),
      x => floor(x.cast("double") * lit(127.0) / col("m") + lit(0.5)))
    vecs(spark, dir)
      .withColumn("m", m)
      .filter(col("m") > 0.0)
      .withColumn("q", q)
      .select(col("vec_id"),
        floor(col("m") * lit(1000000.0) + lit(0.5)).cast("long").as("scale_um"),
        aggregate(col("q"), lit(0L), (a, x) => a + x).as("sum_q"),
        aggregate(col("q"), lit(0L), (a, x) => a + x * x).as("sum_q2"),
        size(filter(col("q"), x => abs(x) === 127L)).cast("long").as("n_sat"))
      .orderBy("vec_id")
  }

  /** Per-(label, dimension) moment census — the feature-standardization
    * (whitening / z-score) precursor and per-class prototype in one
    * pass: for every class and coordinate, n, Σx, Σx², min, max over
    * ⌊x·10⁶+0.5⌋ scaled-integer components, so every aggregate is an
    * order-free BIGINT sum (no FP accumulation to diverge between
    * engines). Plan: posexplode to (label, dim) keys — the 64× row
    * fanout never reaches the shuffle because partial aggregation
    * compacts each partition to its ≤ labels×dim group cells first;
    * one narrow keyed shuffle of constant-bounded cardinality.
    * Σx² bound: (max|x|·10⁶)² ≈ 2.5e13 per element keeps the BIGINT
    * sum safe to ~3.7e5 rows per (label, dim) cell; at a corpus where
    * cells exceed that, drop the scale to 10⁴ (documented contract).
    */
  def dimMoments(spark: SparkSession, dir: String): DataFrame =
    vecs(spark, dir)
      .select(col("label"), posexplode(col("v")).as(Seq("dim", "x")))
      .select(col("label"), col("dim").cast("long").as("dim"),
        floor(col("x").cast("double") * lit(1000000.0) + lit(0.5))
          .cast("long").as("xu"))
      .groupBy("label", "dim")
      .agg(count(lit(1)).as("n"),
        sum(col("xu")).as("sum_u"),
        sum(col("xu") * col("xu")).as("sumsq_u"),
        min(col("xu")).as("min_u"),
        max(col("xu")).as("max_u"))
      .orderBy("label", "dim")

  /** Matryoshka truncation ladder for `vec_matryoshka_census`,
    * derived from the corpus width (the r13 dimension-rehearsal
    * rule): powers 8·2^k up to dim, plus dim itself — {8,16,32,64}
    * at the stock dim 64. THE function is the contract; the former
    * `MrlPrefixes = Seq(8,16,32,64)` constant was stale the moment
    * the census went width-derived (ADVICE r13 #1).
    */
  def mrlLadder(dim: Int): Seq[Int] =
    (Iterator.iterate(8)(_ * 2).takeWhile(_ <= dim).toSeq :+ dim)
      .distinct.sorted

  /** MRL quantization scale: coarser than dimMoments' 10⁶ so every
    * intermediate stays in BIGINT — per-vector energy ≤ 64·(10⁴)² ≈
    * 6.4e9, and 2·e·10⁶ ≈ 1.3e16 << 2⁶³. The quantized definition IS
    * the contract (identical on both engines); a census tolerates the
    * ~2e-4 relative quantization error.
    */
  val MrlScale = 10000.0

  /** Matryoshka truncation-energy census — the planning input for
    * embedding truncation (MRL-style serving): per label and prefix
    * length P in the data-derived ladder (8·2^k up to dim, plus dim
    * itself — {8,16,32,64} on the stock corpus), how much of each
    * vector's squared norm the first P dims retain. Per-vector
    * energies come from `aggregate` over the P-prefixes inside ONE
    * scan projection (the overlapping prefixes cost ≤ 2·dim element
    * visits total — the ladder is geometric — no explode, no
    * per-vector shuffle); fractions are HALF_UP ppm integers; the
    * only shuffle is the partial-agged (label, prefix) cell grid.
    * Per-label stats are the MEAN/min/max of per-vector fractions —
    * integer sums of bounded ppm values, order-free at any corpus
    * size (unlike a fraction-of-summed-energies, whose numerator
    * ×10⁶ would overflow BIGINT on a large corpus).
    */
  def matryoshkaCensus(spark: SparkSession, dir: String): DataFrame = {
    def segEnergy(sliceExpr: String): String =
      s"aggregate($sliceExpr, CAST(0 AS BIGINT), (acc, x) -> acc + " +
        s"CAST(floor(CAST(x AS DOUBLE) * $MrlScale + 0.5) AS BIGINT) * " +
        s"CAST(floor(CAST(x AS DOUBLE) * $MrlScale + 0.5) AS BIGINT))"
    val e = vecs(spark, dir)
    // Prefix ladder derived from the corpus's OWN width (the r13
    // dimension-rehearsal fix: the ladder was pinned at {8,16,32,64}
    // and the "total" energy stopped at component 64, so a dim-512
    // corpus reported prefix shares of its first eighth): powers
    // 8·2^k up to dim, plus dim itself; one constant-size driver
    // lookup (the Lloyd-seed discipline). At dim 64 the ladder and
    // every output row are unchanged.
    val dim = uniformDim(e).getOrElse(64)
    val ladder = mrlLadder(dim)
    // et IS the ladder's last entry (prefix = dim spans the whole
    // vector) — alias it instead of aggregating the same value twice
    val perVec = e.select(
      col("label") +:
        ladder.map(p => expr(segEnergy(s"slice(v, 1, $p)")).as(s"e$p")): _*)
      .withColumn("et", col(s"e$dim"))
    perVec
      .select(col("label"), col("et"),
        explode(map(
          ladder.flatMap(p => Seq(lit(p.toLong), col(s"e$p"))): _*))
          .as(Seq("prefix_dim", "ep")))
      .withColumn("frac_ppm",
        expr("(2*ep*1000000 + greatest(et, 1)) div (2*greatest(et, 1))"))
      .groupBy("label", "prefix_dim")
      .agg(count(lit(1)).as("n_vecs"),
        expr("(2*sum(frac_ppm) + count(1)) div (2*count(1))")
          .as("avg_frac_ppm"),
        min(col("frac_ppm")).as("min_frac_ppm"),
        max(col("frac_ppm")).as("max_frac_ppm"))
      .orderBy("label", "prefix_dim")
  }

  val PcaIters = 6

  /** Top principal component of the embedding corpus by power
    * iteration over the distributed Gram matrix — the anisotropy /
    * "dominant direction" diagnostic (all-but-the-top) an embedding
    * pipeline runs before whitening. Plan: ONE bounded-buffer Gram
    * aggregator pass (shuffle = partitions × dim(dim+1)/2 doubles,
    * corpus-size-free), then the entire eigensolve runs on the DRIVER
    * over the collected dim×dim matrix — 64×64 doubles, the same
    * constant-size collect contract as the k-means centroids — and the
    * unit eigenvector re-enters the plan as a broadcast literal for a
    * ZERO-shuffle projection scan (native `vec_dot` codegen).
    * Exactness: the Gram cells round to 6 on both engines (the
    * vec_gram_matrix contract); from there every op in the iteration —
    * ascending-index dot, sqrt, per-element divide — is an
    * exactly-rounded IEEE double op mirrored by DuckDB's
    * `list_inner_product`/`sqrt` expression tree, so NO intermediate
    * rounding is needed and the fixpoint is bit-identical by
    * construction. Projections land as ⌊p·10⁶+0.5⌋ BIGINTs, so the
    * per-label census is order-free integer sums.
    */
  def pcaComponent(spark: SparkSession, dir: String): (Array[Double], Double) = {
    val tri = vecs(spark, dir)
      .transform(guardGramWidth)
      .select(graft.functions.Gram.gram(GramDim)(col("v")).as("g"))
      .head().getSeq[Double](0).toArray
    // mirror the upper triangle; round like the vec_gram_matrix cells
    // (Spark round == BigDecimal.valueOf shortest-decimal HALF_UP)
    val G = Array.ofDim[Double](GramDim, GramDim)
    var k = 0
    var i = 0
    while (i < GramDim) {
      var j = i
      while (j < GramDim) {
        val r = java.math.BigDecimal.valueOf(tri(k))
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
        G(i)(j) = r; G(j)(i) = r; k += 1; j += 1
      }
      i += 1
    }
    // u0 = 1/8 in every coordinate (exact power of two); a real Gram of
    // float embeddings is PSD with a positive dominant eigenvalue, so
    // the norm never vanishes
    var u = Array.fill(GramDim)(0.125)
    var lambda = 0.0
    for (_ <- 1 to PcaIters) {
      val w = G.map(row => ddot(row, u))
      lambda = math.sqrt(ddot(w, w))
      u = w.map(_ / lambda)
    }
    (u, lambda)
  }

  def pcaTopComponent(spark: SparkSession, dir: String): DataFrame = {
    val (u, lambda) = pcaComponent(spark, dir)
    val lambdaE6 = math.floor(lambda * 1e6 + 0.5).toLong
    vecs(spark, dir)
      .select(col("label"),
        floor(dot(typedLit(u.toSeq), col("v")) * lit(1000000.0) + lit(0.5))
          .cast("long").as("pu"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("pu")).as("sum_pu"),
        sum(abs(col("pu"))).as("sum_abs_pu"),
        min(col("pu")).as("min_pu"),
        max(col("pu")).as("max_pu"))
      .withColumn("lambda_e6", lit(lambdaE6))
      .orderBy("label")
  }

  val RangeTau = 0.3

  /** Range search — the fixed-radius dual of top-k: for each query,
    * count (and summarize) ALL corpus neighbors with cosine ≥ τ.
    * Broadcast query set × one corpus scan; the τ filter runs inside
    * the scan's codegen pipeline, so only in-range rows reach the
    * tiny per-query aggregate (≤ NQueries groups, map-side partials).
    * No window, no per-pair materialization — the shape that survives
    * any corpus size.
    */
  def rangeCount(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), cosine(col("qv"), col("v")).as("cos_raw"))
      // τ cut on the ROUNDED cosine (the ev_anomaly rule): a boundary
      // row can then only flip if both engines' rounded values differ,
      // which the 6-decimal round precludes at ulp scale
      .filter(round(col("cos_raw"), 6) >= RangeTau)
      .groupBy("q_id")
      .agg(count(lit(1)).as("n_neighbors"),
        round(avg(col("cos_raw")), 6).as("avg_cos"),
        round(max(col("cos_raw")), 6).as("max_cos"))
      .orderBy("q_id")
  }

  /** Embedding-value histogram: fixed 20-bin census of every
    * coordinate value per label — the distribution-drift /
    * quantization-calibration check (clip range choice, outlier mass)
    * run before int8 casting a corpus. Bin = clamped
    * floor((x+0.5)/0.05): float→double widening is exact and both
    * engines run the same IEEE double ops, so bin ids are
    * deterministic. Scale shape: posexplode feeds a partial agg on
    * the tiny (label × 20) key grid IN THE SAME STAGE, so each input
    * split ships ≤ |labels|·20 rows to the one shuffle — the explode
    * never hits the wire.
    */
  def valueHistogram(spark: SparkSession, dir: String): DataFrame =
    vecs(spark, dir)
      .select(col("label"), explode(col("v")).as("x"))
      .select(col("label"),
        least(greatest(floor((col("x").cast("double") + 0.5) / 0.05), lit(0.0)),
          lit(19.0)).cast("long").as("bin"))
      .groupBy("label", "bin")
      .agg(count(lit(1)).as("n"))
      .orderBy("label", "bin")

  /** Component quantization scale for `vec_label_cosine` — coarse
    * (10³) so the per-(label, dim) SUM stays well inside BIGINT at any
    * corpus size; the HALF_UP mean then re-scales to 10⁶.
    */
  val LcScale = 1000.0

  /** Label-centroid cosine matrix — the class-separation census
    * behind semantic-dedup thresholds and embedding-space health
    * checks: cosine between every pair of per-label mean vectors.
    * The scale path is the point: per-(label, dim) integer sums
    * (posexplode + partial-agged keyed shuffle, the `vec_dim_moments`
    * shape) reduce the corpus to a labels×dim grid, and the centroid
    * component becomes a CORPUS-SIZE-INVARIANT ±5·10⁶-bounded HALF_UP
    * integer, so the pairwise dot (≤ 64·(5·10⁶)² ≈ 1.6·10¹⁵) can
    * never overflow no matter how many rows fed the mean — summing
    * first and dotting the raw BIGINT sums would blow 2⁶³ at ~10⁵
    * rows per label. The final cosine is one double division of
    * exact integers (deterministic IEEE on both engines), shipped as
    * a ppm integer. Everything past the first agg is a ≤(labels·dim)²
    * broadcast-sized self-join.
    */
  def labelCosine(spark: SparkSession, dir: String): DataFrame = {
    val cent = vecs(spark, dir)
      .select(col("label").cast("long").as("label"),
        posexplode(col("v")).as(Seq("dim", "x")))
      .select(col("label"), col("dim"),
        floor(col("x").cast("double") * lit(LcScale) + lit(0.5))
          .cast("long").as("xu"))
      .groupBy("label", "dim")
      .agg(count(lit(1)).as("n"), sum(col("xu")).as("su"))
      .select(col("label"), col("dim"),
        expr("(2*su*1000 + n) div (2*n)").as("cu"))
    val pairs = cent.as("a").join(cent.as("b"),
        col("a.dim") === col("b.dim") && col("a.label") < col("b.label"))
      .groupBy(col("a.label").as("la"), col("b.label").as("lb"))
      .agg(sum(col("a.cu") * col("b.cu")).as("dot"),
        sum(col("a.cu") * col("a.cu")).as("na2"),
        sum(col("b.cu") * col("b.cu")).as("nb2"))
    pairs.select(col("la"), col("lb"),
      floor(col("dot").cast("double") /
        (sqrt(col("na2").cast("double")) * sqrt(col("nb2").cast("double"))) *
        lit(1000000.0) + lit(0.5)).cast("long").as("cos_ppm"))
      .orderBy("la", "lb")
  }

  /** Hyperplane count for `vec_bit_balance`. */
  val BalanceBits = 16

  /** Closed-form pseudo-random hyperplane component — replayable in
    * SQL at ANY embedding width (the r13 dimension-rehearsal fix: the
    * old fixed-seed Gaussian table was 64 wide, and `vec_dot`
    * silently truncates to the shorter operand, so a dim-512 corpus
    * was signed over its first 64 components with no failure):
    * plane(h)[j] = (((h·73 + j·127) · 2654435761) mod 2001 − 1000)
    * / 1000 ∈ [−1, 1] — integer-exact on both engines, then ONE exact
    * double divide, so the planes are bit-identical by construction
    * and scale with `size(v)` instead of a minted table.
    */
  private[operators] def balancePlaneVal(h: Int, j: Int): Double =
    (((h.toLong * 73L + j.toLong * 127L) * 2654435761L) % 2001L - 1000L)
      .toDouble / 1000.0

  /** The plane as a LITERAL array at the corpus's (uniform, checked)
    * width: the closed form evaluates ONCE on the driver instead of
    * per row (a sequence+transform build would allocate 16·dim cells
    * on every row of the scan; review finding, r13) — integer-exact
    * then one exact double divide, so the literals are bit-identical
    * to the oracle's list_transform replay.
    */
  private def balancePlane(h: Int, dim: Int): Column =
    if (dim == 0) typedlit(Array.empty[Double])
    else array((0 until dim).map(j => lit(balancePlaneVal(h, j))): _*)

  /** Sign-bit balance census over the LSH hyperplane family — the
    * health check for hyperplane LSH (a bit far from 50/50 carries
    * little entropy, and a skewed family degrades bucket balance and
    * recall): for each of 16 seeded hyperplanes, the share of corpus
    * vectors on the positive side. The 16× per-vector fanout is an
    * in-stage array explode collapsed by partial aggregation to 16
    * cells before the only shuffle (the `vec_value_histogram` shape);
    * the dot runs in the native codegen'd `vec_dot`, bit-identical to
    * the oracle's `list_inner_product` (§4 PCA precedent), so even
    * near-zero dots sign identically. Shares as HALF_UP ppm.
    */
  def bitBalance(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.vec_dot
    val dim = uniformDim(vecs(spark, dir)).getOrElse(0)
    val cells = (0 until BalanceBits).map { h =>
      struct(lit(h.toLong).as("bit"),
        (vec_dot(col("v"), balancePlane(h, dim)) >= 0)
          .cast("long").as("one"))
    }
    vecs(spark, dir)
      .select(explode(array(cells: _*)).as("s"))
      .select(col("s.bit").as("bit"), col("s.one").as("one"))
      .groupBy("bit")
      .agg(count(lit(1)).as("n_vecs"), sum(col("one")).as("n_ones"))
      .select(col("bit"), col("n_vecs"), col("n_ones"),
        expr("(2*n_ones*1000000 + n_vecs) div (2*n_vecs)").as("ones_ppm"))
      .orderBy("bit")
  }

  private def bitBalanceOracle: String =
    s"""WITH e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
       |b AS (
       |  SELECT h.range AS bit,
       |    CASE WHEN list_inner_product(v,
       |      list_transform(range(0, len(v)),
       |        j -> (((h.range*73 + j*127) * 2654435761) % 2001 - 1000)
       |             / 1000.0)) >= 0
       |    THEN 1 ELSE 0 END AS one
       |  FROM e, range(0, $BalanceBits) h)
       |SELECT bit, count(*) AS n_vecs, CAST(sum(one) AS BIGINT) AS n_ones,
       |  (2*CAST(sum(one) AS BIGINT)*1000000 + count(*)) // (2*count(*))
       |    AS ones_ppm
       |FROM b GROUP BY bit ORDER BY bit""".stripMargin

  /** Sample budget for `vec_pair_distance_hist` (a conf knob: the
    * sampled pair count is ≤ PdhSample², constant at any corpus
    * size).
    */
  val PdhSample = 256L

  /** Pairwise cosine-distance histogram on a deterministic sample —
    * the distance-concentration / hubness diagnostic that decides
    * whether ANN recall targets are even achievable (concentrated
    * distances ⇒ LSH and IVF both degrade): a count-derived MODULUS
    * sample of ≈PdhSample vectors (the IVF-PQ sampling rule — a
    * one-line predicate on both engines, stable under corpus
    * growth), all C(s, 2) pairs via one broadcast self-join, cosine
    * in the 6-rounded native expression, 20 equal bins over [−1, 1].
    * Everything after the sample filter is constant-bounded work —
    * the corpus contributes one pushed-down scan.
    */
  def pairDistanceHist(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.vec_dot
    val e = vecs(spark, dir)
    val n = e.agg(count(lit(1)).as("n_vecs"))
    val s = e.crossJoin(broadcast(n))
      .filter(pmod(col("vec_id"),
        greatest(expr(s"n_vecs div $PdhSample"), lit(1L))) === 0L)
      .select(col("vec_id"), col("v"))
    def cos(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      round(vec_dot(a, b) /
        (sqrt(vec_dot(a, a)) * sqrt(vec_dot(b, b))), 6)
    s.as("a").join(broadcast(s.as("b")), col("a.vec_id") < col("b.vec_id"))
      .select(cos(col("a.v"), col("b.v")).as("c"))
      // bin = clamped floor((c+1)/0.1): exact on 6-rounded cosines
      .select(least(floor((col("c") + lit(1.0)) / lit(0.1)), lit(19.0))
        .cast("long").as("bin"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("bin")
  }

  /** Mean-direction concentration census — the von-Mises-Fisher-ish
    * anisotropy check ("is the embedding cloud a cone?" — the
    * all-but-the-top / outlier-dimension pathology at corpus level):
    * cosine of every vector to the CORPUS mean direction, banded
    * into the 20-bin [−1, 1] histogram. The centroid is the
    * labelCosine trick globalized: per-dim integer sums → HALF_UP
    * ±5·10⁶-bounded component integers, corpus-size-invariant, then
    * COLLECTED as 64 longs (the k-means constant-size driver
    * contract) and re-broadcast as an array literal so the scoring
    * pass is a zero-join codegen projection. The oracle rebuilds the
    * same integers relationally and ORDERS its list aggregation by
    * dim, making `list_inner_product` bitwise-identical to
    * `vec_dot` on the literal.
    */
  def meanDirectionCensus(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.vec_dot
    val cu = vecs(spark, dir)
      .select(posexplode(col("v")).as(Seq("dim", "x")))
      .select(col("dim"),
        floor(col("x").cast("double") * lit(LcScale) + lit(0.5))
          .cast("long").as("xu"))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"), sum(col("xu")).as("su"))
      .select(col("dim"), expr("(2*su*1000 + n) div (2*n)").as("cu"))
      .orderBy("dim")
      .collect() // 64 longs — the constant-size driver contract
      .map(r => r.getAs[Long]("cu").toDouble)
    // typed literal so the empty-input case still passes DotProduct's
    // type check (bare array() is array<null>); with zero rows the
    // expression is never evaluated, only resolved
    val cl =
      if (cu.isEmpty) typedlit(Array.empty[Double])
      else array(cu.toIndexedSeq.map(lit): _*)
    vecs(spark, dir)
      .select(round(vec_dot(col("v"), cl) /
        (sqrt(vec_dot(col("v"), col("v"))) * sqrt(vec_dot(cl, cl))), 6).as("c"))
      .select(least(floor((col("c") + lit(1.0)) / lit(0.1)), lit(19.0))
        .cast("long").as("bin"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_vecs"))
      .orderBy("bin")
  }

  /** One-way ANOVA F statistic per embedding dimension — "which dims
    * actually separate the labels?", the feature-discriminance census
    * behind probe classifiers and dim-pruning decisions. Values are
    * ×1000-quantized to integers, and the classic decomposition
    * SSB = Σ_l S_l²/n_l − S²/n is kept ORDER-FREE by e6-quantizing
    * each per-label term with the §4 HALF_UP identity before the
    * integer sum (an FP Σ over labels would accumulate in
    * engine-specific order); SSW = ΣX²·10⁶ − Σ_l ⌈S_l²·10⁶/n_l⌋.
    * F×1000 is then one pure-integer HALF_UP division. Shuffle: one
    * posexplode agg onto dim×label keys (640 rows), then a dims-sized
    * rollup. Integer bounds hold while S_l² · 2·10⁶ < 2⁶³ (≈ 4·10⁷
    * quantized mass per label-dim — re-scale the quantizer beyond).
    */
  def anovaF(spark: SparkSession, dir: String): DataFrame = {
    val perLbl = vecs(spark, dir)
      .select(col("label"), posexplode(col("v")).as(Seq("dim", "x")))
      .select(col("label"), col("dim"),
        floor(col("x").cast("double") * lit(LcScale) + lit(0.5))
          .cast("long").as("xu"))
      .groupBy("dim", "label")
      .agg(count(lit(1)).as("n_l"), sum(col("xu")).as("s_l"),
        sum(col("xu") * col("xu")).as("ss_l"))
      // e6-quantized per-label between-class term, exact and order-free
      .withColumn("b_l", expr("(2*s_l*s_l*1000000 + n_l) div (2*n_l)"))
    perLbl.groupBy("dim")
      .agg(sum(col("n_l")).as("n"), count(lit(1)).as("k"),
        sum(col("s_l")).as("s"), sum(col("ss_l")).as("ssx"),
        sum(col("b_l")).as("b"))
      .select(col("dim").cast("long").as("dim"), col("n"), col("k"),
        // clamp: per-term quantization can push a true-zero SSB a few
        // units negative, where Spark div (truncate) and DuckDB //
        // (floor) disagree — the §4 identity needs non-negative p
        greatest(col("b") - expr("(2*s*s*1000000 + n) div (2*n)"), lit(0L))
          .as("ssb_e6"),
        (col("ssx") * lit(1000000L) - col("b")).as("ssw_e6"))
      // ssw can be quantization-pushed to <= 0 (and k = 1 zeroes the
      // denominator): F is undefined there — NULL on BOTH engines, so
      // the ANSI-div-vs-floor disagreement on negatives never fires
      // the final F product is the one dim-scaled term that can leave
      // BIGINT (ssb_e6 grows with per-dim mass; the r13 dimension
      // rehearsal overflowed it at dim 512): widen to DECIMAL(38,0) /
      // HUGEINT for the product+divide, BIGINT result (the
      // wc_betweenness σ discipline)
      .withColumn("f_x1000",
        expr("""CASE WHEN ssw_e6 <= 0 OR k <= 1 THEN NULL
               ELSE CAST((2*CAST(ssb_e6 AS DECIMAL(38,0))*(n - k)*1000
                          + CAST(ssw_e6 AS DECIMAL(38,0))*(k - 1))
                      div (2*CAST(ssw_e6 AS DECIMAL(38,0))*(k - 1))
                    AS BIGINT) END"""))
      .orderBy("dim")
  }

  /** Triplet-margin audit of the embedding space — the metric-learning
    * acceptance test (is same-label closer than different-label?):
    * deterministic triplets with anchor a = every vector, positive =
    * the next same-label vector by id, negative = the next vector of
    * the NEXT label class by id (both picks are min-id theta-joins
    * inside label blocks — the `dd_embed_cosine` blocking shape, no
    * windows); violation counted at margins 0 / 0.05 / 0.10 on
    * ROUND-6 cosines compared in exact 1e6-units integers, so the
    * margin test cannot straddle an FP boundary differently per
    * engine. Output: one census row — triplets, violations per
    * margin, violation ppm at margin 0.
    */
  def tripletAudit(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.vec_dot
    val e = vecs(spark, dir).select(col("vec_id"), col("label"), col("v"))
    def nextBy(partnerLabel: Column, tag: String): DataFrame =
      e.as("a").join(e.as("b"),
          col("b.label") === partnerLabel && col("b.vec_id") > col("a.vec_id"))
        .groupBy(col("a.vec_id").as("vec_id"))
        .agg(min(col("b.vec_id")).as(s"${tag}_id"))
    val pos = nextBy(col("a.label"), "pos")
    val neg = nextBy((col("a.label") + 1) % 10, "neg")
    def cos(x: Column, y: Column): Column =
      round(vec_dot(x, y) /
        (sqrt(vec_dot(x, x)) * sqrt(vec_dot(y, y))), 6)
    val trip = e.select(col("vec_id"), col("v").as("va"))
      .join(pos, Seq("vec_id")).join(neg, Seq("vec_id"))
      .join(e.select(col("vec_id").as("pos_id"), col("v").as("vp")), Seq("pos_id"))
      .join(e.select(col("vec_id").as("neg_id"), col("v").as("vn")), Seq("neg_id"))
      // floor(x*1e6 + 0.5): Spark's double→long cast truncates while
      // DuckDB's rounds, so the quantizer must be explicit (§4)
      .select(
        floor(cos(col("va"), col("vp")) * 1000000 + 0.5).cast("long").as("cap"),
        floor(cos(col("va"), col("vn")) * 1000000 + 0.5).cast("long").as("can"))
    trip.agg(count(lit(1)).as("n_triplets"),
        count(when(col("cap") < col("can"), 1)).as("viol_m0"),
        count(when(col("cap") < col("can") + 50000L, 1)).as("viol_m05"),
        count(when(col("cap") < col("can") + 100000L, 1)).as("viol_m10"))
      .withColumn("viol_ppm",
        expr("(2*viol_m0*1000000 + n_triplets) div (2*n_triplets)"))
  }

  /** Diagonal-Mahalanobis outlier census — the embedding-space data
    * quality gate (mis-embedded, truncated, or off-manifold vectors)
    * at corpus scale: per dim, GLOBAL (n, Σx, Σx²) on the e3-quantized
    * grid; per vector, the z²-sum against those dim stats with every
    * ratio cross-multiplied exact — dev = n·xu − Σx and
    * n²var = n·Σx² − (Σx)² share the n² scale, so z²×100 per dim is
    * ONE §4 HALF_UP division of non-negative integers (identical div
    * and // semantics; constant dims contribute 0). A vector is an
    * outlier when its mean per-dim z² exceeds 4. Shape: one explode
    * pass to the dims-sized stats grid (broadcast back, 64 rows), one
    * explode+join+per-vec agg pass, then a labels-sized census — no
    * windows, no per-pair work. Integer bound: |dev|²·200 < 2⁶³ holds
    * to ~2·10⁵ vectors at e3 quantization; coarsen the quantizer
    * beyond (the `vec_anova_f` discipline).
    */
  val OutlierZ2x100 = 400L
  def outlierCensus(spark: SparkSession, dir: String): DataFrame = {
    val xu = vecs(spark, dir)
      .select(col("vec_id"), col("label"), posexplode(col("v")).as(Seq("dim", "x")))
      .select(col("vec_id"), col("label"), col("dim"),
        floor(col("x").cast("double") * lit(LcScale) + lit(0.5))
          .cast("long").as("xu"))
    val dimStats = xu.groupBy("dim")
      .agg(count(lit(1)).as("n"), sum(col("xu")).as("s"),
        sum(col("xu") * col("xu")).as("ssx"))
    val scored = xu.join(broadcast(dimStats), Seq("dim"))
      .select(col("vec_id"), col("label"),
        (col("n") * col("xu") - col("s")).as("dev"),
        (col("n") * col("ssx") - col("s") * col("s")).as("varn"))
      .select(col("vec_id"), col("label"),
        expr("""CASE WHEN varn = 0 THEN 0
               ELSE (2*dev*dev*100 + varn) div (2*varn) END""").as("z2_x100"))
      .groupBy("vec_id", "label")
      .agg(sum(col("z2_x100")).as("score_x100"), count(lit(1)).as("dims"))
    scored.groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("score_x100") > col("dims") * OutlierZ2x100, 1L)
          .otherwise(0L)).as("n_outliers"),
        max(col("score_x100")).as("max_score_x100"))
      .orderBy("label")
  }

  /** Query-sample budget for the hubness census (count-derived
    * modulus sample, the `vec_pair_distance_hist` discipline — a
    * FIXED number of probe queries at any corpus size, so the scoring
    * pass stays linear in the corpus).
    */
  val HubSample = 64L

  /** Hubness census — the high-dimensional pathology check ANN
    * indexes care about most (Radovanović et al.: in high dimensions
    * a few "hub" points appear in an outsized share of OTHER points'
    * k-NN lists, distorting retrieval and dedup alike): for a
    * count-derived sample of probe queries, every corpus vector's
    * reverse-k-occurrence count (how many probes list it in their
    * top-k), rolled into the occurrence histogram including the
    * never-retrieved zero class. Heavy right tail = hubs; a large
    * zero class = anti-hubs. Plan: queries broadcast (fixed-size
    * sample), one linear scoring scan, the bounded-heap `TopKByScore`
    * aggregator (≤ k rows per partition reach the shuffle — no
    * query-partitioned window), and two tiny aggs over ≤ sample·k
    * hit rows. Ranking order is RAW cosine with the ascending-id tie
    * break on both engines.
    */
  def hubnessCensus(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val n = e.agg(count(lit(1)).as("n_vecs"))
    val q = e.crossJoin(broadcast(n))
      .filter(pmod(col("vec_id"),
        greatest(expr(s"n_vecs div $HubSample"), lit(1L))) === 0L)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val topk = graft.functions.TopK.topKByScore(TopK)
    val hits = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), cosine(col("qv"), col("v")).as("score"), col("vec_id"))
      .groupBy("q_id")
      .agg(topk(col("score"), col("vec_id")).as("top"))
      .select(explode(col("top")).as("s"))
      .groupBy(col("s.id").as("hit_id"))
      .agg(count(lit(1)).as("n_hits"))
    val nonzero = hits.agg(count(lit(1)).as("nz"))
    val zeroRow = n.crossJoin(broadcast(nonzero))
      .select(lit(0L).as("n_hits"), (col("n_vecs") - col("nz")).as("n_vectors"))
    hits.groupBy("n_hits").agg(count(lit(1)).as("n_vectors"))
      .unionByName(zeroRow)
      .filter(col("n_vectors") > 0)
      .orderBy("n_hits")
  }

  /** Probe budgets measured by `ann_recall_curve`. */
  val RecallProbes = Seq(1L, 2L, 4L, 8L)

  /** IVF recall curve — THE index-tuning artifact an ANN deployment
    * reads before picking nprobe: recall@k of the IVF pipeline vs
    * brute force at probe budgets 1/2/4/8, as mean hit ppm over the
    * query set. Uses the modulus-sampled centroids (the
    * `ann_ivf_balance` construction, chosen so DuckDB can replay the
    * sampling exactly); assignment is the map-side max_by agg; each
    * budget's candidate stream flows through the bounded-heap
    * `TopKByScore` — four branches share ONE materialized assignment,
    * so the corpus is scanned once, not per budget. Recall counts
    * membership in the brute-force top-k under the identical
    * (raw-cosine DESC, id ASC) order, so the curve is exact, not
    * estimated — both engines derive it from the same deterministic
    * index.
    */
  def recallCurve(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir).select(col("vec_id"), col("v"))
    val n = e.agg(count(lit(1)).as("n_vecs"))
    val centroids = e.crossJoin(broadcast(n))
      .filter(pmod(col("vec_id"),
        greatest(expr("n_vecs div greatest(CAST(ceil(sqrt(n_vecs)) AS BIGINT), 1)"),
          lit(1L))) === 0L)
      .select(col("vec_id").as("cell_id"), col("v").as("cv"))
    // centroids stay a live plan (not truncated): they are one cheap
    // scan+filter, and the crank window below must SEE the count
    // aggregate in its child for the PlanSpec reduced-input gate —
    // the corpus-scaled assignment below is the sharing that matters
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val topk = graft.functions.TopK.topKByScore(TopK)
    val brute = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), cosine(col("qv"), col("v")).as("score"), col("vec_id"))
      .groupBy("q_id").agg(topk(col("score"), col("vec_id")).as("top"))
      .select(col("q_id"), explode(col("top.id")).as("vec_id"),
        lit(1L).as("hit"))
    val assigned = e.join(broadcast(centroids), lit(true))
      .select(col("vec_id"), col("v"), col("cell_id"),
        cosine(col("v"), col("cv")).as("cell_cos"))
      .groupBy("vec_id")
      .agg(max_by(col("cell_id"), struct(col("cell_cos"), -col("cell_id")))
        .as("cell_id"), first(col("v")).as("v"))
      .truncated
    val qCells = q.join(broadcast(centroids), lit(true))
      .select(col("q_id"), col("qv"), col("cell_id"),
        cosine(col("qv"), col("cv")).as("cell_cos"))
      .withColumn("crank", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("cell_cos"), asc("cell_id"))))
      .filter(col("crank") <= RecallProbes.max)
      .select(col("q_id"), col("qv"), col("cell_id"), col("crank"))
    // ONE candidate join at the maximum probe budget, carrying the
    // cell rank: every probe budget p's candidate set is exactly the
    // crank ≤ p subset, so the per-budget branches reduce to cheap
    // filters + per-query heaps over the materialized scored
    // candidates — r15 re-ran the corpus-scale assigned join once per
    // budget (|RecallProbes| corpus joins per call).
    val scoredMax = qCells.join(assigned, Seq("cell_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("crank"),
        cosine(col("qv"), col("v")).as("score"), col("vec_id"))
      .truncated
    val branches = RecallProbes.map { p =>
      scoredMax.filter(col("crank") <= p)
        .groupBy("q_id").agg(topk(col("score"), col("vec_id")).as("top"))
        .select(lit(p).as("probes"), col("q_id"),
          explode(col("top.id")).as("vec_id"))
    }.reduce(_ unionByName _)
    val nq = q.agg(count(lit(1)).as("n_queries"))
    branches.join(brute, Seq("q_id", "vec_id"), "left")
      .groupBy("probes")
      .agg(count(when(col("hit") === 1L, 1)).as("n_hits"))
      .crossJoin(broadcast(nq))
      .select(col("probes"), col("n_queries"), col("n_hits"),
        expr(s"(2*n_hits*1000000 + n_queries*$TopK) div (2*n_queries*$TopK)")
          .as("recall_ppm"))
      .orderBy("probes")
  }

  val NdK = 8
  val NdRounds = 2
  val NdStep = 997L

  /** NN-descent kNN-GRAPH construction (Dong et al., WWW'11) — the
    * graph-ANN build path that complements the IVF/PQ serving ops:
    * HNSW-family indexes and graph-based dedup both start from an
    * approximate kNN graph, and NN-descent is THE distributed way to
    * build one ("a neighbor of a neighbor is likely a neighbor").
    *   init: K stride pseudo-neighbors per vector ((id + j·NdStep)
    *         mod n — count-derived, replayable) UNION edges to the 2K
    *         lowest-id REPRESENTATIVES of the vector's IVF cell
    *         (modulus-sampled √n centroids, max-cosine assignment —
    *         the ivfpq discipline): the stride part guarantees
    *         cross-structure reach, the cell part seeds locality, and
    *         per-node init fanout stays ≤ 3K (linear total — never
    *         the n^1.5 all-cell-pairs form);
    *   round: adjacency = graph ∪ reverse(graph), capped at 2K per
    *         node by (score, id) — the bounded reverse sample that
    *         keeps a hub's fanout from going quadratic (the paper's
    *         ρ-sample, made deterministic); LOCAL JOIN mints
    *         candidate pairs (u,w) for every shared pivot; score,
    *         union the current graph, bounded-heap top-K per node.
    * Every selection orders by (cosine desc, id) on bit-identical
    * doubles (the fixed-order dot-product discipline of the ann
    * family), so the DuckDB oracle replays init + both rounds
    * edge-for-edge — the FULL final graph is hash-checked, not a
    * recall summary. Scale shape: candidate volume is n·(2K)² per
    * round regardless of corpus size, partial top-K caps every map
    * partition at K before the exchange, rounds truncate lineage;
    * nothing all-pairs anywhere.
    */
  def nndescentKnn(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir).select(col("vec_id"), col("v"))
    val topk = graft.functions.TopK.topKByScore(NdK)
    knnGraphOf(e).groupBy("vec_id").agg(topk(col("cos"), col("nbr")).as("t"))
      .select(col("vec_id"), posexplode(col("t")).as(Seq("pos", "s")))
      .select(col("vec_id"), (col("pos") + 1).cast("long").as("rank"),
        col("s.id").as("nbr"), round(col("s.score"), 4).as("cosine"))
      .orderBy("vec_id", "rank")
  }

  /** The NN-descent build extracted for reuse: `ann_nndescent_knn`
    * formats it, `stageKnnGraph` persists it for the graph serve
    * path (`ann_graph_probe`). Returns (vec_id, nbr, cos), ≤ NdK
    * neighbors per node.
    */
  private[graft] def knnGraphOf(e: DataFrame): DataFrame = {
    val topk = graft.functions.TopK.topKByScore(NdK)
    val cap = graft.functions.TopK.topKByScore(2 * NdK)
    def score(edges: DataFrame): DataFrame = edges
      .join(e, Seq("vec_id"))
      .join(e.select(col("vec_id").as("nbr"), col("v").as("nv")), Seq("nbr"))
      .select(col("vec_id"), col("nbr"), cosine(col("v"), col("nv")).as("cos"))
    def select(edges: DataFrame, k: org.apache.spark.sql.expressions.UserDefinedFunction) =
      edges.groupBy("vec_id").agg(k(col("cos"), col("nbr")).as("t"))
        .select(col("vec_id"), explode(col("t")).as("s"))
        .select(col("vec_id"), col("s.id").as("nbr"), col("s.score").as("cos"))
    val n1 = e.agg(count(lit(1)).as("n_vecs"))
    val strideInit = e.select(col("vec_id")).crossJoin(broadcast(n1))
      .select(col("vec_id"),
        explode(transform(sequence(lit(1), lit(NdK)),
          j => pmod(col("vec_id") + j.cast("long") * NdStep, col("n_vecs"))))
          .as("nbr"))
      .filter(col("nbr") =!= col("vec_id"))
    val cents = e.crossJoin(broadcast(n1))
      .filter(pmod(col("vec_id"),
        greatest(expr(
          "n_vecs div greatest(CAST(ceil(sqrt(n_vecs)) AS BIGINT), 1)"),
          lit(1L))) === 0L)
      .select(col("vec_id").as("cell_id"), col("v").as("cv"))
    val assigned = e.join(broadcast(cents), lit(true))
      .select(col("vec_id"), col("cell_id"),
        cosine(col("v"), col("cv")).as("ccos"))
      .groupBy("vec_id")
      .agg(max_by(col("cell_id"), struct(col("ccos"), -col("cell_id")))
        .as("cell_id"))
    val reps = assigned
      .select(col("cell_id"), (-col("vec_id")).cast("double").as("negid"),
        col("vec_id"))
      .groupBy("cell_id").agg(cap(col("negid"), col("vec_id")).as("t"))
      .select(col("cell_id"), explode(col("t")).as("s"))
      .select(col("cell_id"), col("s.id").as("rep"))
    val cellInit = assigned.join(reps, Seq("cell_id"))
      .filter(col("rep") =!= col("vec_id"))
      .select(col("vec_id"), col("rep").as("nbr"))
    val init = strideInit.unionByName(cellInit).distinct()
    var graph = select(score(init), topk).truncated
    for (_ <- 1 to NdRounds) {
      // adj pivots a self-join; measured r16: checkpointing it per
      // round COSTS more than the duplicated aggregation it saves
      // (3.7 → 4.6 s at sf0.1 — the exchange under the self-join is
      // reused by Spark already), so it stays a live plan
      val adj = select(
        graph.unionByName(graph.select(col("nbr").as("vec_id"),
          col("vec_id").as("nbr"), col("cos"))).distinct(),
        cap)
      val cand = adj.select(col("vec_id").as("pv"), col("nbr").as("u"))
        .join(adj.select(col("vec_id").as("pv"), col("nbr").as("w")), Seq("pv"))
        .filter(col("u") =!= col("w"))
        .select(col("u").as("vec_id"), col("w").as("nbr"))
        .distinct()
      graph = select(
        score(cand).unionByName(graph).distinct(), topk).truncated
    }
    graph
  }

  // ---------------------------------------------------------------
  // Persisted kNN graph + greedy beam-search serve (VERDICT r14 #4)
  // ---------------------------------------------------------------

  val KnnGraphRoot = "/root/repo/target/graft_knn_graph"
  val GraphBeam = 8
  val GraphHops = 6
  val GraphProbeK = 4

  /** Persist the SERVE adjacency of the NN-descent graph once per
    * corpus (the `stageIvfIndex` story for the graph-ANN family):
    * the capped SYMMETRIZED neighborhood (graph ∪ reverse, best 2K
    * per node by (cos desc, id) — the same bounded reverse sample
    * the build rounds use), because greedy search over the directed
    * top-K graph alone strands queries whose source is upstream of
    * the entry (measured: rank-1 recall 0.49 directed vs
    * symmetrized+6-hop above the GraphProbeSpec floor). Connectivity
    * only — serve-time scores are query-dependent, so edges carry no
    * payload. Shared manifest-pointer commit protocol.
    */
  def stageKnnGraph(spark: SparkSession, dir: String): String =
    Staging.stagedDir(KnnGraphRoot, dir) { tmp =>
      Memo.timed(knnGraphFillNanos) {
        val g = knnGraphOf(vecs(spark, dir).select(col("vec_id"), col("v")))
        val cap = graft.functions.TopK.topKByScore(2 * NdK)
        g.unionByName(g.select(col("nbr").as("vec_id"),
            col("vec_id").as("nbr"), col("cos"))).distinct()
          .groupBy("vec_id").agg(cap(col("cos"), col("nbr")).as("t"))
          .select(col("vec_id"), explode(col("t")).as("s"))
          .select(col("vec_id"), col("s.id").as("nbr"))
          .write.mode("overwrite").parquet(tmp.resolve("edges").toString)
      }
    }

  /** Graph-ANN SERVING over the persisted kNN graph — the HNSW-family
    * search half `ann_nndescent_knn` was missing (build-only while
    * IVF had probe/persist/stream/compact): deterministic greedy BEAM
    * search from a fixed entry node (the minimum vec_id — one
    * driver-constant row). Each hop expands the current beam's
    * out-edges (a keyed join against the stored graph — |Q|·B·K rows,
    * never corpus-shaped), scores candidates against the query with
    * the fixed-order cosine, and keeps the best GraphBeam of
    * visited ∪ new by (cos desc, id) via the bounded-heap Aggregator
    * — so the beam is monotone best-so-far and the final top-K needs
    * no separate visited set. Everything is deterministic (fixed
    * entry, fixed hops, total order), so the DuckDB oracle replays
    * graph build + the whole search hop-for-hop — the serve path is
    * hash-checked, not recall-summarized; GraphProbeSpec adds the
    * recall-vs-exact floor and persisted-graph reuse. Scale shape:
    * recurring cost O(queries × beam × K × hops) against an index
    * built once — the graph analogue of `ann_index_probe`.
    */
  def annGraphProbe(spark: SparkSession, dir: String): DataFrame = {
    val idx = stageKnnGraph(spark, dir)
    // Loop-invariant serve relations materialized ONCE (r17 — the wc
    // fixpoint-loop discipline applied to the serve side): the 6-hop
    // beam loop references the adjacency (expansion join) and the
    // corpus vectors (scoreOf) EVERY hop, and with only the beam
    // checkpointed each hop re-decoded both parquet tables — 12
    // corpus-scale scans per probe. Checkpointed, each hop reads
    // executor-local blocks. Production analogue: the serving layer
    // pins graph + vectors in memory; scans are the build path only.
    val e = vecs(spark, dir).select(col("vec_id"), col("v")).truncated
    beamSearchTopK(readKnnGraph(spark, idx).truncated, e,
        plantedVecQueriesOf(e))
      .orderBy("q_id", "rank")
  }

  /** Schema'd read of a persisted serve-adjacency layout (batch-staged
    * flat or stream-appended batch-keyed — recursiveFileLookup makes
    * them indistinguishable, like `readIvfIndex`).
    */
  private[graft] def readKnnGraph(spark: SparkSession, idx: String): DataFrame =
    spark.read.schema("vec_id BIGINT, nbr BIGINT")
      .option("recursiveFileLookup", "true").parquet(s"$idx/edges")

  /** The deterministic greedy beam search shared by `ann_graph_probe`
    * (serving) and `stream_graph_index_ingest` (the HNSW-style insert:
    * a new vector's link set IS its beam-search result). Returns
    * (q_id, rank, vec_id, cosine), best GraphProbeK per query.
    */
  private[graft] def beamSearchTopK(edges: DataFrame, e: DataFrame,
      q: DataFrame): DataFrame = {
    val entry = e.agg(min(col("vec_id")).as("vec_id"))
    val topB = graft.functions.TopK.topKByScore(GraphBeam)
    // NOTE (measured, r16): explicit broadcast hints on the bounded
    // beam/candidate sides (guide §3.1 — they are |Q|·B·K rows, never
    // corpus-shaped) were tried and came out FLAT-to-slower at sf0.1
    // (probe 4.2 → 4.4 s, ingest 7.7 → 8.3 s): per hop the hint adds
    // a driver collect + rebroadcast, which at this query-batch size
    // costs as much as the small AQE-coalesced exchanges it removes.
    // Revisit if serve batches grow while the corpus side dominates.
    def scoreOf(cand: DataFrame): DataFrame = cand
      .join(e, Seq("vec_id"))
      .join(q, Seq("q_id"))
      .select(col("q_id"), col("vec_id"), cosine(col("qv"), col("v")).as("cos"))
    // per-hop truncation is load-bearing: the beam feeds BOTH the
    // expansion join and the union each hop, so an unmaterialized
    // lineage doubles per hop (measured 13.6 s vs 3.5 s at sf0.01);
    // checkpointed, each hop is one bounded job over |Q|·B·K rows —
    // the wc_kcore per-round discipline
    var beam = scoreOf(q.select("q_id").crossJoin(broadcast(entry)))
      .truncated
    for (_ <- 1 to GraphHops) {
      val expand = beam.join(edges, Seq("vec_id"))
        .select(col("q_id"), col("nbr").as("vec_id")).distinct()
      beam = scoreOf(expand).unionByName(beam).distinct()
        .groupBy("q_id").agg(topB(col("cos"), col("vec_id")).as("t"))
        .select(col("q_id"), explode(col("t")).as("s"))
        .select(col("q_id"), col("s.id").as("vec_id"),
          col("s.score").as("cos"))
        .truncated
    }
    val topk = graft.functions.TopK.topKByScore(GraphProbeK)
    beam.groupBy("q_id").agg(topk(col("cos"), col("vec_id")).as("t"))
      .select(col("q_id"), posexplode(col("t")).as(Seq("pos", "s")))
      .select(col("q_id"), (col("pos") + 1).cast("long").as("rank"),
        col("s.id").as("vec_id"), round(col("s.score"), 4).as("cosine"))
  }

  /** The hop-for-hop DuckDB replay of `annGraphProbe`'s beam search
    * over the replayed NN-descent graph.
    */
  private[graft] def graphProbeOracle: String = {
    def cosq(qa: String, ea: String) =
      s"list_inner_product($qa.qv, $ea.v) / " +
        s"(sqrt(list_inner_product($qa.qv, $qa.qv)) * " +
        s"sqrt(list_inner_product($ea.v, $ea.v)))"
    def hop(h: Int): String = s""",
x$h AS (
  SELECT DISTINCT b.q_id, ed.nbr AS vec_id
  FROM b${h - 1} b JOIN edges ed ON ed.vec_id = b.vec_id),
s$h AS (
  SELECT x.q_id, x.vec_id, ${cosq("q", "e")} AS cos
  FROM x$h x JOIN e ON e.vec_id = x.vec_id JOIN q ON q.q_id = x.q_id),
b$h AS MATERIALIZED (
  SELECT q_id, vec_id, cos FROM (
    SELECT q_id, vec_id, cos,
      row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn
    FROM (SELECT DISTINCT * FROM (
      SELECT * FROM s$h UNION ALL SELECT * FROM b${h - 1})))
  WHERE rn <= $GraphBeam)"""
    nndescentGraphCte + s""",
edges AS (
  SELECT vec_id, nbr FROM (
    SELECT vec_id, nbr,
      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, nbr) AS rn
    FROM (SELECT DISTINCT vec_id, nbr, cos FROM (
      SELECT vec_id, nbr, cos FROM g$NdRounds
      UNION ALL SELECT nbr, vec_id, cos FROM g$NdRounds)))
  WHERE rn <= ${2 * NdK}),
q AS (SELECT vec_id + $QueryOffset AS q_id, v AS qv
      FROM e WHERE vec_id % 8 = 0),
ent AS (SELECT min(vec_id) AS ev FROM e),
b0 AS (
  SELECT q.q_id, e.vec_id, ${cosq("q", "e")} AS cos
  FROM q CROSS JOIN ent JOIN e ON e.vec_id = ent.ev)""" +
      (1 to GraphHops).map(hop).mkString + s"""
SELECT q_id, CAST(rn AS BIGINT) AS rank, vec_id, round(cos, 4) AS cosine
FROM (SELECT q_id, vec_id, cos,
        row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn
      FROM b$GraphHops)
WHERE rn <= $GraphProbeK
ORDER BY q_id, rank"""
  }

  private def nndescentOracle: String =
    nndescentGraphCte + s"""
SELECT vec_id,
  CAST(row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, nbr)
    AS BIGINT) AS rank,
  nbr, round(cos, 4) AS cosine
FROM g$NdRounds
ORDER BY vec_id, rank"""

  /** The WITH-prefix replaying NN-descent init + rounds through
    * `g\$NdRounds` — shared by the build oracle and the graph-probe
    * oracle.
    */
  private def nndescentGraphCte: String = {
    val cos = "list_inner_product(a.v, b.v) / " +
      "(sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v)))"
    def round(r: Int): String = s""",
adj$r AS MATERIALIZED (
  SELECT vec_id, nbr, cos FROM (
    SELECT vec_id, nbr, cos,
      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, nbr) AS rn
    FROM (SELECT DISTINCT vec_id, nbr, cos FROM (
          SELECT vec_id, nbr, cos FROM g${r - 1}
          UNION ALL SELECT nbr, vec_id, cos FROM g${r - 1})))
  WHERE rn <= ${2 * NdK}),
cand$r AS MATERIALIZED (
  SELECT DISTINCT a.nbr AS vec_id, b.nbr AS nbr
  FROM adj$r a JOIN adj$r b ON a.vec_id = b.vec_id AND a.nbr <> b.nbr),
g$r AS MATERIALIZED (
  SELECT vec_id, nbr, cos FROM (
    SELECT vec_id, nbr, cos,
      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, nbr) AS rn
    FROM (SELECT DISTINCT vec_id, nbr, cos FROM (
      SELECT c.vec_id, c.nbr, $cos AS cos
      FROM cand$r c JOIN e a ON a.vec_id = c.vec_id JOIN e b ON b.vec_id = c.nbr
      UNION ALL SELECT vec_id, nbr, cos FROM g${r - 1})))
  WHERE rn <= $NdK)"""
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
n AS (SELECT count(*) AS n_vecs FROM e),
stp AS (SELECT greatest(n_vecs //
    greatest(CAST(ceil(sqrt(n_vecs)) AS BIGINT), 1), 1) AS s FROM n),
cents AS (SELECT vec_id AS cell_id, v AS cv FROM e, stp WHERE vec_id % s = 0),
assigned AS (
  SELECT vec_id, cell_id FROM (
    SELECT a.vec_id, c.cell_id,
      row_number() OVER (PARTITION BY a.vec_id ORDER BY
        list_inner_product(a.v, c.cv) /
          (sqrt(list_inner_product(a.v, a.v)) *
           sqrt(list_inner_product(c.cv, c.cv))) DESC, c.cell_id) AS rn
    FROM e a CROSS JOIN cents c)
  WHERE rn = 1),
reps AS (
  SELECT cell_id, rep FROM (
    SELECT cell_id, vec_id AS rep,
      row_number() OVER (PARTITION BY cell_id ORDER BY vec_id) AS rn
    FROM assigned)
  WHERE rn <= ${2 * NdK}),
init AS (
  SELECT DISTINCT vec_id, nbr FROM (
    SELECT e.vec_id, (e.vec_id + j * $NdStep) % n_vecs AS nbr
    FROM e, n, range(1, ${NdK + 1}) t(j)
    WHERE (e.vec_id + j * $NdStep) % n_vecs <> e.vec_id
    UNION ALL
    SELECT a.vec_id, r.rep
    FROM assigned a JOIN reps r USING (cell_id)
    WHERE r.rep <> a.vec_id)),
g0 AS MATERIALIZED (
  SELECT vec_id, nbr, cos FROM (
    SELECT vec_id, nbr, cos,
      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, nbr) AS rn
    FROM (SELECT i.vec_id, i.nbr, $cos AS cos
          FROM init i JOIN e a ON a.vec_id = i.vec_id
          JOIN e b ON b.vec_id = i.nbr))
  WHERE rn <= $NdK)""" +
      (1 to NdRounds).map(round).mkString
  }

  val queries: Map[String, GQuery] = Map(
    "ann_nndescent_knn" -> GQuery.sql(nndescentKnn, nndescentOracle),
    "ann_graph_probe" -> GQuery.sql(annGraphProbe, graphProbeOracle),
    "ann_recall_curve" -> GQuery.sql(recallCurve, {
      val cos = (a: String, b: String) =>
        s"list_inner_product($a, $b) / (sqrt(list_inner_product($a, $a)) * sqrt(list_inner_product($b, $b)))"
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (SELECT count(*) AS n_vecs FROM e),
        |cent AS (
        |  SELECT vec_id AS cell_id, v AS cv FROM e, n
        |  WHERE vec_id % greatest(n_vecs // CAST(ceil(sqrt(n_vecs)) AS BIGINT), 1) = 0),
        |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < $NQueries),
        |brute AS (
        |  SELECT q_id, vec_id FROM (
        |    SELECT q.q_id, e.vec_id,
        |      row_number() OVER (PARTITION BY q.q_id ORDER BY
        |        ${cos("q.qv", "e.v")} DESC, e.vec_id) AS rnk
        |    FROM q JOIN e ON e.vec_id <> q.q_id) WHERE rnk <= $TopK),
        |asg AS (
        |  SELECT vec_id, cell_id FROM (
        |    SELECT e.vec_id, c.cell_id,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        ${cos("e.v", "c.cv")} DESC, c.cell_id) AS rn
        |    FROM e CROSS JOIN cent c) WHERE rn = 1),
        |qc AS (
        |  SELECT q_id, cell_id, crank FROM (
        |    SELECT q.q_id, c.cell_id,
        |      row_number() OVER (PARTITION BY q.q_id ORDER BY
        |        ${cos("q.qv", "c.cv")} DESC, c.cell_id) AS crank
        |    FROM q CROSS JOIN cent c)
        |  WHERE crank <= ${RecallProbes.max}),
        |pr AS (SELECT CAST(unnest([${RecallProbes.mkString(", ")}]) AS BIGINT) AS probes),
        |ivf AS (
        |  SELECT probes, q_id, vec_id FROM (
        |    SELECT pr.probes, q.q_id, a.vec_id,
        |      row_number() OVER (PARTITION BY pr.probes, q.q_id ORDER BY
        |        ${cos("q.qv", "e2.v")} DESC, a.vec_id) AS rnk
        |    FROM pr
        |    JOIN qc ON qc.crank <= pr.probes
        |    JOIN q ON q.q_id = qc.q_id
        |    JOIN asg a ON a.cell_id = qc.cell_id AND a.vec_id <> q.q_id
        |    JOIN e e2 ON e2.vec_id = a.vec_id)
        |  WHERE rnk <= $TopK),
        |nq AS (SELECT count(*) AS n_queries FROM q)
        |SELECT ivf.probes, nq.n_queries,
        |  CAST(count(*) FILTER (WHERE b.vec_id IS NOT NULL) AS BIGINT) AS n_hits,
        |  (2*CAST(count(*) FILTER (WHERE b.vec_id IS NOT NULL) AS BIGINT)*1000000
        |     + nq.n_queries*$TopK) // (2*nq.n_queries*$TopK) AS recall_ppm
        |FROM ivf
        |LEFT JOIN brute b ON b.q_id = ivf.q_id AND b.vec_id = ivf.vec_id
        |CROSS JOIN nq
        |GROUP BY ivf.probes, nq.n_queries
        |ORDER BY probes""".stripMargin
    }),
    "vec_hubness_census" -> GQuery.sql(hubnessCensus,
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (SELECT count(*) AS n_vecs FROM e),
        |q AS (SELECT vec_id AS q_id, v AS qv FROM e, n
        |      WHERE vec_id % greatest(n_vecs // $HubSample, 1) = 0),
        |scored AS (
        |  SELECT q.q_id, e.vec_id,
        |    list_inner_product(q.qv, e.v) /
        |      (sqrt(list_inner_product(q.qv, q.qv)) *
        |       sqrt(list_inner_product(e.v, e.v))) AS cos_raw
        |  FROM q JOIN e ON e.vec_id <> q.q_id),
        |ranked AS (
        |  SELECT q_id, vec_id,
        |    row_number() OVER (PARTITION BY q_id
        |                       ORDER BY cos_raw DESC, vec_id) AS rank
        |  FROM scored),
        |hits AS (
        |  SELECT vec_id, CAST(count(*) AS BIGINT) AS n_hits
        |  FROM ranked WHERE rank <= $TopK GROUP BY vec_id),
        |hist AS (
        |  SELECT n_hits, CAST(count(*) AS BIGINT) AS n_vectors
        |  FROM hits GROUP BY n_hits
        |  UNION ALL
        |  SELECT CAST(0 AS BIGINT) AS n_hits,
        |    CAST((SELECT n_vecs FROM n) - (SELECT count(*) FROM hits) AS BIGINT)
        |      AS n_vectors)
        |SELECT n_hits, n_vectors FROM hist WHERE n_vectors > 0
        |ORDER BY n_hits""".stripMargin),
    "vec_outlier_census" -> GQuery.sql(outlierCensus,
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
        |           FROM embeddings),
        |x AS (SELECT vec_id, label, dim - 1 AS dim,
        |        CAST(floor(xv * 1000.0 + 0.5) AS BIGINT) AS xu
        |      FROM (SELECT vec_id, label, unnest(v) AS xv,
        |              generate_subscripts(v, 1) AS dim FROM e)),
        |ds AS (SELECT dim, count(*) AS n,
        |         CAST(sum(xu) AS BIGINT) AS s,
        |         CAST(sum(xu*xu) AS BIGINT) AS ssx
        |       FROM x GROUP BY dim),
        |z AS (SELECT x.vec_id, x.label,
        |        CASE WHEN ds.n*ds.ssx - ds.s*ds.s = 0 THEN 0
        |             ELSE (2*(ds.n*x.xu - ds.s)*(ds.n*x.xu - ds.s)*100
        |                   + (ds.n*ds.ssx - ds.s*ds.s))
        |                  // (2*(ds.n*ds.ssx - ds.s*ds.s)) END AS z2_x100
        |      FROM x JOIN ds ON x.dim = ds.dim),
        |sc AS (SELECT vec_id, label,
        |         CAST(sum(z2_x100) AS BIGINT) AS score_x100,
        |         count(*) AS dims
        |       FROM z GROUP BY 1, 2)
        |SELECT label, count(*) AS n_vecs,
        |  CAST(sum(CASE WHEN score_x100 > dims * $OutlierZ2x100
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  max(score_x100) AS max_score_x100
        |FROM sc GROUP BY label ORDER BY label""".stripMargin),
    "vec_triplet_audit" -> GQuery.sql(tripletAudit,
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |pos AS (
        |  SELECT a.vec_id, min(b.vec_id) AS pos_id
        |  FROM e a JOIN e b ON b.label = a.label AND b.vec_id > a.vec_id
        |  GROUP BY a.vec_id),
        |neg AS (
        |  SELECT a.vec_id, min(b.vec_id) AS neg_id
        |  FROM e a JOIN e b ON b.label = (a.label + 1) % 10
        |    AND b.vec_id > a.vec_id
        |  GROUP BY a.vec_id),
        |t AS (
        |  SELECT
        |    CAST(floor(round(list_inner_product(a.v, p.v) /
        |      (sqrt(list_inner_product(a.v, a.v)) *
        |       sqrt(list_inner_product(p.v, p.v))), 6) * 1000000 + 0.5) AS BIGINT) AS cap,
        |    CAST(floor(round(list_inner_product(a.v, n.v) /
        |      (sqrt(list_inner_product(a.v, a.v)) *
        |       sqrt(list_inner_product(n.v, n.v))), 6) * 1000000 + 0.5) AS BIGINT) AS can
        |  FROM e a
        |  JOIN pos ON pos.vec_id = a.vec_id
        |  JOIN neg ON neg.vec_id = a.vec_id
        |  JOIN e p ON p.vec_id = pos.pos_id
        |  JOIN e n ON n.vec_id = neg.neg_id)
        |SELECT count(*) AS n_triplets,
        |  count(*) FILTER (cap < can) AS viol_m0,
        |  count(*) FILTER (cap < can + 50000) AS viol_m05,
        |  count(*) FILTER (cap < can + 100000) AS viol_m10,
        |  (2*(count(*) FILTER (cap < can))*1000000 + count(*))
        |    // (2*count(*)) AS viol_ppm
        |FROM t""".stripMargin),
    "vec_anova_f" -> GQuery.sql(anovaF,
      """WITH e AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings),
        |x AS (
        |  SELECT label, dim - 1 AS dim,
        |    CAST(floor(xv * 1000.0 + 0.5) AS BIGINT) AS xu
        |  FROM (SELECT label, unnest(v) AS xv,
        |          generate_subscripts(v, 1) AS dim FROM e)),
        |pl AS (
        |  SELECT dim, label, count(*) AS n_l,
        |    CAST(sum(xu) AS BIGINT) AS s_l,
        |    CAST(sum(xu*xu) AS BIGINT) AS ss_l
        |  FROM x GROUP BY 1, 2),
        |pl2 AS (
        |  SELECT dim, n_l, s_l, ss_l,
        |    (2*s_l*s_l*1000000 + n_l) // (2*n_l) AS b_l
        |  FROM pl),
        |d AS (
        |  SELECT dim, CAST(sum(n_l) AS BIGINT) AS n, count(*) AS k,
        |    CAST(sum(s_l) AS BIGINT) AS s,
        |    CAST(sum(ss_l) AS BIGINT) AS ssx,
        |    CAST(sum(b_l) AS BIGINT) AS b
        |  FROM pl2 GROUP BY dim),
        |f AS (
        |  SELECT dim, n, k,
        |    greatest(b - (2*s*s*1000000 + n) // (2*n), 0) AS ssb_e6,
        |    ssx * 1000000 - b AS ssw_e6
        |  FROM d)
        |SELECT dim, n, k, ssb_e6, ssw_e6,
        |  CASE WHEN ssw_e6 <= 0 OR k <= 1 THEN NULL
        |       ELSE CAST((2*ssb_e6::HUGEINT*(n - k)*1000
        |                  + ssw_e6::HUGEINT*(k - 1))
        |              // (2*ssw_e6::HUGEINT*(k - 1)) AS BIGINT) END AS f_x1000
        |FROM f ORDER BY dim""".stripMargin),
    "vec_mean_direction_census" -> GQuery.sql(meanDirectionCensus,
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |x AS (SELECT dim - 1 AS dim,
        |        CAST(floor(xv * 1000.0 + 0.5) AS BIGINT) AS xu
        |      FROM (SELECT unnest(v) AS xv,
        |              generate_subscripts(v, 1) AS dim FROM e)),
        |c AS (SELECT dim,
        |        (2*CAST(sum(xu) AS BIGINT)*1000 + count(*)) // (2*count(*)) AS cu
        |      FROM x GROUP BY dim),
        |cl AS (SELECT list(CAST(cu AS DOUBLE) ORDER BY dim) AS c FROM c),
        |s AS (
        |  SELECT round(list_inner_product(e.v, cl.c) /
        |    (sqrt(list_inner_product(e.v, e.v)) *
        |     sqrt(list_inner_product(cl.c, cl.c))), 6) AS cos
        |  FROM e CROSS JOIN cl)
        |SELECT CAST(least(floor((cos + 1.0) / 0.1), 19) AS BIGINT) AS bin,
        |  count(*) AS n_vecs
        |FROM s GROUP BY bin ORDER BY bin""".stripMargin),
    "vec_pair_distance_hist" -> GQuery.sql(pairDistanceHist,
      s"""WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |n AS (SELECT count(*) AS n_vecs FROM e),
        |s AS (
        |  SELECT vec_id, v FROM e CROSS JOIN n
        |  WHERE vec_id % greatest(n_vecs // $PdhSample, 1) = 0),
        |p AS (
        |  SELECT round(list_inner_product(a.v, b.v) /
        |    (sqrt(list_inner_product(a.v, a.v)) *
        |     sqrt(list_inner_product(b.v, b.v))), 6) AS c
        |  FROM s a JOIN s b ON a.vec_id < b.vec_id)
        |SELECT CAST(least(floor((c + 1.0) / 0.1), 19) AS BIGINT) AS bin,
        |  count(*) AS n_pairs
        |FROM p GROUP BY bin ORDER BY bin""".stripMargin),
    "vec_bit_balance" -> GQuery.sql(bitBalance, bitBalanceOracle),
    "vec_label_cosine" -> GQuery.sql(labelCosine,
      """WITH e AS (SELECT label::BIGINT AS label, embedding::DOUBLE[] AS v FROM embeddings),
        |x AS (SELECT label, dim - 1 AS dim,
        |        CAST(floor(xv * 1000.0 + 0.5) AS BIGINT) AS xu
        |      FROM (SELECT label, unnest(v) AS xv,
        |              generate_subscripts(v, 1) AS dim FROM e)),
        |c AS (SELECT label, dim,
        |        (2*CAST(sum(xu) AS BIGINT)*1000 + count(*)) // (2*count(*)) AS cu
        |      FROM x GROUP BY label, dim),
        |p AS (SELECT a.label AS la, b.label AS lb,
        |        CAST(sum(a.cu * b.cu) AS BIGINT) AS dot,
        |        CAST(sum(a.cu * a.cu) AS BIGINT) AS na2,
        |        CAST(sum(b.cu * b.cu) AS BIGINT) AS nb2
        |      FROM c a JOIN c b ON a.dim = b.dim AND a.label < b.label
        |      GROUP BY a.label, b.label)
        |SELECT la, lb,
        |  CAST(floor(CAST(dot AS DOUBLE) /
        |    (sqrt(CAST(na2 AS DOUBLE)) * sqrt(CAST(nb2 AS DOUBLE))) *
        |    1000000.0 + 0.5) AS BIGINT) AS cos_ppm
        |FROM p ORDER BY la, lb""".stripMargin),
    "vec_value_histogram" -> GQuery.sql(valueHistogram,
      """WITH x AS (
        |  SELECT label, unnest(embedding::DOUBLE[]) AS x FROM embeddings),
        |b AS (
        |  SELECT label,
        |    CAST(least(greatest(floor((x + 0.5) / 0.05), 0), 19) AS BIGINT) AS bin
        |  FROM x)
        |SELECT label, bin, count(*) AS n
        |FROM b GROUP BY label, bin ORDER BY label, bin""".stripMargin),
    "ann_range_count" -> GQuery.sql(rangeCount,
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < $NQueries),
        |scored AS (
        |  SELECT q.q_id,
        |    list_inner_product(q.qv, e.v) /
        |      (sqrt(list_inner_product(q.qv, q.qv)) * sqrt(list_inner_product(e.v, e.v))) AS cos_raw
        |  FROM q JOIN e ON e.vec_id <> q.q_id)
        |SELECT q_id, count(*) AS n_neighbors,
        |  round(avg(cos_raw), 6) AS avg_cos,
        |  round(max(cos_raw), 6) AS max_cos
        |FROM scored WHERE round(cos_raw, 6) >= $RangeTau
        |GROUP BY q_id ORDER BY q_id""".stripMargin),
    "ann_bruteforce_topk" -> GQuery.sql(bruteforceTopk,
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < $NQueries),
        |scored AS (
        |  SELECT q.q_id, e.vec_id,
        |    list_inner_product(q.qv, e.v) /
        |      (sqrt(list_inner_product(q.qv, q.qv)) * sqrt(list_inner_product(e.v, e.v))) AS cos_raw
        |  FROM q JOIN e ON e.vec_id <> q.q_id),
        |ranked AS (
        |  SELECT q_id, vec_id, cos_raw,
        |    row_number() OVER (PARTITION BY q_id ORDER BY cos_raw DESC, vec_id) AS rank
        |  FROM scored)
        |SELECT q_id, rank, vec_id, round(cos_raw, 4) AS cosine
        |FROM ranked WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin),
    "ann_mips_topk" -> GQuery.sql(mipsTopk,
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < $NQueries),
        |scored AS (
        |  SELECT q.q_id, e.vec_id,
        |    (1 + (q.q_id % 7) * 0.25) * (1 + (e.vec_id % 7) * 0.25) *
        |      list_inner_product(q.qv, e.v) AS dot_raw
        |  FROM q JOIN e ON e.vec_id <> q.q_id),
        |ranked AS (
        |  SELECT q_id, vec_id, dot_raw,
        |    row_number() OVER (PARTITION BY q_id ORDER BY dot_raw DESC, vec_id) AS rank
        |  FROM scored)
        |SELECT q_id, rank, vec_id, round(dot_raw, 4) AS dot
        |FROM ranked WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin),
    "ann_mips_zipf" -> GQuery.sql(mipsZipfTopk,
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < $NQueries),
        |scored AS (
        |  SELECT q.q_id, e.vec_id,
        |    (${zipfMagnitudeSql("q.q_id")}) * (${zipfMagnitudeSql("e.vec_id")}) *
        |      list_inner_product(q.qv, e.v) AS dot_raw
        |  FROM q JOIN e ON e.vec_id <> q.q_id),
        |ranked AS (
        |  SELECT q_id, vec_id, dot_raw,
        |    row_number() OVER (PARTITION BY q_id ORDER BY dot_raw DESC, vec_id) AS rank
        |  FROM scored)
        |SELECT q_id, rank, vec_id, round(dot_raw, 4) AS dot
        |FROM ranked WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin),
    "ann_topk_agg" -> GQuery.sql(bruteforceTopkAgg,
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < $NQueries),
        |scored AS (
        |  SELECT q.q_id, e.vec_id,
        |    list_inner_product(q.qv, e.v) /
        |      (sqrt(list_inner_product(q.qv, q.qv)) * sqrt(list_inner_product(e.v, e.v))) AS cos_raw
        |  FROM q JOIN e ON e.vec_id <> q.q_id),
        |ranked AS (
        |  SELECT q_id, vec_id, cos_raw,
        |    row_number() OVER (PARTITION BY q_id ORDER BY cos_raw DESC, vec_id) AS rank
        |  FROM scored)
        |SELECT q_id, rank, vec_id, round(cos_raw, 4) AS cosine
        |FROM ranked WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin),
    "ann_ivf_topk" -> GQuery.sql(ivfTopkPlanted,
      s"""SELECT vec_id + $QueryOffset AS q_id, CAST(1 AS BIGINT) AS rank,
        |  vec_id, CAST(1.0 AS DOUBLE) AS cosine
        |FROM embeddings WHERE vec_id % 8 = 0
        |ORDER BY q_id""".stripMargin),
    // same truth domain again: the two-level descent must serve the
    // identical rank-1 answers the flat pipeline finds
    "ann_ivf2_topk" -> GQuery.sql(ivf2TopkPlanted,
      s"""SELECT vec_id + $QueryOffset AS q_id, CAST(1 AS BIGINT) AS rank,
        |  vec_id, CAST(1.0 AS DOUBLE) AS cosine
        |FROM embeddings WHERE vec_id % 8 = 0
        |ORDER BY q_id""".stripMargin),
    // identical truth domain to ann_ivf_topk: the stored-index probe
    // must serve the same rank-1 answers the in-memory pipeline finds
    "ann_index_probe" -> GQuery.sql(annIndexProbe,
      s"""SELECT vec_id + $QueryOffset AS q_id, CAST(1 AS BIGINT) AS rank,
        |  vec_id, CAST(1.0 AS DOUBLE) AS cosine
        |FROM embeddings WHERE vec_id % 8 = 0
        |ORDER BY q_id""".stripMargin),
    "ann_kmeans" -> GQuery.sql(kmeans, kmeansOracle),
    "dd_semantic_dedup" -> GQuery.sql(semanticDedup, semanticDedupOracle),
    "ann_pq_topk" -> GQuery.sql(pqTopk, pqOracle),
    "ann_pq_distortion" -> GQuery.sql(pqDistortionCensus, pqDistortionOracle),
    "ann_ivf_balance" -> GQuery.sql(ivfBalanceCensus, ivfBalanceOracle),
    "vec_sql_udf" -> GQuery.sql(vecSqlUdf,
      """SELECT label, count(*) AS n_vecs,
        |  CAST(sum(CAST(round(list_inner_product(embedding::DOUBLE[],
        |    embedding::DOUBLE[]) * 1e6, 0) AS BIGINT)) AS BIGINT)
        |    AS norm2_e6_sum
        |FROM embeddings
        |GROUP BY label ORDER BY label""".stripMargin),
    "ann_ivfpq_topk" -> GQuery.sql(ivfpqTopk, ivfpqOracle),
    "vec_gram_matrix" -> GQuery.sql(gramMatrix,
      s"""WITH e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
        |ii AS (SELECT unnest(range(0, $GramDim)) AS i),
        |jj AS (SELECT unnest(range(0, $GramDim)) AS j),
        |ij AS (SELECT i, j FROM ii CROSS JOIN jj WHERE j >= i)
        |SELECT i, j, round(sum(v[i + 1] * v[j + 1]), 6) AS g
        |FROM e CROSS JOIN ij GROUP BY i, j ORDER BY i, j""".stripMargin),
    "vec_dim_moments" -> GQuery.sql(dimMoments,
      """WITH e AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings),
        |x AS (SELECT label, dim - 1 AS dim,
        |        CAST(floor(xv * 1000000.0 + 0.5) AS BIGINT) AS xu
        |      FROM (SELECT label, unnest(v) AS xv,
        |              generate_subscripts(v, 1) AS dim FROM e))
        |SELECT label, dim, count(*) AS n,
        |  CAST(sum(xu) AS BIGINT) AS sum_u,
        |  CAST(sum(xu * xu) AS BIGINT) AS sumsq_u,
        |  min(xu) AS min_u, max(xu) AS max_u
        |FROM x GROUP BY label, dim ORDER BY label, dim""".stripMargin),
    "vec_pca_topcomp" -> GQuery.sql(pcaTopComponent, {
      // The iteration chain is generated to match PcaIters exactly:
      // each round is matvec (ascending list_inner_product), norm,
      // per-element divide — the same IEEE op sequence the driver
      // runs, so no intermediate rounding is needed anywhere.
      val iters = (1 to PcaIters).map { t =>
        s"""w$t AS (SELECT g.i AS i, list_inner_product(g.grow, u${t - 1}.u) AS w
           |  FROM grows g CROSS JOIN u${t - 1}),
           |wl$t AS (SELECT list(w ORDER BY i) AS wl FROM w$t),
           |u$t AS (SELECT list_transform(wl, x -> x / sqrt(list_inner_product(wl, wl))) AS u FROM wl$t)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings),
         |ii AS (SELECT unnest(range($GramDim)) AS i),
         |jj AS (SELECT unnest(range($GramDim)) AS j),
         |ij AS (SELECT i, j FROM ii CROSS JOIN jj WHERE j >= i),
         |tri AS (SELECT i, j, round(sum(v[i + 1] * v[j + 1]), 6) AS g
         |        FROM e CROSS JOIN ij GROUP BY i, j),
         |gcell AS (SELECT i, j, g FROM tri
         |          UNION ALL SELECT j AS i, i AS j, g FROM tri WHERE j > i),
         |grows AS (SELECT i, list(g ORDER BY j) AS grow FROM gcell GROUP BY i),
         |u0 AS (SELECT list_transform(range($GramDim), x -> 0.125) AS u),
         |$iters,
         |proj AS (SELECT e.label,
         |  CAST(floor(list_inner_product(e.v, u.u) * 1000000.0 + 0.5) AS BIGINT) AS pu
         |  FROM e CROSS JOIN u$PcaIters u)
         |SELECT label, count(*) AS n_vecs,
         |  CAST(sum(pu) AS BIGINT) AS sum_pu,
         |  CAST(sum(abs(pu)) AS BIGINT) AS sum_abs_pu,
         |  min(pu) AS min_pu, max(pu) AS max_pu,
         |  (SELECT CAST(floor(sqrt(list_inner_product(wl, wl)) * 1000000.0 + 0.5) AS BIGINT)
         |   FROM wl$PcaIters) AS lambda_e6
         |FROM proj GROUP BY label ORDER BY label""".stripMargin
    }),
    "vec_quantize_int8" -> GQuery.sql(quantizeInt8,
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |mm AS (SELECT vec_id, v,
        |         list_max(list_transform(v, x -> abs(x))) AS m FROM e),
        |qq AS (SELECT vec_id, m,
        |         list_transform(v, x -> floor(x * 127.0 / m + 0.5)) AS q
        |       FROM mm WHERE m > 0)
        |SELECT vec_id,
        |  CAST(floor(m * 1000000.0 + 0.5) AS BIGINT) AS scale_um,
        |  CAST(list_sum(q) AS BIGINT) AS sum_q,
        |  CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS sum_q2,
        |  CAST(len(list_filter(q, x -> abs(x) = 127)) AS BIGINT) AS n_sat
        |FROM qq ORDER BY vec_id""".stripMargin),
    "vec_matryoshka_census" -> GQuery.sql(matryoshkaCensus,
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |c AS (
        |  SELECT vec_id, label, dim - 1 AS dim,
        |    CAST(floor(xv * 10000.0 + 0.5) AS BIGINT) AS u
        |  FROM (SELECT vec_id, label, unnest(v) AS xv,
        |          generate_subscripts(v, 1) AS dim FROM e)),
        |p AS (
        |  SELECT DISTINCT prefix_dim FROM (
        |    SELECT CAST(8 * power(2, k.range) AS BIGINT) AS prefix_dim
        |    FROM range(0, 16) k, (SELECT max(len(v)) AS d FROM e) m
        |    WHERE 8 * power(2, k.range) <= m.d
        |    UNION ALL
        |    SELECT CAST(max(len(v)) AS BIGINT) FROM e)
        |  WHERE prefix_dim IS NOT NULL),
        |pv AS (
        |  SELECT vec_id, label, CAST(prefix_dim AS BIGINT) AS prefix_dim,
        |    CAST(sum(CASE WHEN dim < prefix_dim THEN u*u ELSE 0 END) AS BIGINT) AS ep,
        |    CAST(sum(u*u) AS BIGINT) AS et
        |  FROM c CROSS JOIN p GROUP BY 1, 2, 3),
        |f AS (
        |  SELECT label, prefix_dim,
        |    (2*ep*1000000 + greatest(et, 1)) // (2*greatest(et, 1)) AS frac_ppm
        |  FROM pv)
        |SELECT label, prefix_dim, count(*) AS n_vecs,
        |  CAST((2*CAST(sum(frac_ppm) AS BIGINT) + count(*)) // (2*count(*)) AS BIGINT)
        |    AS avg_frac_ppm,
        |  CAST(min(frac_ppm) AS BIGINT) AS min_frac_ppm,
        |  CAST(max(frac_ppm) AS BIGINT) AS max_frac_ppm
        |FROM f GROUP BY 1, 2 ORDER BY label, prefix_dim""".stripMargin),
    "vec_norm_stats" -> GQuery.sql(normStats,
      """WITH e AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings)
        |SELECT label, count(*) AS n_vecs,
        |  round(avg(sqrt(list_inner_product(v, v))), 6) AS avg_norm,
        |  round(min(sqrt(list_inner_product(v, v))), 6) AS min_norm,
        |  round(max(sqrt(list_inner_product(v, v))), 6) AS max_norm,
        |  round(avg(v[1]), 6) AS avg_d0
        |FROM e GROUP BY label ORDER BY label""".stripMargin),
  )
}
