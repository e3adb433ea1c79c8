package graft.operators

import graft.{Ckpt, GQuery, Memo, Tables}
import graft.functions.Text
import graft.Ckpt.TruncOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication family for an LLM training-data pipeline
  * (SURVEY.md §2.D). Scale discipline: NOTHING here is a global
  * O(n²) cross join — candidates come from hash groups (exact),
  * blocking keys (shingle jaccard), LSH band buckets (minhash), or
  * band-blocked simhash. Per-bucket pair expansion is the only
  * quadratic step and bucket sizes are bounded by design.
  */
object Dedup {

  /** Exact dedup on md5(normalized text): canonical id per content
    * hash. One hash-shuffle; at 100 TB this is the cheapest possible
    * full-corpus dedup.
    */
  def exact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), md5(Text.normalized(col("text")).cast("binary")).as("md5_hash"))
      .groupBy("md5_hash")
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies"))
      .orderBy("md5_hash")

  private[graft] def docsTable(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select("doc_id", "source", "text")

  /** Planted near-duplicates (the `dd_embed_cosine_lsh` oracle trick
    * applied to text): a whitespace-perturbed copy of every 4th doc at
    * `doc_id + PlantOffset`. The tokenizer drops empty tokens, so a
    * copy's token stream — hence its shingle set, minhash signature,
    * and simhash — is IDENTICAL to the original's: LSH candidate
    * recall for every planted pair is exactly 1, deterministically.
    * Restricting the verified-pair output to (id, id + PlantOffset)
    * therefore turns the seed-dependent LSH pipelines into queries a
    * brute-force DuckDB oracle can hash-check end-to-end (tokenize →
    * signature → banding → bucket join → exact verify).
    */
  val PlantOffset = 1000000L
  private[graft] def withPlanted(docs: DataFrame): DataFrame = {
    // Loud precondition (the PlantOffset guard): every natural
    // doc_id must sit below PlantOffset, else planted ids collide with
    // natural ones and the `doc_id_2 == doc_id_1 + PlantOffset`
    // restriction could silently admit natural pairs into both planted
    // oracles. A corpus with larger ids needs a larger offset, not a
    // quietly corrupted oracle.
    val guarded = docs.filter(assert_true(col("doc_id") < PlantOffset,
      lit(s"withPlanted: doc_id >= $PlantOffset collides with planted ids — raise PlantOffset")).isNull)
    guarded.unionByName(guarded.filter(pmod(col("doc_id"), lit(4L)) === 0L)
      .select((col("doc_id") + PlantOffset).as("doc_id"), col("source"),
        concat(lit(" "), col("text"), lit("\t")).as("text")))
  }

  /** Token stream: one row per (doc, position, token). posexplode +
    * a row-level length filter keeps tokenization inside whole-stage
    * codegen — higher-order array functions (transform/filter) are
    * interpreted in Spark and, worse, get inlined into scan filters
    * by constraint propagation, so array-free is the scalable form.
    */
  private def tokenStreamOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("source"),
        posexplode(split(lower(col("text")), Text.TokenSplitRegex)).as(Seq("pos", "tok")))
      .filter(length(col("tok")) > 0)

  /** One row per distinct (doc, hashed 3-token shingle). Shingles are
    * keyed by 64-bit hash: joins and signatures operate on 8-byte keys
    * instead of ~30-char strings — far less shuffle bytes and
    * build-side memory (collision odds over the shingle vocabulary are
    * ~|V|²/2⁶⁴, negligible).
    *
    * Built by the native `ShingleHashes` expression: one narrow pass
    * per document (tokenize → slide → hash → in-loop dedup) with NO
    * shuffle. The earlier composed form (posexplode → two lead()
    * windows → concat → distinct) paid a per-doc window-sort exchange
    * for the same output — measured at sf0.1: ngram-jaccard 1.9→1.2 s,
    * minhash-LSH 2.2→1.5 s. Output rows are identical (same tokenizer
    * regex, same xxhash64 seed).
    */
  private[operators] def shingleHashRowsOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("source"),
        explode(graft.functions.ShingleHashes.shingle_hashes(col("text"), 3)).as("sh"))

  private def shingleSizesOf(docs: DataFrame): DataFrame =
    shingleHashRowsOf(docs).groupBy("doc_id")
      .agg(count(lit(1)).as("sh_size"))

  /** Blocked n-gram-Jaccard near-dup pairs: candidate pairs share a
    * blocking key (source), verified with exact trigram-shingle
    * Jaccard ≥ 0.35. The block join is a shuffle on the key; pair
    * expansion is per-block only.
    */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame =
    nearDupPairsOf(spark, dir).orderBy("doc_id_1", "doc_id_2")

  /** Cold fill time of the near-dup pair memo — its own
    * `memo_fill_breakdown` entry so the one-time cost stays
    * attributable (VERDICT r14 #8 discipline).
    */
  val pairsFillNanos = new java.util.concurrent.atomic.AtomicLong(0L)

  /** The verified near-dup pair table of the NATURAL corpus (blocked
    * exact shingle-Jaccard ≥ 0.35), MEMOIZED per (session, corpus
    * dir) — the `semIndexMemo` discipline applied to the lexical
    * side: a dedup pipeline materializes its verified pair set once
    * per corpus snapshot, and every rollup probes the materialization
    * (`dd_ngram_jaccard` formats it, `pipe_dedup_impact` scores the
    * removal, `pipe_split_leakage` crosses it with the split
    * assignment — three registry rows, one pair computation). Fills
    * during Bench's untimed warmup, accounted in `memo_fill_sec`.
    */
  private val nearDupPairsMemo =
    Memo[DataFrame]("Dedup.nearDupPairs", pairsFillNanos)

  private[graft] def nearDupPairsOf(spark: SparkSession, dir: String): DataFrame =
    nearDupPairsMemo(spark, dir)(
      graft.Ckpt.truncate(ngramJaccardOn(docsTable(spark, dir))))

  /** Shingle CONTAINMENT ≥ 0.3 pairs — the asymmetric companion to
    * Jaccard: containment(a→b) = |A∩B| / |A| flags a document mostly
    * embedded in another even when the size imbalance keeps Jaccard
    * low (the quote-of-a-long-doc / eval-subset-of-training-doc case
    * Jaccard structurally misses). Same set-similarity equi-join
    * shape as `ngramJaccardOn` (shared-shingle pairs only, no arrays
    * per pair, raw-filter-then-round), but ordered pairs: both
    * directions can fire independently.
    */
  def containment(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // same shared-shingle-pass materialization as ngramJaccardOn
    val r = shingleHashRowsOf(docs).truncated
    val inter = r.select(col("source"), col("doc_id").as("doc_id_a"), col("sh"))
      .join(r.select(col("source"), col("doc_id").as("doc_id_b"), col("sh")),
        Seq("source", "sh"))
      .filter(col("doc_id_a") =!= col("doc_id_b"))
      .groupBy("doc_id_a", "doc_id_b")
      .agg(count(lit(1)).as("n_inter"))
    val sizes = r.groupBy("doc_id").agg(count(lit(1)).as("sh_size"))
    inter
      .join(sizes.withColumnsRenamed(Map("doc_id" -> "doc_id_a", "sh_size" -> "sz_a")),
        Seq("doc_id_a"))
      .withColumn("containment_raw",
        col("n_inter").cast("double") / col("sz_a").cast("double"))
      .filter(col("containment_raw") >= 0.3)
      .select(col("doc_id_a"), col("doc_id_b"),
        round(col("containment_raw"), 4).as("containment"))
      .orderBy("doc_id_a", "doc_id_b")
  }

  def ngramJaccardOn(docs: DataFrame): DataFrame = {
    // set-similarity join: pairs that share >=1 shingle (equi-join on
    // the shingle itself), |A∩B| by count, |A∪B| = |A|+|B|-|A∩B|.
    // No pair ever materializes both arrays; everything is a
    // codegen'd join + hash aggregate. Pairs sharing nothing are
    // never generated at all (they can't pass any threshold > 0).
    // materialize the tokenize+shingle pass once: it feeds both sides
    // of the set-similarity self-join and the size table
    val r = shingleHashRowsOf(docs).truncated
    val inter = r.select(col("source"), col("doc_id").as("doc_id_1"), col("sh"))
      .join(r.select(col("source"), col("doc_id").as("doc_id_2"), col("sh")),
        Seq("source", "sh"))
      .filter(col("doc_id_1") < col("doc_id_2"))
      .groupBy("doc_id_1", "doc_id_2")
      .agg(count(lit(1)).as("n_inter"))
    val sizes = r.groupBy("doc_id").agg(count(lit(1)).as("sh_size"))
    inter
      .join(sizes.withColumnsRenamed(Map("doc_id" -> "doc_id_1", "sh_size" -> "sz1")), Seq("doc_id_1"))
      .join(sizes.withColumnsRenamed(Map("doc_id" -> "doc_id_2", "sh_size" -> "sz2")), Seq("doc_id_2"))
      .withColumn("jaccard_raw", col("n_inter").cast("double") /
        (col("sz1") + col("sz2") - col("n_inter")).cast("double"))
      .filter(col("jaccard_raw") >= 0.35)
      .select(col("doc_id_1"), col("doc_id_2"), round(col("jaccard_raw"), 4).as("jaccard"))
      .orderBy("doc_id_1", "doc_id_2")
  }

  /** UNBLOCKED exact shingle-Jaccard pairs (any pair sharing ≥1
    * shingle, no source blocking) — the brute-force ground truth the
    * parity spec compares `minhashLsh`'s natural output against:
    * every LSH-reported pair must appear here with the identical
    * rounded jaccard (exact precision + exact verify math), and LSH
    * may only MISS pairs (candidate recall is the one probabilistic
    * degree of freedom). Spec-scale only — at corpus scale use the
    * blocked/banded forms.
    */
  def allPairsJaccardOn(docs: DataFrame): DataFrame = {
    val r = shingleHashRowsOf(docs).select("doc_id", "sh")
    val inter = r.withColumnRenamed("doc_id", "doc_id_1")
      .join(r.withColumnsRenamed(Map("doc_id" -> "doc_id_2", "sh" -> "sh2")),
        col("sh") === col("sh2") && col("doc_id_1") < col("doc_id_2"))
      .groupBy("doc_id_1", "doc_id_2")
      .agg(count(lit(1)).as("n_inter"))
    val sizes = shingleSizesOf(docs)
    inter
      .join(sizes.withColumnsRenamed(Map("doc_id" -> "doc_id_1", "sh_size" -> "sz1")), Seq("doc_id_1"))
      .join(sizes.withColumnsRenamed(Map("doc_id" -> "doc_id_2", "sh_size" -> "sz2")), Seq("doc_id_2"))
      .withColumn("jaccard_raw", col("n_inter").cast("double") /
        (col("sz1") + col("sz2") - col("n_inter")).cast("double"))
      // filter on the RAW value, then round for display — the
      // ngramJaccardOn / DuckDB-oracle convention; filtering on the
      // rounded value would classify raw ∈ [0.34995, 0.35) differently
      .filter(col("jaccard_raw") >= 0.35)
      .select(col("doc_id_1"), col("doc_id_2"),
        round(col("jaccard_raw"), 4).as("jaccard"))
  }

  private val MinhashK = 32 // signature length
  private val BandRows = 4  // rows per LSH band → 8 bands

  /** MinHash + LSH near-dup candidates, fully declarative:
    * shingle → K minhashes (xxhash64 with K seeds, min per doc) →
    * bands of BandRows → bucket join on (band, band-hash) → exact
    * Jaccard verification of candidates only. The classic
    * Broder/MMDS construction; at 100 TB the bucket join replaces the
    * all-pairs comparison entirely.
    */
  /** K-slot MinHash signature per doc from shingle rows (xxhash64
    * with K seeds, min per doc) — ONE definition shared by the batch
    * LSH and the persisted-index ops, so an index built yesterday and
    * a probe computed today can never drift on hashing semantics.
    */
  private[operators] def sigsOf(r0: DataFrame): DataFrame = {
    val sigCols = (0 until MinhashK).map { i =>
      min(xxhash64(col("sh"), lit(i))).as(s"h$i")
    }
    r0.groupBy("doc_id").agg(sigCols.head, sigCols.tail: _*)
  }

  /** LSH band buckets of a signature table: (doc_id, band, bucket). */
  private[operators] def bandBucketsOf(sigs: DataFrame): DataFrame = {
    val bands = (0 until MinhashK / BandRows).map { b =>
      val cols = (b * BandRows until (b + 1) * BandRows).map(i => col(s"h$i"))
      struct(lit(b).as("band"), xxhash64(cols: _*).as("bucket"))
    }
    sigs
      .select(col("doc_id"), explode(array(bands: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** Optional hot-bucket cap (`graft.lsh.bucketcap`): when set, band
    * buckets WIDER than the cap are excluded from candidate
    * generation — the standard LSH super-bucket mitigation for
    * boilerplate-heavy corpora, where near-identical shingle sets
    * collapse thousands of docs into one bucket and the candidate
    * join goes quadratic in its width (measured on the §5.2
    * `--boilerplate` rehearsal: widest bucket 2,660 docs, 18.6M raw
    * band pairs at sf1). A pair dropped from one hot bucket still
    * surfaces through any of its other bands unless those are hot
    * too — the residual loss is confined to docs near-identical to
    * ≥cap others, which under dedup semantics is the drop-all-but-one
    * population anyway. Unset (the default and every registry row)
    * the probe is exhaustive; Round13OpsSpec pins byte-identity under
    * cap=64 on corpora whose buckets are all narrower.
    */
  private def capBuckets(buckets: DataFrame): DataFrame =
    buckets.sparkSession.conf.getOption("graft.lsh.bucketcap")
      .map(_.toLong).fold(buckets) { c =>
        val ok = buckets.groupBy("band", "bucket")
          .agg(count(lit(1)).as("bucket_w"))
          .filter(col("bucket_w") <= c)
          .select("band", "bucket")
        buckets.join(ok, Seq("band", "bucket"))
      }

  def minhashLshOn(docs: DataFrame): DataFrame = {
    // The shingle rows feed FOUR subtrees (signatures, both exact-
    // verify sides, sizes) and the bucket self-join would otherwise
    // re-run the whole signature pipeline per side — materialize the
    // tokenize+shingle pass once. This is also the production shape:
    // signatures and shingle sets are computed once and STORED, then
    // probed by banding and verification (dd_incremental_probe IS
    // that stored form).
    val r0 = shingleHashRowsOf(docs).truncated
    val buckets = capBuckets(bandBucketsOf(sigsOf(r0)))
    val cand = buckets.as("x")
      .join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_id_1"), col("y.doc_id").as("doc_id_2"))
      .distinct()
    // exact-verify ONLY the candidates (tiny set): intersection counts
    // via broadcast joins against the materialized shingle rows.
    val r = r0.select("doc_id", "sh")
    val inter = broadcast(cand)
      .join(r.withColumnRenamed("doc_id", "doc_id_1"), Seq("doc_id_1"))
      .join(r.withColumnsRenamed(Map("doc_id" -> "doc_id_2", "sh" -> "sh2")),
        Seq("doc_id_2"))
      .filter(col("sh") === col("sh2"))
      .groupBy("doc_id_1", "doc_id_2")
      .agg(count(lit(1)).as("n_inter"))
    val sizes = r0.groupBy("doc_id").agg(count(lit(1)).as("sh_size"))
    inter
      .join(sizes.withColumnsRenamed(Map("doc_id" -> "doc_id_1", "sh_size" -> "sz1")), Seq("doc_id_1"))
      .join(sizes.withColumnsRenamed(Map("doc_id" -> "doc_id_2", "sh_size" -> "sz2")), Seq("doc_id_2"))
      .withColumn("jaccard_raw", col("n_inter").cast("double") /
        (col("sz1") + col("sz2") - col("n_inter")).cast("double"))
      // raw-filter-then-round, matching ngramJaccardOn and the oracle
      .filter(col("jaccard_raw") >= 0.35)
      .select(col("doc_id_1"), col("doc_id_2"),
        round(col("jaccard_raw"), 4).as("jaccard"))
      .orderBy("doc_id_1", "doc_id_2")
  }

  /** The natural-corpus form (kept for the recall spec). */
  def minhashLsh(spark: SparkSession, dir: String): DataFrame =
    minhashLshOn(docsTable(spark, dir))

  /** The registry form: run the FULL LSH pipeline over the corpus plus
    * planted identical-token copies, then keep only the planted pairs
    * — whose candidate recall is deterministically 1 (identical
    * signatures land in identical buckets), so a DuckDB brute-force
    * shingle-Jaccard over the (id, id + PlantOffset) domain is an
    * exact hash-level oracle for the whole pipeline.
    */
  def minhashLshPlanted(spark: SparkSession, dir: String): DataFrame =
    plantedPairsOnly(minhashLshOn(withPlanted(docsTable(spark, dir))))

  // ---------------------------------------------------------------
  // Incremental dedup against a PERSISTED LSH index (daily-ingest)
  // ---------------------------------------------------------------

  /** Persisted-index staging root (the stageTextDir convention: under
    * the build dir, keyed by basename + abs-path hash).
    */
  val LshIndexRoot = "/root/repo/target/graft_lsh_index"

  /** Committed-version path of the staged LSH index — resolves the
    * stage root's `_CURRENT` pointer, so callers (freshness specs,
    * external probes) read the same immutable version directory
    * `stageLshIndex` returned. THROWS (NoSuchFileException) when
    * nothing is committed yet — staging always precedes serving; a
    * caller that can handle "not staged yet" must go through
    * `Staging.resolveOpt` instead (ADVICE r15 #3).
    */
  def lshIndexPathFor(dir: String): String =
    Staging.resolve(Staging.pathFor(LshIndexRoot, dir))

  // explicit read schemas: an EMPTY corpus stages zero part files and
  // a schemaless parquet read would fail (the RobustnessSpec contract)
  private val IdxBucketsSchema = "doc_id BIGINT, band INT, bucket BIGINT"
  private val IdxShinglesSchema = "doc_id BIGINT, sh BIGINT"
  private val IdxSizesSchema = "doc_id BIGINT, sh_size BIGINT"

  /** (subtable, read schema) of the on-disk LSH index layout — the
    * compaction helper rewrites each subtable through these schemas
    * (StreamingOps.compactStreamedIndex).
    */
  private[graft] val LshIndexTables: Seq[(String, String)] = Seq(
    "shingles" -> IdxShinglesSchema,
    "buckets" -> IdxBucketsSchema,
    "sizes" -> IdxSizesSchema)

  /** Builds (once, idempotently) the on-disk MinHash-LSH index of the
    * corpus: band buckets, shingle rows, and set sizes — the artifact
    * a production pipeline materializes so that DAILY INGEST pays
    * O(batch), not O(corpus). Same atomic swap protocol as
    * `WordCount.stageTextDir` (tmp write → aside rename → rename into
    * place), so a concurrent reader never sees a half-written index.
    */
  def stageLshIndex(spark: SparkSession, dir: String): String =
    stageLshIndexOf(dir)(docsTable(spark, dir))

  /** Corpus-agnostic staging (the probe-generality spec builds an
    * index over an arbitrary docs frame).
    */
  /** Cold fill time of the on-disk LSH index (accumulates only when
    * the staging actually rebuilds) — itemized in bench.json's
    * `memo_fill_breakdown` (VERDICT r14 #8).
    */
  val lshFillNanos = new java.util.concurrent.atomic.AtomicLong(0L)

  private[graft] def stageLshIndexOf(dir: String)(docs: => DataFrame): String =
    Staging.stagedDir(LshIndexRoot, dir) { tmp =>
      Memo.timed(lshFillNanos)(stageLshWrite(tmp, docs))
    }

  private def stageLshWrite(tmp: java.nio.file.Path,
      docs: => DataFrame): Unit = {
      val r0 = shingleHashRowsOf(docs).truncated
      r0.select("doc_id", "sh")
        .write.mode("overwrite").parquet(tmp.resolve("shingles").toString)
      bandBucketsOf(sigsOf(r0))
        .write.mode("overwrite").parquet(tmp.resolve("buckets").toString)
      r0.groupBy("doc_id").agg(count(lit(1)).as("sh_size"))
        .write.mode("overwrite").parquet(tmp.resolve("sizes").toString)
    }

  /** The "new batch" of the incremental scenario: identical-token
    * twins of every 4th doc (the `withPlanted` perturbation), arriving
    * as today's ingest against yesterday's index. Guarded like
    * `withPlanted`: natural ids must sit below PlantOffset.
    */
  private[graft] def ingestBatchOf(docs: DataFrame): DataFrame =
    docs.filter(assert_true(col("doc_id") < PlantOffset,
        lit(s"ingestBatchOf: doc_id >= $PlantOffset collides with batch ids — raise PlantOffset")).isNull)
      .filter(pmod(col("doc_id"), lit(4L)) === 0L)
      .select((col("doc_id") + PlantOffset).as("doc_id"), col("source"),
        concat(lit(" "), col("text"), lit("\t")).as("text"))

  /** Incremental near-dup dedup — the shape a 100 TB pipeline actually
    * runs EVERY DAY: the corpus index (signatures banded to buckets +
    * shingle rows + sizes) is built ONCE and persisted
    * (`stageLshIndex`); each new ingest batch then computes signatures
    * for ITSELF ONLY and probes the stored buckets, so the recurring
    * cost is O(batch + matched candidates), never a corpus re-scan.
    * Candidate pairs verify with exact shingle Jaccard ≥ 0.35 — index
    * side read back from the stored shingle rows, batch side from the
    * just-computed pass. No broadcast hint on the candidate join (the
    * `pipe_near_decontaminate` lesson): AQE picks per actual sizes.
    *
    * Oracle: the batch is the `withPlanted` twin set, whose token
    * stream is identical to its original's — candidate recall is
    * deterministically 1 (identical signatures, identical buckets), so
    * the DuckDB brute-force Jaccard over the (id, id + PlantOffset)
    * domain hash-checks the ENTIRE stored-index path end to end (the
    * `dd_minhash_lsh` oracle trick applied to the incremental form;
    * Round12OpsSpec additionally pins that the probe equals the batch
    * pipeline's planted rows and that a second run reuses the staged
    * index without rebuilding).
    */
  def incrementalProbe(spark: SparkSession, dir: String): DataFrame =
    plantedPairsOnly(probeLshIndex(spark, stageLshIndex(spark, dir),
      ingestBatchOf(docsTable(spark, dir))))

  /** The certification-domain restriction: keep ONLY the planted
    * (id, id + PlantOffset) twin pairs, whose candidate recall is
    * deterministically 1 — which is what makes the DuckDB brute-force
    * oracle closed-form. Lives HERE, on the registry-facing wrappers,
    * never inside the generic probe/read path (VERDICT r12's one weak
    * item): a production probe must surface organic near-dups across
    * arbitrary ids, and Round13OpsSpec pins that it does.
    */
  private[graft] def plantedPairsOnly(pairs: DataFrame): DataFrame =
    pairs.filter(col("doc_id_2") === col("doc_id_1") + PlantOffset)

  /** The probe half against ANY on-disk index layout (batch-staged by
    * `stageLshIndex` or stream-appended by
    * `StreamingOps.streamIndexIngest` — the read path cannot tell the
    * difference, which is the point). Domain-agnostic: every verified
    * pair (index doc × batch doc, exact Jaccard ≥ 0.35) surfaces,
    * whatever the ids; certification wrappers narrow to the planted
    * domain AFTERWARDS via `plantedPairsOnly`.
    */
  private[graft] def probeLshIndex(spark: SparkSession, idxRoot: String,
      batch: DataFrame): DataFrame = {
    // serve-path resolution through the `_CURRENT` pointer when the
    // root carries one (a compacted stream-owned index); a live flat
    // layout or an already-resolved staged version path reads as-is
    val idx = Staging.resolveOpt(idxRoot).getOrElse(idxRoot)
    // recursiveFileLookup: the stream-maintained layout nests
    // batch-keyed subdirectories (idempotent per-batch overwrites);
    // the flat batch-staged layout reads identically under it
    val idxBuckets = capBuckets(spark.read.schema(IdxBucketsSchema)
      .option("recursiveFileLookup", "true").parquet(s"$idx/buckets"))
    val idxShingles = spark.read.schema(IdxShinglesSchema)
      .option("recursiveFileLookup", "true").parquet(s"$idx/shingles")
    val idxSizes = spark.read.schema(IdxSizesSchema)
      .option("recursiveFileLookup", "true").parquet(s"$idx/sizes")
    val b0 = shingleHashRowsOf(batch).truncated
    val cand = bandBucketsOf(sigsOf(b0))
      .withColumnRenamed("doc_id", "doc_id_2")
      .join(idxBuckets.withColumnRenamed("doc_id", "doc_id_1"),
        Seq("band", "bucket"))
      .select("doc_id_1", "doc_id_2")
      .distinct()
    val inter = cand
      .join(idxShingles.withColumnRenamed("doc_id", "doc_id_1"), Seq("doc_id_1"))
      .join(b0.select(col("doc_id").as("doc_id_2"), col("sh").as("sh2")),
        Seq("doc_id_2"))
      .filter(col("sh") === col("sh2"))
      .groupBy("doc_id_1", "doc_id_2")
      .agg(count(lit(1)).as("n_inter"))
    val bSizes = b0.groupBy("doc_id").agg(count(lit(1)).as("sh_size"))
    inter
      .join(idxSizes.withColumnsRenamed(
        Map("doc_id" -> "doc_id_1", "sh_size" -> "sz1")), Seq("doc_id_1"))
      .join(bSizes.withColumnsRenamed(
        Map("doc_id" -> "doc_id_2", "sh_size" -> "sz2")), Seq("doc_id_2"))
      .withColumn("jaccard_raw", col("n_inter").cast("double") /
        (col("sz1") + col("sz2") - col("n_inter")).cast("double"))
      .filter(col("jaccard_raw") >= 0.35)
      .select(col("doc_id_1"), col("doc_id_2"),
        round(col("jaccard_raw"), 4).as("jaccard"))
      .orderBy("doc_id_1", "doc_id_2")
  }

  /** MinHash estimator-calibration constants: K affine permutations
    * h_i(u) = (aᵢ·u + bᵢ) mod p over rolling-hashed shingles — unlike
    * the xxhash64 signatures of `dd_minhash_lsh` (not computable in
    * DuckDB, hence its planted-pair oracle), every piece here replays
    * exactly in SQL, so the CENSUS of estimate-vs-truth is hash-green
    * end to end. 1e6/K is integral (62,500), so the estimate is an
    * exact integer too.
    */
  val MinhashErrK = 16
  val MinhashErrP = 1000000007L
  val MinhashErrOffset = 3000000L
  private[operators] def minhashErrA(i: Int): Long = (2654435761L + 40503L * i) % MinhashErrP
  private[operators] def minhashErrB(i: Int): Long = (97781L * i + 12289L) % MinhashErrP

  /** Sketch-accuracy census — the calibration a pipeline owner runs
    * BEFORE trusting MinHash at corpus scale: for a planted near-dup
    * pair per 4th doc (twin = doc + 4 appended tokens, so true
    * Jaccard sits strictly inside (0, 1), not at the degenerate 1.0
    * of the LSH planting), compare the K-permutation MinHash estimate
    * matches/K against the EXACT shingle-set Jaccard, both as ×1e6
    * integers, with the absolute error per pair. E[matches/K] = J is
    * the Broder identity being audited. Shape: one shingle explode +
    * distinct, one keyed agg building the K-slot signature (map-side
    * partials), one collect_set per doc (bounded by doc length), one
    * equi-join on the planted pair key — pair domain is O(n/4), never
    * all-pairs. Everything integer: rolling-hash shingles, affine
    * permutations mod p, cross-multiplied HALF_UP Jaccard.
    */
  def minhashErrorCensus(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      .filter(assert_true(col("doc_id") < MinhashErrOffset,
        lit("minhashErrorCensus: doc_id collides with twin ids")).isNull)
    val twins = base.filter(col("doc_id") % 4 === 0)
      .select((col("doc_id") + MinhashErrOffset).as("doc_id"),
        concat(col("text"), lit(" omega kappa sigma delta")).as("text"))
    val sh = base.unionByName(twins)
      .select(col("doc_id"),
        explode(graft.functions.NGrams.ngrams(col("text"), 3)).as("span"))
      .select(col("doc_id"), Text.rollingHash(col("span")).as("u"))
      .distinct()
    val sigCols = (0 until MinhashErrK).map { i =>
      min((col("u") * minhashErrA(i) + minhashErrB(i)) % MinhashErrP).as(s"h$i")
    }
    val docStats = sh.groupBy("doc_id")
      .agg(collect_set(col("u")).as("shs"), sigCols: _*)
      .select(col("doc_id"), col("shs"),
        array((0 until MinhashErrK).map(i => col(s"h$i")): _*).as("sig"))
    val left = docStats.filter(col("doc_id") % 4 === 0 &&
      col("doc_id") < MinhashErrOffset)
    val right = docStats.filter(col("doc_id") >= MinhashErrOffset)
      .select((col("doc_id") - MinhashErrOffset).as("doc_id"),
        col("shs").as("shs2"), col("sig").as("sig2"))
    left.join(right, "doc_id")
      .select(col("doc_id"),
        size(col("shs")).cast("long").as("n_sh_1"),
        size(col("shs2")).cast("long").as("n_sh_2"),
        size(filter(zip_with(col("sig"), col("sig2"),
          (x, y) => x === y), b => b)).cast("long").as("matches"),
        size(array_intersect(col("shs"), col("shs2"))).cast("long").as("n_inter"))
      .withColumn("est_x1e6", col("matches") * lit(1000000L / MinhashErrK))
      .withColumn("uni", col("n_sh_1") + col("n_sh_2") - col("n_inter"))
      .withColumn("jaccard_x1e6",
        expr("(2*n_inter*1000000 + uni) div (2*uni)"))
      .withColumn("err_x1e6", abs(col("est_x1e6") - col("jaccard_x1e6")))
      .drop("uni")
      .orderBy("doc_id")
  }

  private def minhashErrorOracle: String = {
    val sigExprs = (0 until MinhashErrK).map(i =>
      s"min((u * ${minhashErrA(i)} + ${minhashErrB(i)}) % $MinhashErrP) AS h$i")
      .mkString(",\n    ")
    val matchExpr = (0 until MinhashErrK).map(i =>
      s"CASE WHEN l.h$i = r.h$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH docs AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + $MinhashErrOffset, text || ' omega kappa sigma delta'
      |  FROM documents WHERE doc_id % 4 = 0),
      |toks AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(text), '[[:punct:][:space:]]+'),
      |                x -> len(x) > 0) AS t
      |  FROM docs),
      |spans AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
      |      i -> array_to_string(t[i:i+2], ' '))) AS span
      |  FROM toks),
      |u AS (
      |  SELECT DISTINCT doc_id,
      |    CAST(list_reduce(
      |      list_prepend(CAST(0 AS BIGINT),
      |        list_transform(range(1, length(span) + 1),
      |          i -> CAST(ascii(span[i]) AS BIGINT))),
      |      (acc, x) -> (acc * 131 + x) % $MinhashErrP) AS BIGINT) AS u
      |  FROM spans),
      |sig AS (
      |  SELECT doc_id, count(*) AS sz,
      |    $sigExprs
      |  FROM u GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id, count(*) AS n_inter
      |  FROM u a JOIN u b ON b.doc_id = a.doc_id + $MinhashErrOffset
      |    AND b.u = a.u
      |  WHERE a.doc_id % 4 = 0 AND a.doc_id < $MinhashErrOffset
      |  GROUP BY a.doc_id)
      |SELECT l.doc_id, l.sz AS n_sh_1, r.sz AS n_sh_2,
      |  CAST($matchExpr AS BIGINT) AS matches,
      |  CAST(coalesce(n_inter, 0) AS BIGINT) AS n_inter,
      |  CAST($matchExpr AS BIGINT) * ${1000000L / MinhashErrK} AS est_x1e6,
      |  (2*coalesce(n_inter, 0)*1000000 + (l.sz + r.sz - coalesce(n_inter, 0)))
      |    // (2*(l.sz + r.sz - coalesce(n_inter, 0))) AS jaccard_x1e6,
      |  abs(CAST($matchExpr AS BIGINT) * ${1000000L / MinhashErrK} -
      |    (2*coalesce(n_inter, 0)*1000000 + (l.sz + r.sz - coalesce(n_inter, 0)))
      |    // (2*(l.sz + r.sz - coalesce(n_inter, 0)))) AS err_x1e6
      |FROM sig l
      |JOIN sig r ON r.doc_id = l.doc_id + $MinhashErrOffset
      |LEFT JOIN inter ON inter.doc_id = l.doc_id
      |WHERE l.doc_id % 4 = 0 AND l.doc_id < $MinhashErrOffset
      |ORDER BY l.doc_id""".stripMargin
  }

  /** Twin-id stride and perturbation strengths for the LSH recall
    * census: strength s drops every s-th token, so the planted twins
    * sweep a graded Jaccard spectrum (harsher at small s, milder at
    * large) instead of the single J of the minhash-error twins.
    */
  val LshGradOffset = 10000000L
  // Milder drops at higher s: a 3-shingle dies if ANY of its tokens
  // drops, so J ≈ (s−3)/s plus seam shingles — {4, 8, 16, 32} sweeps
  // J ≈ 0.2 → 0.9, the whole working range of the banding S-curve
  // (measured recall 0% → ~97% at 4 bands × 4 rows).
  val LshGradStrengths = Seq(4, 8, 16, 32)

  /** LSH banding recall census (the bands×rows S-curve of
    * Broder's MinHash + Leskovec/Rajaraman/Ullman MMDS ch. 3) — the
    * calibration the IVF side already
    * has (`ann_recall_curve`) applied to the dedup side's OWN
    * probabilistic step: banding. For every 4th doc and each
    * perturbation strength, a planted twin (every s-th token dropped)
    * is signed with the REPLAYABLE affine MinHash, and the census
    * reports per strength: pair count, mean exact Jaccard (HALF_UP
    * ×1e6), how many pairs share at least one full band (the LSH
    * catch), and the recall in ppm — the measured S-curve of the
    * banding scheme, which is what decides bands×rows at production
    * thresholds. Everything integer/deterministic, so DuckDB replays
    * signatures, band equality, and the catch bit cell-for-cell.
    * Shape: one shingle pass + one K-slot signature agg + one keyed
    * pair join on the planted key (pair domain O(n)); per-pair
    * shingle sets ride collect_set bounded by doc length.
    */
  def lshRecallCensus(spark: SparkSession, dir: String): DataFrame = {
    // only every 4th doc participates in a pair — restricting BEFORE
    // the shingle/signature pass cuts the collect_set + 16-min-agg
    // work 4× (the oracle's docs CTE carries the same WHERE)
    val base = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      .filter(col("doc_id") % 4 === 0)
      .filter(assert_true(col("doc_id") < LshGradOffset,
        lit("lshRecallCensus: doc_id collides with twin ids")).isNull)
    val toks = Text.tokens(lower(col("text")))
    val twins = LshGradStrengths.map { s =>
      base
        .select((col("doc_id") + lit(s * LshGradOffset)).as("doc_id"),
          // Spark's filter index is 0-based; DuckDB's is 1-based —
          // (i + 1) here replays as plain i there
          array_join(filter(toks, (_, i) => (i + 1) % s =!= 0), " ").as("text"))
    }.reduce(_ unionByName _)
    val sh = base.unionByName(twins)
      .select(col("doc_id"),
        explode(graft.functions.NGrams.ngrams(col("text"), 3)).as("span"))
      .select(col("doc_id"), Text.rollingHash(col("span")).as("u"))
      .distinct()
    val sigCols = (0 until MinhashErrK).map { i =>
      min((col("u") * minhashErrA(i) + minhashErrB(i)) % MinhashErrP).as(s"h$i")
    }
    val stats = sh.groupBy("doc_id")
      .agg(collect_set(col("u")).as("shs"), sigCols: _*)
    val left = stats.filter(col("doc_id") % 4 === 0 &&
      col("doc_id") < LshGradOffset)
    val rightCols = Seq(
      (col("doc_id") % LshGradOffset).as("doc_id"),
      expr(s"doc_id div $LshGradOffset").cast("long").as("s"),
      col("shs").as("shs2")) ++
      (0 until MinhashErrK).map(i => col(s"h$i").as(s"g$i"))
    val right = stats.filter(col("doc_id") >= LshGradOffset)
      .select(rightCols: _*)
    val bandRows = 4
    val caught = (0 until MinhashErrK / bandRows).map { b =>
      (b * bandRows until (b + 1) * bandRows)
        .map(i => col(s"h$i") === col(s"g$i")).reduce(_ && _)
    }.reduce(_ || _)
    left.join(right, "doc_id")
      .select(col("s"),
        caught.cast("long").as("caught"),
        size(col("shs")).cast("long").as("sz1"),
        size(col("shs2")).cast("long").as("sz2"),
        size(array_intersect(col("shs"), col("shs2"))).cast("long").as("ni"))
      .withColumn("uni", col("sz1") + col("sz2") - col("ni"))
      .withColumn("jx", expr("(2*ni*1000000 + uni) div (2*uni)"))
      .groupBy("s")
      .agg(count(lit(1)).as("n_pairs"), sum(col("caught")).as("n_caught"),
        expr("(2*sum(jx) + count(1)) div (2*count(1))").as("avg_jaccard_x1e6"),
        expr("(2*sum(caught)*1000000 + count(1)) div (2*count(1))")
          .as("recall_ppm"))
      .orderBy("s")
  }

  private def lshRecallOracle: String = {
    val K = MinhashErrK
    val sigExprs = (0 until K).map(i =>
      s"min((u * ${minhashErrA(i)} + ${minhashErrB(i)}) % $MinhashErrP) AS h$i")
      .mkString(",\n    ")
    val bandRows = 4
    val caughtExpr = (0 until K / bandRows).map { b =>
      "(" + (b * bandRows until (b + 1) * bandRows)
        .map(i => s"l.h$i = r.h$i").mkString(" AND ") + ")"
    }.mkString(" OR ")
    val twinSelects = LshGradStrengths.map { s =>
      s"""SELECT doc_id + ${s * LshGradOffset} AS doc_id,
  array_to_string(list_filter(t, (x, i) -> i % $s <> 0), ' ') AS text
  FROM base_toks"""
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH base_toks AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(text), '[[:punct:][:space:]]+'),
      |                x -> len(x) > 0) AS t
      |  FROM documents WHERE doc_id % 4 = 0),
      |docs AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0
      |  UNION ALL
      |  $twinSelects),
      |toks AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(text), '[[:punct:][:space:]]+'),
      |                x -> len(x) > 0) AS t
      |  FROM docs),
      |spans AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
      |      i -> array_to_string(t[i:i+2], ' '))) AS span
      |  FROM toks),
      |u AS (
      |  SELECT DISTINCT doc_id,
      |    CAST(list_reduce(
      |      list_prepend(CAST(0 AS BIGINT),
      |        list_transform(range(1, length(span) + 1),
      |          i -> CAST(ascii(span[i]) AS BIGINT))),
      |      (acc, x) -> (acc * 131 + x) % $MinhashErrP) AS BIGINT) AS u
      |  FROM spans),
      |sig AS (
      |  SELECT doc_id, count(*) AS sz,
      |    $sigExprs
      |  FROM u GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS base_id, b.doc_id // $LshGradOffset AS s,
      |    count(*) AS ni
      |  FROM u a JOIN u b ON b.doc_id % $LshGradOffset = a.doc_id
      |    AND b.doc_id >= $LshGradOffset AND b.u = a.u
      |  WHERE a.doc_id % 4 = 0 AND a.doc_id < $LshGradOffset
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT l.doc_id AS base_id, r.doc_id // $LshGradOffset AS s,
      |    CASE WHEN $caughtExpr THEN 1 ELSE 0 END AS caught,
      |    l.sz AS sz1, r.sz AS sz2,
      |    coalesce(i.ni, 0) AS ni
      |  FROM sig l
      |  JOIN sig r ON r.doc_id % $LshGradOffset = l.doc_id
      |    AND r.doc_id >= $LshGradOffset
      |  LEFT JOIN inter i ON i.base_id = l.doc_id
      |    AND i.s = r.doc_id // $LshGradOffset
      |  WHERE l.doc_id % 4 = 0 AND l.doc_id < $LshGradOffset),
      |j AS (
      |  SELECT s, caught,
      |    (2*ni*1000000 + (sz1 + sz2 - ni)) // (2*(sz1 + sz2 - ni)) AS jx
      |  FROM pairs)
      |SELECT s, count(*) AS n_pairs,
      |  CAST(sum(caught) AS BIGINT) AS n_caught,
      |  (2*CAST(sum(jx) AS BIGINT) + count(*)) // (2*count(*))
      |    AS avg_jaccard_x1e6,
      |  (2*CAST(sum(caught) AS BIGINT)*1000000 + count(*)) // (2*count(*))
      |    AS recall_ppm
      |FROM j GROUP BY s ORDER BY s""".stripMargin
  }

  /** 64-bit SimHash over token hashes, hamming ≤ 3 near-dup pairs.
    * Output = exactly the hamming≤3 pair set (candidate blocking is
    * recall-lossless by pigeonhole), computed with two scale tricks:
    *
    * 1. PACKED bit sums: instead of 64 conditional ±1 aggregates, 22
    *    sums of 3 bit-lanes packed 21 bits apart in one long (lane
    *    counts are set-bit counts; sign_b = 2*ones_b > n). 23 agg
    *    buffers instead of 64 — the aggregate was the round-1
    *    bottleneck. Lanes hold counts up to 2^21-1 distinct
    *    tokens/doc without inter-lane carry, and the top lane at
    *    shift 42 stays below 2^63 even at that cap (no ANSI overflow).
    * 2. FIVE bands joined by band PAIRS: hamming ≤ 3 can dirty at
    *    most 3 of 5 bands, so ≥2 stay clean and every true pair
    *    shares a clean (band_i, band_j) 25-bit key. 2^25 bucket space
    *    vs the old 4×16-bit scheme's 2^16 — the bucket tail that goes
    *    quadratic at billions of docs is 512× smaller, at the cost of
    *    C(5,2)=10 keys/doc instead of 4.
    */
  /** Per-doc 64-bit SimHash signatures — exposed so the parity spec
    * can brute-force all-pairs hamming from the SAME signatures and
    * assert the banded pipeline's output equals it exactly (the
    * pigeonhole losslessness claim, checked mechanically).
    */
  def simhashSignatures(docs: DataFrame): DataFrame = {
    // lanes: bit b lives in packed sum i = b % 22, lane l = b / 22,
    // at in-long lane offset 21*l (21-bit stride: counts < 2^21 never
    // carry, and 2^21-1 << 42 < 2^63 keeps the top lane ANSI-safe)
    val packedSums = (0 until 22).map { i =>
      val packed = (0 until 3).filter(l => i + 22 * l < 64).map { l =>
        shiftleft(shiftright(col("h"), i + 22 * l).bitwiseAND(lit(1L)), 21 * l)
      }.reduce(_.bitwiseOR(_))
      sum(packed).as(s"p$i")
    }
    val sigFromSums = (0 until 64).map { b =>
      val ones = shiftright(col(s"p${b % 22}"), 21 * (b / 22)).bitwiseAND(lit(0x1FFFFFL))
      when(ones * 2 > col("n_toks"), shiftleft(lit(1L), b)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
    tokenStreamOf(docs)
      .select(col("doc_id"), xxhash64(col("tok")).as("h")).distinct()
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"), packedSums: _*)
      // the 2^21 lane cap is a hard precondition: a doc with more
      // distinct tokens would carry between lanes and SILENTLY corrupt
      // its signature (and every pair it blocks with). assert_true
      // turns that into a loud job failure; such a doc (~tens of MB of
      // unique vocabulary) should be routed to a widened-lane variant.
      .filter(assert_true(col("n_toks") < (1L << 21),
        lit("simhash lane overflow: doc with >= 2^21 distinct tokens")).isNull)
      .select(col("doc_id"), sigFromSums.as("simhash"))
  }

  def simhashOn(docs: DataFrame): DataFrame = {
    // materialize signatures once: the band-pair self-join would
    // otherwise run the whole token-stream signature agg per side
    val sigDocs = simhashSignatures(docs).truncated
    // 5 bands of (13,13,13,13,12) bits; block on all C(5,2) band pairs
    val bandStarts = Seq(0, 13, 26, 39, 52)
    val bandBits = Seq(13, 13, 13, 13, 12)
    def bandOf(i: Int) =
      shiftright(col("simhash"), bandStarts(i))
        .bitwiseAND(lit((1L << bandBits(i)) - 1))
    val pairs = for (i <- 0 until 5; j <- i + 1 until 5) yield
      struct(lit(i * 5 + j).as("bp"),
        shiftleft(bandOf(i), bandBits(j)).bitwiseOR(bandOf(j)).as("bits"))
    val banded = sigDocs.select(col("doc_id"), col("simhash"),
      explode(array(pairs: _*)).as("bb"))
      .select(col("doc_id"), col("simhash"),
        col("bb.bp").as("bp"), col("bb.bits").as("bits"))
    banded.as("x").join(banded.as("y"),
        col("x.bp") === col("y.bp") && col("x.bits") === col("y.bits") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_id_1"), col("y.doc_id").as("doc_id_2"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
      .orderBy("doc_id_1", "doc_id_2")
  }

  /** The natural-corpus form (kept for the hamming spec). */
  def simhash(spark: SparkSession, dir: String): DataFrame =
    simhashOn(docsTable(spark, dir))

  /** Registry form: full simhash pipeline over corpus + planted
    * identical-token copies, restricted to the planted pairs. A copy's
    * distinct-token set is identical, so its signature is identical —
    * hamming 0, found through every band pair with recall exactly 1 —
    * and the oracle is the closed form: one (id, id + PlantOffset, 0)
    * row per planted doc with ≥1 token.
    */
  def simhashPlanted(spark: SparkSession, dir: String): DataFrame =
    plantedPairsOnly(simhashOn(withPlanted(docsTable(spark, dir))))

  val CosineChunks = 8

  /** Embedding near-dup pairs: label-blocked cosine ≥ 0.3, double
    * arithmetic on both engines (sequential fold ⇒ bit-identical).
    *
    * Skew discipline: a hot label must NOT serialize into one
    * O(block²) task, so each label block is sharded into
    * CosineChunks² join groups — the x side carries its own hash
    * chunk, the y side is replicated once per x-chunk — and the
    * equi-join key becomes (label, chunk), spreading a hot block over
    * CosineChunks tasks with per-task memory |block|/CosineChunks.
    *
    * Why not LSH candidate blocking here: measured on this corpus the
    * pairwise-cosine bulk tops out at ~0.5 with no gap above the 0.3
    * threshold (near-uniform synthetic embeddings), so sign-LSH bands
    * selective enough to prune anything would also drop true pairs —
    * at τ=0.3 every recall-lossless banding admits ~all pairs. When
    * the threshold means near-duplicate (τ ≥ 0.9, a real gap), use
    * `embedCosineLsh` below — the sign-LSH banded form with the
    * identical verify step.
    */
  def embedCosine(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.{vec_dot, vec_norm}
    val dot = vec_dot _
    // norms once per vector (narrow pass), dot once per pair; vec_dot
    // is a native codegen Expression (double accumulation, exact
    // float→double widening — DuckDB-parity)
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), col("embedding").as("v"))
      .withColumn("norm", vec_norm(col("v")))
    val x = e.withColumn("chunk", pmod(xxhash64(col("vec_id")), lit(CosineChunks.toLong)))
    val y = e.withColumn("chunk",
      explode(array((0 until CosineChunks).map(k => lit(k.toLong)): _*)))
    x.as("x").join(y.as("y"),
        col("x.label") === col("y.label") && col("x.chunk") === col("y.chunk") &&
          col("x.vec_id") < col("y.vec_id"))
      .withColumn("cos_raw",
        dot(col("x.v"), col("y.v")) / (col("x.norm") * col("y.norm")))
      .filter(col("cos_raw") >= 0.3)
      .select(col("x.vec_id").as("vec_id_1"), col("y.vec_id").as("vec_id_2"),
        col("x.label").as("label"), round(col("cos_raw"), 4).as("cosine"))
      .orderBy("vec_id_1", "vec_id_2")
  }

  val LshBits = 16
  val LshBands = 4 // 4 bits per band
  val EmbedDim = 64 // fallback plane width for an EMPTY corpus (any value works: no rows sign)

  /** Sign-LSH (random-hyperplane) embedding near-dup — the HIGH-
    * threshold (τ = 0.9) scale path that `embedCosine`'s docstring
    * promises: 16 sign bits from fixed-seed Gaussian hyperplanes,
    * banded 4×4; a hyperplane agrees with probability 1 − θ/π, so at
    * τ = 0.9 (θ ≤ 26°) a 4-bit band matches with p ≈ 0.54 and four
    * bands miss a true pair with p ≈ 0.04 — while near-orthogonal
    * pairs (the bulk of this corpus, max natural cosine 0.47) collide
    * rarely, so candidate generation is sub-quadratic. Candidates are
    * exact-verified, so precision is exact; only candidate RECALL is
    * probabilistic.
    *
    * The synthetic corpus has no natural pairs above 0.48, so the
    * query plants exact near-duplicates: a 0.5-scaled copy of every
    * vector (vec_id + 1e6). Scaling by a power of two is FP-exact in
    * both engines, the cosine is exactly 1.0, and scaled copies have
    * IDENTICAL sign signatures — candidate recall for the planted
    * pairs is 1, which is what makes the brute-force DuckDB oracle an
    * exact (hash-level) check of the whole LSH pipeline.
    */
  def embedCosineLsh(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.{vec_dot, vec_norm}
    val dot = vec_dot _
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), col("embedding").as("v"))
    // Hyperplanes are minted at the CORPUS'S OWN width — one
    // constant-size driver pass (Similarity.uniformDim: min+max of
    // size(v) together, LOUD on a mixed-width corpus, since vec_dot
    // truncates to the shorter operand and a narrow row under a wide
    // plane table means degraded recall with no failure; the r13
    // dimension rehearsal caught the fixed-width variant of exactly
    // that). At dim 64 the seeded sequence is byte-identical to the
    // historical planes.
    val dim = Similarity.uniformDim(e).getOrElse(EmbedDim)
    val aug = e.unionByName(e.select((col("vec_id") + 1000000L).as("vec_id"),
      col("label"), transform(col("v"), x => x * lit(0.5f)).as("v")))
    val rnd = new scala.util.Random(42) // fixed seed: deterministic planes
    val planes = Array.fill(LshBits, dim)(rnd.nextGaussian())
    val sig = (0 until LshBits).map { h =>
      when(dot(col("v"), array(planes(h).toIndexedSeq.map(lit): _*)) >= 0,
        shiftleft(lit(1L), h)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
    val bandBits = LshBits / LshBands
    val banded = aug
      .withColumn("norm", vec_norm(col("v")))
      .withColumn("sig", sig)
      .select(col("vec_id"), col("label"), col("v"), col("norm"),
        explode(array((0 until LshBands).map { b =>
          struct(lit(b).as("band"),
            shiftright(col("sig"), b * bandBits)
              .bitwiseAND(lit((1L << bandBits) - 1)).as("bits"))
        }: _*)).as("bb"))
      .select(col("vec_id"), col("label"), col("v"), col("norm"),
        col("bb.band").as("band"), col("bb.bits").as("bits"))
    banded.as("x").join(banded.as("y"),
        col("x.label") === col("y.label") && col("x.band") === col("y.band") &&
          col("x.bits") === col("y.bits") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_id_1"), col("y.vec_id").as("vec_id_2"),
        col("x.label").as("label"),
        (dot(col("x.v"), col("y.v")) / (col("x.norm") * col("y.norm"))).as("cos_raw"))
      .distinct() // a pair can collide in several bands
      .filter(col("cos_raw") >= 0.9)
      .select(col("vec_id_1"), col("vec_id_2"), col("label"),
        round(col("cos_raw"), 4).as("cosine"))
      .orderBy("vec_id_1", "vec_id_2")
  }

  val MaxCcRounds = 30

  /** Near-dup CLUSTERING — the step every production dedup needs after
    * pair generation: turn the pairwise near-dup graph into connected
    * components so each group keeps one canonical doc. Edges are the
    * deterministic exact shingle-Jaccard pairs (same semantics as
    * `dd_ngram_jaccard`) over corpus + planted copies, so the graph has
    * real multi-node components; components are computed by alternating
    * large-star/small-star contraction (Kiveris et al., "Connected
    * Components in MapReduce and Beyond"), which converges in O(log n)
    * rounds REGARDLESS of component diameter — the property plain
    * min-label propagation (O(diameter) rounds) lacks on adversarial
    * chain-shaped components. Each round is `localCheckpoint`ed: the
    * loop would otherwise recompute the full edge derivation every
    * iteration and grow an unbounded lineage.
    *
    * Output: (doc_id, cluster_id = min doc_id in component,
    * cluster_size) for every doc in at least one pair. The DuckDB
    * oracle computes the same components with a recursive CTE —
    * hash-equality proves the distributed contraction reaches the
    * exact fixpoint.
    */
  def cluster(spark: SparkSession, dir: String): DataFrame =
    componentsOf(spark, dir)
      .select(col("id").as("doc_id"), col("lbl").as("cluster_id"), col("cluster_size"))
      .orderBy("doc_id")

  /** Cold fill time of the component-label memo (VERDICT r14 #8). */
  val componentsFillNanos = new java.util.concurrent.atomic.AtomicLong(0L)

  /** The collapsed near-dup component labels of corpus + planted
    * copies, MEMOIZED per (session, corpus dir) — the
    * `nearDupPairsOf` discipline applied to the component table: a
    * dedup pipeline materializes its component labels once per corpus
    * snapshot, and every rollup probes the materialization
    * (`dd_cluster` formats it, `dd_near_dedup_corpus` scores the
    * removal — two registry rows, one collapse + CC computation;
    * VERDICT r16's memo rule: a new memo must serve ≥ 2 rows). Fills
    * during Bench's untimed warmup, accounted in its own
    * `memo_fill_breakdown` entry. In-process only — nothing persists
    * across JVM runs; Verify computes fresh and the oracle replays
    * the uncollapsed semantics.
    */
  private val componentsMemo =
    Memo[DataFrame]("Dedup.components", componentsFillNanos)

  private def componentsOf(spark: SparkSession, dir: String): DataFrame =
    componentsMemo(spark, dir)(graft.Ckpt.truncate(
      collapsedNearDupComponents(withPlanted(docsTable(spark, dir)))))

  /** Near-dup components with EXACT-FAMILY COLLAPSE (VERDICT r14 #1 —
    * the fix for the two worst century rows): docs with the identical
    * (source, shingle-SET) are interchangeable in the Jaccard pair
    * graph — J(u,w) = J(v,w) for every third doc w, computed from the
    * same (n_inter, sz) integers, so the same raw double passes the
    * same threshold — and J(u,v) = 1 ≥ 0.35 keeps every family
    * internally connected. A real corpus's exact-dup families
    * (mirror sites, reposts — ~1% at sf10 by the §5.1c construction)
    * therefore need no C(F,2) pair verification inside each family of
    * F exact copies: collapse to the min-id representative per
    * family, run pair generation + verification on REPRESENTATIVES
    * only, then re-expand membership. Components and labels are
    * PROVABLY byte-identical to the uncollapsed pipeline (component
    * min = min member id = min representative id, since each family
    * rep is its family's min; CollapseEquivalenceSpec pins equality
    * on the planted corpus and the cross-source / empty-doc edges).
    * The family key is md5 over the sorted distinct shingle set —
    * engine-internal only (the oracle replays the UNCOLLAPSED
    * semantics, which is the point). Empty-shingle docs never enter
    * (no rows in `r`), matching the original's no-pair behavior.
    * Scale: one added per-doc set agg (the size-table shape the
    * pipeline already pays) buys pair workload C(reps,2) instead of
    * C(F,2) per family — at the §5.1c mirror rate that is the
    * difference between the century rows finishing and not.
    */
  private[graft] def collapsedNearDupComponents(docs: DataFrame): DataFrame = {
    val r = shingleHashRowsOf(docs).truncated
    val fam = r.groupBy("source", "doc_id")
      .agg(md5(concat_ws(",", sort_array(collect_set(col("sh"))))
        .cast("binary")).as("fkey"))
    // famRep feeds both the member expansion and the component
    // relabel at the end — materialized once, not re-aggregated per
    // reference (one row per family, bounded by the doc count)
    val famRep = fam.groupBy("source", "fkey")
      .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("fsize"))
      .truncated
    val member = fam.join(famRep, Seq("source", "fkey"))
      .select(col("doc_id"), col("rep")).truncated
    // pair generation + exact verification over representative docs
    // only — the identical math as ngramJaccardOn, on the filtered
    // shingle rows. NOTE (measured, r16): checkpointing rr (it feeds
    // the pair self-join twice plus the size table) was tried and
    // came out SLOWER on the planted corpus (dd_near_dedup_corpus
    // 2.9 → 3.9 s at sf0.1) — the semi-join over the already-
    // checkpointed r is cheap and exchange-reused, while the extra
    // materialization of corpus-scale shingle rows is not.
    val repSet = member.filter(col("doc_id") === col("rep"))
      .select(col("doc_id"))
    val rr = r.join(repSet, Seq("doc_id"), "left_semi")
    val inter = rr.select(col("source"), col("doc_id").as("doc_id_1"), col("sh"))
      .join(rr.select(col("source"), col("doc_id").as("doc_id_2"), col("sh")),
        Seq("source", "sh"))
      .filter(col("doc_id_1") < col("doc_id_2"))
      .groupBy("doc_id_1", "doc_id_2")
      .agg(count(lit(1)).as("n_inter"))
    val sizes = rr.groupBy("doc_id").agg(count(lit(1)).as("sh_size"))
    val repPairs = inter
      .join(sizes.withColumnsRenamed(Map("doc_id" -> "doc_id_1", "sh_size" -> "sz1")), Seq("doc_id_1"))
      .join(sizes.withColumnsRenamed(Map("doc_id" -> "doc_id_2", "sh_size" -> "sz2")), Seq("doc_id_2"))
      .filter(col("n_inter").cast("double") /
        (col("sz1") + col("sz2") - col("n_inter")).cast("double") >= 0.35)
      .select(col("doc_id_1"), col("doc_id_2"))
    val comp = connectedComponents(repPairs)
    // expand: members inherit the rep's component; a family with no
    // cross-family edge still forms its own component when fsize >= 2
    // (its internal J = 1 pairs exist in the uncollapsed graph)
    val repLbl = famRep
      .join(comp.select(col("id").as("rep"), col("lbl")), Seq("rep"), "left")
      .filter(col("lbl").isNotNull || col("fsize") >= 2L)
      .select(col("rep"), coalesce(col("lbl"), col("rep")).as("lbl"))
    val labels = member.join(repLbl, Seq("rep"))
      .select(col("doc_id").as("id"), col("lbl"))
    val sz = labels.groupBy("lbl").agg(count(lit(1)).as("cluster_size"))
    labels.join(sz, Seq("lbl"))
  }

  /** Connected components by alternating LARGE-STAR / SMALL-STAR
    * contraction over an undirected pair set (columns doc_id_1,
    * doc_id_2); Kiveris et al., "Connected Components in MapReduce and
    * Beyond" (two-phase algorithm). Each phase is one shuffle
    * (neighborhood min-aggregate + re-emit); the edge set contracts to
    * a forest of min-rooted stars in O(log n) rounds independent of
    * component diameter — spec'd on a 201-node path graph that plain
    * O(diameter) label propagation could not finish within the round
    * cap. Convergence is verified EXACTLY (count + except emptiness of
    * canonical edge sets, not a checksum) and failure to converge
    * within MaxCcRounds throws (`Ckpt.converge`) rather than returning
    * partial labels.
    * Returns (id, lbl = component min, cluster_size) for every node
    * with >= 1 edge.
    */
  def connectedComponents(pairs: DataFrame): DataFrame = {
    // canonical undirected form: (lo, hi), lo < hi, distinct
    def canon(df: DataFrame): DataFrame = df
      .filter(col("lo") =!= col("hi"))
      .select(least(col("lo"), col("hi")).as("lo"),
        greatest(col("lo"), col("hi")).as("hi"))
      .distinct()
    // large-star: every node n > c in c's neighborhood is re-linked to
    // m = min(Γ(c) ∪ {c}) — halves the depth of tall subtrees
    def largeStar(edges: DataFrame): DataFrame = {
      val nbrs = edges.select(col("lo").as("c"), col("hi").as("n"))
        .unionByName(edges.select(col("hi").as("c"), col("lo").as("n")))
      val m = nbrs.groupBy("c").agg(min(col("n")).as("mn"))
        .select(col("c"), least(col("c"), col("mn")).as("m"))
      canon(nbrs.join(m, "c").filter(col("n") > col("c"))
        .select(col("m").as("lo"), col("n").as("hi")))
    }
    // small-star: orient each edge toward its larger endpoint; every
    // smaller neighbor (and the center) is re-linked to the local min
    def smallStar(edges: DataFrame): DataFrame = {
      val m = edges.groupBy(col("hi").as("c")).agg(min(col("lo")).as("m"))
      canon(edges.join(m, edges("hi") === m("c"))
        .select(col("m").as("lo"), col("lo").as("hi"))
        .unionByName(m.select(col("m").as("lo"), col("c").as("hi"))))
    }
    val start = canon(pairs.select(col("doc_id_1").as("lo"),
      col("doc_id_2").as("hi"))).truncated
    val edges = Ckpt.converge("connectedComponents", MaxCcRounds)(start) {
      (prev, _) =>
      // ONE materialization per round carries both the next edge set
      // and the exact convergence diff (r17 — guide §2.4, fuse the
      // per-round convergence action into the round's own shuffle):
      // both sides are distinct canonical sets, so tagging each side
      // and grouping on the edge leaves every agreeing edge with
      // tag-sum 3; t=1 is next-only, t=2 is previous-only. The r16
      // shape ran a SECOND union+groupBy job over both checkpointed
      // sets per round just to answer "converged?"; here the
      // convergence probe and the next round's input are both narrow
      // filters over the one checkpointed tag table — no recompute,
      // no extra shuffle, identical set-equality semantics.
      val tagged = smallStar(largeStar(prev)).withColumn("s", lit(1))
        .unionByName(prev.withColumn("s", lit(2)))
        .groupBy("lo", "hi").agg(sum(col("s")).as("t"))
        .truncated
      val converged = tagged.filter(col("t") =!= 3).isEmpty
      (tagged.filter(col("t") =!= 2).select(col("lo"), col("hi")), converged)
    }
    // fixpoint = min-rooted star forest: every edge is (root, member)
    val labels = edges.select(col("hi").as("id"), col("lo").as("lbl"))
      .unionByName(edges.select(col("lo").as("id"), col("lo").as("lbl")))
      .distinct()
    val sizes = labels.groupBy("lbl").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, Seq("lbl"))
  }

  /** End-to-end near-dedup corpus pass — the composite every training
    * pipeline actually ships: near-dup pairs → connected components →
    * keep only each component's canonical (min-id) member. Reported
    * per source as (docs in, docs kept) so the oracle checks the
    * drop set exactly without shipping text. Runs over corpus +
    * planted copies (the copies are what a dedup pass exists to
    * remove); every non-canonical component member is dropped, so
    * kept = total − Σ(cluster_size − 1).
    */
  def nearDedupCorpus(spark: SparkSession, dir: String): DataFrame = {
    val aug = withPlanted(docsTable(spark, dir))
    val dropped = componentsOf(spark, dir)
      .filter(col("id") =!= col("lbl"))
      .select(col("id").as("doc_id"), lit(1).as("is_dropped"))
    aug.join(dropped, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("is_dropped").isNull, 1)).as("n_kept"))
      .orderBy("source")
  }

  /** Span length (tokens) for duplicate-span accounting. 5 keeps the
    * synthetic corpus non-vacuous (real repeated runs exist at 5+
    * tokens) while modelling C4's three-sentence span at token
    * granularity.
    */
  val SpanTokens = 5

  /** C4-style duplicate-span accounting: slide a K-token window over
    * every document, keep the single FIRST occurrence (min (doc_id,
    * pos)) of each span, and count every other occurrence as a
    * duplicate — the "remove all but one occurrence of any
    * three-sentence span" rule of C4/RefinedWeb, at token granularity
    * (the corpus has no sentence punctuation). Output is the per-doc
    * accounting (n_spans, n_dup_spans, dup_ratio) a cleaning pass
    * uses to cut or rewrite documents.
    *
    * Scale shape: one shuffle keyed on the span string (groupBy min —
    * map-side partial agg, unlike a row_number window) plus the
    * join-back on the same key, then a per-doc rollup. First
    * occurrence is ordered by the single long doc_id·2²⁰ + pos —
    * identical to (doc_id, pos) lexicographic order while staying
    * partial-agg friendly on both engines; the in-doc position is
    * loudly asserted below 2²⁰. At 100 TB the span strings would be
    * xxhash64-folded before the shuffle (8× narrower rows, same
    * grouping); the string form is kept here so the DuckDB oracle can
    * reproduce the pipeline verbatim.
    */
  def spanDedup(spark: SparkSession, dir: String): DataFrame = {
    val occ = Tables.documents(spark, dir)
      .select(col("doc_id"),
        posexplode(graft.functions.NGrams.ngrams(col("text"), SpanTokens))
          .as(Seq("pos", "span")))
      // loud precondition: the packed order key needs pos < 2^20
      .filter(assert_true(col("pos") < 1048576L,
        lit("spanDedup: in-doc span position >= 2^20 breaks the packed order key")).isNull)
      .withColumn("k", col("doc_id") * lit(1048576L) + col("pos"))
    val first = occ.groupBy("span").agg(min(col("k")).as("fk"))
    occ.join(first, "span")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        count(when(col("k") =!= col("fk"), 1)).as("n_dup_spans"))
      .select(col("doc_id"), col("n_spans"), col("n_dup_spans"),
        round(col("n_dup_spans").cast("double") /
          col("n_spans").cast("double"), 6).as("dup_ratio"))
      .orderBy("doc_id")
  }

  /** Maximal duplicated-span interval merge — the substring-REMOVAL
    * shape of Lee et al. 2022 ("Deduplicating Training Data Makes
    * Language Models Better"): where `spanDedup` COUNTS duplicated
    * K-token windows, this op merges each doc's duplicated window
    * positions into maximal contiguous token intervals (two windows
    * merge when they overlap or touch: next_pos ≤ pos + K) and
    * reports, per doc, the interval count, total duplicated-token
    * coverage, and longest run — exactly the cut list a
    * substring-dedup pass feeds to the rewrite stage.
    *
    * Scale shape: reuses `spanDedup`'s one span-keyed shuffle (groupBy
    * min + join-back); the added work is gaps-and-islands over each
    * doc's DUPLICATED positions only — a per-doc window bounded by
    * document length (never corpus-wide), then two keyed rollups. The
    * final LEFT JOIN back to `documents` keeps one row per doc so
    * clean docs report zeros.
    */
  def spanIntervals(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val occ = docs
      .select(col("doc_id"),
        posexplode(graft.functions.NGrams.ngrams(col("text"), SpanTokens))
          .as(Seq("pos", "span")))
      .filter(assert_true(col("pos") < 1048576L,
        lit("spanIntervals: in-doc span position >= 2^20 breaks the packed order key")).isNull)
      .withColumn("pos", col("pos").cast("long"))
      .withColumn("k", col("doc_id") * lit(1048576L) + col("pos"))
    val first = occ.groupBy("span").agg(min(col("k")).as("fk"))
    val dup = occ.join(first, "span")
      .filter(col("k") =!= col("fk"))
      .select(col("doc_id"), col("pos"))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val islands = dup
      // island break: this window starts past the previous one's end
      .withColumn("brk",
        when(col("pos") > lag(col("pos"), 1).over(w) + lit(SpanTokens.toLong),
          lit(1L)).otherwise(lit(0L)))
      .withColumn("island", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val intervals = islands.groupBy(col("doc_id"), col("island"))
      .agg((max(col("pos")) + lit(SpanTokens.toLong) - min(col("pos")))
        .as("len"))
    val perDoc = intervals.groupBy("doc_id")
      .agg(count(lit(1)).as("n_intervals"),
        sum(col("len")).as("dup_tokens"),
        max(col("len")).as("max_run"))
    docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_intervals"), lit(0L)).as("n_intervals"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        coalesce(col("max_run"), lit(0L)).as("max_run"))
      .orderBy("doc_id")
  }

  /** Duplicate-cluster size histogram — the census the exact-dedup
    * pass reports to a curation dashboard ("how MUCH of the corpus is
    * 2-way / k-way duplicated"): exact clusters by normalized-text
    * md5, rolled up to (cluster size → clusters, docs). Two keyed
    * aggs, the second over the tiny distinct-size domain; the corpus
    * leaves the first shuffle as one row per distinct text.
    */
  def clusterSizeHist(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(md5(Text.normalized(col("text")).cast("binary")).as("h"))
      .groupBy("h")
      .agg(count(lit(1)).as("size"))
      .groupBy("size")
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("size"), col("n_clusters"),
        (col("size") * col("n_clusters")).as("n_docs"))
      .orderBy("size")

  /** Dedup survivorship policy — WHICH copy survives is a curation
    * decision, not an accident: instead of `dd_exact`'s min-doc_id
    * canonical, keep the HIGHEST-QUALITY copy per exact cluster
    * (longest raw text — the planted perturbation pads copies, so
    * quality differs inside planted clusters — with min doc_id as
    * the deterministic tie-break, via one max_by(struct) keyed agg:
    * the argmax rides the same single shuffle as the count, no
    * window, no join-back). Planted corpus so every 4th doc has a
    * real 2-copy cluster at EVERY SF; tie-break exercised by the
    * natural all-singleton clusters.
    */
  def survivorship(spark: SparkSession, dir: String): DataFrame =
    withPlanted(docsTable(spark, dir))
      .select(md5(Text.normalized(col("text")).cast("binary")).as("h"),
        col("doc_id"), length(col("text")).cast("long").as("len"))
      .groupBy("h")
      .agg(count(lit(1)).as("n_copies"),
        max_by(struct(col("doc_id"), col("len")),
          struct(col("len"), -col("doc_id"))).as("s"))
      .select(col("h"), col("s.doc_id").as("survivor_id"),
        col("s.len").as("survivor_len"), col("n_copies"))
      .orderBy("h")

  /** Minimum shared shingles for an edit-distance candidate pair. */
  val EditMinShared = 3L

  /** Edit-distance near-dup verification — the character-level
    * arbiter the shingle family can't give (Jaccard sees SETS of
    * trigrams; two docs differing by a small in-place edit keep high
    * Jaccard AND low edit distance, but a reordered doc keeps Jaccard
    * while edit distance explodes — this op tells them apart):
    * candidates are the same source-blocked shared-shingle equi-join
    * as `dd_ngram_jaccard` (≥ `EditMinShared` shared trigram hashes,
    * so the quadratic DP only ever runs on plausible pairs), then
    * EXACT Levenshtein on normalized text with the relative cut
    * 5·dist ≤ max(len) (≤20% of the longer doc) applied
    * CROSS-MULTIPLIED — no ratio division; the reported rel_ppm is
    * the §4 HALF_UP integer. Both engines' `levenshtein` is the
    * unit-cost DP, so distances are identical integers. Spark runs
    * the BANDED 3-arg form with threshold = max_len div 5 — the
    * exact cut bound — so the per-pair cost is O(len·band), not
    * O(len²); above the band it returns −1, which the `dist >= 0`
    * guard excludes (the −1 sentinel would otherwise PASS the
    * cross-multiplied cut). Within the band the distance is exact,
    * so the surviving pair set and every reported column are
    * identical to the unbounded DP (EditDistanceBandSpec pins this).
    */
  def editDistance(spark: SparkSession, dir: String): DataFrame = {
    val docs = docsTable(spark, dir)
    val cand = shingleHashRowsOf(docs)
      .select(col("source"), col("doc_id").as("doc_id_1"), col("sh"))
      .join(shingleHashRowsOf(docs)
        .select(col("source"), col("doc_id").as("doc_id_2"), col("sh")),
        Seq("source", "sh"))
      .filter(col("doc_id_1") < col("doc_id_2"))
      .groupBy("doc_id_1", "doc_id_2")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= EditMinShared)
    val norm = docs.select(col("doc_id"),
      graft.functions.Text.normalized(col("text")).as("nt"))
    cand
      .join(norm.withColumnsRenamed(Map("doc_id" -> "doc_id_1", "nt" -> "t1")),
        Seq("doc_id_1"))
      .join(norm.withColumnsRenamed(Map("doc_id" -> "doc_id_2", "nt" -> "t2")),
        Seq("doc_id_2"))
      .withColumn("max_len",
        greatest(length(col("t1")), length(col("t2"))).cast("long"))
      .withColumn("dist",
        expr("levenshtein(t1, t2, CAST(max_len div 5 AS INT))").cast("long"))
      .filter(col("dist") >= 0 && col("dist") * 5 <= col("max_len"))
      .select(col("doc_id_1"), col("doc_id_2"), col("n_shared"),
        col("dist"), col("max_len"),
        expr("(2*dist*1000000 + max_len) div (2*max_len)").as("rel_ppm"))
      .orderBy("doc_id_1", "doc_id_2")
  }

  /** Cross-source duplication matrix — the curation question exact
    * and per-pair dedup don't answer: how much of source A's content
    * ALSO lives in source B (mirrored crawls, syndication, wiki
    * forks). Per unordered source pair: shared distinct trigrams and
    * the containment of the shared mass in each side, HALF_UP ppm.
    * Shape: one native-NGrams scan → distinct (source, gram) — the
    * wordcount shuffle — then a gram-keyed self-join whose per-gram
    * fanout is bounded by C(#sources, 2) (the source DOMAIN, not the
    * corpus), and two broadcast joins against the ≤#sources-row size
    * table. No pair of documents is ever compared — the matrix is a
    * set-overlap census, so it scales exactly like wordcount at
    * 100 TB regardless of how duplicated the corpus is.
    */
  def crossSourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    // the distinct (source, gram) set feeds the size table AND both
    // sides of the overlap self-join — materialized once, not three
    // tokenize+distinct passes
    val grams = graft.Ckpt.truncate(Tables.documents(spark, dir)
      .select(col("source"),
        explode(array_distinct(
          graft.functions.NGrams.ngrams(col("text"), 3))).as("g"))
      .distinct())
    val sizes = grams.groupBy("source").agg(count(lit(1)).as("n"))
    grams.as("x").join(grams.as("y"),
        col("x.g") === col("y.g") && col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("source_a"), col("y.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(sizes.withColumnsRenamed(
        Map("source" -> "source_a", "n" -> "n_grams_a"))), Seq("source_a"))
      .join(broadcast(sizes.withColumnsRenamed(
        Map("source" -> "source_b", "n" -> "n_grams_b"))), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_shared"),
        col("n_grams_a"), col("n_grams_b"),
        expr("(2*n_shared*1000000 + n_grams_a) div (2*n_grams_a)")
          .as("contain_a_ppm"),
        expr("(2*n_shared*1000000 + n_grams_b) div (2*n_grams_b)")
          .as("contain_b_ppm"))
      .orderBy("source_a", "source_b")
  }

  // ---------------------------------------------------------------
  // SemDeDup-style SEMANTIC dedup over embeddings (VERDICT r13 #5)
  // ---------------------------------------------------------------

  /** Per-axis quantization scale for the semantic-dedup contract:
    * every cosine decision runs over q = ⌊x·1000 + ½⌋ BIGINTs, so
    * the arithmetic is integer end-to-end and DuckDB replays it
    * cell-for-cell (the MrlScale discipline applied to dedup).
    */
  val SemScale = 1000.0

  /** τ² in ppm: a pair is a semantic duplicate when cos² ≥ 0.64
    * (τ = 0.8) under the quantized integer formula below. The
    * corpus's max NATURAL cosine is 0.47 (cos² = 0.22), so only the
    * planted paraphrase twins cross the threshold — which is what
    * makes the DuckDB oracle closed-form.
    */
  val SemTau2Ppm = 640000L

  /** Overflow fail-fast: nq₁·nq₂ must stay < 2⁶³, so each vector's
    * Σq² is capped at 3·10⁹ (loud, the wc_betweenness discipline) —
    * headroom for dim ≤ 3000 at |x| ≤ 1 under SemScale.
    */
  val SemGuardNq = 3000000000L

  /** Multiprobe radius: a vector probes every cell within ρ of its
    * best cell's cosine. ρ = 0.05 ≥ 2× the planted perturbation's
    * worst-case cosine shift (√128/10³ ≈ 0.012 on the unit-norm
    * corpus) + quantization slack — twin recall is provable.
    */
  val SemProbeRho = 0.05

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, "SemDeDup:
    * Data-efficient learning at web-scale through semantic
    * deduplication" — public arXiv:2303.09540): MinHash catches
    * LEXICAL near-dups (shared shingles); paraphrases share no
    * shingles but sit close in embedding space, so the modern
    * LLM-corpus pipeline adds this pass. Complements
    * `dd_semantic_dedup` (Similarity.scala — spherical-k-means
    * Lloyd-replay oracle over EXACT 0.5-scaled copies, cosine
    * exactly 1): here the planted twins are genuinely PERTURBED
    * paraphrases (cos ≈ 0.9999, not 1 — the sketch must survive a
    * real angular gap), the verdict carries the CANONICAL id per
    * dropped vector, and the cosine contract is integer-quantized
    * instead of rounded-double. Plan: k-means cells over the
    * corpus (the shared `ivfCentroidsOf`/`ivfAssign` machinery — same
    * artifact an ANN serving tier already maintains), then candidate
    * pairs are generated WITHIN CELLS ONLY — Σ|cell|² ≈ n^1.5 at √n
    * cells, never the n² all-pairs — verified by exact quantized
    * cosine, and reduced to the keep-canonical census: each vector
    * with a τ-partner of lower id is DROPPED in favor of its minimum
    * partner (the SemDeDup keep-one rule). Certification corpus:
    * a paraphrase twin of every 4th vector at vec_id + PlantOffset,
    * perturbed IN THE INTEGER DOMAIN (q + ((i mod 5) − 2) — a ~0.7°
    * rotation, far above quantization noise and far below τ's
    * headroom), so the twin provably lands in its source's cell and
    * the closed-form oracle replays every dropped row: (twin, source,
    * quantized cos²). cos² rides the staged integer division
    * (dot² div (nq₁·nq₂ div 10⁶)) — the quantized definition IS the
    * contract, identical on both engines, BIGINT-safe under the
    * loud SemGuardNq cap.
    */
  /** Cold fill time of the semantic-dedup index memo — published by
    * Bench in `memo_fill_sec` alongside the graph and BPE memos.
    */
  val memoFillNanos = new java.util.concurrent.atomic.AtomicLong(0L)

  private val semIndexMemo =
    Memo[(DataFrame, DataFrame)]("Dedup.semIndex", memoFillNanos)

  /** MEMOIZED per (session, corpus): the semantic-dedup INDEX — the
    * quantized vectors with norms, and the multiprobe cell
    * assignment. Production SemDeDup trains cells once and probes the
    * assignment from every dedup run (the `coPurchaseMemo` /
    * `stageLshIndex` discipline applied to the vector side); before
    * the memo, every invocation retrained k-means in-query (~13 of
    * the row's exchanges, ~60% of its bench time). Both frames are
    * lineage-truncated at fill.
    */
  private def semIndex(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) =
    semIndexMemo(spark, dir)(semIndexCompute(spark, dir))

  /** Optional hot-cell cap (`graft.sem.cellcap`): when set, probe
    * rows of cells WIDER than the cap are excluded from candidate
    * generation — the semantic-side mirror of `graft.lsh.bucketcap`.
    * On a clustered corpus (most embeddings in one semantic region —
    * common after a topical crawl) one cell can hold a large fraction
    * of the corpus and the within-cell pair join goes quadratic in
    * its width. With multiprobe a pair dropped from one hot cell can
    * still meet in another shared probe cell; the residual loss is
    * confined to dense-region members with ≥cap near-neighbors —
    * which under dedup semantics is the drop-all-but-one population
    * anyway. Unset (the default and the registry row) the probe is
    * exhaustive; SemCellCapSpec pins byte-identity under a generous
    * cap on the stock corpus and the bounded-candidates behavior on
    * a constructed one-region corpus.
    */
  private def capCells(probes: DataFrame): DataFrame =
    probes.sparkSession.conf.getOption("graft.sem.cellcap")
      .map(_.toLong).fold(probes) { c =>
        val ok = probes.groupBy("cell_id")
          .agg(count(lit(1)).as("cell_w"))
          .filter(col("cell_w") <= c)
          .select("cell_id")
        probes.join(ok, Seq("cell_id"))
      }

  private def semIndexCompute(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), col("embedding").as("v"))
      .filter(assert_true(col("vec_id") < PlantOffset,
        lit(s"semanticDedup: vec_id >= $PlantOffset collides with planted ids — raise PlantOffset")).isNull)
    val q0 = e.select(col("vec_id"), col("label"),
      expr(s"transform(v, x -> CAST(floor(CAST(x AS DOUBLE) * $SemScale + 0.5) AS BIGINT))")
        .as("q"))
    val twins = q0.filter(pmod(col("vec_id"), lit(4L)) === 0L)
      .select((col("vec_id") + PlantOffset).as("vec_id"), col("label"),
        expr("transform(q, (x, i) -> x + (i % 5) - 2)").as("q"))
    val all = q0.unionByName(twins)
      .withColumn("nq",
        expr("aggregate(q, CAST(0 AS BIGINT), (acc, x) -> acc + x * x)"))
      .filter(assert_true(col("nq") <= SemGuardNq,
        lit("semanticDedup: sum(q^2) exceeds the BIGINT cos^2 headroom — lower SemScale")).isNull)
      .truncated
    // cells bound the candidate set; the q-domain is the contract.
    // Reconstructed floats (q/SemScale) on BOTH sides, so the only
    // assignment delta between twin and source is the perturbation.
    val allF = all.select(col("vec_id"),
      expr(s"transform(q, x -> CAST(CAST(x AS DOUBLE) / $SemScale AS FLOAT))")
        .as("v"))
    // Bounded MULTIPROBE assignment (standard multi-probe IVF): keep
    // every cell within SemProbeRho of the vector's best cell. This
    // makes planted recall PROVABLE, not probabilistic: the corpus is
    // unit-norm, the integer perturbation has ‖δ‖ = √128 against
    // ‖q‖ ≈ 10³, so twin and source cosines to ANY centroid differ by
    // ≤ ~0.012 — strictly inside ρ = 0.05, so the source's best cell
    // is always in the twin's probe set (a single-best assignment
    // lost 1-in-500 twins to a Voronoi near-tie; the spec caught it).
    // Production gets the same knob as recall/cost trade — candidate
    // volume grows only by the probe multiplicity (~1–3 cells/vector).
    import graft.functions.VectorFunctions.{vec_cosine => vcos}
    val scored = allF
      .join(broadcast(Similarity.ivfCentroidsOf(allF)), lit(true))
      .select(col("vec_id"), col("cell_id"),
        vcos(col("v"), col("cv")).as("cc"))
    val probes = scored
      .join(scored.groupBy("vec_id").agg(max(col("cc")).as("best")),
        Seq("vec_id"))
      .filter(col("cc") >= col("best") - lit(SemProbeRho))
      .select("vec_id", "cell_id")
      .truncated
    (all, probes)
  }

  def semanticDedup(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.vec_dot_long
    val (all, rawProbes) = semIndex(spark, dir)
    // CELL-LOCAL verification: carry the quantized arrays INTO the
    // cell-keyed self-join and compute the (codegen'd, fused-loop)
    // integer dot inline, so the corpus-pair-sized relation exists
    // only as a pipelined join product feeding the τ filter — never
    // shuffled, never materialized. The first cut generated a bare
    // (v1, v2) candidate table, distinct-ed it, and joined the arrays
    // back by each side's id: at sf10 that shuffled ~10⁸ rows with
    // 64-element payloads TWICE (tens of GB) and ran the dot through
    // interpreted zip_with/aggregate lambdas — a single pass had not
    // finished in 40 minutes; this shape runs the same corpus in
    // seconds-per-decade territory. Multiprobe pair duplicates (a
    // pair sharing two probe cells) survive to the census, where the
    // min/min_by aggregation absorbs them — cheaper than a
    // corpus-pair-sized distinct, and only τ-survivors (the tiny dup
    // population) reach the shuffle at all.
    val sided = capCells(rawProbes)
      .join(all.select(col("vec_id"), col("label"), col("q"), col("nq")),
        Seq("vec_id"))
    val lhs = sided.select(col("cell_id"), col("vec_id").as("vec_id_1"),
      col("q").as("q1"), col("nq").as("nq1"))
    val rhs = sided.select(col("cell_id"), col("vec_id").as("vec_id_2"),
      col("label"), col("q").as("q2"), col("nq").as("nq2"))
    lhs.join(rhs, Seq("cell_id"))
      .filter(col("vec_id_1") < col("vec_id_2"))
      .withColumn("dot", vec_dot_long(col("q1"), col("q2")))
      .withColumn("cos2_ppm",
        expr("CASE WHEN dot <= 0 THEN CAST(0 AS BIGINT) ELSE " +
          "(dot * dot) div greatest((nq1 * nq2) div 1000000, 1) END"))
      .filter(col("cos2_ppm") >= SemTau2Ppm)
      .groupBy(col("vec_id_2").as("vec_id"), col("label"))
      .agg(min(col("vec_id_1")).as("canonical_id"),
        min_by(col("cos2_ppm"), col("vec_id_1")).as("cos2_ppm"))
      .select(col("vec_id"), col("label"), col("canonical_id"), col("cos2_ppm"))
      .orderBy("vec_id")
  }

  /** Hashed bag-of-words width for the semantic-lift document
    * vectors (the standard hashing-trick embedding, integer counts
    * per rollingHash(word) mod bin — computable on both engines).
    */
  val SemLiftBins = 64L

  /** The SEMANTIC LIFT census (VERDICT r13 #5's second half) — the
    * quantified version of the sentence that motivates SemDeDup:
    * "semantic duplicates share no shingles, so MinHash cannot see
    * them". Certification corpus: a PARAPHRASE twin of every 4th doc
    * at doc_id + PlantOffset whose token stream is the original's
    * REVERSED plus its first token appended — a word-order paraphrase
    * with (a) an almost-disjoint 3-shingle set (trigrams don't
    * survive reversal), so the `dd_minhash_lsh` verification
    * predicate (exact shingle Jaccard ≥ 0.35) rejects it, and (b) a
    * near-identical hashed bag-of-words vector (identical counts plus
    * one extra token), so the semantic cosine is ≈ 1. BOTH measures
    * are computed exactly per pair — shingle Jaccard by set
    * arithmetic, semantic cosine by the same quantized-integer staged
    * division as `dd_semantic` over SemLiftBins hashed-count vectors —
    * and reduced to a per-source census: pairs, lexical catches,
    * semantic catches, lift = sem − lex, lift_ppm. DuckDB replays
    * every step (tokens, reversal, trigram sets, rollingHash bins,
    * integer cosine), so the lift is hash-checked, not asserted.
    * Scale: per-pair work only (the pair set is the planted domain);
    * a production run feeds ORGANIC pairs from `dd_semantic` /
    * `dd_minhash_lsh` through the same verdict join.
    */
  def semanticLift(spark: SparkSession, dir: String): DataFrame = {
    val base = docsTable(spark, dir)
      .filter(assert_true(col("doc_id") < PlantOffset,
        lit(s"semanticLift: doc_id >= $PlantOffset collides with planted ids — raise PlantOffset")).isNull)
      .select(col("doc_id"), col("source"), Text.tokens(col("text")).as("t"))
    val twins = base
      .filter(pmod(col("doc_id"), lit(4L)) === 0L && size(col("t")) >= 1)
      .select((col("doc_id") + PlantOffset).as("doc_id"), col("source"),
        concat(reverse(col("t")), slice(col("t"), 1, 1)).as("t"))
    val all = base.unionByName(twins)
    def shingles(c: Column): Column =
      array_distinct(when(size(c) >= 3,
        expr("transform(sequence(0, size(t) - 3), " +
          "i -> concat(t[i], ' ', t[i+1], ' ', t[i+2]))"))
        .otherwise(expr("CAST(array() AS ARRAY<STRING>)")))
    // feats feeds both sides of the pair self-join and bag feeds the
    // norm table plus both sides of the dot join — left live, the
    // tokenize→shingle/hash pipeline re-ran per reference (5 corpus
    // tokenizations per call at r15); materialized once each.
    val feats = all.select(col("doc_id"), col("source"),
      shingles(col("t")).as("sh"), col("t"))
      .truncated
    val bag = all.select(col("doc_id"), explode(col("t")).as("w"))
      .select(col("doc_id"),
        pmod(Text.rollingHash(col("w")), lit(SemLiftBins)).as("bin"))
      .groupBy("doc_id", "bin").agg(count(lit(1)).as("c"))
      .truncated
    // bag norms are token-count-sized (≤ ~10⁴), so the EXACT ppm
    // formula dot²·10⁶ div (nq₁·nq₂) fits BIGINT — unlike the
    // embedding-scaled `dd_semantic`, which needs the staged
    // division. Loud cap keeps the product under 2⁶³ even on a
    // pathological mega-document.
    val nq = bag.groupBy("doc_id")
      .agg(sum(col("c") * col("c")).as("nq"))
      .filter(assert_true(col("nq") <= 3000000L,
        lit("semanticLift: bag norm exceeds the BIGINT cos^2 headroom")).isNull)
    val dot = bag.select(col("doc_id"), col("bin"), col("c").as("c1"))
      .join(bag.select((col("doc_id") - PlantOffset).as("doc_id"),
        col("bin"), col("c").as("c2")), Seq("doc_id", "bin"))
      .groupBy("doc_id").agg(sum(col("c1") * col("c2")).as("dot"))
    val pairs = feats.filter(col("doc_id") < PlantOffset).as("a")
      .join(feats.filter(col("doc_id") >= PlantOffset)
        .select((col("doc_id") - PlantOffset).as("doc_id"),
          col("sh").as("sh2")).as("b"), Seq("doc_id"))
      .join(dot, Seq("doc_id"))
      .join(nq.withColumnRenamed("nq", "nq1"), Seq("doc_id"))
      .join(nq.select((col("doc_id") - PlantOffset).as("doc_id"),
        col("nq").as("nq2")), Seq("doc_id"))
      .withColumn("n_inter", size(array_intersect(col("sh"), col("sh2"))).cast("long"))
      .withColumn("n_union", size(array_union(col("sh"), col("sh2"))).cast("long"))
      .withColumn("lex_caught",
        when(col("n_inter") * 100L >= col("n_union") * 35L &&
          col("n_union") > 0L, 1L).otherwise(0L))
      .withColumn("cos2_ppm",
        expr("CASE WHEN dot <= 0 THEN CAST(0 AS BIGINT) ELSE " +
          "(dot * dot * 1000000) div (nq1 * nq2) END"))
      .withColumn("sem_caught",
        when(col("cos2_ppm") >= SemTau2Ppm, 1L).otherwise(0L))
    pairs.groupBy("source")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("lex_caught")).as("n_lex"),
        sum(col("sem_caught")).as("n_sem"))
      .withColumn("sem_lift", col("n_sem") - col("n_lex"))
      .withColumn("lift_ppm",
        expr("(2 * (n_sem - n_lex) * 1000000 + n_pairs) div (2 * n_pairs)"))
      .orderBy("source")
  }

  val queries: Map[String, GQuery] = Map(
    "dd_semantic_lift" -> GQuery.sql(semanticLift,
      s"""WITH base AS (
        |  SELECT doc_id, source,
        |    list_filter(regexp_split_to_array(text, '[[:punct:][:space:]]+'),
        |                x -> len(x) > 0) AS t
        |  FROM documents),
        |tw AS (
        |  SELECT doc_id, source, t,
        |    list_concat(list_reverse(t), t[1:1]) AS t2
        |  FROM base WHERE doc_id % 4 = 0 AND len(t) >= 1),
        |sh AS (
        |  SELECT doc_id, source,
        |    list_distinct(list_transform(range(1, greatest(len(t) - 1, 1)),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s1,
        |    list_distinct(list_transform(range(1, greatest(len(t2) - 1, 1)),
        |      i -> t2[i] || ' ' || t2[i+1] || ' ' || t2[i+2])) AS s2
        |  FROM tw),
        |w1 AS (SELECT doc_id, unnest(t) AS w FROM tw),
        |w2 AS (SELECT doc_id, unnest(t2) AS w FROM tw),
        |h1 AS (
        |  SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, length(w) + 1),
        |        i -> CAST(ascii(w[i]) AS BIGINT))),
        |      (acc, x) -> (acc * 131 + x) % 1000000007) % $SemLiftBins AS bin
        |  FROM w1),
        |h2 AS (
        |  SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, length(w) + 1),
        |        i -> CAST(ascii(w[i]) AS BIGINT))),
        |      (acc, x) -> (acc * 131 + x) % 1000000007) % $SemLiftBins AS bin
        |  FROM w2),
        |c1 AS (SELECT doc_id, bin, count(*) AS c FROM h1 GROUP BY 1, 2),
        |c2 AS (SELECT doc_id, bin, count(*) AS c FROM h2 GROUP BY 1, 2),
        |d AS (
        |  SELECT c1.doc_id, CAST(sum(c1.c * c2.c) AS BIGINT) AS dot
        |  FROM c1 JOIN c2 USING (doc_id, bin) GROUP BY 1),
        |q1 AS (SELECT doc_id, CAST(sum(c * c) AS BIGINT) AS nq1
        |       FROM c1 GROUP BY 1),
        |q2 AS (SELECT doc_id, CAST(sum(c * c) AS BIGINT) AS nq2
        |       FROM c2 GROUP BY 1),
        |p AS (
        |  SELECT sh.doc_id, sh.source,
        |    CAST(len(list_intersect(s1, s2)) AS BIGINT) AS n_inter,
        |    CAST(len(list_distinct(list_concat(s1, s2))) AS BIGINT) AS n_union,
        |    d.dot, q1.nq1, q2.nq2
        |  FROM sh JOIN d USING (doc_id) JOIN q1 USING (doc_id)
        |    JOIN q2 USING (doc_id)),
        |v AS (
        |  SELECT source,
        |    CASE WHEN n_inter * 100 >= n_union * 35 AND n_union > 0
        |      THEN 1 ELSE 0 END AS lex_caught,
        |    CASE WHEN (CASE WHEN dot <= 0 THEN CAST(0 AS BIGINT)
        |        ELSE (dot * dot * 1000000) // (nq1 * nq2) END)
        |        >= $SemTau2Ppm
        |      THEN 1 ELSE 0 END AS sem_caught
        |  FROM p)
        |SELECT source, count(*) AS n_pairs,
        |  CAST(sum(lex_caught) AS BIGINT) AS n_lex,
        |  CAST(sum(sem_caught) AS BIGINT) AS n_sem,
        |  CAST(sum(sem_caught) - sum(lex_caught) AS BIGINT) AS sem_lift,
        |  CAST((2 * (sum(sem_caught) - sum(lex_caught)) * 1000000 + count(*))
        |    // (2 * count(*)) AS BIGINT) AS lift_ppm
        |FROM v GROUP BY source ORDER BY source""".stripMargin),
    "dd_semantic" -> GQuery.sql(semanticDedup,
      s"""WITH q AS (
        |  SELECT vec_id, label,
        |    list_transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE) * $SemScale + 0.5) AS BIGINT)) AS q
        |  FROM embeddings),
        |tw AS (
        |  SELECT vec_id, label, q,
        |    list_transform(q, (x, i) -> x + ((i - 1) % 5) - 2) AS qt
        |  FROM q WHERE vec_id % 4 = 0),
        |p AS (
        |  SELECT vec_id + $PlantOffset AS vec_id, label,
        |    vec_id AS canonical_id,
        |    CAST(list_sum(list_transform(range(1, len(q) + 1),
        |      i -> q[i] * qt[i])) AS BIGINT) AS dot,
        |    CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS nq1,
        |    CAST(list_sum(list_transform(qt, x -> x * x)) AS BIGINT) AS nq2
        |  FROM tw),
        |v AS (
        |  SELECT vec_id, label, canonical_id,
        |    CASE WHEN dot <= 0 THEN CAST(0 AS BIGINT)
        |      ELSE (dot * dot) // greatest((nq1 * nq2) // 1000000, 1)
        |    END AS cos2_ppm
        |  FROM p)
        |SELECT vec_id, label, canonical_id, cos2_ppm
        |FROM v WHERE cos2_ppm >= $SemTau2Ppm
        |ORDER BY vec_id""".stripMargin),
    "dd_cross_source_overlap" -> GQuery.sql(crossSourceOverlap,
      """WITH t AS (
        |  SELECT source,
        |    list_filter(regexp_split_to_array(lower(text), '[[:punct:][:space:]]+'),
        |                x -> len(x) > 0) AS tk
        |  FROM documents),
        |g AS (
        |  SELECT DISTINCT source, g FROM (
        |    SELECT source, unnest(list_distinct(list_transform(
        |      range(1, len(tk) - 1), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])))
        |      AS g
        |    FROM t WHERE len(tk) >= 3)),
        |s AS (SELECT source, count(*) AS n FROM g GROUP BY source),
        |p AS (
        |  SELECT x.source AS source_a, y.source AS source_b, count(*) AS n_shared
        |  FROM g x JOIN g y ON x.g = y.g AND x.source < y.source
        |  GROUP BY 1, 2)
        |SELECT source_a, source_b, n_shared,
        |  sa.n AS n_grams_a, sb.n AS n_grams_b,
        |  (2*n_shared*1000000 + sa.n) // (2*sa.n) AS contain_a_ppm,
        |  (2*n_shared*1000000 + sb.n) // (2*sb.n) AS contain_b_ppm
        |FROM p JOIN s sa ON sa.source = p.source_a
        |       JOIN s sb ON sb.source = p.source_b
        |ORDER BY source_a, source_b""".stripMargin),
    "dd_edit_distance" -> GQuery.sql(editDistance,
      s"""WITH toks AS (
        |  SELECT doc_id, source,
        |    list_filter(regexp_split_to_array(lower(text), '[[:punct:][:space:]]+'),
        |                x -> len(x) > 0) AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, source,
        |    list_distinct(list_transform(range(1, greatest(len(t) - 1, 1)),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingles
        |  FROM toks WHERE len(t) >= 3),
        |cand AS (
        |  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
        |    CAST(len(list_intersect(a.shingles, b.shingles)) AS BIGINT) AS n_shared
        |  FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.shingles, b.shingles)) >= $EditMinShared),
        |norm AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nt
        |  FROM documents),
        |v AS (
        |  SELECT c.doc_id_1, c.doc_id_2, c.n_shared,
        |    CAST(levenshtein(n1.nt, n2.nt) AS BIGINT) AS dist,
        |    CAST(greatest(length(n1.nt), length(n2.nt)) AS BIGINT) AS max_len
        |  FROM cand c
        |  JOIN norm n1 ON n1.doc_id = c.doc_id_1
        |  JOIN norm n2 ON n2.doc_id = c.doc_id_2)
        |SELECT doc_id_1, doc_id_2, n_shared, dist, max_len,
        |  (2*dist*1000000 + max_len) // (2*max_len) AS rel_ppm
        |FROM v WHERE dist * 5 <= max_len
        |ORDER BY doc_id_1, doc_id_2""".stripMargin),
    "dd_survivorship" -> GQuery.sql(survivorship,
      """WITH docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, ' ' || text || chr(9)
        |  FROM documents WHERE doc_id % 4 = 0),
        |c AS (
        |  SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS h,
        |    doc_id, CAST(length(text) AS BIGINT) AS len
        |  FROM docs),
        |r AS (
        |  SELECT h, doc_id, len, count(*) OVER (PARTITION BY h) AS n_copies,
        |    row_number() OVER (PARTITION BY h ORDER BY len DESC, doc_id)
        |      AS rk
        |  FROM c)
        |SELECT h, doc_id AS survivor_id, len AS survivor_len,
        |  CAST(n_copies AS BIGINT) AS n_copies
        |FROM r WHERE rk = 1 ORDER BY h""".stripMargin),
    "dd_cluster_size_hist" -> GQuery.sql(clusterSizeHist,
      """WITH c AS (
        |  SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS h,
        |    count(*) AS size
        |  FROM documents GROUP BY 1)
        |SELECT size, count(*) AS n_clusters,
        |  CAST(size * count(*) AS BIGINT) AS n_docs
        |FROM c GROUP BY size ORDER BY size""".stripMargin),
    "dd_span_intervals" -> GQuery.sql(spanIntervals,
      s"""WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '[[:punct:][:space:]]+'),
        |                x -> len(x) > 0) AS t
        |  FROM documents),
        |o AS (
        |  SELECT doc_id, unnest(list_transform(range(1, greatest(len(t) - ${SpanTokens - 2}, 1)),
        |    i -> struct_pack(pos := i - 1,
        |                     span := array_to_string(t[i:i+${SpanTokens - 1}], ' ')))) AS s
        |  FROM toks),
        |occ AS (SELECT doc_id, s.pos AS pos,
        |        doc_id * 1048576 + s.pos AS k, s.span AS span FROM o),
        |f AS (SELECT span, min(k) AS fk FROM occ GROUP BY span),
        |dup AS (SELECT doc_id, pos FROM occ JOIN f USING (span) WHERE k <> fk),
        |isl AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
        |                   + $SpanTokens
        |         THEN 1 ELSE 0 END AS brk
        |  FROM dup),
        |isl2 AS (
        |  SELECT doc_id, pos,
        |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
        |                   ROWS UNBOUNDED PRECEDING) AS island
        |  FROM isl),
        |iv AS (
        |  SELECT doc_id, max(pos) + $SpanTokens - min(pos) AS len
        |  FROM isl2 GROUP BY doc_id, island),
        |pd AS (
        |  SELECT doc_id, count(*) AS n_intervals,
        |    sum(len) AS dup_tokens, max(len) AS max_run
        |  FROM iv GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(coalesce(n_intervals, 0) AS BIGINT) AS n_intervals,
        |  CAST(coalesce(dup_tokens, 0) AS BIGINT) AS dup_tokens,
        |  CAST(coalesce(max_run, 0) AS BIGINT) AS max_run
        |FROM documents d LEFT JOIN pd USING (doc_id)
        |ORDER BY doc_id""".stripMargin),
    "dd_span_dedup" -> GQuery.sql(spanDedup,
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '[[:punct:][:space:]]+'),
        |                x -> len(x) > 0) AS t
        |  FROM documents),
        |o AS (
        |  SELECT doc_id, unnest(list_transform(range(1, greatest(len(t) - 3, 1)),
        |    i -> struct_pack(pos := i - 1,
        |                     span := array_to_string(t[i:i+4], ' ')))) AS s
        |  FROM toks),
        |occ AS (SELECT doc_id, doc_id * 1048576 + s.pos AS k, s.span AS span FROM o),
        |f AS (SELECT span, min(k) AS fk FROM occ GROUP BY span)
        |SELECT occ.doc_id, count(*) AS n_spans,
        |  count(*) FILTER (WHERE k <> fk) AS n_dup_spans,
        |  round((count(*) FILTER (WHERE k <> fk))::DOUBLE / count(*), 6) AS dup_ratio
        |FROM occ JOIN f USING (span)
        |GROUP BY occ.doc_id
        |ORDER BY doc_id""".stripMargin),
    "dd_near_dedup_corpus" -> GQuery.sql(nearDedupCorpus,
      """WITH RECURSIVE docs AS (
        |  SELECT doc_id, source, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, source, ' ' || text || chr(9)
        |  FROM documents WHERE doc_id % 4 = 0),
        |toks AS (
        |  SELECT doc_id, source,
        |    list_filter(regexp_split_to_array(lower(text), '[[:punct:][:space:]]+'),
        |                x -> len(x) > 0) AS t
        |  FROM docs),
        |sh AS (
        |  SELECT doc_id, source,
        |    list_distinct(list_transform(range(1, greatest(len(t) - 1, 1)),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingles
        |  FROM toks WHERE len(t) >= 3),
        |pairs AS (
        |  SELECT a.doc_id AS i, b.doc_id AS j
        |  FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.shingles, b.shingles))::DOUBLE /
        |        len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.35),
        |edges AS (SELECT i, j FROM pairs UNION ALL SELECT j AS i, i AS j FROM pairs),
        |cc AS (
        |  SELECT DISTINCT i AS id, i AS lbl FROM edges
        |  UNION
        |  SELECT e.j AS id, cc.lbl FROM cc JOIN edges e ON e.i = cc.id),
        |asg AS (SELECT id, min(lbl) AS cluster_id FROM cc GROUP BY id),
        |dropped AS (SELECT id FROM asg WHERE id != cluster_id)
        |SELECT d.source AS source, count(*) AS n_docs,
        |  count(*) FILTER (WHERE dr.id IS NULL) AS n_kept
        |FROM docs d LEFT JOIN dropped dr ON d.doc_id = dr.id
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    "dd_cluster" -> GQuery.sql(cluster,
      """WITH RECURSIVE docs AS (
        |  SELECT doc_id, source, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, source, ' ' || text || chr(9)
        |  FROM documents WHERE doc_id % 4 = 0),
        |toks AS (
        |  SELECT doc_id, source,
        |    list_filter(regexp_split_to_array(lower(text), '[[:punct:][:space:]]+'),
        |                x -> len(x) > 0) AS t
        |  FROM docs),
        |sh AS (
        |  SELECT doc_id, source,
        |    list_distinct(list_transform(range(1, greatest(len(t) - 1, 1)),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingles
        |  FROM toks WHERE len(t) >= 3),
        |pairs AS (
        |  SELECT a.doc_id AS i, b.doc_id AS j
        |  FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.shingles, b.shingles))::DOUBLE /
        |        len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.35),
        |edges AS (SELECT i, j FROM pairs UNION ALL SELECT j AS i, i AS j FROM pairs),
        |cc AS (
        |  SELECT DISTINCT i AS id, i AS lbl FROM edges
        |  UNION
        |  SELECT e.j AS id, cc.lbl FROM cc JOIN edges e ON e.i = cc.id),
        |asg AS (SELECT id, min(lbl) AS cluster_id FROM cc GROUP BY id),
        |sz AS (SELECT cluster_id, count(*) AS cluster_size FROM asg GROUP BY cluster_id)
        |SELECT a.id AS doc_id, a.cluster_id, sz.cluster_size
        |FROM asg a JOIN sz USING (cluster_id)
        |ORDER BY doc_id""".stripMargin),
    "dd_embed_cosine_lsh" -> GQuery.sql(embedCosineLsh,
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |aug AS (
        |  SELECT vec_id, label, v FROM e
        |  UNION ALL
        |  SELECT vec_id + 1000000, label, list_transform(v, x -> x * 0.5) FROM e)
        |SELECT x.vec_id AS vec_id_1, y.vec_id AS vec_id_2, x.label AS label,
        |  round(list_inner_product(x.v, y.v) /
        |    (sqrt(list_inner_product(x.v, x.v)) * sqrt(list_inner_product(y.v, y.v))), 4) AS cosine
        |FROM aug x JOIN aug y ON x.label = y.label AND x.vec_id < y.vec_id
        |WHERE list_inner_product(x.v, y.v) /
        |  (sqrt(list_inner_product(x.v, x.v)) * sqrt(list_inner_product(y.v, y.v))) >= 0.9
        |ORDER BY vec_id_1, vec_id_2""".stripMargin),
    "dd_exact" -> GQuery.sql(exact,
      """SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS md5_hash,
        |  min(doc_id) AS canonical_id, count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY md5_hash""".stripMargin),
    "dd_containment" -> GQuery.sql(containment,
      """WITH toks AS (
        |  SELECT doc_id, source,
        |    list_filter(regexp_split_to_array(lower(text), '[[:punct:][:space:]]+'),
        |                x -> len(x) > 0) AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, source,
        |    list_distinct(list_transform(range(1, greatest(len(t) - 1, 1)),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingles
        |  FROM toks WHERE len(t) >= 3)
        |SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
        |  round(len(list_intersect(a.shingles, b.shingles))::DOUBLE /
        |        len(a.shingles), 4) AS containment
        |FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id <> b.doc_id
        |WHERE len(list_intersect(a.shingles, b.shingles))::DOUBLE /
        |      len(a.shingles) >= 0.3
        |ORDER BY doc_id_a, doc_id_b""".stripMargin),
    "dd_ngram_jaccard" -> GQuery.sql(ngramJaccard,
      """WITH toks AS (
        |  SELECT doc_id, source,
        |    list_filter(regexp_split_to_array(lower(text), '[[:punct:][:space:]]+'),
        |                x -> len(x) > 0) AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, source,
        |    list_distinct(list_transform(range(1, greatest(len(t) - 1, 1)),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingles
        |  FROM toks WHERE len(t) >= 3)
        |SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
        |  round(len(list_intersect(a.shingles, b.shingles))::DOUBLE /
        |        len(list_distinct(list_concat(a.shingles, b.shingles))), 4) AS jaccard
        |FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.shingles, b.shingles))::DOUBLE /
        |      len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.35
        |ORDER BY doc_id_1, doc_id_2""".stripMargin),
    "dd_lsh_recall" -> GQuery.sql(lshRecallCensus, lshRecallOracle),
    "dd_minhash_error" -> GQuery.sql(minhashErrorCensus, minhashErrorOracle),
    // identical truth domain to dd_minhash_lsh: the stored-index probe
    // must reproduce the same planted pairs the one-shot pipeline finds
    "dd_incremental_probe" -> GQuery.sql(incrementalProbe,
      """WITH docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, ' ' || text || chr(9)
        |  FROM documents WHERE doc_id % 4 = 0),
        |toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '[[:punct:][:space:]]+'),
        |                x -> len(x) > 0) AS t
        |  FROM docs),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, greatest(len(t) - 1, 1)),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingles
        |  FROM toks WHERE len(t) >= 3)
        |SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
        |  round(len(list_intersect(a.shingles, b.shingles))::DOUBLE /
        |        len(list_distinct(list_concat(a.shingles, b.shingles))), 4) AS jaccard
        |FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1000000
        |WHERE len(list_intersect(a.shingles, b.shingles))::DOUBLE /
        |      len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.35
        |ORDER BY doc_id_1, doc_id_2""".stripMargin),
    "dd_minhash_lsh" -> GQuery.sql(minhashLshPlanted,
      """WITH docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, ' ' || text || chr(9)
        |  FROM documents WHERE doc_id % 4 = 0),
        |toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '[[:punct:][:space:]]+'),
        |                x -> len(x) > 0) AS t
        |  FROM docs),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, greatest(len(t) - 1, 1)),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingles
        |  FROM toks WHERE len(t) >= 3)
        |SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
        |  round(len(list_intersect(a.shingles, b.shingles))::DOUBLE /
        |        len(list_distinct(list_concat(a.shingles, b.shingles))), 4) AS jaccard
        |FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1000000
        |WHERE len(list_intersect(a.shingles, b.shingles))::DOUBLE /
        |      len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.35
        |ORDER BY doc_id_1, doc_id_2""".stripMargin),
    "dd_simhash" -> GQuery.sql(simhashPlanted,
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '[[:punct:][:space:]]+'),
        |                x -> len(x) > 0) AS t
        |  FROM documents)
        |SELECT doc_id AS doc_id_1, doc_id + 1000000 AS doc_id_2,
        |  CAST(0 AS BIGINT) AS hamming
        |FROM toks WHERE doc_id % 4 = 0 AND len(t) >= 1
        |ORDER BY doc_id_1, doc_id_2""".stripMargin),
    "dd_embed_cosine" -> GQuery.sql(embedCosine,
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)
        |SELECT x.vec_id AS vec_id_1, y.vec_id AS vec_id_2, x.label AS label,
        |  round(list_inner_product(x.v, y.v) /
        |    (sqrt(list_inner_product(x.v, x.v)) * sqrt(list_inner_product(y.v, y.v))), 4) AS cosine
        |FROM e x JOIN e y ON x.label = y.label AND x.vec_id < y.vec_id
        |WHERE list_inner_product(x.v, y.v) /
        |  (sqrt(list_inner_product(x.v, x.v)) * sqrt(list_inner_product(y.v, y.v))) >= 0.3
        |ORDER BY vec_id_1, vec_id_2""".stripMargin),
  )
}
