package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured-Streaming forms of the event-time operators
  * (SURVEY.md §2.C): the same hourly rollup and sessionization as
  * `operators.Events`, expressed incrementally — file source →
  * watermark → windowed agg / stateful flatMapGroupsWithState →
  * sink. In production the source is a stream (files landing, Kafka);
  * here the parquet table replayed through `readStream` exercises the
  * identical plan, and EventsStreamingSpec pins streaming results to
  * the batch results.
  */
object EventsStreaming {

  /** `eventsDir` is a DIRECTORY into which event parquet files land
    * (the streaming file source contract — new files are discovered
    * per trigger). The file source needs an explicit schema; take it
    * from a batch read of the same directory, then normalize `ts` the
    * same way Tables.events does (ns-as-long corpora floor to µs;
    * TIMESTAMP_NTZ corpora cast to the UTC-pinned session zone).
    */
  /** On-disk schema per (session, REAL path of the first staged file)
    * — staged watch dirs are fresh temp dirs of symlinks into the same
    * immutable corpus, so keying the memo on the resolved target makes
    * every drain after the first skip the schema-inference job
    * (Tables.schemaMemo, the catalog posture, applied to the staged
    * streaming inputs — r17).
    */
  private val srcSchemaMemo =
    graft.Memo.untimed[StructType]("EventsStreaming.srcSchema")

  def readEvents(spark: SparkSession, eventsDir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val key = {
      val fs = new java.io.File(eventsDir).listFiles
      val first = if (fs == null) None
        else fs.filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
          .headOption
      first.map(_.toPath.toRealPath().toString).getOrElse(eventsDir)
    }
    val onDisk = srcSchemaMemo(spark, key)(spark.read.parquet(eventsDir).schema)
    val reader = spark.readStream.schema(onDisk)
    val stream = maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n))
      .parquet(eventsDir)
    onDisk("ts").dataType match {
      case LongType =>
        stream.withColumn("ts", timestamp_micros(expr("ts div 1000L")))
      case TimestampNTZType =>
        stream.withColumn("ts", col("ts").cast(TimestampType))
      case _ => stream
    }
  }

  /** Stage the test table's single parquet file into a fresh
    * directory so it can drive the streaming source.
    */
  def stageEventsDir(sfDir: String, copies: Int = 1): String = {
    val src = java.nio.file.Paths.get(s"$sfDir/events.parquet")
    val d = java.nio.file.Files.createTempDirectory("graft_events_stream")
    // a Spark-written table is a DIRECTORY of part files: link the
    // files themselves, the streaming source does not follow
    // directory links; `copies` > 1 stages the corpus that many times
    // (the at-least-once replay the dedup operator exists for)
    val files: Seq[java.nio.file.Path] =
      if (java.nio.file.Files.isDirectory(src))
        src.toFile.listFiles.filter(_.getName.endsWith(".parquet"))
          .map(_.toPath).toSeq
      else Seq(src)
    for (c <- 0 until copies; (f, i) <- files.zipWithIndex)
      java.nio.file.Files.createSymbolicLink(
        d.resolve(s"events_${c}_$i.parquet"), f)
    d.toString
  }

  /** Tumbling 1-hour event-time window per type, 2-hour watermark.
    * Late data beyond the watermark is dropped and state is bounded —
    * the property that lets this run forever on an unbounded stream.
    */
  def hourlyRollup(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("value_sum"))
      .select(unix_millis(col("window.start")).as("hour_ms"),
        col("event_type"), col("n_events"), col("value_sum"))

  /** Stream-static enrichment: the unbounded event stream joined to a
    * bounded reference dimension (per-user cohort day), then windowed.
    * The join is STATELESS — the static side is planned as a broadcast
    * build once per micro-batch, no state store, no watermark
    * interaction — which is why enrich-then-aggregate is the
    * production default over a stream-stream join whenever one side
    * is reference data. Only the windowed aggregate keeps state,
    * bounded by the watermark as usual.
    */
  def cohortRollup(events: DataFrame, userCohorts: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .join(broadcast(userCohorts), "user_id")
      .groupBy(window(col("ts"), "1 hour"), col("cohort_ms"))
      .agg(count(lit(1)).as("n_events"))
      .select(unix_millis(col("window.start")).as("hour_ms"),
        col("cohort_ms"), col("n_events"))

  /** Sliding 1-hour windows advancing every 30 minutes: each event
    * lands in two overlapping windows, the shape trend dashboards
    * aggregate on. State is one partial aggregate per open
    * (window, type) pair, bounded by the watermark exactly like the
    * tumbling rollup.
    */
  def slidingRollup(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("value_sum"))
      .select(unix_millis(col("window.start")).as("win_ms"),
        col("event_type"), col("n_events"), col("value_sum"))

  // carries the raw `ts` (not a derived long) so the watermark tag on
  // the column survives to the stateful operator — EventTimeTimeout
  // requires a watermarked attribute in its input
  case class Ev(event_id: Long, user_id: Long, ts: java.sql.Timestamp, value: Double) {
    def ms: Long = ts.getTime
  }
  case class Session(user_id: Long, session_seq: Long,
      session_start_ms: Long, session_end_ms: Long,
      n_events: Long, value_sum: Double)
  /** One not-yet-final session interval. */
  case class Sess(startMs: Long, endMs: Long, nEvents: Long, valueSum: Double)
  /** Per-user state: the start-ordered PENDING sessions (none of them
    * watermark-final yet) plus the next session seq. Bounded: a
    * session finalizes once the watermark passes end + gap, so at most
    * ~watermark-delay/gap + 1 sessions are ever pending per user; the
    * emptied record is kept as a tombstone so seq stays monotone
    * across closes and restarts — O(1) state per user at any stream
    * length.
    */
  case class SessState(nextSeq: Long, pending: List[Sess])

  val GapMs: Long = 30L * 60 * 1000

  /** Stateful gap sessionizer, identical to the batch
    * `Events.sessionize` for ANY arrival order the watermark admits.
    * Sessions are buffered in per-user GroupState and emitted ONLY
    * once the event-time watermark passes `end + gap`
    * (EventTimeTimeout) — never merely because a later event opened
    * the next session. Until then a ≤-watermark-late event can still
    * land between two pending sessions and BRIDGE them (the merge
    * min-s the start and max-es the end), exactly as batch would have
    * grouped it; once the watermark passes end + gap no admissible
    * event (late rows below the watermark are dropped upstream) can
    * reach the session, so emission is final and append mode never
    * retracts. Finalizable sessions are always a start-ordered prefix
    * of the pending list, which keeps session_seq in batch order.
    */
  def sessionize(spark: SparkSession, events: DataFrame): Dataset[Session] = {
    import spark.implicits._
    val evs = events
      .withWatermark("ts", "2 hours")
      .select(col("event_id"), col("user_id"), col("ts"), col("value")).as[Ev]
    evs.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, it: Iterator[Ev], state: GroupState[SessState]) =>
          var st = state.getOption.getOrElse(SessState(1L, Nil))
          if (!state.hasTimedOut) {
            // fold this batch's events into the pending sessions: an
            // event within gap of a session's interval joins it, and an
            // event within gap of TWO sessions bridges them into one
            val sorted = it.toSeq.sortBy(e => (e.ms, e.event_id))
            var pending = st.pending
            sorted.foreach { e =>
              val (touching, rest) = pending.partition(s =>
                e.ms >= s.startMs - GapMs && e.ms <= s.endMs + GapMs)
              val merged = touching.foldLeft(Sess(e.ms, e.ms, 1L, e.value)) {
                (a, s) => Sess(math.min(a.startMs, s.startMs),
                  math.max(a.endMs, s.endMs),
                  a.nEvents + s.nEvents, a.valueSum + s.valueSum)
              }
              pending = (merged :: rest).sortBy(_.startMs)
            }
            st = st.copy(pending = pending)
          }
          // emit the prefix the watermark has sealed (end + gap below
          // it); later pending sessions stay buffered for the timeout
          val wm = state.getCurrentWatermarkMs()
          val (done, still) = st.pending.span(s => s.endMs + GapMs < wm)
          val out = done.zipWithIndex.map { case (s, i) =>
            Session(userId, st.nextSeq + i, s.startMs, s.endMs,
              s.nEvents, math.round(s.valueSum * 100.0) / 100.0)
          }
          state.update(SessState(st.nextSeq + done.length, still))
          // the timeout timestamp must sit above the current watermark
          // or Spark rejects it
          still.headOption.foreach { s =>
            state.setTimeoutTimestamp(math.max(s.endMs + GapMs, wm + 1))
          }
          out.iterator
      }
  }

  /** Streaming word count — the reference's flagship job over a
    * stream of raw text files (new files are discovered per trigger,
    * exactly the reference's directory-input contract). Complete-mode
    * counts converge to the batch wordcount once the source drains;
    * the incremental state is the per-word partial count, the same
    * map-side partial aggregation as the batch plan.
    */
  def wordcount(spark: SparkSession, textDir: String): DataFrame =
    spark.readStream.text(textDir)
      .select(explode(graft.functions.Text.tokens(col("value"))).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))

  /** Streaming heavy hitters — streaming word count with BOUNDED
    * state. The complete-mode `wordcount` above keeps one state row
    * per distinct word forever; on an unbounded vocabulary that state
    * grows without limit. Here the stream folds into a single
    * mergeable SpaceSaving summary (functions/SpaceSaving.scala): each
    * micro-batch reduces map-side to capacity-entry partials, and the
    * stateful global aggregate merges them into ONE fixed-size
    * summary — state is `cap` entries regardless of vocabulary, the
    * sketch analogue of the watermark bound on windowed state. Counts
    * carry [ub−err, ub] brackets; with cap ≥ vocabulary the sketch
    * degenerates to exact streaming word count (pinned by spec).
    */
  def heavyHitters(spark: SparkSession, textDir: String, cap: Int): DataFrame =
    spark.readStream.text(textDir)
      .select(explode(graft.functions.Text.tokens(col("value"))).as("word"))
      .groupBy()
      .agg(graft.functions.SpaceSaving.spaceSaving(cap)(col("word")).as("summary"))

  /** Test/staging helper: write `df` as a single parquet file dropped
    * atomically into `watchDir` — one streaming-source "file arrival".
    */
  private val lastDropMtime = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Root for staged first-drop corpora (see `stageCorpusDrop`). */
  val CorpusDropRoot = "/root/repo/target/graft_stream_corpus"

  /** The staged-input twin of `dropFile` for the CORPUS-SIZED first
    * drop of the sentinel-protocol drains (attribution-outer /
    * watermark census / sessionize): stage the normalized frame ONCE
    * per (corpus dir, name) under the shared manifest-pointer
    * protocol — the `stageEventsDir`/`stageTextDir` staged-INPUT
    * convention, never a result — and per invocation only symlink the
    * committed part file into the fresh watch dir. Order safety: the
    * symlink's resolved mtime is the STAGING time, hours older than
    * any sentinel `dropFile` writes next (and `lastDropMtime` is
    * bumped past it, so even a just-staged corpus cannot tie with its
    * own sentinels). r15 shape: every timed pass re-wrote the whole
    * event corpus through `dropFile` before draining it.
    */
  def stageCorpusDrop(df: DataFrame, dir: String, name: String,
      watchDir: String): Unit = {
    val v = graft.operators.Staging.stagedDir(
      s"$CorpusDropRoot/$name", dir) { tmp =>
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    }
    val parts = new java.io.File(v).listFiles
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    parts.zipWithIndex.foreach { case (f, i) =>
      java.nio.file.Files.createSymbolicLink(
        java.nio.file.Paths.get(watchDir, s"${name}_$i.parquet"), f.toPath)
      lastDropMtime.updateAndGet(p => math.max(p,
        java.nio.file.Files.getLastModifiedTime(f.toPath).toMillis))
    }
  }

  /** Staged-input form of N ORDERED `dropFile` slices (the r17
    * extension of `stageCorpusDrop` to the micro-batch ingest drains):
    * the slice frames are deterministic functions of the corpus
    * (pmod filters / planted query sets), so write them ONCE per
    * (corpus dir, name) under the manifest-pointer protocol with
    * STRICTLY INCREASING mtimes across slices — FileStreamSource
    * orders pending files by modification time, so staged slice order
    * IS micro-batch order, exactly as the sequential dropFile calls
    * it replaces — and per invocation only symlink the committed part
    * files into the fresh watch dir. r16 shape: every timed pass
    * re-wrote all three corpus slices through dropFile (3 corpus-scale
    * Spark write jobs per pass) before draining them.
    */
  def stageSlicedDrop(slices: => Seq[DataFrame], dir: String, name: String,
      watchDir: String): Unit = {
    // `slices` is BY-NAME: building the sentinel frames costs a
    // corpus-scale max(ts) action in the sentinel-protocol drains, so
    // the frames (and that action) are only evaluated when the staging
    // actually writes — a warm-staged invocation never runs it.
    val v = graft.operators.Staging.stagedDir(
      s"$CorpusDropRoot/$name", dir) { tmp =>
      // base strictly above every drop already linked this session
      // (in particular the staged corpus a sentinel staging must
      // FOLLOW — stageCorpusDrop bumps lastDropMtime first), so slice
      // order can never tie with the corpus under coarse mtimes
      val t0 = math.max(System.currentTimeMillis(),
        lastDropMtime.get() + 1000L)
      slices.zipWithIndex.foreach { case (df, i) =>
        val sdir = tmp.resolve(s"slice_$i")
        df.coalesce(1).write.mode("overwrite").parquet(sdir.toString)
        sdir.toFile.listFiles.filter(_.getName.startsWith("part-"))
          .foreach(f => java.nio.file.Files.setLastModifiedTime(f.toPath,
            java.nio.file.attribute.FileTime.fromMillis(t0 + i * 2000L)))
      }
    }
    // symlink every staged slice (layout-driven, so warm invocations
    // never need the slice frames at all)
    val sliceDirs = new java.io.File(v).listFiles
      .filter(f => f.isDirectory && f.getName.startsWith("slice_"))
      .sortBy(_.getName.stripPrefix("slice_").toInt)
    sliceDirs.foreach { sd =>
      val i = sd.getName.stripPrefix("slice_")
      val parts = sd.listFiles
        .filter(_.getName.startsWith("part-")).sortBy(_.getName)
      parts.zipWithIndex.foreach { case (f, j) =>
        java.nio.file.Files.createSymbolicLink(
          java.nio.file.Paths.get(watchDir, s"${name}_${i}_$j.parquet"),
          f.toPath)
        lastDropMtime.updateAndGet(p => math.max(p,
          java.nio.file.Files.getLastModifiedTime(f.toPath).toMillis))
      }
    }
  }

  def dropFile(df: DataFrame, watchDir: String, name: String): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_drop")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = tmp.toFile.listFiles().find(_.getName.startsWith("part-")).get
    val target = java.nio.file.Paths.get(watchDir, s"$name.parquet")
    java.nio.file.Files.move(part.toPath, target)
    // FileStreamSource orders pending files by MODIFICATION TIME, not
    // path, so under coarse filesystem mtime granularity a sentinel
    // could tie with (and process before) the data file it must
    // follow — advancing the watermark past real events and silently
    // dropping them from outer joins / sessions (ADVICE r11 #3).
    // Assign each drop a strictly increasing mtime: the sequential
    // dropFile call order IS the intended micro-batch order.
    val t = lastDropMtime.updateAndGet(prev => math.max(prev + 1000L,
      java.nio.file.Files.getLastModifiedTime(target).toMillis))
    java.nio.file.Files.setLastModifiedTime(target,
      java.nio.file.attribute.FileTime.fromMillis(t))
  }

  /** Stream-stream interval join — the streaming form of the batch
    * `ev_range_join`: each purchase joined to the same user's clicks
    * in the preceding hour, as new events of BOTH kinds arrive.
    * Both sides carry their own watermark and the join condition
    * bounds the time skew, so Spark can evict click state older than
    * purchase-watermark − 1 h and purchase state the click watermark
    * has passed — bounded state on an unbounded stream, the canonical
    * watermarked stream-stream join. Inner-join matches emit as soon
    * as both rows have arrived (no watermark wait), so a drained
    * finite source yields exactly the batch pair set.
    */
  /** Hour bucket of an event time — part of the stream-stream join's
    * EQUI key (see clickAttribution): Spark's symmetric-hash join
    * scans, per input row, EVERY buffered state row of its equi-key
    * group; keyed by user alone, one zipf-hot user (the §5.2 skew
    * corpus routes 20% of events to a single id — ~39k clicks AND
    * ~39k purchases at skewed sf1) makes that scan quadratic in its
    * history: ~3·10⁹ single-task predicate evaluations, >200×
    * wall-clock blowup, measured in the r14 hot-key streaming
    * rehearsal. Bucketing the key by hour bounds each scan to the
    * rows of a 2-hour slice — the interval join's own window — so
    * per-row cost follows the key's RATE, not its retained history.
    */
  private def hourBucket(ts: Column): Column =
    // floor, not cast-truncation: `/` is double division and the cast
    // truncates toward zero, so pre-epoch (negative) timestamps would
    // shift every bucket boundary by one and the bucket(p)/bucket(p)-1
    // decomposition would drop qualifying pairs (ADVICE r14). floor on
    // the double quotient is exact here — |unix_millis| < 2^53.
    floor(unix_millis(ts) / lit(3600000.0d)).cast("long")

  /** Stream-stream interval join: purchases ⨝ same-user clicks in the
    * preceding hour. The equi key is (user, hour bucket) — the
    * standard BUCKETED interval-join decomposition: a click in
    * [p_ts − 1h, p_ts) has bucket(p) or bucket(p) − 1, so each click
    * row enters state under ITS bucket and its successor and every
    * qualifying pair meets at exactly b = bucket(p) — no duplicates,
    * byte-identical output, state scans bounded by the window
    * (hourBucket scaladoc has the measured hot-key numbers). Click
    * state doubles (two copies per row), the price of O(rate·window)
    * scans instead of O(history) — at 100 TB/day with any hot entity
    * that trade is the difference between a running job and a dead
    * partition.
    */
  def clickAttribution(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
      .withColumn("cb", explode(array(hourBucket(col("c_ts")),
        hourBucket(col("c_ts")) + 1L)))
      .withWatermark("c_ts", "2 hours")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
      .withColumn("pb", hourBucket(col("p_ts")))
      .withWatermark("p_ts", "2 hours")
    purchases.join(clicks,
        col("c_user") === col("p_user") && col("cb") === col("pb") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
          col("c_ts") < col("p_ts"))
      .select(col("event_id"), col("p_user").as("user_id"),
        unix_millis(col("p_ts")).as("p_ms"), unix_millis(col("c_ts")).as("c_ms"))
  }

  /** LEFT OUTER stream-stream interval join (VERDICT r10 #3) — the
    * semantics production attribution actually needs: every purchase
    * emits EXACTLY ONCE, either paired with each preceding-hour click
    * as soon as both rows exist, or with NULL click columns once the
    * watermark PROVES no qualifying click can still arrive (watermark
    * past the purchase's click-window end + delay). Both sides carry
    * watermarks and the join condition bounds the time skew, so click
    * state evicts beyond purchase-watermark − 1 h and purchase state
    * once the click watermark seals its window — both stores stay
    * hour-bounded on an unbounded stream (StreamingSpec asserts the
    * drained state is empty and that null rows appear ONLY after
    * watermark passage, never speculatively).
    */
  def clickAttributionOuter(events: DataFrame): DataFrame = {
    // same bucketed equi key as clickAttribution; the EXPLODED side
    // must be the CLICK (right/inner) side — the left (purchase) side
    // stays one row, so left-outer's "exactly one NULL row when the
    // watermark seals an unmatched window" semantics are untouched
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
      .withColumn("cb", explode(array(hourBucket(col("c_ts")),
        hourBucket(col("c_ts")) + 1L)))
      .withWatermark("c_ts", "2 hours")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
      .withColumn("pb", hourBucket(col("p_ts")))
      .withWatermark("p_ts", "2 hours")
    purchases.join(clicks,
        col("c_user") === col("p_user") && col("cb") === col("pb") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
          col("c_ts") < col("p_ts"),
        "leftOuter")
      .select(col("event_id"), col("p_user").as("user_id"),
        unix_millis(col("p_ts")).as("p_ms"), unix_millis(col("c_ts")).as("c_ms"))
  }

  /** Watermarked streaming dedup — the exactly-once ingest pattern:
    * duplicate event_ids arriving within the watermark horizon are
    * dropped; state is bounded by the watermark. Returns per-type
    * counts over the deduplicated stream.
    */
  def dedupCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"))

  /** Run a streaming query against a memory sink until the source is
    * drained; returns the collected sink table.
    */
  def runToMemory(spark: SparkSession, df: DataFrame, name: String,
      mode: String = "append"): DataFrame = {
    val q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name)
  }
}
