package org.apache.spark.sql.perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{Encoders, Row, SparkSession}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graftshim.PlanTelemetry
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-query spans from Spark's public listeners, attached only for a
  * traced pass. Queries run one at a time, so every event that arrives
  * between [[begin]] and [[end]] belongs to the running query.
  *
  * A query's span has children: the `build` span (inside
  * `fn(spark, sfDir)`), Catalyst phases (from each executed
  * `QueryExecution.tracker`), jobs, and streaming micro-batches. Each
  * instant of the query is given to the innermost layer covering it —
  * job, then planning, optimization, analysis, stream batch, build —
  * and what no child covers is `driver.gap_s`. The self times so
  * partition the query's wall time: nothing is counted twice and no
  * layer is negative.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val events = new ConcurrentLinkedQueue[Ev]()
  private val session = spark.asInstanceOf[classic.SparkSession]

  private object Jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      events.add(JobStart(e.jobId, e.time))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      events.add(JobEnd(e.jobId, e.time))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      events.add(StageDone(e.stageInfo.failureReason.isDefined))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val failed = e.reason != org.apache.spark.Success
      events.add(if (m == null) TaskDone(0, 0, 0, 0, 0, 0, 0, 0, failed)
        else TaskDone(m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
          m.diskBytesSpilled, m.inputMetrics.bytesRead,
          m.outputMetrics.bytesWritten, failed))
    }
  }

  private object Plans extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      val phases = qe.tracker.phases.toSeq.map { case (k, p) =>
        (k, p.startTimeMs, p.endTimeMs) }
      val counts = scala.util.Try(PlanTelemetry.of(
        new classic.Dataset[Row](qe, Encoders.row(qe.analyzed.schema))))
        .getOrElse(PlanTelemetry.Counts(0, 0))
      events.add(Qe(phases, counts.exchanges, counts.skewSplits))
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  private object Streams extends StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit =
      events.add(StreamStart)
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      events.add(Batch(java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(Jobs)
    session.listenerManager.register(Plans)
    spark.streams.addListener(Streams)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(Jobs)
    session.listenerManager.unregister(Plans)
    spark.streams.removeListener(Streams)
    events.clear()
  }

  private def drain(): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()

  // the running query
  private var name = ""
  private var module = ""
  private var startMs = 0L
  private var seq = 0
  private val spans = mutable.ArrayBuffer.empty[String]

  def begin(query: String, queryModule: String): Unit = {
    drain()
    events.clear()
    name = query
    module = queryModule
    startMs = System.currentTimeMillis()
  }

  private val Order = Seq("job", "planning", "optimization", "analysis",
    "stream_batch", "build")

  /** Closes the running query's span; returns its per-layer figures. */
  def end(t0: Long, built: Long, t1: Long): Map[String, Double] = {
    drain()
    val evs = Iterator.continually(events.poll()).takeWhile(_ != null).toVector
    val w0 = startMs.toDouble
    val w1 = w0 + (t1 - t0) / 1e6
    val buildEnd = w0 + (built - t0) / 1e6
    val jobEnds = evs.collect { case JobEnd(id, ms) => id -> ms.toDouble }.toMap
    val children: Vector[(String, Double, Double)] =
      Vector(("build", w0, buildEnd)) ++
        evs.collect { case JobStart(id, ms) =>
          ("job", ms.toDouble, jobEnds.getOrElse(id, w1)) } ++
        evs.collect { case q: Qe => q.phases.collect {
          case (k, a, b) if Order.contains(k) => (k, a.toDouble, b.toDouble) } }
          .flatten ++
        evs.collect { case b: Batch =>
          ("stream_batch", b.startMs.toDouble,
            b.startMs + b.phasesMs.getOrElse("triggerExecution", 0L).toDouble) }
    val self = selfTimes(children, w0, w1)
    val tasks = evs.collect { case t: TaskDone => t }
    val batches = evs.collect { case b: Batch => b }
    val qes = evs.collect { case q: Qe => q }
    def phase(k: String) = batches.map(_.phasesMs.getOrElse(k, 0L)).sum / 1e3
    val mb = 1048576.0
    val layers = Map(
      s"module.$module.wall_s" -> (t1 - t0) / 1e9,
      "trace.pass_s" -> (t1 - t0) / 1e9,
      "driver.build_s" -> self("build"),
      "driver.analysis_s" -> self("analysis"),
      "driver.optimization_s" -> self("optimization"),
      "driver.planning_s" -> self("planning"),
      "driver.gap_s" -> self("gap"),
      "stream.batch_self_s" -> self("stream_batch"),
      "exec.job_s" -> self("job"),
      "exec.jobs" -> evs.count(_.isInstanceOf[JobStart]).toDouble,
      "exec.stages" -> evs.count(_.isInstanceOf[StageDone]).toDouble,
      "exec.tasks" -> tasks.size.toDouble,
      "exec.failed_tasks" -> tasks.count(_.failed).toDouble,
      "exec.task_run_s" -> tasks.map(_.runMs).sum / 1e3,
      "exec.task_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
      "exec.task_gc_s" -> tasks.map(_.gcMs).sum / 1e3,
      "exec.shuffle_write_mb" -> tasks.map(_.shuffleWrite).sum / mb,
      "exec.shuffle_read_mb" -> tasks.map(_.shuffleRead).sum / mb,
      "exec.spill_mb" -> tasks.map(_.spill).sum / mb,
      "exec.input_mb" -> tasks.map(_.input).sum / mb,
      "exec.output_mb" -> tasks.map(_.output).sum / mb,
      "plan.exchanges" -> qes.map(_.exchanges).sum.toDouble,
      "plan.skew_splits" -> qes.map(_.skewSplits).sum.toDouble,
      "stream.queries" -> evs.count(_ == StreamStart).toDouble,
      "stream.batches" -> batches.size.toDouble,
      "stream.empty_batches" -> batches.count(_.rows == 0).toDouble,
      "stream.rows_in" -> batches.map(_.rows).sum.toDouble,
      "stream.add_batch_s" -> phase("addBatch"),
      "stream.get_batch_s" -> phase("getBatch"),
      "stream.query_planning_s" -> phase("queryPlanning"),
      "stream.wal_commit_s" -> phase("walCommit"),
      "stream.commit_offsets_s" -> phase("commitOffsets"),
      "stream.trigger_s" -> phase("triggerExecution"))
    seq += 1
    spans += Json.obj(
      "id" -> seq.toString,
      "name" -> Json.str(name),
      "module" -> Json.str(module),
      "start_ms" -> Json.num(w0),
      "end_ms" -> Json.num(w1),
      "children" -> Json.arr(children.map { case (k, a, b) => Json.obj(
        "kind" -> Json.str(k), "parent" -> seq.toString,
        "start_ms" -> Json.num(a), "end_ms" -> Json.num(b)) }),
      "self_s" -> Json.obj(self.toSeq.sortBy(_._1)
        .map { case (k, v) => k -> Json.num(v) }: _*))
    layers
  }

  /** Seconds of [w0, w1] owned by each kind: an instant belongs to the
    * first kind in `Order` whose span covers it, else to "gap".
    */
  private def selfTimes(children: Seq[(String, Double, Double)],
      w0: Double, w1: Double): Map[String, Double] = {
    val clipped = children.flatMap { case (k, a, b) =>
      val (lo, hi) = (a max w0, b min w1)
      if (hi > lo) Some((Order.indexOf(k), lo, hi)) else None }
    val cuts = (Seq(w0, w1) ++ clipped.flatMap(c => Seq(c._2, c._3))).distinct.sorted
    val ms = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    cuts.zip(cuts.drop(1)).foreach { case (a, b) =>
      val mid = (a + b) / 2
      val covering = clipped.collect { case (i, lo, hi) if lo <= mid && mid < hi => i }
      ms(if (covering.isEmpty) "gap" else Order(covering.min)) += b - a
    }
    (Order :+ "gap").map(k => k -> ms(k) / 1e3).toMap
  }

  def writeSpans(path: Path): Unit =
    Files.write(path, spans.asJava)
}

private object Tracer {
  sealed trait Ev
  final case class JobStart(id: Int, ms: Long) extends Ev
  final case class JobEnd(id: Int, ms: Long) extends Ev
  final case class StageDone(failed: Boolean) extends Ev
  final case class TaskDone(runMs: Long, cpuNs: Long, gcMs: Long,
      shuffleWrite: Long, shuffleRead: Long, spill: Long, input: Long,
      output: Long, failed: Boolean) extends Ev
  final case class Qe(phases: Seq[(String, Long, Long)],
      exchanges: Int, skewSplits: Int) extends Ev
  case object StreamStart extends Ev
  final case class Batch(startMs: Long, rows: Long,
      phasesMs: Map[String, Long]) extends Ev
}
