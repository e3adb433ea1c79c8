package org.apache.spark.sql.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.{CodegenGuard, SparkEntry}
import graft.operators.{Dedup, Similarity}

/** One benchmark process. run.py launches it with `--mode`:
  *
  *  - `setup`: build the session, load the registry, report the set-up
  *    time and exit;
  *  - `prime`: write each registry name with its module and whether it
  *    has a DuckDB oracle, then run `graft.Verify` over the named rows.
  *    That writes their results for the hash check and leaves the
  *    on-disk stagings they read in place for the measured runs;
  *  - `run`: a cold pass, then warm passes for `--seconds`. With
  *    `--trace 1` half the warm passes run with listeners attached (see
  *    [[Tracer]]).
  *
  * Every query is timed as `graft.Bench` times it:
  * `fn(spark, sfDir).count()`, one query at a time. Raw samples go to
  * `--out` as JSON; run.py turns them into metrics.
  */
object Harness {
  private val MinWarmPasses = 3

  /** Per-module registry maps, named as in `graft.operators`. */
  private def modules = Seq(
    "WordCount" -> graft.operators.WordCount.queries,
    "Relational" -> graft.operators.Relational.queries,
    "Events" -> graft.operators.Events.queries,
    "TextAnalysis" -> graft.operators.TextAnalysis.queries,
    "Dedup" -> graft.operators.Dedup.queries,
    "Similarity" -> graft.operators.Similarity.queries,
    "Multimodal" -> graft.operators.Multimodal.queries,
    "Pipeline" -> graft.operators.Pipeline.queries,
    "Bpe" -> graft.operators.Bpe.queries,
    "StreamingOps" -> graft.operators.StreamingOps.queries,
    "Sources" -> graft.operators.Sources.queries)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val cpus = opt("cpus").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    CodegenGuard.install()
    require(SparkEntry.registry.nonEmpty)
    val setupS = (Json.epochNanos() - opt("launch-ns").toLong) / 1e9
    val out = Paths.get(opt("out"))
    opt("mode") match {
      case "setup" =>
        Files.writeString(out, Json.obj("setup_s" -> Json.num(setupS)))
        // Nothing to flush or clean up: skip the orderly shutdown.
        Runtime.getRuntime.halt(0)
      case "prime" =>
        val oracle = SparkEntry.oracleSql.keySet
        val catalog = modules.flatMap { case (m, qs) => qs.keys.toSeq.sorted.map(n =>
          n -> Json.obj("module" -> Json.str(m), "oracle" -> oracle(n).toString)) }
        Files.writeString(out, Json.obj("catalog" -> Json.obj(catalog: _*)))
        // Reuses this session (getOrCreate) and stops it when done.
        graft.Verify.main(Array(opt("corpus"), opt("verify-out"), names(opt).mkString(",")))
      case "run" =>
        new Run(spark, opt, setupS).apply()
    }
  }

  private def names(opt: Map[String, String]): Seq[String] =
    Files.readAllLines(Paths.get(opt("names"))).toArray(Array.empty[String])
      .toSeq.map(_.trim).filter(_.nonEmpty)

  /** One query execution: wall time of `fn(...).count()`, its count
    * (-1 when it threw), the CPU time of the JVM's Java threads over it
    * (see [[Run.threadCpuNs]]) and, for a traced pass, its layer split.
    */
  private final case class Sample(name: String, wallS: Double, count: Long,
      cpuS: Double, layers: Map[String, Double])

  private final class Run(spark: SparkSession, opt: Map[String, String],
      setupS: Double) {
    private val corpus = opt("corpus")
    private val traced = opt("trace") == "1"
    private val queryNames = names(opt)
    private val rng = new scala.util.Random(opt("seed").toLong)
    private val moduleOf: Map[String, String] =
      modules.flatMap { case (m, qs) => qs.keys.map(_ -> m) }.toMap
    private val tracer = if (traced) Some(new Tracer(spark)) else None
    private val mx = ManagementFactory.getPlatformMXBeans(
      classOf[com.sun.management.OperatingSystemMXBean]).get(0)
    private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans
      .toArray(Array.empty[java.lang.management.GarbageCollectorMXBean])
      .map(_.getCollectionTime.max(0L)).sum
    private def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
    private val threads = ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]

    /** CPU time of each live Java thread: the driver, Spark's task and
      * service threads. The JIT compiler and GC threads are not Java
      * threads, so their time is left out: C2 keeps compiling freshly
      * generated classes through every pass, and its share of a query's
      * CPU time varies from pass to pass. A thread that starts and ends
      * within one query (a streaming query's execution thread) is
      * missed as well.
      */
    private def threadCpuNs(): Map[Long, Long] = {
      val ids = threads.getAllThreadIds
      ids.zip(threads.getThreadCpuTime(ids)).filter(_._2 >= 0).toMap
    }

    private def fills: Seq[(String, Long)] = Seq(
      "graph" -> graft.operators.WordCount.memoFillNanos.get(),
      "bpe" -> graft.operators.Bpe.memoFillNanos.get(),
      "semantic" -> Dedup.memoFillNanos.get(),
      "near_dup_pairs" -> Dedup.pairsFillNanos.get(),
      "near_dup_components" -> Dedup.componentsFillNanos.get(),
      "lsh_index" -> Dedup.lshFillNanos.get(),
      "ivf_index" -> Similarity.ivfFillNanos.get(),
      "knn_graph" -> Similarity.knnGraphFillNanos.get())

    private def runOne(name: String, trace: Boolean): Sample = {
      val fn = SparkEntry.queries(name)
      tracer.filter(_ => trace).foreach(_.begin(name, moduleOf(name)))
      val cpu0 = threadCpuNs()
      val t0 = System.nanoTime()
      var built = t0
      val count = try {
        val df = fn(spark, corpus)
        built = System.nanoTime()
        df.count()
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[perfbench] $name failed: $e")
          -1L
      }
      val t1 = System.nanoTime()
      val cpuS = threadCpuNs().map { case (id, ns) =>
        ns - cpu0.getOrElse(id, 0L) }.sum / 1e9
      val layers = tracer.filter(_ => trace)
        .map(_.end(t0, built, t1)).getOrElse(Map.empty)
      Sample(name, (t1 - t0) / 1e9, count, cpuS, layers)
    }

    private final case class Pass(samples: Seq[Sample], cpuS: Double,
        gcS: Double, jitS: Double)

    /** One pass in a fresh seeded order, with the process CPU, GC and
      * JIT compilation time it took.
      */
    private def pass(trace: Boolean): Pass = {
      val order = rng.shuffle(queryNames)
      val (cpu0, gc0, jit0) = (mx.getProcessCpuTime, gcMs, jitMs)
      if (trace) tracer.foreach(_.attach())
      val samples = try order.map(runOne(_, trace))
        finally if (trace) tracer.foreach(_.detach())
      Pass(samples, (mx.getProcessCpuTime - cpu0) / 1e9, (gcMs - gc0) / 1e3,
        (jitMs - jit0) / 1e3)
    }

    private def passJson(p: Pass, trace: Boolean) = {
      val Pass(samples, cpuS, gcS, jitS) = p
      Json.obj(
        "traced" -> trace.toString,
        "cpu_s" -> Json.num(cpuS),
        "gc_s" -> Json.num(gcS),
        "jit_s" -> Json.num(jitS),
        "samples" -> Json.arr(samples.map(s => Json.arr(Seq(
          Json.str(s.name), Json.num(s.wallS), s.count.toString,
          Json.num(s.cpuS))))),
        "layers" -> Json.obj(samples.flatMap(_.layers)
          .groupMapReduce(_._1)(_._2)(_ + _).toSeq.sortBy(_._1)
          .map { case (k, v) => k -> Json.num(v) }: _*))
    }

    def apply(): Unit = {
      val cold = pass(traced)
      val coldFills = fills
      val seconds = opt("seconds").toDouble
      val warm = mutable.ArrayBuffer.empty[String]
      val t0 = System.nanoTime()
      // A traced run takes its warm passes in groups of four: untraced,
      // traced, traced, untraced. The traced ÷ untraced ratio, the
      // tracing overhead, is then not skewed by the passes still
      // getting faster as the JIT warms up.
      val group = if (traced) 4 else 1
      var k = 0
      while (k < MinWarmPasses || k % group != 0 ||
          System.nanoTime() - t0 < seconds * 1e9) {
        // Between passes, as graft.Bench does: one pass's garbage is
        // not billed to the next pass's queries.
        System.gc()
        val trace = traced && (k % 4 == 1 || k % 4 == 2)
        warm += passJson(pass(trace), trace)
        k += 1
      }
      val rssMb = Files.readAllLines(Paths.get("/proc/self/status"))
        .toArray(Array.empty[String]).find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
      // What the session still holds once its garbage is gone: memos,
      // cached and checkpointed blocks, broadcast state. A collection
      // only hands dead broadcasts and shuffles to Spark's ContextCleaner,
      // which frees their blocks afterwards; collect until the heap in
      // use stops shrinking.
      def heapUsed = { System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed }
      var liveHeap = heapUsed
      var settled = false
      var rounds = 0
      while (!settled && rounds < 10) {
        Thread.sleep(200)
        val next = heapUsed
        settled = next > liveHeap * 0.99
        liveHeap = next.min(liveHeap)
        rounds += 1
      }
      val liveHeapMb = liveHeap / 1048576.0
      val heapPeakMb = ManagementFactory.getMemoryPoolMXBeans
        .toArray(Array.empty[java.lang.management.MemoryPoolMXBean])
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .map(_.getPeakUsage.getUsed).sum / 1048576.0
      tracer.foreach(_.writeSpans(Paths.get(opt("spans"))))
      Files.writeString(Paths.get(opt("out")), Json.obj(
        "setup_s" -> Json.num(setupS),
        "cold" -> passJson(cold, traced),
        "fills_s" -> Json.obj(coldFills.map { case (k, v) => k -> Json.num(v / 1e9) }: _*),
        "warm" -> Json.arr(warm.toSeq),
        "peak_rss_mb" -> Json.num(rssMb),
        "heap_peak_mb" -> Json.num(heapPeakMb),
        "live_heap_mb" -> Json.num(liveHeapMb),
        "codegen_fallbacks" -> CodegenGuard.count.toString))
      spark.stop()
    }
  }
}
