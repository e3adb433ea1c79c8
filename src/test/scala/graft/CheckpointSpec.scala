package graft

import graft.operators.WordCount
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Pins the `graft.checkpoint.dir` knob (Ckpt.truncate): with the
  * conf unset the fixpoint family truncates lineage via executor-local
  * blocks (`localCheckpoint`); with it set, rounds go through reliable
  * `checkpoint()` into the configured directory — the cluster-durable
  * path where losing an executor costs one round, not the job. Both
  * loop kinds run in both modes with byte-identical output: a
  * fixed-round loop (PageRank) and a loop run to its fixpoint by
  * `Ckpt.converge` (k-core); and each must actually have written
  * checkpoint files in the reliable mode.
  */
class CheckpointSpec extends SparkTestBase {

  test("fixpoint output is identical under local and reliable checkpointing") {
    // pagerank, not lpaCommunities: the LPA label state is memoized
    // per (session, corpus) since r16, so its second run would read
    // the memo instead of re-running rounds under the reliable conf —
    // pagerank's and kcore's per-round truncation re-executes on every
    // call (kcore memoizes only its input edge list).
    val loops: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "pagerank" -> WordCount.pagerank, "kcore" -> WordCount.kcore)
    def rows(f: (SparkSession, String) => DataFrame): Seq[Seq[Any]] =
      f(spark, SfDir).collect().map(_.toSeq).toSeq
    def files(f: java.io.File): Seq[java.io.File] = {
      val kids = Option(f.listFiles).map(_.toSeq).getOrElse(Seq.empty)
      kids.filter(_.isFile) ++ kids.filter(_.isDirectory).flatMap(files)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val local = loops.map { case (_, f) => rows(f) }
    try {
      spark.conf.set("graft.checkpoint.dir", dir)
      loops.zip(local).foreach { case ((name, f), l) =>
        // Spark's checkpoint dir is context-global: the first value
        // set wins, so count files where the context actually writes
        def written: Int = spark.sparkContext.getCheckpointDir
          .fold(0)(d => files(new java.io.File(new java.net.URI(d))).size)
        val before = written
        assert(rows(f) == l, s"$name differs under reliable checkpointing")
        assert(written > before,
          s"$name: graft.checkpoint.dir set but no checkpoint files were written")
      }
      assert(files(new java.io.File(dir)).nonEmpty,
        "graft.checkpoint.dir set but no checkpoint files were written")
    } finally {
      spark.conf.unset("graft.checkpoint.dir")
    }
  }
}
