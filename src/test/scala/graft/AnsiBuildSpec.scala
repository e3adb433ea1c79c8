package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.util.control.NonFatal

/** ANSI-mode BUILD-path sweep (VERDICT r13 #4 — the real fix for the
  * ConfParitySpec scope note): ConfParitySpec's ANSI sweep reuses
  * staged indexes built under the default conf, so its guarantee
  * covers their serve paths only. Here the build-heavy operators
  * run against a FRESH COPY of the corpus at a new path — every memo
  * (keyed by (session, dir)) misses and every staged artifact (keyed
  * by path hash + `_SOURCE` fingerprint) re-stages — with
  * `spark.sql.ansi.enabled=true` for the WHOLE build + probe, and
  * the results must be byte-identical to the default-mode run on the
  * original path. A build step that silently relies on integer wrap
  * or NULL-on-overflow (the class the betweenness σ guard came from)
  * THROWS here instead of shipping a corrupted artifact.
  */
class AnsiBuildSpec extends SparkTestBase {

  /** One representative per one-time build path: co-purchase graph
    * memo (triangles), bipartite graph memo (pagerank), landmark-BFS
    * memo (betweenness), BPE merge/vocab memos (train, batched,
    * encode), staged LSH index, staged IVF index, staged DV sidecar
    * (+ its compaction commit), manifest snapshot, data-file
    * compaction.
    */
  private val BuildQueries = Seq(
    "wc_triangle_count", "wc_pagerank", "wc_betweenness",
    "pipe_bpe_train", "pipe_bpe_train_batched", "pipe_bpe_encode",
    "dd_incremental_probe", "ann_index_probe",
    "src_delete_vector_census", "src_dv_compaction",
    "src_snapshot_census", "src_compaction_census")

  private def copyCorpus(src: String, dst: Path): Unit = {
    if (Files.exists(dst)) operators.Staging.deleteTree(dst)
    Files.createDirectories(dst)
    val walk = Files.list(Paths.get(src))
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.filter(Files.isRegularFile(_)).foreach { p =>
        Files.copy(p, dst.resolve(p.getFileName),
          StandardCopyOption.REPLACE_EXISTING)
      }
    } finally walk.close()
  }

  test("build paths rebuilt from scratch under ANSI are byte-identical") {
    val fresh = Paths.get("/root/repo/target/ansi_build_corpus")
    copyCorpus(SfDir, fresh)
    try {
      val diverged = scala.collection.mutable.ArrayBuffer.empty[String]
      BuildQueries.foreach { name =>
        val fn = SparkEntry.queries(name)
        val default = fn(spark, SfDir).collect().map(_.toSeq).toSeq
        val prev = spark.conf.getOption("spark.sql.ansi.enabled")
        spark.conf.set("spark.sql.ansi.enabled", "true")
        val ansi =
          try Right(fn(spark, fresh.toString).collect().map(_.toSeq).toSeq)
          catch { case NonFatal(e) => Left(e.toString.linesIterator.next()) }
          finally prev.fold(spark.conf.unset("spark.sql.ansi.enabled"))(
            spark.conf.set("spark.sql.ansi.enabled", _))
        ansi match {
          case Left(err) => diverged += s"$name build THREW under ANSI: $err"
          case Right(rows) if rows != default =>
            diverged += s"$name rows diverged when built under ANSI"
          case _ => ()
        }
      }
      assert(diverged.isEmpty,
        s"${diverged.size} build paths not ANSI-clean:\n  " +
          diverged.mkString("\n  "))
    } finally if (Files.exists(fresh)) operators.Staging.deleteTree(fresh)
  }
}
