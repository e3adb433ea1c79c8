package graft

import org.apache.spark.sql.DataFrame

/** Lineage truncation for the iterative fixpoint family (PageRank,
  * connected components, k-core, LPA, HITS, BFS, random walks), and
  * `converge`, the one round driver of the loops that run until a
  * fixpoint (SCC closure, k-core, BFS, connected components).
  *
  * Default is `localCheckpoint()` — executor-local blocks, the right
  * trade on a single machine and for short loops, but the blocks die
  * with their executor: on a real cluster a lost executor kills the
  * whole job because the truncated lineage cannot be replayed.
  *
  * Setting the Spark conf `graft.checkpoint.dir` (e.g. to an HDFS/S3
  * path) switches EVERY fixpoint round to reliable `checkpoint()`:
  * rounds are written to durable storage, so executor loss costs one
  * round's recompute, not the job. First value seen wins for the
  * session (Spark's checkpoint dir is context-global).
  */
object Ckpt {
  def truncate(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.conf.getOption("graft.checkpoint.dir") match {
      case Some(dir) =>
        if (spark.sparkContext.getCheckpointDir.isEmpty)
          spark.sparkContext.setCheckpointDir(dir)
        df.checkpoint()
      case None => df.localCheckpoint()
    }
  }

  /** Run `step(state, round)` for rounds 1, 2, ... and return the
    * state of the first step that reports done. A loop still not done
    * after `maxRounds` steps throws: a partial state is never returned
    * as an answer.
    */
  def converge[S](what: String, maxRounds: Int)(init: S)(
      step: (S, Int) => (S, Boolean)): S = {
    @annotation.tailrec
    def go(state: S, round: Int): S =
      if (round > maxRounds)
        throw new IllegalStateException(
          s"$what did not reach a fixpoint in $maxRounds rounds")
      else {
        val (next, done) = step(state, round)
        if (done) next else go(next, round + 1)
      }
    go(init, 1)
  }

  /** `.truncated` postfix form so loop bodies read like the
    * `.localCheckpoint()` chains they replace.
    */
  implicit class TruncOps(private val df: DataFrame) extends AnyVal {
    def truncated: DataFrame = truncate(df)
  }
}
