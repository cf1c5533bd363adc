package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Lineage truncation for loop-carried DataFrames.
  *
  * An iterative operator that persists its per-iteration state still
  * grows the LOGICAL plan: iteration k's frame embeds iteration k-1's
  * full logical tree (cache substitution happens after analysis, so the
  * analyzer walks the whole thing). With one self-reference per
  * iteration the tree grows linearly; with two (e.g. a rank relation
  * used by both the contribution join and the teleport join) it DOUBLES
  * per iteration — measured here as 2.2 s → 45 s from 1 to 5 PageRank
  * iterations at sf0.1 before this fix, pure driver-side analysis cost.
  *
  * [[cut]] is the standard remedy (same shape as GraphFrames' iteration
  * checkpointing): an eager `localCheckpoint` materializes the frame and
  * re-roots it as a leaf `LogicalRDD`, so every iteration's plan has
  * constant size. The backing blocks are registered with
  * [[CacheRegistry]] — per the drain contract, callers finish a query's
  * actions before draining; unlike a persisted frame, a checkpointed one
  * cannot recompute after its blocks are dropped (its lineage is gone).
  *
  * Executor-loss note: `localCheckpoint` (the default) is not
  * fault-tolerant — its blocks live only on the executors that computed
  * them, and losing one aborts the job (the lineage is gone). A long
  * run on a real cluster sets `spark.graft.lineage.reliable=true` plus
  * `SparkContext.setCheckpointDir` and every [[cut]] becomes a reliable
  * `Dataset.checkpoint` — the GraphX/GraphFrames practice. The tradeoff
  * is one distributed-store write + read per cut: measured by
  * `Probe lineage` (2M-node PageRank, local disk as the store)
  * at ~1.1× whole-loop vs localCheckpoint (PERFORMANCE.md, round 9);
  * on a real cluster the store is replicated HDFS/object storage and
  * the multiple grows with replication and network cost — the price of
  * surviving executor loss mid-run.
  */
object Lineage {

  /** Session conf key: `"true"` switches [[cut]] from `localCheckpoint`
    * to reliable `Dataset.checkpoint` against the configured
    * `SparkContext.setCheckpointDir`.
    */
  val ReliableConf = "spark.graft.lineage.reliable"

  /** Eagerly materialize `df` and return it re-rooted as a constant-size
    * leaf plan. Default mode tracks the backing blocks for
    * [[CacheRegistry.drain]]; reliable mode (module doc) writes to the
    * checkpoint store instead — nothing to track, the files ARE the
    * materialization.
    */
  def cut(df: DataFrame): DataFrame = {
    val reliable = df.sparkSession.conf.getOption(ReliableConf)
      .exists(_.equalsIgnoreCase("true"))
    if (reliable) {
      require(
        df.sparkSession.sparkContext.getCheckpointDir.isDefined,
        s"$ReliableConf=true requires SparkContext.setCheckpointDir — the " +
          "reliable store a cut survives executor loss through")
      // eager; re-roots to a LogicalRDD leaf, like local. Registered so
      // CacheRegistry.drain deletes the TERMINAL generation's files
      // (operators release dead generations themselves, and release
      // un-registers — the queue holds only live generations).
      CacheRegistry.trackCheckpointed(df.checkpoint())
    } else {
      val out = df.localCheckpoint()
      out.queryExecution.analyzed match {
        case r: LogicalRDD => CacheRegistry.trackRdd(r.rdd)
        case _ => // leaf re-rooting still happened; ContextCleaner frees it
      }
      out
    }
  }

  /** Drop a previously-[[cut]] frame's backing materialization
    * (non-blocking). In an iterative loop the k-1 state is dead the
    * moment the k-th cut has materialized — releasing it keeps the loop
    * at ~2 live copies instead of `iters` (at the 10⁹-node PageRank
    * scale the module doc cites, that is ~32 GB resident vs ~100 GB).
    * Local cuts drop their blocks; reliable cuts delete their
    * checkpoint FILES (the GraphX `PeriodicCheckpointer` practice —
    * without it a 32k-iteration run accumulates 32k generations in the
    * checkpoint store). A released frame must not be re-read: its
    * lineage is gone. The later [[CacheRegistry.drain]] of the same RDD
    * is an idempotent no-op.
    */
  def release(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case r: LogicalRDD =>
      r.rdd.unpersist(blocking = false)
      r.rdd.getCheckpointFile.foreach { f =>
        try {
          val p = new org.apache.hadoop.fs.Path(f)
          p.getFileSystem(
            df.sparkSession.sparkContext.hadoopConfiguration)
            .delete(p, true)
        } catch { case _: java.io.IOException => () } // best-effort
      }
      CacheRegistry.untrackCheckpointed(df)
    case _ => ()
  }
}
