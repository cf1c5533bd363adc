package graft.operators

import org.apache.spark.sql.DataFrame

/** Tracks DataFrames persisted inside operators (MinHash shingle sets,
  * coalition fact relations, PCA features, ...) so long-lived sessions can
  * release executor storage once a query's actions are done.
  *
  * Operators persist intermediates that feed several downstream subtrees —
  * they cannot unpersist eagerly because their result is still lazy when
  * they return. Callers (Bench, Verify, the serving layer's cache
  * invalidation) call [[drain]] after the final action of each query;
  * leaving frames tracked is safe (MEMORY_AND_DISK evicts under pressure)
  * but wasteful in a serving session that runs many different queries.
  */
object CacheRegistry {
  private val tracked = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
  private val trackedRdds =
    new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.rdd.RDD[_]]()
  private val trackedBroadcasts =
    new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.broadcast.Broadcast[_]]()
  private val trackedCheckpointed =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  /** Register a persisted frame for later release. Returns the frame. */
  def track(df: DataFrame): DataFrame = { tracked.add(df); df }

  /** Register a cached RDD (the mllib PCA path) for later release. */
  def trackRdd[T](rdd: org.apache.spark.rdd.RDD[T]): org.apache.spark.rdd.RDD[T] = {
    trackedRdds.add(rdd); rdd
  }

  /** Register a broadcast (e.g. a Bloom sketch, GB-scale at corpus
    * sizes) for later release; drain() unpersists executor copies — the
    * driver value survives, so a still-lazy plan that re-executes simply
    * re-broadcasts instead of failing.
    */
  def trackBroadcast[T](bc: org.apache.spark.broadcast.Broadcast[T])
      : org.apache.spark.broadcast.Broadcast[T] = {
    trackedBroadcasts.add(bc); bc
  }

  /** Register a reliable-checkpointed frame ([[Lineage.cut]] under
    * `spark.graft.lineage.reliable`) so [[drain]] deletes its checkpoint
    * FILES. Iterative operators release dead generations themselves, but
    * the TERMINAL generation of a loop outlives the operator (it is the
    * result) — without this, every invocation in reliable mode leaks one
    * checkpoint directory for the application lifetime
    * (`spark.cleaner.referenceTracking.cleanCheckpoints` defaults to
    * false). [[Lineage.release]] on an already-drained frame — and the
    * drain of an already-released one — are idempotent no-ops.
    */
  def trackCheckpointed(df: DataFrame): DataFrame = {
    trackedCheckpointed.add(df); df
  }

  /** Forget a reliable-checkpointed frame without touching its files —
    * [[Lineage.release]] calls this after deleting a dead generation, so
    * the queue stays bounded by LIVE generations (~2 in an iterative
    * loop), not by total iterations.
    */
  private[operators] def untrackCheckpointed(df: DataFrame): Unit = {
    trackedCheckpointed.remove(df); ()
  }

  /** Run `f` and release ONLY what it tracked — the per-micro-batch
    * cleanup shape ([[graft.streaming.CorpusStream]]): a streaming
    * `foreachBatch` body creates per-batch persists and cuts that are
    * dead once the batch's sink write returns, but a global [[drain]]
    * there would ALSO destroy the long-lived state the stream runs
    * under (a loaded [[Bpe.Model]]'s locally-checkpointed vocabulary —
    * whose lineage is truncated, so unpersisting it is unrecoverable,
    * not a recompute). Entries tracked before `f` are untouched.
    * Single-threaded driver loops only: interleaved tracking from a
    * concurrent query would be swept into this scope's release.
    */
  def scope[T](f: => T): T = {
    import scala.jdk.CollectionConverters._
    def snap[E](q: java.util.concurrent.ConcurrentLinkedQueue[E]) = {
      val s = java.util.Collections.newSetFromMap(
        new java.util.IdentityHashMap[E, java.lang.Boolean]())
      q.asScala.foreach(s.add)
      s
    }
    val (t0, r0, b0, c0) =
      (snap(tracked), snap(trackedRdds), snap(trackedBroadcasts),
        snap(trackedCheckpointed))
    try f
    finally {
      tracked.asScala.filterNot(t0.contains).toList.foreach { d =>
        tracked.remove(d); d.unpersist(blocking = false)
      }
      trackedRdds.asScala.filterNot(r0.contains).toList.foreach { r =>
        trackedRdds.remove(r); r.unpersist(blocking = false)
      }
      trackedBroadcasts.asScala.filterNot(b0.contains).toList.foreach { b =>
        trackedBroadcasts.remove(b); b.unpersist(false)
      }
      trackedCheckpointed.asScala.filterNot(c0.contains).toList.foreach { c =>
        Lineage.release(c) // also un-registers
      }
    }
  }

  /** Unpersist every tracked frame/RDD (non-blocking), clear the registry. */
  def drain(): Unit = drain(blocking = false)

  /** [[drain]] with the blocking choice explicit. Serving paths want
    * `blocking = false` (never stall a request on block removal);
    * MEASUREMENT paths (Bench/Probe) want `blocking = true`, so
    * one query's async eviction cannot still be in flight — competing
    * for executor CPU and storage locks — when the NEXT query's timing
    * window opens (drain already runs outside the window; blocking
    * moves the eviction itself outside too).
    */
  def drain(blocking: Boolean): Unit = {
    var df = tracked.poll()
    while (df != null) {
      df.unpersist(blocking)
      df = tracked.poll()
    }
    var rdd = trackedRdds.poll()
    while (rdd != null) {
      rdd.unpersist(blocking)
      rdd = trackedRdds.poll()
    }
    var bc = trackedBroadcasts.poll()
    while (bc != null) {
      bc.unpersist(blocking)
      bc = trackedBroadcasts.poll()
    }
    var ck = trackedCheckpointed.poll()
    while (ck != null) {
      Lineage.release(ck)
      ck = trackedCheckpointed.poll()
    }
  }

  /** Number of currently tracked frames + RDDs + broadcasts +
    * reliable checkpoints (for tests).
    */
  def size: Int = tracked.size + trackedRdds.size + trackedBroadcasts.size +
    trackedCheckpointed.size
}
