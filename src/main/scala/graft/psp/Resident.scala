package graft.psp

import java.util.concurrent.locks.ReentrantLock

import org.apache.spark.sql.DataFrame

/** Resident DataFrames: the one place that decides how a period's
  * tables and the analyses' bases stay in memory.
  *
  * `Resident(df)` cuts `df`'s lineage with an eager `localCheckpoint`
  * (MEMORY_AND_DISK: blocks spill to disk under memory pressure instead
  * of being lost), so later queries scan resident blocks instead of
  * re-running the plan. Nothing here unpersists: the ContextCleaner frees
  * the blocks once nothing references the DataFrame, so a query still
  * running on an old snapshot never loses them.
  */
object Resident {

  def apply(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)

  /** `Resident(build)` on the first call, the same DataFrame on every
    * later one.
    *
    * Single flight per instance: concurrent first callers wait for one
    * build, on this instance's own lock, so one slow build never blocks
    * another instance's. The wait is interruptible (a timed-out request's
    * thread leaves it). A build that throws — a 504 cancels its Spark
    * jobs — stores nothing, and the next caller builds again.
    */
  final class OnFirstUse(build: => DataFrame) {
    private val lock = new ReentrantLock()
    @volatile private var built: DataFrame = _

    def apply(): DataFrame = {
      val b = built
      if (b != null) b
      else {
        lock.lockInterruptibly()
        try {
          if (built == null) built = Resident(build)
          built
        } finally lock.unlock()
      }
    }
  }
}
