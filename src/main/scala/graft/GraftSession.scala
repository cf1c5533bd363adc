package graft

import org.apache.spark.sql.SparkSession

/** The one place a `SparkSession` is built. Every main and the test suite
  * take their session from [[build]], so a session setting is decided here
  * once instead of drifting between hand-copied builders.
  */
object GraftSession {

  /** `spark.sql.codegen.cache.maxEntries`, a static conf (Spark's default
    * is 100). The full catalog generates far more classes than that per
    * pass, so a smaller cache re-janino-compiles every stage of a repeated
    * plan: 5000 evicted q72's classes between Bench passes (round 9), and
    * a served miss at the default recompiled ~27 classes.
    */
  val CodegenCacheEntries = 12000

  /** `SPARK_GRAFT_CPUS`, else the host's processor count. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A local session on `cpus` cores (one shuffle partition per core), in
    * UTC, without the UI, with [[CodegenCacheEntries]] and the graft
    * Catalyst extensions. Readers set the legacy confs their formats need
    * (`Tables.events`, `UnlReader.read`), so none is set here. Returns the
    * active session if one exists.
    */
  def build(cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
