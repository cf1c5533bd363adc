package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: runs one workload in this JVM and writes its result
  * file. `run.py` builds this harness, starts the JVM and prints the
  * result line.
  *
  * Usage: perfbench.Main --workload catalog|serve_cold
  *   --seed N --seconds S --trace 0|1 --cpus C --out DIR --data DIR
  *   --digests FILE [--record-digests 1]
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, cpus: Int, out: Path, data: Path,
      digests: Path, recordDigests: Boolean)

  /** What one run measured. `e2e` and `layer` hold (value, unit); `notes`
    * are printed for people and kept in the result file.
    */
  final class Result {
    var attempted = 0L
    var failed = 0L
    val mismatches = mutable.ArrayBuffer.empty[String]
    val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
    val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
    val notes = mutable.LinkedHashMap.empty[String, Any]
    def mismatch(what: String): Unit = synchronized { mismatches += what }
  }

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(
      workload = kv("workload"), seed = kv("seed").toLong,
      seconds = kv("seconds").toDouble, trace = kv.getOrElse("trace", "0") == "1",
      cpus = kv("cpus").toInt, out = Paths.get(kv("out")), data = Paths.get(kv("data")),
      digests = Paths.get(kv("digests")), recordDigests = kv.get("record-digests").contains("1"))
    Files.createDirectories(o.out)
    val tracer = new Tracer(o.trace)
    val res = new Result
    res.notes ++= Seq("seed" -> o.seed, "seconds" -> o.seconds, "trace" -> o.trace,
      "cpus" -> o.cpus, "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "java" -> System.getProperty("java.version"))
    val ok =
      try {
        o.workload match {
          case "catalog" => CatalogRun.run(o, tracer, res)
          case "serve_cold" => Serve.run(o, tracer, res)
          case w => sys.error(s"unknown workload $w")
        }
        true
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          res.mismatch(s"run aborted: $e")
          false
      }
    if (o.trace) {
      val spans = tracer.write(o.out.resolve(s"spans-${o.workload}-${o.seed}.jsonl"))
      res.notes("spans") = spans.toSeq.sortBy(-_._2._3).map { case (n, (c, tot, self)) =>
        Json.obj("name" -> n, "count" -> c, "total_ms" -> tot, "self_ms" -> self)
      }
    }
    // a failed request (non-200, exception) fails the run like a mismatch
    val failed = res.failed + res.mismatches.size
    val pass = ok && failed == 0
    val json = Json.obj(
      "workload" -> o.workload, "ok" -> pass,
      "attempted" -> math.max(1L, res.attempted), "failed" -> failed,
      "mismatches" -> res.mismatches.toSeq,
      "e2e" -> Json.Raw(metrics(res.e2e)), "layer" -> Json.Raw(metrics(res.layer)),
      "notes" -> Json.Raw(res.notes.map { case (k, v) => Json.str(k) + ":" + Json.value(v) }
        .mkString("{", ",", "}")))
    Files.write(o.out.resolve("last-result.json"), json.json.getBytes("UTF-8"))
    res.mismatches.take(20).foreach(m => println(s"MISMATCH $m"))
    println(s"result written: ${o.out.resolve("last-result.json")}")
    // Spark's non-daemon threads would keep the JVM alive
    System.exit(if (pass) 0 else 1)
  }

  private def metrics(m: mutable.LinkedHashMap[String, (Double, String)]): String =
    m.map { case (k, (v, u)) => Json.str(k) + ":" + Json.obj("value" -> v, "unit" -> u).json }
      .mkString("{", ",", "}")

  /** Seconds since this JVM started. */
  def sinceJvmStart: Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  /** The settings every session shares: local master at the host's
    * cores, UTC, no UI, and scratch space inside the output directory.
    */
  def session(o: Opts, conf: Seq[(String, String)]): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", o.out.resolve("spark-local").toAbsolutePath.toString)
      .config("spark.sql.warehouse.dir", o.out.resolve("warehouse").toAbsolutePath.toString)
    conf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.withExtensions(new graft.plans.GraftExtensions).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Runs `body` under a job tag so listener counters attribute to it. */
  def tagged[A](spark: SparkSession, tag: String)(body: => A): A = {
    val t = SparkCounters.TagPrefix + tag
    spark.sparkContext.addJobTag(t)
    try body finally spark.sparkContext.removeJobTag(t)
  }

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Spark and JVM counters over a window, as `spark.*` / `jvm.*` layer
    * metrics.
    */
  final class Window(spark: SparkSession, counters: SparkCounters, cpus: Int) {
    private val before = { SparkCounters.drain(spark); counters.total.snapshot }
    private val skewsBefore = counters.total.stageSkews.size
    private val gc0 = Jvm.gcMillis
    private val jit0 = Jvm.jitMillis
    private val janino0 = Jvm.janinoCompiles
    private val t0 = System.nanoTime()

    def close(res: Result): Unit = {
      val wall = (System.nanoTime() - t0) / 1e9
      SparkCounters.drain(spark)
      val after = counters.total.snapshot
      def d(k: String) = after(k) - before(k)
      import scala.jdk.CollectionConverters._
      val skews = counters.total.stageSkews.asScala.toSeq.drop(skewsBefore)
      Seq("sql_execs" -> "count", "jobs" -> "count", "stages" -> "count",
        "tasks" -> "count", "task_s" -> "s", "shuffle_write_mb" -> "MB",
        "shuffle_read_mb" -> "MB", "spill_mb" -> "MB", "input_mb" -> "MB",
        "planning_ms" -> "ms", "exchanges" -> "count", "cached_relations" -> "count")
        .foreach { case (k, u) => res.layer(s"spark.$k") = (d(k), u) }
      res.layer("spark.task_skew") = (Stats.median(skews), "ratio")
      res.layer("spark.cpu_util") = (d("cpu_s") / (wall * cpus), "ratio")
      res.layer("jvm.gc_s") = ((Jvm.gcMillis - gc0) / 1e3, "s")
      res.layer("jvm.jit_s") = ((Jvm.jitMillis - jit0) / 1e3, "s")
      res.layer("jvm.janino_compiles") = ((Jvm.janinoCompiles - janino0).toDouble, "count")
    }
  }
}

/** Runs the `catalog` workload. */
object CatalogRun {
  import Main._

  def run(o: Opts, tracer: Tracer, res: Result): Unit = {
    val spark = session(o, Seq(
      // the conf `graft.Bench` times the catalog with
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.codegen.cache.maxEntries" -> "12000"))
    val counters = SparkCounters.install(spark)
    val dir = o.data.toAbsolutePath.toString
    val queries = graft.SparkEntry.queries
    val names = Catalog.Timed
    (names ++ Catalog.TracedOnly).filterNot(queries.contains)
      .foreach(n => sys.error(s"catalog has no query $n"))
    val rnd = new scala.util.Random(o.seed)

    val expected = Digests.load(o.digests)
    // query -> (Exchanges, cached relations, plan hash) of its last run
    val plans = mutable.Map.empty[String, (Long, Long, String)]
    def runOne(name: String): (Catalog.Digest, Double) = {
      val ((d, digestDf), secs) = tracer.span(s"catalog.$name") {
        tagged(spark, name) {
          timed(tracer.span("spark.digest")(Catalog.digest(queries(name)(spark, dir))))
        }
      }
      plans(name) = planShape(digestDf.queryExecution.executedPlan, counters)
      // the program's own release of relations a query persisted, outside
      // the timed window (as graft.Bench does)
      graft.operators.CacheRegistry.drain(blocking = true)
      (d, secs)
    }
    def check(n: String, d: Catalog.Digest): Unit = expected.get(n) match {
      case None => res.mismatch(s"$n: no committed digest")
      case Some(e) =>
        if (e.rows != d.rows || e.hash.exists(_ != d.hash))
          res.mismatch(s"$n: digest ${d.rows}/${d.hash}, committed ${e.rows}/${e.hash.getOrElse("(rows only)")}")
    }

    // set-up: session, the JVM warm-up graft.Bench runs, a JIT quiet wait
    tracer.span("spark.warmup") {
      spark.range(2000000).selectExpr("sum(id * 2)").collect()
      spark.read.parquet(s"$dir/nation.parquet").count()
    }
    res.layer("jvm.quiesce_s") = (Jvm.quiesce(10.0), "s")
    res.e2e("setup_s") = (sinceJvmStart, "s")

    if (o.recordDigests) {
      // two passes: a digest that differs between them is kept as rows only
      val all = names ++ Catalog.TracedOnly
      val first = all.map(n => n -> runOne(n)._1).toMap
      val again = all.map(n => n -> runOne(n)._1).toMap
      val lines = all.sorted.map { n =>
        val stable = first(n) == again(n)
        s"""  ${Json.str(n)}: {"rows": ${first(n).rows}, "hash": ${
          if (stable) Json.str(first(n).hash) else "null"}}"""
      }
      Files.write(o.digests, lines.mkString("{\n", ",\n", "\n}\n").getBytes("UTF-8"))
      println(s"digests written: ${o.digests}")
    }

    val window = new Window(spark, counters, o.cpus)
    val times = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val passSecs = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // another pass only if one more, as long as the last, ends in the window
    while (passSecs.isEmpty || elapsed + passSecs.last <= o.seconds) {
      var pass = 0.0
      // the heavy tail first in a fixed order (in a fresh JVM its times
      // depend on what ran before it), then the rest in seeded order
      val (fixed, rest) = names.partition(Catalog.HeavyTail.contains)
      (fixed ++ rnd.shuffle(rest)).foreach { n =>
        val (d, secs) = runOne(n)
        res.attempted += 1
        pass += secs
        times.getOrElseUpdate(n, mutable.ArrayBuffer.empty) += secs
        check(n, d)
      }
      passSecs += pass
    }
    val wall = elapsed
    window.close(res)
    val all = times.values.flatten.toSeq
    val perQuery = times.map { case (n, ts) => n -> Stats.median(ts.toSeq) }
    res.notes("query_p50_ms") = Stats.median(all) * 1e3
    res.e2e("req_mean_ms") = (all.sum / all.size * 1e3, "ms")
    res.e2e("req_geomean_ms") = (Stats.geomean(perQuery.values.toSeq) * 1e3, "ms")
    res.e2e("req_per_s") = (all.size / wall, "1/s")
    res.layer("catalog.pass_s") = (Stats.median(passSecs.toSeq), "s")
    if (o.trace) Catalog.TracedOnly.foreach { n =>
      val (d, secs) = runOne(n)
      check(n, d)
      times(n) = mutable.ArrayBuffer(secs)
    }
    times.foreach { case (n, ts) =>
      res.layer(s"catalog.${n.takeWhile(_ != '_')}_s") = (Stats.median(ts.toSeq), "s")
    }
    res.notes("catalog_s") = Stats.median(passSecs.toSeq)
    res.notes("catalog_geomean_ms") = Stats.geomean(perQuery.values.toSeq) * 1e3
    res.notes("passes") = passSecs.size
    res.notes("queries") = names
    res.notes("data") = o.data.toString
    res.notes("per_query") = times.keys.toSeq.map { n =>
      val (ex, cached, hash) = plans(n)
      Json.obj("query" -> n, "median_s" -> Stats.median(times(n).toSeq),
        "times_s" -> times(n).toSeq,
        "spark" -> counters.forTag(SparkCounters.TagPrefix + n).snapshot,
        "exchanges" -> ex, "cached_relations" -> cached, "plan_hash" -> hash)
    }
    res.e2e("live_heap_mb") = (Jvm.liveHeapMb, "MB")
  }

  /** Exchange and InMemoryRelation counts and a hash of an executed plan
    * (expression and plan ids removed, so one plan hashes the same in
    * every run).
    */
  private def planShape(plan: org.apache.spark.sql.execution.SparkPlan,
      counters: SparkCounters): (Long, Long, String) = {
    val (ex, cached) = counters.shape(plan)
    val text = plan.treeString.replaceAll("#\\d+L?", "").replaceAll("\\[id=\\d+\\]", "")
      .replaceAll("plan_id=\\d+", "")
    (ex, cached, f"${text.hashCode}%08x")
  }
}

/** Committed catalog digests: rows always, hash unless rows-only. */
object Digests {
  final case class Expected(rows: Long, hash: Option[String])

  def load(p: Path): Map[String, Expected] =
    if (!Files.exists(p)) Map.empty
    else {
      val m = new com.fasterxml.jackson.databind.ObjectMapper().readTree(p.toFile)
      import scala.jdk.CollectionConverters._
      m.fields().asScala.map { e =>
        val v = e.getValue
        e.getKey -> Expected(v.get("rows").asLong(),
          Option(v.get("hash")).filterNot(_.isNull).map(_.asText()))
      }.toMap
    }
}
