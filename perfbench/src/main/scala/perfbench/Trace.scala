package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One call into a layer: `parent` is the span open on the same thread
  * when this one started (0 = none).
  */
final case class Span(id: Int, parent: Int, name: String, thread: String,
    startNs: Long, endNs: Long)

/** In-memory span recorder. Off (the untraced run) it only runs the body;
  * on, it keeps every span until [[write]] at the end of the run.
  */
final class Tracer(val on: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger()
  private val open = ThreadLocal.withInitial[List[Int]](() => Nil)

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val stack = open.get
      val t0 = System.nanoTime()
      open.set(id :: stack)
      try body
      finally {
        open.set(stack)
        spans.add(Span(id, stack.headOption.getOrElse(0), name,
          Thread.currentThread.getName, t0, System.nanoTime()))
      }
    }

  /** Span duration minus the part of it its children cover. */
  def selfNanos: Map[Int, Long] = {
    val all = spans.asScala.toSeq
    val children = all.groupBy(_.parent)
    all.map { s =>
      val kids = children.getOrElse(s.id, Nil)
        .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var end = Long.MinValue
      kids.foreach { case (a, b) =>
        val from = math.max(a, end)
        if (b > from) { covered += b - from; end = b }
      }
      s.id -> (s.endNs - s.startNs - covered)
    }.toMap
  }

  /** Writes one JSON object per span and returns per-name totals
    * (count, total ms, self ms).
    */
  def write(path: java.nio.file.Path): Map[String, (Int, Double, Double)] = {
    val self = selfNanos
    val all = spans.asScala.toSeq.sortBy(_.startNs)
    val t0 = all.headOption.map(_.startNs).getOrElse(0L)
    val lines = all.map { s =>
      Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "thread" -> s.thread, "start_ms" -> (s.startNs - t0) / 1e6,
        "end_ms" -> (s.endNs - t0) / 1e6, "self_ms" -> self(s.id) / 1e6).json
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    all.groupBy(_.name).map { case (n, ss) =>
      n -> (ss.size, ss.map(s => s.endNs - s.startNs).sum / 1e6,
        ss.map(s => self(s.id)).sum / 1e6)
    }
  }
}

/** JVM-wide counters: GC and JIT time, janino compiles. */
object Jvm {
  def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private val jit = ManagementFactory.getCompilationMXBean
  def jitMillis: Long =
    if (jit != null && jit.isCompilationTimeMonitoringSupported) jit.getTotalCompilationTime
    else 0L
  def janinoCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Used heap after full collections, in MB: the least of five
    * collection rounds, since Spark's cleaner frees broadcast and shuffle
    * state only after a collection has found it unreachable.
    */
  def liveHeapMb: Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 5).map { _ =>
      System.gc()
      Thread.sleep(300)
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  /** Waits until JIT compile time stops growing (two quiet 250 ms
    * windows in a row) or `maxSeconds` pass; returns the wait in seconds.
    */
  def quiesce(maxSeconds: Double): Double = {
    val t0 = System.nanoTime()
    var last = jitMillis
    var quiet = 0
    while (quiet < 2 && (System.nanoTime() - t0) / 1e9 < maxSeconds) {
      Thread.sleep(250)
      val now = jitMillis
      if (now - last <= 5) quiet += 1 else quiet = 0
      last = now
    }
    (System.nanoTime() - t0) / 1e9
  }
}

/** Spark engine counters gathered by listeners the benchmark installs:
  * jobs, stages, tasks, task time, shuffle, spill, input, SQL executions,
  * planning time, Exchange and cached-relation counts. Counters are
  * attributed to the job tag that starts with [[SparkCounters.TagPrefix]]
  * (one per catalog query), and totals are kept for the whole session.
  */
final class SparkCounters extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {

  final class Acc {
    val jobs, stages, tasks, taskMs, cpuNs, shuffleWrite, shuffleRead,
      spill, input, sqlExecs, planningMs, exchanges, cached = new AtomicLong
    val stageSkews = new ConcurrentLinkedQueue[Double]()
    def snapshot: Map[String, Double] = Map(
      "jobs" -> jobs.get.toDouble, "stages" -> stages.get.toDouble,
      "tasks" -> tasks.get.toDouble, "task_s" -> taskMs.get / 1e3,
      "cpu_s" -> cpuNs.get / 1e9,
      "shuffle_write_mb" -> shuffleWrite.get / 1048576.0,
      "shuffle_read_mb" -> shuffleRead.get / 1048576.0,
      "spill_mb" -> spill.get / 1048576.0, "input_mb" -> input.get / 1048576.0,
      "sql_execs" -> sqlExecs.get.toDouble, "planning_ms" -> planningMs.get.toDouble,
      "exchanges" -> exchanges.get.toDouble, "cached_relations" -> cached.get.toDouble,
      "task_skew" -> Stats.median(stageSkews.asScala.toSeq))
  }

  val total = new Acc
  private val byTag = new java.util.concurrent.ConcurrentHashMap[String, Acc]()
  private val stageTag = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val stageTaskMs = new java.util.concurrent.ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]()

  def forTag(tag: String): Acc = byTag.computeIfAbsent(tag, _ => new Acc)
  private def accs(stageId: Int): Seq[Acc] =
    total +: Option(stageTag.get(stageId)).map(forTag).toSeq

  private def ourTag(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .flatMap(_.split(",").find(_.startsWith(SparkCounters.TagPrefix)))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = ourTag(e.properties)
    tag.foreach(t => e.stageIds.foreach(s => stageTag.put(s, t)))
    (total +: tag.map(forTag).toSeq).foreach(_.jobs.incrementAndGet())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    stageTaskMs.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[Long]())
      .add(e.taskInfo.duration)
    accs(e.stageId).foreach { a =>
      a.tasks.incrementAndGet()
      a.taskMs.addAndGet(e.taskInfo.duration)
      if (m != null) {
        a.cpuNs.addAndGet(m.executorCpuTime)
        a.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        a.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        a.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        a.input.addAndGet(m.inputMetrics.bytesRead)
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val id = e.stageInfo.stageId
    val ms = Option(stageTaskMs.remove(id)).map(_.asScala.toSeq).getOrElse(Nil)
    val skew = if (ms.isEmpty) 1.0 else ms.max / math.max(1.0, Stats.median(ms.map(_.toDouble)))
    accs(id).foreach { a => a.stages.incrementAndGet(); a.stageSkews.add(skew) }
    stageTag.remove(id)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart if s.rootExecutionId.forall(_ == s.executionId) =>
      total.sqlExecs.incrementAndGet()
      s.jobTags.find(_.startsWith(SparkCounters.TagPrefix)).foreach(t =>
        forTag(t).sqlExecs.incrementAndGet())
    case _ =>
  }

  // QueryExecutionListener: planning time and plan shape per action
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    total.planningMs.addAndGet(phases.values.map(_.durationMs).sum)
    val (ex, cached) = SparkCounters.planShape(this, qe.executedPlan)
    total.exchanges.addAndGet(ex)
    total.cached.addAndGet(cached)
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Shuffle Exchange and InMemoryRelation scan counts of a plan,
    * looking inside adaptive query stages and subqueries.
    */
  def shape(plan: SparkPlan): (Long, Long) = SparkCounters.planShape(this, plan)
}

object SparkCounters {
  val TagPrefix = "perfbench-"

  private def planShape(h: AdaptiveSparkPlanHelper, plan: SparkPlan): (Long, Long) = {
    val ex = h.collectWithSubqueries(plan) { case e: ShuffleExchangeLike => e }.size
    val cached = h.collectWithSubqueries(plan) { case c: InMemoryTableScanExec => c }.size
    (ex.toLong, cached.toLong)
  }

  def install(spark: SparkSession): SparkCounters = {
    val c = new SparkCounters
    spark.sparkContext.addSparkListener(c)
    spark.listenerManager.register(c)
    c
  }

  /** Waits until every event posted so far has reached the listeners. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Arithmetic mean (0 on an empty sample). */
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Linear-interpolated quantile (0 on an empty sample). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.floor.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)
}

/** Minimal JSON writer for the result and trace files; map keys keep
  * their insertion order when given as a `Seq` of pairs via [[obj]].
  */
object Json {
  final case class Raw(json: String)

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case Raw(j) => j
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Number => n.toString
    case b: Boolean => b.toString
    case Some(x) => value(x)
    case None => "null"
    case m: scala.collection.Map[_, _] =>
      m.toSeq.sortBy(_._1.toString).map { case (k, x) => str(k.toString) + ":" + value(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}"))
}
