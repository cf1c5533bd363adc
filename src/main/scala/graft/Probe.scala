package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

import graft.operators.{CacheRegistry, Lineage, PageRank}

/** Optimization-round tooling, one JVM per run, on the [[GraftSession]]
  * every other main uses:
  *
  *  - `time <sfDir> <repeats> <query...>`: each query `repeats` times;
  *    per-repeat seconds with their gc / jit / janino split
  *    ([[JvmWindow]], the same window as Bench's), then the last repeat's
  *    per-job table — which action of a composed pipeline owns the time.
  *  - `plancost <sfDir> <repeats> <query...>`: per repeat, driver-side
  *    plan construction (analysis + optimization + physical planning)
  *    apart from the `count()` that executes it.
  *  - `explain <sfDir> <outDir|-> <query...>`: the formatted physical plan
  *    of each query, to `<outDir>/<query>.txt`, or to stdout for `-`.
  *  - `lineage [nodes] [iters] [reps]`: a reliable-checkpoint
  *    [[graft.operators.Lineage.cut]] against the default
  *    `localCheckpoint` cut, over the same PageRank loop.
  *
  * Usage: `runMain graft.Probe <mode> <args...>`. A stalled repeat is read
  * with `jcmd <pid> Thread.print`.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val usage = "usage: Probe time|plancost <sfDir> <repeats> <query...> | " +
      "explain <sfDir> <outDir|-> <query...> | lineage [nodes] [iters] [reps]"
    require(args.nonEmpty, usage)
    val rest = args.toSeq.tail
    val spark = GraftSession.build()
    args(0) match {
      case "time" => time(spark, rest(0), rest(1).toInt, rest.drop(2))
      case "plancost" => planCost(spark, rest(0), rest(1).toInt, rest.drop(2))
      case "explain" => explain(spark, rest(0), rest(1), rest.drop(2))
      case "lineage" => lineage(spark, rest.lift(0).map(_.toLong).getOrElse(2000000L),
        rest.lift(1).map(_.toInt).getOrElse(5), rest.lift(2).map(_.toInt).getOrElse(3))
      case other => sys.error(s"unknown mode $other; $usage")
    }
    spark.stop()
  }

  private def fmt(xs: Seq[Double]): String = xs.map(v => f"$v%.2f").mkString(" ")

  private def time(spark: SparkSession, sfDir: String, repeats: Int, names: Seq[String]): Unit = {
    JvmWindow.warmUp(spark)
    // job id -> (start time, stage names); finished jobs as (id, ms, stages)
    val starts = new ConcurrentHashMap[Int, (Long, String)]()
    val jobs = new ConcurrentLinkedQueue[(Int, Long, String)]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        starts.put(js.jobId, (js.time, js.stageInfos.map(si =>
          s"${si.name.takeWhile(_ != '\n')}(${si.numTasks}t)").mkString(" | ")))
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        Option(starts.remove(je.jobId)).foreach(s => jobs.add((je.jobId, je.time - s._1, s._2)))
    }
    spark.sparkContext.addSparkListener(listener)
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val ws = (1 to repeats).map { i =>
        if (i == repeats) {
          // let the listener bus deliver the earlier repeats' job ends
          Thread.sleep(300)
          jobs.clear()
        }
        val (_, w) = JvmWindow.measure(fn(spark, sfDir).count())
        // blocking, like Bench: eviction must not bleed into the next
        // repeat's window
        CacheRegistry.drain(blocking = true)
        w
      }
      println(s"[probe] $name: ${fmt(ws.map(_.secs))} sec")
      println(s"[probe] $name gc:  ${fmt(ws.map(_.gcSecs))}")
      println(s"[probe] $name jit: ${fmt(ws.map(_.jitSecs))}")
      println(s"[probe] $name janino-compiles: ${ws.map(_.janino).mkString(" ")}")
      Thread.sleep(300) // and the last repeat's
      val tbl = jobs.asScala.toSeq.sortBy(_._1)
      println(f"[jobprobe] $name last repeat: ${tbl.size} jobs, job-time sum ${tbl.map(_._2).sum / 1e3}%.2f s")
      tbl.foreach { case (id, ms, desc) =>
        println(f"[jobprobe]   job $id%3d ${ms / 1e3}%6.2f s  $desc")
      }
    }
    spark.sparkContext.removeSparkListener(listener)
  }

  private def planCost(spark: SparkSession, sfDir: String, repeats: Int, names: Seq[String]): Unit = {
    JvmWindow.warmUp(spark)
    names.foreach { n =>
      val (plans, execs) = (1 to repeats).map { _ =>
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(n)(spark, sfDir)
        df.queryExecution.executedPlan // force planning
        val t1 = System.nanoTime()
        df.count()
        val t2 = System.nanoTime()
        CacheRegistry.drain(blocking = true)
        System.gc()
        ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
      }.unzip
      println(s"[plancost] $n plan: ${fmt(plans)}")
      println(s"[plancost] $n exec: ${fmt(execs)}")
    }
  }

  private def explain(spark: SparkSession, sfDir: String, out: String, names: Seq[String]): Unit = {
    if (out != "-") Files.createDirectories(Paths.get(out))
    names.foreach { n =>
      val txt = SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(FormattedMode)
      if (out == "-") println(s"\n================ $n ================\n$txt")
      else {
        Files.writeString(Paths.get(out, s"$n.txt"), txt)
        println(s"[explain] wrote $out/$n.txt")
      }
      CacheRegistry.drain(blocking = true)
    }
  }

  /** The number the executor-loss note on Lineage.scala quotes: whole-loop
    * seconds and the per-iteration quotient, medians over `reps` runs of
    * a fixed-point PageRank (one rank-relation cut per iteration) over a
    * synthetic ring-with-chords graph.
    */
  private def lineage(spark: SparkSession, n: Long, iters: Int, reps: Int): Unit = {
    spark.sparkContext.setCheckpointDir(
      Files.createTempDirectory("graft-lineage-probe").toString)
    def timeRun(): Double = {
      val nodes = spark.range(n).select(col("id").as("node"))
      // ring + two chord families: connected, mixed out-degrees
      val edges = spark.range(n).select(col("id").as("src"),
          ((col("id") + 1) % n).as("dst"))
        .unionAll(spark.range(n / 2).select((col("id") * 2).as("src"),
          ((col("id") * 7 + 3) % n).as("dst")))
      val t0 = System.nanoTime()
      PageRank.run(edges, nodes, iters).count()
      val dt = (System.nanoTime() - t0) / 1e9
      CacheRegistry.drain()
      dt
    }
    def med(reliable: Boolean, runs: Int): Double = {
      if (reliable) spark.conf.set(Lineage.ReliableConf, "true")
      try {
        val xs = (1 to runs).map(_ => timeRun()).sorted
        xs(xs.length / 2)
      } finally spark.conf.unset(Lineage.ReliableConf)
    }
    // warm-up both modes (codegen/JIT)
    med(reliable = false, 1); med(reliable = true, 1)
    val local = med(reliable = false, reps)
    val reliable = med(reliable = true, reps)
    println(f"[lineage-probe] nodes=$n iters=$iters reps=$reps  " +
      f"local=$local%.2f s (${local / iters}%.2f s/iter)  " +
      f"reliable=$reliable%.2f s (${reliable / iters}%.2f s/iter)  " +
      f"ratio=${reliable / local}%.2f")
  }
}
