package graft.tools

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

import graft.{Session, SparkEntry}

/** The profiler: runs catalog queries on one session and prints where
  * their time went, or what actually ran.
  *
  * {{{
  *   runMain graft.tools.Profile stages <sfDir> <query...>
  *   runMain graft.tools.Profile plan   <sfDir> <query...>
  * }}}
  *
  *  - `stages` materializes each query through a noop write and prints
  *    `TIMING <query> <s> s`, then one `JOB` line per job (wall, the
  *    driver gap before it, its callsite) and one `STAGE` line per
  *    stage (wall, executor cpu/run time, records in, shuffle
  *    write/read, spill), so a slow query pins to a job or a stage with
  *    evidence.
  *  - `plan` executes the query's own `QueryExecution` and prints the
  *    runtime-final adaptive plan (`isFinalPlan=true`, ReusedExchange
  *    nodes included) — what ran, not the pre-execution estimate.
  */
object Profile {

  private val usage = "usage: Profile <stages|plan> <sfDir> <query...>"

  def main(args: Array[String]): Unit = {
    val spark = Session.build()
    try run(spark, args) finally spark.stop()
  }

  def run(spark: SparkSession, args: Array[String]): Unit = {
    require(args.length >= 3, usage)
    val (mode, sfDir, names) = (args(0), args(1), args.toSeq.drop(2))
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    mode match {
      case "stages" => stages(spark, sfDir, names)
      case "plan" => names.foreach(plan(spark, sfDir, _))
      case other => throw new IllegalArgumentException(s"$usage (got $other)")
    }
  }

  private def plan(spark: SparkSession, sfDir: String, name: String): Unit = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    // Execute df's OWN QueryExecution (a .write would re-plan a
    // clone and leave this plan un-executed / isFinalPlan=false):
    // the printed tree is then the runtime-final adaptive plan,
    // ReusedExchange / ReusedShuffle nodes included.
    df.queryExecution.toRdd.count()
    println(s"======== $name (final adaptive plan) ========")
    println(df.queryExecution.executedPlan.toString)
  }

  private def stages(spark: SparkSession, sfDir: String,
      names: Seq[String]): Unit = {
    val stageLines = new ConcurrentLinkedQueue[(Int, String)]()
    val jobLines = new ConcurrentLinkedQueue[String]()
    // jobId → callsite, stageId → jobId: the broadcast/commit stages
    // submitted from futures carry no graft frame in si.details, but
    // the JOB's callsite (captured at submission) survives
    val jobSite = new ConcurrentHashMap[Int, String]()
    val jobGraftSite = new ConcurrentHashMap[Int, String]()
    // boxed values here and in jobStartT: a missing key reads as null,
    // so the Option fallbacks below run instead of seeing job/time 0
    val stageJob = new ConcurrentHashMap[Int, java.lang.Integer]()
    // job timeline: start/end wall times expose DRIVER GAPS (planning,
    // commit protocol, sidecar I/O) that per-stage metrics can't see
    val lastJobEnd = new AtomicLong(0L)
    val jobStartT = new ConcurrentHashMap[Int, java.lang.Long]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val site = Option(js.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("")
        jobSite.put(js.jobId, site)
        jobStartT.put(js.jobId, js.time)
        js.stageIds.foreach(sid => stageJob.put(sid, js.jobId))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val st = Option(jobStartT.get(je.jobId)).map(_.longValue)
          .getOrElse(je.time)
        val prev = lastJobEnd.getAndSet(je.time)
        val gap = if (prev == 0L) 0.0 else (st - prev) / 1e3
        jobLines.add(f"JOB ${je.jobId}%4d wall=${(je.time - st) / 1e3}%7.2fs " +
          f"gapBefore=$gap%7.2fs  ${jobSite.getOrDefault(je.jobId, "")} " +
          jobGraftSite.getOrDefault(je.jobId, ""))
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        val wall = (si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)) / 1e3
        // first graft-owned frame in the stage's callsite stack — the
        // future-wrapped broadcast/commit stages all share the same
        // anonymous si.name, which made per-stage attribution blind
        val graftSite = si.details.linesIterator
          .find(l => l.contains("graft.") && !l.contains("graft.tools."))
          .map(_.trim.replaceAll("^at ", "").take(70)).getOrElse("")
        val job = Option(stageJob.get(si.stageId))
        if (graftSite.nonEmpty) job.foreach(j => jobGraftSite.putIfAbsent(j, graftSite))
        stageLines.add(si.stageId ->
          (f"STAGE ${si.stageId}%4d tasks=${si.numTasks}%4d wall=$wall%7.2fs " +
          f"cpu=${m.executorCpuTime / 1e9}%8.2fs run=${m.executorRunTime / 1e3}%8.2fs " +
          f"in=${m.inputMetrics.recordsRead}%9d sw=${m.shuffleWriteMetrics.bytesWritten / 1048576}%6dMB " +
          f"sr=${m.shuffleReadMetrics.totalBytesRead / 1048576}%6dMB " +
          f"spill=${m.diskBytesSpilled / 1048576}%5dMB  " +
          f"${si.name.takeWhile(_ != '\n').take(40)}  " +
          f"job=${job.map(j => jobSite.getOrDefault(j, "")).getOrElse("")}  $graftSite"))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try names.foreach { name =>
      stageLines.clear()
      jobLines.clear()
      lastJobEnd.set(0L)
      val t0 = System.nanoTime()
      val timing =
        try {
          SparkEntry.queries(name)(spark, sfDir)
            .write.mode("overwrite").format("noop").save()
          f"${(System.nanoTime() - t0) / 1e9}%.2f s"
        } catch { case NonFatal(e) => s"FAILED ${String.valueOf(e.getMessage).take(100)}" }
      // give the listener bus a moment to drain
      Thread.sleep(1500)
      println(s"TIMING $name $timing")
      jobLines.asScala.foreach(println)
      stageLines.asScala.toSeq.sortBy(_._1).foreach(l => println(l._2))
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
