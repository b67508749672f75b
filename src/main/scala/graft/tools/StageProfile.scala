package graft.tools

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Per-stage profiler: runs catalog queries and prints one line per
  * completed stage — wall, executor-cpu, task count, records, shuffle
  * bytes, spill — so a slow query pins to a stage with evidence.
  * Usage: runMain graft.tools.StageProfile <sfDir> <name...> */
object StageProfile {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val lines = mutable.ArrayBuffer[String]()
    // jobId → callsite, stageId → jobId: the broadcast/commit stages
    // submitted from futures carry no graft frame in si.details, but
    // the JOB's callsite (captured at submission) survives
    val jobSite = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val jobGraftSite = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    // boxed values here and in jobStartT: a missing key reads as null,
    // so the Option fallbacks below run instead of seeing job/time 0
    val stageJob =
      new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Integer]()
    // job timeline: start/end wall times expose DRIVER GAPS (planning,
    // commit protocol, sidecar I/O) that per-stage metrics can't see
    val jobLines = mutable.ArrayBuffer[String]()
    val lastJobEnd = new java.util.concurrent.atomic.AtomicLong(0L)
    val jobStartT =
      new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val site = Option(js.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("")
        jobSite.put(js.jobId, site)
        jobStartT.put(js.jobId, js.time)
        js.stageIds.foreach(sid => stageJob.put(sid, js.jobId))
      }
      override def onJobEnd(
          je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        val st = Option(jobStartT.get(je.jobId)).map(_.longValue)
          .getOrElse(je.time)
        val prev = lastJobEnd.getAndSet(je.time)
        val gap = if (prev == 0L) 0.0 else (st - prev) / 1e3
        jobLines += f"JOB ${je.jobId}%4d wall=${(je.time - st) / 1e3}%7.2fs " +
          f"gapBefore=$gap%7.2fs  ${jobSite.getOrDefault(je.jobId, "")} " +
          jobGraftSite.getOrDefault(je.jobId, "")
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
        if (graftSite.nonEmpty)
          Option(stageJob.get(si.stageId)).foreach(j =>
            jobGraftSite.putIfAbsent(j, graftSite))
        lines += f"STAGE ${si.stageId}%4d tasks=${si.numTasks}%4d wall=$wall%7.2fs " +
          f"cpu=${m.executorCpuTime / 1e9}%8.2fs run=${m.executorRunTime / 1e3}%8.2fs " +
          f"in=${m.inputMetrics.recordsRead}%9d sw=${m.shuffleWriteMetrics.bytesWritten / 1048576}%6dMB " +
          f"sr=${m.shuffleReadMetrics.totalBytesRead / 1048576}%6dMB " +
          f"spill=${m.diskBytesSpilled / 1048576}%5dMB  " +
          f"${si.name.takeWhile(_ != '\n').take(40)}  " +
          f"job=${Option(stageJob.get(si.stageId)).map(j =>
            jobSite.getOrDefault(j, "")).getOrElse("")}  $graftSite"
      }
    })

    args.drop(1).foreach { name =>
      lines.clear()
      jobLines.clear()
      lastJobEnd.set(0L)
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dir).write.mode("overwrite").format("noop").save()
      val dt = (System.nanoTime() - t0) / 1e9
      // give the listener bus a moment to drain
      Thread.sleep(1500)
      println(s"======== $name  total=${"%.2f".format(dt)}s ========")
      jobLines.foreach(println)
      lines.sortBy(_.substring(6, 10).trim.toInt).foreach(println)
    }
    spark.stop()
  }
}
