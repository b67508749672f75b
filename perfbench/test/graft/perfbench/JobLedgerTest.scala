package graft.perfbench

import java.util.Properties

import org.apache.spark.scheduler._

/** Unit tests of the benchmark's job listener and span arithmetic, fed
  * with synthetic listener events (no Spark session). Run with
  * `python3 perfbench/build.py --test`; exits non-zero on a failure. */
object JobLedgerTest {
  private var failures = 0

  private def check(name: String)(ok: => Boolean): Unit = {
    val pass = try ok catch { case e: Throwable => println(s"  $e"); false }
    println((if (pass) "PASS " else "FAIL ") + name)
    if (!pass) failures += 1
  }

  private def props(span: Option[Long], execution: Option[Long] = None): Properties = {
    val p = new Properties()
    span.foreach(s => p.setProperty(Tracer.SpanProperty, s.toString))
    execution.foreach(e => p.setProperty("spark.sql.execution.id", e.toString))
    p
  }

  def main(args: Array[String]): Unit = {
    val epochMs = 1767225600000L

    check("a job end without its start is counted, not read as an epoch-long job") {
      val l = new JobLedger
      l.onJobEnd(SparkListenerJobEnd(7, epochMs, JobSucceeded))
      val r = JobRollup.of(l.jobs)
      l.missingStarts.get == 1 && l.jobs.head.startMs.isEmpty &&
        r.jobs == 1 && r.unionMs == 0 && r.firstStartMs.isEmpty
    }

    check("a started job keeps its span, start and duration") {
      val l = new JobLedger
      l.onJobStart(SparkListenerJobStart(1, epochMs, Seq.empty, props(Some(5))))
      l.onJobEnd(SparkListenerJobEnd(1, epochMs + 300, JobSucceeded))
      val j = l.jobs.head
      l.missingStarts.get == 0 && j.span.contains(5L) && j.startMs.contains(epochMs) &&
        JobRollup.of(l.jobs).unionMs == 300
    }

    check("a job without the span property has no span") {
      val l = new JobLedger
      l.onJobStart(SparkListenerJobStart(2, epochMs, Seq.empty, props(None)))
      l.onJobEnd(SparkListenerJobEnd(2, epochMs + 1, JobSucceeded))
      l.jobs.head.span.isEmpty
    }

    check("a stage of an unknown job is counted as an orphan") {
      val l = new JobLedger
      val si = new StageInfo(3, 0, "s", 1, Seq.empty, Seq.empty, "", null, Seq.empty,
        None, 0, false, 0)
      l.onStageCompleted(SparkListenerStageCompleted(si))
      l.orphanStages.get == 1
    }

    check("module is the first engine frame outside the benchmark") {
      val site = Seq(
        "org.apache.spark.sql.Dataset.collect(Dataset.scala:1)",
        "graft.perfbench.DocsWorkload.probe(Workloads.scala:1)",
        "graft.ops.ParquetTableStore.$anonfun$writeVersion$4(ParquetTableStore.scala:2556)",
        "graft.app.SyncPipeline.syncChannel(SyncPipeline.scala:40)").mkString("\n")
      JobLedger.moduleOf(site).contains("ops.ParquetTableStore")
    }

    check("module names: packages outside ops map to their package") {
      JobLedger.moduleOf("graft.streaming.Streams$.$anonfun$nearDupIngest$1(Streams.scala:9)")
        .contains("streaming") &&
        JobLedger.moduleOf("graft.app.BenchCli$.run(BenchCli.scala:1)\n" +
          "graft.app.Main$.run(Main.scala:1)").contains("app") &&
        JobLedger.moduleOf("org.apache.spark.rdd.RDD.collect(RDD.scala:1)").isEmpty
    }

    check("interval union merges overlaps and skips gaps") {
      Tracer.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L))) == 20 &&
        Tracer.unionLength(Nil) == 0
    }

    check("self time is duration minus child coverage") {
      val spans = Seq(Span(1, "op", 0, 0, 0, 100), Span(2, "app.a", 1, 0, 10, 40),
        Span(3, "app.b", 1, 0, 30, 60))
      val self = Tracer.selfTimes(spans)
      self(1) == 50 && self(2) == 30 && self(3) == 30
    }

    if (failures > 0) { println(s"$failures failed"); sys.exit(1) }
    println("all passed")
  }
}
