package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

/** The app-flow benchmark's program: runs one workload (`sync` or
  * `docs`) for a seed and a number of seconds, checks its outputs,
  * and prints every metric as `metric <name> <value> <unit> n=<samples>`
  * lines followed by one `RESULT <json>` line with the run's `correct`,
  * `attempted` and `failed`. `perfbench/run.py` builds and launches it
  * and adds the metrics `BENCHMARK.json` names to the result; see
  * `perfbench/README.md`.
  *
  * {{{
  *   graft.perfbench.Harness --workload sync --seed 1 --seconds 10 \
  *     --trace 0 --dir <run dir>
  * }}}
  */
object Harness {

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      dir: String)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("dir"))
  }

  def session(dir: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors().toString
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val t0 = System.nanoTime()
    val spark = session(o.dir)
    val code = try run(spark, o, t0) finally spark.stop()
    sys.exit(code)
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Heap occupancy after a full collection, from the heap pools'
    * collection usage. */
  private def heapAfterGcMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }

  final case class OpRun(i: Long, ms: Double, gcMs: Long)

  private def run(spark: SparkSession, o: Opts, t0: Long): Int = {
    val sc = spark.sparkContext
    val tracer = new Tracer(sc)
    val ctx = new Ctx(spark, o.dir, o.seed, tracer)
    val wl: Workload = o.workload match {
      case "sync" => new SyncWorkload(ctx)
      case "docs" => new DocsWorkload(ctx)
      case w => System.err.println(s"unknown workload $w"); return 2
    }
    Try(wl.setup()) match {
      case Failure(e) =>
        System.err.println("set-up failed:"); e.printStackTrace()
        return 1
      case Success(_) if ctx.failures.nonEmpty =>
        System.err.println("set-up failed its output checks:\n  " +
          ctx.failures.mkString("\n  "))
        return 1
      case _ =>
    }
    val setupS = (System.nanoTime() - t0) / 1e9
    tracer.all.filter(s => s.op < 0 && s.parent == 0).foreach(s =>
      println(f"setup ${s.name} ${s.durNs / 1e9}%.3f s"))
    var heapPeak = heapAfterGcMb()
    var lastHeap = System.nanoTime()

    val ledger = new JobLedger
    if (o.trace) { sc.addSparkListener(ledger); tracer.keyJobs = true }
    val ops = mutable.ArrayBuffer.empty[OpRun]
    var failedOps = 0L
    var aborted = false
    val deadline = System.nanoTime() + o.seconds * 1000000000L
    var i = 0L
    var lastIterNs = 0L
    // closed loop: start another operation only if one more of the
    // last one's length still ends inside the window
    while (!aborted && (i == 0 || System.nanoTime() + lastIterNs <= deadline)) {
      val iterStart = System.nanoTime()
      val prepared = Try(wl.prepare(i))
      val f0 = ctx.failures.size
      val gc0 = gcMs()
      val s0 = System.nanoTime()
      val res = prepared.flatMap(_ => Try(tracer.span("op", i)(wl.op(i))))
      val ms = (System.nanoTime() - s0) / 1e6
      ops += OpRun(i, ms, gcMs() - gc0)
      res.flatMap(checks => Try(checks())) match {
        case Failure(e) =>
          ctx.failures += s"operation $i threw $e"
          e.printStackTrace()
          aborted = true
        case _ =>
      }
      if (ctx.failures.size > f0) failedOps += 1
      if (System.nanoTime() - lastHeap > 5000000000L) {
        heapPeak = math.max(heapPeak, heapAfterGcMb())
        lastHeap = System.nanoTime()
      }
      lastIterNs = System.nanoTime() - iterStart
      i += 1
    }
    if (o.trace) {
      tracer.keyJobs = false
      org.apache.spark.perfbench.ListenerBus.drain(sc)
      sc.removeSparkListener(ledger)
    }
    heapPeak = math.max(heapPeak, heapAfterGcMb())
    val end = wl.observer.walk()

    val report = new Report(o, wl, tracer.all.filter(_.op >= 0), ops.toSeq,
      ledger, setupS, heapPeak, end)
    ctx.failures.take(20).foreach(f => println(s"check failed: $f"))
    val lines = report.endToEnd(failedOps) ++ (if (o.trace) report.perLayer else Nil)
    lines.foreach(l => println(s"metric ${l.name} ${Report.num(l.value)} ${l.unit} n=${l.n}"))
    if (o.trace) report.write(Paths.get(o.dir, "trace.json").toString)
    val json = "{\"correct\": " + ctx.failures.isEmpty + ", \"attempted\": " + ops.size +
      ", \"failed\": " + failedOps + "}"
    println("RESULT " + json)
    0
  }
}

final case class Metric(name: String, value: Double, unit: String, n: Int)

/** Turns a run's spans, operations, jobs and store walks into metrics. */
final class Report(o: Harness.Opts, wl: Workload, spans: Seq[Span],
    ops: Seq[Harness.OpRun], ledger: JobLedger, setupS: Double, heapPeakMb: Double,
    end: StoreWalk) {

  import Report._

  private def e2eSpans(name: String): Seq[Double] =
    spans.filter(_.name == name).map(_.durNs / 1e6)

  private def spaceAmp: Double = end.totalBytes.toDouble / math.max(1L, wl.userBytes)

  def endToEnd(failedOps: Long): Seq[Metric] = {
    val opMs = ops.map(_.ms)
    val common = Seq(
      Metric("setup_s", setupS, "s", 1),
      Metric("op_p50_ms", median(opMs), "ms", opMs.size),
      Metric("heap_peak_mb", heapPeakMb, "MB", 1),
      Metric("space_amp", spaceAmp, "ratio", 1),
      Metric("error_rate", failedOps.toDouble / math.max(1, ops.size), "fraction", ops.size))
    val named = o.workload match {
      case "sync" =>
        Seq(Metric("sync_round_p50_s", median(opMs) / 1e3, "s", opMs.size))
      case _ =>
        val rounds = e2eSpans("streaming.round")
        val probes = e2eSpans("search.probe")
        Seq(Metric("docs_round_p50_s", median(rounds) / 1e3, "s", rounds.size),
          Metric("search_p50_ms", median(probes), "ms", probes.size)) ++
          tailMetric("search", probes)
    }
    common ++ named
  }

  /** `<what>_p90_ms`, or the highest lower percentile that still has
    * ten samples beyond it; nothing when even p75 has fewer. */
  private def tailMetric(what: String, xs: Seq[Double]): Seq[Metric] = {
    val (p, v) = tail(xs)
    if (p == 50) Nil else Seq(Metric(s"${what}_p${p}_ms", v, "ms", xs.size))
  }

  // ---- traced run -------------------------------------------------------

  private lazy val spanById = spans.map(s => s.id -> s).toMap

  /** Each job with the span its local property names. */
  private lazy val jobSpan: Seq[(JobRecord, Span)] =
    ledger.jobs.flatMap(j => j.span.flatMap(spanById.get).map(j -> _))

  private def moduleOf(j: JobRecord, s: Span): String =
    if (j.module != JobLedger.Unattributed) j.module
    else s.name match {
      case n if n.startsWith("search.bm25") => "ops.TextAnalysis"
      case n if n.startsWith("search.") => "ops.SimilaritySearch"
      case n => n.takeWhile(_ != '.')
    }

  private def perOp(v: Double): Double = v / math.max(1, ops.size)

  private def spanMedian(name: String, unitScale: Double): Option[(Double, Int)] = {
    val d = spans.filter(_.name == name).map(_.durNs / unitScale)
    if (d.isEmpty) None else Some((median(d), d.size))
  }

  lazy val perLayer: Seq[Metric] = {
    val out = mutable.ArrayBuffer.empty[Metric]
    val nOps = ops.size
    def add(name: String, v: Double, unit: String, n: Int = nOps) = out += Metric(name, v, unit, n)

    // app / search spans
    Seq("app.sync_channel" -> "app.sync_channel_s", "app.ingest_inbox" -> "app.ingest_inbox_s")
      .foreach { case (s, m) => spanMedian(s, 1e9).foreach { case (v, n) => add(m, v, "s", n) } }
    Seq("playlists", "playlist_videos", "video", "video_404").foreach { k =>
      spanMedian(s"app.http.$k", 1e6).foreach { case (v, n) => add(s"app.http_ms.$k", v, "ms", n) }
    }
    Seq("search_titles", "search_transcripts").foreach { k =>
      spanMedian(s"app.dashboard.$k", 1e6).foreach { case (v, n) =>
        add(s"app.dashboard_ms.$k", v, "ms", n) }
    }
    Seq("bm25", "ivfpq", "fuse").foreach { k =>
      spanMedian(s"search.$k", 1e6).foreach { case (v, n) => add(s"search.${k}_ms", v, "ms", n) }
    }
    // streaming passes
    val tp = wl.passes.toSeq.filter(_.op >= 0)
    if (tp.nonEmpty) {
      tp.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (k, ps) =>
        add(s"streaming.pass_s.$k", median(ps.map(_.wallMs / 1e3)), "s", ps.size)
      }
      val byOp = tp.groupBy(_.op).values.toSeq
      add("streaming.batches", tp.map(_.batches).sum.toDouble / byOp.size, "count", byOp.size)
      add("streaming.batch_s", median(byOp.map(_.map(_.batchMs).sum / 1e3)), "s", byOp.size)
      add("streaming.standup_s",
        median(byOp.map(_.map(p => p.wallMs - p.batchMs).sum / 1e3)), "s", byOp.size)
    }
    wl.ratios.foreach { case (k, v) => add(k, v, "ratio", 1) }
    // store
    val rs = wl.rounds.toSeq
    if (rs.nonEmpty) {
      add("store.versions_published", rs.map(_.storeDelta.versionsPublished).sum.toDouble / rs.size,
        "count", rs.size)
      add("store.files_written", rs.map(_.storeDelta.filesWritten).sum.toDouble / rs.size,
        "count", rs.size)
      add("store.bytes_written", rs.map(_.storeDelta.bytesWritten).sum.toDouble / rs.size,
        "bytes", rs.size)
      add("store.write_amp", rs.map(_.storeDelta.bytesWritten).sum.toDouble /
        math.max(1L, rs.map(_.userBytes).sum), "ratio", rs.size)
    }
    add("store.tmp_dirs_left", end.tmpDirs, "count", 1)
    add("store.live_bytes", end.liveBytes, "bytes", 1)
    add("store.total_bytes", end.totalBytes.toDouble, "bytes", 1)
    // jobs by module
    val js = jobSpan
    js.groupBy { case (j, s) => moduleOf(j, s) }.toSeq.sortBy(_._1).foreach { case (m, xs) =>
      add(s"$m.jobs", perOp(xs.size), "count")
      add(s"$m.job_s", perOp(xs.map { case (j, _) =>
        j.startMs.map(st => (j.endMs - st) / 1e3).getOrElse(0.0) }.sum), "s")
    }
    // spark substrate, per traced operation
    val opSpans = spans.filter(_.name == "op")
    val jobsByOp = js.groupBy(_._2.op)
    val gaps = opSpans.map { s =>
      val jobs = jobsByOp.getOrElse(s.op, Nil).map(_._1)
      val r = JobRollup.of(jobs)
      (s.durNs / 1e6 - r.unionMs, r.firstStartMs.map(f => f - s.startNs / 1e6))
    }
    val jobsAll = js.map(_._1)
    add("spark.jobs", perOp(jobsAll.size), "count")
    add("spark.stages", perOp(jobsAll.map(_.stages).sum), "count")
    add("spark.tasks", perOp(jobsAll.map(_.tasks).sum.toDouble), "count")
    add("spark.driver_gap_ms", perOp(gaps.map(_._1).sum), "ms")
    val firsts = gaps.flatMap(_._2)
    add("spark.first_job_ms", median(firsts), "ms", firsts.size)
    add("spark.task_cpu_ms", perOp(jobsAll.map(_.cpuNs).sum / 1e6), "ms")
    add("spark.task_run_ms", perOp(jobsAll.map(_.runMs).sum.toDouble), "ms")
    add("spark.shuffle_read_bytes", perOp(jobsAll.map(_.shuffleReadBytes).sum.toDouble), "bytes")
    add("spark.shuffle_write_bytes", perOp(jobsAll.map(_.shuffleWriteBytes).sum.toDouble), "bytes")
    add("spark.spill_bytes", perOp(jobsAll.map(_.spillBytes).sum.toDouble), "bytes")
    add("spark.input_bytes", perOp(jobsAll.map(_.inputBytes).sum.toDouble), "bytes")
    add("spark.output_bytes", perOp(jobsAll.map(_.outputBytes).sum.toDouble), "bytes")
    add("spark.jobs_missing_start", ledger.missingStarts.get.toDouble, "count", 1)
    add("spark.jobs_unkeyed", (ledger.jobs.size - js.size).toDouble, "count", 1)
    add("spark.stages_orphaned", ledger.orphanStages.get.toDouble, "count", 1)
    add("jvm.gc_ms", perOp(ops.map(_.gcMs).sum.toDouble), "ms")
    // self time per layer
    val self = Tracer.selfTimes(spans)
    spans.groupBy(_.layer).toSeq.sortBy(_._1).foreach { case (layer, ss) =>
      add(s"self_ms.$layer", perOp(ss.map(s => self(s.id)).sum / 1e6), "ms")
    }
    add("trace.listener_ms", perOp(ledger.callbackNs.get / 1e6), "ms")
    out.toSeq
  }

  /** Spans, jobs and the per-layer metrics of a traced run, as JSON. */
  def write(path: String): Unit = {
    val sb = new StringBuilder
    sb ++= "{\"workload\": \"" + o.workload + "\", \"seed\": " + o.seed + ",\n\"spans\": ["
    sb ++= spans.map(s => s"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, """ +
      s""""op": ${s.op}, "start_ns": ${s.startNs}, "end_ns": ${s.endNs}}""").mkString(",\n")
    sb ++= "],\n\"jobs\": ["
    sb ++= jobSpan.map { case (j, s) =>
      s"""{"job": ${j.jobId}, "span": ${s.id}, "module": "${moduleOf(j, s)}", """ +
        s""""start_ms": ${j.startMs.getOrElse(-1L)}, "end_ms": ${j.endMs}, """ +
        s""""stages": ${j.stages}, "tasks": ${j.tasks}, "cpu_ns": ${j.cpuNs}, """ +
        s""""site": "${j.site.linesIterator.take(3).mkString(" | ").replace("\"", "'")}"}"""
    }.mkString(",\n")
    sb ++= "],\n\"store_rounds\": ["
    sb ++= wl.rounds.map { r =>
      "{\"user_bytes\": " + r.userBytes + ", \"tables\": {" +
        (r.storeDelta.added.keySet ++ r.storeDelta.published.keySet).toSeq.sorted.map { t =>
          val (f, b) = r.storeDelta.added.getOrElse(t, (0L, 0L))
          s""""$t": {"files_added": $f, "bytes_added": $b, "versions_published": """ +
            s"""${r.storeDelta.published.getOrElse(t, 0L)}}"""
        }.mkString(", ") + "}}"
    }.mkString(",\n")
    sb ++= "],\n\"metrics\": {"
    sb ++= perLayer.map(m => "\"" + m.name + "\": {\"value\": " + num(m.value) +
      ", \"unit\": \"" + m.unit + "\", \"n\": " + m.n + "}").mkString(",\n")
    sb ++= "}}\n"
    Files.write(Paths.get(path), sb.toString.getBytes(StandardCharsets.UTF_8))
  }
}

object Report {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The highest of p90/p75/p50 with at least ten samples beyond it
    * (nearest rank), and its value. */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val s = xs.sorted
    val n = s.size
    val p = Seq(90, 75, 50).find(p => n * (100 - p) / 100 >= 10).getOrElse(50)
    (p, if (n == 0) Double.NaN else s(math.min(n - 1, math.ceil(n * p / 100.0).toInt - 1 max 0)))
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}
