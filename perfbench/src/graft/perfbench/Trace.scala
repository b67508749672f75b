package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval at a layer boundary. Times are epoch nanoseconds
  * so they line up with the millisecond job times Spark's listener
  * reports. `op` is the closed-loop operation (one round) the
  * span belongs to; `parent` is 0 for an operation's root span. */
final case class Span(id: Long, name: String, parent: Long, op: Long,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
  /** The layer a span reports under: its name up to the first dot. */
  def layer: String = name.takeWhile(_ != '.')
}

/** In-memory span recorder for the single client thread. Spans are
  * kept until the run ends and written out then. While `keyJobs` is
  * on, the innermost open span's id is published as a Spark local
  * property, so every job the wrapped call submits — from this thread
  * or from threads it starts — carries the span it ran under. */
final class Tracer(sc: SparkContext) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[(Long, String, Long)] // (id, name, startNs)
  private val ids = new AtomicLong(0)
  private val epochOffsetNs =
    System.currentTimeMillis() * 1000000L - System.nanoTime()
  var keyJobs = false

  def nowNs: Long = System.nanoTime() + epochOffsetNs

  def span[T](name: String, op: Long)(body: => T): T = {
    val id = ids.incrementAndGet()
    val parent = stack.headOption.map(_._1).getOrElse(0L)
    val start = nowNs
    stack = (id, name, start) :: stack
    if (keyJobs) sc.setLocalProperty(Tracer.SpanProperty, id.toString)
    try body
    finally {
      stack = stack.tail
      if (keyJobs) sc.setLocalProperty(Tracer.SpanProperty,
        stack.headOption.map(_._1.toString).orNull)
      spans += Span(id, name, parent, op, start, nowNs)
    }
  }

  def all: Seq[Span] = spans.toSeq
}

object Tracer {
  val SpanProperty = "perfbench.span"

  /** Length of the union of `[start, end)` intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of each span: its duration minus the part of it that
    * its child spans cover. */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
      s.id -> (s.durNs - unionLength(kids))
    }.toMap
  }
}

/** Counters of one Spark job, filled from its start, its stages and
  * its end. `startMs` is None when the start event never arrived. */
final class JobRecord(val jobId: Int, val startMs: Option[Long],
    val span: Option[Long], val module: String, val site: String = "") {
  @volatile var endMs: Long = -1L
  var stages = 0
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
}

/** The benchmark's own job listener.
  *
  *  - Each job is keyed to the span that was open on the submitting
  *    thread, through the [[Tracer.SpanProperty]] local property.
  *  - Each job is attributed to a module: the first `graft.*` frame of
  *    its result stage's call site, outside the benchmark's own code.
  *  - Maps hold boxed values and are read through null checks, so a
  *    job whose start event is missing is counted in `missingStarts`
  *    and kept out of interval arithmetic, instead of reading as a
  *    job that started at the epoch. */
final class JobLedger extends SparkListener {
  private val open = new ConcurrentHashMap[Integer, JobRecord]()
  private val stageJob = new ConcurrentHashMap[Integer, Integer]()
  private val done = new ConcurrentLinkedQueue[JobRecord]()
  /** SQL execution id → module of the call site that started it. Jobs
    * that adaptive execution submits from its own thread pool carry no
    * engine frame; they inherit the module of their execution. */
  private val execModule = new ConcurrentHashMap[java.lang.Long, String]()
  val missingStarts = new AtomicLong(0)
  val orphanStages = new AtomicLong(0)
  /** Time spent inside this listener's callbacks: the direct cost of
    * tracing, paid on Spark's listener-bus thread. */
  val callbackNs = new AtomicLong(0)

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try body finally callbackNs.addAndGet(System.nanoTime() - t0)
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = timed {
    val props = Option(js.properties)
    val span = props.flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .map(_.toLong)
    val result = if (js.stageInfos.isEmpty) None
      else Some(js.stageInfos.maxBy(_.stageId))
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(id => java.lang.Long.valueOf(id.toLong))
    val module = result.flatMap(si => JobLedger.moduleOf(si.details))
      .orElse(exec.flatMap(e => Option(execModule.get(e))))
      .getOrElse(JobLedger.Unattributed)
    val rec = new JobRecord(js.jobId, Some(js.time), span, module,
      result.map(_.details).getOrElse(""))
    open.put(js.jobId, rec)
    js.stageIds.foreach(s => stageJob.putIfAbsent(s, js.jobId))
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = timed {
    event match {
      case e: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        JobLedger.moduleOf(e.details).foreach(m => execModule.put(e.executionId, m))
      case _ =>
    }
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = timed {
    val si = sc.stageInfo
    val jobId = stageJob.get(si.stageId)
    val rec = if (jobId == null) null else open.get(jobId)
    if (rec == null) orphanStages.incrementAndGet()
    else rec.synchronized {
      rec.stages += 1
      rec.tasks += si.numTasks
      val m = si.taskMetrics
      if (m != null) {
        rec.cpuNs += m.executorCpuTime
        rec.runMs += m.executorRunTime
        rec.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        rec.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        rec.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        rec.inputBytes += m.inputMetrics.bytesRead
        rec.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = timed {
    val started = open.remove(je.jobId)
    val rec =
      if (started != null) started
      else {
        missingStarts.incrementAndGet()
        new JobRecord(je.jobId, None, None, JobLedger.Unattributed)
      }
    rec.endMs = je.time
    done.add(rec)
  }

  def jobs: Seq[JobRecord] = done.asScala.toSeq
}

object JobLedger {
  val Unattributed = "unattributed"

  /** The module of the first engine frame in a call site, or None when
    * the call site holds no engine frame outside the benchmark. */
  def moduleOf(callSite: String): Option[String] =
    callSite.linesIterator.map(_.trim.stripPrefix("at ").trim)
      .find(f => f.startsWith("graft.") && !isBenchmarkFrame(f))
      .map(f => moduleOfClass(f.takeWhile(_ != '(')))

  private def isBenchmarkFrame(frame: String): Boolean =
    frame.startsWith("graft.perfbench.") || frame.startsWith("graft.app.BenchCli")

  /** `graft.ops.ParquetTableStore$$anon.commit` → `ops.ParquetTableStore`;
    * `graft.streaming.Streams$.$anonfun$x$1` → `streaming`. */
  private def moduleOfClass(method: String): String = {
    val parts = method.stripPrefix("graft.").split('.')
    val pkg = parts.headOption.getOrElse("")
    pkg match {
      case "ops" if parts.length > 1 => "ops." + parts(1).takeWhile(_ != '$')
      case "plans" | "functions" => "kernels"
      case other => other.takeWhile(_ != '$')
    }
  }
}

/** Span-level roll-up of the jobs keyed to one span. */
final case class JobRollup(jobs: Int, unionMs: Long, firstStartMs: Option[Long])

object JobRollup {
  def of(jobs: Seq[JobRecord]): JobRollup = {
    val timed = jobs.flatMap(j => j.startMs.map(s => (s, math.max(s, j.endMs))))
    JobRollup(jobs.size, Tracer.unionLength(timed),
      if (timed.isEmpty) None else Some(timed.map(_._1).min))
  }
}
