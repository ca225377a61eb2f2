package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Minimal JSON rendering for the harness's result file. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Number => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => render(xs.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** Wall clock in epoch microseconds with nanoTime resolution, so spans
  * taken here line up with the millisecond times Spark's events carry. */
object Clock {
  private val baseNano = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def us: Long = baseUs + (System.nanoTime() - baseNano) / 1000L
}

case class Span(id: Long, parent: Long, trace: Long, name: String,
                layer: String, startUs: Long, endUs: Long)

/** Spans around every call the benchmark makes into a layer. Spans of
  * one timed operation share a trace id; Spark jobs launched on the
  * calling thread are attributed to the innermost open span through a
  * local property. With tracing off every call is a plain pass-through. */
class Tracer(val enabled: Boolean, sc: SparkContext) {
  val SpanProp = "perfbench.span"
  private val ids = new AtomicLong(0)
  private var stack = List.empty[Long]
  private var traceId = 0L
  val spans = mutable.ArrayBuffer[Span]()
  /** Spark's streaming run id → the span that started the query. */
  val runParent = mutable.Map[String, Long]()

  def newId(): Long = ids.incrementAndGet()
  def current: Long = stack.headOption.getOrElse(0L)

  /** A root span: one timed operation. */
  def op[T](name: String)(body: => T): T = {
    if (!enabled) return body
    traceId = newId()
    span(name, "bench")(body)
  }

  def span[T](name: String, layer: String)(body: => T): T = {
    if (!enabled) return body
    val id = newId()
    val parent = current
    val start = Clock.us
    stack = id :: stack
    sc.setLocalProperty(SpanProp, id.toString)
    try body
    finally {
      stack = stack.tail
      sc.setLocalProperty(SpanProp, stack.headOption.map(_.toString).orNull)
      spans.synchronized {
        spans += Span(id, parent, traceId, name, layer, start, Clock.us)
      }
    }
  }
}

/** Per-job and per-stage engine counters, from Spark's own listener bus.
  * Tasks are counted only while `recording` is on (the timed window). */
class EngineListener(tracer: Tracer) extends SparkListener {
  @volatile var recording = false

  final class JobRec(val id: Int, val startMs: Long, val parentSpan: Long,
                     val runId: String) {
    var endMs = 0L
    var ok = true
    var recorded = false
    var tasks = 0L
    var recordsRead = 0L
  }
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.Map[Int, Int]()
  private val stageSubmit = mutable.Map[Int, Long]()
  private val stageTaskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  private val stageSpanMs = mutable.Map[Int, (Long, Long)]()

  val totals = mutable.LinkedHashMap[String, Double](
    "tasks" -> 0, "failed_tasks" -> 0, "task_wait_ms" -> 0,
    "executor_run_ms" -> 0, "executor_cpu_ms" -> 0, "jvm_gc_ms" -> 0,
    "input_bytes" -> 0, "shuffle_read_bytes" -> 0,
    "shuffle_write_bytes" -> 0, "spill_bytes" -> 0, "output_bytes" -> 0)
  var peakStorageBytes = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(tracer.SpanProp)))
      .map(_.toLong).getOrElse(0L)
    // streaming jobs carry the query's run id as their job group
    val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    val rec = new JobRec(e.jobId, e.time, span, group)
    rec.recorded = recording
    jobs(e.jobId) = rec
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.endMs = e.time
      j.ok = e.jobResult == JobSucceeded
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmit(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime)
      if (recording) stageSpanMs(i.stageId) = (s, c)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (!recording) return
    val m = e.taskMetrics
    val info = e.taskInfo
    def add(k: String, v: Double): Unit = totals(k) = totals(k) + v
    add("tasks", 1)
    if (e.reason != Success) add("failed_tasks", 1)
    stageSubmit.get(e.stageId).foreach(s => add("task_wait_ms", math.max(0L, info.launchTime - s)))
    if (m != null) {
      add("executor_run_ms", m.executorRunTime)
      add("executor_cpu_ms", m.executorCpuTime / 1e6)
      add("jvm_gc_ms", m.jvmGCTime)
      add("input_bytes", m.inputMetrics.bytesRead)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      add("output_bytes", m.outputMetrics.bytesWritten)
      stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
        j.tasks += 1
        j.recordsRead += m.inputMetrics.recordsRead
      }
    }
    stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += info.duration
  }

  /** Storage memory in use now (block manager max − remaining). */
  def sampleStorage(sc: SparkContext): Unit = {
    val used = sc.getExecutorMemoryStatus.values.map { case (mx, rem) => mx - rem }.sum
    synchronized { peakStorageBytes = math.max(peakStorageBytes, used) }
  }

  /** max/median task time of the longest recorded stage. */
  def stageSkew: Double = synchronized {
    if (stageSpanMs.isEmpty) 0.0
    else {
      val longest = stageSpanMs.maxBy { case (_, (s, c)) => c - s }._1
      val ts = stageTaskMs.getOrElse(longest, mutable.ArrayBuffer()).sorted
      if (ts.isEmpty) 0.0
      else {
        val med = ts(ts.size / 2).toDouble
        if (med <= 0) ts.last.toDouble.max(1.0) else ts.last / med
      }
    }
  }
}

/** Progress of every micro-batch, from Structured Streaming's own
  * reports. Registered with tracing on and off: batch latency is an
  * end-to-end metric. */
class ProgressListener extends StreamingQueryListener {
  case class Batch(runId: String, batchId: Long, startUs: Long,
                   durations: Map[String, Long], inputRows: Long)
  val batches = mutable.ArrayBuffer[Batch]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs
    val m = scala.jdk.CollectionConverters.MapHasAsScala(d).asScala
      .map { case (k, v) => k -> v.longValue() }.toMap
    // AvailableNow reports a final no-data progress: not a batch
    if (p.numInputRows > 0 || m.contains("addBatch")) synchronized {
      batches += Batch(p.runId.toString, p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L, m,
        p.numInputRows)
    }
  }
}
