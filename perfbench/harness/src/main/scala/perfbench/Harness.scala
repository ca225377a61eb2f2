package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.cdc.{ChangeFeed, ConsumerStateStore}
import graft.ops.MaterializedView
import graft.sinks.DocumentSink
import graft.streaming.{CdcPipeline, StreamingAggView}

/** One benchmark run in one JVM: set up, warm up, run the workload's
  * closed loop for the given seconds, then read back what the checks
  * need. Everything measured goes to one JSON file; the Python runner
  * turns it into metrics and checks it against its own expectations.
  *
  * Usage: Harness <workload> <inputDir> <workDir> <seconds> <trace 0|1> <cores> <outFile>
  */
object Harness {
  val GramKeys = Seq("llm_decontaminate_ngram", "llm_diversity_ngram",
    "llm_boilerplate_ngrams", "llm_token_zipf", "llm_lm_score",
    "llm_ngram_novelty")
  val ReadKeys = Seq("view_adhoc_sql", "join_nest_lines", "agg_counts",
    "view_cached_sql")

  def main(args: Array[String]): Unit = {
    val Array(workload, input, work, secondsS, traceS, coresS, outFile) = args
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = graft.Tables.session(s"local[$coresS]", "perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    val run = new Run(spark, workload, input, work, secondsS.toDouble,
      traceS == "1", jvmStartMs)
    val status = try { run.execute(); 0 } catch {
      case e: Throwable =>
        e.printStackTrace()
        run.error = Some(s"${e.getClass.getName}: ${e.getMessage}")
        1
    }
    Files.writeString(Paths.get(outFile), Json.render(run.result()))
    spark.stop()
    sys.exit(status)
  }

  def mkdir(p: String): String = { new File(p).mkdirs(); p }
}

class Run(spark: SparkSession, workload: String, input: String, work: String,
          seconds: Double, trace: Boolean, jvmStartMs: Long) {
  import Harness._

  private val sc = spark.sparkContext
  val tracer = new Tracer(trace, sc)
  val engine = new EngineListener(tracer)
  val progress = new ProgressListener
  if (trace) sc.addSparkListener(engine)
  spark.streams.addListener(progress)

  var error: Option[String] = None
  private var setupS = 0.0
  private var timedWallMs = 0.0
  private var timedCpuMs = 0.0
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** Timed samples by kind, in milliseconds (or counts). */
  private val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  private val facts = mutable.LinkedHashMap[String, Any]()
  private val hooks = mutable.ArrayBuffer[(String, String, Long, Long)]()
  private val opStarts = mutable.ArrayBuffer[(Long, Long)]()

  private def sample(kind: String, v: Double): Unit =
    samples.getOrElseUpdate(kind, mutable.ArrayBuffer()) += v
  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
  private def base = s"$input/base"

  private var loopStart = 0L
  private def timeLeft: Boolean = (System.nanoTime() - loopStart) / 1e9 < seconds

  /** The closed loop: `op` runs back to back until the run's seconds
    * are spent; each call returns false when its workload is exhausted. */
  private def timedLoop(op: () => Boolean): Unit = {
    setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    engine.recording = true
    loopStart = System.nanoTime()
    var more = true
    while (more && timeLeft) {
      val t0 = System.nanoTime()
      val us0 = Clock.us
      val cpu0 = os.getProcessCpuTime
      more = op()
      timedCpuMs += (os.getProcessCpuTime - cpu0) / 1e6
      timedWallMs += ms(t0)
      opStarts += ((us0, Clock.us))
      if (trace) engine.sampleStorage(sc)
    }
    engine.recording = false
  }

  /** Run `df` through `write` while observing a row count and
    * order-independent hashes of every row, so each repeat of a query is
    * checked against its first result. */
  private def observed(df: DataFrame)(write: DataFrame => Unit): Seq[Long] = {
    val ob = Observation()
    val h = xxhash64(df.columns.map(c => col(s"`$c`")): _*)
    write(df.observe(ob, count(lit(1)).as("n"),
      sum(pmod(h, lit(2147483647L))).as("s"), bit_xor(h).as("x")))
    val r = ob.get
    Seq("n", "s", "x").map(k => Option(r(k)).fold(0L)(_.asInstanceOf[Long]))
  }

  /** The timed action: the noop sink, as graft.Bench times a query. */
  private def observedRun(df: DataFrame): Seq[Long] =
    observed(df)(_.write.format("noop").mode("overwrite").save())

  /** The first result of a query, written for the DuckDB oracle. */
  private def dump(key: String, df: DataFrame): Seq[Long] =
    observed(df)(_.coalesce(1).write.mode("overwrite").parquet(s"$work/out/oracle/$key"))

  private def writeOracleSql(keys: Seq[String]): Unit = {
    val m = graft.SparkEntry.oracleSql.filter { case (k, _) => keys.contains(k) }
    Harness.mkdir(s"$work/out/oracle")
    Files.writeString(Paths.get(s"$work/out/oracle/oracle_sql.json"), Json.render(m))
  }

  def execute(): Unit = workload match {
    case "delivery" => delivery()
    case "serving" => serving()
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def inputsJson = scala.io.Source.fromFile(s"$input/inputs.json").mkString
  private def intParam(name: String): Int =
    s""""$name":\\s*(\\d+)""".r.findFirstMatchIn(inputsJson).get.group(1).toInt

  /** Move (or copy) a generated file into a watched directory under a
    * hidden name first, so a listing never sees it half-written. */
  private def land(f: File, dir: String, copy: Boolean): Unit = {
    val tmp = Paths.get(dir, "_" + f.getName)
    if (copy) Files.copy(f.toPath, tmp) else Files.move(f.toPath, tmp)
    Files.move(tmp, Paths.get(dir, f.getName), StandardCopyOption.ATOMIC_MOVE)
  }

  private def await(q: StreamingQuery): Unit = {
    q.awaitTermination()
    q.exception.foreach(e => throw e)
  }

  private def hook(kind: String, run: String, batch: Long, us: Long): Unit =
    hooks.synchronized { hooks += ((kind, run, batch, us)) }

  /** Start a streaming query inside the current span and drain it. */
  private def drain(start: => StreamingQuery): String = {
    val t0us = Clock.us
    val q = start
    hook("start", q.runId.toString, 0L, t0us)
    tracer.runParent(q.runId.toString) = tracer.current
    await(q)
    q.runId.toString
  }

  private def readBackSink(sink: String, name: String, cols: Seq[String]): Unit = {
    val t0 = System.nanoTime()
    DocumentSink.deduplicated(spark, sink).write.format("noop").mode("overwrite").save()
    sample("sinks.readback_ms", ms(t0))
    val dedup = DocumentSink.deduplicated(spark, sink)
    dedup.select(cols.map(col): _*).write.mode("overwrite").parquet(s"$work/out/$name")
    facts(s"${name}_sink_records") = DocumentSink.readBack(spark, sink).count()
    facts(s"${name}_sink_dedup_records") = dedup.count()
    facts(s"${name}_sink_dir") = sink
  }

  // ---------------------------------------------------------- delivery --

  /** The invoice feed delivered two ways, one after the other in each
    * cycle: a named consumer polls one page of the batch changefeed
    * (ChangeFeed, the reference's consumer loop) into the document sink,
    * then one landed chunk of the streaming changefeed is drained by
    * CdcPipeline.deliver into a second sink. */
  private def delivery(): Unit = {
    val page = intParam("page")
    val vpb = intParam("versions_per_batch")
    val cursor = """"cursor":\s*\[\s*(\d+),\s*(\d+)""".r
      .findFirstMatchIn(inputsJson).map(m => (m.group(1).toLong, m.group(2).toLong)).get
    val store = new ConsumerStateStore(spark, s"$work/state")
    val feed = new ChangeFeed(spark, base, store)
    val pollSink = s"$work/poll-sink"
    val streamSink = s"$work/stream-sink"
    store.commit("bench", cursor._1, cursor._2)
    facts("start_cursor") = Seq(cursor._1, cursor._2)
    val chunks = new File(s"$input/feed").listFiles().sortBy(_.getName)
    val src = Harness.mkdir(s"$base/events.parquet")
    var landed = 0
    val timedRuns = mutable.ArrayBuffer[String]()

    def cycle(timed: Boolean): Boolean = {
      var sinkMs = 0.0
      val t0 = System.nanoTime()
      val (p, pt) = tracer.op("poll") {
        tracer.span("cdc.pollAndDeliverTimed", "cdc") {
          feed.pollAndDeliverTimed("bench", page) { df =>
            tracer.span("sinks.writeVersioned", "sinks") {
              val s0 = System.nanoTime()
              DocumentSink.writeVersioned(df, pollSink, s"$work/poll-errors")
              sinkMs = ms(s0)
            }
          }
        }
      }
      val pollMs = ms(t0)
      land(chunks(landed), src, copy = false)
      landed += 1
      val run = tracer.op("deliver") {
        tracer.span("streaming.deliver", "streaming") {
          drain(CdcPipeline.deliver(spark, base, streamSink, s"$work/stream-errors",
            s"$work/checkpoint", vpb.toLong,
            onBatchDelivered = id => hook("delivered", "", id, Clock.us)))
        }
      }
      if (timed) {
        timedRuns += run
        sample("poll_ms", pollMs)
        sample("poll_docs", p.count.toDouble)
        sample("cdc.state_read_ms", pt.readStateMs.toDouble)
        sample("cdc.page_query_ms", pt.queryMs.toDouble)
        sample("cdc.commit_ms", pt.commitMs.toDouble)
        sample("cdc.unaccounted_ms", pollMs - pt.totalMs)
        sample("sinks.write_ms", sinkMs)
      }
      p.hasMore && landed < chunks.length
    }
    // warm-up: the first two cycles, delivered and checked but untimed
    facts("warmup_cycles") = 2
    if (cycle(timed = false) && cycle(timed = false)) timedLoop(() => cycle(timed = true))
    facts("timed_runs") = timedRuns
    facts("chunks_landed") = landed
    val st = store.get("bench")
    facts("end_cursor") = Seq(st.lastSyncVersion, st.lastProcessedId)
    // read-back, after timing stops
    readBackSink(pollSink, "poll", Seq("invoice_id", "change_version", "total_amount"))
    readBackSink(streamSink, "stream", Seq("invoice_id", "change_version"))
  }

  // ----------------------------------------------------------- serving --

  /** Writes beside reads: each cycle lands one change page, folds it
    * into the streaming aggregate views and the materialized view, then
    * runs the analyst's fixed read mix: both views, a filtered
    * materialized-view read, the BI keys and the corpus n-gram keys. */
  private def serving(): Unit = {
    val pages = new File(s"$input/pages").listFiles().sortBy(_.getName)
    val pageIds = spark.read.parquet(pages.map(_.getPath).toIndexedSeq: _*)
      .select(input_file_name(), col("invoice_id")).collect()
      .groupBy(r => new Path(r.getString(0)).getName)
      .map { case (f, rs) => f -> rs.map(_.getLong(1)).toSeq }
    val src = Harness.mkdir(s"$work/pages")
    val root = s"$work/aggview"
    val mv = new MaterializedView(spark, base, s"$work/mview", protocol = "manifest")
    mv.build()
    writeOracleSql(ReadKeys ++ GramKeys)
    val cycles = mutable.ArrayBuffer[Map[String, Any]]()
    var landed = 0
    val timedRuns = mutable.ArrayBuffer[String]()

    def cycle(timed: Boolean): Boolean = {
      val f = pages(landed)
      val ids = pageIds(f.getName)
      land(f, src, copy = true)
      landed += 1
      val rec = mutable.LinkedHashMap[String, Any]("page" -> (landed - 1), "timed" -> timed)
      def read[T](kind: String, layer: String)(body: => T): T = {
        val t0 = System.nanoTime()
        val v = tracer.op(kind)(tracer.span(kind, layer)(body))
        if (timed) {
          sample("op_ms", ms(t0))
          sample("query_ms", ms(t0))
          sample(s"$layer.$kind", ms(t0))
        }
        v
      }
      val f0 = System.nanoTime()
      tracer.op("fold") {
        val run = tracer.span("streaming.maintain", "streaming") {
          drain(StreamingAggView.maintain(spark, base, src, root, s"$work/aggview-checkpoint",
            countSum = true, minMax = true,
            onLogAppended = id => hook("appended", "", id, Clock.us),
            onBatchFolded = id => hook("folded", "", id, Clock.us)))
        }
        if (timed) timedRuns += run
        val r0 = System.nanoTime()
        tracer.span("ops.MaterializedView.refresh", "ops") { mv.refresh(ids) }
        if (timed) sample("ops.mv_refresh_ms", ms(r0))
      }
      if (timed) {
        sample("op_ms", ms(f0))
        sample("fold_ms", ms(f0))
        sample("items", ids.size.toDouble)
      }
      val view = read("view_read_ms", "streaming") {
        StreamingAggView.currentView(spark, root).collect()
      }
      val mm = read("view_read_ms", "streaming") {
        StreamingAggView.currentMinMaxView(spark, root).collect()
      }
      rec("view") = view.map(r => Seq(r.getString(0), r.getLong(1), r.getLong(2)))
        .sortBy(_.head.toString)
      rec("minmax") = mm.map(r => Seq(r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_.head.toString)
      val mvSums = read("mv_read_ms", "ops") {
        mv.read().filter(col("invoice_id").isin(ids: _*))
          .agg(count(lit(1)), sum("qty"), sum("price_cents"), sum("line_no"),
            sum("part_key"), countDistinct("invoice_id"))
          .collect().head
      }
      rec("mv") = (0 until 6).map(i => if (mvSums.isNullAt(i)) 0L else mvSums.getLong(i))
      // the untimed warm-up cycle dumps each result for the DuckDB
      // oracle; every timed repeat is checked against that first result
      val hashes = mutable.LinkedHashMap[String, Seq[Long]]()
      for ((keys, layer) <- Seq(ReadKeys -> "ops", GramKeys -> "llm"); k <- keys) {
        hashes(k) = read(s"query_ms.$k", layer) {
          val df = graft.SparkEntry.queries(k)(spark, base)
          if (timed) observedRun(df) else dump(k, df)
        }
      }
      if (!timed) facts("dump_hashes") = hashes.toMap
      rec("hashes") = hashes
      cycles += rec.toMap
      landed < pages.length
    }
    // warm-up: the first page's cycle, folded and checked but untimed
    if (cycle(timed = false)) timedLoop(() => cycle(timed = true))
    facts("cycles") = cycles
    facts("timed_runs") = timedRuns
    // once per run, outside timing: the whole materialized view for its
    // recomputation
    val all = mv.read().agg(count(lit(1)), sum("qty"), sum("price_cents"),
      sum("line_no"), sum("part_key"), countDistinct("invoice_id")).collect().head
    facts("mv_full") = (0 until 6).map(i => if (all.isNullAt(i)) 0L else all.getLong(i))
  }

  // ------------------------------------------------------------ result --

  private def vmHwmMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def result(): Map[String, Any] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    val jobs = engine.synchronized(engine.jobs.values.toSeq)
    Map(
      "workload" -> workload,
      "error" -> error,
      "setup_s" -> setupS,
      "peak_rss_mb" -> vmHwmMb,
      "timed_wall_ms" -> timedWallMs,
      "timed_cpu_ms" -> timedCpuMs,
      "samples" -> samples,
      "facts" -> facts,
      "ops" -> opStarts.map { case (s, e) => Seq(s, e) },
      "batches" -> progress.synchronized(progress.batches.map(b => Map(
        "run" -> b.runId, "batch" -> b.batchId, "start_us" -> b.startUs,
        "durations" -> b.durations, "input_rows" -> b.inputRows)).toSeq),
      "hooks" -> hooks.map { case (k, r, b, t) => Map("kind" -> k, "run" -> r, "batch" -> b, "us" -> t) },
      "trace" -> (if (!trace) None else Some(Map(
        "spans" -> tracer.spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
          "trace" -> s.trace, "name" -> s.name, "layer" -> s.layer,
          "start_us" -> s.startUs, "end_us" -> s.endUs)),
        "run_parent" -> tracer.runParent,
        "jobs" -> jobs.map(j => Map("id" -> j.id, "start_us" -> j.startMs * 1000L,
          "end_us" -> j.endMs * 1000L, "span" -> j.parentSpan, "run" -> j.runId,
          "ok" -> j.ok, "recorded" -> j.recorded, "tasks" -> j.tasks,
          "records_read" -> j.recordsRead)),
        "engine" -> engine.totals,
        "peak_storage_mb" -> engine.peakStorageBytes / 1048576.0,
        "stage_skew" -> engine.stageSkew))))
  }
}
