package graft
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Scratch per-stage profiler (not part of the driver contract): runs a
  * declared query twice (cold, warm) and prints the WARM run's (with
  * SPARK_GRAFT_PROBE_RUN=cold, only the COLD run's) per-job / per-stage
  * breakdown — wall duration, task count, input and shuffle
  * bytes — so optimization targets the stage that actually costs (guide
  * §1). Usage: sbt "runMain graft.StageProbe llm_fuzzy_pairs ..." */
object StageProbe {
  private case class St(name: String, var submitted: Long = 0L,
      var completed: Long = 0L, var tasks: Int = 0,
      var input: Long = 0L, var sr: Long = 0L, var sw: Long = 0L,
      var cpuNs: Long = 0L, var runMs: Long = 0L)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect()
    Tables.lineitem(spark, sfDir).count()

    val stages = mutable.LinkedHashMap.empty[Int, St]
    val jobs = mutable.LinkedHashMap.empty[Int, (Long, Long, Seq[Int])]
    @volatile var record = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (record) stages.getOrElseUpdate(e.stageInfo.stageId,
          St(e.stageInfo.name.takeWhile(_ != '\n'))).submitted =
            System.currentTimeMillis()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (record) stages.get(e.stageInfo.stageId).foreach { s =>
          s.completed = System.currentTimeMillis()
          s.tasks = e.stageInfo.numTasks
          val m = e.stageInfo.taskMetrics
          if (m != null) {
            s.input = m.inputMetrics.bytesRead
            s.sr = m.shuffleReadMetrics.totalBytesRead
            s.sw = m.shuffleWriteMetrics.bytesWritten
            s.cpuNs = m.executorCpuTime
            s.runMs = m.executorRunTime
          }
        }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (record) jobs(e.jobId) =
          (System.currentTimeMillis(), 0L, e.stageIds)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (record) jobs.get(e.jobId).foreach { case (s, _, ids) =>
          jobs(e.jobId) = (s, System.currentTimeMillis(), ids) }
    })

    args.foreach { name =>
      val fn = SparkEntry.queries(name)
      def run(): Double = {
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }
      // SPARK_GRAFT_PROBE_RUN=cold records the FIRST run instead —
      // the stream_* family short-circuits warm on its _done stamp,
      // so their interesting profile is the cold drain (r16 item 3)
      val recordCold = sys.env.get("SPARK_GRAFT_PROBE_RUN").contains("cold")
      if (recordCold) { stages.clear(); jobs.clear(); record = true }
      val cold = run()
      // cold mode stops recording here, so the warm run stays out of
      // the printed profile
      if (recordCold) record = false
      else { stages.clear(); jobs.clear(); record = true }
      val warm = run()
      record = false
      println(f"\n=== $name cold=$cold%.2f s warm=$warm%.2f s ===")
      val byStage = stages.toSeq.sortBy(_._1)
      jobs.toSeq.sortBy(_._1).foreach { case (jid, (js, je, ids)) =>
        println(f"  job $jid%3d wall=${(je - js) / 1000.0}%6.2f s stages=${ids.mkString(",")}")
      }
      byStage.foreach { case (sid, s) =>
        val wall = (s.completed - s.submitted) / 1000.0
        println(f"  stage $sid%4d wall=$wall%6.2f s tasks=${s.tasks}%4d " +
          f"cpu=${s.cpuNs / 1e9}%6.2f run=${s.runMs / 1000.0}%6.2f " +
          f"in=${s.input / 1e6}%8.1f MB sr=${s.sr / 1e6}%8.1f MB sw=${s.sw / 1e6}%8.1f MB  ${s.name}")
      }
    }
    spark.stop()
  }
}
