package graft

import org.apache.spark.sql.SparkSession

/** Second-JVM half of the cross-process publish-protocol race matrix
  * (HealRaceSpec). A single-JVM race shares one Hadoop FileSystem
  * object; the deployment contract — "concurrent readers always safe"
  * — spans PROCESSES with independent FileSystem instances and nothing
  * shared but the directory tree. This child loops readers, a rival
  * writer, a slow scan and a slow stage against the roots the parent
  * publishes into under hot gc.
  *
  * File-based handshake: the parent touches `go-<phase>`; this child
  * runs the phase and touches `done-<phase>`. Any throwable fails the
  * run (exit 1). */
object HealRaceChild {
  private def waitFor(f: java.io.File, ms: Long = 120000): Unit = {
    val deadline = System.currentTimeMillis() + ms
    while (!f.exists()) {
      if (System.currentTimeMillis() > deadline)
        sys.error(s"child timed out waiting for $f")
      Thread.sleep(2)
    }
  }

  private def touch(f: java.io.File): Unit = {
    java.nio.file.Files.write(f.toPath, Array.emptyByteArray)
    ()
  }

  def main(args: Array[String]): Unit = {
    val Array(ctl, mfRoot, zmRoot, p11a, p11b) = args.take(5)
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("healrace-child")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def ctlFile(n: String) = new java.io.File(ctl, n)
    touch(ctlFile("ready"))

    // phase 9: a LIVE manifest publisher + hot gc in the parent
    // (round-13 — the ManifestSwap protocol's own cross-process cell),
    // raced by this process's READER loop and a RIVAL INSTALLER. The
    // reader asserts every SUCCESSFUL read is COMPLETE (uniform value,
    // full row count) — the protocol's whole claim is that no reader
    // can ever observe a torn generation. A LOST-FILE failure
    // (resolve → gc reaps → read) is tolerated WITH A BOUNDED RETRY
    // here and only here: the parent deliberately runs gc with a grace
    // far below this loaded local[4] JVM's worst-case resolve→read
    // latency to force reaping pressure, which violates the protocol's
    // deployment premise (grace > longest scan) by construction — the
    // within-grace stability guarantee is pinned DETERMINISTICALLY in
    // ManifestSwapSpec's gc test instead. What this cell must prove:
    // no torn read ever, the stale-resolve retry always recovers, and
    // the CAS stream from two JVMs never loses or duplicates a commit.
    waitFor(ctlFile("go-manifest"))
    val stopMf = ctlFile("stop-manifest")
    var mfReads = 0L
    var staleStreak = 0
    var rival = 1000000000L
    def lostFile(t: Throwable): Boolean = {
      val m = Option(t.getMessage).getOrElse("") +
        Option(t.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
      m.contains("does not exist") || m.contains("PATH_NOT_FOUND") ||
        m.contains("FILE_NOT_EXIST")
    }
    while (!stopMf.exists()) {
      graft.streaming.ManifestSwap.readPath(spark, mfRoot).foreach { p =>
        try {
          val vs = spark.read.parquet(p)
            .select("v").collect().map(_.getLong(0))
          if (vs.toSet.size != 1 || vs.length != 8)
            sys.error(s"torn manifest snapshot observed: ${vs.toSeq}")
          // handshake: the parent keeps publishing until this child
          // has completed at least one CLEAN read — a fixed-length
          // parent loop under full-suite host load could finish before
          // this JVM's first read job even scheduled (observed)
          if (mfReads == 0L) touch(ctlFile("mfread-ok"))
          mfReads += 1
          staleStreak = 0
        } catch {
          case t: Throwable if lostFile(t) =>
            // stale resolve under reaping pressure: re-loop (the next
            // pass re-resolves). Persistent loss = a real protocol
            // break, not pressure.
            staleStreak += 1
            if (staleStreak > 25)
              sys.error(s"stale-resolve retry never recovered: $t")
        }
      }
      rival += 1
      val rv = rival
      graft.streaming.ManifestSwap.install(spark, mfRoot, "hrmf") { d =>
        spark.range(8).selectExpr(s"CAST($rv AS BIGINT) AS v")
          .write.mode("append").parquet(d)
      }
    }
    if (mfReads == 0L) sys.error("manifest reader loop never resolved")
    touch(ctlFile("done-manifest"))

    // phase 10 (round-14): the KEYED-APPEND manifest family live across
    // processes — the parent runs an appender + row-preserving fold +
    // hot gc over a manifest z-order layout while this process loops a
    // pruned-scan READER (every successful read must be ONE complete
    // committed snapshot: batches are 50 distinct rows each, so any
    // consistent snapshot counts a positive multiple of 50) and acts as
    // a RIVAL APPENDER committing its own content-keyed batches through
    // the same CAS from a second JVM. Same reaping-pressure posture as
    // phase 9: stale resolves under the deliberately-hot gc retry
    // bounded; a torn count is an immediate failure. The committed
    // append count is reported in the done file so the parent can
    // assert the settled layout is the exactly-once union.
    waitFor(ctlFile("go-zmanifest"))
    val stopZm = ctlFile("stop-zmanifest")
    val zmDims = Seq(graft.ops.ZOrder.Dim("a", 0, 999),
      graft.ops.ZOrder.Dim("b", 0, 999))
    def zmBatch(i: Int) = spark.range(i * 100L, i * 100L + 50L)
      .selectExpr("id % 1000 AS a", "(id * 37) % 1000 AS b",
        "id AS payload")
    var zmReads = 0L
    var zmStale = 0
    var zmAppends = 0
    while (!stopZm.exists()) {
      try {
        val n = graft.ops.ZOrder.prunedScanN(spark, zmRoot,
          Seq(("a", 0L, 999L), ("b", 0L, 999L))).count()
        if (n % 50 != 0 || n < 50)
          sys.error(s"torn keyed-append snapshot observed: $n rows")
        if (zmReads == 0L) touch(ctlFile("zmread-ok"))
        zmReads += 1
        zmStale = 0
      } catch {
        case t: Throwable if lostFile(t) =>
          zmStale += 1
          if (zmStale > 25)
            sys.error(s"stale-resolve retry never recovered: $t")
      }
      if (zmAppends < 20) {
        // payload range 100050.. — disjoint from the parent's batches
        // by construction, so content tags never collide either
        graft.ops.ZOrder.appendN(zmBatch(1000 + zmAppends), zmRoot,
          zmDims, 1)
        zmAppends += 1
      }
    }
    if (zmReads == 0L) sys.error("keyed-append reader loop never resolved")
    java.nio.file.Files.write(ctlFile("done-zmanifest").toPath,
      zmAppends.toString.getBytes(
        java.nio.charset.StandardCharsets.UTF_8))

    // phase 11 (round-15): (a) the SLOW reader — resolve the current
    // (deliberately grace-aged) generation, sleep mid-scan while the
    // parent supersedes it under hot gc, then complete the read. A
    // creation-age grace would have reaped the generation at the first
    // supersession (its age already exceeded the grace when we
    // resolved); the supersession-measured grace must carry this scan.
    waitFor(ctlFile("go-gcread"))
    val slowPath = graft.streaming.ManifestSwap.readPath(spark, p11a)
      .getOrElse(sys.error("phase 11: nothing to resolve at " + p11a))
    touch(ctlFile("gcread-resolved"))
    Thread.sleep(4000) // mid-scan: the parent is superseding + gc'ing
    val slowVs = spark.read.parquet(slowPath)
      .select("v").collect().map(_.getLong(0))
    if (slowVs.length != 8 || slowVs.toSet != Set(1L))
      sys.error(s"slow scan on the superseded generation broke: " +
        s"${slowVs.toSeq}")
    touch(ctlFile("done-gcread"))

    // (b) the SLOW stager with LYING directory mtimes (the S3A
    // fake-dir shape): write the batch, then hold the commit open for
    // 5 s re-zeroing the generation directory's mtime each step —
    // dir-mtime orphan aging would reap it at any grace; the
    // newest-object floor must protect it until the commit.
    waitFor(ctlFile("go-gcstage"))
    graft.streaming.ManifestSwap.appendKeyed(spark, p11b, "hr11",
      "slow-batch") { dir =>
      spark.range(1000L, 1050L).selectExpr("id AS v")
        .write.mode("append").parquet(dir)
      val d = new java.io.File(dir)
      var held = 0
      while (held < 10) {
        d.setLastModified(0L) // keep the lie fresh against any touch
        Thread.sleep(500)
        held += 1
      }
      if (!d.exists() ||
          !d.listFiles().exists(_.getName.endsWith(".parquet")))
        sys.error("phase 11: the staged generation was reaped " +
          "mid-stage — the newest-object mtime floor failed")
    }
    touch(ctlFile("done-gcstage"))

    println("HEALRACE_ALL_OK")
    spark.stop()
  }
}
