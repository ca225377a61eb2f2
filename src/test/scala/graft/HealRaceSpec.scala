package graft

/** CROSS-PROCESS race matrix for the publish protocol (round-11 — the
  * round-10 verdict ask, manifest phases since round 13). A single-JVM
  * race shares one Hadoop FileSystem instance across its racers; the
  * deployment contract — "concurrent readers always safe" — spans
  * PROCESSES with independent FileSystem objects and nothing shared
  * but the directory tree. This spec extends the
  * [[CorpusCacheRaceChild]] two-JVM precedent: the parent runs a LIVE
  * publisher (whole-snapshot installs, keyed appends with folds) under
  * hot gc while the child ([[HealRaceChild]]) loops readers that must
  * only ever observe complete committed snapshots, commits as a rival
  * writer through the same CAS, and holds slow scans and slow stages
  * open across supersessions. */
class HealRaceSpec extends SparkSpec {
  import spark.implicits._

  private def waitFor(f: java.io.File, ms: Long = 180000): Unit = {
    val deadline = System.currentTimeMillis() + ms
    while (!f.exists()) {
      assert(System.currentTimeMillis() < deadline,
        s"timed out waiting for $f")
      Thread.sleep(5)
    }
  }

  private def touch(f: java.io.File): Unit = {
    java.nio.file.Files.write(f.toPath, Array.emptyByteArray); ()
  }

  test("TWO PROCESSES x 4 threads racing every heal path: staged-append " +
      "recover, postings recover, torn-swap restore — no exception, no " +
      "lost or doubled state") {
    // (name kept from the rename-protocol heal phases, deleted with the
    // rename protocol; the manifest phases below race the publish
    // protocol's writers, readers and gc across processes)
    val ctl = new java.io.File(tmpDir("healrace-ctl"))
    import graft.ops.ZOrder

    // ---- fixture 1: a manifest-published state table (phase 9) — the
    // round-13 object-store publish path under a live cross-process
    // writer/reader/gc race
    val mfRoot = tmpDir("healrace-mf") + "/state"
    def mfInstall(v: Long): Unit =
      graft.streaming.ManifestSwap.install(spark, mfRoot, "hrmf") { d =>
        spark.range(8).selectExpr(s"CAST($v AS BIGINT) AS v")
          .write.mode("append").parquet(d)
      }
    mfInstall(0L)

    // ---- fixture 2: a MANIFEST z-order layout (phase 10, round-14 —
    // the keyed-append family across processes)
    val zmRoot = tmpDir("healrace-zm") + "/layout"
    val zmDims = Seq(ZOrder.Dim("a", 0, 999), ZOrder.Dim("b", 0, 999))
    def zmBatch(i: Int) = spark.range(i * 100L, i * 100L + 50L)
      .selectExpr("id % 1000 AS a", "(id * 37) % 1000 AS b",
        "id AS payload")
    ZOrder.layoutN(zmBatch(0), zmRoot, zmDims, 2)

    // ---- fixtures 3/4: the phase-11 gc-race roots (round-15 —
    // round-14 verdict ask #5). p11a: whole-snapshot installs the
    // child slow-scans across a supersession; p11b: a keyed-append
    // root the child slow-STAGES into with lying directory mtimes
    // while gc runs hot.
    val p11aRoot = tmpDir("healrace-p11a") + "/t"
    def p11aInstall(v: Long): Unit =
      graft.streaming.ManifestSwap.install(spark, p11aRoot, "hr11") { d =>
        spark.range(8).selectExpr(s"CAST($v AS BIGINT) AS v")
          .write.mode("append").parquet(d)
      }
    val p11bRoot = tmpDir("healrace-p11b") + "/t"
    graft.streaming.ManifestSwap.install(spark, p11bRoot, "hr11") { d =>
      spark.range(0L, 50L).selectExpr("id AS v")
        .write.mode("append").parquet(d)
    }

    // ---- launch the second JVM (CorpusCacheSpec precedent: same
    // classpath + module options as this test JVM)
    val jvmOpts = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getInputArguments
      .toArray(Array.empty[String])
      .filter(o => o.startsWith("--add-opens") ||
        o.startsWith("--add-exports") || o.startsWith("-Dspark."))
    val cmd = Seq(
      s"${System.getProperty("java.home")}/bin/java") ++ jvmOpts ++ Seq(
      "-Xmx2g", "-cp", System.getProperty("java.class.path"),
      "graft.HealRaceChild", ctl.getPath, mfRoot, zmRoot, p11aRoot,
      p11bRoot)
    // child output goes to a FILE, not a pipe: the parent only drains
    // output at the end, so a chatty child could fill the pipe buffer
    // and block mid-phase — and on a timeout the pipe's contents were
    // unreachable for diagnosis
    val childLog = new java.io.File(ctl, "child.log")
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
      .redirectOutput(childLog).start()
    def childLines: Vector[String] =
      scala.io.Source.fromFile(childLog).getLines().toVector
    try {
      waitFor(new java.io.File(ctl, "ready"))

      // phase 9: a LIVE manifest publisher + gc races the child's
      // reader loop and rival installer across processes. gc runs HOT
      // (every parent install) with a 10 s supersession grace — the
      // protocol's documented reader protection is a grace above the
      // longest scan, and the drafts of this cell earned each design
      // element the hard way: (1) a keep-COUNT window (keep 6, grace
      // 0) let the two-writer commit stream age a generation out from
      // under the child's in-flight resolve→read (FileNotFound on the
      // footer read); (2) a CREATION-age grace let the long-current
      // fixture generation be reaped the instant two commits
      // superseded it — the find that forced gc's supersession rule;
      // (3) a 3 s grace under full-suite host load lost to reads that
      // took >3 s to schedule, hence 10 s here plus the child's
      // bounded stale-resolve retry (the deterministic within-grace
      // guarantee lives in ManifestSwapSpec). The settled state must
      // be SOME complete snapshot (LWW between the two writers), the
      // pointer log strictly monotone with no number committed twice.
      touch(new java.io.File(ctl, "go-manifest"))
      var reapedLive = 0
      // self-pacing: at least 12 publish+gc cycles AND at least one
      // CLEAN read completed by the child (handshake file) — a
      // fixed-length loop under full-suite load could finish before
      // the child's first read job scheduled. The 10 s grace sits
      // above a loaded local[4] JVM's worst observed resolve→read
      // latency while the >13 s loop span still reaps live.
      val mfReadOk = new java.io.File(ctl, "mfread-ok")
      val mfDeadline = System.currentTimeMillis() + 180000
      var mfI = 0
      while (mfI < 12 ||
          (!mfReadOk.exists() && System.currentTimeMillis() < mfDeadline)) {
        mfI += 1
        mfInstall(mfI.toLong)
        reapedLive += graft.streaming.ManifestSwap.gc(spark, mfRoot,
          keepManifests = 2, graceMs = 10000L)
        Thread.sleep(1000)
      }
      assert(mfReadOk.exists(),
        "child never completed a clean manifest read in 180 s")
      touch(new java.io.File(ctl, "stop-manifest"))
      waitFor(new java.io.File(ctl, "done-manifest"))
      val settled = graft.streaming.ManifestSwap.readPath(spark, mfRoot)
        .map(p => spark.read.parquet(p).select($"v").as[Long]
          .collect().toSeq)
        .getOrElse(Seq.empty)
      assert(settled.size == 8 && settled.toSet.size == 1,
        s"settled manifest state is not one complete snapshot: $settled")
      val ptrNames = Option(
        new java.io.File(s"$mfRoot/_ptr").list()).getOrElse(Array.empty)
        .filter(_.endsWith(".mf")).map(_.stripSuffix(".mf").toLong).sorted
      assert(ptrNames.distinct.length == ptrNames.length,
        "a manifest number was committed twice")
      assert(ptrNames.nonEmpty &&
        // fixture 0 + ≥12 parent loop commits + ≥1 rival (the child
        // installs once per loop pass, and the handshake guarantees it
        // completed at least one pass)
        ptrNames.last >= 13L,
        s"pointer log too short for the race that ran: ${ptrNames.toSeq}")
      // the live gc really reaped while the race ran (the loop spans
      // >13 s, so the earliest generations' superseding manifests aged
      // past the 10 s grace under fire), and a settled gc converges to
      // the keep window
      assert(reapedLive >= 1,
        "live gc never reaped a generation during the race")
      Thread.sleep(10100)
      graft.streaming.ManifestSwap.gc(spark, mfRoot,
        keepManifests = 2, graceMs = 10000L)
      val gensLeft = Option(
        new java.io.File(s"$mfRoot/_gens").list()).getOrElse(Array.empty)
      assert(gensLeft.length <= 2,
        s"settled gc left ${gensLeft.length} generations (keep window 2)")

      // phase 10 (round-14): the keyed-append manifest family LIVE
      // across processes — this JVM runs the single-maintainer loop
      // (content-keyed appendN ingests, a row-preserving rebuild fold
      // every 3rd cycle, HOT gc at a 10 s grace) while the child loops
      // a pruned-scan reader (complete-snapshot law: any read counts a
      // positive multiple of 50) and commits its OWN batches as a
      // rival appender through the same CAS. Settles to the
      // exactly-once union — the cross-process proof of the
      // foldSnapshot one-resolution rule and the keyed-ledger
      // idempotence under real concurrency.
      touch(new java.io.File(ctl, "go-zmanifest"))
      val zmReadOk = new java.io.File(ctl, "zmread-ok")
      val zmDeadline = System.currentTimeMillis() + 180000
      var zmI = 0
      while (zmI < 8 ||
          (!zmReadOk.exists() && System.currentTimeMillis() < zmDeadline)) {
        zmI += 1
        ZOrder.appendN(zmBatch(zmI), zmRoot, zmDims, 1)
        if (zmI % 3 == 0) ZOrder.rebuild(spark, zmRoot, zmDims, 2)
        graft.streaming.ManifestSwap.gc(spark, zmRoot,
          keepManifests = 2, graceMs = 10000L)
        Thread.sleep(500)
      }
      assert(zmReadOk.exists(),
        "child never completed a clean keyed-append read in 180 s")
      touch(new java.io.File(ctl, "stop-zmanifest"))
      val zmDone = new java.io.File(ctl, "done-zmanifest")
      waitFor(zmDone)
      val childAppends = new String(java.nio.file.Files.readAllBytes(
        zmDone.toPath), "UTF-8").trim.toInt
      assert(childAppends >= 1, "the rival appender never committed")
      val zmSettled = ZOrder.prunedScanN(spark, zmRoot,
          Seq(("a", 0L, 999L), ("b", 0L, 999L)))
        .select($"payload").as[Long].collect().toSeq
      assert(zmSettled.size == 50 * (1 + zmI + childAppends) &&
        zmSettled.distinct.size == zmSettled.size,
        s"settled keyed-append layout is not the exactly-once union: " +
          s"${zmSettled.size} rows for 1 base + $zmI parent + " +
          s"$childAppends child batches")

      // phase 11 (round-15, verdict ask #5): HOT gc racing (a) a SLOW
      // reader mid-scan on a generation that is BOTH older than the
      // grace and superseded mid-scan, and (b) a SLOW cross-process
      // stager whose directory mtimes lie (the S3A fake-dir shape) —
      // with a rival keyed CAS from this JVM landing mid-stage. The
      // cell is machine-RED under both rejected aging rules and green
      // under the shipped ones:
      //   - creation-age grace: the (a) generation's age exceeds the
      //     grace BEFORE its first supersession (we age it 11 s against
      //     a 10 s grace), so creation-aging would reap it the instant
      //     install #2 landed — mid-scan. Supersession-aging protects
      //     it for a further grace, and the child's clean slow read
      //     (resolve → 4 s sleep → complete 8-row scan) is the proof.
      //   - dir-mtime orphan aging: the (b) staged generation
      //     advertises lastModified == 0 (sampled and asserted below)
      //     while gc passes repeatedly; dir-aging would reap it at ANY
      //     grace, the newest-OBJECT floor protects it for the whole
      //     5 s stage, and the batch commits and serves exactly once.
      val grace11 = 10000L
      p11aInstall(1L)
      Thread.sleep(grace11 + 1000) // age past the grace while CURRENT
      touch(new java.io.File(ctl, "go-gcread"))
      waitFor(new java.io.File(ctl, "gcread-resolved"))
      val doneGcRead = new java.io.File(ctl, "done-gcread")
      val deadline11a = System.currentTimeMillis() + 120000
      var i11 = 0
      while (!doneGcRead.exists() &&
          System.currentTimeMillis() < deadline11a) {
        i11 += 1
        p11aInstall(1L + i11) // supersede the generation under the scan
        graft.streaming.ManifestSwap.gc(spark, p11aRoot,
          keepManifests = 1, graceMs = grace11)
        Thread.sleep(300)
      }
      assert(doneGcRead.exists(),
        "child's slow mid-scan read never completed in 120 s")
      assert(i11 >= 2, "the scanned generation was never superseded")

      touch(new java.io.File(ctl, "go-gcstage"))
      val doneGcStage = new java.io.File(ctl, "done-gcstage")
      val deadline11b = System.currentTimeMillis() + 120000
      var sawDirLie = false
      var rivalDone = false
      while (!doneGcStage.exists() &&
          System.currentTimeMillis() < deadline11b) {
        graft.streaming.ManifestSwap.gc(spark, p11bRoot,
          keepManifests = 1, graceMs = grace11)
        val gens = Option(
          new java.io.File(s"$p11bRoot/_gens").listFiles())
          .getOrElse(Array.empty)
        sawDirLie ||= gens.exists(d => d.isDirectory &&
          d.lastModified == 0L)
        if (!rivalDone) {
          // the rival CAS from this JVM, mid-stage
          graft.streaming.ManifestSwap.appendKeyed(spark, p11bRoot,
            "hr11", "parent-batch") { d =>
            spark.range(2000L, 2050L).selectExpr("id AS v")
              .write.mode("append").parquet(d)
          }
          rivalDone = true
        }
        Thread.sleep(200)
      }
      assert(doneGcStage.exists(),
        "child's slow stage never committed in 120 s")
      assert(sawDirLie,
        "the dir-mtime lie was never observed live — the red/green " +
          "contrast did not exercise (slow stage too fast?)")
      val p11Settled = spark.read.parquet(graft.streaming.ManifestSwap
          .readDataPaths(spark, p11bRoot): _*)
        .select($"v").as[Long].collect().toSeq.sorted
      assert(p11Settled == ((0L until 50L) ++ (1000L until 1050L) ++
          (2000L until 2050L)).sorted,
        s"settled keyed root is not the exactly-once 3-batch union: " +
          s"${p11Settled.size} rows")

      assert(proc.waitFor(120, java.util.concurrent.TimeUnit.SECONDS),
        "child JVM did not exit")
      val lines = childLines
      assert(proc.exitValue() == 0,
        s"child failed:\n${lines.takeRight(25).mkString("\n")}")
      assert(lines.exists(_.contains("HEALRACE_ALL_OK")),
        s"child never reached the end:\n${lines.takeRight(10).mkString("\n")}")
    } finally {
      proc.destroyForcibly()
      ()
    }
  }
}
