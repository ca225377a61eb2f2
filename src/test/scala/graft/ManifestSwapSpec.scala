package graft

import org.apache.spark.sql.functions._
import graft.streaming.ManifestSwap

/** Protocol tests for the publish protocol (round-12 verdict ask #1):
  * immutable generations + atomic manifest-pointer commit, the
  * conditional-create gate, gc, the structural read of raw in-place
  * data, and the materialized view's keyed manifest (atomic whole-page
  * cutover). Crash windows are exercised at every failpoint; the
  * cross-process live race lives in HealRaceSpec. */
class ManifestSwapSpec extends SparkSpec {
  import spark.implicits._

  private def writeVals(vs: Long*)(d: String): Unit =
    vs.toDF("v").write.mode("append").parquet(d)

  private def readVals(root: String): Seq[Long] =
    ManifestSwap.readPath(spark, root)
      .map(p => spark.read.parquet(p).as[Long].collect().toSeq.sorted)
      .getOrElse(Seq.empty)

  private def lsNames(dir: String): Seq[String] =
    Option(new java.io.File(dir).list()).getOrElse(Array.empty).toSeq.sorted

  test("install/read round trip: a second install supersedes the " +
      "first, the pointer log grows monotonically, generations are " +
      "never mutated") {
    val root = tmpDir("mswap") + "/t"
    assert(readVals(root).isEmpty, "pre-install read must be empty")
    ManifestSwap.install(spark, root, "t")(writeVals(1L, 2L))
    assert(readVals(root) == Seq(1L, 2L))
    val gen1 = ManifestSwap.readPath(spark, root).get
    ManifestSwap.install(spark, root, "t")(writeVals(3L))
    assert(readVals(root) == Seq(3L))
    val gen2 = ManifestSwap.readPath(spark, root).get
    assert(gen1 != gen2, "a generation dir must never be reused")
    assert(lsNames(s"$root/_ptr").filter(_.endsWith(".mf")) ==
      Seq(f"${0L}%020d.mf", f"${1L}%020d.mf"))
    // the superseded generation is still intact (gc has not run)
    assert(spark.read.parquet(gen1).as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L))
  }

  test("crash windows: afterGenWrite and beforeCommit leave readers on " +
      "the old snapshot (orphans only), afterCommit is already " +
      "committed; the plain retry converges from each") {
    for (w <- Seq("afterGenWrite", "beforeCommit", "afterCommit")) {
      val root = tmpDir(s"mswap-$w") + "/t"
      ManifestSwap.install(spark, root, "t")(writeVals(1L))
      ManifestSwap.failpoint = Some(("t", w))
      val e = try intercept[RuntimeException] {
        ManifestSwap.install(spark, root, "t")(writeVals(2L))
      } finally ManifestSwap.failpoint = None
      assert(e.getMessage.contains("manifest failpoint"), s"$w: $e")
      val expectBefore = if (w == "afterCommit") Seq(2L) else Seq(1L)
      assert(readVals(root) == expectBefore,
        s"$w: reader must see a complete old-or-new snapshot, never torn")
      ManifestSwap.install(spark, root, "t")(writeVals(2L))
      assert(readVals(root) == Seq(2L), s"$w: retry did not converge")
    }
  }

  test("commit CAS: a competitor landing INSIDE the commit window " +
      "costs one retry round, never a lost or torn snapshot") {
    val root = tmpDir("mswap-cas") + "/t"
    ManifestSwap.install(spark, root, "t")(writeVals(1L))
    // one-shot hook: a rival install commits between our resolve and
    // our pointer create, taking the manifest number we resolved
    ManifestSwap.windowAction = Some(("t", "beforeCommit",
      () => ManifestSwap.install(spark, root, "rival")(writeVals(99L))))
    try ManifestSwap.install(spark, root, "t")(writeVals(2L))
    finally ManifestSwap.windowAction = None
    assert(readVals(root) == Seq(2L),
      "the raced install must still land (rival superseded, LWW)")
    val ptrs = lsNames(s"$root/_ptr").filter(_.endsWith(".mf"))
    assert(ptrs.size == 3, s"0,1(rival),2 expected: $ptrs")
  }

  test("a generation writer in overwrite mode deletes the gc marker: the " +
      "publish refuses loudly before any commit") {
    val root = tmpDir("mswap-ow") + "/t"
    ManifestSwap.install(spark, root, "t")(writeVals(1L))
    val before = ManifestSwap.resolveRaw(spark, root)
    val e = intercept[IllegalStateException] {
      ManifestSwap.install(spark, root, "t")(
        Seq(2L).toDF("v").write.mode("overwrite").parquet(_))
    }
    assert(e.getMessage.contains(root) && e.getMessage.contains("append"),
      e.getMessage)
    assert(ManifestSwap.resolveRaw(spark, root) == before,
      "nothing may commit: same manifest number, same payload")
    assert(readVals(root) == Seq(1L))
  }

  test("gc: reaps superseded and orphan generations past the grace " +
      "age, never anything a kept manifest references") {
    val root = tmpDir("mswap-gc") + "/t"
    ManifestSwap.install(spark, root, "t")(writeVals(1L))
    ManifestSwap.install(spark, root, "t")(writeVals(2L))
    ManifestSwap.install(spark, root, "t")(writeVals(3L))
    // an orphan from a crashed writer (generation staged, no pointer)
    ManifestSwap.failpoint = Some(("t", "afterGenWrite"))
    try intercept[RuntimeException] {
      ManifestSwap.install(spark, root, "t")(writeVals(4L))
    } finally ManifestSwap.failpoint = None
    assert(lsNames(s"$root/_gens").size == 4)
    // grace window protects everything young...
    assert(ManifestSwap.gc(spark, root, keepManifests = 2) == 0)
    assert(lsNames(s"$root/_gens").size == 4)
    // ...and with it elapsed (grace 0), only the keep window survives
    val reaped = ManifestSwap.gc(spark, root, keepManifests = 2,
      graceMs = 0L)
    assert(reaped == 2, s"gen(1) and the orphan, got $reaped")
    assert(readVals(root) == Seq(3L), "current snapshot intact")
    // the previous manifest's generation is kept for slow readers
    assert(lsNames(s"$root/_gens").size == 2)
  }

  test("the formerly rename-bound sites ROUTE under manifest mode " +
      "(round-14: every append-style family is manifest-native — " +
      "ManifestFamiliesSpec exercises each; this pins that the old " +
      "refusals are gone and no rename artifacts appear)") {
    // change-table maintenance on a never-written table: a no-op
    val chg = tmpDir("msg") + "/chg"
    graft.cdc.Maintenance.maintainChangeTable(spark, chg, 0L, 0L, 1)
    assert(!new java.io.File(chg).exists(),
      "maintenance of a never-written table must not create it")
    // a whole-snapshot site publishes with no swap siblings: the root
    // holds only the protocol's own dirs, the parent nothing else
    val root = tmpDir("msg") + "/state"
    graft.streaming.StreamingMerge.applyBatch(spark, root,
      Seq((1L, 10L, "I")).toDF("invoice_id", "change_version",
        "change_operation"))
    assert(lsNames(root).toSet == Set("_gens", "_ptr"))
    assert(lsNames(new java.io.File(root).getParent) == Seq("state"),
      "no -tmp/-bak siblings beside a published root")
    assert(graft.streaming.StreamingMerge.stateTable(spark, root)
      .as[(Long, Long, String)].collect().toSeq == Seq((1L, 10L, "I")))
  }

  // ------------------------ conditional-create gate (round-14 #2) --

  private def withFakeS3[A](attest: Boolean)(body: String => A): A = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.fakes3.impl", classOf[CheckThenActFs].getName)
    conf.setBoolean("fs.fakes3.impl.disable.cache", true)
    if (attest) conf.setBoolean(ManifestSwap.AttestKey, true)
    try body("fakes3://" + tmpDir("fakes3") + "/t")
    finally {
      conf.unset(ManifestSwap.AttestKey)
      CheckThenActFs.betweenCheckAndPut.set(null)
    }
  }

  test("conditional-create gate: a non-allowlisted object-store scheme " +
      "is REFUSED loudly before anything is written — stock-s3a-style " +
      "check-then-act create must not be trusted as a CAS") {
    withFakeS3(attest = false) { root =>
      val e = intercept[UnsupportedOperationException] {
        ManifestSwap.commitUpdate(spark, root, "t")(_ + ("k" -> "g"))
      }
      assert(e.getMessage.contains("conditional"), e.getMessage)
      assert(ManifestSwap.resolveRaw(spark, root).isEmpty,
        "the refusal must land before any state exists")
      val e2 = intercept[UnsupportedOperationException] {
        ManifestSwap.install(spark, root, "t")(_ => ())
      }
      assert(e2.getMessage.contains("conditional"),
        "install must gate BEFORE writing a generation")
    }
  }

  test("conditional-create gate, bypassed (false attestation): two " +
      "racing committers on a check-then-act filesystem silently LOSE " +
      "one commit — the live demonstration of why the gate exists") {
    withFakeS3(attest = true) { root =>
      ManifestSwap.commitUpdate(spark, root, "t")(_ + ("base" -> "g0"))
      // writer A resolves next=1; INSIDE its check→put window a rival
      // commits manifest 1 first; A's unconditional PUT then replaces it
      CheckThenActFs.betweenCheckAndPut.set(() => {
        val committed = ManifestSwap.commitUpdate(spark, root,
          "rival")(_ + ("rival" -> "gR"))
        assert(committed.contains("rival"),
          "the rival's commitUpdate returned success")
        ()
      })
      ManifestSwap.commitUpdate(spark, root, "t")(_ + ("a" -> "gA"))
      val payload = ManifestSwap.resolveRaw(spark, root).get._2
      assert(payload.contains("a"))
      assert(!payload.contains("rival"),
        "EXPECTED HAZARD: the rival's successful commit was silently " +
          "overwritten — if this starts failing, the emulated fs got " +
          "a real conditional create and the cell needs a new fake")
    }
  }

  test("gc orphan aging uses real OBJECT mtimes, not directory " +
      "statuses: a staged generation with fresh objects survives even " +
      "when its directory mtime lies (the S3A fake-directory shape)") {
    val root = tmpDir("mswap-omt") + "/t"
    ManifestSwap.install(spark, root, "t")(writeVals(1L))
    // orphan: generation staged, pointer never committed
    ManifestSwap.failpoint = Some(("t", "afterGenWrite"))
    try intercept[RuntimeException] {
      ManifestSwap.install(spark, root, "t")(writeVals(2L))
    } finally ManifestSwap.failpoint = None
    val gens = new java.io.File(s"$root/_gens").listFiles().toSeq
    assert(gens.size == 2)
    // simulate the object-store lie: force every generation DIRECTORY
    // mtime to epoch 0 while the objects inside keep real mtimes
    gens.foreach(d => assert(d.setLastModified(0L)))
    assert(ManifestSwap.gc(spark, root, keepManifests = 1) == 0,
      "fresh objects inside must protect the orphan whatever the " +
        "directory status says")
    // and with the OBJECTS aged past the grace, the orphan is reaped
    def ageTree(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(ageTree))
      f.setLastModified(1000L); ()
    }
    gens.foreach(ageTree)
    assert(ManifestSwap.gc(spark, root, keepManifests = 1) == 1,
      "the crashed writer's orphan ages by its newest object")
    assert(readVals(root) == Seq(1L), "committed snapshot intact")
  }

  test("ScalaCheck: N concurrent commitUpdate writers over DISJOINT " +
      "key sets all land whatever the interleaving — the keyed-" +
      "manifest union law (round-14 #4)") {
    import org.scalacheck.Prop.forAll
    import org.scalacheck.{Gen, Test => CheckTest}
    val gen = for {
      n <- Gen.choose(2, 5)
      sizes <- Gen.listOfN(n, Gen.choose(1, 4))
    } yield sizes
    val prop = forAll(gen) { sizes =>
      val root = tmpDir("mswap-disj") + "/t"
      ManifestSwap.install(spark, root, "t")(writeVals(0L))
      val writers = sizes.zipWithIndex.map { case (sz, w) =>
        (0 until sz).map(j => s"w$w-k$j" -> s"gen-w$w").toMap
      }
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val threads = writers.map { entries =>
        val t = new Thread(() =>
          try { ManifestSwap.commitUpdate(spark, root, "w")(_ ++ entries); () }
          catch { case e: Throwable => failures.add(e); () })
        t.start(); t
      }
      threads.foreach(_.join())
      val payload = ManifestSwap.resolveRaw(spark, root).get._2
      val missing = writers.flatMap(_.filterNot {
        case (k, v) => payload.get(k).contains(v)
      })
      if (!failures.isEmpty || missing.nonEmpty)
        info(s"sizes=$sizes missing=$missing payload=$payload " +
          s"failures=${failures.toArray.toSeq}")
      failures.isEmpty && missing.isEmpty
    }
    val res = CheckTest.check(
      CheckTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, s"disjoint-key union property failed: ${res.status}")
  }

  test("materialized view, manifest protocol: build+refresh+read equals " +
      "the dir-protocol view row-for-row, and an emptied bucket leaves " +
      "the manifest") {
    // (name kept from when a per-bucket rename protocol existed; the
    // reference is now a test-local recompute from the inputs)
    val pMan = tmpDir("mv-man") + "/v"
    val mvM = new graft.ops.MaterializedView(spark, sf, pMan,
      nBuckets = 8, protocol = "manifest")
    mvM.build()
    mvM.refresh(Seq(1L, 7L, 32L))
    // test-local recompute straight from the inputs: the denormalized
    // header⋈line view, bucketed by pmod(invoice_id, 8)
    val o = Tables.orders(spark, sf)
    val li = Tables.lineitem(spark, sf)
    val want = o.join(li, o("o_orderkey") === li("l_orderkey"))
      .select(
        col("o_orderkey").as("invoice_id"),
        col("o_custkey").as("customer_key"),
        col("o_orderdate").as("invoice_date"),
        col("o_orderstatus").as("status"),
        col("l_linenumber").as("line_no"),
        col("l_partkey").as("part_key"),
        round(col("l_quantity")).cast("long").as("qty"),
        round(col("l_extendedprice") * 100).cast("long").as("price_cents"),
        pmod(col("o_orderkey"), lit(8L)).cast("int").as("bucket"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("invoice_id", "line_no", "qty", "price_cents",
        "part_key").collect().toSeq
    assert(canon(mvM.read()) == canon(want),
      "the published view must equal the recompute from its inputs")
    assert(mvM.read().schema.map(f => (f.name, f.dataType)) ==
      want.schema.map(f => (f.name, f.dataType)),
      "schema parity incl. the int bucket column")
    assert(lsNames(pMan).toSet == Set("_gens", "_ptr"))
  }

  test("materialized view, manifest protocol: a crash mid-refresh " +
      "leaves readers on the complete PRE-refresh page (atomic page " +
      "cutover — no half-refreshed view, ever), and the retry " +
      "converges") {
    val p = tmpDir("mv-crash") + "/v"
    val mv = new graft.ops.MaterializedView(spark, sf, p,
      nBuckets = 8, protocol = "manifest")
    mv.build()
    val before = mv.read().count()
    ManifestSwap.failpoint = Some(("mview", "beforeCommit"))
    val e = try intercept[Exception] { mv.refresh(Seq(1L, 7L, 32L)) }
    finally ManifestSwap.failpoint = None
    assert(e.getMessage.contains("manifest failpoint"))
    assert(mv.read().count() == before,
      "mid-refresh crash must leave the whole old page served")
    mv.refresh(Seq(1L, 7L, 32L))
    assert(mv.read().count() == before, "idempotent refresh converged")
  }

  // ---------------- round-15: first-commit crash window + ptr growth --

  test("empty _ptr over IN-PLACE data (first-commit crash window): " +
      "readers keep serving the in-place layout, the keyed-append " +
      "guard still refuses, and a full-snapshot install completes " +
      "the migration") {
    val root = tmpDir("mswap-win") + "/t"
    Seq(1L, 2L, 3L).toDF("v").write.parquet(root)
    // simulate commitPtr crashing between mkdirs(_ptr) and the first
    // pointer file: an empty pointer dir over live in-place data
    assert(new java.io.File(s"$root/_ptr").mkdirs())
    assert(ManifestSwap.dataPaths(spark, root) == Seq(root),
      "readers must serve the in-place data, not an empty manifest")
    val e = intercept[UnsupportedOperationException] {
      ManifestSwap.appendKeyed(spark, root, "t", "b1")(writeVals(9L))
    }
    assert(e.getMessage.contains("in-place"),
      s"the migration guard must fire despite the _ptr husk: $e")
    // migration: a full-snapshot install (what the families' rebuild/
    // compaction fallbacks run) flips the root to manifest
    ManifestSwap.install(spark, root, "t")(writeVals(1L, 2L, 3L))
    assert(ManifestSwap.dataPaths(spark, root).forall(_.contains("_gens/")),
      "a committed manifest must take over the root's reads")
    assert(readVals(root) == Seq(1L, 2L, 3L))
    ManifestSwap.appendKeyed(spark, root, "t", "b1")(writeVals(9L))
    assert(ManifestSwap.readDataPaths(spark, root).size == 2,
      "post-migration keyed append must be admitted")
  }

  test("empty _ptr with NO in-place data is still an (empty) manifest " +
      "root: a first delivery in flight serves empty, not an error") {
    val root = tmpDir("mswap-empty") + "/t"
    assert(new java.io.File(s"$root/_ptr").mkdirs())
    assert(ManifestSwap.dataPaths(spark, root).isEmpty,
      "nothing in-place to hide: the root resolves as an empty manifest")
    assert(readVals(root).isEmpty)
  }

  test("commit-time pointer trim: a hot committer's _ptr stays bounded " +
      "(round-14 verdict ask #6) and the newest snapshot keeps every " +
      "committed entry") {
    val root = tmpDir("mswap-trim") + "/t"
    val n = 3 * ManifestSwap.TrimEvery + 5
    ManifestSwap.housekeepingGraceMs = 0L
    try {
      (0 until n).foreach { i =>
        ManifestSwap.commitUpdate(spark, root, "t")(
          m => m + (s"app:k$i" -> "g"))
      }
    } finally ManifestSwap.housekeepingGraceMs = ManifestSwap.DefaultGraceMs
    val ptrs = lsNames(s"$root/_ptr").filter(_.endsWith(".mf"))
    assert(ptrs.size <= 2 * ManifestSwap.TrimEvery,
      s"pointer listing must stay bounded: ${ptrs.size} files after $n commits")
    assert(ptrs.nonEmpty)
    assert(ManifestSwap.appliedKeys(spark, root).size == n,
      "trim drops superseded pointer FILES, never committed entries")
  }

  test("trimPtrs sweeps AGED .tmp commit orphans (a committer that " +
      "died between its link(2) claim and the tmp delete) and " +
      "protects young in-flight ones") {
    val root = tmpDir("mswap-tmp") + "/t"
    ManifestSwap.install(spark, root, "t")(writeVals(1L))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val orphan = new java.io.File(s"$root/_ptr/.tmp-dead-commit")
    assert(orphan.createNewFile())
    assert(orphan.setLastModified(
      System.currentTimeMillis() - 3600 * 1000L))
    val young = new java.io.File(s"$root/_ptr/.tmp-in-flight")
    assert(young.createNewFile())
    ManifestSwap.trimPtrs(fs, root, keepManifests = 2,
      graceMs = 60 * 1000L)
    assert(!orphan.exists(), "aged orphan must be swept")
    assert(young.exists(), "an in-flight tmp inside the grace survives")
    assert(readVals(root) == Seq(1L), "snapshot untouched")
  }
}
