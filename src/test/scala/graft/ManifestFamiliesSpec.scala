package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.streaming.ManifestSwap

/** Round-14 verdict ask #1 — the APPEND-STYLE families' manifest
  * layouts (generation-relative appends + a file-listing manifest, the
  * Iceberg shape): z-order, bucketed vector layout, IVF-PQ layout,
  * document sink, retention change table, postings index, and the
  * streaming aggview log. Every family is checked against a test-local
  * recompute from its inputs — identical serving output, append
  * idempotence under retry, fold/compaction correctness with ledger
  * semantics, and crash windows at the manifest failpoints. */
class ManifestFamiliesSpec extends SparkSpec {
  import spark.implicits._

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  // ------------------------------------------------------------ zorder --

  test("z-order, manifest: layout + double-appended batch + pruned scan " +
      "equal the rename twin; rebuild folds generations keeping the " +
      "ledger (late retry of a folded batch skips)") {
    import graft.ops.ZOrder
    val dims = Seq(ZOrder.Dim("a", 0, 999), ZOrder.Dim("b", 0, 999))
    val base = (0L until 400L).map(i => (i % 1000, (i * 37) % 1000, i))
      .toDF("a", "b", "payload")
    val batch = (1000L until 1100L).map(i => (i % 1000, (i * 37) % 1000, i))
      .toDF("a", "b", "payload")
    def box(p: String) =
      ZOrder.prunedScanN(spark, p, Seq(("a", 100L, 300L), ("b", 0L, 999L)))
    // (the "rename twin" of the name is now a test-local recompute
    // from the inputs — the rename protocol is gone)
    val want = canon(base.unionByName(batch)
      .filter($"a".between(100L, 300L) && $"b".between(0L, 999L)))
    val pM = tmpDir("zm") + "/lay"
    ZOrder.layoutN(base, pM, dims, 4)
    ZOrder.appendN(batch, pM, dims, 2)
    ZOrder.appendN(batch, pM, dims, 2) // crashed-retry replay: same tag
    assert(canon(box(pM)) == want,
      "layout+append must serve exactly the inputs' rows " +
        "(double append collapses on the manifest ledger)")
    assert(lsGens(pM).size == 2, "base + ONE appended generation")
    // fold: one generation, ledger lines retired but kept
    ZOrder.rebuild(spark, pM, dims, 4)
    assert(canon(box(pM)) == want, "rebuild must preserve rows")
    val keys = ManifestSwap.appliedKeys(spark, pM)
    assert(keys.size == 1, s"folded ledger line must survive: $keys")
    // late retry of the already-folded batch: the ledger line skips it
    ZOrder.appendN(batch, pM, dims, 2)
    assert(canon(box(pM)) == want,
      "a late retry of a folded batch must not re-ingest")
    assertGenerationsMarked(pM)
  }

  private def lsGens(root: String): Seq[String] =
    Option(new java.io.File(s"$root/_gens").list())
      .getOrElse(Array.empty).toSeq

  test("z-order, manifest: a crash in the append's generation-write or " +
      "commit window leaves the served layout intact; the retry " +
      "converges") {
    import graft.ops.ZOrder
    val dims = Seq(ZOrder.Dim("a", 0, 999), ZOrder.Dim("b", 0, 999))
    val base = (0L until 200L).map(i => (i % 1000, (i * 37) % 1000, i))
      .toDF("a", "b", "payload")
    val batch = (1000L until 1050L)
      .map(i => (i % 1000, (i * 37) % 1000, i)).toDF("a", "b", "payload")
    def full(p: String) =
      ZOrder.prunedScanN(spark, p, Seq(("a", 0L, 999L), ("b", 0L, 999L)))
    for (w <- Seq("afterGenWrite", "beforeCommit")) {
      val p = tmpDir(s"zc-$w") + "/lay"
      ZOrder.layoutN(base, p, dims, 4)
      val before = canon(full(p))
      ManifestSwap.failpoint = Some(("stagedapp", w))
      val e = try intercept[RuntimeException] {
        ZOrder.appendN(batch, p, dims, 2)
      } finally ManifestSwap.failpoint = None
      assert(e.getMessage.contains("failpoint"), s"$w: $e")
      assert(canon(full(p)) == before,
        s"$w: a crashed append must stay invisible")
      ZOrder.appendN(batch, p, dims, 2)
      assert(canon(full(p)).size == 250, s"$w: retry did not converge")
    }
  }

  // ------------------------------------------------- vector layouts --

  test("bucketed vector layout, manifest: build + appended batch serve " +
      "the same ANN top-k as the rename twin; the corpus-derived " +
      "rebuild keeps the append ledger") {
    import graft.llm.SimSearch
    val emb = Tables.embeddings(spark, sf)
    val base = emb.filter($"vec_id" % 2 === 0)
    val batch = emb.filter($"vec_id" % 2 === 1)
    def top(p: String) = SimSearch.annTopKBucketed(
      emb, "vec_id", "embedding", queryId = 0L, k = 10,
      layoutPath = p, planes = 6, probeHamming = 2)
    // (the "rename twin" of the name is now a test-local recompute
    // from the inputs — the rename protocol is gone)
    // an in-place (CorpusCache-shaped) layout of the same rows
    val pR = tmpDir("vr") + "/lay"
    SimSearch.writeBucketedRaw(emb, "vec_id", "embedding", 6, pR)
    val want = canon(top(pR))
    val pM = tmpDir("vm") + "/lay"
    SimSearch.writeBucketed(base, "vec_id", "embedding", 6, pM)
    SimSearch.appendBucketed(batch, "vec_id", "embedding", 6, pM)
    SimSearch.appendBucketed(batch, "vec_id", "embedding", 6, pM) // retry
    assert(canon(top(pM)) == want,
      "published ANN serving must equal the in-place layout's")
    // corpus-derived rebuild: one base again, ledger kept
    SimSearch.writeBucketed(emb, "vec_id", "embedding", 6, pM)
    assert(canon(top(pM)) == want, "rebuild changed the serving")
    assert(ManifestSwap.appliedKeys(spark, pM).size == 1,
      "the append ledger must survive the corpus-derived rebuild")
    SimSearch.appendBucketed(batch, "vec_id", "embedding", 6, pM)
    assert(canon(top(pM)) == want,
      "a late retry after the rebuild must skip on the kept ledger")
    assertGenerationsMarked(pM)
  }

  test("IVF-PQ layout, manifest: retrain installs codes+codebook as one " +
      "generation, incremental append lands, a second retrain SWEEPS " +
      "the append keys (superseding semantics) — probes green " +
      "throughout and equal to the rename twin") {
    import graft.cdc.Maintenance
    val emb = Tables.embeddings(spark, sf)
    val base = emb.filter($"vec_id" % 2 === 0)
    val batch = emb.filter($"vec_id" % 2 === 1).localCheckpoint(true)
    val vi = (p: String) => Maintenance.VectorIndex(
      embDir = s"$sf/embeddings.parquet", layoutPath = p,
      m = 8, dims = 64, ks = 16, planes = 6, iters = 1)
    def serve(p: String): Seq[String] = {
      val cb = graft.llm.Pq.indexCodebook(spark, p)
      canon(graft.llm.Pq.ivfPqTopK(emb, p, cb, "vec_id", "embedding",
        queryId = 0L, k = 10, m = 8, dims = 64, ks = 16, planes = 6))
    }
    val cb = graft.llm.Pq.trainCodebooks(base, "vec_id", "embedding",
      8, 64, 16, 1).localCheckpoint(true)
    // (the "rename twin" of the name is now a test-local recompute
    // from the inputs — the rename protocol is gone)
    // an in-place (CorpusCache-shaped) layout of base ∪ batch, encoded
    // under the same codebook
    val pR = tmpDir("pqr") + "/lay"
    graft.llm.Pq.writeIvfPq(emb, "vec_id", "embedding", cb, 8, 64, 6, pR)
    cb.write.mode("overwrite").parquet(pR + "/_codebook")
    val want = serve(pR)
    val pM = tmpDir("pqm") + "/lay"
    ManifestSwap.install(spark, pM, "vecidx") { tmp =>
      graft.llm.Pq.writeIvfPq(base, "vec_id", "embedding", cb, 8, 64,
        6, tmp)
      cb.write.mode("append").parquet(tmp.stripSuffix("/") +
        "/_codebook")
    }
    graft.llm.Pq.appendIvfPq(batch, "vec_id", "embedding", cb, 8, 64,
      6, pM)
    assert(serve(pM) == want,
      "published base + append must serve the in-place layout's probe")
    assert(ManifestSwap.appliedKeys(spark, pM).nonEmpty,
      "the incremental append must be manifest-keyed")
    // the retrain re-encodes the FULL corpus: append keys must drop
    Maintenance.maintainVectorIndex(spark, vi(pM))
    assert(ManifestSwap.appliedKeys(spark, pM).isEmpty,
      "a superseding retrain must sweep the append keys")
    val served = serve(pM)
    assert(served.nonEmpty && served.size == want.size,
      "post-retrain probes must serve k rows")
    assertGenerationsMarked(pM)
  }

  // ---------------------------------------------------- document sink --

  test("document sink, manifest: delivery pages become keyed " +
      "generations; read-back, read-by-version, listing, dedup and " +
      "compaction equal the rename twin (redelivered page collapses " +
      "at read; compaction folds to one generation atomically)") {
    import graft.sinks.DocumentSink
    val feed = Tables.events(spark, sf).limit(60)
      .select($"user_id".as("invoice_id"),
        concat(lit("INV-"), lpad($"user_id".cast("string"), 9, "0"))
          .as("invoice_number"),
        $"event_id".as("change_version"))
      .localCheckpoint(true)
    val p1 = feed.filter($"change_version" % 2 === 0)
    val p2 = feed.filter($"change_version" % 2 === 1)
    def docs(dir: String) = DocumentSink.deduplicated(spark, dir)
      .select("invoice_id", "invoice_number", "change_version")
    // (the "rename twin" of the name is now a test-local recompute
    // from the inputs — the rename protocol is gone)
    // every (invoice, version) of the feed, exactly once
    val want = canon(feed.select("invoice_id", "invoice_number",
      "change_version").distinct())
    val v = feed.select($"change_version").as[Long].head()
    val wantV = canon(feed.filter($"change_version" === v)
      .select("invoice_id", "change_version").distinct())
    val dM = tmpDir("skm") + "/sink"; val eM = tmpDir("skm") + "/err"
    DocumentSink.writeVersioned(p1, dM, eM)
    DocumentSink.writeVersioned(p2, dM, eM)
    DocumentSink.writeVersioned(p2, dM, eM) // redelivery
    assert(canon(docs(dM)) == want,
      "sink dedup read-back must equal the delivered feed")
    assert(canon(DocumentSink.readVersion(spark, dM, v)
      .select("invoice_id", "change_version")) == wantV,
      "read-by-version must prune and match")
    assert(DocumentSink.listSink(spark, dM).count() > 0, "listing")
    val gensBefore = lsGens(dM).size
    assert(gensBefore == 3, s"one generation per page: $gensBefore")
    DocumentSink.compact(spark, dM)
    assert(canon(docs(dM)) == want, "compaction changed read-back")
    assert(ManifestSwap.appliedKeys(spark, dM).isEmpty,
      "sink pages carry no ledger contract — absorbed keys drop")
    assert(ManifestSwap.readDataPaths(spark, dM).size == 1,
      "compaction folds to one served generation")
    assertGenerationsMarked(dM)
  }

  test("document sink, manifest: a crash inside a page delivery (gen " +
      "written, pointer not committed) leaves read-back on the prior " +
      "pages only; the redelivery converges") {
    import graft.sinks.DocumentSink
    val feed = Tables.events(spark, sf).limit(20)
      .select($"user_id".as("invoice_id"),
        concat(lit("INV-"), lpad($"user_id".cast("string"), 9, "0"))
          .as("invoice_number"),
        $"event_id".as("change_version"))
      .localCheckpoint(true)
    val d = tmpDir("skc") + "/sink"; val e = tmpDir("skc") + "/err"
    DocumentSink.writeVersioned(feed.limit(10), d, e)
    val before = DocumentSink.deduplicated(spark, d).count()
    ManifestSwap.failpoint = Some(("sink", "afterGenWrite"))
    val ex = try intercept[RuntimeException] {
      DocumentSink.writeVersioned(feed, d, e)
    } finally ManifestSwap.failpoint = None
    assert(ex.getMessage.contains("failpoint"))
    assert(DocumentSink.deduplicated(spark, d).count() == before,
      "a crashed page must stay invisible")
    DocumentSink.writeVersioned(feed, d, e)
    assert(DocumentSink.deduplicated(spark, d).count() >= before,
      "redelivery converged")
  }

  // --------------------------------------------------- change table --

  test("change table, manifest: appended pages are keyed generations " +
      "the graft-cdc source resolves; the retention rewrite folds to " +
      "one base atomically and the source keeps serving") {
    import graft.cdc.Maintenance
    val pages = (0 until 4).map { i =>
      Tables.events(spark, sf).limit(200)
        .select($"user_id".as("entity_id"), $"event_id".as("change_version"))
        .filter($"change_version" % 4 === i)
        .localCheckpoint(true)
    }
    def sourceRows(dir: String) = spark.read.format("graft-cdc")
      .option("path", dir).load()
      .select("entity_id", "change_version")
    // (the "rename twin" of the name is now a test-local recompute
    // from the inputs — the rename protocol is gone)
    val wantAll = canon(pages.reduce(_ unionByName _))
    val dM = tmpDir("ctm") + "/chg"
    pages.foreach(Maintenance.appendChangePage(spark, dM, _))
    pages.foreach(Maintenance.appendChangePage(spark, dM, _)) // retries
    assert(canon(sourceRows(dM)) == wantAll,
      "the change table must serve every appended page through the " +
        "DSv2 source (retried pages dedup on their content keys)")
    val watermark = pages.flatMap(_.select("change_version").as[Long]
      .collect()).sorted.apply(100)
    Maintenance.maintainChangeTable(spark, dM, watermark, watermark, 2)
    assert(sourceRows(dM).filter($"change_version" <= watermark).isEmpty,
      "expiry must hold through the manifest fold")
    assert(ManifestSwap.readDataPaths(spark, dM).size == 1,
      "the rewrite folds to one base generation")
    val afterFold = sourceRows(dM).count() // materialize BEFORE the append
    Maintenance.appendChangePage(spark, dM, pages.head) // post-fold page
    assert(sourceRows(dM).count() > afterFold,
      "appends keep landing after the fold")
    assertGenerationsMarked(dM)
  }

  // -------------------------------------------------- aggview log --

  test("aggview log, manifest (round-14 ADVICE): batch appends are " +
      "keyed generations, the view fold equals the direct view, and " +
      "compactLog's trim actually TRIMS — the manifest log stays " +
      "bounded instead of growing a no-op'd in-place tail") {
    import graft.streaming.StreamingAggView
    val root = tmpDir("avm") + "/aggview"
    StreamingAggView.applyBatch(spark, sf, root,
      graft.cdc.TombstoneCdc.changedInvoicesOps(spark, sf, 0L, 700L), 0L)
    StreamingAggView.applyBatch(spark, sf, root,
      graft.cdc.TombstoneCdc.changedInvoicesOps(spark, sf, 700L, 1500L), 1L)
    // redelivery of batch 1: the key makes the append a no-op
    StreamingAggView.applyBatch(spark, sf, root,
      graft.cdc.TombstoneCdc.changedInvoicesOps(spark, sf, 700L, 1500L), 1L)
    assert(ManifestSwap.appliedKeys(spark, s"$root/log") ==
      Set("batch-0", "batch-1"))
    val direct = graft.cdc.AggView.directView(spark, sf, 1500L)
    val got = StreamingAggView.currentView(spark, root)
    assert(got.exceptAll(direct).isEmpty && direct.exceptAll(got).isEmpty,
      "manifest-log fold diverged from the direct view")
    StreamingAggView.compactLog(spark, root)
    assert(ManifestSwap.appliedKeys(spark, s"$root/log").isEmpty,
      "the trim must retire the absorbed batch keys (bounded manifest)")
    assert(StreamingAggView.stateGen(spark, root) == 1L)
    // the fold continues over the compacted checkpoint
    StreamingAggView.applyBatch(spark, sf, root,
      graft.cdc.TombstoneCdc.changedInvoicesOps(spark, sf, 1500L, 2500L), 2L)
    val direct2 = graft.cdc.AggView.directView(spark, sf, 2500L)
    val got2 = StreamingAggView.currentView(spark, root)
    assert(got2.exceptAll(direct2).isEmpty &&
      direct2.exceptAll(got2).isEmpty,
      "fold after manifest-log compaction diverged")
    assertGenerationsMarked(s"$root/log")
  }

  // ----------------------------------------------------- postings --

  test("postings index, manifest: build + incremental append (with " +
      "retry) + compaction serve the identical hybrid top-k as the " +
      "rename twin; the df commit → key-publish crash window heals on " +
      "the serving path") {
    import graft.llm.SimSearch
    val docs = Tables.documents(spark, sf).limit(300).localCheckpoint(true)
    val base = docs.filter($"doc_id" % 2 === 0)
    val batch = docs.filter($"doc_id" % 2 === 1)
    val emb = Tables.embeddings(spark, sf)
    val terms = Seq("the", "data", "model")
    def serve(p: String) = canon(SimSearch.hybridTopKIndexed(
      emb, p, "doc_id", "vec_id", "embedding", terms, queryId = 0L,
      k = 10))
    // (the "rename twin" of the name is now a test-local recompute
    // from the inputs — the rename protocol is gone)
    // one fresh build over the whole corpus: the appended index must
    // score bit-identically
    val pR = tmpDir("por") + "/idx"
    SimSearch.buildPostingsIndex(docs, "doc_id", "text", pR)
    val want = serve(pR)
    val pM = tmpDir("pom") + "/idx"
    SimSearch.buildPostingsIndex(base, "doc_id", "text", pM)
    SimSearch.appendPostingsIndex(batch, "doc_id", "text", pM)
    SimSearch.appendPostingsIndex(batch, "doc_id", "text", pM) // retry
    assert(serve(pM) == want,
      "appended postings serving must equal a fresh full build")
    SimSearch.compactPostingsIndex(spark, pM)
    assert(serve(pM) == want, "compaction changed the serving")
    assert(ManifestSwap.readDataPaths(spark, s"$pM/postings").size == 1,
      "compaction folds the postings to one generation")
    // crash window: df committed (fold + ledger), manifest key not
    // yet published — the serving path must heal it
    val batch2 = docs.filter($"doc_id" % 7 === 3)
      .withColumn("text", concat($"text", lit(" zz")))
    ManifestSwap.failpoint = Some(("postings", "beforeCommit"))
    val e = try intercept[RuntimeException] {
      SimSearch.appendPostingsIndex(batch2, "doc_id", "text", pM)
    } finally ManifestSwap.failpoint = None
    assert(e.getMessage.contains("failpoint"))
    val healed = serve(pM) // runs recoverManifestPostings
    val retried = { // the appender's own retry also converges
      SimSearch.appendPostingsIndex(batch2, "doc_id", "text", pM)
      serve(pM)
    }
    assert(healed == retried,
      "serving-path heal and appender retry must converge identically")
    assertGenerationsMarked(s"$pM/postings")
    assertGenerationsMarked(s"$pM/df")
  }

  test("LIVE race, manifest z-order: an appender+fold maintainer with " +
      "HOT gc races a concurrent pruned-scan reader and a rival " +
      "appender — every read serves ONE complete committed snapshot, " +
      "and the settled layout is the union of every batch exactly once " +
      "(the phase-9 pattern over the keyed-append read path; the " +
      "cross-process publisher/gc/reader/rival-CAS race lives in " +
      "HealRaceSpec phase 9 on the same commit primitive)") {
    import graft.ops.ZOrder
    val dims = Seq(ZOrder.Dim("a", 0, 999), ZOrder.Dim("b", 0, 999))
    def batch(i: Int) = ((i * 100) until (i * 100 + 50))
      .map(x => (x.toLong % 1000, (x * 37L) % 1000, x.toLong))
      .toDF("a", "b", "payload").localCheckpoint(true)
    val p = tmpDir("zlive") + "/lay"
    ZOrder.layoutN(batch(0), p, dims, 2)
    @volatile var stop = false
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    var reads = 0
    val reader = new Thread(() => {
      try while (!stop) {
        // a consistent snapshot is base + k committed appends: every
        // batch is 50 distinct rows, so any complete snapshot counts
        // a positive multiple of 50 — a torn or part-reaped read
        // cannot (grace 3 s sits above the loaded read latency)
        val n = ZOrder.prunedScanN(spark, p,
          Seq(("a", 0L, 999L), ("b", 0L, 999L))).count()
        if (n % 50 != 0 || n < 50)
          throw new AssertionError(s"torn snapshot read: $n rows")
        reads += 1
      } catch { case e: Throwable => errors.add(e); () }
    })
    val rival = new Thread(() => {
      try (11 to 13).foreach(i => ZOrder.appendN(batch(i), p, dims, 1))
      catch { case e: Throwable => errors.add(e); () }
    })
    reader.start(); rival.start()
    (1 to 6).foreach { i =>
      ZOrder.appendN(batch(i), p, dims, 1)
      if (i % 3 == 0) ZOrder.rebuild(spark, p, dims, 2)
      ManifestSwap.gc(spark, p, keepManifests = 2, graceMs = 3000L)
    }
    rival.join()
    stop = true
    reader.join()
    assert(errors.isEmpty, s"race errors: ${errors.toArray.toSeq}")
    assert(reads >= 1, "the reader never completed a scan")
    val settled = canon(ZOrder.prunedScanN(spark, p,
      Seq(("a", 0L, 999L), ("b", 0L, 999L))).select("payload"))
    assert(settled.size == 500 && settled.distinct.size == 500,
      s"settled layout is not the exactly-once union: ${settled.size}")
  }

  test("keyed append, migration guard: appending into an in-place " +
      "(non-manifest) root refuses loudly instead of publishing a " +
      "manifest that hides the existing data") {
    val root = tmpDir("mig") + "/lay"
    Seq(1L, 2L).toDF("v").write.mode("overwrite").parquet(root)
    val e = intercept[UnsupportedOperationException] {
      ManifestSwap.appendKeyed(spark, root, "t", "b1")(
        Seq(3L).toDF("v").write.mode("append").parquet(_))
    }
    assert(e.getMessage.contains("in-place"), e.getMessage)
  }
}
