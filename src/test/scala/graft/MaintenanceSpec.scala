package graft

import graft.cdc.{Maintenance, Retention}
import graft.sinks.DocumentSink
import org.apache.spark.sql.functions._

/** T6 end-to-end maintenance: expire + log-compact the change table and
  * compact the sink in ONE job — file counts bounded after N polls,
  * read-back identical, rerunnable. */
class MaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private def filesUnder(dir: String, suffix: String): Seq[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(dir)).map(_.getName).filter(_.endsWith(suffix))
  }

  /** The committed data dirs of a published (or producer-written) root. */
  private def served(root: String): Seq[String] =
    graft.streaming.ManifestSwap.dataPaths(spark, root)
      .map(new org.apache.hadoop.fs.Path(_).toUri.getPath)

  test("safeWatermark: consumers pin expiry, a straggler is capped explicitly") {
    val store = new graft.cdc.ConsumerStateStore(spark, tmpDir("msw"))
    // no consumers: the requested (time-based) watermark stands
    assert(graft.cdc.Maintenance.safeWatermark(store, 900L, 10000L) == 900L)
    // a lagging consumer clamps expiry to its committed cursor
    store.commit("bi", 500L, 0L)
    store.commit("audit", 700L, 0L)
    assert(graft.cdc.Maintenance.safeWatermark(store, 900L, 10000L) == 500L,
      "min committed cursor must clamp the watermark")
    // a consumer ahead of the request never raises it
    store.commit("bi", 5000L, 0L)
    store.commit("audit", 5000L, 0L)
    assert(graft.cdc.Maintenance.safeWatermark(store, 900L, 10000L) == 900L)
    // an idle straggler pins retention only up to the explicit lag cap
    store.commit("bi", 100L, 0L)
    assert(graft.cdc.Maintenance.safeWatermark(store, 9000L, 10000L,
      maxLagVersions = Some(2000L)) == 8000L,
      "the straggler cap must bound how far one consumer pins the table")
    // and with the clamp honored, every row a clamped-at consumer still
    // needs survives expiry
    val feed = (1L to 1000L).map(v => (v % 50, v))
      .toDF("entity_id", "change_version")
    val w = graft.cdc.Maintenance.safeWatermark(store, 900L, 1000L)
    assert(w == 100L)
    val kept = graft.cdc.Retention.expire(feed, w)
    assert(kept.filter($"change_version" <= 100L).isEmpty &&
      kept.count() == 900L,
      "expiry at the safe watermark must keep exactly the unconsumed tail")
  }

  test("the window compacts streaming-view logs and the fold continues") {
    val root = tmpDir("mavr") + "/aggview"
    graft.streaming.StreamingAggView.applyBatch(spark, sf,
      root, graft.cdc.TombstoneCdc.changedInvoicesOps(spark, sf, 0L, 700L), 0L)
    graft.streaming.StreamingAggView.applyBatch(spark, sf,
      root, graft.cdc.TombstoneCdc.changedInvoicesOps(spark, sf, 700L, 1500L), 1L)
    val changeDir = tmpDir("mavc")
    val sinkDir = tmpDir("mavs")
    val errDir = tmpDir("mave")
    val feed = Tables.events(spark, sf).limit(100)
      .select($"user_id".as("entity_id"), $"event_id".as("change_version"))
    feed.write.mode("overwrite").parquet(changeDir)
    DocumentSink.writeVersioned(
      feed.select($"entity_id".as("invoice_id"),
        concat(lit("INV-"), lpad($"entity_id".cast("string"), 9, "0"))
          .as("invoice_number"),
        $"change_version"),
      sinkDir, errDir)
    graft.cdc.Maintenance.run(spark, changeDir, sinkDir,
      watermark = 0L, compactUpTo = 0L, nFiles = 2,
      aggViewRoots = Seq(root))
    // both folded batches moved into the bucketed state checkpoint (r7
    // layout): the log is left empty and the checkpoint carries gen 1
    val parts = graft.streaming.ManifestSwap.appliedKeys(spark, s"$root/log")
    assert(parts.isEmpty, s"window did not compact the view log: $parts")
    assert(graft.streaming.StreamingAggView.stateGen(spark, root) == 1L,
      "state checkpoint generation must be the folded bound")
    graft.streaming.StreamingAggView.applyBatch(spark, sf,
      root, graft.cdc.TombstoneCdc.changedInvoicesOps(spark, sf, 1500L, 2500L), 2L)
    val direct = graft.cdc.AggView.directView(spark, sf, 2500L)
    val got = graft.streaming.StreamingAggView.currentView(spark, root)
    assert(got.exceptAll(direct).isEmpty && direct.exceptAll(got).isEmpty,
      "fold after windowed compaction diverged")
  }

  test("the window reaps manifest generations under a PER-TABLE grace " +
      "(round-14 #5): superseded generations outlive every scan shorter " +
      "than the declared grace, then fold to the keep window") {
    val root = tmpDir("mavm") + "/mtable"
    import graft.streaming.ManifestSwap
    (1 to 3).foreach { i =>
      ManifestSwap.install(spark, root, "t") { d =>
        Seq(i.toLong).toDF("v").write.mode("append").parquet(d)
      }
    }
    def gens = new java.io.File(s"$root/_gens").list().length
    assert(gens == 3)
    val changeDir = tmpDir("mgcc"); val sinkDir = tmpDir("mgcs")
    val feed = Tables.events(spark, sf).limit(10)
      .select($"user_id".as("entity_id"), $"event_id".as("change_version"))
    feed.write.mode("overwrite").parquet(changeDir)
    DocumentSink.writeVersioned(
      feed.select($"entity_id".as("invoice_id"),
        concat(lit("INV-"), lpad($"entity_id".cast("string"), 9, "0"))
          .as("invoice_number"), $"change_version"),
      sinkDir, tmpDir("mgce"))
    // a DEFAULT-grace window protects everything young — the sizing
    // rule: grace must exceed the longest scan of one snapshot
    graft.cdc.Maintenance.run(spark, changeDir, sinkDir,
      watermark = 0L, compactUpTo = 0L, nFiles = 2,
      manifestGcs = Seq(graft.cdc.Maintenance.ManifestGc(root)))
    assert(gens == 3, "default grace must protect young generations")
    // with this table's own (elapsed) grace, superseded generations fold
    graft.cdc.Maintenance.run(spark, changeDir, sinkDir,
      watermark = 0L, compactUpTo = 0L, nFiles = 2,
      manifestGcs = Seq(
        graft.cdc.Maintenance.ManifestGc(root, graceMs = 0L)))
    assert(gens == 2, "per-table grace drives the reap (keepManifests=2)")
    assert(ManifestSwap.readOrEmpty(spark, root,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.LongType))))
      .as[Long].collect().toSeq == Seq(3L), "current snapshot intact")
  }

  test("one maintenance window bounds files and preserves read-back") {
    val changeDir = tmpDir("mchg")
    val sinkDir = tmpDir("msink")
    val errDir = tmpDir("merr")
    // N=5 polls: each appends one version page of changes AND delivers
    // its documents; page 3 is redelivered (crash retry), so the sink
    // carries duplicates the compaction must collapse
    val feed = Tables.events(spark, sf).select(
      col("user_id").as("entity_id"),
      col("event_id").as("change_version"),
      element_at(array(lit("I"), lit("U"), lit("D")),
        (col("event_id") % 3 + 1).cast("int")).as("change_operation"))
    val pages = (0 until 5).map { i =>
      feed.filter(col("change_version") > i * 200L &&
        col("change_version") <= (i + 1) * 200L)
    }
    pages.foreach(_.write.mode("append").parquet(changeDir))
    def docsOf(p: org.apache.spark.sql.DataFrame) = p.select(
      col("entity_id").as("invoice_id"),
      concat(lit("INV-"), lpad(col("entity_id").cast("string"), 9, "0"))
        .as("invoice_number"),
      col("change_version"))
    pages.foreach(p => DocumentSink.writeVersioned(docsOf(p), sinkDir, errDir))
    DocumentSink.writeVersioned(docsOf(pages(3)), sinkDir, errDir) // redelivery

    val sinkBefore = DocumentSink.deduplicated(spark, sinkDir)
      .select("invoice_id", "invoice_number", "change_version", "doc_name")
      .as[(Long, String, Long, String)].collect().toSet
    val preFiles = filesUnder(sinkDir, ".json").size
    assert(preFiles > 5, s"fixture should accumulate poll files, got $preFiles")

    // a z-layout with one appended generation rides the same window
    import graft.ops.ZOrder
    val zdir = tmpDir("mz") + "/layout"
    val zdims = Seq(ZOrder.Dim("entity_id", 0L, 1000L),
      ZOrder.Dim("change_version", 0L, 1000L))
    ZOrder.layoutN(pages(0).toDF(), zdir, zdims, 2)
    ZOrder.appendN(pages(1).toDF(), zdir, zdims, 2)
    val zRows = spark.read.parquet(served(zdir): _*).count()

    val report = Maintenance.run(spark, changeDir, sinkDir,
      watermark = 200L, compactUpTo = 600L, nFiles = 4,
      zLayouts = Seq(Maintenance.ZLayout(zdir, zdims, 2)))
    assert(served(zdir).flatMap(filesUnder(_, ".parquet")).size == 2 &&
      spark.read.parquet(served(zdir): _*).count() == zRows,
      "the window must fold the z-layout to its target file count")

    // change table: expired prefix gone, one newest FULL row per entity
    // in the compacted segment, tail untouched, bounded file count
    val after = spark.read.parquet(served(changeDir): _*).cache()
    assert(after.agg(min($"change_version")).head().getLong(0) > 200L)
    val oldSeg = after.filter($"change_version" <= 600L)
    assert(oldSeg.groupBy($"entity_id").count().filter($"count" > 1).isEmpty,
      "log-compacted segment must hold one row per entity")
    val expectedOld = feed
      .filter($"change_version" > 200L && $"change_version" <= 600L)
      .groupBy($"entity_id").agg(max($"change_version").as("v"))
      .as[(Long, Long)].collect().toSet
    assert(oldSeg.select($"entity_id", $"change_version")
      .as[(Long, Long)].collect().toSet == expectedOld)
    assert(oldSeg.columns.contains("change_operation"),
      "full rows survive, not key projections")
    assert(after.filter($"change_version" > 600L).count() ==
      feed.filter($"change_version" > 600L).count())
    assert(report.changeFiles == 4L,
      s"expected nFiles parquet files, got ${report.changeFiles}")
    // the cdc source still reads the rewritten table (footer pruning path)
    assert(spark.read.format("graft-cdc").option("path", changeDir).load()
      .count() == report.changeRows)

    // sink: identical read-back (survivors keep their stamps), one file
    // per bucket dir instead of one per poll
    val sinkAfter = DocumentSink.deduplicated(spark, sinkDir)
      .select("invoice_id", "invoice_number", "change_version", "doc_name")
      .as[(Long, String, Long, String)].collect().toSet
    assert(sinkAfter == sinkBefore, "sink read-back must be identical")
    val buckets = served(sinkDir)
      .flatMap(g => new java.io.File(g).listFiles().toSeq)
      .count(_.getName.startsWith("vb_part="))
    assert(report.sinkFiles == buckets.toLong,
      s"expected one file per bucket ($buckets), got ${report.sinkFiles}")

    // rerunnable: a second window is a no-op on rows and files
    val again = Maintenance.run(spark, changeDir, sinkDir,
      watermark = 200L, compactUpTo = 600L, nFiles = 4)
    assert(again.changeRows == report.changeRows &&
      again.sinkDocs == report.sinkDocs &&
      again.changeFiles == report.changeFiles &&
      again.sinkFiles == report.sinkFiles)
  }

  test("vector-index maintenance: retrain+rebuild behind DirSwap " +
      "recovers recall after codebook drift, probes green across the swap") {
    import org.apache.spark.sql.Encoders
    import graft.llm.{Pq, SimSearch}
    val (m, dims, ks, planes) = (8, 64, 16, 6)
    val embDir = s"$sf/embeddings.parquet"
    val emb = spark.read.parquet(embDir)
    val layout = tmpDir("vecidx") + "/ivfpq"
    // plant maximal drift: a zeroed codebook — every ADC score
    // degenerates to 0, candidate selection falls to the id tiebreak
    // (the extreme of centroids that stopped describing the corpus)
    val dead = Pq.trainCodebooks(emb, "vec_id", "embedding", m, dims, ks,
        iters = 0)
      .withColumn("cvec", transform(col("cvec"), _ => lit(0.0f)))
    Pq.writeIvfPq(emb, "vec_id", "embedding", dead, m, dims, planes, layout)
    dead.write.parquet(layout + "/_codebook")

    val exact = SimSearch.bruteForceTopK(emb, "vec_id", "embedding", 0L, 20)
      .select("vec_id").as[Long](Encoders.scalaLong).collect().toSet
    def recall(): Double = {
      val cb = Pq.indexCodebook(spark, layout)
      val got = Pq.ivfPqTopK(emb, layout, cb, "vec_id", "embedding",
        queryId = 0L, k = 20, m, dims, ks, planes, probeHamming = 3,
        overfetch = 6)
        .select("vec_id").as[Long](Encoders.scalaLong).collect()
      assert(got.length == 20 && !got.contains(0L),
        "probe must stay green: 20 neighbors, query row excluded")
      exact.intersect(got.toSet).size / 20.0
    }
    val before = recall() // green but degraded — rerank saves what it can
    Maintenance.maintainVectorIndex(spark,
      Maintenance.VectorIndex(embDir, layout, m = m, dims = dims, ks = ks,
        planes = planes, iters = 2))
    val after = recall()
    info(s"recall before=$before after=$after")
    assert(after >= 0.5 && after > before,
      s"retrain must recover ADC ranking: before=$before after=$after")
    // crash window: a second retrain dies with its generation written
    // and its pointer not yet committed — the next probe serves the
    // SAME rebuilt generation
    graft.streaming.ManifestSwap.failpoint = Some(("vecidx", "beforeCommit"))
    try intercept[RuntimeException] {
      Maintenance.maintainVectorIndex(spark,
        Maintenance.VectorIndex(embDir, layout, m = m, dims = dims,
          ks = ks, planes = planes, iters = 2))
    } finally graft.streaming.ManifestSwap.failpoint = None
    assert(recall() == after, "a probe in the crash window must serve " +
      "the committed rebuilt generation")
    // rerunnable: a second window keeps the index probe-green
    Maintenance.maintainVectorIndex(spark,
      Maintenance.VectorIndex(embDir, layout, m = m, dims = dims, ks = ks,
        planes = planes, iters = 2))
    assert(recall() >= 0.5)
  }

  test("postings-index maintenance folds append growth, serving unchanged") {
    import graft.llm.SimSearch
    val docs = Tables.documents(spark, sf)
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val terms = Seq("spark", "join", "window")
    val idx = tmpDir("postings-maint")
    SimSearch.buildPostingsIndex(
      docs.filter($"doc_id" % 3 === 0L), "doc_id", "text", idx)
    SimSearch.appendPostingsIndex(
      docs.filter($"doc_id" % 3 === 1L), "doc_id", "text", idx)
    SimSearch.appendPostingsIndex(
      docs.filter($"doc_id" % 3 === 2L), "doc_id", "text", idx)
    def serve() = SimSearch.hybridTopKIndexed(emb, idx, "doc_id",
      "vec_id", "embedding", terms, queryId = 0L, k = 20)
      .orderBy("doc_id").collect().toSeq
    def postingFiles() =
      served(s"$idx/postings").flatMap(filesUnder(_, ".parquet"))
    val before = serve()
    val filesBefore = postingFiles().size
    // two ingests stacked extra file generations onto the touched buckets
    assert(filesBefore > 64,
      s"fixture must start with append growth: $filesBefore files")
    SimSearch.compactPostingsIndex(spark, idx)
    val filesAfter = postingFiles().size
    assert(filesAfter <= 64 && filesAfter < filesBefore,
      s"compaction must bound files per bucket: $filesBefore -> $filesAfter")
    assert(serve() == before, "compaction changed serving output")
    // rerunnable: a second window is a no-op on rows
    SimSearch.compactPostingsIndex(spark, idx)
    assert(serve() == before, "re-run changed serving output")
  }

  test("a version-offset stream survives the compaction rewrite") {
    import spark.implicits._
    val dir = tmpDir("mstream")
    val sink = tmpDir("mstream-sink")
    val ckpt = tmpDir("mstream-ckpt")
    Seq((1L, 1L, "I"), (2L, 2L, "I"), (1L, 3L, "U"), (3L, 4L, "I"))
      .toDF("entity_id", "change_version", "change_operation")
      .write.mode("overwrite").parquet(dir)
    def drain(): Unit = {
      val q = spark.readStream.format("graft-cdc")
        .option("path", dir).load()
        .writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.write.mode("append").parquet(sink); ()
        }
        .start()
      q.awaitTermination(120000)
    }
    drain() // consumer is now committed through version 4
    // maintenance rewrites the store into DIFFERENT files (expire
    // nothing, collapse <=3, version-ordered rewrite); the consumer's
    // checkpoint holds VERSION offsets, not file names, so the rewrite
    // must be invisible to it
    Maintenance.maintainChangeTable(spark, dir,
      watermark = 0L, compactUpTo = 3L, nFiles = 2)
    Seq((2L, 5L, "U"))
      .toDF("entity_id", "change_version", "change_operation")
      .write.mode("append").parquet(dir)
    drain()
    val out = spark.read.parquet(sink)
      .select("entity_id", "change_version")
      .as[(Long, Long)].collect().sortBy(_._2)
    assert(out.toSeq == Seq((1L, 1L), (2L, 2L), (1L, 3L), (3L, 4L),
      (2L, 5L)),
      s"only the post-checkpoint version may arrive after compaction; " +
        s"got ${out.toSeq}")
  }

  test("a producer's plain append beside a folded change table is " +
      "served, absorbed by the next window, and its files reaped after " +
      "the grace") {
    import spark.implicits._
    val dir = tmpDir("minplace")
    def page(rows: (Long, Long, String)*) =
      rows.toDF("entity_id", "change_version", "change_operation")
    def rows() = spark.read.parquet(served(dir): _*)
      .select("entity_id", "change_version").as[(Long, Long)]
      .collect().toSeq.sorted
    // the graft-cdc source lists the table through its own catalog
    def cdcRows() = spark.read.format("graft-cdc").option("path", dir)
      .load().select("entity_id", "change_version").as[(Long, Long)]
      .collect().toSeq.sorted
    def rawFiles() = new java.io.File(dir).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(_.getName).toSet
    def rawKeys() = graft.streaming.ManifestSwap.resolveRaw(spark, dir)
      .map(_._2.keySet.filter(
        _.startsWith(graft.streaming.ManifestSwap.RawPrefix)))
      .getOrElse(Set.empty)

    page((1L, 1L, "I"), (2L, 2L, "I")).write.mode("overwrite").parquet(dir)
    val firstRaw = rawFiles()
    // expire nothing, collapse nothing: the rows must pass unchanged
    def window(): Unit = Maintenance.maintainChangeTable(spark, dir,
      watermark = 0L, compactUpTo = 0L, nFiles = 1)
    window()
    val two = Seq((1L, 1L), (2L, 2L))
    assert(rows() == two && cdcRows() == two)
    // the fold records what it absorbed; the files stay on disk for
    // readers that resolved the pre-fold snapshot
    assert(rawFiles() == firstRaw && rawKeys().size == firstRaw.size,
      s"absorbed files ${rawFiles()} vs recorded ${rawKeys()}")

    page((3L, 3L, "I")).write.mode("append").parquet(dir)
    val three = two :+ ((3L, 3L))
    assert(rows() == three,
      s"a plain append beside the manifest must be served, the absorbed " +
        s"files not twice: ${rows()}")
    assert(cdcRows() == three, s"graft-cdc catalog: ${cdcRows()}")

    window()
    assert(rows() == three && cdcRows() == three,
      s"the next window must absorb the append exactly once: ${rows()}")
    assert(rawKeys().size == rawFiles().size)

    // once the grace has passed, gc deletes every absorbed file and
    // forgets its key; the rows live on in the folded base
    graft.streaming.ManifestSwap.gc(spark, dir, graceMs = 0L)
    assert(rawFiles().isEmpty && rawKeys().isEmpty,
      s"left after gc: files ${rawFiles()}, keys ${rawKeys()}")
    assert(rows() == three && cdcRows() == three)

    page((4L, 4L, "I")).write.mode("append").parquet(dir)
    assert(rows() == three :+ ((4L, 4L)) && cdcRows() == rows(),
      s"an append after the reap must be served: ${rows()}")
  }
}
