package graft

import graft.cdc.{AggView, TombstoneCdc}
import graft.streaming.StreamingAggView
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The streaming IVM maintainer: batches folding through the
  * log + generation-stamped view must land exactly on the direct view,
  * through redelivery and every crash window. */
class StreamingAggViewSpec extends SparkSpec {

  private def assertSame(a: DataFrame, b: DataFrame, hint: String): Unit =
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, hint)

  private def page(lo: Long, hi: Long): DataFrame =
    TombstoneCdc.changedInvoicesOps(spark, sf, lo, hi)

  /** The maintainer's step 1 alone — batch `id`'s keyed log append
    * lands, the folds do not: the torn window a crash leaves. */
  private def tornAppend(root: String, torn: DataFrame, id: Long): Unit =
    graft.streaming.ManifestSwap.appendKeyed(spark, s"$root/log",
      "aggviewlog", s"batch-$id")(torn.write.mode("append").parquet(_))

  private def freshRoot(tag: String): String = {
    val root = s"/tmp/graft-aggview-spec-$tag-${System.nanoTime()}"
    root
  }

  private def viewAt(root: String): DataFrame =
    StreamingAggView.currentView(spark, root)

  test("streamed fold over arbitrary pages equals the direct view") {
    val root = freshRoot("fold")
    val pages = Seq((0L, 700L), (700L, 1500L), (1500L, 2500L),
      (2500L, Long.MaxValue))
    pages.zipWithIndex.foreach { case ((lo, hi), i) =>
      StreamingAggView.applyBatch(spark, sf, root, page(lo, hi), i.toLong)
    }
    assertSame(viewAt(root),
      AggView.directView(spark, sf, Long.MaxValue),
      "drained fold diverges from the direct view")
  }

  test("redelivered batch is a no-op (generation stamp)") {
    val root = freshRoot("redeliver")
    StreamingAggView.applyBatch(spark, sf, root, page(0L, 1500L), 0L)
    StreamingAggView.applyBatch(spark, sf, root, page(1500L, 2500L), 1L)
    val before = viewAt(root).collect().toSet
    // at-least-once: the sink sees batch 1 again after a checkpoint
    // crash — the log partition rewrites identical bytes, the view
    // fold skips on gen
    StreamingAggView.applyBatch(spark, sf, root, page(1500L, 2500L), 1L)
    assert(viewAt(root).collect().toSet == before,
      "redelivery changed the view")
    assert(StreamingAggView.viewGen(spark, root) == 1L)
  }

  test("crash after the log append, before the view fold, replays clean") {
    val root = freshRoot("crash")
    StreamingAggView.applyBatch(spark, sf, root, page(0L, 1500L), 0L)
    // simulate the torn window: batch 1's LOG partition reaches disk
    // but the process dies before the view fold — exactly what the
    // maintainer's step 1 writes
    val torn = page(1500L, 2500L)
      .groupBy(col("invoice_id"))
      .agg(max(struct(col("change_version"), col("change_operation"))).as("m"))
      .select(col("invoice_id"),
        col("m.change_version").as("change_version"),
        col("m.change_operation").as("change_operation"))
      .withColumn("batch_id", lit(1L))
    tornAppend(root, torn, 1L)
    assert(StreamingAggView.viewGen(spark, root) == 0L,
      "view must not have advanced past batch 0")
    // restart redelivers batch 1 in full
    StreamingAggView.applyBatch(spark, sf, root, page(1500L, 2500L), 1L)
    assertSame(viewAt(root), AggView.directView(spark, sf, 2500L),
      "replay over the torn log diverges from the direct view")
  }

  test("min/max streamed fold over arbitrary pages equals the direct view") {
    val root = freshRoot("mmfold")
    val pages = Seq((0L, 700L), (700L, 1500L), (1500L, 2500L),
      (2500L, Long.MaxValue))
    pages.zipWithIndex.foreach { case ((lo, hi), i) =>
      StreamingAggView.applyMinMaxBatch(spark, sf, root, page(lo, hi),
        i.toLong)
    }
    assertSame(StreamingAggView.currentMinMaxView(spark, root),
      AggView.directMinMaxView(spark, sf, Long.MaxValue),
      "drained min/max fold diverges from the direct view")
  }

  test("min/max redelivery is a no-op and replays the torn-log window clean") {
    val root = freshRoot("mmcrash")
    StreamingAggView.applyMinMaxBatch(spark, sf, root, page(0L, 1500L), 0L)
    val before = StreamingAggView.currentMinMaxView(spark, root)
      .collect().toSet
    StreamingAggView.applyMinMaxBatch(spark, sf, root, page(0L, 1500L), 0L)
    assert(StreamingAggView.currentMinMaxView(spark, root)
      .collect().toSet == before, "min/max redelivery changed the view")
    // torn window: batch 1's log partition lands, the fold does not
    val torn = page(1500L, 2500L)
      .groupBy(col("invoice_id"))
      .agg(max(struct(col("change_version"), col("change_operation"))).as("m"))
      .select(col("invoice_id"),
        col("m.change_version").as("change_version"),
        col("m.change_operation").as("change_operation"))
      .withColumn("batch_id", lit(1L))
    tornAppend(root, torn, 1L)
    StreamingAggView.applyMinMaxBatch(spark, sf, root, page(1500L, 2500L), 1L)
    assertSame(StreamingAggView.currentMinMaxView(spark, root),
      AggView.directMinMaxView(spark, sf, 2500L),
      "min/max replay over the torn log diverges")
  }

  /** The batch ids the log still holds rows of (empty for a fully
    * compacted log, which has no files to infer a schema from). */
  private def logParts(root: String): Set[Long] = {
    val dirs = graft.streaming.ManifestSwap.readDataPaths(spark, s"$root/log")
    if (dirs.isEmpty) Set.empty
    else spark.read.parquet(dirs: _*).select("batch_id").distinct()
      .collect().map(_.getLong(0)).toSet
  }

  test("log compaction preserves the fold: compact mid-stream, keep folding") {
    val root = freshRoot("compact")
    StreamingAggView.applyBatch(spark, sf, root, page(0L, 700L), 0L)
    StreamingAggView.applyBatch(spark, sf, root, page(700L, 1500L), 1L)
    StreamingAggView.compactLog(spark, root)
    // both folded batches moved into the bucketed state checkpoint; the
    // log keeps nothing newer
    val parts = logParts(root)
    assert(parts == Set.empty, s"log partitions after compaction: $parts")
    assert(StreamingAggView.stateGen(spark, root) == 1L,
      "state checkpoint generation must be the folded bound")
    // folds continue over the checkpoint exactly as over the raw log
    StreamingAggView.applyBatch(spark, sf, root, page(1500L, 2500L), 2L)
    assertSame(viewAt(root), AggView.directView(spark, sf, 2500L),
      "fold over the compacted log diverges")
    // a redelivered pre-compaction batch is still a no-op: the stray
    // re-appended partition collapses against the checkpoint (same
    // entity, same version) and the gen stamp skips the fold
    StreamingAggView.applyBatch(spark, sf, root, page(700L, 1500L), 1L)
    StreamingAggView.applyBatch(spark, sf, root, page(2500L, 4000L), 3L)
    assertSame(viewAt(root), AggView.directView(spark, sf, 4000L),
      "post-compaction redelivery corrupted the fold")
  }

  test("an unfolded (torn) tail partition survives compaction unfolded") {
    val root = freshRoot("compact-torn")
    StreamingAggView.applyBatch(spark, sf, root, page(0L, 1500L), 0L)
    // batch 1 reaches the log but not the view (the crash window)
    val torn = page(1500L, 2500L)
      .groupBy(col("invoice_id"))
      .agg(max(struct(col("change_version"), col("change_operation"))).as("m"))
      .select(col("invoice_id"),
        col("m.change_version").as("change_version"),
        col("m.change_operation").as("change_operation"))
      .withColumn("batch_id", lit(1L))
    tornAppend(root, torn, 1L)
    // even an EXPLICIT over-ask must clamp to the folded generation —
    // folding the torn partition would make its replay a zero delta
    StreamingAggView.compactLog(spark, root, upTo = Some(1L))
    val parts = logParts(root)
    assert(parts == Set(1L),
      s"the unfolded tail must stay a log partition: $parts")
    assert(StreamingAggView.stateGen(spark, root) == 0L,
      "the torn batch must not reach the state checkpoint")
    // restart redelivers batch 1; the fold sees checkpoint + its page
    StreamingAggView.applyBatch(spark, sf, root, page(1500L, 2500L), 1L)
    assertSame(viewAt(root), AggView.directView(spark, sf, 2500L),
      "replay after compaction-with-torn-tail diverges")
  }

  test("per-batch prior-state derivation partition-prunes the state checkpoint") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val root = freshRoot("bucket")
    // fold a WIDE batch so the compacted checkpoint populates many
    // entity buckets, then a SMALL page that touches only a few
    StreamingAggView.applyBatch(spark, sf, root, page(0L, Long.MaxValue), 0L)
    StreamingAggView.compactLog(spark, root)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bucketDirs = fs.listStatus(new org.apache.hadoop.fs.Path(
        graft.streaming.ManifestSwap.readPath(spark, s"$root/statecp").get))
      .map(_.getPath.getName).count(_.startsWith("ebkt="))
    // a 3-entity page: at most 3 of the 16 buckets can be touched
    val small = page(0L, 200L).limit(3).localCheckpoint(true)
    val touchedBkts = small
      .select(StreamingAggView.ebktOf(col("invoice_id")).as("b"))
      .distinct().count()
    assert(touchedBkts > 0, "need a non-empty probe page")
    assert(touchedBkts < bucketDirs,
      s"probe must touch fewer buckets ($touchedBkts) than exist ($bucketDirs)")
    val derived = StreamingAggView.priorState(spark, root, Some(small), 1L)
    // execute THIS plan (an outer .count() would run a different
    // QueryExecution and leave these metrics empty), then read the
    // state scan's file count off the executed plan
    derived.queryExecution.executedPlan.execute().count()
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case s: QueryStageExec => scans(s.plan)
      case r: ReusedExchangeExec => scans(r.child)
      case f: FileSourceScanExec => Seq(f)
      case o => o.children.flatMap(scans)
    }
    val stateScans = scans(derived.queryExecution.executedPlan).filter(
      _.relation.location.rootPaths.exists(_.toString.contains("statecp")))
    assert(stateScans.nonEmpty, "expected a parquet scan of the checkpoint")
    assert(stateScans.forall(_.partitionFilters.nonEmpty),
      "the checkpoint scan must carry a partition filter on ebkt")
    val filesRead = stateScans.map(_.metrics("numFiles").value).sum
    assert(filesRead <= touchedBkts,
      s"read $filesRead checkpoint files for $touchedBkts touched buckets")
    assert(filesRead < bucketDirs,
      s"read every bucket ($filesRead of $bucketDirs): pruning is dead")
    // and the derivation itself is still exactly the prior live state
    // of the page's keys
    assertSame(derived,
      graft.cdc.Merge.liveSnapshot(spark, sf, Long.MaxValue)
        .join(small.select("invoice_id").distinct(),
          Seq("invoice_id"), "left_semi"),
      "pruned derivation diverges from the live snapshot")
  }

  /** Reference for the sketch view: per latest-op group over the given
    * pages, distinct entities (set-deduped across pages) and collapsed
    * row counts. */
  private def directSketchView(pages: Seq[(Long, Long)])
      : Map[String, (Long, Long)] = {
    val collapsed = pages.map { case (lo, hi) => page(lo, hi) }
      .reduce(_ unionByName _)
    val distinct = collapsed.select("change_operation", "invoice_id")
      .distinct().groupBy("change_operation").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val obs = collapsed.groupBy("change_operation").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    distinct.map { case (op, nd) => op -> (nd, obs(op)) }
  }

  private def sketchViewOf(root: String): Map[String, (Long, Long)] =
    StreamingAggView.currentSketchView(spark, root)
      .select(col("grp"),
        expr("CAST(theta_sketch_estimate(sketch) AS BIGINT)"),
        col("n_rows"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap

  test("sketch fold over arbitrary pages equals the direct per-op distincts") {
    val root = freshRoot("skfold")
    val pages = Seq((0L, 700L), (700L, 1500L), (1500L, 2500L),
      (2500L, Long.MaxValue))
    pages.zipWithIndex.foreach { case ((lo, hi), i) =>
      StreamingAggView.applySketchBatch(spark, root, page(lo, hi), i.toLong)
    }
    assert(sketchViewOf(root) == directSketchView(pages),
      "drained sketch view diverges from the direct per-op distincts")
  }

  test("sketch redelivery is a no-op and the torn-log window replays clean") {
    val root = freshRoot("skcrash")
    StreamingAggView.applySketchBatch(spark, root, page(0L, 1500L), 0L)
    val before = sketchViewOf(root)
    // at-least-once redelivery: gen stamp skips the fold
    StreamingAggView.applySketchBatch(spark, root, page(0L, 1500L), 0L)
    assert(sketchViewOf(root) == before, "sketch redelivery changed the view")
    // torn window: batch 1's log partition lands, the fold does not
    val torn = page(1500L, 2500L).withColumn("batch_id", lit(1L))
    tornAppend(root, torn, 1L)
    assert(StreamingAggView.viewGen(spark, root, "viewsk") == 0L)
    StreamingAggView.applySketchBatch(spark, root, page(1500L, 2500L), 1L)
    assert(sketchViewOf(root) ==
      directSketchView(Seq((0L, 1500L), (1500L, 2500L))),
      "sketch replay over the torn log diverges")
  }

  private def topkViewOf(root: String): Set[(String, Long, Long)] =
    StreamingAggView.currentTopKView(spark, root).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

  /** Exact per-(op, entity) page counts — what the MG view must equal
    * while its cap never binds. */
  private def directTopkCounts(pages: Seq[(Long, Long)])
      : Set[(String, Long, Long)] =
    pages.map { case (lo, hi) =>
      page(lo, hi).groupBy(col("invoice_id"))
        .agg(max(struct(col("change_version"), col("change_operation")))
          .as("m"))
        .select(col("m.change_operation").as("grp"), col("invoice_id"))
    }.reduce(_ unionByName _)
      .groupBy("grp", "invoice_id").agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet

  test("top-k fold below capacity equals the exact per-op counts") {
    val root = freshRoot("tkfold")
    val pages = Seq((0L, 700L), (700L, 1500L), (1500L, 2500L),
      (2500L, Long.MaxValue))
    pages.zipWithIndex.foreach { case ((lo, hi), i) =>
      StreamingAggView.applyTopKBatch(spark, root, page(lo, hi), i.toLong)
    }
    assert(topkViewOf(root) == directTopkCounts(pages),
      "unbound MG counters must equal the exact counts")
  }

  test("top-k redelivery is a no-op; forced capacity obeys the MG laws") {
    val root = freshRoot("tkcrash")
    StreamingAggView.applyTopKBatch(spark, root, page(0L, 1500L), 0L)
    val before = topkViewOf(root)
    StreamingAggView.applyTopKBatch(spark, root, page(0L, 1500L), 0L)
    assert(topkViewOf(root) == before, "top-k redelivery changed the view")
    // forced decrement regime: tiny capacity — bounded size, one-sided
    // undercount vs the exact counts, deterministic across a rerun
    val r2 = freshRoot("tkcap")
    val pages = Seq((0L, 1500L), (1500L, Long.MaxValue))
    pages.zipWithIndex.foreach { case ((lo, hi), i) =>
      StreamingAggView.applyTopKBatch(spark, r2, page(lo, hi), i.toLong,
        capacity = 3)
    }
    val capped = topkViewOf(r2)
    val exact = directTopkCounts(pages)
      .map { case (g, id, c) => (g, id) -> c }.toMap
    capped.groupBy(_._1).foreach { case (g, rows) =>
      assert(rows.size <= 3, s"$g: view exceeds capacity")
    }
    capped.foreach { case (g, id, c) =>
      assert(c <= exact((g, id)),
        s"MG counter must never overcount: $g/$id")
    }
    val r3 = freshRoot("tkcap2")
    pages.zipWithIndex.foreach { case ((lo, hi), i) =>
      StreamingAggView.applyTopKBatch(spark, r3, page(lo, hi), i.toLong,
        capacity = 3)
    }
    assert(topkViewOf(r3) == capped, "capped fold must be deterministic")
  }

  test("all three view families fold off ONE log append per batch") {
    val root = freshRoot("unified")
    val src = s"$root/src"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val pages = Seq((0L, 1200L), (1200L, 2500L))
    pages.zipWithIndex.foreach { case ((lo, hi), i) =>
      val tmp = s"$root/stage-$i"
      page(lo, hi).coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
        .map(_.getPath).find(_.getName.startsWith("part-")).get
      fs.mkdirs(new org.apache.hadoop.fs.Path(src))
      fs.rename(part,
        new org.apache.hadoop.fs.Path(s"$src/page-$i.parquet"))
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    }
    StreamingAggView.maintain(spark, sf, src, s"$root/state", s"$root/ck",
      countSum = true, minMax = true, sketch = true).awaitTermination()
    // one log partition per drained batch — the selections share it
    assert(logParts(s"$root/state") == Set(0L, 1L),
      s"log partitions: ${logParts(s"$root/state")}")
    assertSame(viewAt(s"$root/state"),
      AggView.directView(spark, sf, 2500L),
      "unified drain: count/sum view diverges")
    assertSame(StreamingAggView.currentMinMaxView(spark, s"$root/state"),
      AggView.directMinMaxView(spark, sf, 2500L),
      "unified drain: min/max view diverges")
    assert(sketchViewOf(s"$root/state") == directSketchView(pages),
      "unified drain: sketch view diverges")
    // and the sketch view bounds compaction like any other family
    StreamingAggView.compactLog(spark, s"$root/state")
    assert(StreamingAggView.stateGen(spark, s"$root/state") == 1L)
    assert(logParts(s"$root/state") == Set.empty)
    Seq("view", "viewmm", "statecp").foreach(d =>
      assertGenerationsMarked(s"$root/state/$d"))
  }

  test("the streaming maintainer drains staged pages to the direct view") {
    val root = freshRoot("stream")
    val src = s"$root/src"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq((0L, 1200L), (1200L, 2500L)).zipWithIndex.foreach {
      case ((lo, hi), i) =>
        val tmp = s"$root/stage-$i"
        page(lo, hi).coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
          .map(_.getPath).find(_.getName.startsWith("part-")).get
        fs.mkdirs(new org.apache.hadoop.fs.Path(src))
        fs.rename(part,
          new org.apache.hadoop.fs.Path(s"$src/page-$i.parquet"))
        fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    }
    StreamingAggView.maintain(spark, sf, src, s"$root/state", s"$root/ck")
      .awaitTermination()
    assertSame(viewAt(s"$root/state"),
      AggView.directView(spark, sf, 2500L),
      "streamed view diverges from the direct view")
  }
}
