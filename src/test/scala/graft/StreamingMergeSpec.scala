package graft

import org.apache.spark.sql.functions._
import graft.cdc.{Merge, TombstoneCdc}
import graft.streaming.StreamingMerge

/** Streaming MERGE state maintenance: the streamed state table equals
  * the batch snapshot, and a crash in the swap→commit window converges
  * after restart (merge idempotence end-to-end). */
class StreamingMergeSpec extends SparkSpec {

  private def writeChangeTable(): String = {
    val table = tmpDir("smerge-feed")
    TombstoneCdc.headerFeedOps(spark, sf)
      .unionByName(TombstoneCdc.lineFeedOps(spark, sf))
      .coalesce(2).write.mode("overwrite").parquet(table)
    table
  }

  private def assertStateEqualsSnapshot(statePath: String): Unit = {
    val got = StreamingMerge.stateTable(spark, statePath)
      .select("invoice_id", "change_version", "change_operation")
    val want = Merge.liveSnapshot(spark, sf, Long.MaxValue)
      .select("invoice_id", "change_version", "change_operation")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "streamed state diverges from the batch snapshot")
  }

  test("streamed merge over bounded pages equals the batch snapshot") {
    val state = tmpDir("smerge-state") + "/state"
    val q = StreamingMerge.maintain(spark, writeChangeTable(),
      "change_version", "invoice_id", "change_operation",
      state, tmpDir("smerge-ckpt"), pageVersions = 800L)
    q.awaitTermination(180000)
    assertStateEqualsSnapshot(state)
    assertGenerationsMarked(state)
  }

  test("crash between state swap and checkpoint commit converges on restart") {
    val table = writeChangeTable()
    val state = tmpDir("smerge-crash-state") + "/state"
    val ckpt = tmpDir("smerge-crash-ckpt")
    val q1 = StreamingMerge.maintain(spark, table,
      "change_version", "invoice_id", "change_operation",
      state, ckpt, pageVersions = 800L,
      onBatchMerged = bid =>
        if (bid == 1) throw new RuntimeException("injected crash after swap"))
    val failed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.awaitTermination()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(failed).exists(_.contains("injected crash")),
      s"wrong failure: $failed")
    // batch 1's merge IS on disk (swap preceded the crash)...
    assert(StreamingMerge.stateTable(spark, state).count() > 0)
    // ...and the restart redelivers it; version-compare merge replays
    // to the same state, then drains the rest of the feed
    val q2 = StreamingMerge.maintain(spark, table,
      "change_version", "invoice_id", "change_operation",
      state, ckpt, pageVersions = 800L)
    q2.awaitTermination(180000)
    assertStateEqualsSnapshot(state)
  }

  test("the state root keeps a bounded number of generations however " +
      "many batches it applies") {
    import spark.implicits._
    import graft.streaming.ManifestSwap
    val state = tmpDir("smerge-gc") + "/state"
    def gens() = Option(new java.io.File(s"$state/_gens").listFiles())
      .map(_.length).getOrElse(0)
    def batch(v: Long) = Seq((v % 3, v, "U"))
      .toDF("invoice_id", "change_version", "change_operation")
    // inside the gc grace every superseded copy stays for its readers
    (1L to 3L).foreach(v => StreamingMerge.applyBatch(spark, state, batch(v)))
    assert(gens() == 3, s"copies inside the grace: ${gens()}")
    // past it, each batch reaps what it superseded
    ManifestSwap.housekeepingGraceMs = 0L
    try (4L to 9L).foreach { v =>
      StreamingMerge.applyBatch(spark, state, batch(v))
      assert(gens() <= 2, s"after batch $v: ${gens()} generations")
    } finally ManifestSwap.housekeepingGraceMs = ManifestSwap.DefaultGraceMs
    val got = StreamingMerge.stateTable(spark, state)
      .select("invoice_id", "change_version").as[(Long, Long)]
      .collect().toSeq.sorted
    assert(got == Seq((0L, 9L), (1L, 7L), (2L, 8L)), s"state: $got")
  }
}
