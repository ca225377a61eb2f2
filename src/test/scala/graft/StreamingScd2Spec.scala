package graft

import org.apache.spark.sql.functions._
import graft.cdc.{Scd2, TombstoneCdc}
import graft.streaming.StreamingScd2

/** Streaming SCD2 maintenance: the streamed history equals the batch
  * history, batches only rewrite touched entities, and the injected
  * crash window converges on restart. */
class StreamingScd2Spec extends SparkSpec {

  private def writeChangeTable(): String = {
    val table = tmpDir("sscd2-feed")
    TombstoneCdc.headerFeedOps(spark, sf)
      .unionByName(TombstoneCdc.lineFeedOps(spark, sf))
      .coalesce(2).write.mode("overwrite").parquet(table)
    table
  }

  private def assertEqualsBatchHistory(historyPath: String): Unit = {
    val cols = Seq("invoice_id", "change_operation", "valid_from",
      "valid_to", "is_current")
    val got = StreamingScd2.historyTable(spark, historyPath)
      .select(cols.map(col): _*)
    val want = Scd2.invoiceHistory(spark, sf).select(cols.map(col): _*)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "streamed history diverges from the batch history")
  }

  test("streamed history over bounded pages equals the batch history") {
    val history = tmpDir("sscd2-hist") + "/history"
    val q = StreamingScd2.maintain(spark, writeChangeTable(),
      "change_version", "invoice_id", "change_operation",
      history, tmpDir("sscd2-ckpt"), pageVersions = 800L)
    q.awaitTermination(180000)
    assertEqualsBatchHistory(history)
    assertGenerationsMarked(history)
  }

  test("crash between history swap and checkpoint commit converges on restart") {
    val table = writeChangeTable()
    val history = tmpDir("sscd2-crash-hist") + "/history"
    val ckpt = tmpDir("sscd2-crash-ckpt")
    val q1 = StreamingScd2.maintain(spark, table,
      "change_version", "invoice_id", "change_operation",
      history, ckpt, pageVersions = 800L,
      onBatchApplied = bid =>
        if (bid == 1) throw new RuntimeException("injected crash after swap"))
    val failed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.awaitTermination()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(failed).exists(_.contains("injected crash")),
      s"wrong failure: $failed")
    val q2 = StreamingScd2.maintain(spark, table,
      "change_version", "invoice_id", "change_operation",
      history, ckpt, pageVersions = 800L)
    q2.awaitTermination(180000)
    assertEqualsBatchHistory(history)
  }

  test("a batch leaves untouched entities' rows byte-identical") {
    import spark.implicits._
    val history = tmpDir("sscd2-touch") + "/history"
    // seed: two entities with one change each; step: only entity 2
    val seed = Seq((1L, 10L, "I"), (2L, 20L, "I"))
      .toDF("invoice_id", "change_version", "change_operation")
    val step = Seq((2L, 40L, "U"))
      .toDF("invoice_id", "change_version", "change_operation")
    val t1 = tmpDir("sscd2-seed"); seed.write.mode("overwrite").parquet(t1)
    val q1 = StreamingScd2.maintain(spark, t1, "change_version",
      "invoice_id", "change_operation", history, tmpDir("sscd2-ck1"))
    q1.awaitTermination(180000)
    val before = StreamingScd2.historyTable(spark, history)
      .filter($"invoice_id" === 1L).collect().toSet
    val t2 = tmpDir("sscd2-step"); step.write.mode("overwrite").parquet(t2)
    val q2 = StreamingScd2.maintain(spark, t2, "change_version",
      "invoice_id", "change_operation", history, tmpDir("sscd2-ck2"))
    q2.awaitTermination(180000)
    val after = StreamingScd2.historyTable(spark, history)
      .filter($"invoice_id" === 1L).collect().toSet
    assert(before == after, "entity 1 was not touched and must not change")
    // entity 2 now has a closed interval and a new open one
    val e2 = StreamingScd2.historyTable(spark, history)
      .filter($"invoice_id" === 2L).orderBy($"valid_from")
      .select("valid_from", "valid_to", "is_current")
      .as[(Long, Option[Long], Long)].collect().toSeq
    assert(e2 == Seq((20L, Some(40L), 0L), (40L, None, 1L)), s"got $e2")
  }
}
