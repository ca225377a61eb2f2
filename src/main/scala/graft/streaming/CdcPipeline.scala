package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.cdc.InvoiceCdc
import graft.sinks.DocumentSink

/** The reference's whole delivery pipeline as ONE streaming query — the
  * capstone of the north star ("Structured Streaming with CDC source"):
  *
  *   graft-cdc source (version offsets, bounded pages)
  *     → per-batch max-version collapse (T5, storedprocedure.sql:28-34)
  *     → rehydration against current state (J2, :55) with nested
  *       lines (J5/A3, :42-52): one lookup in the current-state index
  *     → versioned document sink (S4, server.js:62-80)
  *
  * with the checkpoint offset log playing ChangeTrackingSyncState (T1),
  * exactly-once end-to-end from the offset log + append-idempotent sink
  * (T2), and `maxVersionsPerBatch` as the poll page limit (T3).
  *
  * Scale shape per micro-batch: the batch is bounded, so its collapse
  * runs over ≤page rows, and the collapsed batch is broadcast into ONE
  * lookup of InvoiceCdc's current-state index — `orders` FULL OUTER JOIN
  * the nested `lineitem`, built once per snapshot of those tables' files
  * and cached in executor storage (the stream-static join with its static
  * side cached, so a micro-batch never re-scans or re-nests the tables).
  * `foreachBatch` has no instance to hold the index, so it lives in a
  * registry per (SparkContext, dir); each batch relists the two tables'
  * files and rebuilds the index only when they changed. Keeping ids with
  * a header gives exactly the inner rehydration join on `orders`.
  */
object CdcPipeline {

  /** Assemble invoice documents for one micro-batch of change records
    * (entity_id, change_version): collapse the batch to the newest
    * version per entity, then look it up in the current-state index
    * (InvoiceCdc.withHeaders — header required, nested lines attached) —
    * batch-mode logic shared with tests. The batch is read once. */
  def assembleDocuments(spark: SparkSession, dir: String,
                        batch: DataFrame): DataFrame = {
    val changed = batch
      .groupBy(col("entity_id").as("invoice_id"))
      .agg(max(col("change_version")).as("change_version"))
    InvoiceCdc.withHeaders(spark, dir, changed)
      .select(
        col("invoice_id"),
        concat(lit("INV-"), lpad(col("o_orderkey").cast("string"), 9, "0"))
          .as("invoice_number"),
        col("change_version"),
        coalesce(col("lines"), lit("[]")).as("lines"))
  }

  /** Launch the end-to-end streaming delivery: one consumer = one
    * checkpoint dir (T1/T8); deleting the checkpoint = reset (T7). The
    * feed versions here are events (event_id/user_id), rehydrated
    * against the order state keyed by user-id-as-invoice-id — the
    * testdata mapping of FIXTURES.md §C.
    *
    * `onBatchDelivered(batchId)` fires AFTER the page reached the sink
    * but BEFORE the checkpoint commit — the reference's per-poll
    * delivery log hook (server.js:84). A crash in that window is the
    * T2 hazard: the page is on disk, the offset is not; restart
    * redelivers it and the append-idempotent sink collapses the double
    * write (proven by the restart spec). */
  def deliver(spark: SparkSession, dir: String, sinkDir: String, errDir: String,
              checkpointDir: String, pageVersions: Long = 1000L,
              onBatchDelivered: Long => Unit = _ => ()): StreamingQuery =
    spark.readStream.format("graft-cdc")
      .option("path", s"$dir/events.parquet")
      .option("versionColumn", "event_id")
      .option("entityColumn", "user_id")
      .option("maxVersionsPerBatch", pageVersions.toString)
      .load()
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val docs = assembleDocuments(batch.sparkSession, dir, batch)
        DocumentSink.writeVersioned(docs, sinkDir, errDir)
        onBatchDelivered(batchId)
        ()
      }
      .start()
}
