package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType
import graft.cdc.Scd2

/** Streaming SCD Type-2 maintenance — the incremental warehouse
  * history: each micro-batch of changes closes the open interval of
  * every touched entity and appends its new intervals, leaving
  * untouched entities' rows byte-identical. The classic pain point of
  * incremental SCD2 (update-in-place of the open row) reduces here to
  * a REBUILD OF TOUCHED ENTITIES ONLY: the history table already
  * stores every change of an entity as `(valid_from, op)`, so the new
  * history of a touched entity is [[Scd2.history]] over (its stored
  * changes ∪ its batch changes) — no special casing of the open row,
  * and replaying a batch is a no-op because the union dedups.
  *
  * Scale notes (100 TB): the touched-entity set is batch-bounded; the
  * rebuild window runs over touched entities only (semi/anti joins on
  * the entity key — with the history bucketed by entity, StateLayout,
  * only touched buckets rewrite and the anti-join side never
  * shuffles). The open-interval UPDATE a row-store would do in place
  * becomes the same bounded rewrite every table-format (Delta/Iceberg)
  * MERGE performs.
  */
object StreamingScd2 {

  private val historySchema = StructType.fromDDL(
    "invoice_id LONG, change_operation STRING, valid_from LONG, " +
      "valid_to LONG, is_current LONG")

  /** Current history table: the committed snapshot (empty before the
    * first batch). */
  def historyTable(spark: SparkSession, historyPath: String): DataFrame =
    ManifestSwap.readOrEmpty(spark, historyPath, historySchema)

  /** One maintenance step: rebuild the touched entities' histories
    * from (stored changes ∪ batch changes), pass untouched entities
    * through and publish ([[ManifestSwap.install]], which also reaps
    * the superseded copies). `batch` columns:
    * (invoice_id, change_version, change_operation). */
  private[graft] def applyBatch(spark: SparkSession, historyPath: String,
                                    batch: DataFrame): Unit = {
    val hist = historyTable(spark, historyPath)
    val touched = batch.select(col("invoice_id")).distinct()
    val storedChanges = hist
      .join(touched, Seq("invoice_id"), "left_semi")
      .select(col("invoice_id"), col("change_operation"),
        col("valid_from").as("change_version"))
    val rebuilt = Scd2.history(storedChanges.unionByName(
      batch.select("invoice_id", "change_operation", "change_version")))
    val untouched = hist.join(touched, Seq("invoice_id"), "left_anti")
    val next = untouched.unionByName(
      rebuilt.select(untouched.columns.toIndexedSeq.map(col): _*))
    ManifestSwap.install(spark, historyPath)(tmp =>
      next.write.mode("append").parquet(tmp))
  }

  /** Launch continuous history maintenance over a change-table file —
    * scaffold contract in [[ChangeStream.maintain]]. */
  def maintain(spark: SparkSession, changeTablePath: String,
               versionColumn: String, entityColumn: String,
               operationColumn: String, historyPath: String,
               checkpointDir: String, pageVersions: Long = 1000L,
               onBatchApplied: Long => Unit = _ => ()): StreamingQuery =
    ChangeStream.maintain(spark, changeTablePath, versionColumn,
      entityColumn, operationColumn, checkpointDir, pageVersions,
      onBatchApplied) { (batch, _) =>
      applyBatch(batch.sparkSession, historyPath,
        batch.select(col("entity_id").as("invoice_id"),
          col("change_version"), col("change_operation")))
    }
}
