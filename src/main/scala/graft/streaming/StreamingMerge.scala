package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType
import graft.cdc.Merge

/** Streaming MERGE — continuous state-table maintenance from the
  * change feed: the graft-cdc source streams bounded version pages of
  * (entity_id, change_version, change_operation) and each micro-batch
  * is collapsed latest-op-wins, then MERGEd into the parquet state
  * table (insert/update replace the entity row, delete removes it).
  * This is the streaming twin of [[graft.cdc.Merge.incrementalSnapshot]]
  * and the state-table counterpart of [[CdcPipeline]]'s document
  * delivery.
  *
  * Exactly-once: the checkpoint offset log marks a batch done only
  * after the state commit; a crash between it and the checkpoint
  * commit redelivers the batch, and the version-compare merge is
  * IDEMPOTENT (MergeSpec), so replay converges to the same state. Each new state is one
  * [[ManifestSwap]] generation committed by one atomic pointer write —
  * a crash anywhere leaves readers on the previous complete state.
  *
  * Scale notes (100 TB): per batch the change side is a bounded page;
  * the state side is the big table. Here the state is rewritten per
  * batch (full outer join → overwrite) — at warehouse scale the same
  * merge runs against a BUCKETED state layout (StateLayout) so only
  * the buckets containing changed entities rewrite, which is how
  * table-format MERGE compiles. The collapse, join, and publish shapes
  * are identical either way.
  */
object StreamingMerge {

  private val stateSchema = StructType.fromDDL(
    "invoice_id LONG, change_version LONG, change_operation STRING")

  /** Current state table: the committed snapshot (empty relation
    * before the first batch). */
  def stateTable(spark: SparkSession, statePath: String): DataFrame =
    ManifestSwap.readOrEmpty(spark, statePath, stateSchema)

  /** Collapse one micro-batch of change records latest-op-wins per
    * entity — same single-aggregate shape as
    * TombstoneCdc.changedInvoicesOps, over the bounded page. */
  private[graft] def collapseBatch(batch: DataFrame): DataFrame =
    batch.groupBy(col("entity_id").as("invoice_id"))
      .agg(max(struct(col("change_version"), col("change_operation"))).as("m"))
      .select(col("invoice_id"),
        col("m.change_version").as("change_version"),
        col("m.change_operation").as("change_operation"))

  /** One maintenance step: merge a collapsed batch into the state
    * table and publish the new state ([[ManifestSwap.install]], which
    * also reaps the copies it superseded). */
  private[graft] def applyBatch(spark: SparkSession, statePath: String,
                                    collapsed: DataFrame): Unit = {
    val next = Merge.mergeUpsert(stateTable(spark, statePath), collapsed)
    ManifestSwap.install(spark, statePath)(tmp =>
      next.write.mode("append").parquet(tmp))
  }

  /** Launch continuous state maintenance over a change-table file —
    * scaffold contract in [[ChangeStream.maintain]];
    * `onBatchMerged(batchId)` fires after the state commit, before the
    * checkpoint commit (the T2 crash window). */
  def maintain(spark: SparkSession, changeTablePath: String,
               versionColumn: String, entityColumn: String,
               operationColumn: String, statePath: String,
               checkpointDir: String, pageVersions: Long = 1000L,
               onBatchMerged: Long => Unit = _ => ()): StreamingQuery =
    ChangeStream.maintain(spark, changeTablePath, versionColumn,
      entityColumn, operationColumn, checkpointDir, pageVersions,
      onBatchMerged) { (batch, _) =>
      applyBatch(batch.sparkSession, statePath, collapseBatch(batch))
    }
}
