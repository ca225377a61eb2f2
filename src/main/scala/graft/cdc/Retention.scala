package graft.cdc

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** T6 — changefeed retention & compaction (reference: 3-day
  * CHANGE_RETENTION with AUTO_CLEANUP, setup-invoice-db.sql:70-72).
  * SQL Server prunes its change table in the background; here the same
  * policy is an explicit maintenance job over the change-table files.
  *
  * The compacted layout is range-partitioned and sorted by version, so
  * every output file covers a disjoint version range — parquet footer
  * min/max stats then let the graft-cdc source open O(1) files per
  * version page (CdcFiles.partitionsFor) no matter how large the
  * retained window is.
  */
object Retention {

  /** Drop change records at or below the retention watermark — the
    * AUTO_CLEANUP semantics. Consumers whose cursor is older than the
    * watermark must reset and re-sync, exactly as with the reference's
    * expired retention. */
  def expire(changes: DataFrame, watermarkVersion: Long): DataFrame =
    changes.filter(col("change_version") > watermarkVersion)

  /** Kafka-style log compaction: keep only the newest change per entity
    * (all versions ≤ `upTo` collapse; newer records pass through
    * untouched so in-flight consumers see a consistent tail). */
  def logCompact(changes: DataFrame, upTo: Long): DataFrame = {
    val old = changes.filter(col("change_version") <= upTo)
      .groupBy(col("entity_id"))
      .agg(max(col("change_version")).as("change_version"))
      .select(col("entity_id"), col("change_version"))
    changes.filter(col("change_version") > upTo)
      .select(col("entity_id"), col("change_version"))
      .unionByName(old)
  }

  /** Rewrite a change table version-ordered: `nFiles` range partitions,
    * rows sorted within each, giving disjoint per-file version ranges
    * for footer-stats pruning. */
  def writeCompacted(changes: DataFrame, outPath: String, nFiles: Int): Unit =
    changes
      .repartitionByRange(nFiles, col("change_version"))
      .sortWithinPartitions(col("change_version"))
      .write.mode(SaveMode.Append).parquet(outPath)
}
