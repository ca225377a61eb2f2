package graft.cdc

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Delete/tombstone change semantics — the capability gap the reference
  * leaves open: SQL Server's `CHANGETABLE` rows carry
  * `SYS_CHANGE_OPERATION` (I/U/D), but `sp_GetInvoiceChanges` silently
  * drops deletes through its inner rehydration join (reference
  * sqls/storedprocedure.sql:55 — a deleted invoice has no
  * `InvoiceHeader` row left to join to), so a delivered document stream
  * serves ghost state for every deleted entity.
  *
  * This module carries the operation through the whole pipeline:
  *
  *  - feeds expose `(invoice_id, change_version, change_operation)`;
  *  - the max-version collapse keeps the operation OF the newest change
  *    (latest op wins per entity — `max(struct(version, op))`, which is
  *    deterministic even under version ties);
  *  - rehydration LEFT-joins current state (a deleted entity may be
  *    gone from it), and a page row whose final operation is a delete
  *    is emitted as a TOMBSTONE document: keys + version + operation
  *    kept, payload columns null, `is_tombstone` set. Consumers replace
  *    their copy on normal documents and drop it on tombstones — no
  *    ghost state.
  *
  * Testdata mapping (FIXTURES.md §C): the driver tables carry no real
  * change log, so like InvoiceCdc's synthetic versions the operation is
  * a deterministic SQL-expressible function of the keys: header changes
  * delete every 10th invoice, insert ids ≡ 1,2 (mod 10); line changes
  * delete every 7th, insert ids ≡ 1 (mod 7). Header and line rules
  * differ on purpose: an invoice's final operation depends on which
  * feed carries its newest version, so the latest-op-wins collapse is
  * genuinely exercised (≈1.7% of invoices have no lines and resolve to
  * the header rule).
  *
  * Scale notes (100 TB): identical plan shape to InvoiceCdc.pageQuery —
  * the operation rides the existing collapse shuffle as one extra
  * column; the tombstone projection is per-row. The poll path rehydrates
  * with a LEFT lookup in InvoiceCdc's current-state index (see its scale
  * notes), so it shares one cached copy of current state with the
  * invoice feed and the streaming pipeline.
  */
object TombstoneCdc {

  /** Operation of a header change (deterministic testdata rule). */
  def headerOp(invoiceId: Column): Column =
    when(pmod(invoiceId, lit(10)) === 0, lit("D"))
      .when(pmod(invoiceId, lit(10)) < 3, lit("I"))
      .otherwise(lit("U"))

  /** Operation of a line change (different modulus, see class doc). */
  def lineOp(invoiceId: Column): Column =
    when(pmod(invoiceId, lit(7)) === 0, lit("D"))
      .when(pmod(invoiceId, lit(7)) === 1, lit("I"))
      .otherwise(lit("U"))

  /** S2+op — header changefeed with its operation column
    * (CHANGETABLE's SYS_CHANGE_OPERATION, storedprocedure.sql:17). */
  def headerFeedOps(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir).select(
      col("o_orderkey").as("invoice_id"),
      (col("o_orderkey") * 2).as("change_version"),
      headerOp(col("o_orderkey")).as("change_operation"))

  /** S2+op — line changefeed with its operation column. */
  def lineFeedOps(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir).select(
      col("l_orderkey").as("invoice_id"),
      (col("l_orderkey") * 2 + 1).as("change_version"),
      lineOp(col("l_orderkey")).as("change_operation"))

  /** T5+op — merged feeds collapsed to the newest change per invoice,
    * KEEPING the newest change's operation (latest op wins).
    * `max(struct(version, op))` is one hash-agg — same single shuffle
    * as the op-less collapse, deterministic under version ties (ops tie
    * with them in the synthetic feed; lexicographic otherwise). */
  def changedInvoicesOps(spark: SparkSession, dir: String,
                         since: Long, to: Long): DataFrame =
    headerFeedOps(spark, dir).unionByName(lineFeedOps(spark, dir))
      .filter(col("change_version") > since && col("change_version") <= to)
      .groupBy(col("invoice_id"))
      .agg(max(struct(col("change_version"), col("change_operation"))).as("m"))
      .select(col("invoice_id"),
        col("m.change_version").as("change_version"),
        col("m.change_operation").as("change_operation"))

  /** The tombstone-aware document projection: deletes keep their keys,
    * version and operation but null payload + `is_tombstone` flag;
    * inserts/updates carry the full document. Expects page columns
    * (invoice_id, change_version, change_operation) joined against
    * (possibly-null) header columns and nested `lines`. */
  private def projectWithTombstones(df: DataFrame): DataFrame = {
    val del = col("change_operation") === "D"
    df.select(
      col("invoice_id"),
      col("change_version"),
      col("change_operation"),
      when(del, lit(null)).otherwise(
        concat(lit("INV-"), lpad(col("o_orderkey").cast("string"), 9, "0")))
        .as("invoice_number"),
      when(del, lit(null)).otherwise(
        concat(lit("CUST-"), lpad(col("o_custkey").cast("string"), 6, "0")))
        .as("customer_code"),
      when(del, lit(null)).otherwise(col("o_orderdate")).as("invoice_date"),
      when(del, lit(null)).otherwise(round(col("o_totalprice"), 2))
        .as("total_amount"),
      when(del, lit(null)).otherwise(coalesce(col("lines"), lit("[]")))
        .as("lines"),
      del.cast("long").as("is_tombstone"))
      .orderBy(col("change_version"), col("invoice_id"))
  }

  /** The delete-aware page query: ops collapse → oldest-first top-K →
    * LEFT rehydration (current state may be gone for deletes) → nest →
    * tombstones for deletes. Same bounded-page plan as
    * InvoiceCdc.pageQuery: the ≤limit page broadcasts into both joins,
    * lineitem is semi-join pruned before the nest. */
  def pageQueryDeletes(spark: SparkSession, dir: String,
                       since: Long, to: Long, limit: Int): DataFrame = {
    val page = changedInvoicesOps(spark, dir, since, to)
      .orderBy(col("change_version"), col("invoice_id"))
      .limit(limit)
    val hdr = Tables.orders(spark, dir)
    val li = Tables.lineitem(spark, dir)
    val pageLines = li.join(broadcast(page),
      li("l_orderkey") === page("invoice_id"), "left_semi")
    val lines = InvoiceCdc.nestedLines(pageLines)
    projectWithTombstones(
      broadcast(page)
        .join(hdr, page("invoice_id") === hdr("o_orderkey"), "left")
        .join(broadcast(lines), Seq("invoice_id"), "left"))
  }

  /** Rehydrate an already-collected ops key page — the ChangeFeed poll
    * path (see InvoiceCdc.rehydratePage): the ≤limit
    * (invoice_id, change_version, change_operation) cursor rows were
    * collected driver-side, so document assembly is one lookup of the
    * literal broadcast page in the current-state index. */
  def rehydrateTombstonePage(spark: SparkSession, dir: String,
                             keys: Seq[(Long, Long, String)]): DataFrame = {
    import spark.implicits._
    rehydratePageDf(spark, dir,
      keys.toDF("invoice_id", "change_version", "change_operation"))
  }

  /** DataFrame flavor of [[rehydrateTombstonePage]] — the page is any
    * bounded (invoice_id, change_version, change_operation) relation
    * (typically a LocalTableScan of collected cursor rows). A LEFT
    * lookup in the current-state index (InvoiceCdc.withState): a deleted
    * entity may be gone from current state, and one with lines but no
    * header keeps its lines. */
  def rehydratePageDf(spark: SparkSession, dir: String,
                      pageDf: DataFrame): DataFrame =
    projectWithTombstones(InvoiceCdc.withState(spark, dir, pageDf))
}

/** The exactly-once poll protocol over a delete-carrying feed: same
  * cursor/commit machinery as ChangeFeed (it subclasses it), but pages
  * rehydrate through the tombstone projection, so a delete whose page
  * crosses a crash boundary is redelivered and collapses to ONE
  * tombstone in the sink — never silently dropped, never doubled. */
class TombstoneFeed(spark: SparkSession, dir: String,
                    store: ConsumerStateStore)
  extends ChangeFeed(spark, dir, store) {

  override protected def changedEntities(since: Long, to: Long): DataFrame =
    TombstoneCdc.changedInvoicesOps(spark, dir, since, to)
      .select(col("invoice_id"), col("change_version"))

  /** The collected page is (id, version); the operation of each key is
    * re-derived by VERSION PARITY — the synthetic feed mints even
    * versions from the header feed (2k) and odd from the line feed
    * (2k+1), so the newest change's feed, and with it the op rule, is
    * the collapsed version's parity. Evaluated with the same
    * headerOp/lineOp column expressions the feeds use (no duplicated
    * rule constants), over the local page only — no big-table pass. */
  override protected def rehydrate(keys: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    val page = keys.toDF("invoice_id", "change_version")
      .withColumn("change_operation",
        when(pmod(col("change_version"), lit(2)) === 1,
          TombstoneCdc.lineOp(col("invoice_id")))
          .otherwise(TombstoneCdc.headerOp(col("invoice_id"))))
    TombstoneCdc.rehydratePageDf(spark, dir, page)
  }
}
