package graft.cdc

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{FeedSnapshot, SnapshotRegistry, SnapshotSlot, Tables}

/** The reference's change-data-capture page query re-expressed as one
  * declarative Spark plan.
  *
  * Semantics source: `sp_GetInvoiceChanges` (reference
  * sqls/storedprocedure.sql:4-57): union the header and line changefeeds
  * bounded by a snapshot version, collapse to MAX(change_version) per
  * invoice, rehydrate against current state, re-nest invoice lines as a
  * JSON array, and return the oldest-first top-K page.
  *
  * Testdata mapping (FIXTURES.md §C): `orders` plays InvoiceHeader,
  * `lineitem` plays InvoiceLine. The driver testdata has no change log for
  * these tables, so we derive a deterministic synthetic one: a header
  * change at version 2*o_orderkey, a line change at version
  * 2*l_orderkey+1. That keeps versions monotonic, collision-free between
  * the two feeds, and SQL-expressible for the DuckDB oracle.
  *
  * Scale notes (100 TB): the changefeed page is bounded by `limit`, so
  * every join against it is broadcast-able — the only shuffle in the
  * single-plan [[pageQuery]] is the max-version aggregation over the
  * (small) feed itself; its rehydration join (J2) streams the big
  * `orders` table past the broadcast page and its line nest shuffles the
  * page-pruned `lineitem` on its FK.
  *
  * The serving paths — [[rehydratePage]] (ChangeFeed polls),
  * TombstoneCdc.rehydratePageDf (TombstoneFeed polls) and
  * CdcPipeline.assembleDocuments (streaming micro-batches) — instead look
  * their page up in a CURRENT-STATE INDEX, the analog of the reference's
  * clustered primary-key index that `sp_GetInvoiceChanges` seeks into
  * (storedprocedure.sql:36-55): one row per invoice id, `orders` FULL
  * OUTER JOIN [[nestedLines]]`(lineitem)`, hash-partitioned by id and
  * persisted in executor storage (never collected). It is built once per
  * snapshot of the two tables' files — identity = (path, length, mtime)
  * of every input file, relisted on each lookup (FeedSnapshot) — so a
  * lookup is a cached scan streamed past the broadcast page: the same
  * O(state) per lookup as scanning the tables, minus the parquet decode,
  * the per-lookup nest and the two schema-inference jobs of
  * `spark.read.parquet`. A state whose files change before every lookup
  * pays a full rebuild each time and gains nothing. The FULL OUTER join
  * keeps every id that has a header, lines or both, so each path is
  * exact: keeping `o_orderkey IS NOT NULL` is the inner rehydration join
  * on the header, and a left lookup keeps an id with lines but no header
  * with its lines, as the page-pruned nest did.
  */
object InvoiceCdc {

  /** S2 — header changefeed: (invoice_id, change_version), version > since.
    * Reference: CHANGETABLE(CHANGES InvoiceHeader, @since),
    * storedprocedure.sql:16-18. */
  def headerFeed(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(
        col("o_orderkey").as("invoice_id"),
        (col("o_orderkey") * 2).as("change_version"))

  /** S2 — line changefeed mapped to its invoice id, one row per changed
    * line. Reference: CHANGETABLE(CHANGES InvoiceLine) INNER JOIN
    * InvoiceLine ON LineId, storedprocedure.sql:21-26. (The testdata has
    * no surrogate line PK — `(l_orderkey, l_linenumber)` is not unique —
    * so the FK is projected directly; the feed→detail join operator itself
    * is exercised by `join_line_feed` over events⋈customer.) */
  def lineFeed(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir).select(
      col("l_orderkey").as("invoice_id"),
      (col("l_orderkey") * 2 + 1).as("change_version"))

  /** U1 + A1 — merged feeds collapsed to the newest change per invoice,
    * bounded (sinceVersion, toVersion]. Reference: storedprocedure.sql:14-34. */
  def changedInvoices(spark: SparkSession, dir: String,
                      since: Long, to: Long): DataFrame =
    headerFeed(spark, dir).unionByName(lineFeed(spark, dir))
      .filter(col("change_version") > since && col("change_version") <= to)
      .groupBy(col("invoice_id"))
      .agg(max(col("change_version")).as("change_version"))

  /** The nested lines array, one row per invoice, ordered by line number
    * for determinism (reference FOR JSON PATH, storedprocedure.sql:42-52).
    * Integer-safe fields so the JSON text is byte-identical across engines:
    * qty is integral in the testdata; price is carried as cents. */
  def nestedLines(li: DataFrame): DataFrame =
    li.groupBy(col("l_orderkey").as("invoice_id"))
      .agg(to_json(sort_array(collect_list(struct(lineFields: _*)))).as("lines"))

  /** The document fields of one line, in [[nestedLines]]' sort order. */
  private def lineFields: Seq[Column] = Seq(
    col("l_linenumber").cast("long").as("line_no"),
    col("l_partkey").as("part_key"),
    col("l_quantity").cast("long").as("qty"),
    round(col("l_extendedprice") * 100).cast("long").as("price_cents"))

  /** The lines of each invoice as a sorted `array<struct>`: the document
    * fields plus the raw `l_quantity`, which the materialized view rounds
    * where the document truncates. It only breaks ties the document
    * fields leave, so the rendered order is [[nestedLines]]' order. */
  private def lineArrays(li: DataFrame): DataFrame =
    li.groupBy(col("l_orderkey").as("invoice_id"))
      .agg(sort_array(collect_list(struct(lineFields :+ col("l_quantity"): _*))).as("lines"))

  /** The JSON text of a [[lineArrays]] array: the document fields only. */
  private def renderLines(lines: Column): Column =
    to_json(transform(lines, _.dropFields("l_quantity")))

  /** The document projection shared by the single-plan page query and
    * the serving path — ONE definition, so the two can never drift from
    * their spec-proven equivalence (PageQuerySpec). Expects the page's
    * (invoice_id, change_version) joined against header columns and the
    * nested `lines`. Reference: storedprocedure.sql:36-53. */
  private def projectDocument(df: DataFrame): DataFrame =
    df.select(
      col("invoice_id"),
      concat(lit("INV-"), lpad(col("o_orderkey").cast("string"), 9, "0"))
        .as("invoice_number"),
      concat(lit("CUST-"), lpad(col("o_custkey").cast("string"), 6, "0"))
        .as("customer_code"),
      col("o_orderdate").as("invoice_date"),
      round(col("o_totalprice"), 2).as("total_amount"),
      col("change_version"),
      coalesce(col("lines"), lit("[]")).as("lines"))
      .orderBy(col("change_version"), col("invoice_id"))

  /** Collect a bounded oldest-first key page to the driver: the ≤limit
    * (invoice_id, change_version) cursor rows, ordered by (version, id).
    * THE single definition of the cursor ordering and row decoding,
    * shared by the serving path (ChangeFeed.poll) and the materialized
    * page query. */
  def collectKeyPage(keys: DataFrame, limit: Int): Array[(Long, Long)] =
    keys
      .orderBy(col("change_version"), col("invoice_id"))
      .limit(limit)
      .collect().map(r => (r.getLong(0), r.getLong(1)))

  /** The full page query: changed invoices → top-K page → rehydrate →
    * nest. Reference: storedprocedure.sql:35-56.
    *
    * The top-K is taken BEFORE the joins: rehydration is 1:1 (every
    * invoice exists in the header) and the nested-lines join is
    * 1:0..1, so `ORDER BY version LIMIT k` commutes with them. That
    * bounds everything downstream of the changefeed aggregation at k
    * rows — the page side is always broadcast-safe regardless of how
    * large the (since, to] window is, the big header table is never
    * shuffled (stream side of a broadcast-hash join), and lineitem is
    * semi-join pruned against the k-row page before the nest's groupBy,
    * so the only full-feed shuffle in the plan is the max-version
    * collapse itself. `limit` plans as TakeOrderedAndProject — the sort
    * never materializes globally. */
  def pageQuery(spark: SparkSession, dir: String,
                since: Long, to: Long, limit: Int): DataFrame = {
    val page = changedInvoices(spark, dir, since, to)
      .orderBy(col("change_version"), col("invoice_id"))
      .limit(limit)
    val hdr = Tables.orders(spark, dir)
    // semi-join prune with the SAME broadcast shape as the main join so
    // ReuseExchange computes the page pipeline once, not per join
    val li = Tables.lineitem(spark, dir)
    val pageLines = li.join(broadcast(page),
      li("l_orderkey") === page("invoice_id"), "left_semi")
    val lines = nestedLines(pageLines)
    projectDocument(
      broadcast(page)
        .join(hdr, page("invoice_id") === hdr("o_orderkey"), "inner")
        .join(broadcast(lines), Seq("invoice_id"), "left"))
  }

  /** The page query the way the serving path actually runs it
    * (ChangeFeed.poll): compute the bounded key page ONCE, collect its
    * ≤limit (invoice_id, change_version) rows, then assemble documents
    * against the literal page. Output-identical to [[pageQuery]]
    * (PageQuerySpec proves it), but the feed collapse — the only
    * full-feed shuffle — runs exactly once. In the single-plan form the
    * page subtree feeds two broadcast joins, and under AQE the two
    * broadcast stages are planned independently (exchange reuse across
    * them is not guaranteed), so the whole union+agg+top-K pipeline can
    * execute twice. At 100 TB that is the difference between one pass
    * over the changefeed per poll and two. */
  def pageQueryMaterialized(spark: SparkSession, dir: String,
                            since: Long, to: Long, limit: Int): DataFrame = {
    val keys = collectKeyPage(changedInvoices(spark, dir, since, to), limit)
    rehydratePage(spark, dir, keys.toSeq)
  }

  /** Rehydrate + nest an already-materialized key page — the ChangeFeed
    * poll path: the ≤limit (invoice_id, change_version) cursor rows were
    * collected driver-side (the reference holds the same rowset in JS),
    * so the document is one lookup of the literal broadcast page in the
    * current-state index, with no feed re-computation. */
  def rehydratePage(spark: SparkSession, dir: String,
                    keys: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    projectDocument(withHeaders(spark, dir, keys.toDF("invoice_id", "change_version")))
  }

  /** The columns of the current-state index, one row per invoice id. */
  private val stateColumns = Seq("invoice_id", "o_orderkey", "o_custkey", "o_orderdate",
    "o_orderstatus", "o_totalprice", "lines")

  /** The current-state index of every (SparkContext, dir). */
  private val stateIndexes = new SnapshotRegistry[DataFrame](_.unpersist())

  /** Current-state index builds in this JVM — each tags its cached plan,
    * so two builds (another SparkContext, or a snapshot whose files
    * changed) never share or serve each other's CacheManager entry. */
  private[graft] val stateBuilds = new AtomicLong()

  /** Milliseconds the calling thread has spent building state indexes. */
  private val buildMs = ThreadLocal.withInitial[Long](() => 0L)

  /** The persisted current-state index of `dir` for the session's
    * SparkContext: `invoice_id`, the header columns and the sorted
    * `lines` array ([[lineArrays]]), one row per id that has a header,
    * lines or both, plus the build tag. Document paths render `lines`
    * as JSON after their join, so only the page's rows pay it.
    * Entries of a stopped SparkContext are dropped, never served. */
  private[graft] def stateIndex(spark: SparkSession, dir: String): DataFrame =
    stateIndexes.current(spark, dir) {
      val t0 = System.nanoTime()
      val hdr = Tables.orders(spark, dir)
      val lines = lineArrays(Tables.lineitem(spark, dir))
      val joined = hdr.join(lines, hdr("o_orderkey") === lines("invoice_id"), "full_outer")
      val rows = SnapshotSlot.materialize(joined
        .select(
          coalesce(hdr("o_orderkey"), lines("invoice_id")).cast("long").as("invoice_id"),
          col("o_orderkey"), col("o_custkey"), col("o_orderdate"), col("o_orderstatus"),
          col("o_totalprice"), col("lines"), lit(stateBuilds.incrementAndGet()).as("state_build"))
        .repartition(spark.sparkContext.defaultParallelism, col("invoice_id")))
      buildMs.set(buildMs.get + (System.nanoTime() - t0) / 1000000L)
      (rows, FeedSnapshot.of(joined))
    }

  private def stateRows(spark: SparkSession, dir: String): DataFrame =
    stateIndex(spark, dir).select(stateColumns.map(col): _*)

  /** The current state of every id that has a header — the inner join
    * on `orders` — with `lines` still the sorted array. */
  private[graft] def headerRows(spark: SparkSession, dir: String): DataFrame =
    stateRows(spark, dir).filter(col("o_orderkey").isNotNull)

  /** `body`'s result and the milliseconds the calling thread spent in it
    * building state indexes (0 when every lookup was a hit) — how a
    * ChangeFeed poll reports a state build as `indexBuildMs`. */
  private[cdc] def timeStateBuilds[T](body: => T): (T, Long) = {
    val before = buildMs.get
    val out = body
    (out, buildMs.get - before)
  }

  /** Unpersist the current-state index of `dir` on the session's
    * SparkContext. Lookups stay usable: the next one builds it again. */
  def releaseState(spark: SparkSession, dir: String): Unit =
    stateIndexes.clear(spark, dir)

  /** Rows of a bounded `page` keyed by `invoice_id` joined to the current
    * state of their id, keeping only ids that have a header — the inner
    * rehydration join on `orders`. The page is broadcast and read once;
    * the cached index streams past it. */
  private[graft] def withHeaders(spark: SparkSession, dir: String, page: DataFrame): DataFrame =
    broadcast(page).join(headerRows(spark, dir), Seq("invoice_id"))
      .withColumn("lines", renderLines(col("lines")))

  /** Every row of a bounded `page` keyed by `invoice_id` with the current
    * state of its id, null where the id has none: a left join, so an id
    * with lines but no header keeps its lines. A broadcast LEFT join
    * cannot build the preserved page side, so the index is first cut to
    * the page's ids (a semi-join against the broadcast page, at most a
    * page of rows) and that cut is broadcast into the left join. */
  private[graft] def withState(spark: SparkSession, dir: String, page: DataFrame): DataFrame = {
    val hit = stateRows(spark, dir)
      .join(broadcast(page.select(col("invoice_id"))), Seq("invoice_id"), "left_semi")
    page.join(broadcast(hit), Seq("invoice_id"), "left")
      .withColumn("lines", renderLines(col("lines")))
  }

  /** S3/A4 — snapshot bound: CHANGE_TRACKING_CURRENT_VERSION().
    * Reference: storedprocedure.sql:11-12. */
  def currentVersion(spark: SparkSession, dir: String): Long = {
    val row = headerFeed(spark, dir).unionByName(lineFeed(spark, dir))
      .agg(max(col("change_version"))).head()
    if (row.isNullAt(0)) 0L else row.getLong(0)
  }

  /** P4 — the composite resume cursor: strictly after (version, id) in
    * lexicographic order. Reference: invoice-api/server.js:165-168. */
  def resumeCursor(version: Long, lastId: Long): Column =
    col("change_version") > lit(version) ||
      (col("change_version") === lit(version) && col("invoice_id") > lit(lastId))
}
