package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.cdc.InvoiceCdc

/** SURVEY.md §2 relational operator inventory, one declared query per
  * capability. Every query is a pure DataFrame plan (Catalyst handles
  * pushdown / pruning / join selection), ends in an ORDER BY over a key
  * that makes the output sequence deterministic, and keeps floating-point
  * out of the output (money as cents, ratios scaled to integers) so the
  * DuckDB oracle hash-compares exactly.
  *
  * Determinism conventions (FIXTURES.md §D):
  *  - arrays built with sort_array(collect_list(...)), serialized to_json;
  *  - `events.ts` is ns-precision in the files — never emitted raw
  *    (Spark truncates to micros, DuckDB keeps ns); emitted as epoch ms.
  */
object RelationalOps {
  type Q = (SparkSession, String) => DataFrame

  // ---------------------------------------------------------------- P* ----

  /** P1 — column projection + rename (reference vw_Invoicedetails.sql:6-17). */
  val projectView: Q = (s, d) =>
    Tables.orders(s, d).select(
      col("o_orderkey").as("invoice_id"),
      col("o_orderstatus").as("status"),
      col("o_orderpriority").as("priority"))
      .orderBy("invoice_id")

  /** P2 — computed column: LineTotal = Qty * UnitPrice persisted
    * (reference setup-invoice-db.sql:51); carried as cents. */
  val computedColumn: Q = (s, d) =>
    Tables.lineitem(s, d).select(
      col("l_orderkey"), col("l_linenumber"),
      round(col("l_quantity") * col("l_extendedprice") * 100).cast("long")
        .as("line_total_cents"))
      // the computed column joins the sort: (orderkey, linenumber) is
      // unique on real lineitem data but NOT on the key-shifted scale
      // probes (10 copies fold distinct originals onto one key pair),
      // and a non-total ORDER BY makes the dump tie-order-dependent
      // (caught by the round-12 sf1 oracle probe)
      .orderBy("l_orderkey", "l_linenumber", "line_total_cents")

  /** P3 — version-range predicate (storedprocedure.sql:18,26). */
  val filterVersionRange: Q = (s, d) =>
    Tables.events(s, d)
      .filter(col("event_id") > 100 && col("event_id") <= 500)
      .select("event_id", "user_id", "event_type")
      .orderBy("event_id")

  /** P4 — composite resume cursor (server.js:165-168): strictly after the
    * (version, id) lexicographic cursor. */
  val filterResumeCursor: Q = (s, d) =>
    Tables.events(s, d)
      .filter(col("user_id") > 7 ||
        (col("user_id") === 7 && col("event_id") > 500))
      .select("event_id", "user_id")
      .orderBy("event_id")

  /** P6 — suffix match (server.js:373 `.endsWith('.bson')`). */
  val filterSuffix: Q = (s, d) =>
    Tables.documents(s, d)
      .filter(col("source").endsWith("1"))
      .select("doc_id", "source")
      .orderBy("doc_id")

  // ---------------------------------------------------------------- J* ----

  /** J1 — equi inner join changefeed→detail: a feed row carries only the
    * entity key; the join recovers the entity's attributes
    * (storedprocedure.sql:24-25). The dimension side is small → broadcast. */
  val joinLineFeed: Q = (s, d) => {
    val feed = Tables.events(s, d).select(
      col("event_id").as("change_version"), col("user_id"))
    val dim = Tables.customer(s, d)
    feed.join(broadcast(dim), feed("user_id") === dim("c_custkey"), "inner")
      .select(col("change_version"), col("c_custkey").as("entity_id"),
        col("c_mktsegment").as("segment"))
      .orderBy("change_version")
  }

  /** J2 — rehydration join: collapsed feed → current header state
    * (storedprocedure.sql:55). */
  val joinHeaderRehydrate: Q = (s, d) => {
    val changed = InvoiceCdc.changedInvoices(s, d, 0L, Long.MaxValue)
    val hdr = Tables.orders(s, d)
    changed.join(hdr, changed("invoice_id") === hdr("o_orderkey"), "inner")
      .select(col("invoice_id"), col("change_version"),
        round(col("o_totalprice") * 100).cast("long").as("total_cents"))
      .orderBy("invoice_id")
  }

  /** J3 — BI view flatten: header ⋈ lines (vw_Invoicedetails.sql:18-19). */
  val joinViewFlat: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val li = Tables.lineitem(s, d)
    o.join(li, o("o_orderkey") === li("l_orderkey"), "inner")
      .select(
        col("l_orderkey").as("invoice_id"), col("l_linenumber").as("line_no"),
        col("o_custkey").as("customer_key"),
        col("o_orderdate").as("invoice_date"),
        round(col("l_quantity")).cast("long").as("qty"),
        round(col("l_extendedprice") * 100).cast("long").as("price_cents"))
      // total order: (invoice_id, line_no) is unique on real lineitem
      // but not on the key-shifted scale probes (round-12 sf1 oracle).
      // Every output column joins the sort so totality is structural,
      // not corpus-dependent (round-12 advice on view_materialized)
      .orderBy("invoice_id", "line_no", "qty", "price_cents",
        "customer_key", "invoice_date")
  }

  /** J4 — semi join: headers with any recently-shipped line
    * (`IN` subquery, Readme.md:190). */
  val joinSemiChanged: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val changed = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("2001-01-01").cast("timestamp"))
      .select(col("l_orderkey").as("o_orderkey"))
    o.join(changed, Seq("o_orderkey"), "left_semi")
      .select(col("o_orderkey").as("invoice_id"), col("o_orderstatus").as("status"))
      .orderBy("invoice_id")
  }

  /** J5/A3 — correlated lines subquery decorrelated to group+collect
    * (storedprocedure.sql:42-52, FOR JSON PATH). */
  val joinNestLines: Q = (s, d) =>
    InvoiceCdc.nestedLines(Tables.lineitem(s, d))
      .orderBy("invoice_id")

  /** J6 — cross join row generator (insert-invoices.sql:23-25). */
  val joinCrossGen: Q = (s, d) => {
    val r = Tables.region(s, d).select(col("r_regionkey"))
    val n = Tables.nation(s, d).select(col("n_nationkey"))
    r.crossJoin(n).orderBy("r_regionkey", "n_nationkey")
  }

  /** J7 — as-of join (beyond the reference): each purchase matched to the
    * user's latest error at or before it — the "most recent prior state"
    * shape ([[AsofJoin]]: one union + one window shuffle on the key, no
    * range-join pair explosion). Times as epoch micros (ns files truncate
    * identically in both engines); gap in whole ms. */
  val joinAsof: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .withColumn("us", expr("unix_micros(ts)"))
      .select("event_id", "user_id", "event_type", "us")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "us")
    val errors = ev.filter(col("event_type") === "error")
      .select("event_id", "user_id", "us")
    AsofJoin.asofJoin(purchases, errors, "user_id", "us", "event_id")
      .select(col("event_id"), col("user_id"), col("us").as("purchase_us"),
        col("r_event_id").as("err_event_id"), col("r_us").as("err_us"),
        expr("(us - r_us) div 1000").as("gap_ms"))
      .orderBy("event_id")
  }

  /** J7' — FORWARD as-of join ("next error at or after each
    * purchase") from the SAME one-window-pass operator: time negation
    * turns last-at-or-before into first-at-or-after, so the backward
    * join's plan shape — one (key) exchange, no range explosion, cost
    * independent of how many right rows follow — carries over
    * unchanged. Oracle: DuckDB ASOF with the `<=` inequality. */
  val joinAsofForward: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .withColumn("us", expr("unix_micros(ts)"))
      .withColumn("nus", -col("us"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "us", "nus")
    val errors = ev.filter(col("event_type") === "error")
      .select("event_id", "user_id", "us", "nus")
    AsofJoin.asofJoin(purchases, errors, "user_id", "nus", "event_id")
      .select(col("event_id"), col("user_id"), col("us").as("purchase_us"),
        col("r_event_id").as("next_err_id"), col("r_us").as("next_err_us"),
        expr("(r_us - us) div 1000").as("gap_ms"))
      .orderBy("event_id")
  }

  /** J8 — interval join: ALL errors within the hour preceding each
    * purchase (the as-of join's "every prior row in range" sibling).
    * Spark plans the equi key as the join key and the range as a join
    * filter — the shuffle is on user_id, never a pair explosion across
    * keys; within a key the range bound caps the match count. The
    * streaming twin (watermarked state cleanup) is
    * `streaming.EventStream.intervalJoin`, spec-verified. */
  val joinInterval: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .withColumn("us", expr("unix_micros(ts)"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("us").as("p_us"))
    val e = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("err_event_id"),
        col("user_id").as("e_uid"), col("us").as("e_us"))
    p.join(e, col("user_id") === col("e_uid") &&
        col("e_us") <= col("p_us") &&
        col("e_us") > col("p_us") - lit(3600L * 1000000L))
      .select(col("event_id"), col("user_id"), col("err_event_id"),
        expr("(p_us - e_us) div 1000").as("gap_ms"))
      .orderBy("event_id", "err_event_id")
  }

  /** J9 — salted skew join: events (20 users × thousands of rows — the
    * low-cardinality hot-key shape) joined to customer through
    * [[SkewJoin.saltedJoin]]; identical output to the plain join (that
    * IS the oracle), but the shuffle key is (user_id, salt) so one hot
    * user spreads across 8 tasks instead of serializing through one. */
  val joinSalted: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"))
    val cust = Tables.customer(s, d)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    SkewJoin.saltedJoin(ev, cust, "user_id", col("event_id"), salt = 8)
      .select(col("event_id"), col("user_id"),
        col("c_mktsegment").as("segment"))
      .orderBy("event_id")
  }

  // ---------------------------------------------------------------- A* ----

  /** A1 — latest version per entity (storedprocedure.sql:28-34). */
  val aggMaxVersion: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(max(col("event_id")).as("change_version"))
      .orderBy("user_id")

  /** A2 — DISTINCT changed ids (Readme.md:144-168). */
  val aggDistinctIds: Q = (s, d) =>
    Tables.events(s, d).select(col("user_id")).distinct().orderBy("user_id")

  /** A3 — nested collect: ordered array per group (FOR JSON PATH). */
  val aggCollectLines: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(to_json(sort_array(collect_list(col("event_id")))).as("event_ids"))
      .orderBy("user_id")

  /** A4/S3 — scalar current version (CHANGE_TRACKING_CURRENT_VERSION). */
  val cdcCurrentVersion: Q = (s, d) =>
    Tables.events(s, d).agg(max(col("event_id")).as("current_version"))

  /** A5 — count / rate metrics (server.js:147,207-228). Money is rounded
    * to integer cents PER ROW and summed as longs — associative and
    * exact, so partial-aggregation order can never move the total by a
    * cent (a double sum rounded once at the end can). */
  val aggCounts: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))
      .orderBy("event_type")

  /** A6 — sampled average over the first 10 by key (server.js:211-219). */
  val aggSampledAvg: Q = (s, d) =>
    Tables.documents(s, d)
      .orderBy("doc_id").limit(10)
      .agg(round(avg(col("n_chars")) * 10000).cast("long").as("avg_chars_e4"))

  /** A7 — ROLLUP (beyond the reference: grouping-set aggregates are core
    * BI surface): per-type totals plus the grand total in one pass.
    * The null grouping row is renamed 'ALL' so ordering is engine-stable. */
  val aggRollup: Q = (s, d) =>
    Tables.events(s, d)
      .rollup(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))
      .select(coalesce(col("event_type"), lit("ALL")).as("event_type"),
        col("n"), col("value_cents"))
      .orderBy("event_type")

  /** A8 — exact percentiles (beyond the reference): median and p95 of the
    * event value per type, interpolated, emitted as integer e4. */
  val aggPercentile: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(
        round(percentile(col("value"), lit(0.5)) * 10000).cast("long")
          .as("p50_e4"),
        round(percentile(col("value"), lit(0.95)) * 10000).cast("long")
          .as("p95_e4"))
      .orderBy("event_type")

  // ---------------------------------------------------------------- W* ----

  /** W2 — analytic window with an explicit frame (beyond the reference,
    * which only ranks): per-entity running total in version order —
    * the incremental-balance shape every CDC consumer materializes. */
  val windowRunningSum: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d).select(
      col("user_id"), col("event_id"),
      sum(round(col("value") * 100).cast("long")).over(w).as("running_cents"))
      .orderBy("user_id", "event_id")
  }

  /** W1 — ROW_NUMBER ranking (insert-invoices.sql:21-22); top-100 per
    * partition keeps output bounded at any scale factor. */
  val windowRowNumber: Q = (s, d) => {
    val w = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
    Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
        row_number().over(w).as("rn"))
      .filter(col("rn") <= 100)
      .orderBy("l_returnflag", "rn")
  }

  /** W3 — LAG delta (beyond the reference): per-entity change of the
    * event value vs the previous event — the derivative every metrics
    * consumer computes over a changefeed. All time math on epoch-ms
    * integers (ns files vs µs Spark timestamps never touch the output
    * or the ordering), money as cents; first event per user is null. */
  val windowLagDelta: Q = (s, d) => {
    val cents = round(col("value") * 100).cast("long")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ms"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        unix_millis(col("ts")).as("ts_ms"), cents.as("cents"))
      .select(col("user_id"), col("event_id"),
        (col("cents") - lag(col("cents"), 1).over(w)).as("delta_cents"))
      .orderBy("user_id", "event_id")
  }

  /** W4 — sessionization, gaps-and-islands (beyond the reference; the
    * batch twin of `stream_sessionize`'s state semantics): a session
    * breaks when a user is idle longer than the gap. Two windows over
    * ONE (user_id) shuffle — Catalyst plans both in a single Window
    * node chain, no second exchange; the per-user rows-unbounded frame
    * is a linear scan. Session times emitted as epoch ms (never raw
    * ns-file timestamps), boundaries compared on epoch-ms integers so
    * both engines split identically at the gap edge. */
  val windowSessionize: Q = (s, d) => {
    val gapMs = 6L * 3600 * 1000
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ms"), col("event_id"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        unix_millis(col("ts")).as("ts_ms"))
      .withColumn("new_s",
        when(lag(col("ts_ms"), 1).over(w).isNull ||
          col("ts_ms") - lag(col("ts_ms"), 1).over(w) > gapMs, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("new_s")).over(run))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        min(col("ts_ms")).as("session_start_ms"),
        max(col("ts_ms")).as("session_end_ms"),
        count(lit(1)).as("n_events"),
        min(col("event_id")).as("first_event"),
        max(col("event_id")).as("last_event"))
      .orderBy("user_id", "session_id")
  }

  /** W4' — the NATIVE flavor of W4: Spark's `session_window` grouping
    * (the same operator the streaming engine runs with state-store
    * merging) in its batch form. One shuffle on (user, session); no
    * window functions at all — the session assignment happens inside
    * the aggregate. Boundary semantics differ from the
    * gaps-and-islands form: session_window windows are END-EXCLUSIVE,
    * so a gap of EXACTLY the timeout splits (diff ≥ gap breaks, not
    * diff > gap), and the emitted end is last event + gap — the oracle
    * replays exactly that. Sessions split on MS-truncated time (same
    * grain the oracle compares on), so a future sub-ms testdata
    * generation cannot diverge the two engines at a boundary within
    * 1 ms of the gap. */
  val windowSessionNative: Q = (s, d) =>
    Tables.events(s, d)
      .withColumn("ts", timestamp_millis(unix_millis(col("ts"))))
      .groupBy(col("user_id"),
        session_window(col("ts"), "6 hours").as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_millis(col("sw.start")).as("session_start_ms"),
        unix_millis(col("sw.end")).as("session_end_ms"),
        col("n_events"))
      .orderBy("user_id", "session_start_ms")

  /** W5 — resample + gap-fill (beyond the reference): hourly event
    * counts per type with missing hours emitted as 0 — the dense grid
    * every time-series chart and forecast model needs. The grid is
    * GENERATED per key from its own min/max hour (sequence + explode),
    * never collected to the driver; grid size is types × hours — bounded
    * by wall-clock span, independent of row count, so the left join's
    * build side stays small at any data scale. */
  val windowGapfill: Q = (s, d) => {
    val counts = Tables.events(s, d)
      .select(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      .groupBy(col("event_type"), col("hour"))
      .agg(count(lit(1)).as("n"))
    val grid = counts
      .groupBy(col("event_type"))
      .agg(min(col("hour")).as("h0"), max(col("hour")).as("h1"))
      .select(col("event_type"),
        explode(sequence(col("h0"), col("h1"), expr("INTERVAL 1 HOUR")))
          .as("hour"))
    grid.join(counts, Seq("event_type", "hour"), "left")
      .select(col("event_type"), col("hour"),
        coalesce(col("n"), lit(0L)).as("n"))
      .orderBy("event_type", "hour")
  }

  /** A9 — pivot (beyond the reference): per-entity counts of each event
    * type as columns. Values are DECLARED (the reference's five event
    * kinds), not discovered — discovery costs an extra distinct pass
    * over the data at scale and makes the schema data-dependent. Plans
    * as one hash aggregate; absent combinations surface as 0, not null. */
  val aggPivot: Q = (s, d) => {
    val types = Seq("click", "error", "purchase", "signup", "view")
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .pivot("event_type", types)
      .count()
      .select(col("user_id") +:
        types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
      .orderBy("user_id")
  }

  /** A10 — CUBE over (lang, source) (beyond the reference): every
    * grouping-set margin in one pass — the other half of the A7 ROLLUP
    * surface. Grouping nulls renamed 'ALL' (both dims are non-null in
    * the data) so cross-engine ordering is stable. */
  val aggCube: Q = (s, d) =>
    Tables.documents(s, d)
      .cube(col("lang"), col("source"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
      .select(
        coalesce(col("lang"), lit("ALL")).as("lang"),
        coalesce(col("source"), lit("ALL")).as("source"),
        col("n"), col("chars"))
      .orderBy("lang", "source")

  /** A11 — explicit GROUPING SETS (beyond the reference): the exact
    * margin list ((type, band), (band), ()) in one pass — the sets CUBE
    * and ROLLUP can't express (no (type) margin). Grouping nulls
    * renamed 'ALL' so cross-engine null ordering never matters. */
  val aggGroupingSets: Q = (s, d) => {
    val band = when(col("value") < 50, lit("low")).otherwise(lit("high"))
    Tables.events(s, d)
      .select(col("event_type"), band.as("band"), col("value"))
      .groupingSets(
        Seq(Seq(col("event_type"), col("band")), Seq(col("band")), Seq.empty),
        col("event_type"), col("band"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))
      .select(
        coalesce(col("event_type"), lit("ALL")).as("event_type"),
        coalesce(col("band"), lit("ALL")).as("band"),
        col("n"), col("value_cents"))
      .orderBy("event_type", "band")
  }

  /** W5 — ntile + lead + first_value (beyond the reference): quartile
    * of each event within its type by amount, the next-smaller amount,
    * and the type's maximum. event_type has FIVE values — a plain
    * `Window.partitionBy(event_type)` sorts a fifth of the corpus in
    * one task at any scale, so the rank comes from the two-pass banded
    * shape ([[ScalableRank]]): quartile is arithmetic on (rank, n),
    * lead is a self-join on the unique high-cardinality (type, rank)
    * key (rank r+1's cents — shuffle-splittable, unlike the window),
    * and first_value over a DESC order is just the group max riding
    * the tiny broadcast side. Output-identical to the single-window
    * form (oracle-pinned); every task's sort is bounded by band. */
  val windowNtile: Q = (s, d) => {
    val base = Tables.events(s, d)
      .select(col("event_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
    val ranked = ScalableRank.withRank(base, col("event_type"),
      Seq(col("cents").desc, col("event_id")), -col("cents"), "__r", "__n")
    val next = ranked.select(col("event_type").as("__et"),
      (col("__r") - 1).as("__rp"), col("cents").as("next_cents"))
    val top = base.groupBy(col("event_type").as("__tt"))
      .agg(max(col("cents")).as("top_cents"))
    ranked
      .join(next, col("event_type") === col("__et") &&
        col("__r") === col("__rp"), "left")
      .join(broadcast(top), col("event_type") === col("__tt"))
      .select(col("event_id"), col("event_type"),
        ScalableRank.ntileFromRank(col("__r"), col("__n"), 4).as("quartile"),
        col("next_cents"), col("top_cents"))
      .orderBy("event_id")
  }

  /** W7 — linear interpolation over time-series gaps (beyond the
    * reference): the gap-filled hourly grid with missing hours filled
    * by linear interpolation between the neighboring present hours —
    * the resample step every metrics/feature pipeline runs. The
    * carried-forward/backward neighbors are last/first IGNORE NULLS
    * over the same (event_type, hour) window partitioning — all four
    * window columns share one exchange; the fraction is exact epoch-ms
    * integer arithmetic pushed into one deterministic double divide. */
  val windowInterpolate: Q = (s, d) => {
    val hourly = Tables.events(s, d)
      .select(col("event_type"), date_trunc("hour", col("ts")).as("hour"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("event_type"), col("hour"))
      .agg(sum(col("cents")).as("cents"))
    val grid = hourly.groupBy(col("event_type"))
      .agg(min(col("hour")).as("h0"), max(col("hour")).as("h1"))
      .select(col("event_type"),
        explode(sequence(col("h0"), col("h1"), expr("INTERVAL 1 HOUR")))
          .as("hour"))
    Interpolate.linear(
        grid.join(hourly, Seq("event_type", "hour"), "left"),
        "event_type", "hour", "cents", "cents_interp")
      .select("event_type", "hour", "cents_interp")
      .orderBy("event_type", "hour")
  }

  /** W8 — RANGE-framed sliding window (beyond the reference): the
    * trailing-hour moving sum per entity, framed by the ORDER VALUE
    * (epoch-ms) rather than row count — rows with equal timestamps all
    * enter the frame together, so the sum is deterministic under ties
    * where a ROWS frame would depend on tie order. The time-based
    * moving aggregate every metrics pipeline needs; one window
    * exchange on the entity key. */
  val windowRangeFrame: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"))
      .rangeBetween(-3600000L, 0L)
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        unix_millis(col("ts")).as("ts_ms"),
        round(col("value") * 100).cast("long").as("cents"))
      .select(col("user_id"), col("event_id"),
        sum(col("cents")).over(w).as("hour_cents"))
      .orderBy("user_id", "event_id")
  }

  /** W6 — percent_rank + cume_dist (beyond the reference): rank
    * position as a fraction of the partition, e6-quantized. Exact
    * small-rational doubles — (rank-1)/(n-1) and rank/n under the
    * total (cents, event_id) order — so the quantized value is
    * engine-independent. The rank itself comes from the two-pass
    * banded shape ([[ScalableRank]]): event_type has five values, so a
    * whole-partition window would sort a fifth of the corpus in one
    * task; the banded form bounds every sort at |group|/bands. */
  val windowPercentRank: Q = (s, d) => {
    val base = Tables.events(s, d)
      .select(col("event_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
    ScalableRank.withRank(base, col("event_type"),
        Seq(col("cents"), col("event_id")), col("cents"), "__r", "__n")
      .select(col("event_id"), col("event_type"),
        round(ScalableRank.percentRankFromRank(col("__r"), col("__n"))
          * 1000000).cast("long").as("pr_e6"),
        round(ScalableRank.cumeDistFromRank(col("__r"), col("__n"))
          * 1000000).cast("long").as("cd_e6"))
      .orderBy("event_id")
  }

  /** A12 — sorted distinct collection (beyond the reference): the set
    * of event types per entity as one canonical string — collect_set
    * sorted then joined, so the aggregate is order-insensitive and the
    * output deterministic (the array-typed flavor would hash-compare
    * engine-dependent list renderings; the string is the stable form). */
  val aggCollectSetSorted: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(
        array_join(array_sort(collect_set(col("event_type"))), ",")
          .as("types"),
        countDistinct(col("event_type")).as("n_types"))
      .orderBy("user_id")

  /** A13 — Pearson correlation from EXACT integer sufficient
    * statistics (beyond the reference): per-row integer quantities
    * (cents / whole dollars), decimal sums (Σx Σy Σxy Σx² Σy² never
    * overflow — the 100 TB-safe accumulator), and the final formula in
    * double from those exact integers — bit-identical across engines,
    * where each engine's own corr() differs by accumulation order.
    * One partial+final aggregate, no shuffle of raw rows. */
  val aggCorrManual: Q = (s, d) => {
    val x = round(col("l_quantity") * 100).cast("long")
    val y = round(col("l_extendedprice")).cast("long")
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    Tables.lineitem(s, d)
      .select(x.as("x"), y.as("y"))
      .agg(
        count(lit(1)).cast("double").as("n"),
        sum(col("x").cast(dec)).cast("double").as("sx"),
        sum(col("y").cast(dec)).cast("double").as("sy"),
        sum((col("x") * col("y")).cast(dec)).cast("double").as("sxy"),
        sum((col("x") * col("x")).cast(dec)).cast("double").as("sxx"),
        sum((col("y") * col("y")).cast(dec)).cast("double").as("syy"))
      .select(
        col("n").cast("long").as("n"),
        round(lit(1000000.0) * (col("n") * col("sxy") - col("sx") * col("sy")) /
          (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
           sqrt(col("n") * col("syy") - col("sy") * col("sy"))))
          .cast("long").as("corr_e6"))
  }

  /** A14 — deterministic MODE per group (beyond the reference): each
    * user's most frequent event type. The built-in `mode()` breaks
    * ties engine-dependently; this is the portable argmax form — a
    * (user, type) count then `min(struct(-n, type))`, so ties go to
    * the lexicographically smallest type in BOTH engines. Two partial
    * +final hash aggregates, no window, no raw-row reshuffle beyond
    * the (user, type) key. */
  val aggMode: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("__n"))
      .groupBy(col("user_id"))
      .agg(min(struct((-col("__n")).as("negn"),
          col("event_type").as("t"))).as("__m"),
        sum(col("__n")).as("n_events"))
      .select(col("user_id"), col("__m.t").as("mode_type"),
        (-col("__m.negn")).as("mode_n"), col("n_events"))
      .orderBy("user_id")

  /** J10 — ε-BAND numeric join (beyond the reference): for each
    * sampled anchor event, how many same-type events lie within ±0.25
    * of its value — the "find readings near mine" non-equi join. A
    * naive plan is a per-type cross join (quadratic); this one rides
    * the classic BINNING decomposition: values bucket at width ε, the
    * anchor probes its own bucket ±1 (any pair within ε differs by at
    * most one bucket), and the band predicate filters the candidates.
    * The join key is (type, bucket) — high-cardinality, spreads evenly
    * at any scale; candidate count per anchor is the local density of
    * a 3ε window, not the type's row count. The same decomposition is
    * the scale story for every tolerance join here (see AsofJoin,
    * EditJoin); this query pins the numeric flavor with an oracle. */
  val joinBandValue: Q = (s, d) => {
    val eps = 0.25
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("event_type"), col("value"))
    val anchors = ev.filter(pmod(col("event_id"), lit(20)) === 0)
    val bucket = (c: org.apache.spark.sql.Column) =>
      floor(c / eps).cast("long")
    val probes = anchors.withColumn("__b",
      explode(array(bucket(col("value")) - 1, bucket(col("value")),
        bucket(col("value")) + 1)))
    val cands = ev.select(col("event_type"),
        col("event_id").as("__cid"), col("value").as("__cv"))
      .withColumn("__b", bucket(col("__cv")))
    val hits = probes.join(cands, Seq("event_type", "__b"))
      .filter(abs(col("__cv") - col("value")) <= eps &&
        col("__cid") =!= col("event_id"))
      .groupBy(col("event_id")).agg(count(lit(1)).as("__nc"))
    anchors.join(hits, Seq("event_id"), "left")
      .select(col("event_id"), col("event_type"), col("value"),
        coalesce(col("__nc"), lit(0L)).as("n_close"))
      .orderBy("event_id")
  }

  /** W7 — ordered-stage FUNNEL (beyond the reference; the ClickHouse
    * windowFunnel shape): per user, how deep into view → click →
    * purchase they progressed with each stage strictly after the
    * previous and the whole run inside a 6 h window of the first view.
    * No per-user event sort anywhere: each stage is a filtered
    * aggregate (min ts) joined on the user key — k stages cost k
    * selective scans + k user-keyed joins, and the per-user state is
    * three timestamps, not an event list. Earliest-completion
    * semantics: t2 is the first click after t1, t3 the first purchase
    * after THAT t2 (greedy, the standard funnel definition). */
  val windowFunnel: Q = (s, d) => {
    val winMs = 6L * 3600 * 1000
    val ev = Tables.events(s, d).select(col("user_id"),
      col("event_type"), unix_millis(col("ts")).as("ts_ms"))
    def stage(t: String) = ev.filter(col("event_type") === t)
    val s1 = stage("view").groupBy(col("user_id"))
      .agg(min(col("ts_ms")).as("t1_ms"))
    val s2 = stage("click").join(s1, "user_id")
      .filter(col("ts_ms") > col("t1_ms") &&
        col("ts_ms") <= col("t1_ms") + winMs)
      .groupBy(col("user_id"), col("t1_ms"))
      .agg(min(col("ts_ms")).as("t2_ms"))
    val s3 = stage("purchase").join(s2, Seq("user_id"))
      .filter(col("ts_ms") > col("t2_ms") &&
        col("ts_ms") <= col("t1_ms") + winMs)
      .groupBy(col("user_id"))
      .agg(min(col("ts_ms")).as("t3_ms"))
    s1.join(s2.select("user_id", "t2_ms"), Seq("user_id"), "left")
      .join(s3, Seq("user_id"), "left")
      .select(col("user_id"), col("t1_ms"), col("t2_ms"), col("t3_ms"),
        (lit(1L) + col("t2_ms").isNotNull.cast("long")
          + col("t3_ms").isNotNull.cast("long")).as("depth"))
      .orderBy("user_id")
  }

  /** A15 — RETENTION COHORTS (beyond the reference): users cohort by
    * their first active day; for every (cohort_day, day_offset) cell,
    * how many of the cohort's users were active that day — the
    * triangle every growth dashboard draws. Day arithmetic stays in
    * integer epoch-days (no calendar functions — engine-identical).
    * Plan: one (user, day) distinct, a user-keyed min-day aggregate
    * joined back (broadcast-sized relative to activity at any scale:
    * one row per user), then a (cohort, offset) count-distinct — every
    * shuffle keyed on user or (cohort, offset), both well-spread. */
  val aggRetentionCohorts: Q = (s, d) => {
    val dayMs = 86400000L
    val active = Tables.events(s, d)
      .select(col("user_id"),
        floor(unix_millis(col("ts")) / dayMs).cast("long").as("day"))
      .distinct()
    val cohorts = active.groupBy(col("user_id"))
      .agg(min(col("day")).as("cohort_day"))
    active.join(cohorts, "user_id")
      .groupBy(col("cohort_day"),
        (col("day") - col("cohort_day")).as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
      .orderBy("cohort_day", "day_offset")
  }

  /** F14 — edit distance (beyond the reference): levenshtein between
    * the head and the tail of each document — the codegen'd built-in,
    * the fuzzy-match primitive near-dup QC pipelines use. */
  val fnLevenshtein: Q = (s, d) =>
    Tables.documents(s, d).select(
      col("doc_id"),
      levenshtein(substring(col("text"), 1, 20),
        substring(col("text"), 21, 20)).cast("long").as("edit_dist"))
      .orderBy("doc_id")

  // ---------------------------------------------------------------- O* ----

  /** O1 — top-K oldest-first page (TOP(@Limit) ORDER BY ChangeVersion,
    * storedprocedure.sql:35,56). Plans as TakeOrderedAndProject. */
  val topkByVersion: Q = (s, d) =>
    Tables.events(s, d)
      .select("event_id", "user_id", "event_type")
      .orderBy("event_id").limit(100)

  /** O3 — sort descending (server.js:382 newest-first listing). */
  val sortDesc: Q = (s, d) =>
    Tables.documents(s, d)
      .select("doc_id", "n_chars")
      .orderBy(col("n_chars").desc, col("doc_id")).limit(50)

  // ---------------------------------------------------------------- U* ----

  /** U1 — UNION ALL of the two changefeeds (storedprocedure.sql:14-27). */
  val unionAllFeeds: Q = (s, d) =>
    InvoiceCdc.headerFeed(s, d).unionByName(InvoiceCdc.lineFeed(s, d))
      .orderBy("change_version", "invoice_id")

  /** U2 — UNION (distinct) (Readme.md:148,165). */
  val unionDistinctFeeds: Q = (s, d) =>
    InvoiceCdc.headerFeed(s, d).unionByName(InvoiceCdc.lineFeed(s, d))
      .distinct()
      .orderBy("change_version", "invoice_id")

  /** U3 — EXCEPT (beyond the reference, which stops at UNION: a complete
    * engine needs the full set algebra): entities that clicked but never
    * purchased. Distinct semantics, like SQL EXCEPT. */
  val exceptFeeds: Q = (s, d) =>
    Tables.events(s, d).filter(col("event_type") === "click")
      .select(col("user_id"))
      .except(Tables.events(s, d).filter(col("event_type") === "purchase")
        .select(col("user_id")))
      .orderBy("user_id")

  /** U4 — INTERSECT (beyond the reference): entities that both clicked
    * and purchased. */
  val intersectFeeds: Q = (s, d) =>
    Tables.events(s, d).filter(col("event_type") === "click")
      .select(col("user_id"))
      .intersect(Tables.events(s, d).filter(col("event_type") === "purchase")
        .select(col("user_id")))
      .orderBy("user_id")

  /** J4' — ANTI join (beyond the reference; the complement of J4's semi
    * join): headers with NO recently-shipped line. */
  val joinAntiChanged: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val changed = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("2001-01-01").cast("timestamp"))
      .select(col("l_orderkey").as("o_orderkey"))
    o.join(changed, Seq("o_orderkey"), "left_anti")
      .select(col("o_orderkey").as("invoice_id"), col("o_orderstatus").as("status"))
      .orderBy("invoice_id")
  }

  // ---------------------------------------------------------------- F* ----

  /** F1-F3 — CONCAT + zero-pad + CAST (insert-invoices.sql:34-35). */
  val fnStringBuild: Q = (s, d) =>
    Tables.orders(s, d).select(
      col("o_orderkey"),
      concat(lit("INV-"),
        lpad((col("o_orderkey") + 300000).cast("string"), 9, "0"))
        .as("invoice_number"))
      .orderBy("o_orderkey")

  /** F4 — DATEADD(DAY, n % 365, '2026-01-01') (insert-invoices.sql:36). */
  val fnDateAdd: Q = (s, d) =>
    Tables.orders(s, d).select(
      col("o_orderkey"),
      date_add(lit("2026-01-01").cast("date"),
        (col("o_orderkey") % 365).cast("int")).as("invoice_date"))
      .orderBy("o_orderkey")

  /** F5 — DATEDIFF(MS, t0, t1) (insert-invoices.sql:43). */
  val fnDateDiff: Q = (s, d) =>
    Tables.events(s, d).select(
      col("event_id"),
      (unix_millis(col("ts")) -
        unix_millis(lit("2024-01-01 00:00:00").cast("timestamp")))
        .as("elapsed_ms"))
      .orderBy("event_id")

  /** F9 — JSON serialize (FOR JSON PATH, storedprocedure.sql:51). */
  val fnToJson: Q = (s, d) =>
    Tables.events(s, d).select(
      col("event_id"),
      to_json(struct(col("event_id").as("id"), col("event_type").as("type")))
        .as("doc"))
      .orderBy("event_id")

  /** F10 — JSON parse (JSON.parse(r.Lines), server.js:161). */
  val fnFromJson: Q = (s, d) =>
    Tables.events(s, d).select(
      col("event_id"),
      from_json(col("props"),
        org.apache.spark.sql.types.StructType.fromDDL("k INT"))
        .getField("k").as("k"))
      .orderBy("event_id")

  /** F12 — duration formatting ms/s/m (server.js:55-59 formatDuration):
    * pure when/otherwise expression, no UDF. */
  val fnDurationFormat: Q = (s, d) => {
    val ms = col("event_id") * 137
    Tables.events(s, d).select(
      col("event_id"),
      when(ms < 1000, concat(ms.cast("string"), lit("ms")))
        .when(ms < 60000,
          concat(floor(ms / 1000).cast("string"), lit("s")))
        .otherwise(concat(floor(ms / 60000).cast("string"), lit("m"),
          floor((ms % 60000) / 1000).cast("string"), lit("s")))
        .as("duration"))
      .orderBy("event_id")
  }

  /** F13 — regex extraction (beyond the reference, which has no regex
    * surface): pull the numeric payload out of the props JSON text. */
  val fnRegexpExtract: Q = (s, d) =>
    Tables.events(s, d).select(
      col("event_id"),
      regexp_extract(col("props"), "[0-9]+", 0).as("first_number"))
      .orderBy("event_id")

  /** A9 — approximate distinct (beyond the reference): sketch-based
    * entity count, the 100 TB cardinality answer (exact distinct
    * shuffles every key; the sketch is one pass, mergeable partials).
    * Implementation is a DataSketches THETA sketch (round 11, the
    * [[SketchTable]]/llm_sketch_rollup exact-below-capacity precedent):
    * below its 4096-entry nominal capacity the sketch is in exact mode
    * — the estimate EQUALS count(DISTINCT) and is merge-order
    * independent — so the key is fully oracle-checkable at every
    * verify SF (user_id cardinality 15 / 150 / 1500 at sf0.001/0.01/
    * 0.1, all measured exact; Spark's HLL++ `approx_count_distinct`
    * returned 151 at sf0.01 and was partition-sensitive at sf0.1, the
    * documented reason it could not be oracled). Above capacity it
    * degrades to a genuine ~1/sqrt(4096) estimator, still one pass and
    * kilobyte-mergeable. The ±5% accuracy bound vs exact above
    * capacity is asserted in SketchSpec. */
  val aggApproxDistinct: Q = (s, d) =>
    // lgk 16 (not the 2^12 default): the sf1 scale probe measured the
    // 4096-nominal sketch crossing into estimation (15306 vs 15000
    // exact at 15k distinct users) — the same capacity-sizing trade as
    // the theta difference query and the MG top-k view: cover the
    // scales served exactly (through sf1's 15k; sf10's 150k estimates,
    // SketchSpec's pinned regime) at a fixed kilobyte bound.
    Tables.events(s, d)
      .agg(expr("CAST(theta_sketch_estimate(theta_sketch_agg(user_id," +
        " 16)) AS BIGINT)").as("approx_entities"))

  /** F11 — timestamp → filename fragment (server.js:64). */
  val fnTsFormat: Q = (s, d) =>
    Tables.events(s, d).select(
      col("event_id"),
      date_format(col("ts"), "yyyyMMdd_HHmmss").as("ts_key"))
      .orderBy("event_id")

  // ---------------------------------------------------------------- S8 ----

  /** S8/F6 — synthetic invoice generator (insert-invoices.sql:20-66).
    * The reference uses ABS(CHECKSUM(NEWID())) % k for qty/price; we use a
    * deterministic multiplicative hash so the generator is reproducible
    * AND oracle-checkable (SURVEY §5: seeded, property-tested). Runs on
    * spark.range → parallel, no data read, scales linearly. */
  val genSynthetic: Q = (s, _) => {
    val n = 25000L
    s.range(1, n + 1).toDF("id").select(
      col("id"),
      concat(lit("INV-"), lpad((col("id") + 300000).cast("string"), 9, "0"))
        .as("invoice_number"),
      concat(lit("CUST-"), lpad((col("id") % 100 + 1).cast("string"), 6, "0"))
        .as("customer_code"),
      date_add(lit("2026-01-01").cast("date"), (col("id") % 365).cast("int"))
        .as("invoice_date"),
      ((col("id") * 48271L) % 10 + 1).as("qty"),
      ((col("id") * 16807L) % 50000 + 5000).as("unit_price_cents"))
      .withColumn("line_total_cents", col("qty") * col("unit_price_cents"))
      .orderBy("id")
  }

  /** J3' — ad-hoc SQL over the registered BI view (SURVEY.md §3.3):
    * the Superset serving surface, spark.sql end-to-end. */
  val viewAdhocSql: Q = (s, d) => Views.adhocRevenueByStatus(s, d)
  val sqlSegmentTopn: Q = (s, d) => Views.segmentTopOrders(s, d)
  val sqlRegionRevenue: Q = (s, d) => Views.regionNationRevenue(s, d)

  /** S7' — the BI result cache on the declared surface (the
    * reference's Redis-in-front-of-Superset, ResultCacheSpec drives
    * the TTL/invalidate protocol): the same ad-hoc SQL runs TWICE
    * through [[ResultCache]] — the first call plans and persists, the
    * second serves the persisted blocks (a cache hit, asserted) — and
    * the served result is what the oracle checks, so the cache layer
    * is output-invisible by construction. The persisted entry is the
    * aggregate result (status × month rows), kilobytes.
    *
    * The cache is ONE shared instance per SparkSession (like the one
    * Redis in front of all Superset workers): a fresh instance per
    * invocation would leak its persisted entry — the TTL sweep only
    * runs on access, and a discarded instance is never accessed again
    * — so repeated Bench/Verify runs would pin one stale block each.
    * The shared instance caps residency at one entry per session.
    * Three correctness points (round-8 self-review):
    *  - the cache key carries the CORPUS DIR as a SQL comment — the
    *    temp views re-point per `d`, so identical SQL text over two
    *    corpora in one session must be two cache entries, never a
    *    cross-corpus hit;
    *  - the hit assertion pins the SECOND call specifically (its hits
    *    delta must be 1) — a (hit-then-TTL-expiry-then-miss) sequence
    *    must fail it, not slip through a summed delta;
    *  - entries whose SparkContext has stopped are swept on access
    *    (their persisted blocks died with the context; a WeakHashMap
    *    alone can never collect them because the cached DataFrames
    *    reference their session — the value→key cycle). Residency is
    *    bounded at one kilobyte-scale entry per LIVE session. */
  private val sessionCaches =
    new java.util.WeakHashMap[SparkSession, ResultCache]()
  val viewCachedSql: Q = (s, d) => {
    Views.registerInvoiceViews(s, d)
    val sqlText =
      s"""-- corpus: $d
        |SELECT h.o_orderstatus AS status,
        |       count(*) AS n_lines,
        |       sum(CAST(round(l.qty * l.price * 100) AS BIGINT)) AS cents
        |FROM invoice_header h
        |JOIN (SELECT l_orderkey, l_quantity AS qty, l_extendedprice AS price
        |      FROM invoice_line) l ON h.o_orderkey = l.l_orderkey
        |GROUP BY 1""".stripMargin
    val rc = sessionCaches.synchronized {
      val dead = new java.util.ArrayList[SparkSession]()
      sessionCaches.forEach { (sess, _) =>
        if (sess.sparkContext.isStopped) dead.add(sess)
      }
      dead.forEach(sessionCaches.remove(_))
      sessionCaches.computeIfAbsent(s, _ => new ResultCache(s))
    }
    rc.sql(sqlText)
    val h1 = rc.hits
    val served = rc.sql(sqlText)
    val result = if (rc.hits == h1 + 1) served else {
      // TTL expiry between the two calls (a long GC / scheduling
      // stall past the 5-minute window) is a graceful miss, not a
      // query failure (round-8 ADVICE): the miss recached, so ONE
      // retry must hit — anything else is a real cache defect
      val h2 = rc.hits
      val again = rc.sql(sqlText)
      require(rc.hits == h2 + 1,
        "repeat call must serve from the cache")
      again
    }
    result.orderBy("status")
  }

  /** Deterministic per-query scratch dir: the format round-trip
    * queries rewrite it with mode=overwrite on every run, so repeated
    * Bench/Verify/probe invocations cap at ONE copy on disk instead of
    * leaking a fresh temp dir per call. Scoped by the Spark
    * applicationId so two concurrent JVMs (or another user's run on a
    * shared host) never interleave overwrite-and-read on one path —
    * within a JVM the id is stable, so the one-copy cap still holds. */
  private def scratch(s: SparkSession, name: String): String =
    new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft-src-${s.sparkContext.applicationId}-$name").getPath

  /** S9 — CSV ingestion (beyond the reference's parquet/JSON surface):
    * write the feed as headered CSV, read it back with an EXPLICIT
    * schema (no inference pass — the engine rule, SURVEY §1.2), and
    * aggregate over EVERY round-tripped column (id sums constrain the
    * key columns too — a positional swap of the two LONG columns would
    * fail the oracle). */
  val sourceCsvIngest: Q = (s, d) => {
    val dir = scratch(s, "csv")
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
      .coalesce(4)
      .write.mode("overwrite").option("header", "true").csv(dir)
    s.read
      .schema("event_id LONG, user_id LONG, event_type STRING, cents LONG")
      .option("header", "true").csv(dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"),
        sum(col("event_id")).as("sum_event_id"),
        sum(col("user_id")).as("sum_user_id"))
      .orderBy("event_type")
  }

  /** S11 — raw text-lines ingestion (the shape every web-scale corpus
    * lands in first: one document per line of a .txt dump): write the
    * corpus as text, read it back with `spark.read.text`, tokenize and
    * aggregate. Oracle from the original parquet — the line round trip
    * is exact because the corpus is single-line by construction
    * (newline-bearing documents would need the JSONL flavor, which the
    * document sink already covers). */
  val sourceTextIngest: Q = (s, d) => {
    val dir = scratch(s, "text")
    Tables.documents(s, d).select(col("text"))
      .coalesce(4).write.mode("overwrite").text(dir)
    s.read.text(dir)
      .select(size(split(col("value"), " ")).cast("long").as("n_tokens"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
  }

  /** S12 — hive-partitioned corpus layout: write the documents
    * partitioned by language (one dir per lang, co-located before the
    * write — the per-language shard layout multilingual corpora use),
    * then read ONE language back: the lang filter prunes to that
    * single partition directory at the file index, so the read cost is
    * that language's share of the corpus regardless of total size. */
  val sourcePartitionedCorpus: Q = (s, d) => {
    val dir = scratch(s, "bylang")
    Tables.documents(s, d)
      .repartition(col("lang"))
      .write.mode("overwrite").partitionBy("lang").parquet(dir)
    s.read.parquet(dir)
      .filter(col("lang") === "en")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(col("doc_id")).as("sum_doc_id"))
  }

  /** S13 — Z-order (Morton) clustered layout ([[ZOrder]]): write the
    * events z-ordered on (user_id, cents) so every file carries a
    * tight min/max envelope on BOTH columns, then serve a 2-D box
    * predicate over the clustered copy. The filter stays on the
    * ORIGINAL columns (the z-value only drives write-side clustering
    * — no BIGMIN math, stats-skipping is conservative), so the layout
    * is output-invisible and the oracle is the same box over the
    * un-clustered table. The box bounds are data-relative (middle
    * third of users × lower half of cents, integer arithmetic both
    * engines floor identically on these non-negative ranges) so the
    * declared constants are not SF-bound. ZOrderSpec measures the
    * actual skipping: the fraction of files whose stats envelope
    * intersects the box, z-layout vs a single-column sort. */
  val layoutZorderScan: Q = (s, d) => {
    val dir = scratch(s, "zorder")
    val ev = Tables.events(s, d).select(
      col("event_id").cast("long").as("event_id"),
      col("user_id").cast("long").as("user_id"),
      col("event_type"),
      round(col("value") * 100).cast("long").as("cents"))
    val b = ev.agg(min("user_id"), max("user_id"),
      min("cents"), max("cents")).head() // one bounded driver row
    val (uMin, uMax, cMin, cMax) =
      (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
    ZOrder.layout(ev, dir, "user_id", uMin, uMax, "cents", cMin, cMax,
      files = 8)
    val (uLo, uHi) = (uMin + (uMax - uMin) / 3, uMin + 2 * (uMax - uMin) / 3)
    val cHi = cMin + (cMax - cMin) / 2
    // the serving read goes through the _ZSTATS file index: only files
    // whose stats envelope intersects the box are planned (ZOrderSpec
    // asserts the scanned set), and the re-applied box filter makes the
    // skipping output-invisible — the oracle is the un-clustered table
    ZOrder.prunedScan(s, dir, "user_id", uLo, uHi, "cents", cMin, cHi)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("total_cents"),
        sum(col("event_id")).as("sum_event_id"))
      .orderBy("event_type")
  }

  /** S10 — ORC round trip with predicate pushdown: write a projection
    * as ORC (Spark's other first-class columnar format), read it back
    * with a key filter that reaches the ORC reader's search argument,
    * and aggregate. Oracle from the original parquet. */
  val sourceOrcRoundtrip: Q = (s, d) => {
    val dir = scratch(s, "orc")
    Tables.lineitem(s, d)
      .select(col("l_orderkey"),
        round(col("l_extendedprice") * 100).cast("long").as("price_cents"))
      .write.mode("overwrite").orc(dir)
    s.read.orc(dir)
      .filter(col("l_orderkey") <= 1000)
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_lines"), sum(col("price_cents")).as("cents"))
      .orderBy("l_orderkey")
  }

  /** S11 — JSON-lines round trip with an EXPLICIT schema: write a
    * projection as JSON (the interchange format every ingest pipeline
    * meets), read it back with a declared schema — schema inference
    * over JSON costs a full extra pass and types drift by sample, so
    * the declared-schema read is the only scale-sane form — filter,
    * aggregate. Oracle from the original parquet: the round trip must
    * be output-invisible. */
  val sourceJsonRoundtrip: Q = (s, d) => {
    val dir = scratch(s, "jsonl")
    Tables.lineitem(s, d)
      .select(col("l_orderkey"),
        round(col("l_extendedprice") * 100).cast("long").as("price_cents"))
      .write.mode("overwrite").json(dir)
    s.read.schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("l_orderkey",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("price_cents",
          org.apache.spark.sql.types.LongType))))
      .json(dir)
      .filter(col("l_orderkey") <= 1000)
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_lines"), sum(col("price_cents")).as("cents"))
      .orderBy("l_orderkey")
  }

  /** S12 — BAD-RECORDS JSON ingestion (the production ingest-quality
    * surface every pipeline needs): a JSON-lines stage where a
    * deterministic subset of lines is CORRUPT (truncated mid-object —
    * the doc_id % 17 rule the oracle replays), read back in PERMISSIVE
    * mode with an explicit schema + corrupt-record column. Good rows
    * aggregate only where the corrupt column is NULL — well-defined
    * whatever partial-field recovery the parser attempts on a
    * truncated record. The scale point: quarantine is a per-row
    * classification at the scan — no second pass, no job failure on
    * dirty data; the corrupt rows stay queryable for the dead-letter
    * audit. (Spark's internal-corrupt-column restriction bites only a
    * query whose required schema is the corrupt column ALONE — this
    * aggregate reads the data columns too, so no `.cache()` is needed
    * and nothing corpus-sized is ever pinned.) */
  val sourceJsonBadrecords: Q = (s, d) => {
    val dir = scratch(s, "jsonbad")
    Tables.documents(s, d)
      .select(when(pmod(col("doc_id"), lit(17)) === 0,
          concat(lit("{\"doc_id\": "), col("doc_id").cast("string"),
            lit(", \"n_chars\": ")))
        .otherwise(to_json(struct(col("doc_id"), col("n_chars"))))
        .as("value"))
      .write.mode("overwrite").text(dir)
    val parsed = s.read
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("n_chars",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("_corrupt_record",
          org.apache.spark.sql.types.StringType))))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(dir)
    parsed.agg(
      count(lit(1)).as("n_lines"),
      count(col("_corrupt_record")).as("n_corrupt"),
      sum(when(col("_corrupt_record").isNull, col("doc_id")))
        .as("good_id_sum"),
      sum(when(col("_corrupt_record").isNull, col("n_chars")))
        .as("good_chars_sum"))
  }

  /** S13 — the MATERIALIZED BI view as a declared query: full build
    * ONCE per (session, corpus), then a change-driven refresh of a
    * bounded invoice page (recomputes and republishes ONLY the touched
    * buckets — O(page) of the view, per
    * [[MaterializedView]]) and a serving read off the parquet layout
    * on EVERY call. Deployment builds a materialized view a single
    * time and keeps it fresh from the changefeed — rebuilding the
    * full 16-bucket layout per invocation charged the full-build
    * write to every bench repeat, and under disk pressure swung the
    * timing 2.4× between same-day sweeps (round-8 verdict #2); the
    * steady-state path is refresh + serve, which is what repeats
    * measure now. The refresh is idempotent over a static corpus, so
    * the declared output is identical on every call; the oracle is
    * the direct join — the whole protocol must be output-invisible. */
  private val mvBuilt =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  val viewMaterialized: Q = (s, d) => {
    // corpus-scoped path: two corpora in one session are two layouts,
    // never an overwrite race on one path
    val path = scratch(s,
      "mview-" + java.lang.Integer.toHexString(d.hashCode))
    val mv = new MaterializedView(s, d, path, nBuckets = 16)
    val key = s"${s.sparkContext.applicationId}|$d"
    if (!mvBuilt.contains(key)) mvBuilt.synchronized {
      if (!mvBuilt.contains(key)) { mv.build(); mvBuilt.add(key) }
    }
    mv.refresh(Seq(1L, 7L, 32L, 1000L))
    mv.read()
      .filter(col("customer_key") <= 100)
      .select(col("invoice_id"), col("line_no"), col("customer_key"),
        col("status"), col("qty"), col("price_cents"))
      // total order: (invoice_id, line_no) carries duplicate pairs with
      // differing measures in the synthetic lineitem (777 tie groups at
      // sf0.01 — the round-12 total-order lint), same class as
      // join_view_flat. The sort lists EVERY output column — not just
      // the measures observed to differ — so totality is structural,
      // not a property of the tested corpora (round-12 advice: a tie on
      // the four-key sort with differing status would have reintroduced
      // the flake)
      .orderBy("invoice_id", "line_no", "qty", "price_cents",
        "customer_key", "status")
  }

  // ------------------------------------------------------------ registry --

  val queries: Map[String, Q] = Map(
    "view_adhoc_sql" -> viewAdhocSql,
    "view_cached_sql" -> viewCachedSql,
    "sql_segment_topn" -> sqlSegmentTopn,
    "sql_region_revenue" -> sqlRegionRevenue,
    "join_asof_forward" -> joinAsofForward,
    "project_view" -> projectView,
    "computed_column" -> computedColumn,
    "filter_version_range" -> filterVersionRange,
    "filter_resume_cursor" -> filterResumeCursor,
    "filter_suffix" -> filterSuffix,
    "join_line_feed" -> joinLineFeed,
    "join_header_rehydrate" -> joinHeaderRehydrate,
    "join_view_flat" -> joinViewFlat,
    "join_semi_changed" -> joinSemiChanged,
    "join_nest_lines" -> joinNestLines,
    "join_cross_gen" -> joinCrossGen,
    "join_asof" -> joinAsof,
    "join_interval" -> joinInterval,
    "join_salted" -> joinSalted,
    "agg_max_version" -> aggMaxVersion,
    "agg_distinct_ids" -> aggDistinctIds,
    "agg_collect_lines" -> aggCollectLines,
    "cdc_current_version" -> cdcCurrentVersion,
    "agg_counts" -> aggCounts,
    "agg_sampled_avg" -> aggSampledAvg,
    "agg_rollup" -> aggRollup,
    "agg_percentile" -> aggPercentile,
    "window_row_number" -> windowRowNumber,
    "window_running_sum" -> windowRunningSum,
    "window_lag_delta" -> windowLagDelta,
    "window_sessionize" -> windowSessionize,
    "window_session_native" -> windowSessionNative,
    "window_gapfill" -> windowGapfill,
    "agg_pivot" -> aggPivot,
    "agg_cube" -> aggCube,
    "agg_grouping_sets" -> aggGroupingSets,
    "window_ntile" -> windowNtile,
    "window_percent_rank" -> windowPercentRank,
    "window_range_frame" -> windowRangeFrame,
    "window_interpolate" -> windowInterpolate,
    "agg_collect_set_sorted" -> aggCollectSetSorted,
    "agg_corr_manual" -> aggCorrManual,
    "agg_mode" -> aggMode,
    "join_band_value" -> joinBandValue,
    "window_funnel" -> windowFunnel,
    "agg_retention_cohorts" -> aggRetentionCohorts,
    "fn_levenshtein" -> fnLevenshtein,
    "topk_by_version" -> topkByVersion,
    "sort_desc" -> sortDesc,
    "union_all_feeds" -> unionAllFeeds,
    "union_distinct_feeds" -> unionDistinctFeeds,
    "except_feeds" -> exceptFeeds,
    "intersect_feeds" -> intersectFeeds,
    "join_anti_changed" -> joinAntiChanged,
    "fn_string_build" -> fnStringBuild,
    "fn_date_add" -> fnDateAdd,
    "fn_date_diff" -> fnDateDiff,
    "fn_to_json" -> fnToJson,
    "fn_from_json" -> fnFromJson,
    "fn_ts_format" -> fnTsFormat,
    "fn_duration_format" -> fnDurationFormat,
    "fn_regexp_extract" -> fnRegexpExtract,
    "agg_approx_distinct" -> aggApproxDistinct,
    "source_csv_ingest" -> sourceCsvIngest,
    "source_orc_roundtrip" -> sourceOrcRoundtrip,
    "source_json_roundtrip" -> sourceJsonRoundtrip,
    "source_json_badrecords" -> sourceJsonBadrecords,
    "view_materialized" -> viewMaterialized,
    "source_text_ingest" -> sourceTextIngest,
    "source_partitioned_corpus" -> sourcePartitionedCorpus,
    "layout_zorder_scan" -> layoutZorderScan,
    "gen_synthetic" -> genSynthetic
  )

  /** DuckDB twins. Same column names + same ORDER BY as the Spark side. */
  val oracleSql: Map[String, String] = Map(
    "view_adhoc_sql" ->
      """SELECT o_orderstatus AS status, strftime(o_orderdate, '%Y-%m') AS month,
        | count(DISTINCT o_orderkey) AS n_invoices,
        | CAST(sum(CAST(round(l_quantity * l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |   AS revenue_cents
        | FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        | GROUP BY 1, 2 ORDER BY status, month""".stripMargin,
    "sql_segment_topn" ->
      """SELECT l.l_orderkey AS invoice_id,
        |   CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
        |       AS BIGINT)) AS BIGINT) AS revenue_cents,
        |   strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
        |   o.o_orderpriority AS priority
        | FROM customer c
        | JOIN orders o ON c.c_custkey = o.o_custkey
        | JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        | WHERE c.c_mktsegment = 'BUILDING'
        |   AND o.o_orderdate < TIMESTAMP '1998-07-01 00:00:00'
        |   AND l.l_shipdate > TIMESTAMP '1998-07-01 00:00:00'
        | GROUP BY 1, 3, 4
        | ORDER BY revenue_cents DESC, invoice_id
        | LIMIT 10""".stripMargin,
    "sql_region_revenue" ->
      """SELECT n.n_name AS nation, count(*) AS n_lines,
        |   CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
        |       AS BIGINT)) AS BIGINT) AS revenue_cents
        | FROM region r
        | JOIN nation n ON n.n_regionkey = r.r_regionkey
        | JOIN customer c ON c.c_nationkey = n.n_nationkey
        | JOIN orders o ON o.o_custkey = c.c_custkey
        | JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        | WHERE r.r_name = 'ASIA'
        |   AND o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |   AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        | GROUP BY 1
        | ORDER BY revenue_cents DESC, nation""".stripMargin,
    "project_view" ->
      """SELECT o_orderkey AS invoice_id, o_orderstatus AS status,
        | o_orderpriority AS priority FROM orders ORDER BY invoice_id""".stripMargin,
    "computed_column" ->
      """SELECT l_orderkey, l_linenumber,
        | CAST(round(l_quantity * l_extendedprice * 100, 0) AS BIGINT) AS line_total_cents
        | FROM lineitem
        | ORDER BY l_orderkey, l_linenumber, line_total_cents""".stripMargin,
    "filter_version_range" ->
      """SELECT event_id, user_id, event_type FROM events
        | WHERE event_id > 100 AND event_id <= 500 ORDER BY event_id""".stripMargin,
    "filter_resume_cursor" ->
      """SELECT event_id, user_id FROM events
        | WHERE user_id > 7 OR (user_id = 7 AND event_id > 500)
        | ORDER BY event_id""".stripMargin,
    "filter_suffix" ->
      """SELECT doc_id, source FROM documents
        | WHERE source LIKE '%1' ORDER BY doc_id""".stripMargin,
    "join_line_feed" ->
      """SELECT e.event_id AS change_version, c.c_custkey AS entity_id,
        | c.c_mktsegment AS segment
        | FROM events e JOIN customer c ON e.user_id = c.c_custkey
        | ORDER BY change_version""".stripMargin,
    "join_header_rehydrate" ->
      """WITH feeds AS (
        |   SELECT o_orderkey AS invoice_id, o_orderkey * 2 AS change_version FROM orders
        |   UNION ALL
        |   SELECT l_orderkey, l_orderkey * 2 + 1 FROM lineitem),
        | agg AS (
        |   SELECT invoice_id, max(change_version) AS change_version
        |   FROM feeds GROUP BY invoice_id)
        | SELECT a.invoice_id, a.change_version,
        |   CAST(round(o.o_totalprice * 100, 0) AS BIGINT) AS total_cents
        | FROM agg a JOIN orders o ON o.o_orderkey = a.invoice_id
        | ORDER BY invoice_id""".stripMargin,
    "join_view_flat" ->
      """SELECT l_orderkey AS invoice_id, l_linenumber AS line_no,
        | o_custkey AS customer_key, o_orderdate AS invoice_date,
        | CAST(round(l_quantity, 0) AS BIGINT) AS qty,
        | CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS price_cents
        | FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        | ORDER BY invoice_id, line_no, qty, price_cents,
        |   customer_key, invoice_date""".stripMargin,
    "join_semi_changed" ->
      """SELECT o_orderkey AS invoice_id, o_orderstatus AS status FROM orders
        | WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
        |                      WHERE l_shipdate >= TIMESTAMP '2001-01-01')
        | ORDER BY invoice_id""".stripMargin,
    "join_nest_lines" ->
      """SELECT l_orderkey AS invoice_id,
        | to_json(list(struct_pack(
        |   line_no := CAST(l_linenumber AS BIGINT), part_key := l_partkey,
        |   qty := CAST(round(l_quantity, 0) AS BIGINT),
        |   price_cents := CAST(round(l_extendedprice * 100, 0) AS BIGINT))
        |   ORDER BY l_linenumber, l_partkey,
        |     CAST(round(l_quantity, 0) AS BIGINT),
        |     CAST(round(l_extendedprice * 100, 0) AS BIGINT))) AS lines
        | FROM lineitem GROUP BY l_orderkey ORDER BY invoice_id""".stripMargin,
    "join_cross_gen" ->
      """SELECT r_regionkey, n_nationkey FROM region CROSS JOIN nation
        | ORDER BY r_regionkey, n_nationkey""".stripMargin,
    "join_asof" ->
      """WITH l AS (SELECT event_id, user_id, CAST(epoch_us(ts) AS BIGINT) AS us
        |           FROM events WHERE event_type = 'purchase'),
        |      r AS (SELECT event_id, user_id, CAST(epoch_us(ts) AS BIGINT) AS us
        |           FROM events WHERE event_type = 'error')
        | SELECT l.event_id, l.user_id, l.us AS purchase_us,
        |   r.event_id AS err_event_id, r.us AS err_us,
        |   (l.us - r.us) // 1000 AS gap_ms
        | FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.us >= r.us
        | ORDER BY l.event_id""".stripMargin,
    "join_asof_forward" ->
      """WITH l AS (SELECT event_id, user_id, CAST(epoch_us(ts) AS BIGINT) AS us
        |           FROM events WHERE event_type = 'purchase'),
        |      r AS (SELECT event_id, user_id, CAST(epoch_us(ts) AS BIGINT) AS us
        |           FROM events WHERE event_type = 'error')
        | SELECT l.event_id, l.user_id, l.us AS purchase_us,
        |   r.event_id AS next_err_id, r.us AS next_err_us,
        |   (r.us - l.us) // 1000 AS gap_ms
        | FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.us <= r.us
        | ORDER BY l.event_id""".stripMargin,
    "view_cached_sql" ->
      """SELECT o_orderstatus AS status, count(*) AS n_lines,
        |   CAST(sum(CAST(round(l_quantity * l_extendedprice * 100) AS BIGINT))
        |     AS BIGINT) AS cents
        | FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        | GROUP BY 1 ORDER BY status""".stripMargin,
    "join_interval" ->
      """WITH l AS (SELECT event_id, user_id, CAST(epoch_us(ts) AS BIGINT) AS us
        |           FROM events WHERE event_type = 'purchase'),
        |      r AS (SELECT event_id, user_id, CAST(epoch_us(ts) AS BIGINT) AS us
        |           FROM events WHERE event_type = 'error')
        | SELECT l.event_id, l.user_id, r.event_id AS err_event_id,
        |   (l.us - r.us) // 1000 AS gap_ms
        | FROM l JOIN r ON l.user_id = r.user_id
        |   AND r.us <= l.us AND r.us > l.us - 3600000000
        | ORDER BY 1, 3""".stripMargin,
    "join_salted" ->
      // the oracle is the PLAIN join: salting must be output-invisible
      """SELECT e.event_id, e.user_id, c.c_mktsegment AS segment
        | FROM events e JOIN customer c ON e.user_id = c.c_custkey
        | ORDER BY e.event_id""".stripMargin,
    "agg_max_version" ->
      """SELECT user_id, max(event_id) AS change_version FROM events
        | GROUP BY user_id ORDER BY user_id""".stripMargin,
    "agg_distinct_ids" ->
      "SELECT DISTINCT user_id FROM events ORDER BY user_id",
    "agg_approx_distinct" ->
      // a true oracle because the theta sketch is in EXACT mode below
      // its 2^16 nominal capacity at every verify AND probe SF
      // (measured: 15 / 150 / 1500 / 15k distinct user_ids at
      // sf0.001…sf1; the 2^12 default crossed into estimation at sf1,
      // round-12 probe) — the llm_sketch_rollup exact-below-capacity
      // precedent; SketchSpec bounds the above-capacity regime
      ("SELECT CAST(count(DISTINCT user_id) AS BIGINT) " +
        "AS approx_entities FROM events"),
    "agg_collect_lines" ->
      """SELECT user_id,
        | to_json(list(event_id ORDER BY event_id)) AS event_ids
        | FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "cdc_current_version" ->
      "SELECT max(event_id) AS current_version FROM events",
    "agg_counts" ->
      """SELECT event_type, count(*) AS n,
        | CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS value_cents
        | FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "agg_sampled_avg" ->
      """SELECT CAST(round(avg(n_chars) * 10000, 0) AS BIGINT) AS avg_chars_e4
        | FROM (SELECT n_chars FROM documents ORDER BY doc_id LIMIT 10)""".stripMargin,
    "agg_rollup" ->
      """SELECT coalesce(event_type, 'ALL') AS event_type, count(*) AS n,
        | CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        | FROM events GROUP BY ROLLUP(event_type) ORDER BY event_type""".stripMargin,
    "agg_percentile" ->
      """SELECT event_type,
        | CAST(round(quantile_cont(value, 0.5) * 10000) AS BIGINT) AS p50_e4,
        | CAST(round(quantile_cont(value, 0.95) * 10000) AS BIGINT) AS p95_e4
        | FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "window_running_sum" ->
      """SELECT user_id, event_id,
        | CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER (
        |   PARTITION BY user_id ORDER BY event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |   AS running_cents
        | FROM events ORDER BY user_id, event_id""".stripMargin,
    "window_lag_delta" ->
      """WITH e AS (
        |   SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
        |     CAST(round(value * 100) AS BIGINT) AS cents
        |   FROM events)
        | SELECT user_id, event_id,
        |   cents - lag(cents) OVER (
        |     PARTITION BY user_id ORDER BY ts_ms, event_id) AS delta_cents
        | FROM e ORDER BY user_id, event_id""".stripMargin,
    "window_sessionize" ->
      """WITH e AS (
        |   SELECT user_id, event_id, epoch_ms(ts) AS ts_ms FROM events),
        | f AS (
        |   SELECT user_id, event_id, ts_ms,
        |     CASE WHEN lag(ts_ms) OVER w IS NULL
        |            OR ts_ms - lag(ts_ms) OVER w > 21600000
        |          THEN 1 ELSE 0 END AS new_s
        |   FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)),
        | s AS (
        |   SELECT user_id, event_id, ts_ms,
        |     CAST(sum(new_s) OVER (
        |       PARTITION BY user_id ORDER BY ts_ms, event_id
        |       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |   FROM f)
        | SELECT user_id, session_id,
        |   min(ts_ms) AS session_start_ms, max(ts_ms) AS session_end_ms,
        |   count(*) AS n_events,
        |   min(event_id) AS first_event, max(event_id) AS last_event
        | FROM s GROUP BY user_id, session_id
        | ORDER BY user_id, session_id""".stripMargin,
    "window_session_native" ->
      // session_window semantics: END-EXCLUSIVE windows — a gap of
      // exactly the timeout splits (>=, not >); end = last event + gap
      """WITH e AS (
        |   SELECT user_id, epoch_ms(ts) AS ts_ms FROM events),
        | f AS (
        |   SELECT user_id, ts_ms,
        |     CASE WHEN lag(ts_ms) OVER w IS NULL
        |            OR ts_ms - lag(ts_ms) OVER w >= 21600000
        |          THEN 1 ELSE 0 END AS new_s
        |   FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms)),
        | s AS (
        |   SELECT user_id, ts_ms,
        |     CAST(sum(new_s) OVER (
        |       PARTITION BY user_id ORDER BY ts_ms
        |       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |   FROM f)
        | SELECT user_id,
        |   min(ts_ms) AS session_start_ms,
        |   CAST(max(ts_ms) + 21600000 AS BIGINT) AS session_end_ms,
        |   count(*) AS n_events
        | FROM s GROUP BY user_id, session_id
        | ORDER BY user_id, session_start_ms""".stripMargin,
    "window_gapfill" ->
      """WITH b AS (
        |   SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS n
        |   FROM events GROUP BY 1, 2),
        | r AS (
        |   SELECT event_type,
        |     unnest(generate_series(min(hour), max(hour), INTERVAL 1 HOUR))
        |       AS hour
        |   FROM b GROUP BY event_type)
        | SELECT r.event_type, r.hour, coalesce(b.n, 0) AS n
        | FROM r LEFT JOIN b ON r.event_type = b.event_type AND r.hour = b.hour
        | ORDER BY 1, 2""".stripMargin,
    "agg_pivot" ->
      """SELECT user_id,
        |   count(*) FILTER (event_type = 'click') AS click,
        |   count(*) FILTER (event_type = 'error') AS error,
        |   count(*) FILTER (event_type = 'purchase') AS purchase,
        |   count(*) FILTER (event_type = 'signup') AS signup,
        |   count(*) FILTER (event_type = 'view') AS view
        | FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "agg_cube" ->
      """SELECT coalesce(lang, 'ALL') AS lang, coalesce(source, 'ALL') AS source,
        |   count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
        | FROM documents GROUP BY CUBE (lang, source)
        | ORDER BY lang, source""".stripMargin,
    "agg_grouping_sets" ->
      """SELECT coalesce(event_type, 'ALL') AS event_type,
        |   coalesce(band, 'ALL') AS band, count(*) AS n,
        |   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        | FROM (SELECT event_type,
        |         CASE WHEN value < 50 THEN 'low' ELSE 'high' END AS band, value
        |       FROM events)
        | GROUP BY GROUPING SETS ((event_type, band), (band), ())
        | ORDER BY event_type, band""".stripMargin,
    "window_ntile" ->
      """SELECT event_id, event_type,
        |   CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |   lead(cents) OVER w AS next_cents,
        |   first_value(cents) OVER w AS top_cents
        | FROM (SELECT event_id, event_type,
        |         CAST(round(value * 100) AS BIGINT) AS cents FROM events)
        | WINDOW w AS (PARTITION BY event_type ORDER BY cents DESC, event_id)
        | ORDER BY event_id""".stripMargin,
    "fn_levenshtein" ->
      """SELECT doc_id,
        |   CAST(levenshtein(substring(text, 1, 20), substring(text, 21, 20))
        |     AS BIGINT) AS edit_dist
        | FROM documents ORDER BY doc_id""".stripMargin,
    "window_range_frame" ->
      """SELECT user_id, event_id,
        |   CAST(sum(cents) OVER (PARTITION BY user_id ORDER BY ts_ms
        |     RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW) AS BIGINT)
        |     AS hour_cents
        | FROM (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
        |         CAST(round(value * 100) AS BIGINT) AS cents FROM events)
        | ORDER BY user_id, event_id""".stripMargin,
    "window_percent_rank" ->
      """SELECT event_id, event_type,
        |   CAST(round(percent_rank() OVER w * 1000000) AS BIGINT) AS pr_e6,
        |   CAST(round(cume_dist() OVER w * 1000000) AS BIGINT) AS cd_e6
        | FROM (SELECT event_id, event_type,
        |         CAST(round(value * 100) AS BIGINT) AS cents FROM events)
        | WINDOW w AS (PARTITION BY event_type ORDER BY cents, event_id)
        | ORDER BY event_id""".stripMargin,
    "source_csv_ingest" ->
      """SELECT event_type, count(*) AS n,
        |   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
        |   CAST(sum(event_id) AS BIGINT) AS sum_event_id,
        |   CAST(sum(user_id) AS BIGINT) AS sum_user_id
        | FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "source_partitioned_corpus" ->
      """SELECT count(*) AS n_docs,
        |   CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |   CAST(sum(doc_id) AS BIGINT) AS sum_doc_id
        | FROM documents WHERE lang = 'en'""".stripMargin,
    "layout_zorder_scan" ->
      // the same data-relative 2-D box over the UN-clustered table:
      // the z-layout must be output-invisible. `//` floors like the
      // Scala long division on these non-negative ranges.
      """WITH e AS (
        |   SELECT event_id, user_id, event_type,
        |     CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        | b AS (SELECT min(user_id) AS umin, max(user_id) AS umax,
        |              min(cents) AS cmin, max(cents) AS cmax FROM e)
        | SELECT e.event_type, count(*) AS n_events,
        |   CAST(sum(e.cents) AS BIGINT) AS total_cents,
        |   CAST(sum(e.event_id) AS BIGINT) AS sum_event_id
        | FROM e, b
        | WHERE e.user_id BETWEEN b.umin + (b.umax - b.umin) // 3
        |                     AND b.umin + 2 * (b.umax - b.umin) // 3
        |   AND e.cents BETWEEN b.cmin AND b.cmin + (b.cmax - b.cmin) // 2
        | GROUP BY e.event_type ORDER BY e.event_type""".stripMargin,
    "source_text_ingest" ->
      """SELECT count(*) AS n_docs,
        |   CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
        | FROM documents""".stripMargin,
    "source_orc_roundtrip" ->
      """SELECT l_orderkey, count(*) AS n_lines,
        |   CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |     AS cents
        | FROM lineitem WHERE l_orderkey <= 1000
        | GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,
    "source_json_roundtrip" ->
      """SELECT l_orderkey, count(*) AS n_lines,
        |   CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |     AS cents
        | FROM lineitem WHERE l_orderkey <= 1000
        | GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,
    "window_interpolate" ->
      """WITH b AS (
        |   SELECT event_type, date_trunc('hour', ts) AS hour,
        |     CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |   FROM events GROUP BY 1, 2),
        | r AS (
        |   SELECT event_type,
        |     unnest(generate_series(min(hour), max(hour), INTERVAL 1 HOUR))
        |       AS hour
        |   FROM b GROUP BY event_type),
        | j AS (
        |   SELECT r.event_type, r.hour, b.cents
        |   FROM r LEFT JOIN b ON r.event_type = b.event_type AND r.hour = b.hour),
        | w AS (
        |   SELECT event_type, hour, cents, epoch_ms(hour) AS hms,
        |     last_value(cents IGNORE NULLS) OVER wp AS pv,
        |     last_value(CASE WHEN cents IS NOT NULL THEN epoch_ms(hour) END
        |       IGNORE NULLS) OVER wp AS ph,
        |     first_value(cents IGNORE NULLS) OVER wn AS nv,
        |     first_value(CASE WHEN cents IS NOT NULL THEN epoch_ms(hour) END
        |       IGNORE NULLS) OVER wn AS nh
        |   FROM j
        |   WINDOW wp AS (PARTITION BY event_type ORDER BY hour
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |   wn AS (PARTITION BY event_type ORDER BY hour
        |     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        | SELECT event_type, hour,
        |   CAST(CASE WHEN cents IS NOT NULL THEN cents
        |     WHEN pv IS NULL THEN nv
        |     WHEN nv IS NULL THEN pv
        |     ELSE round(pv + (nv - pv) * (CAST(hms - ph AS DOUBLE) /
        |       CAST(nh - ph AS DOUBLE))) END AS BIGINT) AS cents_interp
        | FROM w ORDER BY event_type, hour""".stripMargin,
    "agg_collect_set_sorted" ->
      """SELECT user_id,
        |   string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS types,
        |   CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
        | FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "agg_corr_manual" ->
      """WITH q AS (
        |   SELECT CAST(round(l_quantity * 100) AS BIGINT) AS x,
        |     CAST(round(l_extendedprice) AS BIGINT) AS y
        |   FROM lineitem),
        | sums AS (
        |   SELECT CAST(count(*) AS DOUBLE) AS n,
        |     CAST(sum(CAST(x AS HUGEINT)) AS DOUBLE) AS sx,
        |     CAST(sum(CAST(y AS HUGEINT)) AS DOUBLE) AS sy,
        |     CAST(sum(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy,
        |     CAST(sum(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx,
        |     CAST(sum(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy
        |   FROM q)
        | SELECT CAST(n AS BIGINT) AS n,
        |   CAST(round(1000000.0 * (n * sxy - sx * sy) /
        |     (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))) AS BIGINT)
        |     AS corr_e6
        | FROM sums""".stripMargin,
    "source_json_badrecords" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_lines,
        |   CAST(sum(CASE WHEN doc_id % 17 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |     AS n_corrupt,
        |   CAST(sum(CASE WHEN doc_id % 17 <> 0 THEN doc_id END) AS BIGINT)
        |     AS good_id_sum,
        |   CAST(sum(CASE WHEN doc_id % 17 <> 0 THEN n_chars END) AS BIGINT)
        |     AS good_chars_sum
        | FROM documents""".stripMargin,
    "view_materialized" ->
      """SELECT o.o_orderkey AS invoice_id, l.l_linenumber AS line_no,
        |   o.o_custkey AS customer_key, o.o_orderstatus AS status,
        |   CAST(round(l.l_quantity) AS BIGINT) AS qty,
        |   CAST(round(l.l_extendedprice * 100) AS BIGINT) AS price_cents
        | FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        | WHERE o.o_custkey <= 100
        | ORDER BY invoice_id, line_no, qty, price_cents,
        |   customer_key, status""".stripMargin,
    "agg_mode" ->
      """WITH c AS (
        |   SELECT user_id, event_type, count(*) AS n
        |   FROM events GROUP BY user_id, event_type),
        | r AS (
        |   SELECT user_id, event_type, n,
        |     row_number() OVER (PARTITION BY user_id
        |       ORDER BY n DESC, event_type) AS rn,
        |     sum(n) OVER (PARTITION BY user_id) AS n_events
        |   FROM c)
        | SELECT user_id, event_type AS mode_type,
        |   CAST(n AS BIGINT) AS mode_n, CAST(n_events AS BIGINT) AS n_events
        | FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "join_band_value" ->
      """WITH a AS (
        |   SELECT event_id, event_type, value FROM events
        |   WHERE event_id % 20 = 0)
        | SELECT a.event_id, a.event_type, a.value,
        |   CAST(count(e.event_id) AS BIGINT) AS n_close
        | FROM a LEFT JOIN events e ON e.event_type = a.event_type
        |   AND e.event_id <> a.event_id
        |   AND abs(e.value - a.value) <= 0.25
        | GROUP BY a.event_id, a.event_type, a.value
        | ORDER BY a.event_id""".stripMargin,
    "window_funnel" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_ms(ts) AS ts_ms
        |   FROM events),
        | s1 AS (SELECT user_id, min(ts_ms) AS t1_ms FROM ev
        |   WHERE event_type = 'view' GROUP BY user_id),
        | s2 AS (SELECT e.user_id, s1.t1_ms, min(e.ts_ms) AS t2_ms
        |   FROM ev e JOIN s1 ON s1.user_id = e.user_id
        |   WHERE e.event_type = 'click' AND e.ts_ms > s1.t1_ms
        |     AND e.ts_ms <= s1.t1_ms + 21600000
        |   GROUP BY e.user_id, s1.t1_ms),
        | s3 AS (SELECT e.user_id, min(e.ts_ms) AS t3_ms
        |   FROM ev e JOIN s2 ON s2.user_id = e.user_id
        |   WHERE e.event_type = 'purchase' AND e.ts_ms > s2.t2_ms
        |     AND e.ts_ms <= s2.t1_ms + 21600000
        |   GROUP BY e.user_id)
        | SELECT s1.user_id, s1.t1_ms, s2.t2_ms, s3.t3_ms,
        |   CAST(1 + CAST(s2.t2_ms IS NOT NULL AS INT)
        |     + CAST(s3.t3_ms IS NOT NULL AS INT) AS BIGINT) AS depth
        | FROM s1 LEFT JOIN s2 ON s2.user_id = s1.user_id
        | LEFT JOIN s3 ON s3.user_id = s1.user_id
        | ORDER BY s1.user_id""".stripMargin,
    "agg_retention_cohorts" ->
      """WITH active AS (SELECT DISTINCT user_id,
        |   epoch_ms(ts) // 86400000 AS day FROM events),
        | cohorts AS (SELECT user_id, min(day) AS cohort_day
        |   FROM active GROUP BY user_id)
        | SELECT c.cohort_day, a.day - c.cohort_day AS day_offset,
        |   CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_active
        | FROM active a JOIN cohorts c ON c.user_id = a.user_id
        | GROUP BY c.cohort_day, a.day - c.cohort_day
        | ORDER BY cohort_day, day_offset""".stripMargin,
    "window_row_number" ->
      """SELECT * FROM (
        |   SELECT l_returnflag, l_orderkey, l_linenumber,
        |     row_number() OVER (PARTITION BY l_returnflag
        |                        ORDER BY l_orderkey, l_linenumber) AS rn
        |   FROM lineitem)
        | WHERE rn <= 100 ORDER BY l_returnflag, rn""".stripMargin,
    "topk_by_version" ->
      """SELECT event_id, user_id, event_type FROM events
        | ORDER BY event_id LIMIT 100""".stripMargin,
    "sort_desc" ->
      """SELECT doc_id, n_chars FROM documents
        | ORDER BY n_chars DESC, doc_id LIMIT 50""".stripMargin,
    "union_all_feeds" ->
      """SELECT * FROM (
        |   SELECT o_orderkey AS invoice_id, o_orderkey * 2 AS change_version FROM orders
        |   UNION ALL
        |   SELECT l_orderkey, l_orderkey * 2 + 1 FROM lineitem)
        | ORDER BY change_version, invoice_id""".stripMargin,
    "union_distinct_feeds" ->
      """SELECT DISTINCT * FROM (
        |   SELECT o_orderkey AS invoice_id, o_orderkey * 2 AS change_version FROM orders
        |   UNION ALL
        |   SELECT l_orderkey, l_orderkey * 2 + 1 FROM lineitem)
        | ORDER BY change_version, invoice_id""".stripMargin,
    "except_feeds" ->
      """SELECT user_id FROM events WHERE event_type = 'click'
        | EXCEPT
        | SELECT user_id FROM events WHERE event_type = 'purchase'
        | ORDER BY user_id""".stripMargin,
    "intersect_feeds" ->
      """SELECT user_id FROM events WHERE event_type = 'click'
        | INTERSECT
        | SELECT user_id FROM events WHERE event_type = 'purchase'
        | ORDER BY user_id""".stripMargin,
    "join_anti_changed" ->
      """SELECT o_orderkey AS invoice_id, o_orderstatus AS status FROM orders
        | WHERE o_orderkey NOT IN (SELECT l_orderkey FROM lineitem
        |                          WHERE l_shipdate >= TIMESTAMP '2001-01-01')
        | ORDER BY invoice_id""".stripMargin,
    "fn_string_build" ->
      """SELECT o_orderkey,
        | 'INV-' || lpad(CAST(o_orderkey + 300000 AS VARCHAR), 9, '0') AS invoice_number
        | FROM orders ORDER BY o_orderkey""".stripMargin,
    "fn_date_add" ->
      """SELECT o_orderkey,
        | DATE '2026-01-01' + CAST(o_orderkey % 365 AS INT) AS invoice_date
        | FROM orders ORDER BY o_orderkey""".stripMargin,
    "fn_date_diff" ->
      """SELECT event_id, epoch_ms(ts) - epoch_ms(TIMESTAMP '2024-01-01') AS elapsed_ms
        | FROM events ORDER BY event_id""".stripMargin,
    "fn_to_json" ->
      """SELECT event_id,
        | to_json(struct_pack(id := event_id, type := event_type)) AS doc
        | FROM events ORDER BY event_id""".stripMargin,
    "fn_from_json" ->
      """SELECT event_id, CAST(props->>'$.k' AS INT) AS k
        | FROM events ORDER BY event_id""".stripMargin,
    "fn_ts_format" ->
      """SELECT event_id, strftime(ts, '%Y%m%d_%H%M%S') AS ts_key
        | FROM events ORDER BY event_id""".stripMargin,
    "fn_regexp_extract" ->
      """SELECT event_id, regexp_extract(props, '[0-9]+', 0) AS first_number
        | FROM events ORDER BY event_id""".stripMargin,
    "fn_duration_format" ->
      """SELECT event_id,
        | CASE WHEN event_id * 137 < 1000
        |        THEN CAST(event_id * 137 AS VARCHAR) || 'ms'
        |      WHEN event_id * 137 < 60000
        |        THEN CAST(CAST(floor(event_id * 137 / 1000) AS BIGINT) AS VARCHAR) || 's'
        |      ELSE CAST(CAST(floor(event_id * 137 / 60000) AS BIGINT) AS VARCHAR) || 'm' ||
        |           CAST(CAST(floor((event_id * 137) % 60000 / 1000) AS BIGINT) AS VARCHAR) || 's'
        | END AS duration
        | FROM events ORDER BY event_id""".stripMargin,
    "gen_synthetic" ->
      """SELECT id,
        | 'INV-' || lpad(CAST(id + 300000 AS VARCHAR), 9, '0') AS invoice_number,
        | 'CUST-' || lpad(CAST(id % 100 + 1 AS VARCHAR), 6, '0') AS customer_code,
        | DATE '2026-01-01' + CAST(id % 365 AS INT) AS invoice_date,
        | (id * 48271) % 10 + 1 AS qty,
        | (id * 16807) % 50000 + 5000 AS unit_price_cents,
        | ((id * 48271) % 10 + 1) * ((id * 16807) % 50000 + 5000) AS line_total_cents
        | FROM range(1, 25001) t(id) ORDER BY id""".stripMargin
  )
}
