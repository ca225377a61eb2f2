package graft.cdc

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{FeedSnapshot, SnapshotSlot}

/** One delivered page plus the metadata the reference returns in its
  * HTTP response (fromVersion/toVersion/count/hasMore, server.js:276-299).
  * Every page row is fresh (the resume filter runs pre-limit), so there
  * is no raw-vs-delivered count distinction. */
case class Page(data: DataFrame,
                fromVersion: Long, toVersion: Long,
                count: Long, hasMore: Boolean,
                lastVersion: Long, lastId: Long)

/** Per-stage latency of one delivered poll — the reference's performance
  * summary block (readState / queryDatabase / saveBSON / updateState,
  * server.js:286-293). `indexBuildMs` is the time the poll spent
  * (re)building the feed index or the current-state index for a new
  * snapshot — 0 when both were hits — kept out of `queryMs` so a rebuild
  * shows as its own stage. */
case class PollTimings(readStateMs: Long, queryMs: Long,
                       sinkMs: Long, commitMs: Long,
                       indexBuildMs: Long = 0L) {
  def totalMs: Long = readStateMs + indexBuildMs + queryMs + sinkMs + commitMs
}

/** The collapsed feed of one snapshot: newest version per entity over
  * (0, to], persisted in executor storage and range-sorted by
  * (change_version, invoice_id), so a page lookup prunes the cached
  * batches before the cursor. */
private final class FeedIndex(val to: Long, val keys: DataFrame)

private object FeedIndex {
  /** Tags every build's cached plan, so two builds over the same plan
    * (another ChangeFeed on the same dir, or a snapshot whose files
    * changed under an unchanged `to`) never share or serve each other's
    * cache entry. */
  private val builds = new AtomicLong()
  def nextBuild(): Long = builds.incrementAndGet()
}

/** The batch-incremental exactly-once poll protocol — the heart of the
  * reference (invoice-api/server.js:83-299 + consumer.js:6-49), re-expressed
  * over Spark:
  *
  *  1. read consumer cursor (auto-create at version 0);
  *  2. deliberate overlap: re-read from `lastSyncVersion - 1`
  *     (server.js:134) so a crash between sink-write and offset-commit
  *     can never skip rows — at-least-once read;
  *  3. composite resume cursor `(v > last) OR (v = last AND id > lastId)`
  *     (server.js:165-168) dedups the overlap — idempotent delivery;
  *  4. sink the page; commit the cursor to the last delivered (version, id)
  *     ONLY if the sink succeeded (server.js:231-249) — exactly-once
  *     end-to-end effect;
  *  5. `hasMore` = raw page hit the limit (server.js:282) → caller loops
  *     immediately (consumer.js:34-37).
  *
  * Polls are served from a FEED INDEX — the reference's page query reads
  * a version-keyed change table (CHANGETABLE, storedprocedure.sql:16-26)
  * rather than re-collapsing the feed per call, and so does this. The
  * index is `changedEntities(0, to)`, newest version per entity, for the
  * snapshot bound `to = currentVersion`; it is built once per feed
  * snapshot and held in executor storage (persisted, never collected),
  * so it scales with the entity count. Each poll checks the snapshot's
  * identity with one driver-side listing — the path, length and
  * modification time of every input file of the feed relations — and
  * rebuilds the index (unpersisting the old one) when anything differs.
  * The check and the build run under the index's lock (a
  * graft.SnapshotSlot), so concurrent consumers build it once.
  *
  * The index is exact, not a cache that may lag: for a newest-version
  * collapse, collapsing over `(lastSync - 1, to]` and then applying the
  * resume filter equals collapsing over `(0, to]` and then applying it.
  * An entity whose newest version is > lastSync - 1 has that same
  * newest version in both; one whose newest is ≤ lastSync - 1 is absent
  * from the first and fails the resume filter in the second. So pages,
  * `hasMore`, `toVersion` and the committed cursor are the ones the
  * per-poll collapse gave.
  *
  * The bounded page CURSOR — ≤limit (version, id) pairs, the same rowset
  * the reference's recordset iteration holds in JS (server.js:154-168) —
  * is collected to the driver once; the resume filter runs inside the
  * page query (pre-limit, see poll), and only last-row bookkeeping runs
  * locally. The document payload stays a DataFrame: the collected key
  * page is broadcast into a lookup in InvoiceCdc's CURRENT-STATE INDEX —
  * `orders` FULL OUTER JOIN the nested `lineitem`, one row per invoice id,
  * hash-partitioned by id and persisted in executor storage — and the
  * sink write runs that lookup. The state index has the same identity
  * rule as the feed index (the relisted (path, length, mtime) of the two
  * tables' files; any difference rebuilds it and unpersists the old
  * one), but it lives in a registry per (SparkContext, dir), shared with
  * TombstoneFeed polls and CdcPipeline micro-batches. It is exact: the
  * FULL OUTER join keeps every id with a header, lines or both, so
  * keeping ids with a header is the inner rehydration join on `orders`
  * and the lines attached are the page-pruned nest's. One pass over the
  * changefeed per feed snapshot and one over current state per state
  * snapshot; per-poll work is two lookups afterwards. A poll that
  * (re)builds either index reports that time as `indexBuildMs`.
  * [[close]] releases the feed index; InvoiceCdc.releaseState releases
  * the state index.
  */
class ChangeFeed(spark: SparkSession, dir: String, store: ConsumerStateStore)
  extends AutoCloseable {

  /** The feed surface, overridable so generic feeds (e.g. with version
    * ties across entities) reuse the same poll protocol. Defaults bind to
    * the invoice pipeline. Column contract: `changedEntities` must return
    * exactly (invoice_id LONG, change_version LONG) — poll's resume
    * filter, ordering and cursor bookkeeping key on those two names. */
  protected def currentVersion: Long = InvoiceCdc.currentVersion(spark, dir)
  protected def changedEntities(since: Long, to: Long): DataFrame =
    InvoiceCdc.changedInvoices(spark, dir, since, to)
  protected def rehydrate(keys: Seq[(Long, Long)]): DataFrame =
    InvoiceCdc.rehydratePage(spark, dir, keys)

  /** Read one page for `syncName` without committing (steps 1-3 + hasMore).
    *
    * The resume-cursor dedup (step 3) is applied INSIDE the query, before
    * orderBy/limit, so already-delivered rows never consume page budget.
    * (The reference filters after TOP, server.js:165-168 — which stalls
    * permanently if ≥limit entities share one change_version: the page is
    * all duplicates, the cursor can't advance, yet hasMore stays true.
    * Filtering pre-limit keeps hasMore and cursor advancement consistent
    * for any feed.) The deliberate `since - 1` overlap re-read stays
    * covered — it is what makes a crash between sink-write and
    * offset-commit safe — because the index holds the whole snapshot
    * and the resume filter alone decides what is fresh. */
  def poll(syncName: String, limit: Int): Page = {
    require(limit > 0, s"page limit must be positive, got $limit " +
      "(limit = 0 would report hasMore on every empty page and stall drain)")
    pollFrom(store.get(syncName), limit)._1
  }

  /** The feed index of the current feed snapshot. */
  private val index = new SnapshotSlot[FeedIndex](_.keys.unpersist())

  /** The index of the feed's current snapshot, and the milliseconds spent
    * building it (0 on a hit). On a hit the only work is the identity
    * check: the roots of the files the index was built from, listed again
    * and compared. On a miss the index is rebuilt from a fresh
    * `currentVersion`, and its identity is the listing the build itself
    * read, so files that change during a build make the next poll
    * rebuild, never serve a stale page. */
  private def currentIndex(): (FeedIndex, Long) = {
    val t0 = System.nanoTime()
    var built = false
    val ix = index.current(spark) {
      built = true
      val to = currentVersion
      val feed = changedEntities(0L, to)
      val keys = SnapshotSlot.materialize(feed
        .select(col("invoice_id"), col("change_version"),
          lit(FeedIndex.nextBuild()).as("index_build"))
        .repartitionByRange(spark.sparkContext.defaultParallelism,
          col("change_version"), col("invoice_id"))
        .sortWithinPartitions(col("change_version"), col("invoice_id")))
      (new FeedIndex(to, keys), FeedSnapshot.of(feed))
    }
    (ix, if (built) (System.nanoTime() - t0) / 1000000L else 0L)
  }

  /** The query stages of a poll, separated from the offset read so the
    * timed flavor can attribute latency per stage. Returns the page and
    * the milliseconds spent building the feed index and the current-state
    * index (0 when both were hits). */
  private def pollFrom(st: SyncState, limit: Int): (Page, Long) = {
    val (ix, buildMs) = currentIndex()
    // one job: the resume filter over the snapshot's collapsed feed,
    // then the oldest-first key page (shared cursor ordering:
    // InvoiceCdc.collectKeyPage) — every row that survives is fresh.
    // Exact: it equals the per-poll collapse over (lastSync - 1, to]
    // with the same filter (see the class doc), so the deliberate
    // overlap re-read of step 2 needs no separate window here.
    val keys = InvoiceCdc.collectKeyPage(
      ix.keys
        .filter(InvoiceCdc.resumeCursor(st.lastSyncVersion, st.lastProcessedId))
        .select(col("invoice_id"), col("change_version")),
      limit)
    val (lastV, lastId) = keys.lastOption
      .map { case (id, v) => (v, id) }
      .getOrElse((st.lastSyncVersion, st.lastProcessedId))
    val (delivered, stateBuildMs) = InvoiceCdc.timeStateBuilds(rehydrate(keys.toSeq))
    (Page(delivered, st.lastSyncVersion, ix.to,
      keys.length, keys.length == limit, lastV, lastId), buildMs + stateBuildMs)
  }

  /** Poll → sink → commit-on-success (step 4). The cursor advances only if
    * `sink` did not throw and delivered > 0 rows (mirrors the `saved > 0`
    * gating, server.js:231-234); a sink failure leaves the cursor in place
    * so the next poll redelivers the page. */
  def pollAndDeliver(syncName: String, limit: Int)
                    (sink: DataFrame => Unit): Page =
    pollAndDeliverTimed(syncName, limit)(sink)._1

  /** pollAndDeliver with the reference's per-stage performance summary
    * (server.js:286-293): how long the offset read, the page query, the
    * sink write, and the offset commit each took — plus the feed or
    * state index build when this poll saw a new snapshot. */
  def pollAndDeliverTimed(syncName: String, limit: Int)
                         (sink: DataFrame => Unit): (Page, PollTimings) = {
    require(limit > 0, s"page limit must be positive, got $limit " +
      "(limit = 0 would report hasMore on every empty page and stall drain)")
    def ms(t0: Long): Long = (System.nanoTime() - t0) / 1000000L
    val tState = System.nanoTime()
    val st = store.get(syncName)
    val readStateMs = ms(tState)
    val tQuery = System.nanoTime()
    val (page, indexBuildMs) = pollFrom(st, limit)
    val queryMs = ms(tQuery) - indexBuildMs
    var sinkMs = 0L
    var commitMs = 0L
    if (page.count > 0) {
      val tSink = System.nanoTime()
      sink(page.data)
      sinkMs = ms(tSink)
      val tCommit = System.nanoTime()
      store.commit(syncName, page.lastVersion, page.lastId)
      commitMs = ms(tCommit)
    }
    (page, PollTimings(readStateMs, queryMs, sinkMs, commitMs, indexBuildMs))
  }

  /** Drain the feed: poll until !hasMore (consumer.js:34-37 catch-up loop). */
  def drain(syncName: String, limit: Int)
           (sink: DataFrame => Unit): Seq[Page] = {
    val pages = Seq.newBuilder[Page]
    var more = true
    while (more) {
      val p = pollAndDeliver(syncName, limit)(sink)
      pages += p
      // the pre-limit resume filter guarantees every page row is fresh,
      // so hasMore ⇒ the cursor advanced and the next poll makes progress
      more = p.hasMore
    }
    pages.result()
  }

  /** T7 — consumer reset → full replay from version 0 (server.js:424-451). */
  def resetConsumer(syncName: String): Unit = store.reset(syncName)

  /** Release the feed index from executor storage. The feed stays usable:
    * the next poll builds the index again. */
  override def close(): Unit = index.clear()
}
