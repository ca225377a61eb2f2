package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Declared-query surface for the CDC operators (SURVEY.md §2.1/§2.9).
  * The stateful consumer flavors (offset table, reset, sink) live in
  * ChangeFeed and are ScalaTest-verified; the queries here are the
  * SQL-expressible projections of the same semantics for the DuckDB oracle.
  */
object CdcQueries {
  type Q = (SparkSession, String) => DataFrame

  /** S2 — changefeed scan: rows with version > since
    * (CHANGETABLE(CHANGES t, @since), storedprocedure.sql:17). */
  val cdcScan: Q = (s, d) =>
    Tables.events(s, d)
      .filter(col("event_id") > 100)
      .select(col("event_id").as("change_version"),
        col("user_id").as("entity_id"))
      .orderBy("change_version")

  /** T2 — the flagship incremental poll page (sp_GetInvoiceChanges):
    * union feeds → bound (since, to] → max-version per invoice →
    * rehydrate → nested lines JSON → oldest-first top-K. */
  val cdcIncrementalPoll: Q = (s, d) =>
    InvoiceCdc.pageQueryMaterialized(s, d, since = 1000L, to = 2800L, limit = 50)

  /** T3 — pagination with the composite resume cursor: the next page
    * strictly after (version, id), echoing `hasMore` consumption
    * (server.js:134,165-168 + consumer.js:34-37). */
  val cdcPagination: Q = (s, d) => {
    val page = InvoiceCdc.changedInvoices(s, d, 0L, Long.MaxValue)
      .filter(InvoiceCdc.resumeCursor(1001L, 500L))
      .orderBy("change_version", "invoice_id")
      .limit(100)
    page
  }

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** T1 — the consumer state machine end-to-end: poll one page of 100,
    * deliver, commit; return the committed cursor row. Deterministic —
    * the cursor lands on the last row of the oldest-first page — so the
    * DuckDB oracle can replay it declaratively. */
  val cdcConsumerState: Q = (s, d) => {
    val store = new ConsumerStateStore(s, tmp("graft-state"))
    scala.util.Using.resource(new ChangeFeed(s, d, store))(
      _.pollAndDeliver("c1", limit = 100)(_.count()))
    InvoiceCdc.releaseState(s, d)
    val st = store.get("c1")
    import s.implicits._
    Seq((st.syncName, st.lastSyncVersion, st.lastProcessedId))
      .toDF("sync_name", "last_sync_version", "last_processed_id")
  }

  /** T7 — consumer reset: after a committed poll, reset returns the
    * cursor to (0, 0) for full re-delivery (server.js:424-451). */
  val cdcReset: Q = (s, d) => {
    val store = new ConsumerStateStore(s, tmp("graft-state"))
    scala.util.Using.resource(new ChangeFeed(s, d, store)) { feed =>
      feed.pollAndDeliver("c1", limit = 50)(_.count())
      feed.resetConsumer("c1")
    }
    InvoiceCdc.releaseState(s, d)
    val st = store.get("c1")
    import s.implicits._
    Seq((st.syncName, st.lastSyncVersion, st.lastProcessedId))
      .toDF("sync_name", "last_sync_version", "last_processed_id")
  }

  /** S4/S5 — versioned document sink round-trip: write one deterministic
    * page, read it back. doc_name carries a wall-clock stamp, so the
    * declared output projects the deterministic columns only (the full
    * filename scheme is ScalaTest-verified in DocumentSinkSpec). */
  val sinkVersioned: Q = (s, d) => {
    val dir = tmp("graft-sink")
    val page = InvoiceCdc.pageQueryMaterialized(s, d, 0L, Long.MaxValue, 100)
    graft.sinks.DocumentSink.writeVersioned(page, dir, tmp("graft-sinkerr"))
    graft.sinks.DocumentSink.readBack(s, dir, Some(
      org.apache.spark.sql.types.StructType.fromDDL(
        "invoice_id LONG, invoice_number STRING, change_version LONG")))
      .select(col("invoice_id"), col("invoice_number"), col("change_version"))
      .orderBy("invoice_id")
  }

  /** S5 — sink listing, newest first with sizes (server.js:368-398);
    * sizes/mtimes are run-dependent → declared output is the stable
    * shape (file count partitions by version). */
  val sinkListing: Q = (s, d) => {
    val dir = tmp("graft-sink")
    val page = InvoiceCdc.pageQueryMaterialized(s, d, 0L, Long.MaxValue, 100)
    graft.sinks.DocumentSink.writeVersioned(page, dir, tmp("graft-sinkerr"))
    graft.sinks.DocumentSink.listSink(s, dir)
      .agg(count(lit(1)).as("n_files"),
        sum(when(col("length") > 0, 1).otherwise(0)).as("n_nonempty"))
  }

  /** T9 [NORTH-STAR] — event-time tumbling windows over the events feed
    * (batch twin of EventStream.windowedCounts; the streaming flavor adds
    * the watermark and is exercised in EventStreamSpec). */
  val streamEventWindows: Q = (s, d) =>
    graft.streaming.EventStream.windowedCounts(Tables.events(s, d))
      .orderBy("window_start", "event_type")

  /** T9''/A5'' — STREAMING incremental view maintenance end-to-end:
    * the synthetic ops feed staged as four version-page files, drained
    * by the foreachBatch maintainer (idempotent log append +
    * generation-stamped manifest view fold — graft.streaming.
    * StreamingAggView), final view read back. The oracle is the direct
    * view over the WHOLE feed — the streamed fold must land exactly
    * there whatever the page boundaries (crash/redelivery windows are
    * StreamingAggViewSpec's job). */
  /** Stage the synthetic ops feed as four version-page files under an
    * (appId, sfDir)-scoped scratch dir — the file-source backlog both
    * streaming view queries drain. Staged once per session per SF. */
  /** Scratch roots this session has staged — each gets ONE shutdown
    * hook deleting it, so appId-scoped aggview scratch never outlives
    * the JVM that minted it (the dirs are worthless to any other
    * session by construction: the appId in the name). */
  private val stagedBases =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** An (appId, sfDir)-scoped scratch root for `family`, deleted by a
    * JVM shutdown hook (registered once per base). */
  private def scratchRoot(s: SparkSession, d: String,
                          family: String): String = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    val base = s"/tmp/graft-$family-${s.sparkContext.applicationId}-$digest"
    if (stagedBases.add(base))
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        try {
          def rm(f: java.io.File): Unit = {
            if (f.isDirectory) f.listFiles().foreach(rm)
            f.delete(); ()
          }
          rm(new java.io.File(base))
        } catch { case _: Throwable => () }))
    base
  }

  /** The staged agg-view page LOWER bounds — ONE source of truth for
    * the staging (each page is (lo, next lo], last unbounded), every
    * stream_view oracle's pages CTE, and the MG replay's stage list
    * (round-12 review: the constants were duplicated in 4+ places). */
  private val aggViewPageLos = Seq(0L, 1000L, 5000L, 50000L)
  private def aggViewPages: Seq[(Long, Long)] =
    aggViewPageLos.zip(aggViewPageLos.tail :+ Long.MaxValue)
  private def pagesCteSql: String =
    "pages AS (SELECT * FROM (VALUES " +
      aggViewPages.map { case (lo, hi) => s"($lo, $hi)" }.mkString(", ") +
      ") AS t(lo, hi))"

  /** One Misra-Gries fold stage per staged page, as SQL CTEs: m_i
    * merges the running counters v_{i-1} with page i's per-(op, entity)
    * counts, x_i ranks within group, e_i finds the first evicted count
    * (0 while the group is under capacity), v_i keeps the capped
    * survivors. Generated from [[aggViewPageLos]] and the maintainer's
    * [[graft.streaming.StreamingAggView.TopKCapacity]] so the oracle
    * and the fold share one source of truth. */
  private def mgStagesSql: String = {
    val cap = graft.streaming.StreamingAggView.TopKCapacity
    aggViewPageLos.zipWithIndex.map { case (lo, j) =>
      val i = j + 1
      s""" m$i AS (SELECT grp, id, CAST(sum(cnt) AS BIGINT) AS cnt FROM (
         |     SELECT * FROM v$j UNION ALL
         |     SELECT op, invoice_id, CAST(1 AS BIGINT)
         |     FROM paged WHERE page = $lo) GROUP BY grp, id),
         | x$i AS (SELECT grp, id, cnt, row_number() OVER (
         |     PARTITION BY grp ORDER BY cnt DESC, id) AS rk FROM m$i),
         | e$i AS (SELECT grp, max(CASE WHEN rk = ${cap + 1} THEN cnt
         |     ELSE 0 END) AS ev FROM x$i GROUP BY grp),
         | v$i AS (SELECT x.grp, x.id, x.cnt - e.ev AS cnt
         |   FROM x$i x JOIN e$i e USING (grp)
         |   WHERE x.rk <= $cap AND x.cnt - e.ev > 0),""".stripMargin
    }.mkString("\n")
  }

  private def stagedAggViewBase(s: SparkSession, d: String): String = {
    val base = scratchRoot(s, d, "aggview")
    val src = s"$base/src"
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val done = new org.apache.hadoop.fs.Path(s"$base/_staged")
    if (!fs.exists(done)) {
      val pages = aggViewPages
      // r16 (stream cold starts): ONE staging job instead of four —
      // each feed row is tagged with its page and the per-page
      // latest-op collapse becomes one (page, invoice_id) aggregate
      // (identical per-page rows: the page tag partitions the groupBy
      // domain exactly as four separate version-window collapses did).
      // repartition on the page column gives one part file per page;
      // the renames then install them in page order with EXPLICIT
      // strictly-increasing mtimes, so the file stream's
      // (modTime, path) ordering — which four sequential writes used
      // to guarantee implicitly — is pinned, not incidental.
      val tmp = s"$base/stage-all"
      val pageOf = aggViewPageLos.tail.zipWithIndex.foldLeft(lit(0)) {
        case (acc, (lo, i)) =>
          when(col("change_version") > lo, lit(i + 1)).otherwise(acc)
      }
      TombstoneCdc.headerFeedOps(s, d)
        .unionByName(TombstoneCdc.lineFeedOps(s, d))
        .filter(col("change_version") > 0L)
        .withColumn("__page", pageOf)
        .groupBy(col("__page"), col("invoice_id"))
        .agg(max(struct(col("change_version"),
          col("change_operation"))).as("m"))
        .select(col("__page"), col("invoice_id"),
          col("m.change_version").as("change_version"),
          col("m.change_operation").as("change_operation"))
        .repartition(pages.size, col("__page"))
        .write.mode("overwrite").partitionBy("__page").parquet(tmp)
      fs.mkdirs(new org.apache.hadoop.fs.Path(src))
      // each page dir must hold exactly one part file: staging only the
      // first of several would silently drop the others' rows from the
      // drained view
      def onlyPart(pdir: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.Path = {
        val parts = fs.listStatus(pdir).map(_.getPath)
          .filter(_.getName.startsWith("part-"))
        require(parts.length == 1,
          s"graft aggview: $pdir holds ${parts.length} part files, expected 1")
        parts.head
      }
      val t0 = System.currentTimeMillis()
      pages.indices.foreach { i =>
        val pdir = new org.apache.hadoop.fs.Path(s"$tmp/__page=$i")
        val dst = new org.apache.hadoop.fs.Path(s"$src/page-$i.parquet")
        // fail LOUD on a rename refusal (stale destination from a
        // crashed prior staging, cross-fs /tmp) — stamping _staged over
        // a missing page would silently diverge the drained view
        if (fs.exists(dst)) fs.delete(dst, false)
        if (fs.exists(pdir)) {
          val part = onlyPart(pdir)
          if (!fs.rename(part, dst))
            throw new java.io.IOException(s"graft aggview: cannot stage $dst")
        } else {
          // an empty page writes no partition dir — stage an explicit
          // zero-row file so the drain still sees one file per page
          val (lo, hi) = pages(i)
          TombstoneCdc.changedInvoicesOps(s, d, lo, hi)
            .coalesce(1).write.mode("overwrite").parquet(s"$base/stage-$i")
          val part = onlyPart(new org.apache.hadoop.fs.Path(s"$base/stage-$i"))
          if (!fs.rename(part, dst))
            throw new java.io.IOException(s"graft aggview: cannot stage $dst")
          fs.delete(new org.apache.hadoop.fs.Path(s"$base/stage-$i"), true)
        }
        fs.setTimes(dst, t0 + i * 1000L, -1L)
      }
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      fs.create(done, true).close()
    }
    base
  }

  val streamViewDelta: Q = (s, d) => {
    val base = stagedAggViewBase(s, d)
    graft.streaming.StreamingAggView
      .maintain(s, d, s"$base/src", s"$base/state", s"$base/ck")
      .awaitTermination()
    graft.streaming.StreamingAggView.currentView(s, s"$base/state")
      .select(col("grp").as("status"), col("n_rows"), col("sum_cents"))
      .orderBy("status")
  }

  /** T9'''/A4'' — the STREAMING min/max view: same staged backlog, the
    * maintainer folding both views off one log append; the min/max
    * fold rescans only extremum-holder groups against the log-derived
    * state. Oracle: the direct min/max view over the whole feed. */
  val streamViewMinmax: Q = (s, d) => {
    val base = stagedAggViewBase(s, d)
    graft.streaming.StreamingAggView
      .maintain(s, d, s"$base/src", s"$base/state-mm", s"$base/ck-mm",
        countSum = false, minMax = true)
      .awaitTermination()
    graft.streaming.StreamingAggView.currentMinMaxView(s, s"$base/state-mm")
      .select(col("grp").as("status"), col("n_rows"),
        col("min_cents"), col("max_cents"))
      .orderBy("status")
  }

  /** T9''''/N4''# — STREAMING sketch-table maintenance: the same
    * staged backlog drained through the SAME log+fold exactly-once
    * protocol as the additive/min-max views, maintaining per-operation
    * theta sketches of every entity observed (one kilobyte-sized merge
    * per batch, no prior-state read). Exact below sketch capacity, so
    * the oracle replays the per-page collapse and counts distinct
    * entities per operation directly. */
  val streamViewSketch: Q = (s, d) => {
    val base = stagedAggViewBase(s, d)
    graft.streaming.StreamingAggView
      .maintain(s, d, s"$base/src", s"$base/state-sk", s"$base/ck-sk",
        countSum = false, sketch = true)
      .awaitTermination()
    graft.streaming.StreamingAggView.currentSketchView(s, s"$base/state-sk")
      .select(col("grp"),
        expr("CAST(theta_sketch_estimate(sketch) AS BIGINT)")
          .as("n_distinct"),
        col("n_rows").as("n_obs"))
      .orderBy("grp")
  }

  /** T9'''''/A5' — the STREAMING HEAVY-HITTERS view: same staged
    * backlog and log+fold protocol, the view a Misra–Gries counter
    * table ("hottest entities per operation" — the reference's
    * most-active-invoices dashboard) bounded at `capacity·|groups|`
    * rows whatever the entity cardinality. The cap never binds at the
    * verify scales, so the counters are exact and the oracle replays
    * the top-10 directly; at deployment scale the MG guarantee bounds
    * the undercount by the evicted mass. The declared output is each
    * group's top-10 by (count desc, id). */
  val streamViewTopk: Q = (s, d) => {
    val base = stagedAggViewBase(s, d)
    graft.streaming.StreamingAggView
      .maintain(s, d, s"$base/src", s"$base/state-tk", s"$base/ck-tk",
        countSum = false, topk = true)
      .awaitTermination()
    val view = graft.streaming.StreamingAggView
      .currentTopKView(s, s"$base/state-tk")
    // top-10 per group off the bounded view: per-grp collect + HOF
    // slice (the view is ≤ capacity rows per group by construction) —
    // no window, no extra shuffle beyond the grp key
    view.groupBy("grp")
      .agg(array_sort(collect_list(struct(col("cnt"), col("id"))),
        (l, r) => when(l.getField("cnt") > r.getField("cnt"), -1)
          .when(l.getField("cnt") < r.getField("cnt"), 1)
          .when(l.getField("id") < r.getField("id"), -1)
          .when(l.getField("id") > r.getField("id"), 1).otherwise(0))
        .as("cs"))
      .select(col("grp"), posexplode(slice(col("cs"), 1, 10)))
      .select(col("grp"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("invoice_id"), col("col.cnt").as("n_changes"))
      .orderBy("grp", "rank")
  }

  /** Stage the documents feed once per (JVM, corpus) and drain the
    * [[graft.streaming.StreamingNearDedup]] flow over it: the graft-cdc
    * source pages doc versions (= doc_id + 1) in 4 fixed windows, each
    * micro-batch rehydrates text via the stream-static join (the J2
    * shape) and dedups against the union of all PRIOR batches'
    * survivors, installing its own state dir. Idempotent re-entry: the
    * `_done` stamp short-circuits, and a redelivered batch recomputes
    * identical state (the StreamingNearDedupSpec crash cell). */
  private def stagedNearDedupBase(s: SparkSession, d: String): String = {
    val base = scratchRoot(s, d, "snd")
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val done = new org.apache.hadoop.fs.Path(s"$base/_done")
    if (fs.exists(done)) return base
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    docs.select(col("doc_id"), (col("doc_id") + 1).as("change_version"))
      .write.mode("overwrite").parquet(s"$base/feed")
    val maxV = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
    val pv = (maxV + 3) / 4 // 4 pages at every SF — the oracle unrolls 4
    val stream = s.readStream.format("graft-cdc")
      .option("path", s"$base/feed")
      .option("entityColumn", "doc_id")
      .option("versionColumn", "change_version")
      .option("maxVersionsPerBatch", pv.toString)
      .load()
      .select(col("entity_id").as("doc_id"))
      .join(docs, Seq("doc_id"))
    graft.streaming.StreamingNearDedup
      .flow(stream, s"$base/state", s"$base/ck")
      .awaitTermination()
    fs.create(done, true).close()
    base
  }

  /** T9-ND — STREAMING near-dedup, declared (round-14 verdict ask #7:
    * the one undeclared streaming modality): the cumulative accepted
    * corpus after [[graft.streaming.StreamingNearDedup]] drains the
    * 4-page document feed — each micro-batch's LSH bands semi-join the
    * persisted survivor index (cost ∝ batch, old-vs-old pairs never
    * form), batch docs yield to same-batch lower ids and to ACCEPTED
    * earlier-page partners only (a rejected earlier doc blocks
    * nothing — its bands never entered the index). Pages arrive in id
    * order, so the oracle unrolls the same 4-page fold over DuckDB's
    * exact shingle-Jaccard pair table. */
  val streamNearDedup: Q = (s, d) => {
    val base = stagedNearDedupBase(s, d)
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    graft.streaming.StreamingNearDedup
      .accepted(s, s"$base/state", docs.schema)
      .select(col("doc_id"))
      .orderBy("doc_id")
  }

  /** T5/T9 — the stateful per-entity fold (batch twin of the
    * flatMapGroupsWithState session stream): final running state per
    * entity after draining the feed, summation in version order so the
    * result is bit-deterministic. */
  val streamSessionize: Q = (s, d) => {
    import s.implicits._
    val events = Tables.events(s, d).select(
      col("event_id").as("eventId"),
      unix_micros(col("ts")).as("tsMicros"),
      col("user_id").as("userId"),
      col("event_type").as("eventType"),
      col("value")).as[graft.streaming.FeedEvent]
    graft.streaming.Sessionize.batchFold(s, events)
      .toDF().orderBy("userId")
  }

  private def feedEventSchema = org.apache.spark.sql.types.StructType
    .fromDDL("eventId BIGINT, tsMicros BIGINT, userId BIGINT, " +
      "eventType STRING, value DOUBLE")

  private def sessionSinkSchema = org.apache.spark.sql.types.StructType
    .fromDDL("userId BIGINT, firstVersion BIGINT, lastVersion BIGINT, " +
      "nEvents BIGINT, valueSumCents BIGINT, batch_id BIGINT")

  /** T5'/T9'''' — the flatMapGroupsWithState session stream driven
    * END-TO-END (the custom-state flavor [[streamSessionize]] batch-
    * replays), in its EVENT-TIME form: the whole feed staged as one
    * page plus a sentinel FLUSH page stamped past every entity's
    * event-time gap; one AvailableNow drain folds the feed into
    * per-entity state, the flush event advances the zero-delay
    * watermark beyond every timer, and the follow-up timer batch emits
    * every session. Emission is driven by the data's own clock —
    * deterministic, no sleeps (a processing-time timeout can NEVER
    * drain: its timer loop keeps the AvailableNow query alive forever,
    * which is why [[graft.streaming.Sessionize.sessionStreamEventTime]]
    * exists). The gap exceeds the feed's whole span, so each entity
    * closes exactly one session and events fold in eventId order —
    * the double accumulation, and therefore the oracle (the same
    * ordered-sum SQL as stream_sessionize), replays exactly. Repeat
    * invocations serve the committed sink (checkpoint drained); the
    * bench's cold-only rule for stream_* applies. */
  val streamSessionState: Q = (s, d) => {
    import s.implicits._
    import org.apache.hadoop.fs.Path
    val base = scratchRoot(s, d, "sess")
    val src = s"$base/src"; val sink = s"$base/sink"; val ck = s"$base/ck"
    val fs = new Path(base)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    def stageOne(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = s"$base/stage-$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = fs.listStatus(new Path(tmp)).map(_.getPath)
        .find(_.getName.startsWith("part-")).get
      fs.mkdirs(new Path(src))
      val dst = new Path(s"$src/$name.parquet")
      if (fs.exists(dst)) fs.delete(dst, false)
      if (!fs.rename(part, dst))
        throw new java.io.IOException(s"graft sess: cannot stage $dst")
      fs.delete(new Path(tmp), true)
    }
    val staged = new Path(s"$base/_staged")
    // gap > the feed's whole event-time span → one session per entity;
    // the flush event sits one gap past the last real event, so every
    // timer (last-event + gap) is strictly below the final watermark
    val Array(t0Micros, t1Micros) = Tables.events(s, d)
      .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
      .head().toSeq.map(_.asInstanceOf[Long]).toArray
    val gapMs = (t1Micros - t0Micros) / 1000L + 1000L
    if (!fs.exists(staged)) {
      stageOne(Tables.events(s, d).select(
        col("event_id").as("eventId"),
        unix_micros(col("ts")).as("tsMicros"),
        col("user_id").as("userId"),
        col("event_type").as("eventType"),
        col("value")), "page-0")
      stageOne(Seq((-1L, t1Micros + (gapMs + 1000L) * 1000L, -1L,
        "flush", 0.0))
        .toDF("eventId", "tsMicros", "userId", "eventType", "value"),
        "page-flush")
      fs.create(staged, true).close()
    }
    val feed = s.readStream.schema(feedEventSchema).parquet(src)
      .withColumn("__ts", timestamp_micros(col("tsMicros")))
      .withWatermark("__ts", "0 seconds")
      .as[graft.streaming.FeedEvent]
    graft.streaming.Sessionize.sessionStreamEventTime(feed, gapMs)
      .toDF().writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", ck)
      .foreachBatch {
        (b: org.apache.spark.sql.DataFrame, id: Long) =>
          b.withColumn("batch_id", lit(id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id").parquet(sink)
          ()
      }.start().awaitTermination()
    s.read.schema(sessionSinkSchema).parquet(sink)
      .filter(col("userId") =!= -1L)
      .select("userId", "firstVersion", "lastVersion", "nEvents",
        "valueSumCents")
      .orderBy("userId")
  }

  /** S2' — the DataSource-V2 changefeed source (graft.sources.CdcSource),
    * batch flavor: full change-table scan through the custom connector. */
  val cdcSourceScan: Q = (s, d) =>
    s.read.format("graft-cdc")
      .option("path", s"$d/events.parquet")
      .option("versionColumn", "event_id")
      .option("entityColumn", "user_id")
      .load()
      .orderBy("change_version")

  /** S2'' — version-range read through the connector with the predicate
    * PUSHED into the scan (CdcScanBuilder → footer-stats file pruning):
    * the batch flavor of `CHANGETABLE(CHANGES t, @since)` where the
    * version window is the scan argument, not a post-filter. */
  val cdcSourcePushdown: Q = (s, d) =>
    s.read.format("graft-cdc")
      .option("path", s"$d/events.parquet")
      .option("versionColumn", "event_id")
      .option("entityColumn", "user_id")
      .load()
      .filter(col("change_version") > 300 && col("change_version") <= 700)
      .orderBy("change_version")

  /** T5'/J2' — delete/tombstone semantics (SYS_CHANGE_OPERATION): ops
    * feeds → latest-op-wins collapse → LEFT rehydration → tombstone
    * documents for deletes (the reference inner-join-drops them,
    * storedprocedure.sql:55 — ghost state; see TombstoneCdc). */
  val cdcDeletes: Q = (s, d) =>
    TombstoneCdc.pageQueryDeletes(s, d, since = 0L, to = Long.MaxValue, limit = 100)

  /** S2''' — the DSv2 source carrying the change operation: a change
    * table with an operation column scanned as
    * (entity_id, change_version, change_operation). */
  val cdcSourceOps: Q = (s, d) =>
    s.read.format("graft-cdc")
      .option("path", s"$d/events.parquet")
      .option("versionColumn", "event_id")
      .option("entityColumn", "user_id")
      .option("operationColumn", "event_type")
      .load()
      .orderBy("change_version")

  /** S3' — version-travel snapshot: the state of the feed AS OF version
    * V — latest change ≤ V per entity (the time-travel read every CDC
    * system derives from its version column; generalizes the reference's
    * `<= @ToVersion` snapshot bound, storedprocedure.sql:18,26). */
  val cdcSnapshotAsof: Q = (s, d) =>
    Tables.events(s, d)
      .filter(col("event_id") <= 600)
      .groupBy(col("user_id").as("entity_id"))
      .agg(max(col("event_id")).as("version_asof"))
      .orderBy("entity_id")

  /** T5''/A1' — SCD Type-2 history: each change becomes a half-open
    * validity interval per entity via one partitioned window pass (see
    * [[Scd2]]). Bounded to ids ≤ 3000 so the declared output stays a
    * page-sized relation at every SF. */
  val cdcScd2: Q = (s, d) =>
    Scd2.invoiceHistory(s, d)
      .filter(col("invoice_id") <= 3000)
      .orderBy("invoice_id", "valid_from")

  /** S3'' — point-in-time read compiled from the SCD2 history: state
    * as of version 4000 (deletes excluded — the entity did not exist). */
  val cdcScd2Asof: Q = (s, d) =>
    Scd2.snapshotAt(Scd2.invoiceHistory(s, d), 4000L)
      .filter(col("invoice_id") <= 3000)
      .orderBy("invoice_id")

  /** T5'''/J2'' — MERGE/upsert state maintenance: the snapshot at
    * version 3000 plus the (3000, 6000] change batch — must equal the
    * direct snapshot at 6000 (the property MergeSpec checks across
    * random splits; here one split is declared for the oracle). */
  val cdcMergeUpsert: Q = (s, d) =>
    Merge.incrementalSnapshot(s, d, v0 = 3000L, v1 = 6000L)
      .orderBy("invoice_id")

  /** S3''''/T5⁗ — snapshot DIFF: every entity touched in (300, 700]
    * of the event feed classified added/removed/changed against its
    * ≤300 state. Driven by the change batch, never by a full-snapshot
    * rescan; proven equal to the direct two-snapshot diff by
    * SnapshotDiffSpec. */
  val cdcSnapshotDiff: Q = (s, d) =>
    SnapshotDiff.eventDiff(s, d, vA = 300L, vB = 700L)
      .orderBy("entity_id")

  /** J3'/A5' — incremental AGGREGATE view maintenance (IVM): the
    * per-status count/sum view at version 1000 plus the (1000, 2500]
    * batch's contribution deltas — must equal the view recomputed from
    * the v=2500 snapshot (the property AggViewSpec checks across
    * random splits; one split declared for the oracle). */
  val cdcViewDelta: Q = (s, d) =>
    AggView.incrementalView(s, d, v0 = 1000L, v1 = 2500L)
      .select(col("grp").as("status"), col("n_rows"), col("sum_cents"))
      .orderBy("status")

  /** A4'/T5'' — incremental MIN/MAX view maintenance: the
    * non-self-maintainable aggregates. Inserts extend extremes
    * incrementally; a batch that removes a group's extremum holder
    * rescans ONLY that group against the v1 snapshot (group-pruned at
    * scale) — the Gupta–Mumick summary-delta treatment. Must equal the
    * direct min/max view at v=2500 (AggViewSpec properties, including
    * payload-drift ScalaCheck). */
  val cdcViewMinmax: Q = (s, d) =>
    AggView.incrementalMinMaxView(s, d, v0 = 1000L, v1 = 2500L)
      .select(col("grp").as("status"), col("n_rows"),
        col("min_cents"), col("max_cents"))
      .orderBy("status")

  /** T1' — consumer freshness: the lag between the feed head and the
    * committed cursor after one bounded poll — the monitoring metric
    * every CDC deployment alerts on (the reference surfaces it as the
    * 'Last Sync Version' panel, server.js). Deterministic: the cursor
    * lands on the 100th oldest change, the head is max(version). */
  val cdcFreshness: Q = (s, d) => {
    val store = new ConsumerStateStore(s, tmp("graft-state"))
    scala.util.Using.resource(new ChangeFeed(s, d, store))(
      _.pollAndDeliver("c1", limit = 100)(_.count()))
    InvoiceCdc.releaseState(s, d)
    val st = store.get("c1")
    val cur = InvoiceCdc.currentVersion(s, d)
    import s.implicits._
    Seq((st.syncName, cur - st.lastSyncVersion))
      .toDF("sync_name", "version_lag")
  }

  /** J5⁻¹ — document SHREDDING: the consumer-side inverse of the nest —
    * parse the delivered documents' `lines` JSON back into relational
    * line rows (consumer.js materializes documents; a warehouse
    * consumer shreds them into tables). Round-trip correctness: the
    * oracle recomputes the rows from ground-truth lineitem, so
    * nest → to_json → from_json → explode must be lossless. */
  val cdcShredDocuments: Q = (s, d) => {
    val page = InvoiceCdc.pageQueryMaterialized(s, d, 0L, Long.MaxValue, 100)
    val lineSchema = org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StructType.fromDDL(
        "line_no LONG, part_key LONG, qty LONG, price_cents LONG"))
    page.select(col("invoice_id"),
        explode(from_json(col("lines"), lineSchema)).as("ln"))
      .select(col("invoice_id"), col("ln.line_no"), col("ln.part_key"),
        col("ln.qty"), col("ln.price_cents"))
      .orderBy("invoice_id", "line_no", "part_key", "qty", "price_cents")
  }

  /** S2' — schema evolution across feed pages: even-keyed "pages"
    * written under the v1 payload schema (amount only), odd-keyed
    * pages under v2 (+ status). Old files stay untouched (no rewrite
    * at an ALTER); the merged read null-backfills v1 rows at the scan.
    * One scratch round-trip, then a pure scan — no shuffle. */
  val cdcSchemaEvolution: Q = (s, d) => {
    // appId-scoped scratch, NOT a fresh temp dir per call: repeated
    // constructions (verify + bench warmups + plan lint) reuse one
    // directory via the overwrite-then-append sequence below.
    // SINGLE-THREADED by contract: overwrite-then-append is not
    // atomic, so a driver constructing/executing this query from two
    // threads (or executing the returned lazy frame while a re-run
    // rewrites the dir) could observe a one-page or torn directory —
    // fine for the serial verify/bench harness; a concurrent driver
    // would stage into a fresh subdir and ManifestSwap-install instead
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft-evolve-${s.sparkContext.applicationId}").getPath
    val o = Tables.orders(s, d)
    def page(parity: Int, extra: Seq[org.apache.spark.sql.Column]) =
      o.filter(pmod(col("o_orderkey"), lit(2)) === parity)
        .select(Seq(
          col("o_orderkey").as("entity_id"),
          col("o_orderkey").as("change_version"),
          round(col("o_totalprice") * 100).cast("long").as("amount_cents"))
          ++ extra: _*)
    page(0, Seq.empty).write.mode("overwrite").parquet(dir)
    page(1, Seq(col("o_orderstatus").as("status")))
      .write.mode("append").parquet(dir)
    SchemaEvolution.readEvolved(s, dir, Seq("entity_id", "change_version"))
      .orderBy("entity_id")
  }

  val queries: Map[String, Q] = Map(
    "cdc_schema_evolution" -> cdcSchemaEvolution,
    "cdc_shred_documents" -> cdcShredDocuments,
    "cdc_freshness" -> cdcFreshness,
    "cdc_merge_upsert" -> cdcMergeUpsert,
    "cdc_snapshot_diff" -> cdcSnapshotDiff,
    "cdc_view_delta" -> cdcViewDelta,
    "cdc_view_minmax" -> cdcViewMinmax,
    "cdc_scd2" -> cdcScd2,
    "cdc_scd2_asof" -> cdcScd2Asof,
    "cdc_scan" -> cdcScan,
    "cdc_source_scan" -> cdcSourceScan,
    "cdc_source_pushdown" -> cdcSourcePushdown,
    "cdc_source_ops" -> cdcSourceOps,
    "cdc_deletes" -> cdcDeletes,
    "cdc_snapshot_asof" -> cdcSnapshotAsof,
    "stream_sessionize" -> streamSessionize,
    "stream_session_state" -> streamSessionState,
    "cdc_incremental_poll" -> cdcIncrementalPoll,
    "cdc_pagination" -> cdcPagination,
    "cdc_consumer_state" -> cdcConsumerState,
    "cdc_reset" -> cdcReset,
    "sink_versioned" -> sinkVersioned,
    "sink_listing" -> sinkListing,
    "stream_event_windows" -> streamEventWindows,
    "stream_view_delta" -> streamViewDelta,
    "stream_view_minmax" -> streamViewMinmax,
    "stream_view_sketch" -> streamViewSketch,
    "stream_view_topk" -> streamViewTopk,
    "stream_near_dedup" -> streamNearDedup
  )

  private val feedsCte =
    """feeds AS (
      |   SELECT o_orderkey AS invoice_id, o_orderkey * 2 AS change_version FROM orders
      |   UNION ALL
      |   SELECT l_orderkey, l_orderkey * 2 + 1 FROM lineitem),
      | agg AS (
      |   SELECT invoice_id, max(change_version) AS change_version
      |   FROM feeds GROUP BY invoice_id)""".stripMargin

  /** The ops feeds (header mod-10 / line mod-7 rules) as a CTE — the
    * SQL twin of TombstoneCdc.headerFeedOps ∪ lineFeedOps. */
  private val feedsOpsCte =
    """feeds AS (
      |   SELECT o_orderkey AS invoice_id, o_orderkey * 2 AS change_version,
      |     CASE WHEN o_orderkey % 10 = 0 THEN 'D'
      |          WHEN o_orderkey % 10 < 3 THEN 'I' ELSE 'U' END AS change_operation
      |   FROM orders
      |   UNION ALL
      |   SELECT l_orderkey, l_orderkey * 2 + 1,
      |     CASE WHEN l_orderkey % 7 = 0 THEN 'D'
      |          WHEN l_orderkey % 7 = 1 THEN 'I' ELSE 'U' END
      |   FROM lineitem)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "cdc_schema_evolution" ->
      // v1 pages (even keys) predate the status column: NULL backfill
      """SELECT o_orderkey AS entity_id, o_orderkey AS change_version,
        |   CAST(round(o_totalprice * 100, 0) AS BIGINT) AS amount_cents,
        |   CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus END AS status
        | FROM orders ORDER BY entity_id""".stripMargin,
    "cdc_shred_documents" ->
      s"""WITH $feedsCte,
         | page AS (SELECT invoice_id FROM agg
         |   ORDER BY change_version, invoice_id LIMIT 100)
         | SELECT l.l_orderkey AS invoice_id,
         |   CAST(l.l_linenumber AS BIGINT) AS line_no,
         |   l.l_partkey AS part_key,
         |   CAST(round(l.l_quantity, 0) AS BIGINT) AS qty,
         |   CAST(round(l.l_extendedprice * 100, 0) AS BIGINT) AS price_cents
         | FROM lineitem l JOIN page p ON l.l_orderkey = p.invoice_id
         | ORDER BY invoice_id, line_no, part_key, qty, price_cents""".stripMargin,
    "cdc_freshness" ->
      s"""WITH $feedsCte,
         | page AS (SELECT * FROM agg ORDER BY change_version, invoice_id LIMIT 100),
         | cur AS (SELECT change_version FROM page
         |   ORDER BY change_version DESC, invoice_id DESC LIMIT 1)
         | SELECT 'c1' AS sync_name,
         |   (SELECT max(change_version) FROM feeds) - cur.change_version
         |     AS version_lag
         | FROM cur""".stripMargin,
    "cdc_merge_upsert" ->
      s"""WITH $feedsOpsCte,
         | snap AS (
         |   SELECT invoice_id, max(change_version) AS s_version,
         |     arg_max(change_operation, change_version) AS s_op
         |   FROM feeds WHERE change_version <= 3000 GROUP BY invoice_id),
         | live AS (SELECT * FROM snap WHERE s_op <> 'D'),
         | chg AS (
         |   SELECT invoice_id, max(change_version) AS c_version,
         |     arg_max(change_operation, change_version) AS c_op
         |   FROM feeds WHERE change_version > 3000 AND change_version <= 6000
         |   GROUP BY invoice_id),
         | merged AS (
         |   SELECT coalesce(l.invoice_id, c.invoice_id) AS invoice_id,
         |     CASE WHEN l.s_version IS NULL OR
         |               (c.c_version IS NOT NULL AND c.c_version >= l.s_version)
         |          THEN c.c_version ELSE l.s_version END AS change_version,
         |     CASE WHEN l.s_version IS NULL OR
         |               (c.c_version IS NOT NULL AND c.c_version >= l.s_version)
         |          THEN c.c_op ELSE l.s_op END AS change_operation
         |   FROM live l FULL JOIN chg c ON l.invoice_id = c.invoice_id)
         | SELECT * FROM merged WHERE change_operation <> 'D'
         | ORDER BY invoice_id""".stripMargin,
    "cdc_snapshot_diff" ->
      """WITH feeds AS (
        |   SELECT user_id AS entity_id, event_id AS change_version,
        |     CASE WHEN event_id % 13 = 0 THEN 'D'
        |          WHEN event_id % 13 < 4 THEN 'I' ELSE 'U' END AS op
        |   FROM events),
        | old AS (
        |   SELECT entity_id, max(change_version) AS version_a,
        |     arg_max(op, change_version) AS op_a
        |   FROM feeds WHERE change_version <= 300 GROUP BY entity_id),
        | live_a AS (SELECT entity_id, version_a FROM old WHERE op_a <> 'D'),
        | b AS (
        |   SELECT entity_id, max(change_version) AS version_b,
        |     arg_max(op, change_version) AS op_b
        |   FROM feeds WHERE change_version <= 700 GROUP BY entity_id),
        | d AS (
        |   SELECT coalesce(a.entity_id, b.entity_id) AS entity_id,
        |     CASE WHEN a.entity_id IS NULL AND b.op_b <> 'D' THEN 'A'
        |          WHEN a.entity_id IS NOT NULL AND b.op_b = 'D' THEN 'R'
        |          WHEN a.entity_id IS NOT NULL AND b.op_b <> 'D'
        |               AND a.version_a <> b.version_b THEN 'C' END AS diff_op,
        |     a.version_a, b.version_b
        |   FROM live_a a FULL JOIN b ON a.entity_id = b.entity_id)
        | SELECT entity_id, diff_op, version_a, version_b FROM d
        | WHERE diff_op IS NOT NULL ORDER BY entity_id""".stripMargin,
    "cdc_view_delta" ->
      s"""WITH $feedsOpsCte,
         | snap AS (
         |   SELECT invoice_id, max(change_version) AS v,
         |     arg_max(change_operation, change_version) AS op
         |   FROM feeds WHERE change_version <= 2500 GROUP BY invoice_id),
         | live AS (SELECT invoice_id FROM snap WHERE op <> 'D')
         | SELECT o.o_orderstatus AS status, count(*) AS n_rows,
         |   CAST(sum(CAST(round(o.o_totalprice * 100, 0) AS BIGINT))
         |     AS BIGINT) AS sum_cents
         | FROM live l JOIN orders o ON l.invoice_id = o.o_orderkey
         | GROUP BY status ORDER BY status""".stripMargin,
    "stream_view_delta" ->
      s"""WITH $feedsOpsCte,
         | snap AS (
         |   SELECT invoice_id, max(change_version) AS v,
         |     arg_max(change_operation, change_version) AS op
         |   FROM feeds GROUP BY invoice_id),
         | live AS (SELECT invoice_id FROM snap WHERE op <> 'D')
         | SELECT o.o_orderstatus AS status, count(*) AS n_rows,
         |   CAST(sum(CAST(round(o.o_totalprice * 100, 0) AS BIGINT))
         |     AS BIGINT) AS sum_cents
         | FROM live l JOIN orders o ON l.invoice_id = o.o_orderkey
         | GROUP BY status ORDER BY status""".stripMargin,
    "stream_view_minmax" ->
      s"""WITH $feedsOpsCte,
         | snap AS (
         |   SELECT invoice_id, max(change_version) AS v,
         |     arg_max(change_operation, change_version) AS op
         |   FROM feeds GROUP BY invoice_id),
         | live AS (SELECT invoice_id FROM snap WHERE op <> 'D')
         | SELECT o.o_orderstatus AS status, count(*) AS n_rows,
         |   min(CAST(round(o.o_totalprice * 100, 0) AS BIGINT)) AS min_cents,
         |   max(CAST(round(o.o_totalprice * 100, 0) AS BIGINT)) AS max_cents
         | FROM live l JOIN orders o ON l.invoice_id = o.o_orderkey
         | GROUP BY status ORDER BY status""".stripMargin,
    "stream_view_sketch" ->
      // exact-regime replay: the staged pages' fixed version bounds
      // re-collapse per (page, entity); distinct entities and collapsed
      // row counts per latest-op group (theta estimates are exact below
      // the sketch's nominal capacity)
      s"""WITH $feedsOpsCte,
         | $pagesCteSql,
         | paged AS (
         |   SELECT p.lo AS page, f.invoice_id,
         |     arg_max(f.change_operation, f.change_version) AS op
         |   FROM feeds f JOIN pages p
         |     ON f.change_version > p.lo AND f.change_version <= p.hi
         |   GROUP BY p.lo, f.invoice_id)
         | SELECT op AS grp,
         |   CAST(count(DISTINCT invoice_id) AS BIGINT) AS n_distinct,
         |   CAST(count(*) AS BIGINT) AS n_obs
         | FROM paged GROUP BY op ORDER BY grp""".stripMargin,
    "stream_view_topk" ->
      // FULL Misra-Gries replay, page by page in arrival order (the
      // staged page files carry ordered mtimes, so the file stream's
      // batch order is the page order): each stage merges the page's
      // per-(op, entity) counts into the running counters, then caps
      // any group over capacity -- rank by (cnt desc, id), subtract the
      // first evicted count, drop zeros -- exactly foldTopK's fold.
      // Below capacity every evict term is 0 and the whole fold
      // degenerates to the plain exact counts (the sf0.001/sf0.01
      // regime); at sf0.1 the U group (~100k near-uniform entities)
      // crosses the capacity and the replay reproduces the documented
      // MG wipe (no heavy hitters to keep), hash-pinning the capped
      // path at the scale where the gate actually flips. The stages
      // are GENERATED from aggViewPageLos and the maintainer's own
      // TopKCapacity, so the replay cannot drift from the staging or
      // the fold (round-12 review).
      s"""WITH $feedsOpsCte,
         | $pagesCteSql,
         | paged AS (
         |   SELECT p.lo AS page, f.invoice_id,
         |     arg_max(f.change_operation, f.change_version) AS op
         |   FROM feeds f JOIN pages p
         |     ON f.change_version > p.lo AND f.change_version <= p.hi
         |   GROUP BY p.lo, f.invoice_id),
         | v0 AS (SELECT op AS grp, invoice_id AS id,
         |     CAST(0 AS BIGINT) AS cnt FROM paged WHERE 1 = 0),
         |$mgStagesSql
         | r AS (SELECT grp, id, cnt, row_number() OVER (
         |     PARTITION BY grp ORDER BY cnt DESC, id) AS rank
         |   FROM v${aggViewPageLos.size})
         | SELECT grp, CAST(rank AS BIGINT) AS rank, id AS invoice_id,
         |   CAST(cnt AS BIGINT) AS n_changes
         | FROM r WHERE rank <= 10 ORDER BY grp, rank""".stripMargin,
    "stream_near_dedup" ->
      // unrolled 4-page incremental near-dedup fold over the exact
      // shingle-Jaccard pair table (the llm_dedup_near oracle's p CTE,
      // shared): pages are doc_id DIV pv with pv = ceil((max+1)/4) —
      // the same version windows the graft-cdc source delivers
      // (version = doc_id + 1). Pages arrive in id order, so a batch
      // doc can only lose to a SMALLER-id partner: any same-page
      // member, or an ACCEPTED earlier-page survivor (a rejected
      // earlier doc blocks nothing — its bands never entered the
      // index). That is Dedup.incrementalNearDedup's loser rule with
      // the lose-as-id_a branch structurally dead under id-ordered
      // paging.
      ("WITH" + graft.llm.LlmQueries.shinglePairCtes("documents") +
        """,
          | pv AS (SELECT CAST(ceil((max(doc_id) + 1) / 4.0) AS BIGINT)
          |     AS v FROM documents),
          | dg AS MATERIALIZED (SELECT doc_id,
          |     doc_id // (SELECT v FROM pv) AS g FROM documents),
          | np AS MATERIALIZED (SELECT p.ia, p.ib, ga.g AS ga
          |   FROM p JOIN dg ga ON ga.doc_id = p.ia WHERE p.j >= 7000),
          | a0 AS MATERIALIZED (SELECT d.doc_id FROM dg d WHERE d.g = 0
          |   AND NOT EXISTS (SELECT 1 FROM np
          |     WHERE np.ib = d.doc_id AND np.ga = 0)),
          | a1 AS MATERIALIZED (SELECT d.doc_id FROM dg d WHERE d.g = 1
          |   AND NOT EXISTS (SELECT 1 FROM np
          |     WHERE np.ib = d.doc_id AND (np.ga = 1
          |       OR np.ia IN (SELECT doc_id FROM a0)))),
          | a2 AS MATERIALIZED (SELECT d.doc_id FROM dg d WHERE d.g = 2
          |   AND NOT EXISTS (SELECT 1 FROM np
          |     WHERE np.ib = d.doc_id AND (np.ga = 2
          |       OR np.ia IN (SELECT doc_id FROM a0
          |         UNION ALL SELECT doc_id FROM a1)))),
          | a3 AS MATERIALIZED (SELECT d.doc_id FROM dg d WHERE d.g = 3
          |   AND NOT EXISTS (SELECT 1 FROM np
          |     WHERE np.ib = d.doc_id AND (np.ga = 3
          |       OR np.ia IN (SELECT doc_id FROM a0
          |         UNION ALL SELECT doc_id FROM a1
          |         UNION ALL SELECT doc_id FROM a2))))
          | SELECT doc_id FROM (
          |   SELECT doc_id FROM a0 UNION ALL SELECT doc_id FROM a1
          |   UNION ALL SELECT doc_id FROM a2
          |   UNION ALL SELECT doc_id FROM a3)
          | ORDER BY doc_id""".stripMargin),
    "cdc_view_minmax" ->
      s"""WITH $feedsOpsCte,
         | snap AS (
         |   SELECT invoice_id, max(change_version) AS v,
         |     arg_max(change_operation, change_version) AS op
         |   FROM feeds WHERE change_version <= 2500 GROUP BY invoice_id),
         | live AS (SELECT invoice_id FROM snap WHERE op <> 'D')
         | SELECT o.o_orderstatus AS status, count(*) AS n_rows,
         |   min(CAST(round(o.o_totalprice * 100, 0) AS BIGINT)) AS min_cents,
         |   max(CAST(round(o.o_totalprice * 100, 0) AS BIGINT)) AS max_cents
         | FROM live l JOIN orders o ON l.invoice_id = o.o_orderkey
         | GROUP BY status ORDER BY status""".stripMargin,
    "cdc_scd2" ->
      s"""WITH $feedsOpsCte,
         | hist AS (
         |   SELECT invoice_id, change_operation,
         |     change_version AS valid_from,
         |     lead(change_version) OVER
         |       (PARTITION BY invoice_id ORDER BY change_version) AS valid_to
         |   FROM (SELECT DISTINCT * FROM feeds))
         | SELECT invoice_id, change_operation, valid_from, valid_to,
         |   CAST(valid_to IS NULL AS BIGINT) AS is_current
         | FROM hist WHERE invoice_id <= 3000
         | ORDER BY invoice_id, valid_from""".stripMargin,
    "cdc_scd2_asof" ->
      s"""WITH $feedsOpsCte,
         | hist AS (
         |   SELECT invoice_id, change_operation,
         |     change_version AS valid_from,
         |     lead(change_version) OVER
         |       (PARTITION BY invoice_id ORDER BY change_version) AS valid_to
         |   FROM (SELECT DISTINCT * FROM feeds))
         | SELECT invoice_id, change_operation, valid_from AS version_at
         | FROM hist
         | WHERE valid_from <= 4000 AND (valid_to IS NULL OR valid_to > 4000)
         |   AND change_operation <> 'D' AND invoice_id <= 3000
         | ORDER BY invoice_id""".stripMargin,
    "cdc_consumer_state" ->
      s"""WITH $feedsCte,
         | page AS (SELECT * FROM agg ORDER BY change_version, invoice_id LIMIT 100)
         | SELECT 'c1' AS sync_name, change_version AS last_sync_version,
         |   invoice_id AS last_processed_id
         | FROM page ORDER BY change_version DESC, invoice_id DESC LIMIT 1""".stripMargin,
    "cdc_reset" ->
      """SELECT 'c1' AS sync_name, CAST(0 AS BIGINT) AS last_sync_version,
        | CAST(0 AS BIGINT) AS last_processed_id""".stripMargin,
    "sink_versioned" ->
      s"""WITH $feedsCte,
         | page AS (
         |   SELECT a.invoice_id,
         |     'INV-' || lpad(CAST(o.o_orderkey AS VARCHAR), 9, '0') AS invoice_number,
         |     a.change_version
         |   FROM agg a JOIN orders o ON a.invoice_id = o.o_orderkey
         |   ORDER BY a.change_version, a.invoice_id LIMIT 100)
         | SELECT invoice_id, invoice_number, change_version
         | FROM page ORDER BY invoice_id""".stripMargin,
    "stream_event_windows" ->
      """SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start, event_type,
        | count(*) AS n,
        | CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        | FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
    "stream_sessionize" ->
      """SELECT user_id AS "userId", min(event_id) AS "firstVersion",
        | max(event_id) AS "lastVersion", count(*) AS "nEvents",
        | CAST(round(list_sum(list(value ORDER BY event_id)) * 100) AS BIGINT)
        |   AS "valueSumCents"
        | FROM events GROUP BY user_id ORDER BY "userId"""".stripMargin,
    "stream_session_state" ->
      // the state-store-driven twin lands on the same per-entity fold:
      // ordered sum replays the eventId-order double accumulation
      """SELECT user_id AS "userId", min(event_id) AS "firstVersion",
        | max(event_id) AS "lastVersion", count(*) AS "nEvents",
        | CAST(round(list_sum(list(value ORDER BY event_id)) * 100) AS BIGINT)
        |   AS "valueSumCents"
        | FROM events GROUP BY user_id ORDER BY "userId"""".stripMargin,
    "cdc_scan" ->
      """SELECT event_id AS change_version, user_id AS entity_id
        | FROM events WHERE event_id > 100 ORDER BY change_version""".stripMargin,
    "cdc_source_scan" ->
      """SELECT user_id AS entity_id, event_id AS change_version
        | FROM events ORDER BY change_version""".stripMargin,
    "cdc_source_pushdown" ->
      """SELECT user_id AS entity_id, event_id AS change_version
        | FROM events WHERE event_id > 300 AND event_id <= 700
        | ORDER BY change_version""".stripMargin,
    "cdc_source_ops" ->
      """SELECT user_id AS entity_id, event_id AS change_version,
        | event_type AS change_operation
        | FROM events ORDER BY change_version""".stripMargin,
    "cdc_deletes" ->
      s"""WITH $feedsOpsCte,
        | agg AS (
        |   SELECT invoice_id, max(change_version) AS change_version,
        |     arg_max(change_operation, change_version) AS change_operation
        |   FROM feeds GROUP BY invoice_id),
        | page AS (
        |   SELECT * FROM agg ORDER BY change_version, invoice_id LIMIT 100),
        | nested AS (
        |   SELECT l_orderkey AS invoice_id,
        |     to_json(list(struct_pack(
        |       line_no := CAST(l_linenumber AS BIGINT), part_key := l_partkey,
        |       qty := CAST(round(l_quantity, 0) AS BIGINT),
        |       price_cents := CAST(round(l_extendedprice * 100, 0) AS BIGINT))
        |       ORDER BY l_linenumber, l_partkey,
        |         CAST(round(l_quantity, 0) AS BIGINT),
        |         CAST(round(l_extendedprice * 100, 0) AS BIGINT))) AS lines
        |   FROM lineitem GROUP BY l_orderkey)
        | SELECT p.invoice_id, p.change_version, p.change_operation,
        |   CASE WHEN p.change_operation = 'D' THEN NULL
        |     ELSE 'INV-' || lpad(CAST(o.o_orderkey AS VARCHAR), 9, '0') END
        |     AS invoice_number,
        |   CASE WHEN p.change_operation = 'D' THEN NULL
        |     ELSE 'CUST-' || lpad(CAST(o.o_custkey AS VARCHAR), 6, '0') END
        |     AS customer_code,
        |   CASE WHEN p.change_operation = 'D' THEN NULL
        |     ELSE o.o_orderdate END AS invoice_date,
        |   CASE WHEN p.change_operation = 'D' THEN NULL
        |     ELSE round(o.o_totalprice, 2) END AS total_amount,
        |   CASE WHEN p.change_operation = 'D' THEN NULL
        |     ELSE coalesce(n.lines, '[]') END AS lines,
        |   CAST(p.change_operation = 'D' AS BIGINT) AS is_tombstone
        | FROM page p
        | LEFT JOIN orders o ON p.invoice_id = o.o_orderkey
        | LEFT JOIN nested n ON p.invoice_id = n.invoice_id
        | ORDER BY p.change_version, p.invoice_id""".stripMargin,
    "cdc_snapshot_asof" ->
      """SELECT user_id AS entity_id, max(event_id) AS version_asof
        | FROM events WHERE event_id <= 600
        | GROUP BY user_id ORDER BY entity_id""".stripMargin,
    "cdc_incremental_poll" ->
      """WITH feeds AS (
        |   SELECT o_orderkey AS invoice_id, o_orderkey * 2 AS change_version FROM orders
        |   UNION ALL
        |   SELECT l_orderkey, l_orderkey * 2 + 1 FROM lineitem),
        | agg AS (
        |   SELECT invoice_id, max(change_version) AS change_version
        |   FROM feeds WHERE change_version > 1000 AND change_version <= 2800
        |   GROUP BY invoice_id),
        | nested AS (
        |   SELECT l_orderkey AS invoice_id,
        |     to_json(list(struct_pack(
        |       line_no := CAST(l_linenumber AS BIGINT), part_key := l_partkey,
        |       qty := CAST(round(l_quantity, 0) AS BIGINT),
        |       price_cents := CAST(round(l_extendedprice * 100, 0) AS BIGINT))
        |       ORDER BY l_linenumber, l_partkey,
        |         CAST(round(l_quantity, 0) AS BIGINT),
        |         CAST(round(l_extendedprice * 100, 0) AS BIGINT))) AS lines
        |   FROM lineitem GROUP BY l_orderkey)
        | SELECT a.invoice_id,
        |   'INV-' || lpad(CAST(o.o_orderkey AS VARCHAR), 9, '0') AS invoice_number,
        |   'CUST-' || lpad(CAST(o.o_custkey AS VARCHAR), 6, '0') AS customer_code,
        |   o.o_orderdate AS invoice_date,
        |   round(o.o_totalprice, 2) AS total_amount,
        |   a.change_version,
        |   coalesce(n.lines, '[]') AS lines
        | FROM agg a
        | JOIN orders o ON a.invoice_id = o.o_orderkey
        | LEFT JOIN nested n ON a.invoice_id = n.invoice_id
        | ORDER BY a.change_version, a.invoice_id LIMIT 50""".stripMargin,
    "cdc_pagination" ->
      """WITH feeds AS (
        |   SELECT o_orderkey AS invoice_id, o_orderkey * 2 AS change_version FROM orders
        |   UNION ALL
        |   SELECT l_orderkey, l_orderkey * 2 + 1 FROM lineitem),
        | agg AS (
        |   SELECT invoice_id, max(change_version) AS change_version
        |   FROM feeds GROUP BY invoice_id)
        | SELECT invoice_id, change_version FROM agg
        | WHERE change_version > 1001 OR (change_version = 1001 AND invoice_id > 500)
        | ORDER BY change_version, invoice_id LIMIT 100""".stripMargin
  )
}
