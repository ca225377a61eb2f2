package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Test => CheckTest}
import org.scalacheck.Prop.forAll

import graft.cdc.{ChangeFeed, ConsumerStateStore, InvoiceCdc, TombstoneCdc, TombstoneFeed}

/** The per-snapshot feed index behind ChangeFeed polls: every page it
  * serves equals the per-poll collapse over `(lastSync - 1, to]` with the
  * resume filter, a changed snapshot is picked up by the next poll, and
  * concurrent consumers of one feed build the index once. A build calls
  * `currentVersion` exactly once, so the feeds here count builds there. */
class FeedIndexSpec extends SparkSpec {
  import spark.implicits._

  private def newStore() = new ConsumerStateStore(spark, tmpDir("ix-state"))

  /** The invoice feed over `dir`, counting index builds. */
  private class CountingFeed(dir: String, store: ConsumerStateStore)
    extends ChangeFeed(spark, dir, store) {
    val builds = new AtomicInteger()
    override protected def currentVersion: Long = {
      builds.incrementAndGet()
      super.currentVersion
    }
  }

  /** A generic in-memory feed: several versions per entity, collapsed to
    * the newest, with heavy version ties across entities. */
  private class RowsFeed(rows: Seq[(Long, Long)], store: ConsumerStateStore)
    extends ChangeFeed(spark, sf, store) {
    val builds = new AtomicInteger()
    override protected def currentVersion: Long = {
      builds.incrementAndGet()
      if (rows.isEmpty) 0L else rows.map(_._2).max
    }
    override protected def changedEntities(since: Long, to: Long): DataFrame =
      rows.toDF("invoice_id", "change_version")
        .filter($"change_version" > since && $"change_version" <= to)
        .groupBy($"invoice_id").agg(max($"change_version").as("change_version"))
    override protected def rehydrate(keys: Seq[(Long, Long)]): DataFrame =
      keys.toDF("invoice_id", "change_version")
  }

  private def overlapSince(lastV: Long): Long = if (lastV > 0) lastV - 1 else 0L

  /** The per-poll collapse the index replaced, in plain Scala: newest
    * version per entity over (lastV - 1, to], the resume filter, then the
    * oldest-first top-`limit`. */
  private def perPollPage(rows: Seq[(Long, Long)], lastV: Long, lastId: Long,
                          to: Long, limit: Int): Seq[(Long, Long)] =
    rows.filter { case (_, v) => v > overlapSince(lastV) && v <= to }
      .groupBy(_._1).map { case (id, rs) => (id, rs.map(_._2).max) }.toSeq
      .filter { case (id, v) => v > lastV || (v == lastV && id > lastId) }
      .sortBy { case (id, v) => (v, id) }
      .take(limit)

  /** The same per-poll collapse over the invoice feed in `dir`, as the
    * poll ran it before the index. */
  private def perPollInvoicePage(dir: String, lastV: Long, lastId: Long,
                                 limit: Int): Seq[(Long, Long)] =
    InvoiceCdc.collectKeyPage(
      InvoiceCdc.changedInvoices(spark, dir, overlapSince(lastV),
        InvoiceCdc.currentVersion(spark, dir))
        .filter(InvoiceCdc.resumeCursor(lastV, lastId)),
      limit).toSeq

  private def keysOf(df: DataFrame): Seq[(Long, Long)] =
    df.select($"invoice_id".cast("long"), $"change_version".cast("long"))
      .as[(Long, Long)].collect().toSeq

  test("property: index-served pages, hasMore and cursor equal the " +
      "per-poll collapse on tie-heavy generic feeds (ScalaCheck)") {
    // few versions over many entities, several versions per entity:
    // ties across entities and a collapse that actually drops rows
    val genRows = for {
      n <- Gen.chooseNum(0, 80)
      rs <- Gen.listOfN(n, Gen.zip(Gen.chooseNum(1L, 30L), Gen.chooseNum(1L, 8L)))
    } yield rs.distinct
    val genPoll = Gen.zip(Gen.chooseNum(0L, 9L), Gen.chooseNum(0L, 31L),
      Gen.chooseNum(1, 25))
    val prop = forAll(genRows, Gen.listOfN(3, genPoll)) { (rows, polls) =>
      val store = newStore()
      val feed = new RowsFeed(rows, store)
      val to = if (rows.isEmpty) 0L else rows.map(_._2).max
      val pagesAgree = polls.forall { case (lastV, lastId, limit) =>
        store.commit("p", lastV, lastId)
        val page = feed.poll("p", limit)
        val want = perPollPage(rows, lastV, lastId, to, limit)
        val (wantV, wantId) = want.lastOption
          .map { case (id, v) => (v, id) }.getOrElse((lastV, lastId))
        keysOf(page.data) == want && page.count == want.size &&
          page.hasMore == (want.size == limit) && page.toVersion == to &&
          page.fromVersion == lastV &&
          page.lastVersion == wantV && page.lastId == wantId
      }
      feed.close()
      pagesAgree && feed.builds.get == 1
    }
    val res = CheckTest.check(
      CheckTest.Parameters.default.withMinSuccessfulTests(25), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: on the invoice feed, random cursors and limits get the " +
      "per-poll page from one index build (ScalaCheck)") {
    val all = InvoiceCdc.changedInvoices(spark, sf, 0L, Long.MaxValue)
      .as[(Long, Long)].collect().toIndexedSeq.sortBy { case (id, v) => (v, id) }
    assert(all.nonEmpty)
    val store = newStore()
    val feed = new CountingFeed(sf, store)
    // cursors on feed rows (the committed shape) and between them
    val genCursor = Gen.oneOf(
      Gen.const((0L, 0L)),
      Gen.oneOf(all).map { case (id, v) => (v, id) },
      Gen.oneOf(all).map { case (id, v) => (v + 1, 0L) })
    val prop = forAll(genCursor, Gen.chooseNum(1, 300)) { case ((lastV, lastId), limit) =>
      store.commit("r", lastV, lastId)
      val page = feed.poll("r", limit)
      val want = perPollInvoicePage(sf, lastV, lastId, limit)
      keysOf(page.data) == want && page.hasMore == (want.size == limit) &&
        want.lastOption.forall { case (id, v) =>
          page.lastVersion == v && page.lastId == id }
    }
    val res = CheckTest.check(
      CheckTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
    assert(feed.builds.get == 1, "an unchanged snapshot must be built once")
    feed.close()
  }

  test("a snapshot that changes between polls is delivered by the next " +
      "poll, never a stale page") {
    val dir = tmpDir("ix-snap")
    for (t <- Seq("orders", "lineitem")) {
      Files.createDirectories(Paths.get(s"$dir/$t.parquet"))
      Files.copy(Paths.get(s"$sf/$t.parquet"), Paths.get(s"$dir/$t.parquet/part-00000-base.parquet"))
    }
    val store = newStore()
    val feed = new CountingFeed(dir, store)
    feed.pollAndDeliver("c", 100)(_ => ())
    val cursor = store.get("c")
    // invoices past the cursor whose newest change is their header (no
    // lines yet): a new line file moves each to version 2k+1
    val li = Tables.lineitem(spark, dir)
    val headerOnly = InvoiceCdc.changedInvoices(spark, dir, 0L, Long.MaxValue)
      .filter(InvoiceCdc.resumeCursor(cursor.lastSyncVersion, cursor.lastProcessedId))
      .join(li, $"invoice_id" === li("l_orderkey"), "left_anti")
      .as[(Long, Long)].collect().toMap
    assert(headerOnly.nonEmpty, "the fixture needs header-only invoices past the cursor")
    val template = li.limit(1).collect().head
    val keyAt = li.schema.fieldIndex("l_orderkey")
    val keyType = li.schema("l_orderkey").dataType
    val newLines = headerOnly.keys.toSeq.map { k =>
      val v = template.toSeq.toArray
      v(keyAt) = if (keyType == org.apache.spark.sql.types.IntegerType) k.toInt else k
      org.apache.spark.sql.Row.fromSeq(v.toSeq)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(newLines, 1), li.schema)
      .write.mode("append").parquet(s"$dir/lineitem.parquet")

    // the next poll sees the new snapshot: one page with every remaining
    // change, the header-only invoices now at their line version
    val want = perPollInvoicePage(dir, cursor.lastSyncVersion, cursor.lastProcessedId, 5000)
    var got = Seq.empty[(Long, Long)]
    val page = feed.pollAndDeliver("c", 5000)(df => got = keysOf(df))
    assert(feed.builds.get == 2, "a changed snapshot must rebuild the index")
    assert(got == want && page.count == want.size && !page.hasMore)
    headerOnly.foreach { case (k, v) =>
      assert(got.contains((k, v + 1)) && !got.contains((k, v)),
        s"invoice $k: expected its new line version ${v + 1}")
    }
    assert(page.toVersion == InvoiceCdc.currentVersion(spark, dir))
    // and the unchanged snapshot after it is an index hit
    assert(feed.poll("c", 100).count == 0 && feed.builds.get == 2)
    feed.close()
  }

  test("TombstoneFeed drains the same pages and tombstones as the per-poll collapse") {
    val store = newStore()
    val feed = new TombstoneFeed(spark, sf, store)
    val to = InvoiceCdc.currentVersion(spark, sf)
    val delivered = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    var more = true
    while (more) {
      val st = store.get("t")
      val want = InvoiceCdc.collectKeyPage(
        TombstoneCdc.changedInvoicesOps(spark, sf, overlapSince(st.lastSyncVersion), to)
          .select($"invoice_id", $"change_version")
          .filter(InvoiceCdc.resumeCursor(st.lastSyncVersion, st.lastProcessedId)),
        150).toSeq
      var got = Seq.empty[(Long, Long, Long)]
      val page = feed.pollAndDeliver("t", 150) { df =>
        got = df.select($"invoice_id".cast("long"), $"change_version".cast("long"),
          $"is_tombstone".cast("long")).as[(Long, Long, Long)].collect().toSeq
      }
      assert(got.map(r => (r._1, r._2)) == want, s"page after $st differs")
      delivered ++= got
      more = page.hasMore
    }
    val truth = TombstoneCdc.changedInvoicesOps(spark, sf, 0L, Long.MaxValue)
      .as[(Long, Long, String)].collect()
    val tombstones = delivered.filter(_._3 == 1L).map(r => (r._1, r._2)).toSet
    assert(tombstones.nonEmpty)
    assert(tombstones == truth.filter(_._3 == "D").map(t => (t._1, t._2)).toSet)
    assert(delivered.size == truth.length, "every entity delivered exactly once")
    feed.close()
  }

  test("concurrent consumers on one feed build the index once") {
    val store = newStore()
    val feed = new CountingFeed(sf, store)
    val expected = InvoiceCdc.changedInvoices(spark, sf, 0L, Long.MaxValue)
      .as[(Long, Long)].collect().toSet
    val configs = Seq("alpha" -> 120, "beta" -> 70, "gamma" -> 260)
    val delivered = configs.map { case (name, _) =>
      name -> new ConcurrentLinkedQueue[(Long, Long)]()
    }.toMap
    val start = new CountDownLatch(1)
    val failures = new ConcurrentLinkedQueue[Throwable]()
    val threads = configs.map { case (name, limit) =>
      new Thread(() => {
        try {
          start.await()
          feed.drain(name, limit)(df => keysOf(df).foreach(delivered(name).add))
        } catch { case t: Throwable => failures.add(t) }
      }, s"ix-$name")
    }
    threads.foreach(_.start())
    start.countDown()
    threads.foreach(_.join(300000))
    assert(failures.isEmpty,
      s"consumer thread failed: ${Option(failures.peek()).map(_.toString)}")
    assert(feed.builds.get == 1, s"index built ${feed.builds.get} times")
    for ((name, _) <- configs) {
      val got = delivered(name).toArray(Array.empty[(Long, Long)]).toSeq
      assert(got.size == got.toSet.size, s"$name delivered a duplicate")
      assert(got.toSet == expected, s"$name union-of-pages != full feed")
    }
    feed.close()
  }
}
