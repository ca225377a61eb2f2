package graft

import graft.cdc.{ChangeFeed, ConsumerStateStore, InvoiceCdc}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Prop.forAll
import org.scalacheck.{Gen, Test => CheckTest}

/** T1/T2/T3/T7 — the stateful exactly-once poll protocol (the `(n/s)`
  * query keys that the DuckDB oracle cannot check).
  * Reference semantics: invoice-api/server.js:83-299 + consumer.js:6-49. */
class CdcSpec extends SparkSpec {

  private def newStore() = new ConsumerStateStore(spark, tmpDir("state"))

  test("T1: consumer state auto-creates at version 0 and commits advance it") {
    val store = newStore()
    val st0 = store.get("c1")
    assert(st0.lastSyncVersion == 0L && st0.lastProcessedId == 0L)
    store.commit("c1", 42L, 7L)
    val st1 = store.get("c1")
    assert(st1.lastSyncVersion == 42L && st1.lastProcessedId == 7L)
    // independent consumers (T8)
    assert(store.get("c2").lastSyncVersion == 0L)
    assert(store.list().map(_.syncName).sorted == Seq("c1", "c2"))
  }

  test("T1: a crash inside the state-file swap loses no offsets") {
    // the two-file protocol: temp is fully written before the swap, so
    // "no state file + temp present" is recoverable committed state
    val dir = tmpDir("state-crash")
    val store = new ConsumerStateStore(spark, dir)
    store.commit("c1", 42L, 7L)
    store.commit("c2", 99L, 3L)
    // simulate the worst crash point on a delete-then-rename filesystem:
    // target deleted, rename not yet done — recreate the temp from the
    // current state, then remove the target
    val state = new java.io.File(dir, "sync_state.tsv")
    val tmp = new java.io.File(dir, "sync_state.tsv.tmp")
    java.nio.file.Files.copy(state.toPath, tmp.toPath)
    assert(state.delete())
    val recovered = new ConsumerStateStore(spark, dir)
    assert(recovered.get("c1").lastSyncVersion == 42L)
    assert(recovered.get("c2").lastSyncVersion == 99L)
    // the next commit must promote the recovered temp before truncating it
    recovered.commit("c1", 50L, 9L)
    assert(recovered.get("c1").lastSyncVersion == 50L)
    assert(recovered.get("c2").lastSyncVersion == 99L, "c2 survives the promote")
  }

  test("timed delivery reports the reference's per-stage latency block") {
    val store = newStore()
    val feed = new ChangeFeed(spark, sf, store)
    var sunk = 0L
    val (page, t) = feed.pollAndDeliverTimed("c1", 100) { df => sunk = df.count() }
    assert(page.count == 100 && sunk == 100)
    assert(t.readStateMs >= 0 && t.queryMs >= 0 && t.sinkMs >= 0 && t.commitMs >= 0)
    assert(t.queryMs > 0, "the page query dominates and must register")
    // the first poll of a feed builds its index: a stage of its own,
    // counted in the total and kept out of the page query
    assert(t.indexBuildMs > 0, "the first poll builds the feed index")
    assert(t.totalMs ==
      t.readStateMs + t.indexBuildMs + t.queryMs + t.sinkMs + t.commitMs)
    // an empty poll (cursor at head) reports zero sink/commit time, and
    // an unchanged snapshot is an index hit
    feed.drain("c1", 5000)(_.count())
    val (empty, t2) = feed.pollAndDeliverTimed("c1", 100)(_.count())
    assert(empty.count == 0 && t2.sinkMs == 0 && t2.commitMs == 0)
    assert(t2.indexBuildMs == 0, "an unchanged snapshot must not rebuild")
  }

  test("T7: reset returns the consumer to version 0") {
    val store = newStore()
    store.commit("c1", 99L, 3L)
    store.reset("c1")
    val st = store.get("c1")
    assert(st.lastSyncVersion == 0L && st.lastProcessedId == 0L)
  }

  test("T2/T3: drain delivers every invoice exactly once across pages") {
    val store = newStore()
    val feed = new ChangeFeed(spark, sf, store)
    val delivered = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val pages = feed.drain("c1", limit = 400) { df =>
      delivered ++= df.select("invoice_id", "change_version")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
    }
    val expected = InvoiceCdc.changedInvoices(spark, sf, 0L, Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(delivered.size == expected.size, "no row delivered twice")
    assert(delivered.toSet == expected, "no row skipped")
    assert(pages.init.forall(_.hasMore) && pages.nonEmpty)
    // cursor parked at the newest delivered change
    val st = store.get("c1")
    assert(st.lastSyncVersion == expected.map(_._2).max)
  }

  test("T2: sink failure leaves the cursor in place; next poll redelivers") {
    val store = newStore()
    val feed = new ChangeFeed(spark, sf, store)
    val before = store.get("c1")
    intercept[RuntimeException] {
      feed.pollAndDeliver("c1", limit = 50)(_ => throw new RuntimeException("sink down"))
    }
    val after = store.get("c1")
    assert(after.lastSyncVersion == before.lastSyncVersion,
      "commit must not happen after a failed sink")
    // successful retry delivers the same page
    var n = 0L
    feed.pollAndDeliver("c1", limit = 50)(df => n = df.count())
    assert(n == 50)
    assert(store.get("c1").lastSyncVersion > 0)
  }

  test("T2: overlap re-read is deduplicated by the resume cursor") {
    val store = newStore()
    val feed = new ChangeFeed(spark, sf, store)
    var first = Set.empty[(Long, Long)]
    feed.pollAndDeliver("c1", 100) { df =>
      first = df.select("invoice_id", "change_version")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    var second = Set.empty[(Long, Long)]
    feed.pollAndDeliver("c1", 100) { df =>
      second = df.select("invoice_id", "change_version")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(first.nonEmpty && second.nonEmpty)
    assert(first.intersect(second).isEmpty,
      s"overlapped rows must be filtered: ${first.intersect(second).take(5)}")
  }

  test("P4 property: cursor predicate partitions the feed exactly (ScalaCheck)") {
    val rows = Gen.listOfN(60, Gen.zip(Gen.chooseNum(0L, 20L), Gen.chooseNum(0L, 20L)))
    val cursor = Gen.zip(Gen.chooseNum(0L, 20L), Gen.chooseNum(0L, 20L))
    val prop = forAll(rows, cursor) { (rs, c) =>
      val (cv, cid) = c
      val after = rs.filter { case (v, id) => v > cv || (v == cv && id > cid) }
      val before = rs.filter { case (v, id) => v < cv || (v == cv && id <= cid) }
      // strict total order: every row is on exactly one side
      import scala.math.Ordering.Implicits._
      after.size + before.size == rs.size &&
        after.forall { case (v, id) => (v, id) > ((cv, cid)) } &&
        before.forall { case (v, id) => (v, id) <= ((cv, cid)) }
    }
    val res = CheckTest.check(CheckTest.Parameters.default, prop)
    assert(res.passed, res.status.toString)
  }

  test("resumeCursor column expression matches the scala predicate") {
    import spark.implicits._
    val df = Seq((1L, 1L), (2L, 1L), (2L, 2L), (2L, 3L), (3L, 1L))
      .toDF("change_version", "invoice_id")
    val got = df.filter(InvoiceCdc.resumeCursor(2L, 2L))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((2L, 3L), (3L, 1L)))
  }

  test("entry flagship query returns rows with nested lines") {
    val df: DataFrame = SparkEntry.entry(spark)
    val rows = df.collect()
    assert(rows.length > 0)
    assert(df.columns.contains("lines"))
    assert(rows.forall(!_.isNullAt(df.columns.indexOf("lines"))))
  }

  test("currentVersion equals max over both feeds") {
    val v = InvoiceCdc.currentVersion(spark, sf)
    val expected = InvoiceCdc.headerFeed(spark, sf)
      .unionByName(InvoiceCdc.lineFeed(spark, sf))
      .agg(max(col("change_version"))).head().getLong(0)
    assert(v == expected)
  }
}
