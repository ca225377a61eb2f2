package graft

import graft.ops.MaterializedView
import org.apache.spark.sql.functions._

/** Incremental view maintenance: a bucket-partitioned materialization
  * refreshed only where the changefeed touched it. */
class MaterializedViewSpec extends SparkSpec {
  import spark.implicits._

  test("refresh touches only changed buckets yet converges to the full view") {
    val path = tmpDir("mv")
    val mv = new MaterializedView(spark, sf, path, nBuckets = 16)
    mv.build()
    val full = mv.read().drop("bucket")
    val expectedCount = Tables.lineitem(spark, sf).count()
    assert(full.count() == expectedCount)

    // point two buckets at an empty generation to simulate staleness,
    // then refresh exactly them
    val victims = Seq(3L, 7L)
    val (empty, _) = graft.streaming.ManifestSwap.newGeneration(spark, path)
    graft.streaming.ManifestSwap.commitUpdate(spark, path, "stale")(
      _ ++ victims.map(b => s"bucket=$b" -> s"$empty/n=${victims.size}"))
    assert(mv.read().count() < expectedCount, "staleness simulated")

    // invoices whose ids map to the victim buckets
    val changed = Tables.orders(spark, sf)
      .filter(pmod($"o_orderkey", lit(16)).isin(victims: _*))
      .select($"o_orderkey").as[Long].collect()
    mv.refresh(changed.toSeq)

    val after = mv.read()
    assert(after.count() == expectedCount, "refresh restored the view")
    // spot-check content equality against a fresh flat join
    val want = Tables.orders(spark, sf).join(Tables.lineitem(spark, sf),
        $"o_orderkey" === $"l_orderkey")
      .select($"o_orderkey".as("invoice_id"), $"l_linenumber".as("line_no"))
      .as[(Long, Int)].collect().toSet
    val got = after.select($"invoice_id", $"line_no")
      .as[(Long, Int)].collect().toSet
    assert(got == want)
  }

  test("a bucket that recomputes to empty is dropped, not left stale") {
    // source snapshot A: full data; snapshot B: one bucket's invoices gone
    val srcA = tmpDir("mv-srcA")
    val srcB = tmpDir("mv-srcB")
    val nB = 8
    val victim = 5L
    val orders = Tables.orders(spark, sf)
    val lines = Tables.lineitem(spark, sf)
    orders.write.parquet(s"$srcA/orders.parquet")
    lines.write.parquet(s"$srcA/lineitem.parquet")
    orders.filter(pmod($"o_orderkey", lit(nB.toLong)) =!= victim)
      .write.parquet(s"$srcB/orders.parquet")
    lines.write.parquet(s"$srcB/lineitem.parquet")

    val path = tmpDir("mv3")
    new MaterializedView(spark, srcA, path, nBuckets = nB).build()
    val removedIds = orders
      .filter(pmod($"o_orderkey", lit(nB.toLong)) === victim)
      .select($"o_orderkey").as[Long].collect().toSeq
    assert(removedIds.nonEmpty)

    // the deletion arrives as a change page over snapshot B
    val mvB = new MaterializedView(spark, srcB, path, nBuckets = nB)
    mvB.refresh(removedIds)
    val after = mvB.read()
    assert(after.filter($"bucket" === victim).isEmpty,
      "deleted bucket must not serve stale rows")
    assert(!graft.streaming.ManifestSwap.resolveRaw(spark, path).get._2
      .contains(s"bucket=$victim"), "empty-recompute bucket left the manifest")
    assert(after.filter(pmod($"invoice_id", lit(nB.toLong)) === victim).isEmpty,
      "no served row is in the emptied bucket")
    // other buckets untouched
    assert(after.count() ==
      lines.join(orders.filter(pmod($"o_orderkey", lit(nB.toLong)) =!= victim),
        $"l_orderkey" === $"o_orderkey").count())
    assertGenerationsMarked(path)
  }

  test("refresh with an empty change set is a no-op") {
    val path = tmpDir("mv2")
    val mv = new MaterializedView(spark, sf, path, nBuckets = 8)
    mv.build()
    val before = mv.read().count()
    mv.refresh(Nil)
    assert(mv.read().count() == before)
  }
}
