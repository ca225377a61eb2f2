package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Test => CheckTest}
import org.scalacheck.Prop.forAllNoShrink

import graft.ops.MaterializedView
import graft.streaming.ManifestSwap

/** The materialized view served from the current-state index equals the
  * header⋈line join it replaced, row for row, after any sequence of
  * change pages — over a copy of the tables in which some quantities are
  * non-integral, where the view's `round` and the document's truncation
  * differ. */
class MaterializedViewPropertySpec extends SparkSpec {
  import spark.implicits._

  private val nB = 8

  /** The view as the base-table join computed it (test-local copy). */
  private def joinView(dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val li = Tables.lineitem(spark, dir)
    o.join(li, o("o_orderkey") === li("l_orderkey"), "inner")
      .select(
        col("o_orderkey").as("invoice_id"),
        col("o_custkey").as("customer_key"),
        col("o_orderdate").as("invoice_date"),
        col("o_orderstatus").as("status"),
        col("l_linenumber").as("line_no"),
        col("l_partkey").as("part_key"),
        round(col("l_quantity")).cast("long").as("qty"),
        round(col("l_extendedprice") * 100).cast("long").as("price_cents"),
        pmod(col("o_orderkey"), lit(nB.toLong)).cast("int").as("bucket"))
  }

  private def rows(df: DataFrame): Seq[Row] =
    df.orderBy(df.columns.map(col).toIndexedSeq: _*).collect().toSeq

  /** One change page: `deleted` lose their header, `requantified` get a
    * non-integral quantity on every line, `unlined` lose their lines. */
  private case class Page(deleted: Seq[Long], requantified: Seq[Long], unlined: Seq[Long]) {
    def ids: Seq[Long] = (deleted ++ requantified ++ unlined).distinct
  }

  test("index-served view rows equal the base-table join after random pages") {
    val keys = Tables.orders(spark, sf).select($"o_orderkey").as[Long].collect().toIndexedSeq
    val ids = Gen.listOfN(6, Gen.oneOf(keys))
    val page = for (d <- ids; q <- ids; u <- ids) yield Page(d.take(2), q, u.take(2))
    // a threshold of 2 makes every third generation fold the oldest
    // one's buckets into the refresh, so that path runs too
    val thresholdKey = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    spark.conf.set(thresholdKey, "2")
    val prop = forAllNoShrink(Gen.listOfN(3, page)) { pages =>
      // fractional quantities on every third line from the start
      val frac = when(pmod($"l_orderkey" + $"l_linenumber", lit(3)) === 0,
        $"l_quantity" + lit(0.5)).otherwise($"l_quantity")
      var orders = Tables.orders(spark, sf).localCheckpoint()
      var lines = Tables.lineitem(spark, sf).withColumn("l_quantity", frac).localCheckpoint()
      def stage(): String = {
        val dir = tmpDir("mvprop-src")
        orders.write.parquet(s"$dir/orders.parquet")
        lines.write.parquet(s"$dir/lineitem.parquet")
        dir
      }
      val path = tmpDir("mvprop") + "/v"
      var src = stage()
      new MaterializedView(spark, src, path, nBuckets = nB).build()
      pages.forall { p =>
        orders = orders.filter(!$"o_orderkey".isin(p.deleted: _*)).localCheckpoint()
        lines = lines.filter(!$"l_orderkey".isin(p.unlined: _*))
          .withColumn("l_quantity", when($"l_orderkey".isin(p.requantified: _*),
            floor($"l_quantity") + lit(0.75)).otherwise($"l_quantity"))
          .localCheckpoint()
        src = stage()
        val mv = new MaterializedView(spark, src, path, nBuckets = nB)
        mv.refresh(p.ids)
        val served = ManifestSwap.resolveRaw(spark, path).get._2
          .collect { case (k, v) if k.startsWith("bucket=") => v.split("/")(0) }.toSet
        val same = rows(mv.read()) == rows(joinView(src))
        assert(same, s"view diverged from the join after page $p")
        assert(served.size <= 2, s"${served.size} generations served past the threshold")
        same
      }
    }
    val res = try CheckTest.check(CheckTest.Parameters.default.withMinSuccessfulTests(2), prop)
      finally spark.conf.unset(thresholdKey)
    assert(res.passed, res.status.toString)
  }
}
