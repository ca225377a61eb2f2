package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Test => CheckTest}
import org.scalacheck.Prop.forAllNoShrink

import graft.cdc.{AggView, TombstoneCdc}
import graft.streaming.StreamingAggView

/** The streamed count/sum and min/max folds land on the direct views
  * after random batch sequences mixing DIRTY batches (a delete of a
  * group's current minimum or maximum holder) with batches that touch no
  * extremum, and the min/max fold rescans on exactly the dirty ones. */
class StreamingFoldPropertySpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: DataFrame): Set[Row] = df.collect().toSet

  test("folds equal the direct views; the rescan runs on exactly the dirty batches") {
    // every id's contribution (group, cents), from the base table
    val contrib: Map[Long, (String, Long)] = Tables.orders(spark, sf)
      .select($"o_orderkey", $"o_orderstatus", round($"o_totalprice" * 100).cast("long"))
      .as[(Long, String, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val feed = TombstoneCdc.changedInvoicesOps(spark, sf, 0L, Long.MaxValue)
      .as[(Long, Long, String)].collect().toSeq
    val top = feed.map(_._2).max
    val direct = rows(AggView.directView(spark, sf, Long.MaxValue))
    val directMinMax = rows(AggView.directMinMaxView(spark, sf, Long.MaxValue))
    val prop = forAllNoShrink(Gen.oneOf(true, false).map(Seq(true, false, _)),
        Gen.choose(0, 1000)) { (kinds, seed) =>
      val rnd = new scala.util.Random(seed)
      val root = s"/tmp/graft-aggview-fold-prop-${System.nanoTime()}"
      // live contributions after the batches so far, as the fold sees them
      var live = feed.collect { case (id, _, op) if op != "D" && contrib.contains(id) =>
        id -> contrib(id) }.toMap
      var version = top
      def fold(rows: Seq[(Long, Long, String)], id: Long): Unit = {
        val batch = rows.toDF("invoice_id", "change_version", "change_operation")
        StreamingAggView.applyBatch(spark, sf, root, batch, id)
        StreamingAggView.applyMinMaxBatch(spark, sf, root, batch, id)
      }
      fold(feed, 0L)
      val verdicts = kinds.zipWithIndex.map { case (dirty, i) =>
        val byGroup = live.toSeq.groupBy(_._2._1)
        val (ids, op) =
          if (dirty) {
            // delete one group's extremum holder
            val (_, members) = byGroup.toSeq.sortBy(_._1)(Ordering[String])(
              rnd.nextInt(byGroup.size))
            val holder = if (rnd.nextBoolean()) members.minBy(_._2._2) else members.maxBy(_._2._2)
            (Seq(holder._1), "D")
          } else {
            // update or delete ids strictly inside their group's range
            val inner = byGroup.values.flatMap { ms =>
              val (lo, hi) = (ms.map(_._2._2).min, ms.map(_._2._2).max)
              ms.filter(m => m._2._2 > lo && m._2._2 < hi).map(_._1)
            }.toSeq.sorted
            (rnd.shuffle(inner).take(5), if (rnd.nextBoolean()) "U" else "D")
          }
        version += 2
        val before = StreamingAggView.minMaxRescans.get
        fold(ids.map(id => (id, version, op)), i + 1L)
        if (op == "D") live --= ids
        (dirty, StreamingAggView.minMaxRescans.get - before)
      }
      assert(verdicts.forall { case (dirty, n) => n == (if (dirty) 1L else 0L) },
        s"(dirty, rescans) per batch: $verdicts")
      // restore every id the random batches deleted: the live state is
      // the whole feed's again, so the direct views are the oracle
      val restored = feed.filter { case (id, _, op) =>
        op != "D" && contrib.contains(id) && !live.contains(id) }
        .map { case (id, _, op) => (id, version + 2, op) }
      fold(restored, kinds.size + 1L)
      assert(rows(StreamingAggView.currentView(spark, root)) == direct, "count/sum fold diverged")
      assert(rows(StreamingAggView.currentMinMaxView(spark, root)) == directMinMax,
        "min/max fold diverged")
      true
    }
    val res = CheckTest.check(CheckTest.Parameters.default.withMinSuccessfulTests(2), prop)
    assert(res.passed, res.status.toString)
  }
}
