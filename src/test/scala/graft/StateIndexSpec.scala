package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import org.apache.spark.storage.StorageLevel
import org.scalacheck.{Gen, Test => CheckTest}
import org.scalacheck.Prop.forAllNoShrink

import graft.cdc.{ChangeFeed, ConsumerStateStore, InvoiceCdc, TombstoneCdc}
import graft.streaming.CdcPipeline

/** The per-snapshot current-state index behind every delivered page: the
  * ChangeFeed poll (`rehydratePage`), the TombstoneFeed poll
  * (`rehydratePageDf`) and the streaming micro-batch
  * (`assembleDocuments`) give exactly the documents of the join-based
  * rehydration they replaced, a changed state is seen by the next lookup,
  * an unchanged one is built once, and a rebuild unpersists the old
  * entry. */
class StateIndexSpec extends SparkSpec {
  import spark.implicits._

  /** Ids with lines but no header (the sf tables have none). */
  private val linesOnlyIds = (2000000L until 2000008L)
  /** Ids with neither a header nor lines. */
  private val absentIds = (3000000L until 3000008L)

  /** Copy of the sf `orders` and `lineitem` in a fresh dir, one parquet
    * file each, plus a lineitem file for the lines-only ids and an
    * events feed (event_id 1..600 over `users`) for CdcPipeline. */
  private def fixture(users: Seq[Long] = Seq.empty): String = {
    val dir = tmpDir("state-ix")
    for (t <- Seq("orders", "lineitem")) {
      Files.createDirectories(Paths.get(s"$dir/$t.parquet"))
      Files.copy(Paths.get(s"$sf/$t.parquet"), Paths.get(s"$dir/$t.parquet/part-00000-base.parquet"))
    }
    appendRows(dir, "lineitem", "l_orderkey", linesOnlyIds.flatMap(k => Seq(k -> 1, k -> 2)),
      Some("l_linenumber"))
    val ids = if (users.nonEmpty) users else Seq(0L)
    (1L to 600L).map(v => (v, ids((v % ids.size).toInt)))
      .toDF("event_id", "user_id").coalesce(1)
      .write.parquet(s"$dir/events.parquet")
    dir
  }

  /** Land one file in `table` in `dir`: a copy of its first row per
    * (key, n), with the key column set to `key` and, if given, `numCol`
    * set to `n`. The file is written elsewhere and copied in, the way an
    * outside producer lands it: a Spark write to the table's own path
    * would recache every cached plan over that path by itself, and so
    * hide an index that never rebuilds. */
  private def appendRows(dir: String, table: String, keyCol: String,
                         rows: Seq[(Long, Int)], numCol: Option[String] = None): Unit = {
    val df = Tables.read(spark, dir, table)
    val template = df.limit(1).collect().head.toSeq
    def setKey(name: String, v: Long): Any =
      if (df.schema(name).dataType == IntegerType) v.toInt else v
    val out = rows.map { case (k, n) =>
      val v = template.toArray
      v(df.schema.fieldIndex(keyCol)) = setKey(keyCol, k)
      numCol.foreach(c => v(df.schema.fieldIndex(c)) = setKey(c, n.toLong))
      Row.fromSeq(v.toSeq)
    }
    val staged = tmpDir("state-ix-staged") + "/rows"
    spark.createDataFrame(spark.sparkContext.parallelize(out, 1), df.schema)
      .write.parquet(staged)
    val part = new java.io.File(staged).listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.copy(part.toPath,
      Paths.get(s"$dir/$table.parquet/part-${java.util.UUID.randomUUID()}.parquet"))
  }

  // ---- the join-based rehydration the index replaced (test-local copy) --

  private def refHeaderJoin(dir: String, page: DataFrame, how: String): DataFrame = {
    val hdr = Tables.orders(spark, dir)
    val lines = InvoiceCdc.nestedLines(Tables.lineitem(spark, dir)
      .join(broadcast(page.select($"invoice_id".as("l_orderkey"))), Seq("l_orderkey"), "left_semi"))
    broadcast(page)
      .join(hdr, page("invoice_id") === hdr("o_orderkey"), how)
      .join(broadcast(lines), Seq("invoice_id"), "left")
  }

  private def refRehydratePage(dir: String, keys: Seq[(Long, Long)]): DataFrame =
    refHeaderJoin(dir, keys.toDF("invoice_id", "change_version"), "inner").select(
      $"invoice_id",
      concat(lit("INV-"), lpad($"o_orderkey".cast("string"), 9, "0")).as("invoice_number"),
      concat(lit("CUST-"), lpad($"o_custkey".cast("string"), 6, "0")).as("customer_code"),
      $"o_orderdate".as("invoice_date"),
      round($"o_totalprice", 2).as("total_amount"),
      $"change_version",
      coalesce($"lines", lit("[]")).as("lines"))
      .orderBy($"change_version", $"invoice_id")

  private def refTombstonePage(dir: String, page: DataFrame): DataFrame = {
    val del = $"change_operation" === "D"
    refHeaderJoin(dir, page, "left").select(
      $"invoice_id", $"change_version", $"change_operation",
      when(del, lit(null)).otherwise(
        concat(lit("INV-"), lpad($"o_orderkey".cast("string"), 9, "0"))).as("invoice_number"),
      when(del, lit(null)).otherwise(
        concat(lit("CUST-"), lpad($"o_custkey".cast("string"), 6, "0"))).as("customer_code"),
      when(del, lit(null)).otherwise($"o_orderdate").as("invoice_date"),
      when(del, lit(null)).otherwise(round($"o_totalprice", 2)).as("total_amount"),
      when(del, lit(null)).otherwise(coalesce($"lines", lit("[]"))).as("lines"),
      del.cast("long").as("is_tombstone"))
      .orderBy($"change_version", $"invoice_id")
  }

  private def refAssemble(dir: String, batch: DataFrame): DataFrame = {
    val changed = batch.groupBy($"entity_id".as("invoice_id"))
      .agg(max($"change_version").as("change_version"))
    refHeaderJoin(dir, changed, "inner").select(
      $"invoice_id",
      concat(lit("INV-"), lpad($"o_orderkey".cast("string"), 9, "0")).as("invoice_number"),
      $"change_version",
      coalesce($"lines", lit("[]")).as("lines"))
  }

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq
  private def sortedRows(df: DataFrame): Seq[Row] = df.orderBy($"invoice_id").collect().toSeq

  private def keysOf(df: DataFrame): Seq[(Long, Long)] =
    df.select($"invoice_id".cast("long"), $"change_version".cast("long"))
      .as[(Long, Long)].collect().toSeq

  test("property: rehydratePage, rehydratePageDf and assembleDocuments equal " +
      "the join-based rehydration over pages mixing all four kinds of id (ScalaCheck)") {
    val dir = fixture()
    val lineKeys = Tables.lineitem(spark, dir).select($"l_orderkey").distinct()
      .as[Long].collect().toSet
    val headerKeys = Tables.orders(spark, dir).select($"o_orderkey").as[Long].collect().toSet
    val both = (headerKeys intersect lineKeys).toIndexedSeq.sorted
    val headerOnly = (headerKeys -- lineKeys).toIndexedSeq.sorted
    assert(headerOnly.nonEmpty && both.nonEmpty)
    assert(linesOnlyIds.forall(k => lineKeys(k) && !headerKeys(k)))
    assert(absentIds.forall(k => !lineKeys(k) && !headerKeys(k)))

    val genIds = for {
      a <- Gen.chooseNum(0, 6).flatMap(Gen.pick(_, both))
      b <- Gen.chooseNum(0, 4).flatMap(Gen.pick(_, headerOnly))
      c <- Gen.chooseNum(0, 4).flatMap(Gen.pick(_, linesOnlyIds))
      d <- Gen.chooseNum(0, 3).flatMap(Gen.pick(_, absentIds))
    } yield (a ++ b ++ c ++ d).toSeq
    val genPage = genIds.flatMap(ids =>
      Gen.listOfN(ids.size, Gen.chooseNum(1L, 5000L)).map(ids.zip(_)))
    val genOp = Gen.oneOf("I", "U", "D")

    // no shrinking: every shrink step re-runs six Spark queries
    val prop = forAllNoShrink(genPage, Gen.listOfN(20, genOp), Gen.listOfN(20, Gen.chooseNum(1, 3))) {
      (keys, ops, fanout) =>
        val opsPage = keys.zip(ops ++ ops).map { case ((id, v), op) => (id, v, op) }
          .toDF("invoice_id", "change_version", "change_operation")
        // a micro-batch: several change records per entity, newest wins
        val batch = keys.zip(fanout ++ fanout ++ fanout).flatMap { case ((id, v), n) =>
          (0 until n).map(i => (id, v - i))
        }.toDF("entity_id", "change_version")
        rows(InvoiceCdc.rehydratePage(spark, dir, keys)) == rows(refRehydratePage(dir, keys)) &&
          rows(TombstoneCdc.rehydratePageDf(spark, dir, opsPage)) ==
            rows(refTombstonePage(dir, opsPage)) &&
          sortedRows(CdcPipeline.assembleDocuments(spark, dir, batch)) ==
            sortedRows(refAssemble(dir, batch))
    }
    val builds0 = InvoiceCdc.stateBuilds.get
    val res = CheckTest.check(
      CheckTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
    assert(InvoiceCdc.stateBuilds.get - builds0 == 1, "an unchanged state is built once")
    InvoiceCdc.releaseState(spark, dir)
  }

  test("a state change is seen by the next lookup, on a ChangeFeed poll and " +
      "on a CdcPipeline micro-batch") {
    val newHeaders = (5000L until 5006L)
    val dir = fixture(users = (0L until 40L) ++ newHeaders)
    val store = new ConsumerStateStore(spark, tmpDir("state-ix-store"))
    val feed = new ChangeFeed(spark, dir, store)
    feed.pollAndDeliver("c", 100)(_ => ())
    val cursor = store.get("c")

    // poll: a new line on invoices past the cursor leaves their feed
    // version as it is, so only a rebuilt state index carries it
    val pastCursor = InvoiceCdc.changedInvoices(spark, dir, 0L, Long.MaxValue)
      .filter(InvoiceCdc.resumeCursor(cursor.lastSyncVersion, cursor.lastProcessedId))
      .filter(pmod($"change_version", lit(2)) === 1)
      .orderBy($"change_version", $"invoice_id").limit(5)
      .as[(Long, Long)].collect().map(_._1).toSeq
    assert(pastCursor.size == 5)
    appendRows(dir, "lineitem", "l_orderkey", pastCursor.map(_ -> 99), Some("l_linenumber"))
    var got = Seq.empty[Row]
    var keys = Seq.empty[(Long, Long)]
    feed.pollAndDeliver("c", 100) { df => got = rows(df); keys = keysOf(df) }
    assert(got == rows(refRehydratePage(dir, keys)))
    val lineNos = got.map(r => r.getAs[Long]("invoice_id") -> r.getAs[String]("lines")).toMap
    pastCursor.foreach { k =>
      assert(lineNos(k).contains("\"line_no\":99"), s"invoice $k: the new line is missing")
    }
    feed.close()

    // micro-batch: headers for user ids that had none make them deliver
    appendRows(dir, "orders", "o_orderkey", newHeaders.map(_ -> 0))
    val sink = tmpDir("state-ix-sink")
    CdcPipeline.deliver(spark, dir, sink, tmpDir("state-ix-err"), tmpDir("state-ix-ckpt"),
      pageVersions = 200L).awaitTermination(180000)
    val delivered = keysOf(graft.sinks.DocumentSink.readBack(spark, sink)).map(_._1).toSet
    assert(newHeaders.forall(delivered), s"missing ${newHeaders.filterNot(delivered)}")
    InvoiceCdc.releaseState(spark, dir)
  }

  test("a drain's polls and a pipeline run's micro-batches on an unchanged " +
      "snapshot build the state index once") {
    val dir = fixture(users = 0L until 50L)
    val feed = new ChangeFeed(spark, dir, new ConsumerStateStore(spark, tmpDir("state-ix-store")))
    val b0 = InvoiceCdc.stateBuilds.get
    val pages = feed.drain("d", 300)(_.count())
    assert(pages.size > 3)
    assert(InvoiceCdc.stateBuilds.get - b0 == 1, "a drain builds the state index once")
    feed.close()

    InvoiceCdc.releaseState(spark, dir)
    val b1 = InvoiceCdc.stateBuilds.get
    var batches = 0
    CdcPipeline.deliver(spark, dir, tmpDir("state-ix-sink"), tmpDir("state-ix-err"),
      tmpDir("state-ix-ckpt"), pageVersions = 150L, onBatchDelivered = _ => batches += 1)
      .awaitTermination(180000)
    assert(batches >= 4)
    assert(InvoiceCdc.stateBuilds.get - b1 == 1, "a pipeline run builds the state index once")
    InvoiceCdc.releaseState(spark, dir)
  }

  test("a rebuild unpersists the old index, and releaseState unpersists the current one") {
    val dir = fixture()
    val first = InvoiceCdc.stateIndex(spark, dir)
    assert(first.storageLevel != StorageLevel.NONE)
    assert(InvoiceCdc.stateIndex(spark, dir) eq first, "an unchanged snapshot is a hit")
    appendRows(dir, "orders", "o_orderkey", Seq(7000000L -> 0))
    val second = InvoiceCdc.stateIndex(spark, dir)
    assert(second ne first)
    assert(first.storageLevel == StorageLevel.NONE, "the old index must be unpersisted")
    assert(second.storageLevel != StorageLevel.NONE)
    assert(second.filter($"invoice_id" === 7000000L).count() == 1)
    InvoiceCdc.releaseState(spark, dir)
    assert(second.storageLevel == StorageLevel.NONE)
  }
}
