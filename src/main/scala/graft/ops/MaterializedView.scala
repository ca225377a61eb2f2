package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.cdc.InvoiceCdc
import graft.streaming.ManifestSwap

/** Incrementally-maintained materialization of the denormalized BI view
  * (vw_invoice_header_line) — the Superset serving layer kept fresh from
  * the changefeed instead of rebuilt.
  *
  * Layout: a [[ManifestSwap]] root whose manifest maps each bucket of
  * `pmod(invoice_id, nBuckets)` to the generation holding its rows
  * (`bucket=N -> <gen>/n=<k>`, `k` the number of buckets that generation
  * was written with). A change page touches a bounded set of invoices →
  * a bounded set of buckets; `refresh` recomputes ONLY those buckets from
  * the current-state index ([[InvoiceCdc.headerRows]], each invoice's
  * sorted lines inlined), writes them as ONE generation of at most the
  * index's partition count in files, and CAS-commits the bucket map.
  * The present buckets come from an [[Observation]] on that write. At
  * 100 TB a page refresh rewrites O(page) buckets while the others keep
  * serving their old generations.
  *
  * The whole page cuts over in ONE atomic pointer commit: a reader can
  * never observe a half-refreshed page, a crash leaves only an
  * invisible orphan generation (no heal step), and the protocol is
  * sound on object stores.
  *
  * A read scans the distinct generations the manifest references with
  * the declared [[MaterializedView.Schema]], filtering a generation by
  * bucket only when a later refresh superseded some of its buckets. A
  * refresh keeps that count within Spark's parallel-listing threshold —
  * past it, the oldest generation's buckets join the refresh — so a
  * read lists its files on the driver, never in a job.
  *
  * `protocol` names the publish protocol and accepts only "manifest",
  * the one protocol there is; it remains a parameter because callers
  * written when a rename protocol also existed pass it by name. A longer
  * gc grace is recorded like any table's ([[ManifestSwap.recordGrace]]). */
class MaterializedView(spark: SparkSession, dir: String, path: String,
                       nBuckets: Int = 64, protocol: String = "manifest") {
  import MaterializedView._
  require(protocol == "manifest",
    s"unknown mview protocol '$protocol' (only \"manifest\" exists)")

  private def bucketOf(id: Column): Column = pmod(id, lit(nBuckets.toLong)).cast("int")

  /** The view rows of `buckets` (every bucket when None): each id with a
    * header in the current-state index, one row per line. */
  private def flatView(buckets: Option[Seq[Int]]): DataFrame = {
    val state = InvoiceCdc.headerRows(spark, dir)
    val cols = Seq(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
      col("o_orderstatus"), col("line_no"), col("part_key"), round(col("l_quantity")),
      col("price_cents"), bucketOf(col("o_orderkey")))
    buckets.fold(state)(bs => state.filter(bucketOf(col("invoice_id")).isin(bs: _*)))
      .select(col("*"), inline(col("lines")))
      .select(Schema.fields.toSeq.zip(cols).map { case (f, c) => c.cast(f.dataType).as(f.name) }: _*)
  }

  /** The generations manifest `m` serves: each one's served buckets and
    * the number of buckets it was written with. */
  private def generations(m: Map[String, String]): Map[String, (Seq[Int], Int)] =
    m.toSeq.collect { case (k, v) if k.startsWith("bucket=") =>
      val Array(gen, n) = v.split("/")
      (gen, k.stripPrefix("bucket=").toInt, n.stripPrefix("n=").toInt)
    }.groupBy(_._1).map { case (g, es) => g -> (es.map(_._2).sorted, es.head._3) }

  /** `buckets` plus, when the generations a read would resolve after the
    * refresh exceed Spark's listing threshold, the buckets of the oldest
    * generations over it. */
  private def withOldest(m: Map[String, String], buckets: Seq[Int]): Seq[Int] = {
    val threshold = spark.conf
      .get("spark.sql.sources.parallelPartitionDiscovery.threshold", "32").toInt
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val kept = generations(m).map { case (g, (bs, _)) => g -> bs.filterNot(buckets.contains) }
      .filter(_._2.nonEmpty)
    val excess = kept.size + 1 - threshold
    if (excess <= 0) buckets
    else buckets ++ kept.keys.toSeq.sortBy(g => fs.getFileStatus(new Path(
      ManifestSwap.entryPath(path, g), ManifestSwap.GenStartMarker)).getModificationTime)
      .take(excess).flatMap(kept)
  }

  /** Write the rows of `buckets` (every bucket when None) as ONE fresh
    * generation, then CAS-merge the bucket map: present buckets point at
    * it, recomputed-empty ones leave the map (atomic with the installs,
    * so an emptied bucket never serves its dead rows), the rest keep
    * serving their old generations. The commit reaps superseded
    * generations under the table's recorded grace — a reader mid-scan
    * on the old snapshot never loses its files. */
  private def publish(buckets: Option[Seq[Int]]): Unit = {
    val touched = buckets.map(withOldest(
      ManifestSwap.resolveRaw(spark, path).map(_._2).getOrElse(Map.empty), _))
    val written = Observation()
    ManifestSwap.publish(spark, path, "mview") { genDir =>
      flatView(touched).observe(written, collect_set(col("bucket")).as("buckets"))
        .write.mode(SaveMode.Append).parquet(genDir) // keeps the generation's start marker
    } { (gen, m) =>
      val present = written.get("buckets").asInstanceOf[scala.collection.Seq[Int]].toSet
      val drops = touched.getOrElse(0 until nBuckets).filterNot(present)
      val adds = present.map(b => s"bucket=$b" -> s"$gen/n=${present.size}")
      m -- drops.map(b => s"bucket=$b") ++ adds
    }
  }

  /** Full build — done once; later refreshes are incremental. Published
    * the same way a refresh is (one generation + one pointer commit). */
  def build(): Unit = publish(None)

  /** Incremental refresh from a change page: recompute and publish only
    * the buckets containing changed invoices, in one commit. A bucket
    * whose recompute came back empty (its last invoice was deleted)
    * leaves the manifest in the same commit. */
  def refresh(changedInvoiceIds: Seq[Long]): Unit =
    if (changedInvoiceIds.nonEmpty)
      publish(Some(changedInvoiceIds
        .map(id => (((id % nBuckets) + nBuckets) % nBuckets).toInt).distinct))

  /** Serving read: resolve ONE committed snapshot and read exactly its
    * generations — an atomic view of the last whole refresh page. */
  def read(): DataFrame = {
    val gens = generations(ManifestSwap.resolveRaw(spark, path).map(_._2).getOrElse(Map.empty))
    val (whole, partial) = gens.partition { case (_, (bs, n)) => bs.size == n }
    def scan(gs: Iterable[String]) =
      spark.read.schema(Schema).parquet(gs.toSeq.sorted.map(ManifestSwap.entryPath(path, _)): _*)
    val scans = (if (whole.isEmpty) Nil else Seq(scan(whole.keys))) ++
      partial.toSeq.map { case (g, (bs, _)) => scan(Seq(g)).filter(col("bucket").isin(bs: _*)) }
    scans.reduceOption(_ unionByName _).getOrElse(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Schema))
  }
}

object MaterializedView {
  /** The view's declared columns: every generation is written with them
    * and read with them, so a read infers no schema. */
  val Schema: StructType = StructType(Seq(
    StructField("invoice_id", LongType), StructField("customer_key", LongType),
    StructField("invoice_date", TimestampNTZType), StructField("status", StringType),
    StructField("line_no", IntegerType), StructField("part_key", LongType),
    StructField("qty", LongType), StructField("price_cents", LongType),
    StructField("bucket", IntegerType)))
}
