package graft.sinks

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** S4-S6 — the versioned document sink.
  *
  * Reference semantics (invoice-api/server.js:33-42,62-80,368-421): one
  * document per (invoice, change version), named
  * `${invoiceNumber}_v${version}_${yyyyMMdd_HHmmss}.bson`; failed documents
  * segregated to an error dir; a listing endpoint (newest first, with
  * size); and per-document read-back.
  *
  * Spark-first shape: each delivered page is one immutable
  * [[graft.streaming.ManifestSwap]] generation of JSON-lines records
  * partitioned by `version_bucket = change_version / 1000` (the
  * reference's default poll page size, server.js:89) — append-only,
  * written in parallel, idempotent under redelivery (re-appended
  * records are deduplicated by `doc_name` on read). Read the sink
  * through [[listSink]], [[readBack]], [[readVersion]] or
  * [[deduplicated]]: they resolve one committed snapshot, where a
  * plain directory listing would also see uncommitted and superseded
  * generations. The reference's filename becomes a `doc_name` column — at
  * 100 TB one-file-per-document is a small-files catastrophe, and so is
  * one-DIRECTORY-per-version (a busy feed mints millions of versions);
  * bucketing bounds the directory count at versions/1000 while keeping
  * partition pruning for version-range reads (every read-by-version
  * touches exactly one bucket dir).
  */
object DocumentSink {

  /** Versions per partition directory (the reference's server-side poll
    * page default, server.js:89). */
  val VersionsPerBucket = 1000L

  /** Stamp the document name (filename scheme, server.js:64-66). A
    * tombstone (see graft.cdc.TombstoneCdc) has no invoice_number — its
    * payload is gone by definition — so its name is keyed by the id:
    * `DEL-<invoice_id>_v<version>_<stamp>`. */
  def withDocName(df: DataFrame): DataFrame = {
    val base =
      if (df.columns.contains("is_tombstone"))
        when(col("is_tombstone") === 1,
          concat(lit("DEL-"), col("invoice_id")))
          .otherwise(col("invoice_number"))
      else col("invoice_number")
    df.withColumn("doc_name",
      concat(base, lit("_v"), col("change_version"),
        lit("_"), date_format(current_timestamp(), "yyyyMMdd_HHmmss")))
  }

  /** Write one page of documents, segregating invalid records to the
    * error dir (server.js:34,40-42 error path). `valid` defaults to the
    * reference's implicit contract: a document must have an invoice
    * number and a version.
    *
    * One pass over the page: the valid-row write counts the invalid rows
    * it filters out through an [[org.apache.spark.sql.Observation]], and
    * only a positive count re-derives them for the error dir — a clean
    * page (the normal case) runs no second job and creates no error dir. */
  def writeVersioned(df: DataFrame, dir: String, errorDir: String): Unit = {
    val stamped = withDocName(df)
    // a tombstone is a VALID document despite its null payload — it is
    // the delete notification itself (dropping it to the error dir
    // would re-create the reference's ghost-state bug downstream)
    // `<=>` (null-safe): a null is_tombstone must evaluate the OR to
    // false, not SQL NULL — with `===`, a malformed row (null number
    // AND null flag) fails BOTH filter(ok) and filter(!ok) and is
    // silently dropped instead of landing in the error dir
    val ok =
      if (df.columns.contains("is_tombstone"))
        (col("invoice_number").isNotNull || (col("is_tombstone") <=> 1)) &&
          col("change_version").isNotNull
      else
        col("invoice_number").isNotNull && col("change_version").isNotNull
    val invalidRows = Observation()
    val valid = stamped
      .observe(invalidRows, count(when(!ok, lit(1))).as("invalid"))
      .filter(ok)
    // co-locate each bucket's documents in one task before the
    // partitioned write: one file per bucket dir instead of one per
    // (task × bucket) — the small-files guard that matters at scale
    // integral `div`, not `/`: Spark's `/` computes in double, which can
    // cross a bucket boundary for versions beyond 2^53 and diverge from
    // readVersion's exact Long division
    val spark = df.sparkSession
    val bucketed = valid.withColumn("version_bucket",
        expr(s"change_version div $VersionsPerBucket"))
      .repartition(col("version_bucket"))
    // each delivered page is one immutable generation listed by the
    // sink's keyed manifest. The key is fresh per call (delivery is
    // at-least-once BY DESIGN here; exactly-once lives in
    // [[deduplicated]]'s read-side collapse). Inside the generation the
    // page is partitioned by a `vb_part` twin while `version_bucket`
    // stays a DATA column, so [[readVersion]] prunes to one leaf dir
    // per generation and reads need no partition discovery across
    // generation roots.
    graft.streaming.ManifestSwap.appendKeyed(spark, dir, "sink",
      "page-" + java.util.UUID.randomUUID().toString) { gen =>
      writeBuckets(bucketed, gen)
    }
    if (invalidRows.get("invalid").asInstanceOf[Long] > 0L)
      stamped.filter(!ok).write.mode("append").json(errorDir)
  }

  /** One generation's json layout: a `vb_part=` dir per version bucket,
    * `version_bucket` kept as a data column. */
  private def writeBuckets(docs: DataFrame, gen: String): Unit =
    docs.withColumn("vb_part", col("version_bucket"))
      .write.mode("append").partitionBy("vb_part").json(gen)

  /** The sink's json leaf directories: every `vb_part=` partition dir
    * across the committed generations, optionally pruned to one bucket
    * (the [[readVersion]] path — one existence-filtered listing per
    * generation, never a sink walk). */
  private def leafDirs(spark: SparkSession, gens: Seq[String],
                       onlyBucket: Option[Long]): Seq[String] = {
    val fs = new org.apache.hadoop.fs.Path(gens.headOption.getOrElse("/"))
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    gens.flatMap { g =>
      val entries =
        try fs.listStatus(new org.apache.hadoop.fs.Path(g)).toSeq
        catch { case _: java.io.FileNotFoundException => Seq.empty }
      entries.filter(st => st.isDirectory &&
          st.getPath.getName.startsWith("vb_part=") &&
          onlyBucket.forall(b => st.getPath.getName == s"vb_part=$b"))
        .map(_.getPath.toString)
    }
  }

  /** The documents in `leafs`, or an empty frame of `schema`; without
    * a schema there is nothing to shape an empty result with, so an
    * empty leaf set throws `empty`'s message. */
  private def readLeafs(spark: SparkSession, leafs: Seq[String],
                        schema: Option[org.apache.spark.sql.types.StructType],
                        empty: => String): DataFrame =
    if (leafs.isEmpty) schema match {
      case Some(s) => spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
        .drop("version_bucket")
      case None => throw new IllegalArgumentException(empty)
    } else schema.fold(spark.read)(s => spark.read.schema(s))
      .json(leafs: _*).drop("version_bucket")

  /** S5 — sink listing, newest first with size (server.js:368-398).
    * binaryFile gives (path, modificationTime, length) without reading
    * content — a distributed `ls` over the committed generations.
    *
    * The sink directory is a [[graft.streaming.ManifestSwap]] root:
    * its documents live in generation dirs under `_gens/`, and
    * superseded or uncommitted generations sit beside the live ones
    * until gc. A consumer that lists a plain directory (the reference
    * consumer's shape) must therefore go through this listing or
    * [[readBack]]/[[readVersion]]/[[deduplicated]] — the supported
    * readers, which resolve one committed snapshot per call. */
  def listSink(spark: SparkSession, dir: String): DataFrame = {
    val paths = graft.streaming.ManifestSwap.readDataPaths(spark, dir)
    // a sink before its first commit has nothing to list — load() with
    // zero paths throws "path not specified" (round-14 ADVICE)
    if (paths.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("path",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("length",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("modificationTime",
            org.apache.spark.sql.types.TimestampType))))
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.json")
      .option("recursiveFileLookup", "true").load(paths: _*)
      .select(col("path"), col("length"), col("modificationTime"))
      .orderBy(col("modificationTime").desc, col("path"))
  }

  /** S6 — document read-back (server.js:401-421). Pass `schema` when the
    * page shape is known — JSON schema inference costs a full extra pass
    * over every sink file. `version_bucket` is a DATA column inside the
    * generations (the vb_part twin held the partitioning), so the
    * multi-dir read needs no partition discovery. */
  def readBack(spark: SparkSession, dir: String,
               schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame =
    readLeafs(spark,
      leafDirs(spark, graft.streaming.ManifestSwap.readDataPaths(spark, dir),
        None),
      schema,
      s"graft sink: $dir has no delivered documents; pass a schema " +
        "to get an empty result instead")

  /** Read the documents of one change version. The bucket directory is
    * derivable from the version, so ONLY that bucket's leaf dir in each
    * generation is listed, read — and, when no schema is passed,
    * schema-inferred — regardless of sink size (pointing inference at
    * the whole sink would cost a full pass even though the scan itself
    * prunes). A version whose bucket was never written returns empty
    * when a schema is provided (the existence-probe contract); without
    * a schema there is nothing to shape an empty result with, so it
    * throws a named error. */
  def readVersion(spark: SparkSession, dir: String, version: Long,
                  schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame =
    readLeafs(spark,
      leafDirs(spark, graft.streaming.ManifestSwap.readDataPaths(spark, dir),
        Some(version / VersionsPerBucket)),
      schema,
      s"graft sink: version $version was never delivered under " +
        s"$dir; pass a schema to get an empty result instead")
      .filter(col("change_version") === version)

  /** Exactly-once on redelivery: the same (invoice, version) appended
    * twice collapses to one document — last-writer-wins on the stamp.
    * THE single survivor rule: [[compact]] physically materializes this
    * exact DataFrame, so the two can never drift. */
  def deduplicated(spark: SparkSession, dir: String,
                   schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame =
    survivors(readBack(spark, dir, schema))

  private def survivors(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("invoice_id"), col("change_version"))
      .orderBy(col("doc_name").desc)
    docs.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
  }

  /** Maintenance compaction: the append-only sink accumulates one
    * generation per delivered page plus redelivered duplicates; a month
    * of polls degrades every read-back. This job folds every committed
    * generation into ONE holding the [[deduplicated]] survivors —
    * last-writer-wins per (invoice, version) — one file per version
    * bucket, committed as the new base in one atomic pointer write
    * ([[graft.streaming.ManifestSwap.installFold]]): a reader sees the
    * whole sink before or after, never half. Read-back before and after
    * is IDENTICAL by construction (the survivors keep their doc_name
    * stamps). The absorbed page keys just drop: sink pages carry no
    * content-keyed idempotence contract (read-side dedup is the
    * exactly-once layer). The survivors are derived from the SAME
    * resolution as the absorbed keys (foldSnapshot), so a page landing
    * mid-compaction keeps its own generation, neither folded nor
    * hidden. The commit reaps the folded generations once the gc grace
    * has passed. Run it like the
    * reference runs its retention cleanup: as a scheduled maintenance
    * window. */
  def compact(spark: SparkSession, dir: String,
              schema: Option[org.apache.spark.sql.types.StructType] = None): Unit = {
    val (gens, absorbed) =
      graft.streaming.ManifestSwap.foldSnapshot(spark, dir)
    val leafs = leafDirs(spark, gens, None)
    if (leafs.isEmpty) return
    val docs = readLeafs(spark, leafs, schema, "")
    graft.streaming.ManifestSwap.installFold(spark, dir, "compact",
      absorbed, keepLedger = _ => false) { gen =>
      writeBuckets(survivors(docs)
        .withColumn("version_bucket",
          expr(s"change_version div $VersionsPerBucket"))
        .repartition(col("version_bucket")), gen)
    }
  }
}
