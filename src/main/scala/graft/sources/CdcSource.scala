package graft.sources

import java.util
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A native DataSource-V2 **CDC changefeed source** (the BASELINE.json
  * north-star: "Structured Streaming with CDC source"; SURVEY.md §4
  * custom-code candidate 1).
  *
  * Models the reference's `CHANGETABLE(CHANGES t, @since)` contract
  * (storedprocedure.sql:17): a change table whose rows carry
  * `(entity_id, change_version)` with a monotonic version, consumed in
  * bounded version-range pages:
  *
  *  - **Offsets are change versions** — exactly the reference's
  *    `LastSyncVersion` cursor; a micro-batch covers `(start, end]`,
  *    the same half-open window `sp_GetInvoiceChanges` reads.
  *  - **Admission control = pagination (T3)**: `maxVersionsPerBatch`
  *    bounds a micro-batch the way the HTTP `limit` bounds a poll page;
  *    Trigger.AvailableNow drains in bounded pages like the consumer's
  *    `hasMore` loop.
  *  - **Footer-stats pruning**: input partitions are parquet files whose
  *    column min/max overlap the version window — files wholly outside
  *    the page are never opened (at 100 TB the change table is written
  *    in version order, so a page touches O(1) files).
  *
  * Usage:
  * {{{
  *   spark.readStream.format("graft-cdc")
  *     .option("path", dir)
  *     .option("versionColumn", "event_id")
  *     .option("entityColumn", "user_id")
  *     .option("maxVersionsPerBatch", "1000")
  *     .load()    // schema: entity_id long, change_version long
  * }}}
  */
class CdcSourceProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-cdc"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    CdcSourceProvider.schemaFor(CdcOptions(options.asScala.toMap))
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new CdcTable(CdcOptions(properties.asScala.toMap))
}

object CdcSourceProvider {
  val SCHEMA: StructType = StructType(Seq(
    StructField("entity_id", LongType),
    StructField("change_version", LongType)))

  /** With `operationColumn` set the contract gains the reference's
    * SYS_CHANGE_OPERATION: a third `change_operation` string column
    * (I/U/D in a real change table; any string passes through). */
  def schemaFor(opts: CdcOptions): StructType =
    if (opts.operationColumn.isDefined)
      SCHEMA.add(StructField("change_operation", StringType))
    else SCHEMA
}

case class CdcOptions(raw: Map[String, String]) {
  private val m = raw.map { case (k, v) =>
    k.toLowerCase(java.util.Locale.ROOT) -> v }
  def path: String = m.getOrElse("path",
    throw new IllegalArgumentException("graft-cdc requires option 'path'"))
  def versionColumn: String = m.getOrElse("versioncolumn", "change_version")
  def entityColumn: String = m.getOrElse("entitycolumn", "entity_id")
  /** Optional change-operation column (CHANGETABLE's
    * SYS_CHANGE_OPERATION): when set, the scan carries it through as a
    * third `change_operation` string column. */
  def operationColumn: Option[String] = m.get("operationcolumn")
  def maxVersionsPerBatch: Long =
    m.get("maxversionsperbatch").map(_.toLong).getOrElse(Long.MaxValue)
  /** What to do with a row whose entity key is null: `fail` (default —
    * loud data-quality stop: a null key has nothing to join back to),
    * `skip` (drop the row, keeps a poisoned table readable), or `keep`
    * (emit a null-entity row for the caller to handle). */
  def onNullEntity: String = {
    val v = m.getOrElse("onnullentity", "fail")
    require(Set("fail", "skip", "keep")(v),
      s"graft-cdc: onNullEntity must be fail|skip|keep, got '$v'")
    v
  }
}

class CdcTable(opts: CdcOptions) extends Table with SupportsRead {
  override def name(): String = s"graft-cdc(${opts.path})"
  override def schema(): StructType = CdcSourceProvider.schemaFor(opts)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new CdcScanBuilder(opts)
}

/** Pushes version-range predicates into the scan, where they turn into
  * footer-stats file pruning — `load().filter($"change_version" > X)`
  * skips whole files exactly like a micro-batch offset window does. The
  * batch flavor of the reference's `CHANGETABLE(CHANGES t, @since)`
  * contract: the version predicate IS the scan argument. Entity and
  * other predicates stay residual (file stats are kept for the version
  * column only — the change table is written in version order, so
  * that's the column with pruning power). */
class CdcScanBuilder(opts: CdcOptions)
  extends ScanBuilder
  with org.apache.spark.sql.connector.read.SupportsPushDownFilters {

  import org.apache.spark.sql.sources._

  private var lo = Long.MinValue // exclusive, matching the (lo, hi] window
  private var hi = Long.MaxValue // inclusive
  private var accepted = Array.empty[Filter]

  private def asLong(v: Any): Option[Long] = v match {
    case l: Long => Some(l)
    case i: Int => Some(i.toLong)
    case s: Short => Some(s.toLong)
    case b: Byte => Some(b.toLong)
    case _ => None
  }

  /** Narrow (lo, hi] for one supported version predicate; None = cannot
    * push (stays residual). */
  private def narrow(f: Filter): Boolean = f match {
    case GreaterThan("change_version", v) =>
      asLong(v).exists { l => lo = math.max(lo, l); true }
    case GreaterThanOrEqual("change_version", v) =>
      // l - 1 would wrap at Long.MinValue; leave such filters residual
      asLong(v).exists { l =>
        if (l == Long.MinValue) false else { lo = math.max(lo, l - 1); true }
      }
    case LessThanOrEqual("change_version", v) =>
      asLong(v).exists { l => hi = math.min(hi, l); true }
    case LessThan("change_version", v) =>
      asLong(v).exists { l =>
        if (l == Long.MinValue) false else { hi = math.min(hi, l - 1); true }
      }
    case EqualTo("change_version", v) =>
      asLong(v).exists { l =>
        if (l == Long.MinValue) false
        else { lo = math.max(lo, l - 1); hi = math.min(hi, l); true }
      }
    case And(a, b) => narrow(a) && narrow(b)
    case _ => false
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (push, residual) = filters.partition(narrow)
    accepted = push
    residual // the reader applies (lo, hi] exactly; pushed ones are done
  }

  override def pushedFilters(): Array[Filter] = accepted

  override def build(): Scan = new CdcScan(opts, lo, hi)
}

class CdcScan(opts: CdcOptions, lo: Long = Long.MinValue,
              hi: Long = Long.MaxValue) extends Scan {
  override def readSchema(): StructType = CdcSourceProvider.schemaFor(opts)
  override def toBatch: Batch = new CdcBatch(opts, lo, hi)
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new CdcMicroBatchStream(opts)
  override def description(): String =
    s"graft-cdc(${opts.path}) versions ($lo, $hi]"
}

/** Version-range offset: json is just the long. */
case class CdcOffset(version: Long) extends Offset {
  override def json(): String = version.toString
}

/** One catalog entry: a change-table file plus its footer-derived
  * version span, the two columns' parquet repetitions (the projection
  * must mirror them exactly — see CdcPartitionReader), and the listing
  * signature (length, modification time). */
case class CdcFileEntry(file: String, len: Long, modTime: Long,
                        minVersion: Long, maxVersion: Long,
                        versionRep: String, entityRep: String,
                        opRep: Option[String] = None)

/** Footer-derived facts about one file, read once at planning time. */
case class CdcFileMeta(minVersion: Long, maxVersion: Long,
                       versionRep: String, entityRep: String,
                       opRep: Option[String] = None)

/** File catalog + parquet-footer version statistics, shared by the batch
  * and micro-batch paths. */
object CdcFiles {
  def listFiles(opts: CdcOptions): Seq[(String, Long, Long)] = {
    val conf = new Configuration()
    val p = new Path(opts.path)
    val fs = FileSystem.get(p.toUri, conf)
    // A MANIFEST-published change table (round-14: the retention
    // rewrite's object-store layout) resolves structurally — one
    // committed snapshot's base + appended page generations + the
    // producer's not-yet-folded in-place files — so the catalog never
    // sees a half-published page or a mid-rewrite state. Plain
    // directories keep the in-place listing.
    if (!fs.exists(p))
      throw new java.io.FileNotFoundException(
        s"graft-cdc: no change table at $p")
    val roots: Seq[Path] =
      graft.streaming.ManifestSwap.dataPathsFs(fs, opts.path)
        .map(new Path(_))
    val all = roots.flatMap { root =>
      val st = fs.getFileStatus(root)
      if (st.isDirectory) fs.listStatus(root).toSeq else Seq(st)
    }
    all.filter(_.getPath.getName.endsWith(".parquet"))
      .map(s => (s.getPath.toString, s.getLen, s.getModificationTime))
      .sortBy(_._1)
  }

  def files(opts: CdcOptions): Seq[String] = listFiles(opts).map(_._1)

  /** Fail fast, naming the actual schema, when a change-table column is
    * missing or not a 64-bit integer — instead of an opaque
    * ClassCastException / parquet schema mismatch mid-read (the
    * version/entity contract is INT64, CdcSourceProvider.SCHEMA). */
  private def validateInt64(schema: org.apache.parquet.schema.MessageType,
                            colName: String, file: String): Unit = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    if (!schema.containsField(colName))
      throw new IllegalArgumentException(
        s"graft-cdc: column '$colName' not found in $file; available: " +
          schema.getFields.asScala.map(_.getName).mkString(", "))
    val t = schema.getFields.asScala.find(_.getName == colName).get
    if (!t.isPrimitive || t.asPrimitiveType().getPrimitiveTypeName != PrimitiveTypeName.INT64)
      throw new IllegalArgumentException(
        s"graft-cdc: column '$colName' in $file must be INT64 (long); found: $t")
  }

  /** Fail fast when the operation column is missing or not a string —
    * the I/U/D contract is textual. Parquet strings are BINARY + the
    * UTF8/String LOGICAL type annotation; a raw-bytes BINARY column is
    * rejected too (accepting it would decode arbitrary bytes as garbage
    * text via UTF8String.fromBytes). */
  private def validateString(schema: org.apache.parquet.schema.MessageType,
                             colName: String, file: String): Unit = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import org.apache.parquet.schema.LogicalTypeAnnotation
    if (!schema.containsField(colName))
      throw new IllegalArgumentException(
        s"graft-cdc: operation column '$colName' not found in $file; available: " +
          schema.getFields.asScala.map(_.getName).mkString(", "))
    val t = schema.getFields.asScala.find(_.getName == colName).get
    val isString = t.isPrimitive && {
      val p = t.asPrimitiveType()
      // ENUM is accepted too: parquet-avro writes enum-typed operation
      // columns as BINARY+ENUM, and Spark itself reads ENUM as string
      p.getPrimitiveTypeName == PrimitiveTypeName.BINARY &&
        (p.getLogicalTypeAnnotation
          .isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] ||
         p.getLogicalTypeAnnotation
          .isInstanceOf[LogicalTypeAnnotation.EnumLogicalTypeAnnotation])
    }
    if (!isString)
      throw new IllegalArgumentException(
        s"graft-cdc: operation column '$colName' in $file must be a string " +
          s"(parquet BINARY annotated UTF8/String or ENUM); found: $t")
  }

  /** Version min/max + column repetitions of one file, from the footer
    * only — no data pages read. Validates that both declared columns
    * exist with parquet type INT64 (and the optional operation column
    * as BINARY). The ONE footer read per file; the partition reader
    * reuses these facts instead of re-opening footers on executors. */
  def fileMeta(file: String, versionCol: String, entityCol: String,
               opCol: Option[String] = None): CdcFileMeta = {
    val conf = new Configuration()
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(file), conf))
    try {
      val schema = r.getFooter.getFileMetaData.getSchema
      validateInt64(schema, versionCol, file)
      validateInt64(schema, entityCol, file)
      opCol.foreach(validateString(schema, _, file))
      def rep(name: String): String =
        schema.getFields.asScala.find(_.getName == name).get
          .getRepetition.name.toLowerCase(java.util.Locale.ROOT)
      val blocks = r.getFooter.getBlocks.asScala.filter(_.getRowCount > 0)
      val ranges = blocks.map { b =>
        val s = b.getColumns.asScala
          .find(_.getPath.toDotString == versionCol)
          .map(_.getStatistics).orNull
        // a populated row group with no usable version statistics cannot
        // be range-pruned; treating it as empty would SILENTLY DROP its
        // rows from every scan and offset computation — fail loudly and
        // name the remedy instead
        if (s == null || !s.hasNonNullValue)
          throw new IllegalArgumentException(
            s"graft-cdc: $file has a row group with no footer statistics " +
              s"for '$versionCol'; the source prunes and pages by those " +
              "stats — rewrite the file with parquet statistics enabled")
        (s.genericGetMin.asInstanceOf[java.lang.Long].longValue(),
          s.genericGetMax.asInstanceOf[java.lang.Long].longValue())
      }
      // an all-empty file (no populated row groups) has no rows to lose:
      // the inverted sentinel range makes every scan skip it
      val (mn, mx) =
        if (ranges.isEmpty) (Long.MaxValue, Long.MinValue)
        else (ranges.map(_._1).min, ranges.map(_._2).max)
      CdcFileMeta(mn, mx, rep(versionCol), rep(entityCol),
        opCol.map(rep))
    } finally r.close()
  }

  /** (min, max) of the version column (compat wrapper over fileMeta). */
  def versionRange(file: String, versionCol: String, entityCol: String): (Long, Long) = {
    val m = fileMeta(file, versionCol, entityCol)
    (m.minVersion, m.maxVersion)
  }

  def catalog(opts: CdcOptions): Seq[CdcFileEntry] =
    listFiles(opts).map { case (f, len, mt) =>
      val m = fileMeta(f, opts.versionColumn, opts.entityColumn,
        opts.operationColumn)
      CdcFileEntry(f, len, mt, m.minVersion, m.maxVersion,
        m.versionRep, m.entityRep, m.opRep)
    }

  def tableRangeOf(entries: Seq[CdcFileEntry]): Option[(Long, Long)] = {
    val rs = entries.filter(e => e.minVersion <= e.maxVersion)
    if (rs.isEmpty) None
    else Some((rs.map(_.minVersion).min, rs.map(_.maxVersion).max))
  }

  def tableRange(opts: CdcOptions): Option[(Long, Long)] =
    tableRangeOf(catalog(opts))

  def partitionsOf(entries: Seq[CdcFileEntry], opts: CdcOptions,
                   lo: Long, hi: Long): Array[InputPartition] =
    entries.flatMap { e =>
      // keep files whose version span intersects (lo, hi]
      if (e.maxVersion <= lo || e.minVersion > hi) None
      else Some(CdcInputPartition(e.file, lo, hi,
        opts.versionColumn, opts.entityColumn,
        e.versionRep, e.entityRep, opts.onNullEntity,
        opts.operationColumn, e.opRep))
    }.toArray

  def partitionsFor(opts: CdcOptions, lo: Long, hi: Long): Array[InputPartition] =
    partitionsOf(catalog(opts), opts, lo, hi)
}

/** Incrementally-maintained footer catalog: per trigger the driver does
  * ONE directory listing; parquet footers are (re)opened only for files
  * that are new or whose (length, modTime) changed. A change table grows
  * by appending files, so steady-state driver work per trigger is
  * O(listing) + O(new files), not O(all footers) as a naive re-scan. */
class CdcCatalogCache(opts: CdcOptions) {
  private var cached = Map.empty[String, CdcFileEntry]

  def entries(): Seq[CdcFileEntry] = synchronized {
    val listing = CdcFiles.listFiles(opts)
    cached = listing.map { case (f, len, mt) =>
      cached.get(f) match {
        case Some(e) if e.len == len && e.modTime == mt => f -> e
        case _ =>
          val m = CdcFiles.fileMeta(f, opts.versionColumn, opts.entityColumn,
            opts.operationColumn)
          f -> CdcFileEntry(f, len, mt, m.minVersion, m.maxVersion,
            m.versionRep, m.entityRep, m.opRep)
      }
    }.toMap
    listing.map { case (f, _, _) => cached(f) }
  }
}

case class CdcInputPartition(file: String, lo: Long, hi: Long,
                             versionCol: String, entityCol: String,
                             versionRep: String, entityRep: String,
                             onNullEntity: String,
                             opCol: Option[String] = None,
                             opRep: Option[String] = None)
  extends InputPartition

class CdcBatch(opts: CdcOptions, lo: Long = Long.MinValue,
               hi: Long = Long.MaxValue) extends Batch {
  override def planInputPartitions(): Array[InputPartition] =
    CdcFiles.partitionsFor(opts, lo, hi)
  override def createReaderFactory(): PartitionReaderFactory =
    new CdcReaderFactory
}

class CdcMicroBatchStream(opts: CdcOptions)
  extends MicroBatchStream with SupportsAdmissionControl
  with SupportsTriggerAvailableNow {

  private var availableNowCap: Option[Long] = None

  // one footer catalog per stream instance: footers are (re)read only for
  // new/changed files, and within a trigger the LISTING is taken once too:
  // latestOffset (the admission-control entry point Spark calls first each
  // trigger) refreshes the snapshot; reportLatestOffset and
  // planInputPartitions reuse it — so the partitions planned are exactly
  // the catalog the offset decision saw, and driver work per trigger is
  // one listing + new-file footers (on object stores LIST is the dominant
  // per-trigger cost; the naive form paid it 3×).
  private val catalog = new CdcCatalogCache(opts)
  @volatile private var snapshot: Seq[CdcFileEntry] = Nil

  private def refreshSnapshot(): Seq[CdcFileEntry] = {
    snapshot = catalog.entries(); snapshot
  }

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = CdcFiles.tableRangeOf(refreshSnapshot()).map(_._2)

  override def initialOffset(): Offset =
    CdcOffset(CdcFiles.tableRangeOf(refreshSnapshot())
      .map(_._1 - 1).getOrElse(0L))

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is used (SupportsAdmissionControl)")

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[CdcOffset].version
    val cap = availableNowCap.orElse(
      CdcFiles.tableRangeOf(refreshSnapshot()).map(_._2)).getOrElse(s)
    // bounded version page — the reference's poll `limit` (T3)
    CdcOffset(math.min(cap, math.max(s,
      if (opts.maxVersionsPerBatch == Long.MaxValue) cap
      else s + opts.maxVersionsPerBatch)))
  }

  override def reportLatestOffset(): Offset = {
    // progress reporting can run before the first latestOffset of a
    // restarted stream populates the snapshot — refresh rather than
    // reporting a bogus 0 that monitoring would read as huge negative lag
    val entries = if (snapshot.nonEmpty) snapshot else refreshSnapshot()
    CdcOffset(availableNowCap.orElse(
      CdcFiles.tableRangeOf(entries).map(_._2)).getOrElse(0L))
  }

  override def deserializeOffset(json: String): Offset = CdcOffset(json.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    // reuse the trigger's snapshot (fall back to a fresh one on recovery
    // restarts where planInputPartitions runs before any latestOffset)
    val entries = if (snapshot.nonEmpty) snapshot else refreshSnapshot()
    CdcFiles.partitionsOf(entries, opts,
      start.asInstanceOf[CdcOffset].version, end.asInstanceOf[CdcOffset].version)
  }

  override def createReaderFactory(): PartitionReaderFactory = new CdcReaderFactory

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

class CdcReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new CdcPartitionReader(partition.asInstanceOf[CdcInputPartition])
}

/** Reads (entity, version) pairs from one parquet file via the
  * parquet-hadoop example API with a two-column projection, filtering to
  * the micro-batch's (lo, hi] version window. */
class CdcPartitionReader(p: CdcInputPartition)
  extends PartitionReader[InternalRow] {

  private val conf = new Configuration()
  // the projection must mirror each column's repetition in the FILE —
  // parquet's schema containment check rejects an `optional` projection
  // of a `required` column (non-nullable writers emit required int64).
  // Repetitions were captured from the footer at planning time and ship
  // in the partition, so no executor-side footer re-open.
  private val opField = (p.opCol, p.opRep) match {
    case (Some(c), Some(rep)) => s" $rep binary $c (UTF8);"
    case _ => ""
  }
  conf.set(org.apache.parquet.hadoop.api.ReadSupport.PARQUET_READ_SCHEMA,
    s"message projection { ${p.entityRep} int64 ${p.entityCol}; " +
      s"${p.versionRep} int64 ${p.versionCol};$opField }")
  private val reader = org.apache.parquet.hadoop.ParquetReader
    .builder(new GroupReadSupport(), new Path(p.file)).withConf(conf).build()

  private var row: InternalRow = _

  /** The optional operation value of the current record as Spark's
    * string type (null when the column is absent or the value null —
    * an operation is advisory metadata, not a key). */
  private def opValue(g: org.apache.parquet.example.data.Group): Any =
    p.opCol match {
      case Some(c) if g.getFieldRepetitionCount(c) > 0 =>
        org.apache.spark.unsafe.types.UTF8String.fromBytes(
          g.getBinary(c, 0).getBytes)
      case _ => null
    }

  private def mkRow(g: org.apache.parquet.example.data.Group,
                    entity: Any, v: Long): InternalRow =
    if (p.opCol.isDefined) InternalRow(entity, v, opValue(g))
    else InternalRow(entity, v)

  override def next(): Boolean = {
    var g = reader.read()
    while (g != null) {
      // column TYPES were validated at planning (CdcFiles.versionRange);
      // per-row null guards remain: a null version has no position in the
      // feed order — fail with the contract named, not an NPE
      if (g.getFieldRepetitionCount(p.versionCol) == 0)
        throw new IllegalStateException(
          s"graft-cdc: null ${p.versionCol} in ${p.file}; " +
            "change-table versions must be non-null")
      val v = g.getLong(p.versionCol, 0)
      if (v > p.lo && v <= p.hi) {
        // the entity is the change key — a null key has nothing to join
        // back to. Policy is the onNullEntity option: `fail` is a loud
        // data-quality stop (default); `skip`/`keep` keep a table with a
        // poisoned row readable (a thrown reader error would otherwise
        // wedge every micro-batch whose window covers the row, forever)
        if (g.getFieldRepetitionCount(p.entityCol) == 0) {
          p.onNullEntity match {
            case "fail" =>
              throw new IllegalStateException(
                s"graft-cdc: null ${p.entityCol} in ${p.file}; " +
                  "change-table entity keys must be non-null " +
                  "(set onNullEntity=skip|keep to read past such rows)")
            case "skip" => // drop the row
            case "keep" =>
              row = mkRow(g, null, v)
              return true
          }
        } else {
          row = mkRow(g, g.getLong(p.entityCol, 0), v)
          return true
        }
      }
      g = reader.read()
    }
    false
  }

  override def get(): InternalRow = row
  override def close(): Unit = reader.close()
}
