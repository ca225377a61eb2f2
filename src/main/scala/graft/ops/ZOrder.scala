package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Z-order (Morton) data layout: interleave the bits of 2–4 scaled
  * dimensions so that sorting by the single z-value co-locates rows
  * that are close in ALL dimensions, giving every written file a
  * tight min/max envelope on each source column simultaneously — the
  * multi-dimensional clustering that makes stats-based skipping
  * (parquet row-group stats today, a table-format file index at
  * 100 TB) effective for box predicates. A single-column sort
  * tightens stats only on the sort key: every file still spans the
  * full range of the other columns, and a predicate on them prunes
  * nothing.
  *
  * All pure column math (shift/and/or on longs — whole-stage codegen,
  * no UDF): each dimension is affinely scaled to a fixed-width code
  * (16/21/15 bits for 2/3/4 dims — the widest per-dim precision whose
  * interleave stays inside a long's 63 value bits, so the z compare
  * never crosses the sign bit), the codes are bit-spread with the
  * classic Morton magic masks, and the z-value is their interleave.
  * The scan-time predicate stays on the ORIGINAL columns — the
  * z-value only drives the write-side clustering, so there is no
  * BIGMIN/false-negative concern: skipping comes from per-file column
  * stats, which are conservative.
  *
  * Reference anchor: the reference's only layout lever is the rowversion
  * clustered index (sqls/setup-invoice-db.sql:21-28, single-dimension);
  * multi-dimensional clustering is part of the 100 TB curation surface
  * the [NORTH-STAR] rows mandate (SURVEY §2.11).
  */
object ZOrder {

  /** One clustering dimension: a long column with known bounds. */
  case class Dim(name: String, min: Long, max: Long)

  /** Code width per dimension for an n-dim interleave: the widest
    * precision with n·bits ≤ 63 that has a magic-mask spread (16·2,
    * 21·3, 15·4 — 62/63/60 bits used). */
  def bitsFor(n: Int): Int = n match {
    case 2 => 16
    case 3 => 21
    case 4 => 15
    case _ => throw new IllegalArgumentException(
      s"z-order supports 2-4 dims, got $n")
  }

  /** Max code per dimension: 16 bits → z fits in 32 of a long's 64. */
  val MaxCode: Long = (1L << 16) - 1

  /** Spread the low 16 bits of `c` so bit i lands at position 2i
    * (Morton magic masks). */
  def spread16(c: Column): Column = {
    val masked = c.bitwiseAND(lit(MaxCode))
    val s1 = masked.bitwiseOR(shiftleft(masked, 8))
      .bitwiseAND(lit(0x00FF00FFL))
    val s2 = s1.bitwiseOR(shiftleft(s1, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val s3 = s2.bitwiseOR(shiftleft(s2, 2)).bitwiseAND(lit(0x33333333L))
    s3.bitwiseOR(shiftleft(s3, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** Spread the low 21 bits of `c` so bit i lands at position 3i
    * (the 3-D Morton masks). */
  def spread21x3(c: Column): Column = {
    val m0 = c.bitwiseAND(lit(0x1FFFFFL))
    val s1 = m0.bitwiseOR(shiftleft(m0, 32))
      .bitwiseAND(lit(0x1F00000000FFFFL))
    val s2 = s1.bitwiseOR(shiftleft(s1, 16))
      .bitwiseAND(lit(0x1F0000FF0000FFL))
    val s3 = s2.bitwiseOR(shiftleft(s2, 8))
      .bitwiseAND(lit(0x100F00F00F00F00FL))
    val s4 = s3.bitwiseOR(shiftleft(s3, 4))
      .bitwiseAND(lit(0x10C30C30C30C30C3L))
    s4.bitwiseOR(shiftleft(s4, 2))
      .bitwiseAND(lit(0x1249249249249249L))
  }

  /** Spread the low 15 bits of `c` so bit i lands at position 4i
    * (the 4-D Morton masks). */
  def spread15x4(c: Column): Column = {
    val m0 = c.bitwiseAND(lit(0x7FFFL))
    val s1 = m0.bitwiseOR(shiftleft(m0, 24))
      .bitwiseAND(lit(0x000000FF000000FFL))
    val s2 = s1.bitwiseOR(shiftleft(s1, 12))
      .bitwiseAND(lit(0x000F000F000F000FL))
    val s3 = s2.bitwiseOR(shiftleft(s2, 6))
      .bitwiseAND(lit(0x0303030303030303L))
    s3.bitwiseOR(shiftleft(s3, 3))
      .bitwiseAND(lit(0x1111111111111111L))
  }

  /** Affine scale of a long column with known [min, max] bounds to a
    * `bits`-wide code. Bounds come from a one-row aggregate
    * (driver-side literals — same trick as the ScalableRank band
    * boundaries). The multiply stays exact long arithmetic; only the
    * final divide goes through double (Column `/` is double division),
    * exact while (max−min)·(2^bits−1) < 2⁵³ — any 32-bit domain at
    * the widest code. */
  def scaleBits(c: Column, min: Long, max: Long, bits: Int): Column = {
    val maxCode = (1L << bits) - 1
    if (max <= min) lit(0L)
    else greatest(lit(0L), least(lit(maxCode),
      floor((c.cast("long") - lit(min)) * lit(maxCode) / lit(max - min))
        .cast("long")))
  }

  /** 16-bit scale — the 2-D form. */
  def scale16(c: Column, min: Long, max: Long): Column =
    scaleBits(c, min, max, 16)

  /** The interleaved z-value of two 16-bit codes (a even bits, b odd). */
  def z2(a: Column, b: Column): Column =
    spread16(a).bitwiseOR(shiftleft(spread16(b), 1))

  /** The interleaved z-value of 2–4 codes (code i on bit lanes ≡ i). */
  def zN(codes: Seq[Column]): Column = codes.length match {
    case 2 => z2(codes(0), codes(1))
    case 3 => codes.map(spread21x3).zipWithIndex
      .map { case (s, i) => shiftleft(s, i) }.reduce(_ bitwiseOR _)
    case 4 => codes.map(spread15x4).zipWithIndex
      .map { case (s, i) => shiftleft(s, i) }.reduce(_ bitwiseOR _)
    case n => throw new IllegalArgumentException(
      s"z-order supports 2-4 dims, got $n")
  }

  private def zOf(dims: Seq[Dim]): Column = {
    val bits = bitsFor(dims.length)
    zN(dims.map(d => scaleBits(col(d.name), d.min, d.max, bits)))
  }

  /** Write `df` z-ordered by `dims` (longs with the given bounds) into
    * `files` parquet files at `path`: range-partition by z so each
    * file owns a contiguous z-interval, sort within, drop the helper
    * column. `files` scales with data volume at the caller
    * (rows / target-file-rows), fixed small here for the test
    * geometry. Alongside the data a `_ZSTATS` index records each
    * file's (min, max) envelope on every dimension — the
    * file-skipping index [[prunedScanN]] consults (what a table
    * format keeps in its manifest; the leading underscore keeps
    * parquet readers off it). The index is one aggregate over the
    * written files, file-count rows to the driver. */
  def layoutN(df: DataFrame, path: String, dims: Seq[Dim],
              files: Int): Unit = {
    // the build is one committed generation
    graft.streaming.ManifestSwap.install(df.sparkSession, path, "zorder")(
      rawLayout(df, _, dims, files))
  }

  /** One complete layout generation written INTO `dir`: the z-sorted
    * data files plus their `_ZSTATS` index. */
  private def rawLayout(df: DataFrame, dir: String, dims: Seq[Dim],
                        files: Int): Unit = {
    writeSorted(df, dir, dims, files)
    writeStats(df.sparkSession, dir, dims.map(_.name))
  }

  private def writeSorted(df: DataFrame, dir: String, dims: Seq[Dim],
                          files: Int): Unit =
    df.withColumn("__z", zOf(dims))
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("append").parquet(dir)

  /** 2-D [[layoutN]] — the original form. */
  def layout(df: DataFrame, path: String,
             colA: String, aMin: Long, aMax: Long,
             colB: String, bMin: Long, bMax: Long,
             files: Int): Unit =
    layoutN(df, path, Seq(Dim(colA, aMin, aMax), Dim(colB, bMin, bMax)),
      files)

  /** Incremental ingest into a [[layoutN]]: z-sort the batch UNDER THE
    * LAYOUT'S ORIGINAL BOUNDS (so old and new files share one curve)
    * into its own generation with its own stats index (existing files
    * are immutable, their lines carry over) — no rewrite of existing
    * data, cost ∝ batch (the growing-corpus twin of the bucketed
    * vector layouts' append).
    * Each append adds `files` files; fold back with a periodic
    * [[rebuild]] — wired into [[graft.cdc.Maintenance]], the same
    * maintenance-window trade the change table makes with log
    * compaction. Out-of-bounds batch values are safe: [[scaleBits]]
    * clamps their codes to the curve's edge cells and the index
    * records the files' TRUE envelopes, so pruning stays conservative
    * (edge files just carry wider envelopes until a rebuild). */
  def appendN(batch: DataFrame, path: String, dims: Seq[Dim],
              files: Int): Unit =
    // RETRY-IDEMPOTENT (round 9): a crashed append retried must not
    // land the batch's rows twice — the content-keyed append makes the
    // whole ingest a pure function of the batch content. The batch's
    // `_ZSTATS` rides INSIDE its immutable generation (files never
    // move, so their index lines never go stale) and commits
    // atomically with the data.
    graft.streaming.StagedAppend.append(path, batch) { gen =>
      writeSorted(batch, gen, dims, files)
      writeStats(batch.sparkSession, gen, dims.map(_.name))
    }

  /** 2-D [[appendN]] — the original form. */
  def append(batch: DataFrame, path: String,
             colA: String, aMin: Long, aMax: Long,
             colB: String, bMin: Long, bMax: Long,
             files: Int): Unit =
    appendN(batch, path, Seq(Dim(colA, aMin, aMax), Dim(colB, bMin, bMax)),
      files)

  /** Fold a layout that has accumulated append generations back to
    * `files` files (and a `files`-line `_ZSTATS`): one re-clustered
    * generation committed as the new base in one atomic pointer write
    * — readers either see the old complete layout or the new one. The
    * periodic rebuild is also where drifted bounds tighten: pass the
    * CURRENT min/max so edge-clamped appends re-spread over the full
    * curve.
    *
    * Row-preserving: the fold absorbs the base + every committed
    * append into ONE generation, and the absorbed append keys retire
    * to ledger lines in the SAME commit, so a late retry of an
    * already-folded batch still finds its key and skips. Dirs and
    * absorbed keys come from ONE resolution (foldSnapshot), so a
    * concurrently-committed append is neither double-served nor lost. */
  def rebuild(spark: SparkSession, path: String, dims: Seq[Dim],
              files: Int): Unit = {
    val (dirs, absorbed) =
      graft.streaming.ManifestSwap.foldSnapshot(spark, path)
    if (dirs.isEmpty) return
    graft.streaming.ManifestSwap.installFold(spark, path, "zorder",
      absorbed, keepLedger = _ => true)(
      rawLayout(spark.read.parquet(dirs: _*), _, dims, files))
  }

  private def fsOf(spark: SparkSession,
                   path: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The layout's data files, in `input_file_name()` URI form so index
    * lines and listings compare exactly. */
  private def listDataFiles(spark: SparkSession,
                            path: String): Seq[String] =
    fsOf(spark, path)
      .listStatus(new org.apache.hadoop.fs.Path(path))
      .toSeq.filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
      .map(_.getPath.toUri.toString)

  private def readStatsLines(spark: SparkSession,
                             path: String): List[String] = {
    val fs = fsOf(spark, path)
    val p = new org.apache.hadoop.fs.Path(path, "_ZSTATS")
    if (!fs.exists(p)) Nil
    else {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.nonEmpty).toList
      finally in.close()
    }
  }

  /** Build the `_ZSTATS` index of the data files in `dir`, a
    * generation being staged (unpublished, so a plain write is safe).
    * Line format: file, then (lo, hi) per dimension, tab-separated. */
  private def writeStats(spark: SparkSession, dir: String,
                         cols: Seq[String]): Unit = {
    val envelope = cols.flatMap(c =>
      Seq(min(col(c)).as(s"${c}_lo"), max(col(c)).as(s"${c}_hi")))
    val stats = spark.read.parquet(dir)
      .groupBy(input_file_name().as("file"))
      .agg(envelope.head, envelope.tail: _*)
      .collect() // one row per aggregated file
    val body = stats.map { r =>
      (r.getString(0) +: (1 until r.length).map(r.getLong(_).toString))
        .mkString("\t")
    }.sorted.mkString("", "\n", "\n")
    val out = fsOf(spark, dir)
      .create(new org.apache.hadoop.fs.Path(dir, "_ZSTATS"), true)
    try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Scan the z-layout at `path` reading ONLY the files whose `_ZSTATS`
    * envelope intersects the box (one (col, lo, hi) per dimension) —
    * file-level skipping off the driver-side index (file-count-sized),
    * the move a table-format scan makes from its manifest.
    * CONSERVATIVE on every edge: a data file the index doesn't know
    * is treated as hot and scanned; a stats line with a
    * different dimension count (pre-rebuild generation) never skips —
    * only a recorded non-intersecting envelope ever skips a file. The
    * box filter is re-applied to the surviving rows (envelopes are
    * conservative too), so the result is identical to filtering a
    * full scan. An empty candidate set returns the empty relation
    * with the layout's schema. */
  def prunedScanN(spark: SparkSession, path: String,
                  box: Seq[(String, Long, Long)]): DataFrame = {
    // the committed base + appended generations — each dir carries its
    // own immutable `_ZSTATS`, concatenated here (the manifest-list
    // read: stats of absorbed appends vanished WITH their generations
    // in the same fold commit, so lines never lie)
    val dirs = graft.streaming.ManifestSwap.readDataPaths(spark, path)
    if (dirs.isEmpty)
      return spark.read.parquet(path) // preserve the missing-layout error
    val n = box.length
    val cold = dirs.flatMap(d => readStatsLines(spark, d))
      .map(_.split('\t')).collect {
        case arr if arr.length == 1 + 2 * n &&
          box.zipWithIndex.exists { case ((_, lo, hi), i) =>
            arr(1 + 2 * i).toLong > hi || arr(2 + 2 * i).toLong < lo
          } => arr(0)
      }.toSet
    val hot = dirs.flatMap(d => listDataFiles(spark, d)).filterNot(cold)
    val scan =
      if (hot.nonEmpty) spark.read.parquet(hot: _*)
      else spark.read.parquet(dirs: _*).limit(0)
    scan.filter(box.map { case (c, lo, hi) => col(c).between(lo, hi) }
      .reduce(_ && _))
  }

  /** 2-D [[prunedScanN]] — the original form. */
  def prunedScan(spark: SparkSession, path: String,
                 colA: String, aLo: Long, aHi: Long,
                 colB: String, bLo: Long, bHi: Long): DataFrame =
    prunedScanN(spark, path, Seq((colA, aLo, aHi), (colB, bLo, bHi)))
}
