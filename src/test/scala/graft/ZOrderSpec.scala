package graft

import org.apache.spark.sql.functions._
import graft.ops.ZOrder

/** [[graft.ops.ZOrder]]: the Morton interleave is bit-exact against a
  * reference implementation, and the z-layout actually earns its keep —
  * per-file min/max envelopes prune a 2-D box that a single-column
  * sort cannot. */
class ZOrderSpec extends SparkSpec {

  /** Every row of the layout's committed generations. */
  private def layoutRows(dir: String) = spark.read.parquet(
    graft.streaming.ManifestSwap.readDataPaths(spark, dir): _*)

  private def refZ(a: Long, b: Long): Long = {
    var z = 0L
    for (i <- 0 until 16) {
      z |= ((a >> i) & 1L) << (2 * i)
      z |= ((b >> i) & 1L) << (2 * i + 1)
    }
    z
  }

  test("z2 matches the reference bit interleave") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val pairs = Seq.fill(512)(
      (rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong)) ++
      Seq((0L, 0L), (65535L, 65535L), (0L, 65535L), (65535L, 0L))
    val got = pairs.toDF("a", "b")
      .select(ZOrder.z2(col("a"), col("b"))).as[Long].collect()
    assert(got.sameElements(pairs.map { case (a, b) => refZ(a, b) }))
  }

  test("z-layout files prune a 2-D box that a single-column sort cannot") {
    val ev = Tables.events(spark, sf).select(
      col("event_id").cast("long").as("event_id"),
      col("user_id").cast("long").as("user_id"),
      round(col("value") * 100).cast("long").as("cents"))
    val b = ev.agg(min("user_id"), max("user_id"),
      min("cents"), max("cents")).head()
    val (uMin, uMax, cMin, cMax) =
      (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
    val (uLo, uHi) = (uMin + (uMax - uMin) / 3, uMin + 2 * (uMax - uMin) / 3)
    val cHi = cMin + (cMax - cMin) / 2

    val zdir = tmpDir("graft-zorder-z")
    val ldir = tmpDir("graft-zorder-linear")
    ZOrder.layout(ev, zdir, "user_id", uMin, uMax, "cents", cMin, cMax, 8)
    // the contrast layout: clustered on an UNRELATED single key — every
    // file's stats envelope spans the full (user_id, cents) plane
    ev.repartitionByRange(8, col("event_id"))
      .sortWithinPartitions("event_id")
      .write.mode("overwrite").parquet(ldir)

    // per-file stats envelopes — what a stats-index scan would consult
    val zStats = layoutRows(zdir)
      .groupBy(input_file_name()).agg(min("user_id").as("ulo"),
        max("user_id").as("uhi"), min("cents").as("clo"),
        max("cents").as("chi")).collect()
    val lStats = spark.read.parquet(ldir)
      .groupBy(input_file_name()).agg(min("user_id").as("ulo"),
        max("user_id").as("uhi"), min("cents").as("clo"),
        max("cents").as("chi")).collect()
    def intersects(r: org.apache.spark.sql.Row): Boolean =
      r.getLong(1) <= uHi && r.getLong(2) >= uLo &&
        r.getLong(3) <= cHi && r.getLong(4) >= cMin
    val (zHit, zAll) = (zStats.count(intersects), zStats.length)
    val (lHit, lAll) = (lStats.count(intersects), lStats.length)
    assert(zAll == 8 && lAll == 8, s"expected 8 files, got z=$zAll l=$lAll")
    assert(lHit == lAll,
      s"single-column sort should leave every file hot, hit $lHit/$lAll")
    assert(zHit < lHit && zHit <= 6,
      s"z-layout should skip files on the 2-D box: hit $zHit/$zAll")

    // the layout is lossless and the clustered read serves the same rows
    assert(layoutRows(zdir).count() == ev.count())

    // prunedScan plans ONLY the intersecting files off the _ZSTATS
    // index, and re-filtering keeps it byte-identical to the full scan
    val pruned = ZOrder.prunedScan(spark, zdir,
      "user_id", uLo, uHi, "cents", cMin, cHi)
    val scannedFiles = pruned.select(input_file_name()).distinct()
      .collect().map(_.getString(0)).toSet
    val hotFiles = zStats.filter(intersects).map(_.getString(0)).toSet
    assert(scannedFiles.subsetOf(hotFiles),
      s"pruned scan read a cold file: ${scannedFiles -- hotFiles}")
    val full = layoutRows(zdir)
      .filter(col("user_id").between(uLo, uHi) &&
        col("cents").between(cMin, cHi))
    assert(pruned.orderBy("event_id").collect()
      .sameElements(full.orderBy("event_id").collect()),
      "file skipping must be output-invisible")
  }

  test("append ingests a batch without rewriting existing files") {
    val ev = Tables.events(spark, sf).select(
      col("event_id").cast("long").as("event_id"),
      col("user_id").cast("long").as("user_id"),
      round(col("value") * 100).cast("long").as("cents"))
    val b = ev.agg(min("user_id"), max("user_id"),
      min("cents"), max("cents")).head()
    val (uMin, uMax, cMin, cMax) =
      (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
    val dir = tmpDir("graft-zorder-append")
    val base = ev.filter(col("event_id") % 2 === 0)
    val batch = ev.filter(col("event_id") % 2 =!= 0)
    ZOrder.layout(base, dir, "user_id", uMin, uMax, "cents", cMin, cMax, 4)
    val baseFiles = layoutRows(dir)
      .select(input_file_name()).distinct().collect()
      .map(_.getString(0)).toSet
    ZOrder.append(batch, dir, "user_id", uMin, uMax, "cents", cMin, cMax, 2)
    val allFiles = layoutRows(dir)
      .select(input_file_name()).distinct().collect()
      .map(_.getString(0)).toSet
    assert(baseFiles.subsetOf(allFiles) && allFiles.size > baseFiles.size,
      "append must add files, never rewrite the existing generation")
    // the refreshed index covers old AND new files, and the pruned
    // read over the union equals the plain filter over all rows
    val (uLo, uHi) = (uMin + (uMax - uMin) / 3, uMin + 2 * (uMax - uMin) / 3)
    val cHi = cMin + (cMax - cMin) / 2
    val pruned = ZOrder.prunedScan(spark, dir,
      "user_id", uLo, uHi, "cents", cMin, cHi)
    val want = ev.filter(col("user_id").between(uLo, uHi) &&
      col("cents").between(cMin, cHi))
    assert(pruned.count() == want.count() && pruned.count() > 0,
      "post-append pruned scan must serve the full union")
  }

  // ------------------------------------------------------ N-dim form ----

  /** Reference interleave: bit i of code d lands at n·i + d. */
  private def refZN(codes: Seq[Long], bits: Int): Long = {
    val n = codes.length
    var z = 0L
    for (i <- 0 until bits; d <- 0 until n)
      z |= ((codes(d) >> i) & 1L) << (n * i + d)
    z
  }

  test("zN matches the reference interleave for 3 and 4 dims and stays " +
      "inside the long's value bits") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    for (n <- Seq(3, 4)) {
      val bits = ZOrder.bitsFor(n)
      val mask = (1L << bits) - 1
      val rows = Seq.fill(512)(Seq.fill(n)(rnd.nextLong() & mask)) ++
        Seq(Seq.fill(n)(0L), Seq.fill(n)(mask))
      val padded = rows.map(r => r.padTo(4, 0L))
        .map { case Seq(a, b, c, d) => (a, b, c, d) }
      val cols = Seq(col("a"), col("b"), col("c"), col("d")).take(n)
      val got = padded.toDF("a", "b", "c", "d")
        .select(ZOrder.zN(cols)).as[Long].collect()
      assert(got.sameElements(rows.map(refZN(_, bits))), s"n=$n")
      assert(got.forall(_ >= 0), s"n=$n: sign bit must stay clear")
    }
  }

  test("a 3-D z-layout prunes a 3-box at least as well as a single-sort " +
      "and skips files") {
    val ev = Tables.events(spark, sf).select(
      col("event_id").cast("long").as("event_id"),
      col("user_id").cast("long").as("user_id"),
      round(col("value") * 100).cast("long").as("cents"))
    val b = ev.agg(min("user_id"), max("user_id"), min("cents"),
      max("cents"), min("event_id"), max("event_id")).head()
    val (uMin, uMax, cMin, cMax, eMin, eMax) = (b.getLong(0), b.getLong(1),
      b.getLong(2), b.getLong(3), b.getLong(4), b.getLong(5))
    val dims = Seq(ZOrder.Dim("user_id", uMin, uMax),
      ZOrder.Dim("cents", cMin, cMax), ZOrder.Dim("event_id", eMin, eMax))
    // a quarter-width box anchored at the LOW corner: selective in all
    // three dims and aligned with the curve's top splits, so the
    // 64-file layout (two curve levels per dim) can actually skip —
    // a box straddling every split line would touch all octants no
    // matter how the data is clustered
    def quarter(lo: Long, hi: Long): (Long, Long) = (lo, lo + (hi - lo) / 4)
    val box = Seq(("user_id", quarter(uMin, uMax)),
      ("cents", quarter(cMin, cMax)), ("event_id", quarter(eMin, eMax)))
      .map { case (c, (lo, hi)) => (c, lo, hi) }

    val zdir = tmpDir("graft-zorder-3d")
    val ldir = tmpDir("graft-zorder-3d-linear")
    ZOrder.layoutN(ev, zdir, dims, 64)
    // contrast: single-column sort on ONE of the box dimensions — its
    // files prune on that dimension only, full-range on the other two
    ev.repartitionByRange(64, col("event_id"))
      .sortWithinPartitions("event_id")
      .write.mode("overwrite").parquet(ldir)

    def hotCount(dir: String): (Long, Long) = {
      val stats = (if (dir == zdir) layoutRows(dir)
          else spark.read.parquet(dir))
        .groupBy(input_file_name()).agg(
          min("user_id"), max("user_id"), min("cents"), max("cents"),
          min("event_id"), max("event_id")).collect()
      val hit = stats.count(r => box.zipWithIndex.forall {
        case ((_, lo, hi), i) =>
          r.getLong(1 + 2 * i) <= hi && r.getLong(2 + 2 * i) >= lo
      })
      (hit.toLong, stats.length.toLong)
    }
    val (zHit, zAll) = hotCount(zdir)
    val (lHit, lAll) = hotCount(ldir)
    assert(zAll == 64 && lAll == 64)
    assert(zHit < lHit && zHit < zAll,
      s"3-D clustering must prune the 3-box: z=$zHit/$zAll linear=$lHit/$lAll")

    // prunedScanN off _ZSTATS is output-invisible vs the full scan
    val pruned = ZOrder.prunedScanN(spark, zdir, box)
    val full = layoutRows(zdir).filter(box.map {
      case (c, lo, hi) => col(c).between(lo, hi) }.reduce(_ && _))
    assert(pruned.count() > 0 &&
      pruned.orderBy("event_id").collect()
        .sameElements(full.orderBy("event_id").collect()),
      "3-D file skipping must be output-invisible")
  }

  test("rebuild folds appended generations back to the target file " +
      "count and heals its crash window") {
    val ev = Tables.events(spark, sf).select(
      col("event_id").cast("long").as("event_id"),
      col("user_id").cast("long").as("user_id"),
      round(col("value") * 100).cast("long").as("cents"))
    val b = ev.agg(min("user_id"), max("user_id"), min("cents"),
      max("cents"), min("event_id"), max("event_id")).head()
    val dims = Seq(ZOrder.Dim("user_id", b.getLong(0), b.getLong(1)),
      ZOrder.Dim("cents", b.getLong(2), b.getLong(3)),
      ZOrder.Dim("event_id", b.getLong(4), b.getLong(5)))
    val dir = tmpDir("graft-zorder-rebuild")
    ZOrder.layoutN(ev.filter(col("event_id") % 4 === 0), dir, dims, 4)
    (1 to 3).foreach(i =>
      ZOrder.appendN(ev.filter(col("event_id") % 4 === i), dir, dims, 2))
    def gens(): Seq[java.io.File] =
      graft.streaming.ManifestSwap.readDataPaths(spark, dir)
        .map(g => new java.io.File(
          new org.apache.hadoop.fs.Path(g).toUri.getPath))
    def dataFiles(): Set[String] = gens().flatMap(_.listFiles())
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith("."))
      .map(_.getPath).toSet
    def statsLines(): Int = gens().map(g => scala.io.Source.fromFile(
      new java.io.File(g, "_ZSTATS")).getLines().count(_.nonEmpty)).sum
    assert(dataFiles().size == 10 && statsLines() == 10,
      s"fixture: 4 + 3x2 appended files, got ${dataFiles().size}")

    val before = layoutRows(dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    ZOrder.rebuild(spark, dir, dims, 4)
    assert(dataFiles().size == 4 && statsLines() == 4,
      s"rebuild must fold to the target: ${dataFiles().size} files, " +
        s"${statsLines()} index lines")
    val after = layoutRows(dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(after == before, "rebuild must be lossless")

    // crash window: a second rebuild dies with its generation written
    // and its pointer not yet committed — the pruned scan keeps serving
    // the same rows off the committed layout, and the retry converges
    val box = dims.map(d => (d.name, d.min, d.max))
    graft.streaming.ManifestSwap.failpoint = Some(("zorder", "beforeCommit"))
    try intercept[RuntimeException](ZOrder.rebuild(spark, dir, dims, 4))
    finally graft.streaming.ManifestSwap.failpoint = None
    assert(ZOrder.prunedScanN(spark, dir, box).count() == before.size,
      "a scan in the crash window must serve the committed layout")
    ZOrder.rebuild(spark, dir, dims, 4)
    assert(dataFiles().size == 4 &&
      ZOrder.prunedScanN(spark, dir, box).count() == before.size,
      "the retried rebuild must converge")
  }

  test("layout_zorder_scan declared query returns the box aggregate") {
    val rows = SparkEntry.queries("layout_zorder_scan")(spark, sf).collect()
    assert(rows.nonEmpty && rows.map(_.getLong(1)).sum > 0)
  }
}
