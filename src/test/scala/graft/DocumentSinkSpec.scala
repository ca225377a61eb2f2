package graft

import graft.sinks.DocumentSink
import org.apache.spark.sql.functions._

/** S4/S5/S6 — versioned document sink round-trip (n/s query keys). */
class DocumentSinkSpec extends SparkSpec {
  import spark.implicits._

  private def samplePage() =
    Seq(
      (1L, "INV-000000001", "CUST-1", 10L),
      (2L, "INV-000000002", "CUST-2", 11L),
      (3L, null.asInstanceOf[String], "CUST-3", 12L) // invalid: no number
    ).toDF("invoice_id", "invoice_number", "customer_code", "change_version")

  /** The version-bucket dirs of the sink's committed generations. */
  private def bucketDirs(dir: String): Seq[java.io.File] =
    graft.streaming.ManifestSwap.readDataPaths(spark, dir).flatMap { g =>
      new java.io.File(new org.apache.hadoop.fs.Path(g).toUri.getPath)
        .listFiles().toSeq
        .filter(f => f.isDirectory && f.getName.startsWith("vb_part="))
    }

  test("S4: valid docs land partitioned by version bucket; invalid go to error dir") {
    val dir = tmpDir("sink")
    val err = tmpDir("sinkerr")
    DocumentSink.writeVersioned(samplePage(), dir, err)
    val docs = DocumentSink.readBack(spark, dir)
    assert(docs.count() == 2)
    assert(docs.columns.contains("doc_name"))
    assert(!docs.columns.contains("version_bucket"), "bucket is layout, not data")
    // partition dirs carry the version bucket (bounded count at scale)
    assert(bucketDirs(dir).map(_.getName).toSet == Set("vb_part=0"))
    val bad = spark.read.json(err)
    assert(bad.count() == 1)
  }

  test("S4: a null-flag malformed row routes to the error dir, never vanishes") {
    val dir = tmpDir("sink")
    val err = tmpDir("sinkerr")
    // null invoice_number AND null is_tombstone: with a non-null-safe
    // comparison `ok` evaluates to SQL NULL and the row fails BOTH
    // filter(ok) and filter(!ok) — silently dropped
    val page = Seq(
      (1L, Some("INV-000000001"), Some(1L), 10L),  // live doc
      (2L, None, Some(1L), 11L),                   // tombstone (valid)
      (3L, None, None, 12L)                        // malformed
    ).toDF("invoice_id", "invoice_number", "is_tombstone", "change_version")
    DocumentSink.writeVersioned(page, dir, err)
    assert(DocumentSink.readBack(spark, dir).count() == 2,
      "live doc + tombstone delivered")
    val bad = spark.read.json(err)
    assert(bad.count() == 1, "malformed row must land in the error dir")
    assert(bad.select("invoice_id").head().getLong(0) == 3L)
  }

  test("S4: a clean page writes no error dir") {
    val dir = tmpDir("sink")
    val err = s"${tmpDir("sinkerr")}/errors"
    DocumentSink.writeVersioned(samplePage().filter($"invoice_number".isNotNull), dir, err)
    assert(DocumentSink.readBack(spark, dir).count() == 2)
    assert(!new java.io.File(err).exists(),
      "a page with no invalid row must not create the error dir")
  }

  test("S6: read-by-version prunes to one bucket dir and row-filters inside") {
    val dir = tmpDir("sink")
    val err = tmpDir("e")
    val page = samplePage().filter($"invoice_number".isNotNull)
      .union(Seq((9L, "INV-000000009", "CUST-9", 2500L))
        .toDF("invoice_id", "invoice_number", "customer_code", "change_version"))
    DocumentSink.writeVersioned(page, dir, err)
    // two buckets on disk: 0 (v10, v11) and 2 (v2500)
    assert(bucketDirs(dir).map(_.getName).toSet ==
      Set("vb_part=0", "vb_part=2"))
    val one = DocumentSink.readVersion(spark, dir, 2500L)
    assert(one.count() == 1)
    assert(one.select("invoice_id").head().getLong(0) == 9L)
    // only the target bucket's directory is listed/read/inferred
    assert(one.inputFiles.nonEmpty &&
      one.inputFiles.forall(_.contains("vb_part=2")),
      s"expected reads confined to vb_part=2, got ${one.inputFiles.toSeq}")
    // never-delivered version: empty with a schema, named error without
    val probeSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "invoice_id LONG, change_version LONG")
    assert(DocumentSink.readVersion(spark, dir, 999999L, Some(probeSchema)).isEmpty)
    val noSchemaErr = intercept[IllegalArgumentException] {
      DocumentSink.readVersion(spark, dir, 999999L)
    }
    assert(noSchemaErr.getMessage.contains("never delivered"))
  }

  test("S4'': compaction bounds file count; read-back identical") {
    val dir = tmpDir("sink")
    val err = tmpDir("e")
    def page(n: Int) = Seq(
      (1L, "INV-000000001", "CUST-1", 10L + n),
      (2L, "INV-000000002", "CUST-2", 2500L + n)
    ).toDF("invoice_id", "invoice_number", "customer_code", "change_version")
    // 5 polls × 2 buckets, plus one full redelivery (duplicate appends)
    (0 until 5).foreach(n => DocumentSink.writeVersioned(page(n), dir, err))
    DocumentSink.writeVersioned(page(0), dir, err)
    def dataFiles(): Seq[java.io.File] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.endsWith(".json")) Seq(f) else Nil
      walk(new java.io.File(dir))
    }
    val before = DocumentSink.deduplicated(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    val filesBefore = dataFiles().size
    assert(filesBefore >= 12, s"expected ≥12 pre-compaction files, got $filesBefore")

    DocumentSink.compact(spark, dir)

    // one file per bucket dir — bounded no matter how many polls ran
    val compacted = bucketDirs(dir)
    assert(compacted.nonEmpty)
    compacted.foreach { b =>
      val n = b.listFiles().count(_.getName.endsWith(".json"))
      assert(n == 1, s"${b.getName}: $n files after compaction")
    }
    // redelivered duplicates are physically gone …
    assert(DocumentSink.readBack(spark, dir).count() == before.size)
    // … and the logical read-back is identical, stamps included
    val after = DocumentSink.deduplicated(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    assert(after == before, "compaction must not change the read-back")
    // version pruning still works on the compacted layout
    assert(DocumentSink.readVersion(spark, dir, 2500L).count() == 1)
  }

  test("S4 doc_name follows the reference filename scheme") {
    val dir = tmpDir("sink")
    DocumentSink.writeVersioned(samplePage().filter($"invoice_id" === 1), dir, tmpDir("e"))
    val name = DocumentSink.readBack(spark, dir)
      .select("doc_name").head().getString(0)
    // ${invoiceNumber}_v${version}_${yyyyMMdd_HHmmss}  (server.js:64-66)
    assert(name.matches("INV-000000001_v10_\\d{8}_\\d{6}"), name)
  }

  test("S5: listing is newest-first with sizes") {
    val dir = tmpDir("sink")
    DocumentSink.writeVersioned(samplePage().filter($"invoice_number".isNotNull), dir, tmpDir("e"))
    val listing = DocumentSink.listSink(spark, dir).collect()
    assert(listing.nonEmpty)
    val times = listing.map(_.getAs[java.sql.Timestamp]("modificationTime").getTime)
    assert(times.sameElements(times.sortBy(-_: Long)))
    assert(listing.forall(_.getAs[Long]("length") > 0))
  }

  test("S5: listing a manifest sink BEFORE its first commit returns an " +
      "empty listing, not a 'path not specified' error (round-14 ADVICE)") {
    val dir = tmpDir("sink-empty")
    // a manifest root minted but not yet committed (first delivery in
    // flight / first-commit crash window with nothing in-place)
    assert(new java.io.File(s"$dir/_ptr").mkdirs())
    val listing = DocumentSink.listSink(spark, dir)
    assert(listing.columns.toSeq ==
      Seq("path", "length", "modificationTime"))
    assert(listing.count() == 0)
  }

  test("S6 + exactly-once: redelivered page collapses to one doc per (id, version)") {
    val dir = tmpDir("sink")
    val err = tmpDir("e")
    val page = samplePage().filter($"invoice_number".isNotNull)
    DocumentSink.writeVersioned(page, dir, err)
    DocumentSink.writeVersioned(page, dir, err) // redelivery (append)
    assert(DocumentSink.readBack(spark, dir).count() == 4)
    val deduped = DocumentSink.deduplicated(spark, dir)
    assert(deduped.count() == 2)
    assert(deduped.select("invoice_id").as[Long].collect().toSet == Set(1L, 2L))
  }
}
