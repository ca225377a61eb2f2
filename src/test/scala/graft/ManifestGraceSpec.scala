package graft

import graft.streaming.ManifestSwap

/** A table's own gc grace, recorded in its manifest, holds at every
  * site that reaps the table — not only in the maintenance window that
  * declared it. */
class ManifestGraceSpec extends SparkSpec {
  import spark.implicits._

  private val hour = 60 * 60 * 1000L

  private def gens(root: String): Int = new java.io.File(s"$root/_gens").list().length

  private def installVals(root: String, v: Long): Unit =
    ManifestSwap.install(spark, root, "t")(Seq(v).toDF("v").write.mode("append").parquet(_))

  test("a recorded grace outlives a rewrite-site reap; a root without one reaps as before") {
    val kept = tmpDir("grace-kept") + "/t"
    val plain = tmpDir("grace-plain") + "/t"
    ManifestSwap.housekeepingGraceMs = 0L
    try {
      for (root <- Seq(kept, plain)) {
        installVals(root, 1L)
        if (root == kept) ManifestSwap.recordGrace(spark, root, hour)
        installVals(root, 2L)
        installVals(root, 3L)
      }
    } finally ManifestSwap.housekeepingGraceMs = ManifestSwap.DefaultGraceMs
    assert(ManifestSwap.resolveRaw(spark, kept).get._2.get(ManifestSwap.GraceKey)
      .contains(hour.toString), "installs carry the recorded grace forward")
    assert(gens(kept) == 3, "the 1-hour grace keeps every superseded generation")
    assert(gens(plain) == 2, "no recorded grace: the keep window alone survives a 0 ms reap")
    assert(!ManifestSwap.resolveRaw(spark, plain).get._2.contains(ManifestSwap.GraceKey))
  }

  test("a materialized view records its grace; a default grace records none") {
    val long = tmpDir("grace-mv") + "/v"
    val mv = new graft.ops.MaterializedView(spark, sf, long, nBuckets = 4)
    mv.build()
    ManifestSwap.recordGrace(spark, long, hour)
    ManifestSwap.housekeepingGraceMs = 0L
    try {
      // ids 0-3 touch every bucket: each refresh supersedes the whole view
      mv.refresh(Seq(0L, 1L, 2L, 3L))
      mv.refresh(Seq(0L, 1L, 2L, 3L))
    } finally ManifestSwap.housekeepingGraceMs = ManifestSwap.DefaultGraceMs
    assert(ManifestSwap.resolveRaw(spark, long).get._2.get(ManifestSwap.GraceKey)
      .contains(hour.toString), "the bucket-map commits carry the grace forward")
    assert(gens(long) == 3, "the 1-hour grace keeps every superseded generation")
    val default = tmpDir("grace-mv-default") + "/v"
    new graft.ops.MaterializedView(spark, sf, default, nBuckets = 4).build()
    assert(!ManifestSwap.resolveRaw(spark, default).get._2.contains(ManifestSwap.GraceKey))
  }
}
