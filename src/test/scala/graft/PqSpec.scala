package graft

import org.apache.spark.sql.functions._
import graft.llm.{Pq, SimSearch}

/** [[graft.llm.Pq]]: code-table shape, ADC+rerank recall against the
  * exact baseline, and the exactness of returned scores. */
class PqSpec extends SparkSpec {

  /** An IVF-PQ layout published as one committed generation — the
    * shape incremental appends land on. */
  private def publishIvfPq(emb: org.apache.spark.sql.DataFrame,
                           cb: org.apache.spark.sql.DataFrame,
                           path: String): Unit =
    graft.streaming.ManifestSwap.install(spark, path, "vecidx")(
      Pq.writeIvfPq(emb, "vec_id", "embedding", cb, m, dims, 6, _))

  /** Every row of the layout's committed generations, one read per
    * generation so each discovers its own bucket partitions. */
  private def layoutRows(path: String) =
    graft.streaming.ManifestSwap.dataPaths(spark, path)
      .map(spark.read.parquet(_)).reduce(_ unionByName _)
  import org.apache.spark.sql.Encoders

  private val (m, dims, ks) = (8, 64, 16)

  test("encode yields one code per subspace, all within the codebook") {
    val emb = Tables.embeddings(spark, sf)
    val cb = Pq.trainCodebooks(emb, "vec_id", "embedding", m, dims, ks,
      iters = 1)
    assert(cb.count() == m.toLong * ks, "full codebook: m x ks centroids")
    val codes = Pq.encode(emb, "vec_id", "embedding", cb, m, dims)
    assert(codes.count() == emb.count(), "every vector encoded")
    val bad = codes.filter(size(col("codes")) =!= m ||
      exists(col("codes"), c => c < 0 || c >= ks)).count()
    assert(bad == 0, "codes must be m entries in [0, ks)")
  }

  test("ADC + exact rerank recovers the exact top-k with high recall") {
    val emb = Tables.embeddings(spark, sf)
    val exact = SimSearch.bruteForceTopK(emb, "vec_id", "embedding", 0L, 20)
      .select("vec_id").as[Long](Encoders.scalaLong).collect().toSet
    val got = SparkEntry.queries("llm_simsearch_pq")(spark, sf)
      .select("vec_id", "cos_e6").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == 20)
    val recall = exact.intersect(got.map(_._1).toSet).size.toDouble / 20
    info(s"PQ recall=$recall")
    // measured 0.95 here, stable across cold codebook rebuilds
    // (0.60-0.75 at the larger SFs); pinned well below measured but
    // far above the old 0.5 floor so a silent ranking regression
    // fails — the slack covers k-means float-avg summation-order
    // wobble, not algorithmic drift
    assert(recall >= 0.75, s"PQ recall=$recall vs exact top-20")
    // the family contract: the query row never occupies a result slot
    // (bruteForceTopK / annTopK / annTopKBucketed all exclude it)
    assert(!got.map(_._1).contains(0L), "query row must be excluded")
    // rerank scores are genuine cosines (the exact baseline's top hit
    // appears with the identical score when recalled)
    val exactTop = SimSearch.bruteForceTopK(emb, "vec_id", "embedding",
        0L, 1).collect().map(r => (r.getLong(0), r.getLong(1))).head
    got.find(_._1 == exactTop._1).foreach { hit =>
      assert(hit._2 == exactTop._2,
        s"recalled neighbor must carry the exact cosine: $hit vs $exactTop")
    }
  }

  test("IVF-PQ: pruned probe over a codes-only index keeps recall") {
    val emb = Tables.embeddings(spark, sf)
    val cb = graft.llm.Pq.trainCodebooks(emb, "vec_id", "embedding",
      m, dims, ks, iters = 2)
    val path = tmpDir("ivfpq")
    graft.llm.Pq.writeIvfPq(emb, "vec_id", "embedding", cb, m, dims,
      planes = 6, path)
    // the index holds ONLY (id, codes) + the bucket partition column —
    // true vectors never enter it (the memory contract)
    val idx = spark.read.parquet(path)
    assert(idx.columns.toSet == Set("vec_id", "codes", "bucket"),
      s"index must be codes-only, has ${idx.columns.mkString(",")}")
    val got = graft.llm.Pq.ivfPqTopK(emb, path, cb, "vec_id", "embedding",
      queryId = 0L, k = 20, m, dims, ks, planes = 6, probeHamming = 3,
      overfetch = 6)
      .select("vec_id").as[Long](Encoders.scalaLong).collect()
    assert(got.length == 20 && !got.contains(0L),
      "20 genuine neighbors, query row excluded (family contract)")
    val exact = SimSearch.bruteForceTopK(emb, "vec_id", "embedding", 0L, 20)
      .select("vec_id").as[Long](Encoders.scalaLong).collect().toSet
    val recall = exact.intersect(got.toSet).size.toDouble / 20
    info(s"IVF-PQ recall=$recall")
    // measured 0.80 at probeHamming=3 (see the curve test); pinned
    // just below for the same wobble-only slack as the PQ pin
    assert(recall >= 0.65, s"IVF-PQ recall=$recall vs exact top-20")
    // and the probe is partition-pruned: strictly fewer bucket dirs
    // scanned than the layout holds
    import org.apache.spark.sql.execution.FileSourceScanExec
    val qBucket = idx.filter(col("vec_id") === 0L)
      .select(col("bucket").cast("long")).as[Long](Encoders.scalaLong).head()
    val probes = SimSearch.probeBuckets(qBucket, planes = 6, probeHamming = 3)
    val probed = idx.filter(col("bucket").isin(probes: _*))
    val scanned = probed.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f.selectedPartitions.partitionCount
    }
    val total = idx.select("bucket").distinct().count()
    assert(scanned.nonEmpty && scanned.forall(_ < total),
      s"probe must prune: scanned=$scanned of $total bucket dirs")
  }

  test("IVF-PQ append: a batch encodes against the frozen codebook and " +
      "probe queries serve the union") {
    val emb = Tables.embeddings(spark, sf)
    val cb = Pq.trainCodebooks(emb, "vec_id", "embedding", m, dims, ks,
      iters = 1)
    val path = tmpDir("ivfpq-append")
    val base = emb.filter(col("vec_id") % 2 === 0)
    val batch = emb.filter(col("vec_id") % 2 =!= 0)
    publishIvfPq(base, cb, path)
    val baseRows = layoutRows(path).count()
    Pq.appendIvfPq(batch, "vec_id", "embedding", cb, m, dims, 6, path)
    val idx = layoutRows(path)
    assert(idx.count() == emb.count() && baseRows == base.count(),
      "append must add exactly the batch's codes")
    // a probe over the union finds neighbors from BOTH generations
    val got = Pq.ivfPqTopK(emb, path, cb, "vec_id", "embedding",
      queryId = 0L, k = 20, m, dims, ks, planes = 6, probeHamming = 3,
      overfetch = 6)
      .select("vec_id").as[Long](Encoders.scalaLong).collect()
    assert(got.length == 20)
    assert(got.exists(_ % 2 == 0) && got.exists(_ % 2 != 0),
      s"union probe should surface both generations, got ${got.toSeq}")
  }

  test("IVF-PQ append: an already-indexed id with a DIFFERENT vector " +
      "fails loudly instead of being silently dropped (round-10 ADVICE)") {
    val emb = Tables.embeddings(spark, sf)
    val cb = Pq.trainCodebooks(emb, "vec_id", "embedding", m, dims, ks,
      iters = 1)
    val path = tmpDir("ivfpq-diverge")
    publishIvfPq(emb.filter(col("vec_id") < 100), cb, path)
    val n = layoutRows(path).count()
    // a retry carrying the SAME (id, vector) rows is a silent no-op —
    // the membership guard's whole purpose
    Pq.appendIvfPq(emb.filter(col("vec_id") < 50), "vec_id", "embedding",
      cb, m, dims, 6, path)
    assert(layoutRows(path).count() == n,
      "a same-vector retry must be a no-op")
    // but an existing id arriving with a DIFFERENT vector is an
    // upstream contract violation (a re-embedding routed through
    // append instead of retrain) — refuse loudly, never silently
    // drop it (index/corpus divergence) or duplicate the id. The
    // probe only reads the buckets the BATCH's vectors hash to, so
    // the deterministic construction is id `a` arriving with id `b`'s
    // vector where both live in the same bucket with different codes:
    // the probe then provably sees a's indexed row. (100 ids over 64
    // buckets pigeonholes such a pair.)
    import scala.jdk.CollectionConverters._
    val rows = layoutRows(path)
      .select(col("vec_id"), col("bucket").cast("long").as("bkt"),
        col("codes"))
      .collect()
    val pair = rows.toSeq.groupBy(_.getLong(1)).values.toSeq.flatMap { grp =>
      for {
        x <- grp; y <- grp
        if x.getLong(0) < y.getLong(0) &&
          x.getSeq[Long](2) != y.getSeq[Long](2)
      } yield (x.getLong(0), y.getLong(0))
    }.headOption.getOrElse(
      fail("fixture: no same-bucket pair with differing codes"))
    val vecB = emb.filter(col("vec_id") === pair._2)
      .select("embedding").head().getSeq[Float](0)
    val mutated = spark.createDataFrame(
        List(org.apache.spark.sql.Row(pair._1)).asJava,
        org.apache.spark.sql.types.StructType.fromDDL("vec_id BIGINT"))
      .withColumn("embedding", typedlit(vecB))
    val e = intercept[IllegalArgumentException] {
      Pq.appendIvfPq(mutated, "vec_id", "embedding", cb, m, dims,
        6, path)
    }
    assert(e.getMessage.contains("DIFFERENT vector"),
      s"wrong failure: ${e.getMessage}")
    assert(layoutRows(path).count() == n,
      "the refused batch must not have landed anything")
  }

  test("IVF-PQ append blind spot: a divergent re-embedding whose OLD " +
      "vector hides outside the probed buckets slips past append, and " +
      "the NEXT RETRAIN refuses the duplicate id loudly (round-11 " +
      "verdict #1)") {
    import scala.jdk.CollectionConverters._
    val emb = Tables.embeddings(spark, sf)
    val cb = Pq.trainCodebooks(emb, "vec_id", "embedding", m, dims, ks,
      iters = 1)
    val root = tmpDir("ivfpq-retrain-dup")
    val path = s"$root/layout"
    val embDir = s"$root/corpus"
    emb.write.parquet(embDir)
    publishIvfPq(emb, cb, path)
    // pick ids a, b living in DIFFERENT buckets: id a re-embedded with
    // b's vector probes only b's bucket, so a's indexed row is outside
    // the membership guard's partition-pruned read — the documented
    // blind spot, constructed deterministically
    val byBucket = layoutRows(path)
      .select(col("vec_id"), col("bucket").cast("long").as("bkt"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val (aId, aBkt) = byBucket.minBy(_._1)
    val bId = byBucket.collectFirst {
      case (id, bkt) if bkt != aBkt => id
    }.getOrElse(fail("fixture: need two occupied buckets"))
    val vecB = emb.filter(col("vec_id") === bId)
      .select("embedding").head().getSeq[Float](0)
    val mutated = spark.createDataFrame(
        List(org.apache.spark.sql.Row(aId)).asJava,
        org.apache.spark.sql.types.StructType.fromDDL("vec_id BIGINT"))
      .withColumn("embedding", typedlit(vecB))
    // the append SUCCEEDS (the guard cannot see a's old row) and the
    // layout now carries two rows under one id — the poisoned state
    Pq.appendIvfPq(mutated, "vec_id", "embedding", cb, m, dims, 6, path)
    assert(layoutRows(path)
        .filter(col("vec_id") === aId).count() == 2,
      "fixture must reach the duplicate-id layout the blind spot allows")
    // the re-embedding also lands in the corpus the retrain re-encodes
    mutated.write.mode("append").parquet(embDir)
    val before = layoutRows(path).count()
    val e = intercept[IllegalArgumentException] {
      graft.cdc.Maintenance.maintainVectorIndex(spark,
        graft.cdc.Maintenance.VectorIndex(embDir, path,
          m = m, dims = dims, ks = ks, planes = 6, iters = 1))
    }
    assert(e.getMessage.contains("duplicate") &&
        e.getMessage.contains(aId.toString),
      s"retrain must name the duplicated id: ${e.getMessage}")
    // the refusal is pre-install: the old layout still serves intact
    assert(layoutRows(path).count() == before,
      "a refused retrain must leave the serving layout untouched")
  }

  test("recall vs probe-ball radius is monotone and saturates at the " +
      "PQ ceiling (the documented scan/recall knob)") {
    val emb = Tables.embeddings(spark, sf)
    val cb = Pq.trainCodebooks(emb, "vec_id", "embedding", m, dims, ks,
      iters = 2)
    val path = tmpDir("ivfpq-curve")
    Pq.writeIvfPq(emb, "vec_id", "embedding", cb, m, dims, 6, path)
    val exact = SimSearch.bruteForceTopK(emb, "vec_id", "embedding", 0L, 20)
      .select("vec_id").as[Long](Encoders.scalaLong).collect().toSet
    val curve = (0 to 4).map { r =>
      val got = Pq.ivfPqTopK(emb, path, cb, "vec_id", "embedding",
        queryId = 0L, k = 20, m, dims, ks, planes = 6, probeHamming = r,
        overfetch = 6)
        .select("vec_id").as[Long](Encoders.scalaLong).collect().toSet
      exact.intersect(got).size / 20.0
    }
    info(s"recall by probeHamming 0..4: ${curve.mkString(", ")}")
    assert(curve.zip(curve.tail).forall { case (a, b) => b >= a },
      s"widening the probe ball must not lose recall: $curve")
    // radius 6 == scan everything: the ceiling is the PQ ranking
    // quality itself, so the full-ball probe must match the flat ADC
    // search within one overfetch margin
    val flat = Pq.adcTopK(emb,
      spark.read.parquet(path).select("vec_id", "codes"), cb,
      "vec_id", "embedding", queryId = 0L, k = 20, m, dims, ks,
      overfetch = 6)
      .select("vec_id").as[Long](Encoders.scalaLong).collect().toSet
    val fullBall = Pq.ivfPqTopK(emb, path, cb, "vec_id", "embedding",
      queryId = 0L, k = 20, m, dims, ks, planes = 6, probeHamming = 6,
      overfetch = 6)
      .select("vec_id").as[Long](Encoders.scalaLong).collect().toSet
    assert(fullBall == flat,
      "a full probe ball must equal the unpartitioned ADC search")
  }

  test("the ADC candidate stage is shuffle-free over the staged codes") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val df = SparkEntry.queries("llm_simsearch_pq")(spark, sf)
    val takes = planNodes(df.queryExecution.executedPlan).filter(
      _.getClass.getSimpleName.startsWith("TakeOrderedAndProject"))
    assert(takes.nonEmpty, "ADC top-k should plan as TakeOrderedAndProject")
    // the ADC TakeOrdered sits directly on the checkpointed code table:
    // lookup-table transform + per-partition top-k, no exchange below it
    assert(takes.exists(t => !planNodes(t).drop(1).exists(
        _.isInstanceOf[ShuffleExchangeLike])),
      "expected a shuffle-free ADC scan → TakeOrdered stage")
  }
}
