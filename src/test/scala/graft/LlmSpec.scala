package graft

import graft.llm._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** [NORTH-STAR] LLM-pipeline operators: the hash-based paths the DuckDB
  * oracle cannot check (MinHash/SimHash/hyperplane LSH, multimodal binary
  * plumbing), verified with planted near-duplicates. */
class LlmSpec extends SparkSpec {
  import spark.implicits._

  // Dedup.simhash / simsearch columns resolve the registered native
  // functions — register before any test runs them standalone
  graft.functions.VectorFunctions.register(spark)

  /** documents ∪ 20 slightly-edited copies (drop last token, append a
    * marker token) with ids offset by 100000 — true near-dups. */
  private lazy val withPlants: DataFrame = {
    val docs = Tables.documents(spark, sf)
    val plants = docs.filter($"doc_id" < 20).select(
      ($"doc_id" + 100000).as("doc_id"),
      concat(expr("substring(text, 1, length(text) - length(split(text, ' ')[size(split(text, ' ')) - 1]) - 1)"),
        lit(" zz")).as("text"),
      $"lang", $"source", $"n_chars")
    docs.unionByName(plants).cache()
  }

  test("N2: MinHash+LSH finds every planted near-dup pair, no false accepts") {
    val pairs = Dedup.minhashNearDups(withPlants, "doc_id", "text",
      shingleN = 3, numHashes = 16, bands = 8, minJaccardE4 = 7000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val found = pairs.map(p => (p._1, p._2)).toSet
    val expected = (0L until 20L).map(i => (i, i + 100000)).toSet
    assert(expected.subsetOf(found),
      s"missed: ${expected -- found}")
    // INDEPENDENT verification of every reported pair (planted AND
    // original-corpus): recompute Jaccard from string shingles scala-side
    // and apply the pipeline's own acceptance rule — round to e4 first,
    // then compare — so a boundary pair (round(j*1e4) == 7000 with
    // unrounded j fractionally below) is not a false test failure
    val sh = withPlants.select($"doc_id",
      Dedup.shingles($"text", 3).as("sh")).as[(Long, Seq[String])]
      .collect().toMap
    found.foreach { case (a, b) =>
      val (sa, sb) = (sh(a).toSet, sh(b).toSet)
      val jE4 = math.round(10000.0 * sa.intersect(sb).size / sa.union(sb).size)
      assert(jE4 >= 7000, s"false accept ($a,$b) jE4=$jE4")
    }
  }

  test("N2': minhashDedup drops the higher id of every verified pair") {
    val losers = Dedup.minhashNearDups(withPlants, "doc_id", "text")
      .select("id_b").as[Long].collect().toSet
    val kept = Dedup.minhashDedup(withPlants, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(kept.count(_ >= 100000) == 0, "all planted copies dropped")
    assert(kept.size == withPlants.count() - losers.size)
    assert(kept.intersect(losers).isEmpty)
  }

  test("N2 skew: a degenerate bucket is width-capped, normal recall intact") {
    // 10k IDENTICAL texts — every one lands in the SAME bucket in EVERY
    // band (identical shingle set ⇒ identical signature). Uncapped this
    // explodes to ~10k²/2 pairs per band; capped it is O(b·maxBucket).
    val boiler = spark.range(200000, 210000).select(
      $"id".as("doc_id"),
      lit("the quick brown fox jumps over the lazy dog again and again").as("text"))
    val skewed = withPlants.select($"doc_id", $"text").unionByName(boiler)
    val cap = 16
    val t0 = System.nanoTime()
    val pairs = Dedup.minhashNearDups(skewed, "doc_id", "text",
      maxBucket = cap).cache()
    try {
      val boilerPairs = pairs.filter($"id_a" >= 200000).count()
      // bounded: ≤ subBuckets · C(~2·cap, 2) — orders of magnitude under
      // the uncapped C(10000, 2) ≈ 50M
      val subBuckets = math.ceil(10000.0 / cap).toLong
      assert(boilerPairs > 0, "identical docs must still pair within sub-buckets")
      assert(boilerPairs < 5000000L,
        s"pair explosion not capped: $boilerPairs pairs")
      // every sub-bucket collapses internally: ≥ (10000 - subBuckets) losers
      val boilerLosers = pairs.filter($"id_b" >= 200000)
        .select("id_b").distinct().count()
      assert(boilerLosers >= 10000 - subBuckets,
        s"sub-buckets did not collapse: only $boilerLosers losers")
      // normal pairs (the planted near-dups, all in sub-cap buckets) are
      // untouched by the cap
      val found = pairs.filter($"id_a" < 200000 && $"id_b" < 200000)
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      val expected = (0L until 20L).map(i => (i, i + 100000)).toSet
      assert(expected.subsetOf(found), s"cap broke normal recall: ${expected -- found}")
      val secs = (System.nanoTime() - t0) / 1e9
      assert(secs < 120, s"degenerate bucket not bounded: ${secs}s")
    } finally pairs.unpersist()
  }

  test("N2'/N2''''' clone collapse: survivors and clusters equal the " +
      "pairwise semantics on a clone-heavy corpus") {
    // Round 9: minhashDedup and dupClusters derive their linear outputs
    // from the rep-level pair graph when clones exist (the sf5/sf10
    // probes measured C(m,2) pair growth otherwise). At sub-cap scale
    // candidacy is IDENTICAL between the two paths (byte-identical
    // texts have byte-identical signatures, buckets stay under the
    // giant-bucket cap), so the collapsed outputs must EQUAL the
    // direct pairwise derivation — including planted near-dups that
    // cross clone groups, and a shorter-than-the-shingle clone group
    // (HashUtil.shingleHashes emits one whole-run shingle when m < n,
    // so even short identical texts verify at J=1e4 and collapse).
    // 40 copies of 10 docs: pair mass 10·C(41,2) = 8200 ≫ the ~920-doc
    // corpus, so the materiality gate fires (5 copies would sit under
    // it and ride the direct path — by design)
    val base = withPlants.select($"doc_id", $"text")
    val copies = (1 to 40).map(c => base.filter($"doc_id" < 10)
        .select(($"doc_id" + 300000 + c * 1000).as("doc_id"), $"text"))
      .reduce(_ unionByName _)
    val shorts = spark.range(400000, 400003)
      .select($"id".as("doc_id"), lit("zz yy").as("text"))
    val corpus = base.unionByName(copies).unionByName(shorts).cache()
    try {
      // direct pairwise derivation (ground truth at this scale)
      val pairs = Dedup.minhashNearDups(corpus, "doc_id", "text").cache()
      val directLosers = pairs.select("id_b").as[Long].collect().toSet
      val directSurvivors = corpus.select("doc_id").as[Long]
        .collect().toSet -- directLosers
      val gotSurvivors = Dedup.minhashDedup(corpus, "doc_id", "text")
        .select("doc_id").as[Long].collect().toSet
      assert(gotSurvivors == directSurvivors,
        s"collapsed survivors diverged: extra=${gotSurvivors -- directSurvivors} " +
          s"missing=${directSurvivors -- gotSurvivors}")
      // clusters: components over the direct pair graph
      val directCc = Cluster.connectedComponents(
          pairs.select("id_a", "id_b"))
        .as[(Long, Long)].collect().toMap
      val directSizes = directCc.groupBy(_._2).map { case (l, m) => l -> m.size }
      val got = Cluster.dupClusters(corpus, "doc_id", "text")
        .as[(Long, Long, Long)].collect()
      val gotMap = got.map(r => r._2 -> r._1).toMap
      assert(gotMap == directCc,
        s"collapsed clusters diverged (got ${gotMap.size} rows, " +
          s"direct ${directCc.size})")
      got.foreach { case (label, id, size) =>
        assert(size == directSizes(label),
          s"cluster $label size $size != direct ${directSizes(label)}")
      }
      // the short clone group is a genuine J=1e4 clique: min id
      // survives, the other two lose, all three cluster at label
      // 400000 with size 3
      assert(gotSurvivors.contains(400000L) &&
          !gotSurvivors.contains(400001L) && !gotSurvivors.contains(400002L),
        "short clone group must keep exactly its min id")
      assert(gotMap.get(400001L).contains(400000L) &&
          gotMap.get(400002L).contains(400000L),
        "short clones must cluster under their min id")
      pairs.unpersist()
    } finally corpus.unpersist()
  }

  test("N2 skew: the bucket-cap window adds no extra exchange") {
    // the groupBy(band, bucket, sub) must reuse the window's
    // (band, bucket) hash partitioning. Self-baselining: compare the
    // capped plan against the cap-disabled plan (no window at all) —
    // equal exchange counts means the cap rides existing shuffles,
    // whatever Spark's baseline count is.
    def exchanges(df: org.apache.spark.sql.DataFrame): Int =
      "Exchange hashpartitioning".r
        .findAllIn(df.queryExecution.executedPlan.toString).size
    val capped = exchanges(Dedup.minhashNearDups(withPlants, "doc_id", "text"))
    val plain = exchanges(Dedup.minhashNearDups(withPlants, "doc_id", "text",
      maxBucket = Int.MaxValue))
    assert(capped == plain,
      s"bucket cap bought ${capped - plain} extra exchange(s): $plain -> $capped")
  }

  test("N2'''' skew: embedding giant bucket capped, planted pairs intact") {
    val base = Tables.embeddings(spark, sf).limit(100)
      .select($"vec_id", $"embedding")
    // 2000 identical vectors → one hyperplane bucket
    val one = base.filter($"vec_id" === 0).select($"embedding").head().getSeq[Float](0)
    val clones = spark.range(300000, 302000).select(
      $"id".as("vec_id"),
      typedLit(one).cast("array<float>").as("embedding"))
    val skewed = base.unionByName(clones)
    val pairs = Dedup.embeddingNearDups(skewed, "vec_id", "embedding",
      maxBucket = 32, minCosE6 = 999000).cache()
    try {
      val clonePairs = pairs.filter($"id_a" >= 300000).count()
      assert(clonePairs > 0 && clonePairs < 200000L,
        s"clone-bucket pairs not capped: $clonePairs")
      val cloneLosers = pairs.filter($"id_b" >= 300000)
        .select("id_b").distinct().count()
      assert(cloneLosers >= 2000 - math.ceil(2000.0 / 32).toLong,
        s"clone sub-buckets did not collapse: $cloneLosers")
    } finally pairs.unpersist()
  }

  test("N2'': SimHash puts planted pairs within small hamming distance") {
    val sigs = withPlants
      .select($"doc_id", Dedup.simhash($"text").as("sig"))
      .as[(Long, Long)].collect().toMap
    val dists = (0L until 20L).map { i =>
      java.lang.Long.bitCount(sigs(i) ^ sigs(i + 100000))
    }
    // edited docs differ by ~1 token: signatures nearly identical
    assert(dists.forall(_ <= 12), s"dists=$dists")
    // distinct docs are far apart on average
    val far = java.lang.Long.bitCount(sigs(1L) ^ sigs(2L))
    assert(far > 12, s"unrelated docs too close: $far")
  }

  test("N2'': codegen SimHashSig is bit-identical to the 64-lambda HOF form") {
    val docs = Tables.documents(spark, sf)
    val th = transform(TextOps.tokens($"text"), t => xxhash64(t))
    val both = docs.select(
      graft.functions.VectorFunctions.simhashSig(th).as("fast"),
      Dedup.simhashOfHashes(th).as("ref"))
    assert(both.filter($"fast" =!= $"ref").isEmpty)
  }

  test("N2'': simhashNearDups candidate generation honors the pigeonhole bound") {
    // the WHOLE corpus + plants: completeness below is the committed
    // equality proof vs brute-force all-pairs hamming (the simhash
    // family's no-DuckDB-oracle substitute — engine hash functions
    // differ across engines by construction)
    val small = withPlants
    val pairs = Dedup.simhashNearDups(small, "doc_id", "text", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // every reported pair is within the bound …
    assert(pairs.forall(_._3 <= 3))
    // … and completeness: recompute exact distances, every pair ≤3 is found
    val sigs = small.select($"doc_id", Dedup.simhash($"text").as("sig"))
      .as[(Long, Long)].collect()
    val expect = for {
      (a, sa) <- sigs; (b, sb) <- sigs
      if a < b && java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (a, b)
    assert(pairs.map(p => (p._1, p._2)).toSet == expect.toSet)
  }

  test("N2'''': embedding near-dup finds planted perturbed vectors") {
    val emb = Tables.embeddings(spark, sf)
    // plant: copy 10 vectors with one component nudged by 1e-3
    val plants = emb.filter($"vec_id" < 10).select(
      ($"vec_id" + 100000).as("vec_id"),
      transform($"embedding",
        (x, i) => when(i === 0, x + lit(0.001f)).otherwise(x)).as("embedding"),
      $"label")
    val all = emb.unionByName(plants)
    val pairs = Dedup.embeddingNearDups(all, "vec_id", "embedding",
      planes = 12, minCosE6 = 999000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (0L until 10L).map(i => (i, i + 100000)).toSet
    assert(expected.subsetOf(pairs), s"missed: ${expected -- pairs}")
  }

  test("N2''''': semantic dedup equals the naive within-cluster reference") {
    val emb = Tables.embeddings(spark, sf)
    val cents = emb.filter($"vec_id" < 8)
      .select($"vec_id".as("centroid_id"), $"embedding".as("cvec"))
    val got = Dedup.semanticDedup(emb, "vec_id", "embedding", cents,
      minCosE6 = 950000)
    val assigned = graft.llm.Ivf.assign(emb, "vec_id", "embedding", cents)
      .select($"vec_id", $"centroid_id")
      .join(emb.select($"vec_id", $"embedding"), "vec_id")
    val x = assigned.select($"vec_id".as("ia"), $"centroid_id".as("ca"),
      $"embedding".as("va"))
    val y = assigned.select($"vec_id".as("ib"), $"centroid_id".as("cb"),
      $"embedding".as("vb"))
    val dropped = x.crossJoin(y).filter($"ca" === $"cb" && $"ia" < $"ib")
      .filter(SimSearch.cosineE6($"va", $"vb") >= 950000)
      .select($"ib".as("vec_id")).distinct()
    val want = assigned.select("vec_id", "centroid_id")
      .join(dropped, Seq("vec_id"), "left_anti")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "cluster-scoped dedup diverges from the naive within-cluster form")
  }

  test("N2''''': semantic dedup drops planted clones; the cap only adds survivors") {
    val emb = Tables.embeddings(spark, sf)
    val cents = emb.filter($"vec_id" < 8)
      .select($"vec_id".as("centroid_id"), $"embedding".as("cvec"))
    val plants = emb.filter($"vec_id" < 5).select(
      ($"vec_id" + 200000).as("vec_id"), $"embedding", $"label")
    val all = emb.unionByName(plants)
    val surv = Dedup.semanticDedup(all, "vec_id", "embedding", cents,
      minCosE6 = 999000).select("vec_id").as[Long].collect().toSet
    assert((200000L until 200005L).forall(!surv.contains(_)),
      "identical clones share their original's cluster and must be dropped")
    // hash-subdividing a cell can only LOSE candidate pairs, never
    // invent one: capped survivors ⊇ uncapped survivors
    val capped = Dedup.semanticDedup(all, "vec_id", "embedding", cents,
      minCosE6 = 999000, maxCluster = 16)
      .select("vec_id").as[Long].collect().toSet
    assert(surv.subsetOf(capped),
      s"cap dropped extra rows: ${surv -- capped}")
  }

  test("N3'''': hybrid fusion equals a driver-side RRF recomputation") {
    val docs = Tables.documents(spark, sf)
    val emb = Tables.embeddings(spark, sf)
    val terms = Seq("spark", "join", "window")
    val got = SimSearch.hybridTopK(docs, emb, "doc_id", "vec_id",
      "embedding", terms, queryId = 0L, k = 20)
      .select("doc_id", "rrf_e9").as[(Long, Long)].collect().toMap
    // pools recomputed from raw scores (scores from the same column
    // exprs the oracle pins; ranking + fusion redone in plain Scala)
    val n = docs.count().toDouble
    val tf = docs.select($"doc_id", explode(TextOps.tokens($"text")).as("t"))
      .filter($"t".isin(terms: _*))
      .groupBy($"doc_id", $"t").count()
      .as[(Long, String, Long)].collect()
    val dfm = tf.groupBy(_._2).map { case (t, rs) => t -> rs.length }
    val kwScore = tf.groupBy(_._1).map { case (id, rs) =>
      id -> rs.map { case (_, t, c) =>
        c * math.round(math.log(n / dfm(t)) * 10000) }.sum }
    val kwRank = kwScore.toSeq.sortBy { case (id, s) => (-s, id) }
      .take(100).zipWithIndex.map { case ((id, _), i) => id -> (i + 1L) }.toMap
    val qv = emb.filter($"vec_id" === 0L).select($"embedding").head()
    val cos = emb.select($"vec_id",
      SimSearch.cosineE6($"embedding", typedLit(qv.getSeq[Float](0))).as("c"))
      .as[(Long, Long)].collect()
    val vecRank = cos.sortBy { case (id, c) => (-c, id) }
      .take(100).zipWithIndex.map { case ((id, _), i) => id -> (i + 1L) }.toMap
    val fused = (kwRank.keySet ++ vecRank.keySet).toSeq.map { id =>
      id -> (kwRank.get(id).map(r => 1000000000L / (60 + r)).getOrElse(0L) +
        vecRank.get(id).map(r => 1000000000L / (60 + r)).getOrElse(0L))
    }.sortBy { case (id, s) => (-s, id) }.take(20).toMap
    assert(got == fused, s"fusion mismatch: got $got want $fused")
  }

  test("N3'''': indexed hybrid == scan hybrid, reading only the terms' buckets") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val docs = Tables.documents(spark, sf)
    val emb = Tables.embeddings(spark, sf)
    val terms = Seq("spark", "join", "window")
    val idx = tmpDir("graft-postings-spec")
    SimSearch.buildPostingsIndex(docs, "doc_id", "text", idx)
    val scan = SimSearch.hybridTopK(docs, emb, "doc_id", "vec_id",
      "embedding", terms, queryId = 0L, k = 20).orderBy("doc_id")
    val served = SimSearch.hybridTopKIndexed(emb, idx, "doc_id", "vec_id",
      "embedding", terms, queryId = 0L, k = 20).orderBy("doc_id")
    assert(served.collect().toSeq == scan.collect().toSeq,
      "postings-served hybrid diverges from the scan form")
    // the lexical side must be partition-pruned to ≤ |terms| buckets
    served.queryExecution.executedPlan.execute().count()
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case s: QueryStageExec => scans(s.plan)
      case r: ReusedExchangeExec => scans(r.child)
      case f: FileSourceScanExec => Seq(f)
      case o => o.children.flatMap(scans)
    }
    val postScans = scans(served.queryExecution.executedPlan).filter(
      _.relation.location.rootPaths.exists(_.toString.contains(idx)))
    assert(postScans.nonEmpty, "expected parquet scans of the index")
    // pruned either by a tbkt partition filter (the df generation) or
    // by reading only the terms' tbkt= leaf dirs (the postings
    // generations, enumerated off the manifest)
    val termBkts = terms.map(SimSearch.termBucket).distinct
      .map(b => s"tbkt=$b").toSet
    assert(postScans.forall(sc => sc.partitionFilters.nonEmpty ||
        sc.relation.location.rootPaths.forall(p => termBkts(p.getName))),
      "index scans must read only the terms' tbkt buckets")
    val maxBkts = termBkts.size
    postScans.foreach { sc =>
      val files = sc.metrics("numFiles").value
      assert(files <= maxBkts,
        s"index scan read $files files for $maxBkts term buckets")
    }
  }

  test("N3@idx: IVF-PQ-pooled MMR and hybrid track their exact-pool forms") {
    val emb = Tables.embeddings(spark, sf)
    val queries = LlmQueries.queries
    // MMR: the greedy selection over the high-recall IVF-PQ pool must
    // mostly agree with the exact-pool selection (identical algebra,
    // pool recall is the only difference — PqSpec pins that)
    val exactMmr = queries("llm_mmr_rerank")(spark, sf)
      .select("vec_id").as[Long].collect().toSet
    val ivfMmr = queries("llm_mmr_rerank_ivfpq")(spark, sf)
      .select("vec_id").as[Long].collect().toSet
    assert(ivfMmr.size == 10, s"ivfpq MMR returned ${ivfMmr.size} rows")
    val mmrOverlap = (exactMmr & ivfMmr).size
    assert(mmrOverlap >= 6,
      s"ivfpq-pooled MMR overlaps exact-pool MMR on only $mmrOverlap of 10")
    // hybrid: fused top-20 sets track, and the LEXICAL ranks of common
    // docs are bit-equal (same postings pool on both sides)
    val exactHy = queries("llm_hybrid_search")(spark, sf)
      .select($"doc_id", $"rank_kw").as[(Long, Option[Long])]
      .collect().toMap
    val ivfHy = queries("llm_hybrid_search_ivfpq")(spark, sf)
      .select($"doc_id", $"rank_kw").as[(Long, Option[Long])]
      .collect().toMap
    assert(ivfHy.size == 20, s"ivfpq hybrid returned ${ivfHy.size} rows")
    val hyOverlap = (exactHy.keySet & ivfHy.keySet).size
    assert(hyOverlap >= 14,
      s"ivfpq-pooled hybrid overlaps the exact form on only $hyOverlap of 20")
    (exactHy.keySet & ivfHy.keySet).foreach { id =>
      assert(exactHy(id) == ivfHy(id),
        s"lexical rank for doc $id differs: ${exactHy(id)} vs ${ivfHy(id)}")
    }
  }

  test("N3'''': incremental postings append is bit-identical to a rebuild") {
    val docs = Tables.documents(spark, sf)
    val emb = Tables.embeddings(spark, sf)
    val terms = Seq("spark", "join", "window")
    val old = docs.filter($"doc_id" % 5 =!= 0L)
    val batch = docs.filter($"doc_id" % 5 === 0L)
    val appended = tmpDir("graft-postings-inc")
    SimSearch.buildPostingsIndex(old, "doc_id", "text", appended)
    SimSearch.appendPostingsIndex(batch, "doc_id", "text", appended)
    val rebuilt = tmpDir("graft-postings-full")
    SimSearch.buildPostingsIndex(docs, "doc_id", "text", rebuilt)
    val a = SimSearch.hybridTopKIndexed(emb, appended, "doc_id", "vec_id",
      "embedding", terms, queryId = 0L, k = 20).orderBy("doc_id")
    val b = SimSearch.hybridTopKIndexed(emb, rebuilt, "doc_id", "vec_id",
      "embedding", terms, queryId = 0L, k = 20).orderBy("doc_id")
    assert(a.collect().toSeq == b.collect().toSeq,
      "appended index diverges from a fresh rebuild")
    // the scoring integers themselves agree, not just the fused top-k
    def dfOf(idx: String) = spark.read.parquet(
      graft.streaming.ManifestSwap.readPath(spark, s"$idx/df").get)
    val dfA = dfOf(appended)
      .select("term", "df").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val dfB = dfOf(rebuilt)
      .select("term", "df").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dfA == dfB, "df tables diverge after append")
  }

  test("N3'''''': MMR greedy invariant re-verified from an independent cosine matrix") {
    val emb = Tables.embeddings(spark, sf)
    val k = 8
    val got = SimSearch.mmrRerank(emb, "vec_id", "embedding", 0L, k,
      poolSize = 30, lambdaE2 = 70)
      .orderBy("mmr_rank")
      .select("vec_id").as[Long].collect().toSeq
    assert(got.size == k && got.distinct.size == k)
    // independent ground data: the exact pool and its cosine matrix
    val pool = SimSearch.bruteForceTopK(emb, "vec_id", "embedding", 0L, 30)
      .as[(Long, Long)].collect().toMap
    val pv = emb.filter($"vec_id".isin(pool.keys.toSeq: _*))
      .select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])].collect().toMap
    def cos(a: Long, b: Long): Long = {
      val (x, y) = (pv(a), pv(b))
      val dot = x.zip(y).map { case (p, q) => p.toDouble * q.toDouble }.sum
      val na = math.sqrt(x.map(v => v.toDouble * v.toDouble).sum)
      val nb = math.sqrt(y.map(v => v.toDouble * v.toDouble).sum)
      math.round(1000000.0 * dot / (na * nb))
    }
    var chosen = List.empty[Long]
    for (pick <- got) {
      def obj(id: Long): Long = {
        val pen = if (chosen.isEmpty) 0L else chosen.map(cos(id, _)).max
        70L * pool(id) - 30L * pen
      }
      val rest = pool.keySet -- chosen
      val bestObj = rest.map(obj).max
      assert(obj(pick) == bestObj,
        s"pick $pick is not a step argmax: ${obj(pick)} < $bestObj")
      val tied = rest.filter(obj(_) == bestObj)
      assert(pick == tied.min, s"tie not broken to min id: $pick vs $tied")
      chosen = pick :: chosen
    }
  }

  test("N3'''''': MMR skips a planted clone that plain top-k keeps") {
    val emb = Tables.embeddings(spark, sf)
    // clone the query's nearest neighbor: plain top-k now returns both
    // copies back to back; MMR must keep only one among its picks
    val top1 = SimSearch.bruteForceTopK(emb, "vec_id", "embedding", 0L, 1)
      .select("vec_id").as[Long].head()
    val clone = emb.filter($"vec_id" === top1).select(
      lit(900000L).as("vec_id"), $"embedding", $"label")
    val all = emb.unionByName(clone)
    val plain = SimSearch.bruteForceTopK(all, "vec_id", "embedding", 0L, 10)
      .select("vec_id").as[Long].collect().toSet
    assert(plain.contains(top1) && plain.contains(900000L),
      "plain top-k should keep both copies")
    val mmr = SimSearch.mmrRerank(all, "vec_id", "embedding", 0L, 10,
      poolSize = 30, lambdaE2 = 70)
      .select("vec_id").as[Long].collect().toSet
    assert(!(mmr.contains(top1) && mmr.contains(900000L)),
      "MMR kept both copies of an identical vector")
  }

  test("N3': ANN top-k achieves high recall vs the exact baseline") {
    val emb = Tables.embeddings(spark, sf)
    val exact = SimSearch.bruteForceTopK(emb, "vec_id", "embedding", 0L, 20)
      .select("vec_id").as[Long].collect().toSet
    val ann = SimSearch.annTopK(emb, "vec_id", "embedding", 0L, 20,
      planes = 8, probeHamming = 3)
      .select("vec_id").as[Long].collect().toSet
    val recall = exact.intersect(ann).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall=$recall (ann=${ann.size} candidates)")
    // and the ANN scores it does return are genuine (subset verified by
    // identical cosine computation) — top-1 must survive bucketing
    assert(ann.nonEmpty)
  }

  test("N3'': IVF layout prunes partitions for a bucket probe") {
    val emb = Tables.embeddings(spark, sf)
    val path = tmpDir("ivf")
    SimSearch.writeBucketed(emb, "vec_id", "embedding", planes = 6, path)
    // the layout's one committed generation, bucket-partitioned
    val corpus = spark.read.parquet(
      graft.streaming.ManifestSwap.readPath(spark, path).get)
    // the query's bucket
    graft.functions.VectorFunctions.register(spark)
    val qBucket = corpus.filter($"vec_id" === 0L)
      .select($"bucket").as[Long].head()
    val probe = corpus.filter($"bucket" === qBucket)
    // partition pruning: only the probed bucket's files are scanned
    val scanned = probe.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount
    }
    assert(scanned.nonEmpty && scanned.forall(_ == 1),
      s"probe must scan exactly one partition dir, scanned=$scanned")
    // and the probe finds the query vector plus its bucket-mates
    val ids = probe.select($"vec_id").as[Long].collect().toSet
    assert(ids.contains(0L))
    assert(ids.size < emb.count(), "bucketing must actually partition the corpus")
  }

  test("N3': bucketed ANN == in-memory ANN, scanning only the probed buckets") {
    val emb = Tables.embeddings(spark, sf)
    val path = tmpDir("ivf-ann")
    SimSearch.writeBucketed(emb, "vec_id", "embedding", planes = 8, path)
    val bucketed = SimSearch.annTopKBucketed(emb, "vec_id", "embedding",
      queryId = 0L, k = 20, layoutPath = path)
    val inMem = SimSearch.annTopK(emb, "vec_id", "embedding", 0L, 20)
    assert(bucketed.collect().toSeq.map(r => (r.getLong(0), r.getLong(1))) ==
      inMem.collect().toSeq.map(r => (r.getLong(0), r.getLong(1))),
      "IVF-served ANN must return exactly the in-memory ANN result")
    // the scan is pruned to the probe set: the bucket dirs read ==
    // layout dirs that are probe buckets, strictly fewer than the
    // layout's dirs (the published layout is read as its committed
    // generation's probed leaf dirs)
    val layout = spark.read.parquet(
      graft.streaming.ManifestSwap.readPath(spark, path).get)
    val qBucket = layout.filter($"vec_id" === 0L)
      .select($"bucket".cast("long")).as[Long].head()
    val probes = SimSearch.probeBuckets(qBucket, planes = 8, probeHamming = 2).toSet
    val layoutBuckets = layout
      .select($"bucket".cast("long")).distinct().as[Long].collect().toSet
    val expectScanned = layoutBuckets.intersect(probes)
    val scanned = bucketed.inputFiles.toSet
      .map((f: String) => new org.apache.hadoop.fs.Path(f).getParent.getName)
    assert(scanned == expectScanned.map(b => s"bucket=$b"),
      s"expected a scan of the probed partitions $expectScanned, got $scanned")
    assert(expectScanned.size < layoutBuckets.size,
      "probe must not touch the whole layout")
  }

  test("N3': incremental ingest — append serves the union, no rebuild") {
    val emb = Tables.embeddings(spark, sf)
    val corpus = emb.filter($"vec_id" % 7 =!= 0 || $"vec_id" === 0L)
    val batch = emb.filter($"vec_id" % 7 === 0 && $"vec_id" =!= 0L)
    val grown = tmpDir("ivf-grow")
    val rebuilt = tmpDir("ivf-rebuilt")
    SimSearch.writeBucketed(corpus, "vec_id", "embedding", planes = 8,
      grown)
    SimSearch.appendBucketed(batch, "vec_id", "embedding", planes = 8,
      grown)
    SimSearch.writeBucketed(emb, "vec_id", "embedding", planes = 8,
      rebuilt)
    def top(path: String) =
      SimSearch.annTopKBucketed(emb, "vec_id", "embedding", queryId = 0L,
        k = 20, layoutPath = path)
        .as[(Long, Long)].collect().toSeq
    assert(top(grown) == top(rebuilt),
      "an appended layout must serve exactly what a full rebuild serves")
    // growth bounded: at most one extra file per batch-touched bucket
    val batchBuckets = batch.select(
        SimSearch.hyperplaneSignature($"embedding", 8).as("b"))
      .distinct().count()
    def files(p: String) = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(p)).count(_.getName.endsWith(".parquet"))
    }
    assert(files(grown) <= files(rebuilt) + batchBuckets,
      "append may add at most one file per touched bucket")
  }

  test("N3': probeBuckets enumerates exactly the hamming ball") {
    val probes = SimSearch.probeBuckets(0b10110L, planes = 8, probeHamming = 2)
    assert(probes.size == 1 + 8 + 28, s"got ${probes.size}")
    assert(probes.toSet.size == probes.size, "duplicates in probe set")
    assert(probes.forall(p =>
      java.lang.Long.bitCount(p ^ 0b10110L) <= 2))
    assert(probes.contains(0b10110L), "ball must include the center")
  }

  test("N3: brute-force top-k is ordered and self-consistent") {
    val emb = Tables.embeddings(spark, sf)
    val rows = SimSearch.bruteForceTopK(emb, "vec_id", "embedding", 0L, 20)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.length == 20)
    assert(rows.map(_._2).sliding(2).forall(w => w(0) >= w(1)), "desc order")
    assert(!rows.map(_._1).contains(0L), "query excluded")
  }

  test("N5: multimodal pipeline — binary payloads, typed meta, stub decode") {
    val media = Multimodal.mediaFromDocuments(Tables.documents(spark, sf))
    val feats = Multimodal.extractFeatures(media).cache()
    val docs = Tables.documents(spark, sf)
    assert(feats.count() == docs.count())
    // payload round-trip: nBytes equals the utf-8 BYTE length of the
    // source text (octet_length, not length — char count diverges the
    // moment the corpus contains a non-ASCII character)
    val lens = docs.select($"doc_id", octet_length($"text").cast("int").as("n"))
      .as[(Long, Int)].collect().toMap
    val got = feats.collect()
    assert(got.forall(f => f.nBytes == lens(f.mediaId)))
    assert(got.forall(f => f.thumbnail.length == math.min(8, f.nBytes)))
    // video records get frame counts from duration; others exactly 1
    assert(got.filter(_.kind == "video").forall(_.frameCount >= 1))
    assert(got.filter(_.kind != "video").forall(_.frameCount == 1))

    val frames = Multimodal.sampleFrames(media, stride = 4, frameBytes = 16)
    assert(frames.count() > 0)
    assert(frames.select(max($"frame_idx")).head().getInt(0) % 4 == 0)

    val small = Multimodal.resize(media, maxBytes = 32)
    assert(small.select(max(length($"payload_small"))).head().getInt(0) <= 32)
  }

  test("N6: deterministic sample is stable, unbiased-ish, and id-pure") {
    val docs = Tables.documents(spark, sf)
    val once = Curate.sampleDeterministic(docs, "doc_id", 1000)
      .select("doc_id").as[Long].collect().toSet
    val again = Curate.sampleDeterministic(docs, "doc_id", 1000)
      .select("doc_id").as[Long].collect().toSet
    assert(once == again, "sample must be a pure function of the id")
    val frac = once.size.toDouble / docs.count()
    assert(frac > 0.05 && frac < 0.15, s"10% target, got $frac")
    // monotone: widening the keep threshold only adds rows
    val wider = Curate.sampleDeterministic(docs, "doc_id", 2000)
      .select("doc_id").as[Long].collect().toSet
    assert(once.subsetOf(wider))
  }

  test("N6'': decontamination removes eval docs AND their exact dups") {
    val docs = Tables.documents(spark, sf)
    // plant an exact copy (new id, same text) of eval doc 0
    val evalDoc = docs.filter($"doc_id" === 0)
    val planted = evalDoc.select(lit(900000L).as("doc_id"), $"text",
      $"lang", $"source", $"n_chars")
    val corpus = docs.unionByName(planted)
    val evalSet = docs.filter($"doc_id" % 97 === 0) // includes doc 0
    val kept = Curate.decontaminate(corpus, evalSet, "text")
      .select("doc_id").as[Long].collect().toSet
    assert(!kept.contains(0L), "eval doc itself removed")
    assert(!kept.contains(900000L),
      "an exact duplicate of an eval doc is leakage — must be removed")
    assert(kept.nonEmpty && kept.exists(_ % 97 != 0))
  }

  test("N6''': repetition ratio — 0 for all-unique, high for looped text") {
    val rows = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),            // all unique 3-grams
      (2L, "spam ham spam ham spam ham spam ham spam ham"),   // looped
      (3L, "ab")                                              // shorter than n
    ).toDF("doc_id", "text")
      .select($"doc_id", {
        graft.functions.VectorFunctions.register(spark)
        Curate.repetitionE4($"text", 3).as("rep_e4")
      })
      .as[(Long, Long)].collect().toMap
    assert(rows(1L) == 0L, s"unique text scored ${rows(1L)}")
    assert(rows(2L) >= 7000L, s"looped text scored ${rows(2L)}")
    assert(rows(3L) == 0L, "sub-n text is one unique shingle")
  }

  test("rolling hash is order-sensitive where md5-of-sorted-content is not") {
    val df = Seq((1L, "a b c"), (2L, "c b a")).toDF("id", "text")
    val rh = df.select(TextOps.rollingHash($"text")).as[Long].collect()
    assert(rh(0) != rh(1), "permutation must change the rolling hash")
    val same = Seq((1L, "a b c"), (2L, "a b c")).toDF("id", "text")
      .select(TextOps.rollingHash($"text")).as[Long].collect()
    assert(same(0) == same(1))
  }

  test("N1'': containment dedup equals the naive all-pairs join") {
    // the min-shingle pigeonhole must be output-invisible: every
    // token-aligned (inner, outer) containment pair survives blocking
    val got = SparkEntry.queries("llm_dedup_contained")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
    val a = docs.select($"doc_id".as("inner_id"), $"text".as("ta"))
    val b = docs.select($"doc_id".as("outer_id"), $"text".as("tb"))
    val want = a.crossJoin(b)
      .filter($"inner_id" =!= $"outer_id" &&
        length($"ta") < length($"tb") &&
        size(split($"ta", " ")) >= 8 &&
        contains(concat(lit(" "), $"tb", lit(" ")),
          concat(lit(" "), $"ta", lit(" "))))
      .select("inner_id", "outer_id").orderBy("inner_id", "outer_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(want.nonEmpty, "fixture should contain truncation dups")
    assert(got.sameElements(want))
  }

  test("N1'': the containment verify runs once per pair, above the " +
      "pair-dedup aggregate, with texts out of the candidate exchange") {
    // a pair can collide on several shingles; if Catalyst pushed the
    // substring Contains into the candidate join it would run per
    // collision AND full texts would ride the distinct exchange as
    // grouping keys — the declared shape dedups (inner_id, outer_id)
    // first and joins texts back for ONE verify per pair
    val df = SparkEntry.queries("llm_dedup_contained")(spark, sf)
    val plan = df.queryExecution.executedPlan
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    def hasPairDedupBelow(p: org.apache.spark.sql.execution.SparkPlan) =
      planNodes(p).exists {
        case a: BaseAggregateExec =>
          a.groupingExpressions.map(_.name).toSet == Set("inner_id", "outer_id")
        case _ => false
      }
    // the verify may surface as a Filter or get pushed into the text
    // join-back's condition — both run once per pair PROVIDED the node
    // sits above the pair-dedup aggregate (below it, a pair colliding
    // on several shingles would re-verify per collision)
    val verifies = planNodes(plan).collect {
      case f: FilterExec if f.condition.toString.contains("Contains") => f
      case j: BaseJoinExec
          if j.condition.exists(_.toString.contains("Contains")) => j
    }
    assert(verifies.nonEmpty, "the substring verify must appear in the plan")
    assert(verifies.forall(hasPairDedupBelow),
      "every Contains must sit ABOVE the (inner_id, outer_id) " +
        "pair-dedup aggregate")
    // and the candidate shuffle below the aggregate never carries text:
    // every exchange under the pair-dedup stage moves only ids/lengths/
    // hashes, so long documents don't ride the exchanges as payload
    val dedups = planNodes(plan).collect {
      case a: BaseAggregateExec if a.groupingExpressions.map(_.name).toSet ==
        Set("inner_id", "outer_id") => a
    }
    assert(dedups.nonEmpty)
    val belowExchanges = dedups.flatMap(planNodes).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
      case e: org.apache.spark.sql.execution.exchange.BroadcastExchangeLike => e
    }
    assert(belowExchanges.forall(e => !e.output.exists(a =>
        a.name.contains("text"))),
      "candidate-stage exchanges must not carry text columns")
  }
}
