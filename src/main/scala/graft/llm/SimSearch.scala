package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions

/** [NORTH-STAR] Similarity search over an embedding column
  * (BASELINE.json mandate): brute-force cosine top-k as the exact
  * baseline, and a random-hyperplane-LSH bucketed variant as the scale
  * path (probe only the query's bucket instead of the full corpus).
  *
  * The dot product is the native codegen'd VecDot expression
  * (graft.functions.VectorExprs) — promoted from a zip_with/aggregate
  * higher-order form after BENCH showed interpreted-lambda overhead
  * dominating; summation stays in index order so results remain
  * bit-deterministic and match the DuckDB oracle exactly after integer
  * scaling.
  *
  * Scale notes (100 TB): brute-force top-k is a map + TakeOrderedAndProject
  * — one pass, no shuffle, k rows to the driver; it parallelizes
  * perfectly but reads the whole corpus. The LSH variant prunes the scan
  * to matching buckets; with the corpus written partitioned by bucket
  * (partitionBy(bucket)), partition pruning turns a 100 TB scan into a
  * few-GB one. Verified by recall tests against the exact baseline.
  */
object SimSearch {
  import VectorFunctions.vecDot

  /** Cosine similarity scaled to 1e6 integer (deterministic compare).
    * Requires VectorFunctions.register on the session. */
  def cosineE6(a: Column, b: Column): Column =
    round(lit(1000000.0) * vecDot(a, b) /
      (sqrt(vecDot(a, a)) * sqrt(vecDot(b, b)))).cast("long")

  /** N3 — exact brute-force cosine top-k against the embedding of
    * `queryId` drawn from the corpus itself. The query vector is a
    * one-row broadcast; the plan is scan → map → TakeOrderedAndProject. */
  def bruteForceTopK(emb: DataFrame, idCol: String, vecCol: String,
                     queryId: Long, k: Int): DataFrame = {
    VectorFunctions.register(emb.sparkSession)
    val q = emb.filter(col(idCol) === queryId)
      .select(col(vecCol).as("qv"))
    emb.join(broadcast(q))
      .filter(col(idCol) =!= queryId)
      .select(col(idCol), cosineE6(col(vecCol), col("qv")).as("cos_e6"))
      .orderBy(col("cos_e6").desc, col(idCol))
      .limit(k)
  }

  /** Deterministic pseudo-random hyperplane, materialized driver-side as
    * a literal vector so the per-row projection is one codegen'd VecDot.
    * Component (p, i) = (xxhash64(p, i) mod 2001 - 1000) / 1000 — unit
    * scale, reproducible, no RNG state. */
  private[llm] def planeVec(p: Int, dims: Int): Array[Double] =
    (0 until dims).map { i =>
      val h = XxHash64(Seq(Literal(p), Literal(i)), 42L).eval(null)
        .asInstanceOf[Long]
      (((h % 2001) + 2001) % 2001 - 1000).toDouble / 1000.0
    }.toArray

  /** Sign-bit signature of `planes` hyperplanes packed into a long — the
    * LSH bucket key. Vectors with small angle agree on most sign bits,
    * so near neighbors land in the same bucket. */
  def hyperplaneSignature(vec: Column, planes: Int, dims: Int = 64): Column =
    (0 until planes).map { p =>
      when(vecDot(vec, typedLit(planeVec(p, dims))) > 0, lit(1L << p))
        .otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** N3' — ANN top-k: restrict the scan to corpus rows whose bucket is
    * within `probeHamming` bits of the query's bucket (multi-probe), then
    * exact-rerank. Same output schema as bruteForceTopK. */
  def annTopK(emb: DataFrame, idCol: String, vecCol: String,
              queryId: Long, k: Int, planes: Int = 8,
              probeHamming: Int = 2): DataFrame = {
    VectorFunctions.register(emb.sparkSession)
    val withSig = emb.select(col(idCol), col(vecCol),
      hyperplaneSignature(col(vecCol), planes).as("bucket"))
    val q = withSig.filter(col(idCol) === queryId)
      .select(col(vecCol).as("qv"), col("bucket").as("qbucket"))
    withSig.join(broadcast(q))
      .filter(col(idCol) =!= queryId &&
        bit_count(col("bucket").bitwiseXOR(col("qbucket"))) <= probeHamming)
      .select(col(idCol), cosineE6(col(vecCol), col("qv")).as("cos_e6"))
      .orderBy(col("cos_e6").desc, col(idCol))
      .limit(k)
  }

  /** N3'' — top-k via the typed TopKAgg Aggregator (SURVEY.md §2.10):
    * per-partition k-row buffers merged into one, instead of a sort.
    * Identical output contract to bruteForceTopK (same oracle). */
  def topKAggregated(emb: DataFrame, idCol: String, vecCol: String,
                     queryId: Long, k: Int): DataFrame = {
    VectorFunctions.register(emb.sparkSession)
    import graft.functions.{Scored, TopKAgg}
    val spark = emb.sparkSession
    import spark.implicits._
    val q = emb.filter(col(idCol) === queryId).select(col(vecCol).as("qv"))
    val scored = emb.join(broadcast(q))
      .filter(col(idCol) =!= queryId)
      .select(col(idCol).as("id"), cosineE6(col(vecCol), col("qv")).as("score"))
      .as[Scored]
    scored.select(TopKAgg.topK(k).name("topk"))
      .select(explode(col("topk")).as("s"))
      .select(col("s.id").as(idCol), col("s.score").as("cos_e6"))
      .orderBy(col("cos_e6").desc, col(idCol))
  }

  /** kNN classification: majority label among the query's k exact
    * nearest neighbors (vote ties broken by the smaller label — a
    * deterministic rule both engines share). The label rides the
    * scored projection through TakeOrderedAndProject — ONE corpus
    * scan, not a second label-join pass — and the vote count runs
    * over the k-row page. */
  def knnClassify(emb: DataFrame, idCol: String, vecCol: String,
                  labelCol: String, queryId: Long, k: Int): DataFrame = {
    VectorFunctions.register(emb.sparkSession)
    val q = emb.filter(col(idCol) === queryId).select(col(vecCol).as("qv"))
    emb.join(broadcast(q))
      .filter(col(idCol) =!= queryId)
      .select(col(idCol), col(labelCol),
        cosineE6(col(vecCol), col("qv")).as("cos_e6"))
      .orderBy(col("cos_e6").desc, col(idCol))
      .limit(k)
      .groupBy(col(labelCol).cast("long").as("predicted_label"))
      .agg(count(lit(1)).as("votes"))
      .orderBy(col("votes").desc, col("predicted_label"))
      .limit(1)
  }

  /** IVF-style layout: write the corpus partitioned by bucket so probe
    * queries prune partitions at the source (the 100 TB serving shape). */
  def writeBucketed(emb: DataFrame, idCol: String, vecCol: String,
                    planes: Int, path: String): Unit = {
    val spark = emb.sparkSession
    // one committed generation. The rebuild is corpus-derived
    // (row-superseding), but the append LEDGER must survive it, so a
    // late retry of an already-ingested batch still skips —
    // keepLedger retires the append keys instead of dropping them.
    val absorbed = graft.streaming.ManifestSwap.appliedKeys(spark, path)
    graft.streaming.ManifestSwap.installFold(spark, path, "ivflayout",
      absorbed, keepLedger = _ => true)(
      writeBucketedRaw(emb, idCol, vecCol, planes, _))
  }

  /** The raw bucket-partitioned write into `dir` — for the publish
    * above AND for writes into an UNPUBLISHED staging dir
    * ([[CorpusCache]] temp siblings, published by one atomic local
    * rename): those are invisible until publish by construction, so
    * routing them through the manifest would only displace the
    * `_SUCCESS` completion sentinel the cache checks. */
  private[graft] def writeBucketedRaw(emb: DataFrame, idCol: String,
                                      vecCol: String, planes: Int,
                                      dir: String): Unit = {
    VectorFunctions.register(emb.sparkSession)
    // co-locate each bucket before the partitioned write: one file per
    // bucket dir instead of one per (task × bucket) — without this the
    // build creates up to tasks·2^planes tiny files (the measured cost
    // was the file mint, not the signature pass)
    emb.select(col(idCol), col(vecCol),
      hyperplaneSignature(col(vecCol), planes).as("bucket"))
      .repartition(col("bucket"))
      .write.mode("append").partitionBy("bucket").parquet(dir)
  }

  /** Incremental ingest into the [[writeBucketed]] IVF layout: sign the
    * new batch and APPEND into the bucket directories — no rebuild,
    * cost ∝ batch (the growing-corpus twin of
    * [[graft.llm.Dedup.incrementalExact]]). Readers need no change:
    * partition pruning sees old and new files alike, so a probe query
    * serves the union immediately. File growth is bounded by the
    * batch's bucket footprint (one file per touched bucket per
    * append); fold them back to one file per bucket with a periodic
    * [[writeBucketed]] rebuild — the maintenance-window trade the
    * change table makes with log compaction. */
  def appendBucketed(batch: DataFrame, idCol: String, vecCol: String,
                     planes: Int, path: String): Unit = {
    VectorFunctions.register(batch.sparkSession)
    // content-keyed append (round 9): a crashed ingest retried must
    // not land the batch's vectors twice — duplicate ids would surface
    // twice in a probe's top-k
    val rows = batch.select(col(idCol), col(vecCol))
    graft.streaming.StagedAppend.append(path, rows) { gen =>
      rows.withColumn("bucket", hyperplaneSignature(col(vecCol), planes))
        .repartition(col("bucket"))
        .write.mode("append").partitionBy("bucket").parquet(gen)
    }
  }

  /** All bucket signatures within `probeHamming` bits of `qbucket` —
    * the multi-probe set, enumerated driver-side (sum of C(planes, h)
    * for h ≤ probeHamming values; 37 for 8 planes / hamming 2). */
  private[graft] def probeBuckets(qbucket: Long, planes: Int,
                                  probeHamming: Int): Seq[Long] = {
    def flips(from: Int, h: Int): Seq[Long] =
      if (h == 0) Seq(0L)
      else (from until planes).flatMap(p =>
        flips(p + 1, h - 1).map(_ | (1L << p)))
    (0 to probeHamming).flatMap(flips(0, _)).distinct.map(_ ^ qbucket)
  }

  /** N3'-at-scale — ANN top-k over the [[writeBucketed]] IVF layout:
    * the probe set is enumerated driver-side from the query's bucket,
    * and the corpus read is PARTITION-PRUNED to exactly those bucket
    * directories (`bucket IN (...)` prunes at the file index — a 100 TB
    * corpus scan becomes probed-buckets/2^planes of that). Only the
    * query row's own vector is fetched from `emb` (pushed-down id
    * filter, one-row driver fetch). Same output contract as
    * [[annTopK]]; identical results, spec-asserted. */
  def annTopKBucketed(emb: DataFrame, idCol: String, vecCol: String,
                      queryId: Long, k: Int, layoutPath: String,
                      planes: Int = 8, probeHamming: Int = 2): DataFrame = {
    val (qv, cand) = annCandidatesBucketed(emb, idCol, vecCol, queryId,
      layoutPath, planes, probeHamming)
    cand
      .select(col(idCol), cosineE6(col(vecCol), typedLit(qv)).as("cos_e6"))
      .orderBy(col("cos_e6").desc, col(idCol))
      .limit(k)
  }

  /** The probe-ball CANDIDATE stage of [[annTopKBucketed]], exposed so
    * the declared query can export the candidate id set for its DuckDB
    * oracle (round 8): candidate MEMBERSHIP is the engine-hash part
    * (hyperplane signatures — no SQL twin); everything after it
    * (cosine scoring, ordering, top-k) is exact relational algebra the
    * oracle recomputes independently. Returns (query vector, pruned
    * candidate rows with `idCol` and `vecCol`). */
  def annCandidatesBucketed(emb: DataFrame, idCol: String, vecCol: String,
                            queryId: Long, layoutPath: String,
                            planes: Int, probeHamming: Int = 2)
      : (Seq[Float], DataFrame) = {
    val spark = emb.sparkSession
    VectorFunctions.register(spark)
    val qRow = emb.filter(col(idCol) === queryId)
      .select(col(vecCol), hyperplaneSignature(col(vecCol), planes)).head()
    val qv = qRow.getSeq[Float](0)
    val probes = probeBuckets(qRow.getLong(1), planes, probeHamming)
    val dirs = graft.streaming.ManifestSwap.dataPaths(spark, layoutPath)
    val fs = new org.apache.hadoop.fs.Path(layoutPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cand =
      if (dirs == Seq(layoutPath))
        // a layout written in place (a CorpusCache build): the root IS
        // the partitioned layout — the bucket IN-list prunes at the
        // file index
        spark.read.parquet(layoutPath)
          .filter(col("bucket").isin(probes: _*))
      else {
        // published layout: enumerate the probe buckets' leaf dirs
        // across the committed generations — the same IO pruning, one
        // existence probe per (generation, bucket); the partition
        // column is implied by the enumeration, not needed downstream
        val leafs = for {
          d <- dirs; b <- probes
          p = new org.apache.hadoop.fs.Path(d, s"bucket=$b")
          if fs.exists(p)
        } yield p.toString
        if (leafs.isEmpty) emb.select(col(idCol), col(vecCol)).limit(0)
        else spark.read.parquet(leafs: _*)
      }
    (qv, cand.filter(col(idCol) =!= queryId))
  }

  /** MMR diversified rerank (maximal marginal relevance, Carbonell &
    * Goldstein, SIGIR'98): greedily pick `k` of the `poolSize` most
    * query-similar vectors, each step maximizing
    * `lambdaE2·cos(query, d) − (100−lambdaE2)·max cos(d, selected)`
    * (integer e6 cosines, so selection is engine-deterministic; ties
    * to the smallest id). The standard answer to "exact top-k returns
    * ten copies of the same document".
    *
    * Scale shape: the CORPUS-side work is the distributed top-poolSize
    * cosine scan (TakeOrderedAndProject — or the IVF-PQ index at
    * deployment scale); the greedy itself is poolSize²-bounded and
    * runs on the driver over the collected pool, the same
    * bounded-collect idiom as the ANN probe-ball enumeration. The
    * result returns as a local relation. */
  def mmrRerank(emb: DataFrame, idCol: String, vecCol: String,
                queryId: Long, k: Int, poolSize: Int = 50,
                lambdaE2: Int = 70): DataFrame =
    mmrRerankFromPool(emb,
      bruteForceTopK(emb, idCol, vecCol, queryId, poolSize),
      idCol, vecCol, k, lambdaE2)

  /** [[mmrRerank]] over a CALLER-SUPPLIED relevance pool
    * (`(idCol, cos_e6)` rows — e.g. the IVF-PQ probe instead of the
    * exact corpus scan, the documented deployment shape): identical
    * greedy selection over whatever pool arrives. */
  def mmrRerankFromPool(emb: DataFrame, rawPool: DataFrame, idCol: String,
                        vecCol: String, k: Int,
                        lambdaE2: Int = 70): DataFrame = {
    require(k > 0 && lambdaE2 >= 0 && lambdaE2 <= 100)
    val spark = emb.sparkSession
    VectorFunctions.register(spark)
    val pool = rawPool.localCheckpoint(true)
    // pairwise cosines WITHIN the bounded pool: pool² rows, Spark-side
    val vecs = pool.select(col(idCol)).join(emb, idCol)
      .select(col(idCol).as("pid"), col(vecCol).as("pv"))
      .localCheckpoint(true)
    val rel = pool.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sims = vecs.as("a").join(broadcast(vecs.as("b")),
        col("a.pid") < col("b.pid"))
      .select(col("a.pid"), col("b.pid"),
        cosineE6(col("a.pv"), col("b.pv")).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    def sim(x: Long, y: Long): Long =
      if (x == y) 1000000L
      else sims.getOrElse((math.min(x, y), math.max(x, y)), 0L)
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val remaining = scala.collection.mutable.TreeSet(rel.keys.toSeq: _*)
    while (selected.size < k && remaining.nonEmpty) {
      val best = remaining.map { id =>
        val pen = if (selected.isEmpty) 0L
          else selected.map(s => sim(id, s._1)).max
        val obj = lambdaE2 * rel(id) - (100L - lambdaE2) * pen
        (-obj, id)
      }.min
      selected += ((best._2, -best._1))
      remaining -= best._2
    }
    import spark.implicits._
    selected.toSeq.zipWithIndex
      .map { case ((id, obj), i) => (id, i + 1L, rel(id), obj) }
      .toDF(idCol, "mmr_rank", "cos_e6", "objective_e8")
  }

  /** Rank within a bounded pool WITHOUT a window: rank(a) = count of
    * rows at-or-above it in (key desc, id asc) order — a pool²
    * broadcast join, bounded by poolSize², keeping the repo's absolute
    * no-global-window invariant (PlanLintSpec) instead of arguing a
    * post-limit window is "bounded enough". */
  private def poolRank(pool: DataFrame, keyCol: String, idCol: String,
                       rankName: String): DataFrame = {
    val a = pool.select(col(idCol).as("__ia"), col(keyCol).as("__ka"))
    val b = pool.select(col(idCol).as("__ib"), col(keyCol).as("__kb"))
    a.join(broadcast(b),
        col("__kb") > col("__ka") ||
          (col("__kb") === col("__ka") && col("__ib") <= col("__ia")))
      .groupBy(col("__ia"))
      .agg(count(lit(1)).cast("long").as(rankName))
      .select(col("__ia").as("id"), col(rankName))
  }

  /** HYBRID retrieval — reciprocal-rank fusion (Cormack et al., SIGIR
    * 2009) of a lexical and a vector ranking for one query: each system
    * contributes `1e9 div (rrfK + rank)` (integer arithmetic, so the
    * fused score is engine-exact) for the documents in its top
    * `poolSize`, and the fused top `k` is returned. The lexical side is
    * the TF-IDF family's integer scoring restricted to `queryTerms`
    * (df still counted over the whole corpus); the vector side is exact
    * cosine against `queryId`'s embedding.
    *
    * Scale shape: both pools come off TakeOrderedAndProject (per-
    * partition top-k, driver merge — no global sort, no corpus
    * shuffle); ranks come from the pool-squared [[poolRank]] join, and
    * the fusion join is poolSize × poolSize. This SCAN form pays one
    * token scan per query on the lexical side — the serving shape is
    * [[hybridTopKIndexed]] over the persisted postings index, whose
    * per-query lexical cost is the query terms' postings, not the
    * corpus; the vector pool would likewise come from the IVF-PQ index
    * at deployment scale. The fusion algebra is identical whatever
    * produced the pools ([[rrfFuse]], shared). */
  def hybridTopK(docs: DataFrame, emb: DataFrame, docIdCol: String,
                 vecIdCol: String, vecCol: String, queryTerms: Seq[String],
                 queryId: Long, k: Int, poolSize: Int = 100,
                 rrfK: Int = 60): DataFrame = {
    VectorFunctions.register(docs.sparkSession)
    // stage the term-filtered (doc, term, tf) table once: it feeds both
    // the df aggregate and the scoring join, and without staging each
    // input re-runs the tokenize scan (the tfidf_top_term lesson)
    val tf = docs
      .select(col(docIdCol), explode(TextOps.tokens(col("text"))).as("term"))
      .filter(col("term").isin(queryTerms: _*))
      .groupBy(col(docIdCol), col("term")).agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val kwPool =
      tf.join(broadcast(dfreq), "term")
        .crossJoin(broadcast(n))
        .withColumn("idf_e4",
          round(log(col("n").cast("double") / col("df")) * 10000).cast("long"))
        .groupBy(col(docIdCol))
        .agg(sum(col("tf") * col("idf_e4")).as("score_e4"))
        .orderBy(col("score_e4").desc, col(docIdCol)).limit(poolSize)
    val vecPool = vectorPool(emb, vecIdCol, vecCol, queryId, poolSize)
    rrfFuse(kwPool, vecPool, docIdCol, vecIdCol, k, rrfK)
  }

  /** The exact-cosine vector pool both hybrid forms share. */
  private def vectorPool(emb: DataFrame, vecIdCol: String, vecCol: String,
                         queryId: Long, poolSize: Int): DataFrame = {
    val q = emb.filter(col(vecIdCol) === queryId)
      .select(col(vecCol).as("qv"))
    emb.join(broadcast(q))
      .select(col(vecIdCol), cosineE6(col(vecCol), col("qv")).as("cos_e6"))
      .orderBy(col("cos_e6").desc, col(vecIdCol)).limit(poolSize)
  }

  /** The RRF fusion step both hybrid forms share: rank each bounded
    * pool ([[poolRank]]), fuse with integer reciprocal ranks, return
    * the top `k`. */
  private def rrfFuse(kwPool: DataFrame, vecPool: DataFrame,
                      docIdCol: String, vecIdCol: String, k: Int,
                      rrfK: Int): DataFrame = {
    val kwRanked = poolRank(kwPool, "score_e4", docIdCol, "rank_kw")
    val vecRanked = poolRank(vecPool, "cos_e6", vecIdCol, "rank_vec")
    kwRanked.join(vecRanked, Seq("id"), "full_outer")
      .select(col("id").as(docIdCol),
        (coalesce(expr(s"1000000000 div ($rrfK + rank_kw)"), lit(0L)) +
          coalesce(expr(s"1000000000 div ($rrfK + rank_vec)"), lit(0L)))
          .as("rrf_e9"),
        col("rank_kw"), col("rank_vec"))
      .orderBy(col("rrf_e9").desc, col(docIdCol)).limit(k)
  }

  // ------------------------------------------------- postings index --

  /** Term-hash bucket count for the postings layout: a query's terms
    * prune to ≤ |terms| of these directories. */
  private[graft] val termBuckets = 64

  /** Driver-side twin of `pmod(xxhash64(term), termBuckets)` — same
    * seed-42 hash Spark's `xxhash64` function evaluates, so the probe
    * set enumerated here prunes exactly the partitions the build
    * wrote. */
  private[graft] def termBucket(term: String): Long = {
    val h = XxHash64(Seq(Literal(term)), 42L).eval(null)
      .asInstanceOf[Long]
    ((h % termBuckets) + termBuckets) % termBuckets
  }

  /** Build the persisted LEXICAL index under `path`: the full
    * term→(doc, tf) postings table partitioned by term-hash bucket
    * (`postings/tbkt=K/` — terms stay data, only the hash is a
    * directory, so any token is safe), the per-term df table in the
    * same layout (`df/tbkt=K/`), and the corpus row count in `_N`.
    * One token scan at BUILD time; every query thereafter reads only
    * its terms' buckets. The structural twin of the IVF-PQ build:
    * corpus-sized once, persisted via [[CorpusCache]], serving cost
    * bounded by what the query touches. */
  def buildPostingsIndex(docs: DataFrame, docIdCol: String,
                         textCol: String, path: String): Unit = {
    val spark = docs.sparkSession
    val tf = docs
      .select(col(docIdCol).as("doc_id"),
        explode(TextOps.tokens(col(textCol))).as("term"))
      .groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("tf"))
      .withColumn("tbkt", pmod(xxhash64(col("term")),
        lit(termBuckets.toLong)))
    // base generation of the keyed-append root (appends become
    // app:-keyed generations; compaction folds back to one base)
    graft.streaming.ManifestSwap.install(spark, s"$path/postings",
      "postings") { dir =>
      tf.repartition(termBuckets, col("tbkt"))
        .write.mode("append").partitionBy("tbkt").parquet(dir)
    }
    // df from the WRITTEN postings — no second tokenize pass. The
    // corpus row count and the applied-batch ledger live INSIDE the
    // df generation so every [[appendPostingsIndex]] commit publishes
    // all three atomically.
    val postingsRows = spark.read.parquet(
      graft.streaming.ManifestSwap.readDataPaths(spark, s"$path/postings"): _*)
    val dfRows = postingsRows
      .groupBy(col("tbkt"), col("term")).agg(count(lit(1)).as("df"))
    val n = docs.count()
    graft.streaming.ManifestSwap.install(spark, s"$path/df",
      "postingsdf") { tmp =>
      dfRows.repartition(termBuckets, col("tbkt"))
        .write.mode("append").partitionBy("tbkt").parquet(tmp)
      writeSidecar(spark, tmp, "_N", n.toString)
      writeSidecar(spark, tmp, "_APPLIED", "")
    }
  }

  /** The filesystem for sidecar metadata IO: the RAW view on local
    * (Hadoop's checksummed LocalFileSystem writes `.name.crc` twins
    * that go stale the moment anything else touches the file — the
    * pre-round-14 java.nio writes never made them, so mixing the two
    * eras throws ChecksumException); any real store as itself. */
  private def sidecarFs(spark: org.apache.spark.sql.SparkSession,
                        p: org.apache.hadoop.fs.Path)
      : org.apache.hadoop.fs.FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration) match {
      case l: org.apache.hadoop.fs.LocalFileSystem => l.getRawFileSystem
      case other => other
    }

  /** Small metadata object inside a df generation, through the Hadoop
    * FileSystem (java.nio would silently miss on any non-local store). */
  private def writeSidecar(spark: org.apache.spark.sql.SparkSession,
                           dir: String, name: String,
                           body: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir.stripSuffix("/"), name)
    val out = sidecarFs(spark, p).create(p, true)
    try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** The df table's committed data dir, or None before the first
    * build. */
  private def dfDataDir(spark: org.apache.spark.sql.SparkSession,
                        path: String): Option[String] =
    graft.streaming.ManifestSwap.readPath(spark, s"$path/df")

  private def readSidecar(spark: org.apache.spark.sql.SparkSession,
                          dir: String, name: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(dir.stripSuffix("/"), name)
    val fs = sidecarFs(spark, p)
    // no exists precheck: the open itself is the probe, so a file
    // vanishing in an exists→open gap can't escape the None branch
    try {
      val in = fs.open(p)
      try {
        val buf = new java.io.ByteArrayOutputStream()
        val chunk = new Array[Byte](8192)
        var r = in.read(chunk)
        while (r >= 0) { buf.write(chunk, 0, r); r = in.read(chunk) }
        Some(new String(buf.toByteArray,
          java.nio.charset.StandardCharsets.UTF_8))
      } finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }
  }

  private def postingsSchema = org.apache.spark.sql.types.StructType
    .fromDDL("term STRING, doc_id BIGINT, tf BIGINT, tbkt BIGINT")
  private def dfSchema = org.apache.spark.sql.types.StructType
    .fromDDL("term STRING, df BIGINT, tbkt BIGINT")

  /** Incremental ingest into the [[buildPostingsIndex]] layout — the
    * growing-corpus twin ([[appendBucketed]] / Dedup.incrementalExact
    * precedent): tokenize ONLY the new batch (docs not already
    * indexed), land its postings in a generation of their own, fold its
    * per-term counts into the df table (vocab-sized rewrite, never a
    * postings re-scan), and bump `_N`. The scoring integers (df, N)
    * equal a fresh rebuild's, so a query over the appended index is
    * BIT-IDENTICAL to one over a rebuilt index (spec-pinned).
    *
    * RETRY-IDEMPOTENT THREE-PHASE COMMIT (round 9 — the crash matrix
    * surfaced that a naive `mode=append` retried after a crash
    * double-counts the batch), keyed by a content fingerprint of the
    * batch (same batch ⇒ same tag), with the load-bearing invariant
    * "df never counts rows the bucket read cannot see":
    *  1. STAGE — the batch's postings land in a fresh generation of
    *     `postings/` (invisible: no manifest references it);
    *  2. COMMIT — ONE df install folds the counts, bumps `_N`, and
    *     ledgers `tag<TAB>generation` (the generation name recorded so
    *     phase 3 is recoverable);
    *  3. PUBLISH — the generation is keyed into the postings manifest
    *     ([[graft.streaming.ManifestSwap]] CAS).
    * A crash between 2 and 3 leaves df counting rows no reader sees,
    * healed by [[recoverManifestPostings]], which every serving read
    * and compaction runs first: any ledgered generation missing its
    * manifest key is keyed in. Only the build (whose df install resets
    * the ledger) and the compaction (which keys every ledgered
    * generation before its fold) reap the postings root, so the
    * ledger's generation reference stays live. Retries converge at
    * every phase: the ledger decides phase 2, the manifest key phase
    * 3. CrashMatrixSpec kills every window.
    *
    * Writer contract: ONE maintainer per index, the same single-writer
    * contract as every state maintainer here (the CDC consumer model —
    * ingest is a consumer of the document feed, serialized by its
    * cursor); concurrent readers are always safe. Two DIFFERENT
    * batches folded concurrently would race the df install — that is
    * an ops error, not a crash mode, and the feed's exactly-once
    * cursor prevents it upstream. */
  def appendPostingsIndex(batch: DataFrame, docIdCol: String,
                          textCol: String, path: String): Unit = {
    val spark = batch.sparkSession
    recoverManifestPostings(spark, path)
    // content-derived batch tag: bit_xor of per-doc hashes + the
    // multiset SUM of the same hashes (mod 2^64; decimal so ANSI never
    // overflows) + count — a pure function of the batch row MULTISET.
    // xor alone self-cancels duplicate rows (round-9 ADVICE: {r1,r1,b}
    // vs {r2,r2,b} would collide and silently skip the second batch);
    // the sum breaks every multiset difference.
    val fpRow = batch.agg(
      expr(s"bit_xor(xxhash64(cast($docIdCol AS string), $textCol))"),
      expr(s"sum(cast(xxhash64(cast($docIdCol AS string), $textCol)" +
        " as decimal(38,0)))"),
      count(lit(1))).head()
    if (fpRow.isNullAt(0) || fpRow.getLong(2) == 0L) return // empty batch
    val tag = graft.streaming.StagedAppend.assembleTag(
      fpRow.getLong(0), fpRow.getDecimal(1), fpRow.getLong(2))
    val ledger = manifestLedger(spark, path)
    if (!ledger.contains(tag)) {
      // 1. STAGE into an unreferenced generation
      val (gen, genDir) = graft.streaming.ManifestSwap.newGeneration(
        spark, s"$path/postings")
      batch
        .select(col(docIdCol).as("doc_id"),
          explode(TextOps.tokens(col(textCol))).as("term"))
        .groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("tf"))
        .withColumn("tbkt", pmod(xxhash64(col("term")),
          lit(termBuckets.toLong)))
        .repartition(col("tbkt"))
        .write.mode("append").partitionBy("tbkt").parquet(genDir)
      // 2. COMMIT — fold + ledger(tag -> gen) + _N as one generation
      val staged = spark.read.schema(postingsSchema).parquet(genDir)
        .select("term", "doc_id", "tf", "tbkt")
      val dfDir = dfDataDir(spark, path).getOrElse(
        throw new java.io.FileNotFoundException(
          s"graft postings: no df table under $path — build first"))
      val oldDf = spark.read.schema(dfSchema).parquet(dfDir)
        .select("term", "df", "tbkt")
      val nextDf = oldDf.unionByName(
          staged.groupBy(col("term"), col("tbkt"))
            .agg(count(lit(1)).as("df")).select("term", "df", "tbkt"))
        .groupBy(col("term"), col("tbkt")).agg(sum(col("df")).as("df"))
        .localCheckpoint(true)
      val n = readSidecar(spark, dfDir, "_N").get.trim.toLong
      val nNext = n + fpRow.getLong(2)
      val lines = (ledger + (tag -> gen)).toSeq.sorted
        .map { case (t, g) => s"$t\t$g" }
      graft.streaming.ManifestSwap.install(spark, s"$path/df",
        "postingsdf") { tmp =>
        nextDf.repartition(termBuckets, col("tbkt"))
          .write.mode("append").partitionBy("tbkt").parquet(tmp)
        writeSidecar(spark, tmp, "_N", nNext.toString)
        writeSidecar(spark, tmp, "_APPLIED", lines.mkString("\n"))
      }
    }
    // 3. PUBLISH — key every ledgered-but-unkeyed generation (ours)
    recoverManifestPostings(spark, path)
  }

  /** The ledger: `tag -> generation` lines from the df table's
    * `_APPLIED` sidecar. */
  private def manifestLedger(spark: org.apache.spark.sql.SparkSession,
                             path: String): Map[String, String] =
    dfDataDir(spark, path).flatMap(readSidecar(spark, _, "_APPLIED"))
      .map(_.linesIterator.filter(_.nonEmpty).flatMap { line =>
        val i = line.indexOf('\t')
        if (i > 0) Some(line.take(i) -> line.drop(i + 1)) else None
      }.toMap).getOrElse(Map.empty)

  /** Key any ledgered-but-unkeyed postings generation into the
    * manifest — the crash window between an append's df commit and
    * its publish. */
  def recoverManifestPostings(spark: org.apache.spark.sql.SparkSession,
                              path: String): Unit = {
    val ledger = manifestLedger(spark, path)
    if (ledger.isEmpty) return
    val keyed = graft.streaming.ManifestSwap.appliedKeys(
      spark, s"$path/postings")
    ledger.foreach { case (t, g) =>
      if (!keyed(t))
        graft.streaming.ManifestSwap.commitUpdate(spark,
          s"$path/postings", "postings")(m =>
          if (m.contains(graft.streaming.ManifestSwap.AppPrefix + t)) m
          else m + ((graft.streaming.ManifestSwap.AppPrefix + t) -> g))
    }
  }

  /** Fold [[appendPostingsIndex]]'s growth back to one file per term
    * bucket — the T6-window compaction of this index family (the
    * [[graft.cdc.Maintenance]] precedent: every append adds a file set
    * per touched bucket, so after N ingests a bucket holds N files and
    * a query's pruned read opens all of them). Row-identical rewrite
    * (spec-pinned: serving output unchanged); the df table and `_N`
    * are untouched because the append path already folds them to one
    * generation. One atomic pointer commit publishes the fold. */
  def compactPostingsIndex(spark: org.apache.spark.sql.SparkSession,
                           path: String): Unit = {
    // key any ledgered-but-unkeyed generation first (the fold must
    // hold every row the df already counts), then fold base + appends
    // into ONE generation. keepLedger = true: the postings manifest keys
    // double as the publish-recovery marker — dropping a folded key
    // would make recoverManifestPostings re-key its (absorbed)
    // generation from the df ledger and serve its rows twice.
    recoverManifestPostings(spark, path)
    // ONE resolution for dirs + absorbed keys (foldSnapshot): a
    // batch committing mid-compaction keeps its own generation
    val (dirs, absorbed) = graft.streaming.ManifestSwap.foldSnapshot(
      spark, s"$path/postings")
    if (dirs.isEmpty) return
    // one flat read over the generations' tbkt= LEAF dirs (a multi-
    // root partitioned read trips Spark's conflicting-base-path
    // check); tbkt is re-derived from the term for the fold's own
    // partitioned write
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val leafs = dirs.flatMap { d =>
      (try fs.listStatus(new org.apache.hadoop.fs.Path(d)).toSeq
      catch { case _: java.io.FileNotFoundException => Seq.empty })
        .filter(st => st.isDirectory &&
          st.getPath.getName.startsWith("tbkt="))
        .map(_.getPath.toString)
    }
    if (leafs.isEmpty) return
    val rows = spark.read.schema(org.apache.spark.sql.types.StructType(
        postingsSchema.filterNot(_.name == "tbkt")))
      .parquet(leafs: _*)
      .select(col("term"), col("doc_id"), col("tf"))
      .withColumn("tbkt", pmod(xxhash64(col("term")),
        lit(termBuckets.toLong)))
    graft.streaming.ManifestSwap.installFold(spark, s"$path/postings",
      "postings", absorbed, keepLedger = _ => true) { gen =>
      rows.repartition(termBuckets, col("tbkt"))
        .write.mode("append").partitionBy("tbkt").parquet(gen)
    }
    // the fold's commit reaps superseded and orphan generations: safe,
    // as the recovery above keyed every ledgered generation first
  }

  /** The lexical top-`poolSize` served from the postings index: read
    * ONLY the query terms' buckets (partition-pruned) and rows
    * (`term IN`), join the pruned df slice, score with the identical
    * integer TF-IDF algebra as the scan form. Per-query cost is
    * postings-of-terms-sized — corpus size appears nowhere. */
  private def lexicalPoolIndexed(spark: org.apache.spark.sql.SparkSession,
                                 indexPath: String, docIdCol: String,
                                 queryTerms: Seq[String], poolSize: Int)
      : DataFrame = {
    val bkts = queryTerms.map(termBucket).distinct
    // publish any committed-but-unkeyed append generation before
    // reading, so df never counts rows the bucket read misses
    recoverManifestPostings(spark, indexPath)
    // prune to the query terms' bucket leaf dirs across the committed
    // generations (same IO pruning as a partition filter; tbkt is
    // implied by the enumeration)
    val dirs = graft.streaming.ManifestSwap.readDataPaths(
      spark, s"$indexPath/postings")
    val fs = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val leafs = for {
      d <- dirs; b <- bkts
      p = new org.apache.hadoop.fs.Path(d, s"tbkt=$b")
      if fs.exists(p)
    } yield p.toString
    val posts =
      if (leafs.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          postingsSchema)
          .filter(col("term").isin(queryTerms: _*))
      else spark.read.schema(org.apache.spark.sql.types.StructType(
          postingsSchema.filterNot(_.name == "tbkt")))
        .parquet(leafs: _*)
        .filter(col("term").isin(queryTerms: _*))
    val dfDir = dfDataDir(spark, indexPath).getOrElse(
      throw new java.io.FileNotFoundException(
        s"graft postings: no df table under $indexPath"))
    val dfreq = spark.read.schema(dfSchema).parquet(dfDir)
      .filter(col("tbkt").isin(bkts: _*) && col("term").isin(queryTerms: _*))
      .select("term", "df")
    val n = readSidecar(spark, dfDir, "_N").get.trim.toLong
    posts.join(broadcast(dfreq), "term")
      .withColumn("idf_e4",
        round(log(lit(n).cast("double") / col("df")) * 10000).cast("long"))
      .groupBy(col("doc_id").as(docIdCol))
      .agg(sum(col("tf") * col("idf_e4")).as("score_e4"))
      .orderBy(col("score_e4").desc, col(docIdCol)).limit(poolSize)
  }

  /** [[hybridTopK]] served from the persisted postings index: same
    * output, bit for bit (spec-pinned) — the lexical pool reads the
    * query terms' postings instead of token-scanning the corpus. */
  def hybridTopKIndexed(emb: DataFrame, indexPath: String, docIdCol: String,
                        vecIdCol: String, vecCol: String,
                        queryTerms: Seq[String], queryId: Long, k: Int,
                        poolSize: Int = 100, rrfK: Int = 60): DataFrame = {
    val spark = emb.sparkSession
    VectorFunctions.register(spark)
    val kwPool = lexicalPoolIndexed(spark, indexPath, docIdCol,
      queryTerms, poolSize)
    val vecPool = vectorPool(emb, vecIdCol, vecCol, queryId, poolSize)
    rrfFuse(kwPool, vecPool, docIdCol, vecIdCol, k, rrfK)
  }

  /** The fully-index-served hybrid: postings-index lexical pool fused
    * with a CALLER-SUPPLIED vector pool (`(vecIdCol, cos_e6)` rows —
    * e.g. the IVF-PQ probe). Both corpus-sized scans are gone from the
    * query path; the fusion algebra is [[rrfFuse]], unchanged. */
  def hybridTopKWithPool(spark: org.apache.spark.sql.SparkSession,
                         indexPath: String, vecPool: DataFrame,
                         docIdCol: String, vecIdCol: String,
                         queryTerms: Seq[String], k: Int,
                         poolSize: Int = 100, rrfK: Int = 60): DataFrame = {
    VectorFunctions.register(spark)
    val kwPool = lexicalPoolIndexed(spark, indexPath, docIdCol,
      queryTerms, poolSize)
    rrfFuse(kwPool, vecPool, docIdCol, vecIdCol, k, rrfK)
  }

  /** N3+ — the all-vectors kNN GRAPH: every vector's top-k cosine
    * neighbors in one batch job — the primitive under SemDeDup cell
    * training, graph-based clustering, and NN-descent-style curation
    * (per-query topK answers one probe; pipelines need the whole
    * graph).
    *
    * Candidates by MULTI-PROBE hyperplane LSH: the hamming-ball masks
    * (≤ probeHamming bits, driver-enumerated — a constant ≤ C(planes,h)
    * sum, 37 at 8/2) explode each vector's signature into its probe
    * set, which joins the single member-bucket table on the bucket
    * key. An ordered pair (a,b) arises from exactly ONE mask (the xor
    * of their signatures), so candidates are duplicate-free by
    * construction; each survives the exact integer-cosine verify into
    * a per-source [[graft.functions.TopKAgg]] — k-sized partial
    * buffers merged under the typed aggregation, never a window or a
    * global sort.
    *
    * The LSH graph then refines through NN-DESCENT rounds (Dong et
    * al., WWW'11): a neighbor of my neighbor is my candidate, both
    * edge directions, with a CORPUS-SIZED candidate list during
    * descent ([[autoSearchK]] — k·log2(n/64) wide, floor 3k, cap 8k;
    * the paper's sample-size trade, log-n-scaled like the planes
    * because a fixed width measurably eroded recall as the corpus
    * grew: 0.80 → 0.59 recall@5 from 500 → 2,000 vectors at 2k,
    * round-14 verdict) — each round is one mid-key self-join with
    * (2·searchK)²-bounded fan-out per node, scoring ONLY pairs not
    * already in the graph. This decouples recall from the probe-ball
    * size: the ball seeds, the descent converges (measured: 0.32
    * seed-only → 0.85 at 500 vectors, 0.91+ at 2,000, after 3 rounds
    * at 8 planes / hamming 2, KnnGraphSpec + tools/knn_recall.py).
    *
    * Scale shape (100 TB): explode factor is the constant mask count;
    * the candidate join shuffles on the high-cardinality bucket key;
    * the top-k aggregate shuffles k-row buffers on the source id;
    * descent rounds are corpus-linear with constant DECAYING fan-out
    * (the incremental new-edge flag), localCheckpoint-truncated like
    * [[graft.llm.Cluster]]'s pointer jumping. Byte-identical vectors
    * collapse to a representative before the build and re-expand
    * afterward through k+1-head tables (the semanticDedup precedent;
    * measured 200 s → 13 s on the 10-clone sf1 corpus), so clone-heavy
    * corpora — the dedup workload — cannot quadratically inflate
    * buckets or descent lists. No all-pairs path — corpus² never
    * forms. Recall is
    * data-dependent (the ANN contract): planes scales with log(n),
    * rounds with how unclustered the space is; both pinned by spec
    * against the brute-force graph. Bucket caps stay OFF here for
    * the same reason as [[Dedup.embeddingNearDups]]: small key spaces
    * fill with unrelated members at scale — add planes instead.
    *
    * Output: (src_id, rank, nbr_id, cos_e6), rank 1-based by
    * (cos_e6 desc, nbr_id asc). */
  /** Occupancy-constant LSH geometry: enough planes that the expected
    * bucket holds ~`targetBucket` vectors. Fixed planes make the seed
    * join QUADRATIC in corpus growth (occupancy ∝ n); with planes ∝
    * log n the seed is n·C(planes,≤h)·occupancy ≈ n·(log n)² — the
    * sf1 probe measured exactly this failure mode (17× for 10× data at
    * fixed 8 planes). Floor keeps small-corpus recall; cap bounds the
    * driver-side mask enumeration. */
  private[llm] def autoPlanes(n: Long, floor: Int = 8,
      targetBucket: Int = 64): Int = {
    val need = math.ceil(
      math.log(math.max(1.0, n.toDouble / targetBucket)) / math.log(2.0))
      .toInt
    math.min(16, math.max(floor, need))
  }

  /** Corpus-size-stable NN-DESCENT candidate width (round-14 verdict
    * ask #1): the descent's recall at a FIXED searchK erodes as the
    * corpus grows — measured 0.80 → 0.59 recall@5 from 500 → 2,000
    * vectors at searchK = 2k, while widening to 4k at 2,000 recovered
    * 0.91 and extra rounds at the fixed width bought almost nothing
    * (0.59 → 0.63 by round 7). So the width scales with log n exactly
    * the way [[autoPlanes]] already does — searchK = k · log2(n /
    * targetBucket), floored at the small-corpus 3k and CAPPED at 8k:
    * the cap bounds the per-node descent fan-out at (2·8k)² however
    * large the corpus, the published NN-descent K regime. Cost is
    * k²·(log n)²-per-node, decaying under the new-edge flag — the
    * same n·(log n)² envelope as the seed join. */
  private[llm] def autoSearchK(n: Long, k: Int,
      targetBucket: Int = 64): Int = {
    val factor = math.ceil(
      math.log(math.max(2.0, n.toDouble / targetBucket)) / math.log(2.0))
      .toInt
    k * math.min(8, math.max(3, factor))
  }

  def knnGraph(emb: DataFrame, idCol: String, vecCol: String, k: Int,
               planes: Int = 0, probeHamming: Int = 2,
               refineRounds: Int = 1, searchK0: Int = 0): DataFrame = {
    val spark = emb.sparkSession
    VectorFunctions.register(spark)
    import spark.implicits._
    import graft.functions.{Scored, TopKAgg}
    // EXACT-CLONE COLLAPSE (the Dedup.semanticDedup r7 precedent, and
    // the same sf1 probe finding here: byte-identical vectors share a
    // signature, so clone-heavy corpora — the dedup workload these
    // graphs are built FOR — multiply every bucket and every descent
    // list by the clone count, quadratically in pair terms). The graph
    // builds over DISTINCT vectors; originals re-enter afterwards:
    // clone-mates are pairwise cos = 1e6 neighbors by identity (each
    // original takes the k+1 smallest mate ids — never a |clones|²
    // pair-out), and a representative's neighbor list expands to the
    // neighbor's clones at the same exact cosine. Clone-free corpora
    // pass through unchanged (mapping is the identity).
    val origs = emb.select(col(idCol).as("__oid"), col(vecCol).as("__ov"))
    val repTbl = origs.groupBy(col("__ov"))
      .agg(min(col("__oid")).as("__rid"))
    val mapping = origs.join(repTbl, "__ov")
      .select(col("__oid"), col("__rid")).localCheckpoint(true)
    val repEmb = repTbl.select(col("__rid").as(idCol),
      col("__ov").as(vecCol)).localCheckpoint(true)
    // descend with a WIDER candidate list than the output degree (the
    // standard NN-descent trade: a wide list keeps weaker-but-true
    // neighbors alive to route candidates), emit top-k at the end.
    // The width is corpus-sized ([[autoSearchK]], log n like the
    // planes) — a fixed 2k width measurably eroded recall as the
    // corpus grew (round-14 verdict)
    val nDistinct = repEmb.count()
    val searchK = if (searchK0 > 0) searchK0
      else if (refineRounds > 0) autoSearchK(nDistinct, k) else k
    // planes = 0 → self-size from the DISTINCT corpus count
    val nPlanes = if (planes > 0) planes else autoPlanes(nDistinct)
    val emb0 = repEmb
    val masks = probeBuckets(0L, nPlanes, probeHamming)
    val sigs = emb0.select(col(idCol).as("__id"), col(vecCol).as("__v"),
      hyperplaneSignature(col(vecCol), nPlanes).as("__bucket"))
    val probed = sigs
      .select(col("__id").as("id_a"), col("__v").as("v_a"),
        col("__bucket").as("__ba"))
      .withColumn("__m", explode(typedLit(masks)))
      .withColumn("__pb", col("__m").bitwiseXOR(col("__ba")))
      .drop("__m", "__ba")
    val members = sigs.select(col("__id").as("id_b"),
      col("__v").as("v_b"), col("__bucket").as("__pb"))
    val lshScored = probed.join(members, "__pb")
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"),
        cosineE6(col("v_a"), col("v_b")).as("cos_e6"))
    var graph = topKPerSource(lshScored, searchK)
      .withColumn("is_new", lit(true)).localCheckpoint(true)
    // NN-descent rounds (Dong et al., WWW'11): a neighbor of my
    // neighbor is my candidate — in BOTH edge directions, the paper's
    // general-graph form, WITH its incremental-search optimization: a
    // pair is a candidate only if at least one of its two edges entered
    // the lists last round. Without the flag every round re-enumerates
    // (and re-anti-joins) the same (2·searchK)² pairs per node; with
    // it, work decays as the lists converge — the paper's termination
    // argument. Each round: symmetrize, new⋈all ∪ all⋈new on the mid
    // key, drop pairs already in the lists, score only those from a
    // vector-fetch join, re-select per-source top-searchK, and flag an
    // edge new iff it was not in the previous lists. Linear in the
    // corpus with k²-bounded decaying fan-out.
    val vecsTbl = emb0.select(col(idCol).as("__vid"),
      col(vecCol).as("__vv")).localCheckpoint(true)
    // The candidate-dedup shuffle is the ONE stage whose per-partition
    // row count grows faster than n: the mid-key join streams up to
    // n·(2·searchK)² pairs into it (640M at n=100k, searchK=8k), and
    // the session's shuffle.partitions — sized for the session's usual
    // tables, and a floor AQE can only coalesce DOWN from, never split
    // (skew-split applies to joins, not aggregates) — turns that into
    // tens-of-millions-of-row tasks and an executor OOM. The builder
    // knows the corpus size, so it sizes this exchange itself:
    // ~250 source vectors' candidate fan-out per partition, never
    // fewer than the session default. Inert (descParts == session
    // default, plan byte-identical) below ~250·default vectors —
    // every declared-SF plan is unchanged; measured live at 100k
    // vectors (bench/KNNG_RECALL_r15.json 50× row).
    val sessionParts = emb.sparkSession.sessionState.conf.numShufflePartitions
    val descParts = math.max(sessionParts,
      math.min(200000L, nDistinct / 250L).toInt)
    for (_ <- 0 until refineRounds) {
      val edges = graph.select(col("src_id").as("a"),
        col("nbr_id").as("b"), col("is_new"))
      val sym = edges.union(edges.select(col("b").as("a"),
          col("a").as("b"), col("is_new")))
        .groupBy("a", "b").agg(max(col("is_new")).as("is_new"))
      val left = sym.select(col("a"), col("b").as("__mid"),
        col("is_new").as("__na"))
      val right = sym.select(col("a").as("__mid"), col("b").as("c"),
        col("is_new").as("__nc"))
      val nnRaw = left.join(right, "__mid")
        .filter(col("a") =!= col("c") && (col("__na") || col("__nc")))
        .select(col("a").as("id_a"), col("c").as("id_b"))
      // repartition ON the distinct keys: the hash exchange it inserts
      // satisfies the distinct's clustering requirement, so it IS the
      // distinct's only shuffle, just at corpus-sized width (the cost
      // is the map-side combine the implicit exchange would have run —
      // cross-task duplicates were never combinable anyway)
      val nn = (if (descParts > sessionParts)
          nnRaw.repartition(descParts, col("id_a"), col("id_b"))
        else nnRaw)
        .distinct()
        .join(graph.select(col("src_id").as("id_a"),
          col("nbr_id").as("id_b")), Seq("id_a", "id_b"), "left_anti")
      // the vector-fetch joins re-cluster the candidate stream on a
      // SINGLE id — (id_a,id_b) hash partitioning doesn't satisfy
      // that, so each join would re-exchange at session width; keep
      // the stream at corpus width through both (each repartition IS
      // that join's exchange for this side)
      val nnW = if (descParts > sessionParts)
          nn.repartition(descParts, col("id_a"))
        else nn
      val scoredA = nnW
        .join(vecsTbl.withColumnRenamed("__vid", "id_a"), "id_a")
        .withColumnRenamed("__vv", "v_a")
      val scoredAW = if (descParts > sessionParts)
          scoredA.repartition(descParts, col("id_b"))
        else scoredA
      val newScored = scoredAW
        .join(vecsTbl.withColumnRenamed("__vid", "id_b"), "id_b")
        .select(col("id_a"), col("id_b"),
          cosineE6(col("v_a"), col("__vv")).as("cos_e6"))
      val union = graph.select(col("src_id").as("id_a"),
        col("nbr_id").as("id_b"), col("cos_e6")).union(newScored)
      val prev = graph.select(col("src_id"), col("nbr_id"),
        lit(true).as("__old"))
      graph = topKPerSource(union, searchK)
        .join(prev, Seq("src_id", "nbr_id"), "left")
        .withColumn("is_new", col("__old").isNull).drop("__old")
        .localCheckpoint(true)
    }
    val repGraph = graph.filter(col("rank") <= k)
      .select(col("src_id"), col("nbr_id"), col("cos_e6"))
    // CLONE EXPANSION, bounded by construction: per representative only
    // the k+1 SMALLEST original ids ("heads") can ever reach a top-k
    // list (clone entries tie on cosine, ties break id-ascending), so
    // both the mate candidates and the neighbor expansion fan out
    // through the heads table — a mega-clone group never pair-explodes.
    val mateHeads = mapping
      .select(col("__rid"), struct(col("__oid").as("id"),
        (-col("__oid")).as("score")).as("s"))
      .as[(Long, Scored)]
      .groupByKey(_._1).mapValues(_._2)
      .agg(TopKAgg.topK(k + 1).name("heads"))
      .toDF("__rid", "heads")
      .localCheckpoint(true)
    // clone-mates of each original: pairwise identical vectors, cos 1e6
    val mateCands = mapping.join(mateHeads, "__rid")
      .select(col("__oid").as("id_a"), explode(col("heads")).as("h"))
      .filter(col("h.id") =!= col("id_a"))
      .select(col("id_a"), col("h.id").as("id_b"),
        lit(1000000L).as("cos_e6"))
    // each rep edge expands to the neighbor rep's head clones (same
    // exact cosine — the vectors are byte-identical), then to every
    // original of the source rep
    val nbrExpanded = repGraph
      .join(mateHeads.withColumnRenamed("__rid", "nbr_id"), "nbr_id")
      .select(col("src_id").as("__srid"), explode(col("heads")).as("h"),
        col("cos_e6"))
      .select(col("__srid"), col("h.id").as("id_b"), col("cos_e6"))
    val expanded = mapping.withColumnRenamed("__rid", "__srid")
      .join(nbrExpanded, "__srid")
      .select(col("__oid").as("id_a"), col("id_b"), col("cos_e6"))
    topKPerSource(mateCands.union(expanded), k)
      .orderBy("src_id", "rank")
  }

  /** Top-k rows per source from (id_a, id_b, cos_e6) candidates via the
    * typed [[graft.functions.TopKAgg]] — k-sized partial buffers merged
    * under the aggregation, never a window or global sort. */
  private def topKPerSource(scored: DataFrame, k: Int): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    import graft.functions.{Scored, TopKAgg}
    scored
      .select(col("id_a"), struct(col("id_b").as("id"),
        col("cos_e6").as("score")).as("s"))
      .as[(Long, Scored)]
      .groupByKey(_._1).mapValues(_._2)
      .agg(TopKAgg.topK(k).name("nbrs"))
      .toDF("src_id", "nbrs")
      .select(col("src_id"), posexplode(col("nbrs")))
      .select(col("src_id"), (col("pos") + 1).as("rank"),
        col("col.id").as("nbr_id"), col("col.score").as("cos_e6"))
  }
}
