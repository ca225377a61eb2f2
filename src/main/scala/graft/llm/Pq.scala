package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** [NORTH-STAR] Product quantization (PQ) — the MEMORY lever of the
  * vector-search family, complementing the IVF/hyperplane layouts'
  * scan-pruning lever: each 64-dim float vector (256 bytes) compresses
  * to `m` one-byte codebook codes (8 bytes at m=8), so the ADC scan
  * side touches 32× less data and a 100 TB embedding corpus serves
  * from ~3 TB of codes. Search is two-stage: an asymmetric-distance
  * (ADC) pass over the codes ranks candidates from a per-query lookup
  * table (query-subvector · centroid dots — m×ks doubles, literal in
  * the plan, no join), then the top `k·overfetch` candidates rerank
  * EXACTLY against their true vectors, so returned scores are genuine
  * cosines and approximation affects only recall, never score values.
  * Like every simsearch family member, the query row itself is
  * excluded — all k slots go to genuine neighbors.
  *
  * Scale shape: codebook training touches the corpus once per Lloyd
  * iteration for ALL subspaces together (the subvector table carries a
  * (j, subvec) pair per subspace — assignment is one broadcast join
  * against m·ks centroid rows, never a corpus shuffle; the mean update
  * shuffles (j, cid, dim) partials, codebook-sized). Encoding is one
  * more pass; the ADC serving scan is shuffle-free (codes scan →
  * lookup-table transform → TakeOrderedAndProject) and the exact
  * rerank joins only k·overfetch ids back to the vector table.
  *
  * Determinism: assignment/encoding are argmin with ties to the
  * smallest centroid id, and the ADC/rerank orderings tiebreak on
  * vec_id — deterministic given a codebook. Trained codebooks use
  * float `avg` (summation order is partition-dependent), so like every
  * distributed k-means ([[Ivf]]) they are bit-nondeterministic across
  * cluster layouts: the declared query is rows-only by design and
  * PqSpec pins recall against the exact baseline instead of a hash.
  *
  * Reference anchor: no counterpart — mandated by the [NORTH-STAR]
  * similarity-search rows (SURVEY §2.11 N3).
  */
object Pq {

  /** (id, j, subvec): the corpus exploded to m subvectors of dims/m —
    * every subspace trains from ONE shared pass over this table. */
  private[llm] def subvectors(emb: DataFrame, idCol: String,
                              vecCol: String, m: Int, dims: Int): DataFrame = {
    val sub = dims / m
    emb.select(col(idCol).as("__id"),
        explode(array((0 until m).map(j =>
          struct(lit(j).as("j"),
            slice(col(vecCol), j * sub + 1, sub).as("subvec"))): _*)).as("g"))
      .select(col("__id"), col("g.j"), col("g.subvec"))
  }

  /** Squared L2 over float arrays in double HOF math — sequential
    * per-pair fold, deterministic, whole-stage codegen. */
  private def dist2(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) =>
        (x.cast("double") - y.cast("double")) *
          (x.cast("double") - y.cast("double"))),
      lit(0d), (acc, v) => acc + v)

  /** Best centroid per (vector, subspace): argmin L2, ties to the
    * smallest cid; carries the subvec so the mean update needs no
    * second join. */
  private def assign(subs: DataFrame, cb: DataFrame): DataFrame =
    subs.join(broadcast(cb), Seq("j"))
      .select(col("__id"), col("j"),
        struct(dist2(col("subvec"), col("cvec")).as("d2"),
          col("cid"), col("subvec")).as("cand"))
      .groupBy("__id", "j").agg(min("cand").as("best"))

  /** Train per-subspace codebooks jointly: (j, cid, cvec) with
    * cid ∈ [0, ks). Init seeds every subspace from the ks smallest
    * ids' subvectors (deterministic for any id space); `iters` Lloyd
    * steps follow, each ONE pass over the corpus for all subspaces.
    * Empty cells keep their previous centroid (standard practice —
    * dropping them would shrink ks mid-train). */
  def trainCodebooks(emb: DataFrame, idCol: String, vecCol: String,
                     m: Int, dims: Int, ks: Int, iters: Int): DataFrame = {
    require(dims % m == 0, s"dims=$dims must split into m=$m subspaces")
    val subs = subvectors(emb, idCol, vecCol, m, dims).localCheckpoint()
    // seed on the ORIGINAL typed id column (no long cast — a string id
    // space would null out under cast and drop seeds): the ks smallest
    // ids take cids 0..ks-1 in id order. TakeOrdered(ks) then a window
    // over those ks rows only — bounded, deterministic for any
    // orderable id type.
    val seedDf = emb.select(col(idCol).as("__id"))
      .orderBy("__id").limit(ks)
      .withColumn("cid", (row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("__id")) - 1)
        .cast("long"))
      .localCheckpoint()
    require(seedDf.count() == ks, s"need at least $ks vectors to seed")
    var cb = subs.join(broadcast(seedDf), Seq("__id"))
      .select(col("j"), col("cid"), col("subvec").as("cvec"))
      .localCheckpoint()
    for (_ <- 0 until iters) {
      val means = assign(subs, cb)
        .select(col("j"), col("best.cid").as("cid"),
          posexplode(col("best.subvec")))
        .groupBy(col("j"), col("cid"), col("pos"))
        .agg(avg(col("col")).as("mv"))
        .groupBy(col("j"), col("cid"))
        .agg(collect_list(struct(col("pos"), col("mv"))).as("dims"))
        .select(col("j"), col("cid"),
          transform(array_sort(col("dims")), x =>
            x.getField("mv").cast("float")).as("cvec"))
      cb = cb.join(means, Seq("j", "cid"), "left_anti")
        .unionByName(means).localCheckpoint()
    }
    cb
  }

  /** PQ-encode the corpus: (id, codes) with codes(j) = best cid of
    * subspace j — the 8-bytes-per-vector serving table. */
  def encode(emb: DataFrame, idCol: String, vecCol: String,
             cb: DataFrame, m: Int, dims: Int): DataFrame =
    assign(subvectors(emb, idCol, vecCol, m, dims), cb)
      .groupBy(col("__id"))
      .agg(transform(
        array_sort(collect_list(struct(col("j"), col("best.cid")))),
        x => x.getField("cid")).as("codes"))
      .select(col("__id").as(idCol), col("codes"))

  /** The per-query ADC lookup table: lut(j·ks + c) = q_j · centroid_{j,c}
    * — m·ks doubles from the collected codebook, a literal in the
    * serving plan (no join against the codebook at scan time). */
  private def lutFor(qv: Seq[Float], cb: DataFrame,
                     m: Int, ks: Int, sub: Int): Array[Double] = {
    val lut = Array.ofDim[Double](m * ks)
    cb.collect().foreach { r => // m·ks rows — codebook-sized by design
      val j = r.getInt(r.fieldIndex("j"))
      val cid = r.getLong(r.fieldIndex("cid")).toInt
      val cvec = r.getSeq[Float](r.fieldIndex("cvec"))
      var d = 0d
      var i = 0
      while (i < sub) { d += qv(j * sub + i).toDouble * cvec(i); i += 1 }
      lut(j * ks + cid) = d
    }
    lut
  }

  /** ADC score of a code array against a lookup-table literal. */
  private def adcScore(codes: Column, lutLit: Column,
                       m: Int, ks: Int): Column =
    aggregate(
      zip_with(codes, sequence(lit(0), lit(m - 1)),
        (c, j) => element_at(lutLit, (j * ks + c + 1).cast("int"))),
      lit(0d), (acc, v) => acc + v)

  /** Two-stage PQ top-k: ADC over the codes (lookup-table literal, no
    * join, TakeOrdered) ranks `k·overfetch` candidates; the exact
    * cosine rerank over their true vectors returns genuine scores.
    * Returns (idCol, cos_e6), best first. */
  def adcTopK(emb: DataFrame, codes: DataFrame, cb: DataFrame,
              idCol: String, vecCol: String, queryId: Long, k: Int,
              m: Int, dims: Int, ks: Int, overfetch: Int = 4): DataFrame = {
    val (qv, cand) = adcCandidates(emb, codes, cb, idCol, vecCol,
      queryId, k, m, dims, ks, overfetch)
    exactRerank(emb, idCol, vecCol, qv, cand, k)
  }

  /** The ADC CANDIDATE stage of [[adcTopK]], exposed (round 8) so the
    * declared query can export the index-picked ids for its DuckDB
    * oracle — the trained codebook only picks the candidates; the
    * exact-cosine rerank after them is relational algebra the oracle
    * recomputes independently. */
  def adcCandidates(emb: DataFrame, codes: DataFrame, cb: DataFrame,
                    idCol: String, vecCol: String, queryId: Long, k: Int,
                    m: Int, dims: Int, ks: Int,
                    overfetch: Int): (Seq[Float], DataFrame) = {
    graft.functions.VectorFunctions.register(emb.sparkSession)
    val qv = emb.filter(col(idCol) === queryId)
      .select(vecCol).head().getSeq[Float](0)
    val lutLit = array(
      lutFor(qv, cb, m, ks, dims / m).toIndexedSeq.map(lit): _*)
    (qv, codes
      .filter(col(idCol) =!= queryId) // the family contract: neighbors only
      .withColumn("adc", adcScore(col("codes"), lutLit, m, ks))
      .orderBy(desc("adc"), col(idCol)).limit(k * overfetch)
      .select(col(idCol)))
  }

  /** The exact-cosine rerank every PQ-family search ends in. */
  private[llm] def exactRerank(emb: DataFrame, idCol: String, vecCol: String,
                          qv: Seq[Float], candidates: DataFrame,
                          k: Int): DataFrame =
    candidates.join(emb, Seq(idCol))
      .select(col(idCol),
        SimSearch.cosineE6(col(vecCol), typedlit(qv)).as("cos_e6"))
      .orderBy(desc("cos_e6"), col(idCol)).limit(k)

  /** IVF-PQ index: the billion-scale serving layout — hyperplane
    * bucket DIRECTORIES for partition pruning ([[SimSearch]]'s IVF
    * lever) holding only (id, codes) rows (this file's memory lever):
    * the index stores 8 bytes per vector, true vectors never enter it
    * and are fetched only for the k·overfetch rerank. Bucket
    * co-location before the write keeps it one file per bucket.
    * Writes in place into `path`: a staging dir (the generation
    * [[graft.cdc.Maintenance.maintainVectorIndex]] publishes, or a
    * [[CorpusCache]] temp sibling). */
  def writeIvfPq(emb: DataFrame, idCol: String, vecCol: String,
                 cb: DataFrame, m: Int, dims: Int, planes: Int,
                 path: String): Unit = {
    graft.functions.VectorFunctions.register(emb.sparkSession)
    emb.select(col(idCol),
        SimSearch.hyperplaneSignature(col(vecCol), planes).as("bucket"))
      .join(encode(emb, idCol, vecCol, cb, m, dims), Seq(idCol))
      .repartition(col("bucket"))
      .write.mode("append").partitionBy("bucket").parquet(path)
  }

  /** Incremental ingest into a [[writeIvfPq]] index: sign + encode the
    * batch AGAINST THE EXISTING CODEBOOK and append into the bucket
    * directories — no retrain, no rebuild, cost ∝ batch (the
    * growing-corpus contract shared with
    * [[SimSearch.appendBucketed]] and the z-layout append). Probe
    * queries serve the union immediately: partition pruning sees old
    * and new files alike. The codebook staying fixed is the standard
    * PQ serving trade — drift between the frozen centroids and a
    * shifting embedding distribution degrades ADC ranking quality
    * (never correctness: the exact rerank stands), and the periodic
    * retrain+rebuild is the same maintenance window every index here
    * already budgets. */
  def appendIvfPq(batch: DataFrame, idCol: String, vecCol: String,
                  cb: DataFrame, m: Int, dims: Int, planes: Int,
                  path: String): Unit = {
    val spark = batch.sparkSession
    graft.functions.VectorFunctions.register(spark)
    // ONE signature pass, materialized: the bucket probe list, the
    // membership anti-join, the tag aggregate, and the staging write
    // below all read this frame instead of re-evaluating the
    // planes×dims signature per consumer
    val signed = batch.select(col(idCol), col(vecCol),
        SimSearch.hyperplaneSignature(col(vecCol), planes).as("bucket"))
      .localCheckpoint(true)
    // RETRY-STRADDLES-RETRAIN guard (round-9 ADVICE): a crash BEFORE
    // the commit followed by a retrain (which re-encodes the full
    // current corpus, batch included, and drops every append key)
    // leaves the retried batch unknown to the new manifest — a naive
    // retry would double-ingest it.
    // The guard drops every batch id already present in the layout —
    // but only if it carries the SAME vector (loud-check below).
    // Cost: the (id, bucket, codes) columns of the bucket directories
    // the batch touches (partition-pruned; ≤ min(|batch|, 2^planes)
    // dirs) — for a small batch a sliver of the index, for a
    // bucket-covering batch at worst the full ~16-bytes-per-vector
    // id+codes read, which is the price of making a retry safe
    // against a retrain it cannot observe.
    // A first-ever ingest (no layout yet) bootstraps: nothing to probe.
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the committed base + appended generations (or a layout written
    // in place, a CorpusCache build)
    val dirs = graft.streaming.ManifestSwap.dataPaths(spark, path)
    val fresh =
      if (dirs.isEmpty) signed
      else {
        // Int literals: the signature is a < 2^planes bitmask, and the
        // partition-dir inference types `bucket=N` as int — a literal
        // of the inferred type keeps the cast off the partition
        // attribute, which is what the file-index pruning keys on.
        val buckets = signed.select("bucket").distinct()
          .collect().map(_.getLong(0).toInt).toSeq
        if (buckets.isEmpty) return
        val existing0: Option[DataFrame] =
          if (dirs == Seq(path))
            Some(spark.read.parquet(path)
              .filter(col("bucket").isin(buckets: _*))
              .select(col(idCol), col("bucket").cast("long"), col("codes")))
          else
            // published root: one read per existing (generation, probed
            // bucket) leaf dir — the same IO pruning, the partition
            // value re-attached from the enumeration (None = no probed
            // bucket exists anywhere yet: the whole batch is fresh)
            dirs.flatMap { dd =>
              buckets.flatMap { b =>
                val p = new org.apache.hadoop.fs.Path(dd, s"bucket=$b")
                if (fs.exists(p))
                  Some(spark.read.parquet(p.toString)
                    .select(col(idCol), lit(b.toLong).as("bucket"),
                      col("codes")))
                else None
              }
            }.reduceOption(_ unionByName _)
        existing0 match {
          case None => signed
          case Some(e0) =>
        val existing = e0
          .select(col(idCol), col("bucket").cast("long").as("_idx_bucket"),
            col("codes").as("_idx_codes"))
        // ONE probe scan of the pruned buckets, materialized: fresh
        // rows AND id-matches come out of the same join
        val probed = signed.join(existing, Seq(idCol), "left_outer")
          .localCheckpoint(true)
        val matched = probed.filter(col("_idx_codes").isNotNull)
        // LOUD contract check (round-10 ADVICE): an id the probe finds
        // must carry the SAME vector as the indexed row — same
        // hyperplane signature AND same PQ codes under the frozen
        // codebook. A mismatch means a re-embedding was routed through
        // append instead of retrain; silently dropping it would
        // diverge index from corpus (the planted-clone require()
        // pattern). Honest limit: a re-embedded id whose OLD vector
        // lives entirely outside the probed buckets is not visible to
        // this probe and surfaces as a duplicate id at the next
        // retrain — detecting it here would cost a full-index id scan
        // on every append. That surfacing is ENFORCED, not hoped for:
        // Maintenance.maintainVectorIndex refuses to retrain a corpus
        // carrying duplicate ids (round-11 verdict #1).
        if (!matched.isEmpty) {
          val divergent = matched
            .join(encode(matched.select(col(idCol), col(vecCol)),
              idCol, vecCol, cb, m, dims)
              .withColumnRenamed("codes", "_re_codes"), Seq(idCol))
            .filter(col("bucket") =!= col("_idx_bucket") ||
              col("_idx_codes") =!= col("_re_codes"))
            .select(col(idCol)).limit(5).collect().map(_.get(0))
          require(divergent.isEmpty,
            s"graft appendIvfPq: batch ids ${divergent.mkString(", ")} " +
              "already exist in the index with a DIFFERENT vector " +
              "(signature or PQ codes differ) — a re-embedding must go " +
              "through retrain (Maintenance.maintainVectorIndex), not " +
              "append; refusing to silently drop or duplicate it")
        }
        probed.filter(col("_idx_codes").isNull)
          .select(col(idCol), col(vecCol), col("bucket"))
        // probed is localCheckpointed: one membership scan, stable
        // across the tag agg + staging write below
        }
      }
    // content-keyed append (round 9) — retry-idempotent; the periodic
    // retrain ([[graft.cdc.Maintenance.maintainVectorIndex]])
    // re-encodes the FULL current corpus and its install drops every
    // append key, so appends of the superseded layout are never
    // replayed into the new one. Tagged over (id, vec) only — the tag
    // must not depend on planes.
    val rows = fresh.select(col(idCol), col(vecCol))
    graft.streaming.StagedAppend.append(path, rows) { gen =>
      fresh.select(col(idCol), col("bucket"))
        .join(encode(rows, idCol, vecCol, cb, m, dims), Seq(idCol))
        .repartition(col("bucket"))
        .write.mode("append").partitionBy("bucket").parquet(gen)
    }
  }

  /** Codebook of a serving index directory: the `_codebook` subdir a
    * [[writeIvfPq]]-shaped layout carries (underscore-prefixed, so the
    * code read never sees it). The retrain
    * ([[graft.cdc.Maintenance.maintainVectorIndex]]) installs codes and
    * codebook in ONE generation, so the committed base carries the
    * matching `_codebook`; a layout written in place carries its own. */
  def indexCodebook(spark: org.apache.spark.sql.SparkSession,
                    layoutPath: String): DataFrame = {
    val base = graft.streaming.ManifestSwap.readPath(spark, layoutPath)
      .getOrElse(layoutPath)
    spark.read.parquet(base.stripSuffix("/") + "/_codebook")
  }

  /** Probe the [[writeIvfPq]] index: the hamming-ball probe set is
    * enumerated driver-side and the code read is PARTITION-PRUNED to
    * those bucket directories (a 100 TB index read becomes
    * probed/2^planes of ~3 TB of codes); ADC ranks the probed codes
    * off the lookup-table literal, then the exact rerank touches true
    * vectors for k·overfetch ids only. Returns (idCol, cos_e6).
    * Resolves the committed layout like [[indexCodebook]]. */
  def ivfPqTopK(emb: DataFrame, layoutPath: String, cb: DataFrame,
                idCol: String, vecCol: String, queryId: Long, k: Int,
                m: Int, dims: Int, ks: Int, planes: Int,
                probeHamming: Int = 2, overfetch: Int = 4): DataFrame = {
    val (qv, cand) = ivfPqCandidates(emb, layoutPath, cb, idCol, vecCol,
      queryId, k, m, dims, ks, planes, probeHamming, overfetch)
    exactRerank(emb, idCol, vecCol, qv, cand, k)
  }

  /** The probe+ADC CANDIDATE stage of [[ivfPqTopK]] (the
    * [[adcCandidates]] contract over the partition-pruned layout). */
  def ivfPqCandidates(emb: DataFrame, layoutPath: String, cb: DataFrame,
                      idCol: String, vecCol: String, queryId: Long,
                      k: Int, m: Int, dims: Int, ks: Int, planes: Int,
                      probeHamming: Int,
                      overfetch: Int): (Seq[Float], DataFrame) = {
    val spark = emb.sparkSession
    graft.functions.VectorFunctions.register(spark)
    val qRow = emb.filter(col(idCol) === queryId)
      .select(col(vecCol),
        SimSearch.hyperplaneSignature(col(vecCol), planes)).head()
    val qv = qRow.getSeq[Float](0)
    val probes = SimSearch.probeBuckets(qRow.getLong(1), planes, probeHamming)
    val lutLit = array(
      lutFor(qv, cb, m, ks, dims / m).toIndexedSeq.map(lit): _*)
    val dirs = graft.streaming.ManifestSwap.dataPaths(spark, layoutPath)
    val codes =
      if (dirs == Seq(layoutPath))
        // a layout written in place (a CorpusCache build)
        spark.read.parquet(layoutPath)
          .filter(col("bucket").isin(probes: _*)) // prunes at the file index
      else {
        // published root: enumerate the probe buckets' leaf dirs across
        // the committed generations (same IO pruning; the `_codebook`
        // subdir is invisible to this walk by name)
        val fs = new org.apache.hadoop.fs.Path(layoutPath)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val leafs = for {
          d <- dirs; b <- probes
          p = new org.apache.hadoop.fs.Path(d, s"bucket=$b")
          if fs.exists(p)
        } yield p.toString
        if (leafs.isEmpty)
          return (qv, emb.select(col(idCol)).limit(0))
        spark.read.parquet(leafs: _*)
      }
    (qv, codes
      .filter(col(idCol) =!= queryId) // the family contract: neighbors only
      .withColumn("adc", adcScore(col("codes"), lutLit, m, ks))
      .orderBy(desc("adc"), col(idCol)).limit(k * overfetch)
      .select(col(idCol)))
  }
}
