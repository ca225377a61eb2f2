package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.BloomFunctions

/** [NORTH-STAR] Corpus-curation operators for training-data pipelines:
  * deterministic downsampling, per-group quota selection, and eval-set
  * decontamination. All three are pure relational shapes (filter /
  * window / broadcast anti join) with engine-portable arithmetic, so
  * every one carries a DuckDB oracle.
  *
  * Scale notes (100 TB): sampling is a stateless filter — no shuffle,
  * evaluated at the scan. Quota is one window shuffle on the group key
  * (groups = languages/sources: low cardinality, high volume — exactly
  * the shape AQE skew-split handles). Decontamination broadcasts the
  * eval-set fingerprints (an eval set is small by definition) into an
  * anti join — the corpus side never shuffles.
  */
object Curate {

  /** Lehmer / Park–Miller step, engine-portable: both operands stay
    * under 2^46 so the product cannot overflow a 64-bit integer in ANY
    * engine (DuckDB raises on BIGINT overflow rather than wrapping, so
    * `id * largeConstant` formulations are NOT portable). */
  private val Mersenne31 = 2147483647L // 2^31 - 1
  private val Lehmer = 48271L

  /** Uniform pseudo-random value in [0, 10000) derived from the id
    * alone — rerunnable and seedless. Spark's pmod is always
    * non-negative where ANSI `%` takes the dividend's sign, so the
    * portable SQL twin must normalize each step:
    * `((id % M + M) % M * 48271 % M + M) % M % 10000` with
    * M = 2147483647 (for non-negative ids the plain `%` chain agrees). */
  def hashPermilleE4(id: Column): Column =
    pmod(pmod(pmod(id, lit(Mersenne31)) * Lehmer, lit(Mersenne31)), lit(10000L))

  /** Full-range Lehmer value in [0, 2^31-1): the deterministic shuffle
    * key — the [[hashPermilleE4]] chain applied TWICE. One step is not
    * enough: for ids below ⌊M/48271⌋ ≈ 44488 the product never wraps
    * past the modulus, so a single step is monotonic in the id and the
    * "shuffle" would preserve id order exactly (Wave5Spec pins this).
    * The second multiply always wraps (48271² > M), scattering small
    * ids too. Intermediate products stay < 2^47 — overflow-safe in any
    * engine. */
  def shuffleKey(id: Column): Column = {
    val step1 = pmod(pmod(id, lit(Mersenne31)) * Lehmer, lit(Mersenne31))
    pmod(step1 * Lehmer, lit(Mersenne31))
  }

  /** Deterministic global corpus shuffle — the pretraining data-order
    * step: a total order by (id-hash, id) that is a pure function of
    * the ids, so every rerun (and every engine) deals the same order.
    * Scale: `orderBy` plans as a range-partitioned sort (sampled range
    * exchange + per-partition sort) — no global window, no single-task
    * bottleneck; shard files then come straight off the sorted
    * partitions. */
  def globalShuffle(df: DataFrame, idCol: String): DataFrame =
    df.withColumn("shuffle_key", shuffleKey(col(idCol)))
      .orderBy(col("shuffle_key"), col(idCol))

  /** Write the shuffled corpus as training shards: range-partition on
    * the shuffle key (each shard owns a contiguous key range, sampled
    * boundaries — no single-task sort), sort within each shard, one
    * file per shard. Reading shard files in key order reproduces the
    * exact [[globalShuffle]] order — the property CurateSpec pins. */
  def writeShards(df: DataFrame, idCol: String, numShards: Int,
                  path: String): Unit = {
    require(numShards > 0, s"numShards out of range: $numShards")
    df.withColumn("shuffle_key", shuffleKey(col(idCol)))
      .repartitionByRange(numShards, col("shuffle_key"), col(idCol))
      .sortWithinPartitions(col("shuffle_key"), col(idCol))
      .write.mode("overwrite").parquet(path)
  }

  /** PII scrub: redact email addresses and phone-shaped digit runs to
    * typed placeholder tags — the compliance pass every web-scale
    * training corpus runs before tokenization. Pure codegen'd
    * `regexp_replace` chain at the scan (no UDF, no shuffle); patterns
    * are deliberately RE2-compatible so the same scrub runs identically
    * on engines with RE2 regexes. */
  def piiScrub(text: Column): Column =
    regexp_replace(
      regexp_replace(text,
        "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
      "\\b[0-9]{3}-[0-9]{4}\\b", "<PHONE>")

  /** Deterministic id-hash sampling: keep ~`keepE4`/10000 of rows.
    * Unlike `df.sample`, the decision is a pure function of the id —
    * stable across reruns, partitionings, and engines, which is what a
    * reproducible training-data pipeline needs. */
  def sampleDeterministic(df: DataFrame, idCol: String, keepE4: Long): DataFrame = {
    require(keepE4 >= 0 && keepE4 <= 10000, s"keepE4 out of range: $keepE4")
    df.filter(hashPermilleE4(col(idCol)) < keepE4)
  }

  /** WEIGHTED sampling without replacement (Efraimidis–Spirakis via
    * exponential clocks): each row draws a deterministic uniform
    * u ∈ (0, 1] from its id ([[shuffleKey]] + 1 over 2^31−1) and races
    * with key −ln(u)/w — the k SMALLEST keys win, which selects row i
    * with probability proportional to wᵢ at every prefix (the
    * exponential-race property). A pure function of (id, weight):
    * stable across reruns, partitionings, and engines, unlike
    * `df.sample`. Keys are e6-quantized with an id tie-break so the
    * DuckDB twin byte-matches (the ~1-ulp cross-engine `ln` wobble is
    * ~9 orders of magnitude below the quantization boundary).
    *
    * Scale: key is pure column math at the scan; the k winners come off
    * a TakeOrderedAndProject (per-partition top-k, merged at the
    * driver) — no shuffle, no window, any corpus size. */
  def sampleWeighted(df: DataFrame, idCol: String, weight: Column,
                     k: Int): DataFrame = {
    require(k > 0, s"k out of range: $k")
    val u = (shuffleKey(col(idCol)) + 1).cast("double") / Mersenne31.toDouble
    val key = round(-log(u) / weight * 1e6).cast("long")
    df.withColumn("race_e6", key)
      .orderBy(col("race_e6"), col(idCol))
      .limit(k)
  }

  /** Per-group quota: the top `n` rows of each group by `orderBy`
    * (descending, id tie-break) — "best N documents per language /
    * source" curation. Adds `rk` (1-based rank within group). */
  def quotaPerGroup(df: DataFrame, groupCol: String, idCol: String,
                    orderBy: Column, n: Int): DataFrame = {
    val w = Window.partitionBy(col(groupCol))
      .orderBy(orderBy.desc, col(idCol))
    df.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= n)
  }

  /** Within-document repetition ratio (Gopher-style quality signal):
    * the fraction of word 3-grams that are duplicates of an earlier
    * 3-gram in the SAME document, scaled to 1e4. Boilerplate and
    * template spam score high; clean prose scores near 0. Pure column
    * expressions over one scan — no shuffle, no UDF. Texts shorter
    * than `n` tokens count as one (unique) shingle, ratio 0.
    *
    * The distinct-gram count comes from the codegen'd
    * [[graft.functions.HashExprs ShingleHashes]] (one compiled pass:
    * token xxhash64 → polynomial window hash → hash-set dedup), not
    * `array_distinct(ngrams(...))`: the interpreted HOF built ~80
    * gram STRINGS per document and was the honest-bench heavyweight
    * (31 s warm2 at sf1; 3.4 s with the compiled form). Window count
    * equality with the string form holds because " "-joining
    * space-free tokens is injective; the residual difference is hash
    * collisions at ~g²/2⁶⁴ per doc — the same trust every
    * minhash/fingerprint path already carries (and the DuckDB oracle
    * recomputes string-distinct independently, so a collision would
    * FAIL the hash gate, not hide). Same short-doc rule: m < n ⇒ one
    * whole-prefix gram. Column-only, so the CALLER must have run
    * `VectorFunctions.register(spark)` on the session (the
    * Dedup.simhash convention). */
  def repetitionE4(text: Column, n: Int): Column = {
    val grams = graft.functions.VectorFunctions
      .shingleHashes(TextOps.tokens(text), n)
    val total = greatest(size(TextOps.tokens(text)) - (n - 1), lit(1))
    round(lit(10000.0) * (total - size(grams)) / total)
      .cast("long")
  }

  /** DataFrame overload of [[repetitionE4]] that SELF-registers the
    * codegen'd shingle functions (the [[scrubDupSpans]] convention) —
    * the Column form above cannot, having no session handle, and an
    * unregistered session fails only at analysis time with an opaque
    * unresolved-function error (round-12 advice). Adds `outCol`. */
  def repetitionE4(docs: DataFrame, textCol: String, n: Int,
                   outCol: String): DataFrame = {
    graft.functions.VectorFunctions.register(docs.sparkSession)
    docs.withColumn(outCol, repetitionE4(col(textCol), n))
  }

  /** Greedy sequence-packing statistics: documents are packed
    * shard-by-shard in id order into fixed `windowTokens` context
    * windows (contiguous fill, documents may straddle windows — the
    * pretraining-batch packing shape). Returns one row per
    * (shard, bin): how many documents START in that window and their
    * token mass.
    *
    * Scale: a GLOBAL ordered cumsum would serialize the corpus through
    * one task; sharding first (hash of the id) keeps the window
    * partitioned — each shard's running sum is independent, so the
    * plan is one shuffle on shard + per-partition sort, parallel at
    * any corpus size. */
  def packShards(df: DataFrame, idCol: String, textCol: String,
                 shards: Int, windowTokens: Int): DataFrame = {
    require(shards > 0 && windowTokens > 0)
    val w = Window.partitionBy(col("shard")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(col(idCol),
        pmod(col(idCol), lit(shards.toLong)).as("shard"),
        size(TextOps.tokens(col(textCol))).cast("long").as("n_tokens"))
      .withColumn("running", sum(col("n_tokens")).over(w))
      // the window a document STARTS in; integer div (not fp) so bin
      // boundaries stay exact past 2^53 total tokens
      .withColumn("bin", expr(s"(running - n_tokens) div $windowTokens"))
      .groupBy(col("shard"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("bin_tokens"))
  }

  /** Per-group stratified sampling: each group keeps its own rate
    * (`ratesE4(group)`/10000, `defaultE4` for unlisted groups), decided
    * by the same id-hash as [[sampleDeterministic]] — so the strata are
    * nested (a doc kept at 10% is also kept at 20%) and the whole
    * operator stays a stateless scan-time filter, no shuffle. The rate
    * lookup is a when-chain over the (small) rate map — codegen'd
    * branches, no join. */
  def sampleStratified(df: DataFrame, idCol: String, groupCol: String,
                       ratesE4: Map[String, Long],
                       defaultE4: Long): DataFrame = {
    (ratesE4.values.toSeq :+ defaultE4).foreach(r =>
      require(r >= 0 && r <= 10000, s"rate out of range: $r"))
    val rate = ratesE4.toSeq.sortBy(_._1).foldLeft(lit(defaultE4)) {
      case (acc, (g, r)) => when(col(groupCol) === g, lit(r)).otherwise(acc)
    }
    df.filter(hashPermilleE4(col(idCol)) < rate)
  }

  /** Temperature-resampling mixture weights (the multilingual-pretraining
    * rebalance): per-group weight ∝ n^α with α = 0.5, i.e. weight_e6 =
    * round(1e6·√n / Σ_g √n_g) — upweights tail languages, downweights the
    * head. α is pinned at 0.5 because sqrt is IEEE-correctly-rounded in
    * every engine while pow(n, α) is not — the cross-engine determinism
    * the oracle hash needs; other temperatures are the same shape with
    * `pow` and a documented tolerance. The Σ is a LEFT FOLD over the
    * group-sorted per-group terms (collect_list is bounded by the number
    * of GROUPS — languages/sources, not corpus rows), matching DuckDB's
    * `list_sum(list(x ORDER BY g))` addition order exactly. */
  def mixtureWeights(df: DataFrame, groupCol: String): DataFrame = {
    // materialized once: counts feeds both the Σ subtree and the output
    // join — uncached, the full-corpus groupBy would run twice
    val counts = df.groupBy(col(groupCol)).agg(count(lit(1)).as("n_docs"))
      .localCheckpoint()
    val total = counts.agg(
      aggregate(
        array_sort(collect_list(struct(col(groupCol), sqrt(col("n_docs")).as("s")))),
        lit(0.0), (acc, x) => acc + x.getField("s")).as("tot"))
    counts.crossJoin(broadcast(total))
      .select(col(groupCol), col("n_docs"),
        round(lit(1000000.0) * sqrt(col("n_docs")) / col("tot"))
          .cast("long").as("weight_e6"))
  }

  /** N-gram decontamination: drop every corpus row sharing at least
    * `minShared` distinct word `n`-grams with the eval set — the
    * any-collision long-n-gram method, which catches PARTIAL overlap
    * (an eval question embedded in a larger page) that the exact-
    * fingerprint [[decontaminate]] misses. Both sides become gram tables
    * of 64-bit gram hashes at the scan; the grams the eval set shares
    * with the corpus are checked for hash collisions first, and the join
    * is [[GramLayer.dropContaminated]], the one the declared key runs. */
  def decontaminateNgrams(corpus: DataFrame, evalSet: DataFrame,
                          idCol: String, textCol: String,
                          n: Int = 8, minShared: Long = 1L,
                          evalTextCol: Option[String] = None): DataFrame = {
    require(n > 0 && minShared >= 1)
    // eval sets often name their text differently (question/prompt);
    // default to the corpus column name
    val evalText = evalTextCol.getOrElse(textCol)
    val evalGrams = GramLayer.gramRows(evalSet, evalText, n)
    GramLayer.requireNoCollisions(GramLayer.gramPairs(corpus, textCol, n)
      .union(GramLayer.gramPairs(evalSet, evalText, n))
      .join(broadcast(evalGrams.select("gram_hash").distinct()), "gram_hash"))
    GramLayer.dropContaminated(corpus,
      GramLayer.gramRows(graft.Tables.widen(corpus), textCol, n, idCol),
      evalGrams, idCol, minShared)
  }

  /** Bloom-filter decontamination — the scale path of [[decontaminate]]
    * for when the eval side does NOT fit in a broadcast (a multi-
    * billion-row held-out set at 100 TB). Three stages:
    *
    *  1. the eval fingerprints fold into one Bloom filter via the
    *     distributed aggregate — only the fixed-size bit array
    *     (`numBits/8` bytes, independent of eval cardinality) crosses
    *     to the driver, like a scalar-subquery runtime filter;
    *  2. the corpus tests membership AT THE SCAN (`might_contain` on a
    *     literal — codegen'd, no join, no shuffle). No false negatives,
    *     so the overwhelming definitely-clean majority is done here;
    *  3. only the might-contain candidates — bounded by true leaks +
    *     the false-positive rate, not corpus size — meet the eval set
    *     in an exact anti-join (shuffled on fp, NOT broadcast: the
    *     premise is an unbroadcastable eval side).
    *
    * Output identical to [[decontaminate]] for any `numBits` (the
    * exact confirm absorbs false positives); `numBits` only moves the
    * candidate volume. */
  def decontaminateBloom(corpus: DataFrame, evalSet: DataFrame,
                         textCol: String, expectedItems: Long = 1L << 20,
                         numBits: Long = 1L << 23): DataFrame = {
    BloomFunctions.register(corpus.sparkSession)
    val evalFps = evalSet
      .select(TextOps.fingerprint(col(textCol)).as("fp")).distinct()
    val bloomBytes = evalFps
      .agg(BloomFunctions.bloomAgg(xxhash64(col("fp")), expectedItems,
        numBits).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    // zero eval rows → the aggregate returns null; nothing can be
    // contaminated, pass the corpus through (a null literal in
    // might_contain would otherwise null-filter EVERY row)
    if (bloomBytes == null) return corpus
    val fpd = corpus.withColumn("fp", TextOps.fingerprint(col(textCol)))
    val hit = BloomFunctions.mightContain(bloomBytes, xxhash64(col("fp")))
    val clean = fpd.filter(!hit)
    val survivors = fpd.filter(hit)
      .join(evalFps, Seq("fp"), "left_anti")
    clean.unionByName(survivors).drop("fp")
  }

  /** Eval-set decontamination: drop every corpus row whose content
    * fingerprint appears in `evalSet` — removing the eval documents AND
    * all their exact duplicates (the leakage an id-based filter would
    * miss). The eval side collapses to distinct fingerprints and
    * broadcasts. */
  def decontaminate(corpus: DataFrame, evalSet: DataFrame,
                    textCol: String): DataFrame = {
    val evalFps = evalSet
      .select(TextOps.fingerprint(col(textCol)).as("fp")).distinct()
    corpus
      .withColumn("fp", TextOps.fingerprint(col(textCol)))
      .join(broadcast(evalFps), Seq("fp"), "left_anti")
      .drop("fp")
  }

  /** Boilerplate SCRUB (the C4 "remove any line that occurs in ≥N
    * documents" rule, at token-chunk granularity because this corpus is
    * single-line): each document splits into non-overlapping
    * `chunkWords`-token chunks; a chunk whose exact text appears in at
    * least `minDocs` DISTINCT documents is boilerplate and is removed
    * from every document; survivors reassemble in original order.
    * Unlike [[decontaminateNgrams]] (which drops whole documents) this
    * edits documents in place — the nav-bar/footer/cookie-banner
    * cleanup step that precedes dedup in a web-corpus pipeline.
    *
    * Scale (100 TB): chunk df is ONE partial-aggregated shuffle on the
    * chunk key (count(DISTINCT doc_id) dedups map-side); the removal is
    * a left-anti join riding the same hash partitioning (no broadcast —
    * the boilerplate set is corpus-derived and unbounded); reassembly
    * is one doc_id shuffle. Everything is linear in corpus size; no
    * all-pairs path exists. Emits (doc_id, n_chunks, n_kept,
    * clean_text) so the caller can audit scrub aggressiveness. */
  def scrubBoilerplate(docs: DataFrame, idCol: String, textCol: String,
                       chunkWords: Int = 8, minDocs: Int = 3): DataFrame = {
    val chunks = docs.select(col(idCol),
      posexplode(TextOps.chunks(col(textCol), size = chunkWords, step = chunkWords)))
      .select(col(idCol), col("pos").cast("long").as("chunk_idx"),
        col("col").as("chunk"))
    val boiler = chunks.groupBy(col("chunk"))
      .agg(countDistinct(col(idCol)).as("df"))
      .filter(col("df") >= minDocs).select("chunk")
    val kept = chunks.join(boiler, Seq("chunk"), "left_anti")
    val rebuilt = kept.groupBy(col(idCol)).agg(
      count(lit(1)).as("n_kept"),
      concat_ws(" ", transform(
        array_sort(collect_list(struct(col("chunk_idx"), col("chunk")))),
        c => c("chunk"))).as("clean_text"))
    chunks.groupBy(col(idCol)).agg(count(lit(1)).as("n_chunks"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), col("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Exact duplicated-SPAN scrub (the distributed counterpart of Lee
    * et al. ACL'22 "Deduplicating Training Data Makes Language Models
    * Better" ExactSubstr): every SLIDING `spanWords`-token window whose
    * exact text occurs in ≥ `minDocs` distinct documents marks all the
    * token positions it covers; marked tokens are removed from every
    * document and the survivors reassemble in order. Where
    * [[scrubBoilerplate]] removes fixed non-overlapping chunks (the C4
    * line rule), this removes ARBITRARY-ALIGNMENT duplicated substrings
    * — overlapping windows merge into maximal spans for free, because
    * coverage is per-position. Documents shorter than `spanWords` have
    * no window and pass through untouched (the reference algorithm's
    * minimum match length). The suffix-array machinery of the paper is
    * replaced by the gram-table shuffle — same output for fixed window
    * length, and it parallelizes as ordinary relational ops.
    *
    * Scale (100 TB): the sliding gram table is spanWords× the token
    * count — linear; the duplicate test is ONE partial-aggregated
    * shuffle on the gram key (count(DISTINCT doc) dedups map-side) and
    * the mark-back a semi join riding the same key. Coverage then
    * stays at DOC grain: the duplicated window STARTS collect per
    * document (one shuffle of dup starts only), merge into maximal
    * [lo, hi] position intervals with one array fold (equal window
    * lengths ⇒ sorted starts merge pairwise), and removal + reassembly
    * is a per-row HOF filter over the already-held token array — no
    * token-grain shuffle at all. (The original shape exploded every
    * covered position, distinct'd them, anti-joined the token table,
    * and re-collected every kept token — four token-grain exchanges
    * whose honest cost was 46 s warm2 at sf1; this form is ~8 s. On a
    * fully-duplicated corpus the intervals collapse to ONE per doc, so
    * the per-token exists() is O(1) exactly where coverage is
    * densest.) No all-pairs anywhere. */
  def scrubDupSpans(docs: DataFrame, idCol: String, textCol: String,
                    spanWords: Int = 8, minDocs: Int = 2): DataFrame = {
    graft.functions.VectorFunctions.register(docs.sparkSession)
    val base = docs.select(col(idCol),
      TextOps.tokens(col(textCol)).as("__toks"))
    // the gram table rides codegen'd 8-byte WINDOW HASHES
    // (ShingleHashesAll: every full window in position order, empty
    // for sub-window docs), not materialized gram strings — the
    // interpreted chunk construction + 50-char-key shuffle was the
    // honest-bench hotspot. Trust note: a cross-doc window-hash
    // collision would mark a false span (~|grams|²/2⁶⁴ corpus-wide,
    // the minhash/fingerprint trust level), and the DuckDB oracle
    // recomputes STRING-keyed duplication independently, so a
    // collision FAILS the hash gate loudly rather than hiding.
    val grams = docs.select(col(idCol),
        posexplode(graft.functions.VectorFunctions.shingleHashesAll(
          TextOps.tokens(col(textCol)), spanWords)))
      .select(col(idCol), col("pos").cast("long").as("start"),
        col("col").as("ghash"))
    val dup = grams.groupBy(col("ghash"))
      .agg(countDistinct(col(idCol)).as("df"))
      .filter(col("df") >= minDocs).select("ghash")
    // maximal covered intervals per doc: sorted dup starts fold left;
    // a start within (hi + 1) of the open interval extends it (equal
    // window lengths make the pairwise check sufficient), a gap closes
    // it. Accumulator = (closed intervals, open lo, open hi).
    val span1 = spanWords - 1
    val emptyIvs = array().cast("array<struct<lo:bigint,hi:bigint>>")
    val merged = aggregate(
      col("starts"),
      struct(emptyIvs.as("ivs"),
        lit(null).cast("bigint").as("lo"), lit(null).cast("bigint").as("hi")),
      (acc, s) =>
        when(acc("lo").isNull,
          struct(acc("ivs").as("ivs"), s.as("lo"), (s + span1).as("hi")))
        .when(s <= acc("hi") + 1L,
          struct(acc("ivs").as("ivs"), acc("lo").as("lo"),
            (s + span1).as("hi")))
        .otherwise(struct(
          concat(acc("ivs"),
            array(struct(acc("lo").as("lo"), acc("hi").as("hi")))).as("ivs"),
          s.as("lo"), (s + span1).as("hi"))),
      acc => when(acc("lo").isNull, acc("ivs"))
        .otherwise(concat(acc("ivs"),
          array(struct(acc("lo").as("lo"), acc("hi").as("hi"))))))
    val ivsTbl = grams.join(dup, Seq("ghash"), "left_semi")
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(col("start"))).as("starts"))
      .select(col(idCol), merged.as("__ivs"))
    base.join(ivsTbl, Seq(idCol), "left")
      .withColumn("__kept", filter(col("__toks"), (t, i) =>
        !exists(coalesce(col("__ivs"), emptyIvs),
          v => i.cast("bigint").between(v("lo"), v("hi")))))
      .select(col(idCol),
        size(col("__toks")).cast("long").as("n_tokens"),
        size(col("__kept")).cast("long").as("n_kept"),
        concat_ws(" ", col("__kept")).as("clean_text"))
  }

  /** Target-affinity SELECTION (the DSIR shape — Xie et al.,
    * NeurIPS'23 "Data Selection for Language Models via Importance
    * Resampling"): build unigram count models of a TARGET corpus (the
    * distribution you want more of) and of the raw POOL, score every
    * pool document by how much more target-like than pool-like its
    * tokens are, and select the top `keepNum/keepDen` fraction. The
    * paper's per-token log-ratio sum is replaced by an exact RATIONAL
    * affinity — Σ(1+c_target[tok]) / Σ(1+c_pool[tok]) over the doc's
    * tokens (add-one smoothed, multiplicity counted), integer sums
    * with ONE final division e6-quantized — the same
    * determinism-over-floats trade as the [[graft.llm]] LM score: no
    * partition-order float accumulation, so the declared query carries
    * a full DuckDB oracle including the selected set.
    *
    * Scale (100 TB): two token-keyed count shuffles (partial-agg) build
    * the models; scoring is a token-key join back to the pool's token
    * table and one doc-key sum; the global selection rank rides
    * [[graft.ops.ScalableRank]] (banded two-pass — a plain global
    * window would serialize the corpus through one task). The target
    * corpus is ordinary distributed data — never collected or
    * broadcast, so a target as big as the pool still works. */
  def selectByTargetAffinity(docs: DataFrame, idCol: String,
                             textCol: String, isTarget: Column,
                             keepNum: Long = 1L,
                             keepDen: Long = 4L): DataFrame = {
    require(keepDen > 0 && keepNum >= 0 && keepNum <= keepDen)
    val toks = docs.select(col(idCol), isTarget.as("__t"),
      explode(TextOps.tokens(col(textCol))).as("tok"))
    val tCounts = toks.filter(col("__t")).groupBy(col("tok"))
      .agg(count(lit(1)).as("__ct"))
    val pCounts = toks.filter(!col("__t")).groupBy(col("tok"))
      .agg(count(lit(1)).as("__cp"))
    val scored = toks.filter(!col("__t"))
      .join(tCounts, Seq("tok"), "left")
      .join(pCounts, Seq("tok")) // every pool token is in the pool model
      .groupBy(col(idCol)).agg(
        count(lit(1)).as("n_toks"),
        sum(lit(1L) + coalesce(col("__ct"), lit(0L))).as("__num"),
        sum(lit(1L) + col("__cp")).as("__den"))
      .withColumn("weight_e6",
        round(lit(1000000.0) * col("__num") / col("__den")).cast("long"))
      .drop("__num", "__den")
    val ranked = graft.ops.ScalableRank.withRank(scored, lit(1),
      Seq(col("weight_e6").desc, col(idCol).asc),
      -col("weight_e6"), "sel_rank", "n_pool")
    ranked.select(col(idCol), col("n_toks"), col("weight_e6"),
      col("sel_rank"), col("n_pool"),
      (col("sel_rank") * keepDen <= col("n_pool") * keepNum)
        .cast("long").as("selected"))
  }

  /** Cluster-based PROTOTYPE PRUNING (Sorscher et al., NeurIPS'22
    * "Beyond neural scaling laws"): assign every embedding to its
    * nearest centroid, rank each cluster's members by prototypicality
    * (cosine to the assigned centroid), and DROP the most prototypical
    * `pruneNum/pruneDen` of every cluster — in the abundant-data
    * regime, easy (prototypical) examples teach the least, and pruning
    * them beats random subsampling at equal token budget. Emits the
    * full audit table (assignment, rank, cluster size, kept flag)
    * rather than just survivors, so the pruning pressure is inspectable
    * per cluster.
    *
    * Determinism: assignment is [[Ivf.assign]]'s integer cosine with
    * ties to the smallest centroid id; the prototypicality order is
    * total ((cos_e6 desc, id asc)); the keep rule is exact long
    * arithmetic (`rank · den > n · num` ⇔ rank/n > frac) — no float
    * division anywhere, so the declared query carries a real DuckDB
    * oracle.
    *
    * Scale (100 TB): assignment is corpus × broadcast(centroids) — the
    * corpus never shuffles for it; the per-cluster rank rides
    * [[graft.ops.ScalableRank]] (banded two-pass, per-task sort bounded
    * at |cluster|/bands) because a plain `Window.partitionBy(cluster)`
    * would serialize a mega-cluster through one task. */
  def prunePrototypes(emb: DataFrame, idCol: String, vecCol: String,
                      centroids: DataFrame, pruneNum: Long = 1L,
                      pruneDen: Long = 4L): DataFrame = {
    require(pruneDen > 0 && pruneNum >= 0 && pruneNum <= pruneDen)
    val assigned = Ivf.assign(emb, idCol, vecCol, centroids)
    val ranked = graft.ops.ScalableRank.withRank(assigned,
      col("centroid_id"),
      Seq(col("cos_e6").desc, col(idCol).asc),
      -col("cos_e6"), "proto_rank", "n_cluster")
    // prune rank ≤ n·num/den (the prototypical head): kept ⇔
    // rank·den > n·num, exact in longs (both sides < 2^63 for any
    // realistic cluster)
    ranked.select(col(idCol), col("centroid_id"), col("cos_e6"),
      col("proto_rank"), col("n_cluster"),
      (col("proto_rank") * pruneDen > col("n_cluster") * pruneNum)
        .cast("long").as("kept"))
  }
}
