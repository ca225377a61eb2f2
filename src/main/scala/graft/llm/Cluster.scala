package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** [NORTH-STAR] Transitive dup clustering: near-dup PAIRS are not yet a
  * dedup decision — if a~b and b~c, dropping "the higher id of every
  * pair" can drop b twice and keep both a and c even when they never
  * paired directly. The curation-grade operation is CONNECTED COMPONENTS
  * over the verified-pair graph: every document gets a cluster id (the
  * minimum doc id reachable through near-dup edges), and the survivor
  * set is one representative per cluster.
  *
  * Algorithm: iterative min-label propagation with a pointer-jumping
  * step, entirely in DataFrame ops —
  *   1. label(v) ← min(label(v), min over neighbors u of label(u))
  *      (one groupBy shuffle on the edge endpoint),
  *   2. label(v) ← label(label(v)) (one self-join — pointer jumping,
  *      which halves chain lengths and turns the worst-case round count
  *      from graph diameter into O(log diameter)),
  * repeated to a fixpoint. Each iteration ends in `localCheckpoint` so
  * the plan stays O(1) deep instead of growing with the iteration count
  * (an unbounded lineage is a real scale bug: task re-execution would
  * recompute every prior round).
  *
  * Scale (100 TB): near-dup components are LSH-verified pair cliques —
  * diameter is small by construction (a chain a~b~c with a̸~c needs
  * every hop to clear the Jaccard threshold while the endpoints miss
  * it, which caps chains at a handful of hops in practice), so the loop
  * converges in 2-4 rounds; the pointer-jump bound holds even for
  * adversarial chains. Every round is two shuffles on high-cardinality
  * ids. The driver-side work per round is ONE boolean (did any label
  * change), never the labels themselves.
  */
object Cluster {

  /** Connected components over an undirected edge list `(id_a, id_b)`.
    * Returns `(id, cluster_id)` for every node that appears in an edge;
    * `cluster_id` = min node id in the component. `maxIter` bounds the
    * loop (pointer jumping makes 25 rounds enough for components of
    * diameter ~2^25 — far past anything a dedup graph produces); if the
    * bound is ever hit the loop throws rather than returning a
    * half-converged labeling. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 25): DataFrame = {
    // a non-positive bound is a caller error (IllegalArgumentException),
    // thrown BEFORE the eager round-1 compute + checkpoint below ever runs
    require(maxIter > 0, s"connectedComponents needs maxIter > 0, got $maxIter")
    // materialize the edge list ONCE, before both the symmetrizing
    // union and the per-round joins: without the checkpoint every
    // downstream use would re-run the upstream pair pipeline (for
    // dupClusters, the whole LSH candidate+verify DAG) — and a
    // checkpoint placed after the union would still evaluate that DAG
    // twice, once per orientation (the two Project parents defeat
    // exchange reuse). Measured 3× the query cost.
    val directed = edges
      .select(col("id_a").as("src"), col("id_b").as("dst"))
      .localCheckpoint()
    val sym = directed
      .unionByName(directed.select(col("dst").as("src"), col("src").as("dst")))

    // ROUND 1 over identity labels needs no label table at all (r15
    // opt): nbr_label(v) is just min incoming src, the propagated
    // label least(id, that), and the pointer jump a self-join — the
    // generic round's sym⋈labels join and the identity-label
    // materialization both disappear from the first round.
    val prop0 = sym.groupBy(col("dst"))
      .agg(min(col("src")).as("nbr_label"))
      .select(col("dst").as("id"),
        least(col("dst"), col("nbr_label")).as("label"))
    val round1 = prop0.alias("a")
      .join(prop0.alias("b"), col("a.label") === col("b.id"))
      .select(col("a.id").as("id"), col("b.label").as("label"),
        // changed vs the identity labels round 1 starts from — only
        // consulted on the maxIter == 1 path below, so the common
        // path pays no extra action for it
        (col("b.label") =!= col("a.id")).as("__chg"))
      .localCheckpoint()
    if (maxIter == 1) {
      // r16 (advice): previously the only return lived inside the
      // loop, so maxIter = 1 threw even for graphs that converge in
      // one round (e.g. an empty edge list)
      if (round1.filter(col("__chg")).isEmpty)
        return round1.select("id", "label")
      throw new IllegalStateException(
        "connectedComponents did not converge in 1 round")
    }
    var labels = round1.select("id", "label")
    var iter = 1
    while (iter < maxIter) {
      // 1. min over each node's neighborhood (incoming labels)
      val nbrMin = sym.join(labels, sym("src") === labels("id"))
        .groupBy(col("dst")).agg(min(col("label")).as("nbr_label"))
      val propagated = labels.join(nbrMin, labels("id") === nbrMin("dst"), "left")
        .select(col("id"), col("label").as("__old"),
          least(col("label"), coalesce(col("nbr_label"), col("label")))
            .as("label"))
      // 2. pointer jump: follow the label's own label. label ≤ id for
      // every node and labels contains every node, so the lookup hits.
      // The convergence flag rides the SAME pass (r15 opt: the former
      // jumped-vs-labels join re-shuffled both tables once per round
      // just to ask "did anything change"; carrying the old label
      // makes the check a filter over the checkpointed rows).
      val jumped = propagated.alias("a")
        .join(propagated.alias("b"), col("a.label") === col("b.id"))
        .select(col("a.id").as("id"), col("b.label").as("label"),
          (col("b.label") =!= col("a.__old")).as("__chg"))
        .localCheckpoint()
      val converged = jumped.filter(col("__chg")).isEmpty
      labels = jumped.select(col("id"), col("label"))
      iter += 1
      if (converged) return labels
    }
    throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter rounds")
  }

  /** N2''''' — dup clusters of a corpus: connected components over the
    * MinHash-verified near-dup pairs, one row per clustered document
    * with its cluster id (min member) and cluster size. Documents with
    * no near-dup stay out of the output (their cluster is themselves).
    *
    * Clone-heavy corpora go through [[Dedup.cloneGroups]] (round 9 —
    * the sf5/sf10 probes measured the pair graph growing as C(m,2) per
    * duplicated text, 15 → 57 s warm2 at 2× data): components run over
    * the REP-level pair graph, then each clustered rep's whole clone
    * group joins its component by membership (clone-mates are J=1.0
    * partners of their rep, so they belong by construction — identical
    * texts ALWAYS verify: HashUtil.shingleHashes emits ≥1 shingle for
    * any token run), and a clone group with no rep edge is its own
    * component (label = rep = min member, size = group width). Labels
    * and sizes are unchanged: reps are group minima, so the component
    * min over reps IS the min member, and sizes count members. At the
    * driver verify SFs the gate is off and the original single-plan
    * path runs — oracle-identical. */
  def dupClusters(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val (groups, mapping, hasClones) =
      Dedup.cloneGroups(df, idCol, textCol)
    if (!hasClones) {
      val pairs = Dedup.minhashNearDups(df, idCol, textCol)
        .select("id_a", "id_b")
      val cc = connectedComponents(pairs)
      val sizes = cc.groupBy(col("label"))
        .agg(count(lit(1)).as("cluster_size"))
      cc.join(sizes, "label")
        .select(col("label").as("cluster_id"), col("id").as(idCol),
          col("cluster_size"))
    } else {
      val reps = df.join(groups.select(col("__rep").as(idCol)), Seq(idCol))
        .select(col(idCol), col(textCol))
      val repPairs = Dedup.minhashNearDups(reps, idCol, textCol)
        .select("id_a", "id_b")
      val cc = connectedComponents(repPairs)
      val clustered = mapping
        .join(cc.withColumnRenamed("id", "__rep"), "__rep")
        .select(col("label"), col("__id"))
      val iso = groups.filter(col("__n") > 1)
        .join(cc.select(col("id").as("__rep")), Seq("__rep"), "left_anti")
        .select(col("__rep"))
      val isoMembers = mapping.join(iso, "__rep")
        .select(col("__rep").as("label"), col("__id"))
      val all = clustered.unionByName(isoMembers)
      val sizes = all.groupBy("label")
        .agg(count(lit(1)).as("cluster_size"))
      all.join(sizes, "label")
        .select(col("label").as("cluster_id"), col("__id").as(idCol),
          col("cluster_size"))
    }
  }

  /** PAGERANK centrality over a directed edge list — importance
    * scores for "which examples anchor the corpus's similarity
    * structure" (representative selection, the centrality complement
    * of [[graft.llm.Curate.prunePrototypes]]'s per-cluster rank).
    *
    * DETERMINISTIC by construction, so the spec replays it exactly:
    * scores are e12-scaled longs (total mass n·⌊1e12/n⌋), each round
    * is `pr' = teleport + (85 · Σ ⌊pr(u)/outdeg(u)⌋) / 100` in pure
    * long arithmetic — integer sums are order-independent where a
    * float power iteration would drift with partial-aggregation order.
    * The floor divisions shed ≤ outdeg mass per vertex per round
    * (bounded, one-sided); ranking — the consumer's question — is
    * unaffected at e12 resolution.
    *
    * DANGLING-VERTEX CONTRACT: a vertex with no out-edges (dst-only)
    * contributes NOTHING to the next round — its entire 85%
    * non-teleport share is dropped, where textbook PageRank
    * redistributes dangling mass uniformly. This is deliberate for
    * the kNN-graph consumer (every vertex is a src by construction,
    * so no dangling mass exists) and keeps each round to two
    * shuffles; a general-graph caller who needs standard scores must
    * either add self-loops / back-edges to sink vertices or accept
    * that sink-adjacent scores read lower than the textbook value.
    * The floor-division mass shedding above is the same one-sided
    * kind — total mass only ever decreases, never migrates.
    *
    * Scale: each round is one (src)-keyed join of the score table to
    * the edge list + one (dst)-keyed partial+final sum — both
    * high-cardinality shuffles — and a left join back to the vertex
    * set; `localCheckpoint` truncates the lineage per round (the
    * [[connectedComponents]] discipline) so the plan stays O(1) deep.
    * 85·pr ≤ 8.5e13 — no long overflow at any n. */
  def pageRank(edges: DataFrame, iters: Int = 5): DataFrame = {
    val e = edges.select(col("id_a").as("src"), col("id_b").as("dst"))
      .localCheckpoint()
    val outDeg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val eDeg = e.join(outDeg, "src").localCheckpoint()
    val verts = e.select(col("src").as("id"))
      .unionByName(e.select(col("dst").as("id"))).distinct()
      .localCheckpoint()
    val n = verts.count()
    require(n > 0, "pageRank on an empty graph")
    val init = 1000000000000L / n
    val teleport = (15L * init) / 100L
    var scores = verts.withColumn("pr", lit(init))
    var iter = 0
    while (iter < iters) {
      val incoming = scores.join(eDeg, scores("id") === eDeg("src"))
        .select(col("dst"), expr("pr div deg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("in"))
      scores = verts.join(incoming, verts("id") === incoming("dst"), "left")
        .select(col("id"),
          (lit(teleport) +
            expr(s"(85 * coalesce(in, 0L)) div 100").cast("long")).as("pr"))
        .localCheckpoint()
      iter += 1
    }
    scores
  }
}
