package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained AGGREGATE view — classic incremental view
  * maintenance (IVM) over the changefeed: a grouped count/sum view kept
  * fresh by applying only each batch's contribution DELTAS, never
  * rescanning the snapshot (the aggregate sibling of
  * [[graft.ops.MaterializedView]], which maintains a denormalized
  * per-row view by bucket rewrite; here the view is additive, so a
  * batch folds in as `view + Σ(new contributions − old contributions)`
  * over the touched entities only).
  *
  * Per batch the work is the touched entities' old and new
  * contributions — lookups of the batch's ids in the current-state index
  * — and a group-keyed delta aggregate joined to the view; nothing is
  * proportional to the snapshot but the min/max rescan of dirty groups.
  * count/sum are self-maintainable aggregates — min/max are NOT (a
  * delete can force a rescan of the group).
  */
object AggView {

  /** Per-entity contribution of a live snapshot to the view: the
    * invoice's group (order status) and measure (order total, exact
    * integer cents) — a lookup of the snapshot's ids in the current-state
    * index ([[InvoiceCdc.headerRows]]); an id with no header contributes
    * nothing. */
  def contributions(spark: SparkSession, dir: String,
                    snap: DataFrame): DataFrame =
    InvoiceCdc.headerRows(spark, dir)
      .join(snap.select("invoice_id"), "invoice_id")
      .select(col("invoice_id"),
        col("o_orderstatus").as("grp"),
        round(col("o_totalprice") * 100).cast("long").as("measure"))

  /** The view shape: additive count + sum per group. */
  def viewOf(contrib: DataFrame): DataFrame =
    contrib.groupBy("grp")
      .agg(count(lit(1)).as("n_rows"), sum("measure").as("sum_cents"))

  /** A batch's signed contribution delta (grp, measure, w): new
    * contributions weigh +1, old ones −1. At most the two contribution
    * sets' rows — a streaming fold stages it once for every view. */
  def signedDelta(oldContrib: DataFrame, newContrib: DataFrame): DataFrame =
    newContrib.select(col("grp"), col("measure"), lit(1L).as("w"))
      .unionByName(oldContrib.select(col("grp"), col("measure"), lit(-1L).as("w")))

  /** Fold a batch's contribution delta into the view: new contributions
    * count +1, old ones −1; groups whose count reaches zero drop out.
    * Null-safe on the group key (`<=>` would not even be needed — the
    * union keeps null groups as rows and groupBy keys them together). */
  def applyDelta(view: DataFrame, oldContrib: DataFrame,
                 newContrib: DataFrame): DataFrame =
    foldDelta(view, signedDelta(oldContrib, newContrib))

  /** [[applyDelta]] over a [[signedDelta]]: the view's rows and the
    * delta's rows summed per group in one aggregate. Both sides are
    * small — group cardinality and batch size — so the aggregate runs in
    * one task, with no exchange. */
  def foldDelta(view: DataFrame, delta: DataFrame): DataFrame =
    view.select(col("grp"), col("n_rows").as("n"), col("sum_cents").as("s"))
      .unionByName(delta.select(col("grp"), col("w").as("n"),
        (col("measure") * col("w")).as("s")))
      .coalesce(1)
      .groupBy("grp").agg(sum("n").as("n_rows"), sum("s").as("sum_cents"))
      .filter(col("n_rows") > 0)

  /** One step over the synthetic invoice feed from `v0` to `v1`: the
    * lazy v0 live snapshot, the staged `(v0, v1]` batch, and the staged
    * v0 rows of the ids it touches (a semi-join on the batch keys). Only
    * the slice-bounded frames are staged; the snapshot stays a re-scan. */
  private def step(spark: SparkSession, dir: String, v0: Long,
                   v1: Long): (DataFrame, DataFrame, DataFrame) = {
    val snap0 = Merge.liveSnapshot(spark, dir, v0)
    val batch = TombstoneCdc.changedInvoicesOps(spark, dir, v0, v1)
      .localCheckpoint(true)
    val touched0 = snap0.join(batch.select("invoice_id"),
      Seq("invoice_id"), "left_semi").localCheckpoint(true)
    (snap0, batch, touched0)
  }

  /** One maintenance step: the view at `v0` plus the `(v0, v1]` batch —
    * equal to the direct view at `v1` for every split (AggViewSpec
    * property). */
  def incrementalView(spark: SparkSession, dir: String,
                      v0: Long, v1: Long): DataFrame = {
    val (snap0, batch, touched0) = step(spark, dir, v0, v1)
    applyDelta(
      viewOf(contributions(spark, dir, snap0)),
      contributions(spark, dir, touched0),
      contributions(spark, dir, Merge.mergeUpsert(touched0, batch)))
  }

  /** Ground-truth form: the view recomputed from the full live snapshot
    * at `v` (the spec's reference, not the serving path). */
  def directView(spark: SparkSession, dir: String, v: Long): DataFrame =
    viewOf(contributions(spark, dir, Merge.liveSnapshot(spark, dir, v)))

  // ------------------------------------------------------- min/max IVM --

  /** The MIN/MAX view shape: count + extremes per group. count is the
    * liveness witness (a group drops out when it reaches zero). */
  def viewMinMax(contrib: DataFrame): DataFrame =
    contrib.groupBy("grp")
      .agg(count(lit(1)).as("n_rows"),
        min("measure").as("min_cents"), max("measure").as("max_cents"))

  /** Fold a batch into the MIN/MAX view. min/max are NOT
    * self-maintainable: an insert only pushes an extremum outward, but a
    * removal of the row HOLDING an extremum invalidates it. The classic
    * IVM treatment (Gupta & Mumick's summary-delta handling of
    * non-distributive aggregates): detect the groups whose extremum may
    * have been removed — a removed measure reaching the group's current
    * min or max, conservative under duplicates — and recompute ONLY
    * those via `rescan`, which returns exact (grp, n_rows, min_cents,
    * max_cents) for a given set of groups. Counts stay additive, so
    * group liveness never needs the snapshot. */
  def applyMinMaxDelta(view: DataFrame, oldContrib: DataFrame,
                       newContrib: DataFrame,
                       rescan: DataFrame => DataFrame): DataFrame = {
    val delta = signedDelta(oldContrib, newContrib)
    val dirty = dirtyGroups(view, delta)
    import view.sparkSession.implicits._
    // the callback sees the dirty set even when it is empty
    val rescanned = rescan(dirty.toDF("grp"))
    foldMinMax(view, delta, dirty)(rescanned)
  }

  /** The view and the per-group delta in one single-task aggregate (see
    * [[foldDelta]]), flagged `dirty`. */
  private def mergeMinMax(view: DataFrame, delta: DataFrame): DataFrame = {
    val none = lit(null).cast("long")
    val ins = when(col("w") === 1L, col("measure"))
    val rem = when(col("w") === -1L, col("measure"))
    view.select(col("grp"), col("n_rows").as("n"), col("min_cents").as("lo"),
        col("max_cents").as("hi"), none.as("measure"), lit(0L).as("w"))
      .unionByName(delta.select(col("grp"), col("w").as("n"), none.as("lo"),
        none.as("hi"), col("measure"), col("w")))
      .coalesce(1)
      .groupBy("grp")
      .agg(sum("n").as("n_rows"), min("lo").as("min_cents"), max("hi").as("max_cents"),
        min(ins).as("ins_min"), max(ins).as("ins_max"),
        min(rem).as("rem_min"), max(rem).as("rem_max"))
      // an extremum MAY be gone iff some removed measure reaches it
      // (<=/>= not =: conservative under any measure drift)
      .withColumn("dirty", col("rem_min").isNotNull && col("min_cents").isNotNull &&
        (col("rem_min") <= col("min_cents") || col("rem_max") >= col("max_cents")))
      .filter(col("n_rows") > 0)
  }

  /** The groups a [[signedDelta]] leaves dirty in the min/max `view`,
    * collected: at most one row per group. */
  def dirtyGroups(view: DataFrame, delta: DataFrame): Seq[String] =
    mergeMinMax(view, delta).filter(col("dirty")).select("grp")
      .collect().map(_.getString(0)).toSeq

  /** [[applyMinMaxDelta]] over a [[signedDelta]] and its collected
    * [[dirtyGroups]]: clean groups compose incrementally, and
    * `rescanned` — exact (grp, n_rows, min_cents, max_cents) for the
    * dirty groups — is planned only when some group is dirty. */
  def foldMinMax(view: DataFrame, delta: DataFrame, dirty: Seq[String])
                (rescanned: => DataFrame): DataFrame = {
    val clean = mergeMinMax(view, delta).filter(!col("dirty"))
      .select(col("grp"), col("n_rows"),
        least(col("min_cents"), col("ins_min")).as("min_cents"),
        greatest(col("max_cents"), col("ins_max")).as("max_cents"))
    if (dirty.isEmpty) clean else clean.unionByName(rescanned)
  }

  /** One min/max maintenance step: view at `v0` plus the `(v0, v1]`
    * batch; dirty groups rescan the v1 snapshot, (snap0 minus touched) ∪
    * newLive — no second feed collapse. Equal to [[directMinMaxView]] at
    * `v1` for every split (AggViewSpec property). */
  def incrementalMinMaxView(spark: SparkSession, dir: String,
                            v0: Long, v1: Long): DataFrame = {
    val (snap0, batch, touched0) = step(spark, dir, v0, v1)
    val newLive = Merge.mergeUpsert(touched0, batch).localCheckpoint(true)
    val snap1 = snap0.join(batch.select("invoice_id"),
      Seq("invoice_id"), "left_anti").unionByName(newLive)
    applyMinMaxDelta(
      viewMinMax(contributions(spark, dir, snap0)),
      contributions(spark, dir, touched0),
      contributions(spark, dir, newLive),
      groups => viewMinMax(
        contributions(spark, dir, snap1)
          .join(groups, Seq("grp"), "left_semi")))
  }

  /** Ground truth for the min/max view at `v`. */
  def directMinMaxView(spark: SparkSession, dir: String, v: Long): DataFrame =
    viewMinMax(contributions(spark, dir, Merge.liveSnapshot(spark, dir, v)))
}
