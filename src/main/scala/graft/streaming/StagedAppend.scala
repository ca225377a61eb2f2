package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Content-derived batch keys for the retry-idempotent file-append
  * ingests (z-order [[graft.ops.ZOrder.appendN]], the bucketed vector
  * layout [[graft.llm.SimSearch.appendBucketed]], the IVF-PQ
  * incremental encode [[graft.llm.Pq.appendIvfPq]], the change-table
  * page append [[graft.cdc.Maintenance.appendChangePage]]). A naive
  * partitioned `mode=append` retried after a crash lands the batch's
  * rows twice; each of these ingests is instead one
  * [[ManifestSwap.appendKeyed]] keyed by the batch's content, so a
  * retried batch finds its key in the manifest and is skipped — the
  * commit and the ledger line are the same atomic pointer write.
  *
  * Writer contract (same as every maintainer here): ONE ingest
  * maintainer per layout, serialized with its maintenance window by
  * the feed's consumer cursor; concurrent readers always safe. */
private[graft] object StagedAppend {

  /** Content fingerprint of the batch: bit_xor of per-row hashes over
    * ALL columns + the multiset SUM of the same hashes (mod 2^64) +
    * the row count — a pure function of the row MULTISET, so a
    * crashed call retried with the same batch resumes its own
    * protocol state. xor alone self-cancels duplicate rows (so
    * {r1,r1,b} and {r2,r2,b} could share a tag and the second batch
    * would be skipped as already-applied — round-9 ADVICE); the sum
    * column breaks those xor self-cancellation shapes STRUCTURALLY,
    * but the overall tag remains a statistical fingerprint: the sum
    * loses carries out of bit 63, so two distinct multisets collide
    * with probability ~2^-128 over the (xor, sum) pair of xxhash64
    * values (and xxhash64 itself is non-cryptographic). COLLISION
    * CONTRACT: a colliding batch would be silently skipped as
    * already-applied; exposure is bounded by the single serialized
    * maintainer (at most ONE in-flight batch is ever compared against
    * the ledger on the retry path), which is the same trust level as
    * every content-addressed ingest ledger. Summed as decimal(38,0)
    * so ANSI mode never overflows, then reduced mod 2^64. None for an
    * empty batch (appending nothing). */
  def contentTag(batch: DataFrame): Option[String] = {
    val r = batch.agg(expr("bit_xor(xxhash64(struct(*)))"),
      expr("sum(cast(xxhash64(struct(*)) as decimal(38,0)))"),
      count(lit(1))).head()
    if (r.isNullAt(0) || r.getLong(2) == 0L) None
    else Some(assembleTag(r.getLong(0), r.getDecimal(1), r.getLong(2)))
  }

  /** Assemble a tag from the fingerprint aggregate's components —
    * shared with the postings append's doc-keyed fingerprint
    * ([[graft.llm.SimSearch.appendPostingsIndex]]) so the two
    * encoders cannot drift apart. */
  private[graft] def assembleTag(xor: Long, sum: java.math.BigDecimal,
                                 count: Long): String = {
    val sumMod = sum.toBigInteger
      .mod(java.math.BigInteger.ONE.shiftLeft(64))
    f"$xor%016x" + "s" + sumMod.toString(16) + "-" + count
  }

  /** The keyed append of `batch` into the append-style root `path`:
    * a no-op for an empty batch, otherwise one
    * [[ManifestSwap.appendKeyed]] under the batch's [[contentTag]].
    * `write(genDir)` writes the batch in the layout's internal
    * structure. */
  def append(path: String, batch: DataFrame, tag: String = "stagedapp")
            (write: String => Unit): Unit =
    contentTag(batch).foreach(key =>
      ManifestSwap.appendKeyed(batch.sparkSession, path, tag, key)(write))
}
