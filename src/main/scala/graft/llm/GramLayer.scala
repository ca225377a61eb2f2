package graft.llm

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{FeedSnapshot, SnapshotRegistry, SnapshotSlot, Tables}
import graft.functions.VectorFunctions

/** The word n-grams of one snapshot of a corpus's `documents`, tokenized
  * once and keyed by 64-bit gram hashes — the layer every n-gram key
  * aggregates over instead of exploding gram strings per query.
  *
  * For each gram order a key asks for, [[grams]] holds one persisted
  * table: `doc_id`, `source`, `gram_hash` and `first_in_doc`, one row per
  * gram occurrence ([[TextOps.ngrams]]'s grams, duplicates kept, a text
  * shorter than n tokens being one whole-text gram). `first_in_doc` marks
  * exactly one row of each distinct gram of a document, so a key that
  * counts distinct grams per document filters on it and a key that
  * counts occurrences does not. The table is hash-partitioned on
  * `gram_hash`, so gram-keyed aggregates and joins over it need no
  * exchange. Each order is built the first time a key asks for it, and
  * its build checks that no hash stands for two gram strings
  * ([[requireNoCollisions]]); a key never serves a merged gram.
  *
  * Only keys that output gram strings pay for them: [[strings]] is the
  * persisted hash → gram dictionary of one order, built on first ask and
  * joined only to the rows a key keeps.
  *
  * One layer per (SparkContext, corpus dir). Every lookup ([[of]])
  * relists the corpus's files (graft.SnapshotRegistry); any change
  * replaces the layer and unpersists every table of the old one. Each
  * build carries its own tag literal, so two builds over the same plan
  * never share or serve each other's CacheManager entry. */
final class GramLayer private (
    /** The `documents` snapshot the layer was built from. */
    val docs: DataFrame) {

  private val tables = mutable.Map.empty[Int, (DataFrame, Long)]
  private val dicts = mutable.Map.empty[Int, DataFrame]
  private var released = false

  /** The persisted gram table of order `n`. */
  def grams(n: Int): DataFrame = table(n)._1

  /** The persisted (gram_hash, gram) dictionary of order `n`. */
  def strings(n: Int): DataFrame = synchronized {
    dicts.getOrElse(n, {
      // one string per hash: the order's table build found no collision
      val dict = persisted(GramLayer.gramPairs(Tables.widen(docs), "text", n).distinct()
        .withColumn("gram_build", lit(table(n)._2)))
      if (!released) dicts(n) = dict
      dict
    })
  }

  private def table(n: Int): (DataFrame, Long) = synchronized {
    tables.getOrElse(n, {
      val tag = GramLayer.builds.incrementAndGet()
      val rows = persisted(GramLayer.gramRows(Tables.widen(docs), "text", n,
          "doc_id", "source").withColumn("gram_build", lit(tag)))
      try GramLayer.requireNoCollisions(GramLayer.gramPairs(Tables.widen(docs), "text", n))
      catch { case e: Throwable => rows.unpersist(); throw e }
      if (!released) tables(n) = (rows, tag)
      (rows, tag)
    })
  }

  /** `df` hash-partitioned on the gram and persisted — or, once the layer
    * is released, served as it is, so a late build leaves nothing behind
    * in storage. */
  private def persisted(df: DataFrame): DataFrame =
    if (released) df
    else SnapshotSlot.materialize(
      df.repartition(df.sparkSession.sparkContext.defaultParallelism, col("gram_hash")))

  private def release(): Unit = synchronized {
    released = true
    tables.values.foreach(_._1.unpersist())
    dicts.values.foreach(_.unpersist())
    tables.clear()
    dicts.clear()
  }
}

object GramLayer {
  /** Gram-table builds in this JVM; each build's number is its tag. */
  private[graft] val builds = new AtomicLong()

  private val layers = new SnapshotRegistry[GramLayer](_.release())

  /** The gram layer of the current snapshot of `dir`'s `documents`. */
  def of(spark: SparkSession, dir: String): GramLayer =
    layers.current(spark, dir) {
      val docs = Tables.documents(spark, dir)
      (new GramLayer(docs), FeedSnapshot.of(docs))
    }

  /** Unpersist the layer of `dir` on the session's SparkContext. Later
    * lookups build it again. */
  def release(spark: SparkSession, dir: String): Unit = layers.clear(spark, dir)

  /** The gram hashes of `text`, one per gram of [[TextOps.ngrams]] in the
    * same order: every n-token window, or one whole-text gram when the
    * text has fewer than n tokens. */
  private def hashes(text: Column, n: Int): Column = {
    val toks = TextOps.tokens(text)
    when(size(toks) < n, VectorFunctions.shingleHashes(toks, n))
      .otherwise(VectorFunctions.shingleHashesAll(toks, n))
  }

  /** `keep` plus one row per gram occurrence of `textCol`: `gram_hash`
    * and `first_in_doc`, true on exactly one row of each distinct gram of
    * the row. The hashes are sorted, so a gram's first row is the one
    * whose predecessor differs. */
  private[llm] def gramRows(df: DataFrame, textCol: String, n: Int,
                            keep: String*): DataFrame = {
    VectorFunctions.register(df.sparkSession)
    df.select((keep.map(col) :+ array_sort(hashes(col(textCol), n)).as("__hs")): _*)
      .select((keep.map(col) :+ inline(transform(col("__hs"),
        (h, i) => struct(h.as("gram_hash"),
          coalesce(get(col("__hs"), i - 1) =!= h, lit(true)).as("first_in_doc"))))): _*)
  }

  /** (gram_hash, gram) for every gram occurrence of `textCol`. */
  private[graft] def gramPairs(df: DataFrame, textCol: String, n: Int): DataFrame = {
    VectorFunctions.register(df.sparkSession)
    df.select(inline(zip_with(hashes(col(textCol), n), TextOps.ngrams(col(textCol), n),
      (h, g) => struct(h.as("gram_hash"), g.as("gram")))))
  }

  /** The rows of `corpus` whose distinct grams in `corpusGrams` (`idCol`,
    * `gram_hash`, `first_in_doc`) share fewer than `minShared` hashes
    * with `evalGrams` — the n-gram decontamination join. Scale shape:
    * the eval side collapses to a distinct hash set and BROADCASTS (an
    * eval set is small by definition); the corpus grams stream past it,
    * and only the contaminated ids — bounded by the leak count, not the
    * corpus — reach a shuffle. */
  private[llm] def dropContaminated(corpus: DataFrame, corpusGrams: DataFrame,
                                    evalGrams: DataFrame, idCol: String,
                                    minShared: Long): DataFrame = {
    val bad = corpusGrams.filter(col("first_in_doc"))
      .join(broadcast(evalGrams.select("gram_hash").distinct()), "gram_hash")
      .groupBy(col(idCol)).agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .select(idCol)
    corpus.join(bad, Seq(idCol), "left_anti")
  }

  /** Fails loudly when one hash in `pairs` (gram_hash, gram) stands for
    * two different gram strings: an aggregate or a join on that hash
    * would merge two grams. */
  private[graft] def requireNoCollisions(pairs: DataFrame): Unit =
    pairs.distinct().groupBy(col("gram_hash")).count().filter(col("count") > 1)
      .limit(1).collect().headOption.foreach { r =>
        val h = r.getLong(0)
        val grams = pairs.filter(col("gram_hash") === h).select("gram").distinct()
          .limit(2).collect().map(g => s"'${g.getString(0)}'")
        throw new IllegalStateException(
          s"gram hash $h stands for two grams: ${grams.mkString(" and ")}")
      }
}
