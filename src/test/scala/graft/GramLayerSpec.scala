package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalacheck.{Gen, Test => CheckTest}
import org.scalacheck.Prop.forAllNoShrink

import graft.llm.{GramLayer, LlmQueries, TextOps}

/** The gram layer behind the six n-gram keys: over random small corpora
  * each key equals the string-keyed implementation it replaced, one
  * snapshot builds each gram order once, a `documents` file copied in is
  * seen by the next call, and a hash standing for two grams fails
  * loudly. */
class GramLayerSpec extends SparkSpec {
  import spark.implicits._

  private val keys = Seq("llm_lm_score", "llm_diversity_ngram", "llm_ngram_novelty",
    "llm_boilerplate_ngrams", "llm_decontaminate_ngram", "llm_token_zipf")

  // ---- the string-keyed keys the layer replaced (test-local copies) ----

  private def ngrams(df: DataFrame, n: Int, cols: String*): DataFrame =
    df.select((cols.map(col) :+ explode(TextOps.ngrams(col("text"), n)).as("gram")): _*)

  private def distinctNgrams(df: DataFrame, n: Int, cols: String*): DataFrame =
    df.select((cols.map(col) :+
      explode(array_distinct(TextOps.ngrams(col("text"), n))).as("gram")): _*)

  private def reference(key: String, docs: DataFrame): DataFrame = key match {
    case "llm_lm_score" =>
      val grams = ngrams(docs, 2, "doc_id")
      val counts = grams.filter(pmod($"doc_id", lit(2)) === 0)
        .groupBy($"gram").agg(count(lit(1)).as("c"))
      grams.filter(pmod($"doc_id", lit(2)) === 1)
        .join(counts, Seq("gram"), "left")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_grams"), sum(coalesce($"c", lit(0L)) + 1).as("credit"))
        .select($"doc_id", $"n_grams",
          round(lit(10000.0) * $"credit" / $"n_grams").cast("long").as("score_e4"))
        .orderBy("doc_id")
    case "llm_diversity_ngram" =>
      ngrams(docs, 2, "source").groupBy($"source")
        .agg(count(lit(1)).as("n_grams"), countDistinct($"gram").as("n_types"))
        .withColumn("ttr_e4", round(lit(10000.0) * $"n_types" / $"n_grams").cast("long"))
        .orderBy("source")
    case "llm_ngram_novelty" =>
      val dg = distinctNgrams(docs, 2, "doc_id")
      val first = dg.groupBy($"gram").agg(min($"doc_id").as("__first"))
      dg.join(first, "gram").groupBy($"doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(($"__first" === $"doc_id").cast("long")).as("n_novel"))
        .withColumn("novelty_e4", round(lit(10000.0) * $"n_novel" / $"n_grams").cast("long"))
        .orderBy("doc_id")
    case "llm_boilerplate_ngrams" =>
      distinctNgrams(docs, 3).groupBy($"gram").agg(count(lit(1)).as("doc_freq"))
        .orderBy($"doc_freq".desc, $"gram").limit(20)
    case "llm_decontaminate_ngram" =>
      val evalGrams = distinctNgrams(docs.filter(pmod($"doc_id", lit(97)) === 0), 8)
        .select("gram").distinct()
      val bad = distinctNgrams(docs, 8, "doc_id").join(broadcast(evalGrams), "gram")
        .groupBy($"doc_id").agg(count(lit(1)).as("shared"))
        .filter($"shared" >= 1L).select("doc_id")
      docs.join(bad, Seq("doc_id"), "left_anti").select("doc_id").orderBy("doc_id")
    case "llm_token_zipf" =>
      val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
      val freq = ngrams(docs, 2, "source").groupBy($"source", $"gram")
        .agg(count(lit(1)).as("f"))
      freq.withColumn("__r", row_number().over(
          Window.partitionBy($"source").orderBy($"f".desc, $"gram".asc)))
        .select($"source",
          round(lit(1000000.0) * log($"__r")).cast("long").as("lx"),
          round(lit(1000000.0) * log($"f")).cast("long").as("ly"))
        .groupBy($"source").agg(
          count(lit(1)).cast("double").as("n"),
          sum($"lx".cast(dec)).cast("double").as("sx"),
          sum($"ly".cast(dec)).cast("double").as("sy"),
          sum(($"lx" * $"ly").cast(dec)).cast("double").as("sxy"),
          sum(($"lx" * $"lx").cast(dec)).cast("double").as("sxx"))
        .select($"source", $"n".cast("long").as("n_types"),
          round(lit(1000000.0) * ($"n" * $"sxy" - $"sx" * $"sy") /
            expr("nullif(n * sxx - sx * sx, 0.0d)")).cast("long").as("slope_e6"))
        .orderBy("source")
  }

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  // ---- random corpora --------------------------------------------------

  /** Few words, so grams repeat within and across documents; "" makes
    * the empty tokens of doubled, leading and trailing spaces. */
  private val genText: Gen[String] = for {
    n <- Gen.chooseNum(1, 14)
    toks <- Gen.listOfN(n, Gen.frequency(5 -> Gen.oneOf("a", "b", "cc", "d"), 1 -> Gen.const("")))
  } yield toks.mkString(" ")

  /** 1–24 documents with distinct ids, at least one of them an eval
    * document (id divisible by 97), over three sources. */
  private val genCorpus: Gen[Seq[(Long, String, String)]] = for {
    n <- Gen.chooseNum(1, 24)
    ids <- Gen.pick(n, 1L to 400L)
    evalId <- Gen.oneOf(0L, 97L, 194L, 291L, 388L)
    sources <- Gen.listOfN(n + 1, Gen.oneOf("web", "wiki", "code"))
    texts <- Gen.listOfN(n + 1, genText)
  } yield (evalId +: ids.filterNot(_ == evalId).toSeq).zip(sources).zip(texts)
    .map { case ((id, s), t) => (id, s, t) }

  /** One parquet file of `docs`, written outside `dir` and copied into
    * `dir`'s `documents` table, the way an outside producer lands it: a
    * Spark write to the table's own path would recache every cached plan
    * over that path by itself, and so hide a layer that never rebuilds. */
  private def land(dir: String, docs: Seq[(Long, String, String)]): Unit = {
    val staged = tmpDir("gram-layer-staged") + "/docs"
    docs.toDF("doc_id", "source", "text").coalesce(1).write.parquet(staged)
    val part = new java.io.File(staged).listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.createDirectories(Paths.get(s"$dir/documents.parquet"))
    Files.copy(part.toPath,
      Paths.get(s"$dir/documents.parquet/part-${java.util.UUID.randomUUID()}.parquet"))
  }

  private def corpus(docs: Seq[(Long, String, String)]): String = {
    val dir = tmpDir("gram-layer")
    land(dir, docs)
    dir
  }

  test("each n-gram key equals its string-keyed implementation on random corpora") {
    // no shrinking: every shrink step re-runs twelve Spark queries
    val prop = forAllNoShrink(genCorpus) { docs =>
      val dir = corpus(docs)
      try keys.forall { k =>
        val got = rows(LlmQueries.queries(k)(spark, dir))
        val want = rows(reference(k, Tables.documents(spark, dir)))
        if (got != want) info(s"$k on $docs:\n  got  $got\n  want $want")
        got == want
      } finally GramLayer.release(spark, dir)
    }
    val res = CheckTest.check(CheckTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
  }

  test("the six keys on one snapshot build each gram order once") {
    val dir = corpus(Seq((0L, "web", "a b cc d a b cc d e f"), (5L, "wiki", "a b")))
    val b0 = GramLayer.builds.get
    keys.foreach(k => LlmQueries.queries(k)(spark, dir).collect())
    assert(GramLayer.builds.get - b0 == 3, "orders 2, 3 and 8 are built once each")
    keys.foreach(k => LlmQueries.queries(k)(spark, dir).collect())
    assert(GramLayer.builds.get - b0 == 3, "an unchanged snapshot is a hit")
    val one = corpus(Seq((1L, "web", "a b cc")))
    val b1 = GramLayer.builds.get
    LlmQueries.queries("llm_lm_score")(spark, one).collect()
    assert(GramLayer.builds.get - b1 == 1, "a one-key caller builds only its order")
    GramLayer.release(spark, dir)
    GramLayer.release(spark, one)
  }

  test("a documents file copied into the corpus is seen by the next call, " +
      "and the rebuild unpersists the old tables") {
    val first = Seq((0L, "web", "a b cc d"), (3L, "wiki", "a b a b"))
    val dir = corpus(first)
    val before = rows(LlmQueries.queries("llm_diversity_ngram")(spark, dir))
    val old = GramLayer.of(spark, dir).grams(2)
    assert(old.storageLevel != StorageLevel.NONE)
    land(dir, Seq((7L, "code", "d d d cc a"), (8L, "web", "cc")))
    val after = rows(LlmQueries.queries("llm_diversity_ngram")(spark, dir))
    assert(after != before, "the copied file changes the result")
    assert(after == rows(reference("llm_diversity_ngram", Tables.documents(spark, dir))))
    assert(old.storageLevel == StorageLevel.NONE, "the old table is unpersisted")
    GramLayer.release(spark, dir)
  }

  test("the collision guard fails loudly on a hash that stands for two grams") {
    val clean = Seq((1L, "a b"), (1L, "a b"), (2L, "b c")).toDF("gram_hash", "gram")
    GramLayer.requireNoCollisions(clean)
    val merged = Seq((1L, "a b"), (42L, "b c"), (42L, "c d")).toDF("gram_hash", "gram")
    val e = intercept[IllegalStateException](GramLayer.requireNoCollisions(merged))
    assert(e.getMessage.contains("42"), e.getMessage)
  }
}
