package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.llm.{Cluster, Dedup, EditJoin}

/** r16 advice fixes: the driver-probe optimizations of r15 (folded
  * aggregates whose sums are NULL on empty input) must degrade to the
  * pre-fold graceful behavior — empty results, never an NPE — and the
  * connectedComponents round-1 specialization must keep the maxIter
  * contract at the boundary values. */
class EmptyInputSpec extends SparkSpec {
  import spark.implicits._

  private val emptyDocs = spark.createDataFrame(
    spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
    StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType))))

  test("minhashDedup of an empty corpus returns empty (cloneGroups probe)") {
    assert(Dedup.minhashDedup(emptyDocs, "doc_id", "text").count() == 0)
  }

  test("dupClusters of an empty corpus returns empty") {
    assert(Cluster.dupClusters(emptyDocs, "doc_id", "text").count() == 0)
  }

  test("fixedLenSelfJoin with no key of the target length returns empty") {
    // every head shorter than len — the width-probe sum aggregates
    // over zero groups (the fuzzyPairs failover shape on a short block)
    val short = Seq((1L, "abc"), (2L, "abd"), (3L, "xyz"))
      .toDF("doc_id", "head")
    assert(EditJoin.fixedLenSelfJoin(short, "doc_id", "head",
      len = 30, k = 3).count() == 0)
  }

  test("fuzzy pairs direct path on an empty corpus returns empty") {
    // drives the blocked path's stats probe (widest/pairSpace NULL)
    val d = tmpDir("graft-empty-sf")
    emptyDocs
      .withColumn("source", lit("a"))
      .withColumn("lang", lit("en"))
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val got = SparkEntry.queries("llm_fuzzy_pairs")(spark, d)
    assert(got.count() == 0)
  }

  test("contrastive pairs on an empty embeddings table returns empty") {
    val d = tmpDir("graft-empty-emb")
    spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("vec_id", LongType),
          StructField("embedding", ArrayType(FloatType)),
          StructField("label", IntegerType))))
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val got = SparkEntry.queries("llm_contrastive_pairs")(spark, d)
    assert(got.count() == 0)
  }

  test("connectedComponents maxIter=1 returns when round 1 converges") {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("id_a", LongType),
        StructField("id_b", LongType))))
    assert(Cluster.connectedComponents(empty, maxIter = 1).count() == 0)
  }

  test("connectedComponents maxIter=1 throws when round 1 changed labels") {
    assertThrows[IllegalStateException] {
      Cluster.connectedComponents(
        Seq((1L, 2L)).toDF("id_a", "id_b"), maxIter = 1)
    }
  }

  test("connectedComponents maxIter<=0 throws without computing") {
    assertThrows[IllegalArgumentException] {
      Cluster.connectedComponents(
        Seq((1L, 2L)).toDF("id_a", "id_b"), maxIter = 0)
    }
  }
}
