package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.LongType

/** Column-level access to Spark's runtime-filter Bloom machinery
  * (`BloomFilterAggregate` / `BloomFilterMightContain` — the expressions
  * `InjectRuntimeFilter` plants under joins) for EXPLICIT use in
  * pipeline code.
  *
  * Why: the broadcast anti-join decontamination shape
  * ([[graft.llm.Curate.decontaminate]]) assumes the eval side fits in a
  * broadcast. When it doesn't (a 10⁹-row held-out set), the scalable
  * membership prefilter is a Bloom filter: the distributed aggregate
  * folds the eval side into a fixed-size bit array (bounded by numBits,
  * NOT by eval cardinality), and the corpus side tests membership at
  * the scan — codegen'd, no join, no shuffle. False positives are then
  * confirmed exactly; false negatives don't exist, so definitely-clean
  * rows never touch a join.
  *
  * Spark registers `bloom_filter_agg` internally but not the test side,
  * so both get graft names, registered through the same dual path as
  * the vector expressions (temp registry here, [[GraftExtensions]] for
  * cluster-wide SQL).
  */
object BloomFunctions {

  val AGG = "graft_bloom_agg"
  val MIGHT = "graft_bloom_might_contain"

  private def arity(name: String, exprs: Seq[Expression], n: Seq[Int]): Unit =
    require(n.contains(exprs.length),
      s"$name expects ${n.mkString("/")} args, got ${exprs.length}")

  private def longLit(name: String, e: Expression): Long = e match {
    case Literal(v: Long, LongType) => v
    case Literal(v: Int, _) => v.toLong
    case other => throw new IllegalArgumentException(
      s"$name expects a literal long, got $other")
  }

  /** Single builder list for both registration paths (can't diverge). */
  val builders: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    (AGG, classOf[BloomFilterAggregate],
      (exprs: Seq[Expression]) => {
        arity(AGG, exprs, Seq(1, 2, 3))
        exprs match {
          case Seq(child) => new BloomFilterAggregate(child)
          case Seq(child, est) =>
            new BloomFilterAggregate(child, longLit(AGG, est))
          case Seq(child, est, bits) =>
            new BloomFilterAggregate(child, Literal(longLit(AGG, est)),
              Literal(longLit(AGG, bits)))
        }
      }),
    (MIGHT, classOf[BloomFilterMightContain],
      (exprs: Seq[Expression]) => {
        arity(MIGHT, exprs, Seq(2))
        BloomFilterMightContain(exprs(0), exprs(1))
      }))

  /** Register on a session once (temp-function registry); names the
    * registry already has are skipped, as in [[VectorFunctions.register]]. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    builders.foreach { case (name, _, builder) =>
      if (!reg.functionExists(FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }

  /** Bloom aggregate over `hashed` (must be a 64-bit hash column, e.g.
    * `xxhash64(x)` — the same keying the runtime filter uses). Returns
    * the serialized filter: `numBits/8` bytes regardless of input
    * cardinality. */
  def bloomAgg(hashed: Column, expectedItems: Long, numBits: Long): Column =
    call_function(AGG, hashed,
      org.apache.spark.sql.functions.lit(expectedItems),
      org.apache.spark.sql.functions.lit(numBits))

  /** Membership probe against a CONSTANT serialized filter (the
    * expression requires a foldable bloom side — ship the bytes as a
    * literal, exactly what a scalar-subquery runtime filter reduces
    * to). No false negatives; false positives at the configured rate. */
  def mightContain(bloomBytes: Array[Byte], hashed: Column): Column =
    call_function(MIGHT, org.apache.spark.sql.functions.lit(bloomBytes),
      hashed)
}
