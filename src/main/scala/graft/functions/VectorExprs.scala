package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** Native dot product over two numeric arrays (SURVEY.md §4 candidate 3:
  * promoted from the zip_with/aggregate higher-order form once BENCH
  * showed interpreted-lambda overhead dominating similarity queries).
  *
  * Whole-stage-codegen'd: emits a tight primitive loop, ~100× less
  * per-element overhead than interpreted HigherOrderFunction evaluation.
  * Summation is in index order with each element cast to double first —
  * bit-identical to the HOF form and to the DuckDB oracle's
  * list_sum(list_transform(list_zip(...))) twin.
  *
  * Array elements must be non-null (embedding vectors); lengths may
  * differ, the shorter bounds the loop.
  */
case class VecDot(left: Expression, right: Expression)
  extends BinaryExpression {

  private def ok(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float>/array<double> inputs, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")

  override def prettyName: String = "graft_vec_dot"

  override def dataType: DataType = DoubleType

  private def elemOf(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val (lf, rf) = (elemOf(left) == FloatType, elemOf(right) == FloatType)
    var s = 0.0
    var i = 0
    while (i < n) {
      val xi = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yi = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      s += xi * yi
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lGet = if (elemOf(left) == FloatType) "getFloat" else "getDouble"
    val rGet = if (elemOf(right) == FloatType) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += (double) $a.$lGet($i) * (double) $b.$rGet($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

object VectorFunctions {
  val DOT = "graft_vec_dot"
  val SHINGLES = "graft_shingle_hashes"
  val SHINGLES_ALL = "graft_shingle_hashes_all"
  val MINHASH = "graft_minhash_sig"
  val SIMHASH = "graft_simhash_sig"

  private def arity(name: String, exprs: Seq[Expression], n: Int): Unit =
    if (exprs.length != n) throw new IllegalArgumentException(
      s"$name expects $n arguments, got ${exprs.length}")

  private def intArg(name: String, e: Expression): Int = {
    if (!e.foldable) throw new IllegalArgumentException(
      s"$name expects a literal integer argument, got ${e.sql}")
    e.eval(null).asInstanceOf[Number].intValue()
  }

  /** The single builder list both registration paths consume — the temp
    * registry (tests / library sessions) and the SparkSessionExtensions
    * injector (cluster-wide SQL) — so the two can never diverge. */
  val builders: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    (DOT, classOf[VecDot],
      (exprs: Seq[Expression]) => {
        arity(DOT, exprs, 2); VecDot(exprs(0), exprs(1))
      }),
    (SHINGLES, classOf[ShingleHashes],
      (exprs: Seq[Expression]) => {
        arity(SHINGLES, exprs, 2)
        ShingleHashes(exprs(0), intArg(SHINGLES, exprs(1)))
      }),
    (SHINGLES_ALL, classOf[ShingleHashesAll],
      (exprs: Seq[Expression]) => {
        arity(SHINGLES_ALL, exprs, 2)
        ShingleHashesAll(exprs(0), intArg(SHINGLES_ALL, exprs(1)))
      }),
    (MINHASH, classOf[MinHashSig],
      (exprs: Seq[Expression]) => {
        arity(MINHASH, exprs, 2)
        MinHashSig(exprs(0), intArg(MINHASH, exprs(1)))
      }),
    (SIMHASH, classOf[SimHashSig],
      (exprs: Seq[Expression]) => {
        arity(SIMHASH, exprs, 1); SimHashSig(exprs(0))
      }))

  /** Register the custom functions on a session once (temp function
    * registry; cluster-wide flavor = GraftExtensions via
    * spark.sql.extensions). Names the registry already has are skipped,
    * so a repeat call neither replaces them nor logs "replaced a
    * previously registered function". */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    builders.foreach { case (name, _, builder) =>
      if (!reg.functionExists(FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }

  /** Column-level dot product (requires register() on the session). */
  def vecDot(a: Column, b: Column): Column = call_function(DOT, a, b)

  /** Distinct word-shingle hashes of a token array. */
  def shingleHashes(tokens: Column, n: Int): Column =
    call_function(SHINGLES, tokens, org.apache.spark.sql.functions.lit(n))

  /** ALL full sliding-window hashes in position order (non-distinct;
    * empty for sub-window docs). */
  def shingleHashesAll(tokens: Column, n: Int): Column =
    call_function(SHINGLES_ALL, tokens, org.apache.spark.sql.functions.lit(n))

  /** MinHash signature of a shingle-hash array. */
  def minhashSig(hashes: Column, k: Int): Column =
    call_function(MINHASH, hashes, org.apache.spark.sql.functions.lit(k))

  /** SimHash signature of a token-hash array. */
  def simhashSig(hashes: Column): Column = call_function(SIMHASH, hashes)
}
