package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.types._

/** Codegen'd dot product over two float/double array columns.
  *
  * The declarative form — `aggregate(zip_with(a, b, _*_), 0d, _+_)` — is
  * semantically identical but higher-order functions are CodegenFallback
  * in Spark: every pair evaluation walks an interpreted expression tree and
  * allocates the zipped intermediate array. For ANN-style workloads (probe
  * × candidate joins evaluating millions of dot products) that interpreted
  * loop dominates the query. This expression generates a tight primitive
  * loop instead — same sequential left-to-right summation order, so results
  * are bit-identical to the fold (determinism contract, SURVEY.md §7.3).
  *
  * Null handling: null array → null (BinaryExpression); null ELEMENTS are
  * treated as 0 contribution (embeddings never contain them — FIXTURES §1).
  */
case class DotProductD(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_dot expects array<float|double> inputs, got ${left.dataType} / ${right.dataType}")
  }

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val xd = elemType(left) == DoubleType
    val yd = elemType(right) == DoubleType
    var sum = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) {
        val xv = if (xd) x.getDouble(i) else x.getFloat(i).toDouble
        val yv = if (yd) y.getDouble(i) else y.getFloat(i).toDouble
        sum += xv * yv
      }
      i += 1
    }
    sum
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    def get(arr: String, dt: DataType, i: String) = dt match {
      case DoubleType => s"$arr.getDouble($i)"
      case _ => s"(double) $arr.getFloat($i)"
    }
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val sum = ctx.freshName("sum")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $sum = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    $sum += ${get(a, elemType(left), i)} * ${get(b, elemType(right), i)};
         |  }
         |}
         |${ev.value} = $sum;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_dot"
}

object DotProductD {

  val ident: FunctionIdentifier = FunctionIdentifier("graft_dot")
  val info: ExpressionInfo = new ExpressionInfo(classOf[DotProductD].getName, "graft_dot")
  val builder: Seq[Expression] => Expression = ch => DotProductD(ch(0), ch(1))
}

/** `SparkSessionExtensions` installer — the production path:
  * `withExtensions(new GraftExtensions)` on a session builder, or
  * `spark.sql.extensions=graft.plans.GraftExtensions`. Sessions built
  * without it (the harness, the perfbench board) get the same functions
  * from [[GraftExtensions.install]].
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(e.injectFunction)
}

object GraftExtensions {
  /** Every custom expression as its `(ident, info, builder)` triple. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (DotProductD.ident, DotProductD.info, DotProductD.builder),
    (SimHash64D.ident, SimHash64D.info, SimHash64D.builder),
    (SortedIntersectD.ident, SortedIntersectD.info, SortedIntersectD.builder),
    (GroupArrayN.ident, GroupArrayN.info, GroupArrayN.builder),
    (RingArgmaxCid.ident, RingArgmaxCid.info, RingArgmaxCid.builder),
    (MinHash64D.ident, MinHash64D.info, MinHash64D.builder),
    (UniqUpTo.ident, UniqUpTo.info, UniqUpTo.builder))

  /** Registers every function `spark` does not have yet; a session that
    * already has them (built with the extension, or installed before) is
    * left as it is. `core.t` calls this, so every declared query finds
    * the functions; library entry points that take a caller's DataFrame
    * call it on that DataFrame's session.
    */
  def install(spark: org.apache.spark.sql.SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (ident, info, builder) =>
      if (!registry.functionExists(ident)) registry.registerFunction(ident, info, builder)
    }
  }
}
