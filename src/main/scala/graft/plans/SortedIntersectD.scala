package graft.plans

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.types._

/** Codegen'd intersection SIZE of two SORTED long arrays (merge walk).
  *
  * The declarative form — `size(array_intersect(a, b))` — is semantically
  * identical on sorted distinct inputs, but `ArrayIntersect` builds a
  * hash set per ROW and materializes the intersection array only to take
  * its length. The exact-similarity verify joins (`dedup_jaccard_prefix`)
  * evaluate millions of candidate pairs whose token arrays are ALREADY
  * sorted (they come out of `array_sort`) — a two-pointer merge walk
  * needs zero allocation and one pass.
  *
  * Contract: both inputs sorted ascending with distinct elements (the
  * producer guarantees both: `array_sort` over per-doc DISTINCT token
  * hashes). On unsorted input the count is undefined — this is a kernel
  * for plans that own their invariants, like `graft_dot`'s no-null-elems
  * contract. Null array → null (BinaryExpression); null elements never
  * occur (xxhash64 of non-null strings).
  */
case class SortedIntersectD(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_sorted_intersect expects array<bigint> inputs, got $l / $r")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements()
    val ny = y.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < nx && j < ny) {
      val xv = x.getLong(i)
      val yv = y.getLong(j)
      if (xv == yv) { c += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $nx = $a.numElements();
         |int $ny = $b.numElements();
         |int $i = 0; int $j = 0; int $c = 0;
         |while ($i < $nx && $j < $ny) {
         |  long $xv = $a.getLong($i);
         |  long $yv = $b.getLong($j);
         |  if ($xv == $yv) { $c++; $i++; $j++; }
         |  else if ($xv < $yv) { $i++; } else { $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_sorted_intersect"
}

object SortedIntersectD {

  val ident: FunctionIdentifier = FunctionIdentifier("graft_sorted_intersect")
  val info: ExpressionInfo =
    new ExpressionInfo(classOf[SortedIntersectD].getName, "graft_sorted_intersect")
  val builder: Seq[Expression] => Expression = ch => SortedIntersectD(ch(0), ch(1))

  /** Column-API form (the function must be installed first — see
    * [[GraftExtensions.install]]).
    */
  def sortedIntersect(a: org.apache.spark.sql.Column,
                      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.call_function("graft_sorted_intersect", a, b)
}
