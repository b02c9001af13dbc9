package graft.plans

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.types._

/** Saturating exact distinct count — ClickHouse `uniqUpTo(N)` semantics:
  * the exact number of distinct values while it is ≤ N, and N+1 as the
  * saturation sentinel ("more than N") beyond that.
  *
  * The point is the STATE BOUND: a plain count(DISTINCT x) shuffles every
  * distinct value to the final aggregation, O(distinct) state per group;
  * here the buffer is a hash set hard-capped at N+1 entries — once a
  * group proves "more than N" no further value is ever admitted, update
  * and merge both saturate, and the per-group aggregation state is
  * ≤ (N+1)·8 bytes REGARDLESS of group cardinality. That makes the
  * "does this key exceed N distinct?" question (cardinality guards,
  * fan-out limits, hot-key detection) a map-side-combinable aggregate
  * at any corpus size. The result is partition-order-independent: a
  * capped distinct SET is a pure function of the input set (the cap
  * only ever discards values that cannot change the saturated answer).
  *
  * Signature: graft_uniq_upto(value BIGINT, n INT-literal) → BIGINT.
  * Nulls are skipped (count(DISTINCT) also ignores them).
  */
case class UniqUpTo(
    child: Expression, nExpr: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashSet[Long]] {

  private lazy val n: Int = nExpr.eval(InternalRow.empty) match {
    case i: Int => i
    case l: Long => l.toInt
    case other => throw new IllegalArgumentException(
      s"graft_uniq_upto: n must be an integer literal, got $other")
  }

  override def createAggregationBuffer(): mutable.HashSet[Long] =
    mutable.HashSet.empty[Long]

  private def insert(buf: mutable.HashSet[Long], v: Long): Unit =
    // size == n+1 is the saturated state: the answer can never change
    // again, so the set stops growing — this IS the bound
    if (buf.size <= n) buf += v

  override def update(buf: mutable.HashSet[Long], input: InternalRow): mutable.HashSet[Long] = {
    val v = child.eval(input)
    if (v != null) insert(buf, v.asInstanceOf[Long])
    buf
  }

  override def merge(buf: mutable.HashSet[Long], other: mutable.HashSet[Long]): mutable.HashSet[Long] = {
    val it = other.iterator
    while (it.hasNext && buf.size <= n) insert(buf, it.next())
    buf
  }

  override def eval(buf: mutable.HashSet[Long]): Any =
    math.min(buf.size, n + 1).toLong

  override def serialize(buf: mutable.HashSet[Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach(out.writeLong)
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashSet[Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = createAggregationBuffer()
    val size = in.readInt()
    (1 to size).foreach(_ => buf += in.readLong())
    buf
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child, nExpr)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (child.dataType == LongType && nExpr.foldable &&
      (nExpr.dataType == IntegerType || nExpr.dataType == LongType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "graft_uniq_upto expects (bigint, int-literal), got " +
          children.map(_.dataType).mkString(", "))
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): UniqUpTo =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): UniqUpTo =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0), nExpr = newChildren(1))

  override def prettyName: String = "graft_uniq_upto"
}

object UniqUpTo {

  val ident: FunctionIdentifier = FunctionIdentifier("graft_uniq_upto")
  val info: ExpressionInfo = new ExpressionInfo(classOf[UniqUpTo].getName, "graft_uniq_upto")
  val builder: Seq[Expression] => Expression = ch => UniqUpTo(ch(0), ch(1))
}
