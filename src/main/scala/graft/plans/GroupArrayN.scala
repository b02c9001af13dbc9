package graft.plans

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Bounded ordered array aggregation — ClickHouse `groupArray(N)`
  * semantics: keep only the N entries with the SMALLEST (ord1, ord2)
  * key, accumulated with capped per-key state (a size-N max-heap), and
  * emit their payloads in ascending key order.
  *
  * This is the scale-safe form of `array_sort(collect_list(...))[1..N]`
  * (the previous declared shape): collect_list materializes a user's
  * ENTIRE history in the aggregation buffer before the slice, so
  * per-key state grows with per-key cardinality; here the buffer can
  * never exceed N entries no matter how hot the key — update inserts
  * only when the candidate beats the current worst, merge is
  * merge-then-cap. The result is partition-order-independent because
  * "N smallest by a unique key" is a pure function of the input set
  * (DeterminismSpec exercises this under different partitionings).
  *
  * Signature: graft_group_array_n(ord1 BIGINT, ord2 BIGINT,
  * payload STRING, n INT-literal) → ARRAY<STRING>. Rows with a null
  * order key or payload are skipped (collect_list also drops nulls).
  */
case class GroupArrayN(
    ord1: Expression, ord2: Expression, payload: Expression, nExpr: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.PriorityQueue[(Long, Long, String)]] {

  private lazy val n: Int = nExpr.eval(InternalRow.empty) match {
    case i: Int => i
    case l: Long => l.toInt
    case other => throw new IllegalArgumentException(
      s"graft_group_array_n: n must be an integer literal, got $other")
  }

  // max-heap on the order key: the head is the current WORST kept entry,
  // so a cap eviction is O(log N)
  private val ord: Ordering[(Long, Long, String)] =
    Ordering.by(e => (e._1, e._2))

  override def createAggregationBuffer(): mutable.PriorityQueue[(Long, Long, String)] =
    mutable.PriorityQueue.empty[(Long, Long, String)](ord)

  private def insert(buf: mutable.PriorityQueue[(Long, Long, String)],
                     e: (Long, Long, String)): Unit = {
    if (buf.size < n) buf.enqueue(e)
    else if (ord.lt(e, buf.head)) { buf.dequeue(); buf.enqueue(e) }
  }

  override def update(buf: mutable.PriorityQueue[(Long, Long, String)],
                      input: InternalRow): mutable.PriorityQueue[(Long, Long, String)] = {
    val o1 = ord1.eval(input)
    val o2 = ord2.eval(input)
    val p = payload.eval(input)
    if (o1 != null && o2 != null && p != null)
      insert(buf, (o1.asInstanceOf[Long], o2.asInstanceOf[Long], p.toString))
    buf
  }

  override def merge(buf: mutable.PriorityQueue[(Long, Long, String)],
                     other: mutable.PriorityQueue[(Long, Long, String)]): mutable.PriorityQueue[(Long, Long, String)] = {
    other.foreach(insert(buf, _))
    buf
  }

  override def eval(buf: mutable.PriorityQueue[(Long, Long, String)]): Any =
    new GenericArrayData(
      buf.toSeq.sorted(ord).map(e => UTF8String.fromString(e._3)).toArray[Any])

  override def serialize(buf: mutable.PriorityQueue[(Long, Long, String)]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (a, b, s) =>
      out.writeLong(a); out.writeLong(b); out.writeUTF(s)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.PriorityQueue[(Long, Long, String)] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = createAggregationBuffer()
    val size = in.readInt()
    (1 to size).foreach { _ =>
      buf.enqueue((in.readLong(), in.readLong(), in.readUTF()))
    }
    buf
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(ord1, ord2, payload, nExpr)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (ord1.dataType == LongType && ord2.dataType == LongType &&
      payload.dataType == StringType && nExpr.foldable &&
      (nExpr.dataType == IntegerType || nExpr.dataType == LongType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "graft_group_array_n expects (bigint, bigint, string, int-literal), got " +
          children.map(_.dataType).mkString(", "))
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): GroupArrayN =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): GroupArrayN =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(ord1 = newChildren(0), ord2 = newChildren(1),
      payload = newChildren(2), nExpr = newChildren(3))

  override def prettyName: String = "graft_group_array_n"
}

object GroupArrayN {

  val ident: FunctionIdentifier = FunctionIdentifier("graft_group_array_n")
  val info: ExpressionInfo = new ExpressionInfo(classOf[GroupArrayN].getName, "graft_group_array_n")
  val builder: Seq[Expression] => Expression = ch => GroupArrayN(ch(0), ch(1), ch(2), ch(3))
}
