package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.util.PriorityQueue

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Bounded-memory exact top-k aggregate (TypedImperativeAggregate — the
  * sketch-buffer extension surface, SURVEY §7.2).
  *
  * `topk_vals(col, k)` keeps a k-element min-heap per group and returns
  * the k largest values sorted descending. At 100 TB this replaces
  * `sort_array(collect_list(x))[1:k]` — whose buffer is the whole group
  * (unbounded, OOM on hot groups) — with O(k) state that merges
  * associatively, so map-side partial aggregation applies.
  *
  * Deterministic: the result is the multiset of the k largest values —
  * no tie-break ambiguity because only values (not rows) are returned.
  */
case class TopKDoubles(child: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[PriorityQueue[java.lang.Double]] {

  require(k > 0, "topk_vals: k must be positive")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "topk_vals"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    if (child.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"topk_vals requires a DOUBLE input column, got ${child.dataType.sql}")
  }

  override def createAggregationBuffer(): PriorityQueue[java.lang.Double] =
    new PriorityQueue[java.lang.Double](k + 1)

  private def offer(buf: PriorityQueue[java.lang.Double], v: Double): Unit =
    if (buf.size < k) buf.add(v)
    else if (v > buf.peek()) { buf.poll(); buf.add(v) }

  override def update(buf: PriorityQueue[java.lang.Double],
      input: InternalRow): PriorityQueue[java.lang.Double] = {
    val v = child.eval(input)
    if (v != null) offer(buf, v.asInstanceOf[Double])
    buf
  }

  override def merge(buf: PriorityQueue[java.lang.Double],
      other: PriorityQueue[java.lang.Double]): PriorityQueue[java.lang.Double] = {
    val it = other.iterator()
    while (it.hasNext) offer(buf, it.next())
    buf
  }

  override def eval(buf: PriorityQueue[java.lang.Double]): Any = {
    val arr = new Array[Double](buf.size)
    var i = buf.size - 1
    while (i >= 0) { arr(i) = buf.poll(); i -= 1 } // heap drains ascending
    new GenericArrayData(arr)
  }

  override def serialize(buf: PriorityQueue[java.lang.Double]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) out.writeDouble(it.next())
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): PriorityQueue[java.lang.Double] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = createAggregationBuffer()
    var i = 0
    while (i < n) { offer(buf, in.readDouble()); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): TopKDoubles =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKDoubles =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKDoubles =
    copy(child = newChildren.head)
}

object TopKAgg {
  /** `topk_vals(c, k)`: k bounds the heap, so it is fixed when the plan
    * is built. */
  def agg(c: Column, k: Int): Column = column(aggExpr(expression(c), k))

  private[graft] def aggExpr(child: Expression, k: Int): Expression =
    TopKDoubles(child, k).toAggregateExpression()
}
