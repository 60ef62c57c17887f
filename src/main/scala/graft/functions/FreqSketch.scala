package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
import org.apache.spark.sql.types.{DataType, LongType, MapType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Misra-Gries heavy-hitters sketch (TypedImperativeAggregate — the
  * second sketch-buffer extension after TopKDoubles).
  *
  * `freq_sketch(col, k)` keeps at most k counters per group and returns
  * a map item → estimated count with the classic guarantees:
  * every item with true frequency > n/(k+1) is present, and estimates
  * undercount by at most n/(k+1) (n = group size). Merging sums
  * counters then subtracts the (k+1)-th largest — the Agarwal et al.
  * mergeable-summaries rule, so map-side partial aggregation keeps the
  * bound. At 100 TB this replaces an exact token-frequency groupBy
  * (a full shuffle of every token occurrence) with O(k) state per
  * group; the exact join-back happens only for the tiny reported set.
  *
  * The raw counter CONTENT depends on input order (Spark partitioning),
  * so enrolled queries must only emit order-invariant derivations —
  * guaranteed-membership rows and bound-check verdicts (see
  * `LlmOps.heavyHitters`), never the raw estimates.
  */
case class FreqItems(child: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[mutable.HashMap[UTF8String, Long]] {

  require(k > 0, "freq_sketch: k must be positive")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType =
    MapType(StringType, LongType, valueContainsNull = false)
  override def prettyName: String = "freq_sketch"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"freq_sketch requires a STRING input column, got ${child.dataType.sql}")
  }

  override def createAggregationBuffer(): mutable.HashMap[UTF8String, Long] =
    mutable.HashMap.empty

  override def update(buf: mutable.HashMap[UTF8String, Long],
      input: InternalRow): mutable.HashMap[UTF8String, Long] = {
    val v = child.eval(input)
    if (v != null) {
      val key = v.asInstanceOf[UTF8String]
      buf.get(key) match {
        case Some(c) => buf.update(key, c + 1)
        case None if buf.size < k =>
          buf.update(key.clone(), 1L) // clone: input buffers are reused
        case None => // full: decrement all, drop zeros (Misra-Gries step)
          val dead = mutable.ArrayBuffer.empty[UTF8String]
          buf.foreach { case (t, c) =>
            if (c == 1) dead += t else buf.update(t, c - 1)
          }
          dead.foreach(buf.remove)
      }
    }
    buf
  }

  override def merge(buf: mutable.HashMap[UTF8String, Long],
      other: mutable.HashMap[UTF8String, Long])
      : mutable.HashMap[UTF8String, Long] = {
    other.foreach { case (t, c) =>
      buf.update(t, buf.getOrElse(t, 0L) + c)
    }
    if (buf.size > k) {
      // subtract the (k+1)-th largest count from all, keep positives
      val thr = buf.values.toArray.sorted(Ordering[Long].reverse).apply(k)
      val dead = mutable.ArrayBuffer.empty[UTF8String]
      buf.foreach { case (t, c) =>
        if (c - thr <= 0) dead += t else buf.update(t, c - thr)
      }
      dead.foreach(buf.remove)
    }
    buf
  }

  override def eval(buf: mutable.HashMap[UTF8String, Long]): Any = {
    val (ks, vs) = buf.toArray.unzip
    ArrayBasedMapData(ks.map(_.asInstanceOf[Any]), vs.map(_.asInstanceOf[Any]))
  }

  override def serialize(buf: mutable.HashMap[UTF8String, Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (t, c) =>
      val b = t.getBytes
      out.writeInt(b.length); out.write(b); out.writeLong(c)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte])
      : mutable.HashMap[UTF8String, Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = createAggregationBuffer()
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val b = new Array[Byte](len); in.readFully(b)
      buf.update(UTF8String.fromBytes(b), in.readLong())
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): FreqItems =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): FreqItems =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): FreqItems =
    copy(child = newChildren.head)
}

object FreqSketch {
  /** `freq_sketch(c, k)`: k bounds the sketch state, so it is fixed
    * when the plan is built. */
  def agg(c: Column, k: Int): Column = column(aggExpr(expression(c), k))

  private[graft] def aggExpr(child: Expression, k: Int): Expression =
    FreqItems(child, k).toAggregateExpression()
}
