package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types.{DataType, LongType, MapType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Misra-Gries heavy-hitters sketch as a `TypedImperativeAggregate` — the
  * frequent-items companion to [[MapCountAgg]] (which is exact and
  * therefore unbounded: one entry per distinct key). Misra-Gries keeps AT
  * MOST `k` counters regardless of cardinality, with the classic
  * guarantee: estimates never overcount, and undercount by at most
  * n/(k+1) over n updates — so every key with true frequency > n/(k+1)
  * is guaranteed present. The natural tool for vocabulary/hot-key
  * diagnosis at 100 TB, where exact per-key counting is its own shuffle.
  *
  * MERGEABLE (Agarwal et al., "Mergeable Summaries", PODS'12 §3): merging
  * sums both sketches then subtracts the (k+1)-th largest count from
  * every counter and drops the non-positive ones — at most k survive and
  * the combined undercount stays ≤ n/(k+1). That makes the map-side
  * partial-aggregation contract exact: each task ships one ≤k-entry map
  * per group, and any merge tree yields the same error bound.
  *
  * Buffer is a mutable hash map (in-place update, no per-row allocation);
  * serialization is the same length-prefixed byte stream as MapCountAgg.
  * Output: `map<string,bigint>` of surviving keys → estimates, keys in
  * binary-sorted order (deterministic). SQL: `misra_gries(col, k)` after
  * [[graft.GraftSession.setup]] (k must be a literal).
  */
case class MisraGriesAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[UTF8String, Long]] {

  require(k > 0, "misra_gries needs k > 0 counters")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType =
    MapType(StringType, LongType, valueContainsNull = false)

  override def createAggregationBuffer(): mutable.HashMap[UTF8String, Long] =
    new mutable.HashMap[UTF8String, Long]()

  override def update(buf: mutable.HashMap[UTF8String, Long],
                      input: InternalRow): mutable.HashMap[UTF8String, Long] = {
    val v = child.eval(input)
    if (v != null) {
      val key = v.asInstanceOf[UTF8String]
      buf.get(key) match {
        case Some(c) => buf.update(key, c + 1L)
        case None if buf.size < k =>
          // clone on first insert: the scan reuses UTF8String buffers
          buf.update(key.clone(), 1L)
        case None =>
          // full and unseen: decrement every counter, drop the zeros
          // (classic MG step — "cancels" one occurrence of k+1 distinct
          // keys, which is what bounds the undercount by n/(k+1))
          val dead = mutable.ArrayBuffer[UTF8String]()
          buf.mapValuesInPlace { (kk, c) =>
            if (c == 1L) dead += kk
            c - 1L
          }
          dead.foreach(buf.remove)
      }
    }
    buf
  }

  override def merge(b1: mutable.HashMap[UTF8String, Long],
                     b2: mutable.HashMap[UTF8String, Long])
      : mutable.HashMap[UTF8String, Long] = {
    b2.foreach { case (kk, v) => b1.update(kk, b1.getOrElse(kk, 0L) + v) }
    if (b1.size > k) {
      // subtract the (k+1)-th largest count from all; at most k survive
      val counts = b1.values.toArray
      java.util.Arrays.sort(counts)
      val d = counts(counts.length - (k + 1))
      val dead = mutable.ArrayBuffer[UTF8String]()
      b1.mapValuesInPlace { (kk, c) =>
        if (c <= d) dead += kk
        c - d
      }
      dead.foreach(b1.remove)
    }
    b1
  }

  override def eval(buf: mutable.HashMap[UTF8String, Long]): Any = {
    val sorted = buf.toArray.sortWith((a, b) => a._1.compareTo(b._1) < 0)
    new ArrayBasedMapData(
      new GenericArrayData(sorted.map(_._1.asInstanceOf[Any])),
      new GenericArrayData(sorted.map(_._2.asInstanceOf[Any])))
  }

  override def serialize(buf: mutable.HashMap[UTF8String, Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (kk, v) =>
      val kb = kk.getBytes
      out.writeInt(kb.length)
      out.write(kb)
      out.writeLong(v)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[UTF8String, Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = new mutable.HashMap[UTF8String, Long]()
    var i = 0
    while (i < n) {
      val kb = new Array[Byte](in.readInt())
      in.readFully(kb)
      buf.update(UTF8String.fromBytes(kb), in.readLong())
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MisraGriesAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MisraGriesAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MisraGriesAgg =
    copy(child = newChildren.head)
}
