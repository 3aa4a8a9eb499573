package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types.{DataType, LongType, MapType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Counter-addition monoid (`Counter + Counter`, reference
  * profile_daily.py:142-197) as a native `TypedImperativeAggregate`: one
  * MUTABLE hash map per partial-aggregation buffer, updated in place per
  * input row — no per-row allocation, unlike the immutable-`Map.updated`
  * typed `Aggregator` twin (`graft.queries.PipelineQueries.typeCounter`,
  * kept as the API-surface demonstration and property-law testbed).
  *
  * The buffer serializes to a compact length-prefixed byte stream for
  * shuffle/spill (TypedImperativeAggregate contract), so map-side partial
  * aggregation applies: at 100 TB each task ships one small map per group,
  * not one map node per event.
  *
  * Output is a `map<string,bigint>` with keys in BINARY-SORTED order —
  * deterministic, so the rendered `k:v` form is oracle-comparable.
  * SQL: `map_count(col)` after [[graft.GraftSession.setup]].
  */
case class MapCountAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[UTF8String, Long]] {

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
      val k = v.asInstanceOf[UTF8String]
      buf.get(k) match {
        case Some(c) => buf.update(k, c + 1L)
        // clone on FIRST insert only: eval may hand back a buffer-backed
        // UTF8String that the scan reuses for the next row
        case None => buf.update(k.clone(), 1L)
      }
    }
    buf
  }

  override def merge(b1: mutable.HashMap[UTF8String, Long],
                     b2: mutable.HashMap[UTF8String, Long])
      : mutable.HashMap[UTF8String, Long] = {
    b2.foreach { case (k, v) => b1.update(k, b1.getOrElse(k, 0L) + v) }
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
    buf.foreach { case (k, v) =>
      val kb = k.getBytes
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

  override def withNewMutableAggBufferOffset(newOffset: Int): MapCountAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MapCountAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MapCountAgg =
    copy(child = newChildren.head)
}
