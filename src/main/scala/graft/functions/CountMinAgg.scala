package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Count-Min sketch (Cormode & Muthukrishnan 2005, "An improved data
  * stream summary: the count-min sketch and its applications") as a
  * `TypedImperativeAggregate` — the point-query companion to
  * [[MisraGriesAgg]] (which answers "who is frequent"; CM answers "how
  * frequent is key k" for ANY k, with one-sided error: estimates never
  * undercount, and overcount by ≤ εn with probability 1−δ at
  * width = ⌈e/ε⌉, depth = ⌈ln 1/δ⌉).
  *
  * MERGEABLE exactly: the sketch is a depth×width counter matrix and
  * merging is element-wise addition, so map-side partial aggregation and
  * any merge tree produce the identical matrix — the fixed-size summary
  * a 100 TB frequency pass ships instead of a per-key shuffle.
  *
  * Row r hashes with the PORTABLE seeded family at seed `seed + r`
  * (byte-identical to [[graft.llm.PortableSeededHash]]: top 60 bits of
  * md5("<seed+r>:" || value)), so a query-side probe — and a cross-engine
  * oracle — can recompute bucket indices exactly. Buffer layout is
  * row-major: cell(r, b) = buf[r·width + b]; output is the flat
  * `array<bigint>` of length depth·width.
  *
  * SQL: `count_min(col, depth, width, seed)` after
  * [[graft.GraftSession.setup]] (all three parameters literal).
  * Point estimates are plan-side expressions over the output array —
  * see [[graft.queries.LlmQueries.countMinFrequencies]].
  */
case class CountMinAgg(
    child: Expression,
    depth: Int,
    width: Int,
    seed: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  require(depth > 0 && width > 0, "count_min needs depth > 0 and width > 0")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  // one "<seed+r>:" prefix per row, built once per task (UTF8String is
  // not Java-serializable state we want on the expression itself)
  @transient private lazy val prefixes: Array[UTF8String] =
    Array.tabulate(depth)(r => UTF8String.fromString(s"${seed + r}:"))

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](depth * width)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val s = v.asInstanceOf[UTF8String]
      var r = 0
      while (r < depth) {
        val h = Md5Prefix60.compute(UTF8String.concat(prefixes(r), s))
        buf(r * width + (h % width).toInt) += 1L
        r += 1
      }
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < b1.length) { b1(i) += b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Long]): Any =
    new GenericArrayData(buf.map(_.asInstanceOf[Any]))

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(buf.length * 8)
    bb.asLongBuffer().put(buf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](bytes.length / 8)
    ByteBuffer.wrap(bytes).asLongBuffer().get(out)
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CountMinAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CountMinAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CountMinAgg =
    copy(child = newChildren.head)
}
