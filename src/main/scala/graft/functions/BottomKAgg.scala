package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StructField, StructType}

/** Bottom-k sketch as a `TypedImperativeAggregate`: keeps the k entries
  * with the SMALLEST `(h, id)` among the group's rows — the compiled
  * form of [[graft.llm.Sampling.bottomKPerKey]]'s per-key selection,
  * usable wherever an aggregate is (including a Structured Streaming
  * `complete`-mode group-by, where the state store maintains the ≤k-row
  * buffer across micro-batches — the continuously-maintained per-domain
  * sample).
  *
  * MERGEABLE by construction (Cohen & Kaplan 2007): bottom-k of a union
  * is the bottom-k of the concatenated bottom-k's, so the map-side
  * partial contract is exact and any merge tree yields the identical
  * set. The k-th smallest `h` is the KMV distinct-count statistic
  * (Bar-Yossef et al. 2002) — callers derive the estimate from the last
  * array entry.
  *
  * Inputs: `h` (the seeded hash — the sample coordinate), `id` (the
  * tie-break + payload key), `aux` (one carried attribute). Rows with a
  * NULL in any input are skipped (a hashless row has no place in the
  * hash order). Output: `array<struct<h,id,aux>>` ascending by (h, id)
  * — deterministic. Buffer is a ≤k array kept sorted by insertion (k is
  * small; O(k) per update, no allocation on the reject path — the
  * overwhelmingly common case once the buffer is warm, since a random
  * row beats the current k-th with probability k/n). SQL:
  * `bottom_k(h, id, aux, k)` (k a literal) after
  * [[graft.GraftSession.setup]].
  */
case class BottomKAgg(
    hChild: Expression,
    idChild: Expression,
    auxChild: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.ArrayBuffer[(Long, Long, Long)]] {

  require(k > 0, "bottom_k needs k > 0")

  override def children: Seq[Expression] = Seq(hChild, idChild, auxChild)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("h", LongType, nullable = false),
    StructField("id", LongType, nullable = false),
    StructField("aux", LongType, nullable = false))),
    containsNull = false)

  override def createAggregationBuffer(): mutable.ArrayBuffer[(Long, Long, Long)] =
    new mutable.ArrayBuffer[(Long, Long, Long)](k + 1)

  private def lt(ah: Long, ai: Long, bh: Long, bi: Long): Boolean =
    ah < bh || (ah == bh && ai < bi)

  private def insert(buf: mutable.ArrayBuffer[(Long, Long, Long)],
                     h: Long, id: Long, aux: Long): Unit = {
    if (buf.length == k) {
      val last = buf(k - 1)
      if (!lt(h, id, last._1, last._2)) return // reject path: no work
    }
    // binary search for the insertion point in the sorted buffer
    var lo = 0
    var hi = buf.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      val m = buf(mid)
      if (lt(m._1, m._2, h, id)) lo = mid + 1 else hi = mid
    }
    // equal (h, id) arriving twice (streaming replay, self-merge) must
    // not duplicate: the sample is a SET of ids
    if (lo < buf.length && buf(lo)._1 == h && buf(lo)._2 == id) return
    buf.insert(lo, (h, id, aux))
    if (buf.length > k) buf.remove(k)
  }

  override def update(buf: mutable.ArrayBuffer[(Long, Long, Long)],
                      input: InternalRow): mutable.ArrayBuffer[(Long, Long, Long)] = {
    val h = hChild.eval(input)
    val id = idChild.eval(input)
    val aux = auxChild.eval(input)
    if (h != null && id != null && aux != null)
      insert(buf, h.asInstanceOf[Long], id.asInstanceOf[Long],
        aux.asInstanceOf[Long])
    buf
  }

  override def merge(b1: mutable.ArrayBuffer[(Long, Long, Long)],
                     b2: mutable.ArrayBuffer[(Long, Long, Long)])
      : mutable.ArrayBuffer[(Long, Long, Long)] = {
    b2.foreach { case (h, id, aux) => insert(b1, h, id, aux) }
    b1
  }

  override def eval(buf: mutable.ArrayBuffer[(Long, Long, Long)]): Any =
    new GenericArrayData(buf.map { case (h, id, aux) =>
      new GenericInternalRow(Array[Any](h, id, aux))
    }.toArray[Any])

  override def serialize(buf: mutable.ArrayBuffer[(Long, Long, Long)]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.length)
    buf.foreach { case (h, id, aux) =>
      out.writeLong(h); out.writeLong(id); out.writeLong(aux)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.ArrayBuffer[(Long, Long, Long)] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = new mutable.ArrayBuffer[(Long, Long, Long)](math.max(n, k + 1))
    var i = 0
    while (i < n) {
      buf += ((in.readLong(), in.readLong(), in.readLong()))
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BottomKAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BottomKAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BottomKAgg =
    copy(hChild = newChildren(0), idChild = newChildren(1),
      auxChild = newChildren(2))
}
