package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Count-Min sketch: one-sided error, exactness without collisions,
  * mergeability across a real shuffle, and the SQL surface. */
class CountMinSpec extends SparkSpec {
  import spark.implicits._

  private def estimates(keys: Seq[String], depth: Int, width: Int,
                        seed: Int): Map[String, Long] = {
    // many small partitions so partial buffers really merge
    val df = keys.toDF("k").repartition(4)
    val sketch = df.agg(expr(s"count_min(k, $depth, $width, $seed)").as("cm"))
    val probe = keys.distinct.toDF("k").crossJoin(sketch)
    val est = (0 until depth).map { r =>
      element_at(col("cm"), (lit(r * width) +
        pmod(graft.llm.PortableSeededHash.hash(col("k"), seed + r),
          lit(width.toLong)).cast("int") + 1).cast("int"))
    }.reduce(least(_, _))
    probe.select(col("k"), est.as("e")).as[(String, Long)].collect().toMap
  }

  test("estimates never undercount and are exact in a wide sketch") {
    val keys = (1 to 50).flatMap(i => Seq.fill(i % 7 + 1)(s"k$i"))
    val truth = keys.groupBy(identity).view.mapValues(_.size.toLong).toMap
    // width >> distinct keys: collisions vanish, estimates are exact
    val wide = estimates(keys, depth = 4, width = 4096, seed = 7)
    truth.foreach { case (k, n) => assert(wide(k) == n, s"wide $k") }
    // width < distinct keys: collisions are real, but CM never undercounts
    val tight = estimates(keys, depth = 2, width = 8, seed = 7)
    truth.foreach { case (k, n) => assert(tight(k) >= n, s"tight $k") }
  }

  test("merge is element-wise exact: 1 partition == 8 partitions") {
    val keys = (1 to 200).map(i => s"u${i % 31}")
    def matrix(parts: Int): Seq[Long] =
      keys.toDF("k").repartition(parts)
        .agg(expr("count_min(k, 4, 64, 3)").as("cm"))
        .as[Seq[Long]].head()
    assert(matrix(1) == matrix(8))
  }

  test("row cells each sum to the total update count") {
    val keys = (1 to 123).map(i => s"x$i")
    val m = keys.toDF("k").agg(expr("count_min(k, 3, 16, 11)").as("cm"))
      .as[Seq[Long]].head()
    (0 until 3).foreach { r =>
      assert(m.slice(r * 16, (r + 1) * 16).sum == keys.size.toLong)
    }
  }

  test("inner product never underestimates the true join size and is " +
    "exact in a collision-free sketch") {
    // A: key k appears k times (k = 1..8); B: key k appears 9-k times.
    // true |A JOIN B| = sum k*(9-k) = 120. width 64 >> 8 keys: for the
    // q204 estimator a collision-free matrix makes min-row inner product
    // EXACT; a width-4 matrix must still never undercount.
    val a = (1 to 8).flatMap(k => Seq.fill(k)(k.toString)).toDF("k")
    val b = (1 to 8).flatMap(k => Seq.fill(9 - k)(k.toString)).toDF("k")
    def inner(width: Int): Long = {
      val cma = a.agg(expr(s"count_min(k, 3, $width, 101)").as("m"))
        .as[Seq[Long]].head()
      val cmb = b.agg(expr(s"count_min(k, 3, $width, 101)").as("m"))
        .as[Seq[Long]].head()
      (0 until 3).map { r =>
        (0 until width).map(bk =>
          cma(r * width + bk) * cmb(r * width + bk)).sum
      }.min
    }
    assert(inner(64) == 120L)
    assert(inner(4) >= 120L)
  }
}
