package graft.functions

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkSpec

/** Misra-Gries laws: never overcounts, undercounts ≤ n/(k+1), exact when
  * cardinality ≤ k — and the bound SURVIVES arbitrary merge trees (the
  * map-side partial-aggregation contract). */
class MisraGriesSpec extends SparkSpec {
  import spark.implicits._

  private def agg(k: Int) =
    MisraGriesAgg(BoundReference(0, StringType, nullable = true), k)

  private def sketchOf(k: Int, items: Seq[String]): mutable.HashMap[UTF8String, Long] = {
    val a = agg(k)
    val buf = a.createAggregationBuffer()
    val row = new GenericInternalRow(1)
    items.foreach { s =>
      row.update(0, UTF8String.fromString(s))
      a.update(buf, row)
    }
    buf
  }

  test("MG error bound holds for single-buffer and merged sketches") {
    val rnd = new Random(7)
    val k = 16
    // zipf-ish stream: heavy head, long tail — cardinality >> k
    val stream = (0 until 20000).map { _ =>
      val r = rnd.nextInt(100)
      if (r < 40) s"hot${rnd.nextInt(4)}"
      else if (r < 70) s"warm${rnd.nextInt(30)}"
      else s"cold${rnd.nextInt(2000)}"
    }
    val exact = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = stream.size
    val bound = n / (k + 1)

    def check(sk: mutable.HashMap[UTF8String, Long]): Unit = {
      assert(sk.size <= k)
      val est = sk.map { case (u, c) => u.toString -> c }
      est.foreach { case (key, e) =>
        assert(e <= exact(key), s"overcounted $key")
        assert(e >= exact(key) - bound, s"undershot $key past the bound")
      }
      exact.foreach { case (key, c) =>
        if (c > bound) assert(est.contains(key), s"lost guaranteed hitter $key")
        else if (!est.contains(key))
          assert(c - 0 <= bound) // absent => est 0 within bound
      }
    }

    check(sketchOf(k, stream))

    // arbitrary merge tree over 8 chunks, merged pairwise then chained
    val a = agg(k)
    val chunks = stream.grouped(2500).map(s => sketchOf(k, s)).toSeq
    val paired = chunks.grouped(2).map {
      case Seq(x, y) => a.merge(x, y)
      case Seq(x) => x
    }.toSeq
    check(paired.reduce((x, y) => a.merge(x, y)))
  }

  test("MG is exact when distinct keys fit in k counters") {
    val stream = (0 until 5000).map(i => s"key${i % 10}")
    val sk = sketchOf(64, stream)
    assert(sk.map { case (u, c) => u.toString -> c }.toMap ==
      stream.groupBy(identity).view.mapValues(_.size.toLong).toMap)
  }

  test("misra_gries SQL function end-to-end across a real shuffle") {
    val df = (0 until 4000).map(i => s"u${i % 7}").toDF("term")
      .repartition(8) // force partial buffers + merges
      .agg(expr("misra_gries(term, 8)").as("m"))
      .select(map_entries(col("m")).as("e"))
      .select(explode(col("e")).as("kv"))
      .select(col("kv.key"), col("kv.value")).as[(String, Long)]
    // 7 distinct keys < 8 counters -> exact despite merges
    assert(df.collect().toMap == (0 until 7)
      .map(i => s"u$i" -> (4000L / 7 + (if (i < 4000 % 7) 1 else 0))).toMap)
  }
}
