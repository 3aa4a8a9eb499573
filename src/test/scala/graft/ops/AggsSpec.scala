package graft.ops

import org.scalacheck.Gen
import graft.SparkSpec

/** Monoid laws for the Counter-addition merge (the property the reference's
  * `agg_func` + collections.Counter silently relies on,
  * profile_daily.py:144-145) + deterministic-mode semantics. */
class AggsSpec extends SparkSpec {
  import spark.implicits._

  private val agg = new MapCounterAgg
  private val genMap: Gen[Map[String, Long]] =
    Gen.mapOf(Gen.zip(Gen.oneOf("a", "b", "c", "d"), Gen.choose(-100L, 100L)))

  test("MapCounterAgg merge: associative, commutative, identity") {
    val cases = Iterator.continually(genMap.sample).flatten.take(200).toSeq
    cases.sliding(3, 3).foreach {
      case Seq(x, y, z) =>
        assert(agg.merge(agg.merge(x, y), z) == agg.merge(x, agg.merge(y, z)))
        assert(agg.merge(x, y) == agg.merge(y, x))
        assert(agg.merge(x, agg.zero) == x)
      case _ =>
    }
  }

  test("MapCountAgg (native) == typed Aggregator result across a shuffle") {
    val df = Seq(
      (1L, "x"), (1L, "x"), (1L, "y"),
      (2L, "z"), (2L, "z"), (2L, "z"), (2L, "a"),
      (3L, "solo"))
      .toDF("user_id", "event_type")
      .repartition(4) // forces partial buffers + serialize/merge
    val native = df.groupBy("user_id")
      .agg(org.apache.spark.sql.functions.expr("map_count(event_type)").as("m"))
      .as[(Long, Map[String, Long])].collect().toMap
    assert(native == Map(
      1L -> Map("x" -> 2L, "y" -> 1L),
      2L -> Map("z" -> 3L, "a" -> 1L),
      3L -> Map("solo" -> 1L)))
  }

  test("modePerGroup: most frequent wins, ties to smallest value") {
    val df = Seq(
      (1, "b"), (1, "b"), (1, "a"),          // b wins on count
      (2, "z"), (2, "y"),                    // tie -> y (smallest)
      (3, "only")).toDF("k", "v")
    val out = Aggs.modePerGroup(df, Seq("k"), "v")
      .orderBy("k").select("k", "v").as[(Int, String)].collect().toSeq
    assert(out == Seq((1, "b"), (2, "y"), (3, "only")))
  }
}
