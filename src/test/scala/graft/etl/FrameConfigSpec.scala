package graft.etl

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.SparkSpec

/** Null-on-error extraction semantics (reference testpilot_data.py:53-66):
  * any malformed cell degrades to NULL, never throws. */
class FrameConfigSpec extends SparkSpec {
  import spark.implicits._

  test("try_cast null-on-error: garbage -> null, valid -> value") {
    val df = Seq("42", "x", "", "7").toDF("raw")
    val cfg = FrameConfig(Seq(
      ColumnSpec("v", col("raw"), castTo = Some(LongType))))
    val out = cfg(df).collect().map(r => Option(r.get(0)))
    assert(out.toSeq == Seq(Some(42L), None, None, Some(7L)))
  }

  test("path() resolves /-separated nested struct paths") {
    val df = Seq(("a", ("b", 3L))).toDF("x", "y")
      .select(col("x"), struct(col("y._1").as("p"), col("y._2").as("q")).as("y"))
    val out = df.select(ColumnSpec.path("y/q")).as[Long].head()
    assert(out == 3L)
  }

  test("missing paths extract as typed NULL, not AnalysisException") {
    // reference: get_pings_properties fills absent paths with None
    val df = Seq(("a", 1L)).toDF("x", "n")
    val cfg = FrameConfig(Seq(
      ColumnSpec("x", col("x")),
      ColumnSpec("gone", ColumnSpec.path("meta/geo")),
      ColumnSpec("gone_typed", col("absent"), castTo = Some(LongType))))
    val out = cfg(df)
    assert(out.schema("gone_typed").dataType == LongType)
    val row = out.head()
    assert(row.getString(0) == "a" && row.isNullAt(1) && row.isNullAt(2))
  }

  test("pre/post filters apply around the projection") {
    val df = Seq(("keep", "1"), ("drop", "2"), ("keep", "x")).toDF("tag", "v")
    val cfg = FrameConfig(
      Seq(ColumnSpec("v", col("v"), castTo = Some(LongType))),
      preFilter = Some(col("tag") === "keep"),
      postFilter = Some(col("v").isNotNull))
    assert(cfg(df).as[Long].collect().toSeq == Seq(1L))
  }

  test("splitHead takes prefix before delimiter; null-safe") {
    val df = Seq(Some("a|b|c"), Some("plain"), None).toDF("s")
    val out = df.select(Clean.splitHead("|")(col("s"))).collect()
      .map(r => Option(r.getString(0)))
    assert(out.toSeq == Seq(Some("a"), Some("plain"), None))
  }

  test("stripPadAndTrim drops NUL padding and 4-byte head/tail") {
    val df = Seq("XXXXpayloadYYYY\u0000\u0000", "tiny").toDF("s")
    val out = df.select(Clean.stripPadAndTrim(col("s"))).collect()
      .map(r => Option(r.getString(0)))
    assert(out.toSeq == Seq(Some("payload"), None))
  }

  test("isValidUuid accepts UUIDs, rejects garbage") {
    val df = Seq("123e4567-e89b-12d3-a456-426614174000", "nope").toDF("s")
    val out = df.select(Clean.isValidUuid(col("s"))).collect()
      .map(_.getBoolean(0))
    assert(out.toSeq == Seq(true, false))
  }

  private def jsonNodes(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
    import org.apache.spark.sql.catalyst.expressions.{GetJsonObject, JsonTuple}
    val exprs = df.queryExecution.optimizedPlan.flatMap(_.expressions)
      .flatMap(_.collect { case e => e })
    (exprs.count(_.isInstanceOf[JsonTuple]),
      exprs.count(_.isInstanceOf[GetJsonObject]))
  }

  test("JSON columns: one json_tuple per payload, none for a post-filter") {
    val df = Seq((1L, """{"k":"7","m":2}""", """{"x":"a"}"""),
        (2L, """{"m":3}""", """{"x":"b"}"""))
      .toDF("id", "props", "meta")
    val cfg = FrameConfig(
      columns = Seq(
        ColumnSpec("id", col("id")),
        ColumnSpec.json("k", col("props"), "k", castTo = Some(LongType)),
        ColumnSpec.json("m", col("props"), "m", castTo = Some(LongType)),
        ColumnSpec.json("x", col("meta"), "x", clean = upper),
        ColumnSpec.json("gone", col("absent"), "k", castTo = Some(LongType))),
      preFilter = Some(col("id") > 0),
      postFilter = Some(col("m").isNotNull && col("id") < 10))
    val out = cfg(df)
    assert(jsonNodes(out) == ((2, 0)), out.queryExecution.optimizedPlan)
    assert(out.schema("gone").dataType == LongType)
    assert(out.collect().map(_.toSeq).toSeq == Seq(
      Seq(1L, 7L, 2L, "A", null), Seq(2L, null, 3L, "B", null)))
    val daily = graft.jobs.TestpilotDaily.testpilotConfig(
      graft.io.Tables.table(spark, Sf0001, "events"))
    assert(jsonNodes(daily) == ((1, 0)), daily.queryExecution.optimizedPlan)
  }

  test("json field matches get_json_object after the long cast, except a " +
    "duplicate key takes its last value") {
    val payloads = Seq("""{"k":5}""", """{"k": -7, "m": 1}""", """{"m":1}""",
      """{"k":null}""", """{"k":{"a":1}}""", """{"k":[1,2]}""",
      """{"k":"42"}""", """{"k":"x"}""", """{"k":1.5}""", """{"k":1e3}""",
      """{"k":99999999999999999999}""", """{"k":9223372036854775807}""",
      "not json", "", null, """{"\u006b":3}""", """{"k":4} trailing""",
      """{"a":{"k":9}}""", """[{"k":1}]""", """{"k":true}""",
      """{"k":" 8 "}""", """{"k":1,"k":2}""")
    val df = payloads.zipWithIndex.map { case (p, i) => (i, p) }
      .toDF("i", "props")
    val out = FrameConfig(Seq(
        ColumnSpec("i", col("i")),
        ColumnSpec("gjo", get_json_object(col("props"), "$.k"),
          castTo = Some(LongType)),
        ColumnSpec.json("k", col("props"), "k", castTo = Some(LongType))))(df)
      .orderBy("i").collect()
      .map(r => (r.getInt(0), Option(r.get(1)), Option(r.get(2))))
    val dup = payloads.size - 1
    out.filter(_._1 != dup).foreach { case (i, gjo, k) =>
      assert(gjo == k, s"payload ${payloads(i)}")
    }
    assert(out(dup) == ((dup, Some(1L), Some(2L))))
    assert(out.map(_._3).take(8).toSeq == Seq(Some(5L), Some(-7L), None,
      None, None, None, Some(42L), None))
    assert(out(15)._3 == Some(3L) && out(14)._3.isEmpty && out(13)._3.isEmpty)
  }
}
