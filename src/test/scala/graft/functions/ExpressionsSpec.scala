package graft.functions

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import graft.SparkSpec
import graft.llm.Similarity

/** Native codegen expressions vs reference implementations. */
class ExpressionsSpec extends SparkSpec {
  import spark.implicits._

  test("Md5Prefix60 equals the conv(substring(md5)) SQL formulation") {
    val inputs = (0 until 500).map(i => s"seed:$i some text $i payload") ++
      Seq("", "a", "é中文 unicode", "42:12345", " spaces  ")
    val df = inputs.toDF("s")
    val native = org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.Md5Prefix60(
        org.apache.spark.sql.graft.ColumnBridge.expression(col("s"))))
    val viaSql = conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long")
    val mismatches = df.select(col("s"), native.as("n"), viaSql.as("q"))
      .where(col("n") =!= col("q")).collect()
    assert(mismatches.isEmpty, mismatches.mkString(", "))
    // non-negative 60-bit range
    val vals = df.select(native).as[Long].collect()
    assert(vals.forall(v => v >= 0 && v < (1L << 60)))
  }

  test("md5_prefix60 SQL function matches the Column API") {
    val got = spark.sql("SELECT md5_prefix60('42:99') AS h")
      .as[Long].head()
    val want = Seq("x").toDF("s")
      .select(graft.llm.PortableSeededHash.hash(lit(99L), 42).as("h"))
      .as[Long].head()
    assert(got == want)
  }

  test("PolyHash matches a plain Scala fold for arbitrary strings") {
    def ref(s: String): Long = {
      val cps = s.codePoints().toArray
      if (cps.isEmpty) 0L
      else cps.tail.foldLeft(cps.head.toLong)((a, c) => (a * 31 + c) % 2147483647L)
    }
    val gen = Gen.listOf(Gen.asciiPrintableChar).map(_.mkString)
    val inputs = Iterator.continually(gen.sample).flatten.take(30).toSeq
      .map(_.take(200)) :+ "" :+ "a" :+ "héllo ☃ unicode"
    val got = inputs.toDF("t").select(expr("poly_hash(t)")).as[Long].collect()
    got.zip(inputs).foreach { case (g, s) =>
      assert(g == ref(s), s"for input '$s'")
    }
  }

  test("poly_hash SQL function registered by GraftSession.setup") {
    // SparkSpec registers the test session through GraftSession.setup
    val got = spark.sql("SELECT poly_hash('abc')").as[Long].head()
    assert(got == ((97L * 31 + 98) % 2147483647L * 31 + 99) % 2147483647L)
  }

  test("CosineSim native == higher-order-function formulation") {
    val df = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(3.0f, 2.0f, 1.0f)),
      (Array(0.5f, -0.5f), Array(0.5f, -0.5f))).toDF("a", "b")
    val rows = df.select(
      Similarity.cosine(col("a"), col("b")).as("native"),
      Similarity.cosineHof(col("a"), col("b")).as("hof"))
      .as[(Double, Double)].collect()
    rows.foreach { case (n, h) => assert(math.abs(n - h) < 1e-12) }
  }

  test("CosineSim nulls: length mismatch and zero norm -> null") {
    val df = Seq(
      (Array(1.0f, 2.0f), Array(1.0f, 2.0f, 3.0f)),
      (Array(0.0f, 0.0f), Array(1.0f, 2.0f))).toDF("a", "b")
    val out = df.select(Similarity.cosine(col("a"), col("b"))).collect()
    assert(out.forall(_.isNullAt(0)))
  }

  test("HashedShingles native == HOF xxhash64 formulation") {
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "a a a a a",      // repeats -> duplicate shingles collapse
      "one two three",  // exactly n tokens -> one shingle
      "one two",        // shorter than n -> empty
      "",               // empty split -> [""] single token
      "é中文 unicode tokens mixed 中 bytes") ++
      (0 until 200).map(i => s"doc $i token${i % 7} shared text body $i end")
    val df = texts.toDF("text")
      .withColumn("toks", graft.llm.TextAnalysis.tokens(col("text")))
    for (n <- Seq(2, 3, 5)) {
      val rows = df.select(
        graft.llm.TextAnalysis.hashedShinglesFromTokens(col("toks"), n)
          .as("native"),
        graft.llm.TextAnalysis.hashedShinglesFromTokensHof(col("toks"), n)
          .as("hof"))
        .as[(Seq[Long], Seq[Long])].collect()
      rows.foreach { case (nat, hof) => assert(nat == hof, s"n=$n") }
    }
  }

  test("PositionalShingles: sorted distinct == HashedShingles; positions align") {
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "a a a a a",      // within-doc repeats PRESERVED positionally
      "one two three",
      "one two",        // shorter than n -> empty
      "") ++
      (0 until 100).map(i => s"doc $i token${i % 7} shared text body $i end")
    val df = texts.toDF("text")
      .withColumn("toks", graft.llm.TextAnalysis.tokens(col("text")))
    def pos(c: org.apache.spark.sql.Column, n: Int) =
      org.apache.spark.sql.graft.ColumnBridge.column(
        PositionalShingles(
          org.apache.spark.sql.graft.ColumnBridge.expression(c), n))
    for (n <- Seq(2, 3, 5)) {
      val rows = df.select(
        sort_array(array_distinct(pos(col("toks"), n))).as("viaPos"),
        graft.llm.TextAnalysis.hashedShinglesFromTokens(col("toks"), n)
          .as("sortedDistinct"),
        pos(col("toks"), n).as("raw"),
        size(col("toks")).as("m"))
        .as[(Seq[Long], Seq[Long], Seq[Long], Int)].collect()
      rows.foreach { case (viaPos, sd, raw, m) =>
        assert(viaPos == sd, s"n=$n")
        assert(raw.size == math.max(0, m - n + 1),
          s"n=$n: one gram per start position")
      }
    }
    // "a a a a a" with n=2: four IDENTICAL gram hashes, kept
    val rep = Seq("a a a a a").toDF("text")
      .withColumn("toks", graft.llm.TextAnalysis.tokens(col("text")))
      .select(pos(col("toks"), 2)).as[Seq[Long]].head()
    assert(rep.size == 4 && rep.distinct.size == 1)
  }

  test("TokenEntropy compiled == HOF fold on real corpus tokens") {
    val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
      .withColumn("toks", graft.llm.TextAnalysis.tokens(col("text")))
    val mismatch = docs.select(
        graft.llm.TextAnalysis.tokenEntropy(col("toks")).as("native"),
        graft.llm.TextAnalysis.tokenEntropyHof(col("toks")).as("hof"))
      .where(col("native") =!= col("hof"))
      .count()
    assert(mismatch == 0L) // bit-identical: same ops in the same order
  }

  test("IntDot matches the HOF fold and nulls on length mismatch") {
    val out = spark.sql(
      """SELECT int_dot(array(1, -2, 3), array(4, 5, -6)) AS d,
        |  int_dot(array(1, 2), array(1)) AS mism,
        |  int_dot(array(2000000000, 2000000000),
        |          array(2000000000, 2000000000)) AS big""".stripMargin)
      .as[(Option[Long], Option[Long], Option[Long])].head()
    assert(out._1.contains(1L * 4 - 2 * 5 - 3 * 6))
    assert(out._2.isEmpty) // length mismatch -> null
    assert(out._3.contains(2L * 2000000000L * 2000000000L)) // no int overflow
  }

  test("HashedShingles null token elements keep HOF null-skip parity") {
    // unreachable from split()-produced arrays, but the expression is a
    // public case class: a null element must hash as Spark's xxhash64
    // does (hash unchanged == seed), not NPE
    val df = spark.sql(
      """SELECT array('a', CAST(NULL AS STRING), 'b', 'c', NULL, 'd')
        |AS toks""".stripMargin)
    for (n <- Seq(2, 3)) {
      val (nat, hof) = df.select(
        graft.llm.TextAnalysis.hashedShinglesFromTokens(col("toks"), n)
          .as("native"),
        graft.llm.TextAnalysis.hashedShinglesFromTokensHof(col("toks"), n)
          .as("hof"))
        .as[(Seq[Long], Seq[Long])].head()
      assert(nat == hof, s"n=$n")
    }
  }
}
