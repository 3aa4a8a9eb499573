package graft.functions

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.SparkSpec
import graft.llm.TextAnalysis

/** Aho–Corasick distinct-presence matcher: automaton laws plus parity
  * with the naive one-contains-per-term gate. */
class MultiContainsSpec extends SparkSpec {
  import spark.implicits._

  private def matchSet(dict: Seq[String], text: String): Seq[String] =
    AhoCorasick.build(dict).run(UTF8String.fromString(text))
      .toArray[UTF8String](org.apache.spark.sql.types.StringType)
      .map(_.toString).toSeq

  test("classic he/she/his/hers example, overlapping + suffix outputs") {
    val dict = Seq("he", "she", "his", "hers")
    assert(matchSet(dict, "ushers") === Seq("he", "hers", "she"))
    assert(matchSet(dict, "this") === Seq("his"))
    assert(matchSet(dict, "hershey") === Seq("he", "hers", "she"))
    assert(matchSet(dict, "xyz") === Seq.empty)
    assert(matchSet(dict, "") === Seq.empty)
  }

  test("nested prefixes and patterns inside longer live matches") {
    val dict = Seq("batch batch batch", "batch batch", "ow jo", "low joi")
    assert(matchSet(dict, "batch batch batch") ===
      Seq("batch batch", "batch batch batch"))
    assert(matchSet(dict, "batch batch") === Seq("batch batch"))
    // "ow jo" must fire WHILE "low joi" is still being matched
    assert(matchSet(dict, "a slow join b") === Seq("low joi", "ow jo"))
  }

  test("utf-8 multibyte patterns match on raw bytes") {
    val dict = Seq("中文", "é", "naïve")
    assert(matchSet(dict, "this is 中文 text") === Seq("中文"))
    assert(matchSet(dict, "a naïve café") === Seq("naïve", "é"))
  }

  test("output is sorted, deduplicated, independent of dict order") {
    val dict = Seq("cc", "aa", "bb", "aa")
    assert(matchSet(dict, "bbccaa") === Seq("aa", "bb", "cc"))
  }

  test("parity with naive contains on pseudo-random word-salad") {
    val vocab = Array("the", "a", "batch", "slow", "join", "data", "line",
      "merge", "key", "window")
    val dict = Seq("batch batch", "slow join", "ow jo", "data line",
      "the a", "a the", "key window", "merge", "atch b")
    val rnd = new scala.util.Random(4242)
    (0 until 300).foreach { _ =>
      val text = Seq.fill(3 + rnd.nextInt(30))(
        vocab(rnd.nextInt(vocab.length))).mkString(" ")
      val naive = dict.distinct.sorted.filter(text.contains)
      assert(matchSet(dict, text) === naive, s"text=<$text>")
    }
  }

  test("Column wrapper + SQL function agree, codegen path") {
    val dict = Seq("ab", "bc", "abc")
    val df = Seq("xabcx", "zz", "bc").toDF("s")
    val viaCol = df.select(
        array_join(TextAnalysis.multiContains(col("s"), dict), "|").as("m"))
      .as[String].collect().toSeq
    assert(viaCol === Seq("ab|abc|bc", "", "bc"))
    val viaSql = spark.sql(
      "SELECT array_join(multi_contains('xabcx', 'ab', 'bc', 'abc'), '|') AS m")
      .as[String].head()
    assert(viaSql === "ab|abc|bc")
  }

  test("null text yields null, not a crash") {
    val df = Seq(Some("dup here"), None).toDF("s")
    val out = df.select(TextAnalysis.multiContains(col("s"), Seq("dup"))
      .as("m")).collect()
    assert(out(0).getSeq[String](0) === Seq("dup"))
    assert(out(1).isNullAt(0))
  }
}
