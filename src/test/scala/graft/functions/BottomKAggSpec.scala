package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** bottom_k aggregate laws: cap, order, dedup, null-skip, merge
  * exactness, and parity with the window spelling. */
class BottomKAggSpec extends SparkSpec {
  import spark.implicits._

  test("keeps exactly the k smallest (h, id), ascending, capped") {
    val rows = (0L until 100L).map(i => (1, (i * 37) % 101, i, i * 10))
    val out = rows.toDF("g", "h", "id", "aux")
      .groupBy("g").agg(expr("bottom_k(h, id, aux, 5)").as("bk"))
      .select(explode(col("bk")).as("e"))
      .select("e.h", "e.id", "e.aux").as[(Long, Long, Long)].collect().toSeq
    val expect = rows.map(r => (r._2, r._3, r._4)).sortBy(t => (t._1, t._2))
      .take(5)
    assert(out == expect)
  }

  test("duplicate (h, id) folds to one entry; nulls are skipped") {
    val out = Seq[(Int, java.lang.Long, java.lang.Long, java.lang.Long)](
      (1, 5L, 7L, 1L), (1, 5L, 7L, 1L), (1, null, 9L, 2L), (1, 3L, null, 3L),
      (1, 8L, 2L, 4L))
      .toDF("g", "h", "id", "aux")
      .groupBy("g").agg(expr("bottom_k(h, id, aux, 10)").as("bk"))
      .select(explode(col("bk")).as("e"))
      .select("e.h", "e.id").as[(Long, Long)].collect().toSeq
    assert(out == Seq((5L, 7L), (8L, 2L)))
  }

  test("merge law: per-shard bottom-k re-aggregated equals one-shot") {
    val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
      .select(col("source"),
        graft.llm.PortableSeededHash.hash(col("doc_id"), 45).as("h"),
        col("doc_id"), col("n_chars"))
    def oneShot = docs.groupBy("source")
      .agg(expr("bottom_k(h, doc_id, n_chars, 8)").as("bk"))
    val sharded = docs.withColumn("shard", pmod(col("doc_id"), lit(3L)))
      .groupBy("source", "shard")
      .agg(expr("bottom_k(h, doc_id, n_chars, 8)").as("bk"))
      .select(col("source"), explode(col("bk")).as("e"))
      .select(col("source"), col("e.h").as("h"), col("e.id").as("doc_id"),
        col("e.aux").as("n_chars"))
      .groupBy("source").agg(expr("bottom_k(h, doc_id, n_chars, 8)").as("bk"))
    val a = oneShot.select(col("source"), to_json(col("bk")).as("j"))
      .as[(String, String)].collect().toMap
    val b = sharded.select(col("source"), to_json(col("bk")).as("j"))
      .as[(String, String)].collect().toMap
    assert(a == b)
  }

  test("parity with the window spelling of bottomKPerKey") {
    val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
    val window = graft.llm.Sampling
      .bottomKPerKey(docs, col("source"), col("doc_id"), k = 8)
      .select("source", "rn", "doc_id").as[(String, Int, Long)]
      .collect().toSet
    val agged = docs
      .select(col("source"),
        graft.llm.PortableSeededHash.hash(col("doc_id"), 45).as("h"),
        col("doc_id"), col("n_chars"))
      .groupBy("source").agg(expr("bottom_k(h, doc_id, n_chars, 8)").as("bk"))
      .select(col("source"), posexplode(col("bk")).as(Seq("pos", "e")))
      .select(col("source"), (col("pos") + 1).as("rn"),
        col("e.id").as("doc_id"))
      .as[(String, Int, Long)].collect().toSet
    assert(agged == window)
  }

  test("KMV set-op estimates land in the error band of the exact counts") {
    val out = graft.queries.LlmQueries.kmvSetOps(spark, Sf0001)
      .select("src_a", "src_b", "est_a", "est_union", "est_intersection")
      .as[(String, String, Long, Long, Long)].collect()
    assert(out.nonEmpty)
    val words: Map[String, Set[String]] = spark.read
      .parquet(s"$Sf0001/documents.parquet")
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .where(col("w") =!= "").distinct()
      .as[(String, String)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    out.foreach { case (sa, sb, estA, estU, estI) =>
      val a = words(sa)
      val b = words(sb)
      val u = a.union(b).size.toDouble
      val i = a.intersect(b).size.toDouble
      // KMV stderr ≈ U/√(k−2) with k=256 → 3σ ≈ 0.19·U; band 0.25·U
      assert(math.abs(estA - a.size) < 0.25 * a.size,
        s"est_a $estA vs exact ${a.size} for $sa")
      assert(math.abs(estU - u) < 0.25 * u,
        s"est_union $estU vs exact $u for ($sa,$sb)")
      // Î = ĵ·Û: ĵ's binomial noise dominates — band U/8 + slack
      assert(math.abs(estI - i) <= u / 8 + 25,
        s"est_intersection $estI vs exact $i for ($sa,$sb)")
    }
  }
}
