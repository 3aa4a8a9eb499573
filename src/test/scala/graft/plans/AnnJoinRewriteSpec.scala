package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.llm.Similarity

/** The opt-in cosine-threshold → LSH-bucket equi-join rewrite. */
class AnnJoinRewriteSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(s"$Sf0001/embeddings.parquet")

  private def cosineJoin(): DataFrame = {
    val a = emb.select(col("vec_id").as("va"), col("embedding").as("ea"))
    val b = emb.select(col("vec_id").as("vb"), col("embedding").as("eb"))
    a.join(b, col("va") < col("vb") &&
      Similarity.cosine(col("ea"), col("eb")) >= 0.4)
      .select("va", "vb")
  }

  test("flag off (default): join is untouched, plans as nested loop") {
    spark.conf.unset("spark.graft.ann.bucketJoin")
    val df = cosineJoin()
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("CartesianProduct"))
    assert(!plan.contains("LshSig") && !plan.contains("lshsig"))
  }

  test("flag on: equi join on LshSig buckets, output is a subset of exact") {
    val exact = cosineJoin().as[(Long, Long)].collect().toSet
    spark.conf.set("spark.graft.ann.bucketJoin", "true")
    try {
      val df = cosineJoin()
      val approx = df.as[(Long, Long)].collect().toSet
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"),
        s"expected an equi join on signatures:\n$plan")
      assert(approx.nonEmpty)
      assert(approx.subsetOf(exact),
        "every bucket-join row must satisfy the original predicate")
    } finally spark.conf.unset("spark.graft.ann.bucketJoin")
  }

  test("flag on: joins that already have equi keys are left alone") {
    spark.conf.set("spark.graft.ann.bucketJoin", "true")
    try {
      val a = emb.select(col("vec_id").as("k"), col("embedding").as("ea"))
      val b = emb.select(col("vec_id").as("k"), col("embedding").as("eb"))
      val df = a.join(b, "k")
        .where(Similarity.cosine(col("ea"), col("eb")) >= 0.99)
      assert(df.count() == emb.count()) // self-pairs all survive
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(!optimized.contains("lshsig") && !optimized.contains("LshSig"))
    } finally spark.conf.unset("spark.graft.ann.bucketJoin")
  }
}
