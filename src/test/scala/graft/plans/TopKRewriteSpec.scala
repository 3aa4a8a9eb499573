package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Window
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.ops.Windows

/** The optimizer rewrite: filter(row_number <= k) over a window becomes the
  * native bounded-heap operator, transparently and correctly. */
class TopKRewriteSpec extends SparkSpec {
  import spark.implicits._

  private lazy val orders = spark.read.parquet(s"$Sf0001/orders.parquet")

  private def windowTopK = Windows.topKPerKey(orders, Seq(col("o_custkey")),
    Seq(col("o_totalprice").desc, col("o_orderkey").asc), k = 3)

  test("rewrite fires: optimized plan has TopKPerKeyNode, no Window") {
    val optimized = windowTopK.queryExecution.optimizedPlan
    assert(optimized.collect { case n: TopKPerKeyNode => n }.nonEmpty,
      optimized.toString)
    assert(optimized.collect { case w: Window => w }.isEmpty,
      optimized.toString)
  }

  test("rewritten result == unrewritten window result") {
    def rows(df: DataFrame) =
      df.select(col("o_custkey"), col("rn").cast("long"), col("o_orderkey"))
        .as[(Long, Long, Long)].collect().toSeq.sorted
    val rewritten = rows(windowTopK)
    // the plain window execution: excludedRules switches the rule off on
    // every registration path (extensions and experimental hooks alike)
    val excluded = "spark.sql.optimizer.excludedRules"
    spark.conf.set(excluded, TopKRewrite.ruleName)
    val (plain, plainPlan) =
      try (rows(windowTopK), windowTopK.queryExecution.optimizedPlan)
      finally spark.conf.unset(excluded)
    assert(plainPlan.collect { case w: Window => w }.nonEmpty, plainPlan.toString)
    assert(plainPlan.collect { case n: TopKPerKeyNode => n }.isEmpty,
      plainPlan.toString)
    assert(rewritten == plain)
    assert(rewritten.nonEmpty)
  }

  test("no rewrite when filter uses rank beyond a bound (rn = 2)") {
    val df = Windows.topKPerKey(orders, Seq(col("o_custkey")),
      Seq(col("o_totalprice").desc, col("o_orderkey").asc), k = 3)
      .where(col("rn") === 2) // equality ≠ top-k bound (except 1)
    // rn === 2 AND rn <= 3: the <= 3 conjunct rewrites, === 2 must remain
    // as a residual filter — results must still be correct
    val out = df.select(col("o_custkey"), col("rn").cast("long"))
      .as[(Long, Long)].collect()
    assert(out.nonEmpty && out.forall(_._2 == 2L))
  }

  test("global (unpartitioned) top-k does not rewrite and still plans") {
    // empty PARTITION BY: ClusteredDistribution(Nil) is rejected by Spark —
    // the rule must leave this on the window path
    val df = orders.withColumn("rn",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))))
      .where(col("rn") <= 5)
    assert(df.queryExecution.optimizedPlan
      .collect { case n: TopKPerKeyNode => n }.isEmpty)
    val top = df.select("o_orderkey").as[Long].collect()
    val want = orders.orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(5).select("o_orderkey").as[Long].collect()
    assert(top.sorted.toSeq == want.sorted.toSeq)
  }

  test("rank=1 equality rewrites (argmax pattern)") {
    val df = orders.withColumn("rn",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))))
      .where(col("rn") === 1)
    assert(df.queryExecution.optimizedPlan
      .collect { case n: TopKPerKeyNode => n }.nonEmpty)
    val maxes = df.select("o_custkey", "o_totalprice")
      .as[(Long, Double)].collect().toMap
    val want = orders.groupBy("o_custkey").agg(max("o_totalprice"))
      .as[(Long, Double)].collect().toMap
    assert(maxes == want)
  }
}
