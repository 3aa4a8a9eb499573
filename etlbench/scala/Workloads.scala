package etlbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.io.{PartitionedWriter, Tables}
import graft.jobs.{CorpusPipeline, TestpilotDaily}
import graft.llm.{Dedup, PortableSeededHash, TextAnalysis}
import graft.ops.{Aggs, Joins}

/** One timed operation of a pass: a pipeline run or one query. */
final case class Op(name: String, query: Boolean, seconds: Double, error: Option[String])

/** A workload's pass: reads the generated inputs under `in`, writes every
  * output under `out`. Untraced passes call the jobs' entry points; traced
  * passes make the same public calls one at a time, each inside a span,
  * and the check requires both to produce the same output digest. */
trait Workload {
  def outputs: Seq[String]
  /** Names of the `SparkEntry.oracleSql` twins the check runs. */
  def oracles: Seq[String] = Nil
  def pass(spark: SparkSession, in: String, out: String, tr: Tracer,
           traced: Boolean): Seq[Op]
}

object Workload {
  def apply(name: String): Workload = name match {
    case "daily_etl" => DailyEtl
    case "corpus_dedup" => CorpusDedup
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Time `body` as one operation; an exception fails the operation. */
  def op(name: String, query: Boolean = false)(body: => Unit): Op = {
    val t0 = System.nanoTime()
    val err = try { body; None } catch { case e: Exception => Some(e.toString) }
    Op(name, query, (System.nanoTime() - t0) / 1e9, err)
  }
}

/** The reference's two daily jobs back to back: the testpilot ingest into
  * three parquet sinks, then the profile job that reads two of them back,
  * aggregates per (user_id, day) and full-outer-joins the aggregates. */
object DailyEtl extends Workload {
  val outputs = Seq("testpilot", "testpilottest", "search", "profile")

  def pass(spark: SparkSession, in: String, out: String, tr: Tracer,
           traced: Boolean): Seq[Op] =
    Seq(Workload.op("daily_etl") {
      val sinks = TestpilotDaily.Sinks(s"$out/testpilot", s"$out/testpilottest",
        s"$out/search")
      val events = Tables.table(spark, in, "events")
      if (!traced) {
        TestpilotDaily.run(spark, events, Tables.csv(spark, s"$in/customer_csv"), sinks)
      } else {
        // TestpilotDaily.run's save branch, one sink per span
        val csv = tr.span("io.csv")(Tables.csv(spark, s"$in/customer_csv"))
        val (tp, tpt, search) = tr.span("etl.frame_config")(
          TestpilotDaily.run(spark, events, csv, sinks, save = false))
        tr.span("io.write.testpilot")(
          PartitionedWriter.write(tp, sinks.testpilot, partitionCols = Seq("day")))
        tr.span("io.write.testpilottest")(
          PartitionedWriter.write(tpt, sinks.testpilottest, partitionCols = Seq("day")))
        tr.span("io.write.search")(
          PartitionedWriter.write(search, sinks.search, numFiles = Some(1)))
      }
      tr.span("ops.profile")(profile(spark, out, tr))
    })

  /** The profile job: per-(user_id, day) conditional counts and sums on
    * both sinks, full outer join, zero-filled, day-partitioned. */
  def profile(spark: SparkSession, out: String, tr: Tracer): Unit = {
    val (tp, tpt) = tr.span("io.read_back")(
      (spark.read.parquet(s"$out/testpilot"), spark.read.parquet(s"$out/testpilottest")))
    val keys = Seq("user_id", "day")
    val interactions = tp.groupBy(keys.map(col): _*).agg(
      Aggs.countIf(col("event") === "click").as("clicks"),
      Aggs.countIf(col("event") === "view").as("views"),
      sum("prop_k").as("prop_k_sum"))
    val other = tpt.groupBy(keys.map(col): _*).agg(
      count(lit(1)).as("other_events"),
      Aggs.countIf(col("event") === "purchase").as("purchases"),
      sum("value_cents").as("value_cents"))
    val counts = Seq("clicks", "views", "prop_k_sum", "other_events", "purchases",
      "value_cents")
    val joined = Joins.fullOuter(interactions, other, keys)
      .select(keys.map(col) ++ counts.map(c => coalesce(col(c), lit(0L)).as(c)): _*)
    tr.span("io.write.profile")(
      PartitionedWriter.write(joined, s"$out/profile", partitionCols = Seq("day")))
  }
}

/** `CorpusPipeline.run` with the portable hash family (the q79 oracle's),
  * then exact dedup as the registered query `q30_exact_dedup` over the same
  * documents, each result written as parquet. */
object CorpusDedup extends Workload {
  val query = "q30_exact_dedup"
  val outputs = Seq("corpus", query)
  override val oracles = Seq("q79_corpus_pipeline", query)

  def pass(spark: SparkSession, in: String, out: String, tr: Tracer,
           traced: Boolean): Seq[Op] =
    Workload.op("corpus") {
      val docs = Tables.table(spark, in, "documents")
      def write(df: DataFrame): Unit =
        tr.span("io.write.corpus")(PartitionedWriter.write(df, s"$out/corpus"))
      if (!traced) write(CorpusPipeline.run(docs, hasher = PortableSeededHash))
      else {
        val clean = nearDups(docs, tr)
        tr.span("llm.quality")(write(quality(clean)))
      }
    } :: Workload.op(query, query = true)(tr.span("queries", query)(
      SparkEntry.queries(query)(spark, in).write.mode("overwrite").parquet(s"$out/$query"))
    ) :: Nil

  /** CorpusPipeline.run's dedup stages with their defaults, one span each.
    * The connected-components span also carries the LSH work its first
    * round pulls in. */
  private def nearDups(docs: DataFrame, tr: Tracer): DataFrame = {
    val kept = tr.span("llm.exact")(docs.join(
      Dedup.exact(docs).select(col("keep_id").as("doc_id")), Seq("doc_id"), "left_semi"))
    val pairs = tr.span("llm.minhash_lsh")(
      Dedup.minHashLsh(kept, hasher = PortableSeededHash).select("doc_a", "doc_b"))
    val clusters = tr.span("llm.connected_components")(Dedup.connectedComponents(pairs))
    tr.span("llm.drop_near_dups")(Dedup.dropNearDups(kept, clusters))
  }

  /** CorpusPipeline.run's quality scoring, threshold and split. */
  private def quality(clean: DataFrame): DataFrame = {
    val scored = clean
      .select(col("doc_id"), col("lang"), col("n_chars"), col("text"),
        TextAnalysis.tokens(col("text")).as("toks"))
      .select(col("doc_id") +: col("lang") +: col("n_chars") +:
        TextAnalysis.qualityComponentsFromTokens(col("text"), col("toks"))
          .map { case (n, c) => c.as(n) }: _*)
      .select(col("doc_id") +: col("lang") +: col("n_chars") +:
        TextAnalysis.qualityFromComponents(col("n_tokens"), col("n_chars_d"),
          col("punct"), col("stop")).map { case (n, c) => c.as(n) }: _*)
    val bucket = PortableSeededHash.hash(col("doc_id"), 42) % 100
    scored.where(col("quality") >= 0.4)
      .withColumn("split",
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
      .select("doc_id", "lang", "n_chars", "quality", "split")
  }
}
