package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.etl.{Clean, ColumnSpec, FrameConfig}
import graft.io.PartitionedWriter

/** The reference's daily job as a LIBRARY API — `testpilot_data.main`
  * (/root/reference/cliqz_etl/testpilot_data.py:84-202) re-expressed as a
  * parameterized Spark job: two doc-type configs projected from one
  * telemetry frame + one CSV-source config, written to three parquet
  * sinks, with the three frames returned (the reference returns
  * `testpilot_df, testpilottest_df, search_df` and writes when
  * `save=True`; same contract here).
  *
  * A user of the reference maps their call sites directly:
  * `main(sc, sqlContext, day, save)` →
  * `TestpilotDaily.run(spark, telemetry, searchCsv, sinks, save)` —
  * with configs swappable the way `DataFrameConfig` tuples were.
  */
object TestpilotDaily {

  /** spark-submit entry — the analog of the reference's notebook
    * orchestration (clone → build egg → addPyFile → main(sc, sqlContext),
    * scheduling/cliqz_load_and_run.ipynb): here it is one submitted jar
    * on the [[graft.GraftSession.build]] session, the conf the daily_etl
    * benchmark measures.
    * `args`: telemetryParquetPath searchCsvPath outBaseDir */
  def main(args: Array[String]): Unit = {
    val Array(telemetryPath, csvPath, outBase) = args.take(3)
    val spark = graft.GraftSession.build(SparkSession.builder()
      .config("spark.sql.legacy.parquet.nanosAsLong", "true"))
    run(spark,
      spark.read.parquet(telemetryPath),
      graft.io.Tables.csv(spark, csvPath),
      Sinks(s"$outBase/testpilot", s"$outBase/testpilottest",
        s"$outBase/search"))
    spark.stop()
  }

  /** Output locations: two day-partitioned tables and one single-file
    * table (testpilot_data.py:197-200 — `partitions=16*5` there is a
    * file-count choice; partition-by-day is the idiomatic upgrade that
    * also bounds daily-rerun rewrite scope via dynamic overwrite). */
  final case class Sinks(testpilot: String, testpilottest: String,
                         search: String)

  /** Doc-type "testpilot" (testpilot_data.py:118-138): interaction events
    * with JSON prop extraction, ping_filter + post-projection filter. */
  def testpilotConfig: FrameConfig = FrameConfig(
    columns = Seq(
      ColumnSpec("event_id", col("event_id")),
      ColumnSpec("day", date_format(col("ts"), "yyyy-MM-dd")),
      ColumnSpec("user_id", col("user_id")),
      ColumnSpec("event", col("event_type")),
      ColumnSpec.json("prop_k", col("props"), "k", castTo = Some(LongType))),
    preFilter = Some(col("event_type").isin("click", "view")),
    postFilter = Some(col("prop_k").isNotNull))

  /** Doc-type "testpilottest" (testpilot_data.py:141-167): the remaining
    * events with a fixed-point money cast (round BEFORE the long cast —
    * engines disagree on double→int rounding otherwise). */
  def testpilottestConfig: FrameConfig = FrameConfig(
    columns = Seq(
      ColumnSpec("event_id", col("event_id")),
      ColumnSpec("day", date_format(col("ts"), "yyyy-MM-dd")),
      ColumnSpec("user_id", col("user_id")),
      ColumnSpec("event", col("event_type")),
      ColumnSpec("value_cents", round(col("value") * 100),
        castTo = Some(LongType))),
    preFilter = Some(!col("event_type").isin("click", "view")))

  /** CSV source "search" (testpilot_data.py:170-195): header CSV arrives
    * all-strings; per-cell cleaning funcs become Column combinators. */
  def searchConfig: FrameConfig = FrameConfig(
    columns = Seq(
      ColumnSpec("cust_id", col("c_custkey"), castTo = Some(LongType)),
      ColumnSpec("name_prefix", col("c_name"), clean = Clean.splitHead("#")),
      ColumnSpec("is_auto", col("c_mktsegment"),
        clean = Clean.memberOf("AUTOMOBILE", "MACHINERY")),
      ColumnSpec("balance_cents", col("c_acctbal"),
        clean = c => round(c.cast("double") * 100),
        castTo = Some(LongType))))

  /** Run the daily job: project the three frames (both doc-type configs
    * project the one telemetry frame, and each sink write scans it once)
    * and, when `save`, write all three sinks. Returns (testpilot,
    * testpilottest, search) like the reference's `main`.
    *
    * The three sinks do not depend on each other, so their writes run
    * CONCURRENTLY, one driver thread each, and share the executors: the
    * scans, shuffles, commits and the one-task CSV stage of one sink
    * overlap the others'. Every write job carries the caller's SparkContext
    * local properties (job group, description, scheduler pool) and active
    * session. `run` returns only after every sink is committed. If a write
    * fails, `run` still waits for the other writes to end, then throws the
    * first failure in sink order (testpilot, testpilottest, search) with
    * the later ones attached as suppressed; the sinks that did not fail
    * are complete. */
  def run(spark: SparkSession, telemetry: DataFrame, searchCsv: DataFrame,
          sinks: Sinks, save: Boolean = true)
      : (DataFrame, DataFrame, DataFrame) = {
    val testpilot = testpilotConfig(telemetry)
    val testpilottest = testpilottestConfig(telemetry)
    val search = searchConfig(searchCsv)
    if (save) concurrently(Seq(
      () => PartitionedWriter.write(testpilot, sinks.testpilot,
        partitionCols = Seq("day")),
      () => PartitionedWriter.write(testpilottest, sinks.testpilottest,
        partitionCols = Seq("day")),
      () => PartitionedWriter.write(search, sinks.search, numFiles = Some(1))))
    (testpilot, testpilottest, search)
  }

  /** Run every body on a new thread and wait until all have ended. A new
    * thread inherits the caller's SparkContext local properties (a copy)
    * and active session, both inheritable thread-locals, so its jobs are
    * the caller's jobs. An interrupt of the caller is kept until then. */
  private def concurrently(bodies: Seq[() => Unit]): Unit = {
    val failures = new Array[Throwable](bodies.size)
    val threads = bodies.zipWithIndex.map { case (body, i) =>
      val t = new Thread(() =>
        try body() catch { case e: Throwable => failures(i) = e },
        s"testpilot-daily-write-$i")
      t.setDaemon(true)
      t.start()
      t
    }
    var interrupted = false
    threads.foreach { t =>
      while (t.isAlive)
        try t.join() catch { case _: InterruptedException => interrupted = true }
    }
    if (interrupted) Thread.currentThread().interrupt()
    failures.filter(_ != null) match {
      case Array(first, rest @ _*) =>
        rest.foreach(first.addSuppressed)
        throw first
      case _ =>
    }
  }
}
