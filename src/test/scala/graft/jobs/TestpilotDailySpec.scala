package graft.jobs

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.ListenerBusDrain

import graft.SparkSpec
import graft.io.{PartitionedWriter, Tables}

/** The daily job writes its three sinks concurrently: the same sinks as
  * three sequential writes, every sink committed (or the job failed after
  * all writes ended) when `run` returns, and every write job carrying the
  * caller's job description. */
class TestpilotDailySpec extends SparkSpec {
  // ten id-shifted copies of the events, so each write runs long enough
  // for the overlap to show
  private lazy val telemetry = Tables.table(spark, Sf0001, "events")
    .crossJoin(spark.range(10).toDF("copy"))
    .withColumn("event_id", col("event_id") + col("copy") * 1000000L)
    .drop("copy")
  private lazy val searchCsv = {
    val dir = Files.createTempDirectory("graft-daily-csv").toString
    Tables.table(spark, Sf0001, "customer").write.mode("overwrite")
      .option("header", "true").csv(dir)
    Tables.csv(spark, dir)
  }

  private def sinks(base: String) = TestpilotDaily.Sinks(
    s"$base/testpilot", s"$base/testpilottest", s"$base/search")
  private def paths(s: TestpilotDaily.Sinks) =
    Seq(s.testpilot, s.testpilottest, s.search)
  private def tmp(): String =
    Files.createTempDirectory("graft-daily").toString

  private def rows(path: String): Seq[String] =
    spark.read.parquet(path).collect().map(_.toString).toSeq.sorted

  /** Parquet files per directory, relative to the sink root. */
  private def files(path: String): Map[String, Int] = {
    val root = Paths.get(path)
    val walk = Files.walk(root)
    try walk.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .toSeq.groupBy(p => root.relativize(p.getParent).toString)
      .map { case (dir, fs) => dir -> fs.size }
    finally walk.close()
  }

  private def committed(path: String): Boolean =
    Files.exists(Paths.get(path, "_SUCCESS"))

  /** Every job started while `body` runs: (root execution id, description,
    * whether a job of ANOTHER execution was running when it started). The
    * bus delivers job starts and ends in the scheduler's order, so the set
    * of running jobs is exact. */
  private def jobs(body: => Unit): Seq[(String, String, Boolean)] = {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[(String, String, Boolean)]()
    val listener = new SparkListener {
      private val running = scala.collection.mutable.Map.empty[Int, String]
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = e.properties
        val exec = Option(p.getProperty("spark.sql.execution.root.id"))
          .getOrElse(p.getProperty("spark.sql.execution.id"))
        seen.add((exec, p.getProperty("spark.job.description"),
          running.values.exists(_ != exec)))
        running(e.jobId) = exec
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        running.remove(e.jobId)
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try { body; ListenerBusDrain(sc) }
    finally sc.removeSparkListener(listener)
    seen.asScala.toSeq
  }

  test("concurrent run writes the rows and files of three sequential writes") {
    val (conc, seq) = (sinks(tmp()), sinks(tmp()))
    val (tp, tpt, search) =
      TestpilotDaily.run(spark, telemetry, searchCsv, conc)
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty)
    PartitionedWriter.write(tp, seq.testpilot, partitionCols = Seq("day"))
    PartitionedWriter.write(tpt, seq.testpilottest, partitionCols = Seq("day"))
    PartitionedWriter.write(search, seq.search, numFiles = Some(1))
    paths(conc).zip(paths(seq)).foreach { case (c, s) =>
      assert(committed(c), c)
      assert(rows(c) == rows(s), c)
      assert(files(c) == files(s), c)
    }
    assert(rows(conc.testpilot).nonEmpty && files(conc.search) == Map("" -> 1))
  }

  test("an unwritable sink fails run only after the other sinks commit") {
    val base = tmp()
    // a regular file where a sink's parent directory must go
    Files.write(Paths.get(base, "blocked"), Array[Byte](1))
    val s = sinks(base).copy(testpilottest = s"$base/blocked/testpilottest")
    intercept[Exception](TestpilotDaily.run(spark, telemetry, searchCsv, s))
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty)
    val ref = sinks(tmp())
    TestpilotDaily.run(spark, telemetry, searchCsv, ref)
    Seq(s.testpilot -> ref.testpilot, s.search -> ref.search).foreach {
      case (got, want) =>
        assert(committed(got), got)
        assert(rows(got) == rows(want) && files(got) == files(want), got)
    }
  }

  test("failures are rethrown in sink order, later ones suppressed") {
    val base = tmp()
    Seq("first", "second").foreach(b =>
      Files.write(Paths.get(base, b), Array[Byte](1)))
    val s = sinks(base).copy(testpilottest = s"$base/first/testpilottest",
      search = s"$base/second/search")
    val e = intercept[Exception](
      TestpilotDaily.run(spark, telemetry, searchCsv, s))
    def names(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(_.toString).mkString(" | ")
    assert(names(e).contains(s"$base/first"), names(e))
    // Spark may attach a suppressed stack trace of its own
    val later = e.getSuppressed.map(names).filter(_.contains(base))
    assert(later.length == 1 && later.head.contains(s"$base/second"),
      later.toSeq)
    assert(committed(s.testpilot))
  }

  test("the caller's job description reaches every write job, and the " +
    "writes overlap") {
    val sc = spark.sparkContext
    val s = sinks(tmp())
    sc.setJobDescription("daily-spec")
    val seen =
      try jobs(TestpilotDaily.run(spark, telemetry, searchCsv, s))
      finally sc.setJobDescription(null)
    // two jobs for each day-partitioned sink, one for the CSV sink
    assert(seen.size >= 5 && seen.map(_._1).distinct.size == 3, seen)
    assert(seen.forall(_._2 == "daily-spec"), seen)
    assert(seen.exists(_._3), s"no write job overlapped another: $seen")
  }
}
