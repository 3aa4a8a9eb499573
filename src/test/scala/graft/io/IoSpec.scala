package graft.io

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The small source/sink operators (SURVEY.md §2.1 S4/S6/K3, §2.5 L1/L2)
  * that don't warrant driver-gate queries. */
class IoSpec extends SparkSpec {
  import spark.implicits._

  test("S4/L1: single-value config load via textFile head") {
    val f = Files.createTempFile("graft-key", ".txt")
    Files.writeString(f, "secret-key-line\nrest\n")
    val key = spark.read.textFile(f.toString).head()
    assert(key == "secret-key-line")
  }

  test("S6: parallelize driver collection as Dataset") {
    val ds = spark.createDataset(Seq((1L, "a"), (2L, "b")))
    assert(ds.toDF("k", "v").orderBy("k").as[(Long, String)]
      .collect().toSeq == Seq((1L, "a"), (2L, "b")))
  }

  test("K3: registerAll exposes every table to SQL") {
    Tables.registerAll(spark, Sf0001)
    val n = spark.sql("SELECT count(*) FROM lineitem").as[Long].head()
    assert(n == 6000L)
    val joined = spark.sql(
      """SELECT count(*) FROM orders o JOIN customer c
        |ON o.o_custkey = c.c_custkey""".stripMargin).as[Long].head()
    assert(joined == 1500L)
  }

  test("L2: limit + collect") {
    val rows = Tables.table(spark, Sf0001, "customer")
      .orderBy("c_custkey").limit(10).collect()
    assert(rows.length == 10)
  }

  test("q136: ORC roundtrip is the identity on events") {
    val out = graft.queries.IoQueries.orcRoundtrip(spark, Sf0001)
    val src = Tables.table(spark, Sf0001, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("props"), unix_micros(col("ts")).as("ts_us"))
      .orderBy("event_id")
    assert(out.schema == src.schema)
    assert(out.exceptAll(src).isEmpty && src.exceptAll(out).isEmpty)
  }

  test("K1/K2: numFiles controls output file count") {
    val dir = Files.createTempDirectory("graft-k2").toString
    PartitionedWriter.write(
      Tables.table(spark, Sf0001, "nation"), dir, numFiles = Some(1))
    val files = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files == 1)
  }

  test("K1: partitioned write leaves one file per partition value") {
    val dir = Files.createTempDirectory("graft-k1-files").toString
    val df = spark.range(0, 3000, 1, 8)
      .select(col("id"), (col("id") % 3).cast("string").as("day"))
    PartitionedWriter.write(df, dir, partitionCols = Seq("day"))
    val perDay = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .map(_.listFiles().count(_.getName.endsWith(".parquet")))
    assert(perDay.toSeq == Seq(1, 1, 1))
  }

  test("K1: dynamic partition overwrite rewrites only the touched day") {
    // the reference's daily cadence: each run overwrites ONLY its
    // submission=<day> partition (testpilot_data.py:72-82); with static
    // overwrite the whole table would vanish on every daily run
    val dir = Files.createTempDirectory("graft-dyn").toString
    val day1 = Seq((1L, "2024-01-01"), (2L, "2024-01-01")).toDF("id", "day")
    val day2 = Seq((3L, "2024-01-02")).toDF("id", "day")
    day1.union(day2).write.partitionBy("day").mode("overwrite").parquet(dir)
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      // re-run "day 2" with corrected data
      Seq((30L, "2024-01-02"), (31L, "2024-01-02")).toDF("id", "day")
        .write.partitionBy("day").mode("overwrite").parquet(dir)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    val back = spark.read.parquet(dir)
      .select(col("id"), col("day").cast("string"))
      .as[(Long, String)].collect().toSet
    assert(back == Set((1L, "2024-01-01"), (2L, "2024-01-01"),
      (30L, "2024-01-02"), (31L, "2024-01-02")))
  }

  test("K1: partition column surfaces as readable column after write") {
    val dir = Files.createTempDirectory("graft-k1").toString
    val df = Seq((1L, "2024-01", "x"), (2L, "2024-02", "y"))
      .toDF("id", "month", "v")
    PartitionedWriter.write(df, dir, partitionCols = Seq("month"))
    val back = spark.read.parquet(dir)
    assert(back.columns.toSet == Set("id", "month", "v"))
    assert(back.select(col("month").cast("string")).distinct()
      .as[String].collect().toSet == Set("2024-01", "2024-02"))
  }
}
