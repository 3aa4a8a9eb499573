package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession fixture for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val Sf0001 = "/root/testdata/sf0.001"
}

object SparkSpec {
  private val FileImpl = "spark.hadoop.fs.file.impl"

  /** Registered through [[GraftSession.setup]], as Bench, Verify and
    * etlbench are, so the specs plan what the harness runs. */
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // the suite's own file writes set modes without a chmod process
      .config(FileImpl, GraftSession.core(FileImpl))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftSession.setup(s)
  }
}
