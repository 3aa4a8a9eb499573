package graft.tools

/** Ad-hoc benchmark of a subset of queries: `runMain graft.tools.BenchSome
  * <sfDir> <runs> <query...>` — same session config as [[graft.Bench]],
  * prints every sample (not just the median) for variance diagnosis. */
object BenchSome {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val runs = args(1).toInt
    val names = args.drop(2).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.localSession(cpus)
    // diagnosis hooks: SPARK_GRAFT_CONF="k=v;k=v" runtime-conf overrides,
    // SPARK_GRAFT_LOGLEVEL=INFO for stage-timeline forensics
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").filter(_.contains("="))
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v)
      })
    spark.sparkContext.setLogLevel(
      sys.env.getOrElse("SPARK_GRAFT_LOGLEVEL", "WARN"))

    def runOne(name: String): Double = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    // host 1-min loadavg per query line — adjudication samples must carry
    // their own load evidence (the round-8 gate breaches had to be argued
    // from BASELINE.md timelines because the artifact said nothing)
    def loadAvg(): Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage

    runOne(names.head) // warmup
    names.foreach { n =>
      val ts = (0 until runs).map(_ => runOne(n))
      println(f"[benchsome] $n samples=${ts.map(t => f"$t%.2f").mkString(",")}" +
        f" loadavg=${loadAvg()}%.2f")
    }
    spark.stop()
  }
}
