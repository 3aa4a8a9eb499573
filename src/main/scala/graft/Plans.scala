package graft

import java.nio.file.{Files, Paths}

/** Physical-plan audit: dump `.explain("formatted")` for every registered
  * query so pushdown / broadcast / whole-stage-codegen properties can be
  * reviewed (and diffed across rounds). Usage:
  * `runMain graft.Plans <sfDir> <outFile>`.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val out = if (args.length > 1) args(1) else "PLANS.md"
    val spark = GraftSession.localSession("4")
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb.append("# Physical plans (explain formatted)\n\n")
    sb.append(s"Source: `$sfDir`, AQE on, shuffle.partitions=4.\n\n")
    sb.append("Stream-running queries (q83/q85/q86/q93/q101/q130/q140/q150/q153/q161/q165) execute " +
      "their stream when invoked, so their plan below is the sink " +
      "read-back; q83/q85/q101 run on the RocksDB state store provider " +
      "(`StreamingQueries.withRocksDb`). q95 materializes the ANN bucket " +
      "join eagerly (rewrite flag on) — its plan below is the exact-side " +
      "comparison that follows. Plan CONSTRUCTION itself runs jobs: a " +
      "narrow aggregate for the documented eager probes (q31's hot-shingle " +
      "probe, q91's AutoRoute statistic, q99's per-level cluster-size " +
      "check), and an eager local checkpoint of every frame a query reads " +
      "more than once — among them the shingle sets of q31/q72/q91/q96/" +
      "q105/q133, the signed corpus of q35/q132/q131/q164, the ground " +
      "truth of q131/q133/q164 and the pairs and split labels of q163 — " +
      "so the plans below read those frames as checkpointed RDD scans.\n")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        sb.append(s"\n## $name\n\n```\n$plan```\n")
      } catch { case e: Throwable =>
        sb.append(s"\n## $name\n\nFAILED: ${e.getMessage}\n")
      }
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
