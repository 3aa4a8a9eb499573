package graft

/** Driver-run benchmark: one JSON line with per-query wall-clock at
  * SPARK_GRAFT_SF_DIR (default sf0.1).
  *
  * Materialization is a `noop` write — every output column is computed and
  * every row produced (a bare `count()` would let Catalyst prune most of
  * the work). One untimed warmup query absorbs JVM/codegen/session
  * startup so per-query numbers measure the queries.
  *
  * Rounds are INTERLEAVED: the full sorted query list runs once per round
  * (SPARK_GRAFT_BENCH_RUNS rounds, default 3) and the reported per-query
  * number is the median ACROSS rounds. Back-to-back samples would let one
  * sustained ambient-load spike poison every sample of whichever queries
  * happened to run during it (the BENCH_r02 artifact); interleaving
  * spreads a spike across at most one sample of each query, and the
  * per-round totals printed to stderr make any load skew visible.
  *
  * STREAM LANE: the queries that RUN a Structured Streaming query
  * end-to-end (q83/q85/q86/q93/q101) are latency-bound, not throughput-bound —
  * `processAllAvailable` waits on micro-batch scheduling, so host-load
  * jitter inflates them ×5-7 where a batch query moves ~1.2× (BASELINE.md
  * round-4 q94 note). Their reported number is the MIN across rounds (the
  * least-interfered sample is the honest latency figure; a median would
  * grade the host, not the engine). Batch queries keep the median —
  * min would hide genuine cost variance there.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val spark = GraftSession.localSession(cpus)
    spark.sparkContext.setLogLevel("WARN")

    def runOne(name: String): Double = {
      // drop any cached blocks a previous query left behind — caches are
      // per-query working state, not cross-query amortization, and letting
      // them linger perturbs later measurements (GC/storage pressure)
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }

    def median(xs: Seq[Double]): Double = {
      val ok = xs.filter(_ >= 0)
      if (ok.isEmpty) -1.0
      else ok.sorted.apply(ok.size / 2)
    }

    // queries that run a real stream (see STREAM LANE above)
    val streamLane = Set("q83_streaming_dedup_batch",
      "q85_streaming_asof_buffered", "q86_streaming_heavy_hitters",
      "q93_streaming_ingest", "q101_streaming_neardup",
      "q130_streaming_media", "q140_streaming_web_filter",
      "q150_streaming_bottomk", "q153_streaming_snapshot",
      "q161_streaming_cdc", "q165_stream_static_enrich",
      "q169_stream_stream_join", "q172_streaming_hll",
      "q220_streaming_snapshot_sink", "q221_streaming_snapshot_source")

    def report(name: String, xs: Seq[Double]): Double = {
      val ok = xs.filter(_ >= 0)
      if (ok.isEmpty) -1.0
      else if (streamLane(name)) ok.min
      else median(xs)
    }

    // host 1-min loadavg — recorded per round so a future adjudication
    // can tell "engine regression" from "loaded gate host" straight off
    // the artifact (rounds 7 AND 8 both produced contended gate runs
    // whose breaches had to be reconstructed from BASELINE.md timelines)
    def loadAvg(): Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage

    // JIT code-cache occupancy (used MB / max MB per CodeHeap pool) — a
    // long bench JVM runs 650+ codegen-heavy query executions; if the
    // reserved code cache (default 240 MB) fills, HotSpot stops JIT
    // compilation and the hash/gram CPU tier degrades 5-15× (the round-9
    // gate-vs-record divergence pattern). Printing occupancy per round
    // makes that failure mode readable straight off the artifact.
    def codeCache(): String = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getName.startsWith("CodeHeap"))
        .map { p =>
          val u = p.getUsage
          f"${p.getName.stripPrefix("CodeHeap '").stripSuffix("'")}=" +
            f"${u.getUsed / 1048576.0}%.0f/${u.getMax / 1048576.0}%.0fMB"
        }.mkString(" ")
    }

    // cumulative GC seconds + metaspace MB — the other two long-JVM
    // degradation channels (old-gen fill → rising GC share; codegen
    // class churn → metaspace/class-unloading pressure). Per-round
    // deltas localize which channel moved when a later round slows.
    def gcSeconds(): Double = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(g => math.max(g.getCollectionTime, 0L)).sum / 1000.0
    }
    def metaspaceMb(): Double = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .find(_.getName == "Metaspace")
        .map(_.getUsage.getUsed / 1048576.0).getOrElse(-1.0)
    }

    // untimed warmup: parquet reader + shuffle + codegen paths
    runOne("q01_pricing_summary")

    val names = SparkEntry.queries.keys.toSeq.sorted
    val loadSamples = scala.collection.mutable.ArrayBuffer(loadAvg())
    var gcPrev = gcSeconds()
    val rounds: Seq[Map[String, Double]] = (1 to runs).map { r =>
      val t = names.map(n => n -> runOne(n)).toMap
      val tot = t.values.filter(_ >= 0).sum
      loadSamples += loadAvg()
      val gcNow = gcSeconds()
      System.err.println(
        f"[bench] round $r/$runs total=$tot%.1f s loadavg=${loadSamples.last}%.2f " +
          f"gc=+${gcNow - gcPrev}%.1fs meta=${metaspaceMb()}%.0fMB " +
          s"codecache[${codeCache()}]")
      gcPrev = gcNow
      t
    }
    val results = names.map(n => n -> report(n, rounds.map(_(n))))
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // BOTH totals: "value" mixes stream-lane mins with batch medians (the
    // honest per-query figures — see STREAM LANE above), which makes it
    // incomparable across rounds whenever stream-lane jitter differs;
    // "total_all_median" is the uniform median-of-rounds sum, the number
    // to diff round-over-round.
    val allMedian = names.map(n => median(rounds.map(_(n))))
      .filter(_ >= 0).sum
    System.err.println(
      f"[bench] total (stream-min + batch-median)=$total%.1f s; all-median=$allMedian%.1f s")
    val loads = loadSamples.map(l => f"$l%.2f").mkString("[", ",", "]")
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","total_all_median":$allMedian,"loadavg":$loads,"queries":$qs,"sf":"$sfDir"}"""
    println(json)
    // stdout capture can truncate (BENCH_r03 lost a third of its queries
    // to a tail cut) — the artifact also lands in a file
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_OUT.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (json + "\n").getBytes("UTF-8"))
    catch { case e: Exception =>
      System.err.println(s"[bench] could not write $outFile: ${e.getMessage}")
    }
    spark.stop()
  }
}
