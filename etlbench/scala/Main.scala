package etlbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry}

/** The benchmark's JVM side: one workload, untimed warm-up passes, then
  * timed passes for a fixed measuring time, all in one Spark session.
  * Writes a JSON artifact with every pass, span, job and planning record;
  * run.py turns it into metrics.
  *
  * Args: --workload W --in DIR --work DIR --artifact FILE --seconds S
  * --trace 0|1 --threads N. With --trace 1 the timed passes
  * alternate untraced and traced, starting and ending untraced. */
object Main {
  /** Untimed passes before timing starts. The cold first pass is 3-4x a
    * warm one and the second within about a quarter of the timed passes;
    * settling fully takes about a minute, more than a run may spend. */
  val WarmPasses = 2
  /** Timed passes at least; with the benchmark's 6 s of measuring time
    * every run times exactly this many, whatever the host's speed. */
  val MinTimed = 2

  final case class Pass(idx: Int, phase: String, traced: Boolean, startMs: Double,
                        endMs: Double, ops: Seq[Op], gcMs: Long, liveHeapMb: Double,
                        outputs: Map[String, (Int, Long)], codeCacheMb: Double) {
    def seconds: Double = (endMs - startMs) / 1e3
  }

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = Workload(o("workload"))
    val (in, work) = (o("in"), o("work"))
    val seconds = o("seconds").toDouble
    val trace = o("trace") == "1"
    val threads = o("threads").toInt
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

    val spark = GraftSession.build(SparkSession.builder()
      .master(s"local[$threads]")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse"))
    spark.sparkContext.setLogLevel("WARN")
    val sessionMs = Clock.nowMs()
    val tracer = new Tracer(spark)
    val passes = mutable.ArrayBuffer.empty[Pass]
    val load0 = loadAvg()

    def runPass(phase: String, traced: Boolean): Pass = {
      val idx = passes.size
      val out = s"$work/pass-${if (traced) "traced" else "untraced"}"
      deleteTree(new File(out))
      spark.catalog.clearCache()
      System.gc()
      tracer.listen(traced)
      tracer.beginPass(idx)
      val gc0 = gcMs()
      val start = Clock.nowMs()
      val ops = tracer.span("pass")(workload.pass(spark, in, out, tracer, traced))
      val end = Clock.nowMs()
      val gc = gcMs() - gc0
      tracer.listen(false)
      // live heap the pass leaves, its cached blocks included: a full GC,
      // not a young one, which would count old-generation garbage; the
      // second GC follows Spark's cleaner releasing what the first freed
      System.gc()
      Thread.sleep(200)
      System.gc()
      val liveHeapMb =
        ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      val p = Pass(idx, phase, traced, start, end, ops, gc, liveHeapMb,
        workload.outputs.map(n => n -> outputStats(new File(s"$out/$n"))).toMap,
        codeCacheMb())
      passes += p
      ops.flatMap(_.error).foreach(e => System.err.println(s"[etlbench] pass $idx: $e"))
      p
    }

    val warm = Seq.fill(WarmPasses)(runPass("warmup", traced = false).seconds)
    val timedStartMs = Clock.nowMs()
    var measured = 0.0
    var n = 0
    // traced runs alternate untraced and traced passes and end on an
    // untraced one, so every traced pass has an untraced pass on each side
    while (measured < seconds || n < MinTimed || (trace && n % 2 == 0)) {
      measured += runPass("timed", traced = trace && n % 2 == 1).seconds
      n += 1
    }
    val load1 = loadAvg()

    val (spans, jobs, plans) = tracer.snapshot()
    val oracle = workload.oracles.map(q => q -> SparkEntry.oracleSql(q)).toMap
    spark.stop()

    val artifact = Map(
      "workload" -> o("workload"),
      "meta" -> Map(
        "threads" -> threads, "nproc" -> Runtime.getRuntime.availableProcessors,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "java" -> System.getProperty("java.version"),
        "spark" -> org.apache.spark.SPARK_VERSION,
        "loadavg_start" -> load0, "loadavg_end" -> load1,
        "gc_s_total" -> gcMs() / 1e3, "code_cache_mb" -> codeCacheMb()),
      "setup" -> Map(
        "jvm_start_ms" -> jvmStartMs, "session_ready_ms" -> sessionMs,
        "timed_start_ms" -> timedStartMs,
        "setup_s" -> (timedStartMs - jvmStartMs) / 1e3,
        "session_s" -> (sessionMs - jvmStartMs) / 1e3, "warm_passes_s" -> warm),
      "passes" -> passes.map { p =>
        Map("idx" -> p.idx, "phase" -> p.phase, "traced" -> p.traced,
          "start_ms" -> p.startMs, "end_ms" -> p.endMs, "s" -> p.seconds,
          "gc_s" -> p.gcMs / 1e3, "code_cache_mb" -> p.codeCacheMb,
          "live_heap_mb" -> p.liveHeapMb,
          "ops" -> p.ops.map(op => Map("name" -> op.name, "query" -> op.query,
            "s" -> op.seconds, "error" -> op.error)),
          "outputs" -> p.outputs.map { case (k, (files, bytes)) =>
            k -> Map("files" -> files, "bytes" -> bytes) })
      },
      "spans" -> spans.map(s => Map("id" -> s.id, "name" -> s.name, "detail" -> s.detail,
        "parent" -> s.parent, "pass" -> s.pass, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs)),
      "jobs" -> jobs.map(j => Map("id" -> j.id, "span" -> j.span, "start_ms" -> j.startMs,
        "end_ms" -> j.endMs, "stages" -> j.stages, "tasks" -> j.tasks,
        "task_ms" -> j.taskMs, "cpu_ns" -> j.cpuNs, "gc_ms" -> j.gcMs,
        "peak_exec_mem" -> j.peakExecMem, "shuffle_write" -> j.shuffleWrite,
        "shuffle_read" -> j.shuffleRead, "spill" -> j.spill)),
      "plans" -> plans.map(p => Map("start_ms" -> p.startMs, "analysis_ms" -> p.analysisMs,
        "optimization_ms" -> p.optimizationMs, "planning_ms" -> p.planningMs)),
      "oracle_sql" -> oracle)
    Files.writeString(Paths.get(o("artifact")), Json(artifact))
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Parquet data files under `dir` and their total bytes. */
  def outputStats(dir: File): (Int, Long) = if (!dir.exists) (0, 0L) else {
    val files = Files.walk(dir.toPath).iterator.asScala
      .filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p)).toSeq
    (files.size, files.map(Files.size).sum)
  }

  def loadAvg(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(g => math.max(g.getCollectionTime, 0L)).sum

  def codeCacheMb(): Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getName.startsWith("CodeHeap")).map(_.getUsage.getUsed).sum / 1048576.0
}

/** Minimal JSON writer for the artifact's maps, sequences and scalars. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
