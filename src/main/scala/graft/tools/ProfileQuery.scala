package graft.tools

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Per-query wall-clock decomposition for optimization work: runs a
  * registered query (same session config as [[graft.Bench]]) and prints,
  * per sample, the number of Spark jobs, stages and tasks it scheduled,
  * the summed executor task time, and the share of wall-clock NOT covered
  * by any running job (driver-side planning/analysis/AQE re-optimization
  * — the overhead that plan-shape work cannot touch but plan-size work
  * can). This is the guide-§1 "where is the time going" instrument for
  * the local bench regime, where a 60-Exchange plan can spend more time
  * being PLANNED than being RUN.
  *
  * `runMain graft.tools.ProfileQuery <sfDir> <runs> <query...>`
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val runs = args(1).toInt
    val names = args.drop(2).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.localSession(cpus)
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").filter(_.contains("="))
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v)
      })
    spark.sparkContext.setLogLevel("WARN")

    // listener state: job windows (for busy-time coverage) + stage sums
    val jobWindows = mutable.ArrayBuffer[(Long, Long)]() // (start, end) ms
    val jobStarts = mutable.Map[Int, (Long, String)]()
    val jobLines = mutable.ArrayBuffer[String]()
    val stageLines = mutable.ArrayBuffer[String]()
    val dumpJobs = sys.env.get("SPARK_GRAFT_PROFILE_JOBS").contains("1")
    val dumpStages = sys.env.get("SPARK_GRAFT_PROFILE_STAGES").contains("1")
    // in-process sampling profiler of executor threads (the sandbox
    // blocks jstack/SIGQUIT): every 20 ms grab all stacks, keep the
    // top-of-interest frame per "Executor task launch worker" thread
    val sampleStacks = sys.env.get("SPARK_GRAFT_PROFILE_SAMPLE").contains("1")
    val frameCounts = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    @volatile var sampling = false
    if (sampleStacks) {
      val t = new Thread(() => {
        while (true) {
          if (sampling) {
            val stacks = Thread.getAllStackTraces()
            stacks.forEach { (th, frames) =>
              if (th.getName.startsWith("Executor task launch") &&
                  frames.nonEmpty) {
                // record the deepest 3 frames as the signature
                val sig = frames.take(3).map(f =>
                  f.getClassName + "." + f.getMethodName).mkString(" <- ")
                frameCounts.merge(sig, Integer.valueOf(1),
                  (a, b) => Integer.valueOf(a + b))
              }
            }
          }
          Thread.sleep(20)
        }
      })
      t.setDaemon(true); t.start()
    }
    @volatile var nJobs = 0
    @volatile var nStages = 0
    @volatile var nTasks = 0L
    @volatile var taskTimeMs = 0L
    @volatile var shuffleReadB = 0L
    @volatile var shuffleWriteB = 0L
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        synchronized {
          val desc = Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .orElse(Option(e.properties)
              .flatMap(p => Option(p.getProperty("callSite.short"))))
            .getOrElse("?")
          jobStarts(e.jobId) = (e.time, desc); nJobs += 1
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        synchronized {
          jobStarts.remove(e.jobId).foreach { case (s, desc) =>
            jobWindows += ((s, e.time))
            if (dumpJobs)
              jobLines += f"  job ${e.jobId}%4d ${(e.time - s) / 1000.0}%6.3fs  $desc"
          }
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        synchronized {
          nStages += 1
          nTasks += e.stageInfo.numTasks
          val m = e.stageInfo.taskMetrics
          taskTimeMs += m.executorRunTime
          shuffleReadB += m.shuffleReadMetrics.totalBytesRead
          shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
          if (dumpStages)
            stageLines += f"  stage ${e.stageInfo.stageId}%4d " +
              f"tasks=${e.stageInfo.numTasks}%3d " +
              f"taskTime=${m.executorRunTime / 1000.0}%7.2fs " +
              f"cpu=${m.executorCpuTime / 1e9}%7.2fs " +
              f"shufR=${m.shuffleReadMetrics.totalBytesRead / 1048576.0}%6.1fMB " +
              f"shufW=${m.shuffleWriteMetrics.bytesWritten / 1048576.0}%6.1fMB " +
              e.stageInfo.name.take(120)
        }
    }
    spark.sparkContext.addSparkListener(listener)

    def busyMs(windows: Seq[(Long, Long)]): Long = {
      // union of [start,end) job intervals — overlapping concurrent jobs
      // count once
      val sorted = windows.sortBy(_._1)
      var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
      sorted.foreach { case (s, e) =>
        if (s > curE) { total += math.max(0L, curE - curS); curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      total + math.max(0L, curE - curS)
    }

    def runOne(name: String): Unit = {
      spark.catalog.clearCache()
      synchronized {
        jobWindows.clear(); jobStarts.clear(); jobLines.clear()
        stageLines.clear()
        nJobs = 0; nStages = 0; nTasks = 0; taskTimeMs = 0
        shuffleReadB = 0; shuffleWriteB = 0
      }
      val t0 = System.nanoTime()
      frameCounts.clear(); sampling = true
      try graft.SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      finally sampling = false
      val wallMs = (System.nanoTime() - t0) / 1e6
      // drain listener events before reading the counters (the bus is
      // private[spark]; a short settle loop is enough for a tool)
      Thread.sleep(300)
      val busy = busyMs(jobWindows.toSeq)
      println(f"[profile] $name wall=${wallMs / 1000}%.2fs " +
        f"jobs=$nJobs stages=$nStages tasks=$nTasks " +
        f"taskTime=${taskTimeMs / 1000.0}%.1fs " +
        f"jobBusy=${busy / 1000.0}%.2fs driverGap=${(wallMs - busy) / 1000.0}%.2fs " +
        f"shufR=${shuffleReadB / 1048576.0}%.1fMB shufW=${shuffleWriteB / 1048576.0}%.1fMB")
      if (dumpJobs) synchronized { jobLines.foreach(println) }
      if (dumpStages) synchronized {
        stageLines.sortBy(l => -l.split("taskTime=")(1).trim.takeWhile(c =>
          c.isDigit || c == '.').toDouble).take(25).foreach(println)
      }
      if (sampleStacks) {
        import scala.jdk.CollectionConverters._
        frameCounts.asScala.toSeq.sortBy(-_._2.intValue).take(20)
          .foreach { case (sig, n) => println(f"  samp $n%5d  $sig") }
      }
    }

    runOne(names.head) // warmup
    names.foreach { n => (0 until runs).foreach(_ => runOne(n)) }
    spark.stop()
  }
}
