package etlbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A harness span around one call into the program's public API. */
final case class Span(id: Int, name: String, detail: String, parent: Int,
                      pass: Int, startMs: Double, endMs: Double)

/** Spark jobs and their task totals, as a listener on the bus saw them. */
final class JobRecord(val id: Int, val span: Int, val startMs: Long) {
  var endMs: Long = -1L
  var stages = 0
  var tasks = 0
  var taskMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var peakExecMem = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
}

/** Catalyst phase times of one QueryExecution, from its planning tracker. */
final case class PlanRecord(startMs: Long, analysisMs: Long,
                            optimizationMs: Long, planningMs: Long)

/** Spans plus the listeners that attribute Spark work to them.
  *
  * Entering a span sets the SparkContext local property [[SpanKey]]; every
  * job submitted inside it carries the property (Spark copies local
  * properties to the threads that run broadcasts and subqueries), so the
  * listener charges each job, and the stages and tasks it ran, to the
  * innermost open span. Catalyst phase times have no job, so they are
  * charged by their start time. When tracing is off `span` only runs its
  * body and no listener is registered. */
final class Tracer(spark: SparkSession) {
  private val SpanKey = "etlbench.span"
  private val sc = spark.sparkContext
  private val spanBuf = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var pass = -1
  private var lastId = 0
  private var listening = false

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRecord]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val plans = mutable.ArrayBuffer.empty[PlanRecord]

  private val bus = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toInt).getOrElse(0)
      jobs(e.jobId) = new JobRecord(e.jobId, span, e.time)
      // a stage listed by several jobs runs under the first of them
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        job(e.stageInfo.stageId).foreach(_.stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      for (j <- job(e.stageId); m <- Option(e.taskMetrics)) {
        j.tasks += 1
        j.taskMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.peakExecMem = math.max(j.peakExecMem, m.peakExecutionMemory)
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val planner = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      val ph = qe.tracker.phases
      if (ph.nonEmpty) {
        def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
        plans += PlanRecord(ph.values.map(_.startTimeMs).min, ms("analysis"),
          ms("optimization"), ms("planning"))
      }
    }
  }

  private def job(stage: Int): Option[JobRecord] = stageJob.get(stage).flatMap(jobs.get)

  /** Start or stop listening; stopping first drains the listener bus so
    * every event of the traced work has been recorded. */
  def listen(on: Boolean): Unit = if (on != listening) {
    if (on) {
      sc.addSparkListener(bus)
      spark.listenerManager.register(planner)
    } else {
      org.apache.spark.EtlbenchBus.drain(sc)
      sc.removeSparkListener(bus)
      spark.listenerManager.unregister(planner)
    }
    listening = on
  }

  /** Run `body` inside a span named `name`; a no-op wrapper unless
    * listening. */
  def span[T](name: String, detail: String = "")(body: => T): T =
    if (!listening) body
    else {
      lastId += 1
      val id = lastId
      val parent = stack.headOption.getOrElse(0)
      val prev = sc.getLocalProperty(SpanKey)
      val start = Clock.nowMs()
      stack = id :: stack
      sc.setLocalProperty(SpanKey, id.toString)
      try body
      finally {
        stack = stack.tail
        sc.setLocalProperty(SpanKey, prev)
        spanBuf += Span(id, name, detail, parent, pass, start, Clock.nowMs())
      }
    }

  def beginPass(p: Int): Unit = pass = p

  def snapshot(): (Seq[Span], Seq[JobRecord], Seq[PlanRecord]) = synchronized {
    (spanBuf.toSeq, jobs.values.toSeq, plans.toSeq)
  }
}

/** Epoch milliseconds with sub-millisecond resolution, on the same clock
  * as Spark's listener event times. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}
