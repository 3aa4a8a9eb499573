package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.io.Tables

/** Streaming/batch equivalence: the same Column pipeline replayed through
  * Structured Streaming (file source, multiple micro-batches) must land on
  * the batch answer once all input is processed. */
class StreamingSpec extends SparkSpec {

  /** Events re-written as plain-micros parquet split into several files, so
    * the file source produces multiple micro-batches. */
  private lazy val streamDir: String = {
    val dir = Files.createTempDirectory("graft-stream").toString
    // Replay must be (roughly) in event-time order: the 2h watermark drops
    // events that arrive after it has passed them, so a random file order
    // would legitimately lose sessions. Range-partition by ts so file N
    // holds the N-th time slice (file source reads part files in order).
    Tables.table(spark, Sf0001, "events")
      .repartitionByRange(4, org.apache.spark.sql.functions.col("ts"))
      .sortWithinPartitions("ts")
      .write.mode("overwrite").parquet(dir)
    // FileStreamSource feeds new files in MODIFICATION-TIME order, and the
    // four concurrently-written parts get near-identical mtimes — replay
    // order was luck. Pin strictly increasing mtimes in part-name order
    // (part-N holds time slice N) so replay is deterministically in event
    // time, which the state-carrying tests (as-of) require exactly.
    val base = System.currentTimeMillis()
    new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
      .zipWithIndex.foreach { case (f, i) =>
        f.setLastModified(base + i * 60000L)
      }
    dir
  }

  private def runToMemory(df: DataFrame, name: String,
                          mode: String = "complete"): DataFrame = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode).start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }

  test("tumbling window streaming == batch") {
    val stream = EventsStream.fromDirectory(spark, streamDir)
    val got = runToMemory(EventsStream.tumblingCounts(stream), "t_tumble")
      .orderBy("hour_start", "event_type").collect().toSeq
    val want = EventsStream.tumblingCounts(
        spark.read.parquet(streamDir))
      .orderBy("hour_start", "event_type").collect().toSeq
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("session_window streaming == batch (unbounded state)") {
    // The watermark legitimately evicts closed sessions from state (they
    // are emitted downstream in append mode) — for an exact complete-mode
    // equivalence check, run without it.
    val stream = EventsStream.fromDirectory(spark, streamDir)
    val got = runToMemory(
        EventsStream.sessionWindows(stream, watermark = None), "t_sess")
      .orderBy("user_id", "start_us").collect().toSeq
    val want = EventsStream.sessionWindows(
        spark.read.parquet(streamDir), watermark = None)
      .orderBy("user_id", "start_us").collect().toSeq
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("session_window append mode emits only watermark-closed sessions") {
    val stream = EventsStream.fromDirectory(spark, streamDir)
    val got = runToMemory(EventsStream.sessionWindows(stream), "t_sess_app",
        mode = "append")
      .orderBy("user_id", "start_us").collect().toSeq
    val all = EventsStream.sessionWindows(
        spark.read.parquet(streamDir), watermark = None)
      .orderBy("user_id", "start_us").collect().toSeq
    assert(got.nonEmpty && got.size <= all.size)
    assert(got.toSet.subsetOf(all.toSet))
  }

  test("dropDuplicatesWithinWatermark removes replayed event_ids") {
    // duplicate the input: same events twice -> dedup must halve it
    val dupDir = Files.createTempDirectory("graft-stream-dup").toString
    val base = spark.read.parquet(streamDir)
    base.union(base).repartition(4).write.mode("overwrite").parquet(dupDir)
    val stream = EventsStream.fromDirectory(spark, dupDir,
      maxFilesPerTrigger = 8) // one batch: watermark dedup is within-batch+state
    val got = runToMemory(
      EventsStream.dedupWithinWatermark(stream)
        .groupBy().count(), "t_dedup")
    assert(got.collect().head.getLong(0) == base.count())
  }

  test("dedup state: cross-batch duplicate collapses, past-watermark survives") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    val mem = MemoryStream[(Long, java.sql.Timestamp)]
    val dedup = EventsStream.dedupWithinWatermark(
      mem.toDF().toDF("event_id", "ts"))
    val q = dedup.writeStream.format("memory").queryName("t_dedup_state")
      .outputMode("append").start()
    mem.addData((1L, ts(0)), (2L, ts(10)))
    q.processAllAvailable()
    // duplicate in a LATER micro-batch, within the 2h watermark: state
    // for event 1 is still live, so the row is dropped
    mem.addData((1L, ts(20)))
    q.processAllAvailable()
    // advance event time far enough that the watermark (max ts - 2h)
    // passes event 1's expiry (ts + 2h) and its state is evicted
    mem.addData((3L, ts(300)))
    q.processAllAvailable()
    // same key again, PAST the watermark: no state left — it survives
    // (the documented contract: dedup is only guaranteed within the delay)
    mem.addData((1L, ts(310)))
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("t_dedup_state").select("event_id")
      .as[Long].collect().toSeq
    assert(ids.count(_ == 1L) == 2, s"got $ids") // original + late re-emit
    assert(ids.count(_ == 2L) == 1)
    assert(ids.count(_ == 3L) == 1)
  }

  test("stream-stream interval join == batch join") {
    val stream = EventsStream.fromDirectory(spark, streamDir,
      maxFilesPerTrigger = 2)
    val got = runToMemory(
        EventsStream.purchaseAfterSignup(stream), "t_ssjoin",
        mode = "append")
      .orderBy("user_id", "purchase_ts", "signup_ts").collect().toSeq
    val want = EventsStream.purchaseAfterSignup(spark.read.parquet(streamDir))
      .orderBy("user_id", "purchase_ts", "signup_ts").collect().toSeq
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("foreachBatch sink lands every micro-batch exactly once") {
    val outDir = Files.createTempDirectory("graft-feb").toString
    val stream = EventsStream.fromDirectory(spark, streamDir)
    val q = stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
       id: Long) =>
        batch.groupBy("event_type").count()
          .withColumn("batch_id", org.apache.spark.sql.functions.lit(id))
          .write.mode("append").parquet(outDir)
    }.start()
    q.processAllAvailable()
    q.stop()
    val total = spark.read.parquet(outDir)
      .agg(org.apache.spark.sql.functions.sum("count")).collect()(0).getLong(0)
    assert(total == spark.read.parquet(streamDir).count())
  }

  test("session windows on the RocksDB state store match batch") {
    // production state-store backend (spillable, not heap-bound)
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = EventsStream.fromDirectory(spark, streamDir)
      val got = runToMemory(
          EventsStream.sessionWindows(stream, watermark = None), "t_rocks")
        .orderBy("user_id", "start_us").collect().toSeq
      val want = EventsStream.sessionWindows(
          spark.read.parquet(streamDir), watermark = None)
        .orderBy("user_id", "start_us").collect().toSeq
      assert(got == want)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("streaming as-of join replay matches the batch as-of join") {
    val stream = EventsStream.fromDirectory(spark, streamDir,
      maxFilesPerTrigger = 1) // several micro-batches: state must carry over
    val got = runToMemory(
        EventsStream.streamingAsOf(spark, stream).toDF(), "t_asof",
        mode = "append")
      .orderBy("event_id")
      .select("user_id", "event_id", "purchase_us", "signup_us")
      .collect().toSeq
    val ev = spark.read.parquet(streamDir)
    val want = graft.ops.Joins.asOf(
        ev.where(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id"), col("ts")),
        ev.where(col("event_type") === "signup")
          .select(col("user_id"), col("ts")),
        Seq("user_id"), "ts", "ts")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("purchase_us"),
        unix_micros(col("asof_ts")).as("signup_us"))
      .orderBy("event_id").collect().toSeq
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("buffered as-of is exact under out-of-order replay; single-value is not") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    // purchase at t=100 arrives BEFORE its signup at t=50 (out of order,
    // within the 2h watermark); a second user's events advance the
    // watermark so the purchase flushes; user 1 gets NO further events —
    // the flush must come from the event-time timeout via no-data batches
    def play(mkQuery: org.apache.spark.sql.DataFrame
               => org.apache.spark.sql.Dataset[EventsStream.AsOfMatch],
             name: String): Map[Long, Option[Long]] = {
      val mem = MemoryStream[(Long, String, java.sql.Timestamp, Long, Double)]
      val df = mem.toDF()
        .toDF("user_id", "event_type", "ts", "event_id", "value")
      val q = mkQuery(df).toDF().writeStream.format("memory")
        .queryName(name).outputMode("append").start()
      mem.addData((1L, "purchase", ts(100), 10L, 5.0))
      q.processAllAvailable()
      mem.addData((1L, "signup", ts(50), 11L, 0.0)) // late-arriving signup
      q.processAllAvailable()
      mem.addData((2L, "purchase", ts(500), 20L, 7.0)) // watermark driver
      q.processAllAvailable()
      q.processAllAvailable() // drain no-data batches (timeout flushes)
      q.stop()
      spark.table(name).as[EventsStream.AsOfMatch].collect()
        .map(m => m.event_id -> m.signup_us).toMap
    }
    val buffered = play(
      EventsStream.streamingAsOfBuffered(spark, _, delay = "2 hours"),
      "t_asof_buf")
    // exact: the purchase waited for the watermark and saw the late signup
    assert(buffered.get(10L).contains(Some(ts(50).getTime * 1000L)),
      s"buffered=$buffered")
    val single = play(EventsStream.streamingAsOf(spark, _), "t_asof_single")
    // the single-value form emitted at arrival and missed it (documented)
    assert(single.get(10L).contains(None), s"single=$single")
  }

  test("buffered as-of replay over the events table matches batch as-of") {
    val stream = EventsStream.fromDirectory(spark, streamDir,
      maxFilesPerTrigger = 1)
    val got = runToMemory(
        EventsStream.streamingAsOfBuffered(spark, stream).toDF(),
        "t_asof_buf_full", mode = "append")
      .orderBy("event_id")
      .select("user_id", "event_id", "purchase_us", "signup_us")
      .collect().toSeq
    val ev = spark.read.parquet(streamDir)
    val want = graft.ops.Joins.asOf(
        ev.where(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id"), col("ts")),
        ev.where(col("event_type") === "signup")
          .select(col("user_id"), col("ts")),
        Seq("user_id"), "ts", "ts")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("purchase_us"),
        unix_micros(col("asof_ts")).as("signup_us"))
      .orderBy("event_id").collect().toSeq
    // purchases in the final watermark window never flush (correct
    // streaming semantics) — compare the flushed prefix exactly
    val gotKeys = got.map(_.getLong(1)).toSet
    assert(got.nonEmpty && got == want.filter(r => gotKeys(r.getLong(1))))
    // and nothing before the final watermark is missing: every batch
    // purchase older than (max ts - 2h) must have been emitted
    val maxUs = ev.agg(max(unix_micros(col("ts")))).head().getLong(0)
    val missing = want.filter(r => r.getLong(2) <= maxUs - 7200L * 1000000L)
      .filterNot(r => gotKeys(r.getLong(1)))
    assert(missing.isEmpty, s"unflushed ripe purchases: $missing")
  }

  test("foreachBatch + Merge.upsert maintains an incremental snapshot") {
    // the incremental-materialized-view pattern: each micro-batch's
    // "latest event per user" upserts (replaces) into a versioned parquet
    // snapshot; with event-time-ordered replay the final snapshot must
    // equal the batch-wide latest-per-user
    import org.apache.spark.sql.expressions.Window
    val outBase = Files.createTempDirectory("graft-mv").toString
    var snap: Option[String] = None
    def latestPerUser(df: DataFrame): DataFrame = {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").desc, col("event_id").desc)
      df.withColumn("_rn", org.apache.spark.sql.functions.row_number().over(w))
        .where(col("_rn") === 1)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), col("event_type"))
    }
    val stream = EventsStream.fromDirectory(spark, streamDir)
    val q = stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val delta = latestPerUser(batch)
        val merged = snap match {
          case None => delta
          case Some(prev) =>
            graft.ops.Merge.upsert(spark.read.parquet(prev), delta,
              Seq("user_id"))
        }
        val next = s"$outBase/v$id"
        merged.write.mode("overwrite").parquet(next)
        snap = Some(next)
    }.start()
    q.processAllAvailable()
    q.stop()
    val got = spark.read.parquet(snap.get)
      .orderBy("user_id").collect().toSeq
    val want = latestPerUser(spark.read.parquet(streamDir))
      .orderBy("user_id").collect().toSeq
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("misra_gries runs as streaming aggregation state") {
    // custom TypedImperativeAggregate buffers serialize into the state
    // store like any built-in agg; 5 distinct event types < 8 counters
    // means the sketch must be exact once the replay completes
    val stream = EventsStream.fromDirectory(spark, streamDir)
    val got = runToMemory(
        stream.groupBy("user_id")
          .agg(expr("misra_gries(event_type, 8)").as("m")),
        "t_mg", mode = "complete")
      .select(col("user_id"), explode(map_entries(col("m"))).as("kv"))
      .select(col("user_id"), col("kv.key"), col("kv.value"))
      .orderBy("user_id", "key").collect().toSeq
    val want = spark.read.parquet(streamDir)
      .groupBy("user_id", "event_type").count()
      .select(col("user_id"), col("event_type").as("key"),
        col("count").as("value"))
      .orderBy("user_id", "key").collect().toSeq
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("streaming drift histograms fold exactly across micro-batches") {
    // the q200 maintenance claim: a complete-mode (slice, bin) count over
    // a 3-file replay (one micro-batch per file) equals the batch groupBy
    val dir = Files.createTempDirectory("graft-drift-stream").toString
    Tables.table(spark, Sf0001, "documents")
      .select("doc_id", "n_chars").repartition(3)
      .write.mode("overwrite").parquet(dir)
    val slice = org.apache.spark.sql.functions.pmod(
      graft.llm.PortableSeededHash.hash(col("doc_id"), 83), lit(4L))
    def hist(df: DataFrame) = df
      .select(slice.as("slice"), expr("n_chars div 64").as("bin"))
      .groupBy("slice", "bin").count()
    val got = runToMemory(hist(EventsStream.fromDirectory(spark, dir)),
        "t_drift", mode = "complete")
      .orderBy("slice", "bin").collect().toSeq
    val want = hist(spark.read.parquet(dir))
      .orderBy("slice", "bin").collect().toSeq
    assert(got == want)
    assert(got.size > 4)
  }

  test("real-codec media pipeline replays through streaming micro-batches") {
    // genuine multi-batch: 3 part files, one micro-batch each — the
    // PNG encode→decode mapPartitions seam runs INSIDE the streaming
    // query graph and must land exactly the batch q98 rows
    val dir = Files.createTempDirectory("graft-media-stream").toString
    Tables.table(spark, Sf0001, "documents").select("doc_id")
      .repartition(3).write.mode("overwrite").parquet(dir)
    val stream = EventsStream.fromDirectory(spark, dir, maxFilesPerTrigger = 1)
    val decoded = graft.llm.Multimodal.decodeImages(spark,
      graft.llm.Multimodal.encodePng(spark, stream).toDF()).toDF()
    val got = runToMemory(decoded, "t_media", mode = "append")
      .orderBy("doc_id").collect().toSeq
    val want = graft.llm.Multimodal.decodeImages(spark,
        graft.llm.Multimodal.encodePng(spark,
          Tables.table(spark, Sf0001, "documents")).toDF()).toDF()
      .orderBy("doc_id").collect().toSeq
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("mapGroupsWithState running counters match batch aggregation") {
    val stream = EventsStream.fromDirectory(spark, streamDir,
      maxFilesPerTrigger = 8)
    val got = runToMemory(
        EventsStream.runningUserCounters(spark, stream).toDF(), "t_state",
        mode = "update")
      .groupBy("user_id").agg(max("n_events").as("n_events"))
      .orderBy("user_id").collect().toSeq
    val want = spark.read.parquet(streamDir)
      .groupBy("user_id").agg(count(lit(1)).as("n_events"))
      .orderBy("user_id").collect().toSeq
    assert(got == want)
  }
}
