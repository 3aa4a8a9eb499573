package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Tables
import graft.io.Tables.table
import graft.ops.Windows
import graft.streaming.EventsStream

/** Batch executions of the streaming pipeline (same Column pipeline runs in
  * both modes — the streaming replay equivalence is asserted in
  * StreamingSpec; the batch form is oracle-checked here).
  */
object StreamingQueries {

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Run `body` with the RocksDB state store provider — the provider a
    * production cluster runs (state spills to local disk instead of
    * growing the executor heap; bounded memory at any key cardinality).
    * The gated stream queries q83/q85 run under it so the gate exercises
    * the production state backend, not just the in-memory default; the
    * provider/batch equivalence for the other stateful ops is in
    * StreamingSpec. Conf is restored afterwards — provider choice is
    * per-query state, not ambient session state. */
  private def withRocksDb[A](s: SparkSession)(body: => A): A = {
    val prev = s.conf.getOption(ProviderKey)
    s.conf.set(ProviderKey, RocksDb)
    try body
    finally prev match {
      case Some(v) => s.conf.set(ProviderKey, v)
      case None => s.conf.unset(ProviderKey)
    }
  }

  /** Stage a parquet table for file-stream replay: the file stream source
    * requires a DIRECTORY it can list for new files, so the table is
    * linked (copy fallback for filesystems without symlinks) into a fresh
    * temp dir. Handles both layouts: a single-file table (the testdata
    * `<table>.parquet` files) links as one file; a parquet DIRECTORY (any
    * real `df.write.parquet` output — e.g. the 100× scale corpora) links
    * each part file, so the stream replays one micro-batch per part with
    * `maxFilesPerTrigger = 1` — a genuine multi-batch ingest replay, not
    * a single-batch degenerate. */
  private def stageForStream(dir: String, table: String, tag: String): String = {
    import java.nio.file.{Files, Path, Paths}
    val srcDir = Files.createTempDirectory(s"graft-$tag-src")
    // absolutize: a symlink created from a relative Path resolves
    // relative to the LINK's directory (the temp dir), not the caller's
    // cwd — a relative sfDir would stage 16 dangling links and fail
    // schema inference
    val src = Paths.get(s"$dir/$table").toAbsolutePath.normalize()
    def link(from: Path, to: Path): Unit =
      try Files.createSymbolicLink(to, from)
      catch { case _: Exception => Files.copy(from, to) }
    if (Files.isDirectory(src)) {
      // WALK, not list: partitionBy output nests part files under
      // partition-value subdirs — mirror the relative layout so partition
      // columns survive the stream source's discovery. Zero staged files
      // must fail loudly: a silently empty staging dir replays an empty
      // source and the query "succeeds" with no rows.
      var staged = 0
      val walk = Files.walk(src)
      try walk.iterator().forEachRemaining { p =>
        if (Files.isRegularFile(p) &&
            p.getFileName.toString.endsWith(".parquet")) {
          val to = srcDir.resolve(src.relativize(p).toString)
          Files.createDirectories(to.getParent)
          link(p, to)
          staged += 1
        }
      } finally walk.close()
      require(staged > 0, s"stageForStream: no .parquet files under $src")
    } else link(src, srcDir.resolve(table))
    srcDir.toString
  }

  /** Tumbling 1-hour window counts (q40). Epoch-aligned hourly windows ==
    * date_trunc('hour') in the oracle. */
  def tumblingWindow(s: SparkSession, dir: String): DataFrame =
    EventsStream.tumblingCounts(table(s, dir, "events"))
      .orderBy("hour_start", "event_type")

  /** Lag-based batch sessionization (q41): session = gap > 30 min. */
  def sessionize(s: SparkSession, dir: String): DataFrame = {
    val ev = table(s, dir, "events")
    Windows.sessionize(ev, col("user_id"), col("ts"), col("event_id"),
        gapSec = 1800.0)
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        unix_micros(min("ts")).as("start_us"),
        unix_micros(max("ts")).as("end_us"))
      .orderBy("user_id", "session_id")
  }

  /** Native session_window in batch mode (q42): start = first event,
    * end = last event + gap. Must agree with the lag-based formulation —
    * the oracle encodes the gap-merge independently. */
  def sessionWindowBatch(s: SparkSession, dir: String): DataFrame =
    EventsStream.sessionWindows(table(s, dir, "events"))
      .orderBy("user_id", "start_us")

  /** The mapGroupsWithState custom-state aggregation executed in batch
    * mode (q62): each group is processed once against empty state — the
    * well-defined batch semantics of arbitrary stateful ops — so the
    * per-user running counters must equal a plain count/sum, which the
    * oracle computes independently. The incremental (multi-batch) replay
    * equivalence is in StreamingSpec. */
  def statefulCountersBatch(s: SparkSession, dir: String): DataFrame =
    EventsStream.runningUserCounters(s, table(s, dir, "events")).toDF()
      .select(col("user_id"), col("n_events"),
        round(col("sum_value"), 2).as("sum_value"))
      .orderBy("user_id")

  /** The streaming as-of join executed in batch mode (q74): each group
    * sees all its rows at once, so the single-value "latest signup" state
    * yields exact nearest-predecessor semantics — the same answer as the
    * relational as-of join (q65), and the oracle (DuckDB ASOF LEFT JOIN)
    * is shared. Multi-batch replay equivalence is in StreamingSpec. */
  def streamingAsOfBatch(s: SparkSession, dir: String): DataFrame =
    EventsStream.streamingAsOf(s, table(s, dir, "events")).toDF()
      .select(col("user_id"), col("event_id"), col("purchase_us"),
        round(col("purchase_value"), 2).as("purchase_value"),
        col("signup_us"))
      .orderBy("event_id")

  /** Streaming dedup, gated end-to-end (q83): the corpus exact-dedup story
    * (q30) on the streaming surface. `dropDuplicatesWithinWatermark` has
    * no batch execution by Spark design, so this query RUNS the stream: a
    * self-union of the events file source (both branches read the same
    * files, so every micro-batch carries each row exactly twice), deduped
    * on event_id within a 2h watermark, into a foreachBatch parquet sink
    * (data never collects to the driver). The duplicates are always
    * in-batch by construction, so the result is exactly the original
    * events — which the oracle reads straight off the table. Watermark
    * state EVICTION (the streaming-only contract) is replay-tested in
    * StreamingSpec: a within-watermark duplicate collapses across
    * micro-batches, a past-watermark duplicate survives. */
  def dedupBatch(s: SparkSession, dir: String): DataFrame = {
    val srcDir = stageForStream(dir, "events.parquet", "q83")
    val stream = Tables.normalizeEventTs(EventsStream.fromDirectory(s, srcDir))
    val out = java.nio.file.Files.createTempDirectory("graft-q83").toString
    withRocksDb(s) {
      val q = EventsStream.dedupWithinWatermark(stream.union(stream))
        .select(col("event_id"), col("user_id"), col("event_type"),
          round(col("value"), 2).as("value"),
          unix_micros(col("ts")).as("ts_us"))
        .writeStream.foreachBatch {
          (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           _: Long) => batch.write.mode("append").parquet(out)
        }.start()
      try q.processAllAvailable() finally q.stop()
    }
    s.read.parquet(out).orderBy("event_id")
  }

  /** Watermark-buffered streaming as-of, gated end-to-end (q85): like q83
    * this RUNS the stream (the buffered operator's flush condition is the
    * watermark, which batch execution pins to 0 — there is no batch
    * execution of "wait until the watermark passes"). Events replay
    * through the file source with a 0-second delay: the data batch
    * ingests everything into group state (watermark still 0 — nothing
    * flushes), then Spark's no-data micro-batch advances the watermark to
    * max event time and the armed event-time timeouts flush every
    * purchase with its final nearest-predecessor signup. Output must
    * equal the relational as-of join — the oracle is the same DuckDB
    * ASOF LEFT JOIN as q65/q74. Out-of-order exactness (the point of the
    * buffering) is pinned in StreamingSpec with a shuffled MemoryStream
    * replay. */
  def streamingAsOfBuffered(s: SparkSession, dir: String): DataFrame = {
    val srcDir = stageForStream(dir, "events.parquet", "q85")
    val stream = Tables.normalizeEventTs(EventsStream.fromDirectory(s, srcDir))
    val out = java.nio.file.Files.createTempDirectory("graft-q85").toString
    withRocksDb(s) {
      val q = EventsStream.streamingAsOfBuffered(s, stream, delay = "0 seconds")
        .toDF()
        .select(col("user_id"), col("event_id"), col("purchase_us"),
          round(col("purchase_value"), 2).as("purchase_value"),
          col("signup_us"))
        .writeStream.foreachBatch {
          (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           _: Long) => batch.write.mode("append").parquet(out)
        }.start()
      try q.processAllAvailable() finally q.stop()
    }
    s.read.parquet(out).orderBy("event_id")
  }

  /** Streaming heavy hitters, gated end-to-end (q86): the custom
    * Misra-Gries TypedImperativeAggregate running as STREAMING aggregation
    * state — sketch buffers serialize into the state store and merge
    * across micro-batches like any built-in agg. Complete output mode
    * through foreachBatch (overwrite per batch; the last batch carries
    * the full aggregate). The events table has 5 distinct event types,
    * under the k=8 counter budget, so the sketch is EXACT and the oracle
    * is a plain per-user count — the ε·n approximation bound for k <
    * cardinality is property-tested in MisraGriesSpec. */
  def heavyHittersStream(s: SparkSession, dir: String): DataFrame = {
    val srcDir = stageForStream(dir, "events.parquet", "q86")
    val stream = EventsStream.fromDirectory(s, srcDir)
    val out = java.nio.file.Files.createTempDirectory("graft-q86").toString
    val q = stream.groupBy("user_id")
      .agg(expr("misra_gries(event_type, 8)").as("m"))
      .writeStream.outputMode("complete").foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         _: Long) => batch.write.mode("overwrite").parquet(out)
      }.start()
    try q.processAllAvailable() finally q.stop()
    s.read.parquet(out)
      .select(col("user_id"), explode(map_entries(col("m"))).as("kv"))
      .select(col("user_id"), col("kv.key").as("term"),
        col("kv.value").as("cnt"))
      .orderBy("user_id", "term")
  }

  /** Streaming corpus ingest, gated end-to-end (q93): the incremental
    * version of the corpus-preparation front half — documents replayed
    * through the file source, normalization-aware content fingerprinting
    * ([[graft.llm.TextAnalysis.normalizeForDedup]]), streaming
    * `dropDuplicates` on the fingerprint, and a deterministic
    * CONTENT-ADDRESSED train/val/test split (keyed on the fingerprint,
    * not the doc_id — which physical row wins the streaming dedup is
    * arrival-order dependent, so only content-derived columns are
    * emitted; that is also the right production contract: the split of a
    * piece of content must not depend on which duplicate arrived first).
    * foreachBatch parquet sink; the oracle recomputes the distinct
    * fingerprint set and split in DuckDB. Dedup state here is unbounded
    * (no event-time column on documents) — the watermarked variant is
    * q83 over events. */
  def streamingIngest(s: SparkSession, dir: String): DataFrame = {
    val srcDir = stageForStream(dir, "documents.parquet", "q93")
    val stream = EventsStream.fromDirectory(s, srcDir)
    val out = java.nio.file.Files.createTempDirectory("graft-q93").toString
    val bucket =
      graft.llm.PortableSeededHash.hash(col("fp"), 42) % 100
    val q = stream
      .select(md5(graft.llm.TextAnalysis.normalizeForDedup(col("text")))
        .as("fp"))
      .dropDuplicates("fp")
      .withColumn("split",
        when(bucket < 80, "train").when(bucket < 90, "val")
          .otherwise("test"))
      .writeStream.outputMode("append").foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         _: Long) => batch.write.mode("append").parquet(out)
      }.start()
    try q.processAllAvailable() finally q.stop()
    s.read.parquet(out).orderBy("fp")
  }

  /** Stream-static enrichment join (q165): the event stream joined per
    * micro-batch against the BROADCAST static customer dimension — the
    * canonical streaming-ETL enrichment (clickstream × user table). A
    * static side needs no watermark and holds no state: every
    * micro-batch plans a fresh broadcast-hash join, so the dimension
    * can also be swapped between batches (slowly-changing dims recycle
    * the same shape). Left join keeps dimension-less events (UNKNOWN
    * segment). The enriched rows land in an append sink; the read-back
    * aggregate is batch, so the result is independent of micro-batch
    * boundaries and the oracle is the plain batch join + aggregate. */
  def streamStaticEnrich(s: SparkSession, dir: String): DataFrame = {
    val srcDir = stageForStream(dir, "events.parquet", "q165")
    val stream = EventsStream.fromDirectory(s, srcDir)
    val dim = table(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"), col("c_nationkey"))
    val out = java.nio.file.Files.createTempDirectory("graft-q165").toString
    val q = stream
      .join(broadcast(dim), col("user_id") === col("c_custkey"), "left")
      .select(col("event_id"), col("event_type"), col("value"),
        coalesce(col("c_mktsegment"), lit("UNKNOWN")).as("segment"),
        col("c_nationkey"))
      .writeStream.outputMode("append").foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         _: Long) => batch.write.mode("append").parquet(out)
      }.start()
    try q.processAllAvailable() finally q.stop()
    s.read.parquet(out)
      .groupBy("segment", "event_type")
      .agg(count(lit(1)).as("n_events"),
        round(sum("value"), 2).as("sum_value"),
        countDistinct("c_nationkey").as("n_nations"))
      .orderBy("segment", "event_type")
  }

  /** ONLINE near-dup detection, gated end-to-end (q101,
    * [[graft.streaming.StreamingNearDup]]): documents replay through the
    * file source; per-row MinHash band buckets feed a
    * flatMapGroupsWithState keeper (per-bucket min doc_id) on the
    * RocksDB state store; output is each document's count of
    * duplicate-flagged bands. The replay is a single micro-batch (one
    * staged file), where min-keeper semantics are exactly the relational
    * "exists a smaller doc_id in the bucket" — so the oracle recomputes
    * buckets and bucket minima in DuckDB (portable hash family); the
    * cross-batch contract (flag iff the smaller id arrived no later) is
    * pinned in StreamingNearDupSpec. */
  def streamingNearDup(s: SparkSession, dir: String): DataFrame = {
    val srcDir = stageForStream(dir, "documents.parquet", "q101")
    val stream = EventsStream.fromDirectory(s, srcDir)
    val out = java.nio.file.Files.createTempDirectory("graft-q101").toString
    withRocksDb(s) {
      val q = graft.streaming.StreamingNearDup
        .detect(s, stream, hasher = graft.llm.PortableSeededHash)
        .toDF()
        .writeStream.outputMode("append").foreachBatch {
          (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           _: Long) => batch.write.mode("append").parquet(out)
        }.start()
      try q.processAllAvailable() finally q.stop()
    }
    s.read.parquet(out)
      .groupBy("doc_id")
      .agg(sum(when(col("dup"), 1L).otherwise(0L)).as("n_dup_bands"))
      .orderBy("doc_id")
  }

  /** Streaming MEDIA ingest through the REAL codec seam, gated
    * end-to-end (q130): documents replay through the file source; each
    * micro-batch runs the full real-codec image pipeline INSIDE the
    * streaming query graph — synthetic grayscale raster → real PNG
    * encode (JDK ImageIO) → real PNG decode → integer metadata
    * ([[graft.llm.Multimodal.encodePng]] / `decodeImages`, the q98
    * pipeline) — proving the mapPartitions codec seam composes with
    * Structured Streaming (typed mapPartitions is a stateless narrow op,
    * legal in append mode; nothing is deferred to foreachBatch except
    * the parquet sink). The oracle is q98's: decoded dimensions and the
    * band-0 pixel sum are analytic integer formulas of doc_id, so a
    * codec fault or a dropped/duplicated row in the streaming replay
    * hash-mismatches. At scale this is the production shape for media
    * preprocessing: a file-arrival stream where decode cost dominates
    * and partitions parallelize per batch; batch parity is asserted in
    * StreamingSpec. */
  def streamingMediaIngest(s: SparkSession, dir: String): DataFrame = {
    import graft.llm.Multimodal
    val srcDir = stageForStream(dir, "documents.parquet", "q130")
    val stream = EventsStream.fromDirectory(s, srcDir)
    val out = java.nio.file.Files.createTempDirectory("graft-q130").toString
    val decoded = Multimodal.decodeImages(s,
        Multimodal.encodePng(s, stream.select("doc_id")).toDF())
      .toDF()
    val q = decoded.writeStream.outputMode("append").foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
       _: Long) => batch.write.mode("append").parquet(out)
    }.start()
    try q.processAllAvailable() finally q.stop()
    s.read.parquet(out).orderBy("doc_id")
  }

  /** Streaming web-filter gate (q140): the q123 composed cleaning gate
    * — length, language-ID, entropy floor, hashed classifier — running
    * INSIDE Structured Streaming over a replayed document corpus. Every
    * signal is a stateless per-row Column, so the batch pipeline
    * ([[LlmQueries.webFilterAudit]]) runs under micro-batches unchanged
    * — the "filter the crawl as it lands" deployment, where each
    * arriving WARC-extract batch is gated before it ever hits the data
    * lake. Batch-parity oracle: the result must equal q123's. */
  def streamingWebFilter(s: SparkSession, dir: String): DataFrame = {
    val srcDir = stageForStream(dir, "documents.parquet", "q140")
    val stream = EventsStream.fromDirectory(s, srcDir)
    val out = java.nio.file.Files.createTempDirectory("graft-q140").toString
    val gated = LlmQueries.webFilterAudit(stream)
    val q = gated.writeStream.outputMode("append").foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
       _: Long) => batch.write.mode("append").parquet(out)
    }.start()
    try q.processAllAvailable() finally q.stop()
    s.read.parquet(out).orderBy("doc_id")
  }

  /** Continuously-maintained per-domain bottom-k sample (q150,
    * [[graft.functions.BottomKAgg]]): the q145 consistent sample kept
    * up to date by a streaming `complete`-mode group-by — each
    * micro-batch folds its rows into the ≤k-row per-source state (the
    * aggregate is mergeable, so cross-batch maintenance is exact, not
    * approximate), and the published table after the final batch is
    * BIT-IDENTICAL to the batch q145: membership, ranks, and the KMV
    * estimate all replay against the same oracle. The deployment this
    * models: a crawl lands all day, and the per-domain audit sample +
    * distinct-count sketch are always current without ever rescanning
    * the corpus. */
  def streamingBottomK(s: SparkSession, dir: String): DataFrame = {
    val srcDir = stageForStream(dir, "documents.parquet", "q150")
    val stream = EventsStream.fromDirectory(s, srcDir)
    val out = java.nio.file.Files.createTempDirectory("graft-q150").toString
    val k = 8
    val agged = stream
      .select(col("source"),
        graft.llm.PortableSeededHash.hash(col("doc_id"), 45).as("h"),
        col("doc_id"), col("n_chars"))
      .groupBy("source")
      .agg(expr(s"bottom_k(h, doc_id, n_chars, $k)").as("bk"))
    val q = agged.writeStream.outputMode("complete").foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
       _: Long) => batch.write.mode("overwrite").parquet(out)
    }.start()
    try q.processAllAvailable() finally q.stop()
    val num = (BigInt(k) - 1) * (BigInt(1) << 60)
    s.read.parquet(out)
      .select(col("source"), posexplode(col("bk")).as(Seq("pos", "e")),
        when(size(col("bk")) === k,
          expr(s"cast('$num' as decimal(38,0)) div element_at(bk, $k).h"))
          .as("est_distinct"))
      .select(col("source"), (col("pos") + 1).as("rn"),
        col("e.id").as("doc_id"), col("e.aux").as("n_chars"),
        col("est_distinct"))
      .orderBy("source", "rn")
  }

  /** STREAMING-maintained HyperLogLog (q172): the q168 distinct-user
    * sketch kept current by a complete-mode streaming group-by over the
    * mergeable `hll_registers` aggregate — ≤256 bytes of state per key,
    * and element-wise-max merge makes the registers exact under ANY
    * micro-batch split (max of a union = max of concatenated maxes), so
    * the final state equals the batch sketch bit-for-bit: the q150
    * always-current-sample contract, for distinct counting. The oracle
    * is q168's verbatim. At 100 TB this is the live distinct-users
    * dashboard fed straight from the ingest stream — the state is
    * #groups × 256 bytes however large the corpus grows. */
  def streamingHll(s: SparkSession, dir: String): DataFrame = {
    val srcDir = stageForStream(dir, "events.parquet", "q172")
    val stream = EventsStream.fromDirectory(s, srcDir)
    val out = java.nio.file.Files.createTempDirectory("graft-q172").toString
    val agged = stream
      .select(col("event_type"), col("user_id").cast("string").as("k"))
      .groupBy("event_type")
      .agg(expr("hll_registers(k, 8, 77)").as("regs"))
    val q = agged.writeStream.outputMode("complete").foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
       _: Long) => batch.write.mode("overwrite").parquet(out)
    }.start()
    try q.processAllAvailable() finally q.stop()
    LlmQueries.hllFinish(s.read.parquet(out),
      table(s, dir, "events")
        .select(col("event_type"), col("user_id").cast("string").as("k")))
  }

  /** Streaming ingest INTO the versioned snapshot table (q153): each
    * micro-batch lands as one append commit ([[graft.io.SnapshotTable]])
    * — the streaming lakehouse sink contract: arriving data becomes
    * atomically visible a version at a time, every intermediate version
    * stays time-travelable, and downstream consumers read manifests,
    * never partially-written directories. Commits are metadata-only in
    * the table's size (previous files are referenced, not rewritten), so
    * per-batch cost is flat however large the table grows — the property
    * that makes this the 100 TB continuous-ingest pattern. Empty batches
    * commit nothing. NOTE on retries: a re-delivered foreachBatch would
    * re-commit its rows; production pairs the commit with the batchId
    * recorded in the manifest (exactly-once), omitted here because the
    * bounded file-source replay delivers each batch once. */
  def streamingSnapshotIngest(s: SparkSession, dir: String): DataFrame = {
    val srcDir = stageForStream(dir, "documents.parquet", "q153")
    val stream = EventsStream.fromDirectory(s, srcDir)
    val tableDir =
      java.nio.file.Files.createTempDirectory("graft-q153").toString
    val q = stream.select(col("doc_id"), col("source"), col("n_chars"))
      .writeStream.outputMode("append").foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         _: Long) =>
          if (!batch.isEmpty)
            graft.io.SnapshotTable.commit(s, batch.toDF(), tableDir): Unit
      }.start()
    try q.processAllAvailable() finally q.stop()
    graft.io.SnapshotTable.readSnapshot(s, tableDir).orderBy("doc_id")
  }

  /** NATIVE streaming snapshot sink (q220,
    * [[graft.sources.SnapshotSource]] STREAMING_WRITE): q153's
    * lakehouse-ingest contract with the connector itself as the sink —
    * `writeStream.format("graft.sources.SnapshotSource").start(dir)`,
    * no foreachBatch. Each micro-batch epoch is one append commit
    * (atomic visibility, every intermediate version time-travelable),
    * and the epoch id is recorded in the manifest so a REPLAYED epoch
    * is detected and skipped — the exactly-once pairing q153's
    * Scaladoc defers to production, implemented and spec-tested
    * (SnapshotSourceSpec). Final content is read back through the DSv2
    * READ surface, so the round-trip never leaves the connector. */
  def streamingSnapshotSink(s: SparkSession, dir: String): DataFrame = {
    val srcDir = stageForStream(dir, "documents.parquet", "q220")
    val stream = EventsStream.fromDirectory(s, srcDir)
    val tableDir =
      java.nio.file.Files.createTempDirectory("graft-q220").toString
    val ckpt =
      java.nio.file.Files.createTempDirectory("graft-q220ck").toString
    val q = stream.select(col("doc_id"), col("source"), col("n_chars"))
      .writeStream.outputMode("append")
      .format("graft.sources.SnapshotSource")
      .option("checkpointLocation", ckpt)
      .start(tableDir)
    try q.processAllAvailable() finally q.stop()
    s.read.format("graft.sources.SnapshotSource").load(tableDir)
      .orderBy("doc_id")
  }

  /** STREAMING source over the snapshot log (q221,
    * [[graft.sources.SnapshotSource]] MICRO_BATCH_READ): the
    * incremental-consumer side of the connector — `readStream
    * .format(...).load(tableDir)` feeds each APPEND commit as a
    * micro-batch, planned as the manifest set-difference (added files
    * only; carried-forward files never re-read — the reason tailing a
    * 100 TB table costs the delta, not the table). Two versions exist
    * before the stream starts — replayed via
    * `.option("startingVersion", 0)`, the Delta-style history-replay
    * escape (the DEFAULT tails from the latest version at stream
    * start: a 100 TB table's history is not re-fed by accident) — and
    * the third commits while the stream runs and arrives incrementally;
    * offsets are version numbers, so a checkpoint restart resumes
    * mid-log. Rewriting commits refuse loudly unless `ignoreRewrites`
    * is set (both spec-tested); the CDC view (q161) serves
    * change-consuming readers. Output = everything the stream
    * delivered, which must be exactly the table — the identity
    * oracle. */
  def streamingSnapshotSource(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"))
    val t = java.nio.file.Files.createTempDirectory("graft-q221").toString
    def slice(r: Int) = docs.where(pmod(col("doc_id"), lit(3L)) === r)
    graft.io.SnapshotTable.commit(s, slice(0), t)
    graft.io.SnapshotTable.commit(s, slice(1), t)
    val sink = "q221_sink_" +
      java.util.UUID.randomUUID.toString.replace("-", "").take(12)
    val q = s.readStream.format("graft.sources.SnapshotSource")
      .option("startingVersion", 0).load(t)
      .writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      graft.io.SnapshotTable.commit(s, slice(2), t) // arrives live
      q.processAllAvailable()
    } finally q.stop()
    s.table(sink).orderBy("doc_id")
  }

  /** Streaming CDC upsert ingest (q161,
    * [[graft.io.SnapshotTable.merge]] inside foreachBatch): every
    * micro-batch applies TWO merges to the snapshot table — its rows as
    * inserts (WHEN NOT MATCHED; the first batch bootstraps the empty
    * log), then a partial-row delta over the same keys (WHEN MATCHED:
    * n_chars incremented, a NULL lang that keeps the base value). Both
    * MERGE clause kinds and the NULL-keeps-base contract thus run under
    * micro-batch replay, and the final state — every document with
    * n_chars+1 — is independent of the order the 16 file-batches
    * arrive in, which is what makes the oracle exact. This is the CDC
    * ingest shape: a change stream continuously upserted into a
    * versioned table, each batch a copy-on-write commit whose cost
    * tracks the batch's key locality, never the table size; readers
    * time-travel a consistent version while the stream runs. Same
    * retry note as q153 (production pairs commits with batchId). */
  def streamingCdcUpsert(s: SparkSession, dir: String): DataFrame = {
    val srcDir = stageForStream(dir, "documents.parquet", "q161")
    val stream = EventsStream.fromDirectory(s, srcDir)
    val tableDir =
      java.nio.file.Files.createTempDirectory("graft-q161").toString
    val q = stream
      .select(col("doc_id"), col("lang"), col("n_chars").cast("long").as("n_chars"))
      .writeStream.outputMode("append").foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         _: Long) =>
          if (!batch.isEmpty) {
            val b = batch.toDF().persist()
            graft.io.SnapshotTable.merge(s, tableDir, b, Seq("doc_id"))
            graft.io.SnapshotTable.merge(s, tableDir,
              b.select(col("doc_id"), lit(null).cast("string").as("lang"),
                (col("n_chars") + 1L).as("n_chars")), Seq("doc_id"))
            b.unpersist(): Unit
          }
      }.start()
    try q.processAllAvailable() finally q.stop()
    graft.io.SnapshotTable.readSnapshot(s, tableDir).orderBy("doc_id")
  }

  /** The stream-stream interval join executed in batch mode (q61): same
    * Column pipeline as the streaming form (watermarks are no-ops in
    * batch); the streaming replay equivalence is in StreamingSpec. */
  /** TRUE stream-stream interval join (q169): the q61 purchase-after-
    * signup join run between TWO independent streaming sources — each
    * side watermarked, the join buffered in the state store with
    * retention bounded by watermark + the 1-hour interval, every
    * micro-batch emitting the inner matches eagerly. 16-part staging →
    * 16 micro-batches per side, so matches genuinely span batch
    * boundaries through state. Inner-join emission is exhaustive once
    * the replay drains, which is why the oracle is the SAME batch SQL
    * as q61 — the stream-stream machinery must be invisible in the
    * answer. At 100 TB this is the enrichment shape when BOTH sides are
    * unbounded (clickstream × transaction log), where q165's
    * stream-static broadcast cannot apply. */
  def streamStreamIntervalJoin(s: SparkSession, dir: String): DataFrame = {
    val srcDir = stageForStream(dir, "events.parquet", "q169")
    def side(): DataFrame =
      Tables.normalizeEventTs(EventsStream.fromDirectory(s, srcDir))
    val out = java.nio.file.Files.createTempDirectory("graft-q169").toString
    val q = EventsStream.purchaseAfterSignup(side(), side())
      .writeStream.outputMode("append").foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         _: Long) => batch.write.mode("append").parquet(out)
      }.start()
    try q.processAllAvailable() finally q.stop()
    s.read.parquet(out)
      .select(col("user_id"),
        unix_micros(col("signup_ts")).as("signup_us"),
        unix_micros(col("purchase_ts")).as("purchase_us"),
        round(col("purchase_value"), 2).as("purchase_value"))
      .orderBy("user_id", "purchase_us", "signup_us")
  }

  def intervalJoinBatch(s: SparkSession, dir: String): DataFrame =
    EventsStream.purchaseAfterSignup(table(s, dir, "events"))
      .select(col("user_id"),
        unix_micros(col("signup_ts")).as("signup_us"),
        unix_micros(col("purchase_ts")).as("purchase_us"),
        round(col("purchase_value"), 2).as("purchase_value"))
      .orderBy("user_id", "purchase_us", "signup_us")

  /** STREAMING drift monitor (q200): the q192 population-stability-index
    * check run against a live ingest — per-SLICE length histograms
    * maintained by a complete-mode streaming count aggregate (each
    * micro-batch folds its rows into the ≤slices×bins state; counts are
    * mergeable, so the final state is exact under any micro-batch
    * split — the q150/q172 always-current contract), then each slice's
    * distribution PSI-scored against the reference histogram after the
    * stream drains. Slices are hash-derived from doc_id, NOT from
    * micro-batch boundaries, so the report is deterministic and
    * oracle-replayable while the maintenance is genuinely incremental.
    * The deployment: a crawl lands all day, and "has any ingest slice
    * drifted from the reference corpus?" is a dashboard read of this
    * table, never a corpus rescan. */
  def streamingDrift(s: SparkSession, dir: String): DataFrame = {
    val srcDir = stageForStream(dir, "documents.parquet", "q200")
    val stream = EventsStream.fromDirectory(s, srcDir)
    val out = java.nio.file.Files.createTempDirectory("graft-q200").toString
    val slice = pmod(
      graft.llm.PortableSeededHash.hash(col("doc_id"), 83), lit(4L))
    val agged = stream
      .select(slice.as("slice"), expr("n_chars div 64").as("bin"))
      .groupBy("slice", "bin").agg(count(lit(1)).as("c_cur"))
    val q = agged.writeStream.outputMode("complete").foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
       _: Long) => batch.write.mode("overwrite").parquet(out)
    }.start()
    try q.processAllAvailable() finally q.stop()
    val cur = s.read.parquet(out)
    val docs = table(s, dir, "documents")
    val sb = graft.llm.PortableSeededHash.hash(col("doc_id"), 42) % 100
    val ref = docs.where(sb < 80)
      .select(expr("n_chars div 64").as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("c_ref"))
    // (slice × bin) universe so a bin missing from one slice still gets
    // its smoothed cell in that slice's report (the q192 full-outer,
    // keyed); slices and bins are both tiny — broadcast crosses
    val universe = cur.select("slice").distinct()
      .crossJoin(ref.select("bin")
        .union(cur.select("bin")).distinct())
    val joined = universe
      .join(ref, Seq("bin"), "left")
      .join(cur, Seq("slice", "bin"), "left")
      .select(col("slice"), col("bin"),
        coalesce(col("c_ref"), lit(0L)).as("c_ref"),
        coalesce(col("c_cur"), lit(0L)).as("c_cur"))
    val tot = joined.groupBy(col("slice").as("t_slice"))
      .agg(sum("c_ref").as("n_ref"), sum("c_cur").as("n_cur"),
        count(lit(1)).as("n_bins"))
    val p = (col("c_ref") + 1).cast("double") /
      (col("n_ref") + col("n_bins")).cast("double")
    val pq = (col("c_cur") + 1).cast("double") /
      (col("n_cur") + col("n_bins")).cast("double")
    joined.join(broadcast(tot), col("slice") === col("t_slice"))
      .select(col("slice"), col("bin"), col("c_ref"), col("c_cur"),
        round(p, 4).as("p_ref"), round(pq, 4).as("p_cur"),
        round((p - pq) * (log(p) - log(pq)) * 10000, 4).as("psi_x1e4"))
      .orderBy("slice", "bin")
  }
}
