package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Encoder, Encoders}
import graft.etl.{ColumnSpec, FrameConfig}
import graft.io.Tables.table
import graft.ops.{Aggs, Joins}

/** End-to-end re-creations of the reference's two jobs (SURVEY.md §3) plus
  * the crypto / fingerprint / typed-Aggregator surface.
  */
object PipelineQueries {

  /** E1 — testpilot_data.main re-created (testpilot_data.py:84-202): the
    * whole config→extract→clean→filter chain as ONE Catalyst plan over the
    * events table. The reference's per-row Python `ping_to_row` becomes a
    * declarative [[graft.etl.FrameConfig]] projection; null-on-error comes from
    * try_cast, not per-cell try/except. */
  def e1ConfigExtract(s: SparkSession, dir: String): DataFrame = {
    val cfg = FrameConfig(
      columns = Seq(
        ColumnSpec("event_id", col("event_id")),
        ColumnSpec("day", date_format(col("ts"), "yyyy-MM-dd")),
        ColumnSpec("user_id", col("user_id")),
        ColumnSpec("event_type", col("event_type")),
        // JSON path extraction (P1/§2.7) + typed cast with null-on-error (P3)
        ColumnSpec.json("prop_k", col("props"), "k",
                        castTo = Some(org.apache.spark.sql.types.LongType)),
        ColumnSpec("value_r", round(col("value"), 2))),
      // F1 analog of `ping_filter` (testpilot_data.py:20,41-42)
      preFilter = Some(col("event_type") =!= "error"),
      // F2 analog of the post-projection SQL filter (testpilot_data.py:167)
      postFilter = Some(col("prop_k").isNotNull))
    cfg(table(s, dir, "events")).orderBy("event_id")
  }

  /** E1 multi-source/multi-sink — the ACTUAL daily-job shape of
    * testpilot_data.main (testpilot_data.py:118-202): ONE run builds THREE
    * tables — two doc-types projected from the same telemetry scan through
    * their own [[graft.etl.FrameConfig]]s (testpilot_data.py:118-167) plus a CSV
    * source with per-cell cleaning funcs (:170-195) — and writes all three
    * as parquet sinks in one job (`save_df` ×3, :197-200).
    *
    * Mapping: events = the telemetry store; doc-types are disjoint
    * event_type classes (the reference's docType predicate); the CSV source
    * round-trips customer through a real header CSV like the reference's
    * testpilot-cliqz-telemetry.csv. Sinks: two day-partitioned tables
    * (reference `submission=<day>`) and one single-file table
    * (`partitions=1`). The returned frame reads all three sinks BACK and
    * unions them under a `src` tag — so the oracle checks the full
    * write→read round trip of every branch, partition columns included. */
  def e1MultiSink(s: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-e1multi").toString
    val events = table(s, dir, "events") // shared scan, two projections

    // CSV source "search": the reference reads a real header CSV
    val csvDir = s"$tmp/search_csv"
    table(s, dir, "customer").write.mode("overwrite")
      .option("header", "true").csv(csvDir)

    // the job itself is the library API (configs + three sinks, one run)
    graft.jobs.TestpilotDaily.run(s, events, graft.io.Tables.csv(s, csvDir),
      graft.jobs.TestpilotDaily.Sinks(
        s"$tmp/testpilot", s"$tmp/testpilottest", s"$tmp/search"))

    // read-back union under a src tag: one frame, common (src, key, day,
    // attr, val) schema — value-level comparison of every branch
    val a = s.read.parquet(s"$tmp/testpilot").select(
      lit("testpilot").as("src"), col("event_id").as("key"),
      col("day").cast("string").as("day"), col("event").as("attr"),
      col("prop_k").cast("string").as("val"))
    val b = s.read.parquet(s"$tmp/testpilottest").select(
      lit("testpilottest").as("src"), col("event_id").as("key"),
      col("day").cast("string").as("day"), col("event").as("attr"),
      col("value_cents").cast("string").as("val"))
    val c = s.read.parquet(s"$tmp/search").select(
      lit("search").as("src"), col("cust_id").as("key"),
      lit("").as("day"), col("name_prefix").as("attr"),
      concat_ws(":", col("is_auto").cast("string"),
        col("balance_cents").cast("string")).as("val"))
    a.unionByName(b).unionByName(c).orderBy("src", "key")
  }

  /** P1/C5/C6/F3 against REAL nested parquet — the reference's core
    * extraction is nested-dict access over telemetry pings
    * (`x["testpilot@cliqz.com"]["version"]`, `x[0]["event"]`,
    * "environment/settings/locale": testpilot_data.py:113-116,123-134).
    * The testdata has no nested tables, so this query first BUILDS one —
    * a deterministic ping-shaped parquet (struct environment/settings,
    * map-of-struct active_addons, array-of-struct payload.events) derived
    * from the events table — writes it, reads it back, and shreds it with
    * `ColumnSpec.path` chains + map/array access. The oracle recomputes
    * the same flat rows from the base table, so struct/array/map columns
    * round-trip through parquet AND the path-shredding surface under the
    * value-level gate. */
  def nestedShred(s: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-nested").toString
    val ev = table(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
    // sort_array over struct(ts_us, event_id, ...) orders by field position
    // — deterministic event order (micros ties broken by event_id)
    val nested = ev.groupBy("user_id").agg(
        sort_array(collect_list(struct(col("ts_us"), col("event_id"),
          col("event_type").as("event")))).as("events_arr"))
      .select(col("user_id"),
        struct(
          struct(
            element_at(array(lit("en-US"), lit("de-DE"), lit("fr-FR"),
              lit("es-ES"), lit("pt-BR")),
              (col("user_id") % 5).cast("int") + 1).as("locale"),
            (col("user_id") % 2 === 0).as("telemetry_enabled"))
            .as("settings"),
          struct(
            map(concat(lit("addon@"), col("user_id") % 3),
              struct(concat(lit("1."), col("user_id") % 10).as("version")))
              .as("active_addons")).as("addons")).as("environment"),
        struct(col("events_arr").as("events")).as("payload"),
        struct(lit("DE").as("geo")).as("meta"))
    nested.write.mode("overwrite").parquet(s"$tmp/pings")

    val pings = s.read.parquet(s"$tmp/pings")
    import graft.etl.ColumnSpec.path
    val cfg = FrameConfig(
      columns = Seq(
        ColumnSpec("user_id", col("user_id")),
        // P1: reference-style '/'-separated path chains
        ColumnSpec("locale", path("environment/settings/locale")),
        ColumnSpec("telemetry", path("environment/settings/telemetry_enabled")),
        // F3: key-membership over the addon map (`has_addon`,
        // testpilot_data.py:114)
        ColumnSpec("has_addon", map_contains_key(
          path("environment/addons/active_addons"), "addon@0")),
        // C5: map value → struct field (`get_cliqz_version`, :113)
        ColumnSpec("cliqz_version", path("environment/addons/active_addons")
          .getItem("addon@0").getField("version")),
        // C6: array head + field (`get_event`, :115)
        ColumnSpec("first_event",
          element_at(path("payload/events"), 1).getField("event")),
        ColumnSpec("n_events", size(path("payload/events")).cast("long"))),
      preFilter = Some(path("meta/geo").isNotNull))
    cfg(pings).orderBy("user_id")
  }

  /** E2 — profile_daily.main re-created (profile_daily.py:9-67) on testdata
    * roles: orders = testpilot pings, lineitem-via-orders = main_summary
    * history, customer = profile dimension.
    *
    * Shape: cohort min-date → history join + 14-day range filter → two
    * keyed monoid aggregations → FULL OUTER join on (custkey, day) →
    * null-coalesced wide profile row. One Catalyst plan; no driver
    * round-trip (the reference's HBase driver-side detour, SURVEY.md §3/E2
    * step 5, becomes a plain distributed join). */
  def e2ProfileDaily(s: SparkSession, dir: String): DataFrame = {
    val ord = table(s, dir, "orders").select(
      col("o_custkey").as("custkey"),
      col("o_orderkey"),
      date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"),
      col("o_orderstatus"), col("o_totalprice"))

    // A1: earliest activity per client (min on yyyy-MM-dd strings is
    // chronological)
    val minDay = ord.groupBy("custkey").agg(min("day").as("min_day"))

    // History side: lineitems reached through orders, kept when shipped
    // within 14 days of the client's first order (F5 window semantics,
    // profile_daily.py:127-135)
    val li = table(s, dir, "lineitem").select(
      col("l_orderkey").as("o_orderkey"),
      date_format(col("l_shipdate"), "yyyy-MM-dd").as("day"),
      col("l_quantity"), col("l_returnflag"))
    val hist = li
      .join(ord.select("custkey", "o_orderkey"), Seq("o_orderkey"))
      .join(minDay, Seq("custkey"))
      .where(datediff(to_date(col("day")), to_date(col("min_day")))
        .between(0, 14))
    // A3: keyed monoid aggregation — sums + a Counter-style map rendered as
    // a sorted string (deterministic across engines)
    val histAgg = hist.groupBy("custkey", "day").agg(
      round(sum("l_quantity"), 2).as("qty"),
      count(lit(1)).as("n_lines"),
      Aggs.countIf(col("l_returnflag") === "R").as("n_returns"))

    // A4: testpilot-side conditional counts per (client, day)
    val txpAgg = ord.groupBy("custkey", "day").agg(
      Aggs.countIf(col("o_orderstatus") === "O").as("open_orders"),
      Aggs.countIf(col("o_orderstatus") === "F").as("done_orders"),
      Aggs.countIf(col("o_orderstatus") === "P").as("pending_orders"),
      round(sum("o_totalprice"), 2).as("spend"))

    // J4: full outer on the composite key, then null-safe wide row
    // (format_row, profile_daily.py:209-242, as plain coalesce)
    val profile = Joins.fullOuter(histAgg, txpAgg, Seq("custkey", "day"))
      .select(
        col("custkey"), col("day"),
        coalesce(col("qty"), lit(0.0)).as("qty"),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        coalesce(col("n_returns"), lit(0L)).as("n_returns"),
        coalesce(col("open_orders"), lit(0L)).as("open_orders"),
        coalesce(col("done_orders"), lit(0L)).as("done_orders"),
        coalesce(col("pending_orders"), lit(0L)).as("pending_orders"),
        coalesce(col("spend"), lit(0.0)).as("spend"))

    // Profile dimension join (broadcast — customer is a dim table)
    Joins.dimJoinOn(profile,
        table(s, dir, "customer")
          .select(col("c_custkey"), col("c_name"),
                  col("c_nationkey").cast("long").as("nationkey")),
        cond = col("custkey") === col("c_custkey"))
      .drop("c_custkey")
      .orderBy("custkey", "day")
  }

  /** A3/A6 typed path: the Counter-addition monoid as a spill-friendly
    * `Aggregator` over a typed Dataset (profile_daily.py:142-197). Same
    * oracle as the relational q17 — proves the two formulations agree. */
  def mapMonoidUdaf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = table(s, dir, "events")
      .select(col("user_id"), col("event_type")).as[(Long, String)]
    val counted = ev.groupByKey(_._1)
      .agg(PipelineQueries.typeCounter.toColumn.name("counts"))
    counted
      .map { case (uid, m) =>
        (uid, m.toSeq.sortBy(_._1).map { case (k, v) => s"$k:$v" }
          .mkString(","))
      }
      .toDF("user_id", "type_counts")
      .orderBy("user_id")
  }

  /** A3/A6 at scale: the SAME counter monoid as a native
    * [[graft.functions.MapCountAgg]] `TypedImperativeAggregate` — mutable
    * map buffer updated in place (no per-row allocation), compact byte
    * serialization for shuffle/spill, map-side partial aggregation. Same
    * oracle as q17/q18, proving all three formulations agree. */
  def mapMonoidNative(s: SparkSession, dir: String): DataFrame = {
    table(s, dir, "events")
      .groupBy("user_id")
      .agg(expr("map_count(event_type)").as("m"))
      // eval emits binary-sorted keys, so map_entries is already ordered
      .select(col("user_id"),
        array_join(transform(map_entries(col("m")),
          e => concat_ws(":", e.getField("key"), e.getField("value"))), ",")
          .as("type_counts"))
      .orderBy("user_id")
  }

  private[queries] val typeCounter: Aggregator[(Long, String), Map[String, Long], Map[String, Long]] =
    new Aggregator[(Long, String), Map[String, Long], Map[String, Long]] {
      def zero: Map[String, Long] = Map.empty
      def reduce(b: Map[String, Long], a: (Long, String)): Map[String, Long] =
        b.updated(a._2, b.getOrElse(a._2, 0L) + 1L)
      def merge(b1: Map[String, Long], b2: Map[String, Long]): Map[String, Long] = {
        val (small, large) = if (b1.size < b2.size) (b1, b2) else (b2, b1)
        small.foldLeft(large) { case (acc, (k, v)) =>
          acc.updated(k, acc.getOrElse(k, 0L) + v)
        }
      }
      def finish(r: Map[String, Long]): Map[String, Long] = r
      def bufferEncoder: Encoder[Map[String, Long]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[String, Long]]()
      def outputEncoder: Encoder[Map[String, Long]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[String, Long]]()
    }

  /** C2/C3/C4: base64 + AES-ECB encrypt/decrypt round trip
    * (testpilot_data.py:98-106 decrypts an AES-ECB, base64-wrapped id).
    * ECB with a fixed key is deterministic, so decrypt(unbase64(base64(
    * encrypt(x)))) == x and the oracle is the identity projection. */
  def aesRoundtrip(s: SparkSession, dir: String): DataFrame = {
    // S4+L1: the key ships as a one-line text file loaded driver-side via
    // textFile().first() — the reference's exact config-read idiom
    // (`sc.textFile(...).take(1)[0]`, testpilot_data.py:97)
    val tmp = java.nio.file.Files.createTempDirectory("graft-key")
    java.nio.file.Files.writeString(tmp.resolve("cliqz_key"),
      "0123456789abcdef\n")
    val keyStr = s.sparkContext.textFile(tmp.resolve("cliqz_key").toString)
      .first()
    val key = lit(keyStr).cast("binary")
    val ct = aes_encrypt(col("c_name").cast("binary"), key, lit("ECB"))
    val roundtrip = aes_decrypt(unbase64(base64(ct)), key, lit("ECB"))
    table(s, dir, "customer")
      .select(col("c_custkey"), roundtrip.cast("string").as("decrypted"))
      .orderBy("c_custkey")
  }

  /** Document fingerprinting: cryptographic (md5/sha256 — byte-identical in
    * any engine) plus the rolling polynomial hash in two formulations:
    * higher-order-function Columns (oracle-matched vs DuckDB list_reduce)
    * and the codegen'd [[graft.functions.PolyHash]] native expression
    * (same value, faster; proven equal here by emitting both). */
  def fingerprints(s: SparkSession, dir: String): DataFrame = {
    val codes = transform(split(col("text"), ""),
      ch => ascii(ch).cast("long"))
    val rolling = aggregate(
      slice(codes, lit(2), greatest(size(codes) - 1, lit(0))),
      element_at(codes, 1),
      (acc, x) => (acc * 31 + x) % 2147483647L)
    table(s, dir, "documents")
      .select(
        col("doc_id"),
        md5(col("text")).as("md5_hex"),
        sha2(col("text"), 256).as("sha256_hex"),
        rolling.as("rolling_fp"),
        expr("poly_hash(text)").as("rolling_fp_native"))
      .orderBy("doc_id")
  }
}
