package graft

import org.apache.spark.sql.execution.FormattedMode

/** Automated plan-shape regression guard over EVERY registered query —
  * the audit a scale review does by hand, encoded as assertions:
  *
  *  - no `CartesianProduct` anywhere (an unconstrained all-pairs join is
  *    always a scale bug in this engine);
  *  - `BroadcastNestedLoopJoin` only where it is the DESIGNED shape: the
  *    labeled O(n²) ground-truth twins (q34/q47) and the
  *    broadcast-small-side weight/centroid/scalar joins (q35/q35b/q48/
  *    q66/q82) — a new one appearing in any other query means a join lost
  *    its equi-keys and must be caught before it ships.
  *
  * Runs on sf0.001 so sweeping every registered query's plan stays cheap
  * (the stream-running queries are skipped, see below); plan SHAPE does
  * not depend on the scale factor (verified across sf0.001/0.01/0.1 in
  * BASELINE.md round-4 notes).
  */
class PlanAuditSpec extends SparkSpec {

  /** Queries where a BroadcastNestedLoopJoin is the intended plan. */
  private val allowedBnlj = Set(
    "q34_cosine_topk",       // exact brute-force ground truth (broadcast queries)
    "q239_snapshot_embeddings", // q34's broadcast-queries exact probe run
                             // over the snapshot scan (ten query rows
                             // broadcast; the corpus side never shuffles)
    "q47_embedding_neardup", // exact all-pairs ground truth twin of q35
    "q35_ann_lsh",           // broadcast plane-weight table
    "q35b_ann_ivf",          // broadcast centroid table
    "q82_ivf_trained",       // broadcast trained-centroid table
    "q48_tfidf_top_terms",   // broadcast scalar n_docs
    "q173_rrf_fusion",       // composes the q170 + q122 leg scans — both
                             // BNLJs inherited from individually
                             // allowlisted designs (the q131 pattern)
    "q183_hybrid_retrieval", // q166's 1-row stats scalar + the q34
                             // broadcast-4-query dense scan — both legs
                             // individually allowlisted shapes; the
                             // fusion join itself is equi full_outer
    "q186_lsh_bucket_audit", // 63-row broadcast shifted-bounds frame
                             // probing the ≤tables-row per-table stats —
                             // the integer-log2 advisor; corpus-sized
                             // work is the equi (t, sig) count shuffle
    "q184_vocab_coverage",   // 8-row broadcast checkpoint frame range-
                             // probing the count HISTOGRAM (≈√corpus
                             // rows under Zipf) — never the corpus; the
                             // corpus-sized stage is the equi type-count
                             // shuffle before it
    "q170_hamming_ann",      // broadcast 10-query signature frame scanned
                             // against 8-byte codes — the designed
                             // binary-ANN scan (q34's ground-truth shape
                             // on the compressed representation)
    "q166_bm25_topk",        // broadcast 1-row corpus-stats scalar frame
                             // (n_docs, sum_dl) — the q48 pattern; the
                             // postings/df/dl joins are all equi
    "q231_unimax_budget",    // two broadcast constant frames: the 1-row
                             // (corpus_tokens, n_langs) scalar feeding
                             // the L-row water-fill (the q48/q166
                             // pattern), and the E-row epoch frame
                             // (E = 2) fanning the corpus into its
                             // epoch-major repeats; the corpus-sized
                             // stages — per-lang token counts and the
                             // kept-prefix windows — are equi shuffles
    "q171_bm25_indexed",     // same stats scalar, read from the 1-row
                             // index table
    "q179_corpus_datasheet", // three 1-row summary frames cross-joined
                             // — the report card IS scalars
    "q180_contrastive_triplets", // broadcast 50-anchor exact scoring
                             // scan — the q34 ground-truth shape
    "q66_heavy_hitters",     // broadcast scalar total
    "q95_ann_rewrite",       // exact ground-truth side (q47 shape) + the
                             // 1-row×1-row stats crossJoin; the bucket
                             // join itself is equi — asserted in
                             // AnnJoinRewriteSpec
    "q110_ngram_logprob",    // broadcast 1-row vocab-size scalar frame
                             // (lazy alternative to a driver collect);
                             // the count joins are equi on gram hashes
    "q111_dsir_score",       // broadcast 1-row gram-total frames (t_total,
                             // r_total) — q110's scalar-frame pattern; the
                             // bucket-count joins are equi on bucket id
    "q189_dsir_resample",    // the q111 scoring chain (same 1-row total
                             // frames) + a sort-limit top-64; nothing new
                             // joins non-equi
    "q192_drift_psi",        // broadcast 1-row totals frame crossJoined
                             // onto the ≤bins-row histogram — the q48
                             // scalar-frame pattern; the bin join is
                             // equi full_outer
    "q114_count_min",        // broadcast 1-row sketch frame probed by
                             // every key — the POINT of a CM sketch (the
                             // fixed-size summary replaces a per-key join)
    "q117_ppl_buckets",      // q110's 1-row vocab scalar + the 1-row
                             // tercile-cuts frame — both broadcast
                             // scalars; every data-sized join is equi
    "q121_pmi_collocations", // broadcast 1-row bigram-total scalar; the
                             // unigram-count joins are equi on the word
    "q122_quantized_topk",   // broadcast-queries all-pairs scan — the
                             // designed q34 ground-truth shape on the
                             // quantized representation
    "q128_phrase_vocab",     // q121's broadcast 1-row bigram-total scalar,
                             // once per merge round; the phrase-table
                             // merge join and unigram joins are equi
    "q131_ann_recall",       // composes q34's ground-truth scan, the
                             // q35/q35b/q82/q122 leg shapes and the 1-row
                             // denominator scalar — every BNLJ inherited
                             // from an individually-allowlisted design
    "q132_ann_lsh_multi",    // broadcast plane-weight table (q35's shape,
                             // 4 tables x 8 planes); the candidate join
                             // is equi on (t, sig)
    "q133_dedup_pair_recall", // the 1-row ground-truth-count scalar frame
                             // (q131's denominator pattern); the truth
                             // and leg joins are all equi on pair keys
    "q134_phrase_tokenize",  // q128's broadcast 1-row bigram-total scalar
                             // per training round; the vocab merge joins
                             // are equi on (tok, nxt)
    "q138_knn_graph",        // broadcast plane-weight table (q132's
                             // shape); the collision self-join, pair
                             // dedup and mutual transpose join are all
                             // equi on (t, sig) / (src, dst)
    "q164_retrieval_metrics", // q131's composed leg shapes + the tiny
                             // 7-method × 10-query metric grid crossJoin
                             // — both sides literal-bounded
    "q216_graph_ann",        // the q138 graph build (broadcast plane
                             // weights) + the 10-query × 8-entry-point
                             // seed crossJoin — both literal-bounded;
                             // every expansion round is an equi join on
                             // the node id and the per-round candidate
                             // side is a designed broadcast (Q·beam·deg
                             // rows)
    "q222_graph_ann_indexed", // q216's search over the PERSISTED graph:
                             // the same 10-query × ≤8-entry seed
                             // crossJoin (entries read from the ≤8-row
                             // snapshot table) plus, on a cold cache,
                             // the q138/centroid build shapes — all
                             // literal-bounded or broadcast by design
    "q223_unigram_train",    // the per-EM-round broadcast 1-row
                             // vocab-total crossJoin (the q110 scalar
                             // pattern); DP steps are equi joins on
                             // (w, i) over the vocabulary-sized frame
    "q224_tokenizer_compare", // q223's chain + the 1-row × 1-row
                             // bpe/unigram stat-frame union — all
                             // scalar-bounded
    "q237_unigram_soft",     // the same per-EM-round broadcast 1-row
                             // vocab-total crossJoin as q223; the
                             // forward–backward DP is one compiled
                             // expression per distinct word
    "q156_hard_negatives",   // q34's designed broadcast-queries scan with
                             // the band filter fused into it — the filter
                             // drops the easy mass at scan time; no
                             // corpus-side shuffle anywhere
    "q194_bitext_margin",    // the two q34-shaped broadcast-queries exact
                             // scans (fwd + bwd top-4) — the labeled
                             // ground-truth twin; margin math and joins
                             // are equi on src/tgt ids, and at scale the
                             // two scans swap for ANN legs unchanged
    "q193_kmv_set_ops",      // q152's src_a < src_b pair frame over the
                             // ≤k-entry KMV sketch table — sources²
                             // rows, bounded by design; the corpus-scale
                             // pass is the mergeable bottom_k aggregate
                             // (no window, no join)
    "q152_source_similarity", // the src_a < src_b PAIR frame over the
                             // sketch table — |mixture domains|² rows of
                             // ≤64-long arrays, bounded by design: the
                             // pair report is over top-level mixture
                             // domains (tens), never raw hosts; the
                             // corpus-scale pass (distinct + rank-k) has
                             // no join at all
    "q200_streaming_drift",  // the (slices × bins) UNIVERSE cross — ≤4
                             // slice rows × ≤bins rows, both tiny by
                             // construction (the keyed q192 full-outer);
                             // the corpus-scale pass is the streaming
                             // count aggregate, the per-slice totals
                             // join is equi
    "q202_jl_ann_recall",    // q34's designed broadcast-10-query exact
                             // scan, both distance legs in the same pass
    "q204_join_cardinality", // 1-row × 1-row sketch crossJoin + the
                             // 4-row × 1-row estimate/exact scalar
                             // frames — the q179 report-card pattern;
                             // the corpus passes are the two mergeable
                             // CM aggregates
    "q206_fk_discovery"      // the col_a ≠ col_b PAIR frame over the
                             // 8-row sketch table (q193's sources² shape
                             // on columns) + ≤cols-row broadcast exact
                             // twins; the corpus-scale pass per column
                             // is the mergeable bottom_k aggregate
  )

  // Queries that RUN streams or write multi-second sinks when invoked —
  // their returned frame is a plain sink read-back (audited trivially) and
  // invoking them here would re-run the stream; the expensive part's shape
  // is covered by their operator specs.
  private val skip = Set(
    "q83_streaming_dedup_batch",
    "q85_streaming_asof_buffered",
    "q86_streaming_heavy_hitters",
    "q93_streaming_ingest",
    "q101_streaming_neardup",
    "q130_streaming_media",
    "q165_stream_static_enrich")

  test("no CartesianProduct; BroadcastNestedLoopJoin only where designed") {
    val offenders = scala.collection.mutable.ListBuffer.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (n, _) => skip(n) }
      .foreach { case (name, fn) =>
        val plan = fn(spark, Sf0001).queryExecution
          .explainString(FormattedMode)
        if (plan.contains("CartesianProduct"))
          offenders += s"$name: CartesianProduct"
        if (plan.contains("BroadcastNestedLoopJoin") && !allowedBnlj(name))
          offenders += s"$name: unexpected BroadcastNestedLoopJoin"
      }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  /** A source line that reads `_log` JSON with a regex: it builds a
    * regex (`".r`) over a `"<key>":` fragment, or spells a key followed
    * by an escaped `[` — a regex-only spelling. */
  private def readsJsonKeyWithRegex(line: String): Boolean =
    (""""\)?\.r\b""".r.findFirstIn(line).isDefined &&
      """\\?":""".r.findFirstIn(line).isDefined) ||
      """":\\\[|\\":\\\\\[""".r.findFirstIn(line).isDefined

  test("no regex reads snapshot-log JSON under graft/io or graft/sources " +
    "(every _log file decodes through graft.io.LogCodec)") {
    // the spellings the removed manifest, bloom and tags readers used
    Seq("private val FilesRe = \"\"\"\"files\":\\[([^\\]]*)\\]\"\"\".r",
        "(\"\\\"\" + k + \"\\\":\\\\[([^\\\\]]*)\\\\]\").r",
        "else \"\"\"\"([^\"]+)\":(\\d+)\"\"\".r",
        "\"\"\"\"action\":\"[a-z]+@txn([A-Za-z0-9_-]+):epoch(-?\\d+)\"\"\"\".r")
      .foreach(l => assert(readsJsonKeyWithRegex(l), l))
    // a parse of the decoded action string's own grammar stays allowed
    assert(!readsJsonKeyWithRegex(
      "private val TxnRe = \"\"\"[a-z]+@txn([A-Za-z0-9_-]+):epoch(-?\\d+)\"\"\".r"))
    val roots = Seq("src/main/scala/graft/io", "src/main/scala/graft/sources")
      .map(new java.io.File(_))
    roots.foreach(r => assert(r.isDirectory, s"missing source root $r"))
    def sources(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(sources)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val hits = for {
      f <- roots.flatMap(sources)
      (line, i) <- new String(java.nio.file.Files.readAllBytes(f.toPath),
        "UTF-8").split("\n").toSeq.zipWithIndex
      if readsJsonKeyWithRegex(line)
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  /** A source line that persists a Dataset (or RDD) itself: a `.cache()`,
    * or a `.persist(` whose receiver is not a [[graft.llm.Rounds]] scope
    * (every scope is bound as `r`). Comments do not count. */
  private def persistsDirectly(line: String): Boolean = {
    val code = line.trim.replaceAll("""\s//.*$""", "")
    !(code.startsWith("//") || code.startsWith("*") || code.startsWith("/*")) &&
      ("""(\w*)\.persist\(""".r.findAllMatchIn(code).exists(_.group(1) != "r") ||
        code.contains(".cache()"))
  }

  /** Direct persists allowed outside `graft/llm/Rounds.scala`, keyed by
    * (source path under src/main/scala, trimmed line), each with its
    * reason. */
  private val allowedPersists = Map(
    ("graft/queries/StreamingQueries.scala",
      "val b = batch.toDF().persist()") ->
      ("q161 persists one micro-batch for its two merges and unpersists " +
        "it before the batch ends"))

  test("no Dataset is persisted outside Rounds (every other frame an " +
    "operator or query computes once is an eager localCheckpoint)") {
    // every spelling of the thirteen direct persists that operators and
    // queries used to hold (several repeat), and a cache()
    Seq("else sh0.repartition(col(\"doc_id\")).persist(storageLevel)",
        "val freq = if (doPersist) freq0.persist(StorageLevel.MEMORY_AND_DISK)",
        "val freq = freq0.persist(StorageLevel.MEMORY_AND_DISK)",
        "else sigd0.persist(storageLevel)",
        ".select(\"doc_a\", \"doc_b\").persist()",
        ".otherwise(\"test\").as(\"split\")).persist()",
        ".persist()",
        ".select(col(\"query_id\"), col(\"neighbor_id\")).persist()",
        ".persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)",
        "val cached = df.cache()")
      .foreach(l => assert(persistsDirectly(l), l))
    // a Rounds static, an unpersist and prose stay allowed
    Seq("val ex = r.persist(vecs",
        "statics.foreach(_.unpersist(blocking = false))",
        "b.unpersist(): Unit",
        "// AQE inside cached plans: without it every .persist() freezes its",
        "* persisted, not checkpointed: .persist() would pin it")
      .foreach(l => assert(!persistsDirectly(l), l))
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"missing source root $root")
    def sources(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(sources)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val found = for {
      f <- sources(root)
      rel = root.toPath.relativize(f.toPath).toString.replace('\\', '/')
      if rel != "graft/llm/Rounds.scala"
      (line, i) <- new String(java.nio.file.Files.readAllBytes(f.toPath),
        "UTF-8").split("\n").toSeq.zipWithIndex
      if persistsDirectly(line)
    } yield ((rel, line.trim), s"$rel:${i + 1}: ${line.trim}")
    val hits = found.filterNot(h => allowedPersists.contains(h._1)).map(_._2)
    assert(hits.isEmpty, hits.mkString("\n"))
    // an allowlist entry whose line is gone is stale
    val stale = allowedPersists.keySet -- found.map(_._1)
    assert(stale.isEmpty, stale.mkString("\n"))
  }
}
