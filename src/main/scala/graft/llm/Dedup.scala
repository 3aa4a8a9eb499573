package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Document deduplication at training-data scale (SURVEY.md §7.3 step 6 /
  * north star): exact, n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * Scale design:
  *  - exact dedup is a hash-groupBy — one shuffle of (fingerprint, id);
  *  - naive pairwise Jaccard is O(n²) and exists as the *oracle-checkable*
  *    ground truth; the scale paths are MinHash-LSH (band-bucket equi-join,
  *    near-linear) and SimHash (bit-band equi-join);
  *  - candidate verification re-joins shingle sets only for candidate
  *    pairs, never all pairs.
  */
object Dedup {

  /** Exact dedup: content fingerprint → keep smallest id, count copies.
    * One hash-shuffle on md5(text); at 100 TB use the fingerprint (not the
    * text) as the shuffle key so shuffled rows stay ~48 bytes. */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("fp"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("dup_count"))
      .select("keep_id", "dup_count", "fp")

  /** Exact pairwise n-gram Jaccard above `threshold` — ground truth for
    * near-dup detection (oracle-checkable, results identical to the naive
    * all-pairs formulation).
    *
    * TWO exact strategies, dispatched on the threshold (both produce
    * identical output — asserted in DedupSpec):
    *
    *  - `threshold < 0.35` → COUNT FILTERING (`jaccardCountFilter`):
    *    at low thresholds the prefix-filter theorem keeps
    *    (1-J)·|d|+1 ≈ 90% of every document's postings (J=0.1), so
    *    prefix filtering pays the ranking window, the candidate
    *    distinct and two verify joins to prune ~19% of join rows. The
    *    count-filter join skips all of that: the per-pair match count
    *    IS |A∩B|, so Jaccard = I/(|A|+|B|-I) is computed EXACTLY from
    *    the aggregated count — no verify join exists unless the hot-df
    *    cap is active. Measured at the q31 setting (J=0.1, sf0.1):
    *    2.8 → ~1.9 s; at 100× (500k docs): 126 → 34 s (wall ratio at
    *    100× data drops 44× → ~17×).
    *
    *  - `threshold ≥ 0.35` → PPJoin-style prefix filtering: order each
    *    document's shingles by ascending global document-frequency
    *    (rare first); any pair with Jaccard ≥ J must share a shingle
    *    inside both docs' prefixes of length |d| - floor(J·|d|) + 1
    *    (prefix-filter theorem, floor kept conservative against fp
    *    error). At high thresholds the prefix is short — J=0.9 prunes
    *    ~99% of join rows, far ahead of count filtering's full Σdf².
    *    The pair-explosive frequent shingles live in the suffixes and
    *    never generate candidates; candidates are verified exactly on
    *    the full (hashed) shingle sets.
    *
    * Shingles are compared by xxhash64 — a 64-bit collision (~1e-11 at
    * corpus vocabulary sizes) could merge two shingles; acceptable for
    * near-dup detection. */
  def ngramJaccardPairs(docs: DataFrame, n: Int, threshold: Double,
                        storageLevel: StorageLevel =
                          StorageLevel.MEMORY_AND_DISK): DataFrame =
    if (threshold < 0.35) jaccardCountFilter(docs, n, threshold, storageLevel)
    else jaccardPrefixFilter(docs, n, threshold, storageLevel)

  /** Count-filter strategy for [[ngramJaccardPairs]] — see the dispatch
    * doc there. Same candidate-join shape and `maxDf` skew guard as
    * [[containmentPairs]]; the difference is that with no hot shingle in
    * the corpus (the overwhelmingly common case — the cap exists for
    * template floods) the aggregated match count is EXACTLY |A∩B|, so
    * the Jaccard is computed from the count and the plan runs ZERO
    * doc-level joins: sz_a/sz_b ride through the pair groupBy, so the
    * (largest-in-the-query) pair frame is never shuffled again.
    *
    * EAGER ACTION AT CONSTRUCTION (deliberate, measured): whether a hot
    * shingle exists is probed with one df-aggregation job when the
    * DataFrame is BUILT — merely constructing this plan (e.g. the
    * Plans.scala explain sweep) runs that job. The lazy alternative —
    * one unconditional plan joining a per-doc hot-shingle allowance onto
    * the pair frame, [[containmentPairs]]-style — was built and measured
    * in round 7: +10% at sf0.1 and 2.2× SLOWER at 100× (50 → 112 s),
    * because the no-hot fast path's zero-join property is exactly what
    * the allowance joins destroy (two extra shuffles of the pair frame,
    * paid always, needed only when the cap trips). The df frame is
    * persisted so the probe's aggregation is REUSED by the hot branch
    * (the old double postings pass is gone) and released immediately on
    * the cold branch. */
  private[llm] def jaccardCountFilter(docs: DataFrame, n: Int,
                                      threshold: Double,
                                      storageLevel: StorageLevel,
                                      maxDf: Int = 1 << 12): DataFrame = {
    val sh0 = Par.fanOutScan(docs)
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        TextAnalysis.hashedShinglesFromTokens(col("toks"), n).as("sh"))
    val sh = if (storageLevel == StorageLevel.NONE) sh0
             else sh0.repartition(col("doc_id")).persist(storageLevel)
    // sz = |FULL shingle set| (hot included), carried through the explode
    val ex = sh.select(col("doc_id"), size(col("sh")).cast("long").as("sz"),
      explode(col("sh")).as("sg"))
    // persisted so the eager hot probe below and the hot branch share ONE
    // postings aggregation. StorageLevel.NONE opts out of ALL persistence
    // in this operator (callers managing memory themselves) — the hot
    // branch then recomputes the df frame, the documented price of the
    // opt-out. On the hot branch the persisted frame stays cached until
    // the returned query consumes it (the hot-list broadcasts); that
    // retained cache is part of the contract, same as `sh`'s persist.
    val doPersist = storageLevel != StorageLevel.NONE
    val freq0 = ex.groupBy("sg").agg(count(lit(1)).as("df"))
    val freq = if (doPersist) freq0.persist(StorageLevel.MEMORY_AND_DISK)
               else freq0
    val hot = freq.where(col("df") > maxDf).select("sg")
    val hotEmpty = hot.isEmpty // the documented eager probe
    if (hotEmpty && doPersist) freq.unpersist()
    val cold =
      if (hotEmpty) ex else ex.join(broadcast(hot), Seq("sg"), "left_anti")
    // sz functionally depends on doc_id — grouping by it rides along free
    val inter = cold.as("a").join(cold.as("b"),
        col("a.sg") === col("b.sg") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.sz").as("sz_a"), col("b.sz").as("sz_b"))
      .agg(count(lit(1)).as("inter"))
    if (hotEmpty) {
      // inter IS |A∩B|: Jaccard exact from the count, no verify stage
      val jac = col("inter").cast("double") /
        (col("sz_a") + col("sz_b") - col("inter")).cast("double")
      inter.withColumn("jac", jac)
        .where(col("jac") >= threshold)
        .select(col("doc_a"), col("doc_b"), round(col("jac"), 4).as("jaccard"))
    } else {
      // cap active: visible inter undercounts by at most
      // min(hot_a, hot_b); jac(I) = I/(A+B-I) is increasing in I, so the
      // relaxed integral bound I + allow >= J/(1+J)·(A+B) - 0.5 admits
      // every true pair the allowance can explain; verify on FULL
      // shingle sets restores exact values (same contract as
      // containmentPairs — only zero-cold-shared template pairs can be
      // lost, and only while the cap is tripping)
      val hotCnt = ex.join(broadcast(hot), "sg")
        .groupBy("doc_id").agg(count(lit(1)).as("hot_cnt"))
      val jf = threshold / (1.0 + threshold)
      val cand = inter
        .join(hotCnt.select(col("doc_id").as("doc_a"),
          col("hot_cnt").as("hot_a")), Seq("doc_a"), "left")
        .join(hotCnt.select(col("doc_id").as("doc_b"),
          col("hot_cnt").as("hot_b")), Seq("doc_b"), "left")
        .where((col("inter") +
          least(coalesce(col("hot_a"), lit(0L)),
                coalesce(col("hot_b"), lit(0L)))).cast("double") >=
          (col("sz_a") + col("sz_b")) * jf - 0.5)
        .select("doc_a", "doc_b")
      val verified = cand
        .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")),
          "doc_a")
        .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")),
          "doc_b")
        .withColumn("i", org.apache.spark.sql.graft.ColumnBridge.column(
          graft.functions.SortedIntersectCount(
            org.apache.spark.sql.graft.ColumnBridge.expression(col("sh_a")),
            org.apache.spark.sql.graft.ColumnBridge.expression(col("sh_b")))))
        .withColumn("jac", col("i").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("i")).cast("double"))
      verified.where(col("jac") >= threshold)
        .select(col("doc_a"), col("doc_b"), round(col("jac"), 4).as("jaccard"))
    }
  }

  /** Prefix-filter strategy for [[ngramJaccardPairs]] — see the dispatch
    * doc there. */
  private[llm] def jaccardPrefixFilter(docs: DataFrame, n: Int,
                                       threshold: Double,
                                       storageLevel: StorageLevel): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh0 = Par.fanOutScan(docs)
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        TextAnalysis.hashedShinglesFromTokens(col("toks"), n).as("sh"))
    // consumed by candidate generation AND both verify joins
    val sh = if (storageLevel == StorageLevel.NONE) sh0
             else sh0.repartition(col("doc_id")).persist(storageLevel)
    // carry |doc| through the explode — a count() window would cost a
    // second full sort of the postings (different window spec than the
    // ranking window below)
    val ex = sh.select(col("doc_id"), size(col("sh")).cast("long").as("sz"),
      explode(col("sh")).as("sg"))
    val freq = ex.groupBy("sg").agg(count(lit(1)).as("df"))
    val wDoc = Window.partitionBy("doc_id")
    val ranked = ex.join(freq, "sg")
      .withColumn("rn", row_number().over(wDoc.orderBy(col("df"), col("sg"))))
    val prefix = ranked.where(
      col("rn") <= col("sz") - floor(col("sz") * threshold).cast("long") + 1)
    // two filters inside the candidate join, both BEFORE the distinct:
    //  - length: jaccard >= J implies min(|A|,|B|) >= J * max(|A|,|B|)
    //  - positional (PPJoin): a shared shingle at ranks (rn_a, rn_b) of
    //    the same global rare-first order bounds the intersection by
    //    1 + min(sz_a - rn_a, sz_b - rn_b); jaccard >= J needs
    //    inter >= J/(1+J) * (sz_a + sz_b). The earliest shared occurrence
    //    of a true pair always passes (no shared shingles precede it), so
    //    no true pair is lost; pairs sharing only late-prefix shingles
    //    are pruned before they cost a shuffle row.
    val jf = threshold / (1.0 + threshold)
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.sg") === col("b.sg") && col("a.doc_id") < col("b.doc_id") &&
        col("a.sz") >= col("b.sz") * threshold &&
        col("b.sz") >= col("a.sz") * threshold &&
        lit(1) + least(col("a.sz") - col("a.rn"), col("b.sz") - col("b.rn")) >=
          ceil((col("a.sz") + col("b.sz")) * jf))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val verified = cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      // arrays are sorted+distinct → linear merge, no per-pair allocation
      .withColumn("inter", org.apache.spark.sql.graft.ColumnBridge.column(
        graft.functions.SortedIntersectCount(
          org.apache.spark.sql.graft.ColumnBridge.expression(col("sh_a")),
          org.apache.spark.sql.graft.ColumnBridge.expression(col("sh_b")))))
      .withColumn("jac", col("inter").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")).cast("double"))
    verified.where(col("jac") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jac"), 4).as("jaccard"))
  }

  /** Exact pairwise n-gram CONTAINMENT above `threshold`:
    * |A∩B| / min(|A|,|B|) — the asymmetric overlap measure that catches a
    * short document embedded in a long one, which Jaccard structurally
    * misses (the union term dilutes any size-mismatched pair below
    * threshold, and [[ngramJaccardPairs]]' size-ratio prune explicitly
    * discards them).
    *
    * Candidate generation is COUNT FILTERING (the SSJoin family's count
    * filter, Arasu/Ganti/Kaushik VLDB'06): self-join the postings on the
    * shingle and aggregate the match count per (doc_a, doc_b) — that count
    * IS |A∩B| (shingle sets are distinct per doc), so the containment
    * predicate `inter ≥ t·min(|A|,|B|)` is applied exactly, before any
    * per-pair array work. This replaced a PPJoin-style prefix×postings
    * join + distinct: at containment t the smaller doc's prefix is
    * (1-t)·|S|+1 long — for t=0.5 HALF the postings — so prefix filtering
    * barely prunes, while the distinct materialized every ≥1-shared-shingle
    * pair (~1.1M at sf0.1 for ~10k true candidates) and two full-array
    * verify joins followed. Count filtering shuffles the same
    * postings-squared join rows but collapses them map-side into one row
    * per co-shingling pair, and the threshold then kills 99% of pairs
    * before the verify join. (A bottom-k sketch prefilter cuts one side
    * of the postings join to k rows/doc at the price of probabilistic
    * recall — it exists as the opt-in scale path
    * [[containmentPairsSketch]]; this exact path stays the default
    * because the oracle tolerates no recall loss.)
    *
    * Skew guard (`maxDf`, mirroring `dropHotBuckets`): a shingle with
    * document frequency df contributes df² join rows ON ONE KEY — a single
    * boilerplate shingle with df ≈ corpus size turns the candidate join
    * quadratic on one reducer. Shingles with df > maxDf are excluded from
    * the count join via an anti-join against the tiny broadcast hot list,
    * and each doc's hot-shingle count is folded back as a per-pair
    * ALLOWANCE: true inter ≤ visible inter + min(hot_a, hot_b), so the
    * prefilter keeps every pair the relaxed bound admits and the verify
    * stage (FULL shingle sets, hot included) restores exact values. The
    * only pairs an active cap can lose are those sharing ZERO below-cap
    * shingles — pure template boilerplate that exact dedup (q30) should
    * collapse first. Below the cap the output is IDENTICAL to the
    * unguarded join (asserted in DedupSpec).
    *
    * Default `maxDf` = 4096 is MEASURED, not guessed
    * ([[graft.tools.CapFlood]], 500k-doc corpus, BASELINE.md round 6):
    * a shingle at df generates df²/2 rows through one join key AND one
    * partial-agg hash map — df=4096 cost ~12 s of single-key work
    * (8.4M rows), df=16384 ~255 s (134M rows), df=32768 ~969 s (537M
    * rows, MEASURED under the old 65536 default, which admits it), and
    * a shingle at that old cap itself (2.1B rows) extrapolates to ~70
    * MINUTES on one reducer — a stalled stage, not a tuning knob. Real-corpus dfs sit orders of magnitude
    * below the cap (max trigram df at sf0.1 is 25); raise it only with
    * AQE skew-join verified to split the key, and never near 2^16. */
  def containmentPairs(docs: DataFrame, n: Int, threshold: Double,
                       storageLevel: StorageLevel =
                         StorageLevel.MEMORY_AND_DISK,
                       maxDf: Int = 1 << 12): DataFrame = {
    val (sh, ex, freq) = shingleFrames(docs, n, storageLevel)
    containmentPairsCore(sh, ex, freq, threshold, maxDf)
  }

  /** Shared front half of the containment family: persisted per-doc
    * shingle sets, exploded postings, and the global df frame — built
    * once so [[crossContamination]]'s routing probe and whichever
    * candidate path it picks reuse the same frames. */
  private def shingleFrames(docs: DataFrame, n: Int,
                            storageLevel: StorageLevel)
      : (DataFrame, DataFrame, DataFrame) = {
    val sh0 = Par.fanOutScan(docs)
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        TextAnalysis.hashedShinglesFromTokens(col("toks"), n).as("sh"))
    val sh = if (storageLevel == StorageLevel.NONE) sh0
             else sh0.repartition(col("doc_id")).persist(storageLevel)
    val ex = sh.select(col("doc_id"), explode(col("sh")).as("sg"))
    val freq = ex.groupBy("sg").agg(count(lit(1)).as("df"))
    (sh, ex, freq)
  }

  private def containmentPairsCore(sh: DataFrame, ex: DataFrame,
                                   freq: DataFrame, threshold: Double,
                                   maxDf: Int): DataFrame = {
    val hot = freq.where(col("df") > maxDf).select("sg")
    val cold = ex.join(broadcast(hot), Seq("sg"), "left_anti")
    // per-doc size and hot-shingle count: one narrow row per doc (NOT
    // force-broadcast — at corpus scale it's |docs| rows; AQE broadcasts
    // it when it fits)
    val hotCnt = ex.join(broadcast(hot), "sg")
      .groupBy("doc_id").agg(count(lit(1)).as("hot_cnt"))
    val meta = sh.select(col("doc_id"), size(col("sh")).cast("long").as("sz"))
      .join(hotCnt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("sz"),
        coalesce(col("hot_cnt"), lit(0L)).as("hot_cnt"))
    val inter = cold.as("a").join(cold.as("b"),
        col("a.sg") === col("b.sg") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter_lb"))
    val cand = inter
      .join(meta.select(col("doc_id").as("doc_a"),
        col("sz").as("sz_a"), col("hot_cnt").as("hot_a")), "doc_a")
      .join(meta.select(col("doc_id").as("doc_b"),
        col("sz").as("sz_b"), col("hot_cnt").as("hot_b")), "doc_b")
      // fp-conservative: LHS is integral, so relaxing the double RHS by
      // 0.5 admits any pair an ulp from the boundary (a non-dyadic
      // threshold, e.g. 0.8, can make sz*threshold land an ulp ABOVE the
      // exact integer product and drop a boundary pair the divided-form
      // verify would keep); the exact verify below restores the threshold.
      .where((col("inter_lb") + least(col("hot_a"), col("hot_b")))
        .cast("double") >= least(col("sz_a"), col("sz_b")) * threshold - 0.5)
      .select("doc_a", "doc_b")
    val verified = cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("inter", org.apache.spark.sql.graft.ColumnBridge.column(
        graft.functions.SortedIntersectCount(
          org.apache.spark.sql.graft.ColumnBridge.expression(col("sh_a")),
          org.apache.spark.sql.graft.ColumnBridge.expression(col("sh_b")))))
      .withColumn("containment", col("inter").cast("double") /
        least(size(col("sh_a")), size(col("sh_b"))).cast("double"))
    verified.where(col("containment") >= threshold)
      .select(col("doc_a"), col("doc_b"),
        round(col("containment"), 4).as("containment"))
  }

  /** Opt-in SCALE PATH for [[containmentPairs]]: a bottom-k sketch
    * prefilter (Broder's bottom-k / KMV family) that cuts one side of the
    * candidate join from |shingles| rows/doc to `k` rows/doc.
    *
    * Each document's sketch is its k smallest shingle hashes (the shingle
    * arrays are already ascending, so the sketch is a prefix slice — no
    * extra sort). Candidate generation joins SKETCH postings (k rows/doc)
    * against FULL postings: pair (a,b) becomes a candidate iff some
    * bottom-k shingle of either doc occurs anywhere in the other. The
    * verify stage is UNCHANGED — full shingle sets, exact containment —
    * so every emitted pair carries its exact value and satisfies the
    * threshold; what is probabilistic is RECALL only. For a true pair
    * with containment c, the smaller doc's bottom-k misses the
    * intersection with probability ~(1-c)^k (hash order is uniform, so
    * the intersection is a uniformly-ranked subset): at c=0.5, k=32
    * that is ~2^-32 per pair — and the hash family is fixed, so a given
    * corpus either finds a pair or not, deterministically.
    *
    * Why this scales where the exact count filter eventually doesn't: the
    * count filter shuffles df² join rows per shingle (every co-occurrence
    * of every shingle); the sketch join shuffles df·min(df,·) rows only
    * for shingles that are in SOME doc's bottom-k — total join input is
    * k·|docs| sketch rows against the postings, linear in the corpus for
    * fixed k. The same `maxDf` hot-shingle guard applies (hot shingles
    * are excluded from both sketch and postings before the join — a hot
    * shingle in a bottom-k would re-create the df² blowup).
    *
    * Gated as q96 with an accuracy-flag oracle (q46 pattern): the gate
    * recomputes the EXACT pairs and asserts the sketch found every one. */
  def containmentPairsSketch(docs: DataFrame, n: Int, threshold: Double,
                             k: Int = 32,
                             storageLevel: StorageLevel =
                               StorageLevel.MEMORY_AND_DISK,
                             maxDf: Int = 1 << 12): DataFrame = {
    val (sh, ex, freq) = shingleFrames(docs, n, storageLevel)
    containmentPairsSketchCore(sh, ex, freq, threshold, k, maxDf)
  }

  /** BOTH containment paths over ONE set of shingle frames — for audits
    * that compare the exact count-filter result against the bottom-k
    * sketch (q96): calling [[containmentPairs]] and
    * [[containmentPairsSketch]] separately tokenizes, shingles, persists
    * and df-counts the corpus twice; the shared front half is
    * path-independent, so the audit pays it once. Each returned frame is
    * value-identical to its standalone builder (same cores, same
    * frames). */
  def containmentPairsBoth(docs: DataFrame, n: Int, threshold: Double,
                           k: Int = 32,
                           storageLevel: StorageLevel =
                             StorageLevel.MEMORY_AND_DISK,
                           maxDf: Int = 1 << 12)
      : (DataFrame, DataFrame) = {
    val (sh, ex, freq) = shingleFrames(docs, n, storageLevel)
    (containmentPairsCore(sh, ex, freq, threshold, maxDf),
      containmentPairsSketchCore(sh, ex, freq, threshold, k, maxDf))
  }

  private def containmentPairsSketchCore(sh: DataFrame, ex: DataFrame,
                                         freq: DataFrame, threshold: Double,
                                         k: Int, maxDf: Int): DataFrame = {
    val hot = freq.where(col("df") > maxDf).select("sg")
    val cold = ex.join(broadcast(hot), Seq("sg"), "left_anti")
    // bottom-k of the COLD shingles per doc: the shingle array is sorted
    // ascending, so rank-by-value == array position; a per-doc ranking
    // window (narrow (doc_id, sg) rows) keeps this shuffle-light
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("sg")
    val sketch = cold
      .withColumn("rn", row_number().over(wDoc))
      .where(col("rn") <= k)
      .select("doc_id", "sg")
    val cand = sketch.as("a").join(cold.as("b"),
        col("a.sg") === col("b.sg") && col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      .distinct()
    val verified = cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("inter", org.apache.spark.sql.graft.ColumnBridge.column(
        graft.functions.SortedIntersectCount(
          org.apache.spark.sql.graft.ColumnBridge.expression(col("sh_a")),
          org.apache.spark.sql.graft.ColumnBridge.expression(col("sh_b")))))
      .withColumn("containment", col("inter").cast("double") /
        least(size(col("sh_a")), size(col("sh_b"))).cast("double"))
    verified.where(col("containment") >= threshold)
      .select(col("doc_a"), col("doc_b"),
        round(col("containment"), 4).as("containment"))
  }

  /** C4-style LINE-level deduplication: across the whole corpus, keep
    * only the FIRST occurrence of every distinct line (first = smallest
    * (doc_id, position) lexicographically — deterministic and
    * engine-independent), then reassemble each document from its
    * surviving lines in original order. This is the pass that strips
    * boilerplate repeated across pages (nav bars, license headers,
    * cookie banners) that document-level dedup cannot touch — the C4
    * "three-sentence span" / RefinedWeb line-dedup family, modeled at
    * line granularity.
    *
    * `lines` is an array-of-string column (real corpora:
    * `split(col("text"), "\n")`; corpora without line structure can
    * manufacture deterministic fixed-width segments — see q97).
    *
    * Scale shape: one posexplode, one groupBy-min on the line hash (the
    * shuffle carries (md5, doc_id, pos) — the line TEXT shuffles only in
    * the reassembly groupBy, which is corpus-linear), one equi-join, one
    * per-doc reassembly aggregation. No self-joins, no windows over the
    * corpus; skew on a mega-duplicated line is absorbed by the partial
    * min (map-side combine leaves one row per line per partition).
    *
    * Output: (doc_id, text, n_lines, n_kept) — documents whose every
    * line was seen earlier come back with empty text, which a downstream
    * quality filter drops. */
  def dedupLines(docs: DataFrame, lines: Column,
                 delim: String = "\n"): DataFrame = {
    val ex = docs.select(col("doc_id"), posexplode(lines).as(Seq("pos", "line")))
    // first occurrence per distinct line content, keyed by md5 so the
    // wide line string stays OUT of the first-occurrence shuffle
    val first = ex
      .groupBy(md5(col("line")).as("lh"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("first"))
      .select(col("first.doc_id").as("doc_id"), col("first.pos").as("pos"))
    val kept = ex.join(first, Seq("doc_id", "pos"), "left_semi")
    docs.select(col("doc_id"), size(lines).cast("long").as("n_lines"))
      .join(kept.groupBy("doc_id")
          .agg(sort_array(collect_list(struct(col("pos"), col("line"))))
            .as("ps")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(
          array_join(transform(col("ps"), p => p.getField("line")), delim),
          lit("")).as("text"),
        col("n_lines"),
        coalesce(size(col("ps")), lit(0)).cast("long").as("n_kept"))
  }

  /** Exact duplicate-SUBSTRING span detection (the ExactSubstr family of
    * Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    * Better"): find, for every document, the maximal token spans that are
    * part of some substring of >= `l` tokens occurring at least
    * `minCount` times corpus-wide (within-document repeats count —
    * a doc that repeats its own boilerplate twice is a duplicate).
    *
    * Characterization that makes this distributable: token t lies inside
    * a duplicated substring of length >= l  <=>  t is covered by an
    * l-gram whose corpus occurrence count is >= 2. So the suffix array
    * of the single-node reference algorithm is re-expressed as l-gram
    * POSTINGS — (gram hash, doc, start position) — one compiled pass per
    * document ([[graft.functions.PositionalShingles]]), then:
    *
    *  1. occurrence count per gram hash (one shuffle of 24-byte rows,
    *     map-side partial agg absorbs hot grams — a boilerplate sentence
    *     duplicated a million times costs ONE row per partition, never a
    *     df² self-join; this family needs no hot-key cap at all);
    *  2. left-semi join postings against duplicated hashes (runtime
    *     bloom-filter prunes the probe side map-side);
    *  3. per-document island merge of the flagged starts: starts s1 < s2
    *     with s2 - s1 <= l have overlapping-or-adjacent windows
    *     [s, s+l), so a lag/cumsum window PARTITIONED BY doc (bounded by
    *     document length, never corpus-wide) yields maximal merged spans.
    *
    * Positions are 1-based token indices; `span_end` is inclusive.
    * Gram identity is the 64-bit compiled shingle hash — two distinct
    * grams collide with probability ~G²/2^65 corpus-wide (the same
    * standard trade-off documented on [[minHashSignatures]]); the
    * [[ngramJaccardPairs]]/[[crossContamination]] exact family runs on
    * the identical keys.
    *
    * Output: (doc_id, span_start, span_end, span_tokens). */
  def duplicateSpans(docs: DataFrame, l: Int,
                     minCount: Long = 2): DataFrame = {
    require(l >= 1, "span gram width must be >= 1")
    require(minCount >= 2, "a substring is duplicated at count >= 2")
    val grams = positionalGrams(docs, l)
    val dup = grams.groupBy("g").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= minCount).select("g")
    mergeSpanIslands(grams.join(dup, Seq("g"), "left_semi"), l)
  }

  /** Positional l-gram postings of `docs`: (doc_id, pos, g) with 1-based
    * token positions and the compiled 64-bit gram hash — the shared front
    * of [[duplicateSpans]] and [[contaminatedSpans]]. */
  private def positionalGrams(docs: DataFrame, l: Int): DataFrame =
    docs
      .select(col("doc_id"),
        posexplode(org.apache.spark.sql.graft.ColumnBridge.column(
          graft.functions.PositionalShingles(
            org.apache.spark.sql.graft.ColumnBridge.expression(
              TextAnalysis.tokens(col("text"))), l)))
          .as(Seq("pos0", "g")))
      .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"),
        col("g"))

  /** Merge flagged l-gram start positions into maximal covered spans:
    * starts s1 < s2 with s2 - s1 <= l have overlapping-or-adjacent
    * windows [s, s+l), so a lag/cumsum window PARTITIONED BY doc
    * (bounded by document length, never corpus-wide) yields the islands.
    * Output: (doc_id, span_start, span_end, span_tokens). */
  private def mergeSpanIslands(flagged: DataFrame, l: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    flagged
      .withColumn("brk",
        when(col("pos") - lag("pos", 1).over(w) <= l, lit(0L))
          .otherwise(lit(1L)))
      .withColumn("island", sum("brk").over(w))
      .groupBy(col("doc_id"), col("island"))
      .agg(min("pos").as("span_start"),
        (max("pos") + (l - 1)).as("span_end"),
        (max("pos") + l - min("pos")).as("span_tokens"))
      .drop("island")
  }

  /** Contaminated-SPAN localization: for every corpus document, the
    * maximal token spans covered by an l-gram that also occurs anywhere
    * in the benchmark set — the span-level refinement of document-level
    * decontamination (GPT-3 appendix C and Lee et al. 2022 remove or
    * redact the OVERLAPPING text rather than whole documents; the l=13
    * default is the GPT-3 filter's n-gram width). Where
    * [[bloomDecontamination]] answers "which documents overlap the
    * benchmark", this answers "which exact character of them" — the
    * input a surgical redaction pass needs.
    *
    * Scale shape (the corpus side is the 100 TB side, the benchmark is
    * eval sets — MBs):
    *
    *  1. benchmark l-gram set: distinct over the SMALL side only;
    *  2. doc-level Bloom prefilter AT THE SCAN (the q105 asymmetry):
    *     benchmark grams → driver-built Bloom broadcast as a literal,
    *     `exists(grams, might_contain)` prunes clean documents before
    *     any explode — the overwhelmingly common case pays one compiled
    *     pass and no shuffle;
    *  3. survivors posexplode to positional postings and left-semi join
    *     the exact benchmark gram set (false-positive docs from the
    *     Bloom die here; Spark's runtime bloom prunes map-side);
    *  4. the [[duplicateSpans]] island merge, per-document windows only.
    *
    * Output: (doc_id, span_start, span_end, span_tokens) — 1-based
    * inclusive token positions in the corpus document. */
  def contaminatedSpans(corpus: DataFrame, benchmark: DataFrame, l: Int,
                        fpp: Double = 0.01): DataFrame = {
    require(l >= 1, "span gram width must be >= 1")
    val bg = benchmark
      .select(explode(org.apache.spark.sql.graft.ColumnBridge.column(
        graft.functions.PositionalShingles(
          org.apache.spark.sql.graft.ColumnBridge.expression(
            TextAnalysis.tokens(col("text"))), l))).as("g"))
      .distinct()
    val nGrams = math.max(1L, bg.count()) // small-side-only action
    val bf = bg.stat.bloomFilter("g", nGrams, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    val bfLit = lit(bos.toByteArray)
    import org.apache.spark.sql.graft.ColumnBridge
    def mightContain(v: Column): Column = ColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        ColumnBridge.expression(bfLit), ColumnBridge.expression(v)))
    val candidates = corpus.where(exists(
      ColumnBridge.column(graft.functions.PositionalShingles(
        ColumnBridge.expression(TextAnalysis.tokens(col("text"))), l)),
      g => mightContain(g)))
    val flagged = positionalGrams(candidates, l)
      .join(bg, Seq("g"), "left_semi")
    mergeSpanIslands(flagged, l)
  }

  /** Remove every duplicated span found by [[duplicateSpans]] from every
    * document — the aggressive all-occurrence variant of substring dedup
    * (Lee et al. 2022 §4 cut duplicated spans out of training sequences;
    * which single occurrence, if any, to spare is a policy layered on
    * the same span set, and sparing none is the conservative choice for
    * contamination-sensitive corpora). Documents reassemble from their
    * surviving tokens in order; fully-duplicated documents come back
    * with empty text for a downstream quality filter to drop, mirroring
    * [[dedupLines]].
    *
    * Scale shape: [[duplicateSpans]] + one per-doc span aggregation
    * (span count per doc is bounded by len/l) + one equi-join back to
    * the corpus + a compiled-free per-row token filter. No new shuffles
    * beyond the span pass except the final doc_id join.
    *
    * Output: (doc_id, text, n_tokens, n_kept). */
  def stripDuplicateSpans(docs: DataFrame, l: Int,
                          minCount: Long = 2): DataFrame = {
    val spans = duplicateSpans(docs, l, minCount)
      .groupBy("doc_id")
      .agg(collect_list(struct(col("span_start"), col("span_end")))
        .as("sp"))
    docs
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("t"))
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"), col("t"),
        coalesce(col("sp"),
          array().cast("array<struct<span_start:long,span_end:long>>"))
          .as("sp"))
      .select(col("doc_id"),
        filter(col("t"), (_, i) => !exists(col("sp"),
          s => (i + 1).between(
            s.getField("span_start"), s.getField("span_end"))))
          .as("kept"),
        size(col("t")).cast("long").as("n_tokens"))
      .select(col("doc_id"),
        array_join(col("kept"), " ").as("text"),
        col("n_tokens"),
        size(col("kept")).cast("long").as("n_kept"))
  }

  /** [[exact]] over [[TextAnalysis.normalizeForDedup]]ed text: collapses
    * case / punctuation / whitespace variants of the same content into
    * one group — the standard normalization pass in front of exact dedup
    * (raw fingerprints treat "Hello, world" and "hello world" as
    * distinct). Same one-shuffle shape; `fp` is the md5 of the NORMALIZED
    * text. */
  def exactNormalized(docs: DataFrame): DataFrame =
    exact(docs.withColumn("text",
      TextAnalysis.normalizeForDedup(col("text"))))

  /** Candidate-path routing for [[crossContamination]]. */
  sealed trait Route
  /** Always the exact count-filter path ([[containmentPairs]]). */
  case object ExactRoute extends Route
  /** Always the bottom-k sketch path ([[containmentPairsSketch]]) —
    * recall becomes probabilistic, emitted values stay exact. */
  case object SketchRoute extends Route
  /** Probe the measured df distribution and pick the cheaper path —
    * see [[postingsMeanDf]] for the statistic and its calibration. */
  case object AutoRoute extends Route

  /** The [[AutoRoute]] statistic: the postings-weighted mean document
    * frequency Σdf²/Σdf over below-cap shingles — the expected df of the
    * shingle under a random posting, i.e. the expected number of join
    * rows each posting generates in the exact count-filter candidate
    * join. The sketch path replaces that per-posting fan-out with k
    * rows/doc, so it pays when this statistic is large. Calibrated with
    * [[graft.tools.DfStat]] on the round-6 BASELINE.md corpora (where
    * the exact-vs-sketch crossover was measured directly): the 10×/100×
    * disjoint corpora (exact faster) measure 10.7; the 10×
    * duplication-flood corpus (sketch faster) measures 107.2 — the
    * default threshold 32 is the geometric mean of the two regimes. */
  private[graft] def postingsMeanDf(freq: DataFrame, maxDf: Int): Double = {
    // df cast to double BEFORE the multiply: Σdf² in LongType can exceed
    // Long.MaxValue at the 100 TB design point (up to maxDf²·|shingles|),
    // silently wrapping (non-ANSI) or throwing (ANSI) — either corrupts
    // the routing decision; fp accumulation error is irrelevant at the
    // threshold's granularity
    val r = freq.where(col("df") <= maxDf)
      .agg(sum(col("df").cast("double") * col("df")),
        sum(col("df")).cast("double"))
      .head()
    if (r.isNullAt(1) || r.getDouble(1) == 0.0) 0.0
    else r.getDouble(0) / r.getDouble(1)
  }

  /** Benchmark decontamination: which `corpus` documents share ≥
    * `threshold` n-gram containment with ANY `benchmark` document — the
    * check a training pipeline runs before shipping a corpus that might
    * swallow its own eval set. Both frames need (doc_id, text) with
    * globally distinct ids (a hash split guarantees this).
    *
    * Implementation: one side-tagged union through the containment
    * candidate machinery (count-filter candidate generation, hot-shingle
    * allowance and `maxDf` guard), then cross-side pairs only — corpus-internal and
    * benchmark-internal near-dups are not contamination. Output:
    * (corpus_doc, benchmark_doc, containment).
    *
    * `route` picks the candidate path. The default [[AutoRoute]]
    * dispatches on the MEASURED df statistic ([[postingsMeanDf]]) rather
    * than a caller guess — round 6 measured that the bottom-k sketch
    * pays only in high-df regimes, so the engine now routes on the
    * number it measured. The probe is one narrow aggregate over the df
    * frame (persisted, shared with the chosen path's hot-shingle guard)
    * — an eager action by necessity: two physically different plans
    * cannot be chosen without looking at the data. Callers that know
    * their regime pin [[ExactRoute]] (oracle-exact recall, the gate
    * default via auto on low-df corpora) or [[SketchRoute]]. */
  def crossContamination(corpus: DataFrame, benchmark: DataFrame, n: Int,
                         threshold: Double, maxDf: Int = 1 << 12,
                         route: Route = AutoRoute,
                         sketchMeanDf: Double = 32.0): DataFrame = {
    val tagged = corpus.select(col("doc_id"), col("text"))
      .withColumn("side", lit("C"))
      .unionByName(benchmark.select(col("doc_id"), col("text"))
        .withColumn("side", lit("B")))
    val sides = tagged.select("doc_id", "side")
    val (sh, ex, freq0) = shingleFrames(tagged.select("doc_id", "text"), n,
      StorageLevel.MEMORY_AND_DISK)
    val pairs = route match {
      case ExactRoute =>
        containmentPairsCore(sh, ex, freq0, threshold, maxDf)
      case SketchRoute =>
        containmentPairsSketchCore(sh, ex, freq0, threshold, 32, maxDf)
      case AutoRoute =>
        // persist: the probe aggregate and the chosen path's hot-shingle
        // guard both consume the df frame; it stays cached until the
        // returned query runs the hot-list broadcast (part of the API
        // contract, like `sh`'s persist — unpersisting earlier would make
        // the chosen path recompute the postings aggregation)
        val freq = freq0.persist(StorageLevel.MEMORY_AND_DISK)
        if (postingsMeanDf(freq, maxDf) > sketchMeanDf)
          containmentPairsSketchCore(sh, ex, freq, threshold, 32, maxDf)
        else containmentPairsCore(sh, ex, freq, threshold, maxDf)
    }
    pairs
      .join(sides.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("side", "side_a"), "doc_a")
      .join(sides.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("side", "side_b"), "doc_b")
      .where(col("side_a") =!= col("side_b"))
      .select(
        when(col("side_a") === "C", col("doc_a")).otherwise(col("doc_b"))
          .as("corpus_doc"),
        when(col("side_a") === "B", col("doc_a")).otherwise(col("doc_b"))
          .as("benchmark_doc"),
        col("containment"))
  }

  /** Bloom-prefiltered decontamination: EXACTLY [[crossContamination]]'s
    * output (pinned in DedupSpec), reshaped for the 100 TB asymmetry —
    * the corpus is enormous, the benchmark (eval sets) is not. The exact
    * containment path shuffles every corpus posting into the df
    * aggregation and candidate join; this path never shuffles the corpus
    * at all for candidate generation:
    *
    *  1. build a Bloom filter over the benchmark's distinct hashed
    *     shingles (`df.stat.bloomFilter` — a distributed aggregate over
    *     the SMALL side; the preceding distinct-count probe sizes it and
    *     is also small-side-only);
    *  2. prune the corpus MAP-SIDE: keep docs where `exists` finds ≥ 1
    *     shingle the filter might contain (`might_contain` — the same
    *     expression Spark's runtime bloom join filters use; the filter
    *     rides into the plan as a binary literal, ~1.2 MB per million
    *     shingles at 1% fpp). A scan + filter, no shuffle, no join;
    *     `exists` short-circuits on the first hit;
    *  3. run the exact count-filter containment machinery on the
    *     surviving candidates only.
    *
    * Exactness: Bloom filters have no false negatives, and any doc with
    * containment ≥ threshold > 0 shares ≥ 1 shingle with the benchmark,
    * so every true contamination survives the prune; false positives
    * only admit extra candidates, which step 3 rejects exactly. The
    * prune rate is the fraction of corpus docs sharing no shingle with
    * any benchmark doc — at decontamination's design point (a web-scale
    * corpus vs a few eval suites) that is nearly all of them. */
  def bloomDecontamination(corpus: DataFrame, benchmark: DataFrame, n: Int,
                           threshold: Double, fpp: Double = 0.01,
                           maxDf: Int = 1 << 12): DataFrame = {
    require(threshold > 0.0,
      "bloom prune keeps only shingle-sharing docs: threshold must be > 0")
    val bsh = benchmark
      .select(explode(TextAnalysis.hashedShinglesFromTokens(
        TextAnalysis.tokens(col("text")), n)).as("sg"))
      .distinct()
    val nShingles = math.max(1L, bsh.count()) // small-side-only probe
    val bf = bsh.stat.bloomFilter("sg", nShingles, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    val bfLit = lit(bos.toByteArray)
    // might_contain is not in the public registry (Spark injects it for
    // its runtime bloom joins), so build the same expression directly
    import org.apache.spark.sql.graft.ColumnBridge
    def mightContain(v: Column): Column = ColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        ColumnBridge.expression(bfLit), ColumnBridge.expression(v)))
    val candidates = corpus.where(exists(
      TextAnalysis.hashedShinglesFromTokens(
        TextAnalysis.tokens(col("text")), n),
      s => mightContain(s)))
    crossContamination(candidates, benchmark, n, threshold, maxDf,
      ExactRoute)
  }

  /** MinHash signature columns: k independent permutations approximated by
    * a seeded hash over each distinct n-gram shingle; signature_i = min
    * hash under seed i. One explode + one aggregation with k min columns:
    * the k×|shingles| hash evaluations run inside whole-stage codegen.
    * (A shuffle-free array_min(transform(...)) formulation was measured 3×
    * SLOWER — higher-order-function lambdas are interpreted per element,
    * and at this fan-out the interpreter overhead dwarfs the narrow
    * partial-agg shuffle it saves.)
    *
    * `hasher` picks the hash family — [[XxSeededHash]] (fast, default) or
    * [[PortableSeededHash]] (cross-engine, oracle-checkable). */
  def minHashSignatures(docs: DataFrame, n: Int, k: Int,
                        hasher: SeededHash = XxSeededHash,
                        kernel: Boolean = true): DataFrame = {
    // Default path: the compiled per-row kernel the streaming detector
    // already runs ([[graft.functions.ShingleMinHash]]) — one fused pass
    // per document, no shingle explode, no aggregation, no shuffle. The
    // kernel hashes every shingle WINDOW rather than the distinct set (a
    // duplicate cannot change a minimum) and replicates both hash
    // families byte-exactly, so the result is value-identical to the
    // exploded spelling below (asserted in DedupSpec on real documents).
    // Docs with fewer than n tokens return null == the exploded
    // spelling's "no shingles, no row" — filtered to keep that contract.
    val docsPar = docs
    if (kernel) {
      val md5 = hasher match {
        case PortableSeededHash => true
        case XxSeededHash => false
      }
      val mhs = org.apache.spark.sql.graft.ColumnBridge.column(
        graft.functions.ShingleMinHash(
          org.apache.spark.sql.graft.ColumnBridge.expression(
            TextAnalysis.tokens(col("text"))), n, k, md5))
      return docsPar.select(col("doc_id"), mhs.as("mhs"))
        .where(col("mhs").isNotNull)
        .select(col("doc_id") +:
          (0 until k).map(i => col("mhs")(i).as(s"mh$i")): _*)
    }
    // Exploded aggregate spelling — the parity witness: ONE base hash
    // per DISTINCT shingle, then k universal hashes derived
    // arithmetically: h_i = ((2i+1)·base + b_i) mod (2^31-1). 16× fewer
    // md5/xxhash evaluations than hashing per seed; the derivation is
    // plain integer arithmetic in any engine (ANSI-safe: 33·2^31 < 2^63).
    // Base-space collisions (~|shingles|²/2^32) merge a handful of
    // shingle pairs corpus-wide — the standard near-dup trade-off.
    val ex = docsPar
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        explode(TextAnalysis.distinctShinglesFromTokens(col("toks"), n))
          .as("sg"))
      .select(col("doc_id"),
        pmod(hasher.hash(col("sg"), 0), lit(Dedup.P31)).as("hb"))
    val aggs = (0 until k).map { i =>
      min((col("hb") * (2 * i + 1) + Dedup.bSeed(i)) % Dedup.P31).as(s"mh$i")
    }
    ex.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** MinHash + LSH banding: k signatures in `bands` bands of k/bands rows;
    * docs agreeing on ALL rows of any band become candidate pairs; then the
    * candidate's true Jaccard is estimated by signature agreement. At scale
    * this is one banded frame and one (band, bucket)-keyed self-join.
    * Band buckets are the concatenated signature rows (exact equality, no
    * re-hash collisions; at 100 TB swap in a hash of the concat if the
    * ~40-byte string keys matter). Returns
    * (doc_a, doc_b, est_jaccard, n_bands_hit).
    *
    * The signature frame is persisted at `storageLevel` (it feeds the
    * banding AND both sides of the agreement join);
    * `StorageLevel.NONE` disables persistence for callers composing
    * several pipelines that manage memory themselves. */
  def minHashLsh(docs: DataFrame, n: Int = 3, k: Int = 16, bands: Int = 4,
                 estThreshold: Double = 0.3,
                 hasher: SeededHash = XxSeededHash,
                 storageLevel: StorageLevel = StorageLevel.MEMORY_AND_DISK,
                 maxBucket: Int = 1 << 12): DataFrame = {
    val sig0 = minHashSignatures(docs, n, k, hasher)
    // right-size the cache: the fanned-out hashing pass leaves the frame
    // at core-count round-robin partitions, and every downstream cache
    // scan would pay that task count however small the signatures are.
    // A keyed repartition (no explicit N) is AQE-coalescible, so the
    // cache lands at data-sized partitions locally AND at scale; doc_id
    // keying is also the verify-join side's distribution.
    val sig = if (storageLevel == StorageLevel.NONE) sig0
              else sig0.persist(storageLevel)
    val banded = dropHotBuckets(bandSignatures(sig, k, bands), maxBucket)
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_bands_hit"))
    // estimate jaccard = fraction of agreeing signature rows
    val sigA = sig.select(col("doc_id").as("doc_a") +:
      (0 until k).map(i => col(s"mh$i").as(s"a$i")): _*)
    val sigB = sig.select(col("doc_id").as("doc_b") +:
      (0 until k).map(i => col(s"mh$i").as(s"b$i")): _*)
    val agree = (0 until k)
      .map(i => when(col(s"a$i") === col(s"b$i"), 1).otherwise(0))
      .reduce(_ + _)
    cand.join(sigA, "doc_a").join(sigB, "doc_b")
      .withColumn("est_jaccard", agree.cast("double") / k)
      .where(col("est_jaccard") >= estThreshold)
      .select(col("doc_a"), col("doc_b"),
              round(col("est_jaccard"), 4).as("est_jaccard"),
              col("n_bands_hit"))
  }

  /** SimHash per document: per token-hash bit j, the signature bit is the
    * sign of Σ±1 across tokens — equivalently `2·ones_j > n_tokens`.
    * `bits` is 64 for the xx64 family, 60 for the portable md5 family
    * (which only yields 60 uniform bits).
    *
    * Default path: the compiled per-row kernel
    * ([[graft.functions.SimHashSig]]) — one fused loop per document, no
    * token explode, no aggregation, no shuffle (measured 6.1 → ~2 s on
    * q33's signature stage at sf0.1). `kernel = false` keeps the
    * exploded aggregate spelling as the value-identical parity witness
    * (the q120 HOF-twin convention; equality asserted in DedupSpec). */
  def simHash(docs: DataFrame, hasher: SeededHash = XxSeededHash,
              bits: Int = 64, kernel: Boolean = true): DataFrame = {
    if (kernel) {
      val md5 = hasher match {
        case PortableSeededHash => true
        case XxSeededHash => false
      }
      return docs.select(col("doc_id"),
          org.apache.spark.sql.graft.ColumnBridge.column(
            graft.functions.SimHashSig(
              org.apache.spark.sql.graft.ColumnBridge.expression(
                TextAnalysis.tokens(col("text"))), bits, md5)).as("simhash"))
        // empty token array -> null signature == "no row" in the
        // exploded spelling (explode emits nothing for that doc)
        .where(col("simhash").isNotNull)
    }
    simHashExploded(docs, hasher, bits)
  }

  /** The exploded aggregate spelling of [[simHash]] — the parity witness.
    *
    * The per-bit counters are PACKED three to a long (20-bit lanes), so
    * the aggregation carries ceil(bits/3)+1 buffer columns instead of
    * `bits` — a 3× narrower hash-agg row and shuffle row for the
    * token-explode aggregation that dominates this operator. Lane safety:
    * each lane counts ≤ n_tokens, so docs up to 2^20 (~1M) tokens sum
    * without ANSI overflow (the long tail of real corpora; chunk first
    * beyond that). */
  def simHashExploded(docs: DataFrame, hasher: SeededHash = XxSeededHash,
                      bits: Int = 64): DataFrame = {
    val tok = docs.select(col("doc_id"),
      explode(TextAnalysis.tokens(col("text"))).as("t"))
      .withColumn("h", hasher.hash(col("t"), 0))
    val groups = (bits + 2) / 3
    val packed = (0 until groups).map { g =>
      val lanes = (0 until 3).filter(l => g * 3 + l < bits).map { l =>
        shiftright(col("h"), g * 3 + l).bitwiseAND(1) * lit(1L << (20 * l))
      }
      sum(lanes.reduce(_ + _)).as(s"p$g")
    }
    val aggs = packed :+ count(lit(1)).as("n")
    val sums = tok.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
    val sig = (0 until bits).map { j =>
      val ones = shiftrightunsigned(col(s"p${j / 3}"), 20 * (j % 3))
        .bitwiseAND((1L << 20) - 1)
      when(ones * 2 > col("n"), lit(1L << j)).otherwise(0L)
    }.reduce(_ + _)
    sums.select(col("doc_id"), sig.as("simhash"))
  }

  /** SimHash near-dup pairs: 4-band LSH over the signature (bits/4 bits
    * per band), then exact Hamming distance (bit_count of xor) ≤
    * maxHamming. Signature frame persisted at `storageLevel` (NONE to
    * disable). */
  def simHashPairs(docs: DataFrame, maxHamming: Int = 6,
                   hasher: SeededHash = XxSeededHash, bits: Int = 64,
                   storageLevel: StorageLevel = StorageLevel.MEMORY_AND_DISK,
                   maxBucket: Int = 1 << 12): DataFrame = {
    val sig0 = simHash(docs, hasher, bits)
    val sig = if (storageLevel == StorageLevel.NONE) sig0
              else sig0.persist(storageLevel)
    val bandWidth = bits / 4
    val bandMask = (1L << bandWidth) - 1
    val banded = dropHotBuckets(bandRows(sig, Seq("doc_id", "simhash"),
      (0 until 4).map(b => shiftrightunsigned(col("simhash"), b * bandWidth)
        .bitwiseAND(bandMask))), maxBucket)
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
          .cast("long").as("hamming"))
      // filter BEFORE the distinct: the dedup shuffle then carries only
      // pairs that already pass the Hamming bound
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Resolve near-dup candidate pairs into connected components and a
    * canonical keep-list — the step that turns pair detection (q31/q32/q33)
    * into actual deduplication. Matches the exact-dedup convention
    * (reference-style `min(doc_id)` keeper, see [[exact]]): every document
    * in a component is labeled with the smallest doc_id reachable from it,
    * and that smallest id is the component's keeper.
    *
    * Algorithm: iterative min-label propagation with pointer jumping, as
    * pure DataFrame self-joins. Each round does two things: (1)
    * neighbor-min — every node takes the min of its own label and its
    * neighbors' labels (one hop of propagation); (2) pointer jump —
    * l(v) := l(l(v)), which halves the remaining label-chain depth, so a
    * component of diameter D converges in O(log D) rounds, not D (a plain
    * propagation loop would need diameter rounds — a long chain of
    * pairwise near-dups, e.g. drifting boilerplate, would blow any fixed
    * bound). Labels only decrease and stay within the component (labels
    * are node ids reachable via edges or label references), so the
    * per-round sum(label) is monotone non-increasing and an unchanged sum
    * is a convergence proof (no separate changed-row count needed).
    * `maxIter` bounds the work regardless — 25 jumps cover diameters up to
    * 2^25.
    *
    * Scale shape: each round is one equi-join (edges ⋈ labels on src), one
    * groupBy-min, and one labels self-join — narrow (long, long) shuffles
    * over edge count, never materializing components or all-pairs
    * closures. Iteration state is `localCheckpoint`ed, not persisted:
    * checkpointing truncates the lineage to a LogicalRDD, so (a) the
    * (possibly very expensive — LSH!) pair source is computed exactly
    * once, (b) per-round plans stay constant-size instead of growing with
    * the iteration count, and (c) there is no cache-invalidation cascade
    * from releasing a superseded round (Dataset.unpersist recompiles and
    * lazily recomputes dependent cache entries — measured as every round
    * re-running the whole LSH pipeline). On a real cluster pass
    * `reliable = true` for reliable `checkpoint()` (localCheckpoint
    * blocks die with an executor, and losing one mid-iteration loses the
    * truncated lineage — there is nothing to recompute from); it writes
    * each round to `spark.sparkContext.getCheckpointDir`, WHICH MUST BE
    * SET (to cluster-durable storage — HDFS/object store) before the
    * call. The default stays localCheckpoint: right for local mode and
    * for callers preferring retry-the-stage over per-round remote
    * writes. Both modes are value-identical (asserted in DedupSpec). The
    * convergence check is a single scalar aggregate (DECIMAL sum — no ANSI
    * overflow at any id range).
    *
    * Input: (doc_a, doc_b) candidate pairs. Output: one row per document
    * that appears in any pair — (doc_id, component, is_keeper). Documents
    * with no near-dup pair are absent (they are their own keepers by
    * definition). */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25,
                          reliable: Boolean = false): DataFrame = {
    // reliable checkpoint() writes in a SECOND job that recomputes the
    // lineage unless it is cached — the (possibly expensive LSH) pair
    // source and every round twice — so persist around it. Old rounds'
    // files stay under the checkpoint dir for the app's lifetime unless
    // spark.cleaner.referenceTracking.cleanCheckpoints is set.
    def ckpt(df: DataFrame): DataFrame =
      if (!reliable) df.localCheckpoint()
      else {
        df.persist(StorageLevel.MEMORY_AND_DISK)
        val out = df.checkpoint() // eager: caches, then writes from cache
        df.unpersist(blocking = false)
        out
      }
    val pr = ckpt(pairs
      .select(col("doc_a").cast("long").as("src"),
        col("doc_b").cast("long").as("dst")))
    // ONE setup frame: both edge directions plus a self-loop at every
    // endpoint, deduped. Self-loops make "min over self + neighbors" one
    // join + groupBy per round (a per-round union whose children share
    // attribute ids trips Union constraint rewriting). PERSISTED, not
    // checkpointed, partitioned on its join key: under AQE a checkpoint
    // reports UnknownPartitioning while InMemoryRelation keeps the
    // HashPartitioning, so every round's edgesSelf ⋈ labels reuses this one
    // exchange. It derives from the checkpointed `pr`, so releasing it
    // cascades nothing; reliable mode keeps the durable checkpoint.
    val both = pr
      .union(pr.select(col("dst").as("src"), col("src").as("dst")))
    val edgesSelfPlan = both
      .union(both.select(col("src"), col("src").as("dst")))
      .distinct()
      .repartition(col("src"))
    val edgesSelf =
      if (reliable) ckpt(edgesSelfPlan)
      else edgesSelfPlan.persist(StorageLevel.MEMORY_AND_DISK)
    // count(), not isEmpty: take(1) fills only a prefix of the lazy
    // persist. No edges: skip the loop (the sum check can't converge on
    // an empty frame) and seed from the empty `pr`, so nothing derives
    // from edgesSelf once it is released below. Otherwise exactly one
    // self-loop row per node survives the distinct — the label seed.
    val empty = edgesSelf.count() == 0
    var labels = (if (empty) pr else edgesSelf.where(col("src") === col("dst")))
      .select(col("src").as("node"), col("src").as("label"))
    var prevSum: java.math.BigDecimal = null
    var converged = empty
    var i = 0
    val sc = pairs.sparkSession.sparkContext
    val prevDesc = sc.getLocalProperty("spark.job.description")
    // AQE runs a round's shuffle stages when its lazy checkpoint is
    // planned, so the description spans the whole round body
    try while (!converged && i < maxIter) {
      sc.setJobDescription(s"connected_components:round=$i")
      val nbrMin = edgesSelf.join(labels, col("src") === col("node"))
        .groupBy(col("dst"))
        .agg(min("label").as("label"))
        .select(col("dst").as("node"), col("label"))
      // pointer jump: l(v) <- min(l(v), l(l(v))). Every label IS a node id
      // present in nbrMin (labels start as node ids and min-merge), so the
      // inner self-join is total.
      val nextPlan = nbrMin.as("x")
        .join(nbrMin.select(col("node").as("ln"), col("label").as("ll")),
          col("x.label") === col("ln"))
        .select(col("x.node").as("node"),
          least(col("x.label"), col("ll")).as("label"))
      // LAZY local checkpoint + the convergence aggregate as the
      // materializing action: the sum job computes and persists every
      // partition of the round, one action instead of two. Reliable mode
      // keeps the eager checkpoint — there the durable write IS the point.
      val next =
        if (reliable) ckpt(nextPlan) else nextPlan.localCheckpoint(false)
      val s = next.agg(sum(col("label").cast("decimal(38,0)")))
        .head().getDecimal(0)
      converged = prevSum != null && s.compareTo(prevSum) == 0
      prevSum = s
      labels = next
      i += 1
    } finally sc.setJobDescription(prevDesc)
    // the last round's checkpoint is materialized: nothing recomputes
    edgesSelf.unpersist(blocking = false)
    labels.select(col("node").as("doc_id"), col("label").as("component"),
      (col("label") === col("node")).as("is_keeper"))
  }

  /** End of the near-dup pipeline: keep only cluster keepers. `clusters`
    * is [[connectedComponents]] output; every document labeled with a
    * component whose keeper is a DIFFERENT document is dropped, everything
    * else (keepers and never-paired documents) survives. One left-anti
    * equi-join on doc_id — the loser list is a projection of the cluster
    * frame, no recomputation of pairs. */
  def dropNearDups(docs: DataFrame, clusters: DataFrame): DataFrame =
    docs.join(
      clusters.where(!col("is_keeper")).select("doc_id"),
      Seq("doc_id"), "left_anti")

  /** Universal-hash family parameters shared with the oracle SQL. */
  final val P31 = 2147483647L // 2^31 - 1
  def bSeed(i: Int): Long = (i.toLong * 12582917L) % P31

  /** LSH banding of a [[minHashSignatures]] frame: one (doc_id, band,
    * bucket) row per band, bucket = the concatenated signature rows of
    * that band (exact equality, no re-hash collisions). */
  private def bandSignatures(sig: DataFrame, k: Int, bands: Int): DataFrame = {
    val rowsPerBand = k / bands
    bandRows(sig, Seq("doc_id"), (0 until bands).map { b =>
      concat_ws(",", (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(i => col(s"mh$i").cast("string")): _*)
    })
  }

  /** (keep…, band, bucket) rows, bucket b = `buckets(b)`, from ONE inline
    * generator: through a per-band union Catalyst pushed the hot-bucket
    * anti-join and both self-join sides, one cache scan, aggregate and
    * shuffle per band. */
  private def bandRows(sig: DataFrame, keep: Seq[String],
                       buckets: Seq[Column]): DataFrame = {
    val rows = buckets.zipWithIndex.map { case (c, b) =>
      struct(lit(b).as("band"), c.as("bucket"))
    }
    sig.select(keep.map(col) :+ inline(array(rows: _*)): _*)
  }

  /** INCREMENTAL near-dup: flag a new ingest batch against an EXISTING
    * corpus signature index — the daily-delta shape of production dedup
    * at 100 TB, where re-clustering the whole corpus per ingest
    * (q32/q63) is off the table and the right plan is "hash the delta,
    * equi-join it against the stored index".
    *
    * `corpusSigs` is a [[minHashSignatures]] frame (doc_id, mh0..mh{k-1})
    * — at scale a persistent parquet/bucketed table maintained by the
    * ingest pipeline, NOT recomputed per batch; only the (small) new
    * batch is signature-hashed here. Same banding, same est-jaccard
    * verification, same hot-bucket cap as [[minHashLsh]] (applied
    * per side: an over-cap bucket on the corpus side is an index
    * template-flood, on the new side a degenerate batch).
    *
    * Scale shape: candidate generation is one (band, bucket) equi-join of
    * |delta|-sized banded rows against the index — cost tracks the
    * DELTA, not the corpus; the agreement join touches only candidate
    * corpus docs. No self-join of the corpus anywhere.
    *
    * Returns (new_doc, corpus_doc, est_jaccard, n_bands_hit) — the
    * keep/drop decision (and any id-space overlap policy) stays with the
    * caller. */
  def incrementalNearDup(newDocs: DataFrame, corpusSigs: DataFrame,
                         n: Int = 3, k: Int = 16, bands: Int = 4,
                         estThreshold: Double = 0.3,
                         hasher: SeededHash = XxSeededHash,
                         storageLevel: StorageLevel = StorageLevel.MEMORY_AND_DISK,
                         maxBucket: Int = 1 << 12): DataFrame = {
    val sigN0 = minHashSignatures(newDocs, n, k, hasher)
    val sigN = if (storageLevel == StorageLevel.NONE) sigN0
               else sigN0.persist(storageLevel)
    val bN = dropHotBuckets(bandSignatures(sigN, k, bands), maxBucket)
    val bC = dropHotBuckets(bandSignatures(corpusSigs, k, bands), maxBucket)
    incrementalJoin(bN, bC, sigN, corpusSigs, k, estThreshold)
  }

  /** The delta-vs-index tail shared by [[incrementalNearDup]] (index
    * built in-query) and [[incrementalNearDupIndexed]] (index read back
    * from a persisted bucketed table): banded candidate equi-join →
    * per-pair band-hit count → est-jaccard agreement join against the
    * raw signatures. */
  private def incrementalJoin(bN: DataFrame, bC: DataFrame,
                              sigN: DataFrame, sigC: DataFrame,
                              k: Int, estThreshold: Double): DataFrame = {
    val cand = bN.as("a").join(bC.as("b"),
        col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket"))
      .groupBy(col("a.doc_id").as("new_doc"),
        col("b.doc_id").as("corpus_doc"))
      .agg(count(lit(1)).as("n_bands_hit"))
    val sigA = sigN.select(col("doc_id").as("new_doc") +:
      (0 until k).map(i => col(s"mh$i").as(s"a$i")): _*)
    val sigB = sigC.select(col("doc_id").as("corpus_doc") +:
      (0 until k).map(i => col(s"mh$i").as(s"b$i")): _*)
    val agree = (0 until k)
      .map(i => when(col(s"a$i") === col(s"b$i"), 1).otherwise(0))
      .reduce(_ + _)
    cand.join(sigA, "new_doc").join(sigB, "corpus_doc")
      .withColumn("est_jaccard", agree.cast("double") / k)
      .where(col("est_jaccard") >= estThreshold)
      .select(col("new_doc"), col("corpus_doc"),
        round(col("est_jaccard"), 4).as("est_jaccard"),
        col("n_bands_hit"))
  }

  /** PERSIST the corpus signature index [[incrementalNearDup]] joins
    * deltas against — the missing piece of the production daily-ingest
    * story: at 100 TB the index is built ONCE (and appended to as
    * batches are accepted), not recomputed per batch, and each ingest
    * run reopens it from storage.
    *
    * Two bucketed tables (Spark bucketed parquet, session catalog):
    *
    *   - `<name>_bands` — the banded rows, BUCKETED BY (band, bucket):
    *     the delta's banded rows shuffle to the index's bucketing and
    *     the corpus side streams from disk with NO exchange (the scan's
    *     layout already satisfies the join's distribution) — cost tracks
    *     the delta, the corpus is never re-shuffled;
    *   - `<name>_sigs` — the raw k-column signatures, bucketed by
    *     doc_id for the est-jaccard agreement join.
    *
    * The hot-bucket cap is applied at BUILD time (an over-cap bucket is
    * an index template-flood; dropping it once here is the same guard
    * [[minHashLsh]] applies per-query). `corpusSigs` is written
    * uncapped — agreement needs every candidate's full signature. */
  def writeSignatureIndex(corpusSigs: DataFrame, name: String,
                          k: Int = 16, bands: Int = 4,
                          numBuckets: Int = 32,
                          maxBucket: Int = 1 << 12): Unit = {
    // mode("overwrite") only replaces tables the CURRENT catalog knows.
    // With the in-memory session catalog a table written by a previous
    // session is invisible to this one while its warehouse directory
    // survives → LOCATION_ALREADY_EXISTS. Drop both the entry and any
    // stale location first (a persistent metastore never hits the
    // second branch).
    val spark = corpusSigs.sparkSession
    Seq(s"${name}_bands", s"${name}_sigs").foreach { tbl =>
      spark.sql(s"DROP TABLE IF EXISTS `$tbl`")
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), tbl.toLowerCase)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
    }
    // align write tasks with the bucket hash BEFORE the bucketed write:
    // without it every writer task emits one file per bucket it sees —
    // numBuckets x writer-parallelism small files that every future
    // probe re-opens (guide §6: coalesce on write). repartition on the
    // bucket columns is the same HashPartitioning bucketBy uses, so each
    // task owns whole buckets and writes one file per bucket.
    dropHotBuckets(bandSignatures(corpusSigs, k, bands), maxBucket)
      .repartition(numBuckets, col("band"), col("bucket"))
      .write.mode("overwrite")
      .bucketBy(numBuckets, "band", "bucket")
      .sortBy("band", "bucket")
      .saveAsTable(s"${name}_bands")
    corpusSigs.repartition(numBuckets, col("doc_id"))
      .write.mode("overwrite")
      .bucketBy(numBuckets, "doc_id")
      .sortBy("doc_id")
      .saveAsTable(s"${name}_sigs")
  }

  /** Persisted EXACT-dedup fingerprint index — the exact tier's
    * counterpart of [[writeSignatureIndex]]: the all-time corpus
    * collapses once into `<name>_fps` (fp → min-doc_id keeper, the
    * [[exact]] convention), written BUCKETED BY fp so every future
    * batch's membership probe co-locates with the index and only the
    * batch side ever exchanges. At 100 TB this is how exact dedup
    * actually deploys: the corpus is fingerprinted once, and each
    * arriving crawl batch joins 16-byte keys against the bucketed
    * table — the corpus text is never re-read, never re-shuffled. */
  def writeFingerprintIndex(corpus: DataFrame, name: String,
                            numBuckets: Int = 32): Unit = {
    val spark = corpus.sparkSession
    // same catalog/location hygiene as writeSignatureIndex
    val tbl = s"${name}_fps"
    spark.sql(s"DROP TABLE IF EXISTS `$tbl`")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), tbl.toLowerCase)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    exact(corpus).select(col("fp"), col("keep_id"))
      .repartition(numBuckets, col("fp")) // one file per bucket (see
      // writeSignatureIndex) — not a fan-out, a writer/bucket alignment
      .write.mode("overwrite")
      .bucketBy(numBuckets, "fp")
      .sortBy("fp")
      .saveAsTable(tbl)
  }

  /** Incremental EXACT dedup of a new batch against the persisted
    * fingerprint index: one md5 per batch doc + one left join on the
    * bucketed fp table. `is_dup` marks batch docs whose content already
    * exists in the indexed corpus (keeper_id = the corpus keeper);
    * within-batch duplication is a separate [[exact]] pass over the
    * batch, by the q79 pipeline convention (exact-dedup-first). */
  def incrementalExactDedup(spark: org.apache.spark.sql.SparkSession,
                            newDocs: DataFrame, name: String): DataFrame =
    newDocs.select(col("doc_id"), md5(col("text")).as("fp"))
      .join(spark.table(s"${name}_fps")
        .withColumnRenamed("keep_id", "keeper_id"), Seq("fp"), "left")
      .select(col("doc_id"), col("keeper_id").isNotNull.as("is_dup"),
        col("keeper_id"))

  /** [[incrementalNearDup]] against a PERSISTED index (see
    * [[writeSignatureIndex]]): only the (small) new batch is
    * signature-hashed; the corpus side is the bucketed tables. Output is
    * bit-identical to the in-query form on the same corpus (asserted in
    * DedupSpec). The index side is already capped at build time; the
    * delta side is capped here (a degenerate batch is the delta-side
    * flood). */
  def incrementalNearDupIndexed(spark: org.apache.spark.sql.SparkSession,
                                newDocs: DataFrame, name: String,
                                n: Int = 3, k: Int = 16, bands: Int = 4,
                                estThreshold: Double = 0.3,
                                hasher: SeededHash = XxSeededHash,
                                storageLevel: StorageLevel = StorageLevel.MEMORY_AND_DISK,
                                maxBucket: Int = 1 << 12): DataFrame = {
    val sigN0 = minHashSignatures(newDocs, n, k, hasher)
    val sigN = if (storageLevel == StorageLevel.NONE) sigN0
               else sigN0.persist(storageLevel)
    val bN = dropHotBuckets(bandSignatures(sigN, k, bands), maxBucket)
    incrementalJoin(bN, spark.table(s"${name}_bands"), sigN,
      spark.table(s"${name}_sigs"), k, estThreshold)
  }

  /** Skew guard for the LSH band self-joins: a bucket of size s generates
    * s·(s-1)/2 candidate pairs ON ONE REDUCER — a single degenerate
    * signature band (boilerplate template, empty-ish documents) turns the
    * equi-join quadratic at 100 TB. Buckets larger than `maxBucket` are
    * dropped via an anti-join against the (tiny, broadcast) hot-bucket
    * list. Dropping is the standard LSH trade: an over-cap bucket means ≥
    * maxBucket documents share a whole signature band — template floods
    * that exact dedup (q30) should collapse first; below the cap the
    * output is IDENTICAL to the uncapped join (asserted in DedupSpec).
    * The 4096 default follows the same single-key measurement as
    * [[containmentPairs]]' `maxDf` (identical s² equi-join shape —
    * [[graft.tools.CapFlood]], BASELINE.md round 6). */
  private def dropHotBuckets(banded: DataFrame, maxBucket: Int): DataFrame =
    if (maxBucket == Int.MaxValue) banded
    else {
      val hot = banded.groupBy("band", "bucket")
        .agg(count(lit(1)).as("_bsz"))
        .where(col("_bsz") > maxBucket)
        .select("band", "bucket")
      banded.join(broadcast(hot), Seq("band", "bucket"), "left_anti")
    }

  /** Edit-distance-≤1 record-linkage self-join via DELETION NEIGHBORHOODS
    * (q195; the FastSS / SymSpell indexing scheme — Bocek, Hunt &
    * Stiller 2007, "Fast Similarity Search in Large Dictionaries"): each
    * string emits itself plus every one-character-deletion variant; two
    * strings within edit distance 1 ALWAYS share a variant (substitution:
    * delete the differing position from both; insertion/deletion: the
    * shorter string is itself a variant of the longer), so candidate
    * generation is an EQUI-join on the variant — never a blocked O(b²)
    * comparison loop and never a cartesian. Shared variants can also
    * arise from distance-2 pairs (two different deletions landing on the
    * same string), so candidates are verified with one `levenshtein`
    * call per DISTINCT pair.
    *
    * Scale shape: the variant frame is Σ(len+1) rows of
    * (id, name, variant) — corpus-linear with a ~len× constant; the
    * candidate join is equi on the variant string; verification touches
    * candidate pairs only. Variant-bucket sizes are bounded by the
    * insert-one-character preimage count (≤ alphabet·len names map to
    * one variant), so no hot-bucket cap is needed at any corpus size —
    * the flood risk of LSH bands does not exist here. */
  def deletionNeighborhoodJoin(names: DataFrame, idCol: Column,
                               nameCol: Column): DataFrame = {
    val n = names.select(idCol.as("id"), nameCol.as("name"))
    val v = n
      .select(col("id"), col("name"),
        explode(sequence(lit(0), length(col("name")))).as("p"))
      .select(col("id"), col("name"),
        when(col("p") === 0, col("name"))
          .otherwise(concat(
            col("name").substr(lit(1), col("p") - 1),
            col("name").substr(col("p") + 1, lit(1 << 20)))).as("variant"))
      .distinct()
    val cand = v.select(col("id").as("id_a"), col("name").as("name_a"),
        col("variant"))
      .join(v.select(col("id").as("id_b"), col("name").as("name_b"),
        col("variant")), Seq("variant"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "name_a", "id_b", "name_b")
      .distinct()
    cand
      .select(col("id_a"), col("id_b"),
        levenshtein(col("name_a"), col("name_b")).cast("long").as("dist"))
      .where(col("dist") <= 1)
  }
}
