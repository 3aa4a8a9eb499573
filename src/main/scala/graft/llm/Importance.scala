package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Hashed-feature document scoring — the "cheap model over hashed
  * n-grams" family every large-scale data pipeline runs in front of
  * training:
  *
  *  - [[dsirLogRatio]] — DSIR importance weights (Xie et al. 2023,
  *    "Data Selection for Language Models via Importance Resampling",
  *    arXiv:2302.03169): log p_target(x) − log p_raw(x) under bag-of-
  *    hashed-n-gram models, the score whose resampling shifts a raw
  *    crawl toward a target domain.
  *  - [[hashedLinearLogit]] — a linear classifier over the same hashed
  *    bag (the fastText shape: Joulin et al. 2017, "Bag of Tricks for
  *    Efficient Text Classification"), evaluated as a pure scan.
  *
  * Both use the feature map of the DSIR reference implementation:
  * unigrams AND bigrams hashed into a fixed bucket space. Bucket
  * COLLISIONS are part of the model (that is what keeps the parameter
  * vector fixed-size at any vocabulary), so unlike the dedup family the
  * hash is semantics, not identity — engine and oracle must hash
  * identically, which is what the portable family provides
  * ([[PortableSeededHash]]; production swaps in [[XxSeededHash]]).
  */
object Importance {

  /** Unigrams ++ bigrams of a whitespace-token array, as strings
    * (bigrams space-joined — the DSIR feature map). */
  private[llm] def unigramsBigrams(toks: Column): Column =
    concat(toks,
      zip_with(
        slice(toks, lit(1), greatest(size(toks) - 1, lit(0))),
        slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
        (a, b) => concat(a, lit(" "), b)))

  private def bucketOf(g: Column, buckets: Int, seed: Int,
                       hasher: SeededHash): Column =
    pmod(hasher.hash(g, seed), lit(buckets.toLong))

  /** DSIR importance score per raw document:
    *
    *   log w(d) = Σ_{g ∈ grams(d)} [ ln p̂_t(b(g)) − ln p̂_r(b(g)) ]
    *
    * with p̂(b) = (count(b) + 1) / (total + B) the add-one-smoothed
    * hashed-gram distribution of the target corpus (p̂_t) and the raw
    * corpus itself (p̂_r), B = `buckets`. Positive score ⇒ the document
    * looks more like the target than like the raw marginal; DSIR then
    * resamples ∝ exp(score) (a caller-side [[Sampling.stratified]]-style
    * coin or top-k — this operator owns the distributed scoring).
    *
    * Scale shape: two bucket-count aggregates (≤ B rows each, map-side
    * combine absorbs hot buckets) broadcast back onto the exploded raw
    * grams, two 1-row total frames crossed in lazily — the per-doc
    * reduce is the only data-sized shuffle and it is keyed by doc_id,
    * never by gram. Corpus-linear, no self-joins.
    *
    * Determinism note (same caveat as the q110 LM): `ln` is a ≤1-ulp
    * libm call and the per-doc sum is order-dependent in its last bits;
    * the 4-dp round makes boundary flips measure-zero (verified
    * empirically at sf0.01), and every other op (hash, counts, divide)
    * is exact or correctly rounded.
    *
    * Output: (doc_id, n_grams, log_ratio round 4), one row per raw doc
    * with ≥ 1 token. */
  def dsirLogRatio(raw: DataFrame, target: DataFrame, buckets: Int = 1024,
                   seed: Int = 59,
                   hasher: SeededHash = XxSeededHash): DataFrame = {
    require(buckets > 0)
    val toks = TextAnalysis.tokens(col("text"))
    def gramBuckets(df: DataFrame): DataFrame =
      df.select(col("doc_id"),
          explode(unigramsBigrams(toks)).as("g"))
        .select(col("doc_id"), bucketOf(col("g"), buckets, seed, hasher).as("b"))
    val tg = gramBuckets(target)
    val rg = gramBuckets(raw)
    val tCounts = tg.groupBy("b").agg(count(lit(1)).as("ct"))
    val rCounts = rg.groupBy("b").agg(count(lit(1)).as("cr"))
    val tTotal = tg.agg(count(lit(1)).as("t_total"))
    val rTotal = rg.agg(count(lit(1)).as("r_total"))
    val bD = lit(buckets.toDouble)
    rg.join(broadcast(tCounts), Seq("b"), "left")
      .join(broadcast(rCounts), Seq("b"), "left")
      .crossJoin(broadcast(tTotal))
      .crossJoin(broadcast(rTotal))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        round(sum(
          log((coalesce(col("ct"), lit(0L)) + 1).cast("double") /
            (col("t_total").cast("double") + bD)) -
          log((coalesce(col("cr"), lit(0L)) + 1).cast("double") /
            (col("r_total").cast("double") + bD))), 4).as("log_ratio"))
  }

  /** Distributed training of the hashed linear classifier — the
    * "train a quality model on target-vs-crawl and filter with it" step
    * (the GPT-3 / WebText data recipe; fastText shape as in
    * [[hashedLinearLogit]]). Batch gradient descent on logistic loss
    * with a HARD sigmoid (σ̂(x) = clamp(0.25x + 0.5, 0, 1)) and
    * QUANTIZED state, chosen so the entire training loop is exactly
    * reproducible — across runs, partitionings, merge orders and
    * engines:
    *
    *  - weights live as int64 at scale W = 2^16; per-doc margins are
    *    exact integer sums (associative — no float-accumulation order
    *    dependence, the thing that makes naive distributed GD
    *    non-deterministic);
    *  - at scales W = 2^16, S = 2^20 the hard-sigmoid residual folds to
    *    PURE integer arithmetic: resid·S = clamp(4m + 2^19, 0, 2^20) −
    *    y·2^20 (no transcendental anywhere — a libm `exp` would differ
    *    by ulps between engines and diverge over iterations);
    *  - per-bucket gradients are exact integer sums of those residuals;
    *  - the one float op per update, Δ_b = round((a·G_b)/N) with
    *    a = lr·W/S, is a fixed sequence of two correctly-rounded IEEE
    *    ops on integer inputs + half-away-from-zero rounding — the SQL
    *    ROUND semantics, replicated driver-side by [[roundHalfAway]].
    *
    * Each iteration is one corpus-linear Spark job: the margin fold runs
    * per-row inside codegen against the current weights literal, the
    * gradient is a ≤B-key aggregate (map-side combine), and only B longs
    * ever reach the driver — the classic broadcast-weights/aggregate-
    * gradients shape, at 100 TB bounded by B, not the corpus. The hashed
    * bucket arrays are a [[Rounds]] static, released when training
    * returns; iteration i runs under the job description
    * `logistic:round=<i>`.
    *
    * `docs` needs (doc_id, text, label∈{0,1}). Returns the quantized
    * weight vector, ready for [[hashedLinearLogit]] (whose integer logit
    * is then the exact quantized margin). */
  def trainLogisticHashed(docs: DataFrame, buckets: Int = 256,
                          iters: Int = 3, lr: Double = 0.5,
                          seed: Int = 59,
                          hasher: SeededHash = XxSeededHash,
                          kernel: Boolean = true): Array[Long] = {
    require(buckets > 0 && iters >= 0 && lr > 0)
    val W = 65536L       // weight scale 2^16
    val S = 1048576L     // residual scale 2^20
    val a = lr * W / S
    val grams = unigramsBigrams(TextAnalysis.tokens(col("text")))
    Rounds("logistic", docs.sparkSession) { r =>
      // hash each gram ONCE: iterations then fold cached ints — per-iter
      // cost is integer arithmetic over the persisted bucket arrays, not
      // a re-tokenize/re-md5 of the corpus
      val base = r.persist(docs.select(col("label").cast("long").as("y"),
        transform(grams, g => bucketOf(g, buckets, seed, hasher)).as("bks")))
      // one bounded action: the training-set size in the update divisor
      // (also materializes the cache the loop reuses)
      val n = r.phase("count")(base.count())
      require(n > 0, "empty training set")
      val weights = new Array[Long](buckets)
      for (i <- 0 until iters) r.round(i) {
        // default: the compiled margin fold ([[graft.functions
        // .BucketWeightSum]]) — the HOF spelling below is the parity
        // witness (interpreted ArrayAggregate, ~10× slower in an aged
        // JVM from interpreter profile pollution; see the kernel's doc)
        val m = if (kernel)
          org.apache.spark.sql.graft.ColumnBridge.column(
            graft.functions.BucketWeightSum(
              org.apache.spark.sql.graft.ColumnBridge.expression(col("bks")),
              weights.clone()))
        else {
          val w = typedLit(weights)
          aggregate(col("bks"), lit(0L),
            (acc, b) => acc + element_at(w, (b + 1).cast("int")))
        }
        val q = least(greatest(m * 4 + lit(S / 2), lit(0L)), lit(S)) -
          col("y") * lit(S)
        val grad = base
          .select(q.as("q"), explode(col("bks")).as("b"))
          .groupBy("b").agg(sum(col("q")).as("G"))
          .collect() // ≤ buckets rows — the model, not the data
        grad.foreach { g =>
          val b = g.getLong(0).toInt
          weights(b) -= roundHalfAway((a * g.getLong(1)) / n)
        }
      }
      weights
    }
  }

  /** SQL ROUND semantics (half away from zero) — `math.round` is
    * half-UP (floor(x+0.5)), which disagrees on negative halves. */
  private[llm] def roundHalfAway(x: Double): Long =
    if (x >= 0) math.floor(x + 0.5).toLong else -math.floor(-x + 0.5).toLong

  /** Linear classifier inference over the hashed bag — the fastText
    * decision rule with the model reduced to one weight per hash bucket:
    *
    *   logit(d) = Σ_{g ∈ grams(d)} W[b(g)]
    *
    * `weights` (length = `buckets`, integer — a production pipeline
    * quantizes its trained vector; integer addition keeps the per-doc
    * fold exact and associative, so the score is bit-identical in any
    * engine) ships as ONE plan literal: inference is a pure per-row
    * expression — no join, no shuffle, no UDF — the whole corpus is
    * scored inside whole-stage codegen at scan speed, which is the
    * 100 TB design point for "run the quality model over everything".
    * The per-row fold is a HOF `aggregate` over the gram array, so no
    * explode/re-group round trip exists either.
    *
    * Output: (doc_id, n_feats, logit, keep = logit > 0). */
  def hashedLinearLogit(docs: DataFrame, weights: Array[Long],
                        seed: Int = 59,
                        hasher: SeededHash = XxSeededHash): DataFrame = {
    val grams = unigramsBigrams(TextAnalysis.tokens(col("text")))
    val logit = logitCol(col("text"), weights, seed, hasher)
    docs.select(col("doc_id"), size(grams).cast("long").as("n_feats"),
      logit.as("logit"), (logit > 0).as("keep"))
  }

  /** The [[hashedLinearLogit]] score as a composable Column — so a
    * multi-signal filter (q123) can evaluate the classifier in the same
    * single scan as its other signals. */
  def logitCol(textCol: Column, weights: Array[Long], seed: Int = 59,
               hasher: SeededHash = XxSeededHash,
               kernel: Boolean = true): Column = {
    val buckets = weights.length
    require(buckets > 0)
    // default: the compiled gram-hash + weight fold
    // ([[graft.functions.HashedLogit]]); the HOF spelling below is the
    // parity witness (ImportanceSpec, both families)
    if (kernel)
      org.apache.spark.sql.graft.ColumnBridge.column(
        graft.functions.HashedLogit(
          org.apache.spark.sql.graft.ColumnBridge.expression(
            TextAnalysis.tokens(textCol)),
          weights.clone(), seed, md5Family = isMd5(hasher)))
    else {
      val w = typedLit(weights)
      aggregate(unigramsBigrams(TextAnalysis.tokens(textCol)), lit(0L),
        (acc, g) => acc + element_at(w,
          (bucketOf(g, buckets, seed, hasher) + 1).cast("int")))
    }
  }

  /** Classifier evaluation report over a scored frame with columns
    * `(y ∈ {0,1}: long, logit: long)` — ONE row: ROC-AUC plus the
    * confusion matrix / precision / recall / F1 at the production
    * `keep = logit > 0` threshold.
    *
    * AUC is the Mann–Whitney rank statistic with average-rank ties,
    * computed EXACTLY in integer arithmetic over the per-score
    * histogram: for score s with n_s rows (p_s positive) and below(s)
    * rows strictly less, twice the average rank is 2·(below+1)+(n_s−1),
    * so 2·U = Σ_s p_s·avgrank2(s) − nPos·(nPos+1). The only float ops
    * are the four final divisions — each a single IEEE op on integer
    * inputs, rounded to 4 dp, so the report replays bit-exactly in SQL.
    *
    * Scale shape: one groupBy(logit) histogram shuffle (map-side
    * combine), then `below` via the q89 two-phase prefix sum —
    * truncating `logit div bucketWidth` keeps buckets contiguous
    * ordered intervals, so a PARTITIONED running window plus a
    * ≤buckets-row broadcast offset frame reconstructs the global
    * cumulative with no single-partition window over the histogram.
    * `bucketWidth` is the dial: pick it from the observed score range
    * so buckets stay in the thousands. Integer rank sums hold to
    * ~10^18 rows·ranks; past that the accumulator needs DECIMAL. */
  def aucReport(scored: DataFrame, bucketWidth: Long = 1L << 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(bucketWidth > 0)
    val hist = scored.groupBy("logit")
      .agg(count(lit(1)).as("n"), sum(col("y")).as("p"))
    val bucketed = hist.withColumn("bk", expr(s"logit div $bucketWidth"))
    val wB = Window.partitionBy("bk").orderBy("logit")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val partial = bucketed.withColumn("cum", sum(col("n")).over(wB))
    val offsets = partial.groupBy("bk").agg(max(col("cum")).as("total"))
      .withColumn("off", coalesce(sum(col("total")).over(
        Window.orderBy("bk")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("bk", "off")
    val cum = partial.join(broadcast(offsets), "bk")
      .withColumn("below", col("off") + col("cum") - col("n"))
    val m = cum.agg(
      sum(col("p") * (lit(2L) * (col("below") + 1L) + (col("n") - 1L)))
        .as("s2"),
      sum(col("p")).as("npos"), sum(col("n")).as("ntot"),
      sum(when(col("logit") > 0, col("p")).otherwise(0L)).as("tp"),
      sum(when(col("logit") > 0, col("n") - col("p")).otherwise(0L))
        .as("fp"))
    val nneg = col("ntot") - col("npos")
    def r4(x: Column) = round(x, 4)
    m.select(
      col("ntot").as("n_eval"), col("npos").as("n_pos"), nneg.as("n_neg"),
      col("tp").as("n_tp"), col("fp").as("n_fp"),
      (col("npos") - col("tp")).as("n_fn"),
      (nneg - col("fp")).as("n_tn"),
      r4((col("s2") - col("npos") * (col("npos") + 1L)).cast("double") /
        (lit(2L) * col("npos") * nneg).cast("double")).as("auc"),
      when(col("tp") + col("fp") === 0L, lit(null).cast("double"))
        .otherwise(r4(col("tp").cast("double") /
          (col("tp") + col("fp")).cast("double"))).as("prec"),
      r4(col("tp").cast("double") / col("npos").cast("double")).as("rec"),
      r4((lit(2L) * col("tp")).cast("double") /
        (lit(2L) * col("tp") + col("fp") + col("npos") - col("tp"))
          .cast("double")).as("f1"))
  }

  /** Sealed-family dispatch for the compiled kernels (the
    * [[graft.llm.Hashing]] convention — never a silent fallback). */
  private def isMd5(hasher: SeededHash): Boolean = hasher match {
    case PortableSeededHash => true
    case XxSeededHash => false
  }
}
