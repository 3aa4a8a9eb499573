package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.CosineSim

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Two paths (SURVEY.md §7.3 step 6):
  *  - brute-force cosine top-k — exact baseline; the query side is
  *    broadcast so the corpus streams once with no shuffle;
  *  - random-hyperplane LSH bucketing — the scale path: candidates share a
  *    signature bucket, so comparisons ~ bucket size, not corpus size.
  */
object Similarity {

  /** Cosine via the codegen'd native expression ([[graft.functions.CosineSim]]). */
  def cosine(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSim(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Cosine composed from higher-order functions — the no-custom-code
    * baseline formulation (zip_with dot product + aggregate norms). */
  def cosineHof(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
        lit(0.0), (acc, v) => acc + v)
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }

  /** Per-vector affine int8 quantization — the memory/IO lever of ANN at
    * 100 TB: a 64-dim float32 embedding (256 B) becomes 64 bytes of codes
    * + two doubles, a 4× reduction in scan bytes, cache footprint and
    * shuffle width for every similarity operator downstream (the
    * standard scalar-quantization baseline of FAISS-class systems).
    *
    *   scale = (max − min)/255,  code_i = round((x_i − min)/scale)
    *
    * with the all-equal-vector degenerate mapped to code 0 (its scale is
    * 0). Every op is exact or correctly rounded on exact inputs, so
    * codes — and anything computed from the dequantized values
    * min + code·scale — are bit-identical cross-engine.
    *
    * Output: (vec_id, mn, scale, qvec: array<int>). */
  def quantizeInt8(embs: DataFrame): DataFrame = {
    val mn = array_min(col("embedding")).cast("double")
    val mx = array_max(col("embedding")).cast("double")
    val scale = (mx - mn) / 255.0
    val codes = transform(col("embedding"), x =>
      when(scale > 0,
        round((x.cast("double") - mn) / scale).cast("int"))
        .otherwise(lit(0)))
    embs.select(col("vec_id"), mn.as("mn"), scale.as("scale"),
      codes.as("qvec"))
  }

  /** Dequantized view of a [[quantizeInt8]] row: x̂_i = mn + code_i·scale
    * as doubles. */
  def dequantize(mn: Column, scale: Column, qvec: Column): Column =
    transform(qvec, v => mn + v.cast("double") * scale)

  /** Brute-force top-k over int8-QUANTIZED vectors — [[bruteForceTopK]]
    * on the 4×-smaller representation, with the classic scalar-
    * quantization expansion: for x̂_i = mᴬ + aᵢ·sᴬ, ŷ_i = mᴮ + bᵢ·sᴮ,
    *
    *   x̂·ŷ = n·mᴬ·mᴮ + mᴬ·sᴮ·Σb + mᴮ·sᴬ·Σa + sᴬ·sᴮ·Σaᵢbᵢ
    *
    * so Σa, Σa² precompute per vector (integer folds, exact) and the
    * per-PAIR work is ONE integer dot product plus a handful of scalar
    * float ops — never a dequantized float array. Integer sums are
    * order-independent and the float combination is a fixed expression
    * tree of correctly-rounded ops, so scores are bit-identical
    * cross-engine (the oracle replays quantization, stats and the
    * expansion verbatim).
    *
    * Same join/window shape as [[bruteForceTopK]]: queries broadcast,
    * corpus never shuffles, per-query top-k via the rank window. */
  def quantizedTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    def stats(df: DataFrame): DataFrame =
      quantizeInt8(df).select(col("vec_id"), col("mn"), col("scale"),
        col("qvec"),
        size(col("qvec")).cast("long").as("n"),
        aggregate(col("qvec"), lit(0L), (acc, v) => acc + v).as("s1"),
        aggregate(col("qvec"), lit(0L),
          (acc, v) => acc + v.cast("long") * v.cast("long")).as("s2"))
    val c = stats(Par.fanOutScan(corpus))
    // NOTE: names must stay unique case-INsensitively (Spark's resolver):
    // e.g. a "QA" column would collide with "qa".
    val q = stats(queries).select(
      col("vec_id").as("query_id"), col("mn").as("mnA"),
      col("scale").as("sA"), col("qvec").as("qa"),
      col("n").as("nA"), col("s1").as("sumA"), col("s2").as("sqA"))
    // compiled integer dot (graft.functions.IntDot): the HOF spelling
    // (aggregate∘zip_with) ran interpreted and measured ~4× slower at
    // 200k vectors — same compiled-vs-HOF gap as the shingle family
    val ab = ColumnBridge.column(graft.functions.IntDot(
      ColumnBridge.expression(col("qa")),
      ColumnBridge.expression(col("c.qvec"))))
    def norm(n: Column, m: Column, s: Column, s1: Column, s2: Column): Column =
      n.cast("double") * m * m + lit(2.0) * m * s * s1.cast("double") +
        s * s * s2.cast("double")
    // both sides may share lineage (queries ⊂ corpus): alias-qualify
    val scored = c.as("c")
      .join(broadcast(q.as("q")), col("c.vec_id") =!= col("q.query_id"))
      .withColumn("ab", ab)
      .select(col("query_id"), col("c.vec_id").as("neighbor_id"),
        ((col("nA").cast("double") * col("mnA") * col("c.mn") +
          col("mnA") * col("c.scale") * col("c.s1").cast("double") +
          col("c.mn") * col("sA") * col("sumA").cast("double") +
          col("sA") * col("c.scale") * col("ab").cast("double")) /
          (sqrt(norm(col("nA"), col("mnA"), col("sA"), col("sumA"),
              col("sqA"))) *
            sqrt(norm(col("c.n"), col("c.mn"), col("c.scale"), col("c.s1"),
              col("c.s2")))))
          .as("sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= k)
  }

  /** Exact brute-force top-k neighbors for each query vector. The query set
    * is expected to be small (it is broadcast); the corpus side never
    * shuffles — each task ranks its partition and the per-query top-k merge
    * happens in the window over (queries × k) rows. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"))
    val scored = Par.fanOutScan(corpus)
      .join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(col("q_emb"), col("embedding")).as("sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= k)
  }

  /** Hard-negative mining (q156): for each query vector, the top-k
    * corpus vectors whose ROUNDED cosine lies inside [loSim, hiSim] —
    * similar enough to be confusable, below the near-duplicate band.
    * This is the contrastive-training counterpart of near-dup search:
    * embedding models train on (anchor, positive, hard-negative)
    * triples, and negatives sampled uniformly are trivially easy — the
    * informative ones live in exactly this similarity band (the in-batch
    * vs mined-negative distinction of the DPR/SimCSE line of work).
    *
    * Shape is the q34 kernel with a band filter before the rank: the
    * query set broadcasts, the corpus never shuffles (the filter drops
    * the easy mass at SCAN time — at mining bands like [0.15, 0.35]
    * that is most of the corpus), and only survivors enter the
    * per-query top-k (lowered to the bounded-heap operator by
    * [[graft.plans.TopKRewrite]]). Both the band test and the ordering
    * use the 4-dp rounded similarity, so the cut line and the ranking
    * are cross-engine stable (the q138 rounded-boundary convention). */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, k: Int,
                    loSim: Double, hiSim: Double): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"))
    val scored = Par.fanOutScan(corpus)
      .join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(cosine(col("q_emb"), col("embedding")), 4).as("sim"))
      .where(col("sim").between(loSim, hiSim))
    graft.ops.Windows.topKPerKey(scored, Seq(col("query_id")),
      Seq(col("sim").desc, col("neighbor_id").asc), k)
  }

  /** Margin-based bitext candidate mining (q194; Artetxe & Schwenk 2019,
    * "Margin-based Parallel Corpus Mining with Multilingual Sentence
    * Embeddings", ACL — the LASER/CCMatrix mining criterion): absolute
    * cosine overrates pairs in dense regions of embedding space, so each
    * candidate is scored RELATIVE to its neighborhoods — the ratio margin
    *
    *   margin(x, y) = cos(x, y) / ((avgTopK(x→TGT) + avgTopK(y→SRC)) / 2)
    *
    * and a pair is mined when its best margin clears a threshold. Per
    * the paper, the margin is evaluated over x's top-k candidates only.
    *
    * Determinism (the q138 rounded-boundary convention, taken further):
    * sims are fixed-pointed to 4-dp INTEGERS (`round(sim·10⁴)`) at the
    * scoring scan, and EVERYTHING downstream — candidate ranks, the two
    * k-term neighborhood sums (exact longs regardless of aggregation
    * order), and the margin, which reduces to ONE double division of
    * exact integers `8·si / (sumA + sumB)` (the /k and /2 constants
    * folded) — consumes only those integers, so sub-4-dp float
    * disagreement between engines cannot flip any boundary anywhere.
    *
    * Scale shape: ONE broadcast-queries scoring scan (the q34
    * ground-truth kernel) feeding both directions' per-id top-k windows
    * + two ≤k-row per-id sum aggregates + equi joins on src/tgt ids.
    * This is the labeled EXACT twin — at 100 TB the scoring scan swaps
    * for ANN legs (q35/q82/q124) unchanged, since the margin math only
    * consumes (src, tgt, si) triples. */
  def bitextMargin(src: DataFrame, tgt: DataFrame, k: Int,
                   threshold: Double): DataFrame = {
    val q = src.select(col("vec_id").as("src_id"),
      col("embedding").as("s_emb"))
    val scored = Par.fanOutScan(tgt).crossJoin(broadcast(q))
      .select(col("src_id"), col("vec_id").as("tgt_id"),
        round(cosine(col("s_emb"), col("embedding")) * 10000, 0)
          .cast("long").as("si"))
    val fwdW = Window.partitionBy("src_id")
      .orderBy(col("si").desc, col("tgt_id"))
    val bwdW = Window.partitionBy("tgt_id")
      .orderBy(col("si").desc, col("src_id"))
    val fwd = scored.withColumn("rn", row_number().over(fwdW))
      .where(col("rn") <= k).drop("rn")
    val sumA = fwd.groupBy("src_id").agg(sum("si").as("sum_a"))
    val sumB = scored.withColumn("rn", row_number().over(bwdW))
      .where(col("rn") <= k)
      .groupBy("tgt_id").agg(sum("si").as("sum_b"))
    val m = fwd.join(sumA, "src_id").join(sumB, "tgt_id")
      .withColumn("margin",
        round(lit(8.0) * col("si") / (col("sum_a") + col("sum_b")), 4))
    val w = Window.partitionBy("src_id")
      .orderBy(col("margin").desc, col("tgt_id"))
    m.withColumn("rk", row_number().over(w)).where(col("rk") === 1)
      .select(col("src_id"), col("tgt_id"),
        round(col("si") / 10000.0, 4).as("sim"), col("margin"),
        (col("margin") >= threshold).as("mined"))
  }

  /** Random-hyperplane LSH signatures as a (vec_id, sig) frame.
    *
    * Plane weights are INTEGERS in [-500, 499] derived deterministically
    * from a seeded hash of "plane:dim" — reproducible across
    * runs/executors with no driver-side randomness — and the projection is
    * computed in fixed point (`round(x·1000)·w` summed as longs), so the
    * sign bits are bit-identical in any engine that replicates the hash:
    * no float-sum order sensitivity anywhere. The whole computation is
    * explode → broadcast-join(planes×dims weight table) → two partial
    * aggregations: fully codegen'd (the previous zip_with/aggregate
    * formulation ran its lambdas interpreted per element).
    *
    * At scale: the weight table is planes×dims rows (broadcast); the
    * explode is dims× the corpus rows but carries only (vec_id, d, xi) —
    * map-side partial aggregation collapses it back to planes× before the
    * exchange. */
  def lshSignatures(corpus: DataFrame, planes: Int,
                    hasher: SeededHash = XxSeededHash,
                    kernel: Boolean = true): DataFrame = {
    // default: the compiled per-row kernel
    // ([[graft.functions.PortableLshSig]]) — one fused loop, no dim
    // explode, no weight join, no aggregation, no shuffle; the weight
    // table is derived per JVM from the same seeded hash. The exploded
    // spelling below stays as the value-identity parity witness
    // (asserted in SimilaritySpec for both families).
    if (kernel) {
      val sigs = org.apache.spark.sql.graft.ColumnBridge.column(
        graft.functions.PortableLshSig(
          org.apache.spark.sql.graft.ColumnBridge.expression(col("embedding")),
          tables = 1, planesPerTable = planes, md5Family = isMd5(hasher)))
      return corpus.select(col("vec_id"), sigs.as("sigs"))
        .where(col("sigs").isNotNull)
        .select(col("vec_id"), col("sigs")(0).as("sig"))
    }
    val ex = corpus
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("d", "x")))
      .select(col("vec_id"), col("d"),
        round(col("x").cast("double") * 1000).cast("long").as("xi"))
    val planesDf = corpus.sparkSession.range(planes)
      .select(col("id").cast("int").as("p"))
    val weights = ex.select(col("d")).distinct()
      .crossJoin(planesDf)
      .select(col("p"), col("d"),
        (hasher.hash(concat_ws(":", col("p"), col("d")), 7) % 1000 - 500)
          .as("w"))
    val proj = ex.join(broadcast(weights), "d")
      .groupBy("vec_id", "p")
      .agg(sum(col("xi") * col("w")).as("proj"))
    proj.groupBy("vec_id")
      .agg(sum(when(col("proj") > 0,
        pow(lit(2.0), col("p")).cast("long")).otherwise(0L)).as("sig"))
  }

  /** Binary sign-bit ANN (the hashing-for-compression face of
    * random-hyperplane LSH, Charikar 2002): every vector collapses to
    * `planes` hyperplane sign BITS packed in one long — at 60 planes a
    * 64-dim float32 vector (256 B) becomes 8 B, a 32× smaller scan —
    * and candidate ranking is `bit_count(xor(sig_q, sig_c))`, pure
    * integer ops at memory-bandwidth speed, no float math in the scan at
    * all. The float vectors are joined back ONLY for the ≤ k·q winners
    * (the exact-cosine re-rank seam every binary-ANN deployment has).
    * Signature pass = the [[lshSignatures]] compiled kernel; Hamming
    * ranking is exact integers, so the whole leg replays in SQL.
    *
    * At 100 TB: the signature table is the index (persist it like q129's
    * band index); queries broadcast; the scan is corpus-linear over
    * 8-byte codes — the cheapest ANN leg in the family (cf. q122 int8
    * SQ at 64 B/vec, q124 PQ at 12-bit codes + table lookups). */
  def hammingTopK(corpus: DataFrame, k: Int = 5, planes: Int = 60,
                  nQueries: Int = 10,
                  hasher: SeededHash = XxSeededHash): DataFrame = {
    require(planes >= 1 && planes <= 63)
    val sigs = lshSignatures(corpus, planes, hasher)
    val qs = sigs.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("sig").as("qsig"))
    val d = sigs.join(broadcast(qs), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        bit_count(col("qsig").bitwiseXOR(col("sig"))).as("hamming"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("hamming"), col("neighbor_id"))
    d.withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= k)
      .join(corpus.select(col("vec_id").as("query_id"),
        col("embedding").as("qe")), "query_id")
      .join(corpus.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("ne")), "neighbor_id")
      .select(col("query_id"), col("rk"), col("neighbor_id"),
        col("hamming").cast("long").as("hamming"),
        round(cosine(col("qe"), col("ne")), 4).as("cosine"))
  }

  /** The sealed-family dispatch of the compiled signature kernels (the
    * [[graft.llm.Hashing]] convention: adding a family is a
    * compile-time decision, never a silent fallback). */
  private def isMd5(hasher: SeededHash): Boolean = hasher match {
    case PortableSeededHash => true
    case XxSeededHash => false
  }

  /** Johnson-Lindenstrauss random projection to `k` dimensions
    * ([[graft.functions.JlProject]], seed 11 — independent of the seed-7
    * LSH hyperplanes): (vec_id, proj) with proj a length-k array of
    * exact fixed-point longs. One compiled pass per row, no shuffle;
    * null embeddings are dropped (the [[lshSignatures]] convention).
    * The dimensionality-reduction front for ANN/pair mining at scale:
    * k≈16 puts 4× fewer bytes than a 64-dim float vector through every
    * downstream shuffle at (1±ε) L2 distortion, ε ~ sqrt(8·ln n / k). */
  def jlProject(corpus: DataFrame, k: Int,
                hasher: SeededHash = XxSeededHash): DataFrame =
    Par.fanOutScan(corpus).select(col("vec_id"),
        ColumnBridge.column(graft.functions.JlProject(
          ColumnBridge.expression(col("embedding")),
          outDims = k, seed = 11, md5Family = isMd5(hasher))).as("proj"))
      .where(col("proj").isNotNull)

  /** Hashed-feature text embedding (the "hashing trick", Weinberger et
    * al. 2009, + a seeded random projection): n-gram counts hashed into
    * `buckets` features, then projected to `k` integer dimensions by the
    * [[graft.functions.JlProject]]-family weight matrix — the engine
    * EMBEDS TEXT ITSELF, no external model, so every ANN/near-dup
    * operator downstream (q34/q35/q99/q131…) can run on corpora that
    * arrive without vectors. Everything is integer (counts × integer
    * weights), so embeddings are bit-identical cross-engine.
    *
    * Output: (doc_id, p, v) long rows — the exploded spelling; a
    * consumer needing arrays groups by doc. Docs with fewer than n
    * tokens have no grams and are absent, the [[lshSignatures]] null
    * convention.
    *
    * Scale shape: one (doc, bucket) count shuffle (map-side combine
    * absorbs repeated grams), one broadcast join against the
    * buckets×k weight table (derived in-plan from the portable hash —
    * nothing ships from the driver), one (doc, p) sum. Corpus-linear;
    * the gram strings never cross a shuffle wider than the bucket id. */
  def hashedTextEmbedding(docs: DataFrame, n: Int = 3, buckets: Int = 256,
                          k: Int = 16,
                          hasher: SeededHash = XxSeededHash): DataFrame = {
    val spark = docs.sparkSession
    // md5 grams are ~10x the xx64 kernel's per-row cost — fan out only
    // that leg; the compiled kernel loses more to exchange overhead
    // than it gains (measured both ways at sf0.1)
    def docsPar = Par.fanOutScan(docs)
    // fast default: the compiled positional-shingle kernel — gram hashes
    // in one pass, no gram STRING ever materialized (the md5 leg exists
    // for the cross-engine oracle; its bucket values differ, embeddings
    // are a different but equally valid draw of the same family)
    val bc = (if (isMd5(hasher)) {
      docsPar.select(col("doc_id"),
          explode(TextAnalysis.shinglesFromTokens(
            TextAnalysis.tokens(col("text")), n)).as("g"))
        .select(col("doc_id"),
          pmod(PortableSeededHash.hash(col("g"), 13), lit(buckets.toLong))
            .as("b"))
    } else {
      docs.select(col("doc_id"),
          explode(ColumnBridge.column(graft.functions.PositionalShingles(
            ColumnBridge.expression(TextAnalysis.tokens(col("text"))), n)))
            .as("g"))
        .select(col("doc_id"), pmod(col("g"), lit(buckets.toLong)).as("b"))
    }).groupBy("doc_id", "b").agg(count(lit(1)).as("c"))
    val w = spark.range(buckets.toLong * k).select(
      expr(s"id div $k").as("b"),
      pmod(col("id"), lit(k.toLong)).as("p"),
      (PortableSeededHash.hash(
        concat(pmod(col("id"), lit(k.toLong)).cast("string"), lit(":"),
          expr(s"id div $k").cast("string")), 17) % 1000 - 500).as("w"))
    bc.join(broadcast(w), "b")
      .groupBy("doc_id", "p")
      .agg(sum(col("c") * col("w")).as("v"))
  }

  /** ANN via IVF (inverted-file) cells: a small coarse-quantizer centroid
    * set partitions the corpus into cells (each vector assigned to its
    * nearest centroid); queries probe only their `nprobe` nearest cells,
    * so comparisons ~ nprobe·cell-size instead of corpus size — the
    * standard complement to LSH bucketing when recall needs tuning by a
    * knob (nprobe) rather than by plane count.
    *
    * Centroids are a deterministic FIXED-SIZE sample of the corpus: the
    * `numCentroids` vectors with the smallest seeded hash of vec_id
    * (hash-order top-N — a uniform sample that every engine reproduces, so
    * the whole operator stays oracle-checkable). Fixed size is the scale
    * contract: centroid count — and with it the assignment fan-out and the
    * broadcast — is INDEPENDENT of corpus size (a corpus-proportional rule
    * like `vec_id % stride` makes assignment O(n²/stride) and the
    * broadcast unbounded at 100 TB). The top-N itself is
    * TakeOrderedAndProject: per-partition bounded heaps, no full sort. In
    * production the centroid frame would come from k-means over a sample
    * at the same `numCentroids`; everything downstream is unchanged.
    *
    * Scale shape: centroids BROADCAST to both the assignment join (corpus
    * streams once) and the probe join; per-vector argmax and per-query
    * top-k go through ranking windows that [[graft.plans.TopKRewrite]]
    * replaces with bounded-heap TopKPerKey operators. All ranking is on
    * the 4-dp-rounded score with id tie-breaks (cross-engine stable). */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              numCentroids: Int = 16, nprobe: Int = 2,
              hasher: SeededHash = XxSeededHash): DataFrame = {
    val cent = corpus
      .select(col("vec_id").as("cid"), col("embedding").as("c_emb"))
      .orderBy(hasher.hash(col("cid"), 5).asc, col("cid").asc)
      .limit(numCentroids)
    val wAssign = Window.partitionBy(col("vec_id"))
      .orderBy(round(col("csim"), 4).desc, col("cid"))
    val assigned = corpus.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("embedding"), col("cid"),
        cosine(col("embedding"), col("c_emb")).as("csim"))
      .withColumn("crn", row_number().over(wAssign))
      .where(col("crn") === 1)
      .select("vec_id", "embedding", "cid")
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(round(col("qsim"), 4).desc, col("cid"))
    val probes = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      .crossJoin(broadcast(cent))
      .select(col("query_id"), col("q_emb"), col("cid"),
        cosine(col("q_emb"), col("c_emb")).as("qsim"))
      .withColumn("qrn", row_number().over(wProbe))
      .where(col("qrn") <= nprobe)
      .select("query_id", "q_emb", "cid")
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(round(col("sim"), 4).desc, col("neighbor_id"))
    assigned.join(broadcast(probes), Seq("cid"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(col("q_emb"), col("embedding")).as("sim"))
      .withColumn("rn", row_number().over(wRank).cast("long"))
      .where(col("rn") <= k)
  }

  /** Lloyd's k-means in cosine geometry — the production coarse-quantizer
    * trainer for [[ivfTopK]] (whose hash-order sample is the zero-training
    * stand-in). Returns the final (vec_id, cid) assignment after `iters`
    * refinement rounds from a deterministic hash-order seed sample.
    *
    * Engine-exact by construction: vectors are fixed-point integers
    * (round(x·1000)), centroids are kept UNNORMALIZED as per-dimension
    * integer SUMS over their members (cosine is scale-invariant, so
    * sum ≡ mean — the [[labelCentroidSim]] trick), and assignment ranks
    * the 4-dp-rounded similarity with cid tie-breaks. Every quantity in
    * the iteration is exact integer arithmetic or a deterministic IEEE op
    * on exact integers, so the whole training loop replays bit-for-bit in
    * any engine — the q77 oracle unrolls these same rounds in DuckDB CTEs.
    *
    * Scale shape per round: centroids (k×dims sums) and their norms
    * BROADCAST; the corpus explode joins them and partial-aggregates
    * map-side; per-vector argmax is a ranking window that TopKRewrite
    * lowers to a bounded heap. Round state is `localCheckpoint`ed (the
    * connected-components lesson: unpersist-based loops recompute their
    * whole lineage). Empty clusters drop out (their sums have no rows) —
    * both engines agree by join semantics. */
  def kmeansAssign(corpus: DataFrame, k: Int = 8, iters: Int = 2,
                   hasher: SeededHash = XxSeededHash): DataFrame =
    kmeansTrain(corpus, k, iters, hasher)._1

  /** SemDeDup-style SEMANTIC deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space with [[kmeansAssign]],
    * compare vectors pairwise ONLY within their cluster (cosine ≥
    * `threshold` ⇒ semantic duplicates — paraphrases, re-renders,
    * translations that no lexical dedup can see), resolve the duplicate
    * pairs into connected components and keep one representative per
    * component (min vec_id, [[graft.llm.Dedup.connectedComponents]]'
    * convention).
    *
    * Scale shape — the reason SemDeDup clusters first: all-pairs cosine
    * is O(n²); within-cluster pairing is O(Σ cᵢ²), controlled by `k`.
    * Grow k with the corpus (k ≈ n/target_cluster_size keeps per-cluster
    * work bounded; the paper uses k in the tens of thousands at
    * billion-scale). The pair join is an equi-join on cid — with small k
    * the cid key is deliberately coarse, so at production scale raise k
    * rather than relying on AQE to split cluster-sized join partitions.
    *
    * Skew guard (`maxCluster`, the [[Dedup]] family's `maxDf`/`maxBucket`
    * contract): the O(Σ cᵢ²) bound assumes k-means balance, but k-means
    * over near-duplicate-heavy embeddings collapses easily — a degenerate
    * mega-cluster puts cᵢ² join rows through ONE cid key, the exact
    * single-key s² shape of BASELINE.md's round-6 cap table (~16 min for
    * 537M rows on one reducer). Cells above `maxCluster` are recursively
    * RE-CLUSTERED ([[clusterCapped]]): their members get a fresh k-means
    * split (geometry-aware — true semantic pairs stay co-celled where the
    * embedding space separates at all), up to `maxDepth` levels; cells
    * k-means cannot split (an identical-vector flood — every seed ties)
    * are DROPPED, mirroring `dropHotBuckets`: such a flood is exact-dup
    * territory that q30/q92 should collapse first. Every emitted pair
    * still carries its exact verified cosine — only recall is traded, and
    * only while the cap is tripping; below the cap the output is
    * IDENTICAL to the unguarded join (asserted in SimilaritySpec). The
    * 4096 default inherits that measured single-key curve (identical s²
    * equi-join shape; BASELINE.md "Round-6 cap validation" and "Round-8
    * cap validation: the mega-cluster experiment"). Like the Lloyd rounds
    * it guards, the cluster-size probe is an eager action per level —
    * this operator is iterative/action-driven by construction
    * (kmeansTrain materializes and sums every round).
    *
    * Output: (vec_id, component, is_keeper) for every vector in ≥1
    * duplicate pair — [[graft.llm.Dedup.dropNearDups]] applies it. */
  def semanticDedup(corpus: DataFrame, k: Int = 8, iters: Int = 2,
                    threshold: Double = 0.4,
                    hasher: SeededHash = XxSeededHash,
                    maxCluster: Int = 1 << 12): DataFrame = {
    val withCid = clusterCapped(corpus, k, iters, hasher, maxCluster)
    val a = withCid.select(col("cid"), col("vec_id").as("doc_a"),
      col("embedding").as("ea"))
    val b = withCid.select(col("cid"), col("vec_id").as("doc_b"),
      col("embedding").as("eb"))
    val pairs = a.join(b, Seq("cid"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        cosine(col("ea"), col("eb")).as("sim"))
      .where(col("sim") >= threshold)
      .select("doc_a", "doc_b")
    Dedup.connectedComponents(pairs)
      .select(col("doc_id").as("vec_id"), col("component"), col("is_keeper"))
  }

  /** [[kmeansAssign]] cells with the `maxCluster` skew guard (see
    * [[semanticDedup]]'s scaladoc for the full contract). Returns
    * (vec_id, embedding, cid) with every surviving cell ≤ `maxCluster`
    * rows; cid is a STRING (depth-prefixed on refined cells, so refined
    * ids can never collide with first-level seed ids).
    *
    * Per level: one count-per-cid aggregate finds over-cap cells (tiny
    * frame, broadcast); under-cap rows are final; over-cap rows are
    * jointly re-clustered with a fresh k-means (subK = max(2, k) — a
    * k=1 caller still gets an actual split attempt). Joint re-clustering
    * across hot cells can only co-cell MORE true pairs (every emitted
    * pair is exact-cosine-verified downstream, so extra candidates are
    * harmless). After `maxDepth` levels, still-over-cap cells are
    * dropped — by then every level has failed to split them, which means
    * seeds tie (near-identical flood). `maxCluster = Int.MaxValue`
    * returns the unguarded assignment with zero extra work. */
  private[llm] def clusterCapped(corpus: DataFrame, k: Int, iters: Int,
                                 hasher: SeededHash, maxCluster: Int,
                                 maxDepth: Int = 2): DataFrame = {
    val base = corpus.join(kmeansAssign(corpus, k, iters, hasher), "vec_id")
      .select(col("vec_id"), col("embedding"), col("cid").cast("string").as("cid"))
    if (maxCluster == Int.MaxValue) return base
    var acc: DataFrame = null
    def add(df: DataFrame): Unit =
      acc = if (acc == null) df else acc.unionByName(df)
    var pending = base.localCheckpoint()
    var depth = 0
    var done = false
    while (!done) {
      val hot = pending.groupBy("cid").agg(count(lit(1)).as("_csz"))
        .where(col("_csz") > maxCluster).select("cid")
      if (hot.isEmpty) { add(pending); done = true }
      else if (depth == maxDepth) {
        // every refinement level failed to split these cells — identical-
        // vector flood; drop them (the dropHotBuckets trade)
        add(pending.join(broadcast(hot), Seq("cid"), "left_anti"))
        done = true
      } else {
        add(pending.join(broadcast(hot), Seq("cid"), "left_anti"))
        val hotRows = pending.join(broadcast(hot), Seq("cid"), "left_semi")
          .select("vec_id", "embedding")
          .localCheckpoint()
        val sub = kmeansAssign(hotRows, math.max(2, k), iters, hasher)
        pending = hotRows.join(sub, "vec_id")
          .select(col("vec_id"), col("embedding"),
            concat_ws("|", lit(depth.toString), col("cid")).as("cid"))
          .localCheckpoint()
        depth += 1
      }
    }
    acc
  }

  /** SSL-prototypes data pruning (Sorscher et al. 2022, "Beyond neural
    * scaling laws: beating power law scaling via data pruning",
    * arXiv:2206.14486): cluster the embedding space with [[kmeansTrain]],
    * score every vector by cosine to its OWN cluster centroid
    * ("prototypicality"), and mark the most prototypical `pruneFrac` of
    * each cluster for pruning — in the data-abundant regime, dropping
    * the easiest (most typical) examples beats random pruning. Composed
    * after [[semanticDedup]] this is the D4 pipeline of Tirumala et al.
    * 2023 (arXiv:2308.12284): SemDeDup removes near-copies, this pass
    * then thins dense prototypical cores.
    *
    * All arithmetic is the engine-exact fixed-point spelling shared with
    * [[kmeansTrain]]/[[labelCentroidSim]] (integer dot products, 4-dp
    * rounded cosine, vec_id tie-break), so an external engine replays
    * bit-identically.
    *
    * Scale shape: the prototypicality score is computed per ROW — the
    * k×dims centroid sums collapse to k array rows, broadcast, and the
    * dot/norms are exact long folds over the un-exploded embedding
    * (zip_with + aggregate; sums of the same integer multisets as the
    * exploded spelling, so bit-identical) — leaving ONE corpus shuffle
    * (the vec_id join against the trainer's assignment) plus the
    * PER-CLUSTER rank window, O(cᵢ log cᵢ) per cluster. The first cut
    * re-exploded the corpus to (vec_id, d, xi) rows and pushed
    * dims×|corpus| rows through three shuffles; at 200k×64-dim vectors
    * that measured 37-47 s against this spelling's ~8 s — same gate
    * output, measured in BASELINE.md's 100× table. Like SemDeDup, grow
    * k with the corpus so single-cluster sorts stay in one task's
    * memory.
    *
    * Output: (vec_id, cid, centroid_sim, kept) — `kept = false` for the
    * ceil(pruneFrac·|cluster|) most prototypical members (ties broken by
    * vec_id), ALL rows returned so callers can audit or re-threshold. */
  def prototypicalityPrune(corpus: DataFrame, pruneFrac: Double = 0.25,
                           k: Int = 8, iters: Int = 2,
                           hasher: SeededHash = XxSeededHash): DataFrame = {
    require(pruneFrac >= 0.0 && pruneFrac < 1.0,
      "pruneFrac is the dropped fraction per cluster, in [0, 1)")
    val (assign, cent) = kmeansTrain(corpus, k, iters, hasher)
    // collapse the (cid, d, m) centroid sums to k broadcastable array
    // rows; sort_array on the (d, m) struct orders by dimension, so the
    // m-array is positionally aligned with the embedding
    val centArr = cent.groupBy("cid")
      .agg(transform(
        array_sort(collect_list(struct(col("d"), col("m")))),
        s => s.getField("m")).as("m_arr"))
      .withColumn("nm",
        aggregate(col("m_arr"), lit(0L), (a, m) => a + m * m))
    val xiArr = transform(col("embedding"),
      x => round(x.cast("double") * 1000).cast("long"))
    val proto = corpus
      .select(col("vec_id"), xiArr.as("xi"))
      .withColumn("nx", aggregate(col("xi"), lit(0L), (a, x) => a + x * x))
      .join(assign, "vec_id")
      .join(broadcast(centArr), "cid")
      .withColumn("dot", aggregate(
        zip_with(col("xi"), col("m_arr"), (x, m) => x * m),
        lit(0L), (a, p) => a + p))
      .withColumn("centroid_sim", round(col("dot").cast("double") /
        (sqrt(col("nx").cast("double")) * sqrt(col("nm").cast("double"))),
        4))
    val wR = Window.partitionBy("cid")
      .orderBy(col("centroid_sim").desc, col("vec_id").asc)
    val wC = Window.partitionBy("cid")
    proto
      .withColumn("rk", row_number().over(wR))
      .withColumn("csz", count(lit(1)).over(wC))
      .select(col("vec_id"), col("cid"), col("centroid_sim"),
        (col("rk") > ceil(col("csz") * pruneFrac)).as("kept"))
  }

  /** Fixed-point k-means over the whole `corpus` (vec_id, embedding):
    * [[kmeansTrainKeyed]]'s rounds with no subspace key. Returns
    * (assign (vec_id, cid), cent (cid, d, m)). */
  def kmeansTrain(corpus: DataFrame, k: Int = 8, iters: Int = 2,
                  hasher: SeededHash = XxSeededHash)
      : (DataFrame, DataFrame) =
    kmeansRounds(corpus, Nil, k, iters, hasher)

  /** Cluster-separation audit over [[kmeansTrain]]'s result — the
    * clustering-quality counterpart of the q131 ANN recall report:
    * per cluster, how confidently its members belong. For every vector,
    * `own_bp` is the (basis-point) cosine to its own centroid and
    * `margin_bp = own_bp − runner_up_bp` the gap to the second-best
    * centroid — the centroid-based silhouette simplification (the
    * full silhouette's pairwise terms are O(n²); against centroids the
    * same "cohesion vs nearest alternative" reading costs one scoring
    * pass, which is why large-scale practice audits this way). Low
    * mean margin ⇒ overlapping clusters (raise k or iterate more);
    * min margin 0 ⇒ a vector exactly on a boundary.
    *
    * Determinism: sims are the training rounds' own 4-dp-rounded
    * fixed-point cosines quantized to integer basis points (the q180
    * convention), margins are integer differences, and the per-cluster
    * means are single divisions on integer sums rounded to 4 dp — the
    * whole audit replays exactly against the unrolled training chain.
    *
    * Scale shape: one extra assignment-style pass over the trained
    * frame — centroids and their norms broadcast, one (vec_id, cid)
    * partial-agg shuffle of narrow integer rows, a per-vector k-row
    * window, then a ≤k-row report. Nothing beyond what each training
    * iteration already costs. */
  def clusterSeparation(corpus: DataFrame, k: Int = 8, iters: Int = 2,
                        hasher: SeededHash = XxSeededHash): DataFrame = {
    val (_, cent) = kmeansTrain(corpus, k, iters, hasher)
    val ex = corpus
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("d", "x")))
      .select(col("vec_id"), col("d"),
        round(col("x").cast("double") * 1000).cast("long").as("xi"))
    val nx = ex.groupBy("vec_id").agg(sum(col("xi") * col("xi")).as("nx"))
    val nm = cent.groupBy("cid").agg(sum(col("m") * col("m")).as("nm"))
    val wA = Window.partitionBy(col("vec_id"))
      .orderBy(col("sim").desc, col("cid"))
    val scored = ex.join(broadcast(cent), "d")
      .groupBy("vec_id", "cid").agg(sum(col("xi") * col("m")).as("dot"))
      .join(broadcast(nm), "cid")
      .join(nx, "vec_id")
      .withColumn("sim", round(col("dot").cast("double") /
        (sqrt(col("nx").cast("double")) * sqrt(col("nm").cast("double"))),
        4))
      .withColumn("sim_bp",
        round(col("sim").cast("double") * 10000, 0).cast("long"))
      .withColumn("rn", row_number().over(wA))
    val own = scored.where(col("rn") === 1)
      .select(col("vec_id"), col("cid"), col("sim_bp").as("own_bp"))
    val ru = scored.where(col("rn") === 2)
      .select(col("vec_id"), col("sim_bp").as("ru_bp"))
    own.join(ru, "vec_id")
      .withColumn("margin_bp", col("own_bp") - col("ru_bp"))
      .groupBy("cid").agg(
        count(lit(1)).as("n_members"),
        round(sum(col("margin_bp")).cast("double") /
          count(lit(1)).cast("double"), 4).as("mean_margin_bp"),
        min(col("margin_bp")).as("min_margin_bp"),
        round(sum(col("own_bp")).cast("double") /
          count(lit(1)).cast("double"), 4).as("mean_own_bp"),
        min(col("own_bp")).as("min_own_bp"))
      .orderBy("cid")
  }

  /** LSH bucket-occupancy audit + parameter advisor — the operational
    * report behind every banded-LSH scale claim in this library (q32,
    * q132, q138): per hash table, how full the buckets actually are and
    * what the collision join will cost. `cand_pairs = Σ sz·(sz−1)/2` is
    * EXACTLY the number of candidate pairs the self-join would score at
    * this table's granularity (`sum_sz2` is the equi-join's row
    * product), and `recommended_planes` is the smallest p with
    * n ≤ target·2^p — the Scaladoc'd production dial (planes grow as
    * log2(n/target)) computed from the data instead of asserted.
    * Read it before trusting a planesPerTable at a new corpus size;
    * BASELINE.md "Round-8 cap validation: the hot-bucket experiment"
    * measured what happens when this report is ignored.
    *
    * All integers (the one 4-dp ratio is mean bucket size); the
    * advisor's log2 is integer arithmetic (a 63-row broadcast probe of
    * shifted bounds — no float log to wobble at powers of two).
    *
    * Scale shape: ONE signature pass (the compiled q132 kernel), one
    * (t, sig) count shuffle, then ≤tables·buckets histogram rows;
    * report is `tables` rows. */
  def lshBucketAudit(corpus: DataFrame, tables: Int = 4,
                     planesPerTable: Int = 8, targetBucket: Long = 16,
                     hasher: SeededHash = XxSeededHash): DataFrame = {
    require(targetBucket > 0)
    val sig = lshSignaturesMulti(corpus, tables, planesPerTable, hasher)
    val buckets = sig.groupBy("t", "sig").agg(count(lit(1)).as("sz"))
    val perTable = buckets.groupBy("t").agg(
      sum(col("sz")).as("n_vecs"),
      count(lit(1)).as("n_buckets"),
      max(col("sz")).as("max_bucket"),
      round(sum(col("sz")).cast("double") /
        count(lit(1)).cast("double"), 4).as("mean_bucket"),
      sum(col("sz") * col("sz")).as("sum_sz2"),
      sum(expr("sz * (sz - 1) div 2")).as("cand_pairs"))
    val ps = corpus.sparkSession.range(0, 63).select(col("id").as("p"))
    // n ≤ target·2^p ⟺ (n−1) >> p < target — pure shifts, no overflow
    val adv = perTable.select("t", "n_vecs")
      .join(broadcast(ps),
        expr("shiftright(n_vecs - 1, CAST(p AS INT))") < lit(targetBucket))
      .groupBy("t").agg(min(col("p")).as("recommended_planes"))
    perTable.join(adv, "t")
      .select(col("t").cast("long").as("t"), col("n_vecs"),
        col("n_buckets"), col("max_bucket"), col("mean_bucket"),
        col("sum_sz2"), col("cand_pairs"), col("recommended_planes"))
      .orderBy("t")
  }

  /** [[kmeansTrain]] over SUBSPACE-KEYED vectors: `sub` carries
    * (s, vec_id, embedding) and every aggregation/window/join simply
    * adds `s` to its keys, so ALL m codebooks train in ONE job sequence
    * — per-iteration cost (and Spark job count) independent of m. This
    * is the difference between PQ with m=4 and m=64 at 100 TB: the
    * sequential per-subspace spelling pays m× the scheduling and m
    * corpus passes per iteration, the keyed spelling exactly one.
    * Value-identical per subspace to running [[kmeansTrain]] on each
    * slice (the subspaces are disjoint key groups; seeds use the same
    * hash order per group) — q124's oracle replays unchanged and
    * SimilaritySpec asserts the equality. Returns
    * (assign (s, vec_id, cid), cent (s, cid, d, m)). */
  def kmeansTrainKeyed(sub: DataFrame, k: Int = 8, iters: Int = 2,
                       hasher: SeededHash = XxSeededHash)
      : (DataFrame, DataFrame) =
    kmeansRounds(sub, Seq("s"), k, iters, hasher)

  /** The k-means rounds of [[kmeansTrain]] (`keys` empty) and
    * [[kmeansTrainKeyed]] (`keys` = the subspace column): every
    * aggregation, window and join is keyed by `keys` plus its own
    * columns. */
  private def kmeansRounds(vecs: DataFrame, keys: Seq[String], k: Int,
                           iters: Int, hasher: SeededHash)
      : (DataFrame, DataFrame) = {
    require(iters >= 1, "k-means needs at least one round")
    def by(cs: String*): Seq[Column] = (keys ++ cs).map(col)
    def on(cs: String*): Seq[String] = keys ++ cs
    Rounds("kmeans", vecs.sparkSession) { r =>
      // ONE corpus shuffle for the whole trainer: hash-partition on
      // (keys, vec_id) BEFORE the explode (array rows are narrower than
      // exploded rows) and persist with that partitioning, so every
      // per-round operator keyed by (keys, vec_id) or a superset (the
      // dot-product groupBy after the broadcast centroid join, the nx
      // equi-join, the argmax window, the centroid-recompute join) reuses
      // this single exchange
      val ex = r.persist(vecs
        .repartition(by("vec_id"): _*)
        .select(by("vec_id") :+ posexplode(col("embedding")).as(Seq("d", "x")): _*)
        .select(by("vec_id", "d") :+
          round(col("x").cast("double") * 1000).cast("long").as("xi"): _*))
      // derived from ex's cached blocks without an exchange — co-partitioned
      // with ex by construction, so the per-round join back is shuffle-free
      val nx = r.persist(ex.groupBy(by("vec_id"): _*)
        .agg(sum(col("xi") * col("xi")).as("nx")))
      // the k seeds per key, in hash order; without keys a global ordered
      // limit, since a window over one constant key adds an exchange and
      // a job per call
      val seedOrder = Seq(hasher.hash(col("cid"), 5).asc, col("cid").asc)
      val ids = vecs.select(by() :+ col("vec_id").as("cid"): _*)
      val seeds =
        if (keys.isEmpty) ids.orderBy(seedOrder: _*).limit(k)
        else ids.withColumn("srn", row_number().over(
            Window.partitionBy(by(): _*).orderBy(seedOrder: _*)))
          .where(col("srn") <= k).select(by("cid"): _*)
      // a seed's initial "cluster" is itself: centroid sums = its components
      var cent = r.checkpoint(ex
        .join(seeds.withColumn("vec_id", col("cid")), on("vec_id"))
        .select(by("cid", "d") :+ col("xi").as("m"): _*))
      var assign: DataFrame = null
      val wA = Window.partitionBy(by("vec_id"): _*)
        .orderBy(col("sim").desc, col("cid"))
      for (i <- 1 to iters) r.round(i) {
        val nm = cent.groupBy(by("cid"): _*).agg(sum(col("m") * col("m")).as("nm"))
        assign = r.checkpoint(ex.join(broadcast(cent), on("d"))
          .groupBy(by("vec_id", "cid"): _*).agg(sum(col("xi") * col("m")).as("dot"))
          .join(broadcast(nm), on("cid"))
          .join(nx, on("vec_id"))
          .withColumn("sim", round(col("dot").cast("double") /
            (sqrt(col("nx").cast("double")) * sqrt(col("nm").cast("double"))), 4))
          .withColumn("rn", row_number().over(wA))
          .where(col("rn") === 1)
          .select(by("vec_id", "cid"): _*))
        if (i < iters)
          cent = r.checkpoint(ex.join(assign, on("vec_id"))
            .groupBy(by("cid", "d"): _*).agg(sum(col("xi")).as("m")))
      }
      // cent is the frame the LAST assignment round ranked against
      (assign, cent)
    }
  }

  /** Product quantization + asymmetric-distance search (Jégou et al.
    * 2011, "Product Quantization for Nearest Neighbor Search") — the
    * third leg of the ANN family next to IVF (q82) and scalar
    * quantization (q122): the vector splits into `m` contiguous
    * subspaces, each trained with its own k-means codebook
    * (reusing [[kmeansTrain]]'s fixed-point trainer on the sliced
    * vectors), and a vector stores only its `m` centroid codes —
    * log2(numCentroids)·m bits (12 bits here vs 256 B float32).
    *
    * Search is ADC: per query, an m×numCentroids table of exact INTEGER
    * dots query-subvector·centroid broadcasts; a candidate's approximate
    * dot is then m table lookups summed — the corpus is never touched as
    * floats, only as codes. Approx norms are likewise code-table
    * lookups. All sums exact integers in the trainer's fixed-point
    * geometry, ranking on the 4-dp-rounded score with id tie-breaks —
    * the full train → encode → search loop replays in the oracle.
    *
    * Scale shape: m independent trainings (corpus-linear each), codes =
    * m rows/vector; scoring joins codes against the BROADCAST dot
    * tables and reduces per (query, vector) with map-side combine — no
    * float vectors move after encoding, and the 100 TB read path is the
    * code table at ~1/80 the bytes. */
  def pqTopK(queries: DataFrame, corpus: DataFrame, k: Int = 5,
             m: Int = 4, dims: Int = 64, numCentroids: Int = 8,
             iters: Int = 2,
             hasher: SeededHash = XxSeededHash): DataFrame = {
    require(m > 0 && dims % m == 0, "dims must split evenly into m subspaces")
    val dsub = dims / m
    // all m subspace codebooks train in ONE keyed job sequence
    // ([[kmeansTrainKeyed]]) — iteration cost independent of m
    val sub = (0 until m).map { s =>
      corpus.select(lit(s).as("s"), col("vec_id"),
        expr(s"slice(embedding, ${s * dsub + 1}, $dsub)").as("embedding"))
    }.reduce(_ unionByName _)
    val (codes, cb) = kmeansTrainKeyed(sub, numCentroids, iters, hasher)
    pqSearch(queries, k, m, dims, codes, cb)
  }

  /** The SEARCH half of [[pqTopK]], split out so the subspace codebooks
    * and code table can be a PERSISTED artifact ([[writePqCodebook]] /
    * [[readPqCodebook]]): `codes` is the encoded corpus (s, vec_id,
    * cid), `cb` the per-subspace integer centroid sums (s, cid, d, m).
    * ADC search never touches the corpus floats — the entire read path
    * is these two frames, which is precisely why the codebook artifact
    * is the natural unit to persist. Bit-identical to the in-query form
    * off the same training (SimilaritySpec pins it). */
  def pqSearch(queries: DataFrame, k: Int, m: Int, dims: Int,
               codes: DataFrame, cb: DataFrame): DataFrame = {
    require(m > 0 && dims % m == 0, "dims must split evenly into m subspaces")
    val dsub = dims / m
    val nm = cb.groupBy("s", "cid").agg(sum(col("m") * col("m")).as("nm"))
    val exq = queries.select(col("vec_id").as("query_id"),
        posexplode(col("embedding")).as(Seq("gd", "x")))
      .select(col("query_id"), expr(s"gd div $dsub").cast("int").as("s"),
        pmod(col("gd"), lit(dsub)).cast("int").as("d"),
        round(col("x").cast("double") * 1000).cast("long").as("xi"))
    val nq = exq.groupBy("query_id").agg(sum(col("xi") * col("xi")).as("nq"))
    val tbl = exq.join(cb, Seq("s", "d"))
      .groupBy("query_id", "s", "cid")
      .agg(sum(col("xi") * col("m")).as("dot"))
    val napprox = codes.join(broadcast(nm), Seq("s", "cid"))
      .groupBy("vec_id").agg(sum(col("nm")).as("na"))
    val scored = codes.join(broadcast(tbl), Seq("s", "cid"))
      .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
      .agg(sum(col("dot")).as("adot"))
      .where(col("neighbor_id") =!= col("query_id"))
      .join(napprox.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
      .join(broadcast(nq), "query_id")
      .withColumn("sim", round(col("adot").cast("double") /
        (sqrt(col("nq").cast("double")) * sqrt(col("na").cast("double"))), 4))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= k)
      .select("query_id", "rn", "neighbor_id", "sim")
  }

  /** IVF probe over a TRAINED quantizer — [[kmeansTrain]] feeding
    * [[ivfTopK]]'s probe shape, closing the train → index → query loop
    * (the hash-sample `ivfTopK` is the zero-training stand-in; fitted
    * centroids track the corpus density, so cells are balanced and a
    * probe budget of `nprobe` cells recalls more true neighbors).
    *
    * All scoring is in the fixed-point cosine geometry of the trainer
    * (round(x·1000) integer components): probe similarity is the exact
    * integer dot / norms formula, candidate similarity is [[cosine]] over
    * the fixed-point component arrays — sums of exact small integers in
    * IEEE doubles, so both are bit-reproducible in any engine and the q82
    * oracle replays training AND probing in DuckDB CTEs. Ranking is on
    * the 4-dp-rounded score with id tie-breaks throughout.
    *
    * Scale shape: centroid sums (k×dims) and query-side frames broadcast;
    * the corpus streams once through assignment (inside [[kmeansTrain]])
    * and once through the candidate join; per-key ranking windows lower
    * to bounded heaps via [[graft.plans.TopKRewrite]]. */
  def ivfTopKTrained(queries: DataFrame, corpus: DataFrame, k: Int,
                     numCentroids: Int = 8, iters: Int = 2, nprobe: Int = 2,
                     hasher: SeededHash = XxSeededHash): DataFrame = {
    val (assign, cent) = kmeansTrain(corpus, numCentroids, iters, hasher)
    ivfSearchTrained(queries, corpus, k, assign, cent, nprobe)
  }

  /** The SEARCH half of [[ivfTopKTrained]], split out so the trained
    * quantizer can be a PERSISTED artifact ([[writeIvfCodebook]] /
    * [[readIvfCodebook]] — the q222 lifecycle applied to the q82
    * trainer): `assign` is the inverted-list map (vec_id, cid), `cent`
    * the integer centroid sums (cid, d, m). Off the same training the
    * output is bit-identical to the in-query form (deterministic
    * fixed-point math end to end; SimilaritySpec pins the equality), so
    * a report that reads the codebook artifact keeps the in-query
    * oracle verbatim and drops the per-query k-means cost. */
  def ivfSearchTrained(queries: DataFrame, corpus: DataFrame, k: Int,
                       assign: DataFrame, cent: DataFrame,
                       nprobe: Int = 2): DataFrame = {
    val nm = cent.groupBy("cid").agg(sum(col("m") * col("m")).as("nm"))
    // probe: rank cells per query by exact-integer cosine to the centroid
    val exq = queries
      .select(col("vec_id").as("query_id"),
        posexplode(col("embedding")).as(Seq("d", "x")))
      .select(col("query_id"), col("d"),
        round(col("x").cast("double") * 1000).cast("long").as("xi"))
    val nxq = exq.groupBy("query_id").agg(sum(col("xi") * col("xi")).as("nx"))
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("qsim").desc, col("cid"))
    val probes = exq.join(broadcast(cent), "d")
      .groupBy("query_id", "cid").agg(sum(col("xi") * col("m")).as("dot"))
      .join(broadcast(nm), "cid")
      .join(broadcast(nxq), "query_id")
      .withColumn("qsim", round(col("dot").cast("double") /
        (sqrt(col("nx").cast("double")) * sqrt(col("nm").cast("double"))), 4))
      .withColumn("qrn", row_number().over(wProbe))
      .where(col("qrn") <= nprobe)
      .select("query_id", "cid")
    // fixed-point component arrays, bound ONCE per side (HOF lambdas run
    // interpreted — never re-embed the transform in downstream exprs)
    def fixedPoint(df: DataFrame, idAs: String): DataFrame =
      df.select(col("vec_id").as(idAs),
        transform(col("embedding"),
          x => round(x.cast("double") * 1000).cast("float")).as(s"f_$idAs"))
    val corpusF = fixedPoint(corpus, "neighbor_id")
    val queriesF = fixedPoint(queries, "query_id")
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    assign.join(broadcast(probes), Seq("cid"))
      .select(col("vec_id").as("neighbor_id"), col("query_id"))
      .where(col("neighbor_id") =!= col("query_id"))
      .join(corpusF, "neighbor_id")
      .join(broadcast(queriesF), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("f_query_id"), col("f_neighbor_id")), 4).as("sim"))
      .withColumn("rn", row_number().over(wRank).cast("long"))
      .where(col("rn") <= k)
      .select("query_id", "rn", "neighbor_id", "sim")
  }

  /** Persist a trained IVF index as a PARTITIONED cell store — the
    * build-once/search-every-batch ANN lifecycle (the q129 story for
    * vector search): [[kmeansTrain]] once, then
    * `cells/cid=<c>/` holds each inverted list as its own partition
    * directory and `centroids/` the k×dims integer centroid sums.
    * At 100 TB the probe step reads ONLY the nprobe probed cells —
    * partition pruning at the filesystem listing, the on-disk analog of
    * an inverted file — while every other cell's files are never
    * opened. */
  def writeIvfIndex(corpus: DataFrame, dir: String, numCentroids: Int = 8,
                    iters: Int = 2,
                    hasher: SeededHash = XxSeededHash): Unit = {
    val (assign, cent) = kmeansTrain(corpus, numCentroids, iters, hasher)
    cent.write.mode("overwrite").parquet(s"$dir/centroids")
    corpus.join(assign, "vec_id")
      .select(col("cid"), col("vec_id"), col("embedding"))
      .repartition(col("cid")) // one writer task per cell → one file each
      .write.mode("overwrite").partitionBy("cid").parquet(s"$dir/cells")
  }

  /** Search a [[writeIvfIndex]] store: centroids load (tiny, broadcast),
    * per-query probe ranking on the exact-integer centroid cosine, then
    * the candidate join against the cell store — the probe set joins the
    * PARTITION column, so Spark's dynamic partition pruning narrows the
    * cells scan to the probed directories at runtime (asserted in
    * SimilaritySpec). Scoring/ranking replay [[ivfTopKTrained]] exactly:
    * fixed-point components, 4-dp-rounded cosine, id tie-breaks —
    * bit-identical output to the in-query form off the same training. */
  def ivfSearchIndexed(dir: String, queries: DataFrame, k: Int,
                       nprobe: Int = 2): DataFrame = {
    val spark = queries.sparkSession
    val cent = spark.read.parquet(s"$dir/centroids")
    val nm = cent.groupBy("cid").agg(sum(col("m") * col("m")).as("nm"))
    val exq = queries
      .select(col("vec_id").as("query_id"),
        posexplode(col("embedding")).as(Seq("d", "x")))
      .select(col("query_id"), col("d"),
        round(col("x").cast("double") * 1000).cast("long").as("xi"))
    val nxq = exq.groupBy("query_id").agg(sum(col("xi") * col("xi")).as("nx"))
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("qsim").desc, col("cid"))
    val probes = exq.join(broadcast(cent), "d")
      .groupBy("query_id", "cid").agg(sum(col("xi") * col("m")).as("dot"))
      .join(broadcast(nm), "cid")
      .join(broadcast(nxq), "query_id")
      .withColumn("qsim", round(col("dot").cast("double") /
        (sqrt(col("nx").cast("double")) * sqrt(col("nm").cast("double"))), 4))
      .withColumn("qrn", row_number().over(wProbe))
      .where(col("qrn") <= nprobe)
      .select("query_id", "cid")
    // explicit schema keeps the partition column BIGINT (directory-value
    // inference would narrow it to INT and break the probe equi-join's
    // pruning-eligible form)
    val cellSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType)),
      org.apache.spark.sql.types.StructField("cid",
        org.apache.spark.sql.types.LongType)))
    val cells = spark.read.schema(cellSchema).parquet(s"$dir/cells")
    def fx(idAs: String) =
      transform(col("embedding"),
        x => round(x.cast("double") * 1000).cast("float")).as(s"f_$idAs")
    val queriesF = queries
      .select(col("vec_id").as("query_id"), col("embedding"))
      .select(col("query_id"), fx("query_id"))
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    cells.join(broadcast(probes), Seq("cid"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        fx("neighbor_id"))
      .where(col("neighbor_id") =!= col("query_id"))
      .join(broadcast(queriesF), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("f_query_id"), col("f_neighbor_id")), 4).as("sim"))
      .withColumn("rn", row_number().over(wRank).cast("long"))
      .where(col("rn") <= k)
      .select("query_id", "rn", "neighbor_id", "sim")
  }

  /** Cosine of every vector to its label's centroid — the standard
    * label-noise / outlier-mining signal over an embedded corpus (a vector
    * far from its own class centroid is a mislabel candidate).
    *
    * Cosine is scale-invariant, so the centroid is kept UNNORMALIZED as
    * per-dimension integer SUMS of fixed-point components (round(x·1000)):
    * cos(v, mean) == cos(v, sum), and every aggregation is exact integer
    * arithmetic — no float-sum order sensitivity anywhere, so the 4-dp
    * result is bit-identical in any engine (the [[lshSignatures]] trick
    * applied to centroids). Lane math: |xi| ≤ ~1e3·|x|, so groups up to
    * ~1e6 members and 1e3 dims stay far from ANSI overflow; beyond that
    * switch the centroid to a double mean (order sensitivity returns, but
    * only in the last ulp).
    *
    * Shape: one narrow explode, two partial-agg shuffles (label×dim
    * centroid, per-vector dot/norm), centroid + norm frames broadcast. */
  def labelCentroidSim(corpus: DataFrame): DataFrame = {
    val ex = corpus
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("d", "x")))
      .select(col("vec_id"), col("label"), col("d"),
        round(col("x").cast("double") * 1000).cast("long").as("xi"))
    val cent = ex.groupBy("label", "d").agg(sum("xi").as("m"))
    val nm = cent.groupBy("label").agg(sum(col("m") * col("m")).as("nm"))
    ex.join(broadcast(cent), Seq("label", "d"))
      .groupBy("vec_id", "label")
      .agg(sum(col("xi") * col("m")).as("dot"),
        sum(col("xi") * col("xi")).as("nx"))
      .join(broadcast(nm), "label")
      .select(col("vec_id"), col("label"),
        round(col("dot").cast("double") /
          (sqrt(col("nx").cast("double")) * sqrt(col("nm").cast("double"))), 4)
          .as("centroid_sim"))
  }

  /** ANN via LSH bucketing: exact cosine only within matching signature
    * buckets, then per-query top-k ranked on the ROUNDED score (4 dp,
    * ties on neighbor_id) so rankings are stable across engines. Recall
    * < 1 by construction; the recall vs brute force is asserted in tests.
    * The signed corpus feeds both the query lookup and the candidate
    * scan, so it is computed once, by an eager local checkpoint when the
    * frame is built ([[Dedup.minHashLsh]]'s rule): no cache entry
    * outlives the call. */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              planes: Int = 12, hasher: SeededHash = XxSeededHash)
      : DataFrame = {
    val sigd = corpus.join(lshSignatures(corpus, planes, hasher), "vec_id")
      .localCheckpoint()
    val q = sigd.join(
        broadcast(queries.select(col("vec_id").as("query_id"))),
        col("vec_id") === col("query_id"))
      .select(col("query_id"), col("embedding").as("q_emb"),
        col("sig").as("q_sig"))
    val cand = sigd.join(broadcast(q),
      col("sig") === col("q_sig") && col("vec_id") =!= col("query_id"))
    // rank on the ROUNDED score (ties on neighbor_id): engines agree on
    // 4-dp values where last-ulp raw doubles could flip adjacent ranks
    val w = Window.partitionBy(col("query_id"))
      .orderBy(round(col("sim"), 4).desc, col("neighbor_id"))
    cand.select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(col("q_emb"), col("embedding")).as("sim"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= k)
  }

  /** Per-(vector, table) multi-table LSH signatures as (vec_id, t, sig):
    * `tables` independent hash tables of `planesPerTable` hyperplanes
    * each. The GLOBAL plane id `t·planesPerTable + p` keys the integer
    * weight hash, so table 0 is exactly [[lshSignatures]]' first
    * `planesPerTable` planes and every table is independent of the
    * others. Same engine-exact construction (integer weights, fixed-point
    * projections, sign bits) and the same scale shape: ONE explode + ONE
    * broadcast weight join + two partial aggregations produce all
    * `tables` signatures — the multi-table recall lever costs no extra
    * pass over the corpus. */
  def lshSignaturesMulti(corpus: DataFrame, tables: Int, planesPerTable: Int,
                         hasher: SeededHash = XxSeededHash,
                         kernel: Boolean = true): DataFrame = {
    // default: one compiled pass emits ALL tables' signatures
    // ([[graft.functions.PortableLshSig]]); exploded parity witness below
    if (kernel) {
      val sigs = org.apache.spark.sql.graft.ColumnBridge.column(
        graft.functions.PortableLshSig(
          org.apache.spark.sql.graft.ColumnBridge.expression(col("embedding")),
          tables, planesPerTable, md5Family = isMd5(hasher)))
      return corpus.select(col("vec_id"), sigs.as("sigs"))
        .where(col("sigs").isNotNull)
        .select(col("vec_id"),
          posexplode(col("sigs")).as(Seq("t", "sig")))
        .select(col("vec_id"), col("t").cast("int").as("t"), col("sig"))
    }
    val ex = corpus
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("d", "x")))
      .select(col("vec_id"), col("d"),
        round(col("x").cast("double") * 1000).cast("long").as("xi"))
    val planesDf = corpus.sparkSession.range(tables.toLong * planesPerTable)
      .select(col("id").cast("int").as("p"))
    val weights = ex.select(col("d")).distinct()
      .crossJoin(planesDf)
      .select(col("p"), col("d"),
        (hasher.hash(concat_ws(":", col("p"), col("d")), 7) % 1000 - 500)
          .as("w"))
    val proj = ex.join(broadcast(weights), "d")
      .groupBy("vec_id", "p")
      .agg(sum(col("xi") * col("w")).as("proj"))
    proj
      .select(col("vec_id"), expr(s"p div $planesPerTable").cast("int").as("t"),
        pmod(col("p"), lit(planesPerTable)).as("pb"), col("proj"))
      .groupBy("vec_id", "t")
      .agg(sum(when(col("proj") > 0,
        pow(lit(2.0), col("pb")).cast("long")).otherwise(0L)).as("sig"))
  }

  /** Multi-table LSH top-k — the recall lever the q131 report motivates:
    * ONE table of b planes buckets at granularity 2^b, so when corpus/2^b
    * is small most queries share a bucket with nobody (measured recall
    * 0.00 at 1k vectors, 12 planes). The classic L-table construction
    * (Indyk–Motwani): L independent tables of FEWER planes each; a
    * candidate qualifies if it collides in ANY table, so the miss
    * probability falls as (1−p^b)^L while per-table buckets stay n/2^b.
    *
    * Candidates are ONE equi-join on (t, sig) against the broadcast query
    * signatures — the table id is just a join column, not L separate
    * joins — deduped on (query, neighbor) before scoring (a pair that
    * collides in several tables is scored once: both the correctness and
    * the work bound). Scoring and ranking are [[lshTopK]]'s: 4-dp-rounded
    * cosine with id tie-breaks, bounded-heap top-k via TopKRewrite.
    *
    * Scale: candidates/query ≈ L·n/2^b — (tables, planesPerTable) is the
    * recall/cost dial; the corpus streams once through the projection agg
    * and once through the candidate join; the signed corpus is an eager
    * local checkpoint, as in [[lshTopK]]. */
  def lshTopKMulti(queries: DataFrame, corpus: DataFrame, k: Int,
                   tables: Int = 4, planesPerTable: Int = 8,
                   hasher: SeededHash = XxSeededHash): DataFrame = {
    val sigd = corpus.join(
        lshSignaturesMulti(corpus, tables, planesPerTable, hasher), "vec_id")
      .localCheckpoint()
    val q = sigd.join(
        broadcast(queries.select(col("vec_id").as("query_id"))),
        col("vec_id") === col("query_id"))
      .select(col("query_id"), col("t").as("qt"), col("sig").as("q_sig"))
    val qemb = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"))
    val cand = sigd.join(broadcast(q),
        col("t") === col("qt") && col("sig") === col("q_sig") &&
          col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("embedding"))
      .dropDuplicates("query_id", "neighbor_id")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(round(col("sim"), 4).desc, col("neighbor_id"))
    cand.join(broadcast(qemb), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("q_emb"), col("embedding")).as("sim"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= k)
  }

  /** k-NN GRAPH construction — every node's top-k neighbors plus the
    * mutual-kNN edge flag: the substrate graph-based curation consumes
    * (graph-density filtering, mutual-kNN clustering, SemDeDup-style
    * neighborhoods, label propagation).
    *
    * Candidates come from the [[lshSignaturesMulti]] multi-table
    * collision join run as a SELF-join (all nodes are queries, so
    * nothing broadcasts): collide in ANY of the L tables on the (t, sig)
    * equi-key. Per-bucket membership > `maxBucket` is dropped first —
    * the q32/[[graft.llm.Dedup]] hot-bucket convention, same 2^12
    * default (calibrated by BASELINE.md's round-6 cap table), same trade
    * (an over-cap LSH bucket is a template flood exact-dedup should
    * collapse first; below the cap the output is identical to the
    * uncapped join).
    *
    * Scale shape: scoring happens AT the collision join (embeddings
    * never shuffle — a colliding pair is scored from the join's own
    * rows, up to L× redundantly for multi-table collisions), then only
    * (src, dst, sim) scalar rows flow through the pair-dedup exchange
    * and the bounded-heap top-k ([[graft.plans.TopKRewrite]]). The
    * mutual flag is one more equi-join of the k·n edge list against its
    * own transpose. Candidates/node ≈ L·n/2^b — at a real 100 TB corpus
    * `planesPerTable` grows as log2(n / target-bucket-size) to hold
    * bucket sizes flat. */
  def knnGraph(corpus: DataFrame, k: Int, tables: Int = 4,
               planesPerTable: Int = 8, maxBucket: Int = 1 << 12,
               hasher: SeededHash = XxSeededHash): DataFrame = {
    val sig0 = lshSignaturesMulti(corpus, tables, planesPerTable, hasher)
    val sigCapped =
      if (maxBucket == Int.MaxValue) sig0
      else {
        val hot = sig0.groupBy("t", "sig").agg(count(lit(1)).as("_bsz"))
          .where(col("_bsz") > maxBucket).select("t", "sig")
        sig0.join(broadcast(hot), Seq("t", "sig"), "left_anti")
      }
    // both the signature frame (the two collision-join sides) and the edge
    // list (the transpose join reads it twice) are computed once, by an
    // eager local checkpoint ([[Dedup.minHashLsh]]'s contract): no cache
    // entry outlives the call
    val sigd = corpus.join(sigCapped, "vec_id").localCheckpoint()
    val a = sigd.select(col("t"), col("sig"),
      col("vec_id").as("src"), col("embedding").as("s_emb"))
    val b = sigd.select(col("t"), col("sig"),
      col("vec_id").as("dst"), col("embedding").as("d_emb"))
    val scored = a.join(b, Seq("t", "sig"))
      .where(col("src") =!= col("dst"))
      .select(col("src"), col("dst"),
        cosine(col("s_emb"), col("d_emb")).as("sim"))
      .dropDuplicates("src", "dst")
    val w = Window.partitionBy(col("src"))
      .orderBy(round(col("sim"), 4).desc, col("dst"))
    val edges = scored
      .withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= k)
      .localCheckpoint()
    val rev = edges.select(col("dst").as("src"), col("src").as("dst"),
      lit(true).as("_mut"))
    edges.join(rev, Seq("src", "dst"), "left")
      .select(col("src"), col("rn"), col("dst"),
        round(col("sim"), 4).as("sim"),
        coalesce(col("_mut"), lit(false)).as("mutual"))
  }

  /** Graph-walk ANN search — synchronous BEAM descent over the
    * [[knnGraph]] neighborhood graph (the NSW/HNSW-family search idea:
    * Malkov & Yashunin 2018's greedy routing, spelled as bounded
    * SYNCHRONOUS rounds so every step is a relational operation that
    * replays in SQL): start from a fixed entry set, and per round expand
    * the current per-query beam along UNDIRECTED graph edges, score the
    * neighbors against the query (4-dp rounded cosine, ties by node id —
    * the q138 boundary convention), and keep the best `beam` per query.
    * After `rounds` rounds the beam's top-k is the answer. Undirected
    * expansion (an edge is walkable both ways) is the standard NSW
    * trick — out-edges alone can't climb INTO a better region's hub.
    *
    * This is the one ANN leg whose index is the GRAPH itself (the
    * LSH/IVF/PQ legs all bucket or compress): search cost is
    * O(rounds · Q · beam · degree) score evaluations, INDEPENDENT of
    * corpus size once the graph exists — the reason graph ANN wins at
    * high recall. Here the graph builds in-query because the fixture is
    * small; at 100 TB the q138 edge list is a persisted artifact (the
    * q142 lifecycle) and entry points come from a coarse quantizer's
    * centroid-nearest nodes — the fixed lowest-id entry set used here
    * keeps the oracle replayable and is that seam's stand-in. Each
    * round's candidate set is Q·beam·degree rows and BROADCASTS against
    * the corpus embedding frame (one map-side lookup join per round, the
    * corpus never shuffles; with a node-bucketed persisted corpus the
    * probe prunes to touched buckets, the q142 DPP shape).
    *
    * Round state is localCheckpointed — the beam re-enters the next
    * round's plan twice (expansion + union), the [[trainBpe]] blowup
    * otherwise. Output: (query_id, rn, neighbor_id, sim), rn ≤ k. */
  def graphSearchTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                      beam: Int = 8, rounds: Int = 4, entryPoints: Int = 8,
                      graphK: Int = 5, tables: Int = 4,
                      planesPerTable: Int = 8,
                      hasher: SeededHash = XxSeededHash): DataFrame = {
    // cheap duplicate of graphSearchIndexed's guard: fail BEFORE the
    // eager graph build below, not after paying for it
    require(beam >= k, s"beam=$beam must be >= k=$k")
    val g = knnGraph(corpus, graphK, tables, planesPerTable, hasher = hasher)
    // materialize the (expensive) graph build ONCE before fanning out:
    // the undirected union reads the edge list from both branches, and
    // against a merely-persisted (lazy) pipeline the two branches race
    // to compute it concurrently before the cache fills — measured as
    // ~3× the q138 build at 200k vectors; an eager checkpoint pins it
    // to exactly one execution
    val edges = g.select(col("src"), col("dst")).localCheckpoint()
    val entry = corpus.orderBy("vec_id").limit(entryPoints)
      .select(col("vec_id").as("node"))
    graphSearchIndexed(queries, corpus, edges, entry, k, beam, rounds)
  }

  /** Beam search over a PREBUILT graph — the search half of
    * [[graphSearchTopK]], split out so the graph can be a PERSISTED
    * artifact (the [[writeGraphIndex]]/[[readGraphIndex]] lifecycle:
    * build once, search every batch). `edges` is the directed (src,
    * dst) edge list (made undirected here — NSW expansion walks both
    * ways), `entry` the (node) entry-point set — from the coarse
    * quantizer's centroid-nearest nodes ([[centroidEntryPoints]]) in
    * the indexed lifecycle, lowest-ids in the in-query form. Search
    * cost is O(rounds · Q · beam · degree) score evaluations plus one
    * corpus-scan lookup join per round, INDEPENDENT of how the graph
    * was built and of corpus size beyond the scan — the property that
    * makes graph ANN the high-recall scale path.
    *
    * Driver-size bound: the QUERY BATCH must be driver-sized. Every round
    * broadcasts the beam (≤ Q·beam rows of (query_id, node)), the scored
    * candidates (≤ Q·beam·degree rows) and the Q query embeddings, and a
    * broadcast is collected and built on the driver (Spark caps one at
    * 8 GB), so a caller with a large Q splits it into batches; the corpus
    * and the edge list never reach the driver. */
  def graphSearchIndexed(queries: DataFrame, corpus: DataFrame,
                         edges: DataFrame, entry: DataFrame, k: Int,
                         beam: Int = 8, rounds: Int = 4): DataFrame = {
    require(beam >= k, s"beam=$beam must be >= k=$k")
    Rounds("graph_search", corpus.sparkSession) { r =>
      val e = edges.select(col("src"), col("dst"))
      // undirected adjacency, deduped — walkable both directions
      val adj = r.checkpoint(e
        .union(e.select(col("dst").as("src"), col("src").as("dst")))
        .distinct())
      val q = queries.select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb"))
      val nodeEmb = corpus.select(col("vec_id").as("node"),
        col("embedding").as("n_emb"))
      // (query_id, node) candidates -> scored vs the query, self excluded
      def score(cands: DataFrame): DataFrame =
        nodeEmb.join(broadcast(cands), "node")
          .join(broadcast(q), "query_id")
          .where(col("node") =!= col("query_id"))
          .select(col("query_id"), col("node"),
            round(cosine(col("q_emb"), col("n_emb")), 4).as("sim"))
      def topB(df: DataFrame): DataFrame = {
        val w = Window.partitionBy("query_id")
          .orderBy(col("sim").desc, col("node"))
        df.withColumn("rn", row_number().over(w)).where(col("rn") <= beam)
          .select("query_id", "node", "sim")
      }
      val entryBeam = r.checkpoint(topB(score(q.select("query_id")
        .crossJoin(entry.select(col("node"))))))
      val beamDf = (1 to rounds).foldLeft(entryBeam) { (beamDf, i) =>
        r.round(i) {
          // the beam is ≤ Q·beam rows BY CONSTRUCTION (topB caps it), but it
          // sits behind a checkpoint whose size the planner cannot estimate —
          // unhinted, the expansion planned as a sort-merge join that
          // re-shuffled the (static, |edges|-sized) adjacency list every
          // round. Broadcasting the beam makes the expansion a map-side
          // lookup: the adjacency list never moves (guide §3.1 — hint the
          // side you KNOW is small).
          val nbrs = broadcast(beamDf.select("query_id", "node"))
            .join(adj.withColumnRenamed("src", "node"), "node")
            .select(col("query_id"), col("dst").as("node")).distinct()
          val all = beamDf.unionByName(score(nbrs))
            .dropDuplicates("query_id", "node")
          r.checkpoint(topB(all))
        }
      }
      val w = Window.partitionBy("query_id")
        .orderBy(col("sim").desc, col("node"))
      beamDf.withColumn("rn", row_number().over(w).cast("long"))
        .where(col("rn") <= k)
        .select(col("query_id"), col("rn"), col("node").as("neighbor_id"),
          col("sim"))
    }
  }

  /** ENTRY POINTS from the coarse quantizer — for each trained k-means
    * centroid, the corpus node nearest to it (the production NSW entry
    * heuristic: start the walk at a hub of each density region instead
    * of arbitrary ids). Same fixed-point geometry as the trainer
    * (exact integer dot / norms, 4-dp rounding, vec_id tie-break), so
    * the selection replays exactly in the oracle. Shape: the centroid
    * frame broadcasts (k×dims rows); the corpus streams once through
    * the dot aggregation — a BUILD-time cost, persisted with the
    * graph. */
  def centroidEntryPoints(corpus: DataFrame, numCentroids: Int = 8,
                          iters: Int = 2,
                          hasher: SeededHash = XxSeededHash): DataFrame = {
    val (_, cent) = kmeansTrain(corpus, numCentroids, iters, hasher)
    val nm = cent.groupBy("cid").agg(sum(col("m") * col("m")).as("nm"))
    val exc = corpus
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("d", "x")))
      .select(col("vec_id"), col("d"),
        round(col("x").cast("double") * 1000).cast("long").as("xi"))
    val nx = exc.groupBy("vec_id").agg(sum(col("xi") * col("xi")).as("nx"))
    val w = Window.partitionBy(col("cid"))
      .orderBy(col("csim").desc, col("vec_id"))
    exc.join(broadcast(cent), "d")
      .groupBy("vec_id", "cid").agg(sum(col("xi") * col("m")).as("dot"))
      .join(broadcast(nm), "cid")
      .join(nx, "vec_id")
      .withColumn("csim", round(col("dot").cast("double") /
        (sqrt(col("nx").cast("double")) * sqrt(col("nm").cast("double"))), 4))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("vec_id").as("node")).distinct()
  }

  /** Persist the graph-ANN index: the [[knnGraph]] edge list and the
    * [[centroidEntryPoints]] entry set, each committed as a SNAPSHOT
    * TABLE through the DSv2 write surface (`$dir/edges`, `$dir/entries`
    * — the q218 writer dogfooded as the index store, so the artifact
    * gets atomic publish, time travel, and manifest-planned reads for
    * free). The q142 build-once/search-every-batch lifecycle applied to
    * the graph leg: at 100 TB the build (LSH collisions + top-k, the
    * q138 cost) runs once per corpus refresh; every search reads the
    * edge table — metadata-planned, corpus-build never repeated. */
  def writeGraphIndex(corpus: DataFrame, dir: String, graphK: Int = 5,
                      tables: Int = 4, planesPerTable: Int = 8,
                      numCentroids: Int = 8, iters: Int = 2,
                      hasher: SeededHash = XxSeededHash): Unit = {
    val g = knnGraph(corpus, graphK, tables, planesPerTable, hasher = hasher)
    g.select(col("src"), col("dst"))
      .write.format("graft.sources.SnapshotSource")
      .mode("overwrite").save(s"$dir/edges")
    centroidEntryPoints(corpus, numCentroids, iters, hasher)
      .write.format("graft.sources.SnapshotSource")
      .mode("overwrite").save(s"$dir/entries")
  }

  /** Load a [[writeGraphIndex]] artifact: (edges, entries), both read
    * through the DSv2 snapshot source (manifest-planned, never a
    * directory listing). */
  def readGraphIndex(spark: org.apache.spark.sql.SparkSession,
                     dir: String): (DataFrame, DataFrame) =
    (spark.read.format("graft.sources.SnapshotSource").load(s"$dir/edges"),
      spark.read.format("graft.sources.SnapshotSource")
        .load(s"$dir/entries"))

  /** Persist a TRAINED IVF quantizer: [[kmeansTrain]]'s centroid sums
    * (`$dir/centroids`: cid, d, m) and inverted-list assignment
    * (`$dir/assign`: vec_id, cid), each committed as a snapshot table
    * through the DSv2 write surface — the q222 graph-artifact lifecycle
    * applied to the LAST ANN family member that still trained per
    * query. At 100 TB the k-means iterations (the corpus passes) run
    * once per corpus refresh; every report serves
    * [[ivfSearchTrained]] from these two frames. Deterministic
    * fixed-point training ⇒ the artifact equals what any in-query
    * training would produce, so consumers keep their oracles. */
  def writeIvfCodebook(corpus: DataFrame, dir: String,
                       numCentroids: Int = 8, iters: Int = 2,
                       hasher: SeededHash = XxSeededHash): Unit = {
    val (assign, cent) = kmeansTrain(corpus, numCentroids, iters, hasher)
    cent.write.format("graft.sources.SnapshotSource")
      .mode("overwrite").save(s"$dir/centroids")
    assign.write.format("graft.sources.SnapshotSource")
      .mode("overwrite").save(s"$dir/assign")
  }

  /** Load a [[writeIvfCodebook]] artifact: (assign, cent). */
  def readIvfCodebook(spark: org.apache.spark.sql.SparkSession,
                      dir: String): (DataFrame, DataFrame) =
    (spark.read.format("graft.sources.SnapshotSource").load(s"$dir/assign"),
      spark.read.format("graft.sources.SnapshotSource")
        .load(s"$dir/centroids"))

  /** Persist a TRAINED PQ codebook: [[kmeansTrainKeyed]]'s per-subspace
    * centroid sums (`$dir/codebook`: s, cid, d, m) and the encoded
    * corpus (`$dir/codes`: s, vec_id, cid) as snapshot tables. The code
    * table IS the 100 TB read path (ADC search never touches corpus
    * floats, ~1/80 the bytes), so persisting it is persisting the
    * index; the codebook is the m×numCentroids×dsub training output
    * every query's dot tables broadcast against. */
  def writePqCodebook(corpus: DataFrame, dir: String, m: Int = 4,
                      dims: Int = 64, numCentroids: Int = 8,
                      iters: Int = 2,
                      hasher: SeededHash = XxSeededHash): Unit = {
    require(m > 0 && dims % m == 0, "dims must split evenly into m subspaces")
    val dsub = dims / m
    val sub = (0 until m).map { s =>
      corpus.select(lit(s).as("s"), col("vec_id"),
        expr(s"slice(embedding, ${s * dsub + 1}, $dsub)").as("embedding"))
    }.reduce(_ unionByName _)
    val (codes, cb) = kmeansTrainKeyed(sub, numCentroids, iters, hasher)
    cb.write.format("graft.sources.SnapshotSource")
      .mode("overwrite").save(s"$dir/codebook")
    codes.write.format("graft.sources.SnapshotSource")
      .mode("overwrite").save(s"$dir/codes")
  }

  /** Load a [[writePqCodebook]] artifact: (codes, cb). */
  def readPqCodebook(spark: org.apache.spark.sql.SparkSession,
                     dir: String): (DataFrame, DataFrame) =
    (spark.read.format("graft.sources.SnapshotSource").load(s"$dir/codes"),
      spark.read.format("graft.sources.SnapshotSource")
        .load(s"$dir/codebook"))
}
