package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Tables.table
import graft.llm.{Dedup, Multimodal, Retrieval, Similarity, TextAnalysis}

/** Training-data pipeline operators over documents/embeddings (north-star
  * extensions; SURVEY.md §7.3 step 6). Naive-exact variants are
  * oracle-checked against DuckDB; the LSH scale paths are deterministic
  * but engine-specific (xxhash64) → rows-only checks + unit tests.
  */
object LlmQueries {

  /** Exact dedup by content fingerprint. */
  def exactDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(table(s, dir, "documents")).orderBy("keep_id")

  /** Exact 3-gram Jaccard near-dup pairs (ground truth, oracle-checked). */
  def ngramJaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(table(s, dir, "documents"), n = 3,
        threshold = 0.1)
      .orderBy("doc_a", "doc_b")

  /** MinHash+LSH near-dup candidates. The gate runs the portable md5-based
    * hash family so DuckDB replays signatures, band buckets and the
    * agreement estimate byte-for-byte; production defaults to the xx64
    * family (same operator, faster leaf hash). */
  def minhashLsh(s: SparkSession, dir: String): DataFrame =
    Dedup.minHashLsh(table(s, dir, "documents"),
        hasher = graft.llm.PortableSeededHash)
      .orderBy("doc_a", "doc_b")

  /** Near-dup cluster resolution: the MinHash-LSH candidate pairs (q32)
    * resolved into connected components by iterative min-label propagation,
    * with the component's min doc_id as the canonical keeper — the
    * keep-list a dedup pipeline actually consumes (same `min(doc_id)`
    * convention as exact dedup, q30). */
  def neardupClusters(s: SparkSession, dir: String): DataFrame =
    Dedup.connectedComponents(
        Dedup.minHashLsh(table(s, dir, "documents"),
            hasher = graft.llm.PortableSeededHash)
          .select("doc_a", "doc_b"))
      .orderBy("doc_id")

  /** Leakage-safe train/val/test split (q163): the split coin is thrown
    * on the NEAR-DUP GROUP, not the document — every document inherits
    * its connected component's bucket (unpaired docs are their own
    * group), so a near-duplicate pair can never straddle train and
    * test. The q29-style per-document hash split leaks by construction:
    * any near-dup pair split apart puts an almost-copy of a test
    * document into training, the classic contamination path evaluation
    * suites suffer. Output: per-split document/group counts plus a
    * `leak_pairs` row — the COUNT of candidate pairs whose sides landed
    * in different splits, zero by construction and verified by the
    * oracle (which re-derives clusters, buckets, and the pair join).
    * Scale shape: the q63 cluster machinery plus one broadcast-able
    * group join and a pair re-join — all equi, corpus-linear. */
  def leakageSafeSplit(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
    val pairs = Dedup.minHashLsh(docs, hasher = graft.llm.PortableSeededHash)
      .select("doc_a", "doc_b").localCheckpoint()
    val comps = Dedup.connectedComponents(pairs)
    val grouped = docs.select(col("doc_id"))
      .join(comps.select(col("doc_id"), col("component")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("grp"))
    val bucket = pmod(graft.llm.PortableSeededHash.hash(col("grp"), 42),
      lit(100L))
    val labeled = grouped.select(col("doc_id"), col("grp"),
      when(bucket < 80, "train").when(bucket < 90, "val")
        .otherwise("test").as("split")).localCheckpoint()
    val stats = labeled.groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct("grp").as("n_groups"))
    val leak = pairs
      .join(labeled.select(col("doc_id").as("doc_a"), col("split").as("sa")),
        Seq("doc_a"))
      .join(labeled.select(col("doc_id").as("doc_b"), col("split").as("sb")),
        Seq("doc_b"))
      .where(col("sa") =!= col("sb"))
      .agg(count(lit(1)).as("n_docs"))
      .select(lit("leak_pairs").as("split"), col("n_docs"),
        lit(0L).as("n_groups"))
    stats.unionByName(leak).orderBy("split")
  }

  /** The deduplicated corpus itself — q63's keep-list applied: losers
    * anti-joined away, keepers and never-paired documents survive. This is
    * the frame a training pipeline feeds downstream. */
  def dedupedCorpus(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
    Dedup.dropNearDups(docs,
        Dedup.connectedComponents(
          Dedup.minHashLsh(docs, hasher = graft.llm.PortableSeededHash)
            .select("doc_a", "doc_b")))
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy("doc_id")
  }

  /** SimHash near-dup pairs — portable 60-bit hash family for the oracle
    * (see [[minhashLsh]]). */
  def simhashPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.simHashPairs(table(s, dir, "documents"),
        hasher = graft.llm.PortableSeededHash, bits = 60)
      .orderBy("doc_a", "doc_b")

  /** Dedup-family pair quality report (q133): the q131 idea applied to
    * near-dup detection — the MinHash-LSH (q32) and SimHash (q33)
    * candidate pair sets measured against the exact 3-gram Jaccard ≥ 0.5
    * ground truth (the q31 miner at the near-dup threshold), one
    * precision/recall row per method. The sketch families' accuracy is
    * thereby measured, not asserted: a banding, signature, or
    * hot-bucket-cap regression moves a number and hash-mismatches. The
    * ground truth is exact but corpus-quadratic in the worst case, so at
    * 100 TB this audit runs on a sampled partition — the same contract
    * as q131's exact leg; the sketch legs are the production path. */
  def dedupPairRecall(s: SparkSession, dir: String): DataFrame = {
    val hasher = graft.llm.PortableSeededHash
    val docs = table(s, dir, "documents")
    val truth = Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.5)
      .select(col("doc_a"), col("doc_b"))
      .localCheckpoint()
    val nTrue = truth.groupBy().agg(count(lit(1)).as("n_true"))
    def leg(name: String, df: DataFrame): DataFrame =
      df.select(lit(name).as("method"), col("doc_a"), col("doc_b"))
    val legs = leg("minhash_lsh", Dedup.minHashLsh(docs, hasher = hasher))
      .unionByName(leg("simhash",
        Dedup.simHashPairs(docs, hasher = hasher, bits = 60)))
    legs
      .join(broadcast(truth.withColumn("hit", lit(1L))),
        Seq("doc_a", "doc_b"), "left")
      .groupBy("method")
      .agg(count(lit(1)).as("n_candidates"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .crossJoin(broadcast(nTrue))
      .select(col("method"), col("n_candidates"), col("n_hits"),
        col("n_true"),
        round(col("n_hits").cast("double") / col("n_true"), 4).as("recall"),
        round(col("n_hits").cast("double") / col("n_candidates"), 4)
          .as("precision"))
      .orderBy("method")
  }

  /** Containment near-dup pairs at 0.5 — the doc-inside-doc overlap that
    * Jaccard structurally misses (see [[graft.llm.Dedup.containmentPairs]]:
    * exact count-filter candidate generation — Arasu/Ganti/Kaushik
    * VLDB'06 — with a hot-shingle allowance; no size-ratio prune is
    * possible for containment). */
  def containment(s: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairs(table(s, dir, "documents"), n = 3,
        threshold = 0.5)
      .orderBy("doc_a", "doc_b")

  /** The bottom-k sketch SCALE PATH for containment (q96,
    * [[graft.llm.Dedup.containmentPairsSketch]]): recall is
    * probabilistic-by-design (miss probability ~(1-c)^k per true pair),
    * so the gate recomputes the EXACT pairs and flags each with whether
    * the sketch found it and agreed on the (exact-by-construction) value
    * — the q46/q51b/q66 accuracy-flag oracle pattern. A missed pair or a
    * value drift turns a TRUE false; a sketch-only extra pair (impossible
    * while the verify stage holds) surfaces as a full-outer row with a
    * null exact side, which the oracle cannot produce. */
  def containmentSketch(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
    // one shared shingle/postings/df build for both paths (the audit ran
    // the whole tokenize+shingle+persist front half twice)
    val (exact0, sketch0) =
      Dedup.containmentPairsBoth(docs, n = 3, threshold = 0.5)
    val exact = exact0.withColumnRenamed("containment", "c_exact")
    val sketch = sketch0.withColumnRenamed("containment", "c_sketch")
    exact.join(sketch, Seq("doc_a", "doc_b"), "full_outer")
      .select(col("doc_a"), col("doc_b"),
        coalesce(col("c_exact"), col("c_sketch")).as("containment"),
        (col("c_exact").isNotNull && col("c_sketch").isNotNull &&
          col("c_exact") === col("c_sketch")).as("found_by_sketch"))
      .orderBy("doc_a", "doc_b")
  }

  /** The single-pass near-dup artifacts in the gate (q100,
    * [[graft.jobs.CorpusPipeline.nearDupArtifacts]]): pairs, clusters
    * and keep-list all derive from ONE localCheckpoint'ed LSH pass; the
    * emitted clusters frame must equal the independently-computed q63
    * result, and the oracle is the same recursive-closure SQL — so the
    * artifact bundle is held to the same contract as the standalone
    * queries it amortizes. */
  def neardupArtifacts(s: SparkSession, dir: String): DataFrame =
    graft.jobs.CorpusPipeline
      .nearDupArtifacts(table(s, dir, "documents"),
        hasher = graft.llm.PortableSeededHash)
      .clusters
      .orderBy("doc_id")

  /** SemDeDup-style semantic dedup in the gate (q99,
    * [[graft.llm.Similarity.semanticDedup]]): portable hash family so
    * DuckDB independently replays the k-means training (the q77 oracle's
    * CTE chain), the within-cluster cosine pairs
    * (list_cosine_similarity — the q47-proven comparison at 0.4) and the
    * transitive closure (q63-style recursive CTE). */
  def semanticDedup(s: SparkSession, dir: String): DataFrame =
    Similarity.semanticDedup(table(s, dir, "embeddings"),
        hasher = graft.llm.PortableSeededHash)
      .orderBy("vec_id")

  /** REAL image codec roundtrip (q98): deterministic synthetic images →
    * real PNG encode (JDK ImageIO) → real PNG decode → integer metadata.
    * The oracle never touches a codec: dimensions and the band-0 pixel
    * sum are recomputed analytically from the same integer formulas, so
    * any header misread, pixel corruption, or row drop in the
    * encode/decode path hash-mismatches. This retires the "codec is a
    * stub" caveat for images; audio is real via q102, the video
    * CONTAINER via q103 (frame payloads stay raw — no JVM video codec
    * exists). */
  def imageRoundtrip(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeImages(s,
        Multimodal.encodePng(s, table(s, dir, "documents")).toDF())
      .toDF()
      .orderBy("doc_id")

  /** REAL audio codec roundtrip (q102): deterministic synthetic PCM16
    * signals → real WAV encode (`javax.sound.sampled`) → real WAV decode
    * → integer metadata; the oracle recomputes the sample count and sum
    * analytically from the same integer formulas (the q98 playbook).
    * This retires the audio-stub caveat — video is now the one
    * documented stub. */
  def audioRoundtrip(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeWav(s,
        Multimodal.encodeWav(s, table(s, dir, "documents")).toDF())
      .toDF()
      .orderBy("doc_id")

  /** REAL video container roundtrip (q103): deterministic synthetic
    * frames → spec-compliant RIFF-AVI encode
    * ([[graft.llm.AviCodec]] — uncompressed 8-bit DIB, the published
    * container grammar) → generic RIFF chunk-walk decode → integer
    * metadata; the oracle recomputes dimensions, frame count and the
    * pixel sum analytically (the q98 playbook). Container-level real —
    * a header misread, chunk-walk bug or frame drop hash-mismatches;
    * frame payloads stay raw because no JVM video codec exists (the
    * batch seam is where an ffmpeg/JNI decoder plugs in). */
  def videoRoundtrip(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeAvi(s,
        Multimodal.encodeAvi(s, table(s, dir, "documents")).toDF())
      .toDF()
      .orderBy("doc_id")

  /** REAL video frame sampling (q104): keep every 3rd frame of each
    * container-encoded video ([[graft.llm.Multimodal.sampleFramesAvi]]
    * — per-frame sums off the q103 chunk walk); the oracle recomputes
    * the sampled frame count and pixel sum analytically. The
    * fixed-size-byte-frame stub (q60) stays as the shape test for
    * payloads with no container. */
  def videoFrameSample(s: SparkSession, dir: String): DataFrame =
    Multimodal.sampleFramesAvi(s,
        Multimodal.encodeAvi(s, table(s, dir, "documents")).toDF(),
        every = 3)
      .toDF()
      .orderBy("doc_id")

  /** REAL image resize (q126, [[graft.llm.Multimodal.resizeImages]]):
    * real PNG encode → real decode → 2×2 integer box-filter downscale →
    * real PNG re-encode → real decode → metadata. Every stage of the
    * production resize pipeline runs the actual codec; the oracle
    * replays the block averages analytically (truncating integer
    * division, so DuckDB's `//` agrees exactly). Retires the q59
    * byte-stride stand-in's "resize is a stub" caveat — q59 stays as
    * the shape test for container-less payloads. */
  def imageResize(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeImages(s,
        Multimodal.resizeImages(s,
          Multimodal.encodePng(s, table(s, dir, "documents")).toDF(),
          factor = 2).toDF())
      .toDF()
      .orderBy("doc_id")

  /** REAL image feature extraction (q127,
    * [[graft.llm.Multimodal.imageHistogram]]): real PNG encode → real
    * decode → 16-bucket pixel-value histogram, exploded positionally
    * (the q60 surface over real decoded pixels instead of raw payload
    * bytes). Retires the q60 "features are a byte-histogram stub"
    * caveat — a vision embedding model replaces only the histogram
    * loop inside the same mapPartitions batch. */
  def imageFeatures(s: SparkSession, dir: String): DataFrame =
    Multimodal.imageHistogram(s,
        Multimodal.encodePng(s, table(s, dir, "documents")).toDF())
      .toDF()
      .select(col("doc_id"),
        posexplode(col("histogram")).as(Seq("bucket", "cnt")))
      .select(col("doc_id"), col("bucket").cast("long").as("bucket"),
        col("cnt"))
      .orderBy("doc_id", "bucket")

  /** C4-style line-level dedup across the corpus (q97,
    * [[graft.llm.Dedup.dedupLines]]): keep the first occurrence of every
    * distinct line, reassemble documents from their surviving lines. The
    * testdata corpus has no newline structure, so the query manufactures
    * deterministic 15-token segments as "lines" — the operator is
    * exercised end-to-end (first-occurrence resolution, cross-doc and
    * in-doc duplicate collapse, ordered reassembly) and the oracle
    * replays the identical segmentation in DuckDB. Real corpora pass
    * `split(col("text"), "\n")`. */
  def lineDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
    val toks = split(col("text"), " ")
    val segs = transform(
      sequence(lit(0), ceil(size(toks) / lit(15.0)).cast("int") - 1),
      i => array_join(slice(toks, i * 15 + 1, lit(15)), " "))
    Dedup.dedupLines(docs, segs, " ").orderBy("doc_id")
  }

  /** The [[graft.plans.AnnJoinRewrite]] bucket join IN THE GATE (q95):
    * the cosine-threshold join runs twice — once with the rewrite flag on
    * (planned as an LshSig equi join; `localCheckpoint` is eager, so the
    * bucket join executes while the flag is set and its result never
    * touches the driver) and once exact (the designed BNLJ ground truth,
    * same shape as q47). The rewrite's contract is high-precision subset:
    * every emitted pair satisfies the original predicate (precision 1),
    * recall is the per-plane-agreement product — the rewrite is ONE LSH
    * band, so the gate sets planes=2 (measured sf0.01 recall 0.37 vs
    * 0.08 at the 8-plane default, whose per-pair agreement ~0.63² suits
    * much higher cosine thresholds than 0.4). Accuracy-flag oracle:
    * DuckDB pins the exact pair count and expects subset_ok ∧ recall_ok
    * (floor 0.2); both sides are deterministic (fixed-point plane
    * weights), so the recall floor is a stable property of the corpus,
    * not a flake. */
  def annRewrite(s: SparkSession, dir: String): DataFrame = {
    val e = table(s, dir, "embeddings")
    def pairs(): DataFrame = {
      val a = e.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"))
      val b = e.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b"))
      a.join(b, col("vec_a") < col("vec_b") &&
          Similarity.cosine(col("emb_a"), col("emb_b")) >= 0.4)
        .select("vec_a", "vec_b")
    }
    val key = "spark.graft.ann.bucketJoin"
    val planesKey = "spark.graft.ann.bucketJoin.planes"
    s.conf.set(key, "true")
    s.conf.set(planesKey, "2")
    val ann = try pairs().localCheckpoint()
      finally { s.conf.unset(key); s.conf.unset(planesKey) }
    val exact = pairs()
    val annStats = ann
      .join(exact.withColumn("in_exact", lit(true)),
        Seq("vec_a", "vec_b"), "left")
      .agg(count(lit(1)).as("n_ann"),
        count(when(col("in_exact").isNull, 1)).as("n_extra"))
    val exStats = exact.agg(count(lit(1)).as("n_exact"))
    exStats.crossJoin(annStats).select(
      col("n_exact"),
      (col("n_extra") === 0).as("subset_ok"),
      ((col("n_ann") - col("n_extra")).cast("double") >=
        col("n_exact").cast("double") * 0.2).as("recall_ok"))
  }

  /** k-means-trained coarse quantizer (2 Lloyd rounds, k=8, integer-exact
    * cosine geometry): the production IVF trainer whose hash-order sample
    * (q35b) is the zero-training stand-in. The full training loop replays
    * in DuckDB — the oracle unrolls the same rounds as CTEs. */
  def kmeansClusters(s: SparkSession, dir: String): DataFrame =
    Similarity.kmeansAssign(table(s, dir, "embeddings"), k = 8, iters = 2,
        hasher = graft.llm.PortableSeededHash)
      .orderBy("vec_id")

  /** SSL-prototypes pruning (q108,
    * [[graft.llm.Similarity.prototypicalityPrune]]): the 25% most
    * centroid-similar vectors of each k-means cell marked for pruning —
    * with q99's SemDeDup this composes the D4 data-selection pipeline. */
  def prototypePrune(s: SparkSession, dir: String): DataFrame =
    Similarity.prototypicalityPrune(table(s, dir, "embeddings"),
        pruneFrac = 0.25, k = 8, iters = 2,
        hasher = graft.llm.PortableSeededHash)
      .orderBy("vec_id")

  /** Cluster-balanced semantic sampling (q139): the q113 temperature
    * rebalance applied over SEMANTIC strata — k-means cells
    * ([[graft.llm.Similarity.kmeansAssign]], the q77 training) instead
    * of metadata language tags. This is the topic-rebalancing step of an
    * embedding-curated pipeline (flatten the cluster-size distribution
    * so dominant topics don't swamp the mixture — the DataComp/D4
    * recipe); q_cell ∝ n_cell^0.5 via the same sqrt-exact scaled-integer
    * coin as q113, so the whole chain — training included — replays in
    * the oracle. Scale: q77's broadcast-centroid assignment + one
    * |cells|-row count aggregate + a scan-level coin; no data shuffle
    * beyond the training's own. */
  def clusterBalancedSample(s: SparkSession, dir: String): DataFrame =
    graft.llm.Sampling.temperatureSampled(
        Similarity.kmeansAssign(table(s, dir, "embeddings"), k = 8,
          iters = 2, hasher = graft.llm.PortableSeededHash),
        col("vec_id"), col("cid"), c = 2.5, alpha = 0.5, seed = 43,
        hasher = graft.llm.PortableSeededHash)
      .withColumnRenamed("id", "vec_id")
      .withColumnRenamed("stratum", "cid")
      .orderBy("vec_id")

  /** Per-vector cosine to its label centroid (label-noise mining). All
    * arithmetic is exact fixed-point integers, so the 4-dp similarity is
    * engine-independent. */
  def labelCentroids(s: SparkSession, dir: String): DataFrame =
    Similarity.labelCentroidSim(table(s, dir, "embeddings"))
      .orderBy("vec_id")

  /** The full corpus-preparation pipeline (q79): exact dedup → near-dup
    * cluster drop → quality filter → deterministic split, end to end in
    * one composite ([[graft.jobs.CorpusPipeline]]). */
  def corpusPipeline(s: SparkSession, dir: String): DataFrame =
    graft.jobs.CorpusPipeline.run(table(s, dir, "documents"),
        hasher = graft.llm.PortableSeededHash)
      .orderBy("doc_id")

  /** Brute-force cosine top-5 for the first 10 vectors (exact ANN
    * baseline; oracle via DuckDB list_cosine_similarity). */
  def cosineTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = table(s, dir, "embeddings")
    Similarity.bruteForceTopK(emb.where(col("vec_id") < 10), emb, k = 5)
      .select(col("query_id"), col("rn"), col("neighbor_id"),
        round(col("sim"), 4).as("sim"))
      .orderBy("query_id", "rn")
  }

  /** LSH-bucketed ANN — portable hash family + fixed-point projections
    * make the plane signs, buckets and ranking oracle-checkable (recall vs
    * brute force additionally asserted in unit tests). */
  def annLsh(s: SparkSession, dir: String): DataFrame = {
    val emb = table(s, dir, "embeddings")
    Similarity.lshTopK(emb.where(col("vec_id") < 10), emb, k = 5,
        hasher = graft.llm.PortableSeededHash)
      .select(col("query_id"), col("rn"), col("neighbor_id"),
        round(col("sim"), 4).as("sim"))
      .orderBy("query_id", "rn")
  }

  /** Multi-table LSH ANN (q132, [[graft.llm.Similarity.lshTopKMulti]]):
    * 4 independent tables of 8 planes each — the recall construction the
    * q131 report motivates (single-table q35 measured recall 0.00 at
    * sf0.01's corpus/bucket ratio; the L-table union drives the miss
    * probability down as (1−p^b)^L). Same portable-hash fixed-point
    * geometry as q35, so every table's buckets replay in DuckDB. */
  def annLshMulti(s: SparkSession, dir: String): DataFrame = {
    val emb = table(s, dir, "embeddings")
    Similarity.lshTopKMulti(emb.where(col("vec_id") < 10), emb, k = 5,
        tables = 4, planesPerTable = 8,
        hasher = graft.llm.PortableSeededHash)
      .select(col("query_id"), col("rn"), col("neighbor_id"),
        round(col("sim"), 4).as("sim"))
      .orderBy("query_id", "rn")
  }

  /** k-NN graph construction (q138, [[graft.llm.Similarity.knnGraph]]):
    * every node's top-5 neighbors from the q132 multi-table LSH
    * collision join run as a capped SELF-join, with the mutual-kNN edge
    * flag — the graph that graph-based curation (density filters,
    * mutual-kNN clustering, label propagation) consumes. The oracle
    * replays all four tables' buckets, the all-pairs collision set, the
    * rounded-cosine ranking, and the transpose join. */
  def knnGraph(s: SparkSession, dir: String): DataFrame =
    Similarity.knnGraph(table(s, dir, "embeddings"), k = 5,
        tables = 4, planesPerTable = 8,
        hasher = graft.llm.PortableSeededHash)
      .orderBy("src", "rn")

  /** Per-domain crawl analysis + blocklist gate (q143): the URL-level
    * curation step every web pipeline runs before content filtering (C4
    * dropped whole domains off a blocklist; Gopher/RefinedWeb audit
    * per-domain volume before mixing). The corpus is staged as WARC
    * with per-SOURCE hosts, read back distributed, hosts recovered with
    * `parse_url` (codegen'd), and aggregated to one row per domain with
    * the blocklist flag — crawl bytes and doc counts by registered
    * host, the report a 100 TB crawl audits before ingest. */
  def domainStats(s: SparkSession, dir: String): DataFrame = {
    val staged = table(s, dir, "documents")
      .select(col("doc_id"), syntheticHtml.as("html"),
        concat(lit("http://"), col("source"), lit(".crawl.example/doc/"),
          col("doc_id")).as("uri"))
    val tmp = java.nio.file.Files.createTempDirectory("graft-warc-dom").toString
    graft.llm.WebArchive.writeWarc(s, staged, tmp)
    val blocklist = Seq("src7.crawl.example", "src13.crawl.example")
    graft.llm.WebArchive.readWarc(s, tmp).toDF()
      .select(parse_url(col("uri"), lit("HOST")).as("host"),
        col("content_length"))
      .groupBy("host")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("content_length")).as("total_bytes"))
      .withColumn("blocked", col("host").isin(blocklist: _*))
      .orderBy("host")
  }

  /** Persisted IVF ANN index (q142,
    * [[graft.llm.Similarity.writeIvfIndex]]/`ivfSearchIndexed`): the
    * q129 build-once/search-every-batch lifecycle for VECTOR search —
    * q82's training written as a partitioned cell store (one directory
    * per inverted list + the centroid sums), then the probe runs
    * against the RELOADED index: probed cells join the partition
    * column, so dynamic partition pruning reads only nprobe directories
    * (plan-asserted in SimilaritySpec). Defined to produce exactly
    * q82's output — the lifecycle changes, the math doesn't — so it
    * shares q82's oracle. */
  def indexedIvfAnn(s: SparkSession, dir: String): DataFrame = {
    val emb = table(s, dir, "embeddings")
    // build-per-run by design (the labeled build-included twin); the
    // directory still lands under the session-configurable artifact root
    val idx = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(graft.io.ArtifactCache.root(s)),
      "graft-ivf").toString
    Similarity.writeIvfIndex(emb, idx, numCentroids = 8, iters = 2,
      hasher = graft.llm.PortableSeededHash)
    Similarity.ivfSearchIndexed(idx, emb.where(col("vec_id") < 10), k = 5,
        nprobe = 2)
      .orderBy("query_id", "rn")
  }

  /** Mutual-kNN graph clustering (q141): connected components of the
    * q138 graph restricted to MUTUAL edges — the classic graph-based
    * semantic grouping (two documents cluster only when each ranks the
    * other in its own top-k, the symmetric-neighborhood criterion that
    * suppresses hub nodes), resolved to min-id components by the q63
    * pointer-jumping iteration. Complements q99's SemDeDup: threshold-
    * free, rank-based — the cluster structure adapts to local density
    * instead of one global cosine cut. Output (vec_id, component,
    * is_keeper) — the q63 keep-list shape over embedding space. */
  def knnGraphClusters(s: SparkSession, dir: String): DataFrame = {
    val g = Similarity.knnGraph(table(s, dir, "embeddings"), k = 5,
      tables = 4, planesPerTable = 8,
      hasher = graft.llm.PortableSeededHash)
    val mutualPairs = g.where(col("mutual") && col("src") < col("dst"))
      .select(col("src").as("doc_a"), col("dst").as("doc_b"))
    graft.llm.Dedup.connectedComponents(mutualPairs)
      .withColumnRenamed("doc_id", "vec_id")
      .orderBy("vec_id")
  }

  /** IVF-cell ANN: fixed-cardinality coarse quantizer (16 hash-sampled
    * centroids — corpus-size independent), nprobe=2 probe lists, exact
    * in-cell cosine top-5 (the second ANN scale path next to LSH
    * bucketing; recall tuned by nprobe). Portable hash family so the
    * centroid sample — and with it every cell and ranking — replays in
    * DuckDB. */
  def ivfAnn(s: SparkSession, dir: String): DataFrame = {
    val emb = table(s, dir, "embeddings")
    Similarity.ivfTopK(emb.where(col("vec_id") < 10), emb, k = 5,
        hasher = graft.llm.PortableSeededHash)
      .select(col("query_id"), col("rn"), col("neighbor_id"),
        round(col("sim"), 4).as("sim"))
      .orderBy("query_id", "rn")
  }

  /** IVF ANN over the TRAINED k-means quantizer (q82): the q77 trainer's
    * centroids feed the q35b probe shape end-to-end — train → assign →
    * probe in one engine-exact fixed-point geometry. */
  def ivfTrained(s: SparkSession, dir: String): DataFrame = {
    val emb = table(s, dir, "embeddings")
    Similarity.ivfTopKTrained(emb.where(col("vec_id") < 10), emb, k = 5,
        numCentroids = 8, iters = 2, nprobe = 2,
        hasher = graft.llm.PortableSeededHash)
      .orderBy("query_id", "rn")
  }

  /** Tokenize WITH the trained phrase vocabulary (q134,
    * [[graft.llm.LanguageModel.applyPhrases]]): the apply side of q128's
    * train loop — both merge rounds' phrase tables replayed in order
    * over the corpus, emitting per-doc raw/merged token counts and the
    * merged token stream. Completes the tokenizer lifecycle the way
    * q129 completes the dedup index's: train once (on a sample at
    * 100 TB — the vocabulary is a ≤ rounds·topK-row broadcast table),
    * apply to every shard. The oracle replays training AND application:
    * a fault in either the cut line or the greedy merge windows moves
    * the merged stream and hash-mismatches. */
  def phraseTokenize(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
    val vocab = graft.llm.LanguageModel.trainPhrases(docs, rounds = 2,
      minCount = 5, topK = 20)
    graft.llm.LanguageModel.applyPhrases(docs, vocab, rounds = 2)
      .orderBy("doc_id")
  }

  /** BPE vocabulary training (q215,
    * [[graft.llm.LanguageModel.trainBpe]]): 8 frequency-ranked
    * byte-pair merge rounds over the documents corpus — the
    * within-word subword trainer (Sennrich et al. 2016) next to q128's
    * across-word phrase trainer. The corpus is touched exactly once
    * (the word-count shuffle); every merge round runs on the
    * vocabulary-sized distinct-word symbol frame, so round cost is
    * flat in corpus size. The oracle unrolls all 8 rounds — pair
    * counts, the (count DESC, s1, s2) winner, and the greedy
    * left-to-right merge windows — so a fault anywhere in the loop
    * moves a later round's winner and hash-mismatches. */
  def bpeTrain(s: SparkSession, dir: String): DataFrame =
    graft.llm.LanguageModel.trainBpe(table(s, dir, "documents"),
        merges = 8, minPairCount = 2)
      .orderBy("merge_round")

  /** BPE tokenization (q217, [[graft.llm.LanguageModel.applyBpe]]): the
    * apply side of q215 — train 6 merges, replay them in order over the
    * distinct-word table, join subword counts back to the corpus, and
    * report per-document word/subword counts plus fertility (subwords
    * per word, the tokenizer-quality number). The q134 lifecycle for
    * subwords: tokenization is a pure function of the word, so apply
    * cost is one explode + one word equi-join regardless of corpus
    * size. */
  def bpeTokenize(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
    val vocab = graft.llm.LanguageModel.trainBpe(docs, merges = 6,
      minPairCount = 2)
    graft.llm.LanguageModel.applyBpe(docs, vocab, merges = 6)
      .orderBy("doc_id")
  }

  /** Unigram-LM (SentencePiece-style) tokenizer training (q223,
    * [[graft.llm.LanguageModel.unigramCore]]): substring seeding + two
    * hard-EM (Viterbi) rounds over the distinct-word frame — Kudo
    * 2018's probabilistic sibling of the q215 BPE trainer, with every
    * decision an integer argmax on fixed-point log-probs so the oracle
    * unrolls seed → score → DP → backwalk → recount round by round.
    * Output: the final vocabulary ranked (freq DESC, piece). */
  def unigramTrain(s: SparkSession, dir: String): DataFrame =
    graft.llm.LanguageModel.trainUnigram(table(s, dir, "documents"))
      .orderBy("rank")

  /** Unigram trainer with Kudo's vocabulary SHRINK SCHEDULE (q233,
    * [[graft.llm.LanguageModel.trainUnigram]] `shrinkTo`): three EM
    * rounds, each followed by a prune to the top
    * max(24, floor(|V|·60%)) pieces by (freq DESC, piece) with single
    * characters always kept — the gradual contraction toward a target
    * vocabulary that production SentencePiece training runs (q223 is
    * the fixed-vocabulary twin). Frequency rank is the deterministic
    * integer surrogate for Kudo's likelihood-loss rank (documented at
    * the trainer); the oracle replays every round's prune verbatim. */
  def unigramShrinkTrain(s: SparkSession, dir: String): DataFrame =
    graft.llm.LanguageModel.trainUnigram(table(s, dir, "documents"),
        rounds = 3, shrinkTo = Some(24), shrinkKeepPct = 60)
      .orderBy("rank")

  /** SOFT-EM unigram trainer (q237,
    * [[graft.llm.LanguageModel.unigramSoftCore]]): Kudo's actual
    * forward–backward E-step — every segmentation contributes its
    * posterior, counts become 10⁶-scaled EXPECTATIONS — next to
    * q223's hard-EM/Viterbi twin. Every float step (the per-position
    * log-sum-exp, the per-span posterior) rounds to fixed point
    * immediately with its summands folded in a deterministic sorted
    * order, so the DuckDB oracle replays the arithmetic bit-for-bit;
    * the occurrence-weighted recount itself is a pure BIGINT sum.
    * Same corpus-flat shape as q223: one word-count shuffle, then
    * vocabulary-sized EM rounds with the whole DP as one compiled pass
    * per word. */
  def unigramSoftTrain(s: SparkSession, dir: String): DataFrame =
    graft.llm.LanguageModel.trainUnigramSoft(table(s, dir, "documents"),
        seedSize = 32, rounds = 2, maxPieceLen = 3)
      .orderBy("rank")

  /** Tokenizer fertility comparison (q224,
    * [[graft.llm.LanguageModel.tokenizerCompare]]): corpus-level
    * tokens-per-word for the 6-merge BPE tokenizer (q215/q217) vs the
    * trained unigram-LM Viterbi tokenizer (q223) on the same corpus —
    * the sizing number the two trainers are compared by in practice.
    * Both chains replay end-to-end in the oracle. */
  def tokenizerCompare(s: SparkSession, dir: String): DataFrame =
    graft.llm.LanguageModel.tokenizerCompare(table(s, dir, "documents"))
      .orderBy("method")

  /** Graph-walk ANN search (q216,
    * [[graft.llm.Similarity.graphSearchTopK]]): beam descent over the
    * q138 kNN graph — the NSW/HNSW-family leg that completes the ANN
    * portfolio (bucketing: LSH/IVF; compression: SQ/PQ/Hamming; now
    * graph routing). Four synchronous expansion rounds, beam 8, from
    * the 8 lowest-id entry points (the coarse-quantizer seam's
    * deterministic stand-in), top-5 answers. Oracled by unrolling the
    * q138 edge CTEs plus every expansion round; also measured as a
    * `graph` row in the q131 recall and q164 MRR/nDCG reports. */
  def graphAnn(s: SparkSession, dir: String): DataFrame = {
    val emb = table(s, dir, "embeddings")
    Similarity.graphSearchTopK(emb.where(col("vec_id") < 10), emb,
        k = 5, hasher = graft.llm.PortableSeededHash)
      .orderBy("query_id", "rn")
  }

  /** Graph-walk ANN over a PERSISTED graph (q222,
    * [[graft.llm.Similarity.graphSearchIndexed]]): the q142
    * build-once/search-every-batch lifecycle applied to q216 — the
    * q138 edge list and the coarse-quantizer entry points (nearest
    * node per trained k-means centroid,
    * [[graft.llm.Similarity.centroidEntryPoints]] — the production
    * entry heuristic q216's lowest-ids stand in for) are committed
    * ONCE as snapshot tables through the DSv2 write surface (q218
    * dogfooded as the index store), and the query SEARCHES the
    * reloaded artifact: 4 beam rounds whose cost is
    * O(rounds·Q·beam·degree) score evaluations plus one corpus-scan
    * lookup join per round — independent of the build, the registered
    * witness for "graph-ANN search cost does not grow with the
    * corpus". The artifact caches per (corpus dir, params) under the
    * JVM temp root — deterministic by construction (portable hash,
    * fixed-point k-means), so build-if-absent is idempotent; a 100 TB
    * deployment refreshes it per corpus version, exactly like the q142
    * IVF store and the q171 BM25 postings. The oracle replays BOTH
    * halves (graph build + k-means entries + beam rounds), so a fault
    * in either the persisted artifact or the search hash-mismatches. */
  /** Build-if-absent the persisted graph-ANN artifact for `dir`'s
    * embeddings (q222's lifecycle) through [[graft.io.ArtifactCache]]:
    * session-configurable root, cache key carrying the corpus CONTENT
    * fingerprint (a corpus rebuilt in place misses instead of serving a
    * stale index), completion gated on a marker written after the LAST
    * table commit (a crash between the edges and entries commits
    * rebuilds, never half-reads). Deterministic content (portable hash,
    * fixed-point k-means), so rebuild-on-miss is idempotent and any
    * consumer (q222's search, q131/q164's graph legs) may share it.
    * Returns the index directory. */
  private def graphIndexDir(s: SparkSession, dir: String): String =
    graft.io.ArtifactCache.cached(s, Seq("graphidx",
        graft.io.ArtifactCache.fingerprint(s, s"$dir/embeddings.parquet"),
        "k5", "t4", "p8", "c8", "i2", "portable")) { idx =>
      Similarity.writeGraphIndex(table(s, dir, "embeddings"), idx,
        hasher = graft.llm.PortableSeededHash)
    }

  def graphAnnIndexed(s: SparkSession, dir: String): DataFrame = {
    val emb = table(s, dir, "embeddings")
    val (edges, entries) = Similarity.readGraphIndex(s, graphIndexDir(s, dir))
    Similarity.graphSearchIndexed(emb.where(col("vec_id") < 10), emb,
        edges, entries, k = 5)
      .orderBy("query_id", "rn")
  }

  /** Build-if-absent the persisted TRAINED-IVF codebook artifact
    * (q225's lifecycle — [[graft.llm.Similarity.writeIvfCodebook]]):
    * the q82 k-means training committed once as snapshot tables, so
    * reports ([[annRecall]]/[[retrievalMetrics]]) and the q225 witness
    * search the artifact instead of re-training per query. Same cache
    * contract as [[graphIndexDir]]. */
  private def ivfCodebookDir(s: SparkSession, dir: String): String =
    graft.io.ArtifactCache.cached(s, Seq("ivfcb",
        graft.io.ArtifactCache.fingerprint(s, s"$dir/embeddings.parquet"),
        "c8", "i2", "portable")) { idx =>
      Similarity.writeIvfCodebook(table(s, dir, "embeddings"), idx,
        numCentroids = 8, iters = 2,
        hasher = graft.llm.PortableSeededHash)
    }

  /** Build-if-absent the persisted PQ codebook artifact (q226's
    * lifecycle — [[graft.llm.Similarity.writePqCodebook]]). */
  private def pqCodebookDir(s: SparkSession, dir: String): String =
    graft.io.ArtifactCache.cached(s, Seq("pqcb",
        graft.io.ArtifactCache.fingerprint(s, s"$dir/embeddings.parquet"),
        "m4", "d64", "c8", "i2", "portable")) { idx =>
      Similarity.writePqCodebook(table(s, dir, "embeddings"), idx,
        m = 4, dims = 64, numCentroids = 8, iters = 2,
        hasher = graft.llm.PortableSeededHash)
    }

  /** The q131/q164 `ivf_trained` leg served from the PERSISTED codebook
    * artifact — bit-identical to the in-query [[Similarity
    * .ivfTopKTrained]] (deterministic fixed-point training; q225's spec
    * pins the equality), without re-running k-means inside every
    * report. */
  private def ivfTrainedLeg(s: SparkSession, dir: String, q: DataFrame,
                            emb: DataFrame): DataFrame = {
    val (assign, cent) = Similarity.readIvfCodebook(s, ivfCodebookDir(s, dir))
    Similarity.ivfSearchTrained(q, emb, k = 5, assign, cent, nprobe = 2)
  }

  /** The q131/q164 `pq` leg served from the PERSISTED codebook
    * artifact (see [[ivfTrainedLeg]]). */
  private def pqLeg(s: SparkSession, dir: String, q: DataFrame): DataFrame = {
    val (codes, cb) = Similarity.readPqCodebook(s, pqCodebookDir(s, dir))
    Similarity.pqSearch(q, k = 5, m = 4, dims = 64, codes, cb)
  }

  /** Trained-IVF search over the PERSISTED codebook (q225): the q222
    * registered witness applied to the q82 trainer — the k-means build
    * runs ONCE into snapshot tables ([[ivfCodebookDir]]); the query
    * probes the reloaded centroid sums and inverted lists. Output is
    * defined to be q82's exactly (the lifecycle changes, the math
    * doesn't), so it shares q82's oracle: a fault in either the
    * persisted artifact or the probe hash-mismatches. */
  def ivfCodebookAnn(s: SparkSession, dir: String): DataFrame = {
    val emb = table(s, dir, "embeddings")
    val (assign, cent) = Similarity.readIvfCodebook(s, ivfCodebookDir(s, dir))
    Similarity.ivfSearchTrained(emb.where(col("vec_id") < 10), emb, k = 5,
        assign, cent, nprobe = 2)
      .orderBy("query_id", "rn")
  }

  /** PQ/ADC search over the PERSISTED codebook (q226): q124's output
    * served from the snapshot-table artifact — the corpus is read ONLY
    * as its code table (the 1/80-bytes ADC property, now on disk).
    * Shares q124's oracle. */
  def pqCodebookAnn(s: SparkSession, dir: String): DataFrame = {
    val emb = table(s, dir, "embeddings")
    val (codes, cb) = Similarity.readPqCodebook(s, pqCodebookDir(s, dir))
    Similarity.pqSearch(emb.where(col("vec_id") < 10), k = 5, m = 4,
        dims = 64, codes, cb)
      .orderBy("query_id", "rn")
  }

  /** The q131/q164 `graph` leg served from the PERSISTED artifact:
    * bit-identical output to the in-query `graphSearchTopK` (same edge
    * list, same lowest-id entry set — SimilaritySpec pins the equality)
    * without re-running the q138 build inside every report; the reports
    * keep their oracles verbatim and drop the build cost, the q142
    * amortization the round-10 verdict predicted. */
  private def graphLeg(s: SparkSession, dir: String, q: DataFrame,
                       emb: DataFrame): DataFrame = {
    val (edges, _) = Similarity.readGraphIndex(s, graphIndexDir(s, dir))
    val lowIds = emb.orderBy("vec_id").limit(8)
      .select(col("vec_id").as("node"))
    Similarity.graphSearchIndexed(q, emb, edges, lowIds, k = 5)
  }

  /** ANN recall@5 report (q131): every approximate leg of the ANN family
    * — hyperplane LSH (q35), hash-sampled IVF (q35b), trained-k-means IVF
    * (q82), int8 scalar quantization (q122), product quantization (q124)
    * — joined against the exact brute-force top-5 ground truth (q34) on
    * the SAME 10 query vectors, reduced to one recall row per method. The
    * family's accuracy trade-offs are thereby measured, not asserted: a
    * regression in any leg's bucketing, probing, or quantization moves
    * its recall number and hash-mismatches. Every leg is engine-exact by
    * construction (portable hash family + fixed-point geometry), so the
    * oracle replays all five legs AND the ground truth in DuckDB and
    * computes the same counts. The denominator is a 1-row broadcast
    * scalar frame (the q110 pattern — no driver action). At 100 TB this
    * runs on a sampled query set against persisted index artifacts; the
    * legs here rebuild their indexes in-query because the fixture is
    * small. */
  def annRecall(s: SparkSession, dir: String): DataFrame = {
    val hasher = graft.llm.PortableSeededHash
    val emb = table(s, dir, "embeddings")
    val q = emb.where(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(q, emb, k = 5)
      .select(col("query_id"), col("neighbor_id"))
      .localCheckpoint()
    val nExact = exact.groupBy().agg(count(lit(1)).as("n_exact"))
    def leg(name: String, df: DataFrame): DataFrame =
      df.select(lit(name).as("method"), col("query_id"), col("neighbor_id"))
    val legs = Seq(
        leg("ivf", Similarity.ivfTopK(q, emb, k = 5, hasher = hasher)),
        // trained legs read their PERSISTED codebook artifacts (q225/
        // q226's lifecycle) — no in-query k-means; output and oracle
        // unchanged (deterministic training, equality spec-pinned)
        leg("ivf_trained", ivfTrainedLeg(s, dir, q, emb)),
        leg("lsh", Similarity.lshTopK(q, emb, k = 5, hasher = hasher)),
        leg("lsh_multi", Similarity.lshTopKMulti(q, emb, k = 5,
          tables = 4, planesPerTable = 8, hasher = hasher)),
        leg("pq", pqLeg(s, dir, q)),
        leg("sq", Similarity.quantizedTopK(q, emb, k = 5)),
        leg("graph", graphLeg(s, dir, q, emb)))
      .reduce(_ unionByName _)
    legs
      .join(broadcast(exact.withColumn("hit", lit(1L))),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy("method")
      .agg(count(lit(1)).as("n_returned"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .crossJoin(broadcast(nExact))
      .select(col("method"), col("n_returned"), col("n_hits"),
        round(col("n_hits").cast("double") / col("n_exact"), 4)
          .as("recall_at_5"))
      .orderBy("method")
  }

  /** Hard-negative mining (q156,
    * [[graft.llm.Similarity.hardNegatives]]): top-5 per query vector in
    * the [0.15, 0.35] rounded-cosine band — the confusable-but-not-
    * duplicate negatives contrastive embedding training needs (uniform
    * negatives are trivially easy; the near-dup band would be false
    * negatives). Same 10-query set as q34; the band bounds sit inside
    * the corpus's p90-p99.9 similarity range so every query mines a
    * non-trivial candidate pool. */
  def hardNegatives(s: SparkSession, dir: String): DataFrame = {
    val emb = table(s, dir, "embeddings")
    Similarity.hardNegatives(emb.where(col("vec_id") < 10), emb,
        k = 5, loSim = 0.15, hiSim = 0.35)
      .select(col("query_id"), col("rn").cast("long").as("rn"),
        col("neighbor_id"), col("sim"))
      .orderBy("query_id", "rn")
  }

  /** Rank-aware retrieval metrics (q164): MRR and nDCG@5 for every ANN
    * leg against the exact top-5 ground truth — the rank-sensitive
    * complement of q131's recall (recall can't tell "right answers
    * first" from "right answers fifth"; ranking quality is what the
    * retrieval actually serves). RR = 1/rank of the first relevant
    * result per query; DCG = Σ 1/log2(rank+1) over relevant results,
    * normalized by the ideal DCG for 5 relevants (a shared literal
    * constant on both engine and oracle sides so the division is
    * bit-identical). Queries a leg returns nothing for score 0 via a
    * dense method×query grid, so partial-coverage legs aren't averaged
    * over their hits only. Same sampled-query/persisted-index 100 TB
    * contract as q131. */
  def retrievalMetrics(s: SparkSession, dir: String): DataFrame = {
    val hasher = graft.llm.PortableSeededHash
    val emb = table(s, dir, "embeddings")
    val q = emb.where(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(q, emb, k = 5)
      .select(col("query_id"), col("neighbor_id")).localCheckpoint()
    def leg(name: String, df: DataFrame): DataFrame =
      df.select(lit(name).as("method"), col("query_id"),
        col("rn").cast("long").as("rank"), col("neighbor_id"))
    val legs = Seq(
        leg("ivf", Similarity.ivfTopK(q, emb, k = 5, hasher = hasher)),
        // trained legs read their PERSISTED codebook artifacts (q225/
        // q226's lifecycle) — no in-query k-means; output and oracle
        // unchanged (deterministic training, equality spec-pinned)
        leg("ivf_trained", ivfTrainedLeg(s, dir, q, emb)),
        leg("lsh", Similarity.lshTopK(q, emb, k = 5, hasher = hasher)),
        leg("lsh_multi", Similarity.lshTopKMulti(q, emb, k = 5,
          tables = 4, planesPerTable = 8, hasher = hasher)),
        leg("pq", pqLeg(s, dir, q)),
        leg("sq", Similarity.quantizedTopK(q, emb, k = 5)),
        leg("graph", graphLeg(s, dir, q, emb)))
      .reduce(_ unionByName _)
    val hits = legs.join(
      broadcast(exact.withColumn("hit", lit(1))),
      Seq("query_id", "neighbor_id"), "left")
    val perQ = hits.groupBy("method", "query_id").agg(
      max(when(col("hit") === 1, lit(1.0) / col("rank"))).as("rr"),
      sum(when(col("hit") === 1, lit(1.0) / log2(col("rank") + 1))).as("dcg"))
    import s.implicits._
    val grid = Seq("graph", "ivf", "ivf_trained", "lsh", "lsh_multi",
        "pq", "sq")
      .toDF("method")
      .crossJoin(q.select(col("vec_id").as("query_id")))
    grid.join(perQ, Seq("method", "query_id"), "left")
      .groupBy("method")
      .agg(round(avg(coalesce(col("rr"), lit(0.0))), 4).as("mrr"),
        round(avg(coalesce(col("dcg"), lit(0.0)) / lit(Idcg5)), 4)
          .as("ndcg_at_5"))
      .orderBy("method")
  }

  /** Ideal DCG@5 with 5 relevant results — the shared normalization
    * constant of q164 (the oracle embeds the same literal). */
  val Idcg5: Double = (1 to 5).map(p => 1.0 / (math.log(p + 1.0) / math.log(2.0))).sum

  /** Deterministic stratified sample (q87): per-language keep rates via a
    * seeded portable-hash coin — the training-mix knob, reproducible
    * across runs/engines/partitionings (no rand()). Pure scan-level
    * filter, no shuffle. */
  def stratifiedSample(s: SparkSession, dir: String): DataFrame =
    graft.llm.Sampling.stratified(table(s, dir, "documents"),
        col("doc_id"), col("lang"),
        Map("en" -> 0.8, "de" -> 0.5, "fr" -> 0.25, "es" -> 0.1),
        default = 0.05, seed = 17,
        hasher = graft.llm.PortableSeededHash)
      .select("doc_id", "lang")
      .orderBy("doc_id")

  /** Per-source best-document selection (q94): the "keep the N best
    * documents per domain" curation step — the q37 quality score ranked
    * per source with [[graft.plans.TopKRewrite]] lowering the window to
    * the bounded-heap TopKPerKey operator (only N rows per source cross
    * the shuffle). Ranking is on the ROUNDED score with doc_id
    * tie-breaks (cross-engine stable). */
  def bestPerSource(s: SparkSession, dir: String): DataFrame = {
    val scored = table(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"), col("text"),
        TextAnalysis.tokens(col("text")).as("toks"))
      .select(col("doc_id") +: col("source") +: col("n_chars") +:
        TextAnalysis.qualityComponentsFromTokens(col("text"), col("toks"))
          .map { case (n, c) => c.as(n) }: _*)
      .select(col("doc_id") +: col("source") +: col("n_chars") +:
        TextAnalysis.qualityFromComponents(col("n_tokens"), col("n_chars_d"),
          col("punct"), col("stop")).map { case (n, c) => c.as(n) }: _*)
    graft.ops.Windows.topKPerKey(scored.select("doc_id", "source", "quality"),
        Seq(col("source")),
        Seq(col("quality").desc, col("doc_id").asc), k = 5)
      .select(col("source"), col("rn").cast("long").as("rn"),
        col("doc_id"), col("quality"))
      .orderBy("source", "rn")
  }

  /** Normalization-aware exact dedup (q92): the corpus unioned with a
    * per-document case+punctuation variant; normalized fingerprinting
    * must collapse every variant pair back onto its original (dup_count
    * 2 everywhere unless two originals already normalize together). */
  def normalizedDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents").select("doc_id", "text")
    val variants = docs.select((col("doc_id") + 100000L).as("doc_id"),
      concat(upper(col("text")), lit(" !!")).as("text"))
    Dedup.exactNormalized(docs.union(variants)).orderBy("keep_id")
  }

  /** Benchmark decontamination (q91): the q29 hash split's train bucket
    * checked for n-gram containment against its test bucket — the
    * "did the corpus swallow the eval set" gate, cross-side only. */
  def decontamination(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
    val bucket = graft.llm.PortableSeededHash.hash(col("doc_id"), 42) % 100
    Dedup.crossContamination(
        docs.where(bucket < 80), docs.where(bucket >= 90),
        n = 3, threshold = 0.5)
      .orderBy("corpus_doc", "benchmark_doc")
  }

  /** Bloom-prefiltered decontamination (q105,
    * [[graft.llm.Dedup.bloomDecontamination]]): the q91 check reshaped
    * for the 100 TB corpus-vs-eval-set asymmetry — benchmark-shingle
    * Bloom broadcast, corpus pruned map-side (scan + `might_contain`,
    * no shuffle), exact containment on the survivors. Same split, same
    * output, same oracle as q91: the Bloom path must be invisible in
    * the answer. */
  def bloomDecontamination(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
    val bucket = graft.llm.PortableSeededHash.hash(col("doc_id"), 42) % 100
    Dedup.bloomDecontamination(
        docs.where(bucket < 80), docs.where(bucket >= 90),
        n = 3, threshold = 0.5)
      .orderBy("corpus_doc", "benchmark_doc")
  }

  /** Contaminated-span localization (q196,
    * [[graft.llm.Dedup.contaminatedSpans]]): the q105 corpus/benchmark
    * split, but answering "which exact token spans overlap the
    * benchmark" instead of "which documents" — the input a surgical
    * redaction pass needs (GPT-3 appendix C removed overlapping text,
    * not documents). Width 4 here: the synthetic near-dups perturb
    * every few tokens, so cross-split shared runs are short — the
    * production width is the GPT-3 filter's 13, a parameter. */
  def contaminatedSpans(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
    val bucket = graft.llm.PortableSeededHash.hash(col("doc_id"), 42) % 100
    // fpp 1e-4: the doc-level prefilter's false-pass rate is ~grams/doc ×
    // fpp (~80 grams here) — at the default 1% HALF the corpus would
    // falsely survive to the explode once the benchmark side is large;
    // at 1e-4 it is <1%. The exact semi-join keeps the answer identical
    // either way; fpp only buys scan-side pruning.
    Dedup.contaminatedSpans(
        docs.where(bucket < 80), docs.where(bucket >= 90), l = 4,
        fpp = 1e-4)
      .orderBy("doc_id", "span_start")
  }

  /** Exact duplicate-substring spans (q106,
    * [[graft.llm.Dedup.duplicateSpans]]): maximal token spans covered by
    * a 15-gram occurring >= 2 times corpus-wide — the ExactSubstr /
    * Lee et al. 2022 training-data pass, re-expressed as positional
    * l-gram postings + per-doc island merge. */
  def duplicateSpans(s: SparkSession, dir: String): DataFrame =
    Dedup.duplicateSpans(table(s, dir, "documents"), l = 15)
      .orderBy("doc_id", "span_start")

  /** Duplicate-substring removal (q107,
    * [[graft.llm.Dedup.stripDuplicateSpans]]): every q106 span cut out
    * of every document, documents reassembled from surviving tokens. */
  def stripDupSpans(s: SparkSession, dir: String): DataFrame =
    Dedup.stripDuplicateSpans(table(s, dir, "documents"), l = 15)
      .orderBy("doc_id")

  /** Token-budget domain mixture (q109,
    * [[graft.llm.Sampling.mixtureByBudget]]): per-language token budgets
    * filled by a deterministic hash-order prefix — the static
    * data-mixing pass (fixed-weight DoReMi / Pile-recipe regime). */
  def mixtureByBudget(s: SparkSession, dir: String): DataFrame =
    graft.llm.Sampling.mixtureByBudget(table(s, dir, "documents"),
        col("doc_id"), col("lang"),
        budgets = Map("en" -> 6000L, "fr" -> 3000L, "es" -> 3000L,
          "de" -> 1500L, "zh" -> 1500L),
        numBuckets = 8, seed = 31,
        hasher = graft.llm.PortableSeededHash)
      .orderBy("doc_id")

  /** UniMax epoch-capped language budgeting (q231,
    * [[graft.llm.Sampling.unimax]]): the budget-driven multilingual
    * mixing rule — B = floor(1.48 × corpus tokens) water-filled across
    * languages with a 2-epoch cap. On this corpus the four low-resource
    * languages cap at 2 epochs (they absorb less than an even share)
    * and English — 41% of the corpus — takes the leftover,
    * down-sampled below its natural share: both regimes of the
    * allocation in one report, each engine-exact in integer
    * arithmetic. */
  def unimaxReport(s: SparkSession, dir: String): DataFrame =
    graft.llm.Sampling.unimax(table(s, dir, "documents"),
      col("doc_id"), col("lang"),
      budgetNumer = 148L, budgetDenom = 100L, epochs = 2,
      numBuckets = 8, seed = 37,
      hasher = graft.llm.PortableSeededHash)

  /** CCNet-style LM quality score (q110,
    * [[graft.llm.LanguageModel.ngramLogProbScore]]): per-document average
    * add-one-smoothed trigram log-probability under a count model
    * trained on the corpus itself. */
  def ngramLogProb(s: SparkSession, dir: String): DataFrame =
    graft.llm.LanguageModel.ngramLogProbScore(table(s, dir, "documents"))
      .orderBy("doc_id")

  /** GPT-style sequence packing (q89): concatenate-then-split assignment
    * of documents to 512-token training sequences over the portable-hash
    * canonical order, two-phase distributed prefix sum (no global
    * window). */
  def packSequences(s: SparkSession, dir: String): DataFrame =
    graft.llm.Sampling.packSequences(table(s, dir, "documents"),
        budget = 512, numBuckets = 8, seed = 29,
        hasher = graft.llm.PortableSeededHash)
      .orderBy("doc_id")

  /** Weighted stratum up/down-sampling (q90): language weights > 1 repeat
    * documents, < 1 thin them, with a deterministic portable-hash coin
    * for the fractional part. */
  def upsample(s: SparkSession, dir: String): DataFrame =
    graft.llm.Sampling.upsampleByStratum(table(s, dir, "documents"),
        col("doc_id"), col("lang"),
        Map("en" -> 1.0, "de" -> 2.5, "fr" -> 1.25, "es" -> 0.75,
          "zh" -> 0.3),
        default = 1.0, seed = 23, hasher = graft.llm.PortableSeededHash)
      .select("doc_id", "lang", "copy_idx")
      .orderBy("doc_id", "copy_idx")

  /** Marker-based language ID with per-language scores. Two-step select:
    * scores materialize once, the argmax CASE reads the columns (not the
    * score subtrees — see TextAnalysis note on interpreted lambdas). */
  def langId(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .select(col("doc_id"), col("lang").as("labeled_lang"),
        TextAnalysis.tokens(col("text")).as("toks"))
      .select(col("doc_id") +: col("labeled_lang") +:
        TextAnalysis.langScoresFromTokens(col("toks"))
          .map { case (n, c) => c.as(n) }: _*)
      .withColumn("predicted", TextAnalysis.langIdFromScores(
        col("s_en"), col("s_de"), col("s_fr"), col("s_es")))
      .orderBy("doc_id")

  /** Quality scoring (length/punct/stopword ratios); components bound
    * once, ratios derived from the columns. */
  def qualityScore(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .select(col("doc_id"), col("text"),
        TextAnalysis.tokens(col("text")).as("toks"))
      .select(col("doc_id") +:
        TextAnalysis.qualityComponentsFromTokens(col("text"), col("toks"))
          .map { case (n, c) => c.as(n) }: _*)
      .select(col("doc_id") +: col("n_tokens") +:
        TextAnalysis.qualityFromComponents(col("n_tokens"), col("n_chars_d"),
          col("punct"), col("stop")).map { case (n, c) => c.as(n) }: _*)
      .orderBy("doc_id")

  /** Token counting (whitespace / BPE-ish regex / chars-per-token). */
  def tokenCount(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .select(col("doc_id") +:
        TextAnalysis.tokenCounts(col("text"), col("n_chars"))
          .map { case (n, c) => c.as(n) }: _*)
      .orderBy("doc_id")

  /** Embedding-cosine near-dup pairs: exact all-pairs ground truth at
    * threshold 0.4 (oracle via list_cosine_similarity); the scale path is
    * the LSH-bucketed variant (q35) whose candidates are verified the same
    * way. */
  def embeddingNearDup(s: SparkSession, dir: String): DataFrame = {
    val e = table(s, dir, "embeddings")
    // the streamed side of the all-pairs BNLJ carries the scan's
    // parallelism — fan it out so the O(n^2) cosines use every core
    val a = graft.llm.Par.fanOutScan(
      e.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a")))
    val b = e.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b"))
    // bind sim to a column before filtering so the O(n²) cosine is
    // evaluated once per pair, not once in the filter and again in the
    // projection
    a.join(b, col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        Similarity.cosine(col("emb_a"), col("emb_b")).as("sim_raw"))
      .where(col("sim_raw") >= 0.4)
      .select(col("vec_a"), col("vec_b"), round(col("sim_raw"), 4).as("sim"))
      .orderBy("vec_a", "vec_b")
  }

  /** Heavy-hitters: Misra-Gries sketch (k=64 counters, bounded memory at
    * any cardinality) over the document token stream, checked against the
    * exact top-10 token counts. Accuracy-flag oracle in the q46/q51b
    * style: the sketch itself is engine-specific, so the gate value-checks
    * the exact counts and asserts the MG guarantee — estimate in
    * [exact - n/(k+1), exact] — which a correct sketch satisfies
    * unconditionally (the flag is provably TRUE, so DuckDB emits literal
    * TRUE). */
  def heavyHitters(s: SparkSession, dir: String): DataFrame = {
    val k = 64
    val tok = table(s, dir, "documents")
      .select(explode(TextAnalysis.tokens(col("text"))).as("term"))
    val sketch = tok.agg(
      org.apache.spark.sql.graft.ColumnBridge.column(
        graft.functions.MisraGriesAgg(
          org.apache.spark.sql.graft.ColumnBridge.expression(col("term")),
          k)).as("sk"),
      count(lit(1)).as("n"))
    val top = tok.groupBy("term").agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("term")).limit(10)
    top.crossJoin(broadcast(sketch))
      .withColumn("est", coalesce(try_element_at(col("sk"), col("term")),
        lit(0L)))
      .select(col("term"), col("exact_cnt"),
        (col("est") <= col("exact_cnt") &&
          col("est") >= col("exact_cnt") - floor(col("n") / (k + 1)))
          .as("within_bound"))
      .orderBy(col("exact_cnt").desc, col("term"))
  }

  /** TF-IDF top-3 terms per document. Scores are rounded to 6 decimals
    * BEFORE ranking so the ordering is identical across engines despite
    * last-ulp log() differences; ties break on the term. */
  def tfidfTopTerms(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = table(s, dir, "documents")
    val tf = docs.select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df_, "term").crossJoin(broadcast(n))
      .withColumn("score",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("term"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= 3)
      .select(col("doc_id"), col("rk"), col("term"), col("tf"),
        col("score"))
      .orderBy("doc_id", "rk")
  }

  /** Document chunking — fixed-size token windows (sequence packing for
    * training): each document explodes into ceil(n_tokens/32) chunks of up
    * to 32 tokens, positionally indexed. Generator + array-slice surface;
    * at scale this is the map-side explode that feeds tokenization, no
    * shuffle at all. */
  def chunkDocs(s: SparkSession, dir: String): DataFrame = {
    val sz = 32
    table(s, dir, "documents")
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        ceil(size(col("toks")) / lit(sz.toDouble)).cast("int").as("n_chunks"))
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), col("n_chunks") - 1),
          i => concat_ws(" ", slice(col("toks"), i * sz + 1, lit(sz)))))
          .as(Seq("chunk_id", "chunk_text")))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        size(split(col("chunk_text"), " ")).cast("long").as("chunk_tokens"),
        col("chunk_text"))
      .orderBy("doc_id", "chunk_id")
  }

  /** Deterministic hash-based dataset split — reproducible train/val/test
    * assignment by a seeded portable hash of the stable document id (NO
    * rand(): retries, re-runs and other engines all agree). The standard
    * leakage-safe alternative to random sampling at 100 TB. */
  def hashSplit(s: SparkSession, dir: String): DataFrame = {
    val bucket = graft.llm.PortableSeededHash.hash(col("doc_id"), 42) % 100
    table(s, dir, "documents")
      .select(col("doc_id"), bucket.as("bucket"))
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val").otherwise("test"))
      .orderBy("doc_id")
  }

  /** PII scrubbing — the redaction pass every training-data pipeline runs
    * before tokenization: emails and URLs replaced by placeholder tokens,
    * with per-document match counts for filtering/audit. Applied to a
    * deterministic synthetic prefix (doc_id-derived email + URL) + the
    * real text, so the patterns provably fire on every row and the oracle
    * value-checks both the counts and the rewritten text. Pure codegen'd
    * regex expressions — runs at scan speed. */
  def piiScrub(s: SparkSession, dir: String): DataFrame = {
    val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val urlRe = "https?://[^ ]+"
    val synth = concat(lit("contact user"), col("doc_id"),
      lit("@example.com or https://site"), col("doc_id"),
      lit(".example.org "), col("text"))
    table(s, dir, "documents")
      .select(col("doc_id"), synth.as("raw"))
      .select(
        col("doc_id"),
        regexp_count(col("raw"), lit(emailRe)).cast("long").as("n_emails"),
        regexp_count(col("raw"), lit(urlRe)).cast("long").as("n_urls"),
        substring(regexp_replace(regexp_replace(col("raw"), emailRe,
          "<EMAIL>"), urlRe, "<URL>"), 1, 80).as("scrubbed_head"))
      .orderBy("doc_id")
  }

  /** Repetition ratio — a standard training-data quality signal:
    * 1 - distinct_ngrams/total_ngrams. */
  def repetitionRatio(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        TextAnalysis.shinglesFromTokens(col("toks"), 3).as("grams"))
      .select(col("doc_id"),
        size(col("grams")).cast("long").as("total_3grams"),
        size(array_distinct(col("grams"))).cast("long").as("distinct_3grams"))
      .withColumn("repetition",
        round(lit(1.0) - col("distinct_3grams").cast("double") /
          col("total_3grams").cast("double"), 4))
      .orderBy("doc_id")

  /** Incremental exact dedup vs the persisted fingerprint index (q213,
    * [[graft.llm.Dedup.writeFingerprintIndex]] /
    * [[graft.llm.Dedup.incrementalExactDedup]]): the 90-slice corpus is
    * fingerprinted into the bucketed index once, then the 10-slice
    * "arriving batch" probes it — each batch doc reports whether its
    * content already exists and under which corpus keeper. The exact
    * tier's build-once/join-every-batch lifecycle (q129 is the same
    * story for near-dup). */
  def incrementalExactDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
    val bucket = graft.llm.PortableSeededHash.hash(col("doc_id"), 42) % 100
    Dedup.writeFingerprintIndex(docs.where(bucket < 90), "q213_index")
    Dedup.incrementalExactDedup(s, docs.where(bucket >= 90), "q213_index")
      .orderBy("doc_id")
  }

  /** Unicode hygiene pass (q212,
    * [[graft.llm.TextAnalysis.unicodeHygiene]]): every document gets a
    * deterministic dirty suffix — decomposed NFD accents, classic
    * UTF-8-as-latin-1 mojibake, a C0 control character, or doubled
    * whitespace — and the cleaning pass must repair all four: NFC
    * composition, the ftfy-style mojibake table, control strip,
    * whitespace collapse. The step-0 pass every dedup fingerprint and
    * tokenizer depends on. */
  def unicodeHygieneReport(s: SparkSession, dir: String): DataFrame = {
    val mode = pmod(col("doc_id"), lit(4L))
    val dirty = concat(col("text"),
      when(mode === 0, lit(" cafe\u0301"))          // NFD e + U+0301
        .when(mode === 1, lit(" caf\u00c3\u00a9")) // mojibake e-acute
        .when(mode === 2, lit(" x\u0007y"))         // BEL control
        .otherwise(lit("  end")))                    // doubled space
    val (cleaned, nMojibake) =
      TextAnalysis.unicodeHygiene(col("dirty"))
    table(s, dir, "documents")
      .select(col("doc_id"), dirty.as("dirty"))
      .select(col("doc_id"),
        (cleaned =!= col("dirty")).as("changed"),
        nMojibake.as("n_mojibake"),
        substring(cleaned, -8, 8).as("tail"))
      .orderBy("doc_id")
  }

  /** Gopher repetition-signal gate (q201,
    * [[graft.llm.TextAnalysis.gopherRepetition]]): the five-signal
    * repetition suite of Rae et al. 2021 Table A1 with the published
    * cuts — the standard companion to the q123 composed web filter
    * (C4/Gopher pipelines run both). q49 reports one distinct-shingle
    * ratio; this is the full per-signal report card. */
  def gopherRepetitionGate(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.gopherRepetition(table(s, dir, "documents"))
      .orderBy("doc_id")

  /** Multimodal plumbing: synth binary column → partition-wise batch
    * "decode" (stub codec, deterministic — oracle re-derives the metadata
    * arithmetically from the text). */
  def multimodalDecode(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeMedia(s,
        Multimodal.withFakeMedia(table(s, dir, "documents")))
      .toDF()
      .orderBy("doc_id")

  /** Multimodal resize (byte-stride) + frame sampling stubs, joined per
    * doc — the remaining media ops of the pipeline (decode is q39). */
  def multimodalResizeFrames(s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.withFakeMedia(table(s, dir, "documents"))
    val resized = Multimodal.resizeMedia(s, media, stride = 3).toDF()
    val frames = Multimodal.sampleFrames(s, media, frameSize = 64, every = 2)
      .toDF().drop("n_bytes")
    resized.join(frames, "doc_id").orderBy("doc_id")
  }

  /** Multimodal feature extraction stub: 16-bucket byte histogram per
    * payload, exploded positionally (posexplode → generator surface). */
  def multimodalFeatures(s: SparkSession, dir: String): DataFrame =
    Multimodal.extractFeatures(s,
        Multimodal.withFakeMedia(table(s, dir, "documents")))
      .toDF()
      .select(col("doc_id"),
        posexplode(col("histogram")).as(Seq("bucket", "cnt")))
      .select(col("doc_id"), col("bucket").cast("long").as("bucket"),
        col("cnt"))
      .orderBy("doc_id", "bucket")

  /** DSIR importance weights (q111,
    * [[graft.llm.Importance.dsirLogRatio]]): every corpus-split document
    * scored by log p_target − log p_raw under hashed unigram+bigram
    * models; the target is the q91/q105 benchmark split, so "does this
    * raw doc look like the target corpus" reuses the established
    * hash-bucket split. */
  def dsirScore(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
    val bucket = graft.llm.PortableSeededHash.hash(col("doc_id"), 42) % 100
    graft.llm.Importance.dsirLogRatio(
        docs.where(bucket < 80), docs.where(bucket >= 90),
        buckets = 1024, seed = 59,
        hasher = graft.llm.PortableSeededHash)
      .orderBy("doc_id")
  }

  /** DSIR importance RESAMPLING (q189): the R the method is named for —
    * q111 computes log importance weights; this executes the selection,
    * drawing a WITHOUT-replacement sample of 64 docs with inclusion
    * probability ∝ the importance ratio via the Gumbel top-k identity
    * (top-k of log wᵢ + Gᵢ ~ sampling ∝ wᵢ without replacement; Vieira
    * 2014). The Gumbel noise Gᵢ = −ln(−ln(uᵢ)) uses uᵢ from the seeded
    * portable hash of doc_id — the q29/q113 no-rand() convention — so
    * the "random" draw is a pure function of the data: reproducible
    * across runs, partitionings and engines, and auditable per doc.
    *
    * Keys are rounded to 4 dp with doc_id tie-break before ranking (the
    * q110/q111 ln measure-zero convention). Scale shape: the q111
    * scoring chain + a sort-limit top-64 (per-partition partial top-k,
    * never a global sort materialization); the rank window runs over
    * the 64 survivors only. */
  def dsirResample(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = table(s, dir, "documents")
    val bucket = graft.llm.PortableSeededHash.hash(col("doc_id"), 42) % 100
    val scored = graft.llm.Importance.dsirLogRatio(
      docs.where(bucket < 80), docs.where(bucket >= 90),
      buckets = 1024, seed = 59, hasher = graft.llm.PortableSeededHash)
    val u = (graft.llm.PortableSeededHash.hash(col("doc_id"), 67)
      .cast("double") + 0.5) /
      lit(1152921504606846976L).cast("double") // 2^60
    val keyed = scored.select(col("doc_id"), col("n_grams"),
      col("log_ratio"),
      round(col("log_ratio") + -log(-log(u)), 4).as("gumbel_key"))
    keyed.orderBy(col("gumbel_key").desc, col("doc_id")).limit(64)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("gumbel_key").desc, col("doc_id"))).cast("long"))
      .orderBy("rk")
  }

  /** Hashed linear quality classifier (q112,
    * [[graft.llm.Importance.hashedLinearLogit]]): fastText-shape
    * inference as a pure scan. Gate weights are a deterministic
    * hash-derived stand-in for a trained vector (one integer per bucket,
    * derived exactly as the oracle re-derives them); the operator takes
    * any caller-trained weights. */
  def linearClassifier(s: SparkSession, dir: String): DataFrame = {
    val weights = Array.tabulate(256) { b =>
      graft.functions.Md5Prefix60.compute(
        org.apache.spark.unsafe.types.UTF8String.fromString(s"77:w$b")) %
        17L - 8L
    }
    graft.llm.Importance.hashedLinearLogit(table(s, dir, "documents"),
        weights, seed = 59, hasher = graft.llm.PortableSeededHash)
      .orderBy("doc_id")
  }

  /** Temperature-scaled mixture sampling (q113,
    * [[graft.llm.Sampling.temperatureSampled]]): α = 0.5 rebalancing of
    * the language mix with data-derived rates (c = 2.5 keeps
    * min(1, 2.5/√n_lang) of each language). */
  def temperatureMixture(s: SparkSession, dir: String): DataFrame =
    graft.llm.Sampling.temperatureSampled(table(s, dir, "documents"),
        col("doc_id"), col("lang"), c = 2.5, alpha = 0.5, seed = 41,
        hasher = graft.llm.PortableSeededHash)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  /** Trained hashed quality classifier (q115,
    * [[graft.llm.Importance.trainLogisticHashed]]): logistic regression
    * trained ON THE CLUSTER over hashed features — target split (y=1)
    * vs raw split (y=0), the q111 corpus split — then every document
    * scored with the trained weights through the q112 scan-shape
    * inference. The quantized-state design makes the whole train+score
    * round bit-exact, so the DuckDB oracle replays the full 3-iteration
    * gradient descent. NOTE: constructing this frame RUNS the training
    * loop (one bounded ≤B-row collect per iteration) — the same
    * documented construction-time-action pattern as AutoRoute's probe. */
  def trainedClassifier(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
    val sb = graft.llm.PortableSeededHash.hash(col("doc_id"), 42) % 100
    val train = docs.where(sb < 80).withColumn("label", lit(0))
      .unionByName(docs.where(sb >= 90).withColumn("label", lit(1)))
    val wts = graft.llm.Importance.trainLogisticHashed(train,
      buckets = 256, iters = 3, lr = 0.5, seed = 59,
      hasher = graft.llm.PortableSeededHash)
    graft.llm.Importance.hashedLinearLogit(docs, wts, seed = 59,
        hasher = graft.llm.PortableSeededHash)
      .orderBy("doc_id")
  }

  /** Classifier evaluation report (q182, [[graft.llm.Importance
    * .aucReport]]): the real ML protocol for the q112/q115 quality-filter
    * family — train the hashed-feature classifier on an 80% hash split
    * with REAL labels (y = length gate, n_chars ≥ 300 — the C4-style
    * length-quality signal, learnable from the token text because the
    * hashed feature count scales with it), then report held-out ROC-AUC + the confusion matrix /
    * precision / recall / F1 at the production `keep = logit > 0`
    * threshold on the 20% the training never saw. The "measure, don't
    * guess" audit the q131 recall report gives the ANN family. One row
    * out; the quantized training + integer rank arithmetic make the
    * whole train→score→evaluate chain replay bit-exactly in SQL.
    *
    * Scale shape: training is q115's (corpus-linear, ≤256-long model on
    * the driver); scoring is the q112 codegen scan; the metric is one
    * histogram shuffle + the q89 two-phase prefix sum (see aucReport). */
  def classifierEval(s: SparkSession, dir: String): DataFrame =
    graft.llm.Importance.aucReport(heldOutScored(s, dir))

  /** The shared q182/q187 evaluation frame: train the hashed classifier
    * on the 80% hash split with length-gate labels, score the 20%
    * held-out → (y, logit). */
  private def heldOutScored(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
    val sb = graft.llm.PortableSeededHash.hash(col("doc_id"), 42) % 100
    val y = (col("n_chars") >= 300L).cast("long")
    val wts = graft.llm.Importance.trainLogisticHashed(
      docs.where(sb < 80).withColumn("label", y),
      buckets = 256, iters = 3, lr = 0.5, seed = 59,
      hasher = graft.llm.PortableSeededHash)
    val logit = graft.llm.Importance.logitCol(col("text"), wts, seed = 59,
      hasher = graft.llm.PortableSeededHash)
    docs.where(sb >= 80).select(y.as("y"), logit.as("logit"))
  }

  /** Classifier calibration report (q187): the reliability diagram that
    * completes q182's ranking audit — AUC says the ORDER is right,
    * calibration says whether the scores MEAN anything as probabilities
    * (a gate thresholded "keep if p > 0.8" needs the latter). Held-out
    * docs are binned by the model's own predicted probability — the
    * training's hard sigmoid at display temperature T = 2^6 weight
    * units (σ̂(m/(W·T)) — the Platt/temperature-scaling knob, fixed
    * here at the scale where held-out margins span the unit interval;
    * at S = 2^20 the whole map stays PURE INTEGER:
    * p̂_fp = clamp(4·(logit >> 6) + 2^19, 0, 2^20), arithmetic shift =
    * floor division in both engines) — into fixed 2^17-wide bins (the
    * exactly-1.0 class keeps its own bin 8); each bin reports count,
    * mean predicted probability and observed positive rate.
    * Well-calibrated ⇒ the two track; the gap pattern (typically
    * over-confidence at the extremes) is what a production threshold
    * must be corrected by.
    *
    * Scale shape: the q112 codegen scoring scan + ONE ≤9-key aggregate
    * with map-side combine. Nothing else. */
  def classifierCalibration(s: SparkSession, dir: String): DataFrame = {
    val phat = least(greatest(
      expr("shiftright(logit, 6)") * 4 + lit(524288L), lit(0L)),
      lit(1048576L))
    heldOutScored(s, dir)
      .select(col("y"), phat.as("phat_fp"))
      .withColumn("bin", expr("phat_fp div 131072"))
      .groupBy("bin").agg(
        count(lit(1)).as("n"),
        round(sum(col("phat_fp")).cast("double") /
          (count(lit(1)).cast("double") * lit(1048576.0)), 4)
          .as("mean_phat"),
        round(sum(col("y")).cast("double") /
          count(lit(1)).cast("double"), 4).as("obs_rate"))
      .orderBy("bin")
  }

  /** HTML boilerplate extraction (q116, [[TextAnalysis.stripHtml]]):
    * every document wrapped in a deterministic synthetic page (script +
    * style payloads, nav/footer chrome, entities — the
    * `withFakeMedia` pattern for markup), then text-extracted by the
    * codegen'd regexp chain. The oracle replays wrap + strip, so the
    * extraction semantics — not just the plumbing — are checked. */
  /** The deterministic synthetic page wrapping `text` — shared by the
    * q116 extraction gate and the q137 WARC crawl staging so both
    * oracles replay ONE wrapper construction. */
  private[queries] def syntheticHtml: org.apache.spark.sql.Column = concat(
    lit("<html><head><title>Doc "), col("doc_id"),
    lit("</title><script type=\"text/javascript\">var t = 1 &amp;&amp; 2;" +
      "</script><style>.nav { color: red; }</style></head><body>" +
      "<div class=\"nav\">Home | About</div><p>"),
    col("text"),
    lit("</p><footer>&amp;copy; 2026</footer></body></html>"))

  def htmlExtract(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .select(col("doc_id"),
        TextAnalysis.stripHtml(syntheticHtml).as("text_clean"))
      .withColumn("n_chars_clean", length(col("text_clean")).cast("long"))
      .orderBy("doc_id")

  /** WARC crawl ingest (q137, [[graft.llm.WebArchive]] over
    * [[graft.llm.WarcCodec]]): the corpus staged as REAL per-record-
    * gzipped multi-record WARC 1.1 `response` files (the Common Crawl
    * container — one gzip member per record, HTTP message payloads),
    * then read back file-parallel through the `binaryFile` scan, record
    * walk, HTTP split, and q116 boilerplate extraction — the complete
    * "crawl archive → clean text" front end of a web-data pipeline in
    * one query. The oracle replays the record framing arithmetic
    * (Content-Length of the reconstructed HTTP message) and the
    * extraction chain, so codec faults, record drops/duplicates, and
    * byte-count errors all hash-mismatch. */
  def warcExtract(s: SparkSession, dir: String): DataFrame = {
    val staged = table(s, dir, "documents")
      .select(col("doc_id"), syntheticHtml.as("html"))
    val tmp = java.nio.file.Files.createTempDirectory("graft-warc").toString
    graft.llm.WebArchive.writeWarc(s, staged, tmp)
    graft.llm.WebArchive.readWarc(s, tmp).toDF()
      .select(col("doc_id"), col("uri"), col("http_status"),
        col("content_length"),
        TextAnalysis.stripHtml(col("html")).as("text_clean"))
      .withColumn("n_chars_clean", length(col("text_clean")).cast("long"))
      .orderBy("doc_id")
  }

  /** CCNet perplexity bucketing (q117,
    * [[graft.llm.LanguageModel.perplexityBuckets]]): head/middle/tail
    * terciles of the q110 LM score via the bounded value-histogram
    * percentile. */
  def perplexityBuckets(s: SparkSession, dir: String): DataFrame =
    graft.llm.LanguageModel.perplexityBuckets(table(s, dir, "documents"))
      .orderBy("doc_id")

  /** Incremental near-dup against a corpus index (q118,
    * [[graft.llm.Dedup.incrementalNearDup]]): the q91 corpus split as
    * "existing index" (its signatures standing in for the persistent
    * signature table) and the benchmark split as the new ingest batch —
    * each new doc flagged against its corpus near-dups without any
    * corpus self-join. */
  def incrementalNearDup(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
    val sb = graft.llm.PortableSeededHash.hash(col("doc_id"), 42) % 100
    val corpusSigs = Dedup.minHashSignatures(docs.where(sb < 80),
      n = 3, k = 16, hasher = graft.llm.PortableSeededHash)
    Dedup.incrementalNearDup(docs.where(sb >= 90), corpusSigs,
        hasher = graft.llm.PortableSeededHash)
      .orderBy("new_doc", "corpus_doc")
  }

  /** Incremental near-dup against a PERSISTED bucketed index (q129,
    * [[graft.llm.Dedup.writeSignatureIndex]] +
    * [[graft.llm.Dedup.incrementalNearDupIndexed]]): the q118 split, but
    * the corpus signature index is written to bucketed parquet tables
    * and the delta joins against the REOPENED tables — the daily-ingest
    * lifecycle (build once, join every batch) rather than q118's
    * build-in-query form. Output is bit-identical to q118 (same oracle);
    * the band join leaves the index side exchange-free (bucketed layout
    * satisfies the join distribution — asserted in DedupSpec). */
  def indexedNearDup(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
    val sb = graft.llm.PortableSeededHash.hash(col("doc_id"), 42) % 100
    val corpusSigs = Dedup.minHashSignatures(docs.where(sb < 80),
      n = 3, k = 16, hasher = graft.llm.PortableSeededHash)
    Dedup.writeSignatureIndex(corpusSigs, "graft_q129_index")
    Dedup.incrementalNearDupIndexed(s, docs.where(sb >= 90),
        "graft_q129_index", hasher = graft.llm.PortableSeededHash)
      .orderBy("new_doc", "corpus_doc")
  }

  /** Deterministic per-epoch training order (q119,
    * [[graft.llm.Sampling.shuffleOrder]]): the global corpus permutation
    * as a two-phase bucket prefix sum — no RNG state, no global
    * window. */
  def shuffleOrder(s: SparkSession, dir: String): DataFrame =
    graft.llm.Sampling.shuffleOrder(table(s, dir, "documents"),
        col("doc_id"), numBuckets = 8, seed = 37,
        hasher = graft.llm.PortableSeededHash)
      .orderBy("id")

  /** Token-unigram Shannon entropy (q120,
    * [[TextAnalysis.tokenEntropy]]): the diversity/repetitiveness
    * quality signal, sorted-fold deterministic. */
  def tokenEntropy(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .withColumn("toks", TextAnalysis.tokens(col("text")))
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"),
        TextAnalysis.tokenEntropy(col("toks")).as("entropy"))
      .orderBy("doc_id")

  /** Composed multi-signal web filter (q123): the C4/Gopher-style
    * cleaning gate a crawl pipeline actually runs — length bounds,
    * language ID, token-entropy floor and the hashed quality classifier,
    * ALL evaluated in one scan (every signal is a Column over the same
    * projected token array; the plan is Project-over-Scan, no joins, no
    * shuffles except the audit orderBy). Audit shape: every document
    * with its signal values, per-rule booleans and the final `keep`. */
  def webFilter(s: SparkSession, dir: String): DataFrame =
    // the gate is md5-gram-heavy per row and otherwise Project-over-Scan
    // — fan the batch entry out of the single-split scan (q140's
    // streaming twin keeps the micro-batch planner's parallelism)
    webFilterAudit(graft.llm.Par.fanOutScan(table(s, dir, "documents")))
      .orderBy("doc_id")

  /** The q123 gate as a frame-in/frame-out Column pipeline — shared by
    * the batch query and the q140 streaming form (every signal is a
    * stateless per-row Column, so the SAME code runs under a stream
    * micro-batch unchanged). */
  /** The q112/q123 fixed classifier weights (hash77('w'||b) % 17 − 8). */
  private[queries] lazy val clfWeights: Array[Long] = Array.tabulate(256) { b =>
    graft.functions.Md5Prefix60.compute(
      org.apache.spark.unsafe.types.UTF8String.fromString(s"77:w$b")) %
      17L - 8L
  }

  private[queries] def webFilterAudit(docs: DataFrame): DataFrame = {
    val weights = clfWeights
    val base = docs
      .withColumn("toks", TextAnalysis.tokens(col("text")))
    val withScores = TextAnalysis.langScoresFromTokens(col("toks"))
      .foldLeft(base) { case (df, (n, c)) => df.withColumn(n, c) }
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("entropy", TextAnalysis.tokenEntropy(col("toks")))
      .withColumn("logit", graft.llm.Importance.logitCol(col("text"),
        weights, seed = 59, hasher = graft.llm.PortableSeededHash))
      .withColumn("pred_lang", TextAnalysis.langIdFromScores(
        col("s_en"), col("s_de"), col("s_fr"), col("s_es")))
    withScores
      .withColumn("pass_len", col("n_tokens").between(10L, 5000L))
      .withColumn("pass_lang", col("pred_lang") === "en")
      .withColumn("pass_entropy", col("entropy") >= 2.0)
      .withColumn("pass_clf", col("logit") > 0L)
      .select(col("doc_id"), col("n_tokens"), col("pred_lang"),
        col("entropy"), col("logit"),
        col("pass_len"), col("pass_lang"), col("pass_entropy"),
        col("pass_clf"),
        (col("pass_len") && col("pass_lang") && col("pass_entropy") &&
          col("pass_clf")).as("keep"))
  }

  /** Quality-signal ensemble ranking (q203): the FineWeb-style move of
    * fusing INDEPENDENT quality signals — the q37 heuristic score, the
    * q120 unigram entropy, the q112 classifier logit — by reciprocal-
    * rank fusion (integer fixed point, the q173/q183 spelling) into one
    * consensus corpus ordering: documents every signal likes rank first,
    * and a "keep the best X tokens" curation reads a prefix of this
    * table instead of trusting any single heuristic's scale.
    *
    * Scale shape: the three signals come from ONE scan (the q123
    * single-pass audit); each global rank is
    * [[graft.llm.Sampling.globalRankDesc]]'s two-phase bin machinery —
    * never a global window, the largest sequential unit is a value bin.
    * Four narrow (id, value) shuffles + tiny bin-offset broadcasts. */
  def qualityEnsemble(s: SparkSession, dir: String): DataFrame = {
    import graft.llm.Sampling
    val base = table(s, dir, "documents")
      .withColumn("toks", TextAnalysis.tokens(col("text")))
    val comps = TextAnalysis
      .qualityComponentsFromTokens(col("text"), col("toks"))
      .foldLeft(base) { case (df, (n, c)) => df.withColumn(n, c) }
    val quality = TextAnalysis.qualityFromComponents(col("n_tokens"),
      col("n_chars_d"), col("punct"), col("stop"))
      .collectFirst { case ("quality", c) => c }.get
    val sig = comps
      .select(col("doc_id"), quality.as("quality"),
        TextAnalysis.tokenEntropy(col("toks")).as("entropy"),
        graft.llm.Importance.logitCol(col("text"), clfWeights,
          seed = 59, hasher = graft.llm.PortableSeededHash).as("logit"))
    def rk(v: org.apache.spark.sql.Column,
           bin: org.apache.spark.sql.Column, name: String) =
      Sampling.globalRankDesc(sig, v, bin, col("doc_id"))
        .select(col("id").as("doc_id"), col("rank").as(name))
    val ranks = sig.select("doc_id")
      .join(rk(col("quality"),
        floor(col("quality") * 100).cast("long"), "q_rank"), "doc_id")
      .join(rk(col("entropy"),
        floor(col("entropy") * 10).cast("long"), "e_rank"), "doc_id")
      .join(rk(col("logit"), expr("logit div 16"), "c_rank"), "doc_id")
      .withColumn("rrf_fp",
        expr("CAST(1000000000 div (60 + q_rank) AS BIGINT)") +
        expr("CAST(1000000000 div (60 + e_rank) AS BIGINT)") +
        expr("CAST(1000000000 div (60 + c_rank) AS BIGINT)"))
    ranks
      .join(Sampling.globalRankDesc(ranks, col("rrf_fp"),
          expr("rrf_fp div 1000000"), col("doc_id"))
        .select(col("id").as("doc_id"), col("rank").as("ens_rank")),
        "doc_id")
      .select("doc_id", "q_rank", "e_rank", "c_rank", "rrf_fp", "ens_rank")
      .orderBy("doc_id")
  }

  /** Weighted sample without replacement (q209,
    * [[graft.llm.Sampling.weightedSample]]): 64 documents drawn with
    * probability proportional to LENGTH (the token-budget-aware audit
    * sample — a uniform sample over-represents short docs relative to
    * their training-token contribution). A-ES keys, bounded top-k, no
    * corpus shuffle. */
  def weightedSampleDocs(s: SparkSession, dir: String): DataFrame =
    graft.llm.Sampling.weightedSample(table(s, dir, "documents"),
        col("doc_id"), col("n_chars"), k = 64)
      .orderBy("rn")

  /** Skyline / Pareto-frontier documents (q207, [[graft.ops.Skyline]]):
    * the documents no other document beats simultaneously on quality,
    * unigram entropy AND length — multi-objective exemplar selection
    * with no axis weighting (q203's fused rank must pick weights; the
    * skyline does not). Fixed-point integer metrics so dominance is
    * exact; the two-phase local-skyline → merge never materializes a
    * pair. */
  def skylineDocs(s: SparkSession, dir: String): DataFrame = {
    val base = table(s, dir, "documents")
      .withColumn("toks", TextAnalysis.tokens(col("text")))
    val comps = TextAnalysis
      .qualityComponentsFromTokens(col("text"), col("toks"))
      .foldLeft(base) { case (df, (n, c)) => df.withColumn(n, c) }
    val quality = TextAnalysis.qualityFromComponents(col("n_tokens"),
      col("n_chars_d"), col("punct"), col("stop"))
      .collectFirst { case ("quality", c) => c }.get
    val sig = comps.select(col("doc_id"),
      round(quality * 10000, 0).cast("long").as("quality_bp"),
      round(TextAnalysis.tokenEntropy(col("toks")) * 10000, 0).cast("long")
        .as("entropy_bp"),
      size(col("toks")).cast("long").as("n_tokens"))
    graft.ops.Skyline.skyline(sig, col("doc_id"),
        Seq(col("quality_bp"), col("entropy_bp"), col("n_tokens")))
      .select(col("id").as("doc_id"), col("m0").as("quality_bp"),
        col("m1").as("entropy_bp"), col("m2").as("n_tokens"))
      .orderBy("doc_id")
  }

  /** End-to-end training MANIFEST (q125): the artifact this library
    * exists to produce — documents pass the composed q123 quality gate,
    * the survivors are temperature-rebalanced across languages (q113's
    * data-derived rates, computed on the KEPT set), and the final
    * selection gets its deterministic epoch order (q119). Output
    * (doc_id, stratum, ord) sorted by ord — hand it to the trainer.
    * Every stage is the already-oracle-checked operator; the oracle
    * chains their replays. */
  def trainingManifest(s: SparkSession, dir: String): DataFrame = {
    // multilingual gate: q123's rules minus the English-only one (the
    // temperature stage then rebalances across the predicted languages)
    val kept = webFilter(s, dir)
      .where(col("pass_len") && col("pass_entropy") && col("pass_clf"))
      .select(col("doc_id"), col("pred_lang"))
    val sampled = graft.llm.Sampling.temperatureSampled(kept,
        col("doc_id"), col("pred_lang"), c = 2.5, alpha = 0.5, seed = 41,
        hasher = graft.llm.PortableSeededHash)
      .where(col("kept"))
      .select(col("id").as("doc_id"), col("stratum"))
    graft.llm.Sampling.shuffleOrder(sampled, col("doc_id"),
        numBuckets = 8, seed = 37, hasher = graft.llm.PortableSeededHash)
      .join(sampled.withColumnRenamed("doc_id", "id"), "id")
      .select(col("id").as("doc_id"), col("stratum"), col("ord"))
      .orderBy("ord")
  }

  /** FULL-pipeline training manifest (q135): q125 with the dedup front
    * half in front — the complete production chain this library exists
    * for. Stage 1 is the q79 corpus pipeline (exact dedup → near-dup
    * cluster drop → quality floor → deterministic split, train split
    * kept); stages 2-4 are the q125 manifest (multilingual quality gate →
    * temperature rebalancing with thresholds derived on the KEPT set →
    * deterministic epoch order). Because the temperature thresholds are
    * data-derived, deduping first genuinely changes the selection — this
    * is not q125 minus some rows, it is the manifest a real pipeline
    * would emit. Output (doc_id, stratum, ord); every stage is an
    * already-oracle-checked operator and the oracle chains their
    * replays. */
  def fullPipelineManifest(s: SparkSession, dir: String): DataFrame = {
    val hasher = graft.llm.PortableSeededHash
    val docs = table(s, dir, "documents")
    val clean = graft.jobs.CorpusPipeline.run(docs, hasher = hasher)
      .where(col("split") === "train")
      .select("doc_id")
    val kept = webFilter(s, dir)
      .join(clean, Seq("doc_id"), "left_semi")
      .where(col("pass_len") && col("pass_entropy") && col("pass_clf"))
      .select(col("doc_id"), col("pred_lang"))
    val sampled = graft.llm.Sampling.temperatureSampled(kept,
        col("doc_id"), col("pred_lang"), c = 2.5, alpha = 0.5, seed = 41,
        hasher = hasher)
      .where(col("kept"))
      .select(col("id").as("doc_id"), col("stratum"))
    graft.llm.Sampling.shuffleOrder(sampled, col("doc_id"),
        numBuckets = 8, seed = 37, hasher = hasher)
      .join(sampled.withColumnRenamed("doc_id", "id"), "id")
      .select(col("id").as("doc_id"), col("stratum"), col("ord"))
      .orderBy("ord")
  }

  /** Product-quantization ANN (q124,
    * [[graft.llm.Similarity.pqTopK]]): 4 subspaces × 8 centroids (12-bit
    * codes), per-subspace fixed-point k-means, ADC search — the full
    * train → encode → search loop, oracle-replayed end to end. */
  def pqTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = table(s, dir, "embeddings")
    Similarity.pqTopK(emb.where(col("vec_id") < 10), emb, k = 5,
        m = 4, dims = 64, numCentroids = 8, iters = 2,
        hasher = graft.llm.PortableSeededHash)
      .orderBy("query_id", "rn")
  }

  /** Int8-quantized cosine top-k (q122,
    * [[graft.llm.Similarity.quantizedTopK]]): the q34 brute-force shape
    * on the 4×-smaller scalar-quantized representation — per-pair work
    * is one integer dot product. */
  def quantizedTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = table(s, dir, "embeddings")
    Similarity.quantizedTopK(emb.where(col("vec_id") < 10), emb, k = 5)
      .select(col("query_id"), col("rn"), col("neighbor_id"),
        round(col("sim"), 4).as("sim"))
      .orderBy("query_id", "rn")
  }

  /** PMI collocation mining (q121,
    * [[graft.llm.LanguageModel.pmiCollocations]]): the word2phrase
    * vocabulary-building pass — top bigrams by pointwise mutual
    * information with a count floor. */
  def pmiCollocations(s: SparkSession, dir: String): DataFrame =
    graft.llm.LanguageModel.pmiCollocations(table(s, dir, "documents"),
      minCount = 5, topK = 50)

  /** Tokenizer-vocabulary training (q128,
    * [[graft.llm.LanguageModel.trainPhrases]]): two word2phrase merge
    * rounds — round 1 promotes the top-PMI bigrams of the raw
    * tokenization, the corpus is greedily re-tokenized (declarative
    * gaps-and-islands merge, no driver actions), round 2 scores the
    * MERGED stream, so its vocabulary can contain phrases-of-phrases.
    * The oracle replays both rounds — counts, cut line, and the greedy
    * re-tokenization windows — in DuckDB. */
  def phraseVocab(s: SparkSession, dir: String): DataFrame =
    graft.llm.LanguageModel.trainPhrases(table(s, dir, "documents"),
        rounds = 2, minCount = 5, topK = 20)
      .orderBy(col("merge_round"), col("pmi").desc, col("w1"), col("w2"))

  /** Count-Min frequency estimation (q114,
    * [[graft.functions.CountMinAgg]]): one global 4×256 sketch over the
    * events user stream, then every user's estimate probed back out of
    * the sketch next to the exact count. width 256 < distinct users, so
    * collisions are REAL and the one-sided error is exercised — the
    * oracle replays the full counter matrix, not just the exact counts. */
  def countMinFrequencies(s: SparkSession, dir: String): DataFrame = {
    val depth = 4; val width = 256; val seed = 101
    val ev = table(s, dir, "events")
      .select(col("user_id").cast("string").as("k"))
    val sketch = ev.agg(
      expr(s"count_min(k, $depth, $width, $seed)").as("cm"))
    val exact = ev.groupBy("k").agg(count(lit(1)).as("exact_n"))
    val est = (0 until depth).map { r =>
      element_at(col("cm"), (lit(r * width) +
        pmod(graft.llm.PortableSeededHash.hash(col("k"), seed + r),
          lit(width.toLong)).cast("int") + 1).cast("int"))
    }.reduce(least(_, _))
    exact.crossJoin(broadcast(sketch))
      .select(col("k").cast("long").as("user_id"), col("exact_n"),
        est.as("est_n"))
      .orderBy("user_id")
  }

  /** Sketch-based join-cardinality estimation (q204, Cormode &
    * Muthukrishnan 2005 §4.2 inner-product queries): |A ⋈ B| on a key
    * equals Σ_k f_A(k)·f_B(k), and the count-min inner product
    * min_r Σ_b cmA(r,b)·cmB(r,b) estimates it one-sidedly (never under,
    * over by ≤ ε·|A|·|B| w.p. 1−δ) — the planner-side join-size probe:
    * at 100 TB each side ships ONE mergeable depth×width matrix from its
    * scan (map-side merged, no key shuffle), and the estimate is pure
    * arithmetic on 2·depth·width longs — consulted before choosing
    * broadcast vs shuffle vs skew-salt for the real join. Here: signups
    * ⋈ other events per user, estimate vs exact. */
  def joinCardinality(s: SparkSession, dir: String): DataFrame = {
    val depth = 4; val width = 256; val seed = 101
    val ev = table(s, dir, "events")
      .select(col("user_id").cast("string").as("k"), col("event_type"))
    val a = ev.where(col("event_type") === "signup")
    val b = ev.where(col("event_type") =!= "signup")
    val cmA = a.agg(expr(s"count_min(k, $depth, $width, $seed)").as("cma"))
    val cmB = b.agg(expr(s"count_min(k, $depth, $width, $seed)").as("cmb"))
    val exact = a.groupBy("k").agg(count(lit(1)).as("fa"))
      .join(b.groupBy("k").agg(count(lit(1)).as("fb")), "k")
      .agg(sum(col("fa") * col("fb")).as("exact_size"))
    val rows = cmA.crossJoin(cmB)
      .select(explode(sequence(lit(0), lit(depth - 1))).as("r"),
        col("cma"), col("cmb"))
      .select(col("r").cast("long").as("r"),
        aggregate(
          zip_with(
            slice(col("cma"), col("r") * width + 1, lit(width)),
            slice(col("cmb"), col("r") * width + 1, lit(width)),
            (x, y) => x * y),
          lit(0L), (acc, v) => acc + v).as("inner_r"))
    rows
      .crossJoin(broadcast(rows.agg(min("inner_r").as("est_size"))))
      .crossJoin(broadcast(exact))
      .select(col("r"), col("inner_r"), col("est_size"), col("exact_size"))
      .orderBy("r")
  }

  /** Self-embedded nearest-document retrieval (q205,
    * [[graft.llm.Similarity.hashedTextEmbedding]]): documents embedded
    * by the engine's own hashed-3-gram × seeded-projection features
    * (integer, model-free), then each of the 5 standard query docs
    * retrieves its cosine top-3 — near-dup twins surface at the top,
    * demonstrating text → vector → ANN without any external model.
    * Integer dots and norms; ranks ordered on the 4-dp rounded sim
    * (the q35 cross-engine convention). */
  def textEmbeddingRetrieval(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = Similarity.hashedTextEmbedding(
      table(s, dir, "documents"), n = 3, buckets = 256, k = 16,
      hasher = graft.llm.PortableSeededHash)
    val norms = emb.groupBy("doc_id")
      .agg(sum(col("v") * col("v")).as("n2"))
    val q = emb.where(col("doc_id") < 5)
      .select(col("doc_id").as("query_id"), col("p"), col("v").as("qv"))
    val dots = emb.join(broadcast(q), "p")
      .where(col("doc_id") =!= col("query_id"))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("v") * col("qv")).as("dot"))
    val sims = dots
      .join(norms.select(col("doc_id"), col("n2").as("c_n2")), "doc_id")
      .join(broadcast(norms
        .where(col("doc_id") < 5)
        .select(col("doc_id").as("query_id"), col("n2").as("q_n2"))),
        "query_id")
      .select(col("query_id"), col("doc_id").as("neighbor_id"),
        round(col("dot") / (sqrt(col("q_n2")) * sqrt(col("c_n2"))), 4)
          .as("sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    sims.withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= 3)
      .select("query_id", "rk", "neighbor_id", "sim")
      .orderBy("query_id", "rk")
  }

  /** q205b — the PRODUCTION leg of q205: the same self-embedded
    * retrieval but with the compiled xx64 positional-shingle kernel
    * ([[graft.functions.PositionalShingles]], the
    * [[graft.llm.Similarity.hashedTextEmbedding]] default — no gram
    * string ever materialized), which is what a user benchmarking
    * "embed my corpus" actually runs. xxhash64 is not DuckDB-replayable,
    * so this leg is oracled by RETRIEVAL LAWS that hold for ANY valid
    * draw of the embedding family (the q18/q18b twin convention, law
    * flavor): with the query doc left IN the corpus —
    *
    *  - `n_results`: every embeddable query retrieves a full top-3;
    *  - `top1_unit`: rank 1 has sim exactly 1.0 (self-similarity of an
    *    integer vector survives 4-dp rounding);
    *  - `dup_recalled`: a query with an exact-TEXT duplicate (identical
    *    token sequence ⇒ identical grams ⇒ identical embedding) must
    *    see a second sim-1.0 row at rank 2;
    *  - `sims_desc` / `sims_bounded`: ranks non-increasing, |sim| ≤ 1.
    *
    * `has_dup` itself is computed from TEXT on both sides, so the
    * oracle row carries data-derived content, not just constants.
    * Numeric parity of the kernel vs the exploded-string spelling is
    * separately pinned by SimilaritySpec's parity witnesses. */
  def textEmbeddingKernelLaws(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = table(s, dir, "documents")
    val emb = Similarity.hashedTextEmbedding(
      docs, n = 3, buckets = 256, k = 16) // XxSeededHash kernel default
    val norms = emb.groupBy("doc_id")
      .agg(sum(col("v") * col("v")).as("n2"))
    val q = emb.where(col("doc_id") < 5)
      .select(col("doc_id").as("query_id"), col("p"), col("v").as("qv"))
    val dots = emb.join(broadcast(q), "p")
      .groupBy("query_id", "doc_id")
      .agg(sum(col("v") * col("qv")).as("dot")) // self INCLUDED
    val sims = dots
      .join(norms.select(col("doc_id"), col("n2").as("c_n2")), "doc_id")
      .join(broadcast(norms
        .where(col("doc_id") < 5)
        .select(col("doc_id").as("query_id"), col("n2").as("q_n2"))),
        "query_id")
      .select(col("query_id"), col("doc_id").as("neighbor_id"),
        round(col("dot") / (sqrt(col("q_n2")) * sqrt(col("c_n2"))), 4)
          .as("sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    val top = sims.withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= 3)
    val hasDup = docs.where(col("doc_id") < 5)
      .select(col("doc_id").as("query_id"), col("text"))
      .join(docs.select(col("doc_id").as("b_id"), col("text")),
        Seq("text"), "left")
      .groupBy("query_id")
      .agg((count(when(col("b_id") =!= col("query_id"), 1)) > 0)
        .as("has_dup"))
    top.groupBy("query_id")
      .agg(count(lit(1)).as("n_results"),
        max(when(col("rk") === 1, col("sim"))).as("s1"),
        max(when(col("rk") === 2, col("sim"))).as("s2"),
        max(when(col("rk") === 3, col("sim"))).as("s3"),
        max(abs(col("sim"))).as("amax"))
      .join(broadcast(hasDup), "query_id")
      .select(col("query_id"), col("n_results"), col("has_dup"),
        (col("s1") === 1.0).as("top1_unit"),
        (!col("has_dup") || col("s2") === 1.0).as("dup_recalled"),
        (col("s1") >= col("s2") && col("s2") >= col("s3")).as("sims_desc"),
        (col("amax") <= 1.0).as("sims_bounded"))
      .orderBy("query_id")
  }

  /** HyperLogLog distinct counting (q168,
    * [[graft.functions.HyperLogLogAgg]]): per-event-type distinct users
    * from a 256-byte register sketch next to the exact count — the
    * distinct-count member of the sketch family (q114 CM frequencies,
    * q66/q86 heavy hitters, q145 KMV). p=8 keeps the ±1.04/√m ≈ 6.5%
    * band real at our cardinalities, exercising the estimator rather
    * than degenerating to exact; the estimate arithmetic (harmonic mean
    * + the small-range linear-counting branch) is plan-side over the
    * register array — the Σ2^−M term computed as an order-free integer
    * sum at fixed point 2^40 — so DuckDB replays registers AND estimate
    * bit-for-bit. The 256-element HOF folds here run once per GROUP, not
    * per row — the interpreted-eval cost the q115 kernel dodges is
    * irrelevant at that cardinality. */
  def hllDistinct(s: SparkSession, dir: String): DataFrame = {
    val ev = table(s, dir, "events")
      .select(col("event_type"), col("user_id").cast("string").as("k"))
    val regs = ev.groupBy("event_type")
      .agg(expr("hll_registers(k, 8, 77)").as("regs"))
    hllFinish(regs, ev)
  }

  /** The m=256 HLL estimator over a (event_type, regs) frame, joined to
    * the exact distinct count — shared by batch q168 and streaming q172
    * (whose oracle is therefore q168's verbatim). */
  private[queries] def hllFinish(regs: DataFrame, ev: DataFrame)
      : DataFrame = {
    val est = regs
      .withColumn("zfp", expr(
        "aggregate(transform(regs, r -> shiftleft(CAST(1 AS BIGINT), " +
          "40 - least(r, 40))), CAST(0 AS BIGINT), (acc, x) -> acc + x)"))
      .withColumn("n_zero_regs",
        expr("CAST(size(filter(regs, r -> r = 0)) AS BIGINT)"))
      .withColumn("e_raw", expr(
        "(0.7213 / (1.0 + 1.079 / 256.0)) * 256.0 * 256.0 * " +
          "1099511627776.0 / CAST(zfp AS DOUBLE)"))
      .withColumn("hll_est", expr(
        "round(CASE WHEN e_raw <= 2.5 * 256.0 AND n_zero_regs > 0 " +
          "THEN 256.0 * ln(256.0 / CAST(n_zero_regs AS DOUBLE)) " +
          "ELSE e_raw END, 4)"))
    val exact = ev.groupBy("event_type")
      .agg(countDistinct(col("k")).as("exact_distinct"))
    est.join(exact, "event_type")
      .select(col("event_type"), col("n_zero_regs"), col("hll_est"),
        col("exact_distinct"))
      .orderBy("event_type")
  }

  /** Host-graph PageRank (q144, [[graft.llm.WebGraph.pageRank]]): the
    * domain-rank table crawl curation gates on (Common Crawl publishes
    * exactly this artifact for its host webgraph). Page-level links are
    * synthesized deterministically — each doc links its source host to
    * `src((doc_id·7+3) mod 20)` — collapsed to the weighted host edge
    * list in ONE corpus-scale aggregation, then 5 fixed-point power
    * iterations over the host frame. All-long arithmetic (Fp = 1e6,
    * truncating division), so the oracle unrolls the same 5 rounds in
    * SQL and matches bit-for-bit. */
  def hostPageRank(s: SparkSession, dir: String): DataFrame = {
    val links = table(s, dir, "documents")
      .select(concat(col("source"), lit(".crawl.example")).as("src_host"),
        concat(lit("src"), pmod(col("doc_id") * 7 + 3, lit(20L)),
          lit(".crawl.example")).as("dst_host"))
    graft.llm.WebGraph.pageRank(
        graft.llm.WebGraph.hostLinkGraph(links), iters = 5)
      .select(col("node").as("host"), col("rank_fp"))
      .orderBy("host")
  }

  /** Host-graph TrustRank (q175, [[graft.llm.WebGraph.trustRank]]): the
    * q144 link graph with the teleport mass concentrated on three
    * hand-trusted hosts — the domain-TRUST table (Gyöngyi et al. 2004)
    * that curation gates on where q144 measures raw prominence; spam
    * islands not reachable from the seeds converge to zero however
    * densely they interlink. */
  def hostTrustRank(s: SparkSession, dir: String): DataFrame = {
    val links = table(s, dir, "documents")
      .select(concat(col("source"), lit(".crawl.example")).as("src_host"),
        concat(lit("src"), pmod(col("doc_id") * 7 + 3, lit(20L)),
          lit(".crawl.example")).as("dst_host"))
    val seeds = s.createDataFrame(
      Seq(Tuple1("src0.crawl.example"), Tuple1("src1.crawl.example"),
        Tuple1("src2.crawl.example"))).toDF("node")
    graft.llm.WebGraph.trustRank(
        graft.llm.WebGraph.hostLinkGraph(links), seeds, iters = 5)
      .select(col("node").as("host"), col("rank_fp").as("trust_fp"),
        col("is_seed"))
      .orderBy("host")
  }

  /** Bottom-k consistent per-domain sample + KMV distinct sketch (q145,
    * [[graft.llm.Sampling.bottomKPerKey]]): the 8 smallest-hash docs of
    * every source — the order- and partitioning-independent reservoir
    * replacement whose per-shard outputs merge by construction — with
    * the per-key KMV distinct estimate off the same k hashes. Portable
    * hash family end-to-end, so sample membership, ranks AND the
    * estimator replay exactly in DuckDB. */
  def bottomKSample(s: SparkSession, dir: String): DataFrame =
    graft.llm.Sampling.bottomKPerKey(
        table(s, dir, "documents").select("doc_id", "source", "n_chars"),
        keyCol = col("source"), idCol = col("doc_id"), k = 8)
      .select(col("source"), col("rn"), col("doc_id"), col("n_chars"),
        col("est_distinct"))
      .orderBy("source", "rn")

  /** Canonical-URL dedup (q147, [[graft.llm.Urls]]): every page is
    * crawled twice under different spellings — case-shifted scheme/host
    * + explicit `:80` + tracking params + shuffled query order on the
    * even doc, fragment + a different tracking param on the odd doc —
    * and rules 1-6 collapse both to one canonical key per page
    * (`page = doc_id div 2`), every 7th page through the empty-path →
    * `/` rule. Pure-Column regex/array ops at scan speed; the only
    * shuffle is the canonical-key group. The oracle replays the
    * spelling synthesis and all six rules in DuckDB. */
  def urlCanonicalDedup(s: SparkSession, dir: String): DataFrame = {
    val page = expr("doc_id div 2")
    val even = pmod(col("doc_id"), lit(2L)) === 0
    val path = when(pmod(page, lit(7L)) === 0, lit(""))
      .otherwise(concat(lit("/p/"), page))
    val raw = concat(
      when(even, lit("HTTP")).otherwise(lit("http")), lit("://"),
      when(even, concat(lit("Src"), pmod(page, lit(20L)),
          lit(".Example.COM:80")))
        .otherwise(concat(lit("src"), pmod(page, lit(20L)),
          lit(".example.com"))),
      path,
      when(even, lit("?b=2&utm_source=news&a=1"))
        .otherwise(lit("?a=1&b=2&fbclid=XYZ#frag")))
    graft.llm.Urls.canonicalDedup(
        table(s, dir, "documents").select(col("doc_id"), raw.as("url_raw")),
        urlCol = col("url_raw"), idCol = col("doc_id"))
      .select("doc_id", "url_raw", "url_canon", "keep_id", "n_spellings")
      .orderBy("doc_id")
  }

  /** Host-blocklist URL gate (q198, [[graft.llm.Urls.blocklistFilter]]):
    * every page gets a deterministic host spelling across three shapes
    * (bare domain / cdn. subdomain / ads.trackerN.adnet.net), filtered
    * against a three-rule blocklist with domain-SUFFIX semantics — the
    * registrable-domain rule catches its subdomain spellings, the exact
    * host rule catches bare + cdn variants, and one rule matches
    * nothing (a live blocklist is mostly misses). */
  def urlBlocklist(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val hostnum = pmod(col("doc_id"), lit(20L))
    val trk = pmod(col("doc_id"), lit(5L))
    val m3 = pmod(col("doc_id"), lit(3L))
    val host = when(m3 === 0,
        concat(lit("src"), hostnum, lit(".example.com")))
      .when(m3 === 1,
        concat(lit("cdn.src"), hostnum, lit(".example.com")))
      .otherwise(concat(lit("ads.tracker"), trk, lit(".adnet.net")))
    val rules = Seq("tracker3.adnet.net", "src7.example.com",
      "ads.src1.example.com").toDF("rule")
    graft.llm.Urls.blocklistFilter(
        table(s, dir, "documents").select(col("doc_id"), host.as("host")),
        hostCol = col("host"), idCol = col("doc_id"), rules = rules)
      .select("doc_id", "host", "blocked", "rule")
      .orderBy("doc_id")
  }

  /** Cross-domain content similarity via bottom-k sketch intersection
    * (q152): which sources publish similar VOCABULARY — the domain-level
    * near-duplicate radar (template farms, mirrored sites, syndication
    * clusters) that runs where pairwise document comparison can't. Per
    * source, the k=64 smallest word hashes (the q145 machinery over
    * words instead of ids); for every source pair, the Mash/bottom-k
    * Jaccard estimator (Ondov et al. 2016; Cohen & Kaplan 2007):
    * J ≈ |bottom_k(A ∪ B) ∩ A ∩ B| / k, computed with pure array
    * functions over the two ≤k lists. The corpus-scale pass is ONE
    * distinct + rank-k per source; the pair stage touches only
    * 20·64-long sketches — at web scale, 10^8 hosts' sketches are a
    * fraction of one executor's scan, which is the entire point of
    * sketching the comparison. Integer end-to-end → exact oracle. */
  def sourceSimilarity(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = 64
    val words = table(s, dir, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .where(col("w") =!= "")
      .distinct()
      // sketch coordinates are the HASHES; dedup on (source, h) so the
      // rank order is unique on h alone and both engines' intersect
      // semantics see distinct elements
      .select(col("source"),
        graft.llm.PortableSeededHash.hash(col("w"), 52).as("h"))
      .distinct()
    val sk = words
      .withColumn("rn", row_number().over(
        Window.partitionBy("source").orderBy(col("h"))))
      .where(col("rn") <= k)
      .groupBy("source").agg(sort_array(collect_list(col("h"))).as("hs"))
    val pairs = sk.select(col("source").as("src_a"), col("hs").as("ha"))
      .join(sk.select(col("source").as("src_b"), col("hs").as("hb")),
        col("src_a") < col("src_b"))
    pairs.select(col("src_a"), col("src_b"),
        size(array_intersect(
          slice(array_sort(array_union(col("ha"), col("hb"))), 1, k),
          array_intersect(col("ha"), col("hb")))).as("hits"))
      .withColumn("jaccard_est", round(col("hits") / k, 4))
      .orderBy("src_a", "src_b")
  }

  /** BM25 lexical retrieval (q166, [[graft.llm.Retrieval.bm25TopK]]):
    * top-5 documents per query under the Okapi/Lucene BM25 ranking
    * function — the sparse leg of a retrieval stack next to the dense ANN
    * family (q35/q131). The query set derives deterministically from the
    * corpus (the four lowest doc_ids' first five tokens), so both engines
    * rank the same searches; scores are integer sums of fixed-point
    * per-term contributions — order-free, bit-identical cross-engine. */
  def bm25Retrieval(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
    val queries = docs.orderBy("doc_id").limit(4)
      .select(col("doc_id").as("query_id"),
        slice(TextAnalysis.tokens(col("text")), 1, 5).as("qterms"))
    Retrieval.bm25TopK(docs, queries, k = 5)
      .orderBy("query_id", "rk")
  }

  /** kNN label propagation (q167, [[graft.llm.WebGraph.labelPropagate]]
    * over [[graft.llm.Similarity.knnGraph]]): semi-supervised labeling —
    * a fifth of the corpus keeps its true `label` as seeds (deterministic
    * `vec_id % 5` selection), three synchronous propagation rounds push
    * labels along the kNN edges with rounded-cosine fixed-point weights,
    * and the output grades every labeled node against its held-out true
    * label. The graph analogue of the q112/q115 classifier surface:
    * labels flow through embedding-space structure instead of a trained
    * model, the standard curation move when labeled data is scarce. */
  def knnLabelPropagation(s: SparkSession, dir: String): DataFrame = {
    val emb = table(s, dir, "embeddings")
    val g = Similarity.knnGraph(emb, k = 5, tables = 4, planesPerTable = 8,
      hasher = graft.llm.PortableSeededHash)
    val edges = g.select(col("src"), col("dst"),
      round(col("sim") * 10000, 0).cast("long").as("w"))
    val seeds = emb.where(col("vec_id") % 5 === 0)
      .select(col("vec_id"), col("label").cast("long").as("lab"))
    graft.llm.WebGraph.labelPropagate(edges, seeds, rounds = 3)
      .join(emb.select(col("vec_id"),
        col("label").cast("long").as("label_true")), "vec_id")
      .select(col("vec_id"), col("lab").as("label_hat"),
        (col("vec_id") % 5 === 0).as("is_seed"), col("label_true"),
        (col("lab") === col("label_true")).as("correct"))
      .orderBy("vec_id")
  }

  /** BM25 search off the PERSISTED index (q171,
    * [[graft.llm.Retrieval.writeBm25Index]]/`bm25SearchIndexed`): the
    * q166 search run against bucketed index tables — build-once/
    * search-every-batch, the q129/q142 lifecycle for lexical search.
    * Same oracle as q166: the index roundtrip must be invisible. */
  def bm25Indexed(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
    Retrieval.writeBm25Index(docs, "graft_bm25_idx")
    val queries = docs.orderBy("doc_id").limit(4)
      .select(col("doc_id").as("query_id"),
        slice(TextAnalysis.tokens(col("text")), 1, 5).as("qterms"))
    Retrieval.bm25SearchIndexed(s, queries, "graft_bm25_idx", k = 5)
      .orderBy("query_id", "rk")
  }

  /** Binary sign-bit Hamming ANN (q170,
    * [[graft.llm.Similarity.hammingTopK]]): top-5 by Hamming distance
    * over 60-bit hyperplane signatures — the 8-byte-per-vector leg of
    * the ANN family (vs q122's 64 B int8, q124's 12-bit PQ codes), with
    * the exact-cosine re-rank seam on the winners. Integer end-to-end:
    * signatures, xor popcounts and ranks all replay exactly. */
  def hammingAnn(s: SparkSession, dir: String): DataFrame =
    Similarity.hammingTopK(table(s, dir, "embeddings"), k = 5,
        planes = 60, nQueries = 10,
        hasher = graft.llm.PortableSeededHash)
      .orderBy("query_id", "rk")

  /** Reciprocal-rank-fusion ANN ensemble (q173, Cormack et al. 2009):
    * the binary-Hamming leg (q170) and the int8-SQ leg (q122) each
    * produce a top-10 candidate list per query; RRF fuses them with
    * score Σ_legs 10⁹ div (60 + rank) — INTEGER division on integer
    * ranks, so the fused score is exact and order-free — and re-ranks
    * to a consensus top-5. The standard ensemble move when single
    * approximate legs miss different neighbors (q131 measures exactly
    * that per-leg recall gap); at 100 TB both legs run over compressed
    * representations (8 B signatures / 64 B int8 codes) and only ≤10·q
    * candidate rows per leg reach the fusion join. */
  def rrfFusion(s: SparkSession, dir: String): DataFrame = {
    val emb = table(s, dir, "embeddings")
    val ham = Similarity.hammingTopK(emb, k = 10, planes = 60,
        nQueries = 10, hasher = graft.llm.PortableSeededHash)
      .select(col("query_id"), col("neighbor_id"),
        col("rk").as("ham_rank"))
    val sq = Similarity.quantizedTopK(emb.where(col("vec_id") < 10),
        emb, 10)
      .select(col("query_id"), col("neighbor_id"),
        col("rn").as("sq_rank"))
    val fused = ham.join(sq, Seq("query_id", "neighbor_id"), "full_outer")
      .select(col("query_id"), col("neighbor_id"),
        col("ham_rank"), col("sq_rank"),
        (when(col("ham_rank").isNotNull,
            expr("CAST(1000000000 div (60 + ham_rank) AS BIGINT)"))
          .otherwise(lit(0L)) +
         when(col("sq_rank").isNotNull,
            expr("CAST(1000000000 div (60 + sq_rank) AS BIGINT)"))
          .otherwise(lit(0L))).as("rrf_fp"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("rrf_fp").desc, col("neighbor_id"))
    fused.withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= 5)
      .select(col("query_id"), col("rk"), col("neighbor_id"),
        col("rrf_fp"),
        coalesce(col("ham_rank"), lit(0L)).as("ham_rank"),
        coalesce(col("sq_rank"), lit(0L)).as("sq_rank"))
      .orderBy("query_id", "rk")
  }

  /** Hybrid dense+lexical retrieval (q183): the production hybrid-search
    * shape — a BM25 lexical leg (q166) and an exact-cosine dense leg
    * over the SAME corpus id space, each top-10 per query, fused by
    * reciprocal-rank fusion (Cormack et al. 2009) into a consensus
    * top-5. This is the ensemble that covers both failure modes: BM25
    * misses paraphrases (no term overlap), dense misses rare exact
    * terms — RRF needs only ranks, so the legs' incomparable scores
    * (fixed-point BM25 vs basis-point cosine) never meet.
    *
    * Determinism: BM25 scores are integer fixed-point sums (q166),
    * dense sims are quantized to integer basis points up front (the
    * q180 convention — DuckDB's float32 cosine is cast to DOUBLE[] on
    * the oracle side so 4-dp quantization agrees to double ulp), and
    * the fusion is integer division on integer ranks — so every rank,
    * fused score and cut replays exactly.
    *
    * Scale shape: the lexical leg is the q166 postings probe (at scale,
    * against the q171 persisted index); the dense leg is the q34
    * broadcast-queries scan (at scale, any ANN leg slots in — RRF only
    * consumes ranks); the fusion join touches ≤ 2·10·q candidate rows.
    * Nothing corpus-sized crosses the wire after the two legs' top-k. */
  def hybridRetrieval(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = table(s, dir, "documents")
    val emb = table(s, dir, "embeddings")
    val queries = docs.orderBy("doc_id").limit(4)
      .select(col("doc_id").as("query_id"),
        slice(TextAnalysis.tokens(col("text")), 1, 5).as("qterms"))
    val lex = Retrieval.bm25TopK(docs, queries, k = 10)
      .select(col("query_id"), col("doc_id"), col("rk").as("bm25_rank"))
    val dq = emb.where(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val ds = emb.join(broadcast(dq), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("doc_id"),
        round(round(Similarity.cosine(col("q_emb"), col("embedding")), 4)
          .cast("double") * 10000, 0).cast("long").as("sim_bp"))
    val wd = Window.partitionBy("query_id")
      .orderBy(col("sim_bp").desc, col("doc_id"))
    val dense = ds.withColumn("dense_rank", row_number().over(wd)
        .cast("long"))
      .where(col("dense_rank") <= 10)
      .select("query_id", "doc_id", "dense_rank")
    val fused = lex.join(dense, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"), col("bm25_rank"),
        col("dense_rank"),
        (coalesce(expr("CAST(1000000000 div (60 + bm25_rank) AS BIGINT)"),
          lit(0L)) +
         coalesce(expr("CAST(1000000000 div (60 + dense_rank) AS BIGINT)"),
          lit(0L))).as("rrf_fp"))
    val wf = Window.partitionBy("query_id")
      .orderBy(col("rrf_fp").desc, col("doc_id"))
    fused.withColumn("rk", row_number().over(wf).cast("long"))
      .where(col("rk") <= 5)
      .select(col("query_id"), col("rk"), col("doc_id"), col("rrf_fp"),
        coalesce(col("bm25_rank"), lit(0L)).as("bm25_rank"),
        coalesce(col("dense_rank"), lit(0L)).as("dense_rank"))
      .orderBy("query_id", "rk")
  }

  /** Tokenizer vocabulary-coverage curve (q184, [[graft.llm
    * .LanguageModel.vocabCoverage]]): corpus token-occurrence coverage
    * at candidate vocabulary sizes over the unigram+bigram merge space —
    * the sizing report a q128-style vocabulary trainer reads the knee
    * from. One type-count shuffle; the curve itself runs on the count
    * HISTOGRAM (types with equal count are interchangeable, so no
    * per-type ranking exists anywhere). */
  def vocabCoverageCurve(s: SparkSession, dir: String): DataFrame =
    graft.llm.LanguageModel.vocabCoverage(table(s, dir, "documents"))

  /** k-means cluster-separation audit (q185, [[graft.llm.Similarity
    * .clusterSeparation]]): per-cluster membership-confidence report
    * over the q77 training — centroid-silhouette margins in integer
    * basis points, the clustering-quality counterpart of the q131 ANN
    * recall and q182 classifier reports. */
  def kmeansSeparation(s: SparkSession, dir: String): DataFrame =
    Similarity.clusterSeparation(table(s, dir, "embeddings"),
      k = 8, iters = 2, hasher = graft.llm.PortableSeededHash)

  /** LSH bucket-occupancy audit (q186, [[graft.llm.Similarity
    * .lshBucketAudit]]): per-table bucket histogram stats, the exact
    * candidate-pair cost of the collision self-join, and the
    * integer-log2 planes recommendation for a target bucket size — the
    * measured version of the "planes grow as log2(n/target)" dial the
    * q138 Scaladoc names. */
  def lshBucketAudit(s: SparkSession, dir: String): DataFrame =
    Similarity.lshBucketAudit(table(s, dir, "embeddings"),
      tables = 4, planesPerTable = 8, targetBucket = 16,
      hasher = graft.llm.PortableSeededHash)

  /** Data-drift monitor via the population stability index (q192): the
    * report a production ingest runs on every incoming batch — bin a
    * monitored signal (here document length, `n_chars div 64`), compare
    * the batch's bin shares against the reference corpus, and emit the
    * per-bin PSI contribution (p−q)·ln(p/q). PSI > 0.1 is the classic
    * "distribution moved, investigate before training on it" alarm
    * (banking scorecard heritage, same rule used for feature drift in
    * ML monitoring). The splits here are the established 80/20 hash
    * slices, so the expected reading is "no drift" — the operator's
    * value is the machinery, verified end to end.
    *
    * Determinism: integer bins and counts; add-one smoothing removes
    * zero cells; p, q and the contribution are spelled as the identical
    * IEEE expression both engines evaluate, emitted ×10⁴ at 4 dp.
    *
    * Scale shape: one bin-count aggregate per side (map-side combine,
    * ≤bins rows out), a full-outer bin join and two 1-row broadcast
    * total frames — nothing corpus-sized after the scans. */
  def driftPsi(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
    val sb = graft.llm.PortableSeededHash.hash(col("doc_id"), 42) % 100
    val bin = expr("n_chars div 64")
    def hist(side: DataFrame, cnt: String) =
      side.select(bin.as("bin")).groupBy("bin")
        .agg(count(lit(1)).as(cnt))
    val joined = hist(docs.where(sb < 80), "c_ref")
      .join(hist(docs.where(sb >= 80), "c_cur"), Seq("bin"), "full_outer")
      .select(col("bin"), coalesce(col("c_ref"), lit(0L)).as("c_ref"),
        coalesce(col("c_cur"), lit(0L)).as("c_cur"))
    val tot = joined.agg(sum(col("c_ref")).as("n_ref"),
      sum(col("c_cur")).as("n_cur"), count(lit(1)).as("n_bins"))
    val p = (col("c_ref") + 1).cast("double") /
      (col("n_ref") + col("n_bins")).cast("double")
    val q = (col("c_cur") + 1).cast("double") /
      (col("n_cur") + col("n_bins")).cast("double")
    joined.crossJoin(broadcast(tot))
      .select(col("bin"), col("c_ref"), col("c_cur"),
        round(p, 4).as("p_ref"), round(q, 4).as("p_cur"),
        round((p - q) * (log(p) - log(q)) * 10000, 4).as("psi_x1e4"))
      .orderBy("bin")
  }

  /** Packed training batches (q191, [[graft.llm.Sampling
    * .packedBatches]]): q89's assignment materialized into the actual
    * 512-token sequences with document-start boundary offsets — the
    * artifact a training loader memory-maps. */
  def packedBatches(s: SparkSession, dir: String): DataFrame =
    graft.llm.Sampling.packedBatches(table(s, dir, "documents"),
        budget = 512, numBuckets = 8, seed = 29,
        hasher = graft.llm.PortableSeededHash)
      .orderBy("seq_id")

  /** Fill-in-the-middle corpus transform (q190, [[graft.llm.Sampling
    * .fimTransform]]): half the corpus rewritten into
    * `<PRE> … <SUF> … <MID> …` PSM order with seeded-hash cut points —
    * the infilling-data recipe next to q188's span corruption. Pure
    * scan, zero shuffles. */
  def fimPairs(s: SparkSession, dir: String): DataFrame =
    graft.llm.Sampling.fimTransform(table(s, dir, "documents"),
        fimPct = 50, seed = 63, hasher = graft.llm.PortableSeededHash)
      .orderBy("doc_id")

  /** T5 span-corruption pair generation (q188, [[graft.llm.Sampling
    * .spanCorruption]]): every document rendered as a denoising
    * (input, target) training pair with seeded-hash mask coins and
    * numbered sentinels — the last transform before the trainer. */
  def spanCorruptionPairs(s: SparkSession, dir: String): DataFrame =
    graft.llm.Sampling.spanCorruption(table(s, dir, "documents"),
        ratePct = 15, seed = 61, hasher = graft.llm.PortableSeededHash)
      .orderBy("doc_id")

  /** Mutual-kNN clustering coefficient (q174,
    * [[graft.llm.WebGraph.clusteringCoefficient]] over
    * [[graft.llm.Similarity.knnGraph]]'s mutual edges): per-node
    * triangle counts and local clustering coefficient on the semantic
    * neighborhood graph — the density signal next to q141's components
    * (dense clumps score high; hubs/bridges near zero). Exact integer
    * triangles, 4-dp coefficient, fully replayed. */
  def knnClusteringCoeff(s: SparkSession, dir: String): DataFrame = {
    val g = Similarity.knnGraph(table(s, dir, "embeddings"), k = 5,
      tables = 4, planesPerTable = 8,
      hasher = graft.llm.PortableSeededHash)
    val mutual = g.where(col("mutual") && col("src") < col("dst"))
      .select(col("src").as("x"), col("dst").as("y"))
    graft.llm.WebGraph.clusteringCoefficient(mutual)
      .orderBy("node")
  }

  /** Quality-aware dedup keeper (q176): within each NORMALIZED duplicate
    * group (the q92 case/punct/whitespace-variant key), keep the
    * highest-QUALITY copy (q37's score; ties to the lower doc_id) —
    * real pipelines keep the cleanest copy, not the lowest id. The
    * planted variants (upper-cased, bang-suffixed twins, the q92
    * corpus) score strictly worse than their originals, so the keeper
    * choice is exercised, not vacuous. One fingerprint shuffle + a
    * per-group rank window — exactly q30's scale shape with an argmax
    * instead of a min. */
  def qualityKeeperDedup(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = table(s, dir, "documents").select("doc_id", "text")
    val docs = base.unionByName(base.select(
      (col("doc_id") + 100000).as("doc_id"),
      concat(upper(col("text")), lit(" !!")).as("text")))
    val comps = docs
      .select(col("doc_id"), col("text"),
        TextAnalysis.tokens(col("text")).as("toks"))
      .select(col("doc_id") +: col("text") +:
        TextAnalysis.qualityComponentsFromTokens(col("text"), col("toks"))
          .map { case (n, c) => c.as(n) }: _*)
    val scored = comps.select(col("doc_id"),
      md5(TextAnalysis.normalizeForDedup(col("text"))).as("fp"),
      TextAnalysis.qualityFromComponents(col("n_tokens"), col("n_chars_d"),
        col("punct"), col("stop")).toMap.apply("quality").as("quality"))
    val w = Window.partitionBy("fp")
      .orderBy(col("quality").desc, col("doc_id"))
    val ranked = scored.withColumn("rk", row_number().over(w))
    val keepers = ranked.where(col("rk") === 1)
      .select(col("fp"), col("doc_id").as("keeper_id"))
    val counts = scored.groupBy("fp").agg(count(lit(1)).as("n_copies"))
    scored.join(keepers, "fp").join(counts, "fp")
      .select(col("doc_id"), col("fp"), col("quality"), col("keeper_id"),
        (col("doc_id") === col("keeper_id")).as("is_keeper"),
        col("n_copies"))
      .orderBy("doc_id")
  }

  /** Corpus n-gram novelty (q177): per document, the fraction of its
    * DISTINCT 3-gram shingles that occur in NO other document — the
    * originality/memorization-risk signal on the near-dup continuum
    * (df=1 grams are text nobody else wrote; boilerplate-heavy docs
    * score near 0). One gram-df count shuffle + a per-doc conditional
    * aggregate — corpus-linear, exactly the posting shape q31/q106
    * already carry; docs shorter than 3 tokens have no grams and are
    * absent (mirrored in the oracle). */
  def ngramNovelty(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
    val gd = docs.select(col("doc_id"),
        explode(TextAnalysis.distinctShinglesFromTokens(col("toks"), 3))
          .as("g"))
    val df_ = gd.groupBy("g").agg(count(lit(1)).as("df"))
    gd.join(df_, "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("df") === 1, 1)).as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        round(col("n_novel") / col("n_grams"), 4).as("novelty"))
      .orderBy("doc_id")
  }

  /** Anchor-link extraction → host link graph (q178): the missing tier
    * between HTML text extraction (q116) and the host-graph analytics
    * (q144/q175) — pages carry real `&lt;a href&gt;` anchors, the
    * extractor pulls every anchor TAG with a codegen regexp, splits
    * href/anchor-text per tag, recovers the target host with
    * `parse_url`, and collapses to the weighted host edge list with the
    * lexicographically-first anchor text per edge (anchor text being
    * the classic relevance signal riding the link). Scan-speed regexp
    * chain + ONE (src,dst) count shuffle — the q144 ingest shape with
    * extraction made real. */
  def anchorLinkGraph(s: SparkSession, dir: String): DataFrame = {
    val d1 = pmod(col("doc_id") * 7 + 3, lit(20L))
    val d2 = pmod(col("doc_id") * 11 + 5, lit(20L))
    val pages = table(s, dir, "documents").select(
      concat(col("source"), lit(".crawl.example")).as("src_host"),
      concat(syntheticHtml,
        lit("<a href=\"http://src"), d1,
        lit(".crawl.example/page/"), col("doc_id"), lit("\">see src"),
        d1, lit("</a><a href=\"http://src"), d2,
        lit(".crawl.example/ref\">ref src"), d2, lit("</a>")).as("html"))
    val tags = pages.select(col("src_host"),
      explode(expr(
        """regexp_extract_all(html, '<a href="[^"]+">[^<]*</a>', 0)"""))
        .as("tag"))
    val links = tags.select(col("src_host"),
      parse_url(regexp_extract(col("tag"), "<a href=\"([^\"]+)\"", 1),
        lit("HOST")).as("dst_host"),
      regexp_extract(col("tag"), ">([^<]*)</a>", 1).as("anchor"))
    links.groupBy("src_host", "dst_host")
      .agg(count(lit(1)).as("n_links"), min(col("anchor")).as("top_anchor"))
      .orderBy("src_host", "dst_host")
  }

  /** Corpus DATASHEET (q179, Gebru et al. 2021 "Datasheets for
    * Datasets"): the one-row corpus report card a data team publishes
    * with a release — volume (docs/tokens), length distribution
    * (mean/p50/p95), language mix (count + dominant language and its
    * share), exact-duplicate rate, and mean quality. Every number is a
    * deterministic composition of already-oracled signals; the one
    * float-sum hazard (mean quality over doubles) is dodged by summing
    * the 4-dp scores at integer fixed point 10⁴ — order-free — and
    * dividing once at the end. Three tiny aggregates + a 1-row join:
    * corpus-linear, the cheapest query in the library per byte scanned. */
  def corpusDatasheet(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
    val base = docs.select(col("doc_id"), col("lang"),
      size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"),
      md5(col("text")).as("fp"))
    val core = base.agg(
      count(lit(1)).as("n_docs"),
      sum("n_tokens").as("total_tokens"),
      round(avg(col("n_tokens")), 4).as("mean_tokens"),
      round(expr("percentile(n_tokens, 0.5)"), 4).as("p50_tokens"),
      round(expr("percentile(n_tokens, 0.95)"), 4).as("p95_tokens"),
      countDistinct(col("lang")).as("n_langs"),
      countDistinct(col("fp")).as("n_unique"))
    val top = base.groupBy("lang").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("lang")).limit(1)
      .select(col("lang").as("top_lang"), col("c"))
    val comps = docs
      .select(col("doc_id"), col("text"),
        TextAnalysis.tokens(col("text")).as("toks"))
      .select(col("doc_id") +: col("text") +:
        TextAnalysis.qualityComponentsFromTokens(col("text"), col("toks"))
          .map { case (n, c) => c.as(n) }: _*)
    val mq = comps.select(
        round(TextAnalysis.qualityFromComponents(col("n_tokens"),
          col("n_chars_d"), col("punct"), col("stop"))
          .toMap.apply("quality") * 10000, 0).cast("long").as("qfp"))
      .agg(sum("qfp").as("qsum"), count(lit(1)).as("qn"))
    core.crossJoin(top).crossJoin(mq).select(
      col("n_docs"), col("total_tokens"), col("mean_tokens"),
      col("p50_tokens"), col("p95_tokens"), col("n_langs"),
      col("top_lang"),
      round(col("c") / col("n_docs"), 4).as("top_lang_frac"),
      col("n_unique"),
      round(lit(1.0) - col("n_unique") / col("n_docs"), 4).as("dup_rate"),
      round(col("qsum") / (lit(10000.0) * col("qn")), 4)
        .as("mean_quality"))
  }

  /** Contrastive TRIPLET mining (q180): for each of 50 anchor vectors,
    * emit (anchor, positive, hard-negative) — positive = the exact
    * nearest neighbor, negative = the highest-similarity candidate at
    * least a 0.05 rounded-cosine margin BELOW the positive (and above a
    * 0.10 floor so it stays informative) — the training-pair dataset a
    * contrastive embedding run consumes (DPR/SimCSE recipe; q156 mines
    * the negative band alone, this assembles full triplets with the
    * margin constraint enforced, sim(a,p) > sim(a,n) by construction).
    * One broadcast-anchors scoring scan feeds BOTH rank windows; all
    * comparisons on 4-dp rounded cosines, so the triplet set is
    * bit-identical cross-engine. */
  def contrastiveTriplets(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = table(s, dir, "embeddings")
    val anchors = emb.where(col("vec_id") < 50)
      .select(col("vec_id").as("anchor_id"), col("embedding").as("q_emb"))
    // similarity in integer BASIS POINTS from the start: the margin
    // constraint compares sims against a data-derived boundary
    // (pos − 0.05), and a 4-dp-quantized sim lands EXACTLY on it
    // whenever a margin is exactly 500 bp — where double (engine) and
    // float32 (DuckDB list_cosine_similarity) representations order
    // differently. Integers have no boundary to sit on.
    val scored = emb.join(broadcast(anchors),
        col("vec_id") =!= col("anchor_id"))
      .select(col("anchor_id"), col("vec_id").as("cand_id"),
        round(round(Similarity.cosine(col("q_emb"), col("embedding")), 4)
          .cast("double") * 10000, 0).cast("long").as("sim_bp"))
    val w = Window.partitionBy("anchor_id")
      .orderBy(col("sim_bp").desc, col("cand_id"))
    val pos = scored.withColumn("rk", row_number().over(w))
      .where(col("rk") === 1)
      .select(col("anchor_id"), col("cand_id").as("positive_id"),
        col("sim_bp").as("pos_sim_bp"))
    scored.join(pos, "anchor_id")
      .where(col("sim_bp") <= col("pos_sim_bp") - 500 &&
        col("sim_bp") >= 1000)
      .withColumn("nrk", row_number().over(w))
      .where(col("nrk") === 1)
      .select(col("anchor_id"), col("positive_id"), col("pos_sim_bp"),
        col("cand_id").as("negative_id"), col("sim_bp").as("neg_sim_bp"),
        (col("pos_sim_bp") - col("sim_bp")).as("margin_bp"))
      .orderBy("anchor_id")
  }

  /** The q181 blocked-phrase dictionary, in BINARY-SORTED order (the
    * automaton emits matches in this order; the oracle's `list_filter`
    * keeps literal-list order, so the two agree by construction). The set
    * deliberately exercises the automaton's hard paths: "batch batch" is
    * a prefix of "batch batch batch" (nested outputs at one end state's
    * suffix chain), "ow jo" sits INSIDE "low joi" (suffix-link output
    * while a longer partial match is alive), and the two-word phrases
    * cross token boundaries, which no per-token gate can see. */
  private[graft] val blockedPhrases: Seq[String] = Seq(
    "batch batch", "batch batch batch", "big slow", "data line", "dup",
    "fast key", "low joi", "merge data", "ow jo", "slow join",
    "stream spark", "table scan", "the fast", "window window")

  /** Blocked-phrase content gate (q181): the C4/RefinedWeb badword filter
    * as ONE compiled Aho–Corasick pass per row
    * ([[graft.functions.MultiContains]]) — flat in dictionary size where
    * the naive gate (and the oracle) pays one `contains` scan per term.
    * Pure Project over the scan, no shuffle but the final presentation
    * sort; at 100 TB this is scan-speed, dictionary broadcast as plan
    * literals. */
  def blocklistGate(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
    docs.select(col("doc_id"),
        TextAnalysis.multiContains(col("text"), blockedPhrases).as("mt"))
      .select(col("doc_id"),
        size(col("mt")).cast("long").as("n_matched"),
        array_join(col("mt"), "|").as("matched_terms"),
        (size(col("mt")) >= 3).as("blocked"))
      .orderBy("doc_id")
  }

  /** KMV set-operation cardinalities (q193): distinct-count estimates
    * for every source PAIR — |A|, |B|, |A ∪ B| and |A ∩ B| over distinct
    * words — from the k-minimum-values sketch (Beyer et al. 2007, "On
    * synopses for distinct value estimation"; Cohen & Kaplan 2007).
    * Where q152's Mash sketch answers "how SIMILAR are two sources"
    * (Jaccard only) and q145's per-key KMV answers "how many distinct
    * per key", this answers the set-algebra questions a corpus-mixing
    * decision needs: how many NEW tokens does source B add over A
    * (Û − Â), how big is the shared vocabulary (ĵ·Û) — without ever
    * materializing a distinct set.
    *
    * Scale shape: ONE pass over the corpus into the mergeable
    * [[graft.functions.BottomKAgg]] (map-side partials of ≤k entries per
    * source — unlike the q152/q145 window spelling, no shuffle of the
    * full distinct-token set; the only exchange carries ≤k·sources sketch
    * rows). The pair math is pure array functions over ≤k-element arrays
    * on a sources² frame — driver-free, broadcast-joined. At 100 TB the
    * corpus pass is scan-speed and everything downstream is O(sources²·k).
    *
    * Estimator (all-integer, cross-engine exact): for a sketch of K
    * distinct hashes with largest h_K over the 2^60 portable-hash space,
    * D̂ = (k−1)·2^60 div h_K when K = k (saturated), else exactly K.
    * Intersection: ρ = |bottomK(A ∪ B) ∩ A ∩ B|, ĵ = ρ/K_u,
    * Î = ρ·Û div K_u (integer product before the truncating divide). */
  def kmvSetOps(s: SparkSession, dir: String): DataFrame = {
    val k = 256
    // (k-1)·2^60 exceeds Long — decimal numerator + IntegralDivide, the
    // q145 convention (DuckDB replays via HUGEINT //).
    val num = (BigInt(k) - 1) * (BigInt(1) << 60)
    val words = table(s, dir, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .where(col("w") =!= "")
      .select(col("source"),
        graft.llm.PortableSeededHash.hash(col("w"), 53).as("h"))
    // bottom_k dedups equal (h, id): feeding h as its own id makes the
    // buffer the k smallest DISTINCT hashes — the KMV sketch — with no
    // pre-distinct shuffle.
    val sk = words.groupBy("source")
      .agg(expr(s"transform(bottom_k(h, h, bigint(0), $k), x -> x.h)")
        .as("hs"))
    val pairs = sk.select(col("source").as("src_a"), col("hs").as("ha"))
      .join(sk.select(col("source").as("src_b"), col("hs").as("hb")),
        col("src_a") < col("src_b"))
      .withColumn("lu",
        slice(array_sort(array_union(col("ha"), col("hb"))), 1, k))
    val m = pairs.select(col("src_a"), col("src_b"),
      size(col("ha")).cast("long").as("ka"),
      size(col("hb")).cast("long").as("kb"),
      size(col("lu")).cast("long").as("ku"),
      size(array_intersect(col("lu"),
        array_intersect(col("ha"), col("hb")))).cast("long").as("rho"),
      element_at(col("ha"), size(col("ha"))).as("kth_a"),
      element_at(col("hb"), size(col("hb"))).as("kth_b"),
      element_at(col("lu"), size(col("lu"))).as("kth_u"))
    val e = m.select(col("src_a"), col("src_b"),
      col("ka"), col("kb"), col("ku"), col("rho"),
      when(col("ka") < k, col("ka"))
        .otherwise(expr(s"cast('$num' as decimal(38,0)) div kth_a"))
        .as("est_a"),
      when(col("kb") < k, col("kb"))
        .otherwise(expr(s"cast('$num' as decimal(38,0)) div kth_b"))
        .as("est_b"),
      when(col("ku") < k, col("ku"))
        .otherwise(expr(s"cast('$num' as decimal(38,0)) div kth_u"))
        .as("est_union"))
    e.select(col("src_a"), col("src_b"), col("ka"), col("kb"), col("ku"),
        col("rho"), col("est_a"), col("est_b"), col("est_union"),
        expr("rho * est_union div ku").as("est_intersection"),
        round(col("rho").cast("double") / col("ku"), 4).as("jaccard_est"))
      .orderBy("src_a", "src_b")
  }

  /** Inclusion-dependency (foreign-key) discovery via KMV sketches
    * (q206; Beyer et al. 2007 sketches + the data-discovery use of
    * Zhu et al. 2016 "LSH Ensemble" / Papenbrock's SINDY family): for
    * every ordered key-column pair (A, B), estimate the inclusion
    * coefficient |A ∩ B| / |A| from per-column bottom-k sketches and
    * flag FK candidates at ≥ 0.95 — the lakehouse data-discovery pass
    * ("which columns join?") that at 100 TB reads ONE mergeable ≤k-row
    * sketch per column from each table's scan instead of ever joining
    * distinct sets; the O(cols²) pair math runs on sketch rows only.
    * Exact inclusion columns ride along as the verification twin (the
    * q204 estimate-next-to-exact convention — the exact self-join is
    * the thing the sketch exists to avoid). */
  def fkDiscovery(s: SparkSession, dir: String): DataFrame = {
    val k = 128
    val num = (BigInt(k) - 1) * (BigInt(1) << 60)
    def leg(tbl: String, c: String) =
      table(s, dir, tbl).select(lit(s"$tbl.$c").as("cname"),
        col(c).cast("long").as("v")).where(col("v").isNotNull)
    val vals = Seq(
      leg("customer", "c_custkey"), leg("orders", "o_custkey"),
      leg("orders", "o_orderkey"), leg("lineitem", "l_orderkey"),
      leg("lineitem", "l_partkey"), leg("part", "p_partkey"),
      leg("lineitem", "l_suppkey"), leg("supplier", "s_suppkey"))
      .reduce(_ unionByName _)
    val hs = vals.select(col("cname"),
      graft.llm.PortableSeededHash.hash(col("v"), 57).as("h"))
    val sk = hs.groupBy("cname")
      .agg(expr(s"transform(bottom_k(h, h, bigint(0), $k), x -> x.h)")
        .as("hs"))
    val pairs = sk.select(col("cname").as("col_a"), col("hs").as("ha"))
      .join(sk.select(col("cname").as("col_b"), col("hs").as("hb")),
        col("col_a") =!= col("col_b"))
      .withColumn("lu",
        slice(array_sort(array_union(col("ha"), col("hb"))), 1, k))
    val m = pairs.select(col("col_a"), col("col_b"),
      size(col("ha")).cast("long").as("ka"),
      size(col("lu")).cast("long").as("ku"),
      size(array_intersect(col("lu"),
        array_intersect(col("ha"), col("hb")))).cast("long").as("rho"),
      element_at(col("ha"), size(col("ha"))).as("kth_a"),
      element_at(col("lu"), size(col("lu"))).as("kth_u"))
    val e = m.select(col("col_a"), col("col_b"), col("rho"),
      when(col("ka") < k, col("ka"))
        .otherwise(expr(s"cast('$num' as decimal(38,0)) div kth_a"))
        .as("est_a"),
      when(col("ku") < k, col("ku"))
        .otherwise(expr(s"cast('$num' as decimal(38,0)) div kth_u"))
        .as("est_union"),
      col("ku"))
      .withColumn("est_intersection", expr("rho * est_union div ku"))
      .withColumn("inclusion_est",
        round(col("est_intersection").cast("double") / col("est_a"), 4))
      .withColumn("candidate", col("inclusion_est") >= 0.95)
    val d = vals.distinct()
    val ea = d.groupBy(col("cname").as("col_a"))
      .agg(count(lit(1)).as("exact_a"))
    val ei = d.as("x")
      .join(d.as("y"), col("x.v") === col("y.v") &&
        col("x.cname") =!= col("y.cname"))
      .groupBy(col("x.cname").as("col_a"), col("y.cname").as("col_b"))
      .agg(count(lit(1)).as("exact_intersection"))
    e.join(broadcast(ea), "col_a")
      .join(broadcast(ei), Seq("col_a", "col_b"), "left")
      .select(col("col_a"), col("col_b"), col("est_a"),
        col("est_intersection"), col("inclusion_est"), col("candidate"),
        col("exact_a"),
        coalesce(col("exact_intersection"), lit(0L))
          .as("exact_intersection"))
      .withColumn("inclusion_exact",
        round(col("exact_intersection").cast("double") / col("exact_a"), 4))
      .orderBy("col_a", "col_b")
  }

  /** Margin-based bitext mining (q194,
    * [[graft.llm.Similarity.bitextMargin]]): the corpus split into two
    * deterministic "languages" by vec_id parity, each even vector mines
    * its best odd-side counterpart by ratio margin over top-4 cosine
    * neighborhoods — mined = margin ≥ 1.05, the paper's operating
    * regime. Exact twin; the ANN legs replace the two top-k scans at
    * scale. */
  def bitextMargin(s: SparkSession, dir: String): DataFrame = {
    val emb = table(s, dir, "embeddings")
    val src = emb.where(pmod(col("vec_id"), lit(2L)) === 0)
    val tgt = emb.where(pmod(col("vec_id"), lit(2L)) === 1)
    graft.llm.Similarity.bitextMargin(src, tgt, k = 4, threshold = 1.05)
      .orderBy("src_id")
  }

  /** Deletion-neighborhood fuzzy join (q195,
    * [[graft.llm.Dedup.deletionNeighborhoodJoin]]): all supplier-name
    * pairs within edit distance 1 — the numeric name tails make ids
    * differing in one digit genuine distance-1 pairs, so the natural
    * corpus exercises both the candidate equi-join and the distance-2
    * false-candidate rejection (two different deletions meeting on the
    * same variant). */
  def fuzzyNameJoin(s: SparkSession, dir: String): DataFrame =
    Dedup.deletionNeighborhoodJoin(table(s, dir, "supplier"),
        col("s_suppkey"), col("s_name"))
      .orderBy("id_a", "id_b")

  /** Fellegi-Sunter probabilistic record linkage (q197,
    * [[graft.ops.Linkage]]): customers linked against a deterministically
    * corrupted twin file (per-record corruption mode from a seeded hash:
    * acctbal cent-bump / name one-char deletion / segment wiped /
    * verbatim). Two-pass blocking — cents-prefix ∪ exact name — leaves
    * every corruption mode at least one intact key; four compared fields
    * score integer milli-bit log-odds. On this corpus the decision
    * reproduces ground truth exactly: 100% of true pairs pass, every
    * random cents-block collision is rejected — the `is_true` column
    * makes the check the oracle's, not an assertion's. */
  /** The q197/q210 corrupted customer twin: (clean a-side, seeded-mode
    * corrupted b-side with id + 1e6). Shared by both linkage queries so
    * their ground truth is identical. */
  private def corruptedCustomerTwin(cust: DataFrame)
      : (DataFrame, DataFrame) = {
    val h71 = graft.llm.PortableSeededHash.hash(col("c_custkey"), 71)
    val h72 = graft.llm.PortableSeededHash.hash(col("c_custkey"), 72)
    val mode = h71 % 4
    val delPos = (h72 % length(col("c_name")).cast("long")) + 1
    val cents = round(col("c_acctbal") * 100, 0).cast("long")
    val b = cust.select(
      (col("c_custkey") + 1000000L).as("id_b"),
      when(mode === 1,
        concat(col("c_name").substr(lit(1), (delPos - 1).cast("int")),
          col("c_name").substr((delPos + 1).cast("int"), lit(1 << 20))))
        .otherwise(col("c_name")).as("b_name"),
      when(mode === 0, cents + 1).otherwise(cents).as("b_cents"),
      when(mode === 2, lit("UNKNOWN")).otherwise(col("c_mktsegment"))
        .as("b_seg"),
      col("c_nationkey").cast("long").as("b_nat"))
    val a = cust.select(col("c_custkey").as("id_a"),
      col("c_name").as("a_name"), cents.as("a_cents"),
      col("c_mktsegment").as("a_seg"),
      col("c_nationkey").cast("long").as("a_nat"))
    (a, b)
  }

  /** The q197 compared fields with their milli-bit weights. */
  private def linkageFields: Seq[graft.ops.Linkage.Field] = Seq(
    graft.ops.Linkage.Field("name",
      col("a_name") === col("b_name"), 9892L, -4320L),
    graft.ops.Linkage.Field("acctbal",
      col("a_cents") === col("b_cents"), 13136L, -3322L),
    graft.ops.Linkage.Field("segment",
      col("a_seg") === col("b_seg"), 2293L, -5322L),
    graft.ops.Linkage.Field("nation",
      col("a_nat") === col("b_nat"), 4615L, -5585L))

  def recordLinkage(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Linkage
    val (a, b) = corruptedCustomerTwin(table(s, dir, "customer"))
    // +100000 keeps the cents key non-negative so truncating (Spark) and
    // flooring (DuckDB //) integer division agree
    def centsBlock(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      floor((c + 100000L) / 10).cast("long")
    val cand = Linkage.blockedCandidates(a, b, Seq(
      (centsBlock(col("a_cents")), centsBlock(col("b_cents"))),
      (col("a_name"), col("b_name"))))
    Linkage.fellegiSunter(cand, linkageFields, threshold = 5000L)
      .select(col("id_a"), col("id_b"),
        col("agree_name"), col("agree_acctbal"), col("agree_segment"),
        col("agree_nation"), col("score_milli"), col("matched"),
        (col("id_b") - 1000000L === col("id_a")).as("is_true"))
      .orderBy("id_a", "id_b")
  }

  /** Sorted-neighborhood record linkage (q210,
    * [[graft.ops.Linkage.sortedNeighborhood]]): the q197 task with the
    * OTHER classic candidate generator — the merged clean+twin file
    * sorted by account cents, every pair within an 8-position window
    * scored by the same Fellegi-Sunter weights. The cent-bump
    * corruption that q197 needed a second blocking pass for lands
    * ADJACENT in the sort here; name-corrupted twins still pair because
    * their cents are identical. Positions come from the two-phase rank,
    * candidates from one adjacent-block equi-join — O(n·w) pairs, no
    * global window. */
  def sortedNeighborhoodLinkage(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Linkage
    val (a, b) = corruptedCustomerTwin(table(s, dir, "customer"))
    val merged = a.select(col("id_a").as("rid"), col("a_name").as("name"),
        col("a_cents").as("cents"), col("a_seg").as("seg"),
        col("a_nat").as("nat"))
      .unionByName(b.select(col("id_b").as("rid"),
        col("b_name").as("name"), col("b_cents").as("cents"),
        col("b_seg").as("seg"), col("b_nat").as("nat")))
    val pairs = Linkage.sortedNeighborhood(merged, col("rid"),
      col("cents"), expr("cents div 1000"), w = 8)
    val cand = pairs
      .join(merged.select(col("rid").as("id_a"), col("name").as("a_name"),
        col("cents").as("a_cents"), col("seg").as("a_seg"),
        col("nat").as("a_nat")), "id_a")
      .join(merged.select(col("rid").as("id_b"), col("name").as("b_name"),
        col("cents").as("b_cents"), col("seg").as("b_seg"),
        col("nat").as("b_nat")), "id_b")
    Linkage.fellegiSunter(cand, linkageFields, threshold = 5000L)
      .where(col("matched"))
      .select(col("id_a"), col("id_b"),
        (col("rank_b") - col("rank_a")).as("rank_gap"),
        col("score_milli"),
        (abs(col("id_b") - col("id_a")) === 1000000L).as("is_true"))
      .orderBy("id_a", "id_b")
  }

  /** Johnson-Lindenstrauss projection + distance-preservation audit
    * (q199, [[graft.llm.Similarity.jlProject]]): embeddings reduced
    * 64 → 16 dims by the compiled integer-JL kernel, then every
    * (even, even+1) id pair reports its exact fixed-point squared L2
    * before and after, and the normalized ratio
    * rho = d2_red / (d2_orig · k · Var(w)) — the JL guarantee made a
    * measured per-pair number (rho concentrates around 1 with
    * ~1/sqrt(k) spread). Identical pairs carry a null rho. */
  def jlProjectionAudit(s: SparkSession, dir: String): DataFrame = {
    val emb = table(s, dir, "embeddings").where(col("embedding").isNotNull)
    val red = Similarity.jlProject(emb, k = 16,
      hasher = graft.llm.PortableSeededHash)
    def fp(c: org.apache.spark.sql.Column) =
      round(c.cast("double") * 1000, 0).cast("long")
    val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("ea"))
      .where(pmod(col("id_a"), lit(2L)) === 0)
    val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("eb"))
    val d2o = aggregate(
      zip_with(col("ea"), col("eb"), (x, y) => {
        val dx = fp(x) - fp(y); dx * dx
      }), lit(0L), (acc, v) => acc + v)
    val pairs = a.join(b, col("id_b") === col("id_a") + 1)
      .select(col("id_a"), col("id_b"), d2o.as("d2_orig"))
    val d2r = aggregate(
      zip_with(col("pa"), col("pb"), (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, v) => acc + v)
    val ra = red.select(col("vec_id").as("id_a"), col("proj").as("pa"))
    val rb = red.select(col("vec_id").as("id_b"), col("proj").as("pb"))
    // k·Var(w) for w uniform on [-500, 499]: 16 · (1000²−1)/12
    val denom = 16.0 * 83333.25
    pairs.join(ra, "id_a").join(rb, "id_b")
      .select(col("id_a"), col("id_b"), col("d2_orig"), d2r.as("d2_red"))
      .withColumn("rho",
        when(col("d2_orig") === 0, lit(null).cast("double"))
          .otherwise(round(col("d2_red") / (col("d2_orig") * denom), 4)))
      .orderBy("id_a")
  }

  /** JL-leg ANN recall audit (q202): does searching in the q199 reduced
    * space actually find the true neighbors? For each of the 10 standard
    * query vectors, the exact fixed-point squared-L2 top-5 in the
    * ORIGINAL 64-dim space is compared against the top-5 ranked by
    * REDUCED 16-dim integer distance; the report is per-query overlap
    * and recall@5 — the measured version of q199's distance-preservation
    * claim, joining the q131/q164 recall-report family. One corpus scan
    * at fixed query width (both distances computed in the same pass
    * against the broadcast query side), two bounded rank windows.
    *
    * Reading the number: the synthetic embeddings are near-isotropic
    * and the 10 standard queries have no planted twins — their true
    * top-5 sits a mere ~0.6× below the bulk distance, i.e. INSIDE the
    * JL ε band (ε ≈ sqrt(8·ln n / k) ≈ 1.3 at k=16) — so low recall is
    * the mathematically expected reading, exactly in-family with the
    * q131 legs on the same data (lsh 0.0, pq 0.06, lsh_multi 0.10, ivf
    * 0.18). The k dial was measured at sf0.01: recall@5 =
    * 0.02/0.12/0.12/0.20/0.38 at k = 8/16/32/64/128 — the report a
    * deployment reads to size k against ITS corpus geometry. */
  def jlAnnRecall(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = table(s, dir, "embeddings").where(col("embedding").isNotNull)
    val red = Similarity.jlProject(emb, k = 16,
      hasher = graft.llm.PortableSeededHash)
    val side = emb.join(red, "vec_id")
    val q = side.where(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("proj").as("qp"))
    def fp(c: org.apache.spark.sql.Column) =
      round(c.cast("double") * 1000, 0).cast("long")
    val d2o = aggregate(zip_with(col("embedding"), col("qe"), (x, y) => {
      val dx = fp(x) - fp(y); dx * dx
    }), lit(0L), (acc, v) => acc + v)
    val d2r = aggregate(zip_with(col("proj"), col("qp"),
      (x, y) => (x - y) * (x - y)), lit(0L), (acc, v) => acc + v)
    val scored = side.crossJoin(broadcast(q))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        d2o.as("d2o"), d2r.as("d2r"))
    val wO = Window.partitionBy("query_id")
      .orderBy(col("d2o").asc, col("vec_id"))
    val wR = Window.partitionBy("query_id")
      .orderBy(col("d2r").asc, col("vec_id"))
    val ranked = scored
      .withColumn("rn_exact", row_number().over(wO))
      .withColumn("rn_jl", row_number().over(wR))
    ranked.where(col("rn_exact") <= 5 || col("rn_jl") <= 5)
      .groupBy("query_id")
      .agg(sum(when(col("rn_exact") <= 5 && col("rn_jl") <= 5, 1L)
        .otherwise(0L)).as("n_overlap"))
      .withColumn("recall_at_5", round(col("n_overlap") / 5.0, 4))
      .orderBy("query_id")
  }

  /** WebDataset tar-shard roundtrip (q146, [[graft.llm.TarShards]]):
    * documents staged as POSIX-ustar training shards (one tar per
    * partition, `<id>.json` + `<id>.txt` per sample), read back
    * distributed, samples reassembled — identity is the oracle, as for
    * the parquet/CSV/JSON/ORC/WARC sink tiers. */
  def tarShardRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
      .select("doc_id", "text", "lang", "source")
    val tmp = java.nio.file.Files.createTempDirectory("graft-tar").toString
    graft.llm.TarShards.writeShards(s, docs, tmp)
    graft.llm.TarShards.readShards(s, tmp).toDF()
      .select("doc_id", "lang", "source", "text")
      .orderBy("doc_id")
  }
}
