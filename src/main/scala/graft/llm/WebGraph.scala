package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Host-graph centrality for crawl curation.
  *
  * Web pipelines rank REGISTERED HOSTS, not pages: Common Crawl publishes
  * per-host rank tables (harmonic centrality / PageRank over the host
  * webgraph) and curation gates sample or drop domains by that rank —
  * the step between the q143 per-domain volume audit and the q123
  * content gate. The host graph is small relative to the crawl (~10^8
  * hosts from ~10^11 pages), so the design splits into
  *
  *  1. one corpus-scale aggregation that collapses page-level links to a
  *     weighted host edge list (the only pass that touches the 100 TB), and
  *  2. a bounded number of power-iteration rounds over the host-level
  *     frame — each round is a join on `src` plus a `groupBy(dst)`, both
  *     shuffling only (host, host, long) triples.
  *
  * Ranks are FIXED-POINT LONGS (1e6 = rank 1.0) with truncating integer
  * division, so every round is exact integer arithmetic: sums are
  * order-independent and each round replays bit-identically in any
  * engine with 64-bit integer division (the q82/q124 k-means
  * convention). PageRank: Page, Brin, Motwani, Winograd 1999 (the
  * damped formulation, uniform teleport, weighted edges); mass lost to
  * dangling hosts is NOT redistributed — the classic simplified
  * iteration, matching what an unrolled SQL replay computes.
  */
object WebGraph {

  /** Scale of the fixed-point rank domain: 1_000_000 = rank 1.0. */
  val Fp: Long = 1000000L

  /** Weighted damped PageRank over `edges` (`src`, `dst`, `w` — long
    * weight, e.g. link multiplicity). `dampingPct` is the damping factor
    * in percent (85 = the classic 0.85). Every node appearing as src or
    * dst participates; a node with no in-links settles at the teleport
    * floor `(100-dampingPct)% * Fp`; dangling nodes (in-links only)
    * contribute nothing — their mass leaks, as in the plain iteration.
    *
    * Per round, per edge: `contrib = (rank(src) * w) div outw(src)`;
    * per node: `rank' = teleport + (dampingPct * Σ contrib) div 100` —
    * all long arithmetic (no overflow until Σ rank mass · damping
    * approaches 2^63/100 ≈ 9·10^16, i.e. ~10^10 hosts at Fp=1e6).
    *
    * Shuffle shape at 100 TB: `edges` is already host-level (see
    * [[hostLinkGraph]]); each round re-joins the fresh rank frame to the
    * static weighted edge list, so the edge frame is persisted once and
    * each round moves only (node, long, long) rows. Rounds are
    * `localCheckpoint`ed to keep plans constant-size across iterations
    * (see [[Rounds]]). */
  def pageRank(edges: DataFrame, iters: Int = 5, dampingPct: Long = 85)
      : DataFrame =
    powerIterate("page_rank", edges, iters, dampingPct)(
      _.select(col("node"), lit(teleport(dampingPct)).as("tele"),
        lit(Fp).as("rank_fp")))
      .select("node", "rank_fp")

  /** Semi-supervised LABEL PROPAGATION over a weighted directed graph
    * (Zhu & Ghahramani 2002, in the iterated-kNN-classifier form): seed
    * nodes carry fixed labels; every round, each non-seed node with at
    * least one labeled out-neighbor takes the label with the largest
    * total edge weight among its neighbors' current labels (ties break
    * on the smaller label), recomputed synchronously from the previous
    * round's full labeling. Nodes whose neighborhood is entirely
    * unlabeled stay absent until a round reaches them.
    *
    * Determinism: weights are caller-provided integer fixed-point, so
    * the per-(node, label) vote is an order-free integer sum and the
    * argmax is taken on exact longs — every round replays exactly in
    * SQL (the q167 oracle unrolls them). Scale shape: each round is one
    * equi-join of the static edge list against the (node, label) frame
    * plus a bounded argmax window — only (node, long) pairs move, the
    * q144 pageRank convention, with `localCheckpoint` pinning
    * constant-size plans across rounds.
    *
    * `edges`: (src, dst, w: long). `seeds`: (vec_id, lab). Returns
    * (vec_id, lab) for all labeled nodes after `rounds`. */
  def labelPropagate(edges: DataFrame, seeds: DataFrame, rounds: Int = 3)
      : DataFrame = {
    require(rounds >= 1, "labelPropagate needs at least one round")
    Rounds("label_propagate", edges.sparkSession) { r =>
      // the static edge list is joined on `dst` every round, so it is
      // persisted partitioned on it; the seed frame is tiny and read
      // three ways
      val e = r.persist(edges.select(col("src"), col("dst"),
          col("w").cast("long").as("w"))
        .repartition(col("dst")))
      val s0 = r.persist(
        seeds.select(col("vec_id"), col("lab").cast("long").as("lab")))
      val w = Window.partitionBy("src")
        .orderBy(col("wsum").desc, col("lab"))
      (1 to rounds).foldLeft(s0) { (labels, i) =>
        r.round(i) {
          val assigned = e.join(labels.withColumnRenamed("vec_id", "dst"), "dst")
            .groupBy(col("src"), col("lab"))
            .agg(sum("w").as("wsum"))
            .withColumn("rk", row_number().over(w)).where(col("rk") === 1)
            .select(col("src").as("vec_id"), col("lab"))
            .join(s0.select("vec_id"), Seq("vec_id"), "left_anti")
          r.checkpoint(s0.unionByName(assigned.select("vec_id", "lab")))
        }
      }
    }
  }

  /** TrustRank (Gyöngyi, Garcia-Molina & Pedersen 2004): PageRank with
    * the teleport vector CONCENTRATED on a trusted seed set — trust
    * flows only out of hand-vetted hosts through the link graph, decay
    * damped per hop; unlinked (or spam-linked-only) hosts converge to
    * zero. The domain-trust gate web-scale curation uses where q144's
    * uniform PageRank measures raw prominence. Same fixed-point integer
    * arithmetic and per-round shape as [[pageRank]] (one equi-join +
    * count shuffle per round, `localCheckpoint` pinning plans): ranks
    * are exact longs, every round SQL-replayable. Seeds start at Fp,
    * others at 0; per-round teleport lands on seeds only. */
  def trustRank(edges: DataFrame, seeds: DataFrame, iters: Int = 5,
                dampingPct: Long = 85): DataFrame =
    powerIterate("trust_rank", edges, iters, dampingPct) { nodes =>
      val tele = when(col("_t"), lit(teleport(dampingPct))).otherwise(lit(0L))
      nodes.join(seeds.select(col("node").cast("string").as("node"))
          .distinct().withColumn("_t", lit(true)), Seq("node"), "left")
        .select(col("node"), tele.as("tele"),
          when(tele > 0, lit(Fp)).otherwise(lit(0L)).as("rank_fp"))
    }.select(col("node"), col("rank_fp"), (col("tele") > 0).as("is_seed"))

  private def teleport(dampingPct: Long): Long = ((100 - dampingPct) * Fp) / 100

  /** The power iteration [[pageRank]] and [[trustRank]] share. `init`
    * maps the (node) frame to the round state (node, tele, rank_fp): each
    * node's per-round teleport and starting rank. Per round, per edge
    * `contrib = (rank(src) * w) div outw(src)`, per node
    * `rank' = tele + (dampingPct * Σ contrib) div 100`. The state carries
    * `tele`, so the result is the last round's checkpoint. */
  private def powerIterate(op: String, edges: DataFrame, iters: Int,
                           dampingPct: Long)(
      init: DataFrame => DataFrame): DataFrame = {
    require(iters >= 1 && dampingPct >= 0 && dampingPct <= 100)
    Rounds(op, edges.sparkSession) { r =>
      val e = edges.select(col("src").cast("string").as("src"),
        col("dst").cast("string").as("dst"), col("w").cast("long").as("w"))
      // out-weight folded onto each edge once, and the edge list
      // partitioned on src: each round then re-shuffles only the ranks
      val ew = r.persist(e.join(
          e.groupBy(col("src").as("osrc")).agg(sum("w").as("ow")),
          col("src") === col("osrc"))
        .select(col("src"), col("dst"), col("w"), col("ow"))
        .repartition(col("src")))
      val nodes = ew.select(col("src").as("node"))
        .union(ew.select(col("dst").as("node")))
        .distinct()
      (1 to iters).foldLeft(init(nodes)) { (ranks, i) =>
        r.round(i) {
          val contribs = ew.join(ranks, col("src") === col("node"))
            .select(col("dst"),
              expr("(rank_fp * w) div ow").as("contrib"))
            .groupBy("dst").agg(sum("contrib").as("s"))
          r.checkpoint(ranks.join(contribs, col("node") === col("dst"), "left")
            .select(col("node"), col("tele"),
              (col("tele") +
                expr(s"($dampingPct * coalesce(s, cast(0 as bigint))) div 100"))
                .as("rank_fp")))
        }
      }
    }
  }

  /** TRIANGLE COUNTS + local clustering coefficient (Watts & Strogatz
    * 1998) over an undirected edge list `(x, y)` with x &lt; y — how
    * tightly each node's neighborhood interconnects, the manifold-
    * density signal that complements q141's component structure (a high
    * coefficient marks dense semantic clumps; near-zero marks hub/
    * bridge points). Triangle enumeration is the ordered two-join
    * (a&lt;b&lt;c): E(a,b) ⋈ E(b,c) on b, semi-joined against E(a,c) —
    * each triangle found exactly once, per-node work bounded by the
    * node's degree (≤ k on a kNN graph), never all-pairs. Counts are
    * exact integers; the coefficient 2·tri/(deg·(deg−1)) rounds at 4dp
    * — all SQL-replayable. Returns (node, degree, triangles, coeff). */
  def clusteringCoefficient(edges: DataFrame): DataFrame = {
    val e = edges.select(col("x"), col("y")).localCheckpoint()
    val deg = e.select(col("x").as("node"))
      .union(e.select(col("y").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
    val tri = e.select(col("x").as("a"), col("y").as("b"))
      .join(e.select(col("x").as("b"), col("y").as("c")), "b")
      .join(e.select(col("x").as("a"), col("y").as("c")),
        Seq("a", "c"), "left_semi")
    val triPerNode = tri.select(col("a").as("node"))
      .union(tri.select(col("b").as("node")))
      .union(tri.select(col("c").as("node")))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
    deg.join(triPerNode, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        when(col("degree") >= 2,
          round(lit(2.0) * coalesce(col("triangles"), lit(0L)) /
            (col("degree") * (col("degree") - 1)), 4))
          .otherwise(lit(0.0)).as("coeff"))
  }

  /** Collapse page-level links `(src_host, dst_host)` — one row per link
    * occurrence — to the weighted host edge list [[pageRank]] consumes.
    * This is the single corpus-scale pass: one hash shuffle on the host
    * pair, emitting ≤ |hosts|² and in practice ~|hosts|·avg-fanout rows. */
  def hostLinkGraph(links: DataFrame): DataFrame =
    links.groupBy(col("src_host").as("src"), col("dst_host").as("dst"))
      .agg(count(lit(1)).as("w"))
}
