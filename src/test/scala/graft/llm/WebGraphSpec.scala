package graft.llm

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Fixed-point PageRank: hand-computed chains, teleport floor, dangling
  * leak, determinism under repartitioning. */
class WebGraphSpec extends SparkSpec {
  import spark.implicits._

  private def ranks(edges: Seq[(String, String, Long)], iters: Int)
      : Map[String, Long] =
    WebGraph.pageRank(edges.toDF("src", "dst", "w"), iters = iters)
      .as[(String, Long)].collect().toMap

  test("two-node chain matches the hand-computed fixed-point rounds") {
    // a→b only. Round 1: a = teleport; b = 150000 + 85%·(a's full mass).
    val r1 = ranks(Seq(("a", "b", 1L)), iters = 1)
    assert(r1 == Map("a" -> 150000L, "b" -> 1000000L))
    // Round 2: a's contribution is now its teleport floor.
    val r2 = ranks(Seq(("a", "b", 1L)), iters = 2)
    assert(r2 == Map("a" -> 150000L,
      "b" -> (150000L + (85L * 150000L) / 100)))
  }

  test("weighted split: contributions proportional to edge weight") {
    // a→b (w=3), a→c (w=1): b gets 3/4 of a's damped mass, c gets 1/4.
    val r = ranks(Seq(("a", "b", 3L), ("a", "c", 1L)), iters = 1)
    assert(r("a") == 150000L)
    assert(r("b") == 150000L + (85L * ((1000000L * 3) / 4)) / 100)
    assert(r("c") == 150000L + (85L * ((1000000L * 1) / 4)) / 100)
  }

  test("dangling node keeps rank but leaks mass (classic iteration)") {
    // b has only in-links: it ranks, but contributes nothing onward —
    // total mass shrinks, nobody inherits b's rank.
    val r = ranks(Seq(("a", "b", 1L), ("b2", "a", 1L)), iters = 3)
    assert(r.keySet == Set("a", "b", "b2"))
    assert(r("b2") == 150000L) // no in-links: pinned at teleport
    assert(r("b") > r("a"))    // b inherits a's mass + a inherits only b2's floor
  }

  test("self-loop cycle conserves damped mass exactly in fixed point") {
    // a→b→a: symmetric 2-cycle; both nodes stay at full mass every round
    // (teleport + 85% of the other's full mass = 1000000 exactly).
    val r = ranks(Seq(("a", "b", 1L), ("b", "a", 1L)), iters = 4)
    assert(r == Map("a" -> 1000000L, "b" -> 1000000L))
  }

  test("undamped 2-cycle keeps both nodes at Fp: every node starts at Fp") {
    // dampingPct = 100: teleport is 0, so only the starting rank carries
    // mass. PageRank starts every node at Fp; TrustRank starts only nodes
    // with a positive teleport there, so "every node a seed" is not it.
    val r = WebGraph.pageRank(Seq(("a", "b", 1L), ("b", "a", 1L))
        .toDF("src", "dst", "w"), iters = 3, dampingPct = 100)
      .as[(String, Long)].collect().toMap
    assert(r == Map("a" -> WebGraph.Fp, "b" -> WebGraph.Fp))
  }

  test("rank is independent of input partitioning") {
    val edges = (0L until 200L)
      .map(i => (s"h${i % 17}", s"h${(i * 13 + 5) % 23}", 1L + i % 3))
    val one = WebGraph.pageRank(
      WebGraph.hostLinkGraph(edges.toDF("src_host", "dst_host", "x")
        .select(col("src_host"), col("dst_host"))), iters = 3)
      .as[(String, Long)].collect().toMap
    val other = WebGraph.pageRank(
      WebGraph.hostLinkGraph(edges.toDF("src_host", "dst_host", "x")
        .select(col("src_host"), col("dst_host")).repartition(7)), iters = 3)
      .as[(String, Long)].collect().toMap
    assert(one == other) // integer arithmetic: order-independent sums
  }

  private def propagate(edges: Seq[(Long, Long, Long)],
                        seeds: Seq[(Long, Long)],
                        rounds: Int): Map[Long, Long] =
    WebGraph.labelPropagate(edges.toDF("src", "dst", "w"),
        seeds.toDF("vec_id", "lab"), rounds)
      .as[(Long, Long)].collect().toMap

  test("label propagation: votes, ties, reach-in-later-rounds, and " +
    "synchronous flips") {
    // 1=A(0), 2=B(1) seeded. 3 votes A (weight 5 > 3). 4 reaches a label
    // only in round 2 (via 3). 5 ties A/B at weight 2 -> smaller label.
    // 6 sees only B in rounds 1-2, then flips to A in round 3 once 4's
    // heavier-weighted label exists in the PREVIOUS round's frame.
    val edges = Seq(
      (3L, 1L, 5L), (3L, 2L, 3L),
      (4L, 3L, 2L),
      (5L, 1L, 2L), (5L, 2L, 2L),
      (6L, 2L, 5L), (6L, 4L, 10L),
      (1L, 2L, 100L)) // seeds never flip, whatever their neighbors say
    val seeds = Seq(1L -> 0L, 2L -> 1L)
    assert(propagate(edges, seeds, rounds = 1) ==
      Map(1L -> 0L, 2L -> 1L, 3L -> 0L, 5L -> 0L, 6L -> 1L))
    assert(propagate(edges, seeds, rounds = 2) ==
      Map(1L -> 0L, 2L -> 1L, 3L -> 0L, 4L -> 0L, 5L -> 0L, 6L -> 1L))
    assert(propagate(edges, seeds, rounds = 3) ==
      Map(1L -> 0L, 2L -> 1L, 3L -> 0L, 4L -> 0L, 5L -> 0L, 6L -> 0L))
  }

  test("trustRank: trust flows from seeds, spam islands converge to 0, " +
    "seed teleport persists") {
    // a(seed) -> b -> c ; spam island d <-> e (densely interlinked but
    // unreachable from the seed)
    val edges = Seq(("a", "b", 1L), ("b", "c", 1L),
      ("d", "e", 1L), ("e", "d", 1L))
    val r = WebGraph.trustRank(edges.toDF("src", "dst", "w"),
        Seq("a").toDF("node"), iters = 6)
      .as[(String, Long, Boolean)].collect()
      .map(x => x._1 -> ((x._2, x._3))).toMap
    assert(r("a")._2 && !r("b")._2)
    assert(r("a")._1 > 0, "seed keeps teleport mass")
    assert(r("b")._1 > r("c")._1, "trust decays per hop")
    assert(r("c")._1 > 0, "reachable node accrues trust")
    assert(r("d")._1 == 0 && r("e")._1 == 0,
      "unreachable spam island converges to zero")
    // uniform pageRank, by contrast, gives the island positive mass
    val pr = WebGraph.pageRank(edges.toDF("src", "dst", "w"), iters = 6)
      .as[(String, Long)].collect().toMap
    assert(pr("d") > 0)
  }

  test("clustering coefficient: triangle, star, and clique") {
    // graph: triangle {1,2,3}; star center 4 with leaves 5,6 (no
    // triangle); 4-clique {10,11,12,13}
    val edges = Seq(
      (1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L),
      (10L, 11L), (10L, 12L), (10L, 13L),
      (11L, 12L), (11L, 13L), (12L, 13L))
    val got = WebGraph.clusteringCoefficient(edges.toDF("x", "y"))
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == ((2L, 1L, 1.0)) && got(2L) == ((2L, 1L, 1.0)))
    assert(got(4L) == ((2L, 0L, 0.0)), "star center: deg 2, no triangle")
    assert(got(5L) == ((1L, 0L, 0.0)), "leaf: deg 1 -> coeff 0")
    // 4-clique: deg 3, C(3,2)=3 triangles through each node, coeff 1
    Seq(10L, 11L, 12L, 13L).foreach(n => assert(got(n) == ((3L, 3L, 1.0))))
  }

  test("label propagation is independent of input partitioning") {
    val edges = (0L until 300L).map(i =>
      (i % 40, (i * 7 + 1) % 40, 1L + i % 5))
    val seeds = Seq(0L -> 0L, 1L -> 1L, 2L -> 2L)
    val a = propagate(edges, seeds, rounds = 3)
    val b = WebGraph.labelPropagate(
        edges.toDF("src", "dst", "w").repartition(11),
        seeds.toDF("vec_id", "lab"), rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(a == b)
  }
}
