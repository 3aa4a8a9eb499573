package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import scala.math.Ordering.Double.TotalOrdering
import graft.SparkSpec

/** Dedup operators on a tiny corpus with planted exact and near dups. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (1L, "the quick brown fox jumps over the lazy dog near the river bank"), // exact dup of 0
    (2L, "the quick brown fox jumps over the lazy cat near the river bank"), // near dup of 0
    (3L, "completely different content about spark query engines and plans"),
    (4L, "another unrelated document mentioning neither foxes nor rivers ok")
  ).toDF("doc_id", "text")

  test("exact dedup keeps min id and counts copies") {
    val out = Dedup.exact(corpus).orderBy("keep_id")
      .select("keep_id", "dup_count").as[(Long, Long)].collect().toSeq
    assert(out == Seq((0L, 2L), (2L, 1L), (3L, 1L), (4L, 1L)))
  }

  test("ngram jaccard finds the planted near-dup pair") {
    val pairs = Dedup.ngramJaccardPairs(corpus, n = 3, threshold = 0.3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L))) // exact dup: jaccard 1.0
    assert(pairs.contains((0L, 2L))) // near dup
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("minhash LSH recalls exact-jaccard pairs on sf0.001 documents") {
    val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
    val exact = Dedup.ngramJaccardPairs(docs, 3, 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minHashLsh(docs, estThreshold = 0.3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "testdata should contain near-dups")
    val recall = exact.count(lsh.contains).toDouble / exact.size
    assert(recall >= 0.8, s"LSH recall $recall over ${exact.size} pairs")
  }

  test("hot-bucket cap drops degenerate LSH buckets but is lossless below it") {
    // adversarial corpus: 40 copies of one template doc (identical shingle
    // sets -> identical signatures -> one bucket of size 40 in EVERY band)
    // plus one planted normal near-dup pair
    val template = (0 until 40).map(i =>
      (100L + i, "shared boilerplate template text repeated across the corpus"))
    val planted = Seq(
      (0L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (1L, "the quick brown fox jumps over the lazy dog near the river bend"))
    val docs = (template ++ planted).toDF("doc_id", "text")

    // cap smaller than the template flood: its buckets are pruned, the
    // planted pair (bucket size 2) survives, and the join stays bounded
    val capped = Dedup.minHashLsh(docs, estThreshold = 0.3, maxBucket = 8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(capped.contains((0L, 1L)))
    assert(!capped.exists(p => p._1 >= 100L && p._2 >= 100L))

    // below the cap the output is identical to the uncapped join
    val normal = spark.read.parquet(s"$Sf0001/documents.parquet")
    val withCap = Dedup.minHashLsh(normal, estThreshold = 0.3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val noCap = Dedup.minHashLsh(normal, estThreshold = 0.3,
        maxBucket = Int.MaxValue)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(withCap == noCap)
  }

  test("connected components match brute-force transitive closure") {
    // chain 1-2-3-4 (tests multi-hop propagation), triangle 10-11-12,
    // isolated pair 20-21
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 21L)
    ).toDF("doc_a", "doc_b")

    // brute-force closure: repeatedly merge components sharing a node
    val edges = pairs.as[(Long, Long)].collect()
    val comp = scala.collection.mutable.Map[Long, Long]()
    edges.foreach { case (a, b) =>
      comp.getOrElseUpdate(a, a); comp.getOrElseUpdate(b, b)
    }
    var changed = true
    while (changed) {
      changed = false
      edges.foreach { case (a, b) =>
        val m = math.min(comp(a), comp(b))
        if (comp(a) != m || comp(b) != m) {
          comp(a) = m; comp(b) = m; changed = true
        }
      }
    }

    val got = Dedup.connectedComponents(pairs)
      .select("doc_id", "component").as[(Long, Long)].collect().toMap
    assert(got == comp.toMap)
    val keepers = Dedup.connectedComponents(pairs)
      .where(col("is_keeper")).select("doc_id").as[Long].collect().toSet
    assert(keepers == Set(1L, 10L, 20L))
  }

  test("containment catches doc-inside-doc pairs that Jaccard misses") {
    val short = "alpha beta gamma delta epsilon zeta"
    val long = ("unrelated filler words begin here and continue onward " +
      short + " more filler text keeps going with many extra tokens " +
      "that dilute the union far beyond any jaccard threshold level now")
    val docs = Seq((0L, short), (1L, long), (2L, "totally different text"))
      .toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(docs, n = 3, threshold = 0.9)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(cont.contains((0L, 1L))) // every short-doc shingle is in long
    val jac = Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(!jac.contains((0L, 1L))) // union dilution hides it from jaccard
  }

  test("containment df-cap: below the cap, output identical to unguarded") {
    val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
    def pairs(maxDf: Int) =
      Dedup.containmentPairs(docs, n = 3, threshold = 0.5, maxDf = maxDf)
        .select("doc_a", "doc_b", "containment")
        .as[(Long, Long, Double)].collect().toSet
    val unguarded = pairs(Int.MaxValue)
    assert(unguarded.nonEmpty, "testdata should contain containment pairs")
    // sf0.001 dfs are far below the default cap: identical output
    assert(pairs(1 << 16) == unguarded)
  }

  test("containment df-cap prunes a template-shingle flood") {
    // 40 boilerplate docs whose shingles are ALL shared (df = 40) except
    // one unique trailer: every cross pair has containment 5/6 ≈ 0.83 and
    // would emit 780 pairs through one reducer. With the cap below 40 the
    // hot shingles leave candidate generation, so the flood vanishes (the
    // documented recall trade), while a genuinely contained pair built
    // from rare shingles (df = 2) must survive unchanged.
    val flood = (0L until 40L).map(i =>
      (i, s"common footer text over and over again token$i"))
    val contained = Seq(
      (100L, "alpha beta gamma delta epsilon zeta"),
      (101L, "prefix words alpha beta gamma delta epsilon zeta suffix words"))
    val docs = (flood ++ contained).toDF("doc_id", "text")
    def pairs(maxDf: Int) =
      Dedup.containmentPairs(docs, n = 3, threshold = 0.8, maxDf = maxDf)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val unguarded = pairs(Int.MaxValue)
    assert(unguarded.contains((0L, 1L)), "flood pairs verify unguarded")
    assert(unguarded.contains((100L, 101L)))
    val capped = pairs(10)
    assert(capped.contains((100L, 101L))) // rare-shingle pair survives
    assert(!capped.exists(p => p._1 < 100L || p._2 < 100L),
      s"flood pairs must be pruned by the cap: $capped")
  }

  test("jaccard strategies: count filter == prefix filter, bit for bit") {
    val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
    for (t <- Seq(0.1, 0.3)) {
      def collect(df: org.apache.spark.sql.DataFrame) =
        df.select("doc_a", "doc_b", "jaccard")
          .as[(Long, Long, Double)].collect().toSet
      val pf = collect(Dedup.jaccardPrefixFilter(docs, 3, t))
      val cf = collect(Dedup.jaccardCountFilter(docs, 3, t))
      assert(pf.nonEmpty && cf == pf, s"t=$t")
    }
  }

  test("jaccard count-filter cap: flood pruned, rare pair exact") {
    // same corpus shape as the containment flood test: 40 boilerplate
    // docs sharing 5 of their 6 shingles (df=40), one genuinely similar
    // rare-shingle pair (dfs=2). maxDf=10 removes the hot shingles from
    // candidate generation entirely — flood pairs share zero cold
    // shingles and vanish; the rare pair flows through the allowance
    // bound and the verify stage emits its exact jaccard (4 shared of
    // 8 union = 0.5).
    val flood = (0L until 40L).map(i =>
      (i, s"common footer text over and over again token$i"))
    val contained = Seq(
      (100L, "alpha beta gamma delta epsilon zeta"),
      (101L, "prefix words alpha beta gamma delta epsilon zeta suffix words"))
    val docs = (flood ++ contained).toDF("doc_id", "text")
    val capped = Dedup.jaccardCountFilter(docs, 3, 0.3, maxDf = 10)
      .select("doc_a", "doc_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(capped == Set((100L, 101L, 0.5)))
  }

  test("containment sketch: k=32 output identical to the exact path") {
    // fixed hash family -> recall is a deterministic property of the
    // corpus; at k=32 the per-pair miss probability is ~(1-c)^32 ≈ 2^-32,
    // so on real testdata the sketch path must reproduce the exact pairs
    // bit-for-bit (values are exact by construction — shared verify stage)
    val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b", "containment")
        .as[(Long, Long, Double)].collect().toSet
    val exact = collect(Dedup.containmentPairs(docs, n = 3, threshold = 0.5))
    assert(exact.nonEmpty)
    val sketch =
      collect(Dedup.containmentPairsSketch(docs, n = 3, threshold = 0.5))
    assert(sketch == exact)
  }

  test("containment sketch: degenerate k degrades recall, never precision") {
    val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b", "containment")
        .as[(Long, Long, Double)].collect().toSet
    val exact = collect(Dedup.containmentPairs(docs, n = 3, threshold = 0.5))
    val k1 = collect(
      Dedup.containmentPairsSketch(docs, n = 3, threshold = 0.5, k = 1))
    // k=1: only the single smallest shingle generates candidates — a
    // subset of the exact pairs with IDENTICAL values on every pair found
    assert(k1.subsetOf(exact))
  }

  test("containment sketch finds the planted doc-inside-doc pair") {
    val short = "alpha beta gamma delta epsilon zeta"
    val long = ("unrelated filler words begin here and continue onward " +
      short + " more filler text keeps going with many extra tokens " +
      "that dilute the union far beyond any jaccard threshold level now")
    val docs = Seq((0L, short), (1L, long), (2L, "totally different text"))
      .toDF("doc_id", "text")
    val cont = Dedup.containmentPairsSketch(docs, n = 3, threshold = 0.9)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(cont == Set((0L, 1L)))
  }

  test("line dedup keeps first occurrence, reassembles in order") {
    val docs = Seq(
      (0L, "header\nalpha\nbeta\nheader"),   // in-doc dup of "header"
      (1L, "header\ngamma\nalpha"),           // cross-doc dups
      (2L, "header\nalpha")                   // everything seen before
    ).toDF("doc_id", "text")
    val out = Dedup.dedupLines(docs, split(col("text"), "\n"))
      .orderBy("doc_id")
      .select("doc_id", "text", "n_lines", "n_kept")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(out == Seq(
      (0L, "header\nalpha\nbeta", 4L, 3L),
      (1L, "gamma", 3L, 1L),
      (2L, "", 2L, 0L)))
  }

  test("normalized dedup collapses case/punct/whitespace variants") {
    val docs = Seq(
      (0L, "Hello, world! This is   fine."),
      (1L, "hello world this is fine"),        // normalizes to the same
      (2L, "HELLO WORLD  this is fine ;"),     // ditto
      (3L, "a genuinely different document"))
      .toDF("doc_id", "text")
    val out = Dedup.exactNormalized(docs).orderBy("keep_id")
      .select("keep_id", "dup_count").as[(Long, Long)].collect().toSeq
    assert(out == Seq((0L, 3L), (3L, 1L)))
    // raw exact dedup would keep all four distinct
    assert(Dedup.exact(docs).count() == 4)
  }

  test("cross-contamination reports only cross-side pairs, oriented") {
    val corpusDocs = Seq(
      (0L, "alpha beta gamma delta epsilon zeta"),            // contaminated
      (1L, "totally unrelated corpus text about query plans"),
      (2L, "alpha beta gamma delta epsilon zeta"))            // also contaminated
      .toDF("doc_id", "text")
    val bench = Seq(
      (100L, "prefix alpha beta gamma delta epsilon zeta suffix"),
      (101L, "benchmark only content nothing shared here today"))
      .toDF("doc_id", "text")
    val out = Dedup.crossContamination(corpusDocs, bench, n = 3,
        threshold = 0.8)
      .select("corpus_doc", "benchmark_doc").as[(Long, Long)]
      .collect().toSet
    assert(out == Set((0L, 100L), (2L, 100L))) // oriented corpus->benchmark
    // corpus-internal near-dup (0,2) must NOT appear as contamination
    assert(!out.exists(p => p._1 < 100L && p._2 < 100L))
    // the sketch scale path reports the same contamination here
    val sk = Dedup.crossContamination(corpusDocs, bench, n = 3,
        threshold = 0.8, route = Dedup.SketchRoute)
      .select("corpus_doc", "benchmark_doc").as[(Long, Long)]
      .collect().toSet
    assert(sk == out)
    // auto-routing measures a low-df corpus and picks the exact path:
    // same answer, no caller flag needed
    val auto = Dedup.crossContamination(corpusDocs, bench, n = 3,
        threshold = 0.8, route = Dedup.AutoRoute)
      .select("corpus_doc", "benchmark_doc").as[(Long, Long)]
      .collect().toSet
    assert(auto == out)
  }

  test("auto-route statistic separates high-df floods from normal corpora") {
    def meanDf(docs: org.apache.spark.sql.DataFrame): Double = {
      val sg = docs
        .select(col("doc_id"),
          explode(TextAnalysis.hashedShinglesFromTokens(
            TextAnalysis.tokens(col("text")), 3)).as("sg"))
      Dedup.postingsMeanDf(
        sg.groupBy("sg").agg(count(lit(1)).as("df")), maxDf = 1 << 12)
    }
    val normal = meanDf(spark.read.parquet(s"$Sf0001/documents.parquet"))
    // 60 docs sharing one boilerplate phrase: dfs ~60 on most postings
    val flood = meanDf((0L until 60L).map(i =>
        (i, s"common footer text over and over again token$i"))
      .toDF("doc_id", "text"))
    // 32 = the calibrated default (Dedup.postingsMeanDf: disjoint
    // corpora 10.7, the round-6 duplication flood 107.2 — this corpus
    // sits in between the flood and the geometric-mean threshold)
    assert(normal < 32.0, s"normal corpus statistic $normal routes exact")
    assert(flood > 32.0, s"flood statistic $flood routes to the sketch")
  }

  test("auto-route boundary: corpora near the threshold route deterministically") {
    // corpora engineered just either side of the calibrated default (32):
    // D docs sharing one 8-token phrase plus 1 unique token each, probed
    // in union with a benchmark doc carrying the bare phrase — 6 shared
    // trigrams at df = D+1 and D singletons, so the probe statistic is
    // (6(D+1)² + D) / (6(D+1) + D): ≈27.0 at D=30, ≈44.0 at D=50. Pins
    // the boundary: a recalibration of sketchMeanDf or a change to the
    // statistic flips one of these asserts instead of silently flipping
    // which path the gate corpus takes.
    def corpus(d: Int) = (0 until d).map(i =>
      (i.toLong, s"c1 c2 c3 c4 c5 c6 c7 c8 unique$i")).toDF("doc_id", "text")
    val bench = Seq((1000L, "c1 c2 c3 c4 c5 c6 c7 c8")).toDF("doc_id", "text")
    def probeStat(docs: org.apache.spark.sql.DataFrame): Double = {
      val sg = docs.unionByName(bench)
        .select(explode(TextAnalysis.hashedShinglesFromTokens(
          TextAnalysis.tokens(col("text")), 3)).as("sg"))
      Dedup.postingsMeanDf(
        sg.groupBy("sg").agg(count(lit(1)).as("df")), maxDf = 1 << 12)
    }
    val below = probeStat(corpus(30))
    val above = probeStat(corpus(50))
    assert(below < 32.0 && above > 32.0,
      s"boundary moved ($below / $above vs 32) — recalibrate the pin")
    // and VALUES are route-independent on both corpora, so wherever a
    // future recalibration lands, the answer cannot change
    for (d <- Seq(30, 50)) {
      def run(route: Dedup.Route) =
        Dedup.crossContamination(corpus(d), bench, n = 3, threshold = 0.5,
            route = route)
          .select("corpus_doc", "benchmark_doc").as[(Long, Long)]
          .collect().toSet
      val exact = run(Dedup.ExactRoute)
      assert(exact == (0 until d).map(i => (i.toLong, 1000L)).toSet)
      assert(run(Dedup.SketchRoute) == exact, s"d=$d")
      assert(run(Dedup.AutoRoute) == exact, s"d=$d")
    }
  }

  test("bloom-prefiltered decontamination is value-identical to the exact path") {
    val corpusDocs = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta"),   // contaminated
      (1L, "totally different words nothing shared here at all"),
      (2L, "alpha beta gamma delta epsilon zeta"))             // contaminated
      .toDF("doc_id", "text")
    val bench = Seq(
      (100L, "prefix alpha beta gamma delta epsilon zeta suffix"),
      (101L, "benchmark only content nothing much common today"))
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("corpus_doc", "benchmark_doc", "containment")
        .as[(Long, Long, Double)].collect().toSet
    // threshold 0.8: doc 0 SURVIVES the bloom prune (4 shared trigrams)
    // but fails exact verify at 4/6 containment — the bloom-admitted
    // candidate must be rejected downstream, not emitted
    val exact = rows(Dedup.crossContamination(corpusDocs, bench, n = 3,
      threshold = 0.8, route = Dedup.ExactRoute))
    val bloom = rows(Dedup.bloomDecontamination(corpusDocs, bench, n = 3,
      threshold = 0.8))
    assert(bloom == exact)
    assert(exact.map(p => (p._1, p._2)) == Set((2L, 100L)))
    // threshold 0.5: doc 0 (0.667) qualifies too — parity again
    val exact5 = rows(Dedup.crossContamination(corpusDocs, bench, n = 3,
      threshold = 0.5, route = Dedup.ExactRoute))
    val bloom5 = rows(Dedup.bloomDecontamination(corpusDocs, bench, n = 3,
      threshold = 0.5))
    assert(bloom5 == exact5)
    assert(exact5.map(p => (p._1, p._2)) == Set((0L, 100L), (2L, 100L)))
    // disjoint corpora: the prune leaves no candidates and the result
    // is empty rather than an error
    val disjoint = Seq((7L, "utterly unrelated vocabulary entirely"))
      .toDF("doc_id", "text")
    assert(rows(Dedup.bloomDecontamination(disjoint, bench, n = 3,
      threshold = 0.5)).isEmpty)
  }

  test("connected components: reliable checkpoint mode is value-identical") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-cc-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    def run(reliable: Boolean) =
      Dedup.connectedComponents(pairs, reliable = reliable)
        .select("doc_id", "component", "is_keeper")
        .as[(Long, Long, Boolean)].collect().toSet
    assert(run(reliable = true) == run(reliable = false))
  }

  test("dropNearDups keeps exactly the keepers plus unpaired docs") {
    val pairs = Seq((0L, 1L), (1L, 2L)).toDF("doc_a", "doc_b")
    val out = Dedup.dropNearDups(corpus, Dedup.connectedComponents(pairs))
      .select("doc_id").as[Long].collect().toSet
    assert(out == Set(0L, 3L, 4L)) // component {0,1,2} -> keeper 0
  }

  test("connected components: long chain converges via pointer jumping") {
    // a 30-node chain has diameter 29 — plain propagation would need 29
    // rounds; pointer jumping converges well inside the default maxIter
    val chain = (0L until 29L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(chain)
      .select("doc_id", "component").as[(Long, Long)].collect().toMap
    assert(got.size == 30 && got.values.forall(_ == 0L))
  }

  test("duplicate spans: cross-doc run, within-doc repeat, short docs") {
    // A and B share exactly the 6-token run "c d e f g h" (positions 3-8
    // in both); C repeats its own 4-gram "p q r s" at starts 1 and 6 —
    // gap 5 > l=4, so the two islands must NOT merge; D is shorter than
    // l; E shares nothing.
    val docs = Seq(
      (10L, "a b c d e f g h i j"),
      (11L, "x1 x2 c d e f g h y1 y2"),
      (12L, "p q r s z p q r s w"),
      (13L, "u v w"),
      (14L, "m1 m2 m3 m4 m5 m6")
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(docs, l = 4)
      .orderBy("doc_id", "span_start")
      .select("doc_id", "span_start", "span_end", "span_tokens")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(spans == Seq(
      (10L, 3L, 8L, 6L),
      (11L, 3L, 8L, 6L),
      (12L, 1L, 4L, 4L), (12L, 6L, 9L, 4L)))
  }

  test("strip duplicate spans: removal exact, untouched docs identity") {
    val docs = Seq(
      (10L, "a b c d e f g h i j"),
      (11L, "x1 x2 c d e f g h y1 y2"),
      (12L, "p q r s z p q r s w"),
      (13L, "u v w"),
      (14L, "m1 m2 m3 m4 m5 m6")
    ).toDF("doc_id", "text")
    val out = Dedup.stripDuplicateSpans(docs, l = 4).orderBy("doc_id")
      .select("doc_id", "text", "n_tokens", "n_kept")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(out == Seq(
      (10L, "a b i j", 10L, 4L),
      (11L, "x1 x2 y1 y2", 10L, 4L),
      (12L, "z w", 10L, 2L),
      (13L, "u v w", 3L, 3L),
      (14L, "m1 m2 m3 m4 m5 m6", 6L, 6L)))
    // coverage parity with the span report: dropped tokens per doc ==
    // sum of its span_tokens
    val spanSum = Dedup.duplicateSpans(docs, l = 4)
      .groupBy("doc_id").agg(sum("span_tokens").as("st"))
      .as[(Long, Long)].collect().toMap
    out.foreach { case (id, _, n, kept) =>
      assert(n - kept == spanSum.getOrElse(id, 0L), s"doc $id")
    }
  }

  test("contaminated spans: benchmark overlap flagged, corpus-internal " +
    "duplication is NOT, islands merge") {
    // doc 20 shares the 6-token run "c d e f g h" with benchmark doc 90
    // (spans 3-8); doc 21 repeats ITS OWN 4-gram but never overlaps the
    // benchmark — corpus-internal duplication must not flag (the exact
    // semantic difference from duplicateSpans); doc 22 is clean.
    val corpus = Seq(
      (20L, "a b c d e f g h i j"),
      (21L, "p q r s z p q r s w"),
      (22L, "m1 m2 m3 m4 m5 m6")
    ).toDF("doc_id", "text")
    val bench = Seq(
      (90L, "x1 x2 c d e f g h y1 y2")
    ).toDF("doc_id", "text")
    val spans = Dedup.contaminatedSpans(corpus, bench, l = 4)
      .orderBy("doc_id", "span_start")
      .select("doc_id", "span_start", "span_end", "span_tokens")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(spans == Seq((20L, 3L, 8L, 6L)))
  }

  test("simhash: identical docs have distance 0, near dups small distance") {
    val sig = Dedup.simHash(corpus).orderBy("doc_id")
      .select("simhash").as[Long].collect()
    assert(sig(0) == sig(1))
    assert(java.lang.Long.bitCount(sig(0) ^ sig(2)) <= 12)
    assert(java.lang.Long.bitCount(sig(0) ^ sig(3)) > 12)
  }

  test("simhash kernel == exploded aggregate spelling, both families, " +
    "on real sf0.001 documents; empty docs absent from both") {
    val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
      .select("doc_id", "text")
      // plant edge cases: null text (no token array -> doc absent),
      // empty text (split yields [""] -> one empty token), 1-token doc
      .union(Seq((900001L, Option.empty[String]), (900002L, Option("solo")),
        (900003L, Option(""))).toDF("doc_id", "text"))
    for ((hasher, bits) <- Seq((XxSeededHash, 64), (PortableSeededHash, 60))) {
      val kernel = Dedup.simHash(docs, hasher, bits)
        .as[(Long, Long)].collect().toMap
      val exploded = Dedup.simHash(docs, hasher, bits, kernel = false)
        .as[(Long, Long)].collect().toMap
      assert(kernel == exploded, s"family ${hasher.name}")
      assert(!kernel.contains(900001L)) // null text: no signature row
      assert(kernel.contains(900002L) && kernel.contains(900003L))
    }
  }

  test("minhash kernel == exploded distinct-shingle spelling, both families") {
    val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
      .select("doc_id", "text")
      .union(Seq((900001L, Option.empty[String]),
        (900002L, Option("one two")),        // < n tokens: no shingles
        (900003L, Option("one two three four"))).toDF("doc_id", "text"))
    for (hasher <- Seq(XxSeededHash, PortableSeededHash)) {
      val kernel = Dedup.minHashSignatures(docs, n = 3, k = 16, hasher)
        .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
      val exploded = Dedup.minHashSignatures(docs, n = 3, k = 16, hasher,
          kernel = false)
        .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
      assert(kernel == exploded, s"family ${hasher.name}")
      assert(!kernel.contains(900001L) && !kernel.contains(900002L))
      assert(kernel.contains(900003L))
    }
  }

  test("incrementalNearDup flags the batch against the index only") {
    // index = docs 0/3/4; new batch = 10 (dup of 0), 11 (near dup of 0),
    // 12 (novel). No corpus-corpus or batch-batch pair may appear.
    val index = corpus.where(col("doc_id").isin(0L, 3L, 4L))
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (11L, "the quick brown fox jumps over the lazy cat near the river bank"),
      (12L, "novel ingest content with entirely fresh vocabulary tokens here")
    ).toDF("doc_id", "text")
    val sigs = Dedup.minHashSignatures(index, 3, 16)
    // 8 narrow bands: a one-token near dup agrees on ~57% of signature
    // rows, so 2-row bands make the planted pair a reliable candidate
    // (4-row bands would catch it only ~1/3 of the time by LSH design)
    val out = Dedup.incrementalNearDup(batch, sigs, bands = 8,
        estThreshold = 0.3)
      .select("new_doc", "corpus_doc", "est_jaccard")
      .as[(Long, Long, Double)].collect()
    val pairs = out.map(r => (r._1, r._2)).toSet
    assert(out.exists(r => r._1 == 10L && r._2 == 0L && r._3 == 1.0))
    assert(pairs.contains((11L, 0L)))
    assert(!pairs.exists(_._1 == 12L)) // novel doc clean
    assert(out.forall(r => Set(10L, 11L, 12L)(r._1) && Set(0L, 3L, 4L)(r._2)))
  }

  test("incrementalNearDup matches symmetric LSH on the cross pairs") {
    val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
    val split = pmod(xxhash64(col("doc_id")), lit(10L))
    val indexDocs = docs.where(split < 7)
    val batchDocs = docs.where(split >= 7)
    val sym = Dedup.minHashLsh(docs)
      .select("doc_a", "doc_b", "est_jaccard")
      .as[(Long, Long, Double)].collect()
    val batchIds = batchDocs.select("doc_id").as[Long].collect().toSet
    val indexIds = indexDocs.select("doc_id").as[Long].collect().toSet
    val expected = sym.flatMap { case (a, b, e) =>
      // orient: (new, corpus); symmetric run emits a<b only
      if (batchIds(a) && indexIds(b)) Some((a, b, e))
      else if (batchIds(b) && indexIds(a)) Some((b, a, e))
      else None
    }.toSet
    val inc = Dedup
      .incrementalNearDup(batchDocs, Dedup.minHashSignatures(indexDocs, 3, 16))
      .select("new_doc", "corpus_doc", "est_jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(inc == expected)
  }

  test("persisted signature index: roundtrip identical, index side exchange-free") {
    val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
    val split = pmod(xxhash64(col("doc_id")), lit(10L))
    val indexDocs = docs.where(split < 7)
    val batchDocs = docs.where(split >= 7)
    val sigs = Dedup.minHashSignatures(indexDocs, 3, 16)
    Dedup.writeSignatureIndex(sigs, "graft_spec_index")
    val indexed = Dedup.incrementalNearDupIndexed(spark, batchDocs,
      "graft_spec_index")
    // bit-identical to the build-in-query form on the same corpus
    val inMem = Dedup.incrementalNearDup(batchDocs, sigs)
      .select("new_doc", "corpus_doc", "est_jaccard", "n_bands_hit")
      .as[(Long, Long, Double, Long)].collect().toSet
    val fromIdx = indexed
      .select("new_doc", "corpus_doc", "est_jaccard", "n_bands_hit")
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(fromIdx == inMem && fromIdx.nonEmpty)
    // the band join must read the persisted index WITHOUT re-shuffling
    // it: the bucketed (band, bucket) layout satisfies the join's
    // required distribution, so only the delta side exchanges. Disable
    // broadcast so the join actually plans distribution requirements.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = Dedup.incrementalNearDupIndexed(spark, batchDocs,
          "graft_spec_index")
        .queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"),
        s"expected a bucketed scan of the persisted index in:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("persisted fingerprint index: probe == in-query exact join, " +
    "index side exchange-free") {
    val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
    val split = pmod(xxhash64(col("doc_id")), lit(10L))
    val corpus = docs.where(split < 7)
    // plant one guaranteed cross-split duplicate: a batch doc carrying a
    // corpus doc's exact text (sf0.001's own dup groups may land
    // entirely on one side of the hash split)
    val planted = corpus.orderBy("doc_id").limit(1)
      .select((col("doc_id") + 900000L).as("doc_id"), col("text"),
        col("lang"), col("source"), col("n_chars"))
    val batch = docs.where(split >= 7).unionByName(planted)
    Dedup.writeFingerprintIndex(corpus, "graft_spec_fpidx")
    val fromIdx = Dedup.incrementalExactDedup(spark, batch,
        "graft_spec_fpidx")
      .as[(Long, Boolean, Option[Long])].collect().toSet
    val inMem = batch.select(col("doc_id"), md5(col("text")).as("fp"))
      .join(Dedup.exact(corpus)
        .select(col("fp"), col("keep_id").as("keeper_id")),
        Seq("fp"), "left")
      .select(col("doc_id"), col("keeper_id").isNotNull, col("keeper_id"))
      .as[(Long, Boolean, Option[Long])].collect().toSet
    assert(fromIdx == inMem)
    assert(fromIdx.exists(_._2), "fixture must have cross-split dups")
    assert(fromIdx.exists(!_._2))
    // the membership probe must read the bucketed fp table without
    // re-shuffling it (disable broadcast so distribution plans)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = Dedup.incrementalExactDedup(spark, batch,
        "graft_spec_fpidx").queryExecution.executedPlan.toString
      assert(plan.contains("Bucketed: true"),
        s"expected a bucketed scan of the fp index in:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("dedup pair-recall report: one consistent row per sketch family") {
    import spark.implicits._
    val rows = graft.queries.LlmQueries.dedupPairRecall(spark, Sf0001)
      .as[(String, Long, Long, Long, Double, Double)].collect().toSeq
    assert(rows.map(_._1) == Seq("minhash_lsh", "simhash"))
    rows.foreach { case (m, nCand, nHits, nTrue, recall, precision) =>
      assert(nTrue > 0, "fixture must contain exact near-dup pairs")
      assert(nHits <= nCand && nHits <= nTrue, s"$m: impossible hit count")
      assert(recall >= 0.0 && recall <= 1.0, s"$m: recall $recall")
      assert(precision >= 0.0 && precision <= 1.0, s"$m: precision $precision")
    }
    // the planted dup groups are near-identical texts: both sketch
    // families must recover a nonzero fraction of them
    assert(rows.forall(_._3 > 0), s"zero hits in $rows")
  }

  test("deletion-neighborhood join: ed≤1 complete, ed=2 candidates rejected") {
    import spark.implicits._
    val names = Seq(
      (1L, "hello"), // ↔ 2 (deletion), ↔ 3 (substitution)
      (2L, "helo"),
      (3L, "yello"),
      (4L, "ab"),    // ↔ 5 shares variants "a"/"b" but lev = 2: must be
      (5L, "ba"),    //   generated as a candidate and then REJECTED
      (6L, "zzzzz")) // no neighbors
      .toDF("k", "nm")
    val out = Dedup.deletionNeighborhoodJoin(names, col("k"), col("nm"))
      .select("id_a", "id_b", "dist").as[(Long, Long, Long)]
      .collect().toSet
    // exhaustive ground truth over all pairs
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val all = Seq((1L, "hello"), (2L, "helo"), (3L, "yello"), (4L, "ab"),
      (5L, "ba"), (6L, "zzzzz"))
    val truth = (for {
      (ia, na) <- all; (ib, nb) <- all if ia < ib
      d = lev(na, nb) if d <= 1
    } yield (ia, ib, d.toLong)).toSet
    assert(out == truth, s"got $out, want $truth")
    assert(!out.exists(p => p._1 == 4L && p._2 == 5L))
  }

  // The union-of-bands spelling the single-generator banding replaced: one
  // projection of the signature frame per band, unioned, then the same
  // hot-bucket cap and the same candidate join and verification.
  private def unionBanded(sig: DataFrame, keep: Seq[String],
                          buckets: Seq[Column], maxBucket: Int): DataFrame = {
    val banded = buckets.zipWithIndex.map { case (c, b) =>
      sig.select(keep.map(col) :+ lit(b).as("band") :+ c.as("bucket"): _*)
    }.reduce(_ union _)
    val hot = banded.groupBy("band", "bucket").agg(count(lit(1)).as("n"))
      .where(col("n") > maxBucket).select("band", "bucket")
    banded.join(hot, Seq("band", "bucket"), "left_anti")
  }

  private def bandJoin(banded: DataFrame): DataFrame =
    banded.as("a").join(banded.as("b"), col("a.band") === col("b.band") &&
      col("a.bucket") === col("b.bucket") && col("a.doc_id") < col("b.doc_id"))

  private def unionMinHashLsh(docs: DataFrame, maxBucket: Int) = {
    val sig = Dedup.minHashSignatures(docs, 3, 16)
    val banded = unionBanded(sig, Seq("doc_id"), (0 until 4).map { b =>
      concat_ws(",", (4 * b until 4 * b + 4).map(i => col(s"mh$i").cast("string")): _*)
    }, maxBucket)
    val cand = bandJoin(banded)
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_bands_hit"))
    def side(s: String) = sig.select(col("doc_id").as(s"doc_$s") +:
      (0 until 16).map(i => col(s"mh$i").as(s"$s$i")): _*)
    val est = (0 until 16).map(i => when(col(s"a$i") === col(s"b$i"), 1)
      .otherwise(0)).reduce(_ + _).cast("double") / 16
    cand.join(side("a"), "doc_a").join(side("b"), "doc_b")
      .where(est >= 0.3)
      .select(col("doc_a"), col("doc_b"), round(est, 4), col("n_bands_hit"))
      .as[(Long, Long, Double, Long)].collect().sorted.toSeq
  }

  private def unionSimHashPairs(docs: DataFrame, maxBucket: Int) = {
    val sig = Dedup.simHash(docs)
    val banded = unionBanded(sig, Seq("doc_id", "simhash"), (0 until 4).map(b =>
      shiftrightunsigned(col("simhash"), 16 * b).bitwiseAND(0xFFFFL)), maxBucket)
    bandJoin(banded)
      .select(col("a.doc_id"), col("b.doc_id"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("long").as("h"))
      .where(col("h") <= 6).distinct()
      .as[(Long, Long, Long)].collect().sorted.toSeq
  }

  test("single-generator banding == union-of-bands spelling, minhash and simhash, " +
    "default and binding hot-bucket cap") {
    // sf0.01 documents plus a 40-copy template flood, so a cap of 8 binds
    val sf001 = new java.io.File(Sf0001).getParent + "/sf0.01"
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
      .select("doc_id", "text")
      .union((0 until 40).map(i => (9000000L + i,
        "shared boilerplate template text repeated across the corpus"))
        .toDF("doc_id", "text"))
    val got = Seq(1 << 12, 8).map { cap =>
      val mh = Dedup.minHashLsh(docs, maxBucket = cap)
        .select("doc_a", "doc_b", "est_jaccard", "n_bands_hit")
        .as[(Long, Long, Double, Long)].collect().sorted.toSeq
      val sh = Dedup.simHashPairs(docs, maxBucket = cap)
        .as[(Long, Long, Long)].collect().sorted.toSeq
      assert(mh == unionMinHashLsh(docs, cap), s"minhash, cap $cap")
      assert(sh == unionSimHashPairs(docs, cap), s"simhash, cap $cap")
      (mh, sh)
    }
    assert(got(0)._1.nonEmpty && got(0)._2.nonEmpty)
    assert(got(0)._1 != got(1)._1 && got(0)._2 != got(1)._2,
      "the cap of 8 must drop the template flood")
  }

  test("minhash LSH plan: no Union, one banding Generate over all bands") {
    import org.apache.spark.sql.catalyst.expressions.{CreateArray, Inline}
    import org.apache.spark.sql.catalyst.plans.logical.{Generate, Union}
    val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
    // the banded frame as minHashLsh builds it, before it is materialized
    val banded = Dedup.bandSignatures(Dedup.minHashSignatures(docs, 3, 16),
      k = 16, bands = 4, maxBucket = 1 << 12)
    val plan = banded.queryExecution.optimizedPlan
    assert(plan.collect { case u: Union => u }.isEmpty, s"Union in:\n$plan")
    // the banding feeds both the hot-bucket aggregate and the anti-join:
    // every use is the same generator
    val gens = plan.collect { case g: Generate => g.generator }
    assert(gens.nonEmpty && gens.map(_.sql).distinct.size == 1,
      s"banding Generates in:\n$plan")
    gens.head match {
      case Inline(a: CreateArray) => assert(a.children.size == 4)
      case g => fail(s"unexpected generator $g")
    }
    // minHashLsh materializes that frame once: its own plan bands nothing
    val lsh = Dedup.minHashLsh(docs, bands = 4).queryExecution.optimizedPlan
    assert(lsh.collect { case g: Generate => g }.isEmpty,
      s"banding recomputed in:\n$lsh")
  }

  test("connected components release their cached edge frame; repeated " +
    "calls leave storage flat; rounds carry job descriptions") {
    val sc = spark.sparkContext
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    def stored = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val none = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    def run(p: DataFrame) = Dedup.connectedComponents(p)
      .select("doc_id", "component").as[(Long, Long)].collect().toMap
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(
          "spark.job.description"))).foreach(descs.add)
    }
    spark.catalog.clearCache()
    sc.addSparkListener(listener)
    sc.setJobDescription("outer")
    try {
      assert(run(pairs) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
      assert(run(none).isEmpty)
      assert(sc.getLocalProperty("spark.job.description") == "outer")
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
    assert(cache.isEmpty)
    val rounds = Set(0, 1).map(i => s"connected_components:round=$i")
    val deadline = System.nanoTime() + 20000000000L
    while (!rounds.forall(descs.contains) && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(rounds.forall(descs.contains), s"descriptions $descs")

    System.gc()
    val base = stored
    (1 to 10).foreach(_ => run(pairs))
    assert(cache.isEmpty)
    // the rounds' local checkpoints are released once unreachable
    val gcDeadline = System.nanoTime() + 20000000000L
    while (stored > base && System.nanoTime() < gcDeadline) {
      System.gc(); Thread.sleep(200)
    }
    assert(stored <= base, s"storage grew from $base to $stored bytes")
  }

  /** Connected components with the earlier round shape, the parity
    * witness: a checkpointed pair frame, an edge frame unioned from it,
    * and a pointer jump that self-joins each round's neighbor-min.
    * Returns the (doc_id, component, is_keeper) rows and the rounds run. */
  private def selfJoinComponents(pairs: DataFrame): (Set[(Long, Long, Boolean)], Int) = {
    val pr = pairs.select(col("doc_a").cast("long").as("src"),
      col("doc_b").cast("long").as("dst")).localCheckpoint()
    val both = pr.union(pr.select(col("dst").as("src"), col("src").as("dst")))
    val edgesSelf = both.union(both.select(col("src"), col("src").as("dst")))
      .distinct().repartition(col("src")).persist()
    val empty = edgesSelf.count() == 0
    var labels = (if (empty) pr else edgesSelf.where(col("src") === col("dst")))
      .select(col("src").as("node"), col("src").as("label"))
    var prevSum: java.math.BigDecimal = null
    var converged = empty
    var i = 0
    while (!converged && i < 25) {
      val nbrMin = edgesSelf.join(labels, col("src") === col("node"))
        .groupBy(col("dst")).agg(min("label").as("label"))
        .select(col("dst").as("node"), col("label"))
      val next = nbrMin.as("x")
        .join(nbrMin.select(col("node").as("ln"), col("label").as("ll")),
          col("x.label") === col("ln"))
        .select(col("x.node").as("node"), least(col("x.label"), col("ll")).as("label"))
        .localCheckpoint()
      val s = next.agg(sum(col("label").cast("decimal(38,0)"))).head().getDecimal(0)
      converged = prevSum != null && s.compareTo(prevSum) == 0
      prevSum = s
      labels = next
      i += 1
    }
    val out = labels.select(col("node"), col("label"), col("label") === col("node"))
      .as[(Long, Long, Boolean)].collect().toSet
    edgesSelf.unpersist()
    (out, i)
  }

  /** Runs `body` and returns how many jobs each job description ran. */
  private def jobsByDescription(body: => Unit): Map[String, Int] = {
    val sc = spark.sparkContext
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(
          "spark.job.description"))).foreach(descs.add)
    }
    org.apache.spark.sql.graft.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      body
      org.apache.spark.sql.graft.ListenerBusDrain(sc)
    } finally sc.removeSparkListener(listener)
    descs.toArray(Array.empty[String]).groupBy(identity).map {
      case (d, js) => d -> js.length
    }
  }

  test("connected components == self-join round witness: chain, star, " +
    "bridged cliques, duplicate and reversed pairs, empty, reliable") {
    val chain = (0L until 2999L).map(i => (i, i + 1))
    val star = (0L until 100L).filter(_ != 50L).map(i => (50L, i))
    def clique(ids: Seq[Long]) =
      for (x <- ids; y <- ids if x < y) yield (x, y)
    val cliques = clique(20L until 30L) ++ clique(100L until 110L) ++
      Seq((109L, 20L), (500L, 501L))
    val dups = Seq((1L, 2L), (2L, 1L), (1L, 2L), (3L, 2L), (2L, 3L),
      (5L, 5L), (7L, 6L), (6L, 7L))
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-parity").toString
    spark.sparkContext.setCheckpointDir(dir)
    val cases = Seq(
      ("chain", chain, false),
      ("star", star, false), ("bridged cliques", cliques, false),
      ("duplicate and reversed", dups, false),
      ("empty", Seq.empty[(Long, Long)], false),
      ("bridged cliques, reliable", cliques, true))
    cases.foreach { case (name, edges, reliable) =>
      val pairs = edges.toDF("doc_a", "doc_b")
      val (want, oldRounds) = selfJoinComponents(pairs)
      var got = Set.empty[(Long, Long, Boolean)]
      val jobs = jobsByDescription {
        got = Dedup.connectedComponents(pairs, reliable = reliable)
          .select("doc_id", "component", "is_keeper")
          .as[(Long, Long, Boolean)].collect().toSet
      }
      val rounds = jobs.keys.count(_.startsWith("connected_components:round="))
      assert(got == want, name)
      assert(rounds <= oldRounds + 1, s"$name: $rounds rounds, witness $oldRounds")
    }
  }

  test("connected components: chains and trees in random id order converge " +
    "in logarithmic rounds") {
    // the witness round needs 60-150 rounds on such a chain, so it stops
    // unconverged at maxIter; the hook keeps the jump logarithmic
    val rnd = new scala.util.Random(7)
    val perm = rnd.shuffle((0L until 300L).toVector)
    val shuffledChain = perm.zip(perm.tail)
    val tree = (1 until 300).map(i => (perm(i), perm(rnd.nextInt(i))))
    Seq("shuffled chain" -> shuffledChain, "random tree" -> tree).foreach {
      case (name, edges) =>
        var got = Map.empty[Long, Long]
        val jobs = jobsByDescription {
          got = Dedup.connectedComponents(edges.toDF("doc_a", "doc_b"))
            .select("doc_id", "component").as[(Long, Long)].collect().toMap
        }
        assert(got.size == 300 && got.values.forall(_ == 0L), name)
        val rounds = jobs.keys.count(_.startsWith("connected_components:round="))
        assert(rounds <= 16, s"$name: $rounds rounds")
    }
    // too few rounds for a proof: an error, not partial components
    val err = intercept[IllegalStateException] {
      Dedup.connectedComponents(shuffledChain.toDF("doc_a", "doc_b"), maxIter = 2)
    }
    assert(err.getMessage.contains("maxIter = 2") &&
      """sums were \d+, \d+$""".r.findFirstIn(err.getMessage).nonEmpty,
      err.getMessage)
  }

  test("LSH operators and connected components leave no cache entry; " +
    "repeated calls leave storage flat; a round runs at most 5 jobs") {
    val sc = spark.sparkContext
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    def stored = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
    val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    // the count-filter cap test's corpus: maxDf = 10 takes the hot branch
    val flood = ((0L until 40L).map(i =>
        (i, s"common footer text over and over again token$i")) ++ Seq(
      (100L, "alpha beta gamma delta epsilon zeta"),
      (101L, "prefix words alpha beta gamma delta epsilon zeta suffix words")))
      .toDF("doc_id", "text")
    // every document has a copy on the benchmark side
    val bench = docs.select((col("doc_id") + 1000000L).as("doc_id"),
      col("text"))
    val emb = spark.read.parquet(s"$Sf0001/embeddings.parquet")
    val q = emb.where(col("vec_id") < 10)
    val labeled = docs.withColumn("label", (col("doc_id") % 2).cast("int"))
    val calls = Seq[(String, () => Long)](
      "minHashLsh" -> (() => Dedup.minHashLsh(docs).count()),
      "simHashPairs" -> (() => Dedup.simHashPairs(docs).count()),
      "connectedComponents" -> (() => Dedup.connectedComponents(pairs).count()),
      "ngramJaccardPairs 0.3" ->
        (() => Dedup.ngramJaccardPairs(docs, 3, 0.3).count()),
      "ngramJaccardPairs 0.5" ->
        (() => Dedup.ngramJaccardPairs(docs, 3, 0.5).count()),
      "jaccardCountFilter maxDf" ->
        (() => Dedup.jaccardCountFilter(flood, 3, 0.3, maxDf = 10).count()),
      "containmentPairs" -> (() => Dedup.containmentPairs(docs, 3, 0.5).count()),
      "crossContamination" ->
        (() => Dedup.crossContamination(docs, bench, 3, 0.5).count()),
      "lshTopK" -> (() => Similarity.lshTopK(q, emb, k = 5).count()),
      "lshTopKMulti" -> (() => Similarity.lshTopKMulti(q, emb, k = 5).count()),
      "trainLogisticHashed" ->
        (() => Importance.trainLogisticHashed(labeled).length.toLong))
    spark.catalog.clearCache()
    calls.foreach { case (name, call) =>
      assert(call() > 0, name)
      assert(cache.isEmpty, s"$name left a cache entry")
    }
    System.gc()
    val base = stored
    calls.foreach { case (name, call) =>
      (1 to 10).foreach(_ => call())
      assert(cache.isEmpty, name)
    }
    // the local checkpoints are released once unreachable
    val gcDeadline = System.nanoTime() + 20000000000L
    while (stored > base && System.nanoTime() < gcDeadline) {
      System.gc(); Thread.sleep(200)
    }
    assert(stored <= base, s"storage grew from $base to $stored bytes")

    val jobs = jobsByDescription(Dedup.connectedComponents(pairs).count())
    val rounds = jobs.filter(_._1.startsWith("connected_components:round="))
    assert(rounds.nonEmpty && rounds.values.forall(_ <= 5), s"jobs per round $rounds")
  }
}
