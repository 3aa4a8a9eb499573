package graft.llm

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** CCNet-style n-gram LM scoring: decision-rule properties. */
class LanguageModelSpec extends SparkSpec {
  import spark.implicits._

  test("repeated boilerplate scores higher than unique text (self-model)") {
    val boiler = "the standard cookie banner text appears on every page here"
    val docs = ((0 until 20).map(i => (i.toLong, boiler)) ++ Seq(
      (100L, "zq xv wj kp qm ln rt yb fd gh cs"),
      (101L, "ab"))) // shorter than n=3: no gram positions
      .toDF("doc_id", "text")
    val out = LanguageModel.ngramLogProbScore(docs)
      .select("doc_id", "n_grams", "avg_logprob")
      .as[(Long, Long, Double)].collect()
    val byId = out.map(r => r._1 -> r).toMap
    // the sub-n doc is absent (score undefined)
    assert(!byId.contains(101L) && out.length == 21)
    // high-count boilerplate grams beat the hapax gibberish
    assert(byId(0L)._3 > byId(100L)._3)
    // identical docs score identically
    assert(byId(0L) == byId(1L).copy(_1 = 0L))
  }

  test("external model: every unseen gram gets exactly the smoothed floor") {
    val docs = Seq((0L, "a b c d e"), (1L, "f g h i")).toDF("doc_id", "text")
    val model = Seq((9L, "completely disjoint vocabulary text here now ok"))
      .toDF("doc_id", "text")
    // model vocab V = 7 distinct tokens; every doc gram AND context is
    // unseen -> each position contributes ln((0+1)/(0+7))
    val expected = BigDecimal(math.log(1.0 / 7))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val out = LanguageModel.ngramLogProbScore(docs, 3, Some(model))
      .select("doc_id", "avg_logprob").as[(Long, Double)].collect().toMap
    assert(out == Map(0L -> expected, 1L -> expected))
  }

  test("pmiCollocations: exclusive pair tops, promiscuous pair scores low") {
    // "hong kong" only ever co-occur; "of the" combine freely with others
    val docs = ((1L to 10L).map(i =>
      (i, "hong kong of the and of a the by of the end here now")) ++
      (11L to 20L).map(i => (i, "the cat of a dog the end a fish by now")))
      .toDF("doc_id", "text")
    val out = LanguageModel.pmiCollocations(docs, minCount = 5, topK = 10)
      .select("w1", "w2", "pmi").as[(String, String, Double)].collect()
    assert(out.head._1 == "hong" && out.head._2 == "kong")
    val pmi = out.map(r => (r._1, r._2) -> r._3).toMap
    assert(!pmi.contains(("of", "the")) ||
      pmi(("of", "the")) < pmi(("hong", "kong")))
    // ranked descending on the rounded score
    assert(out.map(_._3).toSeq == out.map(_._3).sortBy(-_).toSeq)
  }

  test("perplexityBuckets: terciles cover, order by score, boilerplate=head") {
    val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
    val out = LanguageModel.perplexityBuckets(docs)
      .select("doc_id", "avg_logprob", "ppl_bucket")
      .as[(Long, Double, String)].collect()
    val n = out.length
    val byB = out.groupBy(_._3).view.mapValues(_.length).toMap
    // tercile sizes: tail gets ceil(n/3)-ish, every bucket non-empty and
    // the three partition the corpus
    assert(byB.keySet == Set("head", "middle", "tail"))
    assert(byB.values.sum == n)
    assert(byB("tail") >= (n + 2) / 3 - 1 && byB("tail") <= n / 3 + 1)
    // bucket order respects the score order exactly
    val maxTail = out.filter(_._3 == "tail").map(_._2).max
    val minMid = out.filter(_._3 == "middle").map(_._2).min
    val maxMid = out.filter(_._3 == "middle").map(_._2).max
    val minHead = out.filter(_._3 == "head").map(_._2).min
    assert(maxTail <= minMid && maxMid <= minHead)
  }

  test("trainPhrases: round 2 scores the merged stream, greedy wins overlaps") {
    // per-doc unique filler tokens keep every bigram except (new,york)
    // and (york,city) under minCount; both promoted in round 1 (equal
    // PMI, both survive topK=2). Greedy merging of "new york city" takes
    // (new,york) at position 0 and CONSUMES york, so (york,city) — also
    // in the vocab — must NOT fire at position 1. Round 2 then sees
    // (new_york, city) as the only above-floor bigram of the merged
    // stream — only possible if the re-tokenization actually rewrote the
    // stream between rounds.
    val docs = (0 until 8).map(i =>
        (i.toLong, s"new york city t${i}a new york city t${i}b"))
      .toDF("doc_id", "text")
    val out = LanguageModel.trainPhrases(docs,
        rounds = 2, minCount = 5, topK = 2)
      .select("merge_round", "w1", "w2", "c_ab")
      .as[(Long, String, String, Long)].collect()
    val r1 = out.filter(_._1 == 1L).map(r => (r._2, r._3)).toSet
    val r2 = out.filter(_._1 == 2L).map(r => ((r._2, r._3), r._4)).toMap
    assert(r1 == Set(("new", "york"), ("york", "city")))
    assert(r2 == Map(("new_york", "city") -> 16L), s"got $r2")
  }

  test("trainPhrases greedy merge: runs alternate (a a a a a -> a_a a_a a)") {
    // pure-run corpus: (a,a) is round 1's only candidate; greedy
    // left-to-right merging of "a a a a a" gives a_a a_a a. Round 2's
    // top-1 by PMI is then (a_a, a) [pmi ln(1)=0 beats (a_a,a_a)'s
    // ln(0.5)]; a wrong merge parity (a a_a a_a) would surface
    // (a, a_a) instead — the w1 pins the alternation direction.
    val docs = (0 until 10).map(i => (i.toLong, "a a a a a"))
      .toDF("doc_id", "text")
    val out = LanguageModel.trainPhrases(docs,
        rounds = 2, minCount = 5, topK = 1)
      .select("merge_round", "w1", "w2", "c_ab")
      .as[(Long, String, String, Long)].collect()
    val r1 = out.filter(_._1 == 1L).head
    assert((r1._2, r1._3) == ("a", "a"))
    // 10 docs x 4 consecutive (a,a) positions = 40 raw pairs
    assert(r1._4 == 40L)
    val r2 = out.filter(_._1 == 2L).head
    assert((r2._2, r2._3) == ("a_a", "a"), s"got $r2")
    // greedy: exactly one (a_a, a) adjacency per doc
    assert(r2._4 == 10L)
  }

  test("applyPhrases: greedy merge on a hand example; empty vocab identity") {
    val docs = Seq((1L, "new york new york city"), (2L, "plain text"))
      .toDF("doc_id", "text")
    val vocab = Seq((1L, "new", "york", 2L, 0.0))
      .toDF("merge_round", "w1", "w2", "c_ab", "pmi")
    val out = LanguageModel.applyPhrases(docs, vocab, rounds = 1)
      .orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(out == Seq(
      (1L, 5L, 3L, "new_york new_york city"),
      (2L, 2L, 2L, "plain text")))
    val empty = vocab.where(col("merge_round") === 99L)
    val id = LanguageModel.applyPhrases(docs, empty, rounds = 1)
      .orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(id == Seq(
      (1L, 5L, 5L, "new york new york city"),
      (2L, 2L, 2L, "plain text")))
  }

  test("applyPhrases round 2 consumes round-1 merged tokens") {
    // round 1 merges (a,b); round 2 merges (a_b,c) — only reachable if
    // application replays rounds IN ORDER on the merged stream
    val docs = Seq((1L, "a b c d a b c")).toDF("doc_id", "text")
    val vocab = Seq(
        (1L, "a", "b", 2L, 0.0),
        (2L, "a_b", "c", 2L, 0.0))
      .toDF("merge_round", "w1", "w2", "c_ab", "pmi")
    val out = LanguageModel.applyPhrases(docs, vocab, rounds = 2)
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(out == Seq((1L, 7L, 3L, "a_b_c d a_b_c")))
  }

  test("vocabCoverage matches the hand-computed histogram interpolation") {
    // "a a a b b c": unigrams a×3 b×2 c×1, bigrams "a a"×2 "a b"×1
    // "b b"×1 "b c"×1 → hist {3:1, 2:2, 1:4}, 7 types, mass 11
    val docs = Seq((1L, "a a a b b c")).toDF("doc_id", "text")
    val out = LanguageModel.vocabCoverage(docs,
        checkpoints = Seq(1L, 2L, 3L, 4L, 100L))
      .as[(Long, Long, Long, Long, Double)].collect().toList
    assert(out == List(
      (1L, 7L, 3L, 11L, 0.2727),   // the count-3 type alone
      (2L, 7L, 5L, 11L, 0.4545),   // + one of the count-2 class
      (3L, 7L, 7L, 11L, 0.6364),   // the full count-2 class
      (4L, 7L, 8L, 11L, 0.7273),   // one into the count-1 tail
      (100L, 7L, 11L, 11L, 1.0)))  // saturated past all types
  }

  test("vocabCoverage is monotone and saturates on the real corpus") {
    val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
    val cov = LanguageModel.vocabCoverage(docs)
      .select("vocab_size", "coverage").as[(Long, Double)].collect().toList
    assert(cov.map(_._2) == cov.map(_._2).sorted)
    assert(cov.last._2 <= 1.0 && cov.head._2 > 0.0)
  }

  // Sennrich et al. 2016's worked corpus, counts made explicit:
  // low×5 lower×2 newest×6 widest×3. Weighted pair counts round 1:
  // (e,s)=(s,t)=(t,</w>)=9 — tie broken on s1 → (e,s); then (es,t)=9,
  // (est,</w>)=9, then (l,o)=(o,w)=7 → (l,o), then (lo,w)=7.
  private val bpeCorpus = Seq((0L,
    (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")))
    .toDF("doc_id", "text")

  test("trainBpe reproduces the hand-computed merge sequence w/ ties") {
    val out = LanguageModel.trainBpe(bpeCorpus, merges = 5,
        minPairCount = 1)
      .as[(Long, String, String, Long)].collect().toList
    assert(out == List(
      (1L, "e", "s", 9L),
      (2L, "es", "t", 9L),
      (3L, "est", "</w>", 9L),
      (4L, "l", "o", 7L),
      (5L, "lo", "w", 7L)))
  }

  test("trainBpe is partitioning-independent") {
    val a = LanguageModel.trainBpe(bpeCorpus, merges = 4, minPairCount = 1)
      .collect().toList
    val b = LanguageModel.trainBpe(bpeCorpus.repartition(7), merges = 4,
      minPairCount = 1).collect().toList
    assert(a == b && a.size == 4)
  }

  test("trainBpe stopping rule: below-gate rounds emit nothing") {
    // every pair occurs once; minPairCount=2 never met
    val docs = Seq((0L, "ab cd")).toDF("doc_id", "text")
    assert(LanguageModel.trainBpe(docs, merges = 3, minPairCount = 2)
      .count() == 0)
  }

  test("applyBpe tokenizes with the learned merges; counts + fertility") {
    val vocab = LanguageModel.trainBpe(bpeCorpus, merges = 5,
      minPairCount = 1)
    // newest -> [n, e, w, est</w>] = 4 subwords (es, est, est</w> chain);
    // low -> [low, </w>] = 2 ((l,o) then (lo,w); (w,</w>) never merged)
    val docs = Seq((0L, "low newest"), (1L, "newest newest"))
      .toDF("doc_id", "text")
    val out = LanguageModel.applyBpe(docs, vocab, merges = 5)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toList
    assert(out == List((0L, 2L, 6L, 3.0), (1L, 2L, 8L, 4.0)))
  }

  test("trainUnigram: hand-computed Viterbi on a tiny corpus — the " +
    "frequent bigram wins one piece, unchosen singles floor at 1") {
    // words: ab (x3), c (x1). Seed freqs: a=3, b=3, ab=3, c=1 (total 10).
    // Round-1 scores (fixed-point ln): ab = a = b = round(ln(0.3)e6),
    // c = round(ln(0.1)e6). Viterbi("ab"): [ab] = one ln(0.3) beats
    // [a, b] = two -> piece "ab"; Viterbi("c") = [c]. Recount: ab=3,
    // c=1; a, b unchosen -> floored at 1. Round 2 re-scores (total 6)
    // and segments identically. Final vocab: ab=3 then a/b/c at 1.
    val docs = Seq((0L, "ab ab c"), (1L, "ab")).toDF("doc_id", "text")
    val out = LanguageModel.trainUnigram(docs)
      .as[(Long, String, Long)].collect().toList
    assert(out == List((1L, "ab", 3L), (2L, "a", 1L), (3L, "b", 1L),
      (4L, "c", 1L)))
  }

  test("trainUnigram laws on the real corpus: singles always covered, " +
    "partitioning-independent, over-cap words fail loudly") {
    val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
    val out = LanguageModel.trainUnigram(docs)
      .as[(Long, String, Long)].collect().toList
    // every single character of the corpus survives in the vocabulary
    val chars = docs.select(explode(split(col("text"), " ")).as("w"))
      .where(length($"w") > 0)
      .select(explode(expr(
        "transform(sequence(1, length(w)), i -> substr(w, i, 1))")).as("c"))
      .distinct().as[String].collect().toSet
    val pieces = out.map(_._2).toSet
    assert(chars.subsetOf(pieces), s"missing: ${chars -- pieces}")
    // freqs positive, ranks dense from 1, deterministic across layout
    assert(out.map(_._1) == (1L to out.size))
    assert(out.forall(_._3 >= 1L))
    assert(LanguageModel.trainUnigram(docs.repartition(7))
      .as[(Long, String, Long)].collect().toList == out)
    // the DP cap is loud, never a silent drop
    val long = Seq((0L, "a" * 13)).toDF("doc_id", "text")
    intercept[IllegalArgumentException](LanguageModel.trainUnigram(long))
  }

  test("unigramSoftCore: EM mass law (first-piece posteriors sum to 1 " +
    "per word), hand corpus expectations, laws on the real corpus") {
    // hand corpus: words ab (x3), c (x1) — soft EM splits ab's mass
    // between [ab] (p(ab)) and [a][b] (p(a)p(b)); with round-1 scores
    // p(ab)=p(a)=p(b)=0.3: P([ab]) = 0.3 / (0.3 + 0.09) ≈ 0.769 —
    // so soft counts are FRACTIONAL: freq(ab) ≈ 3·0.769·1e6, and a/b
    // keep ≈ 3·0.231·1e6 each (never floored, unlike hard EM)
    val docs = Seq((0L, "ab ab c"), (1L, "ab")).toDF("doc_id", "text")
    val (vocab, mass) = LanguageModel.unigramSoftCore(docs,
      seedSize = 48, rounds = 1, maxPieceLen = 4, maxWordLen = 12)
    val byPiece = vocab.as[(String, Long)].collect().toMap
    val pAb = 0.3 / (0.3 + 0.09)
    assert(math.abs(byPiece("ab") - 3 * pAb * 1e6) < 10,
      s"ab: ${byPiece("ab")}")
    assert(math.abs(byPiece("a") - 3 * (1 - pAb) * 1e6) < 10,
      s"a: ${byPiece("a")}")
    assert(byPiece("c") == 1000000L)
    // EM MASS LAW: per word, the posteriors of the possible FIRST
    // pieces sum to exactly 1 (up to the per-span 1e-6 rounding)
    val masses = mass.as[(String, Long)].collect()
    assert(masses.nonEmpty && masses.forall { case (w, m) =>
      math.abs(m - 1000000L) <= w.length * 2 })
    // real corpus: mass law again, singles covered, deterministic
    // across partitioning (the fixed-point fold is order-pinned)
    val real = spark.read.parquet(s"$Sf0001/documents.parquet")
    val (v2, m2) = LanguageModel.unigramSoftCore(real,
      seedSize = 32, rounds = 2, maxPieceLen = 3, maxWordLen = 12)
    val out2 = v2.orderBy(col("freq").desc, col("piece"))
      .as[(String, Long)].collect().toList
    assert(m2.as[(String, Long)].collect().forall { case (w, m) =>
      math.abs(m - 1000000L) <= w.length * 2 })
    val chars = real.select(explode(split(col("text"), " ")).as("w"))
      .where(length($"w") > 0)
      .select(explode(expr(
        "transform(sequence(1, length(w)), i -> substr(w, i, 1))")).as("c"))
      .distinct().as[String].collect().toSet
    assert(chars.subsetOf(out2.map(_._1).toSet))
    val (v3, _) = LanguageModel.unigramSoftCore(real.repartition(7),
      seedSize = 32, rounds = 2, maxPieceLen = 3, maxWordLen = 12)
    assert(v3.orderBy(col("freq").desc, col("piece"))
      .as[(String, Long)].collect().toList == out2)
  }

  test("tokenizerCompare: both methods over the same words, fertility " +
    "laws hold, hand corpus matches") {
    // unigram tokenizes ab as ONE piece (see the hand test) -> corpus
    // fertility (3*1 + 1*1) / 4 = 1.0; BPE with the (a,b) merge yields
    // [ab, </w>] = 2 subwords per "ab" and [c, </w>] = 2 per "c" -> 2.0
    val docs = Seq((0L, "ab ab c"), (1L, "ab")).toDF("doc_id", "text")
    val out = LanguageModel.tokenizerCompare(docs, bpeMerges = 2)
      .as[(String, Long, Long, Double)].collect().toList
    assert(out.map(_._1) == List("bpe", "unigram"))
    assert(out.forall(_._2 == 4L), s"word totals: $out")
    assert(out.find(_._1 == "unigram").get._4 == 1.0)
    val bpe = out.find(_._1 == "bpe").get
    assert(bpe._4 >= 1.0 && bpe._4 <= 4.0)
  }

  test("trainUnigram shrink schedule: vocabulary contracts toward the " +
    "target, singles always survive, default path unchanged") {
    val docs = spark.read.parquet(s"$Sf0001/documents.parquet")
    val base = LanguageModel.trainUnigram(docs, rounds = 3)
      .as[(Long, String, Long)].collect().toList
    val shrunk = LanguageModel.trainUnigram(docs, rounds = 3,
        shrinkTo = Some(24), shrinkKeepPct = 60)
      .as[(Long, String, Long)].collect().toList
    // the schedule prunes: strictly smaller than the unshrunk run
    assert(shrunk.size < base.size, s"${shrunk.size} !< ${base.size}")
    // coverage law: every corpus character still in the vocabulary
    val chars = docs.select(explode(split(col("text"), " ")).as("w"))
      .where(length($"w") > 0)
      .select(explode(expr(
        "transform(sequence(1, length(w)), i -> substr(w, i, 1))")).as("c"))
      .distinct().as[String].collect().toSet
    val pieces = shrunk.map(_._2).toSet
    assert(chars.subsetOf(pieces), s"missing: ${chars -- pieces}")
    // multi-char pieces respect the target bound: at most
    // max(24, ...) NON-single survivors once the schedule bottoms out
    val multi = shrunk.count(_._2.length > 1)
    assert(multi <= 24, s"$multi multi-char pieces survived the prune")
    // deterministic across layout
    assert(LanguageModel.trainUnigram(docs.repartition(7), rounds = 3,
        shrinkTo = Some(24), shrinkKeepPct = 60)
      .as[(Long, String, Long)].collect().toList == shrunk)
    // shrinkTo = None stays bit-for-bit the historical trainer
    assert(LanguageModel.trainUnigram(docs, rounds = 3, shrinkTo = None)
      .as[(Long, String, Long)].collect().toList == base)
  }
}
