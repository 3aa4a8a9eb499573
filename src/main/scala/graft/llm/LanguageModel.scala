package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Count-based n-gram language-model scoring — the CCNet quality-filter
  * family (Wenzek et al. 2020, "CCNet: Extracting high quality
  * monolingual datasets from web crawl data", arXiv:1911.00359): score
  * every document by its average n-gram log-probability under a
  * count-based LM; low-probability (high-perplexity) documents are the
  * gibberish/boilerplate tail a downstream `where` drops. CCNet uses a
  * KenLM trained on Wikipedia; this is the same decision rule with the
  * LM replaced by an add-one-smoothed count model trained on a
  * caller-chosen corpus — the piece Spark should own either way is the
  * distributed counting and the score join, which is what this
  * implements.
  */
object LanguageModel {

  private def pos(c: Column, w: Int): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.PositionalShingles(
        org.apache.spark.sql.graft.ColumnBridge.expression(c), w))

  /** Average add-one-smoothed n-gram log-probability per document:
    *
    *   score(d) = avg over gram positions i of
    *              ln( (c(gᵢ) + 1) / (c(ctxᵢ) + |V|) )
    *
    * where c(·) are occurrence counts in `modelDocs` (default: `docs`
    * itself — self-perplexity), ctxᵢ is the gram's leading (n-1)-token
    * context counted over ALL its positions, and |V| the model's
    * distinct-token count. Unseen grams get the smoothed floor
    * 1/(c(ctx)+|V|) — the left-join + coalesce spelling, so an external
    * `modelDocs` corpus is scored correctly, not inner-join-dropped.
    *
    * Gram identity is the compiled 64-bit positional shingle hash
    * ([[graft.functions.PositionalShingles]]) — same keys and collision
    * trade-off as the whole dedup family. Documents with fewer than `n`
    * tokens have no gram positions and are absent from the output
    * (score undefined), mirroring the reference CCNet behavior of
    * length-filtering first.
    *
    * Scale shape: two count shuffles over the model corpus (map-side
    * partial agg absorbs hot grams), one distinct-token aggregate
    * broadcast back as a 1-row frame (lazy — no driver action), then a
    * posting join of doc grams against the two count tables — all
    * equi-joins on 8-byte keys, no self-join, corpus-linear. The
    * gram+context pair is zipped per document BEFORE the explode, so
    * exploded rows carry two longs, never a per-row array copy.
    *
    * Output: (doc_id, n_grams, avg_logprob round 4), one row per doc
    * with >= n tokens. */
  def ngramLogProbScore(docs: DataFrame, n: Int = 3,
                        modelDocs: Option[DataFrame] = None): DataFrame = {
    require(n >= 2, "an n-gram LM needs a context: n >= 2")
    val m = modelDocs.getOrElse(docs)
    val toks = TextAnalysis.tokens(col("text"))
    val cN = m.select(explode(pos(toks, n)).as("gn"))
      .groupBy("gn").agg(count(lit(1)).as("cn"))
    val cC = m.select(explode(pos(toks, n - 1)).as("gc"))
      .groupBy("gc").agg(count(lit(1)).as("cc"))
    val vocab = m.select(explode(toks).as("tok"))
      .agg(count_distinct(col("tok")).as("v"))
    val ex = docs
      .select(col("doc_id"),
        posexplode(arrays_zip(
          pos(toks, n).as("gn"),
          // contexts have one extra trailing position; keep the aligned
          // prefix so element i is gram i's leading (n-1)-gram
          slice(pos(toks, n - 1), lit(1), size(pos(toks, n))).as("gc")))
          .as(Seq("p", "z")))
      .select(col("doc_id"), col("z.gn").as("gn"), col("z.gc").as("gc"))
    ex.join(cN, Seq("gn"), "left")
      .join(cC, Seq("gc"), "left")
      .crossJoin(broadcast(vocab))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        round(avg(log((coalesce(col("cn"), lit(0L)) + 1).cast("double") /
          (coalesce(col("cc"), lit(0L)) + col("v")).cast("double"))), 4)
          .as("avg_logprob"))
  }

  /** PMI collocation mining — the word2phrase step (Mikolov et al. 2013,
    * "Distributed Representations of Words and Phrases", §4: score
    * bigrams by how much more often they co-occur than chance, join the
    * winners into single tokens before training):
    *
    *   pmi(a,b) = ln( c(ab) · N / (c(a) · c(b)) )
    *
    * over corpus-wide positional-bigram counts (N = total bigram
    * positions), with a `minCount` floor to kill hapax noise. Returns
    * the global top-`topK` by (pmi 4-dp DESC, w1, w2) — the rounded-PMI
    * sort key makes the cut line deterministic cross-engine (ties at
    * equal rounded pmi break on the words, so a ≤1-ulp `ln` difference
    * cannot reorder the boundary).
    *
    * Scale shape: two count shuffles (unigrams, bigrams — map-side
    * combine absorbs Zipf heads), one 1-row total crossed in lazily, two
    * equi-joins of the surviving (≥ minCount) bigrams against the
    * unigram counts, then a global sort-limit (per-partition top-K +
    * merge — bounded by K, not the vocabulary). */
  def pmiCollocations(docs: DataFrame, minCount: Long = 5,
                      topK: Int = 50): DataFrame = {
    val toks = TextAnalysis.tokens(col("text"))
    val uni = docs.select(explode(toks).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val pairs = docs
      .select(col("doc_id"), toks.as("t"))
      .select(posexplode(expr(
        "zip_with(slice(t, 1, greatest(size(t) - 1, 0)), " +
          "slice(t, 2, greatest(size(t) - 1, 0)), (a, b) -> struct(a, b))"))
        .as(Seq("p", "bg")))
      .select(col("bg.a").as("w1"), col("bg.b").as("w2"))
    val big = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c_ab"))
    val total = pairs.agg(count(lit(1)).as("n"))
    big.where(col("c_ab") >= minCount)
      .join(uni.select(col("w").as("w1"), col("c").as("c_1")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("c_2")), "w2")
      .crossJoin(broadcast(total))
      .select(col("w1"), col("w2"), col("c_ab"),
        round(log(col("c_ab").cast("double") * col("n").cast("double") /
          (col("c_1").cast("double") * col("c_2").cast("double"))), 4)
          .as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(topK)
  }

  /** Tokenizer-vocabulary training — the iterated word2phrase merge loop
    * (Mikolov et al. 2013 §4: "we ran 2-4 passes over the training data
    * with decreasing threshold", each pass joining the winning bigrams
    * into single tokens so later passes discover longer phrases): per
    * round, score bigrams by PMI over the CURRENT tokenization
    * ([[pmiCollocations]]'s scoring pass), promote the global top-`topK`
    * (≥ `minCount`) into merged tokens `w1<joiner>w2`, and re-tokenize
    * the corpus by greedy left-to-right merging — exactly the BPE outer
    * loop with PMI in place of raw pair frequency as the merge rule.
    *
    * The greedy re-tokenization is DECLARATIVE, not a per-row scan:
    * greedy left-to-right pair merging is equivalent to "merge at the
    * odd (1-based) mergeable positions within each maximal run of
    * consecutive mergeable positions" (a merge consumes the next
    * position, so within a run merges land on alternating offsets, and
    * a run's first position is always reached unconsumed because its
    * predecessor is non-mergeable). Runs are the standard
    * gaps-and-islands: a running count of non-mergeable rows groups each
    * run, a within-run running count gives the alternation parity, and a
    * `lag` marks consumed successors. Window functions only — the same
    * SQL replays in DuckDB, so the oracle pins every round's
    * re-tokenization, not just the scores.
    *
    * Scale shape: per round, two count shuffles (map-side combined), a
    * bounded top-K sort-limit, a BROADCAST join of the ≤K phrase table
    * against the token stream (no driver collect — the model never
    * leaves the cluster), and per-doc windows that all share one
    * doc_id exchange. Each round's token frame and phrase table are
    * round state of one [[Rounds]] scope, checkpointed (each token frame
    * is read by the next round's counts AND its merge pass — without
    * reuse the lineage re-executes multiplicatively across rounds); the
    * final round skips the merge entirely (its vocab is the last output).
    *
    * Output: (merge_round, w1, w2, c_ab, pmi) — the learned phrase
    * vocabulary, `merge_round` ascending then the q121 cut-line order.
    * Round-2+ rows have `w1`/`w2` that may themselves be merged tokens,
    * which is the point. */
  def trainPhrases(docs: DataFrame, rounds: Int = 2, minCount: Long = 5,
                   topK: Int = 20, joiner: String = "_"): DataFrame = {
    require(rounds >= 1, s"rounds=$rounds must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    Rounds("train_phrases", docs.sparkSession) { r =>
      var frame = r.checkpoint(docs.select(col("doc_id"),
        posexplode(TextAnalysis.tokens(col("text"))).as(Seq("pos", "tok"))))
      val vocabs = (1 to rounds).map { i =>
        r.round(i) {
          val pairs = frame.select(col("doc_id"), col("pos"), col("tok"),
              lead("tok", 1).over(byDoc).as("nxt"))
            .where(col("nxt").isNotNull)
          val big = pairs.groupBy(col("tok").as("w1"), col("nxt").as("w2"))
            .agg(count(lit(1)).as("c_ab"))
          val uni = frame.groupBy(col("tok").as("w"))
            .agg(count(lit(1)).as("c"))
          val total = pairs.agg(count(lit(1)).as("n"))
          val top = r.checkpoint(big.where(col("c_ab") >= minCount)
            .join(uni.select(col("w").as("w1"), col("c").as("c_1")), "w1")
            .join(uni.select(col("w").as("w2"), col("c").as("c_2")), "w2")
            .crossJoin(broadcast(total))
            .select(col("w1"), col("w2"), col("c_ab"),
              round(log(col("c_ab").cast("double") *
                col("n").cast("double") / (col("c_1").cast("double") *
                col("c_2").cast("double"))), 4).as("pmi"))
            .orderBy(col("pmi").desc, col("w1"), col("w2"))
            .limit(topK))
          if (i < rounds)
            frame = r.checkpoint(mergeBigrams(frame, top, joiner, byDoc))
          top.select(lit(i).cast("long").as("merge_round"),
            col("w1"), col("w2"), col("c_ab"), col("pmi"))
        }
      }
      vocabs.reduce(_ unionByName _)
    }
  }

  /** APPLY a trained phrase vocabulary to the corpus — the inference side
    * of [[trainPhrases]]' train loop (the q129 lifecycle for tokenizers:
    * train once on a sample, apply everywhere). Each vocabulary round is
    * replayed in order with the same greedy left-to-right merge the
    * trainer used, so round r's phrases can reference round r−1's merged
    * tokens (phrases-of-phrases apply correctly). Output one row per
    * document: raw and merged token counts plus the merged token stream.
    *
    * Scale shape: the vocabulary is ≤ rounds·topK rows and BROADCASTS to
    * every merge join; per-round work is the per-doc gaps-and-islands
    * windows over the exploded token frame, each round's result a
    * checkpoint of one [[Rounds]] scope; the final per-doc reassembly is
    * one aggregation. No data reaches the driver. */
  def applyPhrases(docs: DataFrame, vocab: DataFrame, rounds: Int,
                   joiner: String = "_"): DataFrame = {
    require(rounds >= 1, s"rounds=$rounds must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    Rounds("apply_phrases", docs.sparkSession) { r =>
      val t0 = r.checkpoint(docs.select(col("doc_id"),
        posexplode(TextAnalysis.tokens(col("text"))).as(Seq("pos", "tok"))))
      val frame = (1 to rounds).foldLeft(t0) { (frame, i) =>
        r.round(i)(r.checkpoint(mergeBigrams(frame,
          vocab.where(col("merge_round") === i).select("w1", "w2"),
          joiner, byDoc)))
      }
      val raw = t0.groupBy("doc_id").agg(count(lit(1)).as("n_tokens_raw"))
      val merged = frame.groupBy("doc_id").agg(
        count(lit(1)).as("n_tokens_merged"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
            x => x.getField("tok")), " ").as("text_merged"))
      raw.join(merged, "doc_id")
    }
  }

  /** One greedy left-to-right merge pass over an exploded token frame
    * (keyCol, pos, tok [, carry...]) against a small phrase table
    * (w1, w2) — see [[trainPhrases]] for the parity argument. Output
    * positions are re-numbered dense; `carry` columns pass through
    * unchanged (they are per-key constants, e.g. a word's corpus count).
    * Shared by the word2phrase loop (key = doc_id, word-pair merges) and
    * the BPE loop (key = word, symbol-pair merges within each distinct
    * word). */
  private def mergeBigrams(frame: DataFrame, phrases: DataFrame,
                           joiner: String,
                           byKey: org.apache.spark.sql.expressions.WindowSpec,
                           keyCol: String = "doc_id",
                           carry: Seq[String] = Nil)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val carried = carry.map(col)
    val marked = frame
      .select(col(keyCol) +: col("pos") +: col("tok") +:
        lead("tok", 1).over(byKey).as("nxt") +: carried: _*)
      .join(broadcast(phrases.select(col("w1"), col("w2"),
          lit(true).as("in_vocab"))),
        col("tok") === col("w1") && col("nxt") === col("w2"), "left")
      .select(col(keyCol) +: col("pos") +: col("tok") +: col("nxt") +:
        coalesce(col("in_vocab"), lit(false)).as("mergeable") +: carried: _*)
    // Run-relative mergeable index WITHOUT a (key, grp)-partitioned
    // window: partitioning by (key, grp) would force an extra
    // Exchange+Sort of the full token frame per merge round (and the
    // following `lag` a second one back to key-partitioning). Instead:
    // with mtot = running count of mergeable rows and base = mtot at the
    // last NON-mergeable row at-or-before this one (a running max over
    // the same key window — mtot is non-decreasing, so max picks the
    // latest; 0 when the key starts with mergeable rows), the within-run
    // index is mtot − base — identical to the per-run running count,
    // because a run is exactly "one non-mergeable row plus the mergeable
    // rows after it" (or the key's mergeable prefix). All windows then
    // share ONE (key, pos) exchange+sort.
    val flagged = marked
      .withColumn("mtot",
        sum(when(col("mergeable"), lit(1)).otherwise(lit(0))).over(byKey))
      .withColumn("midx",
        col("mtot") - coalesce(
          max(when(!col("mergeable"), col("mtot"))).over(byKey), lit(0L)))
      .withColumn("merge_pos", col("mergeable") && col("midx") % 2 === 1)
      .withColumn("consumed",
        coalesce(lag("merge_pos", 1).over(byKey), lit(false)))
    flagged.where(!col("consumed"))
      .select(col(keyCol) +:
        (row_number().over(byKey) - 1).as("pos") +:
        when(col("merge_pos"), concat(col("tok"), lit(joiner), col("nxt")))
          .otherwise(col("tok")).as("tok") +: carried: _*)
  }

  /** CCNet head/middle/tail perplexity bucketing (Wenzek et al. 2020
    * §4.3): split the corpus into LM-score terciles — `head` = the
    * most-target-like third (highest avg log-prob = lowest perplexity),
    * `tail` = the third a quality pipeline drops first.
    *
    * The cut points come from an EXACT value-histogram percentile, not a
    * global sort: scores are 4-dp rounded, so the histogram is bounded
    * by the VALUE SPACE (≤ ~200k distinct cells for any corpus size) —
    * the groupBy is map-side combinable, the cumulative window runs over
    * the tiny histogram, and no doc-sized data passes through a single
    * partition. Ranks are integers and score comparisons are exact
    * (4-dp doubles), so bucket assignment is bit-identical cross-engine —
    * the reason this is spelled as histogram + integer thresholds rather
    * than interpolated percentile_cont (whose interpolation arithmetic
    * is not pinned across engines) or a global ntile window (a
    * single-partition funnel at 100 TB).
    *
    * Output: (doc_id, n_grams, avg_logprob, ppl_bucket). */
  def perplexityBuckets(docs: DataFrame, n: Int = 3,
                        modelDocs: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scores = ngramLogProbScore(docs, n, modelDocs)
    val hist = scores.groupBy("avg_logprob").agg(count(lit(1)).as("c"))
    val cum = hist.withColumn("cum",
      sum(col("c")).over(Window.orderBy("avg_logprob")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val tot = scores.agg(count(lit(1)).as("n"))
    val cuts = cum.crossJoin(broadcast(tot))
      .agg(
        min(when(col("cum") >= expr("(n + 2) div 3"),
          col("avg_logprob"))).as("t1"),
        min(when(col("cum") >= expr("(2 * n + 2) div 3"),
          col("avg_logprob"))).as("t2"))
    scores.crossJoin(broadcast(cuts))
      .select(col("doc_id"), col("n_grams"), col("avg_logprob"),
        when(col("avg_logprob") <= col("t1"), "tail")
          .when(col("avg_logprob") <= col("t2"), "middle")
          .otherwise("head").as("ppl_bucket"))
  }

  /** Tokenizer vocabulary-coverage curve: for each candidate vocabulary
    * size V, the fraction of corpus token occurrences covered by the V
    * most-frequent types (unigrams + bigrams — the candidate-merge space
    * a q128-style vocabulary trainer selects from). The sizing report
    * behind "how big must the vocab be": coverage knees sharply on
    * Zipf-distributed corpora, and the curve is where the knee is read
    * off (Sennrich et al. 2016 size the BPE merge count exactly this
    * way).
    *
    * The insight that makes this corpus-scale cheap: coverage needs NO
    * per-type ranking. Types with equal count are interchangeable, so
    * the curve is a pure function of the COUNT HISTOGRAM (count →
    * #types): covered(V) = mass of full classes above the boundary
    * count + (V − types_above)·c_boundary. The corpus-sized work is one
    * type-count shuffle; everything after runs on the histogram
    * (O(distinct counts) ≈ O(√corpus) rows under Zipf), cumulated with
    * the q89/q182 two-phase prefix sum (no single-partition window) and
    * probed by a broadcast checkpoint frame.
    *
    * Integer arithmetic end-to-end (counts, masses, boundary
    * interpolation); the one division per row is the final 4-dp
    * coverage ratio. Output: (vocab_size, n_types_total, covered_tokens,
    * total_tokens, coverage) per checkpoint, ordered. */
  def vocabCoverage(docs: DataFrame,
                    checkpoints: Seq[Long] = Seq(8L, 16L, 32L, 64L, 128L,
                      256L, 512L, 1024L)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(checkpoints.nonEmpty && checkpoints.forall(_ > 0))
    val spark = docs.sparkSession
    import spark.implicits._
    val grams = Importance.unigramsBigrams(
      TextAnalysis.tokens(col("text")))
    val tc = docs.select(explode(grams).as("g"))
      .groupBy("g").agg(count(lit(1)).as("c"))
    val hist = tc.groupBy("c").agg(count(lit(1)).as("n_types"))
      .withColumn("mass", col("c") * col("n_types"))
    // two-phase cumulative over DESCENDING count: truncating div buckets
    // are contiguous intervals of the c-axis, so per-bucket windows +
    // a tiny bucket-offset frame replace the global window
    val bucketed = hist.withColumn("bk", expr("c div 1024"))
    val wB = Window.partitionBy("bk").orderBy(col("c").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val partial = bucketed
      .withColumn("cum_t", sum(col("n_types")).over(wB))
      .withColumn("cum_m", sum(col("mass")).over(wB))
    val offsets = partial.groupBy("bk")
      .agg(max(col("cum_t")).as("tt"), max(col("cum_m")).as("tm"))
      .withColumn("off_t", coalesce(sum(col("tt")).over(
        Window.orderBy(col("bk").desc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("off_m", coalesce(sum(col("tm")).over(
        Window.orderBy(col("bk").desc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("bk", "off_t", "off_m")
    val cum = partial.join(broadcast(offsets), "bk")
      .select(col("c"), col("n_types"),
        (col("off_t") + col("cum_t") - col("n_types")).as("types_above"),
        (col("off_m") + col("cum_m") - col("mass")).as("mass_above"))
    val tot = hist.agg(sum(col("n_types")).as("n_types_total"),
      sum(col("mass")).as("total_tokens"))
    val cp = checkpoints.toDF("v")
    // boundary probe: exactly one histogram class satisfies
    // types_above < V ≤ types_above + n_types (none when V ≥ all types)
    val sel = cp.join(cum,
        col("types_above") < col("v") &&
          col("v") <= col("types_above") + col("n_types"), "left")
      .groupBy("v")
      .agg(max(col("mass_above") + (col("v") - col("types_above")) *
        col("c")).as("covered_part"))
    sel.crossJoin(broadcast(tot))
      .select(col("v").as("vocab_size"), col("n_types_total"),
        coalesce(col("covered_part"), col("total_tokens"))
          .as("covered_tokens"),
        col("total_tokens"),
        round(coalesce(col("covered_part"), col("total_tokens"))
            .cast("double") / col("total_tokens").cast("double"), 4)
          .as("coverage"))
      .orderBy("vocab_size")
  }

  /** The (word, corpus-count, pos, symbol) frame BPE trains and applies
    * over: every DISTINCT word split into single characters plus a
    * trailing end-of-word symbol (Sennrich et al. 2016 §3.2's word
    * representation — the marker keeps word-final merges distinct from
    * word-internal ones, so "est·" in "widest" and "es|t" in "estimate"
    * stay separate merge candidates). Character splitting is
    * codepoint-based `substr` so the same spelling replays in DuckDB. */
  private def bpeSymbolFrame(words: DataFrame, eow: String): DataFrame =
    words.select(col("w"), col("cnt"),
      posexplode(concat(
        expr("transform(sequence(1, length(w)), i -> substr(w, i, 1))"),
        array(lit(eow)))).as(Seq("pos", "tok")))

  /** Byte-pair-encoding vocabulary training (Sennrich et al. 2016,
    * "Neural Machine Translation of Rare Words with Subword Units",
    * §3.2) — the subword tokenizer LLM vocabularies actually use, and
    * the within-word complement of [[trainPhrases]]' across-word merges:
    * per merge round, count adjacent SYMBOL pairs weighted by word
    * frequency, promote the single most frequent pair (ties broken
    * (pair_count DESC, s1, s2) so the merge table is engine-independent),
    * and merge its occurrences greedily left-to-right in every word —
    * the same alternating-parity gaps-and-islands pass as q128, keyed by
    * word instead of document and concatenating with no joiner.
    *
    * THE scale property (why BPE fits 100 TB): training never touches
    * the corpus again after ONE word-count shuffle — every round runs on
    * the DISTINCT-WORD symbol frame, which is vocabulary-sized
    * (O(√corpus) under Zipf), with word counts carried as weights. Merge
    * rounds are count shuffles + per-word windows over that bounded
    * frame — per-round cost flat in corpus size, exactly how production
    * BPE trainers operate on word-count tables. Round state is
    * `localCheckpoint`ed, not persisted (the q63/q82 iteration
    * convention): each round's plan embeds the previous round's TWICE
    * (the winner join and the merge input), so without lineage
    * truncation the plan tree doubles per round — 2^merges blowup that
    * OOMs the driver at 8 rounds; checkpointing keeps per-round plans
    * constant-size. The final round skips the merge — its pair is the
    * last output.
    *
    * A round whose best pair falls under `minPairCount` emits nothing
    * and merges nothing, and every later round is then also empty — the
    * declarative spelling of the trainer's stopping rule.
    *
    * Output: (merge_round, s1, s2, pair_count) — the ordered merge table
    * a BPE tokenizer IS; [[applyBpe]] replays it. */
  def trainBpe(docs: DataFrame, merges: Int = 8, minPairCount: Long = 2,
               eow: String = "</w>"): DataFrame = {
    require(merges >= 1, s"merges=$merges must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val byWord = Window.partitionBy("w").orderBy("pos")
    // round state is localCheckpointed, NOT persisted: a persisted-chain
    // variant (which would keep hash(w) partitioning and delete the
    // per-round window exchange) was MEASURED NEGATIVE — the nested
    // cached-plan trees made per-round planning dominate (q215 2.9 → 4.2,
    // q224 5.2 → 8.6 under ProfileQuery, driverGap ~2×) despite 30% fewer
    // jobs and zero shuffle; reverted (guide §1.2, both directions)
    Rounds("train_bpe", docs.sparkSession) { r =>
      // the ONLY corpus-scale pass: one map-side-combined word-count shuffle
      // (empty tokens from repeated separators are dropped — a zero-length
      // word has no symbols, and Spark's sequence(1, 0) would descend)
      val words = docs
        .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
        .where(length(col("w")) > 0)
        .groupBy("w").agg(count(lit(1)).as("cnt"))
      var frame = r.checkpoint(bpeSymbolFrame(words, eow))
      // the per-round winner is ONE row — an argmax the driver reads like
      // the connected-components convergence scalar (bounded by `merges`,
      // never data-scale). Collecting it makes the merge table a literal
      // LocalRelation (broadcast is driver-local — no per-round broadcast
      // build job, no checkpoint action for a 1-row frame) and the final
      // merge-table union a LocalRelation too (zero jobs at materialization
      // instead of one scan per round). A round with no pair over
      // `minPairCount` short-circuits every later round — the documented
      // stopping rule, previously re-verified round after round.
      import docs.sparkSession.implicits._
      var exhausted = false
      val rows = (1 to merges).map { i =>
        r.round(i) {
          val bestRow =
            if (exhausted) None
            else frame.select(col("cnt"), col("tok"),
                lead("tok", 1).over(byWord).as("nxt"))
              .where(col("nxt").isNotNull)
              .groupBy(col("tok").as("s1"), col("nxt").as("s2"))
              .agg(sum("cnt").as("pair_count"))
              .where(col("pair_count") >= minPairCount)
              .orderBy(col("pair_count").desc, col("s1"), col("s2"))
              .limit(1)
              .collect().headOption
          bestRow match {
            case None =>
              exhausted = true
              Seq.empty[(Long, String, String, Long)]
                .toDF("merge_round", "s1", "s2", "pair_count")
            case Some(row) =>
              val (s1, s2, cnt) =
                (row.getString(0), row.getString(1), row.getLong(2))
              // per-round checkpoint kept: the next round's winner aggregate
              // re-reads the merged frame, and deferring materialization was
              // MEASURED NEGATIVE (each round's collect re-executed the
              // un-checkpointed window chain and re-planned the growing tree —
              // q215 2.7 → 3.8 s, q224 5.1 → 6.7 s under ProfileQuery), so the
              // lazy-chain variant was reverted (guide §1.2, both directions)
              if (i < merges)
                frame = r.checkpoint(mergeBigrams(frame,
                  Seq((s1, s2)).toDF("w1", "w2"),
                  joiner = "", byWord, keyCol = "w", carry = Seq("cnt")))
              Seq((i.toLong, s1, s2, cnt))
                .toDF("merge_round", "s1", "s2", "pair_count")
          }
        }
      }
      rows.reduce(_ unionByName _)
    }
  }

  /** APPLY a trained BPE merge table — tokenize the corpus into subword
    * units by replaying every merge round in order (greedy left-to-right
    * per round, the exact train-time semantics, so round r's pair can
    * reference round r−1's merged symbols). Tokenization is a pure
    * function of the WORD, so the merge replay runs once per distinct
    * word and the result joins back to the corpus on the word — corpus
    * cost is one explode + one vocab-equi-join, never per-occurrence
    * window work. The merge table is ≤ `merges` rows and broadcasts.
    *
    * Output per document: word count, subword-token count, and the 4-dp
    * fertility (subwords per word — THE tokenizer-quality number vocab
    * sizing decisions read). */
  def applyBpe(docs: DataFrame, vocab: DataFrame, merges: Int,
               eow: String = "</w>"): DataFrame = {
    require(merges >= 1, s"merges=$merges must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val byWord = Window.partitionBy("w").orderBy("pos")
    // localCheckpoint per round, same reason as in [[trainBpe]] — the
    // vocab side re-enters every round's plan (and the persisted-chain
    // variant measured negative there; see trainBpe)
    Rounds("apply_bpe", docs.sparkSession) { r =>
      val occ = docs.select(col("doc_id"),
          explode(TextAnalysis.tokens(col("text"))).as("w"))
        .where(length(col("w")) > 0)
      var frame = r.checkpoint(bpeSymbolFrame(
        occ.groupBy("w").agg(count(lit(1)).as("cnt")), eow))
      (1 to merges).foreach { i =>
        frame = r.round(i)(r.checkpoint(mergeBigrams(frame,
          vocab.where(col("merge_round") === i)
            .select(col("s1").as("w1"), col("s2").as("w2")),
          joiner = "", byWord, keyCol = "w", carry = Seq("cnt"))))
      }
      val wordTok = frame.groupBy("w")
        .agg(count(lit(1)).as("n_subwords"))
      occ.join(wordTok, "w")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"),
          sum("n_subwords").as("n_subword_tokens"))
        .select(col("doc_id"), col("n_words"), col("n_subword_tokens"),
          round(col("n_subword_tokens").cast("double") /
            col("n_words").cast("double"), 4).as("fertility"))
    }
  }

  /** UNIGRAM-LM (SentencePiece-style) subword tokenizer training — the
    * probabilistic sibling of [[trainBpe]] (Kudo 2018, "Subword
    * Regularization", §3; trained here with HARD EM / Viterbi counts,
    * the deterministic variant whose every decision is an integer
    * argmax and therefore oracle-replayable — soft-EM fractional counts
    * would put unorderable float sums on the decision path):
    *
    *  1. SEED: every substring of length 1..`maxPieceLen` over the
    *     distinct-word frame, occurrence-weighted by word count; the
    *     top `seedSize` by (freq DESC, piece) plus ALL single
    *     characters (coverage — every word must stay segmentable).
    *  2. Per EM round: score each piece with a FIXED-POINT log
    *     probability (round(ln(freq/total)·10⁶) as BIGINT — the one
    *     libm call, rounded before any decision, the q110 convention),
    *     Viterbi-segment every distinct word (DP over positions; the
    *     argmax orders by (total DESC, start, piece) so ties are
    *     engine-independent), recount pieces from the chosen
    *     segmentations weighted by word counts, and rebuild the
    *     vocabulary: pieces with nonzero count survive, unchosen
    *     single characters floor at count 1 (never lose coverage) —
    *     Kudo's prune step falling out of the recount.
    *
    * THE scale property is [[trainBpe]]'s: ONE corpus-scale word-count
    * shuffle, then every EM round runs on the vocabulary-sized
    * distinct-word frame (O(√corpus) under Zipf) — the whole Viterbi
    * DP + backpointer walk is ONE compiled expression pass per word
    * (the word's scored spans collected into an array column), so a
    * round costs one broadcast score join, one vocab-sized collect
    * shuffle, and one recount shuffle — no per-position joins, no
    * per-position checkpoints. `maxWordLen` caps word length; a corpus
    * word over the cap fails LOUDLY (one 1-row metadata agg — silence
    * would silently drop it from every count).
    *
    * Returns (finalVocab (piece, freq), lastSegPieceCount (w,
    * n_pieces)) — the trained vocabulary and the per-word piece counts
    * of the final segmentation (the fertility side). */
  private[llm] def unigramCore(docs: DataFrame, seedSize: Int,
                               rounds: Int, maxPieceLen: Int,
                               maxWordLen: Int,
                               shrinkTo: Option[Int] = None,
                               shrinkKeepPct: Int = 80)
      : (DataFrame, DataFrame) = {
    require(rounds >= 1 && seedSize >= 1 && maxPieceLen >= 1)
    require(shrinkKeepPct >= 1 && shrinkKeepPct <= 100,
      "shrinkKeepPct must be in [1, 100]")
    require(shrinkTo.forall(_ >= 1), "shrink target must be >= 1")
    import org.apache.spark.sql.expressions.Window
    Rounds("unigram", docs.sparkSession) { r =>
      val (spans, singles, seed) =
        unigramSeed(r, docs, seedSize, maxPieceLen, maxWordLen, scale = 1L)
      var vocab = seed
      var lastSeg: DataFrame = null
      (1 to rounds).foreach { i =>
        r.round(i) {
          // fixed-point log-prob scores; total via the broadcast-1-row
          // pattern (no driver action on the data path)
          val totals = vocab.agg(sum("freq").as("total"))
          val scored = vocab.crossJoin(broadcast(totals))
            .select(col("piece"),
              round(log(col("freq").cast("double") /
                col("total").cast("double")) * 1e6, 0).cast("long")
                .as("score_fp"))
          val sc = spans.join(broadcast(scored), "piece")
          // Viterbi DP: best(w, 0) = 0; best(w, j) = argmax over in-vocab
          // spans (i -> j) of best(w, i) + score(piece), argmax ordered by
          // (total DESC, i, piece) — run as ONE COMPILED PASS per word:
          // each word's scored spans collect into an array column and the
          // whole position DP + backpointer walk happens inside a single
          // expression over the vocabulary-sized word frame (the spans are
          // ≤ maxWordLen·maxPieceLen elements, the DP O(len·|spans|) per
          // row). The earlier per-position spelling was ~2·maxWordLen
          // localCheckpointed join-rounds per EM round, whose fixed
          // scheduling cost dwarfed the per-row work on any frame this
          // size — and at 100 TB the word frame is still vocabulary-sized,
          // so the fused pass keeps the corpus-FLAT property while deleting
          // every per-position shuffle.
          val arr = sc.groupBy(col("w"), col("cnt"))
            .agg(collect_list(struct(col("i"), col("j"), col("piece"),
              col("score_fp"))).as("sp"))
          // dp: per reached position j, (fp = best score, bi = argmax start,
          // bp = argmax piece); position 0 is the empty-prefix base case.
          // An UNREACHABLE position contributes no element — candidates
          // from it never form (the reachability the join-based spelling
          // got from inner-joining bestAll). The argmax is an order-
          // independent reduce (strict total order: (i, piece) is unique
          // per span), so collect_list's nondeterministic order is safe.
          val dpExpr =
            """aggregate(
              |  sequence(1, length(w)),
              |  array(named_struct('j', 0, 'fp', CAST(0 AS BIGINT),
              |                     'bi', -1, 'bp', CAST(NULL AS STRING))),
              |  (acc, jj) -> concat(acc,
              |    filter(
              |      transform(
              |        array(aggregate(
              |          transform(
              |            filter(sp, s -> s.j = jj
              |              AND size(filter(acc, a -> a.j = s.i)) > 0),
              |            s -> named_struct(
              |              'total',
              |              element_at(filter(acc, a -> a.j = s.i), 1).fp
              |                + s.score_fp,
              |              'i', s.i, 'piece', s.piece)),
              |          CAST(NULL AS STRUCT<total: BIGINT, i: INT,
              |                              piece: STRING>),
              |          (b, c) -> CASE
              |            WHEN b IS NULL THEN c
              |            WHEN c.total > b.total THEN c
              |            WHEN c.total = b.total AND (c.i < b.i
              |              OR (c.i = b.i AND c.piece < b.piece)) THEN c
              |            ELSE b END)),
              |        best -> named_struct('j', jj, 'fp', best.total,
              |                             'bi', best.i, 'bp', best.piece)),
              |      x -> x.bp IS NOT NULL)))""".stripMargin
          // backpointer walk from the word's end: each visited node
          // contributes its piece; stops at position 0 (a word whose end is
          // unreachable contributes nothing, matching the join spelling —
          // floored singles make that impossible in practice)
          val walkExpr =
            """aggregate(
              |  sequence(1, length(w)),
              |  named_struct('cur', length(w),
              |               'ps', CAST(array() AS ARRAY<STRING>)),
              |  (st, x) -> CASE
              |    WHEN st.cur <= 0
              |      OR size(filter(dp, d -> d.j = st.cur)) = 0
              |      THEN named_struct('cur', 0, 'ps', st.ps)
              |    ELSE named_struct(
              |      'cur', element_at(filter(dp, d -> d.j = st.cur), 1).bi,
              |      'ps', concat(st.ps,
              |        array(element_at(filter(dp, d -> d.j = st.cur), 1).bp)))
              |    END,
              |  st -> st.ps)""".stripMargin
          val seg = arr.withColumn("dp", expr(dpExpr))
            .withColumn("pieces", expr(walkExpr))
          // per-round materialization kept here: folding the DP into the
          // vocab checkpoint (the soft-EM core's layout below) measured flat
          // on this hard core (BenchSome A/B q223/q233 — the Viterbi DP is
          // cheap enough that the saved action is noise), so the simpler
          // two-action round stays
          lastSeg = r.checkpoint(seg.select(col("w"), col("cnt"),
            explode(col("pieces")).as("piece")))
          val counts = lastSeg.groupBy("piece").agg(sum("cnt").as("freq"))
          val rebuilt = counts.unionByName(
            singles.join(counts, Seq("piece"), "left_anti")
              .select(col("piece"), lit(1L).as("freq")))
          // VOCABULARY SHRINK SCHEDULE (Kudo 2018 §3.2's outer loop,
          // deterministic-integer variant): after each recount keep the
          // top max(target, floor(|V|·keepPct/100)) pieces by
          // (freq DESC, piece) — the gradual prune toward the target size —
          // but ALWAYS keep single characters (coverage: every word must
          // stay segmentable whatever gets pruned). Kudo ranks by
          // likelihood loss; frequency rank is the engine-exact surrogate
          // this integer-arithmetic trainer uses (documented, and what the
          // oracle replays verbatim). |V| comes from a window count over
          // the vocabulary-sized frame — no driver action on the path.
          vocab = r.checkpoint(shrinkTo.fold(rebuilt) { target =>
            val wAll = Window.partitionBy(lit(1))
            val wRank = wAll.orderBy(col("freq").desc, col("piece"))
            rebuilt
              .withColumn("nv", count(lit(1)).over(wAll))
              .withColumn("rn", row_number().over(wRank))
              .where(col("rn") <= greatest(lit(target.toLong),
                expr(s"(nv * $shrinkKeepPct) div 100")) ||
                length(col("piece")) === 1)
              .drop("nv", "rn")
          })
        }
      }
      (vocab, lastSeg.groupBy("w").agg(count(lit(1)).as("n_pieces")))
    }
  }

  /** The unigram trainers' shared setup, round state of `r`: the
    * distinct-word counts (the ONLY corpus-scale pass, [[trainBpe]]'s
    * contract), the loud word-length cap, every candidate span (w, cnt,
    * i, j, piece) — i the 0-based exclusive start, j = i + pieceLen, the
    * DP's vocabulary-sized edge set — the single characters, and the
    * seed vocabulary (piece, freq): the top `seedSize` pieces by (freq
    * DESC, piece) plus every single character, freq the occurrence count
    * times `scale`. */
  private def unigramSeed(r: Rounds, docs: DataFrame, seedSize: Int,
                          maxPieceLen: Int, maxWordLen: Int, scale: Long)
      : (DataFrame, DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val words = r.checkpoint(docs
      .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt")))
    val maxLen = words.agg(coalesce(max(length(col("w"))), lit(0)))
      .head().getInt(0) // 1-row metadata agg: the loud cap check
    require(maxLen <= maxWordLen,
      s"unigram DP caps word length at $maxWordLen; corpus has $maxLen")
    val spans = r.checkpoint(words.select(col("w"), col("cnt"), explode(expr(
        s"""flatten(transform(sequence(0, length(w) - 1),
           i -> transform(sequence(1, least($maxPieceLen, length(w) - i)),
           l -> named_struct('i', i, 'j', i + l,
                             'piece', substr(w, i + 1, l)))))"""))
        .as("sp"))
      .select(col("w"), col("cnt"), col("sp.i").as("i"),
        col("sp.j").as("j"), col("sp.piece").as("piece")))
    val singles = spans.where(length(col("piece")) === 1)
      .select("piece").distinct()
    val seedCounts = spans.groupBy("piece")
      .agg((sum("cnt") * lit(scale)).as("freq"))
    val top = seedCounts.withColumn("rn", row_number().over(
        Window.partitionBy(lit(1)).orderBy(col("freq").desc, col("piece"))))
      .where(col("rn") <= seedSize)
    val seed = r.checkpoint(top.drop("rn")
      .unionByName(seedCounts.join(top.select("piece"), Seq("piece"),
          "left_anti")
        .where(length(col("piece")) === 1))
      .dropDuplicates("piece"))
    (spans, singles, seed)
  }

  /** The trained unigram vocabulary, ranked — (rank, piece, freq) by
    * (freq DESC, piece). See [[unigramCore]]. */
  def trainUnigram(docs: DataFrame, seedSize: Int = 48, rounds: Int = 2,
                   maxPieceLen: Int = 4, maxWordLen: Int = 12,
                   shrinkTo: Option[Int] = None, shrinkKeepPct: Int = 80)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (vocab, _) = unigramCore(docs, seedSize, rounds, maxPieceLen,
      maxWordLen, shrinkTo, shrinkKeepPct)
    val w = Window.partitionBy(lit(1)).orderBy(col("freq").desc, col("piece"))
    vocab.withColumn("rank", row_number().over(w).cast("long"))
      .select(col("rank"), col("piece"), col("freq"))
  }

  /** SOFT-EM (forward–backward) unigram-LM training — Kudo 2018 §3's
    * actual E-step, the probabilistic sibling of [[unigramCore]]'s
    * hard-EM/Viterbi twin (which stays the oracle-simplest variant):
    * instead of counting only the single best segmentation, EVERY
    * segmentation contributes its posterior probability, so a piece's
    * new count is its EXPECTED occurrence count. Everything on the
    * decision path is FIXED-POINT (the q110 convention):
    *
    *  - piece scores are round(ln(freq/total)·10⁶) BIGINTs;
    *  - each log-sum-exp (the forward α and backward β recurrences)
    *    max-shifts, folds its summands in sorted (start, piece) order
    *    — a LEFT float fold over a deterministically-ordered list is
    *    bit-reproducible, and the DuckDB oracle folds the identical
    *    list in the identical order — and rounds back to fixed point
    *    immediately;
    *  - each span's expected count exp((α(i)+s+β(j)−α(end))/10⁶)
    *    rounds to ·10⁶ BEFORE the occurrence-weighted recount, so the
    *    recount itself is a pure BIGINT sum (order-free).
    *
    * Corpus-scale shape = unigramCore's: ONE word-count shuffle, then
    * each EM round is one broadcast score join + ONE compiled
    * forward–backward pass per distinct word (the spans collect into a
    * sorted array column; both DPs and the expectation run inside a
    * single expression) + one vocabulary-sized recount shuffle.
    *
    * Returns (vocab (piece, freq — the 10⁶-scaled expected count),
    * firstSpanMass (w, mass_fp) — Σ of first-piece posteriors per
    * word, ≈ 10⁶ by the EM mass law; the spec's invariant). */
  private[llm] def unigramSoftCore(docs: DataFrame, seedSize: Int,
                                   rounds: Int, maxPieceLen: Int,
                                   maxWordLen: Int)
      : (DataFrame, DataFrame) = {
    require(rounds >= 1 && seedSize >= 1 && maxPieceLen >= 1)
    Rounds("unigram_soft", docs.sparkSession) { r =>
      // seed counts in fixed point: integer occurrence counts ·10⁶
      val (spans, singles, seed) = unigramSeed(r, docs, seedSize,
        maxPieceLen, maxWordLen, scale = 1000000L)
      var vocab = seed
      // forward α: position 0 is the base case; each reached position's
      // log-prob is a fixed-point LSE over its incoming spans, summands
      // folded in the pre-sorted span order (the array is sorted by
      // (i, j, piece) at collect — a strict total order)
      val lse = // max-shifted LSE over a BIGINT array `xs`, one libm
        // ln + one exp per summand, rounded straight back to fixed point
        """array_max(xs) + CAST(round(ln(aggregate(xs,
          |    CAST(0 AS DOUBLE),
          |    (a, x) -> a + exp(CAST(x - array_max(xs) AS DOUBLE)
          |                      / 1000000.0D))) * 1000000.0D, 0)
          |  AS BIGINT)""".stripMargin
      val fwdExpr =
        s"""aggregate(
           |  sequence(1, length(w)),
           |  array(named_struct('j', 0, 'afp', CAST(0 AS BIGINT))),
           |  (acc, jj) -> concat(acc,
           |    flatten(transform(
           |      array(transform(
           |        filter(sp, s -> s.j = jj
           |          AND size(filter(acc, a -> a.j = s.i)) > 0),
           |        s -> element_at(filter(acc, a -> a.j = s.i), 1).afp
           |             + s.score_fp)),
           |      xs -> CASE WHEN size(xs) = 0
           |        THEN CAST(array() AS ARRAY<STRUCT<j: INT, afp: BIGINT>>)
           |        ELSE array(named_struct('j', jj, 'afp', $lse))
           |      END))))""".stripMargin
      val bwdExpr =
        s"""aggregate(
           |  sequence(1, length(w)),
           |  array(named_struct('j', length(w), 'bfp', CAST(0 AS BIGINT))),
           |  (acc, k) -> concat(acc,
           |    flatten(transform(
           |      array(transform(
           |        filter(sp, s -> s.i = length(w) - k
           |          AND size(filter(acc, b -> b.j = s.j)) > 0),
           |        s -> element_at(filter(acc, b -> b.j = s.j), 1).bfp
           |             + s.score_fp)),
           |      xs -> CASE WHEN size(xs) = 0
           |        THEN CAST(array() AS ARRAY<STRUCT<j: INT, bfp: BIGINT>>)
           |        ELSE array(named_struct('j', length(w) - k, 'bfp', $lse))
           |      END))))""".stripMargin
      // per-span posterior expectation, rounded to fixed point BEFORE
      // the integer recount; spans with unreachable ends contribute none
      val eExpr =
        """CASE WHEN size(filter(dp, a -> a.j = length(w))) = 0
          |  THEN CAST(array() AS
          |    ARRAY<STRUCT<i: INT, piece: STRING, efp: BIGINT>>)
          |  ELSE transform(
          |    filter(sp, s ->
          |      size(filter(dp, a -> a.j = s.i)) > 0 AND
          |      size(filter(bp, b -> b.j = s.j)) > 0),
          |    s -> named_struct('i', s.i, 'piece', s.piece, 'efp',
          |      CAST(round(exp(CAST(
          |        element_at(filter(dp, a -> a.j = s.i), 1).afp
          |        + s.score_fp
          |        + element_at(filter(bp, b -> b.j = s.j), 1).bfp
          |        - element_at(filter(dp, a -> a.j = length(w)), 1).afp
          |        AS DOUBLE) / 1000000.0D) * 1000000.0D, 0) AS BIGINT)))
          |END""".stripMargin
      var lastSeg: DataFrame = null
      (1 to rounds).foreach { i =>
        r.round(i) {
          val totals = vocab.agg(sum("freq").as("total"))
          val scored = vocab.crossJoin(broadcast(totals))
            .select(col("piece"),
              round(log(col("freq").cast("double") /
                col("total").cast("double")) * 1e6, 0).cast("long")
                .as("score_fp"))
          val sc = spans.join(broadcast(scored), "piece")
          val arr = sc.groupBy(col("w"), col("cnt"))
            .agg(sort_array(collect_list(struct(col("i"), col("j"),
              col("piece"), col("score_fp")))).as("sp"))
          val seg = arr.withColumn("dp", expr(fwdExpr))
            .withColumn("bp", expr(bwdExpr))
            .withColumn("es", expr(eExpr))
          // materialize the segmentation only on the FINAL round (the
          // returned mass frame reads it); earlier rounds fold the DP into
          // the vocab checkpoint — one action per round, the hard-EM
          // convention above
          val segPieces = seg.select(col("w"), col("cnt"),
            explode(col("es")).as("e"))
          lastSeg = if (i == rounds) r.checkpoint(segPieces) else segPieces
          val counts = lastSeg
            .groupBy(col("e.piece").as("piece"))
            .agg(sum(col("cnt") * col("e.efp")).as("freq"))
            .where(col("freq") > 0L)
          // rebuild: expected-nonzero pieces survive; singles that rounded
          // to zero floor at count 1 (·10⁶) — coverage never lost
          vocab = r.checkpoint(counts.unionByName(
            singles.join(counts, Seq("piece"), "left_anti")
              .select(col("piece"), lit(1000000L).as("freq"))))
        }
      }
      // EM mass law witness: per word, the posteriors of the FIRST piece
      // (spans starting at 0) sum to 1 — Σ efp ≈ 10⁶ up to the per-span
      // rounding; the spec pins the tolerance
      val mass = lastSeg.where(col("e.i") === 0)
        .groupBy("w").agg(sum(col("e.efp")).as("mass_fp"))
      (vocab, mass)
    }
  }

  /** The soft-EM-trained unigram vocabulary, ranked — (rank, piece,
    * freq) by (freq DESC, piece), freq the 10⁶-scaled expected count.
    * See [[unigramSoftCore]]. */
  def trainUnigramSoft(docs: DataFrame, seedSize: Int = 48,
                       rounds: Int = 2, maxPieceLen: Int = 4,
                       maxWordLen: Int = 12): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (vocab, _) = unigramSoftCore(docs, seedSize, rounds, maxPieceLen,
      maxWordLen)
    val w = Window.partitionBy(lit(1)).orderBy(col("freq").desc, col("piece"))
    vocab.withColumn("rank", row_number().over(w).cast("long"))
      .select(col("rank"), col("piece"), col("freq"))
  }

  /** Corpus-level tokenizer comparison — fertility (tokens per word)
    * of the [[trainBpe]]/[[applyBpe]] merge tokenizer vs the
    * [[unigramCore]] Viterbi tokenizer on the SAME corpus: one row per
    * method (n_words, n_tokens, 4-dp fertility). The number vocabulary
    * sizing decisions actually read, measured for both trainers. */
  def tokenizerCompare(docs: DataFrame, bpeMerges: Int = 6,
                       seedSize: Int = 48, rounds: Int = 2,
                       maxPieceLen: Int = 4, maxWordLen: Int = 12)
      : DataFrame = {
    val bpe = applyBpe(docs, trainBpe(docs, bpeMerges, minPairCount = 2),
        bpeMerges)
      .agg(sum("n_words").as("n_words"),
        sum("n_subword_tokens").as("n_tokens"))
      .select(lit("bpe").as("method"), col("n_words"), col("n_tokens"))
    val (_, nPieces) = unigramCore(docs, seedSize, rounds, maxPieceLen,
      maxWordLen)
    val occ = docs.select(explode(TextAnalysis.tokens(col("text"))).as("w"))
      .where(length(col("w")) > 0)
    val uni = occ.join(nPieces, "w")
      .agg(count(lit(1)).as("n_words"), sum("n_pieces").as("n_tokens"))
      .select(lit("unigram").as("method"), col("n_words"), col("n_tokens"))
    bpe.unionByName(uni)
      .select(col("method"), col("n_words"), col("n_tokens"),
        round(col("n_tokens").cast("double") /
          col("n_words").cast("double"), 4).as("fertility"))
      .orderBy("method")
  }
}
