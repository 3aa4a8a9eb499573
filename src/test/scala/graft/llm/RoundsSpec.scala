package graft.llm

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Every iterative operator runs its rounds through [[Rounds]]: statics are
  * released on exit, repeated calls leave storage flat, and each round is
  * named in the job description. `knnGraph`, which runs no rounds, is held
  * to the same release checks. Connected components has its own release
  * spec in DedupSpec. */
class RoundsSpec extends SparkSpec {
  import spark.implicits._

  // inputs vary with the call number n: a repeated call on the same plan
  // would find its statics already cached and add nothing
  private def edges(n: Int) = Seq(("a", "b", 1L), ("b", "c", 2L),
    ("c", "a", 1L), ("c", "d", 1L + n)).toDF("src", "dst", "w")
  private def knn(n: Int) = Seq((1L, 2L, 3L), (2L, 3L, 1L), (3L, 1L, 2L),
    (4L, 1L, 1L + n)).toDF("src", "dst", "w")
  private def emb(n: Int) = (0 until 30).map(i => (i.toLong + 100L * n,
    Array.tabulate(4)(d => ((i * 7 + d * 3) % 11 - 5).toFloat)))
    .toDF("vec_id", "embedding")
  private lazy val docs = Seq((1L, "low lower lowest newer wider"),
    (2L, "new newest low slower")).toDF("doc_id", "text")
  private def phraseDocs(n: Int) = Seq((1L + n, "new york is big new york"),
    (2L, "big new york")).toDF("doc_id", "text")

  private val loops = Seq[(String, Int => Long)](
    "page_rank" -> (n => WebGraph.pageRank(edges(n), iters = 2).count()),
    "trust_rank" -> (n => WebGraph.trustRank(edges(n),
      Seq("a").toDF("node"), iters = 2).count()),
    "label_propagate" -> (n => WebGraph.labelPropagate(knn(n),
      Seq((1L, 7L)).toDF("vec_id", "lab"), rounds = 2).count()),
    "kmeans" -> (n => Similarity.kmeansTrain(emb(n), k = 3, iters = 2)._1.count()),
    "kmeans" -> (n => Similarity.kmeansTrainKeyed(
      emb(n).select(($"vec_id" % 2).as("s"), $"vec_id", $"embedding"),
      k = 2, iters = 2)._2.count()),
    "graph_search" -> (n => Similarity.graphSearchIndexed(
      emb(n).where($"vec_id" < 3), emb(n),
      (0L until 29L).map(i => (i, i + 1)).toDF("src", "dst"),
      Seq(0L).toDF("node"), k = 2, beam = 2, rounds = 2).count()),
    "train_bpe" -> (_ => LanguageModel.trainBpe(docs, merges = 3).count()),
    "apply_bpe" -> (_ => LanguageModel.applyBpe(docs,
      LanguageModel.trainBpe(docs, merges = 3), merges = 3).count()),
    "unigram" -> (_ =>
      LanguageModel.trainUnigram(docs, seedSize = 8, rounds = 2).count()),
    "unigram_soft" -> (_ =>
      LanguageModel.trainUnigramSoft(docs, seedSize = 8, rounds = 2).count()),
    "train_phrases" -> (n => LanguageModel.trainPhrases(phraseDocs(n),
      minCount = 1).count()),
    "apply_phrases" -> (n => LanguageModel.applyPhrases(phraseDocs(n),
      LanguageModel.trainPhrases(phraseDocs(n), minCount = 1), rounds = 2)
      .count()))

  /** Operators that materialize frames but run no rounds. */
  private val oneShot = Seq[(String, Int => Long)](
    "knn_graph" -> (n => Similarity.knnGraph(emb(n), k = 3).count()))

  private def cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    .sharedState.cacheManager

  test("every iterative operator leaves no cache entry, names its rounds " +
    "and restores the caller's job description") {
    val sc = spark.sparkContext
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(
          "spark.job.description"))).foreach(descs.add)
    }
    spark.catalog.clearCache()
    org.apache.spark.sql.graft.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try (loops ++ oneShot).foreach { case (op, call) =>
      descs.clear()
      sc.setJobDescription("outer")
      try {
        assert(call(0) > 0, op)
        org.apache.spark.sql.graft.ListenerBusDrain(sc)
        assert(sc.getLocalProperty("spark.job.description") == "outer", op)
      } finally sc.setJobDescription(null)
      assert(cache.isEmpty, s"$op left a cache entry")
      assert(oneShot.exists(_._1 == op) || descs.contains(s"$op:round=1"),
        s"$op: ${descs.toArray.distinct.toSeq}")
    } finally sc.removeSparkListener(listener)
  }

  // also trainPhrases, applyPhrases and knnGraph
  test("repeated pageRank, trustRank, labelPropagate and kmeansTrain calls " +
    "leave storage flat") {
    val sc = spark.sparkContext
    def stored = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
    val repeated = loops.filter { case (op, _) =>
      Set("page_rank", "trust_rank", "label_propagate", "train_phrases",
        "apply_phrases").contains(op)
    } ++ loops.find(_._1 == "kmeans") ++ oneShot
    spark.catalog.clearCache()
    repeated.foreach { case (_, call) => call(0) }
    System.gc()
    val base = stored
    repeated.foreach { case (_, call) => (1 to 20).foreach(call) }
    // the local checkpoints are released once unreachable
    val gcDeadline = System.nanoTime() + 20000000000L
    while (stored > base && System.nanoTime() < gcDeadline) {
      System.gc(); Thread.sleep(200)
    }
    assert(stored <= base, s"storage grew from $base to $stored bytes")
    assert(cache.isEmpty)
  }
}
