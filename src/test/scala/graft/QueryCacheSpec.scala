package graft

/** Query bodies that read a frame more than once hold it as an eager
  * local checkpoint, not a cache entry: run repeatedly in one session
  * without `clearCache()`, as a long-running application would, they
  * leave the cache manager empty. */
class QueryCacheSpec extends SparkSpec {

  test("q163, q133, q131 and q164 leave no cache entry when run twice " +
    "without clearCache") {
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    val names = Seq("q163_leakage_safe_split", "q133_dedup_pair_recall",
      "q131_ann_recall", "q164_retrieval_metrics")
    spark.catalog.clearCache()
    for (run <- 1 to 2; name <- names) {
      assert(SparkEntry.queries(name)(spark, Sf0001).count() > 0, name)
      assert(cache.isEmpty, s"$name (run $run) left a cache entry")
    }
  }
}
