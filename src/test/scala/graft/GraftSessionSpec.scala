package graft

import graft.plans.{AnnJoinRewrite, TopKPerKeyStrategy, TopKRewrite}

/** The session recipes and the runtime registration path.
  *
  * The recipes are asserted as maps, not read back from a session: suites
  * share one JVM and one SparkContext, so a builder's confs reach a session
  * only when it is the JVM's first. `setup` runs on a `newSession()`,
  * which starts with none of the engine's registrations. */
class GraftSessionSpec extends SparkSpec {

  private val rocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  test("recipes: recommended and local share core and add only their own keys") {
    assert(GraftSession.core == Map(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.hadoop.fs.file.impl" -> "graft.io.NioLocalFileSystem"))
    assert(GraftSession.recommended == GraftSession.core ++ Map(
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.streaming.stateStore.providerClass" -> rocksDb,
      "spark.sql.codegen.cache.maxEntries" -> "512"))
    assert(GraftSession.local("8") -- GraftSession.core.keys == Map(
      "spark.master" -> "local[8]",
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false"))
  }

  test("local recipe is pinned: the Bench/Verify harness conf") {
    // every Bench timing and Verify dump runs on exactly this conf
    assert(GraftSession.local("4") == Map(
      "spark.master" -> "local[4]",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.hadoop.fs.file.impl" -> "graft.io.NioLocalFileSystem",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false"))
  }

  test("setup: functions, rules and strategy, each once after two calls") {
    val s = spark.newSession()
    val registry = s.sessionState.functionRegistry
    GraftSession.functions.foreach { case (id, _, _) =>
      assert(!registry.functionExists(id), id)
    }
    assert(GraftSession.setup(GraftSession.setup(s)) eq s)
    GraftSession.functions.foreach { case (id, _, _) =>
      assert(registry.functionExists(id), id)
    }
    assert(s.sql("SELECT poly_hash('abc')").head().getLong(0) != 0L)
    assert(s.experimental.extraOptimizations == Seq(TopKRewrite, AnnJoinRewrite))
    assert(s.experimental.extraStrategies == Seq(TopKPerKeyStrategy))
  }

  test("test session: each rule and strategy once, in the experimental hooks") {
    // the session Bench, Verify and etlbench plan on: rules run once, in
    // the optimizer's last batch, not inside the operator-optimization
    // batches where spark.sql.extensions would put them
    assert(spark.experimental.extraOptimizations == GraftSession.rules)
    assert(spark.experimental.extraStrategies == GraftSession.strategies)
    val batches = spark.sessionState.optimizer.batches
    GraftSession.rules.foreach { rule =>
      assert(batches.map(_.rules.count(_ eq rule)).sum == 1, rule.ruleName)
      assert(batches.exists(b => b.name == "User Provided Optimizers" &&
        b.rules.contains(rule)), rule.ruleName)
    }
    GraftSession.strategies.foreach { strategy =>
      assert(spark.sessionState.planner.strategies.count(_ eq strategy) == 1)
    }
  }
}
