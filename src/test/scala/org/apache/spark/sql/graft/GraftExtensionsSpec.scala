package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry

import graft.{GraftExtensions, GraftSession, SparkSpec}

/** `spark.sql.extensions` registration reads the lists `GraftSession.setup`
  * registers. Lives in Spark's package because the extension `build*`
  * accessors are `private[sql]`. */
class GraftExtensionsSpec extends SparkSpec {

  test("GraftExtensions injects exactly GraftSession's functions, rules and strategies") {
    val ext = new SparkSessionExtensions
    new GraftExtensions()(ext)
    assert(ext.buildOptimizerRules(spark) == GraftSession.rules)
    assert(ext.buildPlannerStrategies(spark) == GraftSession.strategies)
    val registry = ext.registerFunctions(new SimpleFunctionRegistry)
    assert(registry.listFunction().map(_.funcName).sorted ==
      GraftSession.functions.map(_._1.funcName).sorted)
  }

  test("the test session registers through the extensions only") {
    // the experimental hooks would add a second copy of every rule
    assert(spark.experimental.extraOptimizations.isEmpty)
    assert(spark.experimental.extraStrategies.isEmpty)
    val rules = spark.sessionState.optimizer.batches.flatMap(_.rules).toSet
    assert(GraftSession.rules.forall(rules.contains))
    assert(GraftSession.strategies.forall(
      spark.sessionState.planner.strategies.contains))
  }
}
