package org.apache.spark.sql

import org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry

/** The two registration paths install the same thing: a session built
  * with `spark.sql.extensions=graft.plans.GraftExtensions` must resolve
  * every function and run every rule that
  * [[graft.plans.GraftFunctions.ensureRegistered]] adds to a
  * caller-provided session. (In this package to reach the
  * `private[sql]` extension API, as `GraftInternal` does.)
  */
class GraftExtensionsSpec extends graft.SparkSpecBase {

  test("GraftExtensions injects every function and rule ensureRegistered installs") {
    val fresh = spark.newSession()
    graft.plans.GraftFunctions.ensureRegistered(fresh)
    val registered = fresh.sessionState.functionRegistry.listFunction()
      .map(_.funcName).filter(_.startsWith("graft_")).toSet

    val ext = new SparkSessionExtensions
    new graft.plans.GraftExtensions().apply(ext)
    val injected = ext.registerFunctions(new SimpleFunctionRegistry)
      .listFunction().map(_.funcName).toSet

    assert(registered.size >= 8, s"ensureRegistered registered $registered")
    assert(registered.subsetOf(injected),
      s"missing from GraftExtensions: ${(registered -- injected).toSeq.sorted}")
    val rules = ext.buildOptimizerRules(fresh).map(_.ruleName).toSet
    val late = fresh.experimental.extraOptimizations.map(_.ruleName).toSet
    assert(late.nonEmpty && late.subsetOf(rules),
      s"optimizer rules missing from GraftExtensions: ${late -- rules}")
  }
}
