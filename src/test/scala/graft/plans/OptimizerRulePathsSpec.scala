package graft.plans

import graft.SparkSpecBase
import org.apache.spark.sql.SparkSession

/** graft's optimizer rules reach a session by ONE path: injected into
  * the operator-optimization batches by [[GraftExtensions]], or — on a
  * session built without the extension — appended to the late
  * "User Provided Optimizers" batch by
  * [[GraftFunctions.ensureRegistered]]. On both paths at once every
  * rule runs a second time per plan.
  */
class OptimizerRulePathsSpec extends SparkSpecBase {

  private val LateBatch = "User Provided Optimizers"

  /** rule name → names of the optimizer batches that hold it */
  private def rulePaths(s: SparkSession): Map[String, Seq[String]] = {
    val batches = s.sessionState.optimizer.batches
    GraftFunctions.rules.map(r => r.ruleName ->
      batches.filter(_.rules.contains(r)).map(_.name).distinct).toMap
  }

  test("GraftSession.local: each graft rule runs on one registration path") {
    // the shared test session exists first, so GraftSession.local never
    // makes this fork's SparkContext (and so never changes it for
    // later suites); it hands back the existing session
    assert(spark.sparkContext != null)
    val s = graft.GraftSession.local(4)
    graft.plans.GraftFunctions.ensureRegistered(s)
    val paths = rulePaths(s)
    paths.foreach { case (rule, batches) =>
      assert(batches.nonEmpty, s"$rule is in no optimizer batch")
      assert(batches.forall(_ == LateBatch) || !batches.contains(LateBatch),
        s"$rule runs on both paths: $batches")
    }
  }

  test("a session built with GraftExtensions keeps the rules out of the late batch") {
    assert(spark.sparkContext != null)
    val active = SparkSession.getActiveSession
    val default = SparkSession.getDefaultSession
    val s =
      try SparkSession.builder().withExtensions(new GraftExtensions).create()
      finally {
        active.foreach(SparkSession.setActiveSession)
        default.foreach(SparkSession.setDefaultSession)
      }
    GraftFunctions.ensureRegistered(s)
    GraftFunctions.ensureRegistered(s)
    assert(s.experimental.extraOptimizations.isEmpty,
      s.experimental.extraOptimizations.map(_.ruleName).toString)
    rulePaths(s).foreach { case (rule, batches) =>
      assert(batches.nonEmpty && !batches.contains(LateBatch),
        s"$rule in batches $batches")
    }
  }
}
