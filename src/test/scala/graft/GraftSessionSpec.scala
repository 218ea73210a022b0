package graft

import graft.plans.{GraftFunctions, TopKFinalExec, TopKPlanner, TopKStrategy}
import graft.streaming.ReplayDriver
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** graft reaches a Spark session by ONE path: [[GraftSession.builder]]
  * sets `spark.sql.extensions=graft.plans.GraftExtensions` (every
  * native function, both optimizer rules in the operator-optimization
  * batches, the TopK planner strategy) and the nanos read key. The test
  * session is built by that builder; a `newSession()` and the session
  * clone a stream micro-batch runs under inherit all of it, and nothing
  * in `src/main` patches a session any other way.
  */
class GraftSessionSpec extends SparkSpecBase {

  private val NanosKey = "spark.sql.legacy.parquet.nanosAsLong"

  /** Everything a graft session holds, checked on `s`. */
  private def assertGraftSession(s: SparkSession, which: String): Unit = {
    val reg = s.sessionState.functionRegistry
    val unresolved = GraftFunctions.descriptors.map(_._1).filterNot(reg.functionExists)
    assert(unresolved.isEmpty, s"$which: unresolved $unresolved")
    val batches = s.sessionState.optimizer.batches
    GraftFunctions.rules.foreach { r =>
      val in = batches.filter(_.rules.contains(r)).map(_.name).distinct
      // so never in the late "User Provided Optimizers" batch
      assert(in.nonEmpty && in.forall(_.startsWith("Operator Optimization")),
        s"$which: ${r.ruleName} in batches $in")
    }
    assert(s.experimental.extraOptimizations.isEmpty, s"$which: extraOptimizations")
    assert(s.experimental.extraStrategies.isEmpty, s"$which: extraStrategies")
    assert(s.sessionState.planner.extraPlanningStrategies.count(_ == TopKStrategy) == 1,
      s"$which: ${s.sessionState.planner.extraPlanningStrategies}")
  }

  test("the test session and a newSession() are graft sessions") {
    assertGraftSession(spark, "test session")
    assertGraftSession(spark.newSession(), "newSession()")
  }

  test("a newSession() reads TIMESTAMP(NANOS) before anything set the key") {
    val fresh = spark.newSession()
    assert(fresh.conf.get(NanosKey) == "true",
      "the nanos key must come from the builder's shared conf")
    val dir = org.apache.spark.sql.TablesReadSpec.nanosEventsDir(fresh)
    val events = graft.sources.Tables.events(fresh, dir)
    assert(events.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
    assert(events.select(unix_micros(col("ts"))).collect().map(_.getLong(0)).sorted
      .toSeq == Seq(1700000000000000L, 1700000000000000L))
  }

  test("a stream micro-batch runs on a graft session and plans the native top-k") {
    val src = ReplayDriver.runDir("sess_src")
    spark.range(0, 40).select((col("id") % 4).as("g"),
      ((col("id") * 7) % 11).cast("double").as("score"), col("id"))
      .coalesce(1).write.mode("overwrite").parquet(src)
    var batchSession: SparkSession = null
    var topKExecs = -1
    var got, want = Set.empty[Row]
    ReplayDriver.foreachDrop(ReplayDriver.drops(spark, src),
      ReplayDriver.runDir("sess_chk"), persist = false) { (batch, _) =>
      batchSession = batch.sparkSession
      val top = TopKPlanner.perGroup(batch, "g", "score", "id", k = 2)
      topKExecs = top.queryExecution.sparkPlan.collect { case p: TopKFinalExec => p }.size
      got = top.select("g", "id", "rnk").collect().toSet
      want = batch.withColumn("rnk", row_number().over(
        Window.partitionBy("g").orderBy(col("score").desc, col("id"))))
        .filter(col("rnk") <= 2).select("g", "id", "rnk").collect().toSet
    }
    assert(batchSession != null && !(batchSession eq spark),
      "the body must run on the stream's session clone")
    assertGraftSession(batchSession, "micro-batch session")
    assert(topKExecs == 1, s"$topKExecs TopKFinalExec in the micro-batch plan")
    assert(got.size == 8 && got == want, s"top-k $got vs window $want")
  }

  test("src/main reaches a session only through GraftSession") {
    def scalaFiles(root: String): Seq[java.nio.file.Path] = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      } finally s.close()
    }
    val factory = java.nio.file.Paths.get("src/main/scala/graft/GraftSession.scala")
    val others = scalaFiles("src/main").filter(_ != factory)
    assert(others.nonEmpty)
    def text(p: java.nio.file.Path) = java.nio.file.Files.readString(p)
    val hooks = Seq("ensureRegistered", "experimental.extraStrategies",
      "experimental.extraOptimizations", "SparkSession.builder")
    val patched = for (p <- others; h <- hooks if text(p).contains(h)) yield s"$p: $h"
    assert(patched.isEmpty, s"a second way into a session: $patched")
    // the key may be named in a comment, never set in code
    def code(p: java.nio.file.Path) = text(p).linesIterator.map(_.trim)
      .filterNot(l => l.startsWith("*") || l.startsWith("/*") || l.startsWith("//"))
    val nanos = others.filter(p => code(p).exists(_.contains(s"\"$NanosKey\"")))
    assert(nanos.isEmpty, s"$NanosKey set outside GraftSession: $nanos")
  }
}
