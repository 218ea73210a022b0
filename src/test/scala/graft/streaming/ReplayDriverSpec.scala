package graft.streaming

import graft.SparkSpecBase
import org.apache.spark.sql.DataFrame

/** The replay driver's batch wrapper owns the pins its body makes: a
  * near-dup micro-batch pins its delta side (signature bands, rep
  * election, internal verify) and must release every pin when the
  * batch ends, or a long-lived stream holds each batch's blocks until
  * the session ends.
  */
class ReplayDriverSpec extends SparkSpecBase {

  private def persisted: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Run `replay` once to warm its staging memo (staging builds and
    * pins the base index outside any batch), drop what that left, then
    * run it again: the second run must leave nothing persisted.
    */
  private def leavesNoPins(replay: => DataFrame): Unit = {
    replay
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    val before = persisted
    replay
    val after = persisted
    assert(after.size == before.size,
      s"a replay left ${(after -- before).size} persisted RDDs behind")
    assert((after -- before).isEmpty)
  }

  test("text near-dup replay releases every micro-batch's pins") {
    leavesNoPins(StreamReplay.replayNearDupDrops(spark, sfDir))
  }

  test("frame-signature replay releases every micro-batch's pins") {
    leavesNoPins(StreamReplay.replayMmPhashDropsWithSink(spark, sfDir)._2)
  }

  test("rep-grain frame-signature replay releases every micro-batch's pins") {
    leavesNoPins(StreamReplay.replayMmPhashRepDropsWithSink(spark, sfDir)._2)
  }
}
