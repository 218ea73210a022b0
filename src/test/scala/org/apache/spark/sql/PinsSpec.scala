package org.apache.spark.sql

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.GraftInternal.{cut, owningPins, pinRecomputable, Rounds}
import org.apache.spark.sql.functions.{col, count, lit}

/** The pin module: a recomputable pin survives the loss of its blocks,
  * a pin is visible to SQL listeners, and an owner releases every pin,
  * cut and persisted round made inside it, on any of its threads.
  */
class PinsSpec extends graft.SparkSpecBase {

  private def grouped: DataFrame = spark.range(0, 2000, 1, 4)
    .groupBy((col("id") % 13).as("k")).agg(count(lit(1)).as("n"))

  private def rowsOf(df: DataFrame): Seq[Row] = df.orderBy("k").collect().toSeq

  private def rddOf(pinned: DataFrame) =
    pinned.queryExecution.logical.asInstanceOf[execution.LogicalRDD].rdd

  test("a recomputable pin whose blocks are dropped mid-plan returns the same rows") {
    val expected = rowsOf(grouped)
    val pinned = pinRecomputable(grouped)
    try {
      val downstream = pinned.join(pinned.select(col("k"), col("n").as("m")), "k")
        .select(col("k"), col("n"))
      assert(org.apache.spark.SparkEnv.get.blockManager.master
        .getMatchingBlockIds(_.asRDDId.exists(_.rddId == rddOf(pinned).id),
          askStorageEndpoints = true).nonEmpty, "the pin holds no blocks")
      // an executor loss: the blocks go, the RDD stays persisted
      org.apache.spark.SparkEnv.get.blockManager.master
        .removeRdd(rddOf(pinned).id, blocking = true)
      assert(rowsOf(downstream) == expected)
      assert(rowsOf(pinned) == expected)
    } finally GraftInternal.unpin(pinned)
  }

  test("a pin runs as a SQL execution named pin: listeners get its plan, its jobs carry the execution id") {
    val jobIds = new java.util.concurrent.ConcurrentLinkedQueue[Option[String]]
    val jobs = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobIds.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))))
        ()
      }
    }
    spark.sparkContext.listenerBus.waitUntilEmpty()
    spark.sparkContext.addSparkListener(jobs)
    val (pinned, pins) = try PinPlans.during(spark)(pinRecomputable(grouped))
      finally spark.sparkContext.removeSparkListener(jobs)
    try {
      import scala.jdk.CollectionConverters._
      assert(pins.size == 1, s"${pins.size} pin executions")
      val plan = pins.head.executedPlan
      assert(plan.getClass.getSimpleName == "AdaptiveSparkPlanExec", plan)
      assert(plan.toString.contains("HashAggregate"), plan)
      val ids = jobIds.asScala.toSeq
      assert(ids.nonEmpty && ids.forall(_.isDefined), s"job execution ids: $ids")
    } finally GraftInternal.unpin(pinned)
  }

  test("an owner releases its pins, cuts and persisted rounds, on every thread of its run") {
    def held: (Int, Int) = {
      val cm = spark.sharedState.cacheManager
      (spark.sparkContext.getPersistentRDDs.size, cm.numCachedEntries)
    }
    val before = held
    var inside = (0, 0)
    assertLeavesNoPins(owningPins {
      pinRecomputable(grouped)
      cut(spark.range(0, 100).toDF("k"))
      val chain = new Rounds()
      chain.step(grouped)(_.count())
      val other = new Thread(() => { pinRecomputable(grouped.filter(col("k") > 3)); () })
      other.start()
      other.join()
      inside = held
    })
    assert(inside._1 >= before._1 + 4 && inside._2 >= before._2 + 1,
      s"held inside the owner: $inside, before: $before")
  }

  test("a lazy round cut lands with the round's action and supersedes the previous cut") {
    val chain = new Rounds(cutEvery = 1, eagerCut = false)
    val first = chain.step(grouped)(_.agg(functions.max(col("n"))).head())
    val second = chain.step(first.select(col("k"), (col("n") + 1).as("n")))(
      _.agg(functions.max(col("n"))).head())
    try {
      assert(rddOf(second).isCheckpointed, "the lazy cut did not land")
      assert(rddOf(first).getStorageLevel == org.apache.spark.storage.StorageLevel.NONE,
        "the superseded cut is still persisted")
      assert(rowsOf(second).map(_.getLong(1)) == rowsOf(grouped).map(_.getLong(1) + 1))
    } finally chain.release()
  }

  test("only the pin module cuts lineage, and no pin observation hook is left") {
    def scalaFiles(root: String): Seq[java.nio.file.Path] = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      } finally s.close()
    }
    def text(p: java.nio.file.Path) = java.nio.file.Files.readString(p)
    val module = java.nio.file.Paths.get(
      "src/main/scala/org/apache/spark/sql/GraftInternal.scala")
    val cuts = scalaFiles("src/main")
      .filter(p => p != module && text(p).contains("localCheckpoint("))
    assert(cuts.isEmpty, s"localCheckpoint outside the pin module: $cuts")
    val hook = "pin" + "Observer"
    val hooks = scalaFiles("src").filter(p => text(p).contains(hook))
    assert(hooks.isEmpty, s"$hook in $hooks")
  }
}
