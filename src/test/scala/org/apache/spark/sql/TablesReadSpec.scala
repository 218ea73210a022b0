package org.apache.spark.sql

import graft.{CorpusPipeline, Pipeline}
import graft.sources.Tables
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** [[graft.sources.Tables.read]] gives every table the two chains
  * write, and every input they read, the schema that
  * `spark.read.parquet` infers — and starts no Spark job doing it.
  * (In this package to drain the `private[spark]` listener bus before
  * counting, as `GraftInternal` reaches Spark internals.)
  */
class TablesReadSpec extends graft.SparkSpecBase {

  private lazy val srcDir = TablesReadSpec.nanosEventsDir(spark)

  /** The value of `body` and the number of jobs it started. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  private def assertReadsAsInferred(path: String): Unit = {
    val (df, jobs) = jobsDuring(Tables.read(spark, path))
    assert(jobs == 0, s"$path: $jobs jobs")
    assert(df.schema == spark.read.parquet(path).schema, path)
  }

  test("every table the daily and curation chains write reads with the inferred schema, no job") {
    val wh = java.nio.file.Files.createTempDirectory("graft_tread_wh").toString
    Pipeline.runDaily(spark, sfDir, wh)
    val curated = java.nio.file.Files.createTempDirectory("graft_tread_cur").toString
    CorpusPipeline.runCuration(spark, sfDir, curated)
    val tables = Pipeline.StageNames.map(t => s"$wh/$t") ++
      CorpusPipeline.StageNames.map(t => s"$curated/$t")
    tables.foreach(assertReadsAsInferred)
    // the partitioned fact: its date column comes back from the directories
    assert(Tables.read(spark, s"$wh/f_events").schema("event_date").dataType ==
      types.DateType)
  }

  test("the events (NTZ and NANOS encodings), part and documents inputs read with the inferred schema, no job") {
    Seq(s"$sfDir/events.parquet", s"$srcDir/events.parquet",
      s"$sfDir/part.parquet", s"$sfDir/documents.parquet")
      .foreach(assertReadsAsInferred)
    assert(Tables.read(spark, s"$srcDir/events.parquet").schema("ts").dataType ==
      types.LongType)
    assert(Tables.events(spark, srcDir).schema("ts").dataType == types.TimestampType)
  }

  test("a path with no data file fails as the inferring read does") {
    val empty = java.nio.file.Files.createTempDirectory("graft_tread_empty").toString
    Seq(empty, s"$empty/missing").foreach { p =>
      val ours = intercept[AnalysisException](Tables.read(spark, p))
      val theirs = intercept[AnalysisException](spark.read.parquet(p))
      assert(ours.getCondition == theirs.getCondition, p)
    }
  }
}

object TablesReadSpec {

  /** A fresh dir holding a one-file events table whose `ts` is parquet
    * TIMESTAMP(NANOS) (which Spark itself cannot write): event_ids 1
    * and 2 at 1700000000000000000 + event_id nanos.
    */
  def nanosEventsDir(spark: SparkSession): String = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    val dir = java.nio.file.Files.createTempDirectory("graft_tread_src").toString
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,false)); }")
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/events.parquet"))
      .withType(schema)
      .withConf(spark.sparkContext.hadoopConfiguration)
      .build()
    val rows = new SimpleGroupFactory(schema)
    try Seq(1L, 2L).foreach(id =>
      w.write(rows.newGroup().append("event_id", id)
        .append("ts", 1700000000000000000L + id)))
    finally w.close()
    dir
  }
}
