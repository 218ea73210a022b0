package graft.streaming

import graft.SparkSpecBase
import graft.operators.IncrementalAgg
import graft.sources.Tables
import org.apache.spark.sql.functions._

class IncrFeedSpec extends SparkSpecBase {

  private val spec = IncrementalAgg.Spec(
    sums = Seq("value"), mins = Seq("value"), maxs = Seq("value"))
  private val keys = Seq("event_type", "day")

  private def drops = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"),
        col("ts").cast("date").as("day"), col("value"))
    (0 until 3).map(i => ev.filter(col("event_id") % 3 === i).drop("event_id"))
  }

  private def oneShot = Tables.events(spark, sfDir)
    .groupBy(col("event_type"), col("ts").cast("date").as("day"))
    .agg(count(lit(1)).as("n_rows"),
      sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"),
      min(col("value")).as("min_value"), max(col("value")).as("max_value"))

  private def fresh(tag: String): String = {
    val dir = s"${sys.props("java.io.tmpdir")}/graft_incrfeed_$tag"
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    dir
  }

  test("streamed drops fold to the one-shot aggregate") {
    val out = IncrFeed.replayIncrAgg(spark, drops, keys, spec, fresh("replay"))
      .withColumn("sum_value", col("sum_value").cast("double"))
    assert(out.exceptAll(oneShot).count() === 0)
    assert(oneShot.exceptAll(out).count() === 0)
  }

  test("a replayed batch is a no-op, never a double count") {
    val work = fresh("idem")
    val ds = drops
    IncrFeed.applyBatch(ds(0), 0L, work, keys, spec)
    IncrFeed.applyBatch(ds(1), 1L, work, keys, spec)
    val before = spark.read.parquet(s"$work/data").collect().toSeq
    // at-least-once channel redelivers batch 1, then an older batch 0
    IncrFeed.applyBatch(ds(1), 1L, work, keys, spec)
    IncrFeed.applyBatch(ds(0), 0L, work, keys, spec)
    val after = spark.read.parquet(s"$work/data").collect().toSeq
    assert(after === before)
    assert(IncrFeed.appliedBatch(spark, s"$work/data") === 1L)
    // and the NEXT batch still applies on top
    IncrFeed.applyBatch(ds(2), 2L, work, keys, spec)
    val done = spark.read.parquet(s"$work/data")
      .withColumn("sum_value", col("sum_value").cast("double"))
    assert(done.exceptAll(oneShot).count() === 0)
  }

  test("a batch redelivered after a crash between the swap's renames folds onto the backed-up state") {
    val work = fresh("midswap")
    val done = fresh("midswap_done")
    val ds = drops
    (0 to 1).foreach(i => IncrFeed.applyBatch(ds(i), i.toLong, work, keys, spec))
    (0 to 2).foreach(i => IncrFeed.applyBatch(ds(i), i.toLong, done, keys, spec))
    // the layout of a crash during batch 2's swap, after the live table
    // was backed up and before staging was promoted
    val fs = new org.apache.hadoop.fs.Path(work)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def hp(s: String) = new org.apache.hadoop.fs.Path(s)
    assert(fs.rename(hp(s"$work/data"), hp(s"$work/data.backup")))
    assert(fs.rename(hp(s"$done/data"), hp(s"$work/data.staging")))
    IncrFeed.applyBatch(ds(2), 2L, work, keys, spec)
    val out = spark.read.parquet(s"$work/data")
      .withColumn("sum_value", col("sum_value").cast("double"))
    assert(out.exceptAll(oneShot).count() === 0)
    assert(oneShot.exceptAll(out).count() === 0)
    assert(IncrFeed.appliedBatch(spark, s"$work/data") === 2L)
  }
}
