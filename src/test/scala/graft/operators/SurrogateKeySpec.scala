package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

class SurrogateKeySpec extends SparkSpecBase {
  import spark.implicits._

  test("dense ids are 1..N in key order, matching a global row_number") {
    val df = Seq(30L, 10L, 20L, 50L, 40L).toDF("k")
    val out = SurrogateKey.withDenseId(df, Seq("k"), "id")
      .orderBy("k").as[(Long, Long)].collect()
    assert(out.toSeq == Seq((10L, 1L), (20L, 2L), (30L, 3L), (40L, 4L), (50L, 5L)))
  }

  test("ids stay dense and unique on a real table across partitions") {
    val e = graft.sources.Tables.events(spark, sfDir).select($"event_id")
    val out = SurrogateKey.withDenseId(e, Seq("event_id"), "guid")
    val n = out.count()
    val stats = out.agg(min($"guid"), max($"guid"), countDistinct($"guid")).head()
    assert(stats.getLong(0) == 1L)
    assert(stats.getLong(1) == n)
    assert(stats.getLong(2) == n)
  }

  test("ordered dense ids equal row_number over (ts desc, event_id) across range partitions") {
    // f_events' numbering (StarSchema.fEvents): latest first, event_id
    // breaking ties. Coalescing off, so the 8 range partitions survive
    // and the per-partition offsets are exercised.
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "8")
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    val e = graft.sources.Tables.events(s, sfDir).select(col("event_id"), col("ts"))
    val order = Seq(col("ts").desc, col("event_id"))
    val out = SurrogateKey.withDenseIdOrdered(e, order, "guid")
    val filled = out.rdd.mapPartitions(it => Iterator(it.size)).collect().count(_ > 0)
    assert(filled >= 4, s"$filled non-empty range partitions")
    def ids(df: org.apache.spark.sql.DataFrame, c: String) =
      df.select(col("event_id"), col(c)).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1).toSeq
    val got = ids(out, "guid")
    val want = ids(e.withColumn("rn", row_number().over(
      org.apache.spark.sql.expressions.Window.orderBy(order: _*)).cast("long")), "rn")
    assert(got.size.toLong == e.count())
    assert(got == want)
    assert(got.map(_._2).sorted == (1L to got.size.toLong))
  }
}
