package graft

import java.nio.file.Files

class PipelineSpec extends SparkSpecBase {

  test("daily pipeline lands the full star schema and is idempotent") {
    val w = Files.createTempDirectory("graft_wh").toString
    val first = Pipeline.runDaily(spark, sfDir, w)
    assert(first.map(_.name) == Seq("event_raw", "d_event", "d_user",
      "d_parameter", "d_item", "f_events", "view_yearly_counts",
      "view_item_rank", "view_top_item", "view_top_platform"))
    assert(first.forall(_.rows > 0))
    // re-running the same load must not change any table (MERGE semantics)
    val second = Pipeline.runDaily(spark, sfDir, w)
    assert(second.map(r => r.name -> r.rows) == first.map(r => r.name -> r.rows))
    // spot-check a merged dim equals its source build
    val dUser = spark.read.parquet(s"$w/d_user")
    assert(dUser.count() ==
      graft.sources.Tables.events(spark, sfDir).select("user_id").distinct().count())
  }

  test("two different daily drops merge into one consistent star schema") {
    import org.apache.spark.sql.functions._
    val stage = Files.createTempDirectory("graft_drops").toString
    val events = graft.sources.Tables.events(spark, sfDir)
    val part = graft.sources.Tables.part(spark, sfDir)
    val cutoff = "2024-01-05"
    def writeDrop(name: String, df: org.apache.spark.sql.DataFrame): String = {
      val dir = s"$stage/$name"
      df.write.parquet(s"$dir/events.parquet")
      part.write.parquet(s"$dir/part.parquet")
      dir
    }
    val drop1 = writeDrop("day1", events.filter(col("ts") < cutoff))
    val drop2 = writeDrop("day2", events.filter(col("ts") >= cutoff))
    val w = s"$stage/wh"
    Pipeline.runDaily(spark, drop1, w)
    Pipeline.runDaily(spark, drop2, w)
    // the merged fact covers both drops exactly once
    val fact = spark.read.parquet(s"$w/f_events")
    assert(fact.count() == events.count())
    assert(fact.select("event_id").distinct().count() == events.count())
    // user dim accumulated across drops with unique stable surrogates
    val dUser = spark.read.parquet(s"$w/d_user")
    assert(dUser.count() == events.select("user_id").distinct().count())
    assert(dUser.select("guid_user").distinct().count() == dUser.count())
  }

  test("a LATE event drop merges idempotently into the loaded warehouse") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val events = graft.sources.Tables.events(spark, sfDir)
    val part = graft.sources.Tables.part(spark, sfDir)
    val onTime = events.filter(col("event_id") % 5 =!= 0)
    val late = events.filter(col("event_id") % 5 === 0)
    // the drop IS late: every one of its events precedes the maximum
    // event_time already loaded (the reference's daily-overwrite layer
    // would accept it by discarding the loaded day)
    val loadedMax = onTime.agg(max(col("ts"))).head().getTimestamp(0)
    val lateMax = late.agg(max(col("ts"))).head().getTimestamp(0)
    assert(lateMax.before(loadedMax),
      s"gate data must make the drop genuinely late ($lateMax vs $loadedMax)")
    val stage = Files.createTempDirectory("graft_late").toString
    val w = s"$stage/wh"
    Pipeline.runDailyLoad(spark, onTime, part, w)
    Pipeline.runDailyLoad(spark, late, part, w)
    // single-full-load reference warehouse
    val wFull = s"$stage/wh_full"
    Pipeline.runDailyLoad(spark, events, part, wFull)
    // every MERGE table equals the single-load answer VALUE-FOR-VALUE:
    // the late event upserted — never dropped, duplicated or renumbered.
    // (d_event/f_events surrogates depend on arrival order by design;
    // their key SETS and fact payloads must still match.)
    def rows(p: String, cols: String*) =
      spark.read.parquet(p).select(cols.map(col): _*)
        .collect().map(_.toSeq).toSet
    assert(rows(s"$w/d_user", "user_id", "guid_user") ==
      rows(s"$wFull/d_user", "user_id", "guid_user"))
    assert(rows(s"$w/d_parameter", "parameter_name") ==
      rows(s"$wFull/d_parameter", "parameter_name"))
    assert(rows(s"$w/d_item", "item_id", "item_price") ==
      rows(s"$wFull/d_item", "item_id", "item_price"))
    assert(rows(s"$w/d_event", "event_id") ==
      rows(s"$wFull/d_event", "event_id"))
    assert(rows(s"$w/f_events", "event_id", "event_time", "event_value") ==
      rows(s"$wFull/f_events", "event_id", "event_time", "event_value"))
    // surrogates stay dense 1..n in both (no renumbering, no gaps)
    def guidSum(p: String, c: String) = spark.read.parquet(p)
      .agg(sum(col(c))).head().getLong(0)
    val n = spark.read.parquet(s"$w/d_event").count()
    assert(guidSum(s"$w/d_event", "guid_event") == n * (n + 1) / 2)
    // RE-DELIVERING the late drop is a no-op (at-least-once safety)
    Pipeline.runDailyLoad(spark, late, part, w)
    assert(rows(s"$w/f_events", "event_id", "event_time", "event_value") ==
      rows(s"$wFull/f_events", "event_id", "event_time", "event_value"))
    assert(guidSum(s"$w/d_user", "guid_user") ==
      guidSum(s"$wFull/d_user", "guid_user"))
  }

  test("a daily load leaves nothing persisted or cached") {
    val w = Files.createTempDirectory("graft_wh_pins").toString
    val events = graft.sources.Tables.events(spark, sfDir)
    val part = graft.sources.Tables.part(spark, sfDir)
    assertLeavesNoPins(Pipeline.runDailyLoad(spark, events, part, w))
  }

  test("surrogate keys stay stable and unique across incremental drops") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_sur").toString + "/d"
    // drop 1: keys B, C
    graft.sources.Sinks.mergeDimSurrogate(spark,
      path, Seq(20L, 30L).toDF("k"), "k", "guid")
    val first = spark.read.parquet(path).as[(Long, Long)].collect().toMap
    // drop 2: new key A sorts BEFORE the stored ones, plus re-sent B
    graft.sources.Sinks.mergeDimSurrogate(spark,
      path, Seq(10L, 20L).toDF("k"), "k", "guid")
    val second = spark.read.parquet(path).as[(Long, Long)].collect().toMap
    assert(second(20L) == first(20L) && second(30L) == first(30L)) // stable
    assert(second(10L) == first.values.max + 1)                    // appended
    assert(second.values.toSeq.sorted == Seq(1L, 2L, 3L))          // dense+unique
  }
}
