package graft.sources

import graft.SparkSpecBase
import org.apache.spark.sql.functions._
import java.nio.file.Files

class SinksSpec extends SparkSpecBase {
  import spark.implicits._

  test("appendPartitioned lands date partitions that prune on read") {
    val dir = Files.createTempDirectory("graft_part").toString + "/fact"
    val df = Tables.events(spark, sfDir)
      .withColumn("day", col("ts").cast("date").cast("string"))
    Sinks.appendPartitioned(df, dir, "day")
    val re = spark.read.parquet(dir)
    assert(re.count() == df.count())
    val oneDay = re.filter(col("day") === "2024-01-01")
    val plan = oneDay.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PartitionFilters"), plan)
    assert(oneDay.count() > 0)
  }

  test("mergeFactByDate: only touched date partitions are rewritten, the rest stay byte-identical") {
    val path = Files.createTempDirectory("graft_factpart").toString + "/fact"
    def day(s: String) = java.sql.Date.valueOf(s)
    val load1 = Seq(
      (1L, "p", 1L, day("2024-01-01"), 10.0),
      (2L, "p", 1L, day("2024-01-02"), 20.0),
      (3L, "q", 2L, day("2024-01-03"), 30.0)
    ).toDF("event_id", "pname", "pval", "event_date", "v")
    Sinks.mergeFactByDate(spark, path, load1, load1,
      Seq("event_id", "pname", "pval"), Seq("v"))
    def files(d: String): Map[String, Long] = {
      val dir = new java.io.File(s"$path/event_date=$d")
      dir.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val before01 = files("2024-01-01")
    val before03 = files("2024-01-03")
    assert(before01.nonEmpty && before03.nonEmpty)
    Thread.sleep(1100) // mtime granularity guard
    // the drop touches ONLY 2024-01-02: one update + one insert there
    val delta = Seq(
      (2L, "p", 1L, day("2024-01-02"), 99.0),
      (4L, "r", 3L, day("2024-01-02"), 40.0)
    ).toDF("event_id", "pname", "pval", "event_date", "v")
    assert(Sinks.mergeFactByDate(spark, path, delta, delta,
      Seq("event_id", "pname", "pval"), Seq("v")) == 4)
    val got = spark.read.parquet(path).select("event_id", "v").orderBy("event_id")
      .as[(Long, Double)].collect().toSeq
    assert(got == Seq((1L, 10.0), (2L, 99.0), (3L, 30.0), (4L, 40.0)))
    // untouched dates: same files, same mtimes — never rewritten
    assert(files("2024-01-01") == before01)
    assert(files("2024-01-03") == before03)
    // idempotent re-merge of the same drop
    Sinks.mergeFactByDate(spark, path, delta, delta,
      Seq("event_id", "pname", "pval"), Seq("v"))
    assert(spark.read.parquet(path).select("event_id", "v").orderBy("event_id")
      .as[(Long, Double)].collect().toSeq == got)
  }

  test("mergeFactByDate: a crashed partition swap recovers from the external backup") {
    val path = Files.createTempDirectory("graft_factcrash").toString + "/fact"
    def day(s: String) = java.sql.Date.valueOf(s)
    val load1 = Seq(
      (1L, "p", day("2024-01-01"), 1.0),
      (2L, "p", day("2024-01-02"), 2.0)
    ).toDF("event_id", "pname", "event_date", "v")
    Sinks.mergeFactByDate(spark, path, load1, load1,
      Seq("event_id", "pname"), Seq("v"))
    // simulate a crash window: partition dir renamed to the backup,
    // replacement never landed (the backup root is OUTSIDE the table
    // root, so partition discovery on the half-swapped table stays
    // valid — no `date=X.backup` pseudo-partition)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = new org.apache.hadoop.fs.Path(s"$path/event_date=2024-01-02")
    val backupRoot = new org.apache.hadoop.fs.Path(path + ".pbackup")
    fs.mkdirs(backupRoot)
    assert(fs.rename(part,
      new org.apache.hadoop.fs.Path(backupRoot, "event_date=2024-01-02")))
    assert(spark.read.parquet(path).count() == 1) // crash-window view
    // the next load recovers the partition BEFORE merging
    val delta = Seq((3L, "q", day("2024-01-03"), 3.0))
      .toDF("event_id", "pname", "event_date", "v")
    Sinks.mergeFactByDate(spark, path, delta, delta,
      Seq("event_id", "pname"), Seq("v"))
    assert(spark.read.parquet(path).count() == 3)
    assert(!fs.exists(backupRoot))
  }

  test("mergeFactByDate: a stray .staging from a crashed first load does not block the next") {
    val path = Files.createTempDirectory("graft_factstray").toString + "/fact"
    def day(s: String) = java.sql.Date.valueOf(s)
    def load(rows: (Long, String, Long, java.sql.Date, Double)*) =
      rows.toDF("event_id", "pname", "pval", "event_date", "v")
    // the first load died after writing its staging dir: no table yet
    load((9L, "z", 9L, day("2024-01-09"), 90.0))
      .write.partitionBy("event_date").parquet(path + ".staging")
    val first = load((1L, "p", 1L, day("2024-01-01"), 10.0),
      (2L, "q", 2L, day("2024-01-02"), 20.0))
    assert(Sinks.mergeFactByDate(spark, path, first, first,
      Seq("event_id", "pname", "pval"), Seq("v")) == 2)
    assert(spark.read.parquet(path).select("event_id", "v").orderBy("event_id")
      .as[(Long, Double)].collect().toSeq == Seq((1L, 10.0), (2L, 20.0)))
    assert(!new java.io.File(path + ".staging").exists())
  }

  test("mergeFactByDate rejects NULL partition dates in-plan") {
    val path = Files.createTempDirectory("graft_factnull").toString + "/fact"
    val bad = Seq((1L, Option(java.sql.Date.valueOf("2024-01-01")), 1.0),
      (2L, Option.empty[java.sql.Date], 2.0))
      .toDF("event_id", "event_date", "v")
    val ex = intercept[Exception] {
      Sinks.mergeFactByDate(spark, path, bad, bad, Seq("event_id"), Seq("v"))
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("NULL event_date")), ex.toString)
  }

  test("mergeDim update vs ignore semantics across loads") {
    val path = Files.createTempDirectory("graft_dim").toString + "/dim"
    val v1 = Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("k", "name", "price")
    Sinks.mergeDim(spark, path, v1, Seq("k"), Seq("name", "price"))
    val delta = Seq((2L, "B", 9.0), (3L, "c", 3.0)).toDF("k", "name", "price")
    // SCD-1: 2 updates, 3 inserts
    assert(Sinks.mergeDim(spark, path, delta, Seq("k"), Seq("name", "price"),
      Sinks.Update) == 3)
    val updated = spark.read.parquet(path)
      .orderBy("k").as[(Long, String, Double)].collect().toSeq
    assert(updated == Seq((1L, "a", 1.0), (2L, "B", 9.0), (3L, "c", 3.0)))
    // ignore: existing keys keep their values
    val delta2 = Seq((3L, "CLASH", 0.0), (4L, "d", 4.0)).toDF("k", "name", "price")
    assert(Sinks.mergeDim(spark, path, delta2, Seq("k"), Nil, Sinks.Ignore) == 4)
    val ignored = spark.read.parquet(path)
      .orderBy("k").as[(Long, String, Double)].collect().toSeq
    assert(ignored == Seq((1L, "a", 1.0), (2L, "B", 9.0), (3L, "c", 3.0), (4L, "d", 4.0)))
  }

  /** The messages of `t` and its causes, outermost first. */
  private def causeMessages(t: Throwable): Seq[String] =
    Option(t).toSeq.flatMap(e =>
      Option(e.getMessage).toSeq ++ causeMessages(e.getCause))

  /** Each data file of a table: name → mtime. */
  private def dataFiles(path: String): Map[String, Long] =
    new java.io.File(path).listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.lastModified()).toMap

  test("mergeDim: a delta that changes no row leaves every file in place") {
    val path = Files.createTempDirectory("graft_dim_same").toString + "/dim"
    val v1 = Seq((1L, Option("a"), 1.0), (2L, Option.empty[String], 2.0),
      (3L, Option("c"), 3.0)).toDF("k", "name", "price")
    assert(Sinks.mergeDim(spark, path, v1, Seq("k"), Seq("name", "price")) == 3)
    val before = dataFiles(path)
    assert(before.nonEmpty)
    Thread.sleep(1100) // mtime granularity guard
    // a re-delivered subset, NULL cell included, in both modes
    val same = v1.filter(col("k") =!= 3L)
    assert(Sinks.mergeDim(spark, path, same, Seq("k"), Seq("name", "price")) == 3)
    assert(Sinks.mergeDim(spark, path, same, Seq("k"), Nil, Sinks.Ignore) == 3)
    assert(dataFiles(path) == before)
    // under Ignore a changed value on a stored key is still no change
    val clash = Seq((1L, Option("CLASH"), 0.0)).toDF("k", "name", "price")
    assert(Sinks.mergeDim(spark, path, clash, Seq("k"), Nil, Sinks.Ignore) == 3)
    assert(dataFiles(path) == before)
    assert(spark.read.parquet(path).orderBy("k")
      .as[(Long, Option[String], Double)].collect().toSeq ==
      Seq((1L, Some("a"), 1.0), (2L, None, 2.0), (3L, Some("c"), 3.0)))
  }

  test("mergeDim: one changed row rewrites the table") {
    val path = Files.createTempDirectory("graft_dim_one").toString + "/dim"
    val v1 = Seq((1L, Option("a"), 1.0), (2L, Option.empty[String], 2.0))
      .toDF("k", "name", "price")
    Sinks.mergeDim(spark, path, v1, Seq("k"), Seq("name", "price"))
    Seq(
      Seq((1L, Option("a"), 1.0), (2L, Option("b"), 2.0)), // NULL → value
      Seq((1L, Option("a"), 1.0), (2L, Option.empty[String], 2.0),
        (9L, Option("z"), 9.0))                           // an insert
    ).foreach { rows =>
      val before = dataFiles(path)
      Thread.sleep(1100)
      val n = Sinks.mergeDim(spark, path, rows.toDF("k", "name", "price"),
        Seq("k"), Seq("name", "price"))
      assert(dataFiles(path) != before, rows)
      assert(n == spark.read.parquet(path).count())
      rows.foreach { case (k, name, price) =>
        assert(spark.read.parquet(path).filter(col("k") === k)
          .as[(Long, Option[String], Double)].collect().toSeq ==
          Seq((k, name, price)))
      }
    }
  }

  test("mergeDim: a duplicate-key delta raises even when every row is stored") {
    val path = Files.createTempDirectory("graft_dim_dup").toString + "/dim"
    val v1 = Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("k", "name", "price")
    Sinks.mergeDim(spark, path, v1, Seq("k"), Seq("name", "price"))
    val dup = v1.unionByName(v1.filter(col("k") === 1L))
    val ex = intercept[Exception] {
      Sinks.mergeDim(spark, path, dup, Seq("k"), Seq("name", "price"))
    }
    assert(causeMessages(ex).exists(_.contains("duplicate keys")), ex.toString)
  }

  test("mergeFactByDate: a delta row outside the declared dates fails and swaps nothing") {
    val path = Files.createTempDirectory("graft_factdates").toString + "/fact"
    def day(s: String) = java.sql.Date.valueOf(s)
    val load1 = Seq((1L, day("2024-01-01"), 1.0), (2L, day("2024-01-02"), 2.0))
      .toDF("event_id", "event_date", "v")
    Sinks.mergeFactByDate(spark, path, load1, load1, Seq("event_id"), Seq("v"))
    def parts: Map[String, Map[String, Long]] =
      new java.io.File(path).listFiles().filter(_.isDirectory)
        .map(d => d.getName -> dataFiles(d.toString)).toMap
    val before = parts
    Thread.sleep(1100)
    val delta = Seq((1L, day("2024-01-01"), 10.0), (3L, day("2024-01-03"), 3.0))
      .toDF("event_id", "event_date", "v")
    val ex = intercept[Exception] {
      Sinks.mergeFactByDate(spark, path, delta,
        delta.filter(col("event_id") === 1L), Seq("event_id"), Seq("v"))
    }
    assert(causeMessages(ex).exists(_.contains("outside the declared dates")), ex.toString)
    assert(parts == before)
    // a declared date that no row carries is no swap failure
    val withEmpty = delta.filter(col("event_id") === 1L)
    assert(Sinks.mergeFactByDate(spark, path, withEmpty, delta,
      Seq("event_id"), Seq("v")) == 2)
    assert(spark.read.parquet(path).orderBy("event_id")
      .select("event_id", "v").as[(Long, Double)].collect().toSeq ==
      Seq((1L, 10.0), (2L, 2.0)))
  }

  test("mergeDimSurrogate: NULL natural key gets ONE surrogate across loads") {
    val path = Files.createTempDirectory("graft_dim_null").toString + "/dim"
    val load1 = Seq(Option("a"), Option("b"), Option.empty[String]).toDF("nk")
    assert(Sinks.mergeDimSurrogate(spark, path, load1, "nk", "guid") == 3)
    val v1 = spark.read.parquet(path)
    assert(v1.count() == 3)
    assert(v1.filter(col("nk").isNull).count() == 1)
    // re-deliver the same keys (incl. NULL) plus one new: only the new
    // key gets a surrogate; the NULL row is matched, not re-inserted
    val g1 = v1.filter(col("nk").isNull).select("guid").head().getLong(0)
    val load2 = Seq(Option("a"), Option.empty[String], Option("c")).toDF("nk")
    assert(Sinks.mergeDimSurrogate(spark, path, load2, "nk", "guid") == 4)
    val v2 = spark.read.parquet(path)
    assert(v2.count() == 4, v2.collect().toSeq.toString)
    assert(v2.filter(col("nk").isNull).count() == 1)
    // surrogates stay unique and stable
    assert(v2.select("guid").distinct().count() == 4)
    val g2 = v2.filter(col("nk").isNull).select("guid").head().getLong(0)
    assert(g1 == g2)
  }

  private def dim(path: String): Seq[(String, Long)] =
    spark.read.parquet(path).orderBy("nk").as[(String, Long)].collect().toSeq

  test("mergeDimSurrogate: a dim crashed between its renames rolls forward; a redelivered load matches an uncrashed run") {
    val root = Files.createTempDirectory("graft_dim_midswap").toString
    val load1 = Seq("b", "a", "c").toDF("nk")
    val load2 = Seq("c", "e", "d").toDF("nk")
    Seq("crashed", "clean", "staged").foreach { t =>
      Sinks.mergeDimSurrogate(spark, s"$root/$t", load1, "nk", "guid")
    }
    Seq("clean", "staged").foreach { t =>
      Sinks.mergeDimSurrogate(spark, s"$root/$t", load2, "nk", "guid")
    }
    // load2's swap on `crashed` died after the live dim was backed up
    // and before its complete staged copy was promoted
    val fs = SwapRecovery.fsOf(spark, root)
    def hp(s: String) = new org.apache.hadoop.fs.Path(s)
    assert(fs.rename(hp(s"$root/crashed"), hp(s"$root/crashed.backup")))
    assert(fs.rename(hp(s"$root/staged"), hp(s"$root/crashed.staging")))
    assert(Sinks.mergeDimSurrogate(spark, s"$root/crashed", load2, "nk", "guid") == 5)
    assert(dim(s"$root/crashed") == dim(s"$root/clean"))
    assert(dim(s"$root/crashed").map(_._2).sorted == (1L to 5L))
    Seq(".backup", ".staging").foreach { s =>
      assert(!new java.io.File(s"$root/crashed$s").exists(), s)
    }
  }

  test("a partial .staging beside a live dim is dropped, never promoted") {
    val path = Files.createTempDirectory("graft_dim_partial").toString + "/dim"
    val v1 = Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("k", "name", "price")
    Sinks.mergeDim(spark, path, v1, Seq("k"), Seq("name", "price"))
    // a load that died while staging: one rewritten row, no swap begun
    Seq((1L, "PARTIAL", 0.0)).toDF("k", "name", "price")
      .write.parquet(path + ".staging")
    assert(Sinks.mergeDim(spark, path, v1.filter(col("k") === 2L), Seq("k"),
      Seq("name", "price")) == 2)
    assert(!new java.io.File(path + ".staging").exists())
    assert(spark.read.parquet(path).orderBy("k")
      .as[(Long, String, Double)].collect().toSeq == Seq((1L, "a", 1.0), (2L, "b", 2.0)))
  }

  test("a refused table promote rolls the backup back; the table serves unchanged") {
    val path = Files.createTempDirectory("graft_dim_refused").toString + "/dim"
    val v1 = Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("k", "name", "price")
    Sinks.mergeDim(spark, path, v1, Seq("k"), Seq("name", "price"))
    Seq((1L, "A", 9.0), (2L, "B", 9.0)).toDF("k", "name", "price")
      .write.parquet(path + ".staging")
    intercept[IllegalStateException] {
      Sinks.swapInto(spark, RenameRefusingFs.path(spark, path))
    }
    assert(!new java.io.File(path + ".backup").exists())
    assert(spark.read.parquet(path).orderBy("k")
      .as[(Long, String, Double)].collect().toSeq == Seq((1L, "a", 1.0), (2L, "b", 2.0)))
  }

  test("compaction shrinks file count and preserves rows") {
    val dir = Files.createTempDirectory("graft_compact").toString + "/t"
    val df = Tables.lineitem(spark, sfDir)
    df.repartition(40).write.parquet(dir)
    def nFiles = new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))
    assert(nFiles == 40)
    val rows = Sinks.compact(spark, dir, rowsPerFile = 2000L)
    assert(rows == df.count())
    assert(nFiles == ((rows + 1999) / 2000).toInt)
    assert(spark.read.parquet(dir).count() == rows)
  }

  test("bucketed tables join with zero exchange") {
    Sinks.writeBucketed(
      Tables.orders(spark, sfDir).select("o_orderkey", "o_custkey"),
      "orders_b", "o_orderkey", 8)
    Sinks.writeBucketed(
      Tables.lineitem(spark, sfDir).select("l_orderkey", "l_quantity"),
      "lineitem_b", "l_orderkey", 8)
    // at test scale the planner prefers broadcast; force the shuffle
    // path to show bucketing removes the hash Exchange
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("lineitem_b").join(
        spark.table("orders_b"),
        col("l_orderkey") === col("o_orderkey"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"), plan)
      assert(plan.contains("Bucketed: true"), plan)
      assert(joined.count() == Tables.lineitem(spark, sfDir).count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
