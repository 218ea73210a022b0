package graft
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, struct, xxhash64}
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // evaluation-forcing instrument: "hash" (default) folds xxhash64
    // over EVERY output column — the device the verify gate
    // effectively uses — so no query's cost is hidden by column
    // pruning; "count" keeps the historical count()-based timing,
    // which SILENTLY PRUNES rollup-only plans (a plan whose output
    // feeds only count(*) drops its projections — action entries pay
    // full cost while their rollup twins look free). SURVEY §6 records
    // the instrument deltas once.
    val forceMode = sys.env.getOrElse("SPARK_GRAFT_FORCE", "hash")
    def force(df: DataFrame): Unit = {
      if (forceMode == "hash")
        df.select(xxhash64(struct(col("*"))).as("h"))
          .agg(org.apache.spark.sql.functions.expr("bit_xor(h)")).collect()
      else df.count()
      ()
    }
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt)
      // ContextCleaner's periodic GC defaults to 30 MINUTES — longer
      // than the whole suite — so shuffle files and dead pinned blocks
      // from finished queries were never reclaimed and taxed every
      // later entry (measured: entries run 3-7x slower late in the
      // suite than isolated; see OPTIMIZATION_r18.md §1). On a real
      // cluster the same setting keeps a long-lived driver healthy.
      .config("spark.cleaner.periodicGC.interval", "1min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // optional comma-separated filter for profiling single queries
    val selected = SparkEntry.selectQueries(sys.env.get("SPARK_GRAFT_QUERIES"))
    // warm the JVM (codegen, parquet reader, shuffle paths) so per-query
    // numbers reflect steady state rather than first-query JIT cost
    try {
      spark.range(1000000L).selectExpr("sum(id)").collect()
      Tables.read(spark, s"$sfDir/region.parquet").count()
      SparkEntry.queries.get("raw_ingest").foreach(fn => fn(spark, sfDir).count())
    } catch { case _: Throwable => () }
    // best-of-N per query (default 2): a single cold pass makes the
    // suite position dominate tail-query numbers (JIT/GC noise of
    // ±3-4x observed); the min of two runs tracks isolated re-runs
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt.max(1)
    val results = timeEntries(spark, selected, reps)(fn =>
      SparkEntry.runOwned(spark, sfDir, fn)(force))
    val failed = results.collect { case (k, None) => k }
    val ok = results.collect { case (k, Some(v)) => k -> v }
    // 4-dp timings: full-precision doubles balloon the line past what
    // log captures keep intact, and sub-0.1ms digits are pure noise
    def r4(v: Double): String = BigDecimal(v)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toString
    val qs = ok.map { case (k, v) => s"\"" + k + "\":" + r4(v._1) }
      .mkString("{", ",", "}")
    // per-query [best, worst] across reps: load noise (suite position,
    // JIT, GC) is self-documenting instead of re-adjudicated per round —
    // a wide spread marks a noise-sensitive entry, not a regression
    val spread = ok.map { case (k, v) =>
      s"\"" + k + "\":[" + r4(v._1) + "," + r4(v._2) + "]"
    }.mkString("{", ",", "}")
    val total = if (ok.nonEmpty) ok.values.map(_._1).sum else 0.0
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val line =
      s"""{"metric":"total","value":${r4(total)},"unit":"sec","queries":$qs,"spread":$spread,"reps":$reps,"force":"$forceMode","failed":$failedJson,"sf":"$sfDir"}"""
    println(line)
    // committed-artifact escape hatch: stdout capture can truncate —
    // when asked, also write the parsed line to a file
    sys.env.get("SPARK_GRAFT_BENCH_OUT").foreach { p =>
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        (line + "\n").getBytes("UTF-8"))
    }
    spark.stop()
  }

  /** Each entry's best and worst time over `reps` runs of `run`, or
    * None when no rep succeeded: the reps stop at the first failing one
    * (no point re-running a throwing query), and a transient later
    * failure does not discard a valid earlier timing.
    *
    * After each entry's reps, OUTSIDE the timed region and behind the
    * entry's own release of its pins, a measurement isolation step
    * drops the pinned blocks the finished entry leaked anyway (every
    * entry rebuilds its frames from the parquet inputs on each
    * invocation — nothing live references a previous entry's pins, and
    * ContextCleaner would otherwise only reclaim them on a future full
    * GC) and DEREGISTERS its Dataset-level persists from the shared
    * CacheManager: every registered cache is a plan fragment that EVERY
    * later action's planning must sameResult-compare against, so a
    * suite that leaks a few caches per entry makes planning itself
    * quadratic across 220 entries (measured: late-suite entries ran
    * ~2.5x their isolated time with tight spreads — planning tax, not
    * data). This does not precompute or carry anything INTO a timed
    * region; it only stops entry N's garbage from taxing entry N+1.
    * What it released is logged to stderr per entry (0 when the entry
    * released its own pins).
    */
  private[graft] def timeEntries[T](spark: SparkSession, entries: Map[String, T],
      reps: Int)(run: T => Unit): Map[String, Option[(Double, Double)]] =
    entries.map { case (name, entry) =>
      val times = scala.collection.mutable.ListBuffer.empty[Double]
      var sawFailure = false
      var i = 0
      while (i < reps && !sawFailure) {
        val t0 = System.nanoTime()
        try {
          run(entry)
          times += (System.nanoTime() - t0) / 1e9
        } catch { case _: Throwable => sawFailure = true }
        i += 1
      }
      val (rdds, caches) = org.apache.spark.sql.GraftInternal.releaseAll(spark)
      System.err.println(
        s"[bench] $name released $rdds persisted RDDs and $caches cache entries")
      name -> (if (times.isEmpty) None else Some((times.min, times.max)))
    }
}
