package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Batch-equivalence replay: run the SAME transform the batch gate
  * queries use, but fed by a REAL file stream (`readStream` over the
  * events parquet or over staged drops, `Trigger.AvailableNow`), then
  * hand the completed result to the verify gate, where the DuckDB
  * oracle for the batch query checks it value-for-value.
  *
  * This is the streaming surface's correctness story: same engine,
  * same data, same transform ⇒ the continuous path must produce the
  * exact batch answer. A divergence (wrong watermark wiring, a
  * non-streamable expression silently changing semantics, an output
  * mode dropping rows) fails the gate non-zero like any other query.
  *
  * Every topology here runs on [[ReplayDriver]]: the driver stages the
  * drops once per JVM, streams them one file per trigger, runs the
  * query `AvailableNow` to the end of its input under a scoped session
  * conf, and wraps each `foreachBatch` body so the batch and the pins
  * the body makes are released when it ends. A topology is its staged
  * split, its batch body and its sink.
  *
  * Delivery contract of the `foreachBatch` folds: each fold writes its
  * layer KEYED BY BATCH ID with Overwrite (the stores'
  * `appendBatch`/`deleteBatch`, the batch-id-keyed sink dirs), so a
  * crash anywhere inside a batch leaves either no layer or a partial
  * one that the checkpoint-driven redelivery OVERWRITES wholesale.
  * There is no marker file and therefore no append→marker crash
  * window: replay idempotence is a property of the layout itself
  * (exactly-once folds over an at-least-once channel), which matters
  * most for the abelian stores where a double fold silently corrupts
  * counts rather than just duplicating rows. Reads inside a batch are
  * horizon-bounded to layers BEFORE the batch (the `…Excluding`
  * serves), so a redelivered batch recomputes its ORIGINAL answer, not
  * merely writes it idempotently. [[StreamCrashRecoverySpec]] injects
  * the crash and asserts the redelivered fold lands exact.
  *
  * Scale shape: nothing here is gate-only scaffolding — readStream +
  * AvailableNow is precisely the production backfill pattern ("replay
  * the lake through the streaming topology"), and complete-mode
  * results at gate SF stand in for what a real deployment would write
  * through a parquet/Kafka sink in append mode.
  */
object StreamReplay {

  import ReplayDriver.stageFile

  /** Recursive file-level copy — gives a replay run its own mutable
    * copy of a staged base index (parquet dirs are plain files).
    */
  private def copyTree(fromDir: String, toDir: String): Unit = {
    import scala.jdk.CollectionConverters._
    val from = java.nio.file.Paths.get(fromDir)
    val to = java.nio.file.Paths.get(toDir)
    java.nio.file.Files.walk(from).iterator().asScala.foreach { p =>
      val dst = to.resolve(from.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) {
        java.nio.file.Files.createDirectories(dst); ()
      } else {
        java.nio.file.Files.createDirectories(dst.getParent)
        java.nio.file.Files.copy(p, dst)
        ()
      }
    }
  }

  /** Replay `dir`'s events table as a file stream through `transform`
    * and return the completed output. The stream frame gets the same
    * TIMESTAMP(NANOS) → µs conversion as [[graft.sources.Tables
    * .events]] plus a watermark (required scaffolding for streaming
    * aggregation state eviction; with one AvailableNow pass nothing
    * is ever late, so it cannot change the answer — which is exactly
    * what the equivalence check proves). Pass `watermark = null` for
    * transforms that watermark their own branches (e.g. a
    * stream-stream join watermarks each renamed side — re-defining the
    * source watermark on top of those is disallowed by the engine).
    */
  def replayEvents(spark: SparkSession, dir: String,
      transform: DataFrame => DataFrame,
      watermark: String = "2 hours",
      mode: OutputMode = OutputMode.Complete()): DataFrame =
    ReplayDriver.intoMemory(spark, mode) {
      val path = s"$dir/events.parquet"
      val batchSchema = graft.sources.Tables.read(spark, path).schema
      // the testdata table is one bare file; a brace glob makes the file
      // stream source resolve basePath to the parent DIRECTORY (it
      // rejects a file basePath) while still matching only this table
      val raw = spark.readStream.schema(batchSchema)
        .parquet(s"$dir/{events.parquet}")
      val events = normalizeTs(batchSchema, raw)
      transform(
        if (watermark == null) events else events.withWatermark("ts", watermark))
    }._1

  /** The same ts normalization as [[graft.sources.Tables.events]],
    * applied to a STREAM frame: nanos-as-LONG → µs timestamp, NTZ →
    * TIMESTAMP (UTC-pinned session, pure reinterpretation — and
    * watermarks require TimestampType).
    */
  private def normalizeTs(batchSchema: org.apache.spark.sql.types.StructType,
      raw: DataFrame): DataFrame =
    batchSchema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }

  /** The two one-row far-future SENTINEL loads that flush a bounded
    * replay through timeout-based custom state, staged as loads
    * `from` and `from + 1` (see [[replaySessionizeStateful]]).
    */
  private def stageSentinels(spark: SparkSession, stage: java.nio.file.Path,
      from: Int): Unit = {
    import spark.implicits._
    val sentinel = Seq(
      (java.sql.Timestamp.valueOf("2099-01-01 00:00:00"), "flush", -1L))
      .toDF("ts", "event_type", "user_id")
    stageFile(sentinel, stage, "load_", from)
    stageFile(sentinel.withColumn("ts", col("ts") + expr("INTERVAL 1 MINUTE")),
      stage, "load_", from + 1)
  }

  /** File-replay gate for the CUSTOM-STATE sessionizer
    * ([[EventStream.sessionizeStateful]], `flatMapGroupsWithState` with
    * an event-time timeout): the events table staged as ONE file (one
    * micro-batch — in-batch processing sorts each user's slice, so the
    * fold equals the global time order at any SF), followed by two
    * one-row far-future SENTINEL files. Sentinel one advances the
    * watermark past every open session's `last + gap`; sentinel two
    * provides the trigger on which the timeouts actually fire —
    * without them, AvailableNow would end with every corpus-final
    * session still open and the gate would silently under-count. The
    * sentinel user's rows are filtered from the result. This is the
    * flush discipline any bounded replay through timeout-based custom
    * state needs; a live deployment never stops, so only the replay
    * shape requires it.
    */
  def replaySessionizeStateful(spark: SparkSession, dir: String,
      gapMs: Long = 30L * 60 * 1000): DataFrame = {
    import spark.implicits._
    val stage = ReplayDriver.staged("sessstate", dir) { st =>
      stageFile(graft.sources.Tables.events(spark, dir)
        .select(col("ts"), col("event_type"), col("user_id")), st, "load_", 0)
      stageSentinels(spark, st, 1)
    }
    ReplayDriver.intoMemory(spark, OutputMode.Append())(
      EventStream.sessionizeStateful(
        ReplayDriver.drops(spark, stage).as[SEvent], gapMs).toDF())
      ._1.filter(col("user_id") =!= -1L)
  }

  /** WATERMARK DROP-ACCOUNTING gate — the data-LOSS face of late data
    * (the complement of `stream_late_events`, where the MERGE chain
    * keeps every late row): an hourly windowed aggregation in APPEND
    * mode under `withWatermark(ts, delay)`, fed two mtime-ordered
    * drops — the on-time bulk, then a straggler drop whose rows
    * target hours the watermark has already closed. Spark finalizes a
    * window once the watermark passes its end, so a straggler into a
    * finalized hour is DROPPED — the documented loss semantics this
    * gate makes exact: the sink must equal the batch aggregation over
    * precisely the rows the watermark law keeps (on-time rows always;
    * straggler rows iff their window's end is still ahead of
    * `max(on-time ts) − delay`). Deterministic because files stream
    * one per trigger (mtime-ordered), so the filtering watermark is a
    * pure function of the split.
    *
    * ONE-BATCH LAG (measured — the load ordering depends on it):
    * Spark's late-record FILTER for batch i uses the watermark
    * computed from batches ≤ i−2, while state EVICTION uses the
    * current one (the progress log shows `dropped=0` when stragglers
    * arrive in the batch right after the bulk, and the expected drops
    * once a batch separates them). A mid-stream marker row (epoch
    * 2050, filtered from the result) therefore sits BETWEEN the bulk
    * and the stragglers: it costs one batch, which promotes the
    * bulk-derived watermark into the stragglers' filtering watermark.
    * The final far-future flush (2099) advances the watermark past
    * every live window and provides the trigger on which they emit
    * (the [[replaySessionizeStateful]] discipline); neither marker's
    * own window ever finalizes into the gated result.
    *
    * The delay is a CONSTANT, not a parameter: the oracle SQL
    * hard-codes `INTERVAL 1 HOUR`, so a configurable delay would let a
    * caller silently desync the gate from the oracle. The run also
    * asserts the engine's reported `numRowsDroppedByWatermark` equals
    * the drop count the oracle's keep-law predicts — the measured law,
    * pinned in-process.
    */
  private val WatermarkDelay = "1 hour" // pinned to the oracle's INTERVAL 1 HOUR
  private val WatermarkDelayMs = 3600L * 1000

  def replayWatermarkAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // The drop count the oracle's law predicts (a pure function of the
    // dataset, staged with the loads): the engine's
    // numRowsDroppedByWatermark counts rows entering the STATEFUL
    // operator — post-shuffle, merge-aggregated rows, ONE PER HOUR
    // WINDOW — so the expected figure is the count of DISTINCT
    // straggler windows whose END has fallen at-or-behind the
    // bulk-derived watermark `max(on-time ts) − WatermarkDelay`
    // (1-row agg + one distinct-count over the straggler slice;
    // measured: 334 straggler rows in 315 windows report 314 drops,
    // matching the 314 closed windows exactly)
    val (stage, expectedDrops) = ReplayDriver.stagedWith("wmaudit", dir) { st =>
      val ev = graft.sources.Tables.events(spark, dir)
      val onTime = ev.filter(col("event_id") % 3 =!= 0)
        .select(col("ts"), col("value"))
      val stragglers = ev.filter(col("event_id") % 3 === 0)
        .select(col("ts"), col("value"))
      stageFile(onTime, st, "load_", 0)
      stageFile(Seq((java.sql.Timestamp.valueOf("2050-01-01 00:00:00"), 0.0))
        .toDF("ts", "value"), st, "load_", 1)
      stageFile(stragglers, st, "load_", 2)
      stageFile(Seq((java.sql.Timestamp.valueOf("2099-01-01 00:00:00"), 0.0))
        .toDF("ts", "value"), st, "load_", 3)
      val bulkMax = onTime.agg(max(col("ts"))).head().getTimestamp(0)
      val wmTs = new java.sql.Timestamp(bulkMax.getTime - WatermarkDelayMs)
      stragglers
        .filter(date_trunc("hour", col("ts")) + expr("INTERVAL 1 HOUR") <= lit(wmTs))
        .select(date_trunc("hour", col("ts"))).distinct().count()
    }
    val (table, q) = ReplayDriver.intoMemory(spark, OutputMode.Append())(
      ReplayDriver.drops(spark, stage).withWatermark("ts", WatermarkDelay)
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(12,2)")).as("sum_d")))
    // pin the measured law IN-PROCESS: the engine must report exactly
    // the drops the oracle's keep-law implies. If a Spark version ever
    // moves watermark propagation (the one-batch filter lag the
    // marker-row choreography relies on), this fails loudly here
    // instead of silently desyncing from the oracle.
    val observedDrops = q.recentProgress.toSeq
      .flatMap(p => Option(p.stateOperators).toSeq.flatMap(_.toSeq))
      .map(_.numRowsDroppedByWatermark).sum
    require(observedDrops == expectedDrops,
      s"watermark audit desync: engine dropped $observedDrops rows, " +
        s"the oracle law predicts $expectedDrops")
    table
      .filter(col("window.start") < lit("2050-01-01"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("n_events"),
        col("sum_d").cast("double").as("sum_value"))
  }

  /** KILL-AND-RESUME gate for the custom-state sessionizer: the same
    * fold as [[replaySessionizeStateful]], but split across TWO
    * AvailableNow runs sharing ONE checkpoint and ONE file sink. Run 1
    * sees only the first half of the time range (cut at the span
    * midpoint) and stops with every mid-flight session still open in
    * the state store; the second half plus the sentinel flush files
    * land while the query is DOWN; run 2 resumes from the checkpoint.
    * Sessions straddling the cut close correctly ONLY if the
    * `flatMapGroupsWithState` state survived the restart — a lost or
    * re-initialized store would split them and the islands oracle
    * would hash-mismatch. This is the upgrade/crash path every
    * production stateful topology takes; the hourly-agg restart spec
    * covers the built-in window operator, this gate covers the custom
    * state machine.
    */
  def replaySessionizeStatefulRestart(spark: SparkSession, dir: String,
      gapMs: Long = 30L * 60 * 1000): DataFrame = {
    import spark.implicits._
    // the four loads (midpoint cut on the true span, the rest, two
    // sentinels) are staged into a PRE dir; each run copies them into
    // its own live stage in two phases, because loads 1-3 must land
    // only while the query is DOWN (that interleaving is the gate)
    val pre = ReplayDriver.staged("sessrestart_pre", dir) { st =>
      val ev = graft.sources.Tables.events(spark, dir)
        .select(col("ts"), col("event_type"), col("user_id"))
      // midpoint cut on the true span: sessions straddling it prove the
      // RESUMED state, not merely the resumed source offsets
      val mm = ev.agg(min(col("ts")), max(col("ts"))).head()
      val cut = new java.sql.Timestamp(
        (mm.getTimestamp(0).getTime + mm.getTimestamp(1).getTime) / 2)
      stageFile(ev.filter(col("ts") <= lit(cut)), st, "load_", 0)
      stageFile(ev.filter(col("ts") > lit(cut)), st, "load_", 1)
      stageSentinels(spark, st, 2)
    }
    val stage = ReplayDriver.runDir("sessrestart")
    val sink = ReplayDriver.runDir("sessrestart_sink")
    val chk = ReplayDriver.runDir("sessrestart_chk")
    // COPY_ATTRIBUTES keeps the staged mtime ladder — the file source
    // replays in modification-time order
    def land(idx: Int): Unit = {
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$pre/load_$idx.parquet"),
        java.nio.file.Paths.get(s"$stage/load_$idx.parquet"),
        java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
      ()
    }
    def runOnce(): Unit = ReplayDriver.intoFiles(
      EventStream.sessionizeStateful(
        ReplayDriver.drops(spark, stage).as[SEvent], gapMs).toDF(), sink, chk)
    land(0)
    runOnce() // run 1: first half only; open sessions live in state
    // the rest of the corpus + the sentinel flush files land while the
    // query is down (same flush discipline as the single-run replay)
    land(1); land(2); land(3)
    runOnce() // run 2: resumes the SAME checkpoint and state store
    graft.sources.Tables.read(spark, sink).filter(col("user_id") =!= -1L)
  }

  /** Exactly-once ingest over an at-least-once delivery channel: stage
    * `copies` IDENTICAL deliveries of the events table as mtime-ordered
    * files, stream them one micro-batch each (`maxFilesPerTrigger = 1`)
    * through `dropDuplicatesWithinWatermark(keys)` in APPEND mode.
    * Every row of delivery 2..n finds its key already in the dedup
    * state and is suppressed, so the sink holds exactly one copy of the
    * table — the redelivery/backfill-overlap case every production
    * file-drop ingest hits, gated against the plain batch table.
    *
    * The watermark delay must cover the redelivery horizon — here the
    * full table span, so no state evicts mid-replay and the equivalence
    * is exact. The default (`watermark = null`) DERIVES the delay from
    * the staged table's actual ts span plus a day of slack — files
    * stream in filename, not time, order, so a fixed default on a
    * longer-spanned table would silently advance the watermark past
    * older rows and drop them as late data (an under-counting sink
    * with no error). Production sizes it to the channel's actual
    * redelivery window; state is then bounded by keys-per-window, not
    * corpus size (that bounded-state trade is the point of
    * `dropDuplicatesWithinWatermark` over plain `dropDuplicates`).
    *
    * `maxFilesPerTrigger` is the latency/throughput dial: 1 proves
    * exactly-once at the finest batch granularity (every file pays a
    * state-store commit); a production topology batches more files per
    * trigger to amortize the commit — same answer, fewer commits
    * (gated by the amortized twin entry).
    */
  def replayRedelivered(spark: SparkSession, dir: String,
      keys: Seq[String], watermark: String = null,
      copies: Int = 2, maxFilesPerTrigger: Int = 1,
      progressOut: Option[scala.collection.mutable.Buffer[
        org.apache.spark.sql.streaming.StreamingQueryProgress]] = None)
      : DataFrame = {
    require(copies >= 2, "a redelivery replay needs at least 2 deliveries")
    val (stage, memoDelay) = ReplayDriver.stagedWith("redeliver", s"$dir#$copies")(
      stageRedelivered(spark, dir, copies, _))
    val delay = Option(watermark).getOrElse(memoDelay)
    val (table, q) = ReplayDriver.intoMemory(spark, OutputMode.Append()) {
      val raw = ReplayDriver.drops(spark, stage, maxFilesPerTrigger)
      normalizeTs(raw.schema, raw).withWatermark("ts", delay)
        .dropDuplicatesWithinWatermark(keys)
    }
    progressOut.foreach(_ ++= q.recentProgress)
    table
  }

  /** Stage `copies` mtime-ordered deliveries of the events table and
    * derive the default watermark delay from the staged span — the
    * dataset-pure half of [[replayRedelivered]].
    */
  private def stageRedelivered(spark: SparkSession, dir: String,
      copies: Int, stage: java.nio.file.Path): String = {
    val src = java.nio.file.Paths.get(s"$dir/events.parquet")
    // the table may be one bare file (driver testdata) or a
    // Spark-written directory of part files (scale replicas) — stage
    // every data file of each delivery, mtime-ordered so all of
    // delivery i's batches precede delivery i+1's (each file is its
    // own micro-batch; exactly-once must hold at ANY batch granularity)
    val srcFiles: Seq[java.nio.file.Path] =
      if (java.nio.file.Files.isDirectory(src)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.list(src).iterator().asScala
          .filter(p => p.getFileName.toString.endsWith(".parquet") &&
            !p.getFileName.toString.startsWith("_") &&
            !p.getFileName.toString.startsWith("."))
          .toSeq.sortBy(_.getFileName.toString)
      } else Seq(src)
    (0 until copies).foreach { i =>
      srcFiles.zipWithIndex.foreach { case (f, j) =>
        stageFile(graft.sources.Tables.read(spark, f.toString), stage,
          "delivery_", i * srcFiles.size + j)
      }
    }
    val batchSchema = graft.sources.Tables.read(spark, stage.toString).schema
    // span-derived delay: one bounded agg over the staged files —
    // ceil(max(ts) - min(ts)) in days, plus one day of slack
    val staged = normalizeTs(batchSchema,
      spark.read.schema(batchSchema).parquet(stage.toString))
    val row = staged.agg(min(col("ts")), max(col("ts"))).head()
    val spanMs =
      if (row.isNullAt(0)) 0L
      else row.getTimestamp(1).getTime - row.getTimestamp(0).getTime
    val days = spanMs / 86400000L + 2L // ceil + 1 day slack
    s"$days days"
  }

  /** STREAMING cluster maintenance: near-dup edge drops arrive as a
    * file stream and each micro-batch folds into the STORED
    * connected-component labeling via [[graft.operators.Dedup
    * .connectedComponentsIncremental]] — only the drop's blast radius
    * re-solves, untouched components' labels carry forward, and the
    * stored edge set grows by append so the NEXT drop's radius is
    * computed against the graph the labels actually describe. The
    * streaming twin of `dedup_clusters_incr`, and the shape a 100 TB
    * dedup service runs: labels stay continuously current instead of
    * being re-solved from scratch per day.
    *
    * Labels are component-minimum ids, so the final table equals the
    * batch re-solve over ALL edges regardless of drop order — which is
    * what lets the batch clusters oracle gate the streamed result.
    */
  def replayClusterDrops(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    val emb = graft.sources.Tables.embeddings(spark, dir)
    def pairs = Dedup.embeddingNearDups(emb)
      .select(col("probe_id").as("src"), col("cand_id").as("dst"))
    // split on the CANDIDATE side: every pair's probe is vec_id % 20
    // == 0 by construction, so a probe-keyed split would empty the base
    val isDelta = col("dst") % 7 === 0
    val isDrop1 = col("dst") % 14 === 0
    // base labeling + base edges + drop files are immutable per
    // dataset; each run copies the edge store (it grows by append
    // during the stream)
    val staged = ReplayDriver.staged("ccstream", dir) { stage =>
      val base = pairs.filter(!isDelta)
      stageFile(pairs.filter(isDelta && isDrop1), stage, "drops/drop_", 0)
      stageFile(pairs.filter(isDelta && !isDrop1), stage, "drops/drop_", 1)
      base.write.parquet(s"$stage/edges")
      Dedup.connectedComponents(base, "src", "dst")
        .write.parquet(s"$stage/labels_base")
    }
    val run = ReplayDriver.runDir("ccstream_run")
    // base edges under edges/base, per-batch drops under edges/drop_<id>
    // (batch-id-keyed so a retried micro-batch overwrites, not appends);
    // readers use recursiveFileLookup over edges/
    copyTree(s"$staged/edges", s"$run/edges/base")
    val labelsRef = new java.util.concurrent.atomic.AtomicReference[String](
      s"$staged/labels_base")
    ReplayDriver.foreachDrop(ReplayDriver.drops(spark, s"$staged/drops"),
        ReplayDriver.runDir("ccstream_chk")) { (b, id) =>
      if (!b.isEmpty) {
        val stored = graft.sources.Tables.read(spark, labelsRef.get)
        val baseEdges = spark.read
          .option("recursiveFileLookup", "true")
          .parquet(s"$run/edges")
        val next = s"$run/labels_$id"
        // RETRY-SAFE: the batch id is stable across Spark micro-batch
        // retries, so Overwrite re-lands the same labels, and the
        // batch-id-keyed edge dir re-lands the same edge files — a
        // replayed batch can neither fail on an existing path nor
        // double-append. Folding the same delta twice is also
        // value-idempotent (the min-label fixpoint doesn't move), so a
        // retry that saw a partial prior attempt still converges to the
        // same table.
        Dedup.connectedComponentsIncremental(
            stored, baseEdges, b, "src", "dst")
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(next)
        labelsRef.set(next)
        // the labels now describe base ∪ drops-so-far: grow the stored
        // edge set to match before the next batch
        b.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$run/edges/drop_$id")
      }
    }
    graft.sources.Tables.read(spark, labelsRef.get)
  }

  /** The indexed near-dup ingest the three near-dup index families
    * share ([[replayNearDupDrops]], [[replaySemanticDrops]],
    * [[replayMmPhashDropsWithSink]], [[replayMmPhashRepDropsWithSink]]):
    * two drops (`idCol % 10 == 5`, then `== 0`) stream one file per
    * trigger against a per-run copy of a keyed base index built over
    * the rest of `table` (keyed because the stream's folds are
    * batch-id-keyed, and flat + keyed must never mix in one layer).
    * Each micro-batch lands its `serve` answer in a batch-id-keyed
    * sink dir, then `fold`s itself into the index so the NEXT drop
    * serves against it. `serve` reads the stored side EXCLUDING the
    * batch's own layer, so a post-fold redelivery recomputes the
    * ORIGINAL sink rows (recompute identity, not just write
    * idempotency). Returns the sink dir and the union of its batches.
    *
    * Arrival-order law (the `stream_neardup` law): a cross-drop pair
    * lands exactly once, on the LATER drop's batch — the earlier drop
    * is in the stored index when the later one serves — so the union
    * of per-batch sinks equals the batch answer over base ∪ drops
    * restricted to pairs touching a drop.
    */
  private def replayIndexedDrops(spark: SparkSession, dir: String,
      tag: String, table: DataFrame, idCol: String)(
      buildBase: (DataFrame, String) => Unit,
      serve: (DataFrame, String, Long) => DataFrame,
      fold: (DataFrame, String, Long) => Unit): (String, DataFrame) = {
    val id = col(idCol)
    val staged = ReplayDriver.staged(tag, dir) { stage =>
      stageFile(table.filter(id % 10 === 5), stage, "drops/drop_", 0)
      stageFile(table.filter(id % 10 === 0), stage, "drops/drop_", 1)
      buildBase(table.filter(id % 10 =!= 0 && id % 10 =!= 5), s"$stage/base")
    }
    val sink = ReplayDriver.runDir(s"${tag}_sink")
    val idxPath = ReplayDriver.runDir(s"${tag}_idx") + "/idx"
    copyTree(s"$staged/base", idxPath)
    ReplayDriver.foreachDrop(ReplayDriver.drops(spark, s"$staged/drops"),
        ReplayDriver.runDir(s"${tag}_chk")) { (b, batchId) =>
      serve(b, idxPath, batchId)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$sink/batch_$batchId")
      fold(b, idxPath, batchId)
    }
    (sink, spark.read.option("recursiveFileLookup", "true").parquet(sink))
  }

  /** STREAMING incremental near-dup ingest: doc drops arrive as a file
    * stream and each micro-batch (1) queries the PERSISTED MinHash
    * band index for its near-dups ([[graft.operators.Dedup
    * .minhashNearDupsDelta]] — candidates are delta×stored plus
    * delta-internal, the corpus is never re-signed) and (2) folds
    * itself into the index ([[graft.sources.MinhashIndexStore
    * .appendBatch]]) so the NEXT drop near-dups against it. This composes
    * the two production tiers the suite proves separately — the
    * sign-once index lifecycle and the foreachBatch streaming sink —
    * into the topology a 100 TB corpus actually runs: continuous
    * arrival, per-drop candidate cost ∝ |drop|×bucket, index growth by
    * append only.
    *
    * Ordering contract: drop 1 (doc_id % 10 == 5) streams before
    * drop 2 (doc_id % 10 == 0), so a cross-drop near-dup pair is
    * reported exactly once — on the LATER drop's row, never the
    * earlier one's (the arrival-order law the oracle replays). Within
    * the batch-equivalence gate this makes the answer a pure function
    * of the split, not of scheduling: each per-drop rollup equals the
    * batch run over base ∪ drops-so-far restricted to the drop's ids.
    */
  def replayNearDupDrops(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.MinhashIndexStore
    val docs = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
    // the FULL docs table serves the verify text fetch —
    // minhashNearDupsDelta derives its candidate-id set from the stored
    // band join, which excludes THIS batch's own layer: if the fold
    // landed but the checkpoint commit did not, a redelivered batch
    // would otherwise see its own ids stored and re-emit every
    // drop-internal pair through the stored×drop join
    replayIndexedDrops(spark, dir, "neardup", docs, "doc_id")(
      MinhashIndexStore.buildKeyed(_, _),
      (b, idx, id) => graft.operators.Dedup.minhashNearDupsDelta(b, docs,
        MinhashIndexStore.bandsTableExcluding(spark, idx, id)),
      MinhashIndexStore.appendBatch(_, _, _))._2
  }

  /** STREAMING semantic near-dup ingest — the trained-partition twin
    * of [[replayNearDupDrops]], closing the streamed-ingest symmetry
    * for the vector family: vector drops arrive as a file stream
    * (mtime-ordered, one file per trigger), each micro-batch routes
    * against the stored IVF index's FROZEN cells
    * ([[graft.sources.IvfIndexStore.assignCells]] — the quantizer
    * never retrains mid-stream, the production semantics of an index
    * maintainer), near-dups against the stored cell lists EXCLUDING
    * its own layer ([[graft.sources.IvfIndexStore.cellsTableExcluding]]
    * — recompute identity under crash-redelivery), lands its pairs in
    * a batch-id-keyed sink, and folds itself in via the keyed
    * [[graft.sources.IvfIndexStore.appendCellsBatch]] so the NEXT drop
    * pairs against it. The union of per-batch sinks equals the batch
    * [[graft.operators.Dedup.semanticNearDupsDelta]] answer over the
    * combined drop set, which is what the oracle replays.
    */
  def replaySemanticDrops(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.IvfIndexStore
    // the full embeddings table serves the cosine verify
    val emb = graft.sources.Tables.embeddings(spark, dir)
    replayIndexedDrops(spark, dir, "semstream", emb, "vec_id")(
      IvfIndexStore.buildKeyed(_, _),
      (b, idx, id) => graft.operators.Dedup.semanticNearDupsDelta(emb,
        IvfIndexStore.cellsTableExcluding(spark, idx, id)
          .select(col("vec_id"), col("cell")),
        IvfIndexStore.assignCells(spark, b, idx)),
      (b, idx, id) => IvfIndexStore.appendCellsBatch(spark, b, idx, id))._2
  }

  /** STREAMING frame-signature ingest — the MULTIMODAL twin of
    * [[replayNearDupDrops]], closing the last lifecycle asymmetry in
    * the near-dup index family (text MinHash and IVF both had streamed
    * ingest/takedown twins; the frame-sig index was batch-delta only):
    * asset drops arrive as a file stream (mtime-ordered, one file per
    * trigger), each micro-batch signs ONLY ITSELF
    * ([[graft.sources.FrameSigIndexStore.deltaPairs]] against the
    * stored band table — the corpus media is never re-decoded), lands
    * its near-dup frame pairs in a batch-id-keyed sink, and folds its
    * own band rows into the index via the batch-id-keyed
    * [[graft.sources.FrameSigIndexStore.appendBatch]] so the NEXT drop
    * near-dups against it.
    *
    * The union of per-batch pair sets equals the batch all-pairs
    * ground truth restricted to pairs touching any drop — the
    * `mm_phash_incremental` oracle family, widened to both drops.
    */
  def replayMmPhashDrops(spark: SparkSession, dir: String): DataFrame =
    replayMmPhashDropsWithSink(spark, dir)._2

  /** [[replayMmPhashDrops]] plus the per-batch sink dir, so the spec
    * can assert the arrival-order law batch by batch.
    */
  private[graft] def replayMmPhashDropsWithSink(spark: SparkSession,
      dir: String): (String, DataFrame) = {
    import graft.operators.Multimodal.asMedia
    import graft.sources.FrameSigIndexStore
    replayIndexedDrops(spark, dir, "mmphash",
        graft.sources.Tables.documents(spark, dir), "doc_id")(
      (base, p) => FrameSigIndexStore.buildKeyed(asMedia(base), p),
      (b, idx, id) => FrameSigIndexStore.deltaPairs(asMedia(b),
        FrameSigIndexStore.bandsTableExcluding(spark, idx, id)),
      (b, idx, id) => FrameSigIndexStore.appendBatch(asMedia(b), idx, id))
  }

  /** The REP-GRAIN streamed frame-sig ingest — [[replayMmPhashDrops]]
    * with the pair-grain sink (measured 1.45G rows at ~sf100, the one
    * answer in the family still quadratic at replica density) replaced
    * by the bounded serving form: each micro-batch emits rep-grain
    * `(rep_a, rep_b, frame_idx, hamming, n_a, n_b)` DELTAS against the
    * rep-grain stored index ([[graft.sources.FrameSigIndexStore
    * .deltaReps]]) and folds its own distinct assets + group sizes in
    * ([[graft.sources.FrameSigIndexStore.appendRepBatch]]), batch-id-
    * keyed on both layers. Sink rows ∝ distinct-asset pairs: CONSTANT
    * across replica decades.
    *
    * Same arrival-order law as the pair form: a cross-drop rep pair
    * lands exactly once, on the LATER drop's batch; expanding every
    * row by the carried sizes (cross → n_a·n_b member pairs, self →
    * n·(n−1)/2) reconstructs the pair-grain `stream_mm_phash` ground
    * truth exactly — group membership never splits across a rep
    * (content-keyed election) and the residue id spaces are disjoint.
    */
  def replayMmPhashRepDrops(spark: SparkSession, dir: String): DataFrame =
    replayMmPhashRepDropsWithSink(spark, dir)._2

  /** [[replayMmPhashRepDrops]] plus the per-batch sink dir, so the
    * spec can assert the arrival-order law batch by batch.
    */
  private[graft] def replayMmPhashRepDropsWithSink(spark: SparkSession,
      dir: String): (String, DataFrame) = {
    import graft.operators.Multimodal.asMedia
    import graft.sources.FrameSigIndexStore
    // BOTH stored maps exclude this batch's own layer — a post-fold
    // redelivery must recompute the ORIGINAL sink rows, not see its own
    // reps stored and triple-emit every drop-internal pair
    replayIndexedDrops(spark, dir, "mmphrep",
        graft.sources.Tables.documents(spark, dir), "doc_id")(
      (base, p) => FrameSigIndexStore.buildRepKeyed(asMedia(base), p),
      (b, idx, id) => FrameSigIndexStore.deltaReps(asMedia(b),
        FrameSigIndexStore.bandsTableExcluding(spark, idx, id),
        FrameSigIndexStore.sizesTableExcluding(spark, idx, id)),
      (b, idx, id) => FrameSigIndexStore.appendRepBatch(asMedia(b), idx, id))
  }

  /** STREAMING multimodal ingest over an at-least-once channel — the
    * binary-asset twin of the events `stream_dedup` gate: the media
    * catalog is delivered TWICE as a file stream, each asset's payload
    * is hashed IN THE MAP (the constant-width `(md5, octet_length)`
    * identity — bytes never enter the state store or any exchange,
    * the same discipline as the batch [[graft.operators.Multimodal
    * .dedupAssets]]), redelivery collapses through a `dropDuplicates`
    * on the asset id, and the surviving catalog aggregates to the
    * exact `mm_dedup` summary. State is one row per asset id —
    * catalog-sized, payload-free; a production feed would bound it
    * with an ingest-time watermark (`dropDuplicatesWithinWatermark`),
    * which the asset table here has no timestamp to drive.
    */
  def replayMmDedupRedelivered(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Multimodal
    val stage = ReplayDriver.staged("mm_dedup", dir) { st =>
      val media = Multimodal.asMedia(
        graft.sources.Tables.documents(spark, dir)).toDF()
        .select(col("doc_id"),
          md5(col("content")).as("content_md5"),
          octet_length(col("content")).cast("long").as("byte_len"))
      (0 to 1).foreach(i => stageFile(media, st, "drops/delivery_", i))
    }
    ReplayDriver.intoMemory(spark, OutputMode.Append())(
      ReplayDriver.drops(spark, s"$stage/drops").dropDuplicates("doc_id"))._1
      .groupBy(col("content_md5"), col("byte_len"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("canonical_id"))
  }

  /** Shared scaffold for the streamed STORE-MAINTENANCE twins
    * ([[replayPcaDrops]], [[replayMixtureDrops]], [[replayKmvDrops]],
    * [[replayClfDrops]] and the retraction replays): the source table
    * split into three drops staged as mtime-ordered files, replayed
    * one file per trigger; each micro-batch folds ONLY ITSELF into a
    * per-run store via its batch-id-keyed `appendBatch`/`deleteBatch`
    * (the delivery contract above), and `serve` reads the folded state
    * once at the end — exactly the production topology (state stays
    * continuously current; the expensive read runs on demand).
    */
  private def replayStoreDrops(spark: SparkSession, dir: String,
      tag: String, table: DataFrame, splitCol: String,
      append: (DataFrame, String, Long) => Unit,
      serve: String => DataFrame,
      prepare: String => Unit = _ => ()): DataFrame = {
    val staged = ReplayDriver.staged(tag, dir) { stage =>
      (0 to 2).foreach { i =>
        stageFile(table.filter(col(splitCol) % 3 === i), stage,
          "drops/drop_", i)
      }
    }
    val storePath = ReplayDriver.runDir(s"${tag}_store") + "/store"
    // the first fold takes the store lease before any layer exists —
    // the lease marker needs the store dir to be there
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(storePath))
    // retraction replays fold takedown drops into a PRE-BUILT store;
    // ingest replays start empty (the default no-op)
    prepare(storePath)
    runStoreDropStream(spark, s"$staged/drops", storePath,
      ReplayDriver.runDir(s"${tag}_chk"), append)
    serve(storePath)
  }

  /** TEST HOOK — crash injection for the store-fold crash-recovery
    * spec: called with the batch id AFTER the batch's store fold lands
    * but BEFORE the checkpoint commits it. A hook that throws kills
    * the stream in the window where the fold is durable but
    * uncommitted — the window where a marker-file guard double-folds
    * on restart, and the batch-id-keyed Overwrite layout must instead
    * re-land the layer exactly. No-op outside tests.
    */
  @volatile private[graft] var storeFoldFault: Long => Unit = _ => ()

  /** Run (or RESUME from its checkpoint) a store-maintenance drop
    * stream: one staged file per trigger, each micro-batch folded by
    * `append(batch, storePath, batchId)`.
    */
  private[graft] def runStoreDropStream(spark: SparkSession,
      dropsDir: String, storePath: String, chk: String,
      append: (DataFrame, String, Long) => Unit): Unit =
    ReplayDriver.foreachDrop(ReplayDriver.drops(spark, dropsDir), chk) {
      (b, id) =>
        append(b, storePath, id)
        storeFoldFault(id)
    }

  /** STREAMING PCA maintenance — the moment-store twin of
    * [[replayClfDrops]]: embedding drops fold their raw
    * `(n, Σx, Σxxᵀ)` moments into the persisted
    * [[graft.sources.GramStore]] (an O(d²) write per drop, the corpus
    * is never rescanned). Abelian moments make the fold
    * drop-order-free, so the component served after the last drop must
    * match the batch moment-law oracle over the whole corpus. The
    * serve-side scoring scan reads the full table once at the end.
    */
  def replayPcaDrops(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.{GramStore, Tables}
    val emb = Tables.embeddings(spark, dir)
    replayStoreDrops(spark, dir, "pca", emb, "vec_id",
      GramStore.appendBatch(_, _, _),
      p => {
        val (n, s, ss) = GramStore.moments(spark, p)
        graft.operators.Pca.fromMoments(emb, n, s, ss)
      })
  }

  /** STREAMING datasheet maintenance — the mixture-store twin of
    * [[replayPcaDrops]]: doc drops fold their per-(lang, source) count
    * deltas into the persisted [[graft.sources.MixtureStore]] (one
    * pass over the drop, O(|slices|) bytes written, the corpus is
    * never rescanned). Counts are an INTEGER abelian group, so the
    * fold is drop-order-free and the datasheet served after the last
    * drop is bit-identical to the batch [[CorpusStats.mixture]] oracle
    * over the whole corpus — exactness, not a rounding-class match.
    */
  def replayMixtureDrops(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.{MixtureStore, Tables}
    replayStoreDrops(spark, dir, "mixture",
      Tables.documents(spark, dir), "doc_id",
      MixtureStore.appendBatch(_, _, _),
      MixtureStore.served(spark, _))
  }

  /** STREAMING sketch maintenance — the semilattice-store twin of
    * [[replayMixtureDrops]]: each doc drop sketches ONLY ITSELF and
    * appends its per-lang k-min layer to the persisted
    * [[graft.sources.SketchStore]] (an O(langs × k) write — never a
    * rescan, never a distinct-value-sized shuffle). The k-min fold is
    * idempotent/commutative/associative, so the served dashboard after
    * the last drop is bit-identical to a sketch built over the whole
    * corpus in one pass — the batch oracle replays it value-exactly
    * (approximate about the WORLD, deterministic about the DATA).
    */
  def replayKmvDrops(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.{SketchStore, Tables}
    replayStoreDrops(spark, dir, "kmv",
      Tables.documents(spark, dir), "doc_id",
      SketchStore.appendBatch(_, _, _),
      SketchStore.served(spark, _))
  }

  /** STREAMING datasheet RETRACTION — the takedown topology takedowns
    * actually arrive in (right-to-be-forgotten feeds are streams, not
    * batch jobs): the store is PRE-BUILT over the full corpus, then
    * takedown drops (doc slices) stream through foreachBatch and each
    * micro-batch folds its NEGATED per-slice counts in — an exact
    * integer group inverse, so after the last drop the served
    * datasheet is bit-identical to the batch operator over the
    * SURVIVORS (the same oracle `text_mixture_delete` passes). Each
    * fold costs one pass over the takedown drop plus an O(|slices|)
    * write — the store is never rebuilt, the corpus never rescanned.
    */
  def replayMixtureRetractions(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.{MixtureStore, Tables}
    val docs = Tables.documents(spark, dir)
    replayStoreDrops(spark, dir, "mixretract",
      docs.filter(col("doc_id") % 7 === 3), "doc_id",
      MixtureStore.deleteBatch(_, _, _),
      MixtureStore.served(spark, _),
      // keyed base layer (batch=-1): the takedown folds are keyed, and
      // flat + keyed must never mix in one layer
      prepare = p => MixtureStore.appendBatch(docs, p, -1L))
  }

  /** STREAMING PCA RETRACTION — [[replayMixtureRetractions]]'s twin
    * for the FP moment store: takedown vector drops stream in and each
    * micro-batch folds NEGATED `(n, Σx, Σxxᵀ)` moments into the
    * pre-built [[graft.sources.GramStore]] (an O(d²) write per drop —
    * the component refreshes without a corpus rescan); the served
    * component over the survivors must match the batch moment-law
    * oracle over the survivors (the `emb_pca_delete` oracle — the
    * drops partition its retraction set, and abelian folds are
    * order-free).
    */
  def replayPcaRetractions(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.{GramStore, Tables}
    val emb = Tables.embeddings(spark, dir)
    replayStoreDrops(spark, dir, "pcaretract",
      emb.filter(col("vec_id") % 7 === 3), "vec_id",
      GramStore.deleteBatch(_, _, _),
      p => {
        val (n, s, ss) = GramStore.moments(spark, p)
        graft.operators.Pca.fromMoments(
          emb.filter(col("vec_id") % 7 =!= 3), n, s, ss)
      },
      prepare = p => GramStore.appendBatch(emb, p, -1L))
  }

  /** Weak labels for the model-store replays: the Gopher law is
    * per-doc, so labeling commutes with the drop split.
    */
  private def gopherLabels(d: DataFrame): DataFrame =
    graft.operators.CorpusStats.gopherQuality(d)
      .select(col("doc_id"), col("keep").as("label"))

  /** STREAMING MODEL RETRACTION — the learned-model takedown: doc
    * drops to forget stream in and each micro-batch folds NEGATIVE
    * token/doc count deltas into the pre-built
    * [[graft.sources.NbModelStore]] (weak labels computed per drop);
    * counts are an exact abelian group, so the served model after the
    * last drop is bit-identical to a fresh train over the survivors
    * (the `text_clf_delete` oracle).
    */
  def replayClfRetractions(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.{NbModelStore, Tables}
    val docs = Tables.documents(spark, dir)
    replayStoreDrops(spark, dir, "clfretract",
      docs.filter(col("source") === "src0"), "doc_id",
      (b, p, id) => NbModelStore.deleteBatch(b, gopherLabels(b), p, id),
      p => NbModelStore.model(spark, p)
        .crossJoin(broadcast(NbModelStore.prior(spark, p))),
      prepare = p =>
        NbModelStore.appendBatch(docs, gopherLabels(docs), p, -1L))
  }

  /** STREAMING model maintenance — the learned-model twin of
    * [[replayNearDupDrops]]: labeled doc drops arrive as a file stream
    * (mtime-ordered, one file per trigger), and each micro-batch folds
    * ITS OWN token counts into the persisted
    * [[graft.sources.NbModelStore]] (weak labels computed per drop).
    * Because the store's state is abelian count deltas, the fold is
    * drop-order-free and append ≡ rebuild: after the last drop the
    * served model (+prior) must be indistinguishable from a fresh
    * batch train over the whole corpus — the gate reuses the
    * `text_clf_train` oracle chain verbatim. Both count layers are
    * batch-id-keyed Overwrite writes
    * ([[graft.sources.NbModelStore.appendBatch]]), so a
    * crash-redelivered batch re-lands its own layers.
    */
  def replayClfDrops(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.{NbModelStore, Tables}
    replayStoreDrops(spark, dir, "clf",
      Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      "doc_id",
      (b, p, id) => NbModelStore.appendBatch(b, gopherLabels(b), p, id),
      p => NbModelStore.model(spark, p)
        .crossJoin(broadcast(NbModelStore.prior(spark, p))))
  }

  /** STREAMING index takedown — the deletion-vector tier driven by a
    * live feed: vec-id retraction drops arrive as a file stream, each
    * micro-batch appends its ids to the stored IVF index's tombstone
    * list ([[graft.sources.IvfIndexStore.delete]] — O(|batch|) write,
    * no index rewrite) and the masked serve view reflects the
    * takedown immediately. Retry-idempotent BY CONSTRUCTION: the
    * serve view reads the tombstone list through `distinct()`, so a
    * redelivered batch re-appends ids that already mask — no marker
    * needed. After both drops the masked index must serve exactly
    * what an index with the retracted lists physically purged would —
    * the same oracle as the batch `knn_ivf_delete` gate (the two
    * drops partition its retraction set, and takedown order cannot
    * change a mask).
    */
  def replayIndexDeleteDrops(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.{IvfIndexStore, Tables}
    val emb = Tables.embeddings(spark, dir)
    val staged = ReplayDriver.staged("idxdel", dir) { stage =>
      stageFile(emb.filter(col("vec_id") % 20 === 5)
        .select(col("vec_id")), stage, "drops/drop_", 0)
      stageFile(emb.filter(col("vec_id") % 20 === 15)
        .select(col("vec_id")), stage, "drops/drop_", 1)
      IvfIndexStore.build(emb, s"$stage/ivf_base")
    }
    val idxPath = ReplayDriver.runDir("idxdel_work") + "/ivf"
    copyTree(s"$staged/ivf_base", idxPath)
    ReplayDriver.foreachDrop(ReplayDriver.drops(spark, s"$staged/drops"),
        ReplayDriver.runDir("idxdel_chk"), persist = false) { (b, _) =>
      IvfIndexStore.delete(b, idxPath)
    }
    IvfIndexStore.servedTopK(spark, idxPath, emb.filter(col("vec_id") < 8))
  }

  /** Layered-store plumbing for the keep-best maintenance: every store
    * under the run's work dir is a set of immutable layers (`base` +
    * `batch_<id>`), and a reader names the batch horizon it may see —
    * layers AFTER the horizon (e.g. a failed attempt's own write, on
    * retry) are invisible, which is what makes every per-batch read
    * deterministic under foreachBatch redelivery.
    */
  private def kbLayers(root: String, uptoBatch: Long): Seq[(String, Long)] = {
    val d = new java.io.File(root)
    if (!d.exists()) Seq.empty
    else d.listFiles().toSeq.flatMap { f =>
      f.getName match {
        case "base" => Some((f.getAbsolutePath, -1L))
        case n if n.startsWith("batch_") =>
          val id = n.stripPrefix("batch_").toLong
          if (id <= uptoBatch) Some((f.getAbsolutePath, id)) else None
        case _ => None
      }
    }
  }

  private def kbRead(spark: SparkSession, root: String,
      uptoBatch: Long): DataFrame =
    kbLayers(root, uptoBatch).map(l => graft.sources.Tables.read(spark, l._1))
      .reduce(_ unionByName _)

  /** Latest-wins read of the layered component labeling: a blast-
    * radius re-solve rewrites ENTIRE touched components into its own
    * layer, so the newest layer holding a node carries that node's
    * current label. The frame is near-dup-graph-sized (a sliver of the
    * corpus), never corpus-sized.
    */
  private def kbLabelsAsOf(spark: SparkSession, root: String,
      uptoBatch: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    kbLayers(root, uptoBatch)
      .map { case (p, l) =>
        graft.sources.Tables.read(spark, p).withColumn("layer", lit(l)) }
      .reduce(_ unionByName _)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("node")).orderBy(col("layer").desc)))
      .filter(col("rn") === 1)
      .select(col("node"), col("component"))
  }

  /** Fold the canonical table's upsert/retract delta layers into the
    * snapshot as of `uptoBatch` — MERGE semantics ((base ∪ upserts)
    * WHEN MATCHED BY a retract THEN DELETE) collapsed into one
    * anti-join, valid because the maintenance law is MONOTONE: a
    * document that ever loses a (quality DESC, id ASC) argmax can
    * never win a later one (components only grow under edge arrival,
    * and its conqueror never leaves), so no id is ever upserted after
    * being retracted and the retract set may be applied last
    * regardless of batch interleaving. Re-upserts of a standing winner
    * are identical rows — the doc_id dedup keeps one.
    *
    * This fold is the SERVE/snapshot path, run once per cut a reader
    * asks for — never inside the per-batch maintenance, whose writes
    * stay blast-radius-sized. On a lakehouse table format the delta
    * layers are exactly the rows a MERGE would apply per batch.
    */
  private[graft] def keepBestSnapshot(spark: SparkSession, work: String,
      uptoBatch: Long): DataFrame =
    kbRead(spark, s"$work/canon_upserts", uptoBatch)
      .join(kbRead(spark, s"$work/canon_retracts", uptoBatch),
        Seq("doc_id"), "left_anti")
      .dropDuplicates("doc_id")

  /** STREAMING keep-best canonicalization maintenance — the streamed
    * form of [[graft.operators.Dedup.minhashKeepBest]], and the
    * operator that makes canonicalization RETROACTIVE: when a later
    * drop delivers a cleaner mirror of an already-kept document, the
    * previously-emitted survivor is retracted and the cleaner copy
    * takes its place in the canonical table.
    *
    * Topology per micro-batch (ALL writes — delta layers AND the index
    * fold — batch-id-keyed Overwrite, so a crash-redelivered batch
    * re-lands its own layers wholesale; every read horizon-bounded to
    * layers BEFORE this batch):
    *
    *  1. exact-collapse the drop; non-representative twins (which can
    *     never win the quality argmax — their rep has equal quality
    *     and lower id) emit straight as RETRACTS (a fold no-op unless
    *     the id was ever canonical), so no separate dropped store is
    *     maintained.
    *  2. the drop's reps query the persisted band index for verified
    *     pairs ([[graft.operators.Dedup.minhashDeltaPairs]]) — new
    *     EDGES, appended to the `edges/` store; then the reps fold
    *     into the index so the next drop near-dups against them.
    *  3. BLAST-RADIUS maintenance, not a rebuild
    *     ([[graft.operators.Dedup.connectedComponentsDelta]]): the new
    *     edges name the touched stored components; exactly those
    *     components (plus the drop's new nodes) re-solve and re-rank —
    *     quality is scored for REGION nodes only, the (quality DESC,
    *     id ASC) argmax window runs over region components only — and
    *     the winners/losers emit as upsert/retract DELTA layers for
    *     the canonical table. Drop docs outside any component upsert
    *     directly (new singletons). Untouched components are never
    *     read, scored, or rewritten.
    *
    * Per-batch work therefore tracks the drop's duplicate blast radius
    * (|drop| + touched-component membership), NOT the prefix corpus —
    * the 100 TB shape: an hourly drop whose near-dups touch a handful
    * of clusters pays for those clusters, while the old form re-ran
    * the full cluster solve + corpus-grain quality scoring + a whole-
    * table write every batch. Work counters land in `metrics/` per
    * batch (region vs prefix sizes — spec-asserted and committed in
    * SURVEY §6).
    *
    * Arrival order cannot move the final answer: the accumulated edge
    * set equals the batch pair set over canonicals (cross-drop twins
    * enter as Jaccard-1.0 edges and lose every argmax to their
    * lower-id mirror — the same quotient argument that makes the batch
    * operator's exact-collapse value-identical), and the fold law is
    * monotone ([[keepBestSnapshot]]), so the folded table after the
    * LAST batch equals the batch keep-best over the full corpus —
    * gated by the very same oracle as `dedup_keep_best`, and the spec
    * pins every prefix snapshot to the batch operator over its prefix
    * corpus.
    */
  def replayKeepBestDrops(spark: SparkSession, dir: String): DataFrame =
    replayKeepBestDropsWithWork(spark, dir)._2

  /** [[replayKeepBestDrops]] plus the run's work dir, so the spec can
    * fold the per-batch delta layers ([[keepBestSnapshot]]) against
    * the batch operator per prefix and read the `metrics/` counters
    * that prove per-batch work is blast-radius-shaped.
    */
  private[graft] def replayKeepBestDropsWithWork(spark: SparkSession,
      dir: String): (String, DataFrame) =
    replayKeepBestN(spark, dir, numDrops = 2)

  /** TEST HOOK — deterministic fault injection for the crash-recovery
    * spec: called as `(batchId, writesDone)` after EACH of the
    * keep-best micro-batch's persistent writes (1 = edges, 2 = seen,
    * 3 = index fold, 4 = labels, 5 = retract delta, 6 = upsert delta,
    * 7 = metrics). A hook that throws kills the batch at that exact
    * write boundary; the stream fails, and a restart from the SAME
    * checkpoint redelivers the batch — which must land exactly,
    * because every write is batch-id-keyed Overwrite. No-op outside
    * tests.
    */
  @volatile private[graft] var kbWriteFault: (Long, Int) => Unit =
    (_, _) => ()

  /** The N-drop generalization — the gate is the `numDrops = 2` case
    * (its drops are exactly the historical doc_id%10==5 then %10==0
    * slices); the drop-count bench ([[graft.tools.KeepBestDropBench]])
    * runs 8-16 drops at ~sf1 to commit the flat per-batch cost curve
    * the delta design promises. Drops are `numDrops` disjoint residue
    * slices of doc_id % (5·numDrops) (20% of the corpus in total), the
    * base corpus the remaining 80%.
    */
  private[graft] def replayKeepBestN(spark: SparkSession,
      dir: String, numDrops: Int): (String, DataFrame) = {
    val (staged, work, chk) = kbPrepareRun(spark, dir, numDrops)
    kbRunStream(spark, dir, staged, work, chk)
    (work, kbFold(spark, work))
  }

  /** Stage the drops + batch-operator base layers (memoized per
    * dataset) and seed a fresh per-run work dir + checkpoint — the
    * stream itself runs in [[kbRunStream]], separately so the
    * crash-recovery spec can fail a run mid-batch and RESTART it
    * against the same work dir and checkpoint.
    */
  private[graft] def kbPrepareRun(spark: SparkSession, dir: String,
      numDrops: Int): (String, String, String) = {
    import graft.operators.{CorpusStats, Dedup}
    import graft.sources.{MinhashIndexStore, Tables}
    val docs = Tables.documents(spark, dir)
    val slim = docs.select(col("doc_id"), col("text"))
    val m = 5 * numDrops
    val dropRes = (0 until numDrops).map(i => ((i + 1) * 5) % m)
    val staged = ReplayDriver.staged("kbstream", s"$dir#$numDrops") { stage =>
      dropRes.zipWithIndex.foreach { case (r, i) =>
        stageFile(slim.filter(col("doc_id") % m === r), stage,
          "drops/drop_", i)
      }
      val baseFull = docs
        .filter(!(col("doc_id") % m).isin(dropRes.map(_.toLong): _*))
      val base = baseFull.select(col("doc_id"), col("text"))
      val hashable = base.filter(col("text").isNotNull)
      val canonIds = org.apache.spark.sql.GraftInternal.pinRecomputable(
        Dedup.exact(hashable).select(col("keep_id").as("doc_id")))
      val canonDocs = hashable.join(canonIds, Seq("doc_id"), "left_semi")
      MinhashIndexStore.buildKeyed(canonDocs, s"$stage/mh_base")
      Dedup.minhashNearDupPairs(canonDocs).filter(col("jaccard") >= 0.5)
        .select(col("id_a"), col("id_b"))
        .write.parquet(s"$stage/edges_base")
      val baseDropped = hashable.select(col("doc_id"))
        .join(canonIds, Seq("doc_id"), "left_anti")
      base.select(col("doc_id")).write.parquet(s"$stage/seen_base")
      // the base run of the BATCH operator, stored as the canonical
      // table's base layer + the base labeling the first drop's blast
      // radius is computed against
      val baseEdges = Tables.read(spark, s"$stage/edges_base")
      Dedup.connectedComponents(baseEdges, "id_a", "id_b")
        .write.parquet(s"$stage/labels_base")
      // scored form: quality at clustered-node grain (r16 anatomy —
      // the frame form scored the whole base corpus)
      Dedup.keepBestOverEdgesScored(baseFull,
        pruned => pruned.select(col("doc_id"),
          CorpusStats.qualityScore(col("text")).as("quality_score")),
        baseEdges, baseDropped)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .write.parquet(s"$stage/canon_base")
    }
    val work = ReplayDriver.runDir("kb_work")
    copyTree(s"$staged/mh_base", s"$work/mh")
    copyTree(s"$staged/edges_base", s"$work/edges/base")
    copyTree(s"$staged/seen_base", s"$work/seen/base")
    copyTree(s"$staged/labels_base", s"$work/labels/base")
    copyTree(s"$staged/canon_base", s"$work/canon_upserts/base")
    // retract store seeded empty so horizon reads never hit a missing path
    slim.select(col("doc_id")).limit(0)
      .write.parquet(s"$work/canon_retracts/base")
    (staged, work, ReplayDriver.runDir("kb_chk"))
  }

  /** Run (or RESUME, if the checkpoint has committed batches) the
    * keep-best maintenance stream against a prepared work dir.
    */
  private[graft] def kbRunStream(spark: SparkSession, dir: String,
      staged: String, work: String, chk: String): Unit = {
    import graft.operators.{CorpusStats, Dedup}
    import graft.sources.{MinhashIndexStore, Sinks, Tables}
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val slim = docs.select(col("doc_id"), col("text"))
    val idxPath = s"$work/mh"
    ReplayDriver.foreachDrop(ReplayDriver.drops(spark, s"$staged/drops"), chk) {
      (b, id) =>
        val t0 = System.nanoTime()
        val ow = org.apache.spark.sql.SaveMode.Overwrite
        val hash = b.filter(col("text").isNotNull)
        // ONE shared delta side per batch (pinned election window,
        // pinned signature/band frame, pinned internal verify):
        // the election serves rep ids AND twin drops, the signed
        // band frame serves the edge feed AND the index fold —
        // the old form ran the exact-collapse and the signature
        // kernel twice each per micro-batch. Same rep law (min
        // doc_id per [[Dedup.textGroupKeys]] group) as the
        // Dedup.exact election it replaces.
        val side = Dedup.prepareDeltaSide(hash, shared = true)
        val repDocs = side.reps
        // exact twins never reach the canonical table: they emit as
        // retracts below (a fold no-op unless ever canonical), so
        // no separate dropped/ store is maintained
        val twinDropped = side.members
          .filter(col("doc_id") =!= col("rep_id"))
          .select(col("doc_id"))
        // stored side horizon-bounded like every other read here:
        // exclude this batch's own band layer so a post-fold
        // redelivery recomputes the original edge set
        val nEdges = Sinks.overwrite(
          Dedup.minhashDeltaPairsWith(side, slim,
              MinhashIndexStore.bandsTableExcluding(spark, idxPath, id))
            .select(col("id_a"), col("id_b")),
          s"$work/edges/batch_$id")
        kbWriteFault(id, 1)
        val newEdges = Tables.read(spark, s"$work/edges/batch_$id")
        val nBatch = Sinks.overwrite(b.select(col("doc_id")),
          s"$work/seen/batch_$id")
        kbWriteFault(id, 2)
        // batch-id-keyed Overwrite (same law as the delta layers
        // below): a crash-redelivered batch re-lands its own band
        // layer instead of double-appending. Folds the side's
        // PINNED band frame — no second signature pass per batch.
        MinhashIndexStore.appendBatchRows(side.deltaBands, idxPath, id)
        kbWriteFault(id, 3)
        // BLAST RADIUS: stored components touched by the new edges
        // (plus brand-new nodes) re-solve and re-rank; every read
        // horizon-bounded to layers before this batch (retry-safe)
        val stored = kbLabelsAsOf(spark, s"$work/labels", id - 1)
        val priorEdges = kbRead(spark, s"$work/edges", id - 1)
        val (_, solved) = Dedup.connectedComponentsDelta(stored,
          priorEdges, newEdges, "id_a", "id_b")
        val nRegion = Sinks.overwrite(
          solved.select(col("node"), col("component")),
          s"$work/labels/batch_$id")
        kbWriteFault(id, 4)
        val region = Tables.read(spark, s"$work/labels/batch_$id")
        val regionIds = region.select(col("node").as("doc_id"))
        // quality scored at REGION grain only — never the corpus
        val regionQuality = docs
          .join(regionIds, Seq("doc_id"), "left_semi")
          .select(col("doc_id"),
            CorpusStats.qualityScore(col("text")).as("quality_score"))
        // pinned: TWO writes consume the ranked frame (the retract
        // delta via losers, the upsert delta via winners), and each
        // write would otherwise re-run the region quality scan and
        // the argmax window (measured in the kbstream anatomy: the
        // w5/w6 segments cost the same, i.e. the solve ran twice).
        // Region-sized — blast radius, never corpus — and the pin
        // stays recomputable on executor loss.
        val ranked = org.apache.spark.sql.GraftInternal.pinRecomputable(
          region
            .join(regionQuality
              .select(col("doc_id").as("node"), col("quality_score")),
              Seq("node"))
            .withColumn("rn", row_number().over(
              Window.partitionBy(col("component"))
                .orderBy(col("quality_score").desc, col("node")))))
        val winners = ranked.filter(col("rn") === 1)
          .select(col("node").as("doc_id"))
        val losers = ranked.filter(col("rn") > 1)
          .select(col("node").as("doc_id"))
        // retract DELTA: region losers + this batch's exact twins
        // (retracting a never-canonical id is a fold no-op)
        val nRetracts = Sinks.overwrite(
          losers.unionByName(twinDropped).distinct(),
          s"$work/canon_retracts/batch_$id")
        kbWriteFault(id, 5)
        // upsert DELTA: region winners + the drop's new singletons
        // (no twin, no edge — includes NULL-text pass-throughs)
        val singles = b.select(col("doc_id"))
          .join(twinDropped, Seq("doc_id"), "left_anti")
          .join(regionIds, Seq("doc_id"), "left_anti")
        val upsertIds = winners.unionByName(singles).distinct()
        val nUpserts = Sinks.overwrite(
          docs.join(upsertIds, Seq("doc_id"), "left_semi")
            .select(col("doc_id"), col("lang"), col("source"),
              col("n_chars")),
          s"$work/canon_upserts/batch_$id")
        kbWriteFault(id, 6)
        // wall_ms is the per-batch MAINTENANCE cost — stop the
        // clock BEFORE the prefix-size diagnostic count, which
        // exists only to label the curve's x-axis
        val wallMs = (System.nanoTime() - t0) / 1000000L
        // the prefix size is ARITHMETIC, not a rescan: seen layers
        // hold disjoint id sets (base = non-drop docs, drops are
        // disjoint residue slices, redelivery overwrites its own
        // layer), so prefix(id) = prefix(id-1) + |batch| — the old
        // O(prefix) count re-scanned every seen layer per batch, a
        // prefix-growing term in the per-batch maintenance path.
        // Batch 0 still counts its own layers once (base + drop 0);
        // batch id>0 reads the 1-row metrics layer of id-1, which
        // is always committed before batch id starts (AvailableNow
        // runs batches serially; a redelivered batch re-lands its
        // own metrics layer wholesale).
        val prefix =
          if (id == 0) kbRead(spark, s"$work/seen", id).count()
          else Tables.read(spark, s"$work/metrics/batch_${id - 1}")
            .select(col("prefix_docs")).head().getLong(0) + nBatch
        import spark.implicits._
        Seq((id, nBatch, nEdges, nRegion, nUpserts, nRetracts,
            prefix, wallMs))
          .toDF("batch", "batch_docs", "new_edges", "region_nodes",
            "n_upserts", "n_retracts", "prefix_docs", "wall_ms")
          .write.mode(ow).parquet(s"$work/metrics/batch_$id")
    }
  }

  /** Fold the canonical table as of the work dir's last completed
    * batch ([[keepBestSnapshot]]).
    */
  private[graft] def kbFold(spark: SparkSession, work: String): DataFrame = {
    val lastBatch = new java.io.File(s"$work/canon_upserts").listFiles()
      .map(_.getName).filter(_.startsWith("batch_"))
      .map(_.stripPrefix("batch_").toLong).max
    keepBestSnapshot(spark, work, lastBatch)
  }

  /** STREAMING late-data ingest for the reference warehouse — the
    * streamed twin of the batch `pipeline_late` gate: the day's events
    * arrive as a FILE STREAM in two mtime-ordered drops (the on-time
    * 80%, then the LATE slice whose every event_time precedes the
    * loaded maximum), and each micro-batch runs the full daily chain
    * over its drop ([[graft.Pipeline.runDailyLoad]] inside
    * foreachBatch) against one shared warehouse. The MERGE stages fold
    * each drop in idempotently (late events upsert — never dropped,
    * duplicated, or renumbered; PipelineSpec separately proves a
    * redelivered drop is a no-op, which is what makes the foreachBatch
    * at-least-once contract safe here), while the raw/view overwrite
    * stages land on the LAST drop — the reference's documented
    * latest-drop-wins layer. The final warehouse summary is gated by
    * the very same oracle as `pipeline_late`: the streamed path must
    * land the identical warehouse.
    */
  def replayLateEventDrops(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Tables
    val ev = Tables.events(spark, dir)
    val staged = ReplayDriver.staged("latestream", dir) { stage =>
      stageFile(ev.filter(col("event_id") % 5 =!= 0), stage, "drops/drop_", 0)
      stageFile(ev.filter(col("event_id") % 5 === 0), stage, "drops/drop_", 1)
    }
    val wh = ReplayDriver.runDir("latestream_wh") + "/wh"
    val part = Tables.part(spark, dir)
    // the chain pins its own parsed drop: the raw batch is read once
    ReplayDriver.foreachDrop(ReplayDriver.drops(spark, s"$staged/drops"),
        ReplayDriver.runDir("latestream_chk"), persist = false) { (b, _) =>
      graft.Pipeline.runDailyLoad(spark, b, part, wh)
      ()
    }
    graft.Pipeline.warehouseSummary(spark, wh)
  }

  /** STREAMING retraction maintenance — the deletion dual of
    * [[replayClusterDrops]], and the last tier of the retraction
    * story (batch MERGE delete → index tombstones → decremental
    * clustering → THIS): takedown drops (node-id lists) arrive as a
    * file stream, and each micro-batch repairs the STORED labeling via
    * [[graft.operators.Dedup.connectedComponentsDecremental]] — only
    * components that contained a removed node re-solve on their
    * surviving edges. The edge store itself is immutable: removals
    * accumulate as a tombstone set (`removed/drop_<id>`, batch-id-
    * keyed Overwrite — the same retry-safe, deletion-vector design as
    * [[graft.sources.MinhashIndexStore.delete]]) and every reader
    * anti-joins it, so a retried batch is a no-op (its nodes are
    * already out of the labels, making the blast radius empty).
    *
    * Removal order cannot change the final fixpoint (the surviving
    * edge set is order-independent), so the batch re-solve over the
    * shrunken graph gates the streamed table — the same oracle as
    * `dedup_clusters_decr`.
    */
  def replayRetractionDrops(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    val emb = graft.sources.Tables.embeddings(spark, dir)
    val staged = ReplayDriver.staged("rtstream", dir) { stage =>
      val pairs = Dedup.embeddingNearDups(emb)
        .select(col("probe_id").as("src"), col("cand_id").as("dst"))
      // takedown drops: vec_id % 10 == 4 retracted across two loads
      stageFile(emb.filter(col("vec_id") % 20 === 4)
        .select(col("vec_id").as("node")), stage, "drops/drop_", 0)
      stageFile(emb.filter(col("vec_id") % 20 === 14)
        .select(col("vec_id").as("node")), stage, "drops/drop_", 1)
      pairs.write.parquet(s"$stage/edges")
      Dedup.connectedComponents(pairs, "src", "dst")
        .write.parquet(s"$stage/labels_base")
    }
    val run = ReplayDriver.runDir("rtstream_run")
    copyTree(s"$staged/edges", s"$run/edges")
    val labelsRef = new java.util.concurrent.atomic.AtomicReference[String](
      s"$staged/labels_base")
    // tombstone store seeded empty so readers never hit a missing path
    emb.select(col("vec_id").as("node")).limit(0)
      .write.parquet(s"$run/removed/seed")
    ReplayDriver.foreachDrop(ReplayDriver.drops(spark, s"$staged/drops"),
        ReplayDriver.runDir("rtstream_chk")) { (b, id) =>
      if (!b.isEmpty) {
        val stored = graft.sources.Tables.read(spark, labelsRef.get)
        // the graph the stored labels describe: base edges minus every
        // PRIOR removal (this batch's tombstones land after the repair)
        val removedSoFar = spark.read
          .option("recursiveFileLookup", "true")
          .parquet(s"$run/removed")
        val edgesNow = graft.sources.Tables.read(spark, s"$run/edges")
          .join(removedSoFar.withColumnRenamed("node", "src"),
            Seq("src"), "left_anti")
          .join(removedSoFar.withColumnRenamed("node", "dst"),
            Seq("dst"), "left_anti")
          .select(col("src"), col("dst"))
        val next = s"$run/labels_$id"
        Dedup.connectedComponentsDecremental(
            stored, edgesNow, b, "src", "dst")
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(next)
        labelsRef.set(next)
        b.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$run/removed/drop_$id")
      }
    }
    graft.sources.Tables.read(spark, labelsRef.get)
  }
}
