package graft.streaming

import graft.sources.{Sinks, Tables}
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming maintenance of warehouse dims — the continuous version of
  * the reference's daily dim loads.
  *
  * Two pieces a streamed ingest needs that the batch operators don't
  * cover:
  *
  *  - [[dedupStream]]: at-least-once sources re-deliver rows;
  *    `dropDuplicatesWithinWatermark` keys the seen-set by the dedup
  *    columns and EVICTS it by the watermark, so state stays bounded
  *    by the disorder window instead of growing with the key universe
  *    (a plain streaming `dropDuplicates` never forgets — a leak at
  *    100 TB ingest rates).
  *  - [[scd2Sink]]: `foreachBatch` turns each micro-batch of dim
  *    deltas into one [[graft.operators.Scd2]] load against the
  *    stored history. foreachBatch is at-least-once — on failure the
  *    same batch replays — and the merge is IDEMPOTENT for a replayed
  *    (batch, load date) pair: unchanged rows are skipped and a
  *    re-delivered change finds its old version already closed, so
  *    the at-least-once channel still yields an exactly-once history.
  */
object DimFeed {

  /** Bounded-state streaming dedup on `keys` within the watermark's
    * disorder window.
    */
  def dedupStream(events: DataFrame, keys: Seq[String], tsCol: String = "ts",
      watermark: String = "2 hours"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** File-replay of snapshot loads through [[scd2Sink]]: stages each
    * load as ONE parquet file (mtime-ordered), streams them with
    * `maxFilesPerTrigger = 1` so every load arrives as its own
    * micro-batch, and returns the on-disk history the sink maintained.
    * The gate compares this history to the BATCH [[graft.operators
    * .Scd2]] oracle over the same loads and dates — the streaming
    * sink must produce the identical history, or the wiring
    * (per-batch collapse, load-date mapping, merge idempotency) is
    * wrong. `workDir` is recreated from scratch on every call: the
    * replay always runs from an empty history and a fresh checkpoint.
    */
  def replayScd2(spark: org.apache.spark.sql.SparkSession,
      loads: Seq[(DataFrame, String)], keys: Seq[String],
      tracked: Seq[String], workDir: String): DataFrame = {
    require(loads.nonEmpty, "replayScd2 needs at least one load")
    graft.sources.StorePaths.wipe(spark, workDir)
    val stage = java.nio.file.Paths.get(s"$workDir/stage")
    loads.zipWithIndex.foreach { case ((df, _), i) =>
      // __load_seq doubles as the sink's latestBy collapse column; a
      // uniform value per staged file, dropped before the merge
      ReplayDriver.stageFile(df.withColumn("__load_seq", lit(i.toLong)),
        stage, "load_", i)
    }
    val dates = loads.map(_._2)
    val hist = s"$workDir/history"
    ReplayDriver.foreachDrop(ReplayDriver.drops(spark, stage.toString),
        s"$workDir/chk")(
      scd2Batch(hist, keys, tracked, id => dates(id.toInt),
        latestBy = "__load_seq"))
    Tables.read(spark, hist)
  }

  /** SCD2 history maintenance over a dim-delta stream. `loadDateFor`
    * maps a batch id to that load's effective date (must be stable
    * across a replay of the same batch — derive it from batch
    * contents or a batch-id keyed calendar, never wall clock).
    *
    * Batch composition is trigger-timing dependent, so one micro-batch
    * can legally carry SEVERAL changes to the same key (a backlog
    * drained after downtime); the sink collapses each key to its last
    * change by `latestBy` (remaining columns break ties, so a replayed
    * batch collapses identically) BEFORE merging — without this, the
    * merge's duplicate-key guard would kill the query and the
    * checkpoint would replay the same poisonous batch forever.
    * `latestBy` is consumed by the collapse and does not enter the
    * history. Start with `.option("checkpointLocation", ...)`.
    */
  def scd2Sink(deltas: DataFrame, path: String, keys: Seq[String],
      tracked: Seq[String], loadDateFor: Long => String,
      latestBy: String = "ts"): DataStreamWriter[Row] = {
    val body = scd2Batch(path, keys, tracked, loadDateFor, latestBy)
    deltas.writeStream.foreachBatch { (batch: Dataset[Row], id: Long) =>
      body(batch.toDF(), id)
    }
  }

  /** One micro-batch of [[scd2Sink]]: collapse, then merge. */
  private def scd2Batch(path: String, keys: Seq[String],
      tracked: Seq[String], loadDateFor: Long => String,
      latestBy: String): (DataFrame, Long) => Unit =
    (batch, id) =>
      if (!batch.isEmpty) {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.functions.{col, row_number}
        val tieBreak = batch.columns
          .filterNot(c => keys.contains(c) || c == latestBy)
          .map(col(_).desc)
        val w = Window.partitionBy(keys.map(col): _*)
          .orderBy((col(latestBy).desc +: tieBreak.toSeq): _*)
        val latest = batch.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn", latestBy)
        Sinks.mergeDimScd2(batch.sparkSession, path, latest, keys, tracked,
          lit(loadDateFor(id)))
        ()
      }
}
