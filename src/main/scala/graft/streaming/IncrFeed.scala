package graft.streaming

import graft.operators.IncrementalAgg
import graft.sources.{Sinks, StorePaths, SwapRecovery, Tables}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.DataStreamWriter

/** Incremental aggregate maintenance as a STREAM: each micro-batch
  * folds into the stored mergeable-state table
  * ([[graft.operators.IncrementalAgg]]) — the continuous form of the
  * reference's full view rebuild, maintained at delta cost.
  *
  * Unlike the SCD2 sink (whose merge is naturally idempotent — a
  * re-delivered change finds its version already closed), an aggregate
  * FOLD double-counts on replay. Exactly-once therefore needs a batch
  * marker, and the marker must move ATOMICALLY with the data: it is
  * written as `_applied_batch` INSIDE the staging directory before the
  * staging→live rename, so the table and "which batch produced it"
  * swap as one unit (underscore-prefixed files are invisible to
  * parquet directory reads). A crash anywhere leaves either the old
  * table+marker or the new table+marker — never a folded table that
  * would accept the same batch again. This is the transactional
  * foreachBatch pattern every at-least-once channel needs at 100 TB,
  * where "just re-run the day" is not an option.
  */
object IncrFeed {

  /** Last batch id folded into `table`, or -1 for a fresh table. */
  private[streaming] def appliedBatch(spark: SparkSession, table: String): Long = {
    val p = new Path(s"$table/_applied_batch")
    val fs = SwapRecovery.fsOf(spark, table)
    if (!fs.exists(p)) -1L
    else {
      val in = fs.open(p)
      try new java.io.BufferedReader(new java.io.InputStreamReader(in, "UTF-8"))
        .readLine().trim.toLong
      finally in.close()
    }
  }

  /** One exactly-once fold step: apply `batch` as batch `id` unless the
    * table's atomic marker says it (or a later batch) already landed —
    * a REPLAYED batch is a no-op, never a double count.
    */
  def applyBatch(batch: DataFrame, id: Long, path: String,
      keys: Seq[String], spec: IncrementalAgg.Spec): Unit = {
    val spark = batch.sparkSession
    val table = s"$path/data"
    // repair FIRST: after a crash between the swap's two renames the
    // folded state (and its marker) lives only in `data.backup` and
    // `data.staging`
    val exists = Sinks.tableExists(spark, table)
    if (id > appliedBatch(spark, table)) {
      val partial = IncrementalAgg.partial(batch, keys, spec)
      val merged =
        if (exists)
          IncrementalAgg.fold(Tables.read(spark, table), partial, keys, spec)
        else partial
      val staging = s"$table.staging"
      // the staging write is the action that drains the read of the
      // LIVE table — it completes before the swap renames anything
      merged.write.mode("overwrite").parquet(staging)
      val out = SwapRecovery.fsOf(spark, table)
        .create(new Path(s"$staging/_applied_batch"), true)
      try out.write(id.toString.getBytes("UTF-8")) finally out.close()
      Sinks.swapInto(spark, table)
    }
  }

  /** foreachBatch sink maintaining `path`/data as the folded aggregate
    * state of every batch seen exactly once.
    */
  def incrAggSink(deltas: DataFrame, path: String, keys: Seq[String],
      spec: IncrementalAgg.Spec): DataStreamWriter[Row] =
    deltas.writeStream.foreachBatch { (batch: Dataset[Row], id: Long) =>
      applyBatch(batch.toDF(), id, path, keys, spec)
    }

  /** File-replay of drops through the [[incrAggSink]] fold
    * ([[applyBatch]]): stages each drop as ONE parquet file
    * (mtime-ordered), streams them one micro-batch each, returns the
    * maintained table. `workDir` is recreated from
    * scratch — the replay always starts from an empty table and a
    * fresh checkpoint. The gate compares the result to the ONE-SHOT
    * aggregate over all drops (the same oracle as the batch fold).
    */
  def replayIncrAgg(spark: SparkSession, drops: Seq[DataFrame],
      keys: Seq[String], spec: IncrementalAgg.Spec,
      workDir: String): DataFrame = {
    require(drops.nonEmpty, "replayIncrAgg needs at least one drop")
    StorePaths.wipe(spark, workDir)
    val stage = java.nio.file.Paths.get(s"$workDir/stage")
    drops.zipWithIndex.foreach { case (df, i) =>
      ReplayDriver.stageFile(df, stage, "load_", i)
    }
    ReplayDriver.foreachDrop(ReplayDriver.drops(spark, stage.toString),
        s"$workDir/chk", persist = false) { (b, id) =>
      applyBatch(b, id, s"$workDir/table", keys, spec)
    }
    Tables.read(spark, s"$workDir/table/data")
  }
}
