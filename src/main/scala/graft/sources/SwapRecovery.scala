package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Crash recovery for the compaction rename swap
  * ([[TombstonedLayers.swap]]) shared by the retractable index stores
  * (through [[TombstonedLayers]]) and the single-layer stores (through
  * [[compactSwap]]).
  *
  * The swap sequence is: write `<layer>_compacted` → rename `<layer>`
  * to `<layer>_old` → rename `<layer>_compacted` to `<layer>` → delete
  * `<layer>_old` → delete `tombstones`. A crash between any two steps
  * leaves exactly one of these states on disk, and each is recoverable
  * to a COMPLETE serving index:
  *
  *  1. `<layer>` + partial/complete `<layer>_compacted` — the swap
  *     never started; drop the staging dir (tombstones still mask).
  *  2. `<layer>_old` + `<layer>_compacted` — mid-swap; promote the
  *     compacted dir (it was fully written before step 2 began).
  *  3. `<layer>` + `<layer>_old` — promoted but not cleaned; drop the
  *     old dir (and, once every layer is clean, the tombstones — the
  *     compacted data no longer contains the retracted rows, and the
  *     mask is anti-join-idempotent in the meantime).
  *
  * Call [[recover]] before serving from a store path whose process may
  * have died mid-compact; every compact also calls it at
  * ENTRY, so compaction never starts from a stranded layout (a rename
  * onto an existing destination would fail FS-dependently). It is a
  * no-op on a healthy layout. Mutual exclusion between live writers is
  * [[IndexLease]]'s job — this object only repairs what a DEAD one
  * left behind.
  */
object SwapRecovery {

  /** Repair one layer's swap state; returns what it did (for logs and
    * the spec). No-op ("clean") when only `<layer>` exists.
    */
  def recover(spark: SparkSession, path: String, layer: String): String = {
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = new Path(s"$path/$layer")
    val old = new Path(s"$path/${layer}_old")
    val staged = new Path(s"$path/${layer}_compacted")
    (fs.exists(live), fs.exists(old), fs.exists(staged)) match {
      case (true, false, true) => // crash before the swap began
        fs.delete(staged, true); "dropped_staging"
      case (false, true, true) => // crash mid-swap: promote staging
        fs.rename(staged, live); fs.delete(old, true); "promoted_staging"
      case (true, true, false) => // crash before cleanup
        fs.delete(old, true); "dropped_old"
      case (false, true, false) =>
        // UNREACHABLE from the documented five-step sequence: once the
        // live dir was renamed aside (step 2), staging exists until it
        // is promoted (step 3), and after promotion live exists. Only
        // out-of-band surgery produces this layout, and restoring _old
        // as live would be safe ONLY while the tombstone mask is still
        // present — an invariant this code cannot verify — so treat it
        // as unrecoverable like the catch-all instead of guessing.
        throw new IllegalStateException(
          s"unexpected layout for $path/$layer: only ${layer}_old exists — " +
            "not a state the swap sequence can strand; restore by hand " +
            "after confirming the tombstone list still masks it")
      case (true, false, false) => "clean"
      case other =>
        throw new IllegalStateException(
          s"unrecoverable layout for $path/$layer: (live, old, staged) = $other")
    }
  }

  /** Repair EVERY stranded layer under a store path, discovering the
    * layer names from the `<layer>_old` / `<layer>_compacted` debris a
    * dead writer left behind — the store-agnostic entry point
    * [[IndexLease]]'s dead-holder takeover uses (the lease layer does
    * not know which store layout it guards). A healthy path has no
    * debris and this is a no-op; returns the repaired layer → action
    * map for logs and the spec.
    */
  def recoverAll(spark: SparkSession, path: String): Map[String, String] = {
    val fs = fsOf(spark, path)
    val children =
      try fs.listStatus(new Path(path)).toSeq
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    val layers = children.map(_.getPath.getName)
      .collect {
        case n if n.endsWith("_old") => n.stripSuffix("_old")
        case n if n.endsWith("_compacted") => n.stripSuffix("_compacted")
      }
      .filterNot(_.startsWith("_")) // lease machinery, not store layers
      .distinct
    layers.map(l => l -> recover(spark, path, l)).toMap
  }

  /** Rename that REFUSES to be ignored: `FileSystem.rename` reports
    * failure as a Boolean (FS-dependently, e.g. when the destination
    * already exists on a stranded layout), and a compact that falls
    * through a failed rename to its tombstone delete would leave the
    * stale uncompacted layer serving UNMASKED — resurrecting retracted
    * rows. Throwing aborts the swap before any destructive step.
    */
  private[sources] def renameOrThrow(fs: FileSystem, from: Path,
      to: Path): Unit =
    if (!fs.rename(from, to))
      throw new IllegalStateException(
        s"rename $from -> $to failed (stranded layout?); aborting the " +
          "swap before the tombstone delete — run recover() and retry")

  private[sources] def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The checked compact swap every SINGLE-LAYER store shares
    * ([[GramStore]], [[MixtureStore]], [[SketchStore]], and each of
    * [[NbModelStore]]'s two layers): repair any stranded layout, then
    * stage the caller's folded frame through [[TombstonedLayers.swap]]
    * (the one checked rename sequence). `folded` is by-name so it reads
    * the PRE-swap layer. Callers hold the store's [[IndexLease]] — this
    * helper does not take it.
    */
  private[sources] def compactSwap(spark: SparkSession, path: String,
      layer: String)(folded: => org.apache.spark.sql.DataFrame): Unit = {
    recover(spark, path, layer)
    // a batch-keyed layer (streamed maintenance) stays keyed across
    // compaction — the folded row lands at batch=-1 — so the stream
    // can keep folding batch layers in afterwards; a flat/keyed mix
    // would be silently lossy to read (StoreLayout's invariant)
    val keyed = StoreLayout.isKeyed(spark, path, layer)
    val staged =
      if (keyed)
        folded.withColumn("batch", org.apache.spark.sql.functions.lit(-1L))
          .write.partitionBy("batch")
      else folded.write
    TombstonedLayers.swap(spark, path, layer)(staged.mode(
      org.apache.spark.sql.SaveMode.Overwrite).parquet)
  }
}
