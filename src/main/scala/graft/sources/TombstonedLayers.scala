package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, GraftInternal, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The tombstoned-layer kernel of the four retractable index stores
  * ([[MinhashIndexStore]], [[FrameSigIndexStore]], [[IvfIndexStore]],
  * [[EmbLshIndexStore]]). A store declares its id column and its
  * layers; [[StoreLayers]] owns how they are written, leased, swapped
  * and memoized, and this class adds every operation over the shared
  * [[Tombstones]] ledgers, so the crash and retention rules hold for
  * all four by construction:
  *
  *  - compact and expire run under the lease, whose entry repair
  *    ([[SwapRecovery]]) leaves no swap debris, so they read only the
  *    declared layers that exist;
  *  - a keyed store writes the purged ledger BEFORE the swap (the
  *    expiry gate — see [[Tombstones.purged]]);
  *  - a KEYED store (primary layer batch-keyed, streamed maintenance)
  *    keeps its batch values and its mask across compaction: a
  *    crash-redelivered pre-compact batch re-lands its own layer, and
  *    only the retained mask keeps a takedown from resurrecting.
  *    [[expire]] bounds that mask. A FLAT store clears every ledger
  *    after the rewrite (zero-masking serve).
  */
private[sources] final class TombstonedLayers(name: String,
    idCol: String, layers: Seq[StoreLayers.Layer])
    extends StoreLayers(name, layers) {
  import StoreLayers._

  private val primary = layers.head

  /** True iff `<layer>/` is on disk. */
  def has(spark: SparkSession, path: String, layerName: String): Boolean =
    SwapRecovery.fsOf(spark, path).exists(new Path(s"$path/$layerName"))

  /** `rows` minus the live serve mask — a broadcast anti-join on the
    * outstanding takedowns; the identity while the store has none.
    */
  def mask(spark: SparkSession, path: String, rows: DataFrame): DataFrame =
    if (Tombstones.exists(spark, path))
      rows.join(broadcast(Tombstones.liveMask(spark, path, idCol)),
        Seq(idCol), "left_anti")
    else rows

  /** The masked serve read of one layer (the primary by default), its
    * `batch` key dropped. `excluding` prunes one batch layer first —
    * what a streamed maintainer serves its OWN micro-batch against, so
    * a redelivered batch whose fold landed before the checkpoint commit
    * never sees its own rows stored (every drop-internal pair would
    * re-emit through the stored×drop join); a no-op on first delivery.
    */
  def table(spark: SparkSession, path: String,
      layerName: String = primary.name,
      excluding: Option[Long] = None): DataFrame = {
    val raw = Tables.read(spark, s"$path/$layerName")
    mask(spark, path, layer(layerName).cast(
      excluding.fold(raw)(b => raw.filter(col("batch") =!= b)).drop("batch")))
  }

  /** Retract ids — deletion-vector style: an O(|retraction|) append to
    * `tombstones/`, masked on read by [[table]].
    */
  def delete(ids: DataFrame, path: String): Unit =
    IndexLease.withLease(ids.sparkSession, path, s"$name-delete") {
      Tombstones.append(ids, path, idCol)
    }

  /** The declared layers on disk (the lease has already repaired them). */
  private def onDisk(spark: SparkSession, path: String): Seq[Layer] =
    layers.filter(l => has(spark, path, l.name))

  private def liveIds(spark: SparkSession, path: String,
      present: Seq[Layer]): DataFrame =
    present.map(l => Tables.read(spark, s"$path/${l.name}").select(col(idCol)))
      .reduce(_ unionByName _)

  /** Fold outstanding tombstones into the files: every present layer is
    * rewritten without EVERY id ever tombstoned ([[Tombstones.all]] —
    * an expired id with live rows self-heals instead of resurrecting)
    * and swapped in by rename. The no-op probe: the rewrite would be
    * byte-identical iff no live row carries a tombstoned id. One pinned,
    * tombstone-bounded frame of such ids answers it and feeds the
    * purged ledger, and is released before compact returns. It stays
    * exact under batch redelivery (it sees re-landed retracted rows),
    * which a high-water marker could not.
    */
  def compact(spark: SparkSession, path: String): Unit =
    IndexLease.withLease(spark, path, s"$name-compact") {
      // tombstones are deleted LAST, so every strandable crash layout
      // still has them — no tombstones means nothing to fold
      if (Tombstones.exists(spark, path)) {
        val present = onDisk(spark, path)
        val keyed = StoreLayout.isKeyed(spark, path, primary.name)
        if (present.nonEmpty) {
          val purgeSet = Tombstones.all(spark, path, idCol)
          val maskedLive = GraftInternal.pinRecomputable(
            liveIds(spark, path, present)
              .join(broadcast(purgeSet), Seq(idCol), "left_semi").distinct())
          try {
            if (!maskedLive.isEmpty) {
              // ledger the ids this rewrite ACTUALLY purges, at their
              // current epoch, BEFORE the swap: a crash after this
              // append only over-records, and expire's rows-absent
              // conjunct refuses ids that still have live rows
              if (keyed)
                Tombstones.appendPurged(
                  Tombstones.allWithSeq(spark, path, idCol)
                    .join(broadcast(maskedLive), Seq(idCol), "left_semi"),
                  path, idCol)
              present.foreach { l =>
                val keyedLayer = StoreLayout.isKeyed(spark, path, l.name)
                val parts = if (keyedLayer) "batch" +: l.partCols else l.partCols
                swap(spark, path, l.name) { staged =>
                  writer(l.cast(Tables.read(spark, s"$path/${l.name}"))
                      .join(broadcast(purgeSet), Seq(idCol), "left_anti"), parts)
                    .mode(SaveMode.Overwrite).parquet(staged)
                }
              }
            }
          } finally GraftInternal.unpin(maskedLive)
        }
        if (!keyed) Tombstones.clear(spark, path)
      }
    }

  /** Release the redelivery guard for takedowns whose physical purge
    * has landed: every tombstone a compact purged AT ITS CURRENT EPOCH
    * ([[Tombstones.expirable]]) with no row left in any present layer
    * moves to the expired ledger and leaves the serve mask.
    *
    * CALLER CONTRACT: only call once no pre-compact batch can be
    * redelivered anymore (the maintaining stream's checkpoint has
    * committed past every batch that existed at the last compact) — an
    * expired id no longer masks re-landed rows. Pre-emptive
    * (delete-before-ingest) takedowns are never eligible, in any epoch.
    * All ledgers are append-only, so any crash state under-expires.
    */
  def expire(spark: SparkSession, path: String): Unit =
    IndexLease.withLease(spark, path, s"$name-expire") {
      if (Tombstones.exists(spark, path)) {
        val present = onDisk(spark, path)
        val expirable = Tombstones.expirable(spark, path, idCol)
        Tombstones.appendExpired(
          if (present.isEmpty) expirable
          else expirable.join(liveIds(spark, path, present), Seq(idCol), "left_anti"),
          path, idCol)
      }
    }

  /** Memoized build-then-delete lifecycle for the retraction gates: the
    * first caller per JVM per path wipes the path (keyed temp paths are
    * deterministic ACROSS processes, so an earlier JVM's dir must not
    * leak into a lifecycle that believes it starts from nothing), runs
    * `build` and retracts `removed`; later callers serve the masked
    * index.
    */
  def ensureDeleted(removed: DataFrame, path: String)(build: => Unit): Unit =
    once("deleted", path, "plain", "rolled") {
      StorePaths.wipe(removed.sparkSession, path)
      build
      delete(removed, path)
    }
}

private[sources] object TombstonedLayers {

  def apply(name: String, idCol: String,
      layers: StoreLayers.Layer*): TombstonedLayers =
    new TombstonedLayers(name, idCol, layers)
}
