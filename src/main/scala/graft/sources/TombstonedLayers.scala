package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, GraftInternal, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The tombstoned-layer kernel of the four retractable index stores
  * ([[MinhashIndexStore]], [[FrameSigIndexStore]], [[IvfIndexStore]],
  * [[EmbLshIndexStore]]). A store declares its id column and its
  * layers (name, partition columns, read-side cast); this class owns
  * every operation over the shared [[Tombstones]] ledgers, so the
  * crash and retention rules hold for all four by construction:
  *
  *  - every mutation runs under the store's single-writer
  *    [[IndexLease]] (a racing append can never land in a doomed
  *    pre-swap dir);
  *  - compact and expire [[SwapRecovery.recover]] every existing layer
  *    on entry, so the renames always begin from a clean layout;
  *  - every swap rename is checked ([[TombstonedLayers.swap]]) — a
  *    failure aborts before anything destructive;
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
    idCol: String, layers: Seq[TombstonedLayers.Layer]) {
  import TombstonedLayers._

  private val primary = layers.head

  private def layer(n: String): Layer = layers.find(_.name == n)
    .getOrElse(throw new IllegalArgumentException(s"$name store has no layer $n"))

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
    val raw = spark.read.parquet(s"$path/$layerName")
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

  /** The declared layers on disk (live dir or swap debris), repaired. */
  private def recovered(spark: SparkSession, path: String): Seq[Layer] = {
    val fs = SwapRecovery.fsOf(spark, path)
    layers.filter { l =>
      Seq("", "_old", "_compacted")
        .exists(s => fs.exists(new Path(s"$path/${l.name}$s")))
    }.map { l => SwapRecovery.recover(spark, path, l.name); l }
  }

  private def liveIds(spark: SparkSession, path: String,
      present: Seq[Layer]): DataFrame =
    present.map(l => spark.read.parquet(s"$path/${l.name}").select(col(idCol)))
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
      // still has them — no tombstones means nothing to repair or fold
      if (Tombstones.exists(spark, path)) {
        val present = recovered(spark, path)
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
                  writer(l.cast(spark.read.parquet(s"$path/${l.name}"))
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
        val present = recovered(spark, path)
        val expirable = Tombstones.expirable(spark, path, idCol)
        Tombstones.appendExpired(
          if (present.isEmpty) expirable
          else expirable.join(liveIds(spark, path, present), Seq(idCol), "left_anti"),
          path, idCol)
      }
    }

  /** A fresh FLAT build: each (layer, rows) replaces `<layer>/`. */
  def overwrite(path: String)(rows: (String, DataFrame)*): Unit =
    rows.foreach { case (l, df) =>
      writer(df, layer(l).partCols).mode(SaveMode.Overwrite).parquet(s"$path/$l")
    }

  /** Fold rows into the store under the lease. FLAT (no `batchId`):
    * each (layer, rows) appends to `<layer>/`. BATCH-KEYED: each lands
    * with Overwrite in `<layer>/batch=<id>/`, in order, so a
    * crash-redelivered batch re-lands its own layers instead of
    * double-appending (`-1` is the pre-built base layer). A fold that
    * would mix the two layouts in a layer is refused before anything is
    * written ([[StoreLayout.assertWritable]]) — a mix is silently lossy
    * to read; a flat fold checks every declared layer before `rows`
    * reads anything (a keyed store lacks the flat-only layers).
    */
  def append(spark: SparkSession, path: String, who: String,
      batchId: Option[Long] = None)(rows: => Seq[(String, DataFrame)]): Unit =
    IndexLease.withLease(spark, path, s"$name-$who") {
      if (batchId.isEmpty) layers.foreach { l =>
        StoreLayout.assertWritable(spark, path, l.name, keyed = false)
      }
      val writes = rows
      if (batchId.isDefined) writes.foreach { case (l, _) =>
        StoreLayout.assertWritable(spark, path, l, keyed = true)
      }
      writes.foreach { case (l, df) =>
        val w = writer(df, layer(l).partCols)
        batchId.fold(w.mode(SaveMode.Append).parquet(s"$path/$l"))(b =>
          w.mode(SaveMode.Overwrite).parquet(StoreLayout.batchDir(path, l, b)))
      }
    }

  private val built =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  /** Run a store `lifecycle` (`plain`, `rolled`, `deleted` …) at most
    * once per JVM per path: `body` runs inside the map's per-key lock,
    * so a concurrent caller blocks until the store is fully on disk,
    * and a body that throws leaves no entry so the next caller retries.
    * A path already built by one of the `conflicts` lifecycles is
    * refused — two lifecycles never satisfy each other's contract.
    */
  def once(lifecycle: String, path: String, conflicts: String*)(
      body: => Unit): Unit = {
    conflicts.find(c => built.containsKey(s"$c:$path")).foreach { c =>
      throw new IllegalArgumentException(
        s"$path was built by the $c lifecycle; use a distinct path per lifecycle")
    }
    built.computeIfAbsent(s"$lifecycle:$path", _ => {
      body
      java.lang.Boolean.TRUE
    })
    ()
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

  /** One stored layer: its directory name under the store path, its
    * partition columns (without `batch`, which a keyed layer adds), and
    * the cast that restores the written type of a partition column
    * (discovery reads it back as the directory value).
    */
  final case class Layer(name: String, partCols: Seq[String] = Nil,
      cast: DataFrame => DataFrame = identity)

  /** A layer partitioned by one column, read back as type `tpe`. */
  def partitioned(name: String, partCol: String, tpe: String): Layer =
    Layer(name, Seq(partCol), _.withColumn(partCol, col(partCol).cast(tpe)))

  def apply(name: String, idCol: String, layers: Layer*): TombstonedLayers =
    new TombstonedLayers(name, idCol, layers)

  private def writer(df: DataFrame, parts: Seq[String]) =
    if (parts.isEmpty) df.write else df.write.partitionBy(parts: _*)

  /** The one checked rename swap of a stored layer: `stage` writes the
    * replacement to the given `<layer>_compacted` dir, the live layer
    * is renamed aside, staging is promoted, the old bytes are dropped.
    * Every rename is CHECKED — a failed rename throws before anything
    * destructive, never falling through to leave a stale layer serving
    * unmasked. Each crash point leaves a layout [[SwapRecovery.recover]]
    * repairs. Callers hold the store's [[IndexLease]].
    */
  private[sources] def swap(spark: SparkSession, path: String,
      layer: String)(stage: String => Unit): Unit = {
    stage(s"$path/${layer}_compacted")
    val fs = SwapRecovery.fsOf(spark, path)
    SwapRecovery.renameOrThrow(fs, new Path(s"$path/$layer"),
      new Path(s"$path/${layer}_old"))
    SwapRecovery.renameOrThrow(fs, new Path(s"$path/${layer}_compacted"),
      new Path(s"$path/$layer"))
    fs.delete(new Path(s"$path/${layer}_old"), true)
    ()
  }
}
