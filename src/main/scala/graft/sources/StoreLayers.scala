package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The layer kernel every persisted store writes through: a store
  * declares its layers (name, partition columns, read-side cast) and
  * this class owns how they are written, guarded, compacted and
  * memoized, so the crash and layout rules hold for every store by
  * construction:
  *
  *  - every fold and compaction runs under the store's single-writer
  *    [[IndexLease]], tagged `<store>-<op>` (a racing append can never
  *    land in a doomed pre-swap dir);
  *  - a fold never mixes FLAT and BATCH-KEYED files in one layer
  *    ([[StoreLayout.assertWritable]]);
  *  - every compaction commits by [[SwapRecovery]]'s stage-then-swap
  *    ([[StoreLayers.swap]]), whose crash layouts the lease repairs on
  *    entry;
  *  - a lifecycle runs at most once per JVM per path ([[once]]).
  *
  * The mergeable-state stores ([[GramStore]], [[MixtureStore]],
  * [[NbModelStore]], [[SketchStore]]) hold one instance and add only
  * their delta-row and fold laws; [[TombstonedLayers]] builds its
  * tombstone ledgers on top of it.
  */
private[sources] class StoreLayers(name: String,
    layers: Seq[StoreLayers.Layer]) {
  import StoreLayers._

  protected def layer(n: String): Layer = layers.find(_.name == n)
    .getOrElse(throw new IllegalArgumentException(s"$name store has no layer $n"))

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
    * reads anything (a keyed store lacks the flat-only layers), a keyed
    * fold checks every layer it writes.
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

  /** Compact a mergeable-state store under the lease (whose entry
    * repair leaves no swap debris): every declared layer, in order, is
    * replaced through [[swap]] by `folded(layer)` — the store's fold
    * law, evaluated while staging so it reads the PRE-swap layer. A
    * batch-keyed layer stays keyed across compaction
    * (the folded rows land at `batch=-1`), so a stream can keep folding
    * batch layers in afterwards; a flat/keyed mix would be silently
    * lossy to read ([[StoreLayout]]'s invariant).
    */
  def compactFolded(spark: SparkSession, path: String)(
      folded: String => DataFrame): Unit =
    IndexLease.withLease(spark, path, s"$name-compact") {
      layers.foreach { l =>
        val keyed = StoreLayout.isKeyed(spark, path, l.name)
        swap(spark, path, l.name) { staged =>
          val rows = folded(l.name)
          val w =
            if (keyed) writer(rows.withColumn("batch", lit(-1L)), "batch" +: l.partCols)
            else writer(rows, l.partCols)
          w.mode(SaveMode.Overwrite).parquet(staged)
        }
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
}

private[sources] object StoreLayers {

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

  /** A store of unpartitioned layers with the given names. */
  def apply(name: String, layers: String*): StoreLayers =
    new StoreLayers(name, layers.map(Layer(_)))

  private[sources] def writer(df: DataFrame, parts: Seq[String]) =
    if (parts.isEmpty) df.write else df.write.partitionBy(parts: _*)

  /** Replace a stored layer: `stage` writes the replacement to the
    * given `<layer>_compacted` dir, then [[SwapRecovery.replace]] swaps
    * it in, parking the live layer at `<layer>_old`. Callers hold the
    * store's [[IndexLease]].
    */
  private[sources] def swap(spark: SparkSession, path: String,
      layer: String)(stage: String => Unit): Unit = {
    stage(s"$path/${layer}_compacted")
    SwapRecovery.replace(SwapRecovery.fsOf(spark, path),
      new Path(s"$path/${layer}_compacted"), new Path(s"$path/$layer"),
      new Path(s"$path/${layer}_old"))
  }
}
