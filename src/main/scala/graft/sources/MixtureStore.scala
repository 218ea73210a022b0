package graft.sources

import graft.operators.CorpusStats
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scan-once / serve-many persistence for the corpus mixture datasheet
  * (the data-card table that drives training-mix sampling weights) —
  * the SEVENTH persisted store, third with abelian-group state (after
  * [[NbModelStore]] and [[GramStore]]): each corpus drop contributes
  * per-(lang, source) signed `(n_docs, n_tokens)` count deltas,
  * appends are positive, takedowns append NEGATED counts, and the
  * serve path folds the layers with one slice-grain SUM. At 100 TB the
  * point is that refreshing the datasheet after a drop lands or a
  * takedown retracts NEVER rescans the corpus: a mutation costs one
  * pass over the mutation itself plus an O(|slices|) write — slices
  * are (lang × source) pairs, thousands at web scale, KBs on disk.
  *
  * Unlike [[GramStore]]'s double moments, these counts are INTEGERS:
  * fold-after-retract is bit-identical to a fresh scan over the
  * survivors — no FP summation-order caveat, the same exactness class
  * as [[NbModelStore]]. A slice whose folded doc count returns to zero
  * leaves the served datasheet entirely, as if never ingested.
  *
  * Layout under `path`: `slices/` — (lang, source, n_docs, n_tokens)
  * signed delta layers, appended per mutation. [[StoreLayers]] owns the
  * writes, the lease, compaction and the lifecycle memo; this object
  * keeps the delta-row law ([[CorpusStats.sliceCounts]]) and the fold
  * law ([[slices]]).
  */
object MixtureStore {

  private val store = StoreLayers("mixture", "slices")

  /** Deterministic per-dataset store location under the JVM temp dir. */
  def defaultPath(datasetDir: String, tag: String): String =
    StorePaths.keyedTmp("mixture", datasetDir, s"_$tag")

  /** Count the base corpus once and persist the per-slice statistics. */
  def build(docs: DataFrame, path: String): Unit =
    store.overwrite(path)("slices" -> CorpusStats.sliceCounts(docs, 1))

  /** Fold a drop's counts in — one pass over the drop, O(|slices|)
    * bytes written, no corpus rescan. Counts are sums, so
    * append ≡ rebuild from the unioned corpus (gate-pinned).
    */
  def append(docs: DataFrame, path: String): Unit =
    store.append(docs.sparkSession, path, "append")(
      Seq("slices" -> CorpusStats.sliceCounts(docs, 1)))

  /** [[append]] for STREAMED maintenance: the drop's count layer is
    * keyed by micro-batch id and written with Overwrite, so a
    * crash-redelivered batch RE-LANDS its own layer instead of
    * double-appending — integer counts double silently under a replay,
    * so idempotence comes from the layout, not a marker guard.
    * `batchId = -1` is the convention for a pre-built base layer.
    */
  def appendBatch(docs: DataFrame, path: String, batchId: Long): Unit =
    store.append(docs.sparkSession, path, "append-batch", Some(batchId))(
      Seq("slices" -> CorpusStats.sliceCounts(docs, 1)))

  /** [[delete]]'s batch-keyed twin for streamed takedown feeds. */
  def deleteBatch(docs: DataFrame, path: String, batchId: Long): Unit =
    store.append(docs.sparkSession, path, "delete-batch", Some(batchId))(
      Seq("slices" -> CorpusStats.sliceCounts(docs, -1)))

  /** Retract documents — the takedown path: append NEGATED counts for
    * the removed docs. Integer group inverse, so the served datasheet
    * is EXACTLY the fresh scan over the survivors. Only docs
    * previously counted into the store may be retracted.
    */
  def delete(docs: DataFrame, path: String): Unit =
    store.append(docs.sparkSession, path, "delete")(
      Seq("slices" -> CorpusStats.sliceCounts(docs, -1)))

  /** The folded per-slice counts; fully-retracted slices (doc count
    * back to zero) leave the datasheet.
    */
  def slices(spark: SparkSession, path: String): DataFrame =
    Tables.read(spark, s"$path/slices")
      .groupBy(col("lang"), col("source"))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"))
      .filter(col("n_docs") > 0)

  /** The served datasheet — [[CorpusStats.mixtureFromSlices]] over the
    * folded counts, so the share law is the fresh-scan one verbatim.
    */
  def served(spark: SparkSession, path: String): DataFrame =
    CorpusStats.mixtureFromSlices(slices(spark, path))

  /** Fold the delta layers into one row per slice
    * ([[StoreLayers.compactFolded]]); after compaction retraction
    * deltas are physically gone — the retention guarantee takedowns
    * need. Zero-count slices stay out of the compacted layer too —
    * byte parity with a store that never saw the retraction.
    */
  def compact(spark: SparkSession, path: String): Unit =
    store.compactFolded(spark, path)(_ => slices(spark, path))

  /** Memoized build-then-append lifecycle for the rollover gate. */
  def ensureRolled(base: DataFrame, drop: DataFrame, path: String): Unit =
    store.once("rolled", path, "deleted") {
      build(base, path)
      append(drop, path)
    }

  /** Memoized build-then-delete lifecycle for the retraction gate. */
  def ensureDeleted(corpus: DataFrame, removed: DataFrame,
      path: String): Unit =
    store.once("deleted", path, "rolled") {
      build(corpus, path)
      delete(removed, path)
    }
}
