package graft.sources

import graft.operators.CorpusStats
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
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
  * signed delta layers, appended per mutation. Mutations run under the
  * single-writer [[IndexLease]]; [[compact]] folds the layers to one
  * row per slice via the checked rename-swap ([[SwapRecovery]] repairs
  * stranded crash layouts at entry).
  */
object MixtureStore {

  private val built =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  /** Deterministic per-dataset store location under the JVM temp dir. */
  def defaultPath(datasetDir: String, tag: String): String =
    StorePaths.keyedTmp("mixture", datasetDir, s"_$tag")

  /** Count the base corpus once and persist the per-slice statistics. */
  def build(docs: DataFrame, path: String): Unit =
    CorpusStats.sliceCounts(docs, 1)
      .write.mode(SaveMode.Overwrite).parquet(s"$path/slices")

  /** Fold a drop's counts in — one pass over the drop, O(|slices|)
    * bytes written, no corpus rescan. Counts are sums, so
    * append ≡ rebuild from the unioned corpus (gate-pinned).
    */
  def append(docs: DataFrame, path: String): Unit =
    IndexLease.withLease(docs.sparkSession, path, "mixture-append") {
      StoreLayout.assertWritable(docs.sparkSession, path, "slices",
        keyed = false)
      CorpusStats.sliceCounts(docs, 1)
        .write.mode(SaveMode.Append).parquet(s"$path/slices")
    }

  private def foldBatch(docs: DataFrame, path: String, batchId: Long,
      sign: Int, who: String): Unit =
    IndexLease.withLease(docs.sparkSession, path, who) {
      StoreLayout.assertWritable(docs.sparkSession, path, "slices",
        keyed = true)
      CorpusStats.sliceCounts(docs, sign)
        .write.mode(SaveMode.Overwrite)
        .parquet(StoreLayout.batchDir(path, "slices", batchId))
    }

  /** [[append]] for STREAMED maintenance: the drop's count layer is
    * keyed by micro-batch id and written with Overwrite, so a
    * crash-redelivered batch RE-LANDS its own layer instead of
    * double-appending — integer counts double silently under a replay,
    * so idempotence comes from the layout, not a marker guard.
    * `batchId = -1` is the convention for a pre-built base layer.
    */
  def appendBatch(docs: DataFrame, path: String, batchId: Long): Unit =
    foldBatch(docs, path, batchId, 1, "mixture-append-batch")

  /** [[delete]]'s batch-keyed twin for streamed takedown feeds. */
  def deleteBatch(docs: DataFrame, path: String, batchId: Long): Unit =
    foldBatch(docs, path, batchId, -1, "mixture-delete-batch")

  /** Retract documents — the takedown path: append NEGATED counts for
    * the removed docs. Integer group inverse, so the served datasheet
    * is EXACTLY the fresh scan over the survivors. Only docs
    * previously counted into the store may be retracted.
    */
  def delete(docs: DataFrame, path: String): Unit =
    IndexLease.withLease(docs.sparkSession, path, "mixture-delete") {
      StoreLayout.assertWritable(docs.sparkSession, path, "slices",
        keyed = false)
      CorpusStats.sliceCounts(docs, -1)
        .write.mode(SaveMode.Append).parquet(s"$path/slices")
    }

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

  /** Fold the delta layers into one row per slice via the checked
    * rename-swap; after compaction retraction deltas are physically
    * gone — the retention guarantee takedowns need.
    */
  def compact(spark: SparkSession, path: String): Unit =
    IndexLease.withLease(spark, path, "mixture-compact") {
      // keep zero-count slices out of the compacted layer too — byte
      // parity with a store that never saw the retraction
      SwapRecovery.compactSwap(spark, path, "slices")(slices(spark, path))
    }

  /** Memoized build-then-append lifecycle for the rollover gate. */
  def ensureRolled(base: DataFrame, drop: DataFrame, path: String): Unit = {
    require(!built.containsKey(s"deleted:$path"),
      s"$path was built by ensureDeleted; use a distinct path per lifecycle")
    built.computeIfAbsent(s"rolled:$path", _ => {
      build(base, path)
      append(drop, path)
      java.lang.Boolean.TRUE
    })
    ()
  }

  /** Memoized build-then-delete lifecycle for the retraction gate. */
  def ensureDeleted(corpus: DataFrame, removed: DataFrame,
      path: String): Unit = {
    require(!built.containsKey(s"rolled:$path"),
      s"$path was built by ensureRolled; use a distinct path per lifecycle")
    built.computeIfAbsent(s"deleted:$path", _ => {
      build(corpus, path)
      delete(removed, path)
      java.lang.Boolean.TRUE
    })
    ()
  }
}
