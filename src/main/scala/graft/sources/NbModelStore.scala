package graft.sources

import graft.operators.Classifier
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Train-once / serve-many persistence for the Naive Bayes quality
  * classifier — the LEARNED-MODEL member of the index-lifecycle family
  * (MinHash bands, embedding signatures, IVF/PQ cells, frame
  * signatures): without it, every corpus drop re-tokenizes and
  * re-counts the WHOLE corpus to refresh the filter model; with it, the
  * corpus pays the counting pass once and each drop folds in only its
  * own token counts.
  *
  * What makes this store different from the four index stores: the
  * persisted state is the model's SUFFICIENT STATISTICS — per-token
  * class counts plus per-class doc counts — and counts form an abelian
  * group. Append is a positive count delta; retraction
  * (takedown / right-to-be-forgotten) is an EXACT subtraction delta,
  * not a tombstone mask: the served model after `delete` is
  * bit-identical to a fresh train over the surviving corpus
  * (gate-pinned), and no masking join survives on the serve path.
  *
  * Layout under `path`:
  *  - `counts/`    — (token, cnt_pos, cnt_neg) signed delta layers,
  *                   appended per mutation; serve folds them with one
  *                   token-grain SUM. O(|drop vocabulary|) per write.
  *  - `doccounts/` — (n_pos, n_neg) signed 1-row delta layers for the
  *                   prior odds.
  *
  * Serve reads are lock-free; [[StoreLayers]] owns the writes, the
  * lease, compaction and the lifecycle memo, and this object keeps the
  * delta-row law ([[deltas]]) and the fold law ([[counts]], [[prior]]).
  * A token whose folded total returns to zero leaves the served
  * vocabulary entirely — exactly as if it had never been counted.
  */
object NbModelStore {

  private val store = StoreLayers("nbmodel", "counts", "doccounts")

  /** Deterministic per-dataset store location under the JVM temp dir. */
  def defaultPath(datasetDir: String, tag: String): String =
    StorePaths.keyedTmp("nbmodel", datasetDir, s"_$tag")

  private def docCountRows(labels: DataFrame, sign: Int): DataFrame =
    labels.agg(
      sum(when(col("label"), sign.toLong).otherwise(0L)).as("n_pos"),
      sum(when(col("label"), 0L).otherwise(sign.toLong)).as("n_neg"))

  /** One signed delta per layer: token class counts and doc counts. */
  private def deltas(docs: DataFrame, labels: DataFrame,
      sign: Int): Seq[(String, DataFrame)] =
    Seq("counts" -> Classifier.tokenClassCounts(docs, labels, sign),
      "doccounts" -> docCountRows(labels, sign))

  /** Count the base corpus once and persist the statistics. */
  def build(docs: DataFrame, labels: DataFrame, path: String): Unit =
    store.overwrite(path)(deltas(docs, labels, 1): _*)

  /** Fold a labeled drop INTO the stored statistics: append its count
    * deltas. Counts are sums, so append ≡ rebuild from the unioned
    * corpus (gate-pinned). Runs under the single-writer lease so it
    * cannot interleave with [[compact]]'s snapshot-rewrite-swap.
    */
  def append(docs: DataFrame, labels: DataFrame, path: String): Unit =
    store.append(docs.sparkSession, path, "append")(deltas(docs, labels, 1))

  /** [[append]] for STREAMED maintenance: both count layers are keyed
    * by micro-batch id and written with Overwrite, so a
    * crash-redelivered batch RE-LANDS its own layers instead of
    * double-appending (abelian counts double silently under a replay —
    * the layout carries the idempotence a marker guard can't).
    * `batchId = -1` is the convention for a pre-built base layer.
    */
  def appendBatch(docs: DataFrame, labels: DataFrame, path: String,
      batchId: Long): Unit =
    store.append(docs.sparkSession, path, "append-batch", Some(batchId))(
      deltas(docs, labels, 1))

  /** [[delete]]'s batch-keyed twin for streamed takedown feeds. */
  def deleteBatch(docs: DataFrame, labels: DataFrame, path: String,
      batchId: Long): Unit =
    store.append(docs.sparkSession, path, "delete-batch", Some(batchId))(
      deltas(docs, labels, -1))

  /** Retract documents from the model — the takedown path. Appends
    * NEGATIVE count deltas for the retracted docs' tokens
    * (O(|retraction vocabulary|), never a store rewrite); the abelian
    * fold makes the served model exactly the fresh-train model over the
    * survivors. Only docs previously counted into the store may be
    * retracted (the group inverse of something never added is
    * meaningless). A flat delta into a batch-keyed store is refused
    * before it lands: partition discovery would drop it silently.
    */
  def delete(docs: DataFrame, labels: DataFrame, path: String): Unit =
    store.append(docs.sparkSession, path, "delete")(deltas(docs, labels, -1))

  /** The folded (token, cnt_pos, cnt_neg) statistics; zero-total tokens
    * (fully retracted) leave the vocabulary.
    */
  def counts(spark: SparkSession, path: String): DataFrame =
    Tables.read(spark, s"$path/counts")
      .groupBy(col("token")).agg(
        sum(col("cnt_pos")).as("cnt_pos"),
        sum(col("cnt_neg")).as("cnt_neg"))
      .filter(col("cnt_pos") + col("cnt_neg") > 0)

  /** The served model — [[Classifier.modelFromCounts]] over the folded
    * statistics, so the weights law is the shared one by construction.
    */
  def model(spark: SparkSession, path: String,
      vocabSize: Int = 256): DataFrame =
    Classifier.modelFromCounts(counts(spark, path), vocabSize)

  /** The served prior-odds 1-row frame (column `prior_e4`), matching
    * [[Classifier.nbPrior]]'s law over the folded doc counts.
    */
  def prior(spark: SparkSession, path: String): DataFrame =
    Tables.read(spark, s"$path/doccounts")
      .agg(round(log(
        sum(col("n_pos")).cast("double") / sum(col("n_neg"))) * lit(10000.0))
        .cast("bigint").as("prior_e4"))

  /** Fold the delta layers into one: rewrite `counts/` and `doccounts/`
    * as their folded sums ([[StoreLayers.compactFolded]]). After
    * compaction the serve-side SUM sees a single layer and retraction
    * deltas are physically gone — the retention guarantee takedowns
    * need. Zero-total tokens stay out of the compacted counts layer
    * too — byte parity with a store that never saw the retraction.
    */
  def compact(spark: SparkSession, path: String): Unit =
    store.compactFolded(spark, path) {
      case "counts" => counts(spark, path)
      case "doccounts" =>
        Tables.read(spark, s"$path/doccounts")
          .agg(sum(col("n_pos")).as("n_pos"), sum(col("n_neg")).as("n_neg"))
    }

  /** Memoized build-then-append lifecycle for the rollover gate. */
  def ensureRolled(base: DataFrame, baseLabels: DataFrame, drop: DataFrame,
      dropLabels: DataFrame, path: String): Unit =
    store.once("rolled", path, "deleted") {
      build(base, baseLabels, path)
      append(drop, dropLabels, path)
    }

  /** Memoized build-then-delete lifecycle for the retraction gate. */
  def ensureDeleted(corpus: DataFrame, labels: DataFrame, removed: DataFrame,
      removedLabels: DataFrame, path: String): Unit =
    store.once("deleted", path, "rolled") {
      build(corpus, labels, path)
      delete(removed, removedLabels, path)
    }
}
