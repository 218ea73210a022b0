package graft.sources

import graft.functions.{TextFunctions => TF}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sign-once / query-many persistence for the MinHash near-dup index —
  * the incremental form the batch [[graft.operators.Dedup.minhashNearDups]]
  * lacks: without it, every daily drop re-shingles and re-signs the
  * WHOLE corpus to find its near-dups. With it, the corpus pays the
  * signature pass once; each new drop signs only itself and joins the
  * stored band table ([[graft.operators.Dedup.minhashNearDupsDelta]]).
  *
  * Layout under `path`:
  *
  *  - `bands/` — (doc_id, s0..s{r-1}) parquet PARTITIONED BY band: one
  *    row per (doc, band) holding that band's signature tuple as plain
  *    long columns. ~48 bytes × bands per document regardless of text
  *    length — at 100 TB of text the index is ~0.4% of the corpus, and
  *    the per-band subtrees let a constrained replay process the join
  *    band-by-band (8 independent joins) to bound peak shuffle.
  *
  * Determinism: signatures are the same md5-affine family the in-plan
  * side uses ([[TF.minhashSigFromHashes]], seeded parameters, no stored
  * model), so a rebuilt index is byte-identical and the delta query
  * keeps a full value-level oracle: the oracle re-signs the corpus in
  * SQL and lands on the stored band contents.
  *
  * [[ensure]] builds at most once per JVM per path (same memo contract
  * as [[IvfIndexStore.ensure]]): the build runs inside the map's
  * per-key lock, a concurrent caller blocks until the index is fully
  * on disk, a failed build leaves no entry so the next caller retries.
  */
object MinhashIndexStore {

  /** Family parameters — shared by the index build, the delta side, and
    * the oracle replay (same values as the batch `dedup_minhash` gate).
    */
  val NumHashes: Int = 32
  val Bands: Int = 8
  val Rows: Int = NumHashes / Bands

  /** The single `bands/` layer, keyed by `doc_id` (see [[TombstonedLayers]]). */
  private val index = TombstonedLayers("minhash", "doc_id",
    StoreLayers.partitioned("bands", "band", "int"))

  /** Deterministic per-dataset index location under the JVM temp dir. */
  def defaultPath(datasetDir: String): String =
    StorePaths.keyedTmp("minhash", datasetDir, s"_k${NumHashes}_b$Bands")

  /** Columns that form the LSH bucket key: the band index plus the
    * band's `Rows` signature values — exact tuple equality, no hashed
    * band key (collision-free and replayable by value).
    */
  val BandKeyCols: Seq[String] = "band" +: (0 until Rows).map("s" + _)

  /** Flattened band rows for any (doc_id, text) frame: one row per
    * (doc, band) with the band's signature tuple as plain columns —
    * the join-ready layout shared by the stored corpus side and the
    * in-plan delta side. Zero shuffle: shingle → md5 → k affine mins →
    * band explode are all per-row projections.
    */
  def bandRows(docs: DataFrame): DataFrame = {
    val sigs = docs
      .select(col("doc_id"), TF.words(col("text")).as("w"))
      .select(col("doc_id"),
        TF.minhashSigWords(col("w"), 3, NumHashes).as("sig"))
    sigs
      .select(col("doc_id"),
        explode(TF.bandTuples(col("sig"), Bands, Rows)).as("bk"))
      .select(col("doc_id") +: col("bk.band").as("band") +:
        (0 until Rows).map(r => col(s"bk.s$r")): _*)
  }

  /** Sign the corpus once and persist the band table. */
  def build(corpus: DataFrame, path: String): Unit =
    index.overwrite(path)("bands" -> bandRows(corpus))

  /** [[build]] at most once per JVM per path. The memo key carries the
    * lifecycle ([[ensure]] vs [[ensureRolled]]) so the two can never
    * silently satisfy each other's contract on a shared path — mixing
    * lifecycles on one path is a caller error and now throws.
    */
  def ensure(corpus: DataFrame, path: String): Unit =
    index.once("plain", path, "rolled")(build(corpus, path))

  /** The stored band table; the partition column comes back as the
    * directory value, cast to the written int type. Retracted docs
    * ([[delete]]) are masked by a broadcast anti-join on the tombstone
    * list — the serve plan never sees their band rows, without
    * rewriting a single index file.
    */
  def bandsTable(spark: SparkSession, path: String): DataFrame =
    index.table(spark, path)

  /** [[bandsTable]] minus one batch layer — what a streamed maintainer
    * serves its OWN micro-batch against (the recompute-identity read,
    * see [[TombstonedLayers.table]]): batch ids are checkpoint-unique,
    * the base layer is `batch=-1`, stream ids are >= 0.
    */
  def bandsTableExcluding(spark: SparkSession, path: String,
      batchId: Long): DataFrame =
    index.table(spark, path, excluding = Some(batchId))

  /** Retract documents from the index — takedowns / right-to-be-
    * forgotten: the doc ids append to `tombstones/` and [[bandsTable]]
    * masks them on read. Run [[compact]] to purge physically, then
    * [[expireTombstones]] (keyed stores, once the redelivery horizon
    * passes) to shrink the mask itself.
    */
  def delete(docIds: DataFrame, path: String): Unit =
    index.delete(docIds, path)

  /** Fold outstanding tombstones into `bands/` ([[TombstonedLayers.compact]]):
    * a flat store then serves with zero masking; a batch-keyed store
    * keeps its batch values and its mask (the redelivery guard).
    */
  def compact(spark: SparkSession, path: String): Unit =
    index.compact(spark, path)

  /** Release the redelivery guard for purged takedowns
    * ([[TombstonedLayers.expire]]; same caller contract).
    */
  def expireTombstones(spark: SparkSession, path: String): Unit =
    index.expire(spark, path)

  /** Memoized build-then-delete lifecycle for the retraction gate: the
    * first caller per JVM per path indexes the full corpus and then
    * retracts `removed` via [[delete]]; later callers serve from the
    * masked index.
    */
  def ensureDeleted(corpus: DataFrame, removed: DataFrame,
      path: String): Unit =
    index.ensureDeleted(removed, path)(build(corpus, path))

  /** Fold a vetted drop INTO the stored index: append its band rows to
    * the same partitioned layout, so tomorrow's drop near-dups against
    * today's. Signatures are deterministic and per-doc independent, so
    * append ≡ rebuild from the unioned corpus (spec-pinned) — the
    * index never needs a full re-sign, which is the whole point of the
    * incremental tier. Runs under the store's single-writer
    * [[IndexLease]], so an append can never interleave with
    * [[compact]]'s snapshot-rewrite-swap and lose its rows; racing
    * appends against each other serialize on the same lease.
    */
  def append(delta: DataFrame, path: String): Unit =
    index.append(delta.sparkSession, path, "append")(
      Seq("bands" -> bandRows(delta)))

  /** [[append]] for STREAMED maintenance: the drop's band rows land
    * under `bands/batch=<id>/band=<n>` with Overwrite, so a
    * crash-redelivered batch RE-LANDS its own layer instead of
    * double-appending duplicate band rows (which would duplicate every
    * candidate pair the drop participates in). Per-band partition
    * pruning still works — discovery exposes both `batch` and `band`.
    * `batchId = -1` is the convention for the pre-built base layer
    * ([[buildKeyed]]); [[compact]] preserves the keying WITH batch
    * values intact and retains the tombstone mask, so a stream can
    * keep folding batch layers after a compaction AND a
    * crash-redelivered pre-compact batch stays idempotent (it
    * re-lands its own layer; the retained mask keeps retracted docs
    * from resurfacing).
    */
  def appendBatch(delta: DataFrame, path: String, batchId: Long): Unit =
    appendBatchRows(bandRows(delta), path, batchId)

  /** [[appendBatch]] with the drop's band rows PREBUILT — the streamed
    * keep-best folds the same pinned signature frame its edge feed
    * already computed, instead of re-running the signature kernel over
    * the drop a second time per micro-batch. `rows` must be in the
    * [[bandRows]] layout.
    */
  def appendBatchRows(rows: DataFrame, path: String, batchId: Long): Unit =
    index.append(rows.sparkSession, path, "append-batch", Some(batchId))(
      Seq("bands" -> rows))

  /** [[build]] in the batch-keyed layout (base layer at `batch=-1`) —
    * the starting point for a store that will be maintained by a
    * stream of [[appendBatch]] folds.
    */
  def buildKeyed(corpus: DataFrame, path: String): Unit =
    appendBatch(corpus, path, -1L)

  /** Memoized build-then-append lifecycle for the rollover gate: the
    * first caller per JVM per path indexes the base corpus and folds
    * drop 1 in via [[append]]; later callers serve from the rolled
    * index.
    */
  def ensureRolled(corpus: DataFrame, firstDrop: DataFrame,
      path: String): Unit = {
    index.once("rolled", path, "plain") {
      build(corpus, path)
      append(firstDrop, path)
    }
  }
}
