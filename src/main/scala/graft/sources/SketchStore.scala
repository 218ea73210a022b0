package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scan-once / serve-many persistence for the KMV distinct-count
  * sketch — the EIGHTH persisted store, and the first whose state is a
  * SEMILATTICE rather than a group: per language the kept state is the
  * k smallest distinct text hashes (plus an additive row count), and
  * folding layers is union-then-keep-k-minima — idempotent,
  * commutative, associative, but with NO inverse. The fold is EXACT,
  * not approximate-on-approximate: every hash in the corpus-wide k-min
  * set is also within its own slice's k minima (at most k−1 hashes are
  * globally smaller), so the union of per-drop sketches contains the
  * global k-min set and the folded sketch is bit-identical to one
  * built over the whole corpus — the gate pins that.
  *
  * At 100 TB the point: the distinct-count dashboard refreshes after a
  * drop by sketching ONLY the drop (bounded O(langs × k) write, map-
  * side-combined k-long buffers in the one exchange) — never a rescan,
  * and unlike `count(DISTINCT)` never a distinct-value-sized shuffle.
  *
  * NO RETRACTION, by design: a lossy sketch cannot subtract (the
  * semilattice has no inverse — removing a hash cannot recover the
  * k+1-th minimum it displaced). [[delete]] throws; takedowns REBUILD
  * from the survivors ([[build]] is the rebuild). This is the honest
  * contrast to the three abelian stores ([[NbModelStore]], [[GramStore]],
  * [[MixtureStore]]): exact-state stores retract in O(|takedown|),
  * sketch stores pay a survivor pass — which is why exact sufficient
  * statistics are preferred wherever they stay bounded.
  *
  * Layout under `path`: `sketch/` — (lang, n_rows, hs ARRAY<BIGINT>,
  * k INT) layers, one row per (mutation, lang). k is persisted in
  * every layer and REQUIRED uniform: readers resolve k from the store
  * ([[storedK]]) rather than trusting a caller's default, because a
  * mismatched k silently re-cuts the sketch and breaks both the
  * `n_kept < k` exact branch and the `(k−1)·2³²/kth` estimator.
  * [[StoreLayers]] owns the writes, the lease, compaction and the
  * lifecycle memo; this object keeps the delta-row law ([[sketchRows]])
  * and the fold law ([[folded]]).
  */
object SketchStore {

  private val store = StoreLayers("kmv", "sketch")

  def defaultPath(datasetDir: String, tag: String): String =
    StorePaths.keyedTmp("kmv", datasetDir, s"_$tag")

  /** One sketch row per language for a doc slice: the slice's k-min
    * hash set (typed-Aggregator fold, ≤ k longs per partition in the
    * exchange) plus its exact row count — and the k the layer was cut
    * at, persisted IN the layer so readers never have to trust a
    * caller-supplied k (a mismatched k would silently re-cut the
    * sketch and break both the `n_kept < k` exact branch and the
    * `(k−1)·2³²/kth` estimator).
    */
  private def sketchRows(docs: DataFrame, k: Int): DataFrame = {
    val kmvh = udaf(new graft.functions.KmvHashesAggregator(k))
    docs.filter(col("text").isNotNull)
      .select(col("lang"),
        graft.functions.TextFunctions.md5Hash32(col("text")).as("h"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_rows"), kmvh(col("h")).as("hs"))
      .withColumn("k", lit(k))
  }

  /** The k this store's layers were built with — persisted per layer,
    * required uniform. Readers resolve k from here; a caller-passed k
    * is VALIDATED against it, never trusted.
    */
  def storedK(spark: SparkSession, path: String): Int = {
    val ks = Tables.read(spark, s"$path/sketch")
      .select(col("k")).distinct().collect().map(_.getInt(0)).sorted
    require(ks.length == 1,
      s"sketch store at $path holds layers with mixed k ${ks.mkString(",")} " +
        "— rebuild the store at one k")
    ks.head
  }

  private def storedKOpt(spark: SparkSession, path: String): Option[Int] = {
    val fs = SwapRecovery.fsOf(spark, path)
    if (fs.exists(new org.apache.hadoop.fs.Path(s"$path/sketch")))
      Some(storedK(spark, path))
    else None
  }

  private def resolveK(spark: SparkSession, path: String, k: Int): Int =
    storedKOpt(spark, path) match {
      case Some(stored) =>
        require(k < 0 || k == stored,
          s"caller asked k=$k but the store at $path was built with k=$stored " +
            "— re-cutting a persisted sketch breaks its estimator; rebuild instead")
        stored
      case None =>
        // first layer of a fresh store (streamed ingest creates via
        // append): the writer's k — or the default — becomes the
        // store's k, persisted in the layer it writes
        if (k < 0) 64 else k
    }

  /** Sketch the base corpus once and persist the state. */
  def build(docs: DataFrame, path: String, k: Int = 64): Unit =
    store.overwrite(path)("sketch" -> sketchRows(docs, k))

  /** Fold a drop in: sketch ONLY the drop, append its layer. The
    * semilattice fold makes append ≡ rebuild over the union
    * (gate-pinned bit-identical). The drop is cut at the STORE's
    * persisted k (a caller-passed k is validated, k < 0 = use stored),
    * resolved inside the lease.
    */
  def append(docs: DataFrame, path: String, k: Int = -1): Unit =
    store.append(docs.sparkSession, path, "append")(Seq(
      "sketch" -> sketchRows(docs, resolveK(docs.sparkSession, path, k))))

  /** [[append]] for STREAMED maintenance: the drop's sketch layer is
    * keyed by micro-batch id and written with Overwrite, so a
    * crash-redelivered batch RE-LANDS its own layer instead of
    * double-appending. The k-min fold is idempotent, so for the hash
    * sets a double append is harmless — but the additive `n_rows`
    * column doubles, which is why the sketch store gets the same
    * layout-level idempotence as the abelian stores.
    * `batchId = -1` is the convention for a pre-built base layer.
    */
  def appendBatch(docs: DataFrame, path: String, batchId: Long,
      k: Int = -1): Unit =
    store.append(docs.sparkSession, path, "append-batch", Some(batchId))(Seq(
      "sketch" -> sketchRows(docs, resolveK(docs.sparkSession, path, k))))

  /** Lossy sketch state has no group inverse — a takedown CANNOT be
    * folded in (removing a hash cannot recover the k+1-th minimum it
    * displaced when the sketch filled). Throws; rebuild from the
    * survivors with [[build]] instead.
    */
  def delete(docs: DataFrame, path: String): Unit =
    throw new UnsupportedOperationException(
      "KMV sketch state is a semilattice (no inverse): takedowns must " +
        s"rebuild from the survivors — call build(survivors, $path)")

  /** The folded per-lang sketch state: union of the layers' kept
    * hashes, re-cut to the store's persisted k minima, plus the summed
    * row counts. All work is (layers × langs × k)-bounded — data-size
    * independent. k < 0 (the default) reads the stored k; an explicit
    * k is validated against it.
    */
  def folded(spark: SparkSession, path: String, k: Int = -1): DataFrame =
    foldedAt(spark, path, resolveK(spark, path, k))

  /** [[folded]] with k ALREADY resolved/validated — the private form
    * the public entry points share so k resolution (a scan of the
    * layers' k column) happens once per call, not once per layer of
    * composition.
    */
  private def foldedAt(spark: SparkSession, path: String,
      kk: Int): DataFrame = {
    val layers = Tables.read(spark, s"$path/sketch")
    val union = layers
      .select(col("lang"), explode(col("hs")).as("h")).distinct()
    val w = Window.partitionBy(col("lang")).orderBy(col("h"))
    val kept = union
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= kk)
    val rows = layers.groupBy(col("lang"))
      .agg(sum(col("n_rows")).as("n_rows"))
    kept.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"), max(col("h")).as("kth_hash"),
        sort_array(collect_list(col("h"))).as("hs"))
      .join(rows, Seq("lang"))
      .withColumn("k", lit(kk))
  }

  /** The served distinct-count dashboard — [[KmvAggregator]]'s finish
    * law over the folded state (n < k ⇒ the count is exact; kth = 0
    * guard mirrored), rounded like the batch oracle. The k in the law
    * is the STORE's k (validated if the caller passes one).
    */
  def served(spark: SparkSession, path: String, k: Int = -1): DataFrame = {
    val kk = resolveK(spark, path, k)
    foldedAt(spark, path, kk)
      .select(col("lang"), col("n_rows"), col("n_kept"), col("kth_hash"),
        round(
          when(col("n_kept") < kk, col("n_kept").cast("double"))
            .when(col("kth_hash") === 0L, col("n_kept").cast("double"))
            .otherwise(lit((kk - 1).toDouble * 4294967296.0) /
              col("kth_hash").cast("double")), 4).as("est_distinct"))
  }

  /** Fold the layers to one row per lang
    * ([[StoreLayers.compactFolded]]). Exact for the sketch: the
    * k-min-of-union IS the semilattice state. The compacted layer keeps
    * the persisted k column.
    */
  def compact(spark: SparkSession, path: String, k: Int = -1): Unit =
    store.compactFolded(spark, path)(_ =>
      folded(spark, path, k)
        .select(col("lang"), col("n_rows"), col("hs"), col("k")))

  /** Memoized build-then-append lifecycle for the rollover gate. */
  def ensureRolled(base: DataFrame, drop: DataFrame, path: String,
      k: Int = 64): Unit =
    store.once("rolled", path) {
      build(base, path, k)
      append(drop, path, k)
    }
}
