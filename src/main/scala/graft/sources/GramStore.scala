package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scan-once / serve-many persistence for the PCA sufficient
  * statistics — the SIXTH persisted store, and the second whose state
  * is an abelian group (with [[NbModelStore]]): a corpus drop
  * contributes `(n, Σx, Σxxᵀ)` raw moments, appends are positive
  * deltas, takedowns append NEGATED moments, and the serve path folds
  * the layers by plain summation. The centered Gram the power
  * iteration needs comes from the moment identity
  * `G = S − μ sᵀ − s μᵀ + n μ μᵀ` — so the corpus is NEVER re-scanned
  * to refresh a principal component after a drop lands or a takedown
  * retracts one.
  *
  * Retraction caveat vs the integer-count store: moments are DOUBLES,
  * so fold-after-retract equals the survivors' fresh scan only to FP
  * summation order (~1e-12 relative) — which the operator's 6-dp Gram
  * rounding absorbs (the same tolerance class as the cross-engine
  * oracle itself, SURVEY §5). Layout under `path`: `moments/` — one
  * row per delta write: (n BIGINT, s ARRAY<DOUBLE> d, ss ARRAY<DOUBLE>
  * d² row-major). [[StoreLayers]] owns the writes, the lease, compaction
  * and the lifecycle memo; this object keeps the delta-row law
  * ([[momentRows]]) and the fold law ([[moments]]).
  */
object GramStore {

  private val store = StoreLayers("gram", "moments")

  def defaultPath(datasetDir: String, tag: String): String =
    StorePaths.keyedTmp("gram", datasetDir, s"_$tag")

  /** One (n, s, ss) moment row for an embedding slice — a single
    * corpus-sized pass, literally one job: the
    * [[graft.functions.MomentsAggregator]] folds the count, Σx, and the
    * raw outer-product Σxxᵀ in one buffer (d + d² + 1 doubles per
    * partition in the exchange) and discovers d from the data itself —
    * no driver-side `limit(1)` dimension probe, no second Σx pass.
    * `sign` = -1 emits the retraction delta.
    */
  private def momentRows(emb: DataFrame, sign: Int, vecCol: String): DataFrame = {
    val pts = emb.filter(col(vecCol).isNotNull)
      .select(graft.functions.VectorFunctions.asDouble(col(vecCol)).as("x"))
    val magg = udaf(new graft.functions.MomentsAggregator())
    pts.agg(magg(col("x")).as("m"))
      .select(
        (col("m.n") * sign).as("n"),
        transform(col("m.s"), v => v * sign).as("s"),
        transform(col("m.ss"), v => v * sign).as("ss"))
      // an empty (or all-null-vector) slice contributes the group
      // IDENTITY — write no layer at all, instead of a malformed row
      // whose s=[] disagrees with ss in dimension and corrupts folds
      .filter(col("n") =!= 0L)
  }

  def build(emb: DataFrame, path: String,
      vecCol: String = "embedding"): Unit =
    store.overwrite(path)("moments" -> momentRows(emb, 1, vecCol))

  /** Fold a drop's moments in — O(d²) bytes per write, no rescan. */
  def append(emb: DataFrame, path: String,
      vecCol: String = "embedding"): Unit =
    store.append(emb.sparkSession, path, "append")(
      Seq("moments" -> momentRows(emb, 1, vecCol)))

  /** Retract vectors — append NEGATED moments for the removed slice. */
  def delete(emb: DataFrame, path: String,
      vecCol: String = "embedding"): Unit =
    store.append(emb.sparkSession, path, "delete")(
      Seq("moments" -> momentRows(emb, -1, vecCol)))

  /** [[append]] for STREAMED maintenance: the drop's moment layer is
    * keyed by micro-batch id and written with Overwrite, so a
    * crash-redelivered batch RE-LANDS its own layer instead of
    * double-appending — for abelian FP moments a double fold silently
    * corrupts every downstream component, which is why the streamed
    * path gets layout-level idempotence rather than a marker-file
    * guard (whose append→marker window re-appends on replay).
    * `batchId = -1` is the convention for a pre-built base layer.
    */
  def appendBatch(emb: DataFrame, path: String, batchId: Long,
      vecCol: String = "embedding"): Unit =
    store.append(emb.sparkSession, path, "append-batch", Some(batchId))(
      Seq("moments" -> momentRows(emb, 1, vecCol)))

  /** [[delete]]'s batch-keyed twin for streamed takedown feeds. */
  def deleteBatch(emb: DataFrame, path: String, batchId: Long,
      vecCol: String = "embedding"): Unit =
    store.append(emb.sparkSession, path, "delete-batch", Some(batchId))(
      Seq("moments" -> momentRows(emb, -1, vecCol)))

  /** The folded statistics, driver-pinned: layers are one row each
    * (bounded by mutation count; [[compact]] returns it to one), and
    * the payload is d + d² doubles — data-size independent.
    */
  def moments(spark: SparkSession, path: String): (Long, Array[Double], Array[Double]) = {
    val rows = Tables.read(spark, s"$path/moments")
      .select(col("n"), col("s"), col("ss")).collect()
    require(rows.nonEmpty, s"empty gram store at $path")
    val d = rows.head.getSeq[Double](1).length
    val n = rows.map(_.getLong(0)).sum
    val s = new Array[Double](d)
    val ss = new Array[Double](d * d)
    rows.foreach { r =>
      val rs = r.getSeq[Double](1); val rss = r.getSeq[Double](2)
      var i = 0
      while (i < d) { s(i) += rs(i); i += 1 }
      i = 0
      while (i < d * d) { ss(i) += rss(i); i += 1 }
    }
    (n, s, ss)
  }

  /** Fold the delta layers into one row
    * ([[StoreLayers.compactFolded]]).
    */
  def compact(spark: SparkSession, path: String): Unit =
    store.compactFolded(spark, path) { _ =>
      val (n, s, ss) = moments(spark, path)
      import spark.implicits._
      Seq((n, s.toSeq, ss.toSeq)).toDF("n", "s", "ss")
    }

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
