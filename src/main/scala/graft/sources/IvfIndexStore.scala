package graft.sources

import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Train-once / serve-many persistence for the IVF ANN index — the
  * production shape [[graft.operators.Similarity.ivfTrainedTopK]]
  * lacks (it retrains its k-means inside every query).
  *
  * Layout under `path`:
  *
  *  - `centroids/` — (cell, cvec: array<double>) parquet, one row per
  *    trained cell, 6-dp rounded (the same construction as the
  *    in-query coarse quantizer, so a replay that retrains arrives at
  *    byte-identical centroids).
  *  - `cells/` — (vec_id, embedding) parquet PARTITIONED BY cell: the
  *    inverted lists ARE a cell-partitioned copy of the corpus. A
  *    serve-time probe touches `nprobe` cells, so the scan prunes to
  *    nprobe/cells of the data by layout alone (dynamic partition
  *    pruning at cluster scale — the partition filter comes from the
  *    probed-cells join).
  *
  * Determinism: training is [[Similarity.kmeansAssign]] (lowest-id
  * seeds, per-round rounding), so rebuilding from the same corpus
  * reproduces the stored tables exactly — which is what lets a served
  * query keep a full value-level oracle: the oracle retrains in SQL
  * and lands on the same index contents.
  *
  * [[ensure]] builds at most once per JVM per path (a concurrent map
  * guards re-entry): the first caller trains and persists, every
  * later caller — including later bench reps and other queries in the
  * same session — pays only the serve-time probe. On-disk leftovers
  * from an EARLIER process are rebuilt over, never trusted.
  */
object IvfIndexStore {

  /** The cell lists and their PQ codes, keyed by `vec_id` (see
    * [[TombstonedLayers]]); a batch-keyed store has `cells/` only.
    */
  private val index = TombstonedLayers("ivf", "vec_id",
    StoreLayers.partitioned("cells", "cell", "long"),
    StoreLayers.partitioned("codes", "cell", "long"))

  /** Deterministic per-(dataset, params) index location under the JVM
    * temp dir.
    */
  def defaultPath(datasetDir: String, cells: Int = 8, iters: Int = 3): String =
    StorePaths.keyedTmp("ivf", datasetDir, s"_c${cells}_i$iters")

  /** Train the coarse quantizer and persist (centroids, cell lists) —
    * plus the PQ layer: `grid/` (the per-dimension int8 min/max law)
    * and `codes/` (cell-partitioned int8 codes, the memory-bounded
    * representation [[servedPqTopK]] scans instead of full vectors —
    * d bytes per vector instead of 4d).
    */
  def build(emb: DataFrame, path: String, cells: Int = 8,
      iters: Int = 3): Unit = {
    val labeled = trained(emb, cells, iters)
    index.overwrite(path)("cells" -> labeled)
    Similarity.cellCentroids(labeled, "cell")
      .write.mode(SaveMode.Overwrite).parquet(s"$path/centroids")
    val stats = labeled
      .select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(min(col("x")).cast("double").as("mn"),
        max(col("x")).cast("double").as("mx"))
    stats.write.mode(SaveMode.Overwrite).parquet(s"$path/grid")
    index.overwrite(path)("codes" -> codeRows(labeled, stats))
  }

  /** (vec_id, embedding, cell): the corpus labeled by a fresh Lloyd
    * training of the coarse quantizer.
    */
  private def trained(emb: DataFrame, cells: Int, iters: Int): DataFrame =
    emb.join(Similarity.kmeansAssign(emb, cells, iters)
        .select(col("vec_id"), col("cluster").as("cell")), Seq("vec_id"))
      .select(col("vec_id"), col("embedding"), col("cell"))

  /** Encode against the grid: the rows of the int8 `codes/` layer. The
    * clamp to [0, 255] is a no-op for the build (the grid IS the
    * corpus min/max) and the honest int8 bound for appended vectors
    * that fall outside the frozen grid's range.
    */
  private def codeRows(labeled: DataFrame, stats: DataFrame): DataFrame = {
    val gridRow = spark_grid(stats)
    val code = zip_with(col("embedding"), col("ms"), (x, m) => {
      val step = (m.getField("mx") - m.getField("mn")) / 255d
      when(m.getField("mx") === m.getField("mn"), lit(0))
        .otherwise(greatest(lit(0), least(lit(255),
          floor((x.cast("double") - m.getField("mn")) / step + 0.5d)
            .cast("int"))))
    })
    labeled.crossJoin(broadcast(gridRow))
      .select(col("vec_id"), col("cell"), code.as("codes"))
  }

  /** Nearest STORED centroid per row — the append-time coarse
    * assignment. Same math as a [[Similarity.kmeansAssign]] assignment
    * round (4-dp-rounded squared distance, argmin with ties on cell
    * asc), but run against the index's persisted `centroids/` instead
    * of a retrain: appending must never move the quantizer.
    */
  private def assignStored(rows: DataFrame, cents: DataFrame): DataFrame = {
    import graft.functions.{VectorFunctions => VF}
    rows.filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding"),
        VF.asDouble(col("embedding")).as("x"),
        VF.dot(col("embedding"), col("embedding")).as("xx"))
      .crossJoin(broadcast(
        cents.withColumn("cc", VF.dot(col("cvec"), col("cvec")))))
      .select(col("vec_id"), col("embedding"),
        round(col("xx") - lit(2.0) * VF.dot(col("x"), col("cvec"))
          + col("cc"), 4).as("d2"),
        col("cell"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d2"), col("cell"), col("embedding"))).as("m"))
      .select(col("vec_id"), col("m.embedding").as("embedding"),
        col("m.cell").as("cell"))
  }

  /** Frozen-quantizer cell assignment for a delta — [[append]]'s
    * assignment law WITHOUT the fold (read-only): each row lands in
    * its nearest STORED centroid's cell (4dp-rounded d2 argmin, ties
    * to the lowest cell id). What an incremental consumer
    * ([[graft.operators.Dedup.semanticNearDupsDelta]]) uses to route a
    * drop against the stored cell lists before deciding anything.
    */
  def assignCells(spark: SparkSession, rows: DataFrame,
      path: String): DataFrame =
    assignStored(rows, centroidsTable(spark, path))
      .select(col("vec_id"), col("cell"))

  /** Fold a new drop INTO the stored index without retraining: each
    * delta vector is assigned to its nearest STORED centroid
    * ([[assignStored]] — the quantizer and the int8 grid stay FROZEN
    * at their build-time values, the production semantics of an index
    * append), then lands in the same cell-partitioned `cells/` and
    * `codes/` layouts. Centroids/grid are never rewritten, so a serve
    * after an append reads the identical quantizer — spec-pinned,
    * plus a tamper test proving the stored centroids (not a retrain)
    * drive the assignment. Periodic RE-TRAINS (when drift degrades
    * recall) are a fresh [[build]]; the recall eval loop
    * (`knn_recall`) is the drift detector. Refused on a batch-keyed
    * store (the layouts must not mix).
    */
  def append(spark: SparkSession, delta: DataFrame, path: String): Unit =
    index.append(spark, path, "append") {
      val labeled = assignStored(delta, centroidsTable(spark, path))
        .select(col("vec_id"), col("embedding"), col("cell"))
      Seq("cells" -> labeled,
        "codes" -> codeRows(labeled, Tables.read(spark, s"$path/grid")))
    }

  /** Memoized build-then-append lifecycle for the rollover gate: train
    * on the base corpus once per JVM per path, fold the drop in via
    * [[append]]; later callers serve from the rolled index.
    */
  def ensureRolled(spark: SparkSession, base: DataFrame, delta: DataFrame,
      path: String, cells: Int = 8, iters: Int = 3): Unit = {
    index.once("rolled", path, "plain") {
      build(base, path, cells, iters)
      append(spark, delta, path)
    }
  }

  /** The retrain LOOP closed as an action: roll the index (build on
    * the base, frozen-quantizer [[append]] of the drop), MEASURE its
    * recall@5 against brute force over the union, and when the rolled
    * recall sits below `threshold`, rebuild the quantizer over the
    * whole union — the "periodic retrain when recall degrades" the
    * append contract promises. The decision (measured drift + whether
    * the trigger fired) persists beside the indexes, so the serve path
    * ([[servedAfterRetrain]]) is a pure read of stored state.
    *
    * The recall probe is a driver-side action by design: in
    * production the number comes off the eval dashboard
    * (`knn_ivf_append_recall`); here the loop runs it inline, bounded
    * by the probe subset (8 query vectors × k).
    */
  def ensureRetrained(spark: SparkSession, base: DataFrame,
      delta: DataFrame, path: String, threshold: Double = 0.95,
      cells: Int = 8, iters: Int = 3): Unit = {
    index.once("retrain", path) {
      import org.apache.spark.sql.functions.{avg, col}
      build(base, s"$path/rolled", cells, iters)
      append(spark, delta, s"$path/rolled")
      val union = base.unionByName(delta)
      val probes = union.filter(col("vec_id") < 8)
      val rolledRecall = Similarity.recallOf(
          Similarity.bruteForceTopK(union, col("vec_id") < 8),
          servedTopK(spark, s"$path/rolled", probes), 5)
        .agg(avg(col("recall_at_5"))).head().getDouble(0)
      val retrain = rolledRecall < threshold
      if (retrain) build(union, s"$path/full", cells, iters)
      val out = SwapRecovery.fsOf(spark, path).create(
        new org.apache.hadoop.fs.Path(s"$path/decision.json"), true)
      out.write(
        s"""{"rolled_recall":$rolledRecall,"threshold":$threshold,"retrained":$retrain}"""
          .getBytes("UTF-8"))
      out.close()
    }
  }

  /** The persisted retrain decision: (measured rolled recall, fired). */
  def retrainDecision(spark: SparkSession, path: String): (Double, Boolean) = {
    val in = SwapRecovery.fsOf(spark, path)
      .open(new org.apache.hadoop.fs.Path(s"$path/decision.json"))
    val txt = scala.io.Source.fromInputStream(in).mkString
    in.close()
    val recall = """"rolled_recall":([0-9.eE+-]+)""".r
      .findFirstMatchIn(txt).get.group(1).toDouble
    (recall, txt.contains(""""retrained":true"""))
  }

  /** Serve from whichever index the retrain decision picked. */
  def servedAfterRetrain(spark: SparkSession, path: String,
      probeRows: DataFrame, k: Int = 5, nprobe: Int = 2): DataFrame = {
    val sub = if (retrainDecision(spark, path)._2) "full" else "rolled"
    servedTopK(spark, s"$path/$sub", probeRows, k, nprobe)
  }

  /** One-row (pos, mn, mx)-struct-list frame from the grid stats —
    * broadcast beside every row that quantizes or dequantizes.
    */
  private def spark_grid(stats: DataFrame): DataFrame =
    stats.agg(sort_array(collect_list(
      struct(col("pos"), col("mn"), col("mx")))).as("ms"))

  /** [[build]] at most once per JVM per path. `computeIfAbsent` is the
    * memo: the first caller runs the build INSIDE the map's per-key
    * lock, so a concurrent second caller blocks until the index is
    * fully on disk rather than serving a half-written one. A build
    * that throws leaves no entry behind, so the next caller retries.
    */
  def ensure(emb: DataFrame, path: String, cells: Int = 8,
      iters: Int = 3): Unit =
    // lifecycle-qualified memo key: ensure and ensureRolled can never
    // silently satisfy each other's contract on a shared path
    index.once("plain", path, "rolled")(build(emb, path, cells, iters))

  /** The stored inverted lists; the partition column comes back as the
    * directory value, cast to the trained cell id type. Retracted
    * vectors ([[delete]]) are masked by a broadcast anti-join on the
    * tombstone list — the serve plan never sees their rows, without
    * rewriting a single list file.
    */
  def cellsTable(spark: SparkSession, path: String): DataFrame =
    index.table(spark, path)

  /** [[cellsTable]] minus one batch layer — what a streamed maintainer
    * serves its OWN micro-batch against (the recompute-identity read,
    * see [[TombstonedLayers.table]]; base layer is `batch=-1`, stream
    * ids are ≥ 0).
    */
  def cellsTableExcluding(spark: SparkSession, path: String,
      batchId: Long): DataFrame =
    index.table(spark, path, excluding = Some(batchId))

  /** [[build]] in the batch-keyed layout (cell lists under
    * `cells/batch=-1/`, centroids flat) — the starting point for a
    * store maintained by a stream of [[appendCellsBatch]] folds. The
    * PQ layers (`grid/`, `codes/`) belong to the plain serve
    * lifecycle and are not written here: the streamed near-dup
    * maintainer reads cells + centroids only.
    */
  def buildKeyed(emb: DataFrame, path: String, cells: Int = 8,
      iters: Int = 3): Unit = {
    val labeled = trained(emb, cells, iters)
    index.append(emb.sparkSession, path, "append-batch", Some(-1L))(
      Seq("cells" -> labeled))
    Similarity.cellCentroids(labeled, "cell")
      .write.mode(SaveMode.Overwrite).parquet(s"$path/centroids")
  }

  /** Fold one micro-batch's vectors into the keyed cell lists —
    * frozen-quantizer assignment ([[assignCells]]' law), landed with
    * Overwrite in the batch's OWN `cells/batch=<id>/` subdir so a
    * crash-redelivered batch re-lands its layer instead of
    * double-appending (the StoreLayout discipline).
    */
  def appendCellsBatch(spark: SparkSession, delta: DataFrame, path: String,
      batchId: Long): Unit =
    index.append(spark, path, "append-batch", Some(batchId))(
      Seq("cells" -> assignStored(delta, centroidsTable(spark, path))
        .select(col("vec_id"), col("embedding"), col("cell"))))

  /** Retract vectors from the index — takedowns / right-to-be-
    * forgotten, deletion-vector style: ids append to `tombstones/`
    * (O(|retraction|) write) and BOTH stored representations mask on
    * read ([[cellsTable]] for full-precision lists, the `codes/` scan
    * inside [[servedPqTopK]]). Centroids and the int8 grid stay
    * FROZEN — a takedown masks rows, it never moves the quantizer
    * (periodic retrains remain the recall loop's job). Run
    * [[compact]] when the list outgrows broadcast size.
    */
  def delete(vecIds: DataFrame, path: String): Unit =
    index.delete(vecIds, path)

  /** Fold outstanding tombstones into `cells/` and `codes/`
    * ([[TombstonedLayers.compact]]): a flat store then serves with
    * zero masking; a batch-keyed store (no `codes/`) keeps its batch
    * values and its mask. Centroids and grid are never rewritten.
    */
  def compact(spark: SparkSession, path: String): Unit =
    index.compact(spark, path)

  /** Memoized build-then-delete lifecycle for the retraction gate: the
    * first caller per JVM per path trains + persists over the corpus
    * and then retracts `removed` via [[delete]]; later callers serve
    * from the masked index.
    */
  def ensureDeleted(corpus: DataFrame, removed: DataFrame, path: String,
      cells: Int = 8, iters: Int = 3): Unit =
    index.ensureDeleted(removed, path)(build(corpus, path, cells, iters))

  def centroidsTable(spark: SparkSession, path: String): DataFrame =
    Tables.read(spark, s"$path/centroids")
      .withColumn("cell", col("cell").cast("long"))

  /** Serve top-k from the STORED index: no training in the plan — the
    * quantizer is a parquet scan of `centroids/`, the candidate search
    * a cell-pruned scan of `cells/`.
    */
  def servedTopK(spark: SparkSession, path: String, probeRows: DataFrame,
      k: Int = 5, nprobe: Int = 2): DataFrame =
    Similarity.ivfSearch(cellsTable(spark, path),
      centroidsTable(spark, path), probeRows, k, nprobe)

  /** Serve top-k from the stored PQ layer: the probed cells are scanned
    * on STORED int8 codes (dequantized against the broadcast grid —
    * the candidate scan reads d bytes per vector, not 4d), the ADC
    * top-`rerank` survivors fetch full precision from `cells/` for the
    * exact re-rank, and nothing trains or re-encodes in the plan. The
    * arithmetic mirrors [[graft.operators.Similarity.ivfPqTopK]]
    * value-for-value (codes store the same `floor((x-mn)/step + .5)`
    * grid cell that the in-query form computes inline), so the oracle
    * that replays the trained pipeline also pins the served one.
    */
  def servedPqTopK(spark: SparkSession, path: String, probeRows: DataFrame,
      k: Int = 5, nprobe: Int = 2, rerank: Int = 15): DataFrame = {
    import graft.functions.{VectorFunctions => VF}
    val probed = Similarity.probeCells(centroidsTable(spark, path),
      probeRows, nprobe)
    val gridRow = spark_grid(Tables.read(spark, s"$path/grid"))
    val codes = index.table(spark, path, "codes")
    val recon = zip_with(col("codes"), col("ms"), (c, m) => {
      val step = (m.getField("mx") - m.getField("mn")) / 255d
      when(m.getField("mx") === m.getField("mn"), m.getField("mn"))
        .otherwise(m.getField("mn") + c.cast("double") * step)
    })
    // decode at CANDIDATE grain, not per (probe × candidate): the
    // reconstruction and its norm are pure functions of (codes, grid),
    // so each lands once per code row — the pre-r15 form evaluated the
    // interpreted zip_with decode TWICE per probe pair (dot + norm),
    // which dominated the ADC cut at the ~sf100 decade (22 s; the
    // probe-pair work is now one codegen graft_dot_dd per pair).
    // Separate selects on purpose: CollapseProject would otherwise
    // inline the non-cheap decode back into its two consumers.
    val decoded = codes
      .crossJoin(broadcast(gridRow))
      .select(col("cell"), col("vec_id"), recon.as("rv"))
      .select(col("cell"), col("vec_id"), col("rv"),
        sqrt(call_function("graft_dot_dd", col("rv"), col("rv"))).as("rnrm"))
    // the probe side converts to double ONCE (broadcast, bounded):
    // graft_dot_dd(probe_xd, rv) accumulates the identical product
    // sequence as the interpreted fold over (float probe, double rv)
    // after the exact float→double promotion — bit-identical, oracle
    // untouched
    val probedX = probed.withColumn("probe_xd", VF.asDouble(col("probe_emb")))
    val adc = decoded.join(broadcast(probedX), Seq("cell"))
      .filter(col("probe_id") =!= col("vec_id"))
      .select(col("probe_id"), col("vec_id").as("cand_id"),
        round(call_function("graft_dot_dd", col("probe_xd"), col("rv"))
          / (col("probe_dnrm") * col("rnrm")), 4).as("adc_cosine"))
      .filter(col("adc_cosine").isNotNull)
    val topm = graft.plans.TopKPlanner
      .perGroup(adc, "probe_id", "adc_cosine", "cand_id", rerank)
      .drop("rnk")
    val cands = cellsTable(spark, path)
      .select(col("vec_id").as("cand_id"), col("embedding").as("cand_emb"),
        VF.normNative(col("embedding")).as("cand_nrm"))
    val probesExact = probeRows
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_emb"),
        VF.normNative(col("embedding")).as("probe_nrm"))
    val exact = cands.join(broadcast(topm), Seq("cand_id"))
      .join(broadcast(probesExact), Seq("probe_id"))
      .select(col("probe_id"), col("cand_id"), col("adc_cosine"),
        round(VF.dotNative(col("probe_emb"), col("cand_emb"))
          / (col("probe_nrm") * col("cand_nrm")), 4).as("cosine"))
      .filter(col("cosine").isNotNull)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    exact.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
  }
}
