package graft.operators

import graft.functions.{VectorFunctions => VF}
import graft.plans.GraftFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * The LSH path uses random-hyperplane signatures (Charikar STOC 2002;
  * multi-table construction per Indyk & Motwani 1998) — sign patterns
  * of projections onto ±1 planes, identical across executors because
  * the planes derive from a seeded hash.
  *
  * Baseline: brute-force cosine top-k with a broadcast probe set (the
  * corpus side never shuffles; the per-probe window ranks only
  * candidate rows). Scale path: random-hyperplane LSH tables bound the
  * candidate set per probe. All pairwise math runs through the codegen'd
  * [[graft.plans.DotProductFloat]] with norms precomputed per row, so
  * a pair costs exactly one primitive-loop dot product.
  */
object Similarity {

  private def withNorm(emb: DataFrame, idAs: String, embAs: String,
      nrmAs: String): DataFrame =
    emb.select(col("vec_id").as(idAs), col("embedding").as(embAs),
      VF.normNative(col("embedding")).as(nrmAs))

  /** Embedding width from the first non-NULL row (one tiny eager job;
    * 64 if the table has no embeddings). Shared by every operator that
    * sizes a per-dimension buffer.
    */
  def embeddingDim(emb: DataFrame, default: Int = 64): Int =
    emb.select(size(col("embedding")).as("d"))
      .filter(col("d").isNotNull).limit(1).collect()
      .headOption.map(_.getInt(0)).getOrElse(default)

  /** Brute-force cosine top-k: `probes` (small, broadcast) × corpus →
    * per-probe top-k by (cosine desc, cand_id) — fully deterministic.
    */
  def bruteForceTopK(emb: DataFrame, probeFilter: org.apache.spark.sql.Column,
      k: Int = 5): DataFrame = {
    GraftFunctions.ensureRegistered(emb.sparkSession)
    val probes = withNorm(emb.filter(probeFilter), "probe_id", "probe_emb", "probe_nrm")
    val scored = withNorm(emb, "cand_id", "cand_emb", "cand_nrm")
      .join(broadcast(probes), col("probe_id") =!= col("cand_id"))
      .select(
        col("probe_id"), col("cand_id"),
        round(VF.dotNative(col("probe_emb"), col("cand_emb"))
          / (col("probe_nrm") * col("cand_nrm")), 4).as("cosine"))
      // zero-norm vectors yield NULL cosine — not a neighbor (the heap
      // would read the null slot as 0.0 and steal a top-k place)
      .filter(col("cosine").isNotNull)
    // bounded-heap top-k as a planned operator (TopKPartial →
    // auto-inserted exchange → TopKFinal): O(n log k), survivors-only
    // shuffle — same rows/ranks as the window row_number formulation
    graft.plans.TopKPlanner.perGroup(scored, "probe_id", "cosine", "cand_id", k)
  }

  /** LSH-bucketed ANN top-k: `numTables` independent hyperplane tables
    * of `bitsPerTable` bits; candidates = any shared bucket; exact
    * cosine re-rank of candidates only. Candidate count per probe ≈
    * numTables × N / 2^bits — tune both for the recall/cost point.
    */
  def lshTopK(emb: DataFrame, probeFilter: org.apache.spark.sql.Column,
      k: Int = 5, numTables: Int = 4, bitsPerTable: Int = 4): DataFrame = {
    GraftFunctions.ensureRegistered(emb.sparkSession)
    val weights = VF.planeWeights(numTables * bitsPerTable, embeddingDim(emb))

    def sigs(df: DataFrame, idAs: String, embAs: String, nrmAs: String): DataFrame = {
      val perTable = (0 until numTables).map { tbl =>
        val w = weights.slice(tbl * bitsPerTable, (tbl + 1) * bitsPerTable)
        struct(lit(tbl).as("table_id"), VF.hyperplaneSig(col("embedding"), w).as("sig"))
      }
      df.select(col("vec_id").as(idAs), col("embedding").as(embAs),
          VF.normNative(col("embedding")).as(nrmAs),
          explode(array(perTable: _*)).as("bucket"))
        .select(col(idAs), col(embAs), col(nrmAs),
          col("bucket.table_id").as("table_id"), col("bucket.sig").as("sig"))
    }

    val probes = sigs(emb.filter(probeFilter), "probe_id", "probe_emb", "probe_nrm")
    val cands = sigs(emb, "cand_id", "cand_emb", "cand_nrm")
    val candidates = cands
      .join(broadcast(probes), Seq("table_id", "sig"))
      .filter(col("probe_id") =!= col("cand_id"))
      .select(col("probe_id"), col("cand_id"), col("probe_emb"), col("cand_emb"),
        col("probe_nrm"), col("cand_nrm"))
      .dropDuplicates("probe_id", "cand_id")
    val scored = candidates
      .select(col("probe_id"), col("cand_id"),
        round(VF.dotNative(col("probe_emb"), col("cand_emb"))
          / (col("probe_nrm") * col("cand_nrm")), 4).as("cosine"))
      .filter(col("cosine").isNotNull) // zero-norm → NULL → not a neighbor
    graft.plans.TopKPlanner.perGroup(scored, "probe_id", "cosine", "cand_id", k)
  }

  /** IVF-probed ANN top-k (the inverted-file scale path, cf. Jégou,
    * Douze & Schmid, "Product quantization for nearest neighbor
    * search", TPAMI 2011 §IV — here with the stored `label` as the
    * coarse cell assignment instead of a trained k-means).
    *
    * Search: rank the (tiny, broadcast) cell-centroid table per probe,
    * keep the best `nprobe` cells, exact-cosine search ONLY the
    * vectors of those cells. Per-probe cost drops from N to
    * nprobe × N / cells; the corpus never shuffles — candidates are a
    * broadcast-semi-bounded slice.
    *
    * Fully deterministic (no hashing): centroids are 6-dp rounded so
    * the cell ranking is cross-engine exact — the whole operator has a
    * value-level DuckDB oracle, unlike the LSH path. Centroid math for
    * probe→cell runs through the interpreted higher-order fold (cells
    * are few); the candidate search uses the codegen'd dot.
    */
  def ivfTopK(emb: DataFrame, probeFilter: org.apache.spark.sql.Column,
      k: Int = 5, nprobe: Int = 2, labelCol: String = "label"): DataFrame = {
    val corpus = emb.select(col("vec_id"), col("embedding"),
      col(labelCol).as("cell"))
    ivfSearch(corpus, cellCentroids(emb, labelCol), emb.filter(probeFilter),
      k, nprobe)
  }

  /** Coarse quantizer table: one 6-dp-rounded centroid per cell with
    * all-NULL cells dropped — the exact construction the IVF oracle
    * replays, shared by the in-query path ([[ivfTopK]]) and the
    * persisted index ([[graft.sources.IvfIndexStore]]).
    */
  private[graft] def cellCentroids(emb: DataFrame,
      labelCol: String): DataFrame = {
    val centroid = udaf(new graft.functions.CentroidAggregator(embeddingDim(emb)))
    emb.groupBy(col(labelCol).as("cell"))
      .agg(centroid(col("embedding")).as("craw"))
      .filter(col("craw").isNotNull)
      .select(col("cell"), transform(col("craw"), v => round(v, 6)).as("cvec"))
  }

  /** The IVF serve stage: rank the (tiny, broadcast) centroid table
    * per probe, keep the best `nprobe` cells, exact-cosine search ONLY
    * the corpus rows of those cells. Takes the cell-labeled corpus and
    * the centroid table as INPUTS so the caller decides where they
    * come from — recomputed in-query ([[ivfTopK]]) or read from a
    * persisted index ([[graft.sources.IvfIndexStore.servedTopK]]),
    * where a cell-partitioned layout lets the scan prune to the probed
    * cells.
    */
  private[graft] def ivfSearch(cellCorpus: DataFrame, cents: DataFrame,
      probeRows: DataFrame, k: Int = 5, nprobe: Int = 2): DataFrame = {
    GraftFunctions.ensureRegistered(cellCorpus.sparkSession)
    val probedCells = probeCells(cents, probeRows, nprobe)
      .select(col("probe_id"), col("probe_emb"), col("probe_nrm"), col("cell"))
    // exact search within probed cells only (a vector lives in exactly
    // one cell, so no per-pair dedup is needed)
    val scored = cellCorpus
      .select(col("vec_id").as("cand_id"), col("embedding").as("cand_emb"),
        VF.normNative(col("embedding")).as("cand_nrm"), col("cell"))
      .join(broadcast(probedCells), Seq("cell"))
      .filter(col("probe_id") =!= col("cand_id"))
      .select(col("probe_id"), col("cand_id"),
        round(VF.dotNative(col("probe_emb"), col("cand_emb"))
          / (col("probe_nrm") * col("cand_nrm")), 4).as("cosine"))
      .filter(col("cosine").isNotNull)
    graft.plans.TopKPlanner.perGroup(scored, "probe_id", "cosine", "cand_id", k)
  }

  /** The probe→cell ranking stage shared by [[ivfSearch]] and
    * [[ivfPqTopK]]: rank the (tiny, broadcast) centroid table per
    * probe by 4-dp cosine, keep the best `nprobe` cells (ties on cell
    * id asc). Emits one row per (probe, probed cell) carrying the
    * probe's embedding plus both norm precisions — the float-path norm
    * (`probe_nrm`, for the codegen'd exact re-rank) and the
    * double-fold norm (`probe_dnrm`, for oracle-exact double math
    * against centroids or reconstructed codes).
    */
  private[graft] def probeCells(cents: DataFrame, probeRows: DataFrame,
      nprobe: Int): DataFrame = {
    val cw = cents.withColumn("cvec_nrm", VF.norm(col("cvec")))
    // probe-side double-precision norm, once per probe — the cosine to
    // a cell is then one fold per pair
    val probes = probeRows
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_emb"),
        VF.normNative(col("embedding")).as("probe_nrm"),
        VF.norm(col("embedding")).as("probe_dnrm"))
    // probe → nprobe best cells: probes × broadcast(centroids); the
    // double-precision fold keeps values identical to the oracle's
    val cellCos = probes.join(broadcast(cw))
      .select(col("probe_id"), col("probe_emb"), col("probe_nrm"),
        col("probe_dnrm"), col("cell"),
        round(VF.dot(col("probe_emb"), col("cvec"))
          / (col("probe_dnrm") * col("cvec_nrm")), 4).as("ccos"))
      .filter(col("ccos").isNotNull)
    val cellW = Window.partitionBy(col("probe_id"))
      .orderBy(col("ccos").desc, col("cell"))
    cellCos
      .withColumn("cr", row_number().over(cellW))
      .filter(col("cr") <= nprobe)
      .select(col("probe_id"), col("probe_emb"), col("probe_nrm"),
        col("probe_dnrm"), col("cell"))
  }

  /** IVF + scalar-quantized ADC search with exact re-rank — the
    * memory-bounded production ANN shape (Jégou, Douze & Schmid,
    * TPAMI 2011 §V: asymmetric distance computation): the inverted
    * lists store QUANTIZED codes (here the int8 grid of
    * [[Quantize.scalarCodes]] — 1 byte/dim instead of 4), the probed
    * cells are scanned against the probe with approximate distances on
    * the DEQUANTIZED codes, and only the top `rerank` survivors fetch
    * their full-precision vectors for the exact cosine ordering.
    *
    * Scale shape: the big scan (probed cells × probes) touches only
    * the reconstructed-code arrays — at 100 TB the float corpus stays
    * in cold storage and the index is 4× smaller, which is the entire
    * point of PQ-family indexes; the full-precision fetch is a
    * broadcast semi-join of probes × rerank ids (tiny), so the corpus
    * never shuffles. (A production refinement would replace the
    * per-pair reconstructed dot with per-dimension lookup tables; the
    * dequantized formulation keeps the math value-replayable.)
    *
    * Determinism: the grid is global per-dimension min/max (integer-
    * exact codes, the emb_quantize construction); reconstruction
    * `mn + code*step` is fixed-shape IEEE double math; both ranking
    * stages round to 4dp with id-asc tie-breaks — so the whole index,
    * including WHICH candidates survive the ADC cut, replays as a
    * value-level DuckDB oracle.
    */
  def ivfPqTopK(emb: DataFrame, probeFilter: org.apache.spark.sql.Column,
      k: Int = 5, nprobe: Int = 2, labelCol: String = "label",
      rerank: Int = 15): DataFrame = {
    GraftFunctions.ensureRegistered(emb.sparkSession)
    val corpus = emb.filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding"), col(labelCol).as("cell"))
    // per-dimension global min/max grid — the scalarCodes construction
    // (shuffle is |dims| × partitions, never n·d)
    val stats = corpus
      .select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(min(col("x")).cast("double").as("mn"),
        max(col("x")).cast("double").as("mx"))
    val grid = stats.agg(
      sort_array(collect_list(struct(col("pos"), col("mn"), col("mx"))))
        .as("ms"))
    // dequantized corpus: code = floor((x-mn)/step + 0.5) (the int8
    // cell), recon = mn + code*step — a flat dimension reconstructs to
    // its constant instead of dividing by zero
    val recon = zip_with(col("embedding"), col("ms"), (x, m) => {
      val step = (m.getField("mx") - m.getField("mn")) / 255d
      when(m.getField("mx") === m.getField("mn"), m.getField("mn"))
        .otherwise(m.getField("mn") +
          floor((x.cast("double") - m.getField("mn")) / step + 0.5d) * step)
    })
    // decode norm at CANDIDATE grain + codegen dot per probe pair (the
    // servedPqTopK r15 restructure): the interpreted fold per
    // (probe × candidate) dominated the ADC cut at replica decades.
    // Separate selects so CollapseProject keeps the non-cheap decode
    // out of its consumers; graft_dot_dd accumulates the identical
    // double product sequence — values (and the oracle) unchanged.
    val coded = corpus.crossJoin(broadcast(grid))
      .select(col("vec_id"), col("cell"), recon.as("rvec"))
      .select(col("vec_id"), col("cell"), col("rvec"),
        sqrt(call_function("graft_dot_dd", col("rvec"), col("rvec"))).as("rnrm"))
    val probed = probeCells(cellCentroids(emb, labelCol),
      emb.filter(probeFilter), nprobe)
      .withColumn("probe_xd", VF.asDouble(col("probe_emb")))
    // ADC scan: exact probe × dequantized candidates of the probed
    // cells only — the double math keeps values oracle-identical
    val adc = coded.join(broadcast(probed), Seq("cell"))
      .filter(col("probe_id") =!= col("vec_id"))
      .select(col("probe_id"), col("vec_id").as("cand_id"),
        round(call_function("graft_dot_dd", col("probe_xd"), col("rvec"))
          / (col("probe_dnrm") * col("rnrm")), 4).as("adc_cosine"))
      .filter(col("adc_cosine").isNotNull)
    val topm = graft.plans.TopKPlanner
      .perGroup(adc, "probe_id", "adc_cosine", "cand_id", rerank)
      .drop("rnk")
    // exact re-rank: fetch full-precision vectors for the survivors
    // only (probes × rerank rows — broadcast; the corpus side is a
    // pruned semi-join, no shuffle)
    val cands = emb.select(col("vec_id").as("cand_id"),
      col("embedding").as("cand_emb"),
      VF.normNative(col("embedding")).as("cand_nrm"))
    val probesExact = emb.filter(probeFilter)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_emb"),
        VF.normNative(col("embedding")).as("probe_nrm"))
    val exact = cands.join(broadcast(topm), Seq("cand_id"))
      .join(broadcast(probesExact), Seq("probe_id"))
      .select(col("probe_id"), col("cand_id"), col("adc_cosine"),
        round(VF.dotNative(col("probe_emb"), col("cand_emb"))
          / (col("probe_nrm") * col("cand_nrm")), 4).as("cosine"))
      .filter(col("cosine").isNotNull)
    // final ordering over probes × rerank rows — window cost is nil
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    exact.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
  }

  /** Train-then-serve IVF: coarse cells come from [[kmeansAssign]]
    * (Lloyd-trained) instead of a stored label — the full production
    * ANN shape: train the quantizer, assign the corpus, probe the
    * best `nprobe` trained cells at query time. Deterministic end to
    * end (k-means seeds/rounding + the IVF rounding rules), so the
    * whole composed pipeline carries a value-level oracle.
    */
  def ivfTrainedTopK(emb: DataFrame, probeFilter: org.apache.spark.sql.Column,
      k: Int = 5, nprobe: Int = 2, cells: Int = 8,
      trainIters: Int = 3): DataFrame = {
    val assign = kmeansAssign(emb, cells, trainIters)
      .select(col("vec_id"), col("cluster").as("__trained_cell"))
    val labeled = emb.join(assign, Seq("vec_id"))
    ivfTopK(labeled, probeFilter, k, nprobe, labelCol = "__trained_cell")
  }

  /** ANN quality evaluation: recall@k of the IVF index against the
    * brute-force ground truth, per probe — the eval loop every vector
    * pipeline runs before trusting an approximate index. Both inputs
    * are deterministic (IVF's centroids are 6-dp rounded), so the
    * whole evaluation carries a value-level oracle. The join is
    * top-k×top-k per probe (tiny) — all heavy lifting happens inside
    * the two index scans themselves. Recall divides by the ACTUAL
    * ground-truth size (a probe can have fewer than k valid
    * neighbors), so perfect retrieval is 1.0 by construction; the
    * column is named for the requested k (`recall_at_5` by default).
    */
  def recallAtK(emb: DataFrame, probeFilter: org.apache.spark.sql.Column,
      k: Int = 5, nprobe: Int = 2): DataFrame =
    recallOf(
      bruteForceTopK(emb, probeFilter, k),
      ivfTopK(emb, probeFilter, k, nprobe), k)

  /** Recall@k of the LSH index against brute-force ground truth — the
    * tuning loop for `numTables`/`bitsPerTable` (the knobs a user must
    * set before pointing the LSH path at a 100 TB corpus). Despite the
    * hashing, the whole evaluation is value-deterministic: the plane
    * weights derive from a seeded hash, so an oracle can replay the
    * signatures, the buckets, and therefore the exact recall.
    */
  def lshRecallAtK(emb: DataFrame, probeFilter: org.apache.spark.sql.Column,
      k: Int = 5, numTables: Int = 4, bitsPerTable: Int = 4): DataFrame =
    recallOf(
      bruteForceTopK(emb, probeFilter, k),
      lshTopK(emb, probeFilter, k, numTables, bitsPerTable), k)

  /** Lloyd k-means over the embedding column, `iters` fixed rounds —
    * the trained counterpart of [[ivfTopK]]'s stored-label coarse
    * quantizer (a production IVF index trains its cells exactly like
    * this). Returns the final assignment `(vec_id, cluster, d2)`;
    * clusters are labeled by their seed vector's id.
    *
    * Engineered determinism (the knn_ivf rulebook): seeds are the `k`
    * lowest vec_ids; squared distances round to 4dp BEFORE the argmin
    * (ties break on cluster id asc); per-dimension means round to 6dp
    * each round, so both engines start every round from bit-identical
    * centroids and the whole trainer replays as a value-level oracle.
    * A cluster that loses all members keeps its previous centroid.
    *
    * Scale shape: centroids are k tiny rows — they broadcast; each
    * round is one corpus projection (assign) plus one per-dim
    * partial-agg (means). The corpus never shuffles whole vectors:
    * the mean aggregation moves (cluster, dim, value) partials only.
    *
    * DISTINCT-VECTOR COLLAPSE (the embeddingRepPairs law, applied to
    * TRAINING — the r15 fix for the trained path's 4.2× third decade):
    * the per-round score, argmin, and d2 are pure functions of the
    * vector VALUE, and the mean update decomposes as a count-weighted
    * sum over distinct vectors — so all `iters` rounds run at
    * DISTINCT-vector grain (the dot work and the per-round exchanges
    * divide by the replica rate, squared corpus-wide at mirror
    * density) and members inherit their twin's (cluster, d2) through
    * one final expansion join. Value-identical: seeds are still the
    * raw k lowest vec_ids (twin seeds keep their separate cluster
    * labels and lose every tie exactly as before), and the weighted
    * mean Σ w·x / Σ w equals the member-grain mean — the FP sum-order
    * difference is the same ~1e-15 class the 6-dp centroid rounding
    * already absorbs cross-engine (§5 rulebook).
    */
  def kmeansAssign(emb: DataFrame, k: Int = 8, iters: Int = 3): DataFrame = {
    require(k >= 1, s"kmeansAssign needs k >= 1, got $k")
    require(iters >= 1, s"kmeansAssign needs iters >= 1, got $iters")
    val raw = emb.filter(col("embedding").isNotNull)
      .select(col("vec_id"), VF.asDouble(col("embedding")).as("x"))
    // distinct-vector grain with multiplicity: the map-side partial
    // aggregate collapses replicas before the exchange, so the shuffle
    // carries distinct-per-partition vectors only
    // a recomputable pin: every round and the member expansion read it
    val pts = org.apache.spark.sql.GraftInternal.pinRecomputable(raw
      .groupBy(col("x"))
      .agg(min(col("vec_id")).as("vec_id"),
        count(lit(1)).cast("double").as("w"))
      .select(col("vec_id"), col("x"), col("w"),
        VF.dot(col("x"), col("x")).as("xx")))
    // centroids are k tiny rows by construction — pin each round's
    // table as a driver-side LOCAL relation (collect + literal
    // re-create) instead of checkpointing: the per-round lineage cap
    // costs one k-row collect, not a cluster job, and the crossJoin
    // below broadcasts a literal
    val sess = emb.sparkSession
    def pin(df: DataFrame): DataFrame =
      sess.createDataFrame(
        java.util.Arrays.asList(df.collect(): _*), df.schema)
    // seeds stay at RAW grain — the k lowest vec_ids, including twin
    // seeds (a twin seed's cluster loses every tie, but its FROZEN
    // centroid still competes in later rounds exactly as before; a
    // collapsed seed table would silently drop it)
    var cents = pin(raw.orderBy(col("vec_id")).limit(k)
      .select(col("vec_id").as("cluster"), col("x").as("cvec")))
    var assign: DataFrame = null
    for (_ <- 1 to iters) {
      val scored = pts.crossJoin(broadcast(
          cents.withColumn("cc", VF.dot(col("cvec"), col("cvec")))))
        .select(col("vec_id"), col("w"),
          round(col("xx") - lit(2.0) * VF.dot(col("x"), col("cvec"))
            + col("cc"), 4).as("d2"),
          col("cluster"))
      assign = scored.groupBy(col("vec_id"))
        .agg(min(struct(col("d2"), col("cluster"))).as("m"),
          first(col("w")).as("w"))
        .select(col("vec_id"), col("m.cluster").as("cluster"),
          col("m.d2").as("d2"), col("w"))
      // count-weighted mean over distinct vectors ≡ member-grain mean
      val dimMeans = assign.join(pts.select(col("vec_id"), col("x")),
          Seq("vec_id"))
        .select(col("cluster"), col("w"),
          posexplode(col("x")).as(Seq("pos", "v")))
        .groupBy(col("cluster"), col("pos"))
        .agg(round(sum(col("v") * col("w")) / sum(col("w")), 6).as("cv"))
        .groupBy(col("cluster"))
        .agg(sort_array(collect_list(struct(col("pos"), col("cv")))).as("ms"))
        .select(col("cluster"),
          transform(col("ms"), m => m.getField("cv")).as("newvec"))
      cents = pin(cents.join(dimMeans, Seq("cluster"), "left")
        .select(col("cluster"), coalesce(col("newvec"), col("cvec")).as("cvec")))
    }
    // member expansion: every raw vector inherits its distinct twin's
    // (cluster, d2) — assignment and distance are functions of the
    // vector value alone
    val distinctAssign = assign
      .join(pts.select(col("vec_id"), col("x")), Seq("vec_id"))
      .select(col("x"), col("cluster"), col("d2"))
    raw.join(distinctAssign, Seq("x"))
      .select(col("vec_id"), col("cluster"), col("d2"))
  }

  /** Embedding-space OUTLIER filter — the vector-side curation gate
    * (the CLIP-filtering shape: drop points far from their own
    * cluster): per vector, the squared L2 distance to its own-label
    * centroid, flagged when it exceeds the label's mean + `sigmas`·σ
    * of that distance. Emits the full audit row (distance, label mean,
    * threshold, flag), not just the survivors — the action is one
    * filter on `is_outlier`.
    *
    * Scale shape: THREE corpus scans and nothing else data-sized —
    * the centroid pass is a (labels × d)-bounded aggregate (map-side
    * combined, broadcast back as k rows); the distance fold (each
    * row's zip_with fold in array order — the oracle replays the
    * identical FP sequence) then runs twice, once under the
    * labels-bounded moment-stats aggregate and once in the output
    * pass, because the `dist2` frame is deliberately NOT cached: a
    * corpus-sized persist would pin executor memory and (in this
    * engine's shared session) register a globally-substitutable plan
    * fragment, and the fold is cheap arithmetic per row — recompute
    * beats cache for it. No window over the corpus, no shuffle beyond
    * the bounded aggregates.
    *
    * Determinism: centroid cells and distances round to 6 dp; the
    * threshold `mean + sigmas·sqrt(max(E[d²²]−mean², 0))` rounds to
    * 6 dp (sqrt of an identical double is identical IEEE); the flag
    * compares rounded values, and the gate slice keeps every distance
    * ≥ 1e-4 off the threshold.
    */
  def embeddingOutliers(emb: DataFrame, sigmas: Double = 2.0): DataFrame = {
    val pts = emb.filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("label"),
        VF.asDouble(col("embedding")).as("x"))
    val cent = pts
      .select(col("label"), posexplode(col("x")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(round(sum(col("v")) / count(lit(1)), 6).as("cv"))
      .groupBy(col("label"))
      .agg(sort_array(collect_list(struct(col("pos"), col("cv")))).as("ms"))
      .select(col("label"), transform(col("ms"), m => m.getField("cv")).as("c"))
    val d2 = pts.join(broadcast(cent), Seq("label"))
      .select(col("vec_id"), col("label"),
        round(aggregate(
          zip_with(col("x"), col("c"), (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, v) => acc + v), 6).as("dist2"))
    val st = d2.groupBy(col("label"))
      .agg(
        round(sum(col("dist2")) / count(lit(1)), 6).as("mean_dist2"),
        round(sum(col("dist2") * col("dist2")) / count(lit(1)), 6).as("ex2"))
      .select(col("label"), col("mean_dist2"),
        round(col("mean_dist2") + lit(sigmas) * sqrt(greatest(
          col("ex2") - col("mean_dist2") * col("mean_dist2"),
          lit(0.0))), 6).as("thresh"))
    d2.join(broadcast(st), Seq("label"))
      .select(col("vec_id"), col("label"), col("dist2"),
        col("mean_dist2"), col("thresh"),
        (col("dist2") > col("thresh")).as("is_outlier"))
  }

  /** Shared recall evaluation: |approx ∩ truth| / |truth| per probe.
    * The join is top-k × top-k per probe (tiny); the heavy lifting is
    * inside the two index scans feeding it.
    */
  private[graft] def recallOf(brute: DataFrame, approx: DataFrame, k: Int): DataFrame =
    brute.select(col("probe_id"), col("cand_id"))
      .join(
        approx.select(col("probe_id"), col("cand_id"), lit(1).as("hit")),
        Seq("probe_id", "cand_id"), "left")
      .groupBy(col("probe_id"))
      .agg(
        sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hits"),
        round(sum(coalesce(col("hit"), lit(0))).cast("double") /
          count(lit(1)), 4).as(s"recall_at_$k"))
}
