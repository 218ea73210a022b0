package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Top-principal-component extraction over the embedding corpus — the
  * classic "what single direction explains my vectors" pass (drift
  * monitoring, whitening prep, anisotropy checks before cosine search).
  *
  * Scale shape, in order of the plan:
  *  1. column means: one explode + `groupBy(pos)` aggregate — d output
  *     rows, partial-aggregated map-side, pinned driver-side (d doubles,
  *     data-size independent, same policy as the kmeans centroid pin).
  *  2. Gram matrix of the CENTERED data: a typed Aggregator folds each
  *     row's outer product into one in-place d²-double buffer per
  *     partition, so the exchange carries ONE 32 KB buffer per
  *     partition regardless of corpus size and the vectors themselves
  *     never enter it. At 100 TB this is the only data-sized pass —
  *     one scan, one bounded reduction.
  *  3. power iteration: G is d×d (driver-pinned, like the kmeans
  *     centroids); `iters` matvec rounds cost nothing distributed.
  *  4. scores: one more scan projecting each centered vector onto the
  *     component — zero shuffle.
  *
  * Determinism contract (oracle replays every step in SQL): means and
  * Gram cells round to 6 dp; each matvec result rounds to 6 dp; the
  * normalization divides by max|w| (exact on rounded values — no sqrt,
  * no FP norm) and rounds to 6 dp; scores round to 4 dp. Summation
  * order differences between engines live ~7 orders of magnitude below
  * every rounding boundary.
  */
object Pca {

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** The rounded max-norm power iteration from the all-ones start —
    * shared by the dominant component and the deflated second one.
    * Returns (direction, last round's max|G·v|).
    */
  private def powerIterate(g: Array[Array[Double]], dim: Int,
      iters: Int): (Array[Double], Double) = {
    var v = Array.fill(dim)(1.0)
    var evScale = 0.0
    var it = 0
    while (it < iters && (it == 0 || evScale != 0.0)) {
      val w = Array.tabulate(dim) { i =>
        var acc = 0.0
        var j = 0
        while (j < dim) { acc += g(i)(j) * v(j); j += 1 }
        r6(acc)
      }
      evScale = w.map(math.abs).max
      v = if (evScale == 0.0) w else w.map(x => r6(x / evScale))
      it += 1
    }
    (v, evScale)
  }

  /** Hotelling deflation on the rounded Gram: `G − λ v vᵀ / (vᵀv)`
    * with the Rayleigh quotient λ = vᵀGv / vᵀv, every scalar and cell
    * rounded to 6 dp exactly like the oracle's replay. A degenerate
    * direction (vᵀv = 0 — all vectors identical) deflates nothing.
    */
  private def deflate(g: Array[Array[Double]], v: Array[Double],
      dim: Int): (Array[Array[Double]], Double) = {
    var vtv = 0.0
    var i = 0
    while (i < dim) { vtv += v(i) * v(i); i += 1 }
    vtv = r6(vtv)
    if (vtv == 0.0) (g, 0.0)
    else {
      var num = 0.0
      i = 0
      while (i < dim) {
        var acc = 0.0
        var j = 0
        while (j < dim) { acc += g(i)(j) * v(j); j += 1 }
        num += v(i) * acc
        i += 1
      }
      val lam = r6(num / vtv)
      val g2 = Array.tabulate(dim, dim)((a, b) =>
        r6(g(a)(b) - lam * v(a) * v(b) / vtv))
      (g2, lam)
    }
  }

  /** Per-vector projection onto the dominant principal component after
    * `iters` unrolled power-iteration rounds from the all-ones start
    * vector. Emits (vec_id, label, pc1_score, ev_scale): `ev_scale` is
    * the last round's max|G·v| — the dominant-eigenvalue estimate the
    * iteration converged toward, constant across rows so the gate pins
    * the whole iteration, not just the final direction.
    */
  def topComponent(emb: DataFrame, iters: Int = 3,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    require(iters >= 1, s"topComponent needs iters >= 1, got $iters")
    val (pts, centered, g) = centeredGram(emb, vecCol, idCol)

    // 3. driver-side power iteration, every step rounded like the
    // oracle (a zero matvec — all vectors identical, zero Gram — has
    // no dominant direction: the shared helper stops with the zero
    // vector instead of 0/0)
    val (v, evScale) = powerIterate(g, g.length, iters)

    // 4. score pass: centered projection onto the component
    val score = aggregate(
      zip_with(centered, typedlit(v), (c, w) => c * w),
      lit(0.0), (acc, x) => acc + x)
    pts.select(col(idCol), col("label"),
      round(score, 4).as("pc1_score"),
      round(lit(evScale), 4).as("ev_scale"))
  }

  /** The points, their centering column and their 6-dp centered Gram
    * — the two driver-side reductions [[topComponent]] and
    * [[topComponents2]] share:
    *  1. column means, rounded, pinned driver-side;
    *  2. the Gram of the centered data via the typed aggregator: one
    *     in-place d²-double buffer per partition, ONE buffer per
    *     partition in the exchange (no per-row d² explode). Cells round
    *     to 6 dp on the driver with the same HALF_UP rule the oracle's
    *     round() uses.
    * The points are persisted for these two reductions ONLY and
    * released in a `finally`: the caller's score action re-reads the
    * source through the filter/cast projection — a single cheap scan,
    * deliberately preferred over holding corpus-sized blocks pinned
    * until an unknowable caller action.
    */
  private def centeredGram(emb: DataFrame, vecCol: String, idCol: String)
      : (DataFrame, Column, Array[Array[Double]]) = {
    val dim = Similarity.embeddingDim(emb)
    val pts = emb.filter(col(vecCol).isNotNull)
      .select(col(idCol), col("label"),
        graft.functions.VectorFunctions.asDouble(col(vecCol)).as("x"))
      .persist()
    try {
      val rows = pts
        .select(posexplode(col("x")).as(Seq("pos", "v")))
        .groupBy(col("pos"))
        .agg(round(sum(col("v")) / count(lit(1)), 6).as("m"))
        .collect()
      val means = new Array[Double](dim)
      rows.foreach(r => means(r.getInt(0)) = r.getDouble(1))
      val centered = zip_with(col("x"), typedlit(means), (v, m) => v - m)
      val gramAgg = udaf(new graft.functions.GramAggregator(dim))
      val cells = pts.select(centered.as("cx"))
        .agg(gramAgg(col("cx")).as("g"))
        .head().getSeq[Double](0)
      (pts, centered, Array.tabulate(dim, dim)((i, j) => r6(cells(i * dim + j))))
    } finally { pts.unpersist(); () }
  }

  /** The dominant component served from PERSISTED raw moments
    * ([[graft.sources.GramStore]]) instead of a fresh corpus scan: the
    * centered Gram comes from the moment identity
    * `G_ij = S_ij − m_i·s_j − m_j·s_i + n·m_i·m_j` (means
    * `m = r6(s/n)`, every cell 6-dp-rounded — the identical rounding
    * law [[topComponent]] applies to its per-row Gram, and the 6-dp
    * grid is what absorbs the FP distance between the identity and the
    * per-row sum), then the same rounded power iteration and the same
    * per-vector projection pass over `scoreOver`. The ONLY data-sized
    * work is that final scoring scan — maintaining the component after
    * a drop or takedown costs the store's O(d²) fold, never a corpus
    * rescan.
    */
  def fromMoments(scoreOver: DataFrame, n: Long, s: Array[Double],
      ss: Array[Double], iters: Int = 3, vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame = {
    require(n > 0, s"fromMoments needs a positive vector count, got $n")
    val dim = s.length
    require(ss.length == dim * dim, "ss must be d² row-major")
    val m = Array.tabulate(dim)(i => r6(s(i) / n))
    val g = Array.tabulate(dim, dim)((i, j) =>
      r6(ss(i * dim + j) - m(i) * s(j) - m(j) * s(i) + n * m(i) * m(j)))
    val (v, evScale) = powerIterate(g, dim, iters)
    val centered: Column = zip_with(
      graft.functions.VectorFunctions.asDouble(col(vecCol)),
      typedlit(m), (x, mm) => x - mm)
    val score = aggregate(
      zip_with(centered, typedlit(v), (c, w) => c * w),
      lit(0.0), (acc, x) => acc + x)
    scoreOver.filter(col(vecCol).isNotNull)
      .select(col(idCol), col("label"),
        round(score, 4).as("pc1_score"),
        round(lit(evScale), 4).as("ev_scale"))
  }

  /** Embedding-distribution drift datasheet — the MONITORING face of
    * the persisted moment store (the measure half whose act half is
    * the IVF recall-retrain loop): per dimension, the REFERENCE mean
    * served from stored `(n, Σx)` moments against the CURRENT drop's
    * fresh mean, the 6-dp absolute shift, and a threshold flag. d
    * output rows; the only data-sized work is the drop's one mean
    * aggregate — the reference corpus is never rescanned (that is the
    * point of storing the moments).
    *
    * A monitor must FAIL CLOSED: if the monitored slice is empty (no
    * rows, or every embedding NULL), there is no current mean — every
    * dimension row still emits, with `mean_cur`/`abs_shift` NULL and
    * `drifted = true` (no data is the loudest drift of all), instead
    * of silently returning an empty dashboard.
    */
  def driftAgainstMoments(current: DataFrame, refN: Long,
      refS: Array[Double], threshold: Double = 0.05,
      vecCol: String = "embedding"): DataFrame = {
    require(refN > 0, s"drift needs a positive reference count, got $refN")
    val dim = refS.length
    val refMeans = Array.tabulate(dim)(i => r6(refS(i) / refN))
    val spark = current.sparkSession
    import spark.implicits._
    val ref = refMeans.toSeq.zipWithIndex
      .map { case (m, i) => (i, m) }.toDF("dim_idx", "mean_ref")
    val cur = current.filter(col(vecCol).isNotNull)
      .select(posexplode(
        graft.functions.VectorFunctions.asDouble(col(vecCol)))
        .as(Seq("dim_idx", "v")))
      .groupBy(col("dim_idx"))
      .agg(round(sum(col("v")) / count(lit(1)), 6).as("mean_cur"))
    ref.join(cur, Seq("dim_idx"), "left")
      .select(col("dim_idx"), col("mean_ref"), col("mean_cur"),
        round(abs(col("mean_cur") - col("mean_ref")), 6).as("abs_shift"))
      .withColumn("drifted",
        when(col("mean_cur").isNull, lit(true))
          .otherwise(col("abs_shift") > threshold))
  }

  /** Top-TWO principal components via Hotelling deflation — the
    * whitening-prep subspace the single-direction pass can't give:
    * after the dominant component converges, the Gram deflates by the
    * Rayleigh-quotient rank-1 update (`G − λ v vᵀ / vᵀv`, every scalar
    * 6-dp-rounded so the oracle replays it cell-for-cell) and the SAME
    * rounded iteration runs again on the residual. Emits per vector
    * both projections plus the two eigenvalue-scale estimates and the
    * components' raw dot product (`pc_dot`, 4 dp) — the orthogonality
    * audit that proves the deflation removed the first direction
    * rather than re-finding it.
    *
    * Scale shape is [[topComponent]]'s: the ONLY data-sized passes are
    * the means/Gram reduction (one d²-double buffer per partition in
    * the exchange) and the final two-projection scan; both iterations
    * and the deflation are d×d driver arithmetic, data-size
    * independent.
    */
  def topComponents2(emb: DataFrame, iters: Int = 3,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    require(iters >= 1, s"topComponents2 needs iters >= 1, got $iters")
    val (pts, centered, g) = centeredGram(emb, vecCol, idCol)
    val dim = g.length
    val (v1, ev1) = powerIterate(g, dim, iters)
    val (g2, _) = deflate(g, v1, dim)
    val (v2, ev2) = powerIterate(g2, dim, iters)
    val pcDot = r6(v1.zip(v2).map { case (a, b) => a * b }.sum)

    def score(dir: Array[Double]): Column = aggregate(
      zip_with(centered, typedlit(dir), (c, w) => c * w),
      lit(0.0), (acc, x) => acc + x)
    pts.select(col(idCol), col("label"),
      round(score(v1), 4).as("pc1_score"),
      round(score(v2), 4).as("pc2_score"),
      round(lit(ev1), 4).as("ev1_scale"),
      round(lit(ev2), 4).as("ev2_scale"),
      round(lit(pcDot), 4).as("pc_dot"))
  }
}
