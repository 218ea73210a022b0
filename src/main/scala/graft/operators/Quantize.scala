package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scalar (int8-style) embedding quantization — the storage-side
  * compression step of a vector corpus: per-dimension global min/max
  * define a 0..255 grid, each component maps to its nearest code, and
  * the per-vector code summary comes back integer-exact (so the gate
  * compares BIGINTs, not float-rounding artifacts).
  *
  * Scale shape: pass 1 posexplodes to (pos, x) and partial-aggregates
  * per dimension — the shuffle is |dims| × partitions rows, not n·d;
  * pass 2 carries the packed per-dimension grid as a ONE-ROW broadcast
  * (sorted struct array built by aggregation, nothing driver-side) and
  * quantizes each vector in place — zero shuffle beyond the final
  * per-vector projection. Code arithmetic is plain IEEE double ops in
  * a fixed expression shape, so DuckDB reproduces every code exactly;
  * a flat dimension (max == min) quantizes to code 0 rather than
  * dividing by zero.
  */
object Quantize {

  /** Johnson–Lindenstrauss random projection (Achlioptas '03 ±1
    * variant): project each embedding onto `outDim` seeded ±1
    * hyperplanes scaled by 1/sqrt(outDim), preserving pairwise
    * distances within ~1/sqrt(outDim) distortion — the standard
    * dimensionality-reduction front-end that lets downstream ANN /
    * clustering run on 16 dims instead of 64 (4× less shuffle byte
    * volume for every exchange that carries vectors).
    *
    * Scale shape: pure per-row projection — the ±1 matrix is a
    * compile-time constant (same seeded generator as the LSH planes,
    * [[graft.functions.VectorFunctions.planeWeights]]), each output
    * component one codegen'd native dot product; zero shuffle, zero
    * model state. Emitted: the first 4 projected components (4dp), the
    * projected and original norms, and their ratio — the distortion
    * JL bounds. Norms are explicit left-to-right sums of the projected
    * components, the same fold order the oracle spells out, so the
    * only cross-engine noise is the ~1e-12 dot-sum divergence absorbed
    * by 4dp rounding (the knn cosine rule).
    */
  def randomProject(emb: DataFrame, outDim: Int = 16,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    import graft.functions.VectorFunctions
    val dim = Similarity.embeddingDim(emb)
    val w = VectorFunctions.planeWeights(outDim, dim)
    val scale = math.sqrt(outDim.toDouble)
    val base = emb.filter(col(vecCol).isNotNull)
      .select(col(idCol), col(vecCol))
    val projected = base.select(
      col(idCol) +: w.zipWithIndex.map { case (wv, j) =>
        (VectorFunctions.dotNative(col(vecCol), typedlit(wv)) / scale)
          .as(s"pj$j")
      } :+ (VectorFunctions.normNative(col(vecCol)).as("onorm")): _*)
    val sumSq = (0 until outDim).map(j => col(s"pj$j") * col(s"pj$j"))
      .reduceLeft(_ + _)
    projected.select(
      col(idCol),
      round(col("pj0"), 4).as("proj_0"),
      round(col("pj1"), 4).as("proj_1"),
      round(col("pj2"), 4).as("proj_2"),
      round(col("pj3"), 4).as("proj_3"),
      round(sqrt(sumSq), 4).as("proj_norm"),
      round(col("onorm"), 4).as("orig_norm"),
      round(sqrt(sumSq) / col("onorm"), 4).as("distortion"))
  }

  /** Embedding normalization audit — the pre-index hygiene step of a
    * vector corpus: per-dimension mean-centering followed by L2
    * normalization, emitted as per-vector SUMMARIES (original norm,
    * centered norm, centered component sum) so the gate compares
    * scalars, not float arrays.
    *
    * Scale shape: pass 1 posexplodes to per-dimension means (shuffle is
    * |dims| × partitions, like [[scalarCodes]]); the mean vector comes
    * back as a ONE-ROW broadcast and centering/norms are per-row
    * `zip_with`/`aggregate` folds in array order — deterministic and
    * identical to DuckDB's list folds. Means round to 6dp before
    * centering (cross-partition float-sum tolerance, the knn_ivf
    * centroid rule); emitted summaries round to 4dp.
    */
  def normalizeAudit(emb: DataFrame, vecCol: String = "embedding",
      idCol: String = "vec_id", labelCol: String = "label"): DataFrame = {
    import graft.functions.VectorFunctions
    val means = emb
      .select(posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(round(sum(col("x").cast("double")) / count(lit(1)), 6).as("mu"))
    val mvec = means.agg(
      sort_array(collect_list(struct(col("pos"), col("mu")))).as("ms"))
    emb.crossJoin(broadcast(mvec))
      .withColumn("c",
        zip_with(col(vecCol), col("ms"),
          (x, m) => x.cast("double") - m.getField("mu")))
      .select(
        col(idCol), col(labelCol),
        size(col(vecCol)).cast("bigint").as("n_dims"),
        round(VectorFunctions.norm(col(vecCol)), 4).as("norm_before"),
        round(VectorFunctions.norm(col("c")), 4).as("norm_centered"),
        round(aggregate(col("c"), lit(0.0), (acc, x) => acc + x), 4)
          .as("centered_sum"))
  }

  /** Per-vector quantization summary: `n_dims`, `sum_code`,
    * `min_code`, `max_code` (all BIGINT, integer-exact cross-engine).
    */
  def scalarCodes(emb: DataFrame, vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame = {
    val stats = emb
      .select(posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(min(col("x")).cast("double").as("mn"),
        max(col("x")).cast("double").as("mx"))
    val grid = stats.agg(
      sort_array(collect_list(struct(col("pos"), col("mn"), col("mx"))))
        .as("ms"))
    val codes = zip_with(col(vecCol), col("ms"), (x, m) =>
      when(m.getField("mx") === m.getField("mn"), lit(0L))
        .otherwise(floor((x.cast("double") - m.getField("mn")) /
          ((m.getField("mx") - m.getField("mn")) / 255d) + 0.5d)))
    emb
      .select(col(idCol), col(vecCol))
      .crossJoin(broadcast(grid))
      // materialize the code array ONCE: lambda-bearing expressions are
      // excluded from subexpression elimination, so inlining `codes`
      // into sum/min/max would run the interpreted quantization 3x/row
      .select(col(idCol), size(col(vecCol)).cast("long").as("n_dims"),
        codes.as("codes"))
      .select(col(idCol), col("n_dims"),
        // null-skipping fold (a null component yields a null code),
        // NULL when no component survives — matching SQL sum()
        // semantics; array_min/max already skip nulls the same way.
        // (A zero-length array still emits its row here, where SQL's
        // unnest-then-group would drop it — no such vectors exist.)
        when(array_max(col("codes")).isNotNull,
          aggregate(col("codes"), lit(0L),
            (acc, c) => acc + coalesce(c, lit(0L)))).as("sum_code"),
        array_min(col("codes")).as("min_code"),
        array_max(col("codes")).as("max_code"))
  }
}
