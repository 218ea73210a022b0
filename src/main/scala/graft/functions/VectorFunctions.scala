package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `array<float>` embedding columns, built entirely from
  * codegen'd higher-order builtins (`transform` / `zip_with` /
  * `aggregate`) — no UDF, no serialization boundary, stays inside
  * whole-stage codegen. Accumulation is in DOUBLE, left-to-right (the
  * `aggregate` fold order), so results are deterministic.
  */
object VectorFunctions {

  /** Cast an array<float> column to array<double>. */
  def asDouble(a: Column): Column = transform(a, x => x.cast("double"))

  /** Dot product of two equal-length numeric arrays (double accumulate). */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(asDouble(a), asDouble(b), (x, y) => x * y),
      lit(0.0),
      (acc, x) => acc + x)

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity (exact, double). */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Cosine rounded to 4 decimals — the cross-engine-stable form used by
    * every query that compares, filters, or ranks on similarity.
    */
  def cosineR(a: Column, b: Column): Column = round(cosine(a, b), 4)

  /** Native (codegen'd) dot product — resolves on a
    * [[graft.GraftSession]] session.
    * Bit-identical to [[dot]] (same left-to-right double accumulation),
    * ~orders faster: the higher-order version interprets its lambdas,
    * the expression compiles to a primitive loop.
    */
  def dotNative(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  /** L2 norm via the native dot. */
  def normNative(a: Column): Column = sqrt(dotNative(a, a))

  /** Deterministic ±1 hyperplane weight matrix (numPlanes × dim), seeded
    * by MurmurHash3 of (plane, dim index) — no stored model, identical
    * on every executor and run.
    */
  def planeWeights(numPlanes: Int, dim: Int): Array[Array[Float]] =
    Array.tabulate(numPlanes, dim) { (p, i) =>
      if ((scala.util.hashing.MurmurHash3.productHash((p, i)) & 1) == 0) 1.0f else -1.0f
    }

  /** Random-hyperplane LSH bit signature: sign bit per plane of the
    * projection onto each `weights` row, all planes in one compiled
    * kernel ([[graft.plans.HyperplaneSigExpr]] — inlining per-plane
    * codegen'd dots blew HotSpot's HugeMethodLimit and ran
    * interpreted). Returns an int in [0, 2^numPlanes).
    */
  def hyperplaneSig(a: Column, weights: Array[Array[Float]]): Column =
    org.apache.spark.sql.GraftInternal.columnOf(
      graft.plans.HyperplaneSigExpr(
        org.apache.spark.sql.GraftInternal.expressionOf(a), weights))
}
