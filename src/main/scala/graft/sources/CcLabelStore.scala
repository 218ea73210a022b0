package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Solve-once / maintain-many persistence for connected-component
  * labels — the stored side of
  * [[graft.operators.Dedup.connectedComponentsIncremental]]: the base
  * near-dup graph is solved once and its `(node, component)` labeling
  * persisted; each day's delta edges re-solve only the affected
  * components against this table, never the whole graph. Same memo
  * contract as every other store ([[StoreLayers.once]]).
  */
object CcLabelStore {

  private val store = StoreLayers("cc", "labels")

  /** Deterministic per-dataset label location under the JVM temp dir. */
  def defaultPath(datasetDir: String): String =
    StorePaths.keyedTmp("cc", datasetDir)

  /** Solve the base graph once and persist its labeling. */
  def build(baseEdges: DataFrame, srcCol: String, dstCol: String,
      path: String): Unit =
    store.overwrite(path)("labels" ->
      graft.operators.Dedup.connectedComponents(baseEdges, srcCol, dstCol))

  /** [[build]] at most once per JVM per path. */
  def ensure(baseEdges: DataFrame, srcCol: String, dstCol: String,
      path: String): Unit =
    store.once("plain", path)(build(baseEdges, srcCol, dstCol, path))

  def labelsTable(spark: SparkSession, path: String): DataFrame =
    Tables.read(spark, s"$path/labels")
}
