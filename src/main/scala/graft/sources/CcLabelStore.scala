package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Solve-once / maintain-many persistence for connected-component
  * labels — the stored side of
  * [[graft.operators.Dedup.connectedComponentsIncremental]]: the base
  * near-dup graph is solved once and its `(node, component)` labeling
  * persisted; each day's delta edges re-solve only the affected
  * components against this table, never the whole graph. Same memo
  * contract as the other index stores ([[IvfIndexStore.ensure]]).
  */
object CcLabelStore {

  private val built =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  /** Deterministic per-dataset label location under the JVM temp dir. */
  def defaultPath(datasetDir: String): String =
    StorePaths.keyedTmp("cc", datasetDir)

  /** Solve the base graph once and persist its labeling. */
  def build(baseEdges: DataFrame, srcCol: String, dstCol: String,
      path: String): Unit =
    graft.operators.Dedup
      .connectedComponents(baseEdges, srcCol, dstCol)
      .write.mode(SaveMode.Overwrite).parquet(s"$path/labels")

  /** [[build]] at most once per JVM per path. */
  def ensure(baseEdges: DataFrame, srcCol: String, dstCol: String,
      path: String): Unit =
    built.computeIfAbsent(path, _ => {
      build(baseEdges, srcCol, dstCol, path)
      java.lang.Boolean.TRUE
    })

  def labelsTable(spark: SparkSession, path: String): DataFrame =
    Tables.read(spark, s"$path/labels")
}
