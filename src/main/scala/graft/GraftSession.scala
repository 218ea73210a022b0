package graft

import org.apache.spark.sql.SparkSession

/** The one graft session factory.
  *
  * Every session graft runs on is built here: the drivers, the tools,
  * the benchmark and the test suite. It encodes the engine's
  * recommended configuration: AQE (runtime re-planning + skew-join
  * splitting), partition sizing for the target scale, events'
  * TIMESTAMP(NANOS) read as raw LONG nanos
  * (`spark.sql.legacy.parquet.nanosAsLong`, converted to µs by
  * [[graft.sources.Tables.events]]), and graft's native functions,
  * optimizer rules and planner strategy, which reach the session only
  * through [[graft.plans.GraftExtensions]]. Both are in the shared
  * conf, so a `newSession()` and the session clone a streaming query
  * runs each micro-batch under carry them too. A session built
  * elsewhere needs `spark.sql.extensions=graft.plans.GraftExtensions`
  * and the nanos key before graft's operators can run on it.
  *
  * On a cluster, set `shufflePartitions` to ~2-3× total executor cores
  * and leave `maxPartitionBytes` at 128m so scan tasks stay
  * memory-bounded regardless of input size.
  */
object GraftSession {

  def builder(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "134217728")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")

  def local(shufflePartitions: Int = 32): SparkSession = {
    val s = builder(s"local[$shufflePartitions]", shufflePartitions).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
