package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** Bridge to Spark-private (`private[sql]`, `private[spark]`)
  * internals, first used by [[graft.operators.SurrogateKey]]: building
  * a DataFrame from an InternalRow RDD without the external-Row
  * encode/decode round trip (which dominates the cost of RDD-based
  * operators on wide rows).
  */
object GraftInternal {

  def internalCreateDataFrame(spark: SparkSession, rdd: RDD[InternalRow],
      schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  def toInternalRdd(df: DataFrame): RDD[InternalRow] =
    df.queryExecution.toRdd

  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  def columnOf(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  def expressionOf(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** Test-only observation hook: [[pinRecomputable]] materializes via
    * a raw RDD action (no SQL execution id), so QueryExecutionListener
    * never sees a pinned stage's plan — plan-audit specs register a
    * callback here to assert on it (e.g. that the delta serve's stored
    * index scan sits inside a pinned stage). Never set in production.
    */
  @volatile var pinObserver: DataFrame => Unit = null

  /** Eagerly materialize `df` into a MEMORY_AND_DISK-persisted
    * InternalRow RDD wrapped back as a [[org.apache.spark.sql.execution.LogicalRDD]]
    * — `Dataset.localCheckpoint(eager = true)` minus the lineage
    * truncation. Same construction-time job, same persisted blocks,
    * same LogicalRDD plan shape (partitioning/ordering carried through
    * `LogicalRDD.fromDataset`, so downstream joins keep the layout) —
    * but the RDD's lineage is NOT cut, so a block lost to executor
    * failure RECOMPUTES from the upstream plan instead of failing
    * every downstream job that reads it. This is the materialization
    * convention for the bounded rep-grain frames the near-dup family
    * reuses 3-4× per plan (election groups, verified pair frames,
    * signature frames): at 100 TB losing an executor mid-join is
    * routine, and `localCheckpoint`'s non-recomputable executor-local
    * blocks would turn each loss into a job failure. (The row copy
    * before persisting mirrors `Dataset.checkpoint` — the upstream
    * iterator reuses UnsafeRow buffers.)
    *
    * NOT a substitute for `localCheckpoint` where the truncation
    * itself is load-bearing: iterative loops cut lineage depth on
    * purpose.
    */
  def pinRecomputable(df: DataFrame): DataFrame = {
    val obs = pinObserver
    if (obs != null) obs(df)
    val rdd = df.queryExecution.toRdd.map(_.copy())
    rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    rdd.count()
    val pinned = ofRows(df.sparkSession,
      org.apache.spark.sql.execution.LogicalRDD.fromDataset(rdd,
        df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]],
        isStreaming = false))
    val owner = pinOwner.get
    if (owner != null) owner += pinned
    pinned
  }

  private val pinOwner =
    new ThreadLocal[scala.collection.mutable.ArrayBuffer[DataFrame]]

  /** Run `body` as the owner of every [[pinRecomputable]] pin it makes
    * on this thread, and [[unpin]] them all when it returns or throws.
    * For a unit of work whose pins never outlive it — a streaming
    * micro-batch, whose driver would otherwise hold every batch's pins
    * until the session ends. Pins made on other threads (a concurrent
    * pipeline stage) are not this owner's.
    */
  def owningPins[T](body: => T): T = {
    val outer = pinOwner.get
    val mine = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    pinOwner.set(mine)
    try body
    finally {
      pinOwner.set(outer)
      mine.foreach(unpin)
    }
  }

  /** Release the persisted blocks behind a [[pinRecomputable]] frame —
    * the owner's half of the pin, run in a `finally` once the frame's
    * last consumer is done.
    */
  def unpin(pinned: DataFrame): Unit =
    pinned.queryExecution.logical.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.unpersist(blocking = false); ()
      case _ => ()
    }

  /** Delete `dir` when the JVM exits, through Spark's own shutdown
    * hook (the one that removes its local dirs) — for temp dirs whose
    * lifetime is the JVM's.
    */
  def deleteOnExit(dir: String): Unit =
    org.apache.spark.util.ShutdownHookManager.registerShutdownDeleteDir(
      new java.io.File(dir))
}
