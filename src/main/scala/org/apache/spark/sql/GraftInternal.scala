package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** Bridge to Spark-private (`private[sql]`, `private[spark]`)
  * internals, first used by [[graft.operators.SurrogateKey]]: building
  * a DataFrame from an InternalRow RDD without the external-Row
  * encode/decode round trip (which dominates the cost of RDD-based
  * operators on wide rows).
  *
  * It is also the one pin module. A frame is materialized as one of
  * two kinds: a [[pinRecomputable recomputable pin]] (eager, lineage
  * intact) or a [[cut lineage cut]]; an iterative loop persists and
  * cuts its rounds through [[Rounds]]. Every one registers with the
  * enclosing [[owningPins]] scope, which releases it through [[unpin]].
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
    * The materialization runs as one SQL execution named "pin", so its
    * (AQE stage) jobs carry an execution id and QueryExecutionListeners
    * receive the pinned plan. The pin is [[owningPins owned]].
    *
    * NOT a substitute for [[cut]] where the truncation itself is
    * load-bearing: iterative loops cut lineage depth on purpose.
    */
  def pinRecomputable(df: DataFrame): DataFrame = {
    val qe = df.queryExecution
    val rdd = org.apache.spark.sql.execution.SQLExecution
      .withNewExecutionId(qe, Some("pin")) {
        val r = qe.toRdd.map(_.copy())
        r.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        r.count()
        r
      }
    owned(ofRows(df.sparkSession,
      org.apache.spark.sql.execution.LogicalRDD.fromDataset(rdd,
        df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]],
        isStreaming = false)))
  }

  /** A lineage cut: `df.localCheckpoint(eager)`, [[owningPins owned]].
    * Its blocks are executor-local and NOT recomputable, so a cut is
    * only for where the truncation carries the load — the periodic
    * round cuts of [[Rounds]], and a snapshot that must not re-read a
    * store mutated after it was taken.
    */
  def cut(df: DataFrame, eager: Boolean = true): DataFrame =
    owned(df.localCheckpoint(eager))

  /** The pin schedule of an iterative loop: each round's frame is
    * persisted (lazily — the round's one action fills it), or, every
    * `cutEvery`-th round, [[cut]] (eagerly, or lazily so the cut lands
    * with that action). A round supersedes the previous one once its
    * action has run: a persisted round is then [[unpin unpinned]], a
    * cut stays until the next cut lands, because it is the lineage
    * root the persisted rounds between cuts recompute from. The last
    * round and its root stay [[owningPins owned]] (the loop's result
    * reads them) until [[release]]. `cutEvery = 0` never cuts.
    */
  final class Rounds(cutEvery: Int = 0, eagerCut: Boolean = true) {
    private var n = 0
    private var last: DataFrame = null
    private var root: DataFrame = null

    /** Pin `round` as the next round, run `fill` (the round's one
      * materializing action) on it, release what it supersedes, and
      * return it.
      */
    def step(round: DataFrame)(fill: DataFrame => Any): DataFrame = {
      n += 1
      val isCut = cutEvery > 0 && n % cutEvery == 0
      val pinned = if (isCut) cut(round, eagerCut) else owned(round.persist())
      fill(pinned)
      if (last != null && (last ne root)) unpin(last)
      if (isCut) {
        if (root != null) unpin(root)
        root = pinned
      }
      last = pinned
      pinned
    }

    /** Unpin the last round and its root — for a loop whose result no
      * longer reads them.
      */
    def release(): Unit = {
      if (last != null) unpin(last)
      if (root != null && (root ne last)) unpin(root)
      last = null
      root = null
    }
  }

  /** The pins of one unit of work; closed when the unit ends, after
    * which a thread that inherited it registers nothing more.
    */
  private final class Owner {
    private val pins = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    private var open = true
    def add(df: DataFrame): Unit = synchronized { if (open) pins += df }
    def close(): Seq[DataFrame] = synchronized {
      open = false
      val all = pins.toList
      pins.clear()
      all
    }
  }

  // inheritable: a thread started inside a unit of work (a pipeline
  // stage pool, a stream's execution thread) registers with its owner
  private val pinOwner = new InheritableThreadLocal[Owner]

  private def owned(df: DataFrame): DataFrame = {
    val owner = pinOwner.get
    if (owner != null) owner.add(df)
    df
  }

  /** Run `body` as the owner of every pin, cut and persisted round it
    * makes — on this thread and on threads started inside it — and
    * [[unpin]] them all when it returns or throws. The units of work
    * are a daily load, a curation run, a Bench or Verify entry with
    * the action that consumes it, a replay's staging and a stream
    * micro-batch; a nested
    * owner releases its own pins when it ends. Nothing made inside
    * may be read after the owner ends.
    *
    * Lazy `Dataset.persist` calls released in the same function's
    * `finally` (the daily load's shared drop frames, a micro-batch,
    * Pca's points) stay as they are: their release is already scoped,
    * and an eager pin would add a serial materializing round where
    * the concurrent readers fill the cache themselves.
    */
  def owningPins[T](body: => T): T = {
    val outer = pinOwner.get
    val mine = new Owner
    pinOwner.set(mine)
    try body
    finally {
      pinOwner.set(outer)
      mine.close().foreach(unpin)
    }
  }

  /** Release the blocks behind a pinned frame: a [[pinRecomputable]]
    * pin or a [[cut]] (a frame over a LogicalRDD — `Dataset.unpersist`
    * would release nothing, as the frame is no CacheManager entry), or
    * a persisted round (a CacheManager entry).
    */
  def unpin(pinned: DataFrame): Unit = pinned.queryExecution.logical match {
    case r: org.apache.spark.sql.execution.LogicalRDD =>
      r.rdd.unpersist(blocking = false); ()
    case _ => pinned.unpersist(blocking = false); ()
  }

  /** Deregister every CacheManager entry and unpersist every persisted
    * RDD of `spark`'s context: how many RDDs and entries it released.
    */
  def releaseAll(spark: SparkSession, blocking: Boolean = false): (Int, Int) = {
    val cm = spark.sharedState.cacheManager
    val entries = cm.numCachedEntries
    cm.clearCache()
    val rdds = spark.sparkContext.getPersistentRDDs.values.toSeq
    rdds.foreach(_.unpersist(blocking))
    (rdds.size, entries)
  }

  /** Delete `dir` when the JVM exits, through Spark's own shutdown
    * hook (the one that removes its local dirs) — for temp dirs whose
    * lifetime is the JVM's.
    */
  def deleteOnExit(dir: String): Unit =
    org.apache.spark.util.ShutdownHookManager.registerShutdownDeleteDir(
      new java.io.File(dir))
}
