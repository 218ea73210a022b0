package graft.streaming

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, StreamingQuery, Trigger}

/** The one driver behind every file-replay topology in this package
  * ([[StreamReplay]], [[IncrFeed.replayIncrAgg]],
  * [[DimFeed.replayScd2]]). A topology supplies its staged drops, its
  * batch body and its sink; the driver owns the rest:
  *
  *  - '''Staging.''' [[stageFile]] lands one load as a single
  *    mtime-stamped parquet file, so a one-file-per-trigger source
  *    replays loads in staging order. [[staged]] memoizes a staging
  *    dir per JVM by (tag, dataset): staged loads are a pure function
  *    of the dataset, so only the stream itself runs per call. A
  *    staging run owns the pins it makes (it derives only files and
  *    scalars). Staging dirs and [[runDir]]s are deleted when the JVM
  *    exits, the lifetime of the memo.
  *  - '''Source.''' [[drops]] streams a staged dir, its schema read
  *    from the first staged file, one file per trigger by default.
  *  - '''Run.''' Every sink runs through one run-to-end step: graft's
  *    native functions are registered BEFORE the query starts (a
  *    streaming query analyzes each micro-batch under a session clone
  *    whose function registry is snapshotted at start, so a
  *    registration inside a batch body never reaches it), the shuffle
  *    partitions are scoped to 8 (stateful-operator cost in a replay is
  *    per-partition state-store commits, not data volume), the query
  *    runs `AvailableNow` to the end of its input and is stopped, and
  *    the session conf is restored in a `finally`.
  *  - '''Batch.''' [[foreachDrop]] wraps the body of a `foreachBatch`
  *    topology: the batch is persisted (unless the body reads it only
  *    once), the body runs as the owner of every pin, cut and
  *    persisted round it makes, on the batch thread and on threads it
  *    starts ([[org.apache.spark.sql.GraftInternal.owningPins]]), and
  *    pins and batch are released in a `finally` — a long-lived stream
  *    keeps nothing of a finished micro-batch, failed or not.
  */
private[graft] object ReplayDriver {

  private val runId = new java.util.concurrent.atomic.AtomicInteger(0)

  private val stagedDirs =
    new java.util.concurrent.ConcurrentHashMap[(String, String), (String, Any)]()

  /** Stage one mtime-ordered single-file parquet load under `stage`:
    * coalesce to a single part file and move it to `<name><idx>.parquet`
    * with a deterministic timestamp, so a `maxFilesPerTrigger = 1`
    * stream replays the loads in staging order.
    */
  def stageFile(df: DataFrame, stage: java.nio.file.Path,
      name: String, idx: Int): Unit = {
    val tmp = s"$stage/tmp_${name.replace('/', '_')}$idx"
    df.coalesce(1).write.parquet(tmp)
    val single = new java.io.File(tmp).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no parquet part file staged in $tmp"))
    val dst = new java.io.File(s"$stage/$name$idx.parquet")
    Option(dst.getParentFile).foreach(_.mkdirs())
    java.nio.file.Files.move(single.toPath, dst.toPath)
    dst.setLastModified(1700000000000L + idx * 60000L)
    ()
  }

  /** The staging dir of `(tag, key)`, filled by `fill` on first use in
    * this JVM, with whatever `fill` derived alongside it.
    */
  def stagedWith[T](tag: String, key: String)(
      fill: java.nio.file.Path => T): (String, T) = {
    val (dir, derived) = stagedDirs.computeIfAbsent((tag, key), _ => {
      val st = runDir(tag)
      val derived = org.apache.spark.sql.GraftInternal.owningPins(
        fill(java.nio.file.Paths.get(st)))
      (st, derived)
    })
    (dir, derived.asInstanceOf[T])
  }

  def staged(tag: String, key: String)(
      fill: java.nio.file.Path => Unit): String =
    stagedWith(tag, key)(fill)._1

  /** A fresh per-run dir (store copy, sink, checkpoint). */
  def runDir(name: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft_$name").toString
    org.apache.spark.sql.GraftInternal.deleteOnExit(dir)
    dir
  }

  /** Stream the staged loads under `dir` in mtime order, schema from
    * the first staged file.
    */
  def drops(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Int = 1): DataFrame = {
    val first = new java.io.File(dir).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(_.toString).min
    spark.readStream.schema(Tables.read(spark, first).schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .parquet(dir)
  }

  /** Run `out` to the end of its input into a fresh in-memory table;
    * returns the table and the finished query (for its progress log).
    * `out` is built inside the run's conf scope — with `nanos`, a
    * TIMESTAMP(NANOS) source reads as raw LONG nanos there.
    */
  def intoMemory(spark: SparkSession, mode: OutputMode,
      nanos: Boolean = false)(out: => DataFrame): (DataFrame, StreamingQuery) = {
    val name = s"graft_replay_${runId.incrementAndGet()}"
    val q = run(spark, nanos)(
      out.writeStream.format("memory").queryName(name).outputMode(mode))
    (spark.table(name), q)
  }

  /** Run `out` to the end of its input into an append-mode parquet sink
    * at `path`, resuming from `chk` if it has committed batches.
    */
  def intoFiles(out: DataFrame, path: String, chk: String): Unit = {
    run(out.sparkSession)(out.writeStream.format("parquet")
      .option("path", path).option("checkpointLocation", chk)
      .outputMode(OutputMode.Append()))
    ()
  }

  /** Run `src` to the end of its input through `body`, one call per
    * micro-batch, resuming from `chk` if it has committed batches. The
    * batch is persisted for the body (`persist = false` for a body that
    * reads its batch once: caching it would only copy it), and the body
    * owns every pin it makes; both are released
    * when it returns or throws.
    */
  def foreachDrop(src: DataFrame, chk: String, persist: Boolean = true)(
      body: (DataFrame, Long) => Unit): Unit = {
    val wrapped = (batch: Dataset[Row], id: Long) => {
      val b = if (persist) batch.toDF().persist() else batch.toDF()
      try org.apache.spark.sql.GraftInternal.owningPins(body(b, id))
      finally if (persist) { b.unpersist(); () }
    }
    run(src.sparkSession)(src.writeStream.foreachBatch(wrapped)
      .option("checkpointLocation", chk))
    ()
  }

  private def run(spark: SparkSession, nanos: Boolean = false)(
      writer: => DataStreamWriter[Row]): StreamingQuery = {
    graft.plans.GraftFunctions.ensureRegistered(spark)
    val scoped = Seq("spark.sql.shuffle.partitions" -> "8") ++
      (if (nanos) Seq("spark.sql.legacy.parquet.nanosAsLong" -> "true") else Nil)
    val prev = scoped.map { case (k, _) => k -> spark.conf.getOption(k) }
    scoped.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val q = writer.trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination()
      finally q.stop()
      q
    } finally prev.foreach {
      // leaking either key would change every LATER batch query in the
      // session (its partition count, or how it reads nanos timestamps)
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
