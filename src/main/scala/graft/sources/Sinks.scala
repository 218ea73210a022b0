package graft.sources

import graft.operators.MergeInto
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}

/** Warehouse-side writers — the load half of the reference's ETL.
  *
  * The reference lands every table in Snowflake with daily MERGE loads
  * (reference: astro-sdk-tutorial/dags/etl_s3_snowflake_f_events.py:
  * 87-96). On immutable storage the equivalents are:
  *  - date-partitioned parquet for facts, loaded by the
  *    PARTITION-SCOPED merge ([[mergeFactByDate]] — only the drop's
  *    dates are read or rewritten; partition pruning also turns
  *    daily/backfill reads into file skips),
  *  - read-merge-overwrite for SCD-1 dims (the dim is ≪ the fact, so
  *    rewriting it on a load that changes it is the cheap,
  *    atomic-enough option — a table format's row-level MERGE slots in
  *    here unchanged at 100 TB; a load that changes no row writes
  *    nothing),
  *  - bucketed tables for repeated co-located joins on a hot key
  *    (both sides pre-hashed: the join plans with zero Exchange).
  *
  * Like the reference's MERGE statements, the merge writers commit
  * their table and report a row count; they hand back no frame. A
  * reader re-reads the path, so no handle has to outlive the next
  * load's swap. Every table and fact partition commits by the one
  * stage-then-swap of [[SwapRecovery]], which names its staged and
  * aside directories and repairs what a crashed swap left behind.
  */
object Sinks {

  /** Date-partitioned append — the fact-table landing pattern. */
  def appendPartitioned(df: DataFrame, path: String, partitionCol: String): Unit =
    df.write.mode(SaveMode.Append).partitionBy(partitionCol).parquet(path)

  /** Merge modes mirroring the reference's `if_conflicts` choices. */
  sealed trait MergeMode
  /** SCD-1: matched rows take the delta's values. */
  case object Update extends MergeMode
  /** Insert-if-absent: matched rows keep the stored values. */
  case object Ignore extends MergeMode

  /** Overwrite `path` and return the row count FROM THE WRITE PASS
    * itself (`Dataset.observe`): the count accumulates while the rows
    * stream through the writer, so the table is never read back and
    * the plan never runs twice. At 100 TB a read-back count doubles
    * the stage's I/O; an up-front `df.count()` doubles its compute.
    */
  private[graft] def overwrite(df: DataFrame, path: String): Long = {
    val obs = org.apache.spark.sql.Observation()
    df.observe(obs, count(lit(1)).as("rows"))
      .write.mode(SaveMode.Overwrite).parquet(path)
    obs.get("rows").asInstanceOf[Long]
  }

  /** Swap `<path>.staging` in as the table ([[SwapRecovery.replace]],
    * the previous copy parked at `<path>.backup`).
    */
  private[graft] def swapInto(spark: SparkSession, path: String): Unit =
    SwapRecovery.replace(SwapRecovery.fsOf(spark, path),
      new Path(path + ".staging"), new Path(path), new Path(path + ".backup"))

  /** True iff the table at `path` exists, after [[SwapRecovery.repair]]
    * of what a crashed swap left behind — the entry check of every
    * writer, made before it stages anything.
    */
  private[graft] def tableExists(spark: SparkSession, path: String): Boolean = {
    val (fs, p) = (SwapRecovery.fsOf(spark, path), new Path(path))
    SwapRecovery.repair(fs, p, new Path(path + ".staging"),
      new Path(path + ".backup"), mayBeAbsent = true)
    fs.exists(p)
  }

  /** Write `merged` beside `path`, swap it in, and return its row
    * count, counted on the write pass.
    */
  private def commit(spark: SparkSession, merged: DataFrame, path: String): Long = {
    val rows = overwrite(merged, path + ".staging")
    swapInto(spark, path)
    rows
  }

  /** Table refresh: merge the delta into the stored table, swap, and
    * return the new table's row count. Existence is a filesystem
    * check, NOT a read attempt — a transient read failure must
    * surface, never silently replace the table with the delta. The
    * delta is broadcast into the merge: a dim load is ≪ the dim.
    *
    * A load that would change no row ([[unchangedRows]]) writes
    * nothing: the table keeps its files and its count is returned. A
    * daily drop that re-delivers the whole item table is that load.
    */
  def mergeDim(spark: SparkSession, path: String, delta: DataFrame,
      keys: Seq[String], updateCols: Seq[String],
      mode: MergeMode = Update): Long = {
    if (!tableExists(spark, path)) return commit(spark, delta, path)
    val stored = Tables.read(spark, path)
    val merged = mode match {
      case Update => MergeInto.upsert(stored, delta, keys, updateCols,
        broadcastDelta = true)
      case Ignore => MergeInto.insertIfAbsent(stored, delta, keys)
    }
    def shape(df: DataFrame) = df.schema.map(f => (f.name, f.dataType))
    val unchanged =
      if (shape(merged) != shape(stored)) None
      else unchangedRows(stored, delta, keys, updateCols, mode)
    unchanged.getOrElse(commit(spark, merged, path))
  }

  /** The stored row count if merging `delta` into `stored` would
    * change no row, else None. A delta row changes the table when no
    * stored row has its key (an insert) or, under [[Update]], when a
    * stored row with its key differs from it in an updated column.
    * Keys and columns compare null-safely (`<=>`), as the merge
    * matches them. One action: a delta ⟕ stored join and the stored
    * row count, aggregated together. Under [[Update]] the delta is
    * key-checked first ([[MergeInto.requireUniqueKeys]]), so a
    * repeated key raises here as it would in the merge.
    */
  private def unchangedRows(stored: DataFrame, delta: DataFrame,
      keys: Seq[String], updateCols: Seq[String],
      mode: MergeMode): Option[Long] = {
    import org.apache.spark.sql.functions.count_if
    val (d, compared) = mode match {
      case Update => (MergeInto.requireUniqueKeys(delta, keys), updateCols)
      case Ignore => (delta, Nil)
    }
    val t = stored.withColumn("__t_present", lit(true)).alias("t")
    val cond = keys.map(k => col(s"s.$k") <=> col(s"t.$k")).reduce(_ && _)
    val changed = compared.foldLeft(col("t.__t_present").isNull)((acc, c) =>
      acc || !(col(s"s.$c") <=> col(s"t.$c")))
    val perDeltaRow = d.alias("s").join(t, cond, "left_outer")
      .select(changed.as("changed"), lit(false).as("stored"))
    val perStoredRow = stored.select(lit(false).as("changed"),
      lit(true).as("stored"))
    val r = perDeltaRow.unionByName(perStoredRow)
      .agg(count_if(col("changed")), count_if(col("stored"))).head()
    if (r.getLong(0) == 0L) Some(r.getLong(1)) else None
  }

  /** Partition-scoped fact MERGE — the 100 TB load path: rewrite ONLY
    * the date partitions the delta touches, leaving every other date's
    * files unread and unmoved.
    *
    * The reference reloads its fact daily with a full-table MERGE
    * (etl_s3_snowflake_f_events.py:87-96 — Snowflake hides the rewrite
    * cost); on immutable parquet the equivalent full-table
    * stage-and-swap rewrites the WHOLE warehouse per load, which at
    * 100 TB is the one genuine scale-killer. Its daily semantics make
    * the partition-scoped form exact: an event's time — hence its date
    * — is immutable, so a drop (on-time or late) can only create or
    * update rows WITHIN its own event dates. Mechanics per load:
    *
    *  1. the touched date set, collected from `dates` — a frame whose
    *     `dateCol` holds the drop's dates (a distinct-collect bounded
    *     by the drop's calendar span — single-digit rows for a daily
    *     feed, never data-sized). The caller passes the drop itself,
    *     not the delta: the delta usually joins a dim, and collecting
    *     its dates would run that join once more than the write does,
    *  2. a pruned read of the stored fact: `date ∈ touched` is a
    *     PARTITION filter, so untouched dates are eliminated in the
    *     file manifest and never scanned,
    *  3. [[graft.operators.MergeInto.upsert]] of the drop into that
    *     slice (shuffle merge — both sides are drop/day-sized),
    *  4. stage-and-swap ([[SwapRecovery.replace]]) of ONLY the touched
    *     `date=...` directories, each with its aside parked OUTSIDE the
    *     table root (`<path>.pbackup/` — an aside inside the root would
    *     be picked up by partition discovery during the crash window). A
    *     declared date that neither the delta nor the table holds
    *     stages nothing and is skipped.
    *
    * PRECONDITION (holds for the fact by construction): the merge key
    * determines the partition date — a key's stored row lives in the
    * same date partition its re-delivery routes to. A key that MOVED
    * dates would leave its old row in an untouched partition; that
    * cannot happen when the date derives from an immutable event time.
    * NULL dates are rejected in-plan (they would silently land in a
    * default partition), and so is a delta row dated outside the
    * declared set (it would be staged and never swapped in).
    *
    * Returns the WHOLE table's row count after the load (a count of
    * the live table), not the drop's: a re-run of the same
    * drop must report the same number.
    */
  def mergeFactByDate(spark: SparkSession, path: String, delta: DataFrame,
      dates: DataFrame, keys: Seq[String], updateCols: Seq[String],
      dateCol: String = "event_date"): Long = {
    val fs = SwapRecovery.fsOf(spark, path)
    val (stagedRoot, asideRoot) =
      (new Path(path + ".staging_parts"), new Path(path + ".pbackup"))
    // entry repair: a partition swap that died between its renames left
    // its copy under the aside root; every other staged one is dropped
    if (fs.exists(asideRoot)) fs.listStatus(asideRoot).foreach { st =>
      val n = st.getPath.getName
      SwapRecovery.repair(fs, new Path(path, n), new Path(stagedRoot, n),
        st.getPath, mayBeAbsent = true)
    }
    fs.delete(stagedRoot, true)
    fs.delete(asideRoot, true)
    val fresh = !tableExists(spark, path)
    val (merged, touched) = factMergeFrames(spark, path, delta, dates, keys,
      updateCols, dateCol)
    val clustered = clusterByDate(merged, dateCol, touched.size.toLong)
    clustered.write.mode(SaveMode.Overwrite).partitionBy(dateCol)
      .parquet(if (fresh) path + ".staging" else stagedRoot.toString)
    if (fresh) swapInto(spark, path)
    else {
      touched.foreach { v =>
        val n = s"$dateCol=$v"
        if (fs.exists(new Path(stagedRoot, n)))
          SwapRecovery.replace(fs, new Path(stagedRoot, n), new Path(path, n),
            new Path(asideRoot, n))
      }
      // every staged partition was promoted and every aside dropped:
      // what is left of both roots is scaffolding
      fs.delete(stagedRoot, true)
      fs.delete(asideRoot, true)
    }
    Tables.read(spark, path).count()
  }

  /** Cluster rows by their date partition (plus a hash salt that
    * spreads each date over the session's parallelism) before a
    * `partitionBy(dateCol)` write. Without this every write task holds
    * rows of EVERY date and opens a file per (task × date) — the merge
    * measured 6 files per date per load at bench scale (180 tiny files
    * after one load; guide §6's small-files trap), and every later
    * merge, swap and scan paid the per-file overhead. One extra
    * shuffle of the DROP (never the warehouse) bounds the layout at
    * `salt` files per date while keeping ~`spark.sql.shuffle.partitions`
    * write tasks in flight; at 100 TB the salt is what lets a single
    * hot date still write in parallel with sane file sizes.
    */
  private def clusterByDate(df: DataFrame, dateCol: String,
      nDates: Long): DataFrame = {
    val parallelism = df.sparkSession.sessionState.conf.numShufflePartitions
    // files-per-date scales with the session's parallelism over the
    // drop's date span: a month-span gate drop (≈30 dates, 32 slots)
    // gets 1 file per date; a single-date daily feed on a 200-core
    // cluster still writes 200-way parallel. The salt is deterministic
    // (hash of the row, never rand()), so task retries re-land
    // identical rows (SPARK-38388).
    val filesPerDate = math.max(1L, parallelism / math.max(1L, nDates))
    val salt = org.apache.spark.sql.functions.pmod(
      org.apache.spark.sql.functions.xxhash64(df.columns.map(col).toIndexedSeq: _*),
      org.apache.spark.sql.functions.lit(filesPerDate))
    df.repartition(parallelism, col(dateCol), salt)
  }

  /** The pruned-merge plan [[mergeFactByDate]] executes, exposed for
    * the plan audit: (merged frame over ONLY the touched partitions,
    * touched date values collected from `dates`). The fact scan inside
    * `merged` must carry `dateCol IN touched` as a partition filter —
    * the audit asserts untouched partitions are pruned from the file
    * manifest. With no stored table the merged frame is the checked
    * delta itself.
    */
  private[graft] def factMergeFrames(spark: SparkSession, path: String,
      delta: DataFrame, dates: DataFrame, keys: Seq[String],
      updateCols: Seq[String], dateCol: String): (DataFrame, Seq[Any]) = {
    import org.apache.spark.sql.functions.{raise_error, when}
    val touched = dates.select(col(dateCol)).distinct()
      .collect().map(_.get(0)).toSeq
    val checked = delta.filter(
      when(col(dateCol).isNull,
        raise_error(lit(s"mergeFactByDate: NULL $dateCol in delta — " +
          "rows would land in a default partition")))
      .when(!col(dateCol).isin(touched: _*),
        raise_error(lit(s"mergeFactByDate: $dateCol outside the declared " +
          "dates — rows would be staged and never swapped in")))
      .otherwise(lit(true)))
    val merged =
      if (!tableExists(spark, path)) checked
      else MergeInto.upsert(
        Tables.read(spark, path).filter(col(dateCol).isin(touched: _*)),
        checked, keys, updateCols, broadcastDelta = false)
    (merged, touched)
  }

  /** Key-dim refresh with STABLE dense surrogate keys across loads:
    * only genuinely new natural keys get ids, continuing after the
    * stored maximum — re-delivered keys keep their original surrogate.
    * (The reference renumbers each drop locally, which collides across
    * incremental loads; this is the append-stable correction.)
    */
  def mergeDimSurrogate(spark: SparkSession, path: String, deltaKeys: DataFrame,
      keyCol: String, guidCol: String): Long = {
    import org.apache.spark.sql.functions.max
    val fresh = deltaKeys.select(col(keyCol)).distinct()
    val merged = if (tableExists(spark, path)) {
      val stored = Tables.read(spark, path)
      // null-safe anti join: a plain equi-anti never matches NULL, so a
      // NULL natural key would be re-inserted with a fresh surrogate on
      // every incremental load
      val newKeys = fresh.alias("f")
        .join(stored.select(col(keyCol)).alias("st"),
          col(s"f.$keyCol") <=> col(s"st.$keyCol"), "left_anti")
        .select(col(s"f.$keyCol"))
      // coalesce: an existing-but-empty dim has max(guid) = NULL.
      // The offset rides the plan as a broadcast 1-row aggregate
      // (crossJoin(broadcast(<1-row agg>)) — the repo's scalar-join
      // convention) instead of a driver head() action: one fewer job
      // per dim merge, and the stored table is only read inside the
      // one plan.
      val offset = org.apache.spark.sql.functions.broadcast(stored
        .agg(org.apache.spark.sql.functions.coalesce(max(col(guidCol)), lit(0L))
          .as("__guid_offset")))
      stored.unionByName(
        graft.operators.SurrogateKey.withDenseId(newKeys, Seq(keyCol), guidCol)
          .crossJoin(offset)
          .withColumn(guidCol, col(guidCol) + col("__guid_offset"))
          .drop("__guid_offset"))
    } else graft.operators.SurrogateKey.withDenseId(fresh, Seq(keyCol), guidCol)
    commit(spark, merged, path)
  }

  /** SCD2 history refresh: fold one load into the stored history
    * table (or initialize it) and swap. Re-merging the SAME delta with
    * the SAME load date is a no-op — unchanged rows are skipped and a
    * re-delivered change finds its version already closed — which is
    * what makes this safe under at-least-once delivery (streaming
    * foreachBatch replays, backfill re-runs).
    */
  def mergeDimScd2(spark: SparkSession, path: String, delta: DataFrame,
      keys: Seq[String], tracked: Seq[String],
      loadDate: org.apache.spark.sql.Column): Long = {
    val merged = if (tableExists(spark, path))
      graft.operators.Scd2.merge(Tables.read(spark, path), delta, keys,
        tracked, loadDate)
    else graft.operators.Scd2.init(delta, keys, loadDate)
    commit(spark, merged, path)
  }

  /** Small-file compaction: rewrite a table directory into
    * ceil(rows / rowsPerFile) files via stage-then-swap. Daily MERGE
    * loads fragment tables; compaction keeps scan task counts sane.
    */
  def compact(spark: SparkSession, path: String, rowsPerFile: Long): Long = {
    require(tableExists(spark, path), s"no table at $path") // also repairs
    val df = Tables.read(spark, path)
    val rows = df.count()
    val files = math.max(1L, (rows + rowsPerFile - 1) / rowsPerFile).toInt
    df.repartition(files).write.mode(SaveMode.Overwrite).parquet(path + ".staging")
    swapInto(spark, path)
    rows
  }

  /** Bucketed table write: pre-hash both join sides on the hot key so
    * later joins need no Exchange at all.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
      numBuckets: Int): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .saveAsTable(table)

  /** SCD2 history compaction: rewrite the monotonically growing
    * history PARTITIONED BY (is_current, close year). The current
    * slice — the only part [[graft.operators.Scd2.merge]] ever joins —
    * becomes one partition subtree; closed versions land in the year
    * they were closed. The payoff is on the as-of READ path
    * ([[graft.operators.Scd2.asOfPruned]]): a version closed before a
    * fact window's lower bound cannot own any fact in the window, and
    * because the close year is a partition column those versions are
    * eliminated in the file manifest — the scan itself shrinks, which
    * is what keeps a years-old history readable instead of paying the
    * full accumulated-version scan on every query.
    */
  def compactScd2(history: DataFrame, path: String): Unit =
    history
      .withColumn(graft.operators.Scd2.CloseYearCol,
        org.apache.spark.sql.functions.coalesce(
          org.apache.spark.sql.functions.year(
            col(graft.operators.Scd2.ToCol)),
          org.apache.spark.sql.functions.lit(9999)))
      .write.mode(SaveMode.Overwrite)
      .partitionBy(graft.operators.Scd2.CurrentCol,
        graft.operators.Scd2.CloseYearCol)
      .parquet(path)

  /** Read a [[compactScd2]] layout (partition columns come back typed
    * from directory values).
    */
  def readScd2(spark: SparkSession, path: String): DataFrame =
    Tables.read(spark, path)
      .withColumn(graft.operators.Scd2.CurrentCol,
        col(graft.operators.Scd2.CurrentCol).cast("boolean"))
      .withColumn(graft.operators.Scd2.CloseYearCol,
        col(graft.operators.Scd2.CloseYearCol).cast("int"))
}
