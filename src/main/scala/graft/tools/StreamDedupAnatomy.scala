package graft.tools

import graft.GraftSession
import org.apache.spark.sql.functions._

/** Anatomy of `stream_dedup`'s decade ratio (r17 verdict item 2 — the
  * round's one unadjudicated number: 1.36 s at sf0.1 → 10.31 s at
  * ~sf1, 7.6×).
  *
  * Hypothesis (from the amortized twin's 3.9×): the entry's cost is
  * MICRO-BATCH COUNT, not data volume. The staging law makes batch
  * count a function of the source LAYOUT: the sf0.1 testdata is ONE
  * parquet file → 2 deliveries = 2 micro-batches, while the ~sf1
  * replica table is a Spark-written directory of ~32 part files → 2
  * deliveries = ~64 micro-batches at `maxFilesPerTrigger = 1`, each
  * paying a full state-store commit + WAL round. A 10× data decade
  * that also multiplies BATCHES 32× is measuring commit amortization,
  * not dedup work.
  *
  * This tool replays the gate topology with progress capture and
  * splits the wall into the engine's own buckets: addBatch (the work),
  * state commitTimeMs, allUpdatesTimeMs (the dedup state writes), WAL
  * commit, query planning — per batch and total, at any replica
  * factor / trigger granularity.
  *
  * usage: StreamDedupAnatomy <sfDir> [replicas] [maxFilesPerTrigger]
  */
object StreamDedupAnatomy {

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val replicas = args.lift(1).map(_.toInt).getOrElse(1)
    val maxFiles = args.lift(2).map(_.toInt).getOrElse(1)
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    val dir = if (replicas == 1) sfDir
    else {
      // events-only replica (the ScaleSmoke layout: a Spark-written
      // directory of part files — the layout the decade bench reads)
      val off = 100000000L
      val out = java.nio.file.Files
        .createTempDirectory("graft_sdedup_scale").toString
      val base = spark.read.parquet(s"$sfDir/events.parquet")
      (0 until replicas).map(i =>
        base.withColumn("event_id", col("event_id") + lit(i * off))
          .withColumn("user_id", col("user_id") + lit(i * off)))
        .reduce(_ unionByName _)
        .write.parquet(s"$out/events.parquet")
      out
    }
    val nFiles = {
      val p = java.nio.file.Paths.get(s"$dir/events.parquet")
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.list(p).filter(f =>
          f.getFileName.toString.endsWith(".parquet")).count()
      else 1L
    }

    // recentProgress must hold every batch for the split to be total
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
    val buf = scala.collection.mutable.Buffer[
      org.apache.spark.sql.streaming.StreamingQueryProgress]()
    val t0 = System.nanoTime()
    val res = graft.streaming.StreamReplay.replayRedelivered(
      spark, dir, Seq("event_id"), maxFilesPerTrigger = maxFiles,
      progressOut = Some(buf))
    val rows = res.count()
    val wall = (System.nanoTime() - t0) / 1e9

    def dur(k: String): Long =
      buf.map(p => Option(p.durationMs.get(k)).map(_.toLong).getOrElse(0L)).sum
    val so = buf.flatMap(p => Option(p.stateOperators).toSeq.flatMap(_.toSeq))
    val json =
      s"""{"metric":"stream_dedup_anatomy","sfdir":"$sfDir",""" +
      s""""replicas":$replicas,"max_files_per_trigger":$maxFiles,""" +
      s""""source_files":$nFiles,"batches":${buf.size},"sink_rows":$rows,""" +
      s""""wall_sec":${f"$wall%.2f"},""" +
      s""""add_batch_ms":${dur("addBatch")},""" +
      s""""wal_commit_ms":${dur("walCommit") + dur("commitOffsets")},""" +
      s""""planning_ms":${dur("queryPlanning")},""" +
      s""""get_batch_ms":${dur("getBatch") + dur("latestOffset")},""" +
      s""""state_commit_ms":${so.map(_.commitTimeMs).sum},""" +
      s""""state_update_ms":${so.map(_.allUpdatesTimeMs).sum},""" +
      s""""state_removal_ms":${so.map(_.allRemovalsTimeMs).sum},""" +
      s""""rows_updated":${so.map(_.numRowsUpdated).sum},""" +
      s""""rows_dropped_dup":${so.map(s => Option(s.customMetrics)
          .flatMap(m => Option(m.get("numDroppedDuplicateRows")))
          .map(_.toString.toLong).getOrElse(0L)).sum}}"""
    println(json)
    spark.stop()
  }
}
