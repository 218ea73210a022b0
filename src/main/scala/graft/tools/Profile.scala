package graft.tools

import graft.operators._
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Scratch profiler: times labeled plan variants to find bottlenecks.
  * Current probe set: the doc-grain rollup anatomy at the replica
  * decades — where do the ~10 s the three collapsed rollups
  * (minhash/simhash/ngram) share at ~sf100 actually go? Stages are
  * timed under the HASH-FORCE instrument (count() prunes rollup
  * columns — the r13 lesson).
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.builder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def time(label: String)(df: => DataFrame): Unit = {
      val t0 = System.nanoTime()
      df.select(xxhash64(struct(col("*"))).as("h"))
        .agg(expr("bit_xor(h)")).collect()
      println(f"[prof] $label%-40s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    }

    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    if (sys.env.get("SPARK_GRAFT_PROFILE").contains("delta")) {
      deltaAnatomy(spark, dir); spark.stop(); return
    }
    if (sys.env.get("SPARK_GRAFT_PROFILE").contains("reappend")) {
      reappendAnatomy(spark, dir); spark.stop(); return
    }
    if (sys.env.get("SPARK_GRAFT_PROFILE").contains("kbstream")) {
      keepBestStreamAnatomy(spark, dir); spark.stop(); return
    }
    if (sys.env.get("SPARK_GRAFT_PROFILE").contains("keepbest")) {
      keepBestAnatomy(spark, dir); spark.stop(); return
    }
    if (sys.env.get("SPARK_GRAFT_PROFILE").contains("lateevents")) {
      lateEventsAnatomy(spark, dir); spark.stop(); return
    }
    time("warmup/floor: docs scan+hash")(docs)
    time("floor rep 2: docs scan+hash")(docs)
    time("ids only: doc_id scan+hash")(docs.select(col("doc_id")))
    val withH = docs.filter(col("text").isNotNull)
      .select(col("doc_id") +: Dedup.textGroupKeys(col("text")): _*)
    time("election keys: withH projection")(withH)
    val grp = withH.groupBy(Dedup.TextGroupKeyNames.map(col): _*)
      .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("n_copies"))
    time("election agg: grp")(grp)
    val docRep = withH.join(grp, Dedup.TextGroupKeyNames)
      .select(col("doc_id"), col("rep"), col("n_copies"))
    time("election join-back: docRep")(docRep)
    time("full dedup_minhash")(Dedup.minhashNearDups(docs))
    time("full dedup_simhash")(Dedup.simhashNearDups(docs))
    time("full dedup_simhash rep 2")(Dedup.simhashNearDups(docs))
    // final-plan anatomy of the laggard: where do its exchanges sit?
    val sh = Dedup.simhashNearDups(docs)
    sh.select(xxhash64(struct(col("*"))).as("h"))
      .agg(expr("bit_xor(h)")).collect()
    val p = sh.queryExecution.executedPlan.toString
    println("[prof] simhash final-plan exchanges/joins/scans:")
    p.split("== Initial Plan ==").head.linesIterator
      .filter(l => l.contains("Exchange") || l.contains("Join") ||
        l.contains("Scan parquet") || l.contains("HashAggregate") ||
        l.contains("Window"))
      .foreach(l => println("[prof]   " + l.trim.take(150)))
    spark.stop()
  }

  /** `SPARK_GRAFT_PROFILE=reappend`: step anatomy of the
    * `dedup_delete_reappend` lifecycle gate (r18 — 12.7 s isolated,
    * the suite's 4th-costliest entry; the lifecycle runs fresh every
    * call by design, so nothing memoizes away). Splits the wall
    * between the keyed build, the tombstone ops, the compact rewrite,
    * the append, and the two masked serves.
    */
  private def reappendAnatomy(spark: SparkSession, dir: String): Unit = {
    import graft.sources.MinhashIndexStore
    def timeA(label: String)(f: => Any): Unit = {
      val t0 = System.nanoTime()
      f
      println(f"[prof] $label%-44s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    }
    val docs = Tables.documents(spark, dir)
    val delta = docs.filter(col("doc_id") % 10 === 0)
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val takedown = docs.filter(col("doc_id") % 10 === 5)
    val ids = takedown.select(col("doc_id"))
    val MS = MinhashIndexStore
    val path = MS.defaultPath(dir) + "_reapp_prof"
    graft.sources.StorePaths.wipe(spark, path)
    timeA("buildKeyed(corpus)")(MS.buildKeyed(corpus, path))
    timeA("delete(ids) epoch 1")(MS.delete(ids, path))
    timeA("compact (purge)")(MS.compact(spark, path))
    timeA("expireTombstones")(MS.expireTombstones(spark, path))
    timeA("appendBatch(takedown)")(MS.appendBatch(takedown, path, 1L))
    timeA("serve 1 (reappended) + pin") {
      Dedup.minhashNearDupsDelta(delta, docs, MS.bandsTable(spark, path))
        .localCheckpoint()
    }
    timeA("delete(ids) epoch 2")(MS.delete(ids, path))
    timeA("serve 2 (redeleted) hash-force") {
      val df = Dedup.minhashNearDupsDelta(delta, docs,
        MS.bandsTable(spark, path))
      df.select(xxhash64(struct(col("*"))).as("h"))
        .agg(expr("bit_xor(h)")).collect()
    }
  }

  /** `SPARK_GRAFT_PROFILE=lateevents`: per-micro-batch anatomy of the
    * `stream_late_events` gate (r16 verdict item 5 — suite-slowest
    * single entry at sf1, 45.0 s, with no committed split of chain
    * work vs streaming overhead). Three measurements over the SAME
    * drop split the replay uses (on-time 80% / late 20%):
    *
    *  1. the BATCH floor: `Pipeline.runDailyLoad` run directly on each
    *     drop against one warehouse — the pure chain cost, with the
    *     per-stage walls the chain already reports;
    *  2. the STREAMED replay: the same two drops through
    *     foreachBatch + checkpoint, with each batch's in-closure chain
    *     wall captured;
    *  3. the split: stream total − Σ in-closure walls = source
    *     planning + checkpoint/commit overhead; in-closure − batch
    *     floor = what arriving via the stream costs the chain itself.
    */
  private def lateEventsAnatomy(spark: SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.streaming.Trigger
    val ev = Tables.events(spark, dir)
    val part = Tables.part(spark, dir)
    val stage = java.nio.file.Files.createTempDirectory("graft_late_prof")
    def stageDrop(df: DataFrame, i: Int): Unit = {
      val p = s"$stage/drops/drop_$i.parquet"
      df.coalesce(1).write.mode("overwrite").parquet(s"$stage/tmp_$i")
      val f = new java.io.File(s"$stage/tmp_$i").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(s"$stage/drops"))
      java.nio.file.Files.move(f.toPath, java.nio.file.Paths.get(p))
      val _ = new java.io.File(p).setLastModified(1000L * (i + 1))
    }
    stageDrop(ev.filter(col("event_id") % 5 =!= 0), 0)
    stageDrop(ev.filter(col("event_id") % 5 === 0), 1)
    // 1. batch floor: the chain alone, per drop, per stage
    val whB = java.nio.file.Files.createTempDirectory("graft_late_whb")
      .toString + "/wh"
    var batchFloor = 0.0
    Seq(0, 1).foreach { i =>
      val drop = spark.read.parquet(s"$stage/drops/drop_$i.parquet")
      val t0 = System.nanoTime()
      val stages = graft.Pipeline.runDailyLoad(spark, drop, part, whB)
      val wall = (System.nanoTime() - t0) / 1e9
      batchFloor += wall
      println(f"[prof] batch drop_$i chain total${""}%-18s $wall%8.2f s")
      stages.foreach(s =>
        println(f"[prof]   stage ${s.name}%-28s ${s.seconds}%8.2f s (${s.rows} rows)"))
    }
    // 2. streamed replay over the same drops, in-closure walls captured
    val wh = java.nio.file.Files.createTempDirectory("graft_late_whs")
      .toString + "/wh"
    val chk = java.nio.file.Files.createTempDirectory("graft_late_chk")
    val schema = spark.read.parquet(s"$stage/drops/drop_0.parquet").schema
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$stage/drops")
    val closureWalls =
      new java.util.concurrent.ConcurrentHashMap[Long, Double]()
    val stageWalls = new java.util.concurrent.ConcurrentHashMap[Long,
      Seq[graft.Pipeline.StageResult]]()
    val partsKey = "spark.sql.shuffle.partitions"
    val prevParts = spark.conf.getOption(partsKey)
    spark.conf.set(partsKey, "8")
    val tStream = System.nanoTime()
    try {
      val q = src.writeStream.foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            id: Long) =>
          val t0 = System.nanoTime()
          val st = graft.Pipeline.runDailyLoad(spark, batch.toDF(), part, wh)
          closureWalls.put(id, (System.nanoTime() - t0) / 1e9)
          stageWalls.put(id, st)
          ()
      }
        .option("checkpointLocation", chk.toString)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination()
      finally q.stop()
    } finally prevParts match {
      case Some(v) => spark.conf.set(partsKey, v)
      case None => spark.conf.unset(partsKey)
    }
    val streamTotal = (System.nanoTime() - tStream) / 1e9
    import scala.jdk.CollectionConverters._
    val inClosure = closureWalls.values.asScala.sum
    closureWalls.asScala.toSeq.sortBy(_._1).foreach { case (id, w) =>
      println(f"[prof] stream batch_$id in-closure chain    $w%8.2f s")
      stageWalls.get(id).foreach(s =>
        println(f"[prof]   stage ${s.name}%-28s ${s.seconds}%8.2f s (${s.rows} rows)"))
    }
    println(f"[prof] batch floor (2 chains, no stream)  $batchFloor%8.2f s")
    println(f"[prof] stream in-closure total            $inClosure%8.2f s")
    println(f"[prof] stream total wall                  $streamTotal%8.2f s")
    println(f"[prof] stream overhead (total - closure)  ${streamTotal - inClosure}%8.2f s")
    println(f"[prof] closure premium (closure - floor)  ${inClosure - batchFloor}%8.2f s")
  }

  /** `SPARK_GRAFT_PROFILE=kbstream`: per-batch anatomy of the
    * `stream_keep_best` maintenance stream (r18 verdict item 3: split
    * the per-batch state-store/commit fixed cost from the kernel
    * work). The split rides the existing [[graft.streaming.StreamReplay
    * .kbWriteFault]] write-boundary hook — installed here as a TIMER
    * instead of a fault, so segment walls between the batch's seven
    * persistent writes come out of the production code path unchanged:
    *   →1 delta-pair verify + edge write   →2 seen write
    *   →3 index band fold                  →4 blast-radius CC + labels
    *   →5 region rank + retract delta      →6 winners + upsert delta
    *   →7 prefix count + metrics
    * Run 1 pays staging (memoized kbPrepareRun); run 2 mirrors the
    * bench's best-of-2 rep.
    */
  private def keepBestStreamAnatomy(spark: SparkSession, dir: String): Unit = {
    import graft.streaming.StreamReplay
    // per-segment job counter: how many Spark jobs each write segment
    // runs (the per-job fixed cost is the suspected tax at bench SF)
    val jobCounter = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobCounter.incrementAndGet(); ()
        }
      })
    val segs = scala.collection.mutable.ListBuffer.empty[(Long, Int, Double, Int)]
    @volatile var segT0 = System.nanoTime()
    @volatile var segJobs0 = 0
    StreamReplay.kbWriteFault = (batch: Long, write: Int) => {
      val now = System.nanoTime()
      val j = jobCounter.get()
      segs += ((batch, write, (now - segT0) / 1e9, j - segJobs0))
      segT0 = now
      segJobs0 = j
    }
    try {
      for (run <- 1 to 2) {
        segs.clear()
        val t0 = System.nanoTime()
        val (work, folded) = StreamReplay.replayKeepBestDropsWithWork(spark, dir)
        val foldT0 = System.nanoTime()
        folded.select(xxhash64(struct(col("*"))).as("h"))
          .agg(expr("bit_xor(h)")).collect()
        val tEnd = System.nanoTime()
        println(f"[prof] run $run total ${(tEnd - t0) / 1e9}%8.2f s " +
          f"(fold+hash ${(tEnd - foldT0) / 1e9}%.2f s)")
        segs.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (b, ss) =>
          val line = ss.sortBy(_._2)
            .map(s => f"w${s._2}=${s._3}%.2f(j${s._4})").mkString(" ")
          println(s"[prof]   batch $b: $line")
        }
        val metrics = spark.read.parquet(s"$work/metrics/*")
        metrics.orderBy(col("batch")).collect().foreach(r =>
          println(s"[prof]   metrics ${r.mkString(", ")}"))
      }
    } finally StreamReplay.kbWriteFault = (_, _) => ()
  }

  /** `SPARK_GRAFT_PROFILE=keepbest`: stage anatomy of the
    * `dedup_keep_best` ACTION form at the replica decades (r15 verdict
    * item 5 — 232 s at ~sf100 with no committed floor split): where
    * does the wall go between the corpus read, the exact collapse,
    * the banded pair pass over canonicals, the cluster solve, and the
    * corpus-grain anti-join materialization? Stages mirror
    * [[Dedup.minhashKeepBest]]'s plan in order; each is hash-forced.
    */
  private def keepBestAnatomy(spark: SparkSession, dir: String): Unit = {
    def time(label: String)(df: => DataFrame): Unit = {
      val t0 = System.nanoTime()
      df.select(xxhash64(struct(col("*"))).as("h"))
        .agg(expr("bit_xor(h)")).collect()
      println(f"[prof] $label%-44s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    }
    val docs = Tables.documents(spark, dir)
    val quality = docs.select(col("doc_id"),
      CorpusStats.qualityScore(col("text")).as("quality_score"))
    time("floor: full docs scan+hash")(docs)
    time("floor rep 2")(docs)
    val hashable = docs.filter(col("text").isNotNull)
    val canonIds = Dedup.exact(hashable).select(col("keep_id").as("doc_id"))
    time("exact collapse: canonical ids")(canonIds)
    val canonDocs = hashable.join(canonIds, Seq("doc_id"), "left_semi")
    time("canonical semi-join (ids only)")(canonDocs.select(col("doc_id")))
    val nd = Dedup.minhashNearDupPairs(canonDocs)
      .filter(col("jaccard") >= 0.5)
    time("banded pair pass over canonicals")(nd)
    val comps = Dedup.connectedComponents(nd, "id_a", "id_b")
    time("component solve")(comps)
    // keepBestOverEdges internals, staged (the action's residue)
    val prunedQuality = quality
      .join(comps.select(col("node").as("doc_id")), Seq("doc_id"), "left_semi")
    if (sys.env.get("SPARK_GRAFT_PROFILE_PLAN").nonEmpty) {
      prunedQuality.collect()
      println("[prof] prunedQuality OPTIMIZED plan:")
      prunedQuality.queryExecution.optimizedPlan.toString.linesIterator
        .take(25).foreach(l => println("[prof]   " + l.take(150)))
    }
    time("pruned quality (semi-pushdown check)")(prunedQuality)
    val ranked = comps
      .join(prunedQuality.select(col("doc_id").as("node"), col("quality_score")),
        Seq("node"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("component"))
          .orderBy(col("quality_score").desc, col("node"))))
    val clusterDropped = ranked.filter(col("rn") > 1)
      .select(col("node").as("doc_id"))
    time("cluster losers")(clusterDropped)
    val twinDropped = hashable.select(col("doc_id"))
      .join(canonIds, Seq("doc_id"), "left_anti")
    time("twin drop ids (corpus-grain)")(twinDropped)
    val dropSet = twinDropped.unionByName(clusterDropped).distinct()
    time("drop set distinct")(dropSet)
    time("final anti-join materialize")(
      docs.join(dropSet, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars")))
    time("full keep_best FRAME form (pre-fix)")(
      Dedup.minhashKeepBest(docs, quality)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars")))
    time("full keep_best SCORED form (action)")(
      Dedup.minhashKeepBestScored(docs, CorpusStats.qualityScore)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars")))
    time("scored form rep 2")(
      Dedup.minhashKeepBestScored(docs, CorpusStats.qualityScore)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars")))
  }

  /** `SPARK_GRAFT_PROFILE=delta`: stage anatomy of the
    * `dedup_incremental` serve (minhashNearDupsDelta against the
    * persisted band index) at the replica decades — where do its
    * ~50 s at ~sf100 go? Stages mirror the operator's plan in order.
    */
  private def deltaAnatomy(spark: SparkSession, dir: String): Unit = {
    import graft.sources.MinhashIndexStore
    def time(label: String)(df: => DataFrame): Unit = {
      val t0 = System.nanoTime()
      df.select(xxhash64(struct(col("*"))).as("h"))
        .agg(expr("bit_xor(h)")).collect()
      println(f"[prof] $label%-44s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    }
    val docs = Tables.documents(spark, dir)
    val path = MinhashIndexStore.defaultPath(dir)
    MinhashIndexStore.ensure(docs.filter(col("doc_id") % 10 =!= 0), path)
    val delta = docs.filter(col("doc_id") % 10 === 0)
    time("floor: docs scan+hash")(docs.select(col("doc_id"), col("text")))
    time("floor rep 2")(docs.select(col("doc_id"), col("text")))
    time("drop scan")(delta.select(col("doc_id"), col("text")))
    // the drop's member→rep window (one delta-sized exchange w/ text)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(Dedup.TextGroupKeyNames.map(col): _*)
    val members = delta.filter(col("text").isNotNull)
      .select(Seq(col("doc_id"), col("text")) ++
        Dedup.textGroupKeys(col("text")): _*)
      .select(col("doc_id"), col("text"),
        min(col("doc_id")).over(w).as("rep_id"),
        count(lit(1)).over(w).as("m"))
    time("drop election window (members)")(members
      .select(col("doc_id"), col("rep_id"), col("m")))
    val reps = members.filter(col("doc_id") === col("rep_id"))
      .select(col("doc_id"), col("text"))
    time("rep rows")(reps.select(col("doc_id")))
    time("rep band rows")(MinhashIndexStore.bandRows(reps))
    time("stored bands scan")(MinhashIndexStore.bandsTable(spark, path)
      .select(col("doc_id")))
    // replicate the (r15, collapsed) minhashDeltaVerified internals
    val keyCols = MinhashIndexStore.BandKeyCols
    val storedBands = MinhashIndexStore.bandsTable(spark, path)
    val deltaBands = MinhashIndexStore.bandRows(reps)
    val deltaSide = broadcast(deltaBands)
    val candCorpus = storedBands
      .join(deltaSide.withColumnRenamed("doc_id", "delta_id"), keyCols)
      .filter(col("doc_id") =!= col("delta_id"))
      .select(col("delta_id"), col("doc_id").as("stored_id"))
    time("cand stored join")(candCorpus)
    val candIds = storedBands
      .join(deltaSide.select(keyCols.map(col): _*), keyCols)
      .select(col("doc_id")).distinct()
      .join(delta.select(col("doc_id")), Seq("doc_id"), "left_anti")
    time("cand ids")(candIds)
    import graft.functions.{TextFunctions => TF}
    val t0 = System.nanoTime()
    val candMap = org.apache.spark.sql.GraftInternal.pinRecomputable(
      docs.join(candIds, Seq("doc_id"), "left_semi")
        .select(col("doc_id") +: Dedup.textGroupKeys(col("text")): _*)
        .select(col("doc_id").as("stored_id"),
          min(col("doc_id")).over(org.apache.spark.sql.expressions.Window
            .partitionBy(Dedup.TextGroupKeyNames.map(col): _*)).as("crep")))
    println(f"[prof] candMap PIN                              ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    val crepSh = docs
      .join(candMap.select(col("crep").as("doc_id")).distinct(),
        Seq("doc_id"), "left_semi")
      .select(col("doc_id"), TF.words(col("text")).as("w"))
      .select(col("doc_id").as("crep"),
        TF.shingleSet(col("w"), 3).as("shingles"))
    time("crep shingles")(crepSh.select(col("crep"),
      size(col("shingles")).as("n")))
    val repSh = reps
      .select(col("doc_id"), TF.words(col("text")).as("w"))
      .select(col("doc_id"), TF.shingleSet(col("w"), 3).as("shingles"))
    val crossRep = candCorpus.join(candMap, Seq("stored_id"))
      .select(col("delta_id"), col("crep")).distinct()
      .join(repSh.select(col("doc_id").as("delta_id"),
        col("shingles").as("sh_a")), "delta_id")
      .join(crepSh.select(col("crep"), col("shingles").as("sh_b")), "crep")
      .select(col("delta_id"), col("crep"),
        TF.sortedJaccard(col("sh_a"), col("sh_b")).as("jaccard"))
    time("crossRep verify")(crossRep)
    val crossOut = crossRep.join(candMap, Seq("crep"))
      .select(least(col("delta_id"), col("stored_id")).as("id_a"),
        greatest(col("delta_id"), col("stored_id")).as("id_b"),
        col("jaccard"))
    time("crossOut expansion")(crossOut)
    time("cross pairs only (no jaccard)")(crossRep
      .select(col("delta_id"), col("crep"))
      .join(candMap, Seq("crep"))
      .select(col("delta_id"), col("stored_id")))
    time("crossRep pairs only (pre-shingle)")(candCorpus
      .join(candMap, Seq("stored_id"))
      .select(col("delta_id"), col("crep")).distinct())
    crossOut.select(xxhash64(struct(col("*"))).as("h"))
      .agg(expr("bit_xor(h)")).collect()
    println("[prof] crossOut final plan:")
    crossOut.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head.linesIterator
      .filter(l => l.contains("Exchange") || l.contains("Join") ||
        l.contains("Scan") || l.contains("Window") || l.contains("Project"))
      .foreach(l => println("[prof]   " + l.trim.take(160)))
    time("FULL minhashNearDupsDelta")(
      Dedup.minhashNearDupsDelta(delta, docs,
        MinhashIndexStore.bandsTable(spark, path)))
    time("FULL rep 2")(
      Dedup.minhashNearDupsDelta(delta, docs,
        MinhashIndexStore.bandsTable(spark, path)))
  }
}
