package graft.streaming

import graft.SparkSpecBase
import graft.operators.{CorpusStats, Dedup}
import graft.sources.{GramStore, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Mid-batch CRASH injection for the streamed maintenance paths — the
  * SwapRecoverySpec discipline applied to the foreachBatch folds:
  * deterministically KILL the batch at a chosen write boundary (after
  * some writes are durable, before the checkpoint commits), RESTART
  * the same stream from its checkpoint, and assert the redelivered
  * batch lands the fold EXACTLY — equal to the batch operator's
  * answer, not merely "a" state. This is the property the
  * batch-id-keyed Overwrite layout exists to provide: a marker-file
  * guard has an unavoidable append→marker window where a replay
  * double-folds (silently corrupting abelian counts/moments); keyed
  * Overwrite makes the redelivery re-land the SAME layer bytes.
  *
  * Boundaries injected for keep-best: after the index fold (write 3 —
  * the exact window the round-12 review flagged: index appended,
  * labels/delta layers not yet written) and after the retract delta
  * (write 5 — deltas half-written). The abelian-store twin injects
  * after the Gram moment fold lands but before its checkpoint commit —
  * the window where a double fold would double every moment.
  */
class StreamCrashRecoverySpec extends SparkSpecBase {
  import spark.implicits._

  private def keepBest(docs: DataFrame): Set[Long] = {
    val slim = docs.select(col("doc_id"), col("text"))
    val quality = slim.select(col("doc_id"),
      CorpusStats.qualityScore(col("text")).as("quality_score"))
    Dedup.minhashKeepBest(slim, quality)
      .select("doc_id").as[Long].collect().toSet
  }

  private def crashKeepBestAt(boundary: Int): Unit = {
    val (staged, work, chk) = StreamReplay.kbPrepareRun(spark, sfDir, 2)
    val partsBefore = spark.conf.getOption("spark.sql.shuffle.partitions")
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet.toSet
    StreamReplay.kbWriteFault = (id, k) =>
      if (id == 1L && k == boundary)
        throw new RuntimeException(s"injected-crash-at-write-$boundary")
    try {
      val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        StreamReplay.kbRunStream(spark, sfDir, staged, work, chk)
      }
      assert(err.getMessage.contains("injected-crash") ||
        Option(err.getCause).exists(_.getMessage != null) &&
          err.getCause.getMessage.contains("injected-crash"),
        s"stream must die on the injected fault, got: ${err.getMessage}")
    } finally StreamReplay.kbWriteFault = (_, _) => ()
    // a failed batch still cleans up: the run's conf scope is restored,
    // and the batch frame and the pins its body made are released
    // (lineage-cutting localCheckpoints of the iterative solves are
    // not pins and stay, like in a successful batch)
    val leaked = spark.sparkContext.getPersistentRDDs
      .filter { case (id, rdd) => !persistedBefore(id) && !rdd.isCheckpointed }
    assert(spark.conf.getOption("spark.sql.shuffle.partitions") == partsBefore &&
      leaked.isEmpty,
      s"after the crash: partitions ${spark.conf.getOption("spark.sql.shuffle.partitions")}" +
        s" (was $partsBefore), ${leaked.size} persisted RDDs left: ${leaked.values.mkString(", ")}")
    // batch 1 is durable-but-uncommitted at the boundary: restart from
    // the SAME checkpoint redelivers it against the same work dir
    StreamReplay.kbRunStream(spark, sfDir, staged, work, chk)
    val folded = StreamReplay.kbFold(spark, work)
      .select("doc_id").as[Long].collect().toSet
    assert(folded == keepBest(Tables.documents(spark, sfDir)),
      s"fold after crash-at-$boundary + restart must equal the batch law")
  }

  test("keep-best: crash between the index fold and the delta writes, restart, exact fold") {
    crashKeepBestAt(3)
  }

  test("keep-best: crash after the retract delta (upserts unwritten), restart, exact fold") {
    crashKeepBestAt(5)
  }

  test("abelian store fold: crash after the moment fold lands, redelivery re-lands it exactly") {
    val emb = Tables.embeddings(spark, sfDir)
    val stage = java.nio.file.Files.createTempDirectory("graft_crash_drops")
    (0 to 2).foreach { i =>
      ReplayDriver.stageFile(emb.filter(col("vec_id") % 3 === i),
        stage, "drop_", i)
    }
    val drops = stage.toString
    def freshStore(tag: String): (String, String) = (
      java.nio.file.Files.createTempDirectory(s"graft_crash_$tag").toString
        + "/store",
      java.nio.file.Files.createTempDirectory(s"graft_crash_chk_$tag").toString)

    // control: the same stream with no fault
    val (ctlStore, ctlChk) = freshStore("ctl")
    StreamReplay.runStoreDropStream(spark, drops, ctlStore, ctlChk,
      GramStore.appendBatch(_, _, _))
    val want = GramStore.moments(spark, ctlStore)

    // crashed run: batch 1's fold is ON DISK when the stream dies, but
    // the checkpoint never committed it — the marker-guard corruption
    // window. Restart redelivers batch 1; keyed Overwrite re-lands it.
    val (store, chk) = freshStore("crash")
    StreamReplay.storeFoldFault = id =>
      if (id == 1L) throw new RuntimeException("injected-crash-post-fold")
    try intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      StreamReplay.runStoreDropStream(spark, drops, store, chk,
        GramStore.appendBatch(_, _, _))
    } finally StreamReplay.storeFoldFault = _ => ()
    // the durable-but-uncommitted fold is really there (the hazard is real)
    assert(new java.io.File(s"$store/moments/batch=1").exists(),
      "the injected crash must land AFTER the fold is durable")
    StreamReplay.runStoreDropStream(spark, drops, store, chk,
      GramStore.appendBatch(_, _, _))
    val got = GramStore.moments(spark, store)
    // bit-exact: the redelivered batch re-landed the SAME layer, so the
    // crash+restart store is indistinguishable from the no-crash one
    assert(got._1 == want._1)
    assert(got._2.toSeq == want._2.toSeq)
    assert(got._3.toSeq == want._3.toSeq)
  }

  test("semilattice store fold: crash after the sketch fold lands, redelivery re-lands it") {
    // the third state class (k-min sets + an ADDITIVE n_rows counter):
    // the hash sets are fold-idempotent, so the column a double fold
    // would silently corrupt is n_rows — exactly what the keyed
    // Overwrite layout protects. Same injection as the Gram twin:
    // batch 1's layer is durable when the stream dies, the checkpoint
    // never committed it, the restart must re-land not re-add.
    val docs = Tables.documents(spark, sfDir)
    val stage = java.nio.file.Files.createTempDirectory("graft_crash_kmvdrops")
    (0 to 2).foreach { i =>
      ReplayDriver.stageFile(docs.filter(col("doc_id") % 3 === i),
        stage, "drop_", i)
    }
    val drops = stage.toString
    def freshStore(tag: String): (String, String) = (
      java.nio.file.Files.createTempDirectory(s"graft_crash_$tag").toString
        + "/store",
      java.nio.file.Files.createTempDirectory(s"graft_crash_chk_$tag").toString)

    val (ctlStore, ctlChk) = freshStore("kmvctl")
    StreamReplay.runStoreDropStream(spark, drops, ctlStore, ctlChk,
      graft.sources.SketchStore.appendBatch(_, _, _))
    val want = graft.sources.SketchStore.served(spark, ctlStore)
      .orderBy("lang").collect().toSeq

    val (store, chk) = freshStore("kmvcrash")
    StreamReplay.storeFoldFault = id =>
      if (id == 1L) throw new RuntimeException("injected-crash-post-fold")
    try intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      StreamReplay.runStoreDropStream(spark, drops, store, chk,
        graft.sources.SketchStore.appendBatch(_, _, _))
    } finally StreamReplay.storeFoldFault = _ => ()
    assert(new java.io.File(s"$store/sketch/batch=1").exists(),
      "the injected crash must land AFTER the fold is durable")
    StreamReplay.runStoreDropStream(spark, drops, store, chk,
      graft.sources.SketchStore.appendBatch(_, _, _))
    val got = graft.sources.SketchStore.served(spark, store)
      .orderBy("lang").collect().toSeq
    assert(got == want,
      "crash+restart must serve the no-crash dashboard (n_rows not doubled)")
  }
}
