package graft.sources

import graft.SparkSpecBase
import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** Crash-window spec for the compaction rename swap: construct every
  * intermediate on-disk state the swap can strand (kill between any
  * two steps), run [[SwapRecovery.recover]], and assert the index
  * serves EXACTLY what a fresh build over the shrunken corpus serves.
  * The tombstone mask must hold across every state — no crash window
  * may resurrect a retracted document.
  */
class SwapRecoverySpec extends SparkSpecBase {
  import spark.implicits._

  private def freshPath(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_swap_$tag").toString

  private lazy val docs = Tables.documents(spark, sfDir)
  private lazy val delta = docs.filter(col("doc_id") % 10 === 0)
  private lazy val removed = docs.filter(col("doc_id") % 10 === 5)
    .select(col("doc_id"))

  private def serve(path: String): Seq[(Long, Long, Double, Boolean)] =
    Dedup.minhashNearDupsDelta(delta, docs,
        MinhashIndexStore.bandsTable(spark, path))
      .orderBy("doc_id").as[(Long, Long, Double, Boolean)].collect().toSeq

  private lazy val freshAnswer: Seq[(Long, Long, Double, Boolean)] = {
    val p = freshPath("fresh")
    MinhashIndexStore.build(
      docs.filter(col("doc_id") % 10 =!= 0 && col("doc_id") % 10 =!= 5), p)
    serve(p)
  }

  /** A tombstoned index plus the compacted staging dir — the state
    * just before the first rename (every crash state derives from it
    * by applying a prefix of the remaining steps by hand).
    */
  private def stagedIndex(tag: String): (String, org.apache.hadoop.fs.FileSystem) = {
    val p = freshPath(tag)
    MinhashIndexStore.build(docs.filter(col("doc_id") % 10 =!= 0), p)
    MinhashIndexStore.delete(removed, p)
    MinhashIndexStore.bandsTable(spark, p)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("band").parquet(s"$p/bands_compacted")
    (p, SwapRecovery.fsOf(spark, p))
  }

  private def hp(s: String) = new org.apache.hadoop.fs.Path(s)

  test("crash before the swap began: staging dropped, mask still serves") {
    val (p, _) = stagedIndex("s1")
    assert(SwapRecovery.recover(spark, p, "bands") == "dropped_staging")
    assert(serve(p) == freshAnswer)
    assert(!new java.io.File(s"$p/bands_compacted").exists())
  }

  test("crash mid-swap (live renamed away): staging promoted, no resurrection") {
    val (p, fs) = stagedIndex("s2")
    fs.rename(hp(s"$p/bands"), hp(s"$p/bands_old"))
    assert(SwapRecovery.recover(spark, p, "bands") == "promoted_staging")
    assert(serve(p) == freshAnswer)
    // the retracted rows are physically gone after promotion
    assert(spark.read.parquet(s"$p/bands")
      .filter(col("doc_id") % 10 === 5).count() == 0L)
  }

  test("crash before cleanup (both live and old): old dropped") {
    val (p, fs) = stagedIndex("s3")
    fs.rename(hp(s"$p/bands"), hp(s"$p/bands_old"))
    fs.rename(hp(s"$p/bands_compacted"), hp(s"$p/bands"))
    assert(SwapRecovery.recover(spark, p, "bands") == "dropped_old")
    assert(serve(p) == freshAnswer)
    assert(!new java.io.File(s"$p/bands_old").exists())
  }

  test("only <layer>_old on disk is unreachable — recover refuses to guess") {
    // the five-step sequence can never strand this state (once live is
    // renamed aside, staging exists until promoted; after promotion
    // live exists) — restoring _old blind would be safe only while the
    // tombstone mask is guaranteed present, which recover can't verify
    val (p, fs) = stagedIndex("s5")
    fs.rename(hp(s"$p/bands"), hp(s"$p/bands_old"))
    fs.delete(hp(s"$p/bands_compacted"), true)
    intercept[IllegalStateException] {
      SwapRecovery.recover(spark, p, "bands")
    }
  }

  test("compact on an unrecoverable stranded layout aborts before the tombstone delete") {
    // strand all three dirs at once (out-of-band surgery): the
    // entry-recover refuses, compact throws, and the tombstone mask
    // MUST survive — falling through would resurrect retracted rows
    val (p, fs) = stagedIndex("s6")
    fs.mkdirs(hp(s"$p/bands_old"))
    intercept[IllegalStateException] {
      MinhashIndexStore.compact(spark, p)
    }
    assert(new java.io.File(s"$p/tombstones").exists(),
      "tombstones must outlive an aborted compact")
    assert(serve(p) == freshAnswer, "the mask must still serve")
  }

  test("renameOrThrow surfaces a failed rename instead of falling through") {
    // the local FS masks every false-return case (its rename falls
    // back to a parent-creating copy, and renaming onto an existing
    // dir NESTS — the FS-dependent hazards that make the entry-recover
    // + checked-rename pairing necessary), so pin the contract against
    // an FS that reports failure the way HDFS does: a Boolean false
    val refusing = new org.apache.hadoop.fs.RawLocalFileSystem() {
      override def rename(src: org.apache.hadoop.fs.Path,
          dst: org.apache.hadoop.fs.Path): Boolean = false
    }
    refusing.initialize(new java.net.URI("file:///"),
      spark.sparkContext.hadoopConfiguration)
    val err = intercept[IllegalStateException] {
      SwapRecovery.renameOrThrow(refusing, hp("/tmp/a"), hp("/tmp/b"))
    }
    assert(err.getMessage.contains("aborting"))
  }

  test("a refused promote in the repair throws and keeps both _old and _compacted") {
    // mid-swap layout, repaired through a filesystem whose rename of the
    // staged dir returns false: an unchecked promote would fall through
    // and delete _old, stranding the store with neither live nor old
    val (p, fs) = stagedIndex("s7")
    fs.rename(hp(s"$p/bands"), hp(s"$p/bands_old"))
    intercept[IllegalStateException] {
      SwapRecovery.recover(spark, RenameRefusingFs.path(spark, p), "bands")
    }
    assert(new java.io.File(s"$p/bands_old").exists())
    assert(new java.io.File(s"$p/bands_compacted").exists())
    assert(SwapRecovery.recover(spark, p, "bands") == "promoted_staging")
    assert(serve(p) == freshAnswer)
  }

  test("a refused layer promote rolls the live layer back; it serves unchanged") {
    val (p, _) = stagedIndex("s8")
    intercept[IllegalStateException] {
      StoreLayers.swap(spark, RenameRefusingFs.path(spark, p), "bands")(_ => ())
    }
    assert(!new java.io.File(s"$p/bands_old").exists())
    assert(serve(p) == freshAnswer)
    // the next mutation's lease repair drops the staged copy
    MinhashIndexStore.compact(spark, p)
    assert(!new java.io.File(s"$p/bands_compacted").exists())
    assert(serve(p) == freshAnswer)
  }

  test("healthy layout is a no-op; completed compact still serves") {
    val (p, _) = stagedIndex("s4")
    // run the real compact to completion, then recover — nothing to do
    MinhashIndexStore.compact(spark, p)
    assert(SwapRecovery.recover(spark, p, "bands") == "clean")
    assert(serve(p) == freshAnswer)
  }

  // the single-layer fold-and-swap of a mergeable-state store, on the
  // batch-keyed layout a stream maintains: a base layer, a drop and a
  // takedown, each in its own batch=<id> dir
  private def survivors = docs.filter(col("doc_id") % 10 =!= 5)

  private def keyedMixture(tag: String): (String, org.apache.hadoop.fs.FileSystem) = {
    val p = freshPath(tag)
    MixtureStore.appendBatch(docs.filter(col("doc_id") % 10 =!= 0), p, -1L)
    MixtureStore.appendBatch(docs.filter(col("doc_id") % 10 === 0), p, 0L)
    MixtureStore.deleteBatch(docs.filter(col("doc_id") % 10 === 5), p, 1L)
    (p, SwapRecovery.fsOf(spark, p))
  }

  private def mixture(path: String): Seq[org.apache.spark.sql.Row] =
    MixtureStore.served(spark, path).orderBy("lang", "source").collect().toSeq

  private lazy val freshMixture: Seq[org.apache.spark.sql.Row] = {
    val p = freshPath("mix_fresh")
    MixtureStore.build(survivors, p)
    mixture(p)
  }

  /** The fold the store compacts to, staged the way its compaction does. */
  private def stageFold(p: String, folded: org.apache.spark.sql.DataFrame): Unit =
    folded.withColumn("batch", lit(-1L))
      .write.partitionBy("batch").parquet(s"$p/slices_compacted")

  private def assertCompactedAtBase(p: String): Unit = {
    val layer = spark.read.parquet(s"$p/slices")
    assert(layer.select("batch").distinct().as[Long].collect().toSeq == Seq(-1L))
    assert(layer.count() == freshMixture.size.toLong)
    assert(mixture(p) == freshMixture)
  }

  test("keyed mergeable store: a stranded <layer>_compacted is dropped, compact serves the fresh fold") {
    val (p, _) = keyedMixture("m1")
    // a crash while staging: a PARTIAL fold (one language) is stranded
    // beside the live layer; promoting it would lose every other slice
    stageFold(p, MixtureStore.slices(spark, p).filter(col("lang") === "en"))
    MixtureStore.compact(spark, p)
    assert(!new java.io.File(s"$p/slices_compacted").exists())
    assertCompactedAtBase(p)
  }

  test("keyed mergeable store: <layer>_old + <layer>_compacted is promoted, compact serves the fresh fold") {
    val (p, fs) = keyedMixture("m2")
    // a crash mid-swap: the full fold was staged, the live layer
    // renamed aside, and staging never promoted
    stageFold(p, MixtureStore.slices(spark, p))
    fs.rename(hp(s"$p/slices"), hp(s"$p/slices_old"))
    MixtureStore.compact(spark, p)
    assert(!new java.io.File(s"$p/slices_old").exists())
    assertCompactedAtBase(p)
  }
}
