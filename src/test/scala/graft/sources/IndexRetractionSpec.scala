package graft.sources

import graft.SparkSpecBase
import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.functions._

/** Tombstone retraction for the embedding-LSH and IVF/PQ index
  * families (the MinHash twin lives in DedupIncrementalSpec): a
  * takedown must (1) mask the serve view exactly like the equivalent
  * physical purge, (2) be OBSERVABLE (the unmasked index answers
  * differently on this corpus — else the spec proves nothing), and
  * (3) compact to a physically-purged index that serves identically
  * with the frozen quantizer untouched.
  */
class IndexRetractionSpec extends SparkSpecBase {
  import spark.implicits._

  private def freshPath(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_retr_$tag").toString

  test("embedding-LSH: delete masks like a fresh build over the shrunken corpus; compact purges") {
    val emb = Tables.embeddings(spark, sfDir)
    val bits = Dedup.adaptiveBits(emb.filter(col("embedding").isNotNull).count())
    val delta = emb.filter(col("vec_id") % 10 === 0)
    val corpus = emb.filter(col("vec_id") % 10 =!= 0)
    val removed = emb.filter(col("vec_id") % 10 === 5).select(col("vec_id"))
    val delPath = freshPath("elsh_del")
    EmbLshIndexStore.build(corpus, delPath, bits)
    EmbLshIndexStore.delete(removed, delPath)
    def serve(sigs: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double)] =
      Dedup.embeddingNearDupsDelta(delta, emb, sigs, bits)
        .orderBy("a_id", "b_id").as[(Long, Long, Double)].collect().toSeq
    val masked = serve(EmbLshIndexStore.sigsTable(spark, delPath))
    // law: masked serve == fresh index over the survivors only
    val freshP = freshPath("elsh_fresh")
    EmbLshIndexStore.build(corpus.filter(col("vec_id") % 10 =!= 5), freshP, bits)
    val fresh = serve(EmbLshIndexStore.sigsTable(spark, freshP))
    assert(masked == fresh)
    // the retraction is observable on this corpus
    val unmasked = serve(spark.read.parquet(s"$delPath/sigs")
      .withColumn("table_id", col("table_id").cast("int")))
    assert(unmasked != masked)
    // compact: same serve answer, tombstones gone, rows physically gone
    EmbLshIndexStore.compact(spark, delPath)
    assert(!new java.io.File(s"$delPath/tombstones").exists())
    assert(serve(EmbLshIndexStore.sigsTable(spark, delPath)) == fresh)
    assert(spark.read.parquet(s"$delPath/sigs")
      .filter(col("vec_id") % 10 === 5).count() == 0L)
  }

  test("IVF: delete masks lists and codes; compact purges with the quantizer frozen") {
    val emb = Tables.embeddings(spark, sfDir)
    val removed = emb.filter(col("vec_id") % 10 === 5).select(col("vec_id"))
    val probes = emb.filter(col("vec_id") < 8)
    val path = freshPath("ivf_del")
    IvfIndexStore.build(emb, path)
    val beforeTopK = IvfIndexStore.servedTopK(spark, path, probes)
      .orderBy("probe_id", "rnk").as[(Long, Long, Double, Int)].collect().toSeq
    IvfIndexStore.delete(removed, path)
    val masked = IvfIndexStore.servedTopK(spark, path, probes)
      .orderBy("probe_id", "rnk").as[(Long, Long, Double, Int)].collect().toSeq
    // observable: the pre-delete serve surfaced retracted candidates
    assert(beforeTopK.exists(_._2 % 10 == 5))
    assert(masked != beforeTopK)
    assert(!masked.exists(_._2 % 10 == 5))
    // the PQ serve path masks the codes scan the same way
    val maskedPq = IvfIndexStore.servedPqTopK(spark, path, probes)
      .select(col("probe_id"), col("cand_id"))
      .as[(Long, Long)].collect().toSeq
    assert(maskedPq.nonEmpty && !maskedPq.exists(_._2 % 10 == 5))
    // compact: identical serve, frozen centroids/grid, rows purged
    val centsBefore = IvfIndexStore.centroidsTable(spark, path)
      .orderBy("cell").collect().toSeq
    IvfIndexStore.compact(spark, path)
    assert(!new java.io.File(s"$path/tombstones").exists())
    val compacted = IvfIndexStore.servedTopK(spark, path, probes)
      .orderBy("probe_id", "rnk").as[(Long, Long, Double, Int)].collect().toSeq
    assert(compacted == masked)
    val centsAfter = IvfIndexStore.centroidsTable(spark, path)
      .orderBy("cell").collect().toSeq
    assert(centsAfter == centsBefore)
    assert(spark.read.parquet(s"$path/cells")
      .filter(col("vec_id") % 10 === 5).count() == 0L)
    assert(spark.read.parquet(s"$path/codes")
      .filter(col("vec_id") % 10 === 5).count() == 0L)
  }

  test("flat stores: the serve mask returns to zero after each compact, across takedown epochs") {
    // the r15 verdict's mask-lifecycle check applied to the two FLAT
    // stores (EmbLsh, IVF — keyed stores are covered by the
    // purged-gated expiry tests): the serve-side broadcast anti-join
    // must not grow monotonically — each compact physically purges
    // and CLEARS all ledgers, so mask cardinality returns to 0
    val emb = Tables.embeddings(spark, sfDir)
    def mask(p: String): Long =
      if (!new java.io.File(s"$p/tombstones").exists()) 0L
      else Tombstones.liveMask(spark, p, "vec_id").count()
    val ep = freshPath("elsh_epochs")
    val bits = Dedup.adaptiveBits(emb.filter(col("embedding").isNotNull).count())
    EmbLshIndexStore.build(emb, ep, bits)
    val ip = freshPath("ivf_epochs")
    IvfIndexStore.build(emb, ip)
    Seq(5, 7).foreach { res => // two takedown epochs
      val removed = emb.filter(col("vec_id") % 10 === res)
        .select(col("vec_id"))
      EmbLshIndexStore.delete(removed, ep)
      IvfIndexStore.delete(removed, ip)
      assert(mask(ep) > 0L && mask(ip) > 0L, "takedown must mask")
      EmbLshIndexStore.compact(spark, ep)
      IvfIndexStore.compact(spark, ip)
      assert(mask(ep) == 0L, s"elsh mask must clear after epoch $res")
      assert(mask(ip) == 0L, s"ivf mask must clear after epoch $res")
      assert(spark.read.parquet(s"$ep/sigs")
        .filter(col("vec_id") % 10 === res).count() == 0L)
      assert(spark.read.parquet(s"$ip/cells")
        .filter(col("vec_id") % 10 === res).count() == 0L)
    }
  }

  test("IVF takedown redelivery is a no-op (the streamed-feed retry contract)") {
    // the streamed takedown gate (stream_index_delete) relies on
    // delete being idempotent by construction: the serve view reads
    // tombstones through distinct(), so a redelivered batch re-appends
    // ids that already mask
    val emb = Tables.embeddings(spark, sfDir)
    val removed = emb.filter(col("vec_id") % 10 === 5).select(col("vec_id"))
    val probes = emb.filter(col("vec_id") < 8)
    val path = freshPath("ivf_redeliver")
    IvfIndexStore.build(emb, path)
    IvfIndexStore.delete(removed, path)
    val once = IvfIndexStore.servedTopK(spark, path, probes)
      .orderBy("probe_id", "rnk").as[(Long, Long, Double, Int)].collect().toSeq
    IvfIndexStore.delete(removed, path) // redelivery
    val twice = IvfIndexStore.servedTopK(spark, path, probes)
      .orderBy("probe_id", "rnk").as[(Long, Long, Double, Int)].collect().toSeq
    assert(twice == once)
  }

  test("keyed minhash store: compact preserves batch keying AND redelivery idempotency") {
    val p = freshPath("mh_keyed")
    val docs = Tables.documents(spark, sfDir)
    MinhashIndexStore.buildKeyed(docs.filter(col("doc_id") % 10 =!= 0), p)
    val batch0 = docs.filter(col("doc_id") % 20 === 0)
    MinhashIndexStore.appendBatch(batch0, p, 0L)
    // takedown + compact: the rewrite must land KEYED with batch
    // values PRESERVED (a flat rewrite killed the stream at its next
    // appendBatch; a batch=-1 fold broke redelivery idempotency)
    MinhashIndexStore.delete(
      docs.filter(col("doc_id") % 30 === 0).select(col("doc_id")), p)
    MinhashIndexStore.compact(spark, p)
    assert(StoreLayout.isKeyed(spark, p, "bands"),
      "compact flattened a batch-keyed bands layer")
    def rows(path: String) = MinhashIndexStore.bandsTable(spark, path)
      .select("doc_id", "band", "s0", "s1", "s2", "s3")
      .as[(Long, Int, Long, Long, Long, Long)].collect().toSet
    // crash-redelivery of the PRE-compact batch is a no-op: it
    // re-lands its own (rewritten) layer, and the retained tombstone
    // mask keeps the takedown from resurfacing
    val afterCompact = rows(p)
    MinhashIndexStore.appendBatch(batch0, p, 0L)
    assert(rows(p) == afterCompact, "redelivered batch changed the serve set")
    // the next NEW micro-batch folds in without the mix guard firing,
    // and the serve set equals a fresh masked build over the union
    // (the retained mask also applies to the new batch's rows — a
    // takedown is permanent)
    MinhashIndexStore.appendBatch(docs.filter(col("doc_id") % 20 === 10), p, 1L)
    val fresh = freshPath("mh_keyed_fresh")
    MinhashIndexStore.build(docs.filter(col("doc_id") % 30 =!= 0), fresh)
    assert(rows(p) == rows(fresh))
  }

  test("keyed framesig store: compact preserves batch keying AND redelivery idempotency") {
    val p = freshPath("fsig_keyed")
    val docs = Tables.documents(spark, sfDir)
    val media = graft.operators.Multimodal.asMedia(docs)
    FrameSigIndexStore.buildKeyed(
      media.filter(col("doc_id") % 10 =!= 0), p)
    val batch0 = media.filter(col("doc_id") % 20 === 0)
    FrameSigIndexStore.appendBatch(batch0, p, 0L)
    FrameSigIndexStore.delete(
      docs.filter(col("doc_id") % 30 === 0).select(col("doc_id")), p)
    FrameSigIndexStore.compact(spark, p)
    assert(StoreLayout.isKeyed(spark, p, "bands"),
      "compact flattened a batch-keyed bands layer")
    def rows(path: String) = FrameSigIndexStore.bandsTable(spark, path)
      .select("doc_id", "frame_idx", "band", "bv")
      .as[(Long, Int, Int, Long)].collect().toSet
    // crash-redelivery of the PRE-compact batch is a no-op: the batch
    // re-lands its own layer, the retained tombstone mask keeps the
    // takedown from resurfacing
    val afterCompact = rows(p)
    assert(!afterCompact.exists(_._1 % 30 == 0), "takedown must bite")
    FrameSigIndexStore.appendBatch(batch0, p, 0L)
    assert(rows(p) == afterCompact, "redelivered batch changed the serve set")
    // the next NEW micro-batch folds in without the mix guard firing
    FrameSigIndexStore.appendBatch(
      media.filter(col("doc_id") % 20 === 10), p, 1L)
    assert(!rows(p).exists(_._1 % 30 == 0),
      "retained mask must keep masking new batches")
  }

  test("keyed IVF store: compact preserves batch keying AND redelivery idempotency") {
    // the streamed maintainer's layout (buildKeyed + appendCellsBatch)
    // has no codes/ layer and a batch-keyed cells/ layer: compact must
    // purge it in place, keep every batch value, and keep the mask
    val p = freshPath("ivf_keyed")
    val emb = Tables.embeddings(spark, sfDir)
    IvfIndexStore.buildKeyed(emb.filter(col("vec_id") % 10 =!= 0), p)
    val batch0 = emb.filter(col("vec_id") % 20 === 0)
    IvfIndexStore.appendCellsBatch(spark, batch0, p, 0L)
    IvfIndexStore.delete(
      emb.filter(col("vec_id") % 30 === 0).select(col("vec_id")), p)
    assert(spark.read.parquet(s"$p/cells")
      .filter(col("vec_id") % 30 === 0).count() > 0L,
      "the takedown must hit stored rows for this gate")
    IvfIndexStore.compact(spark, p)
    assert(StoreLayout.isKeyed(spark, p, "cells"),
      "compact flattened a batch-keyed cells layer")
    assert(spark.read.parquet(s"$p/cells").select("batch").distinct()
      .as[Long].collect().toSet == Set(-1L, 0L),
      "compact must keep every batch value")
    assert(spark.read.parquet(s"$p/cells")
      .filter(col("vec_id") % 30 === 0).count() == 0L,
      "compact must purge the retracted rows physically")
    def rows(path: String) = IvfIndexStore.cellsTable(spark, path)
      .select("vec_id", "cell").as[(Long, Long)].collect().toSet
    // crash-redelivery of the PRE-compact batch is a no-op: it re-lands
    // its own layer, the retained mask keeps the takedown masked
    val afterCompact = rows(p)
    IvfIndexStore.appendCellsBatch(spark, batch0, p, 0L)
    assert(rows(p) == afterCompact, "redelivered batch changed the serve set")
    IvfIndexStore.appendCellsBatch(spark,
      emb.filter(col("vec_id") % 20 === 10), p, 1L)
    assert(!rows(p).exists(_._1 % 30 == 0),
      "retained mask must keep masking new batches")
  }

  test("IVF flat append onto a batch-keyed store is refused, nothing written") {
    val emb = Tables.embeddings(spark, sfDir)
    val p = freshPath("ivf_mix")
    IvfIndexStore.buildKeyed(emb.filter(col("vec_id") % 10 =!= 0), p)
    val before = IvfIndexStore.cellsTable(spark, p).count()
    intercept[IllegalStateException] {
      IvfIndexStore.append(spark, emb.filter(col("vec_id") % 10 === 0), p)
    }
    assert(new java.io.File(s"$p/cells").listFiles()
      .forall(f => f.getName.startsWith("batch=") || f.getName.startsWith("_") ||
        f.getName.startsWith(".")), "a refused append left flat files")
    assert(IvfIndexStore.cellsTable(spark, p).count() == before)
  }

  test("compact releases its probe pin, for every store") {
    // every compact pins one tombstone-bounded probe frame; it must be
    // released before compact returns, on the rewrite and the no-op path
    val docs = Tables.documents(spark, sfDir)
    val emb = Tables.embeddings(spark, sfDir)
    val media = graft.operators.Multimodal.asMedia(docs)
    val bits = Dedup.adaptiveBits(emb.filter(col("embedding").isNotNull).count())
    val doomedDocs = docs.filter(col("doc_id") % 10 === 5).select(col("doc_id"))
    val doomedVecs = emb.filter(col("vec_id") % 10 === 5).select(col("vec_id"))
    val mh = freshPath("pin_mh")
    MinhashIndexStore.buildKeyed(docs, mh)
    MinhashIndexStore.delete(doomedDocs, mh)
    val fsig = freshPath("pin_fsig")
    FrameSigIndexStore.buildKeyed(media, fsig)
    FrameSigIndexStore.delete(doomedDocs, fsig)
    val ivf = freshPath("pin_ivf")
    IvfIndexStore.build(emb, ivf)
    IvfIndexStore.delete(doomedVecs, ivf)
    val elsh = freshPath("pin_elsh")
    EmbLshIndexStore.build(emb, elsh, bits)
    EmbLshIndexStore.delete(doomedVecs, elsh)
    def persisted: Int = spark.sparkContext.getPersistentRDDs.size
    Seq[(String, () => Unit)](
      "minhash" -> (() => MinhashIndexStore.compact(spark, mh)),
      "framesig" -> (() => FrameSigIndexStore.compact(spark, fsig)),
      "ivf" -> (() => IvfIndexStore.compact(spark, ivf)),
      "elsh" -> (() => EmbLshIndexStore.compact(spark, elsh))
    ).foreach { case (store, compact) =>
      Seq("rewrite", "repeat").foreach { pass =>
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
        val before = persisted
        compact()
        assert(persisted == before, s"$store $pass compact leaked a persisted RDD")
      }
    }
  }

  private def layerFiles(dir: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    val base = java.nio.file.Paths.get(dir)
    val st = java.nio.file.Files.walk(base)
    try st.iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_))
      .map(_.toString).toSet
    finally st.close()
  }

  test("keyed minhash: repeat compact is a no-op; batch redelivery re-arms it") {
    // the r14 review finding: keyed stores retain the mask, so
    // hasTombstones is true forever and every later compact paid a
    // full layer rewrite with zero new retractions. The probe makes
    // the repeat a no-op — and stays exact under redelivery (a
    // re-landed pre-compact batch carries retracted rows the probe
    // must see, which a compacted-through marker would miss).
    val p = freshPath("mh_noop")
    val docs = Tables.documents(spark, sfDir)
    MinhashIndexStore.buildKeyed(docs.filter(col("doc_id") % 10 =!= 0), p)
    val batch0 = docs.filter(col("doc_id") % 20 === 0)
    MinhashIndexStore.appendBatch(batch0, p, 0L)
    MinhashIndexStore.delete(
      docs.filter(col("doc_id") % 30 === 0).select(col("doc_id")), p)
    MinhashIndexStore.compact(spark, p)
    val afterFirst = layerFiles(s"$p/bands")
    MinhashIndexStore.compact(spark, p) // zero new retractions
    assert(layerFiles(s"$p/bands") == afterFirst,
      "repeat compact with nothing to fold must not rewrite the layer")
    // crash-redelivery re-lands batch 0's retracted rows: the probe
    // must see them and the next compact must physically purge again
    MinhashIndexStore.appendBatch(batch0, p, 0L)
    assert(spark.read.parquet(s"$p/bands")
      .filter(col("doc_id") % 30 === 0 && col("doc_id") % 20 === 0)
      .count() > 0L, "redelivery must re-land retracted rows for this gate")
    MinhashIndexStore.compact(spark, p)
    assert(spark.read.parquet(s"$p/bands")
      .filter(col("doc_id") % 30 === 0).count() == 0L,
      "post-redelivery compact must purge the re-landed rows")
  }

  test("minhash expireTombstones: mask shrinks to outstanding takedowns; serve set unchanged") {
    val p = freshPath("mh_expire")
    val docs = Tables.documents(spark, sfDir)
    MinhashIndexStore.buildKeyed(docs.filter(col("doc_id") % 10 =!= 0), p)
    MinhashIndexStore.appendBatch(docs.filter(col("doc_id") % 20 === 0), p, 0L)
    // takedowns split into two classes on this layout: ids %60==0 have
    // live rows (batch 0) — compact PURGES those; odd multiples of 30
    // were never ingested (%30==0 implies %10==0, absent from the
    // keyed build) — PRE-EMPTIVE takedowns, nothing to purge
    MinhashIndexStore.delete(
      docs.filter(col("doc_id") % 30 === 0).select(col("doc_id")), p)
    MinhashIndexStore.compact(spark, p)
    def rows() = MinhashIndexStore.bandsTable(spark, p)
      .select("doc_id", "band", "s0", "s1", "s2", "s3")
      .as[(Long, Int, Long, Long, Long, Long)].collect().toSet
    def mask() = Tombstones.liveMask(spark, p, "doc_id")
      .as[Long].collect().toSet
    val served = rows()
    val preEmptive = docs
      .filter(col("doc_id") % 30 === 0 && col("doc_id") % 60 =!= 0)
      .select(col("doc_id")).as[Long].collect().toSet
    assert(preEmptive.nonEmpty, "layout must produce pre-emptive takedowns")
    // caller-asserted redelivery horizon: every COMPACT-PURGED id
    // leaves the live mask; pre-emptive takedowns STAY (the r15 review
    // finding: rows-absent alone expired them and a later first-time
    // append served unmasked); the serve answer is unchanged
    MinhashIndexStore.expireTombstones(spark, p)
    assert(rows() == served)
    assert(mask() == preEmptive,
      "mask must shrink to exactly the never-purged pre-emptive takedowns")
    // expire is idempotent (append-only ledgers, distinct on read)
    MinhashIndexStore.expireTombstones(spark, p)
    assert(rows() == served)
    assert(mask() == preEmptive)
    // the pre-emptive guarantee: the content arrives LATER as a new
    // batch — it must still serve masked (its takedown never expired)
    MinhashIndexStore.appendBatch(
      docs.filter(col("doc_id") % 60 === 30), p, 1L)
    assert(!rows().exists(_._1 % 30 == 0),
      "first-time append of a pre-emptively taken-down id must stay masked")
    // and once a compact physically purges it, expire releases it
    MinhashIndexStore.compact(spark, p)
    MinhashIndexStore.expireTombstones(spark, p)
    assert(mask().forall(id => id % 60 != 30),
      "after its purge the pre-emptive takedown becomes expirable")
    // a NEW takedown after expiry still masks - only PURGED ids expire
    MinhashIndexStore.delete(
      docs.filter(col("doc_id") % 30 === 15).select(col("doc_id")), p)
    assert(!rows().exists(_._1 % 30 == 15), "fresh takedown must mask")
    assert(mask().nonEmpty)
    // and an expire BEFORE its compact must not release it (its rows
    // are still live in bands/ - nothing to expire yet)
    MinhashIndexStore.expireTombstones(spark, p)
    assert(!rows().exists(_._1 % 30 == 15),
      "expire must never release a takedown whose rows are still live")
  }

  test("epoched tombstones: re-delete after purge+expire re-masks; stale purge entries never release a later epoch") {
    // the r16 ADVICE finding: with unepoched id sets, liveMask =
    // tombstones ∖ expired could never re-mask an id whose first
    // takedown was purged + expired — a re-delete was silently
    // swallowed, and a second-epoch PRE-EMPTIVE takedown of
    // re-appended content served unmasked (the exact bug class the
    // purged gate closed for the first epoch, resurfacing across
    // epochs).
    val p = freshPath("mh_epoch")
    val docs = Tables.documents(spark, sfDir)
    val corpus = docs.filter(col("doc_id") % 10 === 1)
    MinhashIndexStore.buildKeyed(corpus, p)
    val ids = corpus.select(col("doc_id")).as[Long].collect().sorted
    val (vic, pre) = (ids(0), ids(1)) // re-delete victim / pre-emptive victim
    def mask() = Tombstones.liveMask(spark, p, "doc_id")
      .as[Long].collect().toSet
    def liveRows(id: Long) = MinhashIndexStore.bandsTable(spark, p)
      .filter(col("doc_id") === id).count()
    // epoch 1: delete both, purge, expire — mask empty
    MinhashIndexStore.delete(Seq(vic, pre).toDF("doc_id"), p)
    MinhashIndexStore.compact(spark, p)
    MinhashIndexStore.expireTombstones(spark, p)
    assert(mask().isEmpty, "epoch-1 purged takedowns must expire")
    // epoch 2a: the victim's content is re-ingested (a legitimate
    // re-append under the same id), then a FRESH takedown arrives
    MinhashIndexStore.appendBatch(corpus.filter(col("doc_id") === vic), p, 7L)
    assert(liveRows(vic) > 0L, "re-appended content must serve (no takedown outstanding)")
    MinhashIndexStore.delete(Seq(vic).toDF("doc_id"), p)
    assert(mask() == Set(vic), "a re-delete must re-enter the serve mask")
    assert(liveRows(vic) == 0L, "the second-epoch takedown must mask the re-appended rows")
    // and it is NOT expirable against the stale epoch-1 purge entry
    MinhashIndexStore.expireTombstones(spark, p)
    assert(mask() == Set(vic),
      "expire must not release a takedown epoch no compact has purged")
    // epoch 2b: a PRE-EMPTIVE re-delete (content not yet returned)
    MinhashIndexStore.delete(Seq(pre).toDF("doc_id"), p)
    MinhashIndexStore.expireTombstones(spark, p)
    assert(mask() == Set(vic, pre),
      "a second-epoch pre-emptive takedown must survive expiry " +
        "despite the stale first-epoch purge entry")
    // when the content returns, it must serve MASKED
    MinhashIndexStore.appendBatch(corpus.filter(col("doc_id") === pre), p, 8L)
    assert(liveRows(pre) == 0L,
      "re-appended content behind a second-epoch pre-emptive takedown " +
        "must stay masked")
    // and the normal lifecycle then releases both epochs cleanly
    MinhashIndexStore.compact(spark, p)
    MinhashIndexStore.expireTombstones(spark, p)
    assert(mask().isEmpty)
    assert(liveRows(vic) == 0L && liveRows(pre) == 0L)
  }

  test("framesig: repeat compact no-op + expire, via the shared tombstone layer") {
    val p = freshPath("fsig_expire")
    val docs = Tables.documents(spark, sfDir)
    val media = graft.operators.Multimodal.asMedia(docs)
    FrameSigIndexStore.buildKeyed(media.filter(col("doc_id") % 10 =!= 0), p)
    FrameSigIndexStore.appendBatch(media.filter(col("doc_id") % 20 === 0), p, 0L)
    FrameSigIndexStore.delete(
      docs.filter(col("doc_id") % 30 === 0).select(col("doc_id")), p)
    FrameSigIndexStore.compact(spark, p)
    val afterFirst = layerFiles(s"$p/bands")
    FrameSigIndexStore.compact(spark, p)
    assert(layerFiles(s"$p/bands") == afterFirst,
      "repeat compact with nothing to fold must not rewrite the layer")
    def rows() = FrameSigIndexStore.bandsTable(spark, p)
      .select("doc_id", "frame_idx", "band", "bv")
      .as[(Long, Int, Int, Long)].collect().toSet
    val served = rows()
    FrameSigIndexStore.expireTombstones(spark, p)
    assert(rows() == served)
    // same purged-gated expiry as minhash: only the ids compact
    // actually purged (%60==0 — present in batch 0) leave the mask;
    // pre-emptive takedowns (odd multiples of 30, never ingested) stay
    val mask = Tombstones.liveMask(spark, p, "doc_id")
      .as[Long].collect().toSet
    val preEmptive = docs
      .filter(col("doc_id") % 30 === 0 && col("doc_id") % 60 =!= 0)
      .select(col("doc_id")).as[Long].collect().toSet
    assert(mask == preEmptive,
      "mask must shrink to exactly the never-purged pre-emptive takedowns")
  }
}
