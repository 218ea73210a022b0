package graft.sources

import graft.operators.{MMRecord, Multimodal}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Sign-once / query-many persistence for the MULTIMODAL frame
  * near-dup index — the [[MinhashIndexStore]] pattern applied to the
  * perceptual-hash family of
  * [[graft.operators.Multimodal.nearDupFrames]]: the corpus media pays
  * the decode + frame-sample + block-hash pass once; each new asset
  * drop signs only itself and joins the stored band table. This gives
  * the LAST near-dup family (after text-minhash, embedding-LSH and
  * IVF/PQ) the full index lifecycle: build / [[append]] (rollover) /
  * [[delete]] (tombstone retraction) / [[compact]] (crash-safe swap),
  * all mutations under the single-writer [[IndexLease]].
  *
  * Layout under `path`:
  *
  *  - `bands/` — (doc_id, frame_idx, sig_lo, sig_hi, band, bv) parquet
  *    PARTITIONED BY band: one row per (frame, 16-bit signature band),
  *    4 rows ≈ 160 bytes per frame REGARDLESS of media size — at
  *    100 TB of video the index is a vanishing fraction of the corpus,
  *    and the per-band subtrees let a constrained replay process the
  *    candidate join band-by-band. The sig halves ride ON the band row
  *    so the Hamming verify needs no second fetch — unlike text
  *    near-dup, the verdict is pure signature arithmetic (media bytes
  *    are never re-read for the verify).
  *  - `tombstones/` — retracted doc ids ([[delete]]), masked on read.
  *
  * Determinism: the aHash-style block signature is integer math over
  * the frame bytes ([[Multimodal.frameSignatures]]), so a rebuilt
  * index is byte-identical and the delta query keeps a full
  * value-level oracle (the batch all-pairs SQL filtered to pairs that
  * touch the drop).
  */
object FrameSigIndexStore {

  /** Pigeonhole bound: 4×16-bit banding is lossless only to Hamming 3
    * — the same contract as the batch operator.
    */
  val MaxHamming: Int = 3

  /** Every layer this store may hold rows for a doc id in — the
    * purge/expiry universe, keyed by `doc_id` (see [[TombstonedLayers]]).
    * `bands/` always; a REP-GRAIN store ([[buildRepKeyed]]) adds
    * `sizes/`, and [[deleteMembers]] adds `sizes_deltas/`. A tombstoned
    * rep's size and delta rows are therefore purged with its band rows,
    * and an id only expires once absent from ALL of them (a compact
    * that rewrote only `bands/` left a stale size row that resurrected
    * in [[sizesTable]] after compact+expire shrank the mask).
    */
  private val index = TombstonedLayers("framesig", "doc_id",
    TombstonedLayers.partitioned("bands", "band", "int"),
    TombstonedLayers.Layer("sizes"),
    TombstonedLayers.Layer("sizes_deltas", Seq("takedown")))

  /** Deterministic per-dataset index location under the JVM temp dir. */
  def defaultPath(datasetDir: String): String =
    StorePaths.keyedTmp("framesig", datasetDir)

  /** Banded signature rows for any media frame set — the join-ready
    * layout shared by the stored corpus side and the in-plan delta
    * side. Zero shuffle: decode → frame-sample → block-hash → band
    * explode are all per-row map work; the media bytes never leave it.
    */
  def bandRows(media: Dataset[MMRecord]): DataFrame =
    Multimodal.frameBandRows(media)

  /** Sign the corpus media once and persist the band table. */
  def build(corpus: Dataset[MMRecord], path: String): Unit =
    index.overwrite(path)("bands" -> bandRows(corpus))

  /** [[build]] at most once per JVM per path (the
    * [[MinhashIndexStore.ensure]] memo contract).
    */
  def ensure(corpus: Dataset[MMRecord], path: String): Unit =
    index.once("plain", path)(build(corpus, path))

  /** The stored band table; retracted assets are masked by a broadcast
    * anti-join on the tombstone list — no index file rewritten.
    */
  def bandsTable(spark: SparkSession, path: String): DataFrame =
    index.table(spark, path)

  /** Fold a vetted asset drop INTO the stored index. Signatures are
    * deterministic and per-frame independent, so append ≡ rebuild over
    * the unioned corpus (spec-pinned). Lease-guarded like every
    * mutation.
    */
  def append(delta: Dataset[MMRecord], path: String): Unit =
    index.append(delta.sparkSession, path, "append")(
      Seq("bands" -> bandRows(delta)))

  /** [[append]] for STREAMED maintenance (the
    * [[MinhashIndexStore.appendBatch]] law): the drop's band rows land
    * under `bands/batch=<id>/band=<n>` with Overwrite, so a
    * crash-redelivered batch RE-LANDS its own layer instead of
    * double-appending duplicate band rows. `batchId = -1` is the
    * pre-built base layer ([[buildKeyed]]).
    */
  def appendBatch(delta: Dataset[MMRecord], path: String,
      batchId: Long): Unit =
    index.append(delta.sparkSession, path, "append-batch", Some(batchId))(
      Seq("bands" -> bandRows(delta)))

  /** [[build]] in the batch-keyed layout (base layer at `batch=-1`) —
    * the starting point for a store maintained by a stream of
    * [[appendBatch]] folds.
    */
  def buildKeyed(corpus: Dataset[MMRecord], path: String): Unit =
    appendBatch(corpus, path, -1L)

  /** Retract assets — takedowns, deletion-vector style: O(|retraction|)
    * id append, masked on read by [[bandsTable]]; the quantization-free
    * signature family means there is nothing to freeze.
    */
  def delete(docIds: DataFrame, path: String): Unit =
    index.delete(docIds, path)

  /** Fold outstanding tombstones into EVERY present layer — `bands/`,
    * and on a rep-grain store `sizes/` and `sizes_deltas/` — each
    * behind its own recoverable swap ([[TombstonedLayers.compact]]).
    */
  def compact(spark: SparkSession, path: String): Unit =
    index.compact(spark, path)

  /** Release the redelivery guard for physically-purged takedowns
    * ([[TombstonedLayers.expire]]): an id leaves the mask only once no
    * band, size or size-delta row of it is left.
    */
  def expireTombstones(spark: SparkSession, path: String): Unit =
    index.expire(spark, path)

  /** Memoized build-then-delete lifecycle for the retraction gate
    * (the [[MinhashIndexStore.ensureDeleted]] contract): the first
    * caller per JVM per path signs the corpus and retracts `removed`;
    * later callers serve from the masked index.
    */
  def ensureDeleted(corpus: Dataset[MMRecord], removed: DataFrame,
      path: String): Unit =
    index.ensureDeleted(removed, path)(build(corpus, path))

  private def requireLossless(maxHamming: Int): Unit =
    require(maxHamming >= 0 && maxHamming <= MaxHamming,
      s"4x16-bit banding is only lossless up to Hamming $MaxHamming, " +
        s"got $maxHamming")

  /** A drop collapsed to its distinct assets (the content-keyed
    * election): the member → rep map, the rep sizes, the reps' records.
    */
  private def electReps(drop: Dataset[MMRecord])
      : (DataFrame, DataFrame, Dataset[MMRecord]) = {
    import drop.sparkSession.implicits._
    val (docRep, sizes) = Multimodal.assetRepElection(drop)
    (docRep, sizes, drop.toDF()
      .join(sizes.select(col("rep").as("doc_id")), Seq("doc_id"), "left_semi")
      .as[MMRecord])
  }

  /** Hamming distance between two aliased band rows' signatures. */
  private def ham(a: String, b: String): Column =
    (bit_count(col(s"$a.sig_lo").bitwiseXOR(col(s"$b.sig_lo"))) +
      bit_count(col(s"$a.sig_hi").bitwiseXOR(col(s"$b.sig_hi"))))
      .cast("int").as("hamming")

  /** Two aliased band rows share a (frame, band, band value) bucket. */
  private def onCols(a: String, b: String): Column =
    col(s"$a.frame_idx") === col(s"$b.frame_idx") &&
      col(s"$a.band") === col(s"$b.band") && col(s"$a.bv") === col(s"$b.bv")

  /** Incremental near-dup FRAME pairs: a new asset drop against the
    * persisted band index — the daily-drop form of
    * [[Multimodal.nearDupFrames]]. Candidates = drop×stored band
    * matches ∪ drop-internal matches, so a drop frame's pair set is
    * IDENTICAL to the batch run's (the oracle: the all-pairs replay
    * filtered to pairs touching the drop). The corpus media is never
    * re-decoded or re-signed.
    *
    * 100 TB shape: the DROP COLLAPSES TO DISTINCT ASSETS first (the
    * r15 fix — the same asset collapse `nearDupFrames` got in r14;
    * the raw-grain delta pushed every twin copy of every drop band
    * row through the broadcast band join and a pair-grain distinct,
    * quadratic in the drop's twin-group sizes at replica density),
    * so only the distinct drop's band rows broadcast (a daily drop ≪
    * the corpus, its distinct assets ≪ the drop on mirrored feeds)
    * and the stored index scans without ANY exchange. The verified
    * rep-grain pairs re-expand by twin-group membership — value-
    * identical because signatures, band keys, and Hamming are pure
    * functions of the content bytes. The Hamming verify is pure
    * arithmetic on the band rows' sig halves — no media bytes move at
    * any stage. The OUTPUT stays pair-grain (the oracle's shape) and
    * genuinely quadratic at replica density — consumers that cannot
    * take that density take the rep-grain serving form
    * ([[Multimodal.nearDupFrameReps]]'s law).
    */
  def deltaPairs(drop: Dataset[MMRecord], storedBands: DataFrame,
      maxHamming: Int = MaxHamming): DataFrame = {
    requireLossless(maxHamming)
    val (docRep, sizes, repDrop) = electReps(drop)
    // rep-grain and multiply consumed (stored join + internal join's
    // two sides + the within-group frame spine) — materialize once
    val dBands = org.apache.spark.sql.GraftInternal.pinRecomputable(
      bandRows(repDrop))
    val dSide = broadcast(dBands)
    // stored × distinct-drop candidates, verified at rep grain, then
    // expanded: a stored id pairs with EVERY member of the rep's twin
    // group at the rep's per-frame verdict (stored and drop ids are
    // disjoint by the caller contract, so least/greatest restores the
    // orientation after expansion)
    val crossRep = storedBands.alias("s")
      .join(dSide.alias("d"), onCols("s", "d"))
      .select(col("s.doc_id").as("sid"), col("d.doc_id").as("rep"),
        col("s.frame_idx").as("frame_idx"), ham("s", "d"))
      .distinct() // several agreeing bands -> one candidate
      .filter(col("hamming") <= maxHamming)
    // expansion maps are drop-bounded — broadcast them explicitly so
    // the stored-side candidate stream never shuffles for the
    // expansion (the audit contract: no sort-merge join in the serve)
    val cross = crossRep
      .join(broadcast(docRep.select(col("rep"), col("doc_id").as("mid"))),
        Seq("rep"))
      .filter(col("sid") =!= col("mid")) // defensive (disjoint contract)
      .select(least(col("sid"), col("mid")).as("doc_a"),
        greatest(col("sid"), col("mid")).as("doc_b"),
        col("frame_idx"), col("hamming"))
    // drop-internal, rep grain: cross-group rep pairs expand to every
    // member pair of the two (disjoint) groups; within-group twins
    // pair at Hamming 0 on every frame of the asset
    val internalRep = dBands.alias("a")
      .join(dSide.alias("b"),
        onCols("a", "b") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("ra"), col("b.doc_id").as("rb"),
        col("a.frame_idx").as("frame_idx"), ham("a", "b"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
    val internalCross = internalRep
      .join(broadcast(docRep.select(col("rep").as("ra"),
        col("doc_id").as("da"))), "ra")
      .join(broadcast(docRep.select(col("rep").as("rb"),
        col("doc_id").as("db"))), "rb")
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"),
        col("frame_idx"), col("hamming"))
    val repFrames = dBands.select(col("doc_id").as("rep"), col("frame_idx"))
      .distinct()
    val memPairs = docRep.alias("x")
      .join(broadcast(docRep.alias("y")),
        col("x.rep") === col("y.rep") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.rep").as("rep"), col("x.doc_id").as("doc_a"),
        col("y.doc_id").as("doc_b"))
    val internalWithin = memPairs.join(broadcast(repFrames), Seq("rep"))
      .select(col("doc_a"), col("doc_b"), col("frame_idx"),
        lit(0).cast("int").as("hamming"))
    cross.unionByName(internalCross).unionByName(internalWithin)
  }

  // ------------------- REP-GRAIN lifecycle (bounded streamed serving)

  /** [[buildKeyed]] at REP grain — the starting point for a stream
    * maintained by [[appendRepBatch]] folds. The store keeps TWO
    * layers, both batch-keyed: `bands/` holds band rows for each
    * layer's elected distinct-asset reps only, `sizes/` holds each
    * rep's twin-group size (`doc_id`, `n_copies`). At replica density
    * the whole store is ∝ distinct content, never ∝ corpus — the
    * index-side half of keeping the STREAMED serving form rep-grain
    * ([[deltaReps]]); the r15 close measured the raw-grain streamed
    * sink at 1.45G pair rows at ~sf100 for exactly this reason.
    *
    * Takedowns on this layout: a REP-grain takedown ([[delete]])
    * tombstones the rep — its band rows, size row, and any size-delta
    * rows all leave the serve (masked on read, physically purged by
    * [[compact]], which rewrites EVERY layer). A MEMBER-grain takedown
    * (retract one copy of a group of n) is [[deleteMembers]]: an
    * n_copies decrement law over a signed `sizes_deltas/` layer —
    * applies exactly when the takedown names a stored rep, FAILS
    * LOUDLY when it does not (the layout stores no member ids, so an
    * unresolvable member id must be routed by the caller through the
    * content-keyed rep election or the pair-grain store, never
    * silently dropped).
    */
  def buildRepKeyed(corpus: Dataset[MMRecord], path: String): Unit =
    appendRepBatch(corpus, path, -1L)

  /** Fold a drop's DISTINCT assets + group sizes into the rep-grain
    * store, batch-id-keyed (crash-redelivery re-lands both layers —
    * the [[appendBatch]] law, applied to bands and sizes atomically
    * enough: each layer is its own `batch=<id>` overwrite, and a torn
    * crash between them is healed by the redelivery itself). WRITE
    * ORDER MATTERS (r16 ADVICE): `sizes/` lands BEFORE `bands/` — in
    * the torn-crash window an orphan size row is inert (no band rows,
    * so no candidate ever consults it), whereas a band row without a
    * size row would reach [[deltaReps]]' size join, which FAILS LOUDLY
    * on the missing row rather than silently dropping the pair; with
    * this order that failure is unreachable from a crash alone.
    */
  def appendRepBatch(drop: Dataset[MMRecord], path: String,
      batchId: Long): Unit =
    index.append(drop.sparkSession, path, "append-rep", Some(batchId)) {
      val (_, sizes, repDrop) = electReps(drop)
      Seq("sizes" -> sizes.select(col("rep").as("doc_id"),
          col("n_copies").cast("long").as("n_copies")),
        "bands" -> bandRows(repDrop))
    }

  /** The stored rep sizes (tombstone-masked like [[bandsTable]]):
    * base `sizes/` rows with any [[deleteMembers]] signed deltas
    * folded in (exact integer group-sum — the abelian count-store
    * law). A group decremented to 0 keeps its row (n_copies = 0): the
    * expansion law multiplies it out to zero member pairs, so the
    * crash window between a final decrement and its tombstone append
    * stays value-correct; the tombstone then removes it entirely.
    */
  def sizesTable(spark: SparkSession, path: String): DataFrame =
    foldedSizes(spark, path, excludeBatch = None)

  /** Base sizes minus `excludeBatch`, plus every size-delta layer but
    * `excludeTakedown`, summed per rep and tombstone-masked.
    */
  private def foldedSizes(spark: SparkSession, path: String,
      excludeBatch: Option[Long],
      excludeTakedown: Option[Long] = None): DataFrame = {
    val raw = spark.read.parquet(s"$path/sizes")
    val base = excludeBatch.fold(raw)(b => raw.filter(col("batch") =!= b))
      .drop("batch")
      .select(col("doc_id"), col("n_copies").cast("long").as("n_copies"))
    val folded =
      if (index.has(spark, path, "sizes_deltas"))
        base.unionByName(
            spark.read.parquet(s"$path/sizes_deltas")
              .filter(excludeTakedown.fold(lit(true))(col("takedown") =!= _))
              .select(col("doc_id"),
                col("n_copies").cast("long").as("n_copies")))
          .groupBy(col("doc_id"))
          .agg(sum(col("n_copies")).as("n_copies"))
      else base
    index.mask(spark, path, folded)
  }

  /** [[bandsTable]] minus one batch layer — what a streamed maintainer
    * serves its OWN micro-batch against (r16 ADVICE; see
    * [[MinhashIndexStore.bandsTableExcluding]] for the recompute-
    * identity argument): a redelivered batch whose [[appendRepBatch]]
    * fold landed before the checkpoint commit must not see its own
    * reps on the stored side, or every drop-internal rep pair would
    * re-emit through the stored×drop cross in both orientations. The
    * exclusion filter lands on the `batch` partition column (pruned,
    * never scanned) and is a no-op on first delivery.
    */
  def bandsTableExcluding(spark: SparkSession, path: String,
      batchId: Long): DataFrame =
    index.table(spark, path, excluding = Some(batchId))

  /** [[sizesTable]] minus one batch layer — the size-map side of the
    * redelivery recompute-identity fix ([[bandsTableExcluding]]).
    * `sizes_deltas/` rows are takedown-keyed, not stream-batch-keyed,
    * so they are never excluded.
    */
  def sizesTableExcluding(spark: SparkSession, path: String,
      batchId: Long): DataFrame =
    foldedSizes(spark, path, excludeBatch = Some(batchId))

  /** MEMBER-grain takedown on the rep-grain layout — the n_copies
    * decrement law (r16 verdict item: the scaladoc boundary, made
    * enforced). `memberIds` carries one `doc_id` row PER COPY to
    * retract, each naming the STORED REP of the twin group the copy
    * belongs to (byte-twins share all content-derived state, so
    * "which copy" has no observable meaning below the count — the
    * caller resolves a raw member id to its rep with the same
    * content-keyed election that built the store, or routes through
    * the pair-grain layout).
    *
    * APPLIES EXACTLY OR FAILS LOUDLY:
    *
    *  - every named id must be a LIVE stored rep (present in the size
    *    layers, not tombstoned) with at least the requested copies
    *    remaining — otherwise [[IllegalArgumentException]] naming the
    *    offenders, and NOTHING is written;
    *  - the decrement lands as a signed `sizes_deltas/takedown=<id>`
    *    layer (Overwrite — a crash-redelivered takedown re-lands its
    *    own layer, the [[appendRepBatch]] idempotency law; validation
    *    excludes the takedown's own layer so the retry re-validates
    *    against the same pre-takedown state);
    *  - a group decremented to ZERO is tombstoned in the same call —
    *    the exhausted group leaves the serve entirely ([[delete]]'s
    *    rep-grain semantics); the crash window between the two writes
    *    serves n_copies = 0, which the expansion law multiplies out to
    *    zero member pairs (value-correct), and the redelivery heals.
    *
    * The validation probe collects (id, remaining) for the REQUESTED
    * ids only — takedown-bounded driver work, the store-metadata
    * class, never corpus-proportional.
    */
  def deleteMembers(memberIds: DataFrame, path: String,
      takedownId: Long): Unit =
    IndexLease.withLease(memberIds.sparkSession, path,
      "framesig-delete-members") {
      val spark = memberIds.sparkSession
      require(index.has(spark, path, "sizes"),
        s"$path has no sizes/ layer — member-grain takedowns only " +
          "apply to the rep-grain layout (buildRepKeyed); use delete() " +
          "on a pair-grain store")
      // remaining copies per rep, EXCLUDING this takedown's own layer
      // (retry-exact) and any tombstoned rep (reads as unknown)
      val masked = foldedSizes(spark, path, None, Some(takedownId))
        .groupBy(col("doc_id")).agg(sum(col("n_copies")).as("n"))
      val req = memberIds.select(col("doc_id"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("k"))
      val checked = req.join(masked, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), col("k"), col("n"))
        .collect()
      // an EMPTY takedown is a no-op: never write an empty delta layer
      // (an all-_SUCCESS parquet dir would break later layer reads)
      if (checked.nonEmpty) {
        val offenders = checked.filter(r => r.isNullAt(2) || r.getLong(2) < r.getLong(1))
        if (offenders.nonEmpty) {
          val msgs = offenders.take(10).map { r =>
            if (r.isNullAt(2))
              s"doc_id=${r.get(0)} is not a live stored rep (member-grain " +
                "ids must be resolved to their rep via the content-keyed " +
                "election, or routed through the pair-grain store)"
            else
              s"doc_id=${r.get(0)}: ${r.getLong(1)} copies requested, " +
                s"only ${r.getLong(2)} remain"
          }
          throw new IllegalArgumentException(
            s"framesig member takedown $takedownId rejected " +
              s"(${offenders.length} offender(s)): ${msgs.mkString("; ")}")
        }
        req.select(col("doc_id"), (-col("k")).cast("long").as("n_copies"))
          .write.mode(SaveMode.Overwrite)
          .parquet(s"$path/sizes_deltas/takedown=$takedownId")
        val exhausted = checked.filter(r => r.getLong(2) == r.getLong(1))
          .map(_.get(0))
        if (exhausted.nonEmpty) {
          import spark.implicits._
          Tombstones.append(
            exhausted.map(_.asInstanceOf[Long]).toSeq.toDF("doc_id"),
            path, "doc_id")
        }
      }
    }

  /** Memoized build-then-MEMBER-takedown lifecycle for the gate (the
    * [[ensureDeleted]] contract at member grain): the first caller per
    * JVM per path builds the REP-GRAIN store over the corpus and then
    * retracts ONE COPY of every stored twin group with n ≥ 2 via
    * [[deleteMembers]] — the deterministic takedown set that exercises
    * the decrement law wherever the corpus has twins. Later callers
    * serve from the decremented store.
    */
  def ensureMemberDeleted(corpus: Dataset[MMRecord], path: String): Unit = {
    index.once("memberdel", path, "plain", "deleted") {
      val spark = corpus.sparkSession
      StorePaths.wipe(spark, path) // first caller OWNS the path
      buildRepKeyed(corpus, path)
      val twins = sizesTable(spark, path)
        .filter(col("n_copies") >= 2).select(col("doc_id"))
      deleteMembers(twins, path, takedownId = 1L)
    }
  }

  /** Incremental near-dup frames at REP grain — [[deltaPairs]] with
    * the pair-grain expansion NEVER materialized (the
    * [[Multimodal.nearDupFrameReps]] serving law, applied to the
    * streamed delta): one row per (stored rep × drop rep) and
    * (drop rep × drop rep) candidate × frame, `(rep_a ≤ rep_b,
    * frame_idx, hamming, n_a, n_b)`, plus the hamming-0 self row for
    * every frame of any drop twin group with n ≥ 2. Cross rows expand
    * to n_a·n_b member pairs, self rows to n·(n−1)/2 — over the batch
    * sequence the expansion law reconstructs EXACTLY the pair-grain
    * arrival-order answer ([[deltaPairs]]' union), because group
    * membership never splits across a rep (content-keyed election)
    * and stored/drop id spaces are disjoint by the caller contract.
    *
    * 100 TB shape: both join sides are distinct-content grain (the
    * stored layer is rep-grain BY CONSTRUCTION — [[appendRepBatch]]),
    * the drop side broadcasts, and the OUTPUT is rep-grain — sink
    * rows ∝ distinct-asset pairs, constant across replica decades,
    * where the raw-grain streamed sink measured 1.45G rows at ~sf100.
    */
  def deltaReps(drop: Dataset[MMRecord], storedBands: DataFrame,
      storedSizes: DataFrame, maxHamming: Int = MaxHamming): DataFrame = {
    requireLossless(maxHamming)
    val (_, sizes, repDrop) = electReps(drop)
    val dBands = org.apache.spark.sql.GraftInternal.pinRecomputable(
      bandRows(repDrop))
    val dSide = broadcast(dBands)
    // stored-rep × drop-rep candidates; sizes follow their ids through
    // the least/greatest re-orientation. The DROP size map is
    // drop-bounded — broadcast explicitly, the stored band stream
    // never shuffles for it. The STORED size map is distinct-content
    // grain (could be huge at 100 TB) — NO hint: it joins the already-
    // verified candidate frame (≪ either input), and AQE broadcasts
    // whichever side is actually small at runtime.
    val dropN = sizes.select(col("rep").as("drep"),
      col("n_copies").cast("long").as("dn"))
    val storedN = storedSizes.select(col("doc_id").as("srep"),
      col("n_copies").cast("long").as("sn"))
    val cross = storedBands.alias("s")
      .join(dSide.alias("d"), onCols("s", "d"))
      .select(col("s.doc_id").as("srep"), col("d.doc_id").as("drep"),
        col("s.frame_idx").as("frame_idx"), ham("s", "d"))
      .filter(col("srep") =!= col("drep")) // defensive (disjoint contract)
      .distinct() // several agreeing bands -> one candidate
      .filter(col("hamming") <= maxHamming)
      .join(broadcast(dropN), Seq("drep"))
      // LEFT join + loud failure on a missing size row (r16 ADVICE): a
      // stored rep with band rows but no size row is a torn
      // appendRepBatch layer (unreachable from a crash alone — sizes
      // are written first — so it means out-of-band damage); an inner
      // join would silently drop the candidate pair instead
      .join(storedN, Seq("srep"), "left_outer")
      .withColumn("sn", coalesce(col("sn"),
        raise_error(concat(lit("framesig store: rep "),
          col("srep").cast("string"),
          lit(" has band rows but no size row (torn sizes layer)")))
          .cast("long")))
      .select(least(col("srep"), col("drep")).as("rep_a"),
        greatest(col("srep"), col("drep")).as("rep_b"),
        col("frame_idx"), col("hamming"),
        when(col("srep") < col("drep"), col("sn")).otherwise(col("dn"))
          .as("n_a"),
        when(col("srep") < col("drep"), col("dn")).otherwise(col("sn"))
          .as("n_b"))
    // drop-internal rep pairs (already oriented: a < b on the join)
    val internal = dBands.alias("a")
      .join(dSide.alias("b"),
        onCols("a", "b") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("ra"), col("b.doc_id").as("rb"),
        col("a.frame_idx").as("frame_idx"), ham("a", "b"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .join(broadcast(dropN.select(col("drep").as("ra"),
        col("dn").as("n_a"))), Seq("ra"))
      .join(broadcast(dropN.select(col("drep").as("rb"),
        col("dn").as("n_b"))), Seq("rb"))
      .select(col("ra").as("rep_a"), col("rb").as("rep_b"),
        col("frame_idx"), col("hamming"), col("n_a"), col("n_b"))
    // hamming-0 self rows: every frame of any drop twin group with
    // n >= 2 (within-group pairs expand as n·(n−1)/2)
    val repFrames = dBands.select(col("doc_id").as("rep"), col("frame_idx"))
      .distinct()
    val selfRows = sizes.filter(col("n_copies") >= 2)
      .join(repFrames, Seq("rep"))
      .select(col("rep").as("rep_a"), col("rep").as("rep_b"),
        col("frame_idx"), lit(0).cast("int").as("hamming"),
        col("n_copies").cast("long").as("n_a"),
        col("n_copies").cast("long").as("n_b"))
    cross.unionByName(internal).unionByName(selfRows)
  }
}
