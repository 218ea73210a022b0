package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The deletion-vector tombstone layout of the retractable index
  * stores — the ledger side of [[TombstonedLayers]], the one kernel
  * that masks, deletes, compacts and expires for all of them, so the
  * serve mask and the compaction paths can never drift apart on layer
  * semantics.
  *
  * Every ledger row is EPOCHED: [[append]] stamps each delete call
  * with a store-monotonic `seq` (read-max-then-append under the
  * caller's single-writer [[IndexLease]]), and the purged/expired
  * ledgers record the tombstone seq they acted on. The serve mask
  * compares per-id maxima, so a FRESH delete of an id whose earlier
  * takedown was purged + expired re-enters the mask immediately — the
  * r16 review finding: with unepoched sets, `tombstones ∖ expired`
  * could never re-mask a re-deleted id, and a pre-emptive takedown of
  * re-appended content in its second epoch served unmasked (the same
  * bug class the purged gate closed for the FIRST epoch).
  *
  * Layout under a store `path`:
  *
  *  - `tombstones/` — append-only retracted (id, seq) list
  *    ([[exists]]/[[all]]/[[allWithSeq]]). Every `delete()` appends;
  *    a crash mid-append leaves a partial id list, which only
  *    UNDER-masks ids the retraction never acknowledged — the delete
  *    simply retries (at a fresh seq; per-id max makes the retry
  *    equivalent). Appends are the only mutation, so no swap
  *    choreography is ever needed on this layer.
  *  - `tombstones_expired/` — append-only EXPIRED (id, seq) ledger
  *    ([[appendExpired]]): ids whose retracted rows are physically
  *    absent from every live layer AND whose redelivery protection the
  *    caller has released (see [[TombstonedLayers.expire]]), at the
  *    tombstone seq the release covered. The serve mask is
  *    [[liveMask]] = ids whose max tombstone seq EXCEEDS their max
  *    expired seq, so the broadcast anti-join every serve pays stays
  *    bounded by OUTSTANDING takedowns instead of growing
  *    monotonically across the store's life. Append-only on purpose:
  *    physically shrinking `tombstones/` in place would need a replace
  *    swap with a crash window in which the mask directory does not
  *    exist — a reader in that window serves retracted rows UNMASKED.
  *    With append-only ledgers, every crash state under-expires (masks
  *    too much), never under-masks. All ledgers are O(total takedowns)
  *    id lists — at 100 TB a vanishing fraction of any layer they mask.
  *  - `tombstones_purged/` — append-only (id, seq) ledger of takedowns
  *    a compact has ACTUALLY physically purged ([[appendPurged]]/
  *    [[purged]]), at the tombstone seq live when the rewrite ran; the
  *    expiry gate, so a takedown can only expire once a compact has
  *    purged rows FOR THAT EPOCH — pre-emptive (delete-before-ingest)
  *    takedowns, first- or any-epoch, can never be released by expiry.
  */
private[sources] object Tombstones {

  def exists(spark: SparkSession, path: String): Boolean =
    ledgerExists(spark, path, "tombstones")

  private def ledgerExists(spark: SparkSession, path: String,
      ledger: String): Boolean =
    SwapRecovery.fsOf(spark, path).exists(new Path(s"$path/$ledger"))

  /** Append a delete call's ids at the next epoch. MUST run under the
    * store's single-writer lease (the read-max-then-append is only
    * race-free single-writer). One seq per CALL: the expiry algebra
    * compares per-id maxima, so ids sharing a seq cost nothing.
    */
  def append(ids: DataFrame, path: String, idCol: String): Unit = {
    val spark = ids.sparkSession
    val next =
      if (exists(spark, path)) {
        val row = Tables.read(spark, s"$path/tombstones")
          .agg(max(col("seq"))).first()
        (if (row.isNullAt(0)) 0L else row.getLong(0)) + 1L
      } else 1L
    ids.select(col(idCol), lit(next).as("seq"))
      .write.mode(SaveMode.Append).parquet(s"$path/tombstones")
  }

  /** EVERY id ever retracted — what a physical purge (compact rewrite)
    * folds out, including expired ids (by the expire contract those
    * have no live rows left, so folding them is a no-op; keeping them
    * in the purge set makes a contract violation self-heal instead of
    * resurrecting rows).
    */
  def all(spark: SparkSession, path: String, idCol: String): DataFrame =
    Tables.read(spark, s"$path/tombstones").select(col(idCol)).distinct()

  /** Every retracted id with its CURRENT epoch (max seq). */
  def allWithSeq(spark: SparkSession, path: String,
      idCol: String): DataFrame =
    Tables.read(spark, s"$path/tombstones")
      .groupBy(col(idCol)).agg(max(col("seq")).as("seq"))

  /** The serve mask with epochs: ids whose latest tombstone is NOT yet
    * expired (no expired entry, or re-deleted since the last expiry).
    */
  def liveMaskWithSeq(spark: SparkSession, path: String,
      idCol: String): DataFrame = {
    val t = allWithSeq(spark, path, idCol)
    if (ledgerExists(spark, path, "tombstones_expired")) {
      val e = Tables.read(spark, s"$path/tombstones_expired")
        .groupBy(col(idCol)).agg(max(col("seq")).as("eseq"))
      t.join(e, Seq(idCol), "left_outer")
        .filter(col("eseq").isNull || col("seq") > col("eseq"))
        .select(col(idCol), col("seq"))
    } else t
  }

  /** The serve mask: outstanding (unexpired-epoch) tombstoned ids. */
  def liveMask(spark: SparkSession, path: String, idCol: String): DataFrame =
    liveMaskWithSeq(spark, path, idCol).select(col(idCol))

  /** Record (id, seq) rows as expired (append-only — see the layout
    * contract). `ids` must carry the tombstone `seq` the release
    * covers ([[liveMaskWithSeq]] rows): a later re-delete at a higher
    * seq re-enters the mask.
    */
  def appendExpired(ids: DataFrame, path: String, idCol: String): Unit =
    ids.select(col(idCol), col("seq"))
      .write.mode(SaveMode.Append).parquet(s"$path/tombstones_expired")

  /** Takedowns a compact has ACTUALLY physically purged, at their
    * purge-time epoch (max seq per id). Expiry is gated on `pseq >=
    * tseq`: a PRE-EMPTIVE takedown — delete issued before the content
    * was ever appended — has no rows for any compact to purge at that
    * epoch, so it never satisfies the gate and never leaves the serve
    * mask; a later first-time append of that id stays masked (the r15
    * review finding: the rows-absent test alone expired pre-ingest
    * takedowns and a subsequent first append served unmasked). The
    * epoch makes the gate hold across RE-delete cycles too (r16
    * ADVICE): a stale first-epoch purge entry cannot release a
    * second-epoch pre-emptive takedown.
    */
  def purged(spark: SparkSession, path: String, idCol: String): DataFrame =
    if (ledgerExists(spark, path, "tombstones_purged"))
      Tables.read(spark, s"$path/tombstones_purged")
        .groupBy(col(idCol)).agg(max(col("seq")).as("pseq"))
    else
      allWithSeq(spark, path, idCol).limit(0)
        .select(col(idCol), col("seq").as("pseq"))

  /** Record (id, seq) rows as physically purged by a compact rewrite
    * (append-only, written BEFORE the swap lands: if the swap then
    * crashes and rolls back, the over-recorded id still has live rows,
    * and the expire path's rows-absent conjunct refuses to release it
    * — every crash state under-expires, never unmasks). `ids` must
    * carry the tombstone `seq` live when the rewrite ran
    * ([[allWithSeq]] rows).
    */
  def appendPurged(ids: DataFrame, path: String, idCol: String): Unit =
    ids.select(col(idCol), col("seq"))
      .write.mode(SaveMode.Append).parquet(s"$path/tombstones_purged")

  /** The ids eligible for expiry right now: tombstones whose CURRENT
    * epoch a compact has purged (`pseq >= seq`) — the caller adds the
    * store-specific rows-absent conjunct over its live layers, then
    * [[appendExpired]]s the result. Shared so no store re-derives the
    * epoch algebra (the drift-prevention contract of this object).
    */
  def expirable(spark: SparkSession, path: String,
      idCol: String): DataFrame =
    liveMaskWithSeq(spark, path, idCol)
      .join(purged(spark, path, idCol), Seq(idCol))
      .filter(col("pseq") >= col("seq"))
      .select(col(idCol), col("seq"))

  /** Drop all ledgers — the FLAT-store compact epilogue (its rewrite
    * physically purged everything and flat stores need no redelivery
    * guard, so the zero-masking serve contract clears the mask).
    */
  def clear(spark: SparkSession, path: String): Unit = {
    val fs = SwapRecovery.fsOf(spark, path)
    fs.delete(new Path(s"$path/tombstones"), true)
    fs.delete(new Path(s"$path/tombstones_expired"), true)
    fs.delete(new Path(s"$path/tombstones_purged"), true)
    ()
  }
}
