package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{broadcast, col, count, lit, raise_error, when}

/** Batch MERGE INTO, the reference's central load operator.
  *
  * The reference refreshes every table with Snowflake `MERGE INTO` via
  * astro-sdk `aql.merge` in two modes (reference:
  * astro-sdk-tutorial/dags/etl_s3_snowflake_d_item.py:72
  * `if_conflicts="update"` — SCD-1 upsert — and
  * etl_s3_snowflake_d_event.py:70 `if_conflicts="ignore"` —
  * insert-if-absent).
  *
  * Spark-first re-expression: a MERGE over immutable storage is a keyed
  * full-outer join + column-wise coalesce (upsert), or a null-safe
  * left-anti union (ignore). Both shuffle each side once on the merge
  * key — at 100 TB this is the minimal movement unless the delta is
  * small, in which case `broadcastDelta = true` switches to a
  * decomposed plan (matched/unmatched-target via `target ⟕
  * broadcast(delta)`, inserts via a delta-sized anti join) in which the
  * target is scanned but NEVER shuffled — all three joins are
  * BroadcastHashJoins. (A full-outer join cannot broadcast either side,
  * so hinting the one-join form would silently degrade to a shuffle.)
  *
  * Key semantics are null-safe throughout (`<=>`): a NULL natural key
  * matches a stored NULL key, so re-delivered NULL-key rows update in
  * place instead of duplicating on every incremental load. Like
  * Snowflake MERGE, a delta that carries the same key twice is an
  * error (nondeterministic match) — the check runs inside the plan,
  * not as a driver-side action.
  */
object MergeInto {

  /** In-plan guard: raises if the delta has >1 row per merge key
    * (window count per key; NULL keys group together, matching the
    * `<=>` join semantics). Lazy — costs one shuffle of the delta,
    * nothing on the driver.
    */
  private[graft] def requireUniqueKeys(delta: DataFrame, keys: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
    delta
      .withColumn("__key_dups", count(lit(1)).over(w))
      // a `when` branch the optimizer cannot fold away: the predicate's
      // value depends on the data, and the error branch only fires on
      // an actual duplicate
      .filter(when(col("__key_dups") > 1,
        raise_error(lit(s"MERGE delta has duplicate keys on (${keys.mkString(", ")})")))
        .otherwise(lit(true)))
      .drop("__key_dups")
  }

  /** SCD-1 upsert: rows matched on `keys` take `updateCols` from the
    * delta; unmatched target rows pass through; unmatched delta rows are
    * inserted. Non-key columns not listed in `updateCols` keep the
    * target's value when matched.
    */
  def upsert(
      target: DataFrame,
      delta: DataFrame,
      keys: Seq[String],
      updateCols: Seq[String],
      broadcastDelta: Boolean = false): DataFrame = {
    // presence markers, not COALESCE on data columns: MERGE WHEN MATCHED
    // must take the delta's value even when that value is NULL
    val d = requireUniqueKeys(delta, keys)
      .withColumn("__s_present", lit(true))
    val t = target.withColumn("__t_present", lit(true)).alias("t")
    def cond = keys.map(k => col(s"t.$k") <=> col(s"s.$k")).reduce(_ && _)
    val sHit = col("s.__s_present").isNotNull
    if (!broadcastDelta) {
      val s = d.alias("s")
      val tHit = col("t.__t_present").isNotNull
      val out = target.columns.map { c =>
        if (keys.contains(c))
          org.apache.spark.sql.functions.coalesce(col(s"s.$c"), col(s"t.$c")).as(c)
        else if (updateCols.contains(c))
          when(sHit, col(s"s.$c")).otherwise(col(s"t.$c")).as(c)
        else
          when(tHit, col(s"t.$c")).otherwise(col(s"s.$c")).as(c)
      }
      t.join(s, cond, "full_outer").select(out.toIndexedSeq: _*)
    } else {
      // small-delta decomposition — every join broadcasts the
      // delta-sized side, the target is never the build side and never
      // shuffles:
      //  1. matched + unmatched-target:  target ⟕ broadcast(delta)
      //  2. matched target keys:         target ⋉ broadcast(delta)
      //  3. inserts: delta ▷ broadcast(matched keys)  (delta-sized both sides)
      val s = broadcast(d).alias("s")
      val updated = t.join(s, cond, "left_outer").select(
        target.columns.map { c =>
          if (updateCols.contains(c))
            when(sHit, col(s"s.$c")).otherwise(col(s"t.$c")).as(c)
          else col(s"t.$c").as(c)
        }.toIndexedSeq: _*)
      val matchedKeys = t.join(s, cond, "left_semi")
        .select(keys.map(k => col(k).as(s"__m_$k")): _*)
      val antiCond = keys.map(k => col(s"i.$k") <=> col(s"__m_$k")).reduce(_ && _)
      val inserts = delta.alias("i")
        .join(broadcast(matchedKeys), antiCond, "left_anti")
        .select(target.columns.map(col).toIndexedSeq: _*)
      updated.unionByName(inserts)
    }
  }

  /** Full-sync MERGE: WHEN MATCHED update, WHEN NOT MATCHED insert,
    * WHEN NOT MATCHED BY SOURCE delete — the snapshot-sync mode
    * (Snowflake MERGE's three-clause form): after the merge the target
    * holds EXACTLY the delta's key set. The retraction-capable load:
    * a key absent from today's snapshot disappears from the warehouse.
    *
    * Spark-first shape: "delete the unmatched target rows" is the
    * [[upsert]] full-outer plan restricted to delta-present rows —
    * one keyed join, no second pass. With `broadcastDelta` it
    * decomposes like upsert's small-delta path (matched via
    * `target ⨝ broadcast(delta)`, inserts via a delta-sized anti
    * join): the target is scanned once and never shuffled.
    */
  def syncDelete(
      target: DataFrame,
      delta: DataFrame,
      keys: Seq[String],
      updateCols: Seq[String],
      broadcastDelta: Boolean = false): DataFrame = {
    val d = requireUniqueKeys(delta, keys)
      .withColumn("__s_present", lit(true))
    val t = target.withColumn("__t_present", lit(true)).alias("t")
    def cond = keys.map(k => col(s"t.$k") <=> col(s"s.$k")).reduce(_ && _)
    val sHit = col("s.__s_present").isNotNull
    if (!broadcastDelta) {
      val s = d.alias("s")
      val tHit = col("t.__t_present").isNotNull
      val out = target.columns.map { c =>
        if (keys.contains(c))
          org.apache.spark.sql.functions.coalesce(col(s"s.$c"), col(s"t.$c")).as(c)
        else if (updateCols.contains(c))
          when(sHit, col(s"s.$c")).otherwise(col(s"t.$c")).as(c)
        else
          when(tHit, col(s"t.$c")).otherwise(col(s"s.$c")).as(c)
      }
      t.join(s, cond, "full_outer")
        .filter(sHit) // NOT MATCHED BY SOURCE → DELETE
        .select(out.toIndexedSeq: _*)
    } else {
      val s = broadcast(d).alias("s")
      val updated = t.join(s, cond, "inner").select(
        target.columns.map { c =>
          if (updateCols.contains(c)) col(s"s.$c").as(c)
          else col(s"t.$c").as(c)
        }.toIndexedSeq: _*)
      val matchedKeys = t.join(s, cond, "left_semi")
        .select(keys.map(k => col(k).as(s"__m_$k")): _*)
      val antiCond = keys.map(k => col(s"i.$k") <=> col(s"__m_$k")).reduce(_ && _)
      val inserts = delta.alias("i")
        .join(broadcast(matchedKeys), antiCond, "left_anti")
        .select(target.columns.map(col).toIndexedSeq: _*)
      updated.unionByName(inserts)
    }
  }

  /** WHEN MATCHED THEN DELETE: remove every target row whose key
    * appears in the delta — the takedown/retraction feed (the delta is
    * a key list, not a snapshot). Null-safe like the other modes; one
    * anti join, delta broadcastable by the planner when small.
    */
  def deleteMatched(
      target: DataFrame,
      delta: DataFrame,
      keys: Seq[String]): DataFrame = {
    val s = delta.select(keys.map(col): _*).alias("s")
    val t = target.alias("t")
    val cond = keys.map(k => col(s"t.$k") <=> col(s"s.$k")).reduce(_ && _)
    t.join(s, cond, "left_anti")
      .select(target.columns.map(col).toIndexedSeq: _*)
  }

  /** Insert-if-absent: keep every target row; append delta rows whose key
    * is not present in the target. Null-safe: a NULL delta key is
    * "present" if the target already stores a NULL key, so repeated
    * loads never duplicate it. Delta rows duplicated within one load
    * are inserted as delivered (Snowflake `ignore` keeps the first
    * arbitrarily; we keep all — dedup upstream if that matters).
    */
  def insertIfAbsent(
      target: DataFrame,
      delta: DataFrame,
      keys: Seq[String]): DataFrame = {
    // no distinct() on the target keys: anti-join semantics ignore
    // duplicates, and the distinct would add a full extra shuffle
    val t = target.select(keys.map(col): _*).alias("t")
    val s = delta.alias("s")
    val cond = keys.map(k => col(s"s.$k") <=> col(s"t.$k")).reduce(_ && _)
    val missing = s.join(t, cond, "left_anti")
      .select(delta.columns.map(col).toIndexedSeq: _*)
    target.unionByName(missing)
  }
}
