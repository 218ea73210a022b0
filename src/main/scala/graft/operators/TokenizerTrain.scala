package graft.operators

import graft.functions.{BpeTokenizer, TextFunctions => TF}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** DISTRIBUTED BPE merge-table training — learning the tokenizer FROM
  * the corpus (the step [[graft.functions.BpeTokenizer]]'s frozen
  * seed-text table sidesteps). Classic BPE (Sennrich, Haddow & Birch,
  * "Neural machine translation of rare words with subword units", ACL
  * 2016): repeatedly merge the corpus's most frequent adjacent symbol
  * pair.
  *
  * Scale shape: everything runs at WORD-TYPE grain — the corpus
  * tokenizes once into a (word, count) frame (one map-side-combined
  * shuffle; at 100 TB the type table is millions of rows, not
  * trillions), and each merge round is one pair-explode + partial-agg
  * groupBy over that bounded frame plus a 1-row argmax collect (the
  * learned merge is k rows of driver state, the k-means-centroid
  * pattern). The merge pass itself is per-row
  * ([[BpeTokenizer.mergePass]] — left-to-right, non-overlapping),
  * applied under a lineage cut every round so the per-round lineage
  * stays flat.
  *
  * Determinism (the oracle contract): training text is
  * `lower(text)` whitespace words restricted to `^[a-z]+$`; pair
  * counts weight every adjacent position (overlap counts: "aaa"
  * carries (a,a) twice) by the word-type count; argmax ties break on
  * (count DESC, pair lexicographic ASC). The DuckDB replay unrolls
  * the rounds, expressing the non-overlapping merge pass as a
  * double-delimited string `replace` — `||a||b||…||` with pattern
  * `|a||b|` — whose continue-after-replacement scan is exactly
  * [[BpeTokenizer.mergePass]]'s skip-after-merge (spec-pinned against
  * the in-memory trainer).
  */
object TokenizerTrain {

  /** The per-round merge pass as a CODEGEN expression
    * ([[graft.plans.BpeMergePassExpr]]) — value-identical to
    * [[BpeTokenizer.mergePass]] (spec-pinned) without the interpreted
    * Scala-UDF Seq[String] encode/decode per word-type per round (the
    * last per-row UDF in the engine's hot paths, r15 verdict item 6).
    */
  private def mergeExpr(syms: org.apache.spark.sql.Column, a: String,
      b: String): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.GraftInternal
    GraftInternal.columnOf(graft.plans.BpeMergePassExpr(
      GraftInternal.expressionOf(syms),
      GraftInternal.expressionOf(lit(a)),
      GraftInternal.expressionOf(lit(b))))
  }

  /** The learned merge table: one row per merge rank —
    * (rank, pair_a, pair_b, merged, n_occurrences).
    */
  def bpeTrain(docs: DataFrame, numMerges: Int = 8): DataFrame = {
    val spark = docs.sparkSession
    val typed = docs
      .select(explode(TF.words(lower(col("text")))).as("w"))
      .filter(col("w").rlike("^[a-z]+$"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .select(
        transform(sequence(lit(1), length(col("w"))),
          i => col("w").substr(i, lit(1))).as("syms"),
        col("cnt"))
    // every round is an eager cut; the previous one is released as its
    // successor lands, and the last when the loop ends (the merge
    // table is built on the driver and reads none of them)
    val chain = new org.apache.spark.sql.GraftInternal.Rounds(cutEvery = 1)
    var cur = chain.step(typed)(_ => ())
    val learned = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var rank = 1
    var done = false
    try while (rank <= numMerges && !done) {
      val top = cur
        .filter(size(col("syms")) >= 2)
        .select(col("cnt"), explode(
          transform(sequence(lit(0), size(col("syms")) - 2),
            i => struct(
              element_at(col("syms"), i + 1).as("a"),
              element_at(col("syms"), i + 2).as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("cnt")).as("n"))
        .orderBy(col("n").desc, col("a"), col("b"))
        .limit(1)
        .collect()
      if (top.isEmpty) done = true
      else {
        val Row(a: String, b: String, n: Long) = top(0)
        learned += ((rank, a, b, n))
        cur = chain.step(
          cur.select(mergeExpr(col("syms"), a, b).as("syms"), col("cnt")))(_ => ())
        rank += 1
      }
    } finally chain.release()
    import spark.implicits._
    learned.toSeq
      .toDF("rank", "pair_a", "pair_b", "n_occurrences")
      .select(col("rank"), col("pair_a"), col("pair_b"),
        concat(col("pair_a"), col("pair_b")).as("merged"),
        col("n_occurrences"))
  }

  /** The tokenizer-drift loop ACTED ON — the `text_bpe_eval` dashboard
    * turned into maintenance, exactly as
    * [[graft.sources.IvfIndexStore.ensureRetrained]] acts on recall
    * drift: measure per-slice compression (chars per BPE token) under
    * the FROZEN production merge table, and when the WORST slice falls
    * below `threshold` (the tokenizer fragments that slice — its
    * compression collapses toward 1 char/token), retrain the merge
    * table over the current mix via [[bpeTrain]] and serve the
    * retrained table; a healthy corpus skips the rebuild and keeps
    * serving the frozen table (spec-pinned no-op).
    *
    * The drift probe is a driver-side scalar BY DESIGN (the
    * k-means-centroid pattern — in production the number comes off the
    * `text_bpe_eval` dashboard); everything else is the word-type-grain
    * training of [[bpeTrain]]. Output: the SERVED merge table
    * (rank, pair_a, pair_b, merged) with the decision columns
    * (`retrained`, `trigger_cpt`) riding along — a pure function of
    * the corpus, fully replayable by the oracle's branching CTE.
    */
  def bpeRetrainServe(docs: DataFrame, threshold: Double = 3.8,
      numMerges: Int = 8): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // per-slice compression under the frozen table — text_bpe_eval's
    // exact law (4dp like the dashboard, so both engines see the same
    // trigger arithmetic)
    val minCptRow = docs.filter(col("text").isNotNull)
      .groupBy(col("lang"), col("source"))
      .agg(round(sum(length(col("text"))).cast("double")
        / sum(TF.bpeTokenCount(col("text"))), 4).as("cpt"))
      .agg(min(col("cpt"))).head()
    // an EMPTY corpus (or all-null text) yields a NULL min — no drift
    // evidence, so serve the frozen table (healthy no-op) rather than
    // crash reading the null
    val minCpt =
      if (minCptRow.isNullAt(0)) Double.MaxValue else minCptRow.getDouble(0)
    val fire = minCpt < threshold
    val served =
      if (fire)
        bpeTrain(docs, numMerges)
          .select(col("rank"), col("pair_a"), col("pair_b"), col("merged"))
      else
        BpeTokenizer.merges.zipWithIndex
          .map { case ((a, b), i) => (i + 1, a, b, a + b) }.toSeq
          .toDF("rank", "pair_a", "pair_b", "merged")
    served
      .withColumn("retrained", lit(fire))
      // already 4dp — the min of the slice-rounded dashboard values
      .withColumn("trigger_cpt", lit(minCpt))
  }
}
