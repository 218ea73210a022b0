package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Blocked fuzzy self-join — entity resolution over a name column.
  *
  * The reference's item dim arrives as free-text names
  * (adjective/modifier/noun columns concatenated, reference:
  * astro-sdk-tutorial/dags/etl_s3_snowflake_d_item.py:20ff); matching
  * near-identical names ("cold widget" / "old widget") across drops is
  * the classic dedup-the-dim problem an exact MERGE key cannot solve.
  *
  * All-pairs edit distance is O(n²) and never runs at scale. The
  * standard decomposition (same as the MinHash/SimHash dedup family
  * here): BLOCK on a cheap deterministic key so only same-block pairs
  * are compared, then VERIFY candidates with the exact metric. The
  * join shuffles on the block key only; the largest block bounds the
  * quadratic term, so blocking functions should target high
  * selectivity (last token, phonetic code, length bucket + prefix).
  * Recall is exactly "pairs that share a block" — the contract is
  * explicit, not a silent approximation, and the oracle applies the
  * same blocking.
  */
object FuzzyJoin {

  /** Last whitespace token — a good block key for "modifier... noun"
    * style names (typos concentrate in the modifiers).
    */
  def lastTokenBlock(c: Column): Column = element_at(split(c, " "), -1)

  /** Distinct values of `textCol` paired when they share a block and
    * sit within `maxDist` edits. Output: `name_a < name_b`, plus the
    * exact distance — one row per unordered pair.
    */
  def nearNames(df: DataFrame, textCol: String, maxDist: Int,
      block: Column => Column = lastTokenBlock): DataFrame = {
    // BoundedLevenshteinRewrite optimizes the <= maxDist verify below to
    // the banded O(len·maxDist) levenshtein
    val nm = df.select(col(textCol)).distinct()
      .withColumn("__blk", block(col(textCol)))
    val pairs = nm.alias("a").join(nm.alias("b"),
      col("a.__blk") === col("b.__blk") &&
        col(s"a.$textCol") < col(s"b.$textCol"))
    pairs
      .withColumn("edit_dist",
        levenshtein(col(s"a.$textCol"), col(s"b.$textCol")).cast("long"))
      .filter(col("edit_dist") <= maxDist)
      .select(col(s"a.$textCol").as("name_a"), col(s"b.$textCol").as("name_b"),
        col("edit_dist"))
  }
}
