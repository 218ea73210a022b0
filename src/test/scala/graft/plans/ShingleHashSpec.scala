package graft.plans

import graft.SparkSpecBase
import graft.functions.{TextFunctions => TF}
import org.apache.spark.sql.functions._

/** The codegen'd shingle-hash kernel must produce EXACTLY the values of
  * the declarative formulation it replaced (explode shingle strings →
  * `conv(substring(md5(shingle),1,15),16,10)`) — that identity is what
  * keeps the DuckDB oracles verbatim.
  */
class ShingleHashSpec extends SparkSpecBase {

  private def legacy(df: org.apache.spark.sql.DataFrame, n: Int, max: Int) =
    df.select(col("doc_id"), explode(slice(
        TF.wordShingles(col("text"), n), 1, max)).as("shingle"))
      .select(col("doc_id"),
        conv(substring(md5(col("shingle")), 1, 15), 16, 10).cast("long").as("h"))

  private def kernel(df: org.apache.spark.sql.DataFrame, n: Int, max: Int) = {
    df.select(col("doc_id"), explode(call_function("graft_shingle_hash60",
      TF.words(col("text")), lit(n), lit(max))).as("h"))
  }

  test("kernel equals the declarative md5-prefix pipeline on the corpus") {
    val docs = graft.sources.Tables.documents(spark, sfDir)
    for (n <- Seq(3, 4)) {
      val a = legacy(docs, n, 2000)
      val b = kernel(docs, n, 2000)
      assert(a.exceptAll(b).count() === 0, s"n=$n legacy-only rows")
      assert(b.exceptAll(a).count() === 0, s"n=$n kernel-only rows")
    }
  }

  test("edge cases: empty text, fewer words than n, cap") {
    import spark.implicits._
    val docs = Seq(
      (1L, ""), (2L, "one"), (3L, "one two three"),
      (4L, ("w " * 50).trim))
      .toDF("doc_id", "text")
    val a = legacy(docs, 4, 10).orderBy("doc_id", "h").collect().toSeq
    val b = kernel(docs, 4, 10).orderBy("doc_id", "h").collect().toSeq
    assert(a === b)
    // cap applies: doc 4 has 47 shingles, capped to 10
    assert(b.count(_.getLong(0) == 4L) === 10)
  }

  test("NULL text yields no rows (legacy emitted a phantom empty shingle)") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e"), (2L, null)).toDF("doc_id", "text")
    // the HOF formulation leaks md5('') for NULL text: concat_ws treats
    // the null sliced array as empty. The null-intolerant kernel drops
    // the row instead — a NULL doc must not near-dup-match every empty
    // doc. Deliberate divergence, pinned here.
    assert(legacy(docs, 4, 10).filter(col("doc_id") === 2L).count() === 1)
    assert(kernel(docs, 4, 10).filter(col("doc_id") === 2L).count() === 0)
  }
}
