package graft.plans

import graft.SparkSpecBase
import graft.functions.{TextFunctions => TF}
import org.apache.spark.sql.functions._

/** The codegen'd minhash-signature kernel must produce EXACTLY the
  * values of the HOF formulation it replaced
  * (`minhashSigFromHashes(transform(wordShingles, md5Hash32), k)`) —
  * that identity is what keeps the DuckDB minhash oracles verbatim
  * (same md5-affine family, same shingle law).
  */
class MinhashSigSpec extends SparkSpecBase {

  private def legacy(df: org.apache.spark.sql.DataFrame, n: Int, k: Int) =
    df.select(col("doc_id"), TF.wordShingles(col("text"), n).as("sh"))
      .withColumn("hs", transform(col("sh"), TF.md5Hash32 _))
      .select(col("doc_id"), TF.minhashSigFromHashes(col("hs"), k).as("sig"))

  private def kernel(df: org.apache.spark.sql.DataFrame, n: Int, k: Int) = {
    df.select(col("doc_id"), TF.words(col("text")).as("w"))
      .select(col("doc_id"), TF.minhashSigWords(col("w"), n, k).as("sig"))
  }

  test("kernel equals the HOF md5-affine pipeline on the corpus") {
    val docs = graft.sources.Tables.documents(spark, sfDir)
    for ((n, k) <- Seq((3, 32), (4, 16))) {
      val a = legacy(docs, n, k)
      val b = kernel(docs, n, k)
      assert(a.exceptAll(b).count() === 0, s"n=$n k=$k legacy-only rows")
      assert(b.exceptAll(a).count() === 0, s"n=$n k=$k kernel-only rows")
    }
  }

  test("edge cases: empty text, fewer words than n") {
    import spark.implicits._
    val docs = Seq((1L, ""), (2L, "one"), (3L, "one two three"),
      (4L, ("w " * 50).trim)).toDF("doc_id", "text")
    val a = legacy(docs, 3, 8).orderBy("doc_id").collect().toSeq
    val b = kernel(docs, 3, 8).orderBy("doc_id").collect().toSeq
    assert(a === b)
  }

  test("NULL text yields a NULL signature (legacy signed a phantom empty shingle)") {
    import spark.implicits._
    val docs = Seq((1L, "a b c"), (2L, null)).toDF("doc_id", "text")
    // the HOF formulation leaks a signature for NULL text (concat_ws
    // turns the null sliced array into md5('')); the null-intolerant
    // kernel returns NULL instead, so a NULL doc produces no band rows
    // and matches nothing — same deliberate divergence ShingleHashSpec
    // pins for the 60-bit kernel.
    assert(legacy(docs, 3, 8).filter(col("doc_id") === 2L)
      .head().isNullAt(1) === false)
    assert(kernel(docs, 3, 8).filter(col("doc_id") === 2L)
      .head().isNullAt(1) === true)
  }

  test("char-gram kernel equals the HOF charNgrams pipeline, incl. multi-byte text") {
    import spark.implicits._
    val docs = Seq(
      (1L, "abcdefgh"), (2L, "ab"), (3L, ""),
      (4L, "数据流处理引擎与批处理"), // multi-byte: windows must count CHARS
      (5L, "mixed 中文 and ascii text"),
      (6L, "aaaaaaaaaa")).toDF("doc_id", "text")
    for ((n, k) <- Seq((3, 16), (5, 64))) {
      val hof = docs.select(col("doc_id"),
        TF.minhashSig(TF.charNgrams(col("text"), n), k).as("sig"))
      val kern = docs.select(col("doc_id"),
        TF.minhashSigChars(col("text"), n, k).as("sig"))
      assert(hof.exceptAll(kern).count() === 0, s"n=$n k=$k hof-only rows")
      assert(kern.exceptAll(hof).count() === 0, s"n=$n k=$k kernel-only rows")
    }
  }

  test("char-gram kernel equals the HOF pipeline on the corpus") {
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .filter(col("text").isNotNull)
    val hof = docs.select(col("doc_id"),
      TF.minhashSig(TF.charNgrams(col("text"), 5), 64).as("sig"))
    val kern = docs.select(col("doc_id"),
      TF.minhashSigChars(col("text"), 5, 64).as("sig"))
    assert(hof.exceptAll(kern).count() === 0)
    assert(kern.exceptAll(hof).count() === 0)
  }

  test("sorted-common-count equals size(array_intersect) on sorted distinct string sets") {
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .filter(col("text").isNotNull)
    val sets = docs.select(col("doc_id"),
      sort_array(array_distinct(TF.charNgrams(col("text"), 5))).as("g"))
    val pairs = sets.alias("a").join(sets.alias("b"),
        col("a.doc_id") % 17 === col("b.doc_id") % 17 &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.g").as("ga"), col("b.g").as("gb"))
    val diff = pairs.select(
        call_function("graft_sorted_common_count", col("ga"), col("gb"))
          .as("merge"),
        size(array_intersect(col("ga"), col("gb"))).as("builtin"))
      .filter(col("merge") =!= col("builtin"))
    assert(diff.count() === 0)
  }
}
