package graft.tools

import graft.functions.{TextFunctions => TF}
import org.apache.spark.sql.functions._

/** Measures the md5-rebase cost boundary for the last two rows-only →
  * oracle conversions (SURVEY §7 candidate): converting
  * `dedup_simhash` / `text_fingerprint`'s murmur-lane kernels to the
  * oracle-replayable md5 device (the `dedup_minhash`/`dedup_ngram`
  * rebase) would pay one md5 per TOKEN instead of one murmur round.
  * This tool times both kernels over the real corpus in one JVM:
  *
  *  - `simhash64`: the shipped murmur-lane signature (the kernel the
  *    rebase would replace), forced through the hash instrument.
  *  - `md5_token`: `minhashSigWords(words, 1, 1)` — 1-gram shingles
  *    are exactly the token stream and k = 1 is a single affine map,
  *    so the expression pays precisely one md5 per token plus a
  *    constant fold: the md5-per-token kernel cost, measured with the
  *    SAME codegen machinery the rebase would use.
  *
  * Prints one JSON line with best-of-N wall for each and the ratio.
  * Decision rule (from the §7 candidate): convert only if the md5
  * kernel stays under ~2× the murmur kernel; otherwise commit the
  * measurement and close the candidate as a documented boundary.
  */
object KernelCost {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val spark = graft.GraftSession.local(cpus.toInt)
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .filter(col("text").isNotNull)
    def time(c: org.apache.spark.sql.Column): Double = {
      val runs = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        docs.select(c.as("v"))
          .agg(expr("bit_xor(xxhash64(v))")).collect()
        (System.nanoTime() - t0) / 1e9
      }
      runs.min
    }
    val w = TF.words(col("text"))
    // warm codegen for both shapes
    docs.limit(1000).select(call_function("graft_simhash64", w)).count()
    docs.limit(1000).select(TF.minhashSigWords(w, 1, 1)(0)).count()
    val murmur = time(call_function("graft_simhash64", w))
    val md5Tok = time(TF.minhashSigWords(w, 1, 1)(0))
    val r4 = (v: Double) => BigDecimal(v)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toString
    println(s"""{"metric":"kernel_cost","simhash64_murmur_sec":${r4(murmur)},""" +
      s""""md5_per_token_sec":${r4(md5Tok)},""" +
      s""""ratio":${r4(md5Tok / murmur)},"reps":$reps,"sf":"$sfDir"}""")
    spark.stop()
  }
}
