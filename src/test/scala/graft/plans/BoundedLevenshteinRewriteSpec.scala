package graft.plans

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

class BoundedLevenshteinRewriteSpec extends SparkSpecBase {
  import spark.implicits._

  // a parquet source, NOT a local Seq: ConvertToLocalRelation folds a
  // filtered LocalRelation at optimize time and no Filter survives to
  // assert on (levenshtein is not a pushable source filter, so over
  // parquet the Filter node stays in the plan)
  private lazy val namesPath = {
    val p = java.nio.file.Files.createTempDirectory("lev_names").toString
    Seq(("cold", "old"), ("cold", "gold"), ("cold", "zebra"),
      (null, "x"), ("y", null)).toDF("a", "b")
      .write.mode("overwrite").parquet(p)
    p
  }
  private def names = spark.read.parquet(namesPath)

  private def optimized(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.optimizedPlan.toString

  test("levenshtein(a,b) <= k becomes the banded threshold form") {
    val q = names.filter(levenshtein($"a", $"b") <= 1)
    assert(optimized(q).contains("levenshtein(a#"), "sanity: lev present")
    assert(optimized(q).contains("Some(1)) >= 0"),
      s"no banded rewrite in:\n${optimized(q)}")
    assert(q.count() == 2) // cold/old, cold/gold; NULLs drop
  }

  test("strict < and literal-on-left mirrors rewrite with the right bound") {
    val lt = names.filter(levenshtein($"a", $"b") < 2)
    assert(optimized(lt).contains("Some(1)) >= 0"))
    val mirror = names.filter(lit(1) >= levenshtein($"a", $"b"))
    assert(optimized(mirror).contains("Some(1)) >= 0"))
    assert(lt.count() == mirror.count())
  }

  test("a Cast around the distance is preserved (the fuzzy-join shape)") {
    val q = names.filter(levenshtein($"a", $"b").cast("long") <= lit(1L))
    assert(optimized(q).contains("Some(1))"),
      s"cast-wrapped comparison not rewritten:\n${optimized(q)}")
    assert(q.count() == 2)
  }

  test("rewritten and plain forms agree on every pair incl. k=0 and NULLs") {
    val pairs = Seq(("abc", "abc"), ("abc", "abd"), ("abc", "xyz"),
      ("", ""), ("", "a"), (null, "a")).toDF("a", "b")
    for (k <- 0 to 3) {
      val viaRule = pairs.filter(levenshtein($"a", $"b") <= k).count()
      // threshold form written directly — the rule's target semantics
      val direct = pairs.filter(expr(s"levenshtein(a, b, $k) >= 0")).count()
      assert(viaRule == direct, s"k=$k: $viaRule vs $direct")
    }
  }

  test("value uses of levenshtein are untouched") {
    val q = names.select(levenshtein($"a", $"b").as("d"))
    assert(!optimized(q).contains("Some("),
      "projection-only distance must keep the exact two-arg form")
  }
}
