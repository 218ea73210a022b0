package graft.plans

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

class HofDotProductRewriteSpec extends SparkSpecBase {
  import spark.implicits._

  // parquet source so ConvertToLocalRelation can't fold the projection
  private lazy val vecPath = {
    val p = java.nio.file.Files.createTempDirectory("hof_vecs").toString
    Seq(
      (1L, Array(1f, 2f, 3f), Array(4f, 5f, 6f)),
      (2L, Array(0.5f, -1f), Array(2f, 2f)),
      (3L, null.asInstanceOf[Array[Float]], Array(1f, 1f)),
      (4L, Array(1f, 2f, 3f), Array(1f, 1f)) // ragged: zip_with NULL-pads
    ).toDF("id", "a", "b").write.mode("overwrite").parquet(p)
    p
  }
  private def vecs = spark.read.parquet(vecPath)

  private val hofDot =
    "aggregate(zip_with(a, b, (x, y) -> double(x) * double(y)), 0d, (acc, v) -> acc + v)"

  test("declarative dot product optimizes to the codegen kernel") {
    val q = vecs.select(expr(hofDot).as("dot"))
    val plan = q.queryExecution.optimizedPlan.toString
    assert(plan.contains("graft_dot"), s"no kernel in:\n$plan")
  }

  test("values match the hand-computed dots; NULL and ragged semantics kept") {
    val out = vecs.select($"id", expr(hofDot).as("dot"))
      .orderBy("id").as[(Long, Option[Double])].collect().toSeq
    assert(out == Seq(
      (1L, Some(32.0)),   // 4 + 10 + 18
      (2L, Some(-1.0)),   // 1 - 2
      (3L, None),         // NULL array stays NULL
      (4L, None)))        // ragged arrays stay NULL (zip_with pads)
  }

  test("nullable elements get the null-aware kernel; NULL slot propagates") {
    val p = java.nio.file.Files.createTempDirectory("hof_nulls").toString
    Seq(
      (1L, Array[java.lang.Float](1f, null, 3f), Array[java.lang.Float](4f, 5f, 6f)),
      (2L, Array[java.lang.Float](1f, 2f), Array[java.lang.Float](3f, 4f)))
      .toDF("id", "a", "b").write.mode("overwrite").parquet(p)
    val df = spark.read.parquet(p)
    val q = df.select($"id", expr(hofDot).as("dot"))
    assert(q.queryExecution.optimizedPlan.toString.contains("graft_dot_nullaware"),
      "nullable-element arrays must take the null-aware kernel")
    assert(q.orderBy("id").as[(Long, Option[Double])].collect().toSeq ==
      Seq((1L, None), (2L, Some(11.0))))
  }

  test("graft_dot_dd keeps the fold's null/shape semantics on double arrays") {
    // the r15 review finding: the double kernel read NULL slots as raw
    // memory and silently truncated ragged pairs — the fold it claims
    // bit-identity with NULL-propagates both. Parquet round trip so
    // containsNull=true and nothing constant-folds.
    val p = java.nio.file.Files.createTempDirectory("dd_nulls").toString
    Seq(
      (1L, Array[java.lang.Double](1d, 2d, 3d), Array[java.lang.Double](4d, 5d, 6d)),
      (2L, Array[java.lang.Double](1d, null, 3d), Array[java.lang.Double](4d, 5d, 6d)),
      (3L, Array[java.lang.Double](1d, 2d, 3d), Array[java.lang.Double](1d, 1d)),
      (4L, null.asInstanceOf[Array[java.lang.Double]], Array[java.lang.Double](1d)))
      .toDF("id", "a", "b").write.mode("overwrite").parquet(p)
    val df = spark.read.parquet(p)
    val out = df.select($"id", call_function("graft_dot_dd", $"a", $"b").as("dot"))
      .orderBy("id").as[(Long, Option[Double])].collect().toSeq
    val fold = df.select($"id",
      expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0d, (acc, v) -> acc + v)")
        .as("dot"))
      .orderBy("id").as[(Long, Option[Double])].collect().toSeq
    assert(out == Seq(
      (1L, Some(32.0)),
      (2L, None),    // NULL slot propagates
      (3L, None),    // ragged arrays propagate NULL, never truncate
      (4L, None)))   // NULL array stays NULL
    assert(out == fold, "kernel must match the fold it replaces, row for row")
  }

  test("float-precision product (x * y without casts) is NOT rewritten") {
    val q = vecs.select(
      expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0f, (acc, v) -> acc + v)")
        .as("dotf"))
    assert(!q.queryExecution.optimizedPlan.toString.contains("graft_dot"),
      "float-precision fold must keep its own arithmetic")
  }
}
