package graft.plans

import graft.SparkSpecBase
import graft.functions.{TextFunctions => TF}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The shingle-set and sorted-Jaccard kernels must give EXACTLY the
  * reference law's verdict: `round(graft_sorted_jaccard(
  * graft_shingle_set(a, 3), graft_shingle_set(b, 3)), 4)` equals
  * `TF.jaccard(TF.shinglesFromWords(a, 3), TF.shinglesFromWords(b, 3))`
  * on every pair — with generated code and with interpreted
  * evaluation, since a stage may run either.
  */
class ShingleJaccardSpec extends SparkSpecBase {

  private val texts = Seq(
    "", "   ", " \t ",
    "one", "one two", "  one   two  ",
    "a b a b a b a b", "x y z x y z x y z",
    "数据 流处理 引擎 与 批处理", "数据 流处理 引擎 与 流处理",
    "café naïve 😀 résumé", "café naïve 😀 résumé encore",
    "the quick brown fox jumps over the lazy dog",
    "the quick brown fox jumps over the lazy dog",
    "the quick brown fox leaps over the lazy dog")

  /** Codegen forced ON (whole-stage, and generated projections only)
    * or OFF (interpreted) on a fresh session of the shared context. */
  private def session(codegen: Boolean): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.codegen.wholeStage", codegen.toString)
    s.conf.set("spark.sql.codegen.factoryMode",
      if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN")
    s
  }

  /** An RDD-backed frame: a local relation would be constant-folded by
    * the optimizer, which evaluates interpreted whatever the mode. */
  private def docs(s: SparkSession): DataFrame = {
    import s.implicits._
    s.sparkContext.parallelize(texts.zipWithIndex.map(_.swap), 2)
      .toDF("id", "text")
      .select(col("id"), TF.words(col("text")).as("w"))
  }

  for (codegen <- Seq(true, false)) {
    val mode = if (codegen) "codegen" else "interpreted"

    test(s"sorted-set Jaccard equals the reference law on every pair ($mode)") {
      val s = session(codegen)
      val d = docs(s)
      val pairs = d.select(col("id").as("ia"), col("w").as("wa"))
        .crossJoin(d.select(col("id").as("ib"), col("w").as("wb")))
      val out = pairs.select(col("ia"), col("ib"),
        TF.sortedJaccard(TF.shingleSet(col("wa"), 3),
          TF.shingleSet(col("wb"), 3)).as("kernel"),
        TF.jaccard(TF.shinglesFromWords(col("wa"), 3),
          TF.shinglesFromWords(col("wb"), 3)).as("law"))
        .collect()
      assert(out.length === texts.size * texts.size)
      val bad = out.filter(r => r.getDouble(2) != r.getDouble(3))
      assert(bad.isEmpty, bad.map(r =>
        s"(${texts(r.getInt(0))} | ${texts(r.getInt(1))}) " +
          s"kernel ${r.get(2)} law ${r.get(3)}").mkString("\n"))
      // the inputs reach every branch of the law
      val byPair = out.map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
      assert(byPair((12, 13)) === 1.0) // identical texts
      assert(byPair((0, 1)) === 1.0) // empty vs whitespace-only: {""} both
      assert(byPair((3, 4)) === 0.0) // one word vs two: disjoint short shingles
      assert(byPair((8, 9)) > 0.0 && byPair((8, 9)) < 1.0) // multibyte
    }

    test(s"shingle set is the sorted distinct reference shingle array ($mode)") {
      val s = session(codegen)
      val got = docs(s).select(col("id"),
        TF.shingleSet(col("w"), 3).as("k"),
        sort_array(array_distinct(TF.shinglesFromWords(col("w"), 3))).as("law"))
        .collect()
      got.foreach(r => assert(r.getSeq[String](1) === r.getSeq[String](2),
        texts(r.getInt(0))))
      // repeated shingles collapse: "a b a b a b a b" has 6 windows, 2 distinct
      assert(got.find(_.getInt(0) == 6).get.getSeq[String](1) ===
        Seq("a b a", "b a b"))
    }

    test(s"token arrays with null and empty tokens follow concat_ws ($mode)") {
      val s = session(codegen)
      import s.implicits._
      val arrays = Seq[Seq[String]](
        Seq("a", null, "b", "c"), Seq(null, null), Seq("", "a"),
        Seq("a", "", "", "b"), Seq(), Seq(null, "a", null, "b", null))
      val d = s.sparkContext.parallelize(arrays.zipWithIndex.map(_.swap), 2)
        .toDF("id", "w")
      val got = d.select(col("id"),
        TF.shingleSet(col("w"), 3).as("k"),
        sort_array(array_distinct(TF.shinglesFromWords(col("w"), 3))).as("law"))
        .collect()
      got.foreach(r => assert(r.getSeq[String](1) === r.getSeq[String](2),
        arrays(r.getInt(0)).toString))
    }
  }

  test("NULL token arrays give a NULL set and a NULL score") {
    val s = session(codegen = true)
    val out = s.sql("SELECT graft_shingle_set(CAST(NULL AS ARRAY<STRING>), 3), " +
      "graft_sorted_jaccard(array('a'), CAST(NULL AS ARRAY<STRING>)), " +
      "graft_sorted_jaccard(CAST(array() AS ARRAY<STRING>), CAST(array() AS ARRAY<STRING>))").head()
    assert(out.isNullAt(0) && out.isNullAt(1))
    assert(out.getDouble(2) === 0.0)
  }
}
