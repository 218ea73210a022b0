package graft.functions

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

class FunctionsSpec extends SparkSpecBase {
  import spark.implicits._

  test("token counts: whitespace and subword-boundary") {
    val df = Seq("hello world, it's 42 tokens!").toDF("text")
    val (ws, sub) = df.select(
      TextFunctions.wsTokenCount(col("text")),
      TextFunctions.subTokenCount(col("text"))).as[(Long, Long)].head()
    assert(ws == 5L)
    // hello | world | , | it | ' | s | 42 | tokens | !
    assert(sub == 9L)
  }

  test("word shingles and jaccard") {
    val df = Seq(("a b c d", "a b c e")).toDF("t1", "t2")
    val j = df.select(TextFunctions.jaccard(
      TextFunctions.wordShingles(col("t1"), 2),
      TextFunctions.wordShingles(col("t2"), 2))).as[Double].head()
    // shingles: {a b, b c, c d} vs {a b, b c, c e} → 2/4
    assert(j == 0.5)
  }

  test("simhash is deterministic and identical for identical token streams") {
    val df = Seq("spark catalyst codegen", "spark catalyst codegen",
      "entirely different words here").toDF("text")
    val sigs = df.select(TextFunctions.simhash64(
      TextFunctions.words(col("text")))).as[Long].collect()
    assert(sigs(0) == sigs(1))
    assert(sigs(0) != sigs(2))
  }

  test("native graft_simhash64 expression matches the UDF bit-for-bit") {
    val df = Seq("spark catalyst codegen", "entirely different words here",
      "the quick brown fox").toDF("text")
    val both = df.select(
      TextFunctions.simhash64(TextFunctions.words(col("text"))).as("viaUdf"),
      call_function("graft_simhash64", TextFunctions.words(col("text"))).as("viaExpr"))
      .as[(Long, Long)].collect()
    both.foreach { case (u, e) => assert(u == e) }
  }

  test("langId picks the language with most stopword hits") {
    val df = Seq(
      "the cat is on the mat with a hat for the win",
      "el gato es un animal que vive en la casa con el perro").toDF("text")
    val langs = df.select(TextFunctions.langId(col("text")).getField("lang"))
      .as[String].collect()
    assert(langs(0) == "en")
    assert(langs(1) == "es")
  }

  test("chunks: overlapping token windows with stride") {
    val text = (1 to 60).map(i => s"w$i").mkString(" ")
    val df = Seq(text).toDF("text")
    val out = df.select(TextFunctions.chunks(col("text"), 50, 25))
      .as[Seq[String]].head()
    assert(out.length == 3) // starts at 0, 25, 50
    assert(out(0).startsWith("w1 ") && out(0).endsWith(" w50"))
    assert(out(1).startsWith("w26 ") && out(1).endsWith(" w60"))
    assert(out(2) == (51 to 60).map(i => s"w$i").mkString(" "))
  }

  test("redactPii replaces email, phone, and ssn with tags") {
    val df = Seq("mail a.b@x.co now, call 415-555-1212 or ssn 123-45-6789 ok")
      .toDF("text")
    val out = df.select(TextFunctions.redactPii(col("text"))).as[String].head()
    assert(out == "mail <EMAIL> now, call <PHONE> or ssn <SSN> ok")
  }

  test("vector dot/cosine on known values") {
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)))
      .toDF("a", "b")
    val (d, c) = df.select(
      VectorFunctions.dot(col("a"), col("b")),
      VectorFunctions.cosineR(col("a"), col("b"))).as[(Double, Double)].head()
    assert(d == 32.0)
    // 32 / (sqrt(14)*sqrt(77)) = 0.9746
    assert(c == 0.9746)
  }

  test("centroid aggregator computes per-dim means across partitions") {
    val df = Seq(
      (0, Seq(1.0f, 2.0f)), (0, Seq(3.0f, 4.0f)),
      (1, Seq(10.0f, 20.0f))
    ).toDF("label", "embedding").repartition(3)
    val centroid = udaf(new CentroidAggregator(2))
    val out = df.groupBy($"label").agg(centroid($"embedding").as("c"))
      .orderBy("label").as[(Int, Seq[Double])].collect().toSeq
    assert(out == Seq((0, Seq(2.0, 3.0)), (1, Seq(10.0, 20.0))))
  }

  test("centroid of an all-NULL-embedding group is NULL, not the zero vector") {
    val df = Seq(
      (0, Some(Seq(1.0f, 2.0f))), (0, None),
      (1, None), (1, None)
    ).toDF("label", "embedding").repartition(2)
    val centroid = udaf(new CentroidAggregator(2))
    val out = df.groupBy($"label").agg(centroid($"embedding").as("c"))
      .orderBy("label").as[(Int, Option[Seq[Double]])].collect().toSeq
    assert(out == Seq((0, Some(Seq(1.0, 2.0))), (1, None)))
    // posexplode then drops the NULL-centroid label — same as DuckDB's
    // unnest over no rows, keeping the knn_centroids oracle aligned
    val exploded = df.groupBy($"label").agg(centroid($"embedding").as("c"))
      .select($"label", posexplode($"c"))
    assert(exploded.filter($"label" === 1).count() == 0)
  }

  test("fingerprint is stable under prefix edits far from the min window") {
    val base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15 w16"
    val df = Seq(base, base).toDF("text")
    val fps = df.select(TextFunctions.fingerprint(col("text"))).as[Long].collect()
    assert(fps(0) == fps(1))
  }
}
