package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

class CorpusStatsSpec extends SparkSpecBase {
  import spark.implicits._

  private def docs = Seq(
    (1L, "a b a"),
    (2L, "b c"),
    (3L, "a  b\tc")   // multi-space + tab: tokenizer splits on any \s+
  ).toDF("doc_id", "text")

  test("term frequencies: doc frequency and total count per token") {
    val out = CorpusStats.termFrequencies(docs)
      .as[(String, Long, Long)].collect().toSeq
    assert(out == Seq(("a", 2L, 3L), ("b", 3L, 3L), ("c", 2L, 2L)))
  }

  test("topN cuts on the (n_total desc, token) total order") {
    val out = CorpusStats.termFrequencies(docs, topN = 2)
      .as[(String, Long, Long)].collect().toSeq
    // a and b tie at n_total=3 -> token asc breaks it deterministically
    assert(out == Seq(("a", 2L, 3L), ("b", 3L, 3L)))
  }

  test("no Expand in the plan: distinct-doc counting is two-level, not Expand") {
    val plan = CorpusStats.termFrequencies(docs)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"), "count-distinct Expand rewrite leaked in")
  }

  test("contamination flags test shingles that appear anywhere in train") {
    import org.apache.spark.sql.functions.col
    // fixture texts chosen so their md5 buckets land where needed:
    // doc 1 -> bucket 99 (test), doc 2 -> bucket 33 (train, shares the
    // 'alpha beta gamma delta' 4-gram), doc 3 -> bucket 99 (test, clean)
    val docs = Seq(
      (1L, "alpha beta gamma delta tail7"),
      (2L, "head0 alpha beta gamma delta"),
      (3L, "zeta eta theta iota kappa12")
    ).toDF("doc_id", "text")
    val out = CorpusStats.contamination(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_shingles"), r.getAs[Long]("n_contaminated"),
          r.getAs[Double]("contamination")))).toMap
    // doc 1 has shingles {alpha beta gamma delta, beta gamma delta tail7}:
    // the first also lives in train doc 2 -> 1 of 2 contaminated
    assert(out(1L) == ((2L, 1L, 0.5)))
    assert(out(3L)._2 == 0L)  // clean test doc: zero hits
    assert(!out.contains(2L)) // train docs are not scored
  }

  test("repetition: duplicate-word and top-bigram fractions") {
    val d = Seq(
      (1L, "x y x y x"),   // words 5, distinct 2; bigrams: "x y"×2, "y x"×2 -> top 2/4
      (2L, "a b c d"),     // no repetition: dup 0, top bigram 1/3
      (3L, "solo")         // single word: dup 0, degenerate ratio 1/1
    ).toDF("doc_id", "text")
    val out = CorpusStats.repetition(d).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_words"), r.getAs[Double]("dup_word_ratio"),
          r.getAs[Double]("top_bigram_ratio")))).toMap
    assert(out(1L) == ((5L, 0.6, 0.5)))
    assert(out(2L) == ((4L, 0.0, 1.0 / 3.0)))
    assert(out(3L) == ((1L, 0.0, 1.0)))
  }

  test("gopher flags: each rule can independently fail the keep decision") {
    val fifty = (1 to 50).map(i => s"word$i").mkString(" ")       // 50 x len>=5 words
    val good = (("the and for " * 5) + "alpha delta gamma " * 15).trim
    val d = Seq(
      (1L, good),        // 60 words, mean len 270/60=4.5, stopwords {the,and,for}
      (2L, "the and " + fifty), // mean word len > 5 -> flag_word_len false
      (3L, "the of a b c d e f g h i j")  // 12 words -> flag_words false
    ).toDF("doc_id", "text")
    val out = CorpusStats.gopherQuality(d).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Boolean]("flag_words"), r.getAs[Boolean]("flag_word_len"),
          r.getAs[Boolean]("flag_stops"), r.getAs[Boolean]("keep")))).toMap
    assert(out(1L) == ((true, true, true, true)))
    assert(out(2L)._2 == false)
    assert(out(2L)._4 == false)
    assert(out(3L)._1 == false)
    assert(out(3L)._4 == false)
  }

  test("tfidf keeps working with string document ids (window fallback)") {
    val d = Seq(
      ("url-a", "common rare1 common"),
      ("url-b", "common rare2")
    ).toDF("doc_id", "text")
    val out = CorpusStats.tfidf(d, topK = 1).collect()
      .map(r => r.getAs[String]("doc_id") -> r.getAs[String]("token")).toMap
    assert(out == Map("url-a" -> "rare1", "url-b" -> "rare2"))
  }

  test("tfidf ranks corpus-rare terms above ubiquitous ones") {
    val d = Seq(
      (1L, "common rare1 common"),
      (2L, "common rare2"),
      (3L, "common rare3")
    ).toDF("doc_id", "text")
    val out = CorpusStats.tfidf(d, topK = 1).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("token")).toMap
    // 'common' has df=3 -> idf=0; each rareN (df=1, idf=ln 3) wins its doc
    assert(out == Map(1L -> "rare1", 2L -> "rare2", 3L -> "rare3"))
  }

  test("mixture: slice shares divide the corpus totals exactly") {
    val d = Seq(
      (1L, "a b c", "en", "s1"),     // 3 tokens
      (2L, "d e", "en", "s1"),       // 2
      (3L, "f g h", "en", "s2"),     // 3
      (4L, "i j", "fr", "s1")        // 2
    ).toDF("doc_id", "text", "lang", "source")
    val out = CorpusStats.mixture(d).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[String]("source")) ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"),
          r.getAs[Double]("doc_share"), r.getAs[Double]("token_share")))).toMap
    assert(out(("en", "s1")) == ((2L, 5L, 0.5, 0.5)))
    assert(out(("en", "s2")) == ((1L, 3L, 0.25, 0.3)))
    assert(out(("fr", "s1")) == ((1L, 2L, 0.25, 0.2)))
  }

  test("pack manifest: offsets are a global prefix sum across bucket borders") {
    // bucketWidth=2 forces doc 3 into a second window bucket, so its
    // offset must include the first bucket's total via the broadcast
    // prefix — the two-level path, not a single global window
    val d = Seq(
      (1L, "a b c"),       // start 0, tokens 3
      (2L, "d e f g"),     // start 3
      (3L, "h i")          // start 7, other bucket
    ).toDF("doc_id", "text")
    val out = CorpusStats.packManifest(d, capacity = 4, bucketWidth = 2)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("pack_start"), r.getAs[Long]("first_chunk"),
          r.getAs[Long]("last_chunk")))).toMap
    assert(out(1L) == ((0L, 0L, 0L)))
    assert(out(2L) == ((3L, 0L, 1L)))  // straddles the capacity-4 boundary
    assert(out(3L) == ((7L, 1L, 2L)))
  }

  test("pack manifest excludes null-text docs; stream offsets stay contiguous") {
    val d = Seq(
      (1L, "a b c"),
      (2L, null.asInstanceOf[String]),  // no stream position
      (3L, "d e")
    ).toDF("doc_id", "text")
    val out = CorpusStats.packManifest(d, capacity = 4, bucketWidth = 2)
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("pack_start")).toMap
    assert(out == Map(1L -> 0L, 3L -> 3L))  // doc 2 absent, no gap left
  }

  test("mixture sample keeps a null-keyed slice at its own rate") {
    val d = (
      (1 to 20).map(i => (i.toLong, s"tok$i " * 8, "en", "s1")) :+
      ((21L, "tok21 " * 8, null.asInstanceOf[String], null.asInstanceOf[String]))
    ).toDF("doc_id", "text", "lang", "source")
    val out = CorpusStats.mixtureSample(d, temperature = 2.0, targetFrac = 0.9)
      .collect()
    // the (null, null) slice is tiny -> rate caps at 1.0: doc 21 MUST
    // survive (a null-dropping equi-join would silently delete it)
    assert(out.exists(_.getAs[Long]("doc_id") == 21L), out.mkString(","))
  }

  test("pack manifest is bucketWidth-invariant and equals the global prefix sum") {
    // the two-level prefix decomposition must produce identical offsets
    // for ANY bucket width — including widths that split mid-stream,
    // width 1 (every doc its own bucket), and a width larger than the
    // id range (degenerate single bucket == the naive global form)
    val rnd = new scala.util.Random(42)
    val docs = (0 until 200).filter(_ => rnd.nextBoolean()).map { i =>
      (i.toLong, (0 until (1 + rnd.nextInt(9))).map(j => s"w$j").mkString(" "))
    } // sparse, non-contiguous ids
    val df = docs.toDF("doc_id", "text")
    val expected = docs.sortBy(_._1)
      .scanLeft((0L, 0L, 0L)) { case ((_, _, end), (id, text)) =>
        val n = text.split("\\s+").length.toLong
        (id, end, end + n)
      }.drop(1).map { case (id, start, _) => id -> start }.toMap
    for (width <- Seq(1L, 7L, 64L, 1L << 20)) {
      val got = CorpusStats.packManifest(df, capacity = 16, bucketWidth = width)
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("pack_start"))
        .toMap
      assert(got == expected, s"bucketWidth=$width")
    }
  }

  test("mixture sample: rates flatten toward the smaller slice and bound at 1") {
    val big = (1 to 40).map(i => (i.toLong, s"tok$i " * 8, "en", "s1"))
    val small = (41 to 44).map(i => (i.toLong, s"tok$i " * 8, "fr", "s2"))
    val d = (big ++ small).toDF("doc_id", "text", "lang", "source")
    val out = CorpusStats.mixtureSample(d, temperature = 2.0, targetFrac = 0.5)
      .collect()
    val rates = out.map(r => r.getAs[String]("lang") ->
      r.getAs[Double]("sample_rate")).toMap
    // temperature flattening must give the minority slice the higher
    // keep rate; both rates live in (0, 1]
    assert(rates.size == 2, out.mkString(","))
    assert(rates("fr") > rates("en"))
    assert(rates.values.forall(r => r > 0.0 && r <= 1.0))
    // all sampled docs carry their slice's rate and exist in the input
    assert(out.map(_.getAs[Long]("doc_id")).forall(id => id >= 1 && id <= 44))
  }

  test("weighted sample: n-bounded, deterministic, weight-monotone keys") {
    import org.apache.spark.sql.functions.{col, length}
    val docs = (1L to 40L).map(i => (i, ("w" * i.toInt) + s" doc$i"))
      .toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")).cast("bigint"))
    val a = CorpusStats.weightedSample(docs, n = 10).collect().toSeq
    val b = CorpusStats.weightedSample(docs, n = 10).collect().toSeq
    assert(a == b)
    assert(a.length == 10)
    // keys live in the negative log domain and arrive in rank order
    val keys = a.map(_.getAs[Double]("sample_key"))
    assert(keys.forall(k => k < 0.0))
    assert(keys.sliding(2).forall(w => w.length < 2 || w(0) >= w(1)))
    // an overwhelming weight dominates: key = ln(u)/w -> 0- as w grows
    val heavy = docs.unionByName(
      Seq((999L, "h" * 5000)).toDF("doc_id", "text")
        .withColumn("n_chars", length(col("text")).cast("bigint")))
    val top = CorpusStats.weightedSample(heavy, n = 1).collect().head
    assert(top.getAs[Long]("doc_id") == 999L)
  }

  test("split assignment is content-keyed: byte-identical twins share a split") {
    import org.apache.spark.sql.functions.col
    val twins = Seq((1L, "same text"), (99L, "same text"), (2L, "different"))
      .toDF("doc_id", "text")
    val out = CorpusStats.splitAssign(twins).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("bucket"), r.getAs[String]("split")))).toMap
    assert(out(1L) == out(99L)) // duplicates can never straddle the split
    assert(out.values.forall { case (b, s) =>
      b >= 0 && b < 100 &&
        (s == "train" && b < 98 || s == "valid" && b == 98 || s == "test" && b == 99)
    })
  }

  test("docEmbed: repeated tokens stack votes, norms hit 1, identical text identical vector") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha alpha alpha"), // one token thrice: |raw| = 3 on one dim
      (2L, "alpha beta gamma delta epsilon"),
      (3L, "alpha beta gamma delta epsilon"), // identical to doc 2
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out = CorpusStats.docEmbed(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val byDoc = out.groupBy(_._1)
    // null text: no embedding rows
    assert(!byDoc.contains(4L))
    // doc 1: exactly one touched dim, raw = ±3, value = ±1
    val d1 = byDoc(1L)
    assert(d1.length == 1 && math.abs(d1.head._3) == 3L &&
      math.abs(d1.head._4) == 1.0)
    // identical text ⇒ identical embedding (content-deterministic)
    assert(byDoc(2L).map(t => (t._2, t._3, t._4)).sortBy(_._1).toSeq ==
      byDoc(3L).map(t => (t._2, t._3, t._4)).sortBy(_._1).toSeq)
    // L2 norm of every embedding is 1 within the 6dp rounding
    byDoc.filter(_._1 != 4L).foreach { case (id, rows) =>
      val n2 = rows.map(r => r._4 * r._4).sum
      assert(math.abs(n2 - 1.0) < 1e-4, s"doc $id norm² = $n2")
    }
    // dims stay inside [0, 16)
    assert(out.forall(r => r._2 >= 0 && r._2 < 16))
  }

  test("decontaminate: exactly the shingle-sharing train docs are removed") {
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.01")
    val out = CorpusStats.decontaminate(docs)
    // (a) output is a subset of the train split
    val bucket = CorpusStats.splitBucket(col("text"))
    val train = docs.filter(bucket < 98)
    assert(out.join(train.select("doc_id"), Seq("doc_id"), "left_anti")
      .count() == 0L)
    // (b/c) removal law: a train doc is removed iff it shares a
    // 60-bit-hashed 4-gram shingle with some test doc — re-derived
    // here with an independent frame construction
    def hashed(df: org.apache.spark.sql.DataFrame) = df.select(
      col("doc_id"), explode(call_function("graft_shingle_hash60",
        graft.functions.TextFunctions.words(col("text")),
        lit(4), lit(2000))).as("h"))
    val testH = hashed(docs.filter(bucket === 99)).select("h").distinct()
    val shouldDrop = hashed(train).join(testH, Seq("h"), "left_semi")
      .select("doc_id").distinct()
    val dropped = train.select("doc_id")
      .join(out.select("doc_id"), Seq("doc_id"), "left_anti")
    assert(dropped.exceptAll(shouldDrop).count() == 0L)
    assert(shouldDrop.exceptAll(dropped).count() == 0L)
    // the gate must exercise real removal on this corpus
    assert(dropped.count() > 0L)
  }

  private def mixDocs(rows: Seq[(Long, String, String, String)]) =
    rows.toDF("doc_id", "text", "lang", "source")

  test("mixtureDrift: a lost language reads share 0 and alarms") {
    val ref = CorpusStats.sliceCounts(mixDocs(Seq(
      (1L, "a", "en", "web"), (2L, "b", "en", "web"),
      (3L, "c", "de", "web"), (4L, "d", "de", "web"))))
    // the drop lost German entirely and is all-English
    val cur = mixDocs(Seq((5L, "e", "en", "web"), (6L, "f", "en", "web")))
    val out = CorpusStats.mixtureDrift(ref, cur, threshold = 0.1)
      .orderBy("lang").collect()
    assert(out.length == 2)
    val de = out(0); val en = out(1)
    assert(de.getString(0) == "de" && de.getDouble(2) == 0.0 &&
      de.getDouble(3) == 0.5 && de.getBoolean(4))
    assert(en.getString(0) == "en" && en.getDouble(1) == 0.5 &&
      en.getDouble(2) == 1.0 && en.getBoolean(4))
  }

  test("mixtureDrift: a drop mirroring the reference mix shows zero drift") {
    val corpus = mixDocs(Seq(
      (1L, "a", "en", "web"), (2L, "b", "de", "web"),
      (3L, "c", "en", "web"), (4L, "d", "de", "web")))
    val ref = CorpusStats.sliceCounts(corpus)
    val out = CorpusStats.mixtureDrift(ref, corpus, threshold = 0.02)
      .collect()
    assert(out.length == 2)
    out.foreach { r =>
      assert(r.getDouble(3) == 0.0 && !r.getBoolean(4), r)
    }
  }

  test("mixtureDrift: a NOVEL language in the drop surfaces and alarms") {
    // reference is all-English; the drop is 40% German — a language
    // the reference has never seen must appear as a row with
    // share_ref 0, not silently vanish from the dashboard
    val ref = CorpusStats.sliceCounts(mixDocs(Seq(
      (1L, "a", "en", "web"), (2L, "b", "en", "web"),
      (3L, "c", "en", "web"))))
    val cur = mixDocs(Seq(
      (4L, "d", "en", "web"), (5L, "e", "en", "web"),
      (6L, "f", "en", "web"), (7L, "g", "de", "web"),
      (8L, "h", "de", "web")))
    val out = CorpusStats.mixtureDrift(ref, cur, threshold = 0.1)
      .orderBy("lang").collect()
    assert(out.length == 2)
    val de = out(0)
    assert(de.getString(0) == "de" && de.getDouble(1) == 0.0 &&
      de.getDouble(2) == 0.4 && de.getBoolean(4))
  }

  test("mixtureRebalance: underrepresented keeps all, absent-from-ref drops all") {
    // reference: 3 en / 1 de; drop: 1 en / 2 de / 1 fr (fr not in ref)
    val ref = CorpusStats.sliceCounts(mixDocs(Seq(
      (1L, "a", "en", "web"), (2L, "b", "en", "web"),
      (3L, "c", "en", "web"), (4L, "d", "de", "web"))))
    val drop = mixDocs(Seq(
      (5L, "e", "en", "web"), (6L, "f", "de", "web"),
      (7L, "g", "de", "web"), (8L, "h", "fr", "web")))
    val out = CorpusStats.mixtureRebalance(ref, drop)
      .orderBy("doc_id").collect()
    // en: share_ref .75 vs share_cur .25 → rate 1, doc 5 kept
    val en = out.filter(_.getString(1) == "en")
    assert(en.map(_.getLong(0)).toSeq == Seq(5L) &&
      en.head.getDouble(2) == 1.0)
    // fr: absent from the reference → rate 0, dropped entirely
    assert(!out.exists(_.getString(1) == "fr"))
    // de: share_ref .25 vs share_cur .5 → rate 0.5 on any kept row
    out.filter(_.getString(1) == "de")
      .foreach(r => assert(r.getDouble(2) == 0.5))
  }

  test("mixtureRebalance: the gate drop thins without emptying") {
    val corpus = graft.sources.Tables.documents(spark, sfDir)
    val ref = CorpusStats.sliceCounts(corpus)
    val drop = corpus.filter(col("doc_id") % 9 === 0)
    val out = CorpusStats.mixtureRebalance(ref, drop)
    val kept = out.count()
    assert(kept > 0L && kept < drop.count(),
      s"rebalance must thin the drop, kept $kept")
    // every thinned language had keep_rate < 1; rate-1 langs keep all
    val counts = drop.groupBy("lang").count()
      .withColumnRenamed("count", "n_in")
      .join(out.groupBy("lang")
        .agg(count(lit(1)).as("n_out"), first(col("keep_rate")).as("kr")),
        Seq("lang"))
      .collect()
    counts.foreach { r =>
      if (r.getDouble(3) == 1.0)
        assert(r.getLong(1) == r.getLong(2), r)
      else assert(r.getLong(2) <= r.getLong(1), r)
    }
  }

  test("mixtureDrift: the gate slice bites both ways at threshold 0.02") {
    val corpus = graft.sources.Tables.documents(spark, sfDir)
    val ref = CorpusStats.sliceCounts(corpus)
    val out = CorpusStats.mixtureDrift(
      ref, corpus.filter(col("doc_id") % 9 === 0)).collect()
    val drifted = out.count(_.getBoolean(4))
    assert(drifted > 0, "no language drifted — the flag is vacuous")
    assert(drifted < out.length, "every language drifted — cannot split")
  }
}
