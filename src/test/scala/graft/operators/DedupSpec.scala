package graft.operators

import graft.SparkSpecBase
import graft.sources.Tables
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpecBase {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near dup of 1
    (4L, "completely different content about spark distributed query engines and parquet"),
    (5L, "another unrelated sentence mentioning embeddings vectors and cosine scores")
  ).toDF("doc_id", "text")

  test("exact dedup keeps min id and counts copies") {
    val out = Dedup.exact(docs).orderBy("keep_id")
      .as[(Long, Long)].collect().toSeq
    assert(out == Seq((1L, 2L), (3L, 1L), (4L, 1L), (5L, 1L)))
  }

  test("exactKeep materializes the canonical-only corpus") {
    val kept = Dedup.exactKeep(docs).select("doc_id")
      .as[Long].collect().toSet
    assert(kept == Set(1L, 3L, 4L, 5L)) // doc 2 is the dropped duplicate
  }

  test("exact dedup shuffles hash keys only — no text key, no Expand, one agg") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Expand, Join}
    val plan = Dedup.exact(docs).queryExecution.optimizedPlan
    // single aggregation pipeline: no Expand (distinct rewrite), no
    // join (the old verify-and-regroup fallback cost 3 corpus scans)
    assert(plan.collect { case e: Expand => e }.isEmpty, plan)
    assert(plan.collect { case j: Join => j }.isEmpty, plan)
    val aggs = plan.collect { case a: Aggregate => a }
    assert(aggs.nonEmpty, plan)
    // the document body is never a grouping key — only its hashes/length
    aggs.foreach { a =>
      assert(!a.groupingExpressions.exists(_.references.exists(_.name == "text")), a)
    }
  }

  test("primary-hash collisions split on the secondary hash, never merge") {
    // equal-length DISTINCT texts + a constant primary hash = a forced
    // (h, len) collision; the independent secondary hash in the group
    // key must keep the distinct texts in separate groups
    val clash = Seq(
      (10L, "aaaa"), (11L, "bbbb"), (12L, "aaaa"), (13L, "cc")
    ).toDF("doc_id", "text")
    val out = Dedup.exactHashed(clash, lit(0L), xxhash64(lit(1), col("text")))
      .orderBy("keep_id").as[(Long, Long)].collect().toSeq
    assert(out == Seq((10L, 2L), (11L, 1L), (13L, 1L)))
  }

  test("minhash LSH flags exact and near duplicates, not unrelated docs") {
    val out = Dedup.minhashNearDups(docs)
      .orderBy("doc_id")
      .select("doc_id", "is_near_dup")
      .as[(Long, Boolean)].collect().toMap
    assert(out(1L) && out(2L) && out(3L))
    assert(!out(4L) && !out(5L))
  }

  test("simhash: identical docs at hamming 0, near dups within 3") {
    val out = Dedup.simhashNearDups(docs)
      .orderBy("doc_id")
      .select("doc_id", "n_near", "min_hamming")
      .as[(Long, Long, Int)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(1L)._2 == 0) // identical pair
    assert(out(4L)._1 == 0 && out(5L)._1 == 0)
  }

  test("char n-gram jaccard ranks the near dup highest") {
    val out = Dedup.ngramNearDups(docs)
      .orderBy("doc_id")
      .select("doc_id", "best_gram_jaccard")
      .as[(Long, Double)].collect().toMap
    assert(out(1L) >= 0.9) // exact dup present
    assert(out(4L) == 0.0 && out(5L) == 0.0)
  }

  test("embedding near-dup finds planted high-cosine pair") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.99f, 0.1f, 0.0f, 0.0f)), // ~0.995 cosine vs 0
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = Dedup.embeddingNearDups(emb, probeMod = 1, threshold = 0.9)
      .select("probe_id", "cand_id").as[(Long, Long)].collect().toSet
    assert(out == Set((0L, 1L), (1L, 0L)))
  }

  test("adaptive bucket bits follow the log2(N/64) law with floor 4 and cap 16") {
    assert(Dedup.adaptiveBits(0L) == 4)
    assert(Dedup.adaptiveBits(500L) == 4)     // the gate corpus
    assert(Dedup.adaptiveBits(5000L) == 7)    // sf0.1
    assert(Dedup.adaptiveBits(20000L) == 9)   // ~sf1 replica
    assert(Dedup.adaptiveBits(100000000L) == 16) // capped
  }

  test("recall coupling: table count grows with bits, holds target recall") {
    // at threshold 0.35, pBit ~ 0.614: per-table recall decays
    // geometrically with bits, so tables must grow to compensate
    val t4 = Dedup.adaptiveTables(4, 0.35)
    val t8 = Dedup.adaptiveTables(8, 0.35)
    assert(t4 < t8)
    // the chosen L satisfies 1-(1-p^bits)^L >= 0.9 (unless capped)
    for (bits <- 4 to 8) {
      val p = Dedup.pBit(0.35)
      val l = Dedup.adaptiveTables(bits, 0.35, maxTables = 10000)
      // sufficiency (the L >= ln(1/d)/p^k bound is conservative by
      // design: ln(1-x) < -x, so it may exceed the true minimum by 1)
      assert(math.pow(1.0 - math.pow(p, bits), l) <= 0.1 + 1e-9,
        s"bits=$bits l=$l")
    }
    // a high threshold needs far fewer tables at the same bits
    assert(Dedup.adaptiveTables(8, 0.9) < Dedup.adaptiveTables(8, 0.35))
    // the cap engages rather than exploding the plan
    assert(Dedup.adaptiveTables(16, 0.35, maxTables = 32) == 32)
  }

  test("auto near-dup pairs: sound and recall-complete on the spec corpus") {
    val emb = Tables.embeddings(spark, sfDir)
    val got = Dedup.embeddingNearDupsAuto(emb)
      .select("a_id", "b_id", "cosine").as[(Long, Long, Double)].collect()
    assert(got.forall { case (a, b, c) => a < b && c >= 0.35 })
    assert(got.map(p => (p._1, p._2)).distinct.length == got.length)
    // recall vs exact threshold pairs: the coupled plan targets 0.9,
    // so on the tiny spec corpus demand at least 0.8 measured
    val vecs = emb.select($"vec_id", $"embedding").as[(Long, Array[Float])]
      .collect().filter(_._2 != null)
    def cos(x: Array[Float], y: Array[Float]): Double = {
      var d = 0.0; var nx = 0.0; var ny = 0.0
      for (i <- x.indices) {
        d += x(i).toDouble * y(i); nx += x(i).toDouble * x(i)
        ny += y(i).toDouble * y(i)
      }
      d / math.sqrt(nx * ny)
    }
    val truth = (for {
      i <- vecs.indices; j <- (i + 1) until vecs.length
      c = cos(vecs(i)._2, vecs(j)._2) if c >= 0.3502 // off-boundary guard
    } yield (math.min(vecs(i)._1, vecs(j)._1), math.max(vecs(i)._1, vecs(j)._1))).toSet
    val gotPairs = got.map(p => (p._1, p._2)).toSet
    if (truth.nonEmpty) {
      val recall = truth.count(gotPairs.contains).toDouble / truth.size
      assert(recall >= 0.8, s"recall $recall over ${truth.size} true pairs")
    }
  }

  test("all-corpus near-dup pairs: sound, unordered-once, recall above floor") {
    val emb = Tables.embeddings(spark, sfDir)
    val got = Dedup.embeddingNearDupsAll(emb)
      .select("a_id", "b_id", "cosine").as[(Long, Long, Double)].collect()
    // soundness: every emitted pair really is over the threshold, and
    // each unordered pair appears exactly once with a_id < b_id
    assert(got.forall { case (a, b, c) => a < b && c >= 0.35 })
    assert(got.map(p => (p._1, p._2)).distinct.length == got.length)
    // recall vs the exact threshold-pair set (brute force over the
    // small spec corpus only)
    val vecs = emb.select($"vec_id", $"embedding").as[(Long, Array[Float])]
      .collect()
    def cos(x: Array[Float], y: Array[Float]): Double = {
      var d = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
      while (i < x.length) {
        d += x(i).toDouble * y(i).toDouble
        nx += x(i).toDouble * x(i).toDouble
        ny += y(i).toDouble * y(i).toDouble
        i += 1
      }
      math.round(d / (math.sqrt(nx) * math.sqrt(ny)) * 1e4) / 1e4
    }
    val truth = (for {
      (ia, va) <- vecs; (ib, vb) <- vecs
      if ia < ib && cos(va, vb) >= 0.35
    } yield (ia, ib)).toSet
    val gotPairs = got.map(p => (p._1, p._2)).toSet
    assert(gotPairs.subsetOf(truth)) // exact verify: no false positives
    val recall = gotPairs.size.toDouble / truth.size
    assert(recall >= 0.5, s"LSH pair recall $recall below floor (${gotPairs.size}/${truth.size})")
    // composition: the pair graph feeds connectedComponents directly
    val comp = Dedup.connectedComponents(
      Dedup.embeddingNearDupsAll(emb), "a_id", "b_id")
    assert(comp.count() > 0)
    // pinned-bits teaching case (NOT the gated config): bitsPerTable=4
    // freezes bucket width, so candidates grow ∝ N²/16 — the shape the
    // adaptive default exists to avoid. Kept here to document the law:
    // wider buckets can only raise candidate recall, and the exact
    // verify keeps the result sound either way.
    val pinned = Dedup.embeddingNearDupsAll(emb, bitsPerTable = 4)
      .select("a_id", "b_id", "cosine").as[(Long, Long, Double)].collect()
    assert(pinned.forall { case (a, b, c) => a < b && c >= 0.35 })
    assert(pinned.map(p => (p._1, p._2)).toSet.subsetOf(truth))
    assert(pinned.length.toDouble / truth.size >= 0.5)
  }

  test("minhashKeep drops SHORT-doc twins too; null-text docs pass through") {
    // the shingle law emits one partial shingle for sub-3-word docs,
    // so 2-word byte-twins are Jaccard-1.0 near-dups and the higher id
    // must drop (regression: an exact-collapse guard once exempted
    // short docs); null-text docs never pair and must all survive
    val d = Seq(
      (1L, "hello world"),
      (2L, "hello world"),                    // short twin: dropped
      (3L, "alpha beta gamma delta epsilon"),
      (4L, "alpha beta gamma delta epsilon"), // long twin: dropped
      (5L, null.asInstanceOf[String]),
      (6L, null.asInstanceOf[String]),        // null texts both survive
      (7L, "completely different words here entirely")
    ).toDF("doc_id", "text")
    val kept = Dedup.minhashKeep(d).select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L, 5L, 6L, 7L))
  }

  test("minhashKeepBest keeps the HIGHEST-quality cluster member, ties to lowest id") {
    // 1-2-3 form one near-dup cluster (2 is a byte-twin of 1, 3 one
    // word off); the quality frame makes the HIGHER-id mirror the
    // cleaner copy, so keep-best must invert keep-lowest's answer
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (3L, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
      (4L, "completely different content about spark distributed query engines and parquet"),
      (5L, "another unrelated sentence mentioning embeddings vectors and cosine scores")
    ).toDF("doc_id", "text")
    val quality = Seq((1L, 0.2), (2L, 0.2), (3L, 0.9), (4L, 0.1), (5L, 0.1))
      .toDF("doc_id", "quality_score")
    val kept = Dedup.minhashKeepBest(d, quality)
      .select("doc_id").as[Long].collect().toSet
    // cluster {1,2,3}: 3 wins on quality; singletons 4,5 untouched
    assert(kept == Set(3L, 4L, 5L))
    // tie law: equal quality everywhere -> lowest id survives (the
    // keep-lowest answer re-emerges as the degenerate case)
    val flat = quality.withColumn("quality_score", lit(0.5))
    val keptFlat = Dedup.minhashKeepBest(d, flat)
      .select("doc_id").as[Long].collect().toSet
    assert(keptFlat == Set(1L, 4L, 5L))
  }

  test("minhashKeepBestScored equals the frame form under the same text-pure law") {
    // the r16 restructure: the scored form applies the quality law to
    // the PRUNED cluster-node rows only (the frame form scored the
    // whole corpus — Catalyst never pushed the solve's semi join below
    // the caller's scoring projection). Same law => identical answer.
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .limit(300)
    val law = graft.operators.CorpusStats.qualityScore _
    val frame = docs.select(col("doc_id"), law(col("text")).as("quality_score"))
    val a = Dedup.minhashKeepBest(docs, frame)
      .select("doc_id").as[Long].collect().sorted
    val b = Dedup.minhashKeepBestScored(docs, law)
      .select("doc_id").as[Long].collect().sorted
    assert(a.nonEmpty)
    assert(a.toSeq == b.toSeq)
  }

  test("scored-DISTINCT form equals the general scored form on a collapsed corpus") {
    // the corpus pipeline's clean stage feeds exactKeep output (texts
    // pairwise distinct) to keep-best; the distinct form skips the
    // exact re-collapse the invariant makes a no-op. Must be
    // value-identical to the general form on such a corpus.
    val canon = Dedup.exactKeep(
      graft.sources.Tables.documents(spark, sfDir).limit(300)
        .filter(col("text").isNotNull))
    val law = graft.operators.CorpusStats.qualityScore _
    val a = Dedup.minhashKeepBestScored(canon, law)
      .select("doc_id").as[Long].collect().sorted
    val b = Dedup.minhashKeepBestScoredDistinct(canon, law)
      .select("doc_id").as[Long].collect().sorted
    assert(a.nonEmpty)
    assert(a.toSeq == b.toSeq)
  }

  test("embedding keep-lowest action leaves no verified pair intact") {
    // the b-side drop law: any surviving pair (a, b) would mean b kept
    // a lower verified partner — impossible. Checked on the real
    // all-corpus graph at gate SF.
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
    val pairs = Dedup.embeddingNearDupsAll(emb)
      .select("a_id", "b_id").as[(Long, Long)].collect()
    assert(pairs.nonEmpty, "gate data must exercise the pair graph")
    val dropped = pairs.map(_._2).toSet
    val kept = emb.select("vec_id").as[Long].collect().toSet -- dropped
    pairs.foreach { case (a, b) =>
      assert(!(kept(a) && kept(b)), s"surviving pair ($a, $b)") }
    // and survivors are exactly the catalog minus the b-side
    assert(kept.nonEmpty && (kept & dropped).isEmpty)
  }

  test("minhashKeepBest: exact-collapse is value-identical under replicas") {
    // the collapse-first discipline must not move the answer: flood
    // the corpus with byte-twin replicas (the 100x-mirrored shape) and
    // the survivor set must equal the un-replicated run's — every
    // replica is a guaranteed drop (equal quality, higher id), the
    // cluster winners are unchanged. Quality follows the REAL law (a
    // function of the text), as the gated entry wires it.
    val base = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
      (3L, "completely different content about spark distributed query engines and parquet"),
      (4L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val replicas = base.filter(col("text").isNotNull)
      .withColumn("doc_id", col("doc_id") + 100L)
    val flooded = base.unionByName(replicas)
    def q(d: org.apache.spark.sql.DataFrame) = d.select(col("doc_id"),
      graft.operators.CorpusStats.qualityScore(col("text")).as("quality_score"))
    val keptBase = Dedup.minhashKeepBest(base, q(base))
      .select("doc_id").as[Long].collect().toSet
    val keptFlooded = Dedup.minhashKeepBest(flooded, q(flooded))
      .select("doc_id").as[Long].collect().toSet
    assert(keptFlooded == keptBase, s"base=$keptBase flooded=$keptFlooded")
  }

  test("minhash rollup exact-collapse is value-identical to the raw-grain form on a replica-heavy corpus") {
    // twin groups of size 1..4 (incl. a near-dup pair split across two
    // groups) + a NULL-text doc: the collapsed rollup must reproduce
    // the raw-grain per-doc law — (c−1) twins at J=1.0 plus c' cross
    // candidates per colliding partner group — row for row
    val base = docs.filter(col("text").isNotNull)
    val corpus = base
      .unionByName(base.filter(col("doc_id") <= 3)
        .withColumn("doc_id", col("doc_id") + 100L))
      .unionByName(base.filter(col("doc_id") <= 2)
        .withColumn("doc_id", col("doc_id") + 200L))
      .unionByName(base.filter(col("doc_id") === 1)
        .withColumn("doc_id", col("doc_id") + 300L))
      .unionByName(Seq((999L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    // raw-grain reference: the pre-collapse rollup over ALL rows
    val verified = Dedup.minhashNearDupPairs(corpus)
    val perDoc = verified.select(col("id_a").as("doc_id"), col("jaccard"))
      .unionByName(verified.select(col("id_b").as("doc_id"), col("jaccard")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_candidates"), max(col("jaccard")).as("best_jaccard"),
        max(col("jaccard") >= 0.5).as("is_near_dup"))
    val raw = corpus.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("best_jaccard"), lit(0.0)).as("best_jaccard"),
        coalesce(col("is_near_dup"), lit(false)).as("is_near_dup"))
      .orderBy("doc_id").collect().toSeq
    val collapsed = Dedup.minhashNearDups(corpus)
      .orderBy("doc_id").collect().toSeq
    assert(collapsed == raw)
  }

  test("simhash rollup exact-collapse is value-identical to the raw-grain form on a replica-heavy corpus") {
    val base = docs.filter(col("text").isNotNull)
    val corpus = base
      .unionByName(base.filter(col("doc_id") <= 3)
        .withColumn("doc_id", col("doc_id") + 100L))
      .unionByName(base.filter(col("doc_id") === 1)
        .withColumn("doc_id", col("doc_id") + 300L))
    // raw-grain reference: sign every row, pigeonhole self-join, roll up
    val sigs = corpus.select(col("doc_id"),
      call_function("graft_simhash64",
        graft.functions.TextFunctions.words(col("text"))).as("simhash"))
    val chunked = sigs.select(col("doc_id"), col("simhash"),
      posexplode(graft.functions.TextFunctions.simhashChunks(col("simhash"))))
      .withColumnsRenamed(Map("pos" -> "chunk_idx", "col" -> "chunk"))
    val pairs = chunked.alias("a")
      .join(chunked.alias("b"),
        col("a.chunk_idx") === col("b.chunk_idx") &&
          col("a.chunk") === col("b.chunk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .distinct().filter(col("hamming") <= 3)
    val perDoc = pairs.select(col("id_a").as("doc_id"), col("hamming"))
      .unionByName(pairs.select(col("id_b").as("doc_id"), col("hamming")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_near"), min(col("hamming")).as("min_hamming"))
    val raw = sigs.join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("simhash"),
        coalesce(col("n_near"), lit(0L)).as("n_near"),
        coalesce(col("min_hamming"), lit(64)).as("min_hamming"))
      .orderBy("doc_id").collect().toSeq
    val collapsed = Dedup.simhashNearDups(corpus)
      .orderBy("doc_id").collect().toSeq
    assert(collapsed == raw)
  }

  test("minhash/simhash rollups band-join at distinct-text grain (plan audit)") {
    // the rollup's member expansion must consume the exact-collapse
    // election. Since textRepElection (and the rep-grain pair stage)
    // materialize eagerly, the evidence in the final plan is either
    // the election aggregate itself (min(doc_id) over the text-hash
    // group keys) or its checkpointed LogicalRDD carrying the
    // (rep, n_copies) output — a raw-grain plan would show neither
    // (the uncollapsed form never produces a rep/n_copies column).
    // The VALUE-identity of the collapse is pinned by the two
    // replica-corpus parity tests above.
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    for (plan <- Seq(
        Dedup.minhashNearDups(docs).queryExecution.optimizedPlan,
        Dedup.simhashNearDups(docs).queryExecution.optimizedPlan)) {
      val electionAggs = plan.collect {
        case a: Aggregate if a.aggregateExpressions.exists(
          _.find { case x => x.sql.contains("min(doc_id") }.isDefined) => a }
      val electionRdds = plan.collect {
        case l if l.getClass.getSimpleName == "LogicalRDD" &&
          l.output.exists(_.name == "rep") &&
          l.output.exists(_.name == "n_copies") => l }
      assert(electionAggs.nonEmpty || electionRdds.nonEmpty, plan)
    }
  }
}
