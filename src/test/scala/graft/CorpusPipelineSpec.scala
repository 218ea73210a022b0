package graft

import graft.operators.Dedup
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** The chained corpus-curation run ([[CorpusPipeline]]): stage
  * containment, the keep-BEST canonicalization contract (re-derived
  * independently with a local union-find), prefix-sum packing
  * integrity, and re-run determinism.
  */
class CorpusPipelineSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val wh: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_corpus_spec").toString
    CorpusPipeline.runCuration(spark, sfDir, dir)
    dir
  }

  private def read(t: String) = spark.read.parquet(s"$wh/$t")

  test("a curation run leaves nothing persisted or cached") {
    val dir = java.nio.file.Files.createTempDirectory("graft_corpus_pins").toString
    assertLeavesNoPins(CorpusPipeline.runCuration(spark, sfDir, dir))
  }

  test("stages are containment-ordered: clean ⊆ canonical ⊆ quality-kept") {
    val kept = read("corpus_quality").filter(col("keep"))
      .select("doc_id").as[Long].collect().toSet
    val canon = read("corpus_canonical").select("doc_id").as[Long].collect().toSet
    val clean = read("corpus_clean").select("doc_id").as[Long].collect().toSet
    assert(clean.nonEmpty)
    assert(clean.subsetOf(canon))
    assert(canon.subsetOf(kept))
    assert(canon.size < kept.size || clean.size < canon.size,
      "the gate data must exercise at least one dedup stage")
  }

  test("no near-dup pair with a lower-id partner survives in clean") {
    val clean = read("corpus_clean")
    val offending = Dedup.minhashNearDupPairs(clean)
      .filter(col("jaccard") >= 0.5).count()
    assert(offending == 0L)
  }

  test("pack manifest is a contiguous prefix sum over the train split") {
    val rows = read("corpus_pack").orderBy("doc_id")
      .select(col("doc_id"), col("n_tokens"), col("pack_start"))
      .as[(Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    var expect = 0L
    rows.foreach { case (id, n, start) =>
      assert(start == expect, s"doc $id")
      expect += n
    }
    // train-only: every packed doc is in the train split
    val train = read("corpus_split").filter(col("split") === "train")
      .select("doc_id").as[Long].collect().toSet
    assert(rows.map(_._1).toSet == train)
  }

  test("a re-run lands on the identical summary (deterministic chain)") {
    val first = CorpusPipeline.curationSummary(spark, wh)
      .orderBy("stage").collect().toSeq
    val dir2 = java.nio.file.Files.createTempDirectory("graft_corpus_spec2").toString
    CorpusPipeline.runCuration(spark, sfDir, dir2)
    val second = CorpusPipeline.curationSummary(spark, dir2)
      .orderBy("stage").collect().toSeq
    assert(first.nonEmpty)
    assert(first == second)
  }

  test("clean stage is keep-BEST over the CANONICAL table — independent re-derivation") {
    // a doc dropped by the quality gate must never influence the
    // near-dup stage, and within each near-dup cluster exactly the
    // highest-quality member (ties to lowest id) survives. Re-derive
    // the law independently of Dedup.minhashKeepBest: verified pairs
    // from the staged canonical table, a LOCAL union-find over them,
    // and a Scala-side argmax under the shared quality score.
    val canon = read("corpus_canonical")
    val pairs = Dedup.minhashNearDupPairs(canon)
      .filter(col("jaccard") >= 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val quality = canon.select(col("doc_id"),
      graft.operators.CorpusStats.qualityScore(col("text")).as("q"))
      .as[(Long, Double)].collect().toMap
    val clustered = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val wantDropped = clustered.groupBy(find).values.flatMap { members =>
      val best = members.minBy(id => (-quality(id), id))
      members.filterNot(_ == best)
    }.toSet
    val canonIds = canon.select("doc_id").as[Long].collect().toSet
    val cleanIds = read("corpus_clean").select("doc_id").as[Long].collect().toSet
    assert(wantDropped.nonEmpty, "gate data must exercise the cluster argmax")
    assert(canonIds -- cleanIds == wantDropped)
  }

  test("raw documents parity: quality flags cover every document") {
    val nDocs = Tables.documents(spark, sfDir).count()
    assert(read("corpus_quality").count() == nDocs)
  }
}
