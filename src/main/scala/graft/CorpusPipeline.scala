package graft

import graft.operators.{CorpusStats, Dedup}
import graft.sources.{Sinks, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The CHAINED corpus-curation run — the LLM-data twin of
  * [[Pipeline]]'s star-schema daily. The suite gates each curation
  * operator alone (text_gopher, dedup_exact/keep, dedup_minhash,
  * text_split_assign, text_pack); this runner gates their COMPOSITION
  * in the order a training-data pipeline actually executes, each stage
  * a materialized table read by the next:
  *
  *  1. `corpus_quality` — Gopher-rule quality flags per document
  *     ([[CorpusStats.gopherQuality]]); downstream stages see only
  *     `keep` survivors.
  *  2. `corpus_canonical` — exact dedup over the survivors: the
  *     canonical (minimum doc_id) row of every identical-text group
  *     ([[Dedup.exactKeep]]).
  *  3. `corpus_clean` — near-dup CANONICALIZATION: MinHash+LSH
  *     verified pairs over the canonical corpus cluster into
  *     connected components, and each cluster keeps its single
  *     HIGHEST-quality member ([[Dedup.minhashKeepBest]] under the
  *     shared [[CorpusStats.qualityScore]] law, ties to lowest id) —
  *     the rule real pipelines want when a mirror copy is cleaner
  *     than the original (vs the positional keep-lowest the
  *     standalone `dedup_minhash_keep` entry gates).
  *  4. `corpus_split` — leakage-safe content-hash train/valid/test
  *     assignment over the clean corpus ([[CorpusStats.splitAssign]]).
  *  5. `corpus_pack` — the context-window packing manifest over the
  *     TRAIN split ([[CorpusStats.packManifest]], capacity 256).
  *
  * Stage ordering is load-bearing: dedup AFTER quality (a kept doc can
  * be the copy of a dropped one), split AFTER near-dup removal (else
  * near-twins straddle the boundary), pack over train only. The gate
  * summary only comes out right if every stage reads its predecessor's
  * materialized output.
  *
  * 100 TB shape: every stage is one bounded write job over the
  * previous table — counts ride the write pass via `Dataset.observe`
  * (no read-backs), ids/hashes shuffle but document text never does
  * except in the quality/dedup scans that must read it, and the one
  * candidate-pair join is the banded MinHash join (candidates ∝
  * N²/2^bits, not all-pairs).
  */
object CorpusPipeline {

  import Pipeline.{StageResult, timed}
  import Sinks.overwrite

  /** Stage names in dependency order — the public contract between
    * [[runCuration]], the per-stage CLI ([[main]] with a stage
    * argument), and the Airflow DAG (`dags/graft_corpus_dag.py`,
    * whose task ids a spec checks against this list). The curation
    * chain is strictly LINEAR (each stage reads its predecessor's
    * materialized table), so the DAG is a chain — unlike the daily
    * load's fan-out.
    */
  val StageNames: Seq[String] = Seq(
    "corpus_quality", "corpus_canonical", "corpus_clean",
    "corpus_split", "corpus_pack")

  private def stages(spark: SparkSession, srcDir: String,
      outDir: String): Seq[(String, () => Long)] = {
    val docs = Tables.documents(spark, srcDir)
    val w = outDir.stripSuffix("/")
    def read(t: String) = Tables.read(spark, s"$w/$t")
    Seq(
      "corpus_quality" -> (() =>
        overwrite(CorpusStats.gopherQuality(docs), s"$w/corpus_quality")),
      "corpus_canonical" -> (() => {
        val kept = read("corpus_quality").filter(col("keep"))
          .select(col("doc_id"))
        overwrite(Dedup.exactKeep(docs.join(kept, Seq("doc_id"), "left_semi")),
          s"$w/corpus_canonical")
      }),
      "corpus_clean" -> (() => {
        val canon = read("corpus_canonical")
        // scored form: quality runs at clustered-node grain (the
        // frame form re-scored the whole canonical table, r16 anatomy).
        // DISTINCT form: the canonical stage's output is exact-deduped
        // BY CONTRACT, so the general operator's exact re-collapse
        // (a full canonical-table aggregation + two joins) computes
        // nothing — the stage invariant the operator cannot know
        // (spec-pinned value-identical on collapsed corpora).
        overwrite(
          Dedup.minhashKeepBestScoredDistinct(canon, CorpusStats.qualityScore),
          s"$w/corpus_clean")
      }),
      "corpus_split" -> (() =>
        overwrite(CorpusStats.splitAssign(read("corpus_clean")),
          s"$w/corpus_split")),
      "corpus_pack" -> (() => {
        val train = read("corpus_split").filter(col("split") === "train")
          .select(col("doc_id"))
        overwrite(CorpusStats.packManifest(
            read("corpus_clean").join(train, Seq("doc_id"), "left_semi")),
          s"$w/corpus_pack")
      })
    )
  }

  /** One curation run: srcDir (raw corpus) → outDir (staged curation
    * tables). Returns per-stage row counts and timings.
    */
  def runCuration(spark: SparkSession, srcDir: String,
      outDir: String): Seq[StageResult] =
    stages(spark, srcDir, outDir).map { case (n, f) => timed(n)(f()) }

  /** Run ONE stage by name — the spark-submit unit an external
    * orchestrator schedules; stage ordering is the orchestrator's
    * contract (see `dags/graft_corpus_dag.py`).
    */
  def runStage(spark: SparkSession, srcDir: String, outDir: String,
      stage: String): StageResult =
    Pipeline.runNamed(stages(spark, srcDir, outDir), stage)

  /** CLI: runCuration(srcDir, outDir), or one stage with a stage
    * argument (the Airflow task unit — dags/graft_corpus_dag.py
    * passes one per task).
    */
  def main(args: Array[String]): Unit =
    Pipeline.cli(args, "graft.CorpusPipeline <srcDir> <outDir> [stage]",
      "corpus")(runCuration, runStage)

  /** Content summary of a curation run — one row per stage checkpoint:
    * survivor count, doc_id checksum, and a token total where the
    * stage defines one. This is the gate surface for the CHAINED
    * pipeline: the numbers only come out right if every stage consumed
    * its predecessor (quality → exact → near-dup → split → pack) with
    * the right law at each step.
    */
  def curationSummary(spark: SparkSession, outDir: String): DataFrame = {
    val w = outDir.stripSuffix("/")
    def read(t: String) = Tables.read(spark, s"$w/$t")
    def row(stage: String, df: DataFrame, valSum: org.apache.spark.sql.Column): DataFrame =
      df.agg(count(lit(1)).as("n_docs"),
          coalesce(sum(col("doc_id")), lit(0L)).cast("long").as("id_sum"),
          valSum.cast("long").as("val_sum"))
        .select(lit(stage).as("stage"), col("n_docs"), col("id_sum"),
          col("val_sum"))
    val quality = row("quality_keep",
      read("corpus_quality").filter(col("keep")),
      coalesce(sum(col("n_words")), lit(0L)))
    val canon = row("exact_keep", read("corpus_canonical"), lit(0L))
    val clean = row("neardup_clean", read("corpus_clean"), lit(0L))
    val splits = read("corpus_split")
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).cast("long").as("id_sum"))
      .select(concat(lit("split_"), col("split")).as("stage"),
        col("n_docs"), col("id_sum"), lit(0L).as("val_sum"))
    val pack = row("pack", read("corpus_pack"),
      coalesce(sum(col("n_tokens")), lit(0L)))
    // max(last_chunk)+1 pins the whole prefix-sum: any reorder or gap
    // in pack_start shifts it
    val chunks = read("corpus_pack")
      .agg((coalesce(max(col("last_chunk")), lit(-1L)) + 1L)
        .cast("long").as("n_docs"))
      .select(lit("pack_chunks").as("stage"), col("n_docs"),
        lit(0L).as("id_sum"), lit(0L).as("val_sum"))
    Seq(quality, canon, clean, splits, pack, chunks).reduce(_.unionByName(_))
  }
}
