package graft.operators

import graft.functions.{TextFunctions => TF, VectorFunctions => VF}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus deduplication operators (training-data pipeline surface).
  *
  * Algorithms (public literature): MinHash resemblance sketches
  * (Broder, "On the resemblance and containment of documents", 1997)
  * with LSH banding (Indyk & Motwani 1998; banding analysis as in
  * Mining of Massive Datasets ch. 3); SimHash (Charikar, "Similarity
  * estimation techniques from rounding algorithms", STOC 2002) with
  * the pigeonhole chunk blocking of Manku et al., WWW 2007.
  *
  * Scale shape shared by the near-dup family: per-row signatures
  * (shuffle-free, codegen'd — see [[graft.functions.TextFunctions]]) →
  * explode only the constant-width band keys (×bands blowup, not
  * ×shingles) → self-join on the band key (shuffle is candidate-sized,
  * never all-pairs) → exact verify on the candidate pairs only.
  */
object Dedup {

  /** Exact dedup: group identical texts, keep the minimum doc_id.
    *
    * 100 TB shape: the shuffle key is `(xxhash64(text), length(text),
    * xxhash64(1, text))` — 24 bytes per row — so the document body
    * never enters an exchange. Collision safety comes from the second
    * INDEPENDENT 64-bit hash being part of the key: two distinct texts
    * colliding on the primary hash (and length) almost surely differ
    * on the secondary and land in separate groups — a primary-hash
    * collision splits instead of merging. The residual false-merge
    * needs two distinct equal-length texts colliding on BOTH
    * independent hashes simultaneously (~2^-128 — far below hardware
    * error rates). One scan, one map-side-combined shuffle, no
    * fallback pass (an earlier verify-and-regroup variant cost three
    * corpus scans for the same guarantee).
    */
  def exact(docs: DataFrame): DataFrame =
    exactHashed(docs, xxhash64(col("text")), xxhash64(lit(1), col("text")))

  /** [[exact]] with injectable hash expressions so collision behavior
    * is testable (real 64-bit collisions are not findable). Returns
    * one row per distinct text: (keep_id, n_copies).
    */
  private[operators] def exactHashed(docs: DataFrame,
      primaryHash: org.apache.spark.sql.Column,
      secondaryHash: org.apache.spark.sql.Column): DataFrame =
    docs
      .groupBy(
        primaryHash.as("h"),
        length(col("text")).as("len"),
        secondaryHash.as("h2"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))

  /** The deduplicated corpus itself: keep exactly the canonical
    * (minimum doc_id) row of every identical-text group. Canonical
    * election is the hash-keyed [[exact]] pass; one semi join on
    * doc_id materializes the survivors — the corpus body never
    * shuffles by its text.
    */
  def exactKeep(docs: DataFrame): DataFrame = {
    val keep = exact(docs).select(col("keep_id").as("doc_id"))
    docs.join(keep, Seq("doc_id"), "left_semi")
  }

  /** THE exact-collapse grouping-key convention, in one place: two
    * INDEPENDENT 64-bit text hashes plus the length (the [[exact]]
    * collision analysis — a primary-hash collision splits instead of
    * merging; false merge needs a simultaneous 128-bit collision).
    * Every member→rep election in the near-dup family keys on exactly
    * these three columns, whether it runs as a groupBy-then-join
    * ([[textRepElection]]) or as the one-shuffle window form a
    * micro-batch prefers ([[minhashNearDupsDelta]]).
    */
  private[graft] def textGroupKeys(text: org.apache.spark.sql.Column)
      : Seq[org.apache.spark.sql.Column] =
    Seq(xxhash64(text).as("gh"), length(text).as("glen"),
      xxhash64(lit(1), text).as("gh2"))

  private[graft] val TextGroupKeyNames: Seq[String] = Seq("gh", "glen", "gh2")

  /** Shared member→rep election for the exact-collapse law (the r13
    * review finding: three independent copies of this existed — the
    * batch near-dup rollups now all call here). Returns
    * `(docRep, sizes)`: `docRep` = (doc_id, rep, n_copies) mapping
    * every NON-NULL-text doc to its twin group's minimum id and group
    * size; `sizes` = (rep, n_copies), one row per distinct text.
    *
    * 100 TB shape: the election is a groupBy-then-join over the
    * 24-byte [[textGroupKeys]] — the document body never enters either
    * exchange (the window form would shuffle full rows; a corpus-grain
    * batch pass wants the hash-only shuffles, a delta-sized micro-batch
    * wants the single window shuffle — both key on [[textGroupKeys]]).
    *
    * THE FAMILY-WIDE MATERIALIZATION CONTRACT (applies to every
    * operator that calls this — the minhash/simhash/ngram rollups,
    * the span auditor, and their multimodal twins): construction
    * EAGERLY runs Spark jobs, because the rep-grain frames are pinned
    * once instead of re-evaluated 3-4× per consuming plan. The pin is
    * [[org.apache.spark.sql.GraftInternal.pinRecomputable]] — persisted
    * MEMORY_AND_DISK with lineage INTACT, so an executor loss degrades
    * to block recompute, never to a failed downstream job (the
    * minhashKeepBest trade, now uniform across the family).
    */
  private[graft] def textRepElection(docs: DataFrame): (DataFrame, DataFrame) = {
    val withH = docs.filter(col("text").isNotNull)
      .select(col("doc_id") +: textGroupKeys(col("text")): _*)
    // materialize the rep-grain election ONCE (eager, like
    // ngramNearDups' gram frame): the group table is distinct-text
    // grain — the collapsed corpus the whole family is built around —
    // and every caller consumes it 3-4 times (semi-join prune, two
    // partner-size joins, the member expansion). Without this each
    // consumer re-runs the corpus-grain aggregation: profiled at ~sf100
    // (5M docs) the re-aggregations were ~2.6 s × 3 of a ~13 s entry.
    // pinRecomputable, NOT localCheckpoint: same eager job and plan
    // shape, but lineage stays intact so an executor loss recomputes
    // the lost blocks instead of failing every downstream join (the
    // minhashKeepBest trade, applied family-wide — r14 review finding).
    val grp = org.apache.spark.sql.GraftInternal.pinRecomputable(
      withH.groupBy(TextGroupKeyNames.map(col): _*)
        .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("n_copies")))
    val docRep = withH.join(grp, TextGroupKeyNames)
      .select(col("doc_id"), col("rep"), col("n_copies"))
    (docRep, grp.select(col("rep"), col("n_copies")))
  }

  /** Pin the PARALLELISM of a compute-dense stage: an explicit-N hash
    * repartition on `key` that AQE may not coalesce (user-numbered
    * repartitions are exempt from partition coalescing). AQE sizes
    * post-shuffle partitions by BYTES (`advisoryPartitionSizeInBytes`),
    * so a byte-tiny candidate frame feeding a compute-dense kernel —
    * the gram/shingle re-fetch and the exact-Jaccard merge-scan verify
    * run ~µs/row, not ~ns/row — collapses to ONE post-shuffle partition
    * and serializes the stage. That is a defect at EVERY scale, not a
    * local-mode artifact: a 10M-pair candidate frame is ~160 MB, which
    * AQE coalesces to 2-3 partitions at the 64 MB advisory while the
    * verify behind it is minutes of compute (measured locally: the
    * ngram verify ran 2.8 s in one task with 31 cores idle). N comes
    * from the session's shuffle-partition setting — cluster-
    * parameterized, never a constant — and the exchanged rows are
    * candidate-grain ids/texts the downstream kernel must read anyway,
    * so the added exchange is bounded by the kernel's own input.
    */
  private[graft] def spreadForKernel(df: DataFrame, key: String): DataFrame =
    df.repartition(
      df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt,
      col(key))

  /** The multiplicity half of the doc-grain decomposition law, in one
    * place (shared by the minhash/simhash/ngram rollups): attach each
    * rep pair's PARTNER group size, unpivot both orientations, and
    * aggregate per rep — `(rep, cross_cnt = Σ partner sizes,
    * cross_stat = statAgg(metric))`. A doc then inherits its rep's row
    * plus the (c−1) within-group twins its caller adds arithmetically.
    */
  private def crossPartnerStats(pairs: DataFrame, sizes: DataFrame,
      metric: String,
      statAgg: org.apache.spark.sql.Column => org.apache.spark.sql.Column)
      : DataFrame = {
    val withSizes = pairs
      .join(sizes.select(col("rep").as("id_a"), col("n_copies").as("c_a")), "id_a")
      .join(sizes.select(col("rep").as("id_b"), col("n_copies").as("c_b")), "id_b")
    withSizes
      .select(col("id_a").as("rep"), col("c_b").as("c_other"), col(metric))
      .unionByName(withSizes
        .select(col("id_b").as("rep"), col("c_a").as("c_other"), col(metric)))
      .groupBy(col("rep"))
      .agg(sum(col("c_other")).as("cross_cnt"),
        statAgg(col(metric)).as("cross_stat"))
  }

  /** The verified near-dup PAIR frame behind [[minhashNearDups]]:
    * MinHash + LSH banded candidates over word 3-gram shingles,
    * exact-Jaccard verified — `(id_a < id_b, jaccard)`, one row per
    * candidate pair. Exposed so pair-consuming compositions (keep-
    * lowest dedup actions, cluster building, the corpus pipeline) can
    * share the one candidate computation instead of re-deriving it.
    * NULL-text docs are the caller's to filter (every library caller
    * does): they sign nothing and their shingle set is NULL.
    *
    * Shape: ONE feature projection. Each document's words feed both
    * its signature (the codegen minhash kernel) and its sorted shingle
    * set (`graft_shingle_set`), below a [[spreadForKernel]] exchange on
    * doc_id; there is no candidate-id union, no semi-join re-fetch of
    * candidate text and no second shingling pass. Column pruning
    * narrows that exchange per consumer, so the executed plan holds
    * two, each splitting the text itself: (doc_id, sig), read by both
    * sides of the band self-join, and (doc_id, sh), read by both verify
    * joins — each built once and reused, so each kernel runs once per
    * document. The verify is a two-pointer merge
    * (`graft_sorted_jaccard`), not four hash-set builtins.
    *
    * The trade: the shingle exchange carries EVERY document's set,
    * not only the candidates', so the pass shuffles more bytes than
    * a lean signature-only exchange (a perfbench curation op's shuffle
    * writes went from 1.8 to 4.9 MB, 4 cores). Pruning the verify to
    * candidates instead costs a union, a distinct, a semi-join and a
    * second split of the candidates' text — stages that cost more time
    * than the bytes they save at the scale the curation chain runs.
    */
  def minhashNearDupPairs(docs: DataFrame, numHashes: Int = 32,
      bands: Int = 8, maxBandFreq: Option[Long] = None): DataFrame = {
    val rows = numHashes / bands
    // two-step projection: materialize the words array, THEN sign and
    // shingle it, so neither kernel re-runs the split
    val feats = spreadForKernel(docs
      .select(col("doc_id"), TF.words(col("text")).as("w"))
      .select(col("doc_id"),
        TF.minhashSigWords(col("w"), 3, numHashes).as("sig"),
        TF.shingleSet(col("w"), 3).as("sh")), "doc_id")
    val banded = feats.select(
      col("doc_id"), explode(TF.bandTuples(col("sig"), bands, rows)).as("bk"))
    // HOT-BAND CAP (opt-in, standard LSH practice): a corpus-frequent
    // shingle set — boilerplate headers/footers shared by MILLIONS of
    // DISTINCT documents — lands them all in the same band tuple, and
    // that one band's candidate list grows as C(n,2): quadratic in the
    // boilerplate rate, unbounded by the exact-collapse that absorbs
    // byte-identical twins. Dropping bands with more than `maxBandFreq`
    // members bounds every band's pair contribution at C(F,2); genuine
    // near-dups still collide in their CONTENT bands (8 bands = 8
    // independent chances), so only pairs similar SOLELY through
    // boilerplate are lost — the recall trade HotBandCapSpec pins.
    // Shape: the frequency aggregate sits BELOW the self-join on the
    // band key (48-byte rows), and the hot set — boilerplate bands
    // only — is a tiny broadcast anti-join, never a corpus shuffle.
    val joinable = maxBandFreq match {
      case Some(f) =>
        val hot = banded.groupBy(col("bk"))
          .agg(count(lit(1)).as("__n")).filter(col("__n") > f)
          .select(col("bk"))
        banded.join(broadcast(hot), Seq("bk"), "left_anti")
      case None => banded
    }
    val pairs = joinable.alias("a")
      .join(joinable.alias("b"),
        col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    // the verify is compute-dense on a byte-tiny pair frame — its
    // parallelism is pinned too, or AQE coalescing serializes it
    spreadForKernel(pairs, "id_a")
      .join(feats.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(feats.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        TF.sortedJaccard(col("sh_a"), col("sh_b")).as("jaccard"))
  }

  /** The near-dup ACTION twin of [[exactKeep]]: every document with a
    * verified (Jaccard ≥ threshold) near-dup of LOWER id is dropped —
    * the C4-style keep-lowest rule ([[graft.CorpusPipeline]]'s third
    * stage composes the quality-argmax sibling, [[minhashKeepBest]])
    * — and the survivors materialize. Candidates come from the banded
    * [[minhashNearDupPairs]] pass (never all-pairs); the drop set is a
    * tiny id frame, so the action is one anti-join on the corpus.
    */
  def minhashKeep(docs: DataFrame, jaccardThreshold: Double = 0.5): DataFrame = {
    // exact-collapse BEFORE the banded pass — the standard curation
    // ordering, and VALUE-IDENTICAL here: the shingle law emits at
    // least one (possibly partial) shingle for EVERY non-NULL text
    // (sequence(0, max(len-3, 0)) is never empty), so byte-equal twins
    // always hold identical shingle sets, collide in all bands, and
    // verify at Jaccard 1.0 — the keep-lowest rule drops exactly the
    // non-canonical twins; and a canonical's lowest-id witness is
    // itself canonical (signature and Jaccard depend only on text, so
    // substituting the witness's canonical preserves both the band
    // collision and the verdict). Collapsing first shrinks the pair
    // stage by the exact-dup rate — an order of magnitude on heavily
    // mirrored corpora. Only NULL-text docs sit out: they produce no
    // signature and pair with nothing under the J-law, but the
    // hash-keyed exact pass WOULD group them together — so they pass
    // through unconditionally.
    val hashable = docs.filter(col("text").isNotNull)
    val canonIds = exact(hashable).select(col("keep_id").as("doc_id"))
    val canonDocs = hashable.join(canonIds, Seq("doc_id"), "left_semi")
    val ndDropped = minhashNearDupPairs(canonDocs)
      .filter(col("jaccard") >= jaccardThreshold)
      .select(col("id_b").as("doc_id"))
    val twinDropped = hashable.select(col("doc_id"))
      .join(canonIds, Seq("doc_id"), "left_anti")
    docs.join(twinDropped.unionByName(ndDropped).distinct(),
      Seq("doc_id"), "left_anti")
  }

  /** Near-dup keep-BEST action: within every connected cluster of the
    * verified (Jaccard ≥ threshold) near-dup graph, the single
    * highest-quality document survives (ties broken by lowest id) —
    * the canonicalization rule real curation pipelines use when the
    * mirror copy is cleaner than the original, vs [[minhashKeep]]'s
    * positional keep-lowest. `quality` is a (doc_id, quality_score)
    * frame whose score MUST be a pure function of the document TEXT
    * (byte-equal twins carry byte-equal scores) — graft's composite
    * text-quality score in the gated entry is one. The requirement is
    * load-bearing, not stylistic: this operator exact-collapses
    * byte-twin groups to their minimum id BEFORE the banded pass (the
    * replica-density discipline), which is value-identical only
    * because an equal-scoring twin group's minimum id is the only
    * member that can win the (quality DESC, id ASC) argmax. An id- or
    * metadata-dependent score breaks that equivalence — a higher-id
    * twin holding the cluster's top score would be silently pre-
    * dropped. For such scoring laws, rank the UNcollapsed graph
    * instead: feed [[minhashNearDupPairs]] over the full corpus to
    * [[keepBestOverEdges]] directly (correct, but pays the full pair
    * stage on mirrored corpora).
    *
    * 100 TB shape: candidates come from the banded
    * [[minhashNearDupPairs]] pass (never all-pairs); the cluster solve
    * runs on the near-dup GRAPH (a sliver of the corpus — near-dup
    * rates are single-digit percent), the quality join and the
    * argmax window run at clustered-node grain, and the action itself
    * is one anti-join of a tiny id frame against the corpus. Documents
    * outside any cluster never enter a shuffle beyond the band pass.
    */
  def minhashKeepBest(docs: DataFrame, quality: DataFrame,
      jaccardThreshold: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // exact-collapse BEFORE the banded pass ([[minhashKeep]]'s
    // replica-density discipline) — VALUE-IDENTICAL here because the
    // quality law is a function of the text alone: byte-twins carry
    // equal quality, so within any exact-twin group only the minimum
    // id can ever win the (quality DESC, id ASC) argmax — which is
    // exactly the group's canonical. Every non-canonical twin is
    // therefore a guaranteed drop (a J=1.0 partner with equal quality
    // and lower id sits in its cluster), the cluster structure over
    // canonicals is the twin-collapsed quotient of the full graph,
    // and the overall winner of every cluster is always a canonical.
    // On replica-heavy corpora this shrinks the pair stage by the
    // exact-dup rate squared. NULL-text docs produce no signature and
    // pair with nothing — they pass through unconditionally, like
    // minhashKeep.
    val hashable = docs.filter(col("text").isNotNull)
    // cache the canonical id set ONCE: three consumers (the canonical
    // semi-join, the twin-drop anti-join, and through them the final
    // action) would otherwise each replay the exact-dedup groupBy; the
    // frame is ids-only, a sliver of the corpus. persist — NOT
    // localCheckpoint — so the frame stays lazily RECOMPUTABLE from
    // lineage: a truncated-lineage executor-local checkpoint would
    // fail the downstream job on executor loss, the wrong trade at
    // 100 TB where losing an executor mid-join is routine.
    val canonIds = org.apache.spark.sql.GraftInternal.pinRecomputable(
      exact(hashable).select(col("keep_id").as("doc_id")))
    val canonDocs = hashable.join(canonIds, Seq("doc_id"), "left_semi")
    val nd = minhashNearDupPairs(canonDocs)
      .filter(col("jaccard") >= jaccardThreshold)
    keepBestAction(docs, canonIds,
      pruned => quality.join(pruned.select(col("doc_id")),
        Seq("doc_id"), "left_semi"),
      nd)
  }

  /** [[minhashKeepBest]] with the quality LAW passed as a column
    * function instead of a pre-scored frame — the form that keeps the
    * scoring work at CLUSTERED-NODE grain at any scale. With the frame
    * API the caller has already attached the scoring projection to the
    * corpus scan, and Catalyst does NOT move the solve's semi join
    * below it (measured, r16 anatomy: `PushDownLeftSemiAntiJoin`
    * refused the shape and the regex stack scored all 50M docs —
    * 164 s of the action's 185 s at ~sf100). Here the function is
    * applied to the PRUNED cluster-node doc rows by construction, so
    * the scoring cost is ∝ clustered nodes regardless of what the
    * optimizer proves. Value-identical to the frame form when `score`
    * is the same law (only cluster nodes' scores are ever consumed) —
    * spec-pinned.
    */
  def minhashKeepBestScored(docs: DataFrame,
      score: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      jaccardThreshold: Double = 0.5): DataFrame = {
    val hashable = docs.filter(col("text").isNotNull)
    val canonIds = org.apache.spark.sql.GraftInternal.pinRecomputable(
      exact(hashable).select(col("keep_id").as("doc_id")))
    val canonDocs = hashable.join(canonIds, Seq("doc_id"), "left_semi")
    val nd = minhashNearDupPairs(canonDocs)
      .filter(col("jaccard") >= jaccardThreshold)
    keepBestAction(docs, canonIds,
      pruned => pruned.select(col("doc_id"),
        score(col("text")).as("quality_score")),
      nd)
  }

  /** [[minhashKeepBestScored]] for a corpus whose non-NULL texts are
    * already pairwise DISTINCT — the output of [[exactKeep]], i.e. the
    * corpus pipeline's canonical stage. The general form re-runs the
    * exact-collapse election to find twin groups that cannot exist
    * here: with distinct texts `exact` keeps every row (every group
    * has size 1), the twin-drop set is empty, and the canonical corpus
    * IS the input — so the re-collapse is one full-corpus aggregation,
    * a persisted id frame, a semi join and an anti join that compute
    * nothing, at ANY scale (at 100 TB that is a full pass over the
    * canonical table). This form goes straight to the banded pair pass
    * and the cluster argmax. Value-identical UNDER THE INVARIANT
    * (caller's responsibility; DedupSpec pins this form ≡ the general
    * form on a collapsed corpus): the drop set reduces to cluster
    * losers, a sliver of a collapsed corpus, so the drop-oriented
    * anti join is the right materialization here.
    */
  def minhashKeepBestScoredDistinct(docs: DataFrame,
      score: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      jaccardThreshold: Double = 0.5): DataFrame = {
    val hashable = docs.filter(col("text").isNotNull)
    val nd = minhashNearDupPairs(hashable)
      .filter(col("jaccard") >= jaccardThreshold)
    keepBestOverEdgesScored(docs,
      pruned => pruned.select(col("doc_id"),
        score(col("text")).as("quality_score")),
      nd, preDropped = docs.select(col("doc_id")).limit(0))
  }

  /** The keep-best ACTION with the KEEP-oriented materialization — the
    * exact-collapse paths ([[minhashKeepBest]]/[[minhashKeepBestScored]])
    * know the canonical id set, so the kept corpus is (NULL-text
    * pass-throughs) ∪ (docs ∩ canonical winners) — two pruned corpus
    * scans and one semi join whose right side is bounded by DISTINCT
    * CONTENT. The drop-oriented anti join ([[keepBestOverEdgesScored]]'s
    * generic form, kept for the streamed accumulate path where the
    * complement set is what's known) shuffles the WHOLE corpus on
    * doc_id exactly when the drop set is corpus-sized — which is the
    * replica-dense regime this operator's collapse discipline exists
    * for (at ~sf100 the drop set is 49.95M of 50M ids; the winner set
    * is ≤ 50k and broadcasts, so the corpus never enters an exchange).
    * Value-identical: docs = nulls ⊎ hashable; hashable survivors are
    * exactly canonical non-losers (every non-canonical twin is a
    * guaranteed drop — see [[minhashKeepBest]]'s collapse law).
    */
  private def keepBestAction(docs: DataFrame, canonIds: DataFrame,
      qualityOf: DataFrame => DataFrame, edges: DataFrame): DataFrame = {
    val losers = keepBestClusterLosers(docs, qualityOf, edges)
    val winners = canonIds.join(losers, Seq("doc_id"), "left_anti")
    docs.filter(col("text").isNull)
      .unionByName(docs.join(winners, Seq("doc_id"), "left_semi"))
  }

  /** The keep-best SOLVE step, factored so the streamed maintenance
    * ([[graft.streaming.StreamReplay.replayKeepBestDrops]]) applies
    * the identical law over its ACCUMULATED edge store: components
    * over the verified pair graph, the (quality DESC, id ASC) argmax
    * per component, and one anti-join of the drop set (cluster losers
    * ∪ `preDropped` — the exact-twin members that never enter the
    * graph) against the corpus.
    *
    * Quality-frame form: kept for table-backed quality (a stored
    * score column is cheap to scan). For IN-PLAN scoring expressions
    * use [[keepBestOverEdgesScored]] — the semi-join pruning here
    * does NOT move below the caller's projection (r16 anatomy), so a
    * regex-stack quality frame pays corpus-grain scoring in this form.
    */
  private[graft] def keepBestOverEdges(docs: DataFrame, quality: DataFrame,
      edges: DataFrame, preDropped: DataFrame): DataFrame =
    keepBestOverEdgesScored(docs,
      pruned => quality.join(pruned.select(col("doc_id")),
        Seq("doc_id"), "left_semi"),
      edges, preDropped)

  /** [[keepBestOverEdges]] with quality produced FROM the pruned
    * cluster-node doc rows — `qualityOf` receives exactly the doc rows
    * whose scores the argmax will consume, so an in-plan scoring
    * expression runs at clustered-node grain by construction.
    */
  private[graft] def keepBestOverEdgesScored(docs: DataFrame,
      qualityOf: DataFrame => DataFrame,
      edges: DataFrame, preDropped: DataFrame): DataFrame = {
    val clusterDropped = keepBestClusterLosers(docs, qualityOf, edges)
    docs.join(preDropped.unionByName(clusterDropped).distinct(),
      Seq("doc_id"), "left_anti")
  }

  /** The cluster-loser half of the keep-best solve: components over
    * the verified pair graph, quality scored on the PRUNED node rows
    * only, (quality DESC, id ASC) argmax per component — everything
    * below the final materialization, at clustered-node grain.
    */
  private def keepBestClusterLosers(docs: DataFrame,
      qualityOf: DataFrame => DataFrame, edges: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val comps = connectedComponents(edges, "id_a", "id_b")
    // cluster nodes are a sliver of the corpus — prune the DOC rows
    // first (one semi join on ids), then score the survivors only
    val prunedDocs = docs
      .join(comps.select(col("node").as("doc_id")), Seq("doc_id"), "left_semi")
    val prunedQuality = qualityOf(prunedDocs)
    // argmax per cluster: quality desc, id asc — the window's grain is
    // clustered nodes (≪ corpus), its partition key the component id
    val ranked = comps
      .join(prunedQuality.select(col("doc_id").as("node"), col("quality_score")),
        Seq("node"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("component"))
          .orderBy(col("quality_score").desc, col("node"))))
    ranked.filter(col("rn") > 1)
      .select(col("node").as("doc_id"))
  }

  /** Candidate near-dup pairs via MinHash + LSH banding over word
    * 3-gram shingles, verified with exact Jaccard. Returns one row per
    * doc: its candidate count and best match (robust output shape even
    * on corpora with no near-dups). Construction EAGERLY runs Spark
    * jobs ([[textRepElection]]'s materialization contract — pinned
    * rep-grain frames, recomputable on executor loss).
    */
  def minhashNearDups(docs: DataFrame, numHashes: Int = 32, bands: Int = 8,
      jaccardThreshold: Double = 0.5): DataFrame = {
    // DOC-GRAIN LAW, evaluated at DISTINCT-TEXT grain (the
    // [[ngramNearDups]] decomposition, applied to the word-shingle
    // family): signatures, band collisions, and exact Jaccard are pure
    // functions of the text, so a doc in a twin group of size c has
    // exactly (c−1) twin candidates at Jaccard 1.0 (identical shingle
    // sets; the shingle law emits ≥1 shingle per non-NULL text, so
    // twins always collide in every band) plus, for each colliding
    // OTHER text group of size c', c' cross candidates at that
    // rep-pair's Jaccard. The banded self-join therefore runs over
    // distinct texts only — the raw-grain form self-joined every
    // band key of a c-member twin group into c·(c−1)/2 candidate
    // pairs, quadratic in twin-group size on replica-dense corpora
    // (19.8 s at ~sf1, the r13 weak item; the ~sf100 decade OOMed
    // this exact shape elsewhere) — and the replica term becomes
    // arithmetic on group sizes. Value-identical by construction;
    // the oracle stays doc-grain and untouched.
    val (docRep, sizes) = textRepElection(docs)
    val repDocs = docs
      .join(sizes.select(col("rep").as("doc_id")), Seq("doc_id"), "left_semi")
    // rep-grain and consumed twice (both unpivot orientations below) —
    // materialize once (pinRecomputable: eager + executor-loss-safe)
    // or each consumer re-runs the whole band join and its corpus
    // semi-scans (profiled: the duplicated subtree was most of the
    // entry's ~sf100 wall)
    val verified = org.apache.spark.sql.GraftInternal.pinRecomputable(
      minhashNearDupPairs(repDocs, numHashes, bands))
    // rep-grain neighbor stats carrying the PARTNER group's size — the
    // multiplicity the doc-grain law assigns to each cross candidate
    val perRep = crossPartnerStats(verified, sizes, "jaccard", max)
      .select(col("rep"), col("cross_cnt").as("cross_cands"),
        col("cross_stat").as("cross_best"))
    // doc universe WITHOUT a corpus×corpus join: docRep already holds
    // one row per non-NULL-text doc, perRep broadcasts at rep grain,
    // and NULL-text docs re-admit through a pushed-filter scan — the
    // earlier left join from docs.select(doc_id) was a 2-shuffle
    // sort-merge join at full corpus grain for rows docRep already had
    val scored = docRep
      .join(perRep, Seq("rep"), "left")
      .select(
        col("doc_id"),
        (coalesce(col("cross_cands"), lit(0L)) +
          when(col("n_copies") > 1, col("n_copies") - 1).otherwise(lit(0L)))
          .cast("long").as("n_candidates"),
        greatest(
          coalesce(col("cross_best"), lit(0.0)),
          when(col("n_copies") > 1, lit(1.0)).otherwise(lit(0.0)))
          .as("best_jaccard"))
      .select(col("doc_id"), col("n_candidates"), col("best_jaccard"),
        (col("n_candidates") > 0 &&
          col("best_jaccard") >= jaccardThreshold).as("is_near_dup"))
    val nullDocs = docs.filter(col("text").isNull)
      .select(col("doc_id"), lit(0L).as("n_candidates"),
        lit(0.0).as("best_jaccard"), lit(false).as("is_near_dup"))
    scored.unionByName(nullDocs)
  }

  /** Incremental near-dup: a NEW drop (`delta`) against a PERSISTED
    * corpus band index ([[graft.sources.MinhashIndexStore]]) — the
    * daily-drop form of [[minhashNearDups]]. The corpus is never
    * re-shingled or re-signed: its side of the candidate join is a
    * parquet scan of the stored (doc_id, band, s0..s3) table; only the
    * delta pays the signature pass. Candidates = delta×stored band
    * matches ∪ delta-internal band matches (a drop also near-dups
    * against itself), so a delta doc's candidate set is IDENTICAL to
    * what the full batch run would give it — which is what keeps the
    * value-level oracle: the batch replay filtered to delta ids.
    *
    * 100 TB shape: the band join moves 48-byte band rows, never text;
    * with `broadcastDelta` (a daily drop ≪ the corpus) the stored
    * index is scanned without ANY exchange — candidates ∝
    * |delta|×bucket, not corpus². The exact-Jaccard verify fetches
    * corpus text by id for candidate ids only (a semi-join-pruned
    * read of the docs table), so corpus shingles are computed for
    * candidates, not the corpus. Output: one row per delta doc.
    */
  def minhashNearDupsDelta(delta: DataFrame, corpus: DataFrame,
      storedBands: DataFrame, jaccardThreshold: Double = 0.5,
      broadcastDelta: Boolean = true): DataFrame =
    minhashNearDupsDeltaWith(prepareDeltaSide(delta, broadcastDelta), delta,
      corpus, storedBands, jaccardThreshold, broadcastDelta)

  /** The MASK-INDEPENDENT delta-side state of an incremental serve:
    * the drop's member→rep election, its rep rows, the pinned rep
    * shingles, the rep band rows, and the verified DELTA-INTERNAL
    * pairs — everything a serve computes that does not depend on the
    * STORED side. A caller that serves the SAME drop against several
    * index states (the `dedup_delete_reappend` gate serves its delta
    * twice, either side of a re-delete) builds this once with
    * `shared = true` (which pins the band rows and internal pairs too)
    * and pays the election window, the signature kernel and the
    * internal verify once instead of per serve.
    */
  private[graft] final class DeltaServeSide(
      val members: DataFrame, val reps: DataFrame, val repSh: DataFrame,
      val deltaBands: DataFrame, val internalOut: DataFrame)

  /** Build the delta side of an incremental serve. With the default
    * `shared = false` the band rows and internal verify stay LAZY
    * exactly as the single-serve plan always had them (no extra eager
    * jobs on the common path); `shared = true` pins them for reuse
    * across serves.
    *
    * The election: exact-collapse the drop FIRST (the minhashKeep
    * device, applied to the micro-batch): redelivered / mirrored
    * corpora carry heavy exact-dup rates, identical texts hold
    * identical signatures AND identical shingle sets, so the band
    * query and the Jaccard verify run at DISTINCT-TEXT grain and the
    * per-member rollup is reconstructed arithmetically —
    * value-identical, because a member x of group g pairs with (a)
    * every candidate of g's rep at the rep's jaccard (candidacy and
    * the verdict depend only on text; for a candidate that is itself
    * a delta group, once per member: m_other pairs), and (b) its m−1
    * within-group twins at exactly Jaccard 1.0 (identical shingle
    * sets). On a 10× replicated drop this cuts the delta-internal
    * band join ~100× and the delta×stored join ~10× — the difference
    * between candidate cost ∝ |distinct drop| and ∝ |drop|².
    * One text-hash-keyed window shuffle produces the member→rep map
    * and the group sizes — no groupBy-then-join round trip per
    * micro-batch. The map is SLIM (ids + size, no text) and PINNED:
    * five consumers (rep rows, both rollup orientations, the member
    * expansion, the verify's shingle fetch) would otherwise each
    * replay the drop-sized window; rep TEXT re-fetches from the
    * delta by id (a pushed semi scan of the drop, rep-bounded).
    */
  private[graft] def prepareDeltaSide(delta: DataFrame,
      broadcastDelta: Boolean = true,
      shared: Boolean = false): DeltaServeSide = {
    import graft.sources.MinhashIndexStore
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(TextGroupKeyNames.map(col): _*)
    val members = org.apache.spark.sql.GraftInternal.pinRecomputable(
      delta.filter(col("text").isNotNull)
        .select(col("doc_id") +: textGroupKeys(col("text")): _*)
        .select(col("doc_id"),
          min(col("doc_id")).over(w).as("rep_id"),
          count(lit(1)).over(w).as("m")))
    val reps = delta
      .join(members.filter(col("doc_id") === col("rep_id"))
        .select(col("doc_id")), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("text"))
    sideFromReps(reps, members, broadcastDelta, shared)
  }

  /** [[prepareDeltaSide]] for a drop the CALLER already collapsed to
    * distinct-text reps (the keep-best stream's per-batch edge feed) —
    * no election window; `members` stays null and only the pair-grain
    * consumers may use the result.
    */
  private def sideFromReps(reps: DataFrame, members: DataFrame,
      broadcastDelta: Boolean, shared: Boolean): DeltaServeSide = {
    import graft.sources.MinhashIndexStore
    // rep-grain (distinct drop texts) and consumed three times (cross
    // verify + both internal sides) — pinned, or each consumer replays
    // the caller's drop election and the shingle kernel
    val repSh = org.apache.spark.sql.GraftInternal.pinRecomputable(reps
      .select(col("doc_id"), TF.words(col("text")).as("w"))
      .select(col("doc_id"), TF.shingleSet(col("w"), 3).as("shingles")))
    val bandsRaw = MinhashIndexStore.bandRows(reps)
    val deltaBands =
      if (shared) org.apache.spark.sql.GraftInternal.pinRecomputable(bandsRaw)
      else bandsRaw
    val deltaSide =
      if (broadcastDelta) broadcast(deltaBands) else deltaBands
    // delta-internal candidates: the drop against itself. The b side
    // reuses the SAME broadcast as the stored-index join (one
    // broadcast exchange, one signing pass for both candidate sources)
    val keyCols = MinhashIndexStore.BandKeyCols
    val candDelta = {
      val cond = keyCols.map(c => col(s"a.$c") === col(s"b.$c"))
        .reduce(_ && _) && col("a.doc_id") < col("b.doc_id")
      deltaBands.alias("a").join(deltaSide.alias("b"), cond)
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .distinct()
    }
    // delta-internal verify stays at rep grain (the drop is collapsed)
    val internalRaw = candDelta
      .join(broadcast(repSh.select(col("doc_id").as("id_a"),
        col("shingles").as("sh_a"))), "id_a")
      .join(broadcast(repSh.select(col("doc_id").as("id_b"),
        col("shingles").as("sh_b"))), "id_b")
      .select(col("id_a"), col("id_b"),
        TF.sortedJaccard(col("sh_a"), col("sh_b")).as("jaccard"))
    val internalOut =
      if (shared) org.apache.spark.sql.GraftInternal.pinRecomputable(internalRaw)
      else internalRaw
    new DeltaServeSide(members, reps, repSh, deltaBands, internalOut)
  }

  /** [[minhashNearDupsDelta]] over a prebuilt [[DeltaServeSide]] — the
    * multi-serve entry point (same drop, several index states).
    */
  private[graft] def minhashNearDupsDeltaWith(side: DeltaServeSide,
      delta: DataFrame, corpus: DataFrame, storedBands: DataFrame,
      jaccardThreshold: Double = 0.5,
      broadcastDelta: Boolean = true): DataFrame = {
    val members = side.members
    val verified = minhashDeltaVerified(side, delta.select(col("doc_id")),
      corpus, storedBands, broadcastDelta)
    // EXPAND the rep-grain pairs back to member grain, arithmetically:
    // a pair contributes (other side's group size, or 1 for a stored
    // id) candidates to each member of the rep's group; within-group
    // twins add m−1 candidates at exactly Jaccard 1.0. Stored-id rows
    // fall out of the rollup because `members` never contains them.
    val sizesRaw = members.filter(col("doc_id") === col("rep_id"))
      .select(col("rep_id"), col("m"))
    val sizes = if (broadcastDelta) broadcast(sizesRaw) else sizesRaw
    val contribA = verified
      .join(sizes.select(col("rep_id").as("id_b"), col("m").as("m_b")),
        Seq("id_b"), "left")
      .select(col("id_a").as("rep_id"),
        coalesce(col("m_b"), lit(1L)).as("cnt"), col("jaccard"))
    val contribB = verified
      .join(sizes.select(col("rep_id").as("id_a"), col("m").as("m_a")),
        Seq("id_a"), "left")
      .select(col("id_b").as("rep_id"),
        coalesce(col("m_a"), lit(1L)).as("cnt"), col("jaccard"))
    val perRep = contribA.unionByName(contribB)
      .groupBy(col("rep_id"))
      .agg(sum(col("cnt")).as("n_ext"), max(col("jaccard")).as("best_ext"))
    val perMember = members
      .join(perRep, Seq("rep_id"), "left")
      .select(
        col("doc_id"),
        (coalesce(col("n_ext"), lit(0L)) + col("m") - lit(1L)).as("n_candidates"),
        greatest(coalesce(col("best_ext"), lit(0.0)),
          when(col("m") > 1, lit(1.0)).otherwise(lit(0.0))).as("best_jaccard"))
      .select(col("doc_id"), col("n_candidates"), col("best_jaccard"),
        (col("n_candidates") > 0 &&
          col("best_jaccard") >= jaccardThreshold).as("is_near_dup"))
    // rollup keyed from the delta: every delta doc appears even with
    // zero candidates (NULL-text docs sign nothing and pair with
    // nothing — they pass through with an empty rollup)
    delta.select(col("doc_id"))
      .join(perMember, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("best_jaccard"), lit(0.0)).as("best_jaccard"),
        coalesce(col("is_near_dup"), lit(false)).as("is_near_dup"))
  }

  /** Verified near-dup PAIRS for a drop against a persisted band
    * index, at drop-representative grain — the pair-level sibling of
    * [[minhashNearDupsDelta]] (which rolls the same candidates up per
    * doc): delta×stored band matches ∪ delta-internal matches, exact
    * Jaccard on candidates only, emitted once per unordered pair. The
    * caller owns the exact-collapse (pass distinct-text reps as
    * `reps`) and the edge accumulation — this is the per-micro-batch
    * edge feed of the streamed keep-best maintenance.
    *
    * 100 TB shape: identical to the rollup sibling — the band join
    * moves 48-byte band rows, the drop side broadcasts, corpus text is
    * fetched by candidate id only (semi-join-pruned).
    */
  private[graft] def minhashDeltaPairs(reps: DataFrame, corpus: DataFrame,
      storedBands: DataFrame, jaccardThreshold: Double = 0.5): DataFrame =
    minhashDeltaVerified(
      sideFromReps(reps, null, broadcastDelta = true, shared = false),
      reps.select(col("doc_id")), corpus,
      storedBands, broadcastDelta = true)
      .filter(col("jaccard") >= jaccardThreshold)

  /** [[minhashDeltaPairs]] over a caller-built [[DeltaServeSide]] — the
    * streamed keep-best's per-batch entry point: the batch needs the
    * drop's election (rep ids + twin drops), the signed band rows (for
    * the index fold), AND the verified pair feed, so it builds ONE
    * shared side (pinned election window, pinned signature/band frame,
    * pinned internal verify) and every consumer reads the pins instead
    * of re-running the signature kernel per consumer.
    */
  private[graft] def minhashDeltaPairsWith(side: DeltaServeSide,
      corpus: DataFrame, storedBands: DataFrame,
      jaccardThreshold: Double = 0.5): DataFrame =
    minhashDeltaVerified(side, side.reps.select(col("doc_id")), corpus,
      storedBands, broadcastDelta = true)
      .filter(col("jaccard") >= jaccardThreshold)

  /** The shared delta-vs-index core: banded candidates + exact-Jaccard
    * verify for a drop's distinct-text reps against a persisted band
    * index. `dropIds` is the full drop id set, anti-joined out of the
    * corpus-side text fetch (the rollup passes all member ids
    * defensively; the pair feed passes its reps — equivalent under
    * the caller contract that the drop is disjoint from the index).
    * Emits (id_a, id_b, jaccard) once per unordered candidate pair,
    * unthresholded — [[minhashNearDupsDelta]] rolls it up per member,
    * [[minhashDeltaPairs]] filters it into an edge feed. Construction
    * EAGERLY runs Spark jobs (the candidate copy→crep map is pinned —
    * [[textRepElection]]'s materialization contract applied to the
    * delta path; both callers execute immediately inside a micro-batch
    * or a gated serve, so plan-assembly laziness buys nothing here).
    */
  private def minhashDeltaVerified(side: DeltaServeSide, dropIds: DataFrame,
      corpus: DataFrame, storedBands: DataFrame,
      broadcastDelta: Boolean): DataFrame = {
    import graft.sources.MinhashIndexStore
    val keyCols = MinhashIndexStore.BandKeyCols
    val repSh = side.repSh
    val deltaBands = side.deltaBands
    val deltaSide =
      if (broadcastDelta) broadcast(deltaBands) else deltaBands
    // delta × stored-corpus candidates, kept ORIENTED (delta_id,
    // stored_id) so the stored side can collapse below: the stored
    // side is a SCAN of the index, the delta side the only signature
    // computation in the plan (defensive self-pair filter — caller
    // contract is disjoint)
    val candCorpus = storedBands
      .join(deltaSide.withColumnRenamed("doc_id", "delta_id"), keyCols)
      .filter(col("doc_id") =!= col("delta_id"))
      .select(col("delta_id"), col("doc_id").as("stored_id"))
    // candidate stored ids, raw grain. Delta ids never enter (the
    // non-delta side of every candidate pair is by construction a
    // stored-index id), so callers may pass the FULL docs table as
    // `corpus` without a corpus-wide anti-join (a streaming
    // micro-batch doesn't know its complement's predicate)
    val candIds = storedBands
      .join(deltaSide.select(keyCols.map(col): _*), keyCols)
      .select(col("doc_id")).distinct()
      .join(dropIds, Seq("doc_id"), "left_anti")
    // CORPUS-SIDE DISTINCT-TEXT COLLAPSE (the r15 fix — profiled at
    // ~sf100: re-shingling ~1M candidate stored COPIES was 28.6 s of a
    // ~52 s serve, plus a copy-grain Jaccard verify on top): stored
    // copies of one text hold identical band rows, so EVERY candidate
    // copy of a text pairs with exactly the delta reps its text's
    // bands collide with — the verify is a pure function of
    // (delta text, stored text) and runs at (delta rep × DISTINCT
    // candidate text) grain; the raw-id pair frame re-expands through
    // the copy→crep map, value-identical. The election is ONE
    // hash-keyed window shuffle over [[textGroupKeys]] (text never in
    // the exchange — the micro-batch election form, at candidate
    // grain), PINNED once: the map is consumed by the rep-grain
    // distinct, the crep shingle fetch, and the pair expansion — left
    // lazy, each consumer replayed the corpus semi-scan (measured: the
    // unpinned form was SLOWER than the copy-grain verify it
    // replaced). Only the ~|distinct candidate texts| crep docs are
    // shingled.
    val candMap = org.apache.spark.sql.GraftInternal.pinRecomputable(
      corpus.join(candIds, Seq("doc_id"), "left_semi")
        .select(col("doc_id") +: textGroupKeys(col("text")): _*)
        .select(col("doc_id").as("stored_id"),
          min(col("doc_id")).over(org.apache.spark.sql.expressions.Window
            .partitionBy(TextGroupKeyNames.map(col): _*)).as("crep")))
    // parallelism pinned on the candidate-rep text fetch — the shingle
    // kernel is compute-dense on a byte-tiny semi-join output, which
    // AQE coalescing otherwise serializes ([[spreadForKernel]])
    val crepSh = spreadForKernel(corpus
      .join(candMap.select(col("crep").as("doc_id")).distinct(),
        Seq("doc_id"), "left_semi"), "doc_id")
      .select(col("doc_id"), TF.words(col("text")).as("w"))
      .select(col("doc_id").as("crep"),
        TF.shingleSet(col("w"), 3).as("shingles"))
    // cross verify at (delta rep × distinct stored text) grain —
    // PINNED so the verify provably stays at rep grain: left lazy,
    // the optimizer reorders the expansion join below the jaccard
    // projection and re-evaluates the shingle verify once per
    // EXPANDED row (measured: 16.5 s vs 1.6 s for the pair expansion
    // alone at ~sf10)
    val crossRep = org.apache.spark.sql.GraftInternal.pinRecomputable(
      spreadForKernel(candCorpus.join(candMap, Seq("stored_id"))
          .select(col("delta_id"), col("crep")).distinct(), "crep")
        .join(repSh.select(col("doc_id").as("delta_id"),
          col("shingles").as("sh_a")), "delta_id")
        .join(crepSh.select(col("crep"), col("shingles").as("sh_b")), "crep")
        .select(col("delta_id"), col("crep"),
          TF.sortedJaccard(col("sh_a"), col("sh_b")).as("jaccard")))
    // … expanded back to raw id pairs: copies of one text share their
    // band rows, so a (delta, text) collision pairs the delta rep with
    // every candidate copy of that text — exactly the raw band join's
    // pair set
    // the verified rep frame is tiny — broadcast it so the copy→crep
    // map never shuffles for the expansion
    val crossOut = candMap.join(broadcast(crossRep), Seq("crep"))
      .select(least(col("delta_id"), col("stored_id")).as("id_a"),
        greatest(col("delta_id"), col("stored_id")).as("id_b"),
        col("jaccard"))
    // delta-internal verified pairs come from the side bundle (built
    // alongside the election — mask-independent, shared across serves)
    crossOut.unionByName(side.internalOut)
  }

  /** SimHash near-dup: 64-bit signature, pigeonhole 16-bit chunk
    * blocking, Hamming verify via `bit_count(a^b)`. One row per doc.
    * Construction EAGERLY runs Spark jobs ([[textRepElection]]'s
    * materialization contract — pinned rep-grain frames, recomputable
    * on executor loss).
    *
    * Evaluated at DISTINCT-TEXT grain like [[minhashNearDups]]: the
    * signature is a pure function of the text, so byte-equal twins
    * hold identical simhashes — they collide in every chunk and verify
    * at Hamming 0 (≤ any maxHamming ≥ 0) — and a member of a twin
    * group of size c gets (c−1) twin neighbors at Hamming 0 plus c'
    * cross neighbors per colliding-and-verified partner group of size
    * c'. The pigeonhole self-join runs over distinct texts only; the
    * raw-grain form was quadratic in twin-group size on replica-dense
    * corpora for a doc-grain rollup output. Value-identical; the
    * oracle stays doc-grain and untouched.
    */
  def simhashNearDups(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val (docRep, sizes) = textRepElection(docs)
    val repDocs = docs
      .join(sizes.select(col("rep").as("doc_id")), Seq("doc_id"), "left_semi")
    // rep-grain and multiply consumed (chunk join a/b sides + the
    // final signature join) — materialize once (pinRecomputable:
    // eager + executor-loss-safe)
    val sigs = org.apache.spark.sql.GraftInternal.pinRecomputable(
      repDocs.select(
        col("doc_id"),
        call_function("graft_simhash64", TF.words(col("text"))).as("simhash")))
    val chunked = sigs.select(
      col("doc_id"), col("simhash"),
      posexplode(TF.simhashChunks(col("simhash"))))
      .withColumnsRenamed(Map("pos" -> "chunk_idx", "col" -> "chunk"))
    val pairs = org.apache.spark.sql.GraftInternal.pinRecomputable(
      chunked.alias("a")
        .join(chunked.alias("b"),
          col("a.chunk_idx") === col("b.chunk_idx") &&
            col("a.chunk") === col("b.chunk") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(
          col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
          bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
        .distinct()
        .filter(col("hamming") <= maxHamming))
      // rep-grain, consumed twice below — materialized once (eager +
      // executor-loss-safe)
    // rep-grain neighbor stats carrying the partner group's size
    val perRep = crossPartnerStats(pairs, sizes, "hamming", min)
      .select(col("rep"), col("cross_cnt").as("cross_near"),
        col("cross_stat").as("cross_min"))
    // doc universe and per-doc simhash come from the rep map: members
    // share their rep's signature (pure function of text). No
    // corpus×corpus join — docRep has every non-NULL-text doc, the
    // rep-grain sig/rollup frames broadcast, and NULL-text docs
    // re-admit through a pushed-filter scan with the raw-grain
    // behavior (NULL simhash, empty rollup)
    val scored = docRep
      .join(sigs.select(col("doc_id").as("rep"), col("simhash")), Seq("rep"), "left")
      .join(perRep, Seq("rep"), "left")
      .select(
        col("doc_id"), col("simhash"),
        (coalesce(col("cross_near"), lit(0L)) +
          when(col("n_copies") > 1 && lit(maxHamming) >= 0,
            col("n_copies") - 1).otherwise(lit(0L)))
          .cast("long").as("n_near"),
        least(
          coalesce(col("cross_min"), lit(64)),
          when(col("n_copies") > 1 && lit(maxHamming) >= 0, lit(0))
            .otherwise(lit(64))).as("min_hamming"))
    val nullDocs = docs.filter(col("text").isNull)
      .select(col("doc_id"), lit(null).cast("long").as("simhash"),
        lit(0L).as("n_near"), lit(64).as("min_hamming"))
    scored.unionByName(nullDocs)
  }

  /** Character n-gram Jaccard near-dup: MinHash-banded candidates (cheap
    * recall stage) verified with exact char-n-gram Jaccard. One row per
    * doc with its candidate count and best char-gram match.
    *
    * The DOC-GRAIN LAW (what the oracle replays): a doc's candidates
    * are every other doc whose signature collides in ≥1 band, its best
    * score the max exact gram-set Jaccard among them. Evaluated at
    * DISTINCT-TEXT grain: identical texts have identical gram sets,
    * hence identical signatures and pairwise Jaccard 1.0, so the
    * doc-grain answer DECOMPOSES exactly — a doc in a twin group of
    * size c has (c−1) twin candidates at 1.0 plus, for each colliding
    * OTHER text group of size c', c' cross candidates at that pair's
    * Jaccard. The banded self-join therefore runs over distinct texts
    * only and the quadratic replica term becomes arithmetic on group
    * sizes — the r11 exact-collapse law, value-identical by
    * construction (and the reason this survives a replica-dense 100×
    * corpus: the pair stage is distinct-text-bounded).
    *
    * Gram width n = 5 and banding 64 hashes in 4 bands × 16 rows,
    * chosen from MEASURED pair statistics: char-3-gram sets saturate
    * on small-vocabulary corpora (the driver's template texts sit at
    * ~0.9 pairwise 3-gram Jaccard for long docs — the old 16-hash 4×4
    * banding found 7.5M "candidates" among 5000 docs, a genuinely
    * quadratic verify an O(N²)-blind instrument had hidden), while
    * 5-gram random-pair Jaccard tops out ~0.29 here (lower on natural
    * text — 5-grams are the dedup-literature standard). At 0.29 a
    * 16-row band collides with probability 4·0.29¹⁶ ≈ 10⁻⁸: the pair
    * stage emits only true high-overlap candidates, at ANY corpus
    * size.
    *
    * API notes (behavior changes vs the pre-r13 form, for external
    * callers): (1) the default gram width moved 3 → 5 with 64-hash
    * 4×16 banding — callers that relied on the old 3-gram default
    * should pin `n = 3` explicitly (the repo's oracle moved in
    * lockstep); (2) constructing the returned DataFrame EAGERLY runs
    * Spark jobs (the family-wide materialization contract — see
    * [[textRepElection]]): the distinct-text gram/signature frame is
    * pinned at build time so the banded self-join and the two verify
    * joins don't re-evaluate the projection — callers composing plans
    * lazily should call this at execution time, not plan-assembly
    * time. The pinned blocks stay recomputable from lineage, so an
    * executor loss degrades to recompute, never to job failure.
    */
  def ngramNearDups(docs: DataFrame, n: Int = 5): DataFrame = {
    // shared member→rep election ([[textRepElection]] — the exact()
    // law, keeping the group map so docs fold back to their rep)
    val (docRep, grpSizes) = textRepElection(docs)
    val repDocs = docs.filter(col("text").isNotNull)
      .join(grpSizes.select(col("rep").as("doc_id")), Seq("doc_id"), "left_semi")
    // LEAN signature pin: the pinned frame carries ids + the
    // 64-hash signature ONLY — the banded self-join and the pair
    // distinct move signature longs, never gram arrays. The old form
    // pinned the sorted-distinct gram SET for every rep alongside the
    // sig, materializing corpus-wide gram arrays (≫ the documents
    // themselves) that only the verify's CANDIDATE rows ever read —
    // a memory hazard at scale and dead weight in the pin job.
    val sigs = org.apache.spark.sql.GraftInternal.pinRecomputable(
      repDocs
        .select(col("doc_id"),
          TF.minhashSigChars(col("text"), n, 64).as("sig")))
    val banded = sigs.select(
      col("doc_id"), explode(TF.bandTuples(col("sig"), 4, 16)).as("bk"))
    val pairs = banded.alias("a")
      .join(banded.alias("b"),
        col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    // gram sets for CANDIDATE docs only, from a semi-join-pruned second
    // fetch (the verify re-grams candidates instead of dragging every
    // rep's gram array through the pin and the exchanges); pinned —
    // both verify joins consume it
    val candIds = pairs.select(col("id_a").as("doc_id"))
      .unionByName(pairs.select(col("id_b").as("doc_id")))
      .distinct()
    // parallelism pinned on the candidate fetch — the char-gram kernel
    // is compute-dense and the semi-join output is byte-tiny, so AQE
    // coalescing otherwise runs it in ONE task ([[spreadForKernel]];
    // measured 2.0 s serial of an 8.3 s entry at sf0.1)
    val grams = org.apache.spark.sql.GraftInternal.pinRecomputable(
      spreadForKernel(repDocs.join(candIds, Seq("doc_id"), "left_semi"),
          "doc_id")
        .select(col("doc_id"),
          sort_array(array_distinct(TF.charNgrams(col("text"), n)))
            .as("grams")))
    // exact set Jaccard by zero-allocation merge scan over the sorted
    // distinct gram sets: |A∩B| from the codegen kernel, |A∪B| by
    // inclusion-exclusion — value-identical to
    // array_intersect/array_union (no hashing, no collision risk)
    val interCnt = org.apache.spark.sql.functions
      .call_function("graft_sorted_common_count", col("g_a"), col("g_b"))
      .cast("double")
    val unionCnt =
      (size(col("g_a")) + size(col("g_b"))).cast("double") - interCnt
    // rep-grain, consumed twice below — materialize once (eager +
    // executor-loss-safe)
    val verified = org.apache.spark.sql.GraftInternal.pinRecomputable(
      spreadForKernel(pairs, "id_a")
        .join(grams.select(col("doc_id").as("id_a"), col("grams").as("g_a")), "id_a")
        .join(grams.select(col("doc_id").as("id_b"), col("grams").as("g_b")), "id_b")
        .select(col("id_a"), col("id_b"),
          when(unionCnt === 0.0, lit(0.0))
            .otherwise(round(interCnt / unionCnt, 4)).as("gram_jaccard")))
    // rep-grain neighbor stats carrying the PARTNER group's size — the
    // multiplicity the doc-grain law assigns to each cross candidate
    val perRep = crossPartnerStats(verified, grpSizes, "gram_jaccard", max)
      .select(col("rep"), col("cross_cnt").as("cross_cands"),
        col("cross_stat").as("cross_best"))
    // doc universe without a corpus×corpus join (the minhash rollup's
    // device): docRep covers every non-NULL-text doc, NULL-text docs
    // re-admit through a pushed-filter scan with an empty rollup
    val scored = docRep
      .join(perRep, Seq("rep"), "left")
      .select(
        col("doc_id"),
        (coalesce(col("cross_cands"), lit(0L)) +
          when(col("n_copies") > 1, col("n_copies") - 1).otherwise(0L))
          .cast("long").as("n_candidates"),
        greatest(
          coalesce(col("cross_best"), lit(0.0)),
          when(col("n_copies") > 1, lit(1.0)).otherwise(0.0))
          .as("best_gram_jaccard"))
    val nullDocs = docs.filter(col("text").isNull)
      .select(col("doc_id"), lit(0L).as("n_candidates"),
        lit(0.0).as("best_gram_jaccard"))
    scored.unionByName(nullDocs)
  }

  /** Connected components over a near-dup pair graph: each node labeled
    * with the minimum doc/vec id reachable from it — the canonical
    * representative of its duplicate cluster (keep the canonical, drop
    * the rest: the final step of corpus dedup).
    *
    * Iterative min-label propagation: each round joins the edge list
    * with current labels and keeps the per-node minimum. Rounds needed
    * = graph diameter (near-dup clusters are shallow); each round is
    * one shuffle-join + partial-agg groupBy, all DataFrame ops — no
    * driver-side graph. Converges deterministically.
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 20, localThreshold: Long = 1000000L): DataFrame = {
    // materialize the edge list ONCE — without this every iteration
    // recomputes the (possibly expensive) upstream pair generation
    val symRaw = org.apache.spark.sql.GraftInternal.pinRecomputable(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .unionByName(edges.select(col(dstCol).as("src"), col(srcCol).as("dst")))
        .distinct())
    // adaptive: a bounded-size graph (≤1M directed edges, the usual
    // case — near-dup graphs are tiny next to the corpus) solves in
    // one driver-side union-find pass instead of paying per-iteration
    // job overhead; larger graphs take the distributed loop below.
    // One bounded collect both sizes the graph and fetches it: more
    // than `localThreshold` rows back means "too big for the driver".
    // The local fast path requires long node ids (union-find keys);
    // other comparable types fall through to the generic distributed
    // loop
    val longIds = symRaw.schema("src").dataType ==
      org.apache.spark.sql.types.LongType
    if (longIds) {
      val spark = symRaw.sparkSession
      import spark.implicits._
      val bounded = symRaw
        .limit(math.min(localThreshold, Int.MaxValue - 1L).toInt + 1)
        .as[(Long, Long)].collect()
      // the driver-built answer reads nothing of the pinned edge list,
      // so the local path releases it; the distributed loop's result
      // lineage reads its pins and keeps them
      if (bounded.length <= localThreshold)
        return try unionFindLocal(spark, bounded)
          finally org.apache.spark.sql.GraftInternal.unpin(symRaw)
    }
    // size-adaptive parallelism for the distributed loop
    val nEdges = symRaw.count()
    val parts = math.max(1L, math.min(
      symRaw.sparkSession.sessionState.conf.numShufflePartitions.toLong,
      nEdges / 500000L + 1L)).toInt
    val sym = org.apache.spark.sql.GraftInternal.pinRecomputable(
      symRaw.repartition(parts, col("src")))
    var labels = org.apache.spark.sql.GraftInternal.pinRecomputable(
      sym.select(col("src").as("node")).distinct()
        .withColumn("component", col("node")))
    def checksumOf(df: DataFrame): Long = df
      .agg(coalesce(sum(col("component")), lit(0L))).head().getLong(0)
    var checksum = checksumOf(labels)
    var converged = labels.isEmpty // empty graph: already done
    var iter = 0
    // persist + materialize each round: iterative joins otherwise
    // stack an exponentially deep lineage that every convergence
    // check replays (persist beats a cut here — a cut re-executes the
    // round's plan in a second job; the checksum action already
    // materializes the cache). Every 4th round is an eager cut
    // instead: persist caps the REPLAYED lineage only while the cache
    // holds — the logical plan still grows by one join per round, and
    // an evicted block replays every prior round
    val chain = new org.apache.spark.sql.GraftInternal.Rounds(cutEvery = 4)
    while (!converged && iter < maxIter) {
      val stepped = sym
        .join(labels, sym("src") === labels("node"))
        .select(col("dst").as("node"), col("component"))
        .unionByName(labels)
        .repartition(parts, col("node"))
        .groupBy(col("node"))
        .agg(min(col("component")).as("component"))
      // fixpoint when the min-label checksum stops shrinking — the
      // one action per round, which also fills the round's cache
      labels = chain.step(stepped) { propagated =>
        val after = checksumOf(propagated)
        converged = after == checksum
        checksum = after
      }
      iter += 1
    }
    // an unconverged result is WRONG (clusters split), never return it
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — " +
          "graph diameter exceeds the budget; raise maxIter")
    labels
  }

  /** INCREMENTAL connected components: fold a DELTA edge set into a
    * STORED labeling without re-solving untouched components — the
    * daily-drop form of [[connectedComponents]] (labels are the
    * component-minimum node id, so the incremental answer is
    * definitionally equal to the batch re-solve over base ∪ delta,
    * which is what keeps the batch oracle).
    *
    * Mechanics: the delta's endpoints name the AFFECTED stored
    * components (plus any brand-new nodes); the sub-problem is the
    * stored base edges inside those components (a base edge always
    * connects same-component nodes, so ONE semi-join on the src
    * endpoint selects them) unioned with the delta, re-solved by the
    * standard loop; every untouched component's labels stream straight
    * from the store. Cost ∝ affected-component size × rounds, not
    * corpus size — at 100 TB a daily drop touches a sliver of the
    * near-dup graph and the store pays one scan, no label ever
    * recomputed outside the blast radius (spec-pinned by a tamper
    * test: altering an untouched stored label surfaces in the output).
    */
  def connectedComponentsIncremental(storedLabels: DataFrame,
      baseEdges: DataFrame, deltaEdges: DataFrame,
      srcCol: String, dstCol: String): DataFrame = {
    val (affected, solved) = connectedComponentsDelta(storedLabels,
      baseEdges, deltaEdges, srcCol, dstCol)
    storedLabels.join(affected, Seq("component"), "left_anti")
      .select(col("node"), col("component"))
      .unionByName(solved.select(col("node"), col("component")))
  }

  /** The blast-radius core of [[connectedComponentsIncremental]],
    * exposed as a pair so DELTA consumers (the streamed keep-best
    * maintenance) can keep their per-batch writes region-sized:
    * `(affected stored components, re-solved labels for exactly the
    * touched region)`. The re-solved frame covers every node of every
    * touched component plus the delta's brand-new nodes — i.e. the
    * complete membership of every component whose answer can change —
    * and NOTHING else, so an operator that re-ranks per component
    * (cluster argmax) may re-rank only these rows and trust every
    * other component's stored answer.
    */
  private[graft] def connectedComponentsDelta(storedLabels: DataFrame,
      baseEdges: DataFrame, deltaEdges: DataFrame,
      srcCol: String, dstCol: String): (DataFrame, DataFrame) = {
    val deltaNodes = deltaEdges.select(col(srcCol).as("node"))
      .unionByName(deltaEdges.select(col(dstCol).as("node"))).distinct()
    val affected = storedLabels.join(deltaNodes, Seq("node"), "left_semi")
      .select(col("component")).distinct()
    val affectedNodes = storedLabels
      .join(affected, Seq("component"), "left_semi")
      .select(col("node"))
    val subBase = baseEdges
      .join(affectedNodes.withColumnRenamed("node", srcCol),
        Seq(srcCol), "left_semi")
      .select(col(srcCol), col(dstCol))
    val solved = connectedComponents(
      subBase.unionByName(deltaEdges.select(col(srcCol), col(dstCol))),
      srcCol, dstCol)
    (affected, solved)
  }

  /** DECREMENTAL connected components — the retraction dual of
    * [[connectedComponentsIncremental]]: remove a set of NODES (and
    * every edge incident to them) from a stored labeling without
    * re-solving untouched components. Only the components that
    * contained a removed node re-solve, on their surviving edges —
    * removal can SPLIT a component (the removed doc was the bridge) or
    * shift its minimum label, both of which the blast-radius re-solve
    * recovers. Nodes of a touched component that lose their last edge
    * drop out of the labeling entirely, so the result equals the batch
    * re-solve over the surviving edge set (the oracle).
    */
  def connectedComponentsDecremental(storedLabels: DataFrame,
      edges: DataFrame, removedNodes: DataFrame,
      srcCol: String, dstCol: String): DataFrame = {
    val removed = removedNodes.select(col("node"))
    val touched = storedLabels.join(removed, Seq("node"), "left_semi")
      .select(col("component")).distinct()
    val touchedNodes = storedLabels
      .join(touched, Seq("component"), "left_semi")
      .select(col("node"))
    // surviving edges of the blast radius: drop edges incident to a
    // removed node, keep only edges whose endpoints sat in a touched
    // component (src-side semi suffices — edges never cross components)
    val survEdges = edges.select(col(srcCol), col(dstCol))
      .join(removed.withColumnRenamed("node", srcCol), Seq(srcCol), "left_anti")
      .join(removed.withColumnRenamed("node", dstCol), Seq(dstCol), "left_anti")
    val blastEdges = survEdges
      .join(touchedNodes.withColumnRenamed("node", srcCol),
        Seq(srcCol), "left_semi")
    val solved = connectedComponents(blastEdges, srcCol, dstCol)
    storedLabels.join(touched, Seq("component"), "left_anti")
      .select(col("node"), col("component"))
      .unionByName(solved.select(col("node"), col("component")))
  }

  /** Driver union-find over a materialized (bounded) edge list:
    * O(E α(E)), path compression + union by min — component = minimum
    * node id, matching the distributed loop's labeling exactly.
    */
  private def unionFindLocal(spark: org.apache.spark.sql.SparkSession,
      edges: Array[(Long, Long)]): DataFrame = {
    import spark.implicits._
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrDefault(r, r) != r) r = parent.getOrDefault(r, r)
      var c = x
      while (parent.getOrDefault(c, c) != c) {
        val next = parent.getOrDefault(c, c); parent.put(c, r); c = next
      }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { // union by smaller root so component = min id
        if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    val nodes = edges.iterator.flatMap(e => Iterator(e._1, e._2)).toSet
    nodes.toSeq.sorted.map(n => (n, find(n))).toDF("node", "component")
  }

  /** Embedding-cosine near-dup pairs: a probe subset against the full
    * corpus, cosine ≥ threshold (rounded to 4dp for cross-engine
    * stability). The probe side is broadcast — the corpus never
    * shuffles; at 100 TB swap the probe filter for the LSH buckets of
    * [[Similarity.lshTopK]].
    */
  def embeddingNearDups(emb: DataFrame, probeMod: Int = 20,
      threshold: Double = 0.35): DataFrame = {
    val (members, repPairs) = embeddingRepPairs(emb, probeMod, threshold)
    // re-expand: every probe id of the probe-side group × every member
    // id of the candidate-side group, self pairs excluded — exactly
    // the uncollapsed pair set
    val probeIds = members.filter(col("is_probe"))
      .select(col("rep").as("p_rep"), col("vec_id").as("probe_id"))
    val memberIds = members
      .select(col("rep").as("c_rep"), col("vec_id").as("cand_id"))
    repPairs
      .join(probeIds, Seq("p_rep"))
      .join(memberIds, Seq("c_rep"))
      .filter(col("probe_id") =!= col("cand_id"))
      .select(col("probe_id"), col("cand_id"), col("cosine"))
  }

  /** The rep-grain core [[embeddingNearDups]] and
    * [[embeddingNearDupSpanningEdges]] share — the DISTINCT-VECTOR
    * COLLAPSE (the text operators' r11 exact-collapse law, applied to
    * the vector family): cosine is a pure function of the two
    * embeddings, so the probe × candidate dot stage runs at
    * DISTINCT-EMBEDDING grain; callers re-expand by twin-group
    * membership. The quadratic dot work divides by the square of the
    * replica rate: measured at the 100× replica (~sf10), the
    * uncollapsed form ran 500k cands × 25k broadcast probes = 12.5G
    * dots; collapsed it is 5k × 250 = 1.25M. NULL embeddings produced
    * NULL cosines and were threshold-filtered before; excluding them
    * up front is value-identical. Returns (members, repPairs):
    * members = (vec_id, is_probe, rep) with rep the group's MIN
    * member id; repPairs = (p_rep, c_rep, cosine ≥ threshold) at
    * rep grain, INCLUDING the p_rep == c_rep self pair that carries
    * intra-group twin connectivity (cosine exactly 1.0).
    */
  private def embeddingRepPairs(emb: DataFrame, probeMod: Int,
      threshold: Double): (DataFrame, DataFrame) = {
    val vecs = emb.filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding"),
        (col("vec_id") % probeMod === 0).as("is_probe"))
    val reps = vecs.groupBy(col("embedding"))
      .agg(min(col("vec_id")).as("rep"))
    val members = vecs.join(reps, Seq("embedding"))
      .select(col("vec_id"), col("is_probe"), col("rep"))
    // norms once per DISTINCT vector (not per row, not per pair)
    val repsScored = reps.select(col("rep"), col("embedding"),
      VF.normNative(col("embedding")).as("nrm"))
    // a group is on the probe side iff ANY member id is a probe (with
    // replica-offset ids preserving residues, whole groups are probe
    // or non-probe; mixed groups are still handled exactly)
    val probeRepIds = members.filter(col("is_probe"))
      .select(col("rep")).distinct()
    val probeReps = repsScored.join(probeRepIds, Seq("rep"))
      .select(col("rep").as("p_rep"), col("embedding").as("probe_emb"),
        col("nrm").as("probe_nrm"))
    val repPairs = repsScored
      .select(col("rep").as("c_rep"), col("embedding").as("cand_emb"),
        col("nrm").as("cand_nrm"))
      .crossJoin(broadcast(probeReps))
      .select(col("p_rep"), col("c_rep"),
        round(VF.dotNative(col("probe_emb"), col("cand_emb"))
          / (col("probe_nrm") * col("cand_nrm")), 4).as("cosine"))
      .filter(col("cosine") >= threshold)
    (members, repPairs)
  }

  /** COMPONENT-PRESERVING spanning edges for clustering consumers —
    * the fix for the quadratic the 1000× replica decade exposed: the
    * pair-grain re-expansion of [[embeddingNearDups]] materializes
    * |probes(g)| × |members(h)| rows per near-dup group pair, which is
    * quadratic in twin-group size (at ~sf100, 2k groups × 1000 twins
    * ⇒ ~10⁸⁺ pair rows — the edge materialization OOMed before the
    * solve began; one 1M-member boilerplate cluster at 100 TB would be
    * 10¹² pair edges). Connected components never needed the cliques —
    * any spanning subgraph on the SAME node set with the SAME
    * transitive closure yields identical components, and labels are
    * component-min ids, so the [[connectedComponents]] answer (and the
    * pair-grain DuckDB oracle) is unchanged row-for-row.
    *
    * Construction, O(|members| + |rep pairs|) edges: (a) a STAR
    * (rep → member) inside every group that appears in any rep pair —
    * the self rep pair (always present for probe groups, cosine 1.0)
    * is what makes probe-group stars legal, and a candidate-only group
    * star substitutes for the probe→every-member edges of the full
    * form; (b) one LINK (p_rep → c_rep) per cross rep pair. Node-set
    * parity holds at the edges too: a singleton probe group with no
    * cross pair contributes nothing in either form (the full form
    * excludes self pairs; the star of a singleton is empty).
    */
  def embeddingNearDupSpanningEdges(emb: DataFrame, probeMod: Int = 20,
      threshold: Double = 0.35): DataFrame = {
    val (members, repPairs) = embeddingRepPairs(emb, probeMod, threshold)
    val involved = repPairs.select(col("p_rep").as("rep"))
      .unionByName(repPairs.select(col("c_rep").as("rep")))
      .distinct()
    val stars = members.join(involved, Seq("rep"))
      .filter(col("vec_id") =!= col("rep"))
      .select(col("rep").as("src"), col("vec_id").as("dst"))
    val links = repPairs.filter(col("p_rep") =!= col("c_rep"))
      .select(col("p_rep").as("src"), col("c_rep").as("dst"))
    stars.unionByName(links)
  }

  /** ALL-corpus embedding near-dup pairs — the query a training
    * pipeline actually runs (no probe subset), without all-pairs:
    * candidates come from shared random-hyperplane buckets
    * (`numTables` tables × `bitsPerTable` sign bits, same construction
    * and seeded weights as [[Similarity.lshTopK]]), then only
    * candidates pay an exact cosine.
    *
    * Shuffle discipline: the bucket self-join moves (vec_id, table_id,
    * sig) rows — 16 bytes each, never the 64-float embedding; vectors
    * re-join by id only for the candidate-pair verify. Candidate
    * volume ≈ numTables × N² / 2^bits — size `bitsPerTable` ≈
    * log2(N / targetBucketSize) so buckets stay bounded as the corpus
    * grows (at a high near-dup threshold like 0.9 the per-bit
    * collision probability ≈ 0.86, so recall survives 8-16 bits; the
    * testdata's diffuse geometry at threshold 0.35 wants few bits and
    * more tables). Emits each unordered pair once (`a_id < b_id`),
    * ready for [[connectedComponents]].
    */
  /** bits = smallest k in [4, 16] with 64·2^k ≥ N (the integer form of
    * ceil(log2(N/64)) floored at 4, capped at 16) — the bucket-width
    * law (candidates ∝ N²/2^bits) keeps expected bucket size
    * ~constant as the corpus grows. Pure integer arithmetic so an
    * external replay computes the identical value (a float log2 can
    * flip a ceil at exact powers of two).
    */
  private[graft] def adaptiveBits(n: Long): Int = {
    var k = 4
    while (k < 16 && 64L * (1L << k) < n) k += 1
    k
  }

  /** Hot-band cap law from the same count probe as [[adaptiveBits]]:
    * the bucket-width law holds EXPECTED band occupancy near its
    * target, so any band whose actual occupancy exceeds a large
    * multiple of that target is boilerplate, not signal. F =
    * max(128, n/1024) — at least 2× the 64-row bucket target, growing
    * sublinearly so a legitimate heavy cluster on a mega-corpus is
    * not clipped while a band shared by >0.1% of the corpus (a
    * C(n,2) ≥ ~half-million-pair bomb per band) is.
    */
  private[graft] def bandCapFromCount(n: Long): Long =
    math.max(128L, n / 1024L)

  /** Maximum per-table bits the auto planner will ever use; fixes the
    * (table, bit) → plane-index layout (`table·MaxAutoBits + bit`) so
    * the weight matrix is one static object regardless of how many
    * bits the law picks — what lets an external replay embed the
    * whole matrix once and select (bits, tables) at run time.
    */
  private[graft] val MaxAutoBits: Int = 16

  /** Per-bit sign-agreement probability of a random hyperplane at a
    * given cosine (Goemans–Williamson, used for LSH by Charikar '02):
    * P[collide] = 1 − arccos(cos θ)/π. Rounded to 6dp so both engines
    * continue from the identical constant (acos differs by ulps
    * across math libraries).
    */
  private[graft] def pBit(threshold: Double): Double =
    BigDecimal(1.0 -
        math.acos(math.min(1.0, math.max(-1.0, threshold))) / math.Pi)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Recall-coupled table count: the smallest L with
    * 1 − (1 − p^bits)^L ≥ targetRecall, via L ≥ ln(1/(1−R))/p^bits
    * — the ADVICE coupling: as the bucket-width law grows `bits`, the
    * per-table collision probability p^bits decays geometrically, so
    * the table count must grow to hold recall; a fixed table count
    * silently collapses recall on large corpora (at threshold 0.35,
    * p ≈ 0.614, 16 bits ⇒ p^16 ≈ 4e-4 per table). The ratio is
    * rounded to 6dp before the ceil (same cross-engine guard as
    * everywhere else); `maxTables` caps the cost explosion of LOW
    * thresholds, where hyperplane LSH is inherently unselective and a
    * capped plan honestly under-recalls rather than melting the
    * cluster.
    */
  /** p^bits by repeated multiplication from the 6dp-rounded [[pBit]]:
    * a fixed sequence of correctly-rounded IEEE multiplies, so the
    * product is one well-defined double any replay can embed as a
    * literal. `math.pow` goes through libm, whose last ulp differs
    * across platforms — enough to straddle the 6dp rounding boundary
    * in [[adaptiveTables]] and flip the ceil.
    */
  private[graft] def pBitPow(threshold: Double, bits: Int): Double = {
    val p = pBit(threshold)
    (1 to bits).foldLeft(1.0)((acc, _) => acc * p)
  }

  private[operators] def adaptiveTables(bits: Int, threshold: Double,
      targetRecall: Double = 0.9, maxTables: Int = 32): Int = {
    val need = math.log(1.0 / (1.0 - targetRecall)) /
      pBitPow(threshold, bits)
    val rounded = BigDecimal(need)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    math.min(maxTables, math.max(1, math.ceil(rounded).toInt))
  }

  def embeddingNearDupsAll(emb: DataFrame, threshold: Double = 0.35,
      numTables: Int = 8, bitsPerTable: Int = -1): DataFrame = {
    // default bits follow the bucket-width law measured in SURVEY §6
    // (candidates ∝ N²/2^bits): bits ≈ log2(N / 64), floored at 4 and
    // capped at 16 — one count job, the same class of probe as
    // embeddingDim. Callers pin an explicit value when an external
    // replay (the oracle) must know the weight matrix statically.
    val bits =
      if (bitsPerTable > 0) bitsPerTable
      else adaptiveBits(emb.filter(col("embedding").isNotNull).count())
    val weights = VF.planeWeights(numTables * bits,
      Similarity.embeddingDim(emb))
    val perTable = (0 until numTables).map { tbl =>
      weights.slice(tbl * bits, (tbl + 1) * bits)
    }
    bucketedNearDups(emb, threshold, perTable)
  }

  /** Fully self-tuning all-corpus near-dup pairs: `bits` from the
    * integer bucket-width law ([[adaptiveBits]] — one count probe,
    * replayed by the oracle), `tables` from the recall coupling
    * ([[adaptiveTables]]). Plane layout is `table·MaxAutoBits + bit`
    * (each table owns a fixed 16-plane stripe and uses the first
    * `bits`), so the weight matrix is identical no matter what the
    * law picks — the oracle embeds the full `maxTables` × 16 matrix
    * as literals and selects (bits, tables) with the same integer
    * arithmetic. Gate-checked at every SF with DIFFERENT effective
    * bits (4 at 500 vectors, 5 at 2000), proving the law rather than
    * a pinned constant.
    */
  def embeddingNearDupsAuto(emb: DataFrame, threshold: Double = 0.35,
      targetRecall: Double = 0.9, maxTables: Int = 32): DataFrame = {
    val n = emb.filter(col("embedding").isNotNull).count()
    val bits = adaptiveBits(n)
    val tables = adaptiveTables(bits, threshold, targetRecall, maxTables)
    val weights = VF.planeWeights(maxTables * MaxAutoBits,
      Similarity.embeddingDim(emb))
    val perTable = (0 until tables).map { tbl =>
      weights.slice(tbl * MaxAutoBits, tbl * MaxAutoBits + bits)
    }
    bucketedNearDups(emb, threshold, perTable)
  }

  /** Incremental EMBEDDING near-dup: a NEW drop against the PERSISTED
    * corpus signature index ([[graft.sources.EmbLshIndexStore]]) — the
    * daily-drop form of [[embeddingNearDupsAll]], completing the
    * incremental tier for BOTH near-dup families (text minhash via
    * [[minhashNearDupsDelta]], embeddings here). The corpus is never
    * re-signed: its side of the bucket join is a parquet scan of the
    * stored (vec_id, table_id, sig) table; only the delta pays the
    * hyperplane kernel. Candidates = delta×stored bucket matches ∪
    * delta-internal matches, so the emitted pair set is IDENTICAL to
    * the batch run restricted to delta-involving pairs — the value
    * oracle. `bits` must equal the index's build parameter (the caller
    * derives both from the bucket-width law over the catalog total).
    *
    * 100 TB shape: the bucket join moves 12-byte sig rows, never the
    * 64-float vectors; with `broadcastDelta` the stored index scans
    * with no exchange. Vectors re-join by id only for the candidate
    * cosine verify. Emits (a_id, b_id, cosine) with `a_id < b_id`.
    */
  def embeddingNearDupsDelta(delta: DataFrame, all: DataFrame,
      storedSigs: DataFrame, bits: Int, threshold: Double = 0.35,
      broadcastDelta: Boolean = true): DataFrame = {
    val deltaSigs = graft.sources.EmbLshIndexStore.sigRows(delta, bits)
    val deltaSide =
      if (broadcastDelta) broadcast(deltaSigs) else deltaSigs
    val candCorpus = storedSigs
      .join(deltaSide.withColumnRenamed("vec_id", "delta_id"),
        Seq("table_id", "sig"))
      .filter(col("vec_id") =!= col("delta_id"))
      .select(least(col("vec_id"), col("delta_id")).as("a_id"),
        greatest(col("vec_id"), col("delta_id")).as("b_id"))
    // delta-internal candidates reuse the SAME broadcast as the
    // stored-index join — one broadcast exchange, one signing pass for
    // both candidate sources (the minhash twin's discipline)
    val candDelta = deltaSigs
      .select(col("vec_id").as("a_id"), col("table_id"), col("sig"))
      .join(deltaSide.select(col("vec_id").as("b_id"), col("table_id"),
        col("sig")), Seq("table_id", "sig"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
    val pairs = candCorpus.unionByName(candDelta)
      .dropDuplicates("a_id", "b_id")
    val scored = all.select(col("vec_id"), col("embedding"),
      VF.normNative(col("embedding")).as("nrm"))
    pairs
      .join(scored.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"),
        col("nrm").as("a_nrm")), Seq("a_id"))
      .join(scored.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"),
        col("nrm").as("b_nrm")), Seq("b_id"))
      .select(col("a_id"), col("b_id"),
        round(VF.dotNative(col("a_emb"), col("b_emb"))
          / (col("a_nrm") * col("b_nrm")), 4).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** SEMANTIC dedup — the SemDeDup shape (Abbas et al., "SemDeDup:
    * Data-efficient learning at web-scale through semantic
    * deduplication", arXiv:2303.09540): cluster the embedding space
    * with k-means, compute pairwise similarity ONLY within clusters,
    * and keep one representative per near-dup neighborhood. Candidate
    * generation here is the trained partition itself (the paper's
    * core trick), not hashing — the complement of the LSH-bucketed
    * [[embeddingNearDupsAll]] family. Emits the full per-vector audit:
    * `(vec_id, cluster, n_dups, kept)` where `n_dups` counts
    * within-cluster neighbors at `cosine ≥ threshold` (4 dp, the §5
    * device) and `kept` is the keep-lowest-id action
    * ([[exactDedup]]'s law lifted to the semantic neighborhood).
    *
    * 100 TB shape: k scales with the corpus (the paper's recipe —
    * cells stay ~constant size, so within-cell pair work is linear in
    * N at fixed cell width, never all-pairs), and BOTH stages run at
    * DISTINCT-VECTOR grain: assignment is a pure function of the
    * vector value ([[Similarity.kmeansAssign]] already collapses), and
    * the within-cell self-join here pairs only group REPS — replica
    * twins contribute `cosine == 1.0` self pairs analytically (twin
    * counts fold in as group sizes), so the quadratic divides by the
    * replica rate squared exactly as [[embeddingNearDups]]' rep-pair
    * law. The final member expansion is one join by rep id; vectors
    * never enter the pair exchange (ids + 4 dp cosines only).
    */
  def semanticDedup(emb: DataFrame, k: Int = 8, iters: Int = 3,
      threshold: Double = 0.35): DataFrame = {
    val vecs = emb.filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding"))
    // distinct-vector groups: rep = min member id, size = twin count
    val reps = vecs.groupBy(col("embedding"))
      .agg(min(col("vec_id")).as("rep"), count(lit(1)).as("n_members"))
    val members = vecs.join(reps.select(col("embedding"), col("rep")),
      Seq("embedding")).select(col("vec_id"), col("rep"))
    // cluster of a group = cluster of its rep (assignment is a pure
    // function of the vector value, so twins share it by construction).
    // Pinned: THREE consumers (both sides of the within-cluster pair
    // join and the group-stats spine) would otherwise each re-run the
    // trainer's final assignment round and the rep join — rep-grain
    // (distinct vectors), the grain the trainer already persists.
    val assign = org.apache.spark.sql.GraftInternal.pinRecomputable(
      Similarity.kmeansAssign(emb, k, iters)
        .select(col("vec_id").as("rep"), col("cluster"))
        .join(reps.select(col("rep"), col("embedding"), col("n_members")),
          Seq("rep"))
        .select(col("rep"), col("cluster"), col("n_members"),
          col("embedding"), VF.normNative(col("embedding")).as("nrm")))
    // within-cluster rep pairs ≥ threshold — the SemDeDup candidate set
    val a = assign.select(col("cluster"), col("rep").as("a_rep"),
      col("embedding").as("a_emb"), col("nrm").as("a_nrm"),
      col("n_members").as("a_n"))
    val b = assign.select(col("cluster"), col("rep").as("b_rep"),
      col("embedding").as("b_emb"), col("nrm").as("b_nrm"),
      col("n_members").as("b_n"))
    val repPairs = a.join(b, Seq("cluster"))
      .filter(col("a_rep") < col("b_rep"))
      .select(col("a_rep"), col("b_rep"), col("a_n"), col("b_n"),
        round(VF.dotNative(col("a_emb"), col("b_emb"))
          / (col("a_nrm") * col("b_nrm")), 4).as("cosine"))
      .filter(col("cosine") >= threshold)
    // rep-grain adjacency: for each group, total twin mass of adjacent
    // groups and the minimum adjacent rep id (the keep-min law needs
    // only the MIN over neighbor ids, and every group's min id IS its
    // rep)
    val adj = repPairs
      .select(col("a_rep").as("rep"), col("b_n").as("nbr_n"),
        col("b_rep").as("nbr_rep"))
      .unionByName(repPairs.select(col("b_rep").as("rep"),
        col("a_n").as("nbr_n"), col("a_rep").as("nbr_rep")))
      .groupBy(col("rep"))
      .agg(sum(col("nbr_n")).as("adj_members"),
        min(col("nbr_rep")).as("min_adj_rep"))
    val groupStats = assign.select(col("rep"), col("cluster"),
        col("n_members"))
      .join(adj, Seq("rep"), "left")
      .select(col("rep"), col("cluster"), col("n_members"),
        coalesce(col("adj_members"), lit(0L)).as("adj_members"),
        col("min_adj_rep"))
    // member expansion: twins are mutual near-dups (cosine exactly
    // 1.0 ≥ threshold), so n_dups = (own group size − 1) + adjacent
    // twin mass; kept ⇔ the member IS its group's min id AND no
    // adjacent group starts lower
    members.join(groupStats, Seq("rep"))
      .select(col("vec_id"), col("cluster"),
        (col("n_members") - 1 + col("adj_members")).as("n_dups"),
        (col("vec_id") === col("rep") &&
          (col("min_adj_rep").isNull || col("min_adj_rep") > col("vec_id")))
          .as("kept"))
  }

  /** Incremental SEMANTIC dedup — [[semanticDedup]]'s lifecycle form,
    * completing the incremental symmetry across all four near-dup
    * families (text minhash, embedding LSH, multimodal frame-sig, and
    * now the trained-partition family): a NEW drop routes against a
    * PERSISTED IVF index's frozen cells
    * ([[graft.sources.IvfIndexStore.assignCells]] — the append law,
    * read-only), candidates are the stored members of the drop's cells
    * plus the drop-internal same-cell pairs, and only candidates pay
    * an exact cosine.
    *
    * 100 TB shape — DISTINCT-VECTOR grain on BOTH sides (the
    * [[embeddingRepPairs]] law applied to the delta serve; the
    * raw-grain form was measured FILLING THE DISK at the 100× replica
    * decade — the stored×drop cell join spilled ~|drop∩cell| ×
    * |stored∩cell| candidate rows per cell, quadratic in the replica
    * rate): each side collapses to (cell, distinct embedding) reps,
    * only rep pairs pay a dot (work divides by the replica rate
    * SQUARED), and member pairs materialize by twin-group expansion —
    * bounded by the OUTPUT cardinality, which for a pair-grain answer
    * is an output fact, not a plan defect (the `mm_phash` boundary).
    * The drop's rep frame broadcasts; the stored side never
    * re-clusters. PRECONDITION: stored and delta id sets are disjoint
    * — overlap would double-emit a pair in both orientations. The
    * precondition is ENFORCED in-plan (an ids-only marker join raises
    * on the first overlapping vec_id), so a caller composing the split
    * wrongly fails loudly instead of corrupting pair counts. Emits
    * (a_id, b_id, cosine ≥ threshold) with `a_id < b_id`.
    */
  def semanticNearDupsDelta(all: DataFrame, storedCells: DataFrame,
      deltaCells: DataFrame, threshold: Double = 0.35): DataFrame = {
    val (cross, internal, sMembers, dMembers) =
      semanticDeltaRepPairs(all, storedCells, deltaCells, threshold)
    val crossPairs = cross
      .join(sMembers, Seq("s_rep"))
      .join(broadcast(dMembers.select(col("d_rep"), col("d_id"))),
        Seq("d_rep"))
      .select(least(col("s_id"), col("d_id")).as("a_id"),
        greatest(col("s_id"), col("d_id")).as("b_id"), col("cosine"))
    val internalPairs = internal
      .join(broadcast(dMembers.select(col("d_rep").as("a_rep"),
        col("d_id").as("a_mid"))), Seq("a_rep"))
      .join(broadcast(dMembers.select(col("d_rep").as("b_rep"),
        col("d_id").as("b_mid"))), Seq("b_rep"))
      .filter(col("a_rep") =!= col("b_rep") || col("a_mid") < col("b_mid"))
      .select(least(col("a_mid"), col("b_mid")).as("a_id"),
        greatest(col("a_mid"), col("b_mid")).as("b_id"), col("cosine"))
    crossPairs.unionByName(internalPairs)
  }

  /** The BOUNDED rep-grain serving form of [[semanticNearDupsDelta]] —
    * the `mm_phash_reps` device applied to the semantic delta: one row
    * per (twin-group, twin-group) near-dup with the exact member-pair
    * MULTIPLICITY instead of the expanded pair list, so the answer
    * cardinality is replica-INVARIANT (the pair expansion at the 1000×
    * replica decade is ~R² rows — an output fact the consumer opts
    * into, not a default). `Σ n_pairs` equals the pair-grain row count
    * exactly (spec-pinned). Emits (a_rep, b_rep, cosine, n_pairs) with
    * `a_rep <= b_rep`; a self row (`a_rep == b_rep`) is a delta twin
    * group's internal C(n,2) mass at cosine 1.0.
    */
  def semanticNearDupsDeltaReps(all: DataFrame, storedCells: DataFrame,
      deltaCells: DataFrame, threshold: Double = 0.35): DataFrame = {
    val (cross, internal, _, _) =
      semanticDeltaRepPairs(all, storedCells, deltaCells, threshold)
    val crossReps = cross
      .select(least(col("s_rep"), col("d_rep")).as("a_rep"),
        greatest(col("s_rep"), col("d_rep")).as("b_rep"), col("cosine"),
        (col("s_n") * col("d_n")).as("n_pairs"))
    val internalReps = internal
      .select(col("a_rep"), col("b_rep"), col("cosine"),
        when(col("a_rep") === col("b_rep"),
          (col("a_n") * (col("a_n") - 1) / 2).cast("long"))
          .otherwise(col("a_n") * col("b_n")).as("n_pairs"))
      .filter(col("n_pairs") > 0)
    crossReps.unionByName(internalReps)
  }

  /** Shared rep-grain core of the semantic delta family: both sides
    * collapse to (cell, distinct embedding) twin groups with
    * multiplicities, only rep pairs pay a dot. Returns (cross rep
    * pairs with s_n/d_n, delta-internal rep pairs with a_n/b_n
    * INCLUDING self pairs, stored members, delta members).
    */
  private def semanticDeltaRepPairs(all: DataFrame, storedCells: DataFrame,
      deltaCells: DataFrame, threshold: Double)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    // disjointness guard, IN-PLAN (ids-only, lazy): the documented
    // precondition — stored and delta id sets must not overlap — was
    // previously unchecked, and an overlapping vec_id would silently
    // double-emit pairs (and over-count n_pairs in the reps form).
    // The marker left-join reads only the two vec_id columns and
    // raises inside the plan on the first overlapping id.
    val deltaChecked = deltaCells
      .join(storedCells.select(col("vec_id"),
        lit(true).as("__stored_hit")), Seq("vec_id"), "left")
      .filter(when(col("__stored_hit"),
        raise_error(lit("semanticNearDupsDelta: stored and delta vec_id " +
          "sets overlap — pairs would double-emit"))).otherwise(lit(true)))
      .drop("__stored_hit")
    val scored = all.filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding"),
        VF.normNative(col("embedding")).as("nrm"))
    def repGrain(cells: DataFrame, side: String): (DataFrame, DataFrame) = {
      val rows = cells.select(col("vec_id"), col("cell"))
        .join(scored, Seq("vec_id"))
      val reps = rows.groupBy(col("cell"), col("embedding"))
        .agg(min(col("vec_id")).as(s"${side}_rep"),
          first(col("nrm")).as(s"${side}_nrm"),
          count(lit(1)).as(s"${side}_n"))
      val members = rows
        .join(reps.select(col("cell"), col("embedding"),
          col(s"${side}_rep")), Seq("cell", "embedding"))
        .select(col(s"${side}_rep"), col("vec_id").as(s"${side}_id"))
      (reps.select(col("cell"), col("embedding").as(s"${side}_emb"),
        col(s"${side}_rep"), col(s"${side}_nrm"), col(s"${side}_n")),
        members)
    }
    val (sReps, sMembers) = repGrain(storedCells, "s")
    val (dReps, dMembers) = repGrain(deltaChecked, "d")
    val cross = sReps.join(broadcast(dReps), Seq("cell"))
      .select(col("s_rep"), col("d_rep"), col("s_n"), col("d_n"),
        round(VF.dotNative(col("s_emb"), col("d_emb"))
          / (col("s_nrm") * col("d_nrm")), 4).as("cosine"))
      .filter(col("cosine") >= threshold)
    // delta-internal rep pairs INCLUDE the self pair (a twin group's
    // members are mutual near-dups at cosine exactly 1.0); each
    // unordered group pair appears once (a_rep <= b_rep)
    val dA = dReps.select(col("cell"), col("d_emb").as("a_emb"),
      col("d_rep").as("a_rep"), col("d_nrm").as("a_nrm"),
      col("d_n").as("a_n"))
    val dB = dReps.select(col("cell"), col("d_emb").as("b_emb"),
      col("d_rep").as("b_rep"), col("d_nrm").as("b_nrm"),
      col("d_n").as("b_n"))
    val internal = dA.join(broadcast(dB), Seq("cell"))
      .filter(col("a_rep") <= col("b_rep"))
      .select(col("a_rep"), col("b_rep"), col("a_n"), col("b_n"),
        round(VF.dotNative(col("a_emb"), col("b_emb"))
          / (col("a_nrm") * col("b_nrm")), 4).as("cosine"))
      .filter(col("cosine") >= threshold)
    (cross, internal, sMembers, dMembers)
  }

  /** Shared banded-LSH near-dup pipeline: per-table sign signatures,
    * ids-only bucket self-join, exact-cosine verify on candidates.
    * Shuffle discipline: the bucket self-join moves (vec_id, table_id,
    * sig) rows — 16 bytes each, never the 64-float embedding; vectors
    * re-join by id only for the candidate-pair verify. Emits each
    * unordered pair once (`a_id < b_id`).
    */
  private def bucketedNearDups(emb: DataFrame, threshold: Double,
      perTableWeights: Seq[Array[Array[Float]]]): DataFrame = {
    val perTable = perTableWeights.zipWithIndex.map { case (w, tbl) =>
      struct(lit(tbl).as("table_id"), VF.hyperplaneSig(col("embedding"), w).as("sig"))
    }
    val sigs = emb
      .select(col("vec_id"), explode(array(perTable: _*)).as("bucket"))
      .select(col("vec_id"), col("bucket.table_id").as("table_id"),
        col("bucket.sig").as("sig"))
    val pairs = sigs.select(col("vec_id").as("a_id"), col("table_id"), col("sig"))
      .join(sigs.select(col("vec_id").as("b_id"), col("table_id"), col("sig")),
        Seq("table_id", "sig"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
      .dropDuplicates("a_id", "b_id")
    val scored = emb.select(col("vec_id"), col("embedding"),
      VF.normNative(col("embedding")).as("nrm"))
    pairs
      .join(scored.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"),
        col("nrm").as("a_nrm")), Seq("a_id"))
      .join(scored.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"),
        col("nrm").as("b_nrm")), Seq("b_id"))
      .select(col("a_id"), col("b_id"),
        round(VF.dotNative(col("a_emb"), col("b_emb"))
          / (col("a_nrm") * col("b_nrm")), 4).as("cosine"))
      .filter(col("cosine") >= threshold)
  }
}
