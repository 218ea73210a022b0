package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-wide token statistics — the "what is my training data made
  * of" pass every large-scale text pipeline runs before filtering.
  *
  * Classic wordcount shape, written for the 100 TB case:
  *  - tokens explode inside the scan stage (codegen'd `split` +
  *    `explode`, no UDF);
  *  - the document-frequency count is a TWO-LEVEL aggregation —
  *    groupBy (token, doc_id) then groupBy token — instead of
  *    `count(DISTINCT doc_id)` alongside the total: mixing a distinct
  *    with plain aggs triggers Catalyst's Expand rewrite, which
  *    doubles the shuffled row count (measured, see SURVEY §6); the
  *    two-level form partial-aggregates both hops;
  *  - top-N is a total order (`n_total` desc, token asc) so the cut
  *    is deterministic under ties.
  */
object CorpusStats {

  /** The composite text-quality score — ONE law shared by the
    * `text_quality` report, the `dedup_keep_best` canonicalization
    * rule, and the corpus pipeline's clean stage: 0.4·stopword-ratio
    * + 0.3·(1 − punctuation-ratio) + 0.3·min(1, tokens/100), rounded
    * to 4 dp. Pure per-row projection — no shuffle, codegen-friendly.
    */
  def qualityScore(c: Column): Column = {
    import graft.functions.{TextFunctions => TF}
    val punctRatio = round(
      regexp_count(c, lit("[^A-Za-z0-9\\s]")).cast("double")
        / length(c).cast("double"), 4)
    val stopRatio = TF.stopRatio(c, TF.stopwordProfiles("en"))
    val lenScore = least(lit(1.0), TF.wsTokenCount(c).cast("double") / lit(100.0))
    round(lit(0.4) * stopRatio + lit(0.3) * (lit(1.0) - punctRatio)
      + lit(0.3) * lenScore, 4)
  }

  /** Per-token corpus stats: in how many documents (`n_docs`) and how
    * often overall (`n_total`) each whitespace token occurs; the
    * `topN` most frequent.
    */
  def termFrequencies(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", topN: Int = 100): DataFrame = {
    val toks = graft.functions.TextFunctions.explodedTokens(docs, textCol, Seq(idCol))
    toks.groupBy(col("token"), col(idCol))
      .agg(count(lit(1)).as("n_in_doc"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_in_doc")).as("n_total"))
      .orderBy(col("n_total").desc, col("token"))
      .limit(topN)
  }

  /** Deterministic train/valid/test assignment by CONTENT hash: the
    * first 32 bits of md5(text) pick a bucket in 0..99, buckets map
    * 98/1/1 to train/valid/test. Hashing the content (not the id)
    * makes the split stable under re-ingest/renumbering AND sends
    * byte-identical duplicates to the same split — the standard guard
    * against near-duplicate train→test leakage in LLM corpora (exact
    * twins can never straddle the boundary).
    *
    * Pure per-row projection: zero shuffle at any scale, and md5 is
    * bit-identical across engines so the oracle checks every
    * assignment.
    */
  def splitAssign(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val bucket = splitBucket(col(textCol)).as("bucket")
    docs.select(col(idCol), bucket)
      .withColumn("split",
        when(col("bucket") < 98, "train")
          .when(col("bucket") === 98, "valid")
          .when(col("bucket") === 99, "test"))
    // null text -> null bucket -> null split: degenerate rows surface
    // for upstream filtering instead of silently skewing the 1% test cut
  }

  /** The 32-bit md5-prefix content hash behind every deterministic
    * content-keyed decision here ([[splitAssign]], [[mixtureSample]]) —
    * one definition so derived choices can never disagree. Matches the
    * oracle idiom `('0x'||substr(md5(text),1,8))::BIGINT`.
    */
  def contentHash32(text: Column): Column =
    conv(substring(md5(text), 1, 8), 16, 10).cast("long")

  /** The content-hash 0..99 bucket behind [[splitAssign]] (and the
    * train/test scoping of [[contamination]]) — one definition so the
    * split and everything derived from it can never disagree.
    */
  def splitBucket(text: Column): Column = contentHash32(text) % 100

  /** Train→test contamination audit: for every TEST-split document,
    * the share of its word `n`-gram shingles that also occur anywhere
    * in the TRAIN split — the decontamination check run before
    * trusting held-out evaluation on a corpus assembled with
    * [[splitAssign]] (exact duplicates can't straddle the split by
    * construction, so what this catches is PARTIAL overlap: shared
    * boilerplate, near-duplicates, quoted passages).
    *
    * Scale shape: shingles explode inside the scan stage; the train
    * shingle set dedups with map-side partial aggregation (it is far
    * too large to broadcast — the join shuffles on the shingle, and
    * only the 1%-sized test side rides through to the per-document
    * aggregate). The two sides scan the corpus once EACH (their bucket
    * filters and dedup keys differ, so no exchange is shared) — the
    * honest cost of a two-population audit; both scans prune to
    * (id, text). Shingles cap at `maxShingles` per document
    * (pre-explode slice, mirrored verbatim in the oracle's
    * `range(0, 2000)`) so one pathological document can't explode
    * unboundedly.
    */
  def contamination(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", n: Int = 4,
      maxShingles: Int = 2000): DataFrame = {
    val sh = docs
      .select(col(idCol), splitBucket(col(textCol)).as("bucket"),
        explode(slice(
          graft.functions.TextFunctions.wordShingles(col(textCol), n),
          1, maxShingles)).as("shingle"))
    val trainSh = sh.filter(col("bucket") < 98)
      .select(col("shingle")).distinct()
      .withColumn("hit", lit(1))
    val testSh = sh.filter(col("bucket") === 99)
      .select(col(idCol), col("shingle")).distinct()
    testSh.join(trainSh, Seq("shingle"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(coalesce(col("hit"), lit(0))).cast("long").as("n_contaminated"),
        round(sum(coalesce(col("hit"), lit(0))).cast("double") / count(lit(1)), 4)
          .as("contamination"))
  }

  /** The decontamination ACTION behind the [[contamination]] audit:
    * the TRAIN split with every document sharing at least one word
    * n-gram shingle with ANY test-split document removed — the
    * train-side benchmark-leakage scrub a training pipeline runs
    * after measuring the audit (GPT-3 appendix C's n-gram overlap
    * removal, run train-side).
    *
    * Scale shape: shingles reduce to 60-bit md5-prefix keys via the
    * codegen `graft_shingle_hash60` kernel BEFORE the exchange —
    * shingle strings never shuffle (the [[dupSpans]] discipline); the
    * test-shingle set is test-split-sized (≈1% of the corpus) so the
    * semi join broadcasts, and the final anti join is a doc-id frame.
    */
  def decontaminate(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", n: Int = 4,
      maxShingles: Int = 2000): DataFrame = {
    val keyed = docs.select(col(idCol),
      splitBucket(col(textCol)).as("bucket"),
      explode(call_function("graft_shingle_hash60",
        graft.functions.TextFunctions.words(col(textCol)),
        lit(n), lit(maxShingles))).as("h"))
    val testSh = keyed.filter(col("bucket") === 99)
      .select(col("h")).distinct()
    val contaminated = keyed.filter(col("bucket") < 98)
      .join(testSh, Seq("h"), "left_semi")
      .select(col(idCol)).distinct()
    docs.filter(splitBucket(col(textCol)) < 98)
      .join(contaminated, Seq(idCol), "left_anti")
  }

  /** Within-document repetition signals — the Gopher-style "is this
    * page one phrase pasted fifty times" filter: the duplicate-word
    * fraction and the share of word-bigram slots taken by the single
    * most repeated bigram.
    *
    * Scale shape: the word-level ratios are a pure per-row projection
    * (`size`/`array_distinct` over the split array — zero shuffle);
    * only the bigram mode needs an explode + two-level groupBy, and its
    * exchange carries (doc, bigram) pairs with map-side combine. The
    * two branches re-join at the DOCUMENT grain, so the join is
    * doc-count-sized no matter how long the documents are. All ratios
    * divide exact integers — bit-identical across engines, no rounding.
    */
  /** Cross-corpus duplicated-span audit: for every document, the share
    * of its word `n`-gram shingles that also occur in at least one
    * OTHER document — the "how much of this page is boilerplate /
    * copied elsewhere" signal measured before span-level dedup (C4
    * removes repeated three-sentence spans; RefinedWeb reports exactly
    * this duplicate-fraction per page). `max_span_docs` is the spread
    * of the doc's most-copied span. Complements [[repetition]]
    * (within-doc) and [[contamination]] (train→test): this one is
    * corpus↔corpus.
    *
    * Scale shape: shingles are reduced to constant-width 60-bit
    * md5-prefix keys BEFORE any exchange — the shingle strings never
    * shuffle; the spread count and the audit join both partition on
    * that key (identical subplans, so the exchange is reused), and
    * per-doc contribution is capped at `maxShingles` like
    * [[contamination]] so one pathological page cannot skew a
    * partition. The oracle replays the same hashed keys, so a
    * (cryptographically negligible) collision cannot silently diverge
    * the engines.
    */
  def dupSpans(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", n: Int = 4,
      maxShingles: Int = 2000): DataFrame = {
    // DISTINCT-TEXT collapse (the exact-collapse law): shingle sets are
    // pure functions of the text, so the explode, the spread aggregate,
    // and the per-doc rollup all run at distinct-text grain; the TRUE
    // doc-spread of a shingle is the sum of the holding groups' sizes,
    // and every member inherits its rep's rollup row verbatim (all four
    // output columns depend only on the text and the corpus spread).
    // On a replica-dense corpus this keeps the exploded shingle volume
    // ∝ distinct texts instead of ∝ corpus rows — value-identical.
    val named = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), col(textCol).as("text"))
    val (docRep, sizes) = Dedup.textRepElection(named)
    val repDocs = named
      .join(sizes.select(col("rep").as("doc_id")), Seq("doc_id"), "left_semi")
    // the codegen'd kernel hashes each shingle in one pass over the
    // token array (never materializing shingle strings in the row) —
    // element i is the first 60 bits of md5 of the i-th n-gram, the
    // exact value the oracle's substr(md5(shingle),1,15) computes
    val sh = repDocs
      .select(col("doc_id").as("rep"),
        explode(call_function("graft_shingle_hash60",
          graft.functions.TextFunctions.words(col("text")),
          lit(n), lit(maxShingles))).as("h"))
      .distinct()
    val spread = sh.join(sizes, Seq("rep"))
      .groupBy(col("h")).agg(sum(col("n_copies")).as("n_docs"))
    val perRep = sh.join(spread, Seq("h"))
      .groupBy(col("rep"))
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("n_docs") >= 2, 1).otherwise(0)).cast("long").as("n_dup"),
        round(sum(when(col("n_docs") >= 2, 1).otherwise(0)).cast("double")
          / count(lit(1)), 4).as("dup_frac"),
        max(col("n_docs")).as("max_span_docs"))
    docRep.join(perRep, Seq("rep"))
      .select(col("doc_id").as(idCol), col("n_shingles"), col("n_dup"),
        col("dup_frac"), col("max_span_docs"))
  }

  /** The MATERIALIZING twin of [[dupSpans]] — C4's span-level dedup
    * action: every corpus-duplicated word `n`-gram is removed from all
    * documents EXCEPT its canonical occurrence (the lowest doc_id that
    * contains it); a word is dropped when any removal window covers it.
    * Emits the cleaned text plus removal counts.
    *
    * Scale shape: position-grain shingle hashes come from the same
    * one-pass codegen kernel (60-bit keys, strings never shuffle);
    * the spread/canon aggregate and the coverage join both partition
    * on the hash; coverage positions collapse per doc (≤ maxShingles·n
    * ints) and the final rebuild is a per-row array filter — the
    * corpus text itself crosses no exchange except the final per-doc
    * removed-position set join.
    */
  def dupSpansClean(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", n: Int = 4,
      maxShingles: Int = 2000): DataFrame = {
    // DISTINCT-TEXT collapse. The canonical-occurrence law decomposes
    // exactly: canon(h) = min doc_id holding h = min REP over the
    // groups holding h (every group's min id is its rep), and the true
    // spread is the sum of holding-group sizes. So the position-grain
    // pipeline (posexplode, spread join, window-coverage explode) runs
    // over distinct texts only, and the member rows reconstruct
    // arithmetically: a NON-rep member of a twin group (c ≥ 2) has
    // every shingle corpus-duplicated (its twin holds it) and is never
    // the canon (canons are reps) — every word is covered, the clean
    // text is empty. A rep keeps exactly the windows whose canon is
    // itself. Value-identical; the doc-grain oracle is untouched.
    val named = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), col(textCol).as("text"))
    val (docRep, sizes) = Dedup.textRepElection(named)
    val w = graft.functions.TextFunctions.words(col("text"))
    // rep-grain and consumed three times (position explode, the rep
    // rebuild, the member expansion) — materialize once
    // (pinRecomputable: eager + executor-loss-safe) or each consumer
    // replays the corpus semi-scan and the shingle kernel
    val base = org.apache.spark.sql.GraftInternal.pinRecomputable(named
      .join(sizes.select(col("rep").as("doc_id")), Seq("doc_id"), "left_semi")
      .select(col("doc_id").as(idCol), w.as("w"),
        call_function("graft_shingle_hash60", w, lit(n), lit(maxShingles)).as("hs")))
    val pos = base.select(col(idCol), size(col("w")).as("nw"),
      posexplode(col("hs")).as(Seq("i", "h")))
    val spread = pos.select(col(idCol).as("rep"), col("h")).distinct()
      .join(sizes, Seq("rep"))
      .groupBy(col("h"))
      .agg(sum(col("n_copies")).as("n_docs"), min(col("rep")).as("canon"))
    val removed = pos.join(spread, Seq("h"))
      .filter(col("n_docs") >= 2 && col(idCol) =!= col("canon"))
      // window i covers words [i, min(i+n, nw)) — the tail clamp only
      // bites on docs shorter than n (their single short shingle)
      .select(col(idCol), explode(sequence(col("i"),
        least(col("i") + lit(n - 1), col("nw") - 1))).as("p"))
      .distinct()
      .groupBy(col(idCol)).agg(collect_set(col("p")).as("rm"))
    val repOut = base.join(removed, Seq(idCol), "left")
      .select(col(idCol), col("w"),
        coalesce(col("rm"), array().cast("array<int>")).as("rm"))
      .select(col(idCol),
        size(col("w")).as("n_words"),
        filter(col("w"), (_, i) => !array_contains(col("rm"), i)).as("kept"))
      .select(col(idCol), col("n_words"),
        (col("n_words") - size(col("kept"))).cast("long").as("n_removed"),
        concat_ws(" ", col("kept")).as("clean_text"))
    // non-rep members: every capped window is removed, so coverage is
    // words [0, min(nw, maxShingles+n-1)) — full removal unless the doc
    // out-runs the maxShingles cap, in which case the uncovered tail
    // survives exactly as it does in the raw-grain form
    val covLen = lit(maxShingles + n - 1)
    val memberOut = docRep.filter(col("doc_id") =!= col("rep"))
      .join(base.select(col(idCol).as("rep"), col("w")), Seq("rep"))
      .select(col("doc_id").as(idCol),
        size(col("w")).as("n_words"), col("w"))
      .select(col(idCol), col("n_words"),
        least(col("n_words"), covLen).cast("long").as("n_removed"),
        when(col("n_words") <= covLen, lit(""))
          .otherwise(concat_ws(" ",
            slice(col("w"), covLen + 1, col("n_words") - covLen)))
          .as("clean_text"))
    repOut.unionByName(memberOut)
  }

  def repetition(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val w = graft.functions.TextFunctions.words(col(textCol))
    val base = docs.select(
      col(idCol),
      size(w).cast("bigint").as("n_words"),
      size(array_distinct(w)).cast("bigint").as("n_distinct"))
    val top = docs
      .select(col(idCol),
        explode(graft.functions.TextFunctions.wordShingles(col(textCol), 2))
          .as("bigram"))
      .groupBy(col(idCol), col("bigram"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col(idCol))
      .agg(max(col("cnt")).as("top_bigram_n"))
    base.join(top, Seq(idCol), "left")
      .select(
        col(idCol), col("n_words"),
        ((col("n_words") - col("n_distinct")).cast("double") / col("n_words"))
          .as("dup_word_ratio"),
        // single-word docs emit one degenerate shingle (count 1) on the
        // Spark side and no bigram row in the oracle: coalesce keeps
        // the two engines on the same value (ratio = 1/1)
        (coalesce(col("top_bigram_n"), lit(1L)).cast("double") /
          greatest(col("n_words") - 1, lit(1L))).as("top_bigram_ratio"))
  }

  /** Gopher-rule quality gate: per-document hygiene flags (word count
    * in range, mean word length in range, at least two distinct common
    * stopwords present) and the combined keep decision — the published
    * heuristic family for cutting machine-generated or boilerplate
    * pages from web-scale corpora.
    *
    * Pure per-row projection over the split array (higher-order
    * `aggregate`/`transform`/`array_intersect`, all codegen'd): zero
    * shuffle at any scale. Mean word length divides two exact integer
    * totals, so both engines agree bit-for-bit.
    */
  def gopherQuality(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", minWords: Int = 30, maxWords: Int = 80,
      minMeanLen: Double = 4.0, maxMeanLen: Double = 5.0): DataFrame = {
    val stops = Seq("the", "a", "and", "of", "to", "in", "is", "on",
      "for", "with")
    val w = graft.functions.TextFunctions.words(col(textCol))
    docs.select(col(idCol), w.as("w"))
      .select(
        col(idCol),
        size(col("w")).cast("bigint").as("n_words"),
        (aggregate(transform(col("w"), x => length(x)), lit(0L),
          (acc, x) => acc + x).cast("double") / size(col("w")))
          .as("mean_word_len"),
        size(array_intersect(array_distinct(col("w")),
          array(stops.map(lit): _*))).cast("bigint").as("n_stopwords"))
      .withColumn("flag_words",
        col("n_words") >= minWords && col("n_words") <= maxWords)
      .withColumn("flag_word_len",
        col("mean_word_len") >= minMeanLen && col("mean_word_len") <= maxMeanLen)
      .withColumn("flag_stops", col("n_stopwords") >= 2)
      .withColumn("keep",
        col("flag_words") && col("flag_word_len") && col("flag_stops"))
  }

  /** Per-document TF-IDF top terms — the classic "what is this document
    * about" weighting, emitted as the `topK` highest-scoring terms per
    * document.
    *
    * Scale shape: term frequencies aggregate at (doc, token) grain with
    * map-side combine; document frequencies derive from THAT output
    * (token grain — never a second corpus scan) and join back on the
    * token; the corpus size N rides along as a broadcast 1-row
    * aggregate. The final per-document top-K runs through the NATIVE
    * TopK Catalyst plan (string tie-break) when the id column is a
    * BIGINT: partial per-partition heaps mean only k rows per document
    * cross the exchange, and no per-group sort ever materializes —
    * O(n log k) versus the window-rank alternative's full (doc, token)
    * sort. Non-long ids (URL/hash-keyed corpora) keep the window-rank
    * path, so the public contract is unchanged. Scores round to 4dp
    * before ranking — `ln` is the one operation where engines may
    * differ in the last ulp (SURVEY §5) — and ties break on the token
    * for a total order.
    */
  def tfidf(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", topK: Int = 3): DataFrame = {
    val toks = graft.functions.TextFunctions.explodedTokens(docs, textCol, Seq(idCol))
    val tf = toks.groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, Seq("token"))
      .crossJoin(broadcast(n))
      .withColumn("tfidf", round(
        col("tf").cast("double") *
          log(col("n_docs").cast("double") / col("df")), 4))
      .select(col(idCol), col("token"), col("tf"), col("tfidf"))
    val idIsLong = scored.schema(idCol).dataType ==
      org.apache.spark.sql.types.LongType
    val ranked =
      if (idIsLong)
        graft.plans.TopKPlanner.perGroup(scored, idCol, "tfidf", "token", topK)
          .withColumn("rnk", col("rnk").cast("long"))
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col(idCol)).orderBy(col("tfidf").desc, col("token"))
        scored.withColumn("rnk", row_number().over(w).cast("long"))
          .filter(col("rnk") <= topK)
      }
    ranked.select(col(idCol), col("rnk"), col("token"), col("tf"), col("tfidf"))
  }

  /** Corpus mixture datasheet: per (lang, source) slice, document and
    * token counts plus each slice's share of the corpus — the table
    * that drives sampling weights when assembling a training mix.
    *
    * Scale shape: one map-side-combined aggregate over the corpus
    * (token counts are a per-row `size(split(...))` projection, so the
    * exchange carries one partial row per slice, not per token); the
    * corpus totals come back as a broadcast 1-row aggregate OF THE
    * SLICE FRAME (never a second corpus scan). Shares divide exact
    * integer counts — bit-identical across engines.
    */
  def mixture(docs: DataFrame, textCol: String = "text",
      langCol: String = "lang", sourceCol: String = "source"): DataFrame =
    mixtureFromSlices(sliceCounts(docs, 1, textCol, langCol, sourceCol),
      langCol, sourceCol)

  /** The datasheet's per-slice count feed — one map-side-combined
    * aggregate over the docs, SIGNED so the frame doubles as the
    * [[graft.sources.MixtureStore]] delta layer (sign = -1 emits the
    * retraction delta; counts are integers, so the group is exact).
    */
  def sliceCounts(docs: DataFrame, sign: Int = 1, textCol: String = "text",
      langCol: String = "lang", sourceCol: String = "source"): DataFrame =
    docs.groupBy(col(langCol), col(sourceCol))
      .agg(
        (count(lit(1)) * sign).as("n_docs"),
        (sum(graft.functions.TextFunctions.wsTokenCount(col(textCol)))
          .cast("long") * sign).as("n_tokens"))

  /** The share law over a slice-count frame — shared verbatim by the
    * fresh-scan path and the store-served path, so "served datasheet ==
    * fresh datasheet" reduces to the folded counts being equal. The
    * corpus totals are a broadcast 1-row aggregate OF THE SLICE FRAME
    * (never a second corpus scan).
    */
  def mixtureFromSlices(slices: DataFrame, langCol: String = "lang",
      sourceCol: String = "source"): DataFrame = {
    val totals = slices.agg(
      sum(col("n_docs")).cast("long").as("t_docs"),
      sum(col("n_tokens")).cast("long").as("t_tokens"))
    slices.crossJoin(broadcast(totals))
      .select(col(langCol), col(sourceCol), col("n_docs"), col("n_tokens"),
        (col("n_docs").cast("double") / col("t_docs")).as("doc_share"),
        (col("n_tokens").cast("double") / col("t_tokens")).as("token_share"))
  }

  /** Mixture DRIFT dashboard — the datasheet twin of the PCA store's
    * drift monitor: per language, the REFERENCE doc share served from
    * a persisted slice-count frame ([[graft.sources.MixtureStore]]
    * fold — the reference corpus is never rescanned) against a fresh
    * drop's share, the 6-dp absolute shift, and a threshold flag.
    * Langs-bounded output; the only data-sized work is the drop's one
    * count aggregate. Shares divide exact integer counts, so both
    * engines compare bit-identical doubles against the threshold.
    */
  def mixtureDrift(refSlices: DataFrame, current: DataFrame,
      threshold: Double = 0.02, langCol: String = "lang"): DataFrame = {
    val ref = refSlices.groupBy(col(langCol))
      .agg(sum(col("n_docs")).as("nd"))
    val tot = ref.agg(sum(col("nd")).cast("long").as("td"))
    val refSh = ref.crossJoin(broadcast(tot))
      .select(col(langCol),
        (col("nd").cast("double") / col("td")).as("share_ref"))
    val cur = current.groupBy(col(langCol)).agg(count(lit(1)).as("nc"))
    val ctot = cur.agg(sum(col("nc")).cast("long").as("tc"))
    val curSh = cur.crossJoin(broadcast(ctot))
      .select(col(langCol),
        (col("nc").cast("double") / col("tc")).as("share_cur"))
    // FULL outer join (null-safe on the key, like every lang join
    // here): a language absent from the drop reads share_cur 0 (the
    // "your drop lost a language" alarm) AND a language absent from
    // the reference reads share_ref 0 (the "novel language arrived"
    // alarm) — both directions of the loudest drift must surface as
    // rows, never vanish from the dashboard
    refSh.withColumnRenamed(langCol, "r_lang")
      .join(curSh.withColumnRenamed(langCol, "c_lang"),
        col("r_lang") <=> col("c_lang"), "full")
      .select(coalesce(col("r_lang"), col("c_lang")).as(langCol),
        coalesce(col("share_ref"), lit(0.0)).as("share_ref"),
        coalesce(col("share_cur"), lit(0.0)).as("share_cur"))
      .withColumn("abs_shift",
        round(abs(col("share_cur") - col("share_ref")), 6))
      .withColumn("drifted", col("abs_shift") > threshold)
  }

  /** Mixture REBALANCE — the ACT half of [[mixtureDrift]] (the way
    * `knn_ivf_retrain` acts on recall drift and `text_bpe_retrain` on
    * compression drift): thin the CURRENT drop back toward the
    * REFERENCE language mix served from the persisted count store.
    * Per language the keep rate is `min(1, share_ref / share_cur)` —
    * downsample-only normalization (overrepresented languages thin,
    * underrepresented ones keep everything; upsampling would replicate
    * rows, a policy decision left upstream), and a language ABSENT
    * from the reference keeps nothing (rate 0 — it is not in the mix).
    * Kept-vs-dropped is the content-hash law [[mixtureSample]] uses:
    * `md5_32(text) < floor(rate · 2³²)` — deterministic, replayable,
    * and stable under re-runs (the same doc always makes the same
    * cut). Rates divide exact integer counts, so both engines compare
    * bit-identical doubles; the hash cut is integer-exact.
    *
    * Scale shape: two langs-bounded count aggregates, a broadcast
    * rate join, one filter — a single data-sized pass over the drop.
    */
  def mixtureRebalance(refSlices: DataFrame, current: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      langCol: String = "lang"): DataFrame = {
    val ref = refSlices.groupBy(col(langCol)).agg(sum(col("n_docs")).as("nd"))
    val tot = ref.agg(sum(col("nd")).cast("long").as("td"))
    val refSh = ref.crossJoin(broadcast(tot))
      .select(col(langCol).as("r_lang"),
        (col("nd").cast("double") / col("td")).as("share_ref"))
    val cur = current.groupBy(col(langCol)).agg(count(lit(1)).as("nc"))
    val ctot = cur.agg(sum(col("nc")).cast("long").as("tc"))
    val curSh = cur.crossJoin(broadcast(ctot))
      .select(col(langCol).as("c_lang"),
        (col("nc").cast("double") / col("tc")).as("share_cur"))
    val rates = curSh.join(refSh, col("c_lang") <=> col("r_lang"), "left")
      .select(col("c_lang"),
        round(least(lit(1.0),
          coalesce(col("share_ref"), lit(0.0)) / col("share_cur")), 6)
          .as("keep_rate"))
    current.join(broadcast(rates), col(langCol) <=> col("c_lang"))
      .filter(contentHash32(col(textCol)) <
        floor(col("keep_rate") * lit(4294967296.0)))
      .select(col(idCol), col(langCol), col("keep_rate"))
  }

  /** Token-stream packing manifest: concatenate the corpus in doc-id
    * order and cut it into fixed-capacity context windows — the
    * GPT-style pre-training packing layout. Emits, per document, its
    * global token offset and the first/last window it lands in
    * (documents may straddle a boundary; that is the semantics of
    * stream packing).
    *
    * Scale shape: a GLOBAL running sum ordered by doc id would funnel
    * the corpus through one window partition, so the prefix sum runs
    * two-level — per-range-bucket cumulative sums in parallel (window
    * partitioned by `floor(id / bucketWidth)`), plus a bucket-grain
    * prefix over the bucket-totals frame that broadcasts back. The
    * only unpartitioned window in the plan runs over |ids|/bucketWidth
    * rows — at the default width of 2^20 that is ~10^4 rows for a
    * 10^10-document corpus, KBs to broadcast. All arithmetic is
    * integer-exact.
    *
    * NULL-text documents have no defined stream position and are
    * EXCLUDED from the manifest (surface them upstream, as
    * [[splitAssign]] does) — mirrored by the oracle's
    * `WHERE text IS NOT NULL`.
    */
  def packManifest(docs: DataFrame, capacity: Int = 256,
      bucketWidth: Long = 1L << 20, textCol: String = "text",
      idCol: String = "doc_id",
      tokenCount: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        graft.functions.TextFunctions.wsTokenCount): DataFrame = {
    val sized = docs
      .select(col(idCol), tokenCount(col(textCol)).as("n_tokens"))
      .filter(col("n_tokens").isNotNull)
      .withColumn("bucket", floor(col(idCol) / bucketWidth))
    // explicit ROWS frame: the default RANGE frame would double-count
    // peer rows if ids ever duplicated
    val inBucket = Window.partitionBy(col("bucket")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = sized.withColumn("local_end", sum(col("n_tokens")).over(inBucket))
    // bucket totals fall out of the window output (max running sum), so
    // the corpus is scanned once and the groupBy reuses the window's
    // bucket partitioning — no second scan, no second exchange
    val totals = local.groupBy(col("bucket"))
      .agg(max(col("local_end")).as("bucket_tokens"))
    val bucketPrefix = totals.withColumn("bucket_offset",
      coalesce(sum(col("bucket_tokens"))
        .over(Window.orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bucket"), col("bucket_offset"))
    local.join(broadcast(bucketPrefix), Seq("bucket"))
      .select(col(idCol), col("n_tokens"),
        (col("bucket_offset") + col("local_end") - col("n_tokens"))
          .as("pack_start"))
      .withColumn("first_chunk", floor(col("pack_start") / capacity))
      .withColumn("last_chunk",
        floor((col("pack_start") + col("n_tokens") - 1) / capacity))
  }

  /** Temperature-scaled mixture resampling: re-weight the corpus toward
    * a flattened (temperature > 1) or sharpened slice distribution and
    * keep a deterministic content-hash sample hitting an expected
    * `targetFrac` of corpus tokens — the standard move when one source
    * dominates a training mix.
    *
    * Per slice s with token share p_s, the target share is
    * q_s ∝ p_s^(1/T) and the keep rate r_s = min(1, f·q_s/p_s); a
    * document survives iff its 32-bit md5 prefix < r_s·2^32. Hashing
    * the CONTENT (not the id) keeps the choice stable under re-ingest
    * and keeps byte-identical duplicates together, like [[splitAssign]].
    * Rates are rounded to 6dp before the threshold compare in BOTH
    * engines, so `pow`'s last-ulp drift cannot flip a document.
    *
    * Scale shape: the rate table derives from [[mixture]] (slice
    * grain, tiny) and broadcasts back; the keep decision is a pure
    * per-row projection. One corpus aggregate + one corpus scan. The
    * rate join is NULL-SAFE: a (null, null) slice keeps its own rate
    * instead of silently vanishing while its probability mass still
    * deflates everyone else's.
    */
  /** Deterministic weighted sampling WITHOUT replacement (Efraimidis &
    * Spirakis, "Weighted random sampling with a reservoir", IPL 2006):
    * each document draws key = ln(u)/w — the monotone log transform of
    * the classic u^(1/w) order statistic — with u a uniform derived
    * from its content hash and w its weight (chars here); the top-n
    * keys ARE a weighted sample without replacement. The log form is
    * numerically WELL-CONDITIONED at production weights: u^(1/w)
    * crowds against 1.0 as w grows (at w=3000 every u>0.9985 rounds
    * to 1.000000 at 6dp, degenerating the cut to an id tiebreak),
    * while ln(u)/w keeps keys spread across a wide negative range.
    * Content-hash randomness makes the draw stable under re-ingest
    * and replayable by any engine (the [[contentHash32]] device);
    * keys round to 9dp before ranking (ln's cross-engine ulp drift is
    * ~1e-18 absolute here, so 9dp absorbs it without quantizing the
    * order) with the id as tiebreak.
    *
    * Scale shape: one pure projection plus a TakeOrdered top-n — no
    * global sort, no shuffle beyond the n-row collect at the driver
    * boundary.
    */
  def weightedSample(docs: DataFrame, n: Int = 50, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val w = greatest(col("n_chars").cast("double"), lit(1.0))
    val u = (contentHash32(col(textCol)).cast("double") + 0.5) / 4294967296.0
    docs.select(col(idCol), col("n_chars"),
        round(log(u) / w, 9).as("sample_key"))
      .orderBy(col("sample_key").desc, col(idCol))
      .limit(n)
  }

  /** DSIR-style importance resampling (Xie et al., "Data Selection
    * for Language Models via Importance Resampling", NeurIPS 2023):
    * documents resampled toward a TARGET slice's distribution by the
    * unigram importance log-ratio `Σ_t ln p_target(t) − ln p_raw(t)`
    * over a SHARED top-V feature space, selected by Gumbel-top-k
    * (score + standard Gumbel noise ≡ weighted sampling without
    * replacement by exp(score) — the exp never needs computing, which
    * keeps the key cross-engine exact where an explicit weight would
    * ride libm's `exp`). OOV tokens contribute 0 by inner-join
    * omission (the [[Classifier]] llr discipline); the log-ratio is a
    * 1e-4-scaled BIGINT so per-doc sums are association-order-free.
    *
    * Scale shape: both LMs are |V|-row broadcasts distilled from ONE
    * token-count pass (target counts are a conditional aggregate of
    * the same scan); per-doc scores collapse map-side before the
    * doc-grain exchange; the top-n cut is a TakeOrdered over
    * (9dp-rounded key desc, doc_id) — a total order, no global sort
    * materialization.
    */
  def dsirSample(docs: DataFrame, targetLang: String = "en", n: Int = 50,
      textCol: String = "text", idCol: String = "doc_id",
      langCol: String = "lang", vocabSize: Int = 16): DataFrame = {
    val toks = graft.functions.TextFunctions
      .explodedTokens(docs, textCol, Seq(idCol, langCol))
    val counts = toks.groupBy(col("token"))
      .agg(count(lit(1)).as("c_raw"),
        sum(when(col(langCol) === targetLang, 1L).otherwise(0L))
          .as("c_tgt"))
    val vocab = counts.orderBy(col("c_raw").desc, col("token"))
      .limit(vocabSize)
    val totals = vocab.agg(count(lit(1)).as("v_n"))
      .crossJoin(counts.agg(sum(col("c_raw")).as("t_raw"),
        sum(col("c_tgt")).as("t_tgt")))
    val model = vocab.crossJoin(broadcast(totals))
      .select(col("token"),
        round((log((col("c_tgt") + 1).cast("double") /
            (col("t_tgt") + col("v_n") + 1).cast("double"))
          - log((col("c_raw") + 1).cast("double") /
            (col("t_raw") + col("v_n") + 1).cast("double"))) * 10000)
          .cast("long").as("llr_e4"))
    val scores = toks
      .join(broadcast(model), Seq("token"))
      .groupBy(col(idCol))
      .agg(sum(col("llr_e4")).as("score_e4"))
    val u = (contentHash32(col(textCol)).cast("double") + 0.5) / 4294967296.0
    docs.select(col(idCol), col(langCol), u.as("u"))
      .join(scores, Seq(idCol), "left")
      .select(col(idCol), col(langCol),
        coalesce(col("score_e4"), lit(0L)).as("score_e4"),
        round(coalesce(col("score_e4"), lit(0L)).cast("double") / 10000.0
          - log(-log(col("u"))), 9).as("sample_key"))
      .orderBy(col("sample_key").desc, col(idCol))
      .limit(n)
  }

  def mixtureSample(docs: DataFrame, temperature: Double = 2.0,
      targetFrac: Double = 0.25, textCol: String = "text",
      idCol: String = "doc_id", langCol: String = "lang",
      sourceCol: String = "source"): DataFrame = {
    val mix = mixture(docs, textCol, langCol, sourceCol)
      .select(col(langCol), col(sourceCol), col("token_share"))
      .withColumn("w", pow(col("token_share"), lit(1.0 / temperature)))
    val z = mix.agg(sum(col("w")).as("z"))
    val rates = mix.crossJoin(broadcast(z))
      .select(col(langCol).as("r_lang"), col(sourceCol).as("r_source"),
        round(least(lit(1.0),
          lit(targetFrac) * (col("w") / col("z")) / col("token_share")), 6)
          .as("sample_rate"))
    // explicit floor: Spark's double→long cast truncates while DuckDB's
    // rounds, so the threshold must be floored before the compare
    docs.join(broadcast(rates),
        col(langCol) <=> col("r_lang") && col(sourceCol) <=> col("r_source"))
      .filter(contentHash32(col(textCol)) <
        floor(col("sample_rate") * lit(4294967296.0)))
      .select(col(idCol), col(langCol), col(sourceCol), col("sample_rate"))
  }

  /** Unigram-LM document scoring — the CCNet-style "how much does this
    * document look like the corpus" quality signal: build a top-V
    * vocabulary from corpus term frequencies, smooth add-one over
    * (vocab + one OOV bucket), and score each document by the mean
    * natural-log probability of its tokens, alongside its OOV ratio.
    * Low scores / high OOV mark boilerplate, noise, or off-corpus text.
    *
    * Scale shape: two passes over the exploded token stream, neither
    * materialized — (1) token counts (map-side partial agg, shuffle is
    * |vocab|-sized), with the top-V cut a `TakeOrdered` (deterministic
    * total order: count desc, token asc); (2) per-document scoring,
    * where the vocabulary and the two scalar totals ride along as
    * BROADCASTs (V is constant, ~KBs), so the only shuffle is the
    * per-document aggregation. Nothing driver-side, no all-token sort.
    * Mean log-prob is rounded to 4dp (float-sum-order tolerance,
    * SURVEY §5); both engines compute `ln((c+1)/(T+V+1))` verbatim.
    */
  def lmScore(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", vocabSize: Int = 16): DataFrame = {
    val toks = graft.functions.TextFunctions.explodedTokens(docs, textCol, Seq(idCol))
    val counts = toks.groupBy(col("token")).agg(count(lit(1)).as("c"))
    val vocab = counts.orderBy(col("c").desc, col("token")).limit(vocabSize)
    val totals = counts.agg(sum(col("c")).as("t_total"))
      .crossJoin(vocab.agg(count(lit(1)).as("v_n")))
    val denom = col("t_total") + col("v_n") + lit(1)
    toks
      .join(broadcast(vocab), Seq("token"), "left")
      .crossJoin(broadcast(totals))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_tokens"),
        round(avg(log((coalesce(col("c"), lit(0L)) + 1).cast("double") /
          denom.cast("double"))), 4).as("lm_score"),
        round(sum(when(col("c").isNull, 1).otherwise(0)).cast("double") /
          count(lit(1)), 4).as("oov_ratio"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al., "CCNet:
    * Extracting high quality monolingual datasets from web crawl
    * data", LREC 2020): per language, documents split into
    * head / middle / tail terciles by their LM fluency score
    * ([[lmScore]]'s smoothed mean log-prob — higher = more corpus-like,
    * the inverse orientation of CCNet's perplexity), emitted as the
    * per-(lang, bucket) datasheet a curation run keeps: doc/token
    * counts, the exact score mass, and the bucket's score range.
    *
    * Determinism: the tercile thresholds are exact interpolated
    * percentiles over the 4 dp-rounded scores, themselves ROUNDED BACK
    * to the same 4 dp grid (the `q_rfm` device hardened: when a cut
    * coincides with an order statistic, a doc scoring exactly the cut
    * value classifies identically in both engines — the threshold
    * comparison is grid-exact, never ulp-sensitive), and
    * the score mass is summed as a 1e4-scaled BIGINT
    * (association-order-free — the classifier family's integer-score
    * discipline), never a float sum.
    *
    * Scale shape: scoring is [[lmScore]]'s broadcast-vocabulary pass;
    * the per-lang percentile aggregates over scores that are ALREADY
    * 4 dp-rounded, so its state is bounded by the distinct rounded
    * score values (≈ thousands), not by document count; thresholds are
    * a ~|langs|-row frame broadcast back; the final rollup is a
    * (lang × 3)-cardinality aggregate. No window over the corpus.
    */
  def ccnetBuckets(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", langCol: String = "lang"): DataFrame = {
    val scored = lmScore(docs, textCol, idCol)
      .join(docs.select(col(idCol), col(langCol)), Seq(idCol))
    // cuts land on the SAME 4 dp grid as lm_score (both engines round
    // identically): when (n−1) divides by 3 the interpolated cut
    // coincides with an order statistic, and a doc scoring exactly the
    // cut value must not flip buckets on a last-ulp interpolation
    // difference between Spark `percentile` and DuckDB `quantile_cont`
    val th = scored.groupBy(col(langCol))
      .agg(expr("percentile(lm_score, array(CAST(1 AS DOUBLE)/3, " +
        "CAST(2 AS DOUBLE)/3))").as("t"))
      .select(col(langCol), round(col("t").getItem(0), 4).as("t_lo"),
        round(col("t").getItem(1), 4).as("t_hi"))
    scored.join(broadcast(th), Seq(langCol))
      .withColumn("bucket",
        when(col("lm_score") > col("t_hi"), "head")
          .when(col("lm_score") > col("t_lo"), "middle")
          .otherwise("tail"))
      .groupBy(col(langCol), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(round(col("lm_score") * 10000).cast("long")).as("score_e4_sum"),
        min(col("lm_score")).as("min_score"),
        max(col("lm_score")).as("max_score"))
  }

  /** Per-group distinct-document estimate via the bounded-state KMV
    * sketch ([[graft.functions.KmvAggregator]]) — and, as its recall
    * eval, the exact distinct count it approximates. The sketch path
    * shuffles ≤ k longs per (partition, group) no matter the corpus
    * size; the exact path (`count(DISTINCT h)`) is the gate-scale
    * yardstick a production run would drop (`withExact = false` is the
    * production shape: ONE aggregation, the exchange carries only the
    * k-bounded buffer per partition-group, no distinct Expand). Hash =
    * the md5-prefix device, so the whole sketch replays bit-exact in
    * the oracle.
    */
  /** Bigram language-model corpus-likeness scoring — the stronger
    * fluency signal over [[lmScore]]'s unigram bag: word order now
    * matters ("the the the" scores badly even from in-vocab tokens).
    * Tokens map to a closed alphabet (top-`vocabSize` corpus tokens +
    * `<unk>`), the bigram model trains on corpus pair counts, and each
    * doc scores the mean add-one-smoothed log conditional
    * `ln((c(w1,w2)+1) / (c(w1·)+V+1))` over its (capped) bigrams.
    *
    * Scale shape: the vocab is a broadcast `vocabSize`-row frame —
    * PURE PLAN, no driver collect (the q_rfm threshold-broadcast
    * pattern): the top-k token list folds to a single array row that
    * rides beside every doc, and the smoothing alphabet is
    * `size(vocab)+1` computed in-plan, so a corpus with fewer than
    * `vocabSize` distinct tokens smooths by its TRUE alphabet (the
    * oracle derives the same count from its vocab CTE). The model
    * tables are alphabet-bounded (≤ (V+1)² pairs) and broadcast; the
    * doc pass is one scan with a per-row pair explode capped at
    * `maxBigrams`. Deterministic: integer counts, one `ln` per pair,
    * 4-dp rounding — the oracle replays training and scoring verbatim.
    */
  def bigramLmScore(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", vocabSize: Int = 16,
      maxBigrams: Int = 2000): DataFrame = {
    val wordsNonEmpty = filter(
      graft.functions.TextFunctions.words(col(textCol)), x => x =!= lit(""))
    val base = docs.filter(col(textCol).isNotNull)
      .select(col(idCol), wordsNonEmpty.as("w"))
    // top-k vocab as ONE broadcast row: (sorted token array). The sort
    // is cosmetic — membership tests don't depend on order — but makes
    // the row deterministic for plan-level caching/debugging.
    val vocabRow = base
      .select(explode(col("w")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("token")).limit(vocabSize)
      .agg(sort_array(collect_list(col("token"))).as("va"))
    val mapped = base.filter(size(col("w")) >= 2)
      .crossJoin(broadcast(vocabRow))
      .select(col(idCol), transform(col("w"),
        x => when(array_contains(col("va"), x), x)
          .otherwise(lit("<unk>"))).as("mw"),
        (size(col("va")) + 1).as("alphabet")) // + <unk>
    val pairs = mapped
      .select(col(idCol), col("alphabet"), explode(slice(transform(
        sequence(lit(1), size(col("mw")) - 1),
        i => struct(element_at(col("mw"), i).as("w1"),
          element_at(col("mw"), i + 1).as("w2"))), 1, maxBigrams)).as("p"))
      .select(col(idCol), col("alphabet"), col("p.w1"), col("p.w2"))
    val c2 = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val c1 = pairs.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    pairs
      .join(broadcast(c2), Seq("w1", "w2"))
      .join(broadcast(c1), Seq("w1"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_bigrams"),
        round(avg(log((col("c2") + 1).cast("double")
          / (col("c1") + col("alphabet")).cast("double"))), 4).as("bigram_lm"),
        round(avg(when(col("w1") === "<unk>" || col("w2") === "<unk>", 1.0)
          .otherwise(0.0)), 4).as("unk_ratio"))
  }

  def kmvDistinct(docs: DataFrame, k: Int = 64, textCol: String = "text",
      groupCol: String = "lang", withExact: Boolean = true): DataFrame = {
    val kmv = udaf(new graft.functions.KmvAggregator(k))
    val hashed = docs.filter(col(textCol).isNotNull)
      .select(col(groupCol),
        graft.functions.TextFunctions.md5Hash32(col(textCol)).as("h"))
    val sketchCols = Seq(
      col(groupCol), col("n_rows"),
      col("kmv.n_kept").as("n_kept"),
      col("kmv.kth_hash").as("kth_hash"),
      round(col("kmv.est_distinct"), 4).as("est_distinct"))
    if (withExact)
      hashed.groupBy(col(groupCol))
        .agg(
          count(lit(1)).as("n_rows"),
          kmv(col("h")).as("kmv"),
          countDistinct(col("h")).as("n_distinct_exact"))
        .select(sketchCols :+ col("n_distinct_exact"): _*)
    else
      hashed.groupBy(col(groupCol))
        .agg(count(lit(1)).as("n_rows"), kmv(col("h")).as("kmv"))
        .select(sketchCols: _*)
  }

  /** Deterministic document embeddings via the hashing trick
    * (feature hashing: Weinberger et al., ICML 2009 — signed hashed
    * bag-of-words): token → 32-bit md5-prefix hash, dimension = the
    * low log2(dims) bits, sign = the next bit (independent of the
    * dimension choice, the ±1 trick that makes hash collisions cancel
    * in expectation instead of biasing upward). Raw coordinates are
    * exact INTEGER sums of ±1 votes; the L2-normalized value rounds to
    * 6dp, so the whole embedding is value-replayable cross-engine —
    * the bridge from the text tier to the embedding/ANN tier with no
    * model artifact to ship.
    *
    * Output: one row per (doc, TOUCHED dimension — a dim at least one
    * token hashed to, even if the ±1 votes cancelled to 0) — `raw`
    * (the exact vote sum) and `value` (L2-normalized, 6dp; an all-
    * cancelled zero-norm doc keeps 0s). NULL-text docs emit nothing
    * (no defined embedding).
    *
    * Scale shape: tokens explode inside the scan stage and reduce to
    * (doc, dim) grain with map-side combine — the ONE shuffle, keyed
    * by 16 bytes, text never enters an exchange. The per-doc norm
    * derives from the dim-grain output (≤ dims rows per doc), not a
    * second corpus scan.
    */
  def docEmbed(docs: DataFrame, dims: Int = 16, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(dims >= 2 && (dims & (dims - 1)) == 0,
      s"dims must be a power of two, got $dims")
    val h = graft.functions.TextFunctions.md5Hash32(col("w"))
    val raw = docs
      .select(col(idCol),
        explode(graft.functions.TextFunctions.words(col(textCol))).as("w"))
      .filter(col("w") =!= "")
      .select(col(idCol), h.as("h"))
      .select(col(idCol),
        col("h").bitwiseAND(lit(dims - 1L)).as("dim_idx"),
        (lit(1L) - lit(2L) * shiftright(col("h"),
          java.lang.Integer.numberOfTrailingZeros(dims)).bitwiseAND(lit(1L)))
          .as("sign"))
      .groupBy(col(idCol), col("dim_idx"))
      .agg(sum(col("sign")).as("raw"))
    val norms = raw.groupBy(col(idCol))
      .agg(sqrt(sum(col("raw") * col("raw"))).as("nrm"))
    raw.join(norms, Seq(idCol))
      .select(col(idCol), col("dim_idx"), col("raw"),
        when(col("nrm") === 0.0, lit(0.0))
          .otherwise(round(col("raw") / col("nrm"), 6)).as("value"))
  }
}
