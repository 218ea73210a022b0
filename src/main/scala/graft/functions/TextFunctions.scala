package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for large-scale corpus processing. All are
  * per-row Column expressions built from codegen'd builtins (split /
  * regexp_count / higher-order array functions) — embarrassingly
  * parallel, no shuffle, no UDF except where a builtin genuinely cannot
  * express the op (simhash — see [[simhash64]]).
  */
object TextFunctions {

  /** Whitespace tokens. */
  def words(c: Column): Column = split(trim(c), "\\s+")

  /** One row per non-empty whitespace token, keeping `keep` columns —
    * THE corpus tokenization (CorpusStats, HeavyHitters). Must stay
    * aligned with the DuckDB property/value oracles'
    * `string_split_regex(text, '\s+') ... WHERE token <> ''`.
    */
  def explodedTokens(df: org.apache.spark.sql.DataFrame, textCol: String,
      keep: Seq[String] = Nil): org.apache.spark.sql.DataFrame =
    df.select((keep.map(col) :+ explode(words(col(textCol))).as("token")): _*)
      .filter(length(col("token")) > 0)

  /** Whitespace token count (BIGINT for cross-engine schema parity). */
  def wsTokenCount(c: Column): Column = size(words(c)).cast("bigint")

  /** BPE-ish subword-boundary token count: runs of alphanumerics plus
    * each standalone symbol, the usual pre-tokenizer regex shape.
    */
  def subTokenCount(c: Column): Column =
    regexp_count(c, lit("[A-Za-z0-9]+|[^A-Za-z0-9\\s]")).cast("bigint")

  /** Real BPE token count under the frozen [[BpeTokenizer]] merge
    * table (codegen'd [[graft.plans.BpeCountExpr]]) — the
    * subword-denominated count packing manifests and mixture shares
    * actually mean.
    */
  def bpeTokenCount(c: Column): Column =
    org.apache.spark.sql.GraftInternal.columnOf(
      graft.plans.BpeCountExpr(
        org.apache.spark.sql.GraftInternal.expressionOf(c)))

  /** Word n-gram shingles ("a b c" word windows), for MinHash/Jaccard. */
  def wordShingles(c: Column, n: Int): Column = {
    val w = words(c)
    transform(
      sequence(lit(0), greatest(size(w) - n, lit(0))),
      i => concat_ws(" ", slice(w, i + 1, lit(n))))
  }

  /** THE word-shingle law over a words-array column, as builtins: the
    * array of `concat_ws(' ', w[i..i+n))` for i ∈ [0, max(size-n, 0)]
    * — null tokens skipped, one short shingle when there are fewer
    * than n words. It is the reference the [[shingleSet]] kernel is
    * spec-pinned against (with [[jaccard]] as the reference verify);
    * no library path runs it, because the `transform` lambda runs
    * interpreted.
    */
  def shinglesFromWords(w: Column, n: Int): Column =
    transform(
      sequence(lit(0), greatest(size(w) - n, lit(0))),
      i => concat_ws(" ", slice(w, i + 1, lit(n))))

  /** The [[shinglesFromWords]] law as a SET, via the codegen kernel
    * [[graft.plans.ShingleSetUtil]]: sorted (binary order), distinct,
    * one pass over the tokens — the input [[sortedJaccard]] expects.
    * Resolves on a [[graft.GraftSession]] session.
    */
  def shingleSet(w: Column, n: Int): Column =
    call_function("graft_shingle_set", w, lit(n))

  /** Full MinHash signature from a words-array column via the codegen
    * kernel [[graft.plans.MinhashSigUtil]] — one pass over the tokens,
    * byte-identical to `minhashSigFromHashes(transform(wordShingles,
    * md5Hash32), k)` (spec-pinned). Resolves on a
    * [[graft.GraftSession]] session.
    */
  def minhashSigWords(w: Column, n: Int, k: Int): Column =
    call_function("graft_minhash_sig", w, lit(n), lit(k))

  /** Character n-gram array. */
  def charNgrams(c: Column, n: Int): Column =
    transform(
      sequence(lit(1), greatest(length(c) - (n - 1), lit(1))),
      i => c.substr(i, lit(n)))

  /** Modulus of the affine minhash family: the Mersenne prime 2^61-1.
    * Bounds chosen so `a*h + b` stays inside a signed 64-bit long in
    * BOTH engines: a < 2^29, h < 2^32, b < 2^60 ⇒ sum < 2^62.
    */
  val MinhashPrime: Long = (1L << 61) - 1

  /** Deterministic (a, b) parameters of the j-th affine min-hash —
    * seeded MurmurHash3 of the index, no stored model, identical on
    * every executor and embeddable into an external oracle as
    * literals (the carter-wegman universal family: h_j(x) =
    * (a_j·x + b_j) mod p).
    */
  def minhashParams(k: Int): IndexedSeq[(Long, Long)] =
    (0 until k).map { j =>
      import scala.util.hashing.MurmurHash3.productHash
      val a = (math.abs(productHash((j, 0)).toLong) % ((1L << 29) - 1)) + 1L
      val b = ((productHash((j, 1)).toLong & 0x3fffffffL) << 30) |
        (productHash((j, 2)).toLong & 0x3fffffffL)
      (a, b)
    }

  /** 32-bit md5-prefix hash of a string — the cross-engine base hash
    * (DuckDB: `('0x' || substr(md5(x), 1, 8))::BIGINT`, the same
    * device as CorpusStats.contentHash32).
    */
  def md5Hash32(s: Column): Column =
    conv(substring(md5(s), 1, 8), 16, 10).cast("long")

  /** MinHash signature from PRE-HASHED shingles: k affine min-hashes
    * over the 32-bit base hashes, zero shuffle (contrast with the
    * explode→groupBy formulation, which shuffles every shingle).
    * Callers materialize the base-hash array in its own projection so
    * the md5 runs once per shingle, not once per (shingle, j) —
    * CollapseProject will not inline a non-trivial expression
    * referenced k times.
    */
  def minhashSigFromHashes(hs: Column, k: Int): Column =
    array(minhashParams(k).map { case (a, b) =>
      array_min(transform(hs, h => (h * a + b) % MinhashPrime))
    }: _*)

  /** MinHash signature straight from a shingle array (spec/ad-hoc use;
    * production paths pre-hash — see [[minhashSigFromHashes]]).
    */
  def minhashSig(shingles: Column, k: Int): Column =
    minhashSigFromHashes(transform(shingles, md5Hash32 _), k)

  /** MinHash signature over CHARACTER n-gram windows via the codegen
    * kernel (`graft_char_minhash_sig`) — value-identical to
    * `minhashSig(charNgrams(text, n), k)` but one tight pass instead
    * of the interpreted HOF stack. Resolves on a
    * [[graft.GraftSession]] session.
    */
  def minhashSigChars(text: Column, n: Int, k: Int): Column =
    call_function("graft_char_minhash_sig", text, lit(n), lit(k))

  /** LSH band tuples for a minhash signature: b bands of r rows each,
    * band key = the struct (band, sig[b*r+1..b*r+r]) itself — exact
    * tuple equality instead of a hashed key, so bucketing is
    * collision-free and replayable by value in any engine.
    */
  def bandTuples(sig: Column, bands: Int, rows: Int): Column =
    array((0 until bands).map { b =>
      struct((lit(b).as("band") +:
        (0 until rows).map(r => element_at(sig, b * rows + r + 1).as(s"s$r"))): _*)
    }: _*)

  /** Exact Jaccard similarity of two string-array columns (as sets),
    * rounded to 4 places; 0.0 when both are empty. The reference law:
    * it fills hash sets per row (`array_distinct` twice,
    * `array_intersect`, `array_union`), so library paths verify with
    * [[sortedJaccard]] over [[shingleSet]]s instead, which specs pin
    * equal to this.
    */
  def jaccard(a: Column, b: Column): Column = {
    val da = array_distinct(a)
    val db = array_distinct(b)
    val inter = size(array_intersect(da, db)).cast("double")
    val uni = size(array_union(da, db)).cast("double")
    when(uni === 0, lit(0.0)).otherwise(round(inter / uni, 4))
  }

  /** [[jaccard]] of two SORTED, DISTINCT string sets (what
    * [[shingleSet]] returns): the ratio is the two-pointer-merge
    * kernel [[graft.plans.SortedJaccardUtil]], the `round(…, 4)` the
    * same builtin [[jaccard]] applies. Resolves on a
    * [[graft.GraftSession]] session.
    */
  def sortedJaccard(a: Column, b: Column): Column =
    round(call_function("graft_sorted_jaccard", a, b), 4)

  /** 64-bit SimHash over a token array. A builtin can't express the
    * 64-lane signed bit-count accumulation without a 64× explode (a real
    * shuffle cost at corpus scale), so this is the one deliberate UDF:
    * per-row, allocation-light, still embarrassingly parallel.
    */
  val simhash64: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (tokens: Seq[String]) =>
      val acc = new Array[Int](64)
      if (tokens != null) tokens.foreach { t =>
        val h = graft.plans.SimHash64Util.tokenHash64(t)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
          b += 1
        }
      }
      var sig = 0L
      var b = 0
      while (b < 64) {
        if (acc(b) >= 0) sig |= (1L << b)
        b += 1
      }
      sig
    }

  /** 16-bit chunks of a 64-bit simhash (pigeonhole blocking: two docs
    * within Hamming distance 3 share at least one of 4 chunks).
    */
  def simhashChunks(sim: Column): Column =
    array((0 until 4).map(i =>
      shiftrightunsigned(sim, i * 16).bitwiseAND(lit(0xffffL))): _*)

  /** Winnowing-style document fingerprint (Schleimer, Wilkerson &
    * Aiken, "Winnowing: local algorithms for document fingerprinting",
    * SIGMOD 2003): min rolling hash over 8-token windows — robust to
    * local edits, per-row, shuffle-free.
    */
  def fingerprint(c: Column): Column =
    array_min(transform(wordShingles(c, 8), s =>
      conv(substring(md5(s), 1, 15), 16, 10).cast("long")))

  /** Overlapping token-window chunks for training-data preparation:
    * chunk i = words [i·stride, i·stride+window). Array of chunk
    * strings; pair with `posexplode` for (chunk_id, chunk_text) rows.
    * Per-row, shuffle-free.
    */
  def chunks(c: Column, window: Int, stride: Int): Column = {
    val w = words(c)
    transform(
      sequence(lit(0), ((size(w) - 1) / stride).cast("int")),
      i => concat_ws(" ", slice(w, i * stride + 1, lit(window))))
  }

  /** PII redaction: emails, then US-phone-shaped, then SSN-shaped
    * numbers replaced by typed tags. Single pass of codegen'd
    * regexp_replace chains.
    */
  def redactPii(c: Column): Column = {
    val email = regexp_replace(c,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    val phone = regexp_replace(email, "[0-9]{3}-[0-9]{3}-[0-9]{4}", "<PHONE>")
    regexp_replace(phone, "[0-9]{3}-[0-9]{2}-[0-9]{4}", "<SSN>")
  }

  /** Stopword profiles for the heuristic language identifier. */
  val stopwordProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is", "on", "for", "with"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es", "por", "con"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "mit", "auf", "zu", "ein"),
    "fr" -> Seq("le", "la", "de", "et", "est", "un", "une", "dans", "pour", "que"),
    "zh" -> Seq("de", "shi", "le", "zai", "he", "you", "wo", "ta", "men", "bu"))

  private def stopHits(c: Column, stops: Seq[String]): Column =
    size(filter(words(lower(c)), x => x.isInCollection(stops))).cast("bigint")

  /** Stopword-hit ratio against a given stopword list. */
  def stopRatio(c: Column, stops: Seq[String]): Column =
    round(stopHits(c, stops).cast("double") / wsTokenCount(c).cast("double"), 4)

  /** Heuristic language ID: argmax of per-language stopword hit counts
    * (ties broken by language code, deterministic). Returns a struct
    * (lang, hits).
    */
  def langId(c: Column): Column = {
    val scored = array(stopwordProfiles.toSeq.sortBy(_._1).map { case (l, stops) =>
      struct((-stopHits(c, stops)).as("neg"), lit(l).as("lang"))
    }: _*)
    val best = array_min(scored) // lexicographic: most hits, then lang code
    struct(best.getField("lang").as("lang"), (-best.getField("neg")).as("hits"))
  }
}
