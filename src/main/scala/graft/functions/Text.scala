package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for large-scale training-data pipelines:
  * tokenization, shingling, quality scoring, language-ID heuristics, portable
  * hashing, SimHash, and document fingerprints.
  *
  * All of these are per-row Catalyst expressions (higher-order array functions,
  * regexes, bit ops) — no shuffle, no UDFs — so they stream through a parquet
  * scan at full codegen speed and scale linearly to 100 TB.
  */
object Text {

  /** Mersenne prime 2^31 - 1: modulus for portable 31-bit hash arithmetic.
    * Small enough that (a * h + b) never overflows a signed 64-bit long even
    * under ANSI overflow checking. */
  val P31: Long = 2147483647L

  // ---------------------------------------------------------------- tokens

  /** Whitespace tokenization of lowercased text. */
  def tokens(c: Column): Column =
    filter(split(lower(trim(c)), "\\s+"), t => t =!= "")

  /** Whitespace token count. */
  def tokenCount(c: Column): Column = size(tokens(c))

  /** BPE-ish pre-tokenizer regex (GPT-2 style simplification): runs of
    * letters, single digits, or single punctuation marks. A cheap, deterministic
    * proxy for "LLM token count" when no tokenizer model is available. */
  val BpeishRegex = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"

  /** Approximate BPE token count: matches of [[BpeishRegex]], with long letter
    * runs counted as ceil(len / 4) subword pieces. Backed by the native
    * [[graft.expressions.BpeCount]] expression (one regex scan per row). */
  def bpeTokenCount(c: Column): Column =
    graft.expressions.BpeCount.column(c)

  /** The original extract-then-fold formulation of [[bpeTokenCount]], kept
    * as the executable spec the native expression is tested against. */
  private[graft] def bpeTokenCountHof(c: Column): Column = {
    val pieces = regexp_extract_all(c, lit(BpeishRegex), lit(0))
    aggregate(pieces, lit(0L),
      (acc, p) => acc + ceil(length(p).cast("double") / 4.0).cast("long"))
  }

  /** Word n-gram shingles: array of space-joined n-token windows. Documents
    * shorter than n tokens yield one shingle (the whole document). Backed by
    * the native [[graft.expressions.WordShingles]] expression — the HOF
    * composition ([[wordShinglesHof]]) interprets a lambda per shingle and
    * dominated every shingle-based pair query at sf0.1. */
  def wordShingles(c: Column, n: Int): Column =
    graft.expressions.WordShingles.column(c, n)

  /** The original higher-order-function formulation of [[wordShingles]],
    * kept as the executable spec the native expression is property-tested
    * against (FunctionsSpec). */
  private[graft] def wordShinglesHof(c: Column, n: Int): Column = {
    val t = tokens(c)
    when(size(t) >= n,
      transform(sequence(lit(0), size(t) - n),
        i => concat_ws(" ", slice(t, i + 1, lit(n)))))
      .otherwise(array(concat_ws(" ", t)))
  }

  /** Character n-gram shingles over whitespace-normalized lowercase text. */
  def charShingles(c: Column, n: Int): Column = {
    val s = lower(Cleaning.normWhitespace(c))
    when(length(s) >= n,
      transform(sequence(lit(1), length(s) - (n - 1)),
        i => s.substr(i, lit(n))))
      .otherwise(array(s))
  }

  /** Content-defined chunking (the LBFS rule — Muthitacharoen et al. 2001,
    * "A Low-Bandwidth Network File System"; the mechanism under every
    * storage dedup system): a chunk boundary falls after any `w`-char
    * window whose hash lands in 1/16 of the hash space (here: portable
    * md5 first hex == '0', so the DuckDB twin states the same rule).
    * Boundaries depend only on LOCAL content, so an insertion or deletion
    * reflows at most its neighboring chunks — fixed-width chunking would
    * reflow every downstream chunk, which is exactly why CDC chunk-hash
    * dedup detects shifted duplicate content and fixed-grid dedup cannot.
    *
    * Mean chunk length ~ 16 + w - 1 chars. No min/max clamp (classic CDC
    * skips w chars after each cut; the clamp-free rule keeps this a pure
    * per-row expression both engines state identically — documented
    * divergence, not an accident). Text shorter than `w` is one chunk;
    * chunks always concatenate back to the input. Returns array<string>,
    * empty for empty or null input. Backed by the native
    * [[graft.expressions.CdcChunks]] kernel: one loop per row hashes each
    * window's bytes, where a composed form interprets a lambda per
    * character. Fully row-local: zero shuffle. */
  def cdcChunks(c: Column, w: Int = 8): Column =
    graft.expressions.CdcChunks.column(c, w)

  // ---------------------------------------------------------------- hashing

  /** Portable 60-bit integer hash: first 15 hex chars of md5. Unlike
    * xxhash64/murmur3 this is reproducible in any engine that has md5 (DuckDB,
    * Trino, ...), which makes hash-keyed results oracle-checkable. */
  def md5Long(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast("long")

  /** Portable hash reduced mod 2^31-1 (always in [0, P31)). */
  def md5Mod(c: Column): Column = pmod(md5Long(c), lit(P31))


  /** SimHash over whitespace tokens using `bits` bits of xxhash64 (max 64).
    * Per-row fold: for each bit position, sum +1/-1 votes across token hashes,
    * then take the sign bit. Pure array expressions — no shuffle. */
  def simhash(c: Column, bits: Int = 64): Column = {
    require(bits >= 1 && bits <= 64)
    // hash each token ONCE (transform), then vote — inlining xxhash64 into
    // the per-bit lambda would recompute the hash `bits` times per token
    val hashes = transform(tokens(c), t => xxhash64(t))
    val votes = aggregate(
      hashes,
      array_repeat(lit(0), bits),
      (acc, h) => zip_with(acc, sequence(lit(0), lit(bits - 1)),
        (a, b) => a + when(call_function("shiftright", h, b)
          .bitwiseAND(1) === 1, 1).otherwise(-1)))
    aggregate(
      zip_with(votes, sequence(lit(0), lit(bits - 1)),
        (v, b) => when(v > 0, call_function("shiftleft", lit(1L), b))
          .otherwise(lit(0L))),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** Hamming distance between two simhash longs. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Engine-portable simhash over the low `bits` bits of [[md5Long]] token
    * hashes (default 32). Same vote-and-pack shape as [[simhash]], but
    * reproducible in any engine with md5 — used by the oracle-checked
    * fingerprint queries. Tokens are hashed once (transform), then the fold
    * votes per bit position. */
  def simhashPortable(c: Column, bits: Int = 32): Column = {
    require(bits >= 1 && bits <= 60)
    val hashes = transform(tokens(c), t => md5Long(t))
    val votes = aggregate(
      hashes,
      array_repeat(lit(0), bits),
      (acc, h) => zip_with(acc, sequence(lit(0), lit(bits - 1)),
        (a, b) => a + when(call_function("shiftright", h, b)
          .bitwiseAND(1) === 1, 1).otherwise(-1)))
    aggregate(
      zip_with(votes, sequence(lit(0), lit(bits - 1)),
        (v, b) => when(v > 0, call_function("shiftleft", lit(1L), b))
          .otherwise(lit(0L))),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** Rolling polynomial document fingerprint over token hashes, mod 2^31-1:
    * fp = fold(tokens, acc -> (acc * 1000003 + h(tok)) mod P). Order-sensitive
    * (unlike a bag-of-words hash) and engine-portable via [[md5Mod]].
    * Backed by the native [[graft.expressions.DocFingerprint]] expression;
    * the HOF fold ([[fingerprintHof]]) interpreted one lambda + one Catalyst
    * md5 chain per token on the q25 hot path. */
  def fingerprint(c: Column): Column =
    graft.expressions.DocFingerprint.column(c)

  /** The original fold formulation of [[fingerprint]], kept as the
    * executable spec the native expression is property-tested against.
    * acc < 2^31 and h < 2^31 keep every step below 2^52 — no ANSI
    * overflow. */
  private[graft] def fingerprintHof(c: Column): Column =
    aggregate(tokens(c), lit(0L),
      (acc, t) => pmod(acc * lit(1000003L) + md5Mod(t), lit(P31)))

  /** Misra–Gries heavy-hitter candidate keys (sorted `array<string>`): a
    * guaranteed superset of every value with frequency > n/(k+1), held in
    * O(k) state per partial aggregate — the scale path when the key stream's
    * cardinality (URLs, shingles) makes an exact `groupBy` shuffle
    * impractical. Native [[graft.expressions.MisraGries]] aggregate; pair
    * with a candidate-only exact count pass (q72's plan) for exact final
    * frequencies. */
  def heavyHitterCandidates(c: Column, k: Int): Column =
    graft.expressions.MisraGries.column(c, k)

  // -------------------------------------------------------------- redaction

  /** Email address pattern. RE2-compatible (no backrefs/lookaround) so the
    * DuckDB oracle twins evaluate the identical regex. */
  val EmailRegex = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** NANP-style phone pattern (optional +1/1 and separators). RE2-compatible. */
  val PhoneRegex =
    "(\\+?1[-. ])?\\(?[0-9]{3}\\)?[-. ][0-9]{3}[-. ][0-9]{4}"

  /** PII redaction for training corpora: emails then phones replaced with
    * typed placeholder tokens. Pure per-row regexp_replace columns — streams
    * through the scan at codegen speed, no shuffle, trivially 100-TB-safe. */
  def redactPii(c: Column): Column =
    regexp_replace(
      regexp_replace(c, lit(EmailRegex), lit("<EMAIL>")),
      lit(PhoneRegex), lit("<PHONE>"))

  /** Count of email matches (redaction audit metric). */
  def emailCount(c: Column): Column =
    size(regexp_extract_all(c, lit(EmailRegex), lit(0)))

  /** Count of phone matches (redaction audit metric). */
  def phoneCount(c: Column): Column =
    size(regexp_extract_all(c, lit(PhoneRegex), lit(0)))

  // ---------------------------------------------------------------- quality

  /** Ratio of punctuation chars to total chars (0 for empty text). */
  def punctRatio(c: Column): Column = {
    val len = length(c)
    val nPunct = len - length(regexp_replace(c, "[\\p{Punct}]", ""))
    when(len > 0, nPunct.cast("double") / len.cast("double")).otherwise(lit(0.0))
  }

  /** English stopwords used for quality / language scoring. */
  val StopwordsEn: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "are", "was", "it",
    "for", "on", "with", "as", "at", "by", "this", "that")

  /** Fraction of tokens that are (English) stopwords (token-array form:
    * callers that compute several metrics should materialize `tokens(c)`
    * once and reuse it — lambda expressions are interpreted, so repeated
    * tokenization dominates multi-metric scans). */
  def stopwordRatioOf(t: Column): Column = {
    val stop = array(StopwordsEn.map(lit): _*)
    when(size(t) > 0,
      size(filter(t, x => array_contains(stop, x))).cast("double")
        / size(t).cast("double"))
      .otherwise(lit(0.0))
  }

  /** Mean token length (0 for empty text), token-array form. */
  def meanWordLenOf(t: Column): Column =
    when(size(t) > 0,
      aggregate(t, lit(0L), (acc, x) => acc + length(x)).cast("double")
        / size(t).cast("double"))
      .otherwise(lit(0.0))

  /** Heuristic document quality score in [0, 1]: length band + sane mean word
    * length + some-but-not-too-many stopwords + low punctuation density.
    * Deterministic arithmetic only, so it has an exact SQL twin. Token-array
    * form: pass a materialized `tokens(c)` column to share the tokenization
    * with sibling metrics. */
  def qualityScoreOf(c: Column, t: Column): Column = {
    // coalesce: size(null) is null and least() SKIPS nulls, which would
    // score null text lenScore 1.0 (and diverge from TextProfile's
    // aggregated form, which counts 0 tokens)
    val nTok = coalesce(size(t), lit(0)).cast("double")
    val lenScore = least(nTok / 20.0, lit(1.0))
    val mwl = meanWordLenOf(t)
    val wordScore = when(mwl >= 3.0 && mwl <= 10.0, 1.0).otherwise(0.5)
    val stopScore = when(stopwordRatioOf(t) > 0.01, 1.0).otherwise(0.5)
    val punctScore = when(punctRatio(c) < 0.2, 1.0).otherwise(0.5)
    round((lenScore + wordScore + stopScore + punctScore) / 4.0, 4)
  }

  def qualityScore(c: Column): Column = qualityScoreOf(c, tokens(c))

  // ---------------------------------------------------------------- lang-ID

  /** Per-language stopword marker lists for the n-gram/stopword language-ID
    * heuristic. Deliberately small and deterministic. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it", "with", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "von"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "dans", "que", "pour", "des"),
    "es" -> Seq("el", "los", "las", "es", "una", "en", "que", "por", "para", "con"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有",
      "和", "不", "人", "这"))

  /** Language-ID heuristic: count stopword-marker hits per language over the
    * token bag; highest count wins, ties broken by [[LangMarkers]] order, zero
    * hits -> "und" (undetermined). Returns a (lang, hits) struct via
    * [[langIdStruct]] or just the code via [[langId]]. */
  def langId(c: Column): Column = langIdStruct(c).getField("lang")

  def langIdStruct(c: Column): Column = langIdStructOf(tokens(c))

  def langIdStructOf(t: Column): Column = {
    val scores = LangMarkers.map { case (lang, words) =>
      val w = array(words.map(lit): _*)
      (lang, size(filter(t, x => array_contains(w, x))))
    }
    // argmax with deterministic precedence = LangMarkers order: fold keeps the
    // earlier language on ties (strict > comparison).
    val best = scores.tail.foldLeft(
      struct(lit(scores.head._1).as("lang"), scores.head._2.as("hits"))) {
      case (acc, (lang, hits)) =>
        when(hits > acc.getField("hits"),
          struct(lit(lang).as("lang"), hits.as("hits"))).otherwise(acc)
    }
    when(best.getField("hits") > 0, best)
      .otherwise(struct(lit("und").as("lang"), lit(0).as("hits")))
  }
}
