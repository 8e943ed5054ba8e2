package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis building blocks for the training-data-pipeline operators
  * (dedup, quality scoring, language ID). All pure Column compositions over
  * codegen'd builtins — no UDFs — so they stay inside whole-stage codegen
  * and push work to the scan.
  *
  * Cross-engine determinism note: everything here must hash/compare
  * identically in the DuckDB oracle, so hashes are md5-based (identical hex
  * in every engine) rather than murmur3 (engine-specific seeds).
  */
object TextFunctions {

  /** Whitespace tokens of trimmed text. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Character n-gram shingles (positional, 1-based, may repeat). */
  def shingles(text: Column, n: Int): Column =
    transform(
      sequence(lit(1), greatest(length(text) - (n - 1), lit(1))),
      i => text.substr(i, lit(n)))

  /** One MinHash component: min over shingles of md5(salt ‖ shingle).
    * A hex md5 min is a uniform permutation sample, so
    * P(minhash_a == minhash_b) ≈ Jaccard(shingles_a, shingles_b).
    * Fused kernel — one pass over shingles, digests compared as bytes.
    */
  def minhash(text: Column, shingleSize: Int, salt: String): Column =
    element_at(minhashSignatureSalted(text, shingleSize, Seq(salt)), 1)

  /** Interpreted Column twin of [[minhash]] (slow, trusted oracle). */
  def minhashHof(text: Column, shingleSize: Int, salt: String): Column =
    array_min(transform(shingles(text, shingleSize), s => md5(concat(lit(salt), s))))

  /** MinHash signature over explicit salts, one fused pass. */
  def minhashSignatureSalted(text: Column, shingleSize: Int, salts: Seq[String]): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.expressions.MinhashSig(
        org.apache.spark.sql.graftbridge.Bridge.expression(text), shingleSize, salts))

  /** MinHash signature as an array of `numHashes` hex minima. */
  def minhashSignature(text: Column, shingleSize: Int, numHashes: Int): Column =
    minhashSignatureSalted(text, shingleSize, (0 until numHashes).map(_.toString))

  /** Distinct 64-bit-keyed token `k`-grams (space-joined windows; docs
    * shorter than `k` contribute their single truncated window — the
    * fingerprint semantics the d11/d12 oracles pin). Fused kernel: one
    * md5 per window, and the gram join/shuffle key is an 8-byte long
    * instead of 32 hex bytes — at 200k docs this is the widest column of
    * d12's shuffle rows. md5Lower64 == DuckDB `md5_number_lower`
    * (d7/d8-pinned), so the oracles recompute the same keys with
    * `md5_number_lower(window)`. Shared by decontamination and
    * boilerplate — edit here and BOTH oracles re-gate the change.
    */
  def tokenGrams64(text: Column, k: Int): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.expressions.TokenGrams64(
        org.apache.spark.sql.graftbridge.Bridge.expression(text), k))

  /** Ratio of characters outside [a-zA-Z0-9 ] (punctuation-ish). */
  def punctRatio(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[^a-zA-Z0-9 ]", ""))).cast("double") /
      greatest(length(text), lit(1))

  /** Mean token length (chars excluding whitespace / token count). */
  def avgTokenLen(text: Column): Column =
    length(regexp_replace(trim(text), "\\s+", "")).cast("double") /
      greatest(tokenCount(text), lit(1))

  /** Fraction of tokens found in `words`. */
  def wordSetRatio(text: Column, words: Seq[String]): Column =
    size(filter(tokens(text), t => t.isin(words.map(x => x: Any): _*))).cast("double") /
      greatest(tokenCount(text), lit(1))

  /** Stopword-marker hit counts per language; deterministic argmax pick.
    * An honest n-gram/stopword heuristic: the winner is the language whose
    * marker set appears most often, ties broken by the fixed order below.
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "is", "in"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein"),
    "fr" -> Seq("le", "la", "et", "les", "des", "une", "est"),
    "es" -> Seq("el", "los", "las", "una", "es", "y", "que"))

  /** All marker-hit counts in ONE fused tokenization pass (array<int>,
    * `langMarkers` order). The per-language Column composition
    * re-tokenizes per language and gets duplicated again when the
    * optimizer inlines a predicate; every consumer below reads this one
    * array and codegen subexpression elimination evaluates it once.
    */
  def langProfile(text: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.expressions.LangHitsAll(
        org.apache.spark.sql.graftbridge.Bridge.expression(text),
        langMarkers.map(_._2)))

  def langHits(text: Column, lang: String): Column =
    element_at(langProfile(text), langMarkers.indexWhere(_._1 == lang) + 1)

  /** Interpreted Column twin of [[langHits]] (slow, trusted oracle). */
  def langHitsHof(text: Column, lang: String): Column = {
    val markers = langMarkers.toMap.apply(lang)
    size(filter(tokens(lower(text)), t => t.isin(markers.map(x => x: Any): _*)))
  }

  /** Predicted language: argmax of marker hits (>=1 hit required, else
    * "und" for undetermined), ties resolved in `langMarkers` order.
    */
  def langId(text: Column): Column = {
    val profile = langProfile(text)
    val hits = langMarkers.zipWithIndex.map { case ((l, _), i) =>
      (l, element_at(profile, i + 1))
    }
    val best = hits.map(_._2).reduce((a, b) => greatest(a, b))
    // nested CASE: first language (in langMarkers order) whose hits == best
    hits.foldRight(lit("und"): Column) { case ((l, h), alt) =>
      when(best >= 1 && h === best, lit(l)).otherwise(alt)
    }
  }

  /** Fused per-doc stat counters `[n_chars, n_tokens, n_punct, n_stop,
    * n_nonws]` — one kernel pass (`TextStatsAll`) instead of two regexp
    * passes + two tokenizations per row. Ratio/score compositions below
    * derive from this array with plain long arithmetic; equality with the
    * Column twins is spec-gated.
    */
  def textProfile(text: Column, stopwords: Seq[String]): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.expressions.TextStatsAll(
        org.apache.spark.sql.graftbridge.Bridge.expression(text), stopwords))

  /** Fused token-class counters `[n_ws_tokens, n_bpe_tokens,
    * n_word_tokens, n_num_tokens]` — one kernel pass (`TokenClasses`)
    * instead of three `regexp_extract_all` scans + a tokenization.
    * Equality with [[tokenClassProfileHof]] is spec-gated.
    */
  def tokenClassProfile(text: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.expressions.TokenClasses(
        org.apache.spark.sql.graftbridge.Bridge.expression(text)))

  /** Interpreted Column twin of [[tokenClassProfile]] (slow, trusted
    * oracle): the exact regexes the kernel's state machine mirrors.
    */
  private[graft] def tokenClassProfileHof(text: Column): Column = {
    def n(p: String) = size(regexp_extract_all(text, lit(p), lit(0))).cast("long")
    array(tokenCount(text).cast("long"),
      n("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), n("[A-Za-z]+"), n("[0-9]+"))
  }

  /** The stats/quality bundle from a bound profile array (see
    * [[textProfile]]): identical arithmetic to the Column twins —
    * integer-count divisions, so the values (and the oracle hashes) are
    * unchanged.
    */
  private[graft] def statsFromProfile(p: Column): ProfileStats = {
    val nChars = element_at(p, 1)
    val nToks = element_at(p, 2)
    ProfileStats(
      nChars = nChars,
      nTokens = nToks,
      punctRatio = element_at(p, 3).cast("double") / greatest(nChars, lit(1L)),
      stopwordRatio = element_at(p, 4).cast("double") / greatest(nToks, lit(1L)),
      avgTokenLen = element_at(p, 5).cast("double") / greatest(nToks, lit(1L)))
  }

  private[graft] final case class ProfileStats(nChars: Column, nTokens: Column,
                                               punctRatio: Column,
                                               stopwordRatio: Column,
                                               avgTokenLen: Column) {
    def quality: Column =
      lit(0.25) * when(nChars.between(50, 10000), 1.0).otherwise(0.0) +
        lit(0.25) * when(punctRatio <= 0.2, 1.0).otherwise(0.0) +
        lit(0.25) * when(stopwordRatio >= 0.05, 1.0).otherwise(0.0) +
        lit(0.25) * when(avgTokenLen.between(2.0, 12.0), 1.0).otherwise(0.0)
  }

  /** Simple quality score in [0,1]: penalizes extreme length, high
    * punctuation, very short tokens (boilerplate/garbage signals).
    * Computed from the fused profile (one kernel pass per row); the
    * lambda binding stops the optimizer re-inlining the kernel per
    * derived ratio.
    */
  def qualityScore(text: Column, stopwords: Seq[String]): Column =
    element_at(transform(array(textProfile(text, stopwords)),
      p => statsFromProfile(p).quality), 1)

  /** Column-composition twin of [[qualityScore]] (slow, trusted oracle). */
  def qualityScoreHof(text: Column, stopwords: Seq[String]): Column = {
    val lenOk = when(length(text).between(50, 10000), 1.0).otherwise(0.0)
    val punctOk = when(punctRatio(text) <= 0.2, 1.0).otherwise(0.0)
    val stopOk = when(wordSetRatio(text, stopwords) >= 0.05, 1.0).otherwise(0.0)
    val tokOk = when(avgTokenLen(text).between(2.0, 12.0), 1.0).otherwise(0.0)
    (lit(0.25) * lenOk + lit(0.25) * punctOk + lit(0.25) * stopOk + lit(0.25) * tokOk)
  }

  /** Fused within-document repetition stats `struct(n_tokens,
    * distinct_token_ratio, n_grams, gram_dup_ratio)` — one kernel pass
    * (`RepetitionStats`) instead of the interpreted HOF chain (gram
    * string build + two `array_distinct`s per row). Equality with the
    * HOF twin ([[graft.ops.TextAnalysis.repetitionStatsHof]]) is
    * spec-gated.
    */
  def repetitionProfile(text: Column, gram: Int): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.expressions.RepetitionStats(
        org.apache.spark.sql.graftbridge.Bridge.expression(text), gram))

  /** Rolling-hash document fingerprint: min md5 over word k-gram windows
    * (winnowing-style, deterministic cross-engine). Fused kernel.
    */
  def fingerprint(text: Column, k: Int): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.expressions.FingerprintMin(
        org.apache.spark.sql.graftbridge.Bridge.expression(text), k))

  /** Interpreted Column twin of [[fingerprint]] (slow, trusted oracle). */
  def fingerprintHof(text: Column, k: Int): Column = {
    val toks = tokens(text)
    val windows = transform(
      sequence(lit(1), greatest(size(toks) - (k - 1), lit(1))),
      i => concat_ws(" ", slice(toks, i, lit(k))))
    array_min(transform(windows, w => md5(w)))
  }
}
