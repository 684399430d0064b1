package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for large-scale corpus pipelines:
  * normalization, tokenization, quality scoring, language ID,
  * fingerprinting, shingling. All pure narrow maps over codegen'd
  * built-ins — zero shuffle, so they stream through a 100 TB scan.
  */
object TextFunctions {

  /** Canonical normalization: lower-case, strip non-alphanumerics,
    * collapse whitespace. The anchor for exact dedup + fingerprints. */
  def normText(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", " "), " +", " "))

  /** Whitespace tokens of the normalized text. */
  def tokens(c: Column): Column = split(normText(c), " ")

  /** Token count (0 for empty text). */
  def tokenCount(c: Column): Column =
    when(length(normText(c)) === 0, lit(0)).otherwise(size(tokens(c)))

  /** Punctuation ratio: non-alphanumeric-non-space chars / chars. */
  def punctRatio(c: Column): Column =
    when(length(c) === 0, lit(0.0)).otherwise(
      (length(c) - length(regexp_replace(c, "[^a-zA-Z0-9 ]", ""))).cast("double") /
        length(c).cast("double"))

  val StopWords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "for", "on", "with", "as", "at", "by", "from", "that", "this", "be")

  /** Fraction of tokens that are stopwords — a fluency signal used by
    * corpus quality filters (Gopher/C4-style heuristics). */
  def stopwordRatio(c: Column): Column = stopwordRatioOfTokens(tokens(c))

  /** Composite quality score in [0,1] from PRE-COMPUTED raw components
    * — the single definition of the weights/thresholds (keep the
    * oracle SQL replicas in QueriesText in sync). */
  def qualityScoreOf(nTokens: Column, punct: Column, stop: Column): Column =
    least(nTokens.cast("double") / 50.0, lit(1.0)) * 0.4 +
      greatest(lit(0.0), lit(1.0) - punct * 5.0) * 0.3 +
      least(stop * 5.0, lit(1.0)) * 0.3

  /** Composite quality score in [0,1]: rewards mid-length docs, low
    * punctuation, presence of stopwords (C4/Gopher-style). Convenience
    * form over raw text — hot paths should materialize tokens and use
    * qualityScoreOf. */
  def qualityScore(c: Column): Column =
    round(qualityScoreOf(tokenCount(c), punctRatio(c), stopwordRatio(c)), 6)

  /** Marker stopwords per language for the n-gram-heuristic language
    * ID (deterministic, resolves ties by language order). */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is", "with"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "es" -> Seq("el", "los", "las", "una", "es"),
    "zh" -> Seq("de", "shi", "le", "zai", "he"))

  /** Predicted language: argmax of marker hits, 'und' when all zero.
    * Ties resolve in LangMarkers order (en first). Convenience form —
    * hot paths should materialize [[langScoresOfTokens]] into a column
    * and argmax with [[langIdOfScores]] (see the CSE note below). */
  def langId(c: Column): Column = langIdOfTokens(tokens(c))

  // ── tokens-column variants ──────────────────────────────────────
  // For hot paths: compute `tokens(text)` ONCE into a column and feed
  // it here — the inline forms above re-evaluate the regex
  // normalization inside each HOF lambda (no CSE through lambdas).

  def tokenCountOfTokens(toks: Column): Column =
    when(size(toks) === 1 && element_at(toks, 1) === "", lit(0)).otherwise(size(toks))

  def stopwordRatioOfTokens(toks: Column): Column = {
    // 20-element isin crosses the optimizer's InSet threshold: one
    // hash-set probe per token instead of 20 chained equalities
    val hits = size(filter(toks, t => t.isin(StopWords: _*)))
    when(size(toks) === 0, lit(0.0))
      .otherwise(hits.cast("double") / size(toks).cast("double"))
  }

  /** All five language scores bundled as one struct column. Hot paths
    * materialize THIS in a projection, then argmax over the struct
    * fields with [[langIdOfScores]] in the next projection — Catalyst
    * does not common-subexpression-eliminate through HOF lambdas, so
    * an inline argmax re-evaluates every score expression wherever the
    * `when` chain references it (~3x plan cost, VERDICT r1). */
  def langScoresOfTokens(toks: Column): Column =
    struct(LangMarkers.map { case (lang, ms) =>
      size(filter(toks, t => t.isin(ms: _*))).as(s"s_$lang")
    }: _*)

  /** Argmax over a MATERIALIZED [[langScoresOfTokens]] struct column:
    * struct-field reads are cheap, so re-references in the tie-break
    * chain cost nothing. Ties resolve in LangMarkers order. */
  def langIdOfScores(scores: Column): Column = {
    val s = LangMarkers.map { case (lang, _) => (lang, scores.getField(s"s_$lang")) }
    val best = s.map(_._2).reduce((a, b) => greatest(a, b))
    s.foldLeft(when(lit(false), lit("und"))) {
      case (acc, (lang, sc)) => acc.when(sc === best && best > 0, lit(lang))
    }.otherwise(lit("und"))
  }

  /** One-shot language ID over a tokens column — inline form; prefer
    * materializing langScoresOfTokens on hot paths (see its note). */
  def langIdOfTokens(toks: Column): Column = langIdOfScores(langScoresOfTokens(toks))

  /** Longest run of equal adjacent elements in a SORTED string array —
    * the per-document top-n-gram count as a zero-shuffle narrow map
    * (sort_array + one fold), instead of exploding every n-gram of the
    * corpus through a groupBy shuffle. Doc-local repetition signals
    * (Gopher top-2-gram fraction etc.) never need cross-document
    * state, so at 100 TB they must stream through the scan. */
  def maxRunLength(sorted: Column): Column = {
    val st0 = struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best"))
    aggregate(sorted, st0, (st, x) => {
      val run = when(x === st.getField("prev"), st.getField("run") + 1)
        .otherwise(lit(1L))
      struct(x.as("prev"), run.as("run"),
        greatest(st.getField("best"), run).as("best"))
    }).getField("best")
  }

  /** Content fingerprint: md5 of normalized text (the reference uses
    * md5 unique-ids, experiment_cleaner.py:340; here anchored on
    * normalized content so near-identical whitespace/punct variants
    * collapse). */
  def fingerprint(c: Column): Column = md5(normText(c))

  /** BPE-ish pre-tokenization: letter runs, digit runs, and punct runs
    * as separate tokens (GPT-2-style regex simplified to an RE2-safe
    * subset — no lookaheads, so the exact pattern is portable to the
    * oracle). */
  val BpePattern = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]+"
  def bpeTokens(c: Column): Column = regexp_extract_all(c, lit(BpePattern), lit(0))
  def bpeTokenCount(c: Column): Column = size(bpeTokens(c))

  /** Polynomial rolling hash over the token stream (the brief's
    * document fingerprint): h = (h * 31 + tokenHash) mod 2^40 —
    * order-sensitive, unlike the md5 set fingerprint, so reordered
    * documents get different fingerprints. */
  def rollingFingerprint(toks: Column): Column =
    aggregate(toks, lit(0L), (acc, t) =>
      pmod(pmod(acc, lit(1099511627776L)) * 31 + pmod(xxhash64(t), lit(1048576L)),
        lit(1099511627776L)))

  /** ENGINE-PORTABLE rolling fingerprint: the same h = (h*31 + th)
    * mod 2^40 recurrence as [[rollingFingerprint]] but with the
    * per-token hash drawn from md5 (first 5 hex chars = 20 bits)
    * instead of Spark-internal xxhash64 — any engine with md5 and an
    * ordered list fold can replay it bit-for-bit (the simhashPortable
    * pattern, Dedup.scala). Costs one md5 per token vs one xxhash64;
    * prefer [[rollingFingerprint]] when cross-engine parity is not
    * required. */
  def rollingFingerprintPortable(toks: Column): Column =
    aggregate(toks, lit(0L), (acc, t) =>
      pmod(acc * 31 + conv(substring(md5(t), 1, 5), 16, 10).cast("long"),
        lit(1099511627776L)))

  /** Token n-gram shingles over a MATERIALIZED tokens column (pass a
    * column reference, not `tokens(text)` — Catalyst does not
    * common-subexpression-eliminate through higher-order-function
    * lambdas, so an inline expression would re-run the whole regex
    * normalization once per shingle index: O(n²) per document). */
  def shinglesOfTokens(toks: Column, n: Int): Column =
    when(size(toks) < n, array(concat_ws(" ", toks)))
      .otherwise(transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))

  /** Convenience one-shot form — only for tiny inputs / tests; real
    * pipelines should materialize tokens first (see shinglesOfTokens). */
  def shingles(c: Column, n: Int): Column = shinglesOfTokens(tokens(c), n)
}
