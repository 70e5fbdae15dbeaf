package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for the LLM-data-pipeline surface
  * (SURVEY.md §7 step 8). All are pure `org.apache.spark.sql.functions`
  * compositions — whole-stage-codegen friendly, no UDFs — so they stay
  * inside Tungsten on a 1000-executor scan of a 100 TB corpus.
  */
object Text {

  /** Whitespace tokenization (collapses runs; empties dropped; empty and
    * whitespace-only text yields an EMPTY array). Backed by the same
    * single-pass codegen'd tokenizer the dedup hot paths use
    * (`TextExpressions.TokensExpr`) — the previous
    * `filter(split(trim(regexp_replace(...))))` composition evaluated an
    * interpreted lambda plus two regexes per row across the dozen corpus
    * queries that tokenize every document.
    */
  def tokens(text: Column): Column = TextExpressions.word_tokens(text)

  /** First `hexChars` md5 hex chars of `key` as a BIGINT — the shared
    * content-hash primitive behind every deterministic keep/route
    * decision (hash-split buckets, mixture-sampling fractions):
    * reproducible across engines (md5 is the one hash Spark and DuckDB
    * share) and across retried tasks (rand() re-rolls under partial
    * stage recompute). `hexChars` ≤ 15 keeps the value in a positive
    * BIGINT.
    */
  def md5PrefixLong(key: Column, hexChars: Int): Column = {
    require(hexChars >= 1 && hexChars <= 15, s"md5PrefixLong: 1..15 hex chars, got $hexChars")
    // the 13-char (52-bit) width every sampling/sketching face uses has
    // a dedicated digest-to-long expression (no hex round-trip); other
    // widths keep the literal SQL shape the oracles replay
    if (hexChars == 13) ScaleExpressions.md5Prefix52(key)
    else conv(substring(md5(key), 1, hexChars), 16, 10).cast("long")
  }

  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  def distinctTokenCount(text: Column): Column =
    size(array_distinct(tokens(text))).cast("long")

  val DefaultStopwords: Seq[String] = Seq("the", "a", "and", "of", "to")

  def stopwordCount(text: Column, stops: Seq[String] = DefaultStopwords): Column =
    size(filter(tokens(text), t => t.isin(stops: _*))).cast("long")

  /** NULL on zero tokens (a 0/0 would throw under ANSI mode). */
  def stopwordRatio(text: Column, stops: Seq[String] = DefaultStopwords): Column = {
    val n = tokenCount(text)
    when(n === 0, lit(null).cast("double"))
      .otherwise(stopwordCount(text, stops).cast("double") / n.cast("double"))
  }

  /** NULL on empty text (a 0/0 would throw under ANSI mode). */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, lit(null).cast("double"))
      .otherwise(
        (length(text) - length(regexp_replace(text, "[\\p{Punct}]", "")))
          .cast("double") / length(text).cast("double"))

  /** n-gram heuristic language ID: stopword density proxies
    * English-likeness; everything is otherwise bucketed by length. A real
    * model would replace the CASE; the shape (pure column expr over a
    * scan, no shuffle) is the scale path.
    */
  def langIdHeuristic(text: Column): Column =
    when(stopwordRatio(text) >= 0.1, lit("en_like"))
      .when(tokenCount(text) < 5, lit("short"))
      .otherwise(lit("other"))

  /** Composite quality score in [0,1]: length saturation + lexical
    * diversity. Deterministic; mirrors common pretraining-data filters.
    */
  def qualityScore(text: Column): Column = {
    val n = tokenCount(text).cast("double")
    val d = distinctTokenCount(text).cast("double")
    // NULL for empty text: no tokens to score (0/0 throws under ANSI)
    when(n === 0, lit(null).cast("double"))
      .otherwise(round(lit(0.5) * least(lit(1.0), n / 200.0) + lit(0.5) * (d / n), 6))
  }

  /** CCNet-style normalization (lowercase, strip diacritics, digits→0,
    * collapse whitespace) — the standard pre-dedup transform; see
    * [[graft.functions.TextOps.normalizeCc]] for the contract.
    */
  def normalizeCc(text: Column): Column = TextExpressions.normalize_cc(text)

  /** Content-defined document fingerprint: md5 of the sorted token bag.
    * Invariant under token reordering — catches shuffled near-copies that
    * exact-text dedup misses. md5 is shared with the DuckDB oracle.
    */
  def bagFingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(tokens(text))))

  /** Fixed-token-window document chunking with overlap (the standard
    * pretraining/RAG windowing step): chunk i covers tokens
    * `[i*stride, i*stride + chunkTokens)`, `stride = chunkTokens -
    * overlap`; the tail chunk may be shorter. Pure column expressions —
    * one array per row, no explode until the caller asks.
    */
  def chunks(text: Column, chunkTokens: Int, overlap: Int): Column = {
    require(chunkTokens > overlap && overlap >= 0, "need chunkTokens > overlap >= 0")
    val t = tokens(text)
    val stride = chunkTokens - overlap
    val nChunks = greatest(
      lit(1),
      ceil((size(t) - lit(overlap)).cast("double") / stride).cast("int"))
    transform(
      sequence(lit(0), nChunks - 1),
      i => concat_ws(" ", slice(t, i * stride + 1, lit(chunkTokens))))
  }

  /** First matching drop-reason of a C4/RefinedWeb-style quality filter
    * chain, 'keep' if none: too_short → too_stoppy → too_punct →
    * too_repetitive. Thresholds are caller-supplied; evaluation is one
    * scan-only CASE expression.
    */
  def filterReason(
      text: Column,
      minTokens: Int = 20,
      maxStopRatio: Double = 0.12,
      maxPunctRatio: Double = 0.2,
      minDistinctRatio: Double = 0.35
  ): Column =
    when(tokenCount(text) < minTokens, lit("too_short"))
      .when(stopwordRatio(text) > maxStopRatio, lit("too_stoppy"))
      .when(punctRatio(text) > maxPunctRatio, lit("too_punct"))
      .when(
        distinctTokenCount(text).cast("double") / tokenCount(text).cast("double")
          < minDistinctRatio,
        lit("too_repetitive"))
      .otherwise(lit("keep"))

  /** PII patterns for redaction — deliberately RE2-compatible (no
    * lookaround, no backreferences) so Spark's Java regex and DuckDB's
    * RE2 find the identical match set, and shared verbatim with the
    * oracle. Simple by design: a production deployment would extend the
    * pattern list, not the mechanism.
    */
  val EmailPattern: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern: String = "\\+\\d{1,3}-\\d{3}-\\d{3,4}-\\d{4}"

  /** One valid IPv4 octet, 0-255 — rejects 256-999 so version-like
    * strings and garbage dotted runs ('999.999.999.999') don't redact,
    * but ACCEPTS zero-padded forms ('01', '007', '010') via the
    * `0\d{1,2}` alternative: zero-padded logs write '10.0.0.01' and an
    * under-redacting PII pass is the bad direction to fail. Over-long
    * zero-padded octets ('0255') still never match: `0\d{1,2}` consumes
    * at most 3 chars and the following `\.`/`\b` can't land mid-number.
    * Alternation order matters under leftmost-first matching and is the
    * same in both engines.
    */
  val Ipv4Octet: String = "(25[0-5]|2[0-4]\\d|1\\d\\d|0\\d{1,2}|[1-9]?\\d)"

  /** Known over-match, accepted and shared with the oracle: in a LONGER
    * dotted run of valid octets ('1.2.3.4.5') the first four octets
    * still match — `\b` can't see the trailing '.5' — so redaction
    * yields '<IP>.5'. Excluding that would need lookaround, which RE2
    * (the oracle engine) doesn't support.
    */
  val Ipv4Pattern: String = s"\\b$Ipv4Octet(\\.$Ipv4Octet){3}\\b"

  /** Count of matches of `pattern` in `text`. Counts are evaluated
    * per-pattern on the RAW pre-redaction text, so one span may be
    * counted under multiple categories (an email whose domain looks
    * like an IP counts as both) even though sequential `redactPii`
    * replaces it exactly once — totals may exceed what redaction
    * removes. The oracle counts the same way, so the contract is
    * consistent; callers needing reconciled counts should diff the
    * text before/after each redaction stage instead.
    */
  def piiCount(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0))).cast("long")

  /** PII REDACTION (the curation step every pretraining corpus runs
    * before the data leaves quarantine): emails, then dashed
    * international phone numbers, then IPv4 addresses are replaced by
    * typed placeholder tokens. Order matters and is part of the
    * contract: emails go first because their local part may embed
    * digit/dot runs an IP pass would chew mid-address. Three codegen'd
    * `regexp_replace`s over the scan — no shuffle, no UDF, applies at
    * any corpus size.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailPattern, "<EMAIL>"),
        PhonePattern,
        "<PHONE>"),
      Ipv4Pattern,
      "<IP>")

  /** Word n-gram shingles as an array column (null-free, distinct).
    * `transform` over `sequence` keeps it codegen'd; no explode until the
    * caller asks for one.
    */
  def shingles(text: Column, n: Int): Column = {
    val t = tokens(text)
    array_distinct(
      when(
        size(t) >= n,
        transform(sequence(lit(0), size(t) - n), i => concat_ws(" ", slice(t, i + 1, lit(n))))
      ).otherwise(array())
    )
  }
}
