package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines.
  *
  * All are pure `Column => Column` compositions of built-in (codegen'd)
  * Catalyst expressions — no UDFs — so they stay inside whole-stage
  * codegen and scale linearly over a 100 TB `documents` scan with zero
  * shuffles. (The reference, a CDC pipeline, has no text surface; these
  * are the BASELINE.json north-star extensions.)
  */
object TextFunctions {

  /** Whitespace tokenization. `trim` first so leading/trailing blanks
    * don't produce empty tokens.
    */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Token count (whitespace tokens). */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword-aware token estimate: splits on word boundaries,
    * punctuation, and digit runs the way byte-pair tokenizers tend to —
    * a cheap `regexp_count`-style proxy for budget accounting without a
    * vocab. (~= GPT-style `'s|'t|\w+|\d+|punct` pre-tokenizer.)
    */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("'[a-z]+|[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Lowercase + whitespace-collapse normalization (shared by shingling
    * and fingerprinting).
    */
  def normalizeWs(text: Column): Column =
    lower(regexp_replace(trim(text), "\\s+", " "))

  /** Character n-gram shingles over an ALREADY-NORMALIZED text column.
    *
    * `norm` MUST be a cheap-to-evaluate column (project [[normalizeWs]]
    * into a named column first): the lambda body re-evaluates `norm`
    * once per element, so passing the normalization expression directly
    * would run the regex once per shingle — O(len²) per document.
    */
  def charShinglesOf(norm: Column, n: Int): Column = {
    val count = greatest(length(norm) - (n - 1), lit(0))
    when(count > 0,
      array_distinct(transform(sequence(lit(1), count), i => norm.substr(i, lit(n))))
    ).otherwise(array().cast("array<string>"))
  }

  /** Word n-gram shingles over an ALREADY-PROJECTED token array (see
    * [[charShinglesOf]] for why).
    */
  def wordShinglesOf(toks: Column, n: Int): Column = {
    val count = greatest(size(toks) - (n - 1), lit(0))
    when(count > 0,
      array_distinct(transform(sequence(lit(0), count - 1),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
    ).otherwise(array().cast("array<string>"))
  }

  /** Convenience one-shot form of [[wordShinglesOf]]. */
  def wordShingles(text: Column, n: Int): Column =
    wordShinglesOf(tokens(lower(text)), n)

  /** Word n-gram shingles WITH duplicates kept (no `array_distinct`) —
    * the form repetition metrics need, where how often a gram repeats is
    * the signal being measured, not noise to collapse.
    */
  def wordShinglesAllOf(toks: Column, n: Int): Column = {
    val count = greatest(size(toks) - (n - 1), lit(0))
    when(count > 0,
      transform(sequence(lit(0), count - 1),
        i => concat_ws(" ", slice(toks, i + 1, lit(n))))
    ).otherwise(array().cast("array<string>"))
  }

  /** N-gram Jaccard similarity of two texts' shingle sets. */
  def jaccard(shinglesA: Column, shinglesB: Column): Column = {
    val inter = size(array_intersect(shinglesA, shinglesB))
    val union = size(shinglesA) + size(shinglesB) - inter
    when(union === 0, lit(1.0)).otherwise(inter.cast("double") / union.cast("double"))
  }

  /** Overlap coefficient `|A∩B| / min(|A|,|B|)` of two distinct-element
    * arrays — the asymmetric containment measure (≈1.0 when the smaller
    * set sits inside the larger). Empty-vs-empty scores 1.0, mirroring
    * [[jaccard]]'s convention.
    */
  def overlapCoefficient(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    val m = least(size(a), size(b))
    when(m === 0, lit(1.0)).otherwise(inter.cast("double") / m.cast("double"))
  }

  // -------------------------------------------------------------------
  // Quality scoring
  // -------------------------------------------------------------------

  private val stopwordsEn = Seq("the", "a", "an", "of", "and", "or", "in",
    "to", "is", "for", "on", "with", "that", "this", "it", "as", "at", "by")

  private def wordRegex(words: Seq[String]): String =
    words.mkString("\\b(", "|", ")\\b")

  /** Count of English stopword occurrences. */
  def stopwordCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit(wordRegex(stopwordsEn)), lit(0)))

  /** Count of punctuation characters. */
  def punctCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[.,;:!?'\"()\\[\\]{}-]"), lit(0)))

  /** Heuristic document-quality features: the classic length / mean
    * word length / punctuation ratio / stopword ratio bundle used for
    * pretraining-corpus filtering (C4/Gopher-style rules). Returns a
    * struct so one projection computes everything in a single pass.
    */
  def qualityFeatures(text: Column): Column = {
    val nChars = length(text)
    val nWords = tokenCount(text)
    val alnum = length(regexp_replace(text, "[^A-Za-z0-9]", ""))
    struct(
      nChars.as("n_chars"),
      nWords.as("n_words"),
      (length(regexp_replace(text, "\\s", "")).cast("double") / nWords).as("mean_word_len"),
      (punctCount(text).cast("double") / nChars).as("punct_ratio"),
      (stopwordCount(text).cast("double") / nWords).as("stopword_ratio"),
      (alnum.cast("double") / nChars).as("alnum_ratio")
    )
  }

  /** Scalar quality score in [0,1]: fraction of Gopher-ish filter rules
    * a document passes.
    */
  def qualityScore(text: Column): Column = {
    val f = qualityFeatures(text)
    val rules = Seq[Column](
      f.getField("n_words").between(3, 100000),
      f.getField("mean_word_len").between(2.0, 12.0),
      f.getField("punct_ratio") < 0.3,
      f.getField("alnum_ratio") > 0.6
    )
    rules.map(r => when(r, 1).otherwise(0)).reduce(_ + _).cast("double") / rules.length
  }

  // -------------------------------------------------------------------
  // Language ID (n-gram / marker-word heuristic)
  // -------------------------------------------------------------------

  /** Marker function words per language — the standard cheap langid
    * heuristic (count closed-class word hits, argmax). Deterministic
    * tie-break: language list order.
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "you", "that", "it", "with"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "que", "pour", "dans"),
    "es" -> Seq("el", "la", "los", "y", "es", "que", "una", "por", "para"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和", "不", "这")
  )

  /** Per-language marker-hit scores as a struct column. */
  def langScores(text: Column): Column = {
    val lowered = lower(text)
    struct(langMarkers.map { case (lang, words) =>
      size(regexp_extract_all(lowered, lit(wordRegex(words)), lit(0))).as(lang)
    }: _*)
  }

  /** Predicted language = argmax of marker scores, first-listed wins
    * ties. Pure expression tree (nested CASE WHEN) — codegen'd.
    */
  def langId(text: Column): Column = {
    val s = langScores(text)
    val cols = langMarkers.map { case (lang, _) => lang -> s.getField(lang) }
    // lang i wins if its score >= all later scores and > all... first
    // max wins: score_i >= score_j for all j != i, scanning in order.
    cols.foldRight(lit(cols.last._1)) { case ((lang, score), elseCol) =>
      val laterMax = cols.dropWhile(_._1 != lang).drop(1) match {
        case Nil => lit(-1)
        case single :: Nil => single._2
        case later => greatest(later.map(_._2): _*)
      }
      when(score >= laterMax, lit(lang)).otherwise(elseCol)
    }
  }

  // -------------------------------------------------------------------
  // PII redaction
  // -------------------------------------------------------------------

  /** Sensitive-pattern regexes, chosen from the RE2/Java common subset
    * so the engine and the DuckDB oracle agree: no backrefs, no
    * lookarounds. Order matters — SSN-shaped strings must be redacted
    * before the looser phone pattern can consume them.
    */
  val piiPatterns: Seq[(String, String)] = Seq(
    "email" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "ssn" -> "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b",
    "phone" -> "\\b[0-9]{3}[-.][0-9]{3,4}[-.][0-9]{4}\\b")

  /** Count matches of one PII pattern. */
  def piiCount(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0)))

  /** Redact all PII patterns, each replaced by its `<KIND>` tag —
    * training-data scrubbing as a pure projection (one codegen'd
    * regexp_replace chain per row, no shuffle at any scale).
    */
  def redactPii(text: Column): Column =
    piiPatterns.foldLeft(text) { case (acc, (kind, pat)) =>
      regexp_replace(acc, pat, s"<${kind.toUpperCase}>")
    }

  // -------------------------------------------------------------------
  // Chunking
  // -------------------------------------------------------------------

  /** Whitespace tokens with empties dropped (split of an empty string
    * yields [""]).
    */
  def nonEmptyTokens(text: Column): Column =
    filter(split(trim(text), "\\s+"), t => length(t) > 0)

  /** Sliding-window token chunks for training-sample preparation:
    * windows of `chunkSize` tokens every `stride` tokens (overlap =
    * chunkSize − stride). Returns array<struct(start, n_tokens, fp)> —
    * one row per chunk after `explode`; the text itself is re-joined
    * only to fingerprint, so exploded rows stay narrow. Pure
    * projection + explode: no shuffle, and the ×(1/stride) row
    * multiplication is the intended output shape.
    */
  def tokenChunks(text: Column, chunkSize: Int, stride: Int): Column = {
    require(chunkSize > 0 && stride > 0, "chunkSize and stride must be positive")
    val toks = nonEmptyTokens(text)
    val n = size(toks)
    val starts = when(n > 0, sequence(lit(0), n - 1, lit(stride)))
      .otherwise(array().cast("array<int>"))
    transform(starts, start =>
      struct(
        start.cast("long").as("chunk_start"),
        least(lit(chunkSize), n - start).cast("long").as("n_tokens"),
        md5(array_join(slice(toks, start + 1, lit(chunkSize)), " ")).as("fp")))
  }

  // -------------------------------------------------------------------
  // Fingerprinting
  // -------------------------------------------------------------------

  /** Exact-dup fingerprint: md5 of the normalized text. Normalization =
    * lowercase + whitespace collapse, so trivially-reformatted copies
    * collide.
    */
  def contentFingerprint(text: Column): Column =
    md5(lower(regexp_replace(trim(text), "\\s+", " ")))
}
