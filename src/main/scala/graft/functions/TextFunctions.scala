package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis building blocks for the web-text pipeline, composed from
  * codegen'd built-ins (`org.apache.spark.sql.functions`) so they stay inside
  * whole-stage codegen and push down/prune like any native expression.
  *
  * Conventions are deliberately portable (same semantics expressible in
  * ANSI/DuckDB SQL) so driver-side oracles can verify them exactly:
  * tokenization = whitespace split of trimmed text; the portable 60-bit hash
  * is the first 15 hex digits of md5 (exact in both engines).
  */
object TextFunctions {

  /** Whitespace tokens of trimmed text (canonical tokenizer of the engine). */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  def tokensLower(text: Column): Column = split(lower(trim(text)), "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Non-whitespace character count (used for mean word length). */
  def charCount(text: Column): Column = length(regexp_replace(text, "\\s", ""))

  /** Portable deterministic 60-bit hash of a string (first 15 hex of md5).
    * DuckDB equivalent: CAST(('0x'||substr(md5(s),1,15)) AS UBIGINT). */
  def hash60(c: Column): Column = conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Word k-grams (space-joined) of the lowered token array; `distinct`
    * toggles set semantics (shingles) vs multiset (repetition counting).
    * Empty array when fewer than k tokens. */
  def ngrams(text: Column, k: Int, distinct: Boolean): Column = {
    val w = tokensLower(text)
    val grams = transform(sequence(lit(0), size(w) - k),
      j => concat_ws(" ", (0 until k).map(o => element_at(w, j + o + 1)): _*))
    when(size(w) >= k, if (distinct) array_distinct(grams) else grams)
      .otherwise(array().cast("array<string>"))
  }

  /** Distinct word k-shingles — the dedup/decontamination convention. */
  def shingles(text: Column, k: Int): Column = ngrams(text, k, distinct = true)

  /** Distinct word-k-shingles hashed to 64-bit longs (xxhash64) — the
    * Jaccard-verify representation: |A∩B|/|A∪B| over the hashed sets
    * equals the string-set Jaccard up to 2⁻⁶⁴ collisions (the same trade
    * every hash60 key makes), while the per-pair arrays shuffle ~4×
    * smaller and intersect over primitive equality instead of strings.
    * Computed by the one-pass [[ShingleHashesFunctions.shingleHashes]]
    * kernel — value-identical to the declarative
    * `transform(shingles(text, k), xxhash64)` it replaced
    * (ShingleHashesSpec pins the equality), ~8× faster on the verify side
    * of the near-dup paths. */
  def shingleHashes(text: Column, k: Int): Column =
    ShingleHashesFunctions.shingle_hashes(text, k)

  /** Document fingerprint: md5 of the lowercased text with all non-word
    * characters removed — robust to whitespace/punctuation reflow. */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(text), "[^a-z0-9가-힣]", ""))

  // --- Gopher/C4-style quality signals ---------------------------------

  def meanWordLen(text: Column): Column =
    charCount(text).cast("double") / tokenCount(text)

  /** Fraction of tokens containing at least one ASCII letter (lowered). */
  def alphaWordRatio(text: Column): Column = {
    val w = tokensLower(text)
    size(filter(w, x => x.rlike("[a-z]"))).cast("double") / size(w)
  }

  /** (# of '#' or ellipsis chars) / word count (Gopher symbol-to-word). */
  def symbolToWordRatio(text: Column): Column = {
    val hashes = length(text) - length(regexp_replace(text, "#", ""))
    val ellipses = length(text) - length(regexp_replace(text, "…", ""))
    (hashes + ellipses).cast("double") / tokenCount(text)
  }

  /** BPE-ish subword tokenization count: GPT-2-style pretokenizer pattern,
    * simplified to lookahead-free so the same pattern runs under java.util.regex
    * and RE2 (DuckDB oracle): contractions | space+letters | space+digits |
    * space+punct-run | whitespace-run. */
  val bpePattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"

  def bpeTokenCount(text: Column): Column = regexp_count(text, lit(bpePattern))

  /** Gopher line-shape rules (Rae et al. 2021): fraction of lines starting
    * with a bullet marker and fraction ending with an ellipsis — crawl-noise
    * shapes (nav lists, truncated teasers) that word-level signals cannot
    * see. ONE `\r?\n` split + trim shared by both fractions; `\z` anchors
    * (not `$`, which Java also matches before a final `\r`) keep the
    * semantics identical to an RE2-based oracle. */
  def lineShapeSignals(text: Column): Column = {
    val ls = transform(split(text, "\r?\n"), l => trim(l))
    val n = size(ls)
    struct(
      n.as("n_lines"),
      (size(filter(ls, l => l.rlike("^[•*-]"))).cast("double") / n).as("frac_bullet"),
      (size(filter(ls, l => l.rlike("(\\.\\.\\.|…)\\z"))).cast("double") / n).as("frac_ellipsis"))
  }

  val stopwords: Seq[String] = Seq("the", "a", "of", "to", "and", "in", "is", "that")

  /** How many of the canonical stopwords occur as tokens (C4 requires ≥ a
    * minimum number of stopword hits). */
  def stopwordHits(text: Column): Column = {
    val w = tokensLower(text)
    size(filter(array(stopwords.map(lit): _*), sw => array_contains(w, sw)))
  }
}
