package graft.operators

import graft.functions.{TextFunctions => TF}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact-substring (span-level) deduplication — the shingle-hash scale
  * approximation of suffix-array substring dedup (Lee et al. 2022,
  * "Deduplicating Training Data Makes Language Models Better"): any
  * `k`-token span that occurs more than once in the corpus is removed from
  * every document except the one canonical (first) occurrence, where
  * "first" = smallest (doc id, position).
  *
  * Differs from document-level dedup (exact / MinHash): it removes the
  * boilerplate paragraph shared by ten thousand otherwise-distinct pages
  * without dropping the pages.
  *
  * Plan shape at scale:
  *   1. positional k-grams — narrow flatMap (k× token blowup, the price the
  *      suffix-array algorithm also pays in index space);
  *   2. one groupBy on the gram (uniform key) producing (df, canonical);
  *      a map-side partial min/count keeps the shuffle to one row per
  *      distinct gram;
  *   3. one shuffle join of occurrences against the duplicated grams —
  *      filtered FIRST by `maxDf` (boilerplate grams occurring in more than
  *      `maxDf` docs are cut everywhere WITHOUT keeping a canonical copy, so
  *      no gram ever fans a hot row out to millions of matches — the same
  *      flood-cap discipline as `Dedup.candidatePairs`);
  *   4. per-doc interval union via one window over (doc, pos).
  */
object ExactSubstring {

  /** Positional k-grams: (id, pos, g), pos 1-based over the lowered
    * whitespace tokens; `g` is the portable 60-bit hash of the gram, not the
    * gram string — the agg/join key shrinks from ~50 B to 8 B, which is most
    * of this operator's shuffle volume at crawl scale. (Hash collisions can
    * in principle mark a unique span duplicated; at 2⁻⁶⁰ per pair this is
    * the same trade Lee et al.'s hash-bucketed variants make.)
    * Documents shorter than `k` tokens emit nothing.
    *
    * Hashing rides the one-pass static kernel
    * [[graft.functions.GramHash60Functions.gramHash60s]] —
    * value-identical to `transform(ngrams(text, k), hash60)` (GramHash60Spec
    * pins it) but with no intermediate gram-string array, and the explode
    * fans out 8-byte longs instead of gram strings. */
  private[graft] def occurrences(df: DataFrame, idCol: String, textCol: String,
                                 k: Int): DataFrame =
    df.select(col(idCol).cast("long").as("id"),
        posexplode(graft.functions.GramHash60Functions.gram_hash60s(col(textCol), k)))
      .select(col("id"), (col("pos") + 1).as("pos"), col("col").as("g"))

  /** Spans to cut: every non-canonical occurrence of a duplicated k-gram,
    * as (id, pos). Grams with more than `maxDf` total OCCURRENCES (whether
    * spread across documents or repeated inside one spammy page — both are
    * flood risks) are treated as boilerplate: ALL occurrences are cut, no
    * canonical survivor.
    *
    * Formulated as one window over the gram key rather than
    * groupBy + join-back: gram keys are near-unique in real corpora, so a
    * partial aggregation barely reduces before its shuffle and the join
    * would move the occurrence set a second time — the window form shuffles
    * the occurrences exactly once. */
  def cutSpans(df: DataFrame, idCol: String, textCol: String,
               k: Int = 8, maxDf: Long = 64): DataFrame = {
    // both window functions ride ONE ordered window spec: the unordered
    // count form planned a second full Sort of the occurrence table (sort
    // by g for count, then by (g, id, pos) for row_number); with matching
    // partition+order specs CollapseWindow fuses them into a single Window
    // over a single sort — count's whole-partition frame makes it the same
    // total n_occ the unordered form computed
    val wgOrd = Window.partitionBy("g").orderBy("id", "pos")
    val whole = wgOrd.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    occurrences(df, idCol, textCol, k)
      .withColumn("n_occ", count(lit(1)).over(whole))
      .withColumn("rn", row_number().over(wgOrd))
      .filter(col("n_occ") > 1 && (col("n_occ") > lit(maxDf) || col("rn") > 1))
      .select("id", "pos")
  }

  /** Per-document dedup statistics: token counts, number of cut spans, and
    * the number of tokens covered by the union of the cut [pos, pos+k)
    * intervals (cut_ratio = covered / n_tokens). */
  def stats(df: DataFrame, idCol: String, textCol: String,
            k: Int = 8, maxDf: Long = 64): DataFrame =
    statsFromCuts(df, idCol, textCol, cutSpans(df, idCol, textCol, k, maxDf), k)

  /** Per-document coverage statistics for an arbitrary (id, pos) cut list —
    * the [[stats]] aggregation factored out so cross-batch cut lists
    * ([[IncrementalDedup.incrSpanCuts]]) report through the identical
    * interval-union arithmetic (lead-window overlap clamp, 4-dp ratio). */
  private[graft] def statsFromCuts(df: DataFrame, idCol: String,
                                   textCol: String, cuts: DataFrame,
                                   k: Int): DataFrame = {
    val w = Window.partitionBy("id").orderBy("pos")
    val covered = cuts
      .withColumn("c", least(lit(k), coalesce(lead("pos", 1).over(w) - col("pos"), lit(k))))
      .groupBy("id")
      .agg(count(lit(1)).as("n_spans"), sum("c").as("n_cut"))
    df.select(col(idCol).cast("long").as("id"), TF.tokenCount(col(textCol)).as("n_tokens"))
      .join(covered, Seq("id"), "left")
      .na.fill(0, Seq("n_spans", "n_cut"))
      .withColumn("cut_ratio", round(col("n_cut").cast("double") / col("n_tokens"), 4))
  }

  /** C4-style line-level exact dedup: any line whose TRIMMED content occurs
    * more than once in the corpus is removed everywhere except its first
    * (min doc id, line number) occurrence; lines with more than `maxDf`
    * total occurrences are boilerplate and removed everywhere (occurrence
    * count, not per-document frequency — within-doc repetition is the same
    * flood risk). Documents are rebuilt from their surviving lines in
    * original order.
    *
    * Same plan skeleton as the span dedup — 60-bit trimmed-line hash as the
    * one uniform 8-byte shuffle key, a single window over it (lines move
    * once; see cutSpans for why not groupBy + join-back), then a per-doc
    * rebuild (groupBy id). A document whose every line is removed (pure
    * boilerplate) drops out of the corpus entirely. */
  def dedupLines(df: DataFrame, idCol: String, textCol: String,
                 maxDf: Long = 1000000): DataFrame =
    dedupLinesBy(df, idCol, textCol, l => TF.hash60(trim(l)), maxDf)

  /** CCNet-style fuzzy line/paragraph dedup (Wenzek et al. 2020 §4.1): the
    * dedup key is the 60-bit hash of the CCNET-NORMALIZED line (lowercase,
    * accent-fold, digit-fold, punctuation-strip — see
    * [[graft.functions.CcnetNormalize.normalize]]), so "Share on FACEBOOK - 1,234
    * Likes!" and "share on facebook 0 likes" are the same boilerplate and
    * survive once corpus-wide. Rebuilt text keeps the ORIGINAL line bytes
    * of each first occurrence — normalization only chooses the key.
    * Plan is identical to [[dedupLines]]: one 8-byte uniform shuffle key,
    * one window, one per-doc rebuild. */
  def ccnetDedupLines(df: DataFrame, idCol: String, textCol: String,
                      maxDf: Long = 1000000): DataFrame =
    dedupLinesBy(df, idCol, textCol,
      l => TF.hash60(graft.functions.CcnetNormalize.ccnet_normalize(l)), maxDf)

  /** (id, line_no, line) rows of each document's newline-split lines — the
    * ONE definition of what a "line" is, shared by every line-grain
    * operator (within-corpus dedup here, cross-batch dedup in
    * IncrementalDedup) so their keys can never drift apart. */
  private[graft] def explodeLines(df: DataFrame, idCol: String,
                                  textCol: String): DataFrame =
    df.select(col(idCol).cast("long").as("id"),
        posexplode(split(col(textCol), "\n")))
      .select(col("id"), (col("pos") + 1).as("line_no"), col("col").as("line"))

  /** Rebuild (id, n_lines_kept, text_dedup) from surviving
    * (id, line_no, line) rows — the inverse of [[explodeLines]], likewise
    * shared. A document with zero surviving lines drops out. */
  private[graft] def rebuildDocs(lines: DataFrame): DataFrame =
    lines.groupBy("id")
      .agg(count(lit(1)).as("n_lines_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("line_no"), col("line")))),
          x => x("line")), "\n").as("text_dedup"))

  /** Shared skeleton: line dedup under a caller-chosen key function. */
  def dedupLinesBy(df: DataFrame, idCol: String, textCol: String,
                   keyOf: Column => Column, maxDf: Long): DataFrame = {
    // one ordered window spec for both functions — see cutSpans: the
    // unordered count cost a second full Sort of the line table
    val wkOrd = Window.partitionBy("key").orderBy("id", "line_no")
    val whole = wkOrd.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    rebuildDocs(explodeLines(df, idCol, textCol)
      .withColumn("key", keyOf(col("line")))
      .withColumn("n_occ", count(lit(1)).over(whole))
      .withColumn("rn", row_number().over(wkOrd))
      .filter(col("n_occ") === 1 || (col("n_occ") <= lit(maxDf) && col("rn") === 1)))
  }

  /** C4 line filter (Raffel et al. 2020 §2.2): keep only lines that end in
    * a terminal punctuation mark (`.` `!` `?` `"`) and carry at least
    * `minWords` words; documents are rebuilt from the surviving lines in
    * order, and the kept-line count stands in for C4's sentence count (its
    * page gate drops pages below 5 — left to the caller as a predicate on
    * `n_lines_kept`). Menus, navigation crumbs, cookie banners and button
    * labels — the dominant non-prose crawl noise — fail both tests.
    *
    * Pure narrow work: explode → per-line predicate → per-doc rebuild (one
    * groupBy on id). Every construct is SQL-portable (space-only trim,
    * `\s+` word split, `[.!?"]$`) — q62's DuckDB oracle mirrors it. */
  /** Column-level core of the C4 line filter, shared by the standalone
    * operator below and the pipeline stage
    * ([[graft.pipeline.QualityPipeline.lineFilterStage]]):
    * struct(n_lines, kept array-of-surviving-lines).
    *
    * Line split eats an optional \r (CRLF crawl text); the punctuation
    * anchor is \z (absolute end) because Java's `$` — unlike RE2's — also
    * matches before a final \r, which would silently diverge from the
    * DuckDB oracle on any stray lone-\r line ending. trim() is evaluated
    * ONCE per line via the struct pairing: Catalyst does not CSE inside
    * higher-order-function lambdas, so the naive form trims twice. */
  def c4KeptLines(text: Column, minWords: Int = 3): Column = {
    val paired = transform(split(text, "\r?\n"),
      l => struct(l.as("line"), trim(l).as("t")))
    struct(
      size(paired).as("n_lines"),
      transform(
        filter(paired, p =>
          p("t").rlike("[.!?\"]\\z") && size(split(p("t"), "\\s+")) >= minWords),
        p => p("line")).as("kept"))
  }

  def c4LineFilter(df: DataFrame, idCol: String, textCol: String,
                   minWords: Int = 3): DataFrame =
    df.select(col(idCol).cast("long").as("id"),
        c4KeptLines(col(textCol), minWords).as("s"))
      .select(col("id"), col("s.n_lines").as("n_lines"),
        size(col("s.kept")).as("n_lines_kept"),
        array_join(col("s.kept"), "\n").as("text_filtered"))

  /** Sentence split used by the span dedup: maximal runs ending in terminal
    * punctuation (`[^.!?]+[.!?]+`), space-trimmed. Deliberately the simplest
    * deterministic rule that both Java regex and RE2 (the DuckDB oracle)
    * evaluate identically — trailing text with no terminal punctuation is
    * dropped, the same fate it meets in C4's langdetect-based splitter. */
  def sentences(text: Column): Column =
    transform(regexp_extract_all(text, lit("[^.!?]+[.!?]+"), lit(0)), s => trim(s))

  /** C4's actual dedup unit (Raffel et al. 2020 §2.2): "we discard all but
    * one of any three-sentence span occurring more than once in the data
    * set". Line dedup ([[dedupLines]]) approximates this at line granularity;
    * this is the faithful sentence-window form.
    *
    * A duplicated `span`-sentence window is kept only at its first
    * (min doc id, position) occurrence; every sentence covered by a cut
    * window is removed from its document, and the document is rebuilt from
    * the survivors in order (every input doc keeps a row — a fully-cut doc
    * surfaces as `n_kept = 0`, the drop predicate is the caller's).
    * Windows occurring more than `maxDf` times are boilerplate: all
    * occurrences cut, no canonical survivor — the same flood cap as
    * [[cutSpans]].
    *
    * Plan shape: narrow sentence split → per-doc sliding windows (hashed to
    * the 60-bit key, so the one shuffle moves 8-byte keys) → the single
    * window over the key (occurrences move once, as in [[cutSpans]]) → a
    * per-doc cut-list join + higher-order rebuild (as in [[scrub]]). */
  def dedupSpans(df: DataFrame, idCol: String, textCol: String,
                 span: Int = 3, maxDf: Long = 1000000): DataFrame = {
    val base = df.select(col(idCol).cast("long").as("id"),
      sentences(col(textCol)).as("ss"))
    // sequence(1, n) descends when n < 1 — guard short docs to an empty list.
    val windows = when(size(col("ss")) >= span,
      transform(sequence(lit(1), size(col("ss")) - (span - 1)),
        i => TF.hash60(concat_ws(" ", slice(col("ss"), i, lit(span))))))
      .otherwise(array().cast("array<long>"))
    // one ordered window spec for both functions — see cutSpans
    val wgOrd = Window.partitionBy("g").orderBy("id", "pos")
    val whole = wgOrd.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cuts = base
      .select(col("id"), posexplode(windows))
      .select(col("id"), (col("pos") + 1).as("pos"), col("col").as("g"))
      .withColumn("n_occ", count(lit(1)).over(whole))
      .withColumn("rn", row_number().over(wgOrd))
      .filter(col("n_occ") > 1 && (col("n_occ") > lit(maxDf) || col("rn") > 1))
      .groupBy("id").agg(sort_array(collect_list("pos")).as("cuts"))
    base.join(cuts, Seq("id"), "left")
      .select(col("id"), size(col("ss")).as("n_sentences"),
        filter(col("ss"), (_, i) => coalesce(
          !exists(col("cuts"), p => i + 1 >= p && i + 1 < p + span),
          lit(true))).as("kept"))
      .select(col("id"), col("n_sentences"), size(col("kept")).as("n_kept"),
        array_join(col("kept"), " ").as("text_dedup"))
  }

  /** Scrubbed corpus: each document's lowered token stream with every cut
    * span's tokens removed (id, text_dedup). Span lists ride a broadcast-or-
    * shuffle join keyed by doc id; the per-token membership test is a
    * higher-order `filter` over the collected span starts (cost O(tokens ·
    * spans-per-doc), bounded because spans per doc ≤ tokens/1). */
  def scrub(df: DataFrame, idCol: String, textCol: String,
            k: Int = 8, maxDf: Long = 64): DataFrame = {
    val spans = cutSpans(df, idCol, textCol, k, maxDf)
      .groupBy("id").agg(sort_array(collect_list("pos")).as("spans"))
    df.select(col(idCol).cast("long").as("id"), TF.tokensLower(col(textCol)).as("w"))
      .join(spans, Seq("id"), "left")
      .select(col("id"), array_join(
        filter(col("w"), (t, i) =>
          coalesce(!exists(col("spans"), p => i + 1 >= p && i + 1 < p + k), lit(true))),
        " ").as("text_dedup"))
  }
}
