package graft.operators

import graft.SparkSpecBase
import graft.sources.StateLake
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** The Bloom-prefiltered operators take their filters as an argument. Both
  * ways of supplying them must give the same answer, and that answer is the
  * exact anti / semi join:
  *   - "built": one [[IncrementalDedup.buildFilterArray]] pass over the
  *     whole history;
  *   - "merged": two per-batch sidecar contributions, each built over one
  *     half of the history, written with [[StateLake.writeBloom]] and merged
  *     by [[StateLake.readBloom]] — what a lake-backed daily step probes. */
class IncrementalDedupSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    .select($"doc_id".cast("long").as("doc_id"), $"text").cache()

  /** Filters over `key` of h0 ∪ h1 from both sources, B = 2 shards. The
    * merged array must equal the built one bit for bit: a Bloom insert is
    * deterministic, so OR-ing per-batch filters of equal sizing gives the
    * filter of the union. */
  private def bothSources(h0: DataFrame, h1: DataFrame, key: String,
                          items: Long): Seq[(String, Array[BloomFilter])] = {
    val dir = java.nio.file.Files.createTempDirectory("prefilter").toString + "/bloom"
    for ((h, b) <- Seq(h0, h1).zipWithIndex)
      assert(StateLake.writeBloom(spark,
        IncrementalDedup.buildFilterArray(h, key, items, shards = 2), dir, b))
    val built = IncrementalDedup.buildFilterArray(h0.unionByName(h1), key, items,
      shards = 2)
    val merged = StateLake.readBloom(spark, dir)
    assert(merged.toSeq == built.toSeq, s"merged sidecar filters differ from built ($key)")
    Seq("built" -> built, "merged" -> merged)
  }

  /** `rows` of a prefiltered result, its broadcast released after the action. */
  private def run[A](pf: IncrementalDedup.Prefiltered)(rows: DataFrame => A): A = {
    val out = rows(pf.df)
    pf.release()
    out
  }

  private def ids(df: DataFrame): Seq[Long] =
    df.select("doc_id").as[Long].collect().sorted.toSeq

  // exact dedup: history = every 3rd doc, split at doc 300 into two batches
  private lazy val digests = docs.select($"doc_id", md5($"text").as("digest"))
  private lazy val hist0 = digests.filter($"doc_id" % 3 === 0 && $"doc_id" < 300)
  private lazy val hist1 = digests.filter($"doc_id" % 3 === 0 && $"doc_id" >= 300)

  test("newOnly: built and merged-sidecar filters both equal the exact anti-join") {
    val history = hist0.unionByName(hist1)
    val want = ids(digests.join(history.select("digest"), Seq("digest"), "left_anti"))
    assert(want.nonEmpty && want.length < digests.count())
    for ((src, fs) <- bothSources(hist0, hist1, "digest", 1 << 12))
      assert(run(IncrementalDedup.newOnly(digests, history, "digest", fs))(ids) == want, src)
  }

  test("seenOnly: built and merged-sidecar filters both equal the exact semi-join") {
    val history = hist0.unionByName(hist1)
    val want = ids(digests.join(history.select("digest"), Seq("digest"), "left_semi"))
    assert(want.nonEmpty)
    for ((src, fs) <- bothSources(hist0, hist1, "digest", 1 << 12))
      assert(run(IncrementalDedup.seenOnly(digests, history, "digest", fs))(ids) == want, src)
  }

  test("newOnly / seenOnly over a bigint digest equal the exact anti / semi joins") {
    // the probe reads a digest as a string; the build must key a bigint
    // digest on the same form, or every probe misses (duplicates admitted,
    // seen rows lost)
    val longDigests = docs.select($"doc_id", xxhash64($"text").as("digest"))
    val history = longDigests.filter($"doc_id" % 3 === 0)
    val anti = ids(longDigests.join(history.select("digest"), Seq("digest"), "left_anti"))
    val semi = ids(longDigests.join(history.select("digest"), Seq("digest"), "left_semi"))
    assert(anti.nonEmpty && semi.nonEmpty)
    for ((src, fs) <- bothSources(history.filter($"doc_id" < 300),
                                  history.filter($"doc_id" >= 300), "digest", 1 << 12)) {
      assert(run(IncrementalDedup.newOnly(longDigests, history, "digest", fs))(ids) == anti, src)
      assert(run(IncrementalDedup.seenOnly(longDigests, history, "digest", fs))(ids) == semi, src)
    }
  }

  test("newLinesOnly: built and merged-sidecar filters both equal the exact anti-join") {
    // every doc ends in a boilerplate footer variant; the even-id half is
    // history, split at doc 300 into two batches
    val withFooter = docs.select($"doc_id",
      concat($"text", when($"doc_id" % 2 === 0, lit("\nShare on FACEBOOK - 1,234 Likes!!!"))
        .otherwise(lit("\nshare   on facebook 0000 likes"))).as("text"))
    def lines(df: DataFrame) =
      IncrementalDedup.lineDigests(df, "doc_id", "text").select("line_digest")
    val h0 = lines(withFooter.filter($"doc_id" % 2 === 0 && $"doc_id" < 300))
    val h1 = lines(withFooter.filter($"doc_id" % 2 === 0 && $"doc_id" >= 300))
    val batch = withFooter.filter($"doc_id" % 2 === 1)
    def rows(df: DataFrame) = df.select("id", "n_lines_kept", "text_dedup")
      .as[(Long, Long, String)].collect().sorted.toSeq
    val want = rows(ExactSubstring.rebuildDocs(
      IncrementalDedup.lineDigests(batch, "doc_id", "text")
        .join(h0.unionByName(h1), Seq("line_digest"), "left_anti")))
    assert(want.nonEmpty && want.forall(!_._3.contains("facebook")))
    for ((src, fs) <- bothSources(h0, h1, "line_digest", 1 << 14))
      assert(run(IncrementalDedup.newLinesOnly(batch, h0.unionByName(h1), "doc_id", "text",
        fs))(rows) == want, src)
  }

  // span dedup: history = the first 200 docs as two gram tables (split at
  // doc 100); batch = suffix mutants of every 5th history doc, so most of
  // each mutant's grams are history grams
  private lazy val spanHist = docs.filter($"doc_id" < 200)
  private lazy val grams0 =
    IncrementalDedup.spanGramTable(spanHist.filter($"doc_id" < 100), "doc_id", "text")
  private lazy val grams1 =
    IncrementalDedup.spanGramTable(spanHist.filter($"doc_id" >= 100), "doc_id", "text")
  private lazy val spanBatch = spanHist.filter($"doc_id" % 5 === 0)
    .select(($"doc_id" + 1000000L).as("doc_id"),
      array_join(slice(split(trim($"text"), "\\s+"), 3, 1000000), " ").as("text"))
  private def gramFilters =
    bothSources(grams0.select(IncrementalDedup.gramDigest),
      grams1.select(IncrementalDedup.gramDigest), "g_digest", 1 << 16)
  private lazy val exactCross =
    ExactSubstring.occurrences(spanBatch, "doc_id", "text", 8)
      .join(grams0.unionByName(grams1).select("g"), Seq("g"), "left_semi")
      .select("id", "pos")

  test("crossSpanCuts: built and merged-sidecar filters both equal the exact semi-join") {
    def rows(df: DataFrame) = df.as[(Long, Int)].collect().sorted.toSeq
    val want = rows(exactCross)
    assert(want.nonEmpty)
    for ((src, fs) <- gramFilters)
      assert(run(IncrementalDedup.crossSpanCuts(spanBatch, grams0.unionByName(grams1),
        "doc_id", "text", 8, fs))(rows) == want, src)
  }

  test("incrSpanStats: built and merged-sidecar filters both equal the exact-join stats") {
    def rows(df: DataFrame) = df.select("id", "n_tokens", "n_spans", "n_cut")
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    val exactCuts = ExactSubstring.cutSpans(spanBatch, "doc_id", "text", 8, 64)
      .unionByName(exactCross).distinct()
    val want = rows(ExactSubstring.statsFromCuts(spanBatch, "doc_id", "text", exactCuts, 8))
    assert(want.exists(_._4 > 0))
    for ((src, fs) <- gramFilters)
      assert(run(IncrementalDedup.incrSpanStats(spanBatch, grams0.unionByName(grams1),
        "doc_id", "text", 8, 64, fs))(rows) == want, src)
  }
}
