package graft.queries

import graft.functions.{PiiFunctions, QualityFunctions, UrlFunctions, TextFunctions => TF}
import graft.operators.{Dedup, Sampling, Similarity}
import graft.pipeline.{QualityPipeline, SyntheticPages}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data-pipeline operator coverage over `documents`/`embeddings`:
  * dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard), similarity search,
  * text analysis, PII detection/scrub, and the full quality pipeline.
  *
  * Oracle-checkable queries use only portable constructs (md5-based hash60,
  * whitespace tokenization, double arithmetic on exact ints); detector/
  * pipeline queries are deterministic but not SQL-expressible → rows-only.
  */
object TextQueries {
  /** The driver fixtures are single-row-group parquet files (one input
    * split); real crawl input arrives as thousands of splits. Repartition to
    * default parallelism so per-row work (detect/minhash/scrub) runs wide —
    * the 1-file shuffle is negligible next to the per-row compute.
    * CONDITIONAL on the scan's split count: input already wider than the
    * session's parallelism (the 100-TB case — thousands of splits) skips
    * the repartition, so the shared text-query path never buys a
    * full-corpus shuffle it doesn't need. Split-count inspection is
    * planning-time metadata (no job). */
  private def docs(s: SparkSession, dir: String): DataFrame = {
    val base = s.read.parquet(s"$dir/documents.parquet")
    val target = s.sparkContext.defaultParallelism * 2
    if (base.rdd.getNumPartitions >= target) base else base.repartition(target)
  }
  /** No-repartition variant for queries whose per-row work is trivial
    * (filter/projection only): the fixture's 1-split scan is fine there, and
    * at real scale a shuffle ahead of a selective filter just doubles I/O. */
  private def rawDocs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
  private def embs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** documents ∪ deterministic near-duplicates (doc_id+1000000, first two
    * tokens dropped) — gives the dedup operators real positives. */
  private def docsWithNearDups(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select("doc_id", "text")
    val mutated = d.filter(col("doc_id") % 25 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        array_join(slice(TF.tokens(col("text")), 3, 1000000), " ").as("text"))
    d.unionByName(mutated)
  }

  /** Known-good prose paragraphs (> 200 chars, no quotes — embedded verbatim
    * in the q68 oracle SQL literal) that sandwich the body text in the q68
    * HTML-extraction construction. */
  private val ExtractProse1: String = "The committee published its annual findings " +
    "on river water quality this week, noting a steady improvement across all " +
    "monitored basins since the new treatment plants came online in the spring " +
    "of last year."
  private val ExtractProse2: String = "Local officials credited the change to " +
    "sustained investment in wastewater infrastructure and to stricter enforcement " +
    "of discharge permits, while cautioning that two downstream stations still " +
    "show elevated nitrate levels."

  /** Deterministic on-domain text for the DSIR query/specs: all 20 planted
    * physics words in an id-rotated order (step 7 is coprime to 20, so every
    * doc carries the full vocabulary — identical unigram distribution,
    * distinct texts). `offset` decouples the target sample from the planted
    * candidates: DSIR must match the DISTRIBUTION, not the exact strings. */
  private[graft] val DsirVocab: Seq[String] = Seq(
    "electron", "proton", "neutron", "quark", "photon", "lepton", "boson",
    "hadron", "spectrum", "orbital", "isotope", "plasma", "quantum",
    "particle", "collider", "detector", "momentum", "neutrino", "muon", "gluon")
  private[graft] def dsirDomainText(id: org.apache.spark.sql.Column,
                                      offset: Int): org.apache.spark.sql.Column =
    concat_ws(" ", (0 until 24).map(j =>
      element_at(array(DsirVocab.map(lit): _*),
        pmod(id + lit(j * 7 + offset), lit(DsirVocab.size)).cast("int") + 1)): _*)

  /** q67 helper: duplicate-shape fraction with the zero-element guard
    * (ANSI-safe; mirrored by the CASE in the oracle SQL). */
  private def dsFrac(num: String, den: String): org.apache.spark.sql.Column =
    when(col(s"ds.$den") > 0, col(s"ds.$num").cast("double") / col(s"ds.$den"))
      .otherwise(lit(0.0))

  /** q71/q72 link-construction target: deterministic per-doc outlink URL
    * (`https://site-{(id·m+a) mod 40}.example.com/p{id}`). */
  private def linkTarget(id: org.apache.spark.sql.Column, mult: Int,
                         add: Int): org.apache.spark.sql.Column =
    concat(lit("https://site-"), pmod(id * mult + add, lit(40)).cast("int").cast("string"),
      lit(".example.com/p"), id.cast("string"))

  /** q70 mojibake construction: `MojiClean` is appended UTF-8→cp1252-damaged
    * (at runtime — no mojibake literals in source) and must repair exactly;
    * `MojiIntact` is appended correct and must survive untouched. Unicode
    * escapes keep the source ASCII-safe. */
  private val MojiClean: String = " caf\u00E9 \u2014 d\u00E9j\u00E0 vu " +
    "\u00ABquoted\u00BB \u00A9 2026 na\u00EFve\u2026"
  private val MojiIntact: String = " intact: fran\u00E7ais \u0153uvre"

  /** Deterministic messy URL per doc — exercises every canonicalization
    * rule (scheme/host case, www, default port, tracking params, fragment);
    * mirrored verbatim in the q36 oracle SQL. */
  private def synthUrl(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column = concat(
    when(id % 2 === 0, lit("HTTPS://WWW.")).otherwise(lit("https://")),
    lit("Site-"), (id % 40).cast("string"), lit(".Example.COM"),
    when(id % 4 === 0, lit(":443")).otherwise(lit("")),
    lit("/Articles/"), id.cast("string"),
    when(id % 3 === 0, lit("?utm_source=news&utm_medium=email&id=")).otherwise(lit("?id=")),
    id.cast("string"),
    when(id % 5 === 0, lit("&ref=homepage#section-2")).otherwise(lit("")))

  val fns: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup over documents ∪ exact copies of every 25th doc.
    "q10_dedup_exact" -> ((s, dir) => {
      val d = docs(s, dir).select("doc_id", "text")
      val dup = d.filter(col("doc_id") % 25 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      Dedup.exactGroups(d.unionByName(dup), "doc_id", "text")
        .filter(col("n_docs") > 1)
        .orderBy("canonical_id")
    }),

    // Token statistics (canonical tokenizer).
    "q11_token_stats" -> ((s, dir) => {
      docs(s, dir).select(col("doc_id"),
          TF.tokenCount(col("text")).as("n_tokens"),
          round(TF.charCount(col("text")).cast("double") / TF.tokenCount(col("text")), 4)
            .as("mean_token_len"))
        .orderBy("doc_id")
    }),

    // Gopher/C4 quality signals + keep decision.
    "q12_quality_flags" -> ((s, dir) => {
      docs(s, dir).select(col("doc_id"),
          TF.tokenCount(col("text")).as("n_words"),
          round(TF.meanWordLen(col("text")), 4).as("mean_word_len"),
          round(TF.alphaWordRatio(col("text")), 4).as("alpha_ratio"),
          TF.stopwordHits(col("text")).as("stop_hits"))
        .withColumn("keep",
          col("n_words") >= 10 && col("mean_word_len") >= 2.0 &&
          col("mean_word_len") <= 12.0 && col("alpha_ratio") >= 0.5 &&
          col("stop_hits") >= 1)
        .orderBy("doc_id")
    }),

    // Document fingerprint (normalization-robust digest).
    "q13_fingerprint" -> ((s, dir) => {
      docs(s, dir).select(col("doc_id"), TF.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    }),

    // MinHash signatures (k=16, word-3-shingles, portable hash60) — the
    // production per-row expression (narrow map, no explode shuffle);
    // posexplode reshapes to the oracle's long (id, i, sig) layout. Docs with
    // <3 tokens (all-MaxValue sentinel sigs) are dropped like the long form.
    // Value-identity with Dedup.minhashSignatures is pinned in DedupSpec.
    "q14_minhash_sig" -> ((s, dir) =>
      Dedup.minhashSignaturesFast(docs(s, dir), "doc_id", "text")
        .filter(element_at(col("sigs"), 1) =!= Long.MaxValue)
        .select(col("id"), posexplode(col("sigs")))
        .select(col("id"), col("pos").as("i"), col("col").as("sig"))
        .orderBy("id", "i")),

    // LSH band digests (bands of 4 rows) straight off the per-row signatures.
    "q15_lsh_bands" -> ((s, dir) =>
      Dedup.lshBandsFast(
          Dedup.minhashSignaturesFast(docs(s, dir), "doc_id", "text")
            .filter(element_at(col("sigs"), 1) =!= Long.MaxValue))
        .orderBy("id", "band")),

    // Near-dup candidate pairs + exact n-gram Jaccard verification
    // (production path: per-row signature expression, no explode shuffle).
    "q16_dup_pairs" -> ((s, dir) => {
      val d = docsWithNearDups(s, dir)
      // internal band digests in the 8-byte hashed form (see
      // Dedup.lshBandsHashed — candidate-equivalent; q15's declared
      // md5-string surface is untouched)
      val pairs = Dedup.candidatePairs(
        Dedup.lshBandsHashed(Dedup.minhashSignaturesFast(d, "doc_id", "text")))
      Dedup.jaccardVerify(d, "doc_id", "text", pairs)
        .withColumn("jaccard", round(col("jaccard"), 4))
        .filter(col("jaccard") >= 0.5)
        .orderBy("id_a", "id_b")
    }),

    // SimHash-64 digests.
    "q17_simhash" -> ((s, dir) =>
      Dedup.simhash64(docs(s, dir), "doc_id", "text").orderBy("id")),

    // Brute-force cosine top-5 for 10 query vectors.
    "q18_cosine_topk" -> ((s, dir) => {
      val e = embs(s, dir)
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 10), 5)
        .orderBy("query_id", "rank")
    }),

    // Embedding-level benchmark decontamination: the benchmark is a scaled
    // copy of vec_id<10 (float ×2 is exact, so cosine vs the source is 1.0
    // up to association order — rounded at 6 dp both engines agree), and
    // every other vector's organic max-sim falls well under the 0.999 bar.
    // Catches paraphrased eval contamination no 8-gram overlap would see.
    "q88_semantic_decontam" -> ((s, dir) => {
      val e = embs(s, dir)
      val bench = e.filter(col("vec_id") < 10)
        .select((col("vec_id") + 5000L).as("vec_id"),
          transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
      graft.operators.Similarity.decontaminateSemantic(e, bench, 0.999)
        .orderBy("vec_id")
    }),

    // LSH-bucketed ANN (recall<1 by design; deterministic planes).
    "q19_ann_lsh" -> ((s, dir) => {
      val e = embs(s, dir)
      Similarity.lshTopK(e, e.filter(col("vec_id") < 10), 5)
        .orderBy("query_id", "rank")
    }),

    // IVF ANN (k-means coarse quantizer, 4/16 cells probed; rows-only).
    "q31_ann_ivf" -> ((s, dir) => {
      val e = embs(s, dir)
      Similarity.ivfTopK(e, e.filter(col("vec_id") < 10), 5)
        .orderBy("query_id", "rank")
    }),

    // PII detection counts over documents with deterministic synthetic PII.
    "q20_pii_detect" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"),
        SyntheticPages.piiText(col("text"), col("doc_id")).as("text"))
      d.select(col("doc_id"), PiiFunctions.detect_pii(col("text")).as("pii"))
        .select(col("doc_id"),
          coalesce(size(col("pii.이메일")), lit(0)).as("n_email"),
          coalesce(size(col("pii.전화번호")), lit(0)).as("n_phone"),
          coalesce(size(col("pii.주민등록번호")), lit(0)).as("n_rrn"),
          graft.core.PiiCategories.names
            .map(n => coalesce(size(col(s"pii.`$n`")), lit(0)))
            .reduce(_ + _).as("n_total"))
        .orderBy("doc_id")
    }),

    // PII scrub: digest of redacted text (deterministic).
    "q21_pii_scrub" -> ((s, dir) => {
      docs(s, dir).select(col("doc_id"),
          SyntheticPages.piiText(col("text"), col("doc_id")).as("text"))
        .select(col("doc_id"), md5(PiiFunctions.scrub_pii(col("text"))).as("scrubbed_md5"))
        .orderBy("doc_id")
    }),

    // Language-ID over documents (fastText-style classifier; rows-only).
    "q22_langid" -> ((s, dir) => {
      docs(s, dir).select(col("doc_id"), col("lang"),
          QualityFunctions.langid(col("text")).as("lid"))
        .select(col("doc_id"), col("lang"), col("lid.lang").as("lang_pred"),
          round(col("lid.confidence"), 4).as("confidence"))
        .orderBy("doc_id")
    }),

    // Full pipeline: extract → langid → quality → scrub, summary per host.
    "q23_pipeline_hosts" -> ((s, dir) => {
      val result = QualityPipeline.run(SyntheticPages.fromDocuments(s, dir))
      QualityPipeline.hostRollup(result).orderBy("host")
    }),

    // Per-page pipeline verdicts (keep + reasons + scrub digest).
    "q24_pipeline_pages" -> ((s, dir) => {
      QualityPipeline.run(SyntheticPages.fromDocuments(s, dir))
        .select(col("url"), col("keep"),
          array_join(col("drop_reasons"), ",").as("reasons"),
          col("n_pii"), md5(col("text_scrubbed")).as("scrubbed_md5"))
        .orderBy("url")
    }),

    // BPE-ish + whitespace token counting (portable regex, SQL-oracled).
    "q25_bpe_tokens" -> ((s, dir) => {
      docs(s, dir).select(col("doc_id"),
          TF.bpeTokenCount(col("text")).as("n_bpe"),
          TF.tokenCount(col("text")).as("n_ws"))
        .orderBy("doc_id")
    }),

    // Winnowing rolling-hash fingerprints: shared-fingerprint near-dup pairs.
    // Flood guard: fingerprints shared by more than `maxDf` documents are
    // boilerplate (headers, license blurbs) — at crawl scale one such value
    // would square into 10^10 pairs, and it carries no near-dup signal anyway.
    "q26_winnow_pairs" -> ((s, dir) => {
      val d = docsWithNearDups(s, dir)
      val maxDf = 256
      val fps = d.select(col("doc_id"),
        explode(QualityFunctions.winnow_fingerprint(col("text"))).as("fp"))
      val dfw = org.apache.spark.sql.expressions.Window.partitionBy("fp")
      val capped = fps.withColumn("_df", count(lit(1)).over(dfw))
        .filter(col("_df") <= maxDf).drop("_df")
      val a = capped.select(col("fp"), col("doc_id").as("id_a"))
      val b = capped.select(col("fp"), col("doc_id").as("id_b"))
      a.join(b, "fp").filter(col("id_a") < col("id_b"))
        .groupBy("id_a", "id_b").agg(count(lit(1)).as("shared"))
        .filter(col("shared") >= 10)
        .orderBy("id_a", "id_b")
    }),

    // Structured-Streaming rollup over the events table (file stream source,
    // AvailableNow, Complete mode) — result equals the batch/SQL answer.
    "q28_stream_window" -> ((s, dir) => {
      import graft.streaming.EventStream
      // fixture-staging plumbing: dir + copies are marked for JVM-exit
      // cleanup (driver/verify JVMs are short-lived)
      val tmp = java.nio.file.Files.createTempDirectory("evstream")
      tmp.toFile.deleteOnExit()
      java.nio.file.Files.copy(java.nio.file.Paths.get(s"$dir/events.parquet"),
        tmp.resolve("part-0.parquet"))
      EventStream.runOnce(s,
          EventStream.windowedRollupExact(EventStream.readEvents(s, tmp.toString)),
          s"q28_win_${System.nanoTime}",
          org.apache.spark.sql.streaming.OutputMode.Complete())
        .orderBy("w_start", "event_type")
    }),

    // Streaming exactly-once dedup: the fixture delivered TWICE (at-least-
    // once source), dropDuplicatesWithinWatermark collapses re-deliveries →
    // result equals the single-copy batch answer.
    "q41_stream_dedup" -> ((s, dir) => {
      import graft.streaming.EventStream
      val tmp = java.nio.file.Files.createTempDirectory("evdup")
      tmp.toFile.deleteOnExit()
      java.nio.file.Files.copy(java.nio.file.Paths.get(s"$dir/events.parquet"),
        tmp.resolve("part-0.parquet"))
      java.nio.file.Files.copy(java.nio.file.Paths.get(s"$dir/events.parquet"),
        tmp.resolve("part-1.parquet"))
      EventStream.runOnce(s,
          EventStream.dedupedEvents(EventStream.readEvents(s, tmp.toString))
            .select("event_id", "event_type", "value"),
          s"q41_dedup_${System.nanoTime}")
        .orderBy("event_id")
    }),

    // Embedding near-dup pairs: cosine ≥ threshold among corpus ∪ planted
    // scaled copies (cosine-identical by construction). Scale-safe plan:
    // multi-table sign-LSH candidate buckets + exact cosine verify — no
    // cartesian product; scaled copies share every bucket deterministically
    // so the oracle's planted pairs are always found.
    "q29_embed_neardup" -> ((s, dir) => {
      val e = embs(s, dir).select("vec_id", "embedding")
      val planted = e.filter(col("vec_id") % 20 === 0)
        .select((col("vec_id") + 100000L).as("vec_id"),
          transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
      val all = e.unionByName(planted)
      Similarity.neardupPairs(all, threshold = 0.99, dim = 64)
        .select(col("id_a"), col("id_b"), round(col("sim"), 6).as("sim"))
        .orderBy("id_a", "id_b")
    }),

    // Salted two-phase per-host count over skewed hosts — must equal the
    // direct rollup (oracle): the skew-proof aggregation pattern.
    "q30_salted_hosts" -> ((s, dir) => {
      val pages = SyntheticPages.skewed(s, dir)
        .withColumn("host", regexp_extract(col("url"), "https?://([^/]+)/", 1))
      pages
        .withColumn("salt", pmod(hash(col("url")), lit(16)))
        .groupBy("host", "salt").agg(count(lit(1)).as("n"))
        .groupBy("host").agg(sum("n").as("n_pages"))
        .orderBy("host")
    }),

    // URL canonicalization over deterministic messy URLs (case noise, www,
    // default ports, tracking params, fragments) — the dominant crawl
    // duplicate class is the same page under different URL decorations.
    "q36_url_canon" -> ((s, dir) => {
      val url = synthUrl(col("doc_id"))
      rawDocs(s, dir).select(col("doc_id"),
          UrlFunctions.canonicalizeUrl(url).as("url_canon"),
          UrlFunctions.hostOf(url).as("host"),
          UrlFunctions.domainOf(url).as("domain"))
        .orderBy("doc_id")
    }),

    // Deterministic stratified sampling: downsample the dominant language,
    // keep the tail at a higher rate. Hash-of-key selection is stable under
    // any partition layout (unlike sample/sampleBy) and SQL-portable.
    "q37_stratified_sample" -> ((s, dir) =>
      Sampling.stratifiedSample(rawDocs(s, dir).select("doc_id", "lang"),
          col("lang"), col("doc_id"), Map("en" -> 0.2), default = 0.5, salt = "s1")
        .orderBy("doc_id")),

    // Training-shard assignment: a seeded deterministic global shuffle
    // (shard = hash mod S, in-shard position = rank by the same hash)
    // realized as S independent per-shard sorts, never a global sort —
    // the write order IS the training order, reproducible from
    // (doc_id, salt) under any partition layout.
    "q97_train_shards" -> ((s, dir) =>
      graft.operators.Sharding.assignShards(
          rawDocs(s, dir).select("doc_id"), col("doc_id"), 8, salt = "ep0")
        .orderBy("shard", "pos")),

    // Epoch plan: the full trainer-feed composition — weighted mixture
    // repeat (per-source epoch rates, fractional copies hash-resolved)
    // THEN training-shard assignment keyed on (doc_id, copy), so repeated
    // copies of one document land in different shards (the key includes
    // the copy index) and the whole plan is one reproducible artifact.
    "q99_mixture_shards" -> ((s, dir) => {
      val mixed = graft.operators.Sampling.weightedRepeat(
        rawDocs(s, dir).select("doc_id", "source"), col("source"), col("doc_id"),
        Map("src18" -> 2.5, "src7" -> 0.4), default = 1.0, salt = "mix1")
      graft.operators.Sharding.assignShards(mixed,
          concat(col("doc_id").cast("string"), lit(":"), col("copy").cast("string")),
          4, salt = "ep1")
        .orderBy("shard", "pos")
    }),

    // Token-budget mixture fill: per language, admit docs in seeded-hash
    // order while the tokens BEFORE each doc total under the language's
    // budget (greedy fill; the straddling doc is admitted). Only the one
    // boundary hash-bucket per language pays a window — the q79 discipline
    // at token grain.
    "q98_token_budget" -> ((s, dir) =>
      graft.operators.Sampling.tokenBudget(
          rawDocs(s, dir).select(col("doc_id"), col("lang"),
            TF.tokenCount(col("text")).as("toks")),
          "lang", "toks", col("doc_id"),
          Map("en" -> 6000L, "zh" -> 2500L), default = 1500L, salt = "mix2")
        .orderBy("doc_id")),

    // Leakage-safe corpus splitting: the split is a function of the HOST
    // hash — every page of a host (near-dup/templated siblings included)
    // lands in one split, so eval never sees a train host. Pure narrow
    // projection (no shuffle); a host's split is reproducible from
    // (host, salt) alone and never moves as the corpus grows.
    "q100_host_split" -> ((s, dir) => {
      val d = rawDocs(s, dir).select(col("doc_id"),
        concat(lit("site-"), pmod(col("doc_id"), lit(40)).cast("int").cast("string"))
          .as("host"))
      Sampling.hostDisjointSplit(d, col("host"),
          Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1), salt = "sp1")
        .orderBy("doc_id")
    }),

    // Corpus data card: per-language release statistics plus the grand
    // total in ONE rollup pass — exact distinct host/source counts (a
    // published artifact), one long division for the mean.
    "q101_data_card" -> ((s, dir) => {
      val d = rawDocs(s, dir).select(col("lang"), col("source"),
        TF.tokenCount(col("text")).as("toks"),
        concat(lit("site-"), pmod(col("doc_id"), lit(40)).cast("int").cast("string"))
          .as("host"))
      graft.operators.DataCard.summarize(d, "lang", col("toks"), col("host"),
          col("source"))
        .orderBy("lang")
    }),

    // Incoming anchor-text aggregation per target host — a page described
    // in its LINKERS' words (classic quality/relevance signal spam can't
    // cheaply forge). Oracled BY CONSTRUCTION like q71: each doc links two
    // targets with id-derived anchor text; an inner <b> tag and ragged
    // whitespace exercise the tag-strip + collapse; the oracle rebuilds
    // the (host, anchor) rows directly.
    "q102_anchor_text" -> ((s, dir) => {
      val html = concat(
        lit("<p><a href='"), linkTarget(col("doc_id"), 7, 1),
        lit("'>alpha  <b>"), pmod(col("doc_id"), lit(5)).cast("int").cast("string"),
        lit("</b>\n</a> mid <a href=\""), linkTarget(col("doc_id"), 13, 2),
        lit("\">beta "), pmod(col("doc_id"), lit(7)).cast("int").cast("string"),
        lit(" </a></p>"))
      rawDocs(s, dir)
        .select(col("doc_id"),
          explode(graft.functions.ExtractLinks.extract_link_anchors(html)).as("l"))
        .select(UrlFunctions.hostOf(col("l.href")).as("host"),
          col("l.anchor").as("anchor"))
        .groupBy("host")
        .agg(count(lit(1)).as("n_links"),
          countDistinct(col("anchor")).as("n_anchors"),
          array_join(array_sort(collect_set(col("anchor"))), "|").as("anchor_vocab"))
        .orderBy("host")
    }),

    // Curriculum-ordered training shards: membership is the q97 seeded
    // random partition (no difficulty skew across shards), in-shard order
    // is short-to-long by n_chars (the classic length curriculum), hash-
    // randomized within ties — reproducible from (doc_id, salt) alone.
    "q103_curriculum_shards" -> ((s, dir) =>
      graft.operators.Sharding.curriculumShards(
          rawDocs(s, dir).select("doc_id", "n_chars"), col("doc_id"), 4,
          // nulls_last matches ANSI/DuckDB ASC (Spark's bare asc is
          // NULLS FIRST — a latent oracle divergence on nullable columns)
          Seq(col("n_chars").asc_nulls_last), salt = "cur1")
        .orderBy("shard", "pos")),

    // Benchmark decontamination: corpus docs sharing ≥5 word-3-shingles with
    // a benchmark set (here: 15-token passages lifted from every 10th doc,
    // so contamination is planted and the gate is non-trivial).
    "q38_decontaminate" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val bench = d.filter(col("doc_id") % 10 === 0)
        .select(array_join(slice(TF.tokens(col("text")), 1, 15), " ").as("text"))
      Dedup.decontaminate(d, bench, "doc_id", "text")
        .filter(col("n_hits") >= 5)
        .orderBy("id")
    }),

    // Dup-group resolution: LSH pairs → connected components → one label
    // (= smallest member id) per near-dup cluster. The step after q16 that
    // decides which docs to actually drop.
    "q39_dup_components" -> ((s, dir) => {
      val d = docsWithNearDups(s, dir)
      val pairs = Dedup.jaccardVerify(d, "doc_id", "text",
          Dedup.candidatePairs(  // hashed internal bands — see q16
            Dedup.lshBandsHashed(Dedup.minhashSignaturesFast(d, "doc_id", "text"))))
        .filter(col("jaccard") >= 0.5)
      Dedup.connectedComponents(pairs).orderBy("id")
    }),

    // Gopher-style duplicate-ngram signal: fraction of each doc's distinct
    // word-5-grams that occur in >1 document corpus-wide. One shuffle on the
    // uniform gram key (window df count), one on doc_id. The gram key is the
    // one-pass 60-bit gram hash (same expression and 2⁻⁶⁰ collision trade as
    // q53, GramHash60Spec pins value-identity with hash60∘ngrams): the
    // exploded rows and the window exchange carry 8-byte longs instead of
    // ~40-byte gram strings, and the nested per-gram concat_ws/element_at
    // tree (which re-evaluated the token split per element) collapses into
    // one expression evaluation per row.
    "q40_dup_ngram_ratio" -> ((s, dir) => {
      val grams = docsWithNearDups(s, dir)
        .select(col("doc_id"), explode(array_distinct(
          graft.functions.GramHash60Functions.gram_hash60s(col("text"), 5))).as("g"))
      val dfw = org.apache.spark.sql.expressions.Window.partitionBy("g")
      grams.withColumn("docfreq", count(lit(1)).over(dfw))
        .groupBy("doc_id").agg(
          count(lit(1)).as("n_grams"),
          sum(when(col("docfreq") > 1, 1).otherwise(0)).as("n_dup"))
        .withColumn("dup_ratio",
          round(col("n_dup").cast("double") / col("n_grams"), 4))
        .orderBy("doc_id")
    }),

    // Gopher within-doc repetition: fraction of 2-gram occurrences taken by
    // the single most repeated 2-gram (non-distinct grams — repetition IS
    // the signal). max/sum per doc is tie-insensitive → deterministic.
    "q43_top_ngram_frac" -> ((s, dir) => {
      docs(s, dir).select(col("doc_id"),
          explode(TF.ngrams(col("text"), 2, distinct = false)).as("g"))
        .groupBy("doc_id", "g").agg(count(lit(1)).as("cnt"))
        .groupBy("doc_id").agg(
          sum("cnt").as("n_grams"),
          round(max("cnt").cast("double") / sum("cnt"), 4).as("top_frac"))
        .orderBy("doc_id")
    }),

    // Domain blocklist: drop pages whose registered domain is banned —
    // broadcast LEFT ANTI join (the blocklist is KBs; the page set is TBs).
    "q44_blocklist" -> ((s, dir) => {
      val pages = rawDocs(s, dir).select(col("doc_id"),
        UrlFunctions.domainOf(synthUrl(col("doc_id"))).as("domain"),
        UrlFunctions.hostOf(synthUrl(col("doc_id"))).as("host"))
      import s.implicits._
      val blocked = Seq("example.com").toDF("domain")
      // block the dominant synthetic domain for hosts Site-0..Site-9 only:
      // join key is (domain), the extra host predicate rides the join
      pages.join(broadcast(blocked),
          pages("domain") === blocked("domain") &&
            pages("host").rlike("^site-[0-9]\\."),
          "left_anti")
        .orderBy("doc_id")
    }),

    // Compression-ratio quality signal (no SQL oracle — zlib; golden-pinned):
    // docs ∪ a planted boilerplate doc that must flag as highly compressible.
    "q45_deflate" -> ((s, dir) => {
      val spam = s.range(1).select(lit(9999999L).as("doc_id"),
        concat_ws(" ", (0 until 50).map(_ => lit("buy now limited offer")): _*).as("text"))
      docs(s, dir).select("doc_id", "text").unionByName(spam)
        .select(col("doc_id"),
          round(QualityFunctions.deflate_ratio(col("text")), 4).as("deflate_r"))
        .withColumn("repetitive", col("deflate_r") < 0.3)
        .orderBy("doc_id")
    }),

    // Unicode NFC normalization: combining-mark text planted onto every doc
    // must hash identically to the precomposed form after normalize — the
    // step that makes exact dedup byte-stable across encoders.
    "q46_nfc_normalize" -> ((s, dir) => {
      // "cafe" + COMBINING ACUTE (U+0301), "ga" + COMBINING DIAERESIS (U+0308)
      val planted = concat(col("text"), lit(" cafe\u0301 ga\u0308rten"))
      rawDocs(s, dir).select(col("doc_id"),
          length(planted).as("n_raw"),
          length(QualityFunctions.nfc_normalize(planted)).as("n_nfc"),
          md5(QualityFunctions.nfc_normalize(planted)).as("nfc_md5"))
        .orderBy("doc_id")
    }),

    // Toxicity (C4-style blocklist): whole-token score + word-boundary
    // scrub. Stand-in terms drawn from the fixture vocabulary so hits are
    // real; a deployment swaps in the published blocklist.
    "q50_toxicity" -> ((s, dir) => {
      import graft.filter.Toxicity
      val terms = Seq("slow", "fail", "crash")
      docs(s, dir).select(col("doc_id"),
          Toxicity.hits(col("text"), terms).as("n_tox"),
          TF.tokenCount(col("text")).as("n_tokens"),
          Toxicity.score(col("text"), terms).as("tox_ratio"),
          md5(Toxicity.scrub(col("text"), terms)).as("scrub_md5"))
        .withColumn("flagged", col("tox_ratio") >= 0.02)
        .orderBy("doc_id")
    }),

    // Incremental (cross-batch) dedup: Bloom-prefiltered anti-join of the
    // incoming batch against the historical corpus (history = every 3rd doc,
    // so 1/3 of the batch is planted as already-seen). Runs the SHARDED
    // history variant (B=4, the >10⁹-key scale path) — the Bloom pass and
    // sharding change cost only; the result is exactly the anti-join the
    // oracle runs.
    "q51_bloom_dedup" -> ((s, dir) => {
      import graft.operators.IncrementalDedup
      val withDigest = rawDocs(s, dir).select(col("doc_id"), md5(col("text")).as("digest"))
      val history = withDigest.filter(col("doc_id") % 3 === 0)
      IncrementalDedup.newOnly(withDigest, history, "digest",
          IncrementalDedup.buildFilterArray(history, "digest",
            expectedItems = 2048L, shards = 4))
        .df.select("doc_id", "digest").orderBy("doc_id")
    }),

    // Sequence packing (concat-and-chunk): deterministic shard + running
    // token offset + 256-token chunk assignment per document.
    "q52_pack_sequences" -> ((s, dir) => {
      import graft.operators.Packing
      Packing.packSequences(
          rawDocs(s, dir).select(col("doc_id"), TF.tokenCount(col("text")).as("n_tokens")),
          col("doc_id"), col("n_tokens"), budget = 256, nShards = 8)
        .select("doc_id", "shard", "n_tokens", "start_off", "seq_id")
        .orderBy("doc_id")
    }),

    // Data-mixture construction: per-source epoch weights (×2.5 upsample,
    // ×0.4 downsample, ×1.0 default) realized as deterministic per-row
    // repeat counts — a narrow explode, no shuffle, reproducible under any
    // partition layout.
    "q54_mixture_repeat" -> ((s, dir) =>
      Sampling.weightedRepeat(rawDocs(s, dir).select("doc_id", "source"),
          col("source"), col("doc_id"),
          Map("src18" -> 2.5, "src7" -> 0.4), default = 1.0, salt = "mix1")
        .orderBy("doc_id", "copy")),

    // Exact-substring dedup (Lee et al. 2022, shingle-hash form): per-doc
    // fraction of tokens covered by non-canonical duplicated 8-token spans,
    // over documents ∪ planted near-duplicates (shared suffixes ⇒ real cuts).
    "q53_substring_dedup" -> ((s, dir) => {
      import graft.operators.ExactSubstring
      ExactSubstring.stats(docsWithNearDups(s, dir), "doc_id", "text",
          k = 8, maxDf = 64)
        .orderBy("id")
    }),

    // C4-style line-level dedup: every doc gets a unique footer line plus a
    // corpus-wide boilerplate line; only the canonical (first) occurrence of
    // the boilerplate survives, docs are rebuilt from surviving lines.
    "q56_line_dedup" -> ((s, dir) => {
      import graft.operators.ExactSubstring
      val withLines = rawDocs(s, dir).select(col("doc_id"),
        concat(col("text"),
          lit("\nDoc "), col("doc_id").cast("string"), lit(" unique footer."),
          lit("\nSubscribe to our newsletter for updates")).as("text"))
      ExactSubstring.dedupLines(withLines, "doc_id", "text")
        .select(col("id"), col("n_lines_kept"), md5(col("text_dedup")).as("dedup_md5"))
        .orderBy("id")
    }),

    // Model-based quality filter (CCNet/DCLM stage): fastText-style logistic
    // classifier trained DISTRIBUTED (fixed-point treeAggregate epochs — bit-
    // deterministic under any partitioning) on weak labels (real docs = keep;
    // deterministic corruptions = drop), then scored over the corpus.
    // No SQL oracle (trained model) — golden-pinned.
    "q55_quality_classifier" -> ((s, dir) => {
      import graft.filter.QualityClassifier
      import s.implicits._
      val d = rawDocs(s, dir).select(col("doc_id"), col("text"))
      val labeled = QualityClassifier.weakLabels(d, col("doc_id"), col("text"))
        .select(col("text").as("_1"), col("y").as("_2")).as[(String, Double)]
      val model = QualityClassifier.fit(labeled, epochs = 60)
      // Score ONCE, derive quality + keep from the column: CollapseProject
      // does not inline a non-cheap expression (the score kernel's static
      // call) into two references (SPARK-36718), so every row pays one
      // feature-hash + dot product, not two.
      d.select(col("doc_id"), QualityClassifier.score(col("text"), model).as("_q"))
        .select(col("doc_id"), round(col("_q"), 3).as("quality"),
          (col("_q") >= 0.5).as("keep"))
        .orderBy("doc_id")
    }),

    // Leakage-safe dataset split: assignment hashes the HOST, not the page,
    // so all pages of a site land in one split (train/test contamination via
    // same-site near-dups is the standard eval-hygiene failure). Narrow
    // projection + one rollup shuffle; layout-invariant like all hash splits.
    "q59_group_split" -> ((s, dir) => {
      import graft.functions.UrlFunctions
      val pages = rawDocs(s, dir).select(col("doc_id"),
        UrlFunctions.hostOf(synthUrl(col("doc_id"))).as("host"))
      val b = pmod(TF.hash60(concat(col("host"), lit("|split1"))), lit(10000))
      val split = when(b < 8000, "train").when(b < 9000, "valid").otherwise("test")
      pages.withColumn("split", split)
        .groupBy("split")
        .agg(countDistinct("host").as("n_hosts"), count(lit(1)).as("n_pages"))
        .orderBy("split")
    }),

    // Per-doc TF-IDF top-3 keywords: tf via (doc, term) agg, df via term agg,
    // rational idf (N+1)/(df+1) — IEEE-exact in both engines, so the oracle
    // can compare scores without log-ulp boundary flicker. Two uniform-key
    // shuffles + one per-doc window.
    "q58_tfidf_topk" -> ((s, dir) => {
      val d = docs(s, dir)
      // N rides the DAG as a broadcast 1-row cross join (count-star branch is
      // a zero-column scan) — NOT a separate d.count() action, which at
      // 100 TB would be a second full pass over the corpus for one scalar.
      val nDf = d.agg(count(lit(1)).cast("double").as("_n_docs"))
      val tf = d.select(col("doc_id"), explode(TF.tokensLower(col("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("term").asc)
      tf.join(dfreq, Seq("term")).crossJoin(broadcast(nDf))
        .withColumn("score", col("tf") * ((col("_n_docs") + 1.0) / (col("df") + 1)))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("rank"), col("term"), round(col("score"), 4).as("score"))
        .orderBy("doc_id", "rank")
    }),

    // Tokenizer training: learned BPE merges (Sennrich) — distributed word
    // counts (one map-side-combined shuffle), deterministic capped merge
    // loop. No SQL oracle (iterative argmax) — golden-pinned.
    "q57_bpe_vocab" -> ((s, dir) => {
      import graft.operators.BpeVocab
      val model = BpeVocab.fit(rawDocs(s, dir), "text", nMerges = 64, maxWords = 4096)
      import s.implicits._
      model.merges.map(m => (m.rank, m.left, m.right, m.count))
        .toDF("rank", "left", "right", "n")
        .orderBy("rank")
    }),

    // Tokenizer APPLICATION: encode the corpus with the learned BPE vocab —
    // the stage after q57's training that actually runs at 100 TB (broadcast
    // merge table via the task binary, per-thread LRU word cache, narrow
    // map). n_pieces/n_words is the tokenizer's fertility; enc_md5 pins the
    // exact piece sequence. Golden-pinned (trained model, no SQL oracle).
    "q60_bpe_encode" -> ((s, dir) => {
      import graft.functions.BpeEncodeExpression.bpe_encode
      import graft.operators.BpeVocab
      val model = BpeVocab.fit(rawDocs(s, dir), "text", nMerges = 64, maxWords = 4096)
      docs(s, dir)
        .select(col("doc_id"), bpe_encode(col("text"), model).as("toks"),
          TF.tokenCount(col("text")).as("n_words"))
        .select(col("doc_id"), size(col("toks")).as("n_pieces"), col("n_words"),
          md5(array_join(col("toks"), " ")).as("enc_md5"))
        .orderBy("doc_id")
    }),

    // Token-budget packing with REAL tokenizer lengths: the q52 packing
    // machinery fed by size(bpe_encode(text)) under the corpus-fit merge
    // table — what an LLM pretraining pipeline actually packs by
    // (whitespace counts under-estimate subword lengths and overflow
    // sequences). Golden-pinned (BPE is not SQL-expressible); the packer
    // itself is q52-oracled and the prefix-sum invariant is spec-asserted
    // over the BPE lengths in CurationOpsSpec.
    "q87_pack_bpe" -> ((s, dir) => {
      import graft.functions.BpeEncodeExpression.bpe_encode
      import graft.operators.{BpeVocab, Packing}
      val model = BpeVocab.fit(rawDocs(s, dir), "text", nMerges = 64, maxWords = 4096)
      val toks = docs(s, dir).select(col("doc_id"),
        size(bpe_encode(col("text"), model)).as("n_bpe"))
      Packing.packSequences(toks, col("doc_id"), col("n_bpe"),
          budget = 512, nShards = 8)
        .select("doc_id", "shard", "n_bpe", "start_off", "seq_id")
        .orderBy("doc_id")
    }),

    // C4 terminal-punctuation line filter (Raffel et al. 2020): every doc is
    // planted with nav-menu / button / cookie-banner noise lines plus one
    // proper sentence; even docs additionally get a terminal '.' on the body
    // line, so both filter branches fire on half the corpus each.
    "q62_c4_line_filter" -> ((s, dir) => {
      import graft.operators.ExactSubstring
      val withLines = rawDocs(s, dir).select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 2 === 0, lit(".")).otherwise(lit("")),
          lit("\nHome | About | Contact"),
          lit("\nOk."),
          lit("\nAccept all cookies"),
          lit("\r\nA carriage-return separated sentence."),
          lit("\nThis planted sentence has plenty of words.")).as("text"))
      ExactSubstring.c4LineFilter(withLines, "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_lines").cast("int").as("n_lines"),
          col("n_lines_kept").cast("int").as("n_lines_kept"),
          md5(col("text_filtered")).as("filtered_md5"))
        .orderBy("doc_id")
    }),

    // Gopher line-shape rules (Rae et al. 2021): >90% bullet-started lines
    // or >30% ellipsis-ended lines drop the page. Every 3rd doc is planted
    // with 19 bullet items (fires the bullet gate), every 5th with two
    // teaser lines (fires the ellipsis gate); docs hitting both plants
    // dilute below the bullet threshold — a real mixed-shape case.
    "q63_gopher_lines" -> ((s, dir) => {
      val planted = concat(col("text"),
        when(col("doc_id") % 3 === 0,
          repeat(lit("\n- planted bullet item"), 19)).otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          lit("\nRead more...\nAnd the story continues…")).otherwise(lit("")))
      rawDocs(s, dir)
        .select(col("doc_id"), TF.lineShapeSignals(planted).as("sig"))
        .select(col("doc_id"), col("sig.n_lines").as("n_lines"),
          round(col("sig.frac_bullet"), 4).as("frac_bullet"),
          round(col("sig.frac_ellipsis"), 4).as("frac_ellipsis"),
          (col("sig.frac_bullet") > 0.9).as("drop_bullet"),
          (col("sig.frac_ellipsis") > 0.3).as("drop_ellipsis"))
        .orderBy("doc_id")
    }),

    // Gopher duplicate-shape repetition (Rae et al. 2021 Table A1:
    // dup_line_frac / dup_para_frac + character-fraction variants) — the
    // within-document repetition the word-n-gram signals can't see: whole
    // nav blocks or paragraphs repeated verbatim. Planted: every 4th doc
    // gets a nav line ×3 (2 duplicate lines), every 7th doc repeats its
    // whole body as a second paragraph (1 duplicate paragraph, and the body
    // line becomes a duplicate line); other docs pin the all-zero path.
    // Fractions are UNROUNDED int/int divisions — bit-identical IEEE in
    // both engines, so no round() implementation divergence to paper over.
    "q67_dup_shape" -> ((s, dir) => {
      val planted = concat(col("text"),
        when(col("doc_id") % 4 === 0,
          repeat(lit("\nSubscribe to our newsletter"), 3)).otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          concat(lit("\n\n"), col("text"))).otherwise(lit("")))
      rawDocs(s, dir)
        .select(col("doc_id"), QualityFunctions.dup_shape_signals(planted).as("ds"))
        .select(col("doc_id"),
          col("ds.n_lines").as("n_lines"), col("ds.dup_lines").as("dup_lines"),
          col("ds.line_chars").as("line_chars"),
          col("ds.dup_line_chars").as("dup_line_chars"),
          col("ds.n_paras").as("n_paras"), col("ds.dup_paras").as("dup_paras"),
          col("ds.para_chars").as("para_chars"),
          col("ds.dup_para_chars").as("dup_para_chars"),
          // guarded division: a zero-element document is fraction 0 — and
          // under Spark 4's default ANSI mode an unguarded 0/0 would THROW,
          // not yield NaN/NULL
          dsFrac("dup_lines", "n_lines").as("dup_line_frac"),
          dsFrac("dup_line_chars", "line_chars").as("dup_line_char_frac"),
          dsFrac("dup_paras", "n_paras").as("dup_para_frac"),
          dsFrac("dup_para_chars", "para_chars").as("dup_para_char_frac"))
        .orderBy("doc_id")
    }),

    // jusText HTML extraction (Pomikálek 2011), oracled BY CONSTRUCTION: the
    // page is body text sandwiched between two known-good prose paragraphs,
    // wrapped in nav/footer boilerplate. The SQL oracle computes the EXPECTED
    // surviving text directly from the construction (it never re-implements
    // the classifier), so the extractor must recover the content byte-exactly
    // — boilerplate fully gone, prose and body fully intact — for every doc.
    "q68_html_extract" -> ((s, dir) => {
      val html = concat(
        lit("<html><head><title>T</title><style>p{color:red}</style></head>" +
          "<body><nav><a href='/'>Home</a> <a href='/s'>Shop</a> " +
          "<a href='/c'>Cart</a></nav>"),
        lit(s"<p>$ExtractProse1</p><p>"), col("text"),
        lit(s"</p><p>$ExtractProse2</p>"),
        lit("<!-- tracking --><script>var a = 1 > 0;</script>" +
          "<footer>© 2026 Example Corp</footer></body></html>"))
      rawDocs(s, dir)
        .select(col("doc_id"),
          graft.functions.HtmlFunctions.justext_extract(html).as("extracted"))
        .select(col("doc_id"),
          length(col("extracted")).cast("int").as("n_chars"),
          md5(col("extracted")).as("extracted_md5"))
        .orderBy("doc_id")
    }),

    // DSIR importance resampling (Xie et al. 2023): select raw docs shaped
    // like a target domain. Target sample + planted on-domain candidates
    // share a 20-word physics vocabulary (rotated per id — same unigram bag,
    // different texts); the fixture corpus is the raw/off-domain pool. The
    // 50 planted candidates (sf0.001) must dominate the k=60 selection.
    // Golden-pinned (murmur3 feature hashing + Gumbel keys — no SQL oracle);
    // the selection gate + layout invariance live in DsirSpec.
    "q69_dsir_select" -> ((s, dir) => {
      import graft.filter.Dsir
      val raw = rawDocs(s, dir).select("doc_id", "text")
      val target = raw.select(dsirDomainText(col("doc_id"), offset = 3).as("text"))
      val planted = raw.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 500000L).as("doc_id"),
          dsirDomainText(col("doc_id"), offset = 0).as("text"))
      val candidates = raw.unionByName(planted)
      val model = Dsir.fit(target, raw, col("text"))
      Dsir.resample(candidates, col("doc_id"), col("text"), model, k = 60)
        .select(col("doc_id"), (col("doc_id") >= 500000L).as("is_domain"),
          round(col("log_weight"), 4).as("log_weight"))
        .orderBy("doc_id")
    }),

    // Mojibake repair (ftfy fix_encoding core), oracled BY CONSTRUCTION:
    // each doc gets a suffix damaged UTF-8→cp1252 at runtime plus a
    // correctly-encoded suffix; the oracle concatenates the ORIGINAL clean
    // strings — repair must invert the damage exactly and must not touch
    // the intact part (or the ASCII body).
    "q70_fix_mojibake" -> ((s, dir) => {
      import graft.functions.FixMojibake
      val damaged = new String(
        MojiClean.getBytes(java.nio.charset.StandardCharsets.UTF_8), "windows-1252")
      rawDocs(s, dir)
        .select(col("doc_id"),
          FixMojibake.fix_mojibake(
            concat(col("text"), lit(damaged), lit(MojiIntact))).as("fixed_text"))
        .orderBy("doc_id")
    }),

    // Outlink extraction, oracled BY CONSTRUCTION: each doc's page carries
    // three <a href> links (targets by id arithmetic) in three quoting
    // styles, plus hreflang/data-href red herrings and a quoted '>' in an
    // attribute — the oracle constructs the expected (doc_id, pos, link)
    // rows directly.
    "q71_extract_links" -> ((s, dir) => {
      val html = concat(
        lit("<div class=\"a>b\"><a hreflang=\"en\" href='"), linkTarget(col("doc_id"), 7, 1),
        lit("'>one</a> <a data-href=\"junk\" href=\""), linkTarget(col("doc_id"), 13, 2),
        lit("\">two</a></div><p>"), col("text"),
        lit(" <a target=_blank href="), linkTarget(col("doc_id"), 3, 5),
        lit(">three</a></p>"))
      rawDocs(s, dir)
        .select(col("doc_id"),
          posexplode(graft.functions.ExtractLinks.extract_links(html)))
        .select(col("doc_id"), col("pos").cast("int").as("pos"), col("col").as("link"))
        .orderBy("doc_id", "pos")
    }),

    // Host-level PageRank as the crawl-curation quality prior. The edge
    // list comes from the q71 link construction (40 hosts, id-arithmetic
    // targets); ranks are fixed-point Longs with pure integer arithmetic,
    // so the 10-iteration result is bit-exact against a DuckDB recursive
    // CTE doing the same HUGEINT-free BIGINT math — an ORACLED iterative
    // distributed algorithm (like q39's connected components).
    "q72_host_rank" -> ((s, dir) => {
      val d = rawDocs(s, dir)
      def hostOf(mult: Int, add: Int) =
        concat(lit("site-"), pmod(col("doc_id") * mult + add, lit(40)).cast("int").cast("string"))
      val src = concat(lit("site-"), pmod(col("doc_id"), lit(40)).cast("int").cast("string"))
      val edges = Seq((7, 1), (13, 2), (3, 5)).map { case (m, a) =>
        d.select(src.as("src"), hostOf(m, a).as("dst"))
      }.reduce(_ unionByName _).distinct()
      graft.operators.LinkGraph.hostRank(edges, iterations = 10)
        .orderBy("host")
    }),

    // Host-rank quality gate end-to-end (the stated consumer of q72's
    // PageRank, wired as QualityPipeline.hostRankStage): pages on hosts
    // ranked below the bar drop with a reason; hosts OUTSIDE the link
    // graph (every 11th doc's off-graph host) coalesce to exactly the bar
    // — unknown is neutral, never auto-dropped. The bar is a host's own
    // rank (site-0's), deterministic at every scale factor. The oracle
    // recomputes the ENTIRE composition — recursive-CTE fixed-point
    // PageRank, broadcast left join, coalesce, keep rule — in one SQL.
    "q92_host_rank_gate" -> ((s, dir) => {
      val d = rawDocs(s, dir)
      def hostOf(mult: Int, add: Int) =
        concat(lit("site-"), pmod(col("doc_id") * mult + add, lit(40)).cast("int").cast("string"))
      val src = concat(lit("site-"), pmod(col("doc_id"), lit(40)).cast("int").cast("string"))
      val edges = Seq((7, 1), (13, 2), (3, 5)).map { case (m, a) =>
        d.select(src.as("src"), hostOf(m, a).as("dst"))
      }.reduce(_ unionByName _).distinct()
      val ranks = graft.operators.LinkGraph.hostRank(edges, iterations = 10)
      // the gate bar as a driver scalar off the HOST-grain rank table (40
      // rows here, ~10⁸ at crawl scale — metadata-grain either way)
      val bar = ranks.filter(col("host") === "site-0").head().getLong(1)
      val pages = d.select(col("doc_id"),
        when(col("doc_id") % 11 === 0,
          concat(lit("offgraph-"), (col("doc_id") % 7).cast("string")))
          .otherwise(src).as("host"),
        array().cast("array<string>").as("drop_reasons"))
      graft.pipeline.QualityPipeline.hostRankStage(pages, ranks, minRank = bar)
        .select(col("doc_id"), col("host"), col("host_rank"), col("keep"))
        .orderBy("doc_id")
    }),

    // robots.txt crawl filtering (RFC 9309), oracled BY CONSTRUCTION: one
    // planted policy, five URL classes per doc_id%5 whose allow/deny
    // decisions are known from the construction — wildcard+$ anchoring,
    // longest-match Allow override and the no-match default each get a
    // class. The oracle CASEs on doc_id%5; the matcher earns its row.
    "q73_robots_filter" -> ((s, dir) => {
      import graft.functions.RobotsAllowed
      val robots = "User-agent: *\nDisallow: /private/\n" +
        "Allow: /private/public/\nDisallow: /tmp/*.pdf$\n"
      val url = concat(lit("https://site-"),
        pmod(col("doc_id"), lit(40)).cast("int").cast("string"), lit(".example.com"),
        when(col("doc_id") % 5 === 0, concat(lit("/private/p"), col("doc_id").cast("string")))
          .when(col("doc_id") % 5 === 1, concat(lit("/private/public/p"), col("doc_id").cast("string")))
          .when(col("doc_id") % 5 === 2, concat(lit("/tmp/f"), col("doc_id").cast("string"), lit(".pdf")))
          .when(col("doc_id") % 5 === 3, concat(lit("/f"), col("doc_id").cast("string"), lit(".pdf")))
          .otherwise(concat(lit("/docs/p"), col("doc_id").cast("string"))))
      rawDocs(s, dir)
        .select(col("doc_id"), url.as("url"),
          RobotsAllowed.robots_allowed(lit(robots), url).as("allowed"))
        .orderBy("doc_id")
    }),

    // C4 three-sentence-span dedup (Raffel et al. 2020 §2.2 — the paper's
    // actual dedup unit). Planted tail: a per-doc unique sentence followed by
    // three shared boilerplate sentences, so the trailing (Call, Free,
    // Limited) window is corpus-wide duplicated and must survive only in the
    // min-doc_id document, while the (unique, Call, Free) window stays
    // unique per doc. Organic within-corpus span dups dedup too — the DuckDB
    // oracle mirrors the full rule on the span STRING (Spark shuffles the
    // 60-bit hash; the 2^-60 collision trade is q53's, documented there).
    "q74_span_dedup" -> ((s, dir) => {
      import graft.operators.ExactSubstring
      val planted = rawDocs(s, dir).select(col("doc_id"),
        concat(col("text"),
          lit(" Unique tail sentence "), col("doc_id").cast("string"),
          lit(" marker. Call today! Free shipping applies. Limited time only.")
        ).as("text"))
      ExactSubstring.dedupSpans(planted, "doc_id", "text")
        .select(col("id"), col("n_sentences"), col("n_kept"),
          md5(col("text_dedup")).as("dedup_md5"))
        .orderBy("id")
    }),

    // Quality-aware dup-cluster retention (the RefinedWeb-style policy):
    // each near-dup component keeps its argmax-quality member (word count
    // here; ties → min id), NOT the minimum id. Planted clusters cover both
    // directions: token-DROPPED mutants (original, smaller id, wins) and
    // token-APPENDED mutants (the LARGER id wins — distinguishing this from
    // q39's min-id retention). Fully DuckDB-oracled: the q39 recursive-CC
    // skeleton plus an argmax window.
    "q75_keep_best" -> ((s, dir) => {
      val base = docs(s, dir).select("doc_id", "text")
      val dropped = base.filter(col("doc_id") % 25 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          array_join(slice(TF.tokens(col("text")), 3, 1000000), " ").as("text"))
      val appended = base.filter(col("doc_id") % 40 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(trim(col("text")), lit(" "),
            array_join(slice(TF.tokens(col("text")), 1, 8), " ")).as("text"))
      val d = base.unionByName(dropped).unionByName(appended)
        .withColumn("n_words", size(TF.tokens(col("text"))))
      val pairs = Dedup.jaccardVerify(d, "doc_id", "text",
          Dedup.candidatePairs(  // hashed internal bands — see q16
            Dedup.lshBandsHashed(Dedup.minhashSignaturesFast(d, "doc_id", "text"))))
        .filter(col("jaccard") >= 0.5)
      Dedup.keepBestPerComponent(d, "doc_id", "n_words", pairs)
        .select("doc_id", "n_words")
        .orderBy("doc_id")
    }),

    // UT1-style domain blocklist with subdomain semantics: a banned
    // registrable domain bans all its subdomains, but never across a label
    // boundary ("tracker.net" must NOT ban "nottracker.net" — the trap a
    // naive string-suffix match falls into). The blocklist joins by
    // EQUALITY against the exploded host-suffix column, so it plans as a
    // broadcast hash join (a LIKE-suffix join is a nested loop; at real
    // blocklist sizes — UT1 is millions of entries — that's the difference
    // between a narrow pass and a cartesian). Oracled by construction.
    "q76_domain_suffix_block" -> ((s, dir) => {
      import s.implicits._
      val pages = rawDocs(s, dir).select(col("doc_id"),
        when(col("doc_id") % 5 === 0,
            concat(lit("site"), (col("doc_id") % 40).cast("string"), lit(".org")))
          .when(col("doc_id") % 5 === 1, lit("ads.tracker.net"))
          .when(col("doc_id") % 5 === 2, lit("tracker.net"))
          .when(col("doc_id") % 5 === 3, lit("nottracker.net"))
          .otherwise(lit("deep.a.b.example.com")).as("host"))
      val blocked = Seq("tracker.net", "b.example.com").toDF("entry")
      val bad = pages
        .select(col("doc_id"), explode(UrlFunctions.hostSuffixes(col("host"))).as("sfx"))
        .join(broadcast(blocked), col("sfx") === col("entry"), "left_semi")
        .select("doc_id").distinct()
      pages.join(bad, Seq("doc_id"), "left_anti").orderBy("doc_id")
    }),

    // CCNet corpus bucketing (Wenzek et al. 2020 §4.4): per-language
    // perplexity-tercile cutoffs label each page head/middle/tail (training
    // mixes prefer the head). The score here is a deterministic SQL-
    // expressible proxy (mean chars per token) so the bucketing itself is
    // DuckDB-oracled end to end; CcnetBucketSpec runs the same operator on
    // real KN-perplexity scores. Cutoffs are a per-lang two-row aggregate
    // broadcast back — documents never shuffle.
    "q77_ccnet_bucket" -> ((s, dir) => {
      import graft.filter.CcnetBucket
      val scored = rawDocs(s, dir).select(col("doc_id"), col("lang"),
        round(col("n_chars").cast("double") /
          (lit(1.0) + size(TF.tokens(col("text")))), 4).as("score"))
      CcnetBucket.bucketByScore(scored, "lang", "score")
        .select("doc_id", "lang", "score", "bucket").orderBy("doc_id")
    }),

    // CCNet-normalized paragraph dedup (Wenzek et al. 2020 §4.1): the dedup
    // key is the NORMALIZED line (lowercase, digit-fold, punctuation-strip,
    // whitespace-collapse), so case/digit/punct variants of the same
    // boilerplate collapse corpus-wide. Planted: every doc gets a social-
    // footer line whose surface form varies by parity ("Share on FACEBOOK -
    // 1,234 Likes!!!" vs "share   on facebook 0000 likes") — same key, so it
    // survives only in doc 0. The DuckDB oracle mirrors the full rule
    // including organic collisions (lower + 3 regexp_replace reproduce the
    // expression exactly on ASCII; the non-ASCII path is CcnetNormalizeSpec's).
    "q78_ccnet_paradedup" -> ((s, dir) => {
      import graft.operators.ExactSubstring
      val withFooter = rawDocs(s, dir).select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 2 === 0,
              lit("\nShare on FACEBOOK - 1,234 Likes!!!"))
            .otherwise(lit("\nshare   on facebook 0000 likes"))).as("text"))
      ExactSubstring.ccnetDedupLines(withFooter, "doc_id", "text")
        .select(col("id"), col("n_lines_kept"), md5(col("text_dedup")).as("dedup_md5"))
        .orderBy("id")
    }),

    // Per-host document cap (corpus-balance policy): no host contributes
    // more than 5 pages; the highest-n_chars pages win, ties on doc_id.
    // Hosts are synthesized skewed: a third of the corpus lands on 13 hot
    // hosts (the planted heavy tail), the rest spreads over 211 — so both
    // the broadcast-anti passthrough and the capped-window path do real
    // work. Oracle: QUALIFY row_number() per host.
    "q79_host_cap" -> ((s, dir) => {
      val pages = rawDocs(s, dir).select(col("doc_id"), col("n_chars"),
        when(col("doc_id") % 3 === 0,
            concat(lit("hot"), (col("doc_id") % 13).cast("string"), lit(".com")))
          .otherwise(concat(lit("h"), (col("doc_id") % 211).cast("string"), lit(".org")))
          .as("host"))
      Sampling.hostCap(pages, "host", "n_chars", "doc_id", cap = 5)
        .select("doc_id", "host", "n_chars").orderBy("doc_id")
    }),

    // Temperature-flattened multilingual sampling (XLM-R / mT5 mixture
    // rebalance): keep rate min(1, 8/sqrt(n_lang)) — head languages (en)
    // downsample hard, the tail keeps (nearly) everything; selection is by
    // stable doc_id hash. Bit-exact across engines by construction (sqrt /
    // div / mul / floor are all IEEE correctly-rounded — no pow), so the
    // oracle hash-matches with zero tolerance.
    "q80_lang_temperature" -> ((s, dir) =>
      Sampling.temperatureSample(rawDocs(s, dir).select("doc_id", "lang"),
          "lang", col("doc_id"), c = 8.0, salt = "t1")
        .select("doc_id", "lang", "n_lang").orderBy("doc_id")),

    // URL-shape quality signals (RefinedWeb URL-filter family): spam URLs
    // are URL-shaped before they are content-shaped. Synthesized shapes
    // exercise every signal: digit/hyphen-stuffed hosts (doc_id%5=0),
    // depth-0..4 paths, 3-param query tails (%3=0). All integer-valued →
    // the oracle mirrors the extraction regexes and counts exactly.
    "q90_url_shape" -> ((s, dir) => {
      import graft.functions.UrlFunctions
      val host = when(col("doc_id") % 5 === 0,
          concat(lit("dl-0000-"), (col("doc_id") % 9).cast("string"), lit(".biz")))
        .otherwise(concat(lit("s"), (col("doc_id") % 97).cast("string"), lit(".org")))
      val url = concat(lit("https://"), host,
        expr("repeat('/seg', CAST(doc_id % 5 AS INT))"),
        when(col("doc_id") % 3 === 0, lit("?a=1&b=2&c=3")).otherwise(lit("")))
      rawDocs(s, dir).select(col("doc_id"), url.as("url"))
        .withColumn("sig", UrlFunctions.urlShapeSignals(col("url")))
        .select(col("doc_id"), col("url"), col("sig.path_depth"),
          col("sig.n_params"), col("sig.host_digit_permille"), col("sig.host_hyphens"))
        .withColumn("url_suspect", col("path_depth") >= 4 ||
          col("n_params") >= 3 || col("host_digit_permille") >= 350)
        .orderBy("doc_id")
    }),

    // Domain quality prior with per-doc rescue (FineWeb-style): hosts whose
    // AVERAGE chars-per-word score fails 5.5 drop wholesale; pages scoring
    // ≥5.8 individually are rescued off bad domains (both branches fire at
    // every SF — verified empirically when the thresholds were chosen).
    // Score is integer (n_chars·10⁶ div n_words) so the host average is an
    // exact integer sum with ONE final division — no float-sum order
    // sensitivity between engines.
    "q89_domain_prior" -> ((s, dir) => {
      val d = rawDocs(s, dir).select(col("doc_id"), col("n_chars"),
          when(col("doc_id") % 3 === 0,
              concat(lit("hot"), (col("doc_id") % 13).cast("string"), lit(".com")))
            .otherwise(concat(lit("h"), (col("doc_id") % 211).cast("string"), lit(".org")))
            .as("host"),
          TF.tokenCount(col("text")).as("n_words"))
        .withColumn("score", expr("(n_chars * 1000000) div n_words"))
        .select("doc_id", "host", "score")
      Sampling.domainPriorKeep(d, "host", "score",
          domainBar = 5500000.0, docBar = 5800000L)
        .select("doc_id", "host", "score", "domain_avg").orderBy("doc_id")
    }),

    // Latest-capture-per-URL dedup (Common-Crawl recrawl semantics): urls
    // repeat across synthetic snapshots (~3-4 captures each), keep max ts,
    // ties → min doc_id (planted: doc_id%50 mutants duplicate their
    // original's url AND ts, so the tie-break is exercised). Spark side is
    // a map-side-combining max_by AGGREGATION — not a window (see
    // Dedup.latestCapture scaladoc); the oracle is the equivalent window.
    "q81_url_latest" -> ((s, dir) => {
      val base = rawDocs(s, dir).select(col("doc_id"),
        concat(lit("https://s.com/p"), (col("doc_id") % 150).cast("string")).as("url"),
        ((col("doc_id") * 37) % 1000).as("warc_ts"))
      val tied = base.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("url"), col("warc_ts"))
      graft.operators.Dedup.latestCapture(base.unionByName(tied),
          "url", "warc_ts", "doc_id")
        .select("url", "doc_id", "warc_ts", "n_captures").orderBy("url")
    }),

    // Incremental (cross-batch) paragraph dedup, Dolma-style: the odd-id
    // half of the corpus arrives as a fresh batch and is rebuilt with every
    // line whose CCNET-NORMALIZED digest was already seen in the even-id
    // history removed (Bloom-prefiltered, B=2 sharded; answer exactly equals
    // the anti-join, which is what the oracle computes). Planted parity
    // footers guarantee cross-boundary hits through DIFFERENT surface forms;
    // organic cross-half dup lines count too, and the oracle mirrors both.
    "q83_incr_linededup" -> ((s, dir) => {
      import graft.operators.IncrementalDedup
      val withFooter = rawDocs(s, dir).select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 2 === 0,
              lit("\nShare on FACEBOOK - 1,234 Likes!!!"))
            .otherwise(lit("\nshare   on facebook 0000 likes"))).as("text"))
      val hist = withFooter.filter(col("doc_id") % 2 === 0)
      val batch = withFooter.filter(col("doc_id") % 2 === 1)
      val histD = IncrementalDedup.lineDigests(hist, "doc_id", "text")
        .select("line_digest")
      IncrementalDedup.newLinesOnly(batch, histD, "doc_id", "text",
          IncrementalDedup.buildFilterArray(histD, "line_digest",
            expectedItems = 100000, shards = 2))
        .df.select(col("id"), col("n_lines_kept"), md5(col("text_dedup")).as("dedup_md5"))
        .orderBy("id")
    }),

    // Incremental (cross-batch) exact-substring span dedup: the whole corpus
    // is history (its distinct 8-gram table persisted — spanGramTable);
    // the batch is suffix mutants of two overlapping strides (+1M drop-2,
    // +2M drop-4 — cross-boundary span shares with history AND with each
    // other) plus a within-batch-only duplicated footer on every other +1M
    // doc. Per batch doc: coverage stats of within-batch duplicated spans ∪
    // spans whose gram history already holds (Bloom-prefiltered membership,
    // B=2 sharded; answer exactly equals the full q53 rule over
    // history ∪ batch restricted to batch ids — the oracle computes that).
    "q91_incr_spandedup" -> ((s, dir) => {
      import graft.operators.IncrementalDedup
      val hist = docs(s, dir).select("doc_id", "text")
      val b1 = hist.filter(col("doc_id") % 25 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(array_join(slice(TF.tokens(col("text")), 3, 1000000), " "),
            when(col("doc_id") % 50 === 0,
                lit(" fresh mirror footer alpha beta gamma delta epsilon zeta eta theta"))
              .otherwise(lit(""))).as("text"))
      val b2 = hist.filter(col("doc_id") % 40 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          array_join(slice(TF.tokens(col("text")), 5, 1000000), " ").as("text"))
      val grams = IncrementalDedup.spanGramTable(hist, "doc_id", "text")
      IncrementalDedup.incrSpanStats(b1.unionByName(b2), grams, "doc_id", "text",
          k = 8, maxDf = 64,
          filters = IncrementalDedup.buildFilterArray(
            grams.select(IncrementalDedup.gramDigest), "g_digest",
            expectedItems = 1 << 20, shards = 2))
        .df.orderBy("id")
    }),

    // Incremental per-host admission cap: history (doc_id%4 != 3) already
    // holds per-host arrival counts; the batch (doc_id%4 = 3, strictly later
    // warc_ts) is admitted host by host while n_seen + within-batch rank
    // stays <= 5. Three planted host families exercise all three broadcast
    // classes at sf>=0.01: 13 hot .com hosts arrive saturated (dropped
    // without ranking), 29 mid .net hosts straddle the cap (the only rows
    // windowed; saturated too by sf0.1), 997 tail .org hosts are safe
    // (admitted without ranking at every SF).
    // Oracle: the full first-5-arrivals window over history ∪ batch
    // restricted to batch rows — the admission-equivalence contract.
    "q93_incr_hostcap" -> ((s, dir) => {
      import graft.operators.IncrementalSelect
      val arr = rawDocs(s, dir).select(col("doc_id"),
        when(col("doc_id") % 3 === 0,
            concat(lit("hot"), (col("doc_id") % 13).cast("string"), lit(".com")))
          .when(col("doc_id") % 3 === 1,
            concat(lit("m"), (col("doc_id") % 29).cast("string"), lit(".net")))
          .otherwise(concat(lit("t"), (col("doc_id") % 997).cast("string"), lit(".org")))
          .as("host"),
        when(col("doc_id") % 4 === 3, col("doc_id") + 10000000L)
          .otherwise(col("doc_id")).as("warc_ts"))
      val history = arr.filter(col("doc_id") % 4 =!= 3)
      val batch = arr.filter(col("doc_id") % 4 === 3)
      val state = IncrementalSelect.hostCapInit(history, "host")
      IncrementalSelect.hostCapStep(state, batch, "host", "warc_ts", "doc_id", cap = 5)
        .kept.select("doc_id", "host", "warc_ts").orderBy("doc_id")
    }),

    // Incremental latest-capture-per-URL (recrawl upsert semantics): the
    // even-id half is persisted per-URL best-capture state; the odd-id half
    // arrives as a recrawl batch sharing every URL (url = doc_id div 2, so
    // the halves collide URL-for-URL — a parity-preserving modulo would
    // silently disjoin them). Emitted rows = URLs whose best capture the
    // batch improved under the (ts desc, id asc) rule, with the cumulative
    // capture count. Planted ties in both directions: %50 history docs
    // recur in the batch at id+1e6 (history defends on the tie), %70=35
    // batch docs recur in HISTORY at id+2e6 (the batch row wins its tie).
    // Oracle: the full q81 window over all arrivals, winners restricted to
    // batch-contributed rows.
    "q94_incr_latest" -> ((s, dir) => {
      import graft.operators.IncrementalSelect
      val base = rawDocs(s, dir).select(col("doc_id"),
        concat(lit("https://s.com/p"),
          expr("(doc_id div 2) % 150").cast("string")).as("url"),
        ((col("doc_id") * 37) % 1000).as("warc_ts"))
      val histExtra = base.filter(col("doc_id") % 70 === 35)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("url"), col("warc_ts"))
      val history = base.filter(col("doc_id") % 2 === 0).unionByName(histExtra)
      val batchExtra = base.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("url"), col("warc_ts"))
      val batch = base.filter(col("doc_id") % 2 === 1).unionByName(batchExtra)
      val state = IncrementalSelect.latestCaptureInit(history, "url", "warc_ts", "doc_id")
      IncrementalSelect.latestCaptureStep(state, batch, "url", "warc_ts", "doc_id")
        .upserts.select("url", "doc_id", "warc_ts", "n_captures").orderBy("url")
    }),

    // Luhn-gated card validation (ISO/IEC 7812-1): the regex layer accepts
    // any 13-19-digit shape, so production scrubbers gate the hit on the
    // mod-10 checksum to kill invoice/tracking-number false positives.
    // Candidates are synthesized deterministically (16 digits, check digit
    // = doc_id%10, grouped 4-4-4-4) so ~1 in 10 validates; Spark evaluates
    // the luhn_valid kernel on the SEPARATED form (stripping exercised),
    // the oracle recomputes the checksum digit-by-digit in SQL.
    "q82_card_luhn" -> ((s, dir) => {
      val raw = concat(lit("4"),
        lpad(((col("doc_id") * 7919 + 13) % 100000000000000L).cast("string"), 14, "0"),
        (col("doc_id") % 10).cast("string"))
      rawDocs(s, dir).select(col("doc_id"), raw.as("raw"))
        .select(col("doc_id"), concat_ws("-",
          substring(col("raw"), 1, 4), substring(col("raw"), 5, 4),
          substring(col("raw"), 9, 4), substring(col("raw"), 13, 4)).as("card"))
        .withColumn("luhn_ok", graft.functions.LuhnValid.luhn_valid(col("card")))
        .orderBy("doc_id")
    }),

    // Syndication / mirror detection: byte-identical text republished on
    // MULTIPLE hosts (press-wire copy, mirrors, scraper farms — at crawl
    // scale a large fraction of exact dups). Mirror copies are planted
    // (doc_id%25 re-published under a shifted id → different host per the
    // host formula). One uniform shuffle on the content digest; the
    // count-distinct over hosts expands within digest groups whose size is
    // the dup-group size, not corpus scale. Canonical = min doc_id.
    "q86_syndication" -> ((s, dir) => {
      val caps = rawDocs(s, dir).select(col("doc_id"), col("text"))
        .unionByName(rawDocs(s, dir).filter(col("doc_id") % 25 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      val pages = caps.select(col("doc_id"), md5(col("text")).as("digest"),
        when(col("doc_id") % 3 === 0,
            concat(lit("hot"), (col("doc_id") % 13).cast("string"), lit(".com")))
          .otherwise(concat(lit("h"), (col("doc_id") % 211).cast("string"), lit(".org")))
          .as("host"))
      pages.groupBy("digest")
        .agg(count(lit(1)).as("n_copies"),
          countDistinct(col("host")).as("n_hosts"),
          min(col("doc_id")).as("canonical_id"))
        .filter(col("n_hosts") >= 2)
        .orderBy("digest")
    }),

    // Checksum-gated strict scrub end-to-end: each doc's text carries one
    // q82-style card candidate AND one q84-style RRN candidate with
    // independent validity; scrub_pii_strict must redact exactly the
    // checksum-passing ones and leave the failures in the clear. The oracle
    // REBUILDS the expected output string in SQL (card: Luhn; RRN: citizen
    // mod-11 OR the ARC +2 variant for g 5-8) — by construction it also
    // proves no other detector category claims the kept digits.
    "q85_strict_scrub" -> ((s, dir) => {
      val cardRaw = concat(lit("4"),
        lpad(((col("doc_id") * 7919 + 13) % 100000000000000L).cast("string"), 14, "0"),
        (col("doc_id") % 10).cast("string"))
      val card = concat_ws("-",
        substring(cardRaw, 1, 4), substring(cardRaw, 5, 4),
        substring(cardRaw, 9, 4), substring(cardRaw, 13, 4))
      val rrn = concat(lit("900101-"), (col("doc_id") % 10).cast("string"),
        lpad(((col("doc_id") * 101) % 100000).cast("string"), 5, "0"),
        ((col("doc_id") * 7) % 10).cast("string"))
      rawDocs(s, dir).select(col("doc_id"),
          concat(lit("결제 카드번호 "), card, lit(" 주민등록번호 "), rrn,
            lit(" 확인")).as("text"))
        .withColumn("text_strict",
          graft.functions.PiiFunctions.scrub_pii_strict(col("text")))
        .select("doc_id", "text_strict").orderBy("doc_id")
    }),

    // Korean RRN checksum gate: the reference's 주민등록번호 regex is
    // shape-only; the weighted mod-11 check (weights 2..9,2..5 over d1-d12)
    // plus the g∈[1,8] gender-digit rule rejects ~92% of random candidates.
    // Candidates synthesized with independent gender/serial/check digits so
    // both rejection paths (bad gender digit, bad checksum) are exercised.
    "q84_rrn_check" -> ((s, dir) => {
      val rrn = concat(lit("900101-"), (col("doc_id") % 10).cast("string"),
        lpad(((col("doc_id") * 101) % 100000).cast("string"), 5, "0"),
        ((col("doc_id") * 7) % 10).cast("string"))
      rawDocs(s, dir).select(col("doc_id"), rrn.as("rrn"))
        .withColumn("rrn_ok", graft.functions.RrnValid.rrn_valid(col("rrn")))
        .orderBy("doc_id")
    }),

    // SemDeDup (Abbas et al. 2023): k-means-clustered semantic dedup over
    // embeddings ∪ planted scaled copies (cosine-identical, so each copy
    // MUST be dropped against its earlier original). Golden-pinned (k-means
    // quantizer is iterative — not SQL-expressible); the drop rule itself is
    // verified against a brute-force reference in SemDedupSpec.
    "q61_semdedup" -> ((s, dir) => {
      val e = embs(s, dir).select("vec_id", "embedding")
      val planted = e.filter(col("vec_id") % 20 === 0)
        .select((col("vec_id") + 100000L).as("vec_id"),
          transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
      val vectors = e.unionByName(planted)
      Similarity.semDedup(vectors, threshold = 0.99,
          centroids = Similarity.fitSemCentroids(vectors))
        .df.orderBy("vec_id")
    }),

    // The composed curation run end-to-end: exact dedup → line dedup →
    // near-dup components → exact-substring gate → quality gates → packing
    // as ONE chain, with planted work for every stage — exact copies
    // (stage 1), a corpus-wide boilerplate line + a pure-boilerplate page
    // (stage 2), token-dropped mutants (stage 3), a quote-farm page stitched
    // from spans of other docs, invisible to MinHash at jaccard<0.5 but
    // ~fully span-covered (stage 4). Output: per-stage survivor counts —
    // each stage's survivor set is SQL-expressible given the previous, so
    // the whole composition has a DuckDB oracle.
    "q64_curation_counts" -> ((s, dir) => {
      import graft.pipeline.Curation
      val d = docs(s, dir).select("doc_id", "text")
      val boiler = "this boilerplate sentence is shared across many documents and repeats sixteen whole tokens exactly"
      val withB = d.select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 10 === 0, lit(" " + boiler)).otherwise(lit("")),
          lit("\nDoc "), col("doc_id").cast("string"), lit(" unique footer."),
          lit("\nSubscribe to our newsletter for updates")).as("text"))
      val exactCopies = withB.filter(col("doc_id") % 25 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      val mutants = withB.filter(col("doc_id") % 25 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          array_join(slice(TF.tokens(col("text")), 3, 1000000), " ").as("text"))
      val pureBoiler = s.range(1).select(lit(5000000L).as("doc_id"),
        lit("Subscribe to our newsletter for updates").as("text"))
      val quoteFarm = withB.filter(col("doc_id").isin(1, 2, 3))
        .select(col("doc_id"),
          array_join(slice(TF.tokens(col("text")), 1, 20), " ").as("frag"))
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("doc_id"), col("frag")))),
          x => x("frag")), " ").as("text"))
        .select(lit(6000000L).as("doc_id"), col("text"))
      // quality-stage plants: a 2-gram-repetitive page whose repeated
      // bigram never forms a repeated 8-gram (so it must reach the quality
      // gate, not die at substring), and a page below the word floor
      val repetitive = s.range(1).select(lit(7000000L).as("doc_id"),
        array_join(transform(sequence(lit(1), lit(20)),
          i => concat(lit("alpha beta unique"), i.cast("string"))), " ").as("text"))
      val tooShort = s.range(1).select(lit(7000001L).as("doc_id"),
        lit("Too short.").as("text"))
      val corpus = withB.unionByName(exactCopies).unionByName(mutants)
        .unionByName(pureBoiler).unionByName(quoteFarm)
        .unionByName(repetitive).unionByName(tooShort)
      Curation.stageCounts(corpus).orderBy("stage_no")
    }),

    // Incremental NEAR-dup dedup (the daily-crawl operator): history =
    // every 3rd doc (last month's corpus), batch = the rest ∪ planted
    // mutants of history docs (every 15th, first two tokens dropped —
    // doc_id+1000000). Only batch×history pairs are computed; the verified
    // cross pairs must equal the full-corpus q16 pipeline restricted to the
    // boundary (the oracle runs exactly that).
    "q65_incr_neardup" -> ((s, dir) => {
      import graft.operators.IncrementalDedup
      val d = docs(s, dir).select("doc_id", "text")
      val history = d.filter(col("doc_id") % 3 === 0)
      val mutants = d.filter(col("doc_id") % 15 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          array_join(slice(TF.tokens(col("text")), 3, 1000000), " ").as("text"))
      val batch = d.filter(col("doc_id") % 3 =!= 0).unionByName(mutants)
      IncrementalDedup.nearCrossPairs(batch, history, "doc_id", "text")
        .withColumn("jaccard", round(col("jaccard"), 4))
        .filter(col("jaccard") >= 0.5)
        .orderBy("batch_id", "hist_id")
    }),

    // q65 with the history band table PERSISTED: written once to a
    // StateLake table bucketed by band_digest, then read back
    // bucket-pruned by the batch's probed digests — the production layout
    // ("only the batch shuffles; the history scan is satisfied from the
    // table's clustering") must yield byte-identical verified pairs, which
    // the shared q65 oracle checks end-to-end.
    "q95_lake_incr_neardup" -> ((s, dir) => {
      import graft.operators.IncrementalDedup
      import graft.sources.StateLake
      val d = docs(s, dir).select("doc_id", "text")
      val history = d.filter(col("doc_id") % 3 === 0)
      val mutants = d.filter(col("doc_id") % 15 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          array_join(slice(TF.tokens(col("text")), 3, 1000000), " ").as("text"))
      val batch = d.filter(col("doc_id") % 3 =!= 0).unionByName(mutants)
      val root = java.nio.file.Files.createTempDirectory("q95lake").toString
      val nBuckets = 16
      StateLake.append(IncrementalDedup.bandTable(history, "doc_id", "text"),
        s"$root/bands", "band_digest", nBuckets, 0)
      val probed = StateLake.probedBuckets(
        IncrementalDedup.bandTable(batch, "doc_id", "text"),
        "band_digest", nBuckets)
      val histBands = StateLake.readBuckets(s, s"$root/bands", probed)
        .select("id", "band", "band_digest")
      IncrementalDedup.nearCrossPairs(batch, history, "doc_id", "text",
          historyBands = Some(histBands))
        .withColumn("jaccard", round(col("jaccard"), 4))
        .filter(col("jaccard") >= 0.5)
        .orderBy("batch_id", "hist_id")
    }),

    // The WHOLE composed daily step against ONE oracle — the incremental
    // analogue of q64: history = the curation chain's fixed point over
    // the %3==0 docs (an already-curated corpus, the step's contract);
    // batch = the rest (ids above history — the monotonic-crawl contract)
    // plus one plant per death class: exact recrawl (90001), near-mutant
    // (90002), within-batch dup (90003), a composite whose every line is
    // known history boilerplate (90004 — dies at the ccnet-line stage), a
    // composite mostly made of one history doc's 8-gram spans (90005 —
    // survives near-dup, dies at the span gate), and a quality reject
    // (90006). The oracle runs the FULL chain over history ∪ batch in
    // DuckDB (both instantiations generated from one chain template) and
    // restricts to batch rows; the step must reproduce it VERBATIM, the
    // rebuilt text included.
    "q96_incr_step_full" -> ((s, dir) => {
      import graft.pipeline.{Curation, IncrementalCuration}
      import graft.operators.ExactSubstring
      val cfg = Curation.Config()
      def chain(df: DataFrame): DataFrame = {
        val s1 = Curation.exactStage(df)
        val s2 = ExactSubstring.ccnetDedupLines(s1, "doc_id", "text")
          .select(col("id").as("doc_id"), col("text_dedup").as("text"))
        val s3 = Curation.neardupStage(s2, cfg.neardupThreshold)
        val s4 = Curation.substringStage(s3, cfg)
        Curation.qualityStage(s4)
      }
      val d = docs(s, dir).select("doc_id", "text")
      val history = chain(d.filter(col("doc_id") % 3 === 0)).localCheckpoint()
      val h = history.orderBy("doc_id").limit(3).collect()
      val (t1, t2, t3) = (h(0).getString(1), h(1).getString(1), h(2).getString(1))
      val freshMin = d.filter(col("doc_id") % 3 =!= 0).orderBy("doc_id")
        .limit(1).collect()(0).getString(1)
      import s.implicits._
      val plants = Seq(
        (90001L, t1),
        (90002L, t2.trim.split("\\s+").drop(2).mkString(" ")),
        (90003L, freshMin),
        (90004L, t1 + "\n" + t2),
        (90005L, t3.trim.split("\\s+").take(12).mkString(" ") + " zz90005"),
        (90006L, "Too short."))
      val batch = d.filter(col("doc_id") % 3 =!= 0)
        .select((col("doc_id") + 10000L).as("doc_id"), col("text"))
        .unionByName(plants.toDF("doc_id", "text"))
      val st0 = IncrementalCuration.init(history, None,
        withLineDedup = true, withSpanDedup = true)
      val (out, _) = IncrementalCuration.step(st0, batch, None,
        expectedHistoryDigests = 1 << 12, expectedHistoryLines = 1 << 15,
        expectedHistoryGrams = 1 << 19)
      out.select("doc_id", "text").orderBy("doc_id")
    }),

    // Incremental SemDeDup (embedding-space daily batch): history = vectors
    // with id < 300 (frozen centroids fit there), batch = the rest ∪
    // planted scaled copies; batch verdicts judged against the persisted
    // historical assignment table. Golden-pinned (k-means quantizer);
    // exact equivalence with the full frozen-centroid run restricted to
    // the batch is spec-pinned in SemDedupSpec.
    "q66_incr_semdedup" -> ((s, dir) => {
      val e = embs(s, dir).select("vec_id", "embedding")
      val planted = e.filter(col("vec_id") % 20 === 0)
        .select((col("vec_id") + 100000L).as("vec_id"),
          transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
      val history = e.filter(col("vec_id") < 300)
      val batch = e.filter(col("vec_id") >= 300).unionByName(planted)
      val centroids = Similarity.fitSemCentroids(history)
      // persist = false: the driver holds the returned plan with no chance
      // to call release(), and at this scale recompute beats a leaked cache
      val inc = Similarity.semDedupIncremental(batch,
        Similarity.assignCells(history, centroids), centroids, threshold = 0.99,
        persist = false)
      inc.df.orderBy("vec_id")
    }),

    // Multimodal pipeline: binary media → decode(stub) → features → rollup.
    "q27_media_pipeline" -> ((s, dir) => {
      import graft.operators.Multimodal
      val decoded = Multimodal.decode(
        Multimodal.syntheticMedia(SyntheticPages.fromDocuments(s, dir)))
      val feats = Multimodal.features(decoded)
        .select(col("media_id"), col("media_type"),
          round(sqrt(aggregate(col("embedding"),
            lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double"))), 4).as("feat_norm"))
      feats.groupBy("media_type")
        .agg(count(lit(1)).as("n"), round(avg("feat_norm"), 4).as("avg_norm"))
        .orderBy("media_type")
    }))

  /** SQL mirror of `synthUrl` — shared by the q36 and q44 oracles so the
    * three copies (Scala + two oracles) can't drift independently. */
  private val synthUrlSql: String =
    """  SELECT doc_id,
      |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://WWW.' ELSE 'https://' END)
      |    || 'Site-' || CAST(doc_id % 40 AS VARCHAR) || '.Example.COM'
      |    || (CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END)
      |    || '/Articles/' || CAST(doc_id AS VARCHAR)
      |    || (CASE WHEN doc_id % 3 = 0 THEN '?utm_source=news&utm_medium=email&id=' ELSE '?id=' END)
      |    || CAST(doc_id AS VARCHAR)
      |    || (CASE WHEN doc_id % 5 = 0 THEN '&ref=homepage#section-2' ELSE '' END) AS url
      |  FROM documents""".stripMargin

  /** SQL mirror of `UrlFunctions.hostOf` for the fixture URLs (https with
    * :443 / http with :80 only — the scheme-conditional port strip reduces
    * to this unconditional one on these inputs), given a fragment-free url
    * expression. */
  private def hostSql(nf: String): String =
    "regexp_replace(regexp_replace(lower(regexp_extract(" + nf +
      ", '^[a-zA-Z]+://([^/?#]+)', 1)), ':(443|80)$', ''), '^www\\.', '')"

  /** The doc-level curation chain (exact → ccnet-line dedup → near-dup CC
    * → substring gate → quality) as a reusable SQL CTE block — the q64
    * chain with the line stage keyed on CCNET-NORMALIZED lines (the form
    * `IncrementalCuration.step` composes with, via ccnetDedupLines +
    * the ccnet seen-line history). `«P»` prefixes every CTE name and
    * `«IN»` is the (doc_id, text) input CTE, so the q96 oracle can
    * instantiate the chain TWICE (history fixed point, then the full run
    * over history ∪ batch) from one definition that cannot drift. */
  private val chainTemplate: String =
    """«P»s1 AS (
      |  SELECT doc_id, text FROM (
      |    SELECT doc_id, text, MIN(doc_id) OVER (PARTITION BY md5(text)) AS m FROM «IN»)
      |  WHERE doc_id = m
      |), «P»ln AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM «P»s1),
      |«P»lns AS (
      |  SELECT doc_id, i AS line_no, ls[i] AS line,
      |    ('0x'||substr(md5(trim(regexp_replace(regexp_replace(regexp_replace(
      |      lower(ls[i]), '[0-9]', '0', 'g'),
      |      '[^a-z0-9 \t\x0b-\x0d\x1c-\x1f]', '', 'g'),
      |      '[ \t\x0b-\x0d\x1c-\x1f]+', ' ', 'g'))),1,15))::UBIGINT AS key
      |  FROM «P»ln, UNNEST(range(1, len(ls) + 1)) AS t(i)
      |), «P»occ2 AS (
      |  SELECT doc_id, line_no, line,
      |    COUNT(*) OVER (PARTITION BY key) AS n_occ,
      |    ROW_NUMBER() OVER (PARTITION BY key ORDER BY doc_id, line_no) AS rn
      |  FROM «P»lns
      |), «P»s2 AS (
      |  SELECT doc_id, string_agg(line, chr(10) ORDER BY line_no) AS text
      |  FROM «P»occ2 WHERE n_occ = 1 OR rn = 1
      |  GROUP BY doc_id
      |), «P»shl AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, len(w)-1),
      |           j -> w[j] || ' ' || w[j+1] || ' ' || w[j+2])) AS sh
      |  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w FROM «P»s2)
      |  WHERE len(w) >= 3
      |), «P»sig AS (
      |  SELECT doc_id AS id, i,
      |    CAST(MIN((pa::HUGEINT * ('0x'||substr(md5(s),1,15))::UBIGINT + pb)
      |      % 2305843009213693951) AS BIGINT) AS sig
      |  FROM (SELECT doc_id, unnest(sh) AS s FROM «P»shl),
      |    (SELECT i, ('0x'||substr(md5('a'||i),1,15))::UBIGINT * 2 + 1 AS pa,
      |            ('0x'||substr(md5('b'||i),1,15))::UBIGINT AS pb
      |     FROM (SELECT unnest(range(16)) AS i))
      |  GROUP BY 1,2
      |), «P»bands AS (
      |  SELECT id, i//4 AS band, md5(string_agg(sig::VARCHAR, ',' ORDER BY i)) AS bd
      |  FROM «P»sig GROUP BY 1,2
      |), «P»prs AS (
      |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
      |  FROM «P»bands a JOIN «P»bands b ON a.band = b.band AND a.bd = b.bd AND a.id < b.id
      |), «P»verified AS (
      |  SELECT p.id_a, p.id_b FROM «P»prs p
      |  JOIN «P»shl sa ON sa.doc_id = p.id_a JOIN «P»shl sb ON sb.doc_id = p.id_b
      |  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
      |      / len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.5
      |), «P»edges AS (
      |  SELECT id_a AS src, id_b AS dst FROM «P»verified
      |  UNION SELECT id_b, id_a FROM «P»verified
      |), «P»r(id, comp) AS (
      |  SELECT DISTINCT src, src FROM «P»edges
      |  UNION
      |  SELECT e.dst, r.comp FROM «P»r r JOIN «P»edges e ON e.src = r.id
      |), «P»labels AS (SELECT id, MIN(comp) AS comp FROM «P»r GROUP BY 1),
      |«P»s3 AS (
      |  SELECT s2.doc_id, s2.text FROM «P»s2 s2
      |  LEFT JOIN «P»labels labels ON labels.id = s2.doc_id
      |  WHERE labels.id IS NULL OR labels.comp = s2.doc_id
      |), «P»toks4 AS (
      |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w FROM «P»s3
      |), «P»occ4 AS (
      |  SELECT doc_id, i AS pos,
      |    ('0x'||substr(md5(array_to_string(w[i:i+7], ' ')),1,15))::UBIGINT AS g
      |  FROM «P»toks4, UNNEST(range(1, len(w) - 6)) AS t(i)
      |  WHERE len(w) >= 8
      |), «P»ranked4 AS (
      |  SELECT doc_id, pos,
      |    COUNT(*) OVER (PARTITION BY g) AS n_occ,
      |    ROW_NUMBER() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
      |  FROM «P»occ4
      |), «P»cuts4 AS (
      |  SELECT doc_id, pos FROM «P»ranked4 WHERE n_occ > 1 AND (n_occ > 64 OR rn > 1)
      |), «P»cov4 AS (
      |  SELECT doc_id, pos,
      |    LEAST(8, COALESCE(LEAD(pos) OVER (PARTITION BY doc_id ORDER BY pos) - pos, 8)) AS c
      |  FROM «P»cuts4
      |), «P»agg4 AS (
      |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_cut FROM «P»cov4 GROUP BY 1
      |), «P»s4 AS (
      |  SELECT s3.doc_id, s3.text
      |  FROM «P»s3 s3 JOIN «P»toks4 t ON t.doc_id = s3.doc_id
      |  LEFT JOIN «P»agg4 a ON a.doc_id = s3.doc_id
      |  WHERE ROUND(CAST(COALESCE(a.n_cut, 0) AS DOUBLE)/len(t.w), 4) <= 0.5
      |), «P»q5 AS (
      |  SELECT doc_id, text,
      |    len(regexp_split_to_array(trim(text), '\s+')) AS n_words,
      |    length(regexp_replace(text, '[ \t\n\v\f\r]', '', 'g')) AS n_chars,
      |    length(text) - length(replace(replace(text, '#', ''), '…', '')) AS n_symbols,
      |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
      |        t -> regexp_matches(t, '[a-z]'))) AS n_alpha,
      |    list_transform(regexp_split_to_array(text, '\r?\n'), l -> trim(l)) AS ls
      |  FROM «P»s4
      |), «P»rep5 AS (
      |  SELECT doc_id, MAX(c)::DOUBLE / SUM(c) AS rep FROM (
      |    SELECT doc_id, g, COUNT(*) AS c FROM (
      |      SELECT doc_id, rt[i] || ' ' || rt[i+1] AS g
      |      FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS rt FROM «P»s4),
      |           UNNEST(range(1, len(rt))) AS t(i))
      |    GROUP BY 1, 2)
      |  GROUP BY 1
      |), «P»s5 AS (
      |  SELECT q5.doc_id, q5.text
      |  FROM «P»q5 q5 LEFT JOIN «P»rep5 rep5 ON rep5.doc_id = q5.doc_id
      |  WHERE NOT (
      |    n_words < 10 OR n_words > 200000
      |    OR (n_chars::DOUBLE / n_words) < 2.0 OR (n_chars::DOUBLE / n_words) > 12.0
      |    OR (n_symbols::DOUBLE / n_words) > 0.1
      |    OR (n_alpha::DOUBLE / n_words) < 0.5
      |    OR COALESCE(rep5.rep, 0) > 0.2
      |    OR (CAST(len(list_filter(ls, l -> regexp_matches(l, '^[•*-]'))) AS DOUBLE) / len(ls)) > 0.9
      |    OR (CAST(len(list_filter(ls, l -> regexp_matches(l, '(\.\.\.|…)$'))) AS DOUBLE) / len(ls)) > 0.3)
      |)""".stripMargin

  private def chainSql(prefix: String, input: String): String =
    chainTemplate.replace("«P»", prefix).replace("«IN»", input)

  /** The q96 DuckDB oracle: history = the chain's FIXED POINT over the
    * %3==0 docs; batch = the rest (ids +10000) plus one plant per death
    * class (exact recrawl, near-mutant, within-batch dup, all-known-lines
    * composite, history-span composite, quality reject); expected = the
    * FULL chain over history ∪ batch restricted to batch rows — which the
    * composed `IncrementalCuration.step` must reproduce verbatim, text
    * included (the equivalence IncrementalCurationSpec pins in-memory). */
  private val q96OracleSql: String =
    s"""WITH RECURSIVE h0 AS MATERIALIZED (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
       |), ${chainSql("h", "h0")},
       |hist AS MATERIALIZED (SELECT doc_id, text FROM hs5),
       |hsel AS MATERIALIZED (
       |  SELECT doc_id, text, ROW_NUMBER() OVER (ORDER BY doc_id) AS rk FROM hist),
       |fresh0 AS MATERIALIZED (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0),
       |batch AS (
       |  SELECT doc_id + 10000 AS doc_id, text FROM fresh0
       |  UNION ALL SELECT 90001, text FROM hsel WHERE rk = 1
       |  UNION ALL SELECT 90002, array_to_string(regexp_split_to_array(trim(text), '\\s+')[3:], ' ') FROM hsel WHERE rk = 2
       |  UNION ALL SELECT 90003, (SELECT text FROM fresh0 ORDER BY doc_id LIMIT 1)
       |  UNION ALL SELECT 90004, (SELECT text FROM hsel WHERE rk = 1) || chr(10) || (SELECT text FROM hsel WHERE rk = 2)
       |  UNION ALL SELECT 90005, array_to_string(regexp_split_to_array(trim(text), '\\s+')[1:12], ' ') || ' zz90005' FROM hsel WHERE rk = 3
       |  UNION ALL SELECT 90006, 'Too short.'
       |), u0 AS MATERIALIZED (
       |  SELECT doc_id, text FROM hist UNION ALL SELECT doc_id, text FROM batch
       |), ${chainSql("f", "u0")}
       |SELECT doc_id, text FROM fs5 WHERE doc_id >= 10000 ORDER BY doc_id""".stripMargin

  /** The q65 DuckDB oracle — the full-corpus q16 LSH pipeline over
    * batch ∪ history restricted to cross-boundary pairs. Shared by q95,
    * whose Spark side routes the history band table through a
    * [[graft.sources.StateLake]] persist + bucket-pruned read.  */
  private val incrNeardupOracleSql: String =
      """WITH u AS (
        |  SELECT doc_id, text, (doc_id % 3 = 0) AS hist FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id,
        |         array_to_string(regexp_split_to_array(trim(text), '\s+')[3:], ' ') AS text,
        |         FALSE AS hist
        |  FROM documents WHERE doc_id % 15 = 0
        |), shl AS (
        |  SELECT doc_id, hist, list_distinct(list_transform(range(1, len(w)-1),
        |           j -> w[j] || ' ' || w[j+1] || ' ' || w[j+2])) AS sh
        |  FROM (SELECT doc_id, hist, regexp_split_to_array(lower(trim(text)), '\s+') AS w FROM u)
        |  WHERE len(w) >= 3
        |), sig AS (
        |  SELECT doc_id AS id, i,
        |    CAST(MIN((pa::HUGEINT * ('0x'||substr(md5(s),1,15))::UBIGINT + pb)
        |      % 2305843009213693951) AS BIGINT) AS sig
        |  FROM (SELECT doc_id, unnest(sh) AS s FROM shl),
        |    (SELECT i, ('0x'||substr(md5('a'||i),1,15))::UBIGINT * 2 + 1 AS pa,
        |            ('0x'||substr(md5('b'||i),1,15))::UBIGINT AS pb
        |     FROM (SELECT unnest(range(16)) AS i))
        |  GROUP BY 1,2
        |), bands AS (
        |  SELECT id, i//4 AS band, md5(string_agg(sig::VARCHAR, ',' ORDER BY i)) AS bd
        |  FROM sig GROUP BY 1,2
        |), hb AS (
        |  SELECT b.id, b.band, b.bd, s.hist
        |  FROM bands b JOIN (SELECT DISTINCT doc_id, hist FROM u) s ON s.doc_id = b.id
        |), prs AS (
        |  SELECT DISTINCT b.id AS batch_id, h.id AS hist_id
        |  FROM hb b JOIN hb h ON b.band = h.band AND b.bd = h.bd
        |  WHERE NOT b.hist AND h.hist
        |), j AS (
        |  SELECT p.batch_id, p.hist_id,
        |    ROUND(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
        |      / len(list_distinct(list_concat(sa.sh, sb.sh))), 4) AS jaccard
        |  FROM prs p JOIN shl sa ON sa.doc_id = p.batch_id JOIN shl sb ON sb.doc_id = p.hist_id)
        |SELECT batch_id, hist_id, jaccard FROM j WHERE jaccard >= 0.5
        |ORDER BY batch_id, hist_id""".stripMargin

  val sql: Map[String, String] = Map(
    "q10_dedup_exact" ->
      """WITH u AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 25 = 0)
        |SELECT md5(text) AS digest, COUNT(*) AS n_docs, MIN(doc_id) AS canonical_id
        |FROM u GROUP BY 1 HAVING COUNT(*) > 1 ORDER BY canonical_id""".stripMargin,
    "q11_token_stats" ->
      """SELECT doc_id,
        | len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
        | ROUND(CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
        |   / len(regexp_split_to_array(trim(text), '\s+')), 4) AS mean_token_len
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q12_quality_flags" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w,
        |    length(regexp_replace(text, '\s', '', 'g')) AS nc
        |  FROM documents)
        |SELECT doc_id, len(w) AS n_words,
        | ROUND(CAST(nc AS DOUBLE)/len(w), 4) AS mean_word_len,
        | ROUND(CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)/len(w), 4) AS alpha_ratio,
        | len(list_filter(['the','a','of','to','and','in','is','that'], sw -> list_contains(w, sw))) AS stop_hits,
        | (len(w) >= 10 AND CAST(nc AS DOUBLE)/len(w) >= 2.0 AND CAST(nc AS DOUBLE)/len(w) <= 12.0
        |   AND CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)/len(w) >= 0.5
        |   AND len(list_filter(['the','a','of','to','and','in','is','that'], sw -> list_contains(w, sw))) >= 1) AS keep
        |FROM t ORDER BY doc_id""".stripMargin,
    "q13_fingerprint" ->
      """SELECT doc_id, md5(regexp_replace(lower(text), '[^a-z0-9가-힣]', '', 'g')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q14_minhash_sig" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w FROM documents
        |), sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w)-1),
        |         j -> w[j] || ' ' || w[j+1] || ' ' || w[j+2]))) AS s
        |  FROM toks WHERE len(w) >= 3)
        |SELECT doc_id AS id, i,
        |  CAST(MIN((pa::HUGEINT * ('0x'||substr(md5(s),1,15))::UBIGINT + pb)
        |    % 2305843009213693951) AS BIGINT) AS sig
        |FROM sh,
        |  (SELECT i, ('0x'||substr(md5('a'||i),1,15))::UBIGINT * 2 + 1 AS pa,
        |          ('0x'||substr(md5('b'||i),1,15))::UBIGINT AS pb
        |   FROM (SELECT unnest(range(16)) AS i))
        |GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q15_lsh_bands" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w FROM documents
        |), sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w)-1),
        |         j -> w[j] || ' ' || w[j+1] || ' ' || w[j+2]))) AS s
        |  FROM toks WHERE len(w) >= 3
        |), sig AS (
        |  SELECT doc_id AS id, i,
        |    CAST(MIN((pa::HUGEINT * ('0x'||substr(md5(s),1,15))::UBIGINT + pb)
        |      % 2305843009213693951) AS BIGINT) AS sig
        |  FROM sh,
        |    (SELECT i, ('0x'||substr(md5('a'||i),1,15))::UBIGINT * 2 + 1 AS pa,
        |            ('0x'||substr(md5('b'||i),1,15))::UBIGINT AS pb
        |     FROM (SELECT unnest(range(16)) AS i)) GROUP BY 1,2)
        |SELECT id, i//4 AS band, md5(string_agg(sig::VARCHAR, ',' ORDER BY i)) AS band_digest
        |FROM sig GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    // Full LSH dedup pipeline end-to-end: near-dup corpus → signatures →
    // bands → candidate self-join → exact shingle-Jaccard ≥ 0.5.
    "q16_dup_pairs" ->
      """WITH u AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id,
        |         array_to_string(regexp_split_to_array(trim(text), '\s+')[3:], ' ') AS text
        |  FROM documents WHERE doc_id % 25 = 0
        |), shl AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(w)-1),
        |           j -> w[j] || ' ' || w[j+1] || ' ' || w[j+2])) AS sh
        |  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w FROM u)
        |  WHERE len(w) >= 3
        |), sig AS (
        |  SELECT doc_id AS id, i,
        |    CAST(MIN((pa::HUGEINT * ('0x'||substr(md5(s),1,15))::UBIGINT + pb)
        |      % 2305843009213693951) AS BIGINT) AS sig
        |  FROM (SELECT doc_id, unnest(sh) AS s FROM shl),
        |    (SELECT i, ('0x'||substr(md5('a'||i),1,15))::UBIGINT * 2 + 1 AS pa,
        |            ('0x'||substr(md5('b'||i),1,15))::UBIGINT AS pb
        |     FROM (SELECT unnest(range(16)) AS i))
        |  GROUP BY 1,2
        |), bands AS (
        |  SELECT id, i//4 AS band, md5(string_agg(sig::VARCHAR, ',' ORDER BY i)) AS bd
        |  FROM sig GROUP BY 1,2
        |), pairs AS (
        |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
        |  FROM bands a JOIN bands b ON a.band = b.band AND a.bd = b.bd AND a.id < b.id
        |), j AS (
        |  SELECT p.id_a, p.id_b,
        |    ROUND(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
        |      / len(list_distinct(list_concat(sa.sh, sb.sh))), 4) AS jaccard
        |  FROM pairs p JOIN shl sa ON sa.doc_id = p.id_a JOIN shl sb ON sb.doc_id = p.id_b)
        |SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.5 ORDER BY id_a, id_b""".stripMargin,
    // SimHash-64 (60 hash bits): per-token ±1 bit votes, bit set iff sum > 0.
    "q17_simhash" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
        |  FROM documents
        |), h AS (
        |  SELECT doc_id, ('0x'||substr(md5(tok),1,15))::UBIGINT AS h FROM t
        |), v AS (
        |  SELECT doc_id, b,
        |    SUM(CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END) AS vote
        |  FROM h, (SELECT unnest(range(60)) AS b) GROUP BY 1,2)
        |SELECT doc_id AS id,
        |  CAST(SUM(CASE WHEN vote > 0 THEN (1::UBIGINT << b) ELSE 0::UBIGINT END) AS BIGINT) AS simhash
        |FROM v GROUP BY 1 ORDER BY 1""".stripMargin,
    "q29_embed_neardup" ->
      """WITH planted AS (
        |  SELECT vec_id + 100000 AS vec_id,
        |    CAST(list_transform(embedding, x -> x * 2.0) AS FLOAT[]) AS embedding
        |  FROM embeddings WHERE vec_id % 20 = 0),
        | allv AS (SELECT vec_id, embedding FROM embeddings UNION ALL SELECT * FROM planted)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                               CAST(b.embedding AS DOUBLE[])), 6) AS sim
        |FROM allv a, allv b
        |WHERE a.vec_id < b.vec_id
        |  AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                             CAST(b.embedding AS DOUBLE[])) >= 0.99
        |ORDER BY id_a, id_b""".stripMargin,
    "q30_salted_hosts" ->
      """SELECT CASE WHEN doc_id % 2 = 0 THEN 'host-0.example.org'
        |            ELSE 'host-' || CAST(doc_id % 50 AS VARCHAR) || '.example.org' END AS host,
        |       COUNT(*) AS n_pages
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q41_stream_dedup" ->
      """SELECT event_id, event_type, value FROM events ORDER BY event_id""",
    "q50_toxicity" ->
      """WITH t AS (
        |  SELECT doc_id, text, regexp_split_to_array(lower(trim(text)), '\s+') AS w
        |  FROM documents)
        |SELECT doc_id,
        |  len(list_filter(w, x -> x IN ('slow','fail','crash'))) AS n_tox,
        |  len(w) AS n_tokens,
        |  ROUND(CAST(len(list_filter(w, x -> x IN ('slow','fail','crash'))) AS DOUBLE)
        |    / len(w), 4) AS tox_ratio,
        |  md5(regexp_replace(text, '\b(slow|fail|crash)\b', '[masked]', 'gi')) AS scrub_md5,
        |  (ROUND(CAST(len(list_filter(w, x -> x IN ('slow','fail','crash'))) AS DOUBLE)
        |    / len(w), 4) >= 0.02) AS flagged
        |FROM t ORDER BY doc_id""".stripMargin,
    "q46_nfc_normalize" ->
      """WITH p AS (
        |  SELECT doc_id, text || ' cafe' || chr(769) || ' ga' || chr(776) || 'rten' AS t
        |  FROM documents)
        |SELECT doc_id, length(t) AS n_raw,
        |  length(nfc_normalize(t)) AS n_nfc,
        |  md5(nfc_normalize(t)) AS nfc_md5
        |FROM p ORDER BY doc_id""".stripMargin,
    "q43_top_ngram_frac" ->
      """WITH g AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(w)),
        |    j -> w[j] || ' ' || w[j+1])) AS g
        |  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
        |        FROM documents)
        |  WHERE len(w) >= 2
        |), c AS (SELECT doc_id, g, COUNT(*) AS cnt FROM g GROUP BY 1,2)
        |SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_grams,
        |  ROUND(CAST(MAX(cnt) AS DOUBLE) / SUM(cnt), 4) AS top_frac
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    "q44_blocklist" ->
      ("WITH u AS (\n" + synthUrlSql + "),\n" +
      " h AS (SELECT doc_id, " + hostSql("regexp_replace(url, '#.*$', '')") + " AS host\n" +
      """   FROM u)
        |SELECT doc_id, regexp_extract(host, '([^.]+\.[^.]+)$', 1) AS domain, host
        |FROM h
        |WHERE NOT (regexp_extract(host, '([^.]+\.[^.]+)$', 1) = 'example.com'
        |           AND regexp_matches(host, '^site-[0-9]\.'))
        |ORDER BY doc_id""".stripMargin),
    "q28_stream_window" ->
      """SELECT time_bucket(INTERVAL '5 minutes', ts) AS w_start, event_type,
        | COUNT(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q25_bpe_tokens" ->
      """SELECT doc_id,
        | len(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+')) AS n_bpe,
        | len(regexp_split_to_array(trim(text), '\s+')) AS n_ws
        |FROM documents ORDER BY doc_id""".stripMargin,
    // synthUrlSql + the same regex pipeline as UrlFunctions (RE2-safe, 'g'
    // where multiple matches are possible; Spark regexp_replace is global;
    // the anchored tracking strip keeps its separator via the \1 backref —
    // DuckDB replacement syntax for Spark's $1).
    "q36_url_canon" ->
      ("WITH u AS (\n" + synthUrlSql + "),\n" +
      """ s1 AS (SELECT doc_id, regexp_replace(url, '#.*$', '') AS nf FROM u),
        | h AS (SELECT doc_id, nf, """.stripMargin + hostSql("nf") + """ AS host
        |   FROM s1),
        | r AS (SELECT doc_id, host,
        |    lower(regexp_extract(nf, '^([a-zA-Z]+)://', 1)) AS scheme,
        |    regexp_replace(nf, '^[a-zA-Z]+://[^/?#]*', '') AS rest
        |   FROM h)
        |SELECT doc_id,
        |  scheme || '://' || host ||
        |    regexp_replace(regexp_replace(regexp_replace(
        |      regexp_replace(rest, '([?&])(utm_[a-z_]+|ref)=[^&#]*', '\1', 'g'),
        |      '&+', '&', 'g'), '\?&', '?'), '[?&]$', '') AS url_canon,
        |  host,
        |  regexp_extract(host, '([^.]+\.[^.]+)$', 1) AS domain
        |FROM r ORDER BY doc_id""".stripMargin),
    "q37_stratified_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE ('0x'||substr(md5(CAST(doc_id AS VARCHAR) || '|s1'),1,15))::UBIGINT % 10000
        |      < (CASE WHEN lang = 'en' THEN 2000 ELSE 5000 END)
        |ORDER BY doc_id""".stripMargin,
    "q97_train_shards" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    ('0x'||substr(md5(CAST(doc_id AS VARCHAR) || '|ep0'),1,15))::UBIGINT AS h
        |  FROM documents)
        |SELECT doc_id, CAST(h % 8 AS BIGINT) AS shard,
        |  ROW_NUMBER() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS pos
        |FROM h ORDER BY shard, pos""".stripMargin,
    "q99_mixture_shards" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR) || '|mix1'),1,15))::UBIGINT % 10000 AS BIGINT) AS bucket,
        |    (CASE WHEN source = 'src18' THEN 2.5 WHEN source = 'src7' THEN 0.4 ELSE 1.0 END) AS rate
        |  FROM documents
        |), n AS (
        |  SELECT doc_id, source,
        |    CAST(FLOOR(rate) AS BIGINT) +
        |      (CASE WHEN bucket < CAST(round((rate - FLOOR(rate)) * 10000) AS BIGINT) THEN 1 ELSE 0 END) AS n_copies
        |  FROM t
        |), m AS (
        |  SELECT doc_id, source, CAST(copy AS BIGINT) AS copy
        |  FROM n, UNNEST(range(1, n_copies + 1)) AS u(copy)
        |), h AS (
        |  SELECT doc_id, source, copy,
        |    CAST(doc_id AS VARCHAR) || ':' || CAST(copy AS VARCHAR) AS k,
        |    ('0x'||substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(copy AS VARCHAR) || '|ep1'),1,15))::UBIGINT AS h
        |  FROM m)
        |SELECT doc_id, source, copy, CAST(h % 4 AS BIGINT) AS shard,
        |  ROW_NUMBER() OVER (PARTITION BY h % 4 ORDER BY h, k) AS pos
        |FROM h ORDER BY shard, pos""".stripMargin,
    "q98_token_budget" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    len(regexp_split_to_array(trim(text), '\s+')) AS toks,
        |    ('0x'||substr(md5(CAST(doc_id AS VARCHAR) || '|mix2'),1,15))::UBIGINT AS h
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang, toks,
        |    COALESCE(SUM(toks) OVER (PARTITION BY lang ORDER BY h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
        |  FROM t)
        |SELECT doc_id, lang, CAST(toks AS BIGINT) AS toks FROM c
        |WHERE prior < (CASE lang WHEN 'en' THEN 6000 WHEN 'zh' THEN 2500
        |               ELSE 1500 END)
        |ORDER BY doc_id""".stripMargin,
    "q100_host_split" ->
      """WITH d AS (
        |  SELECT doc_id, 'site-' || CAST(doc_id % 40 AS VARCHAR) AS host
        |  FROM documents),
        |h AS (
        |  SELECT doc_id, host,
        |    ('0x'||substr(md5(host || '|sp1'),1,15))::UBIGINT % 10000 AS b
        |  FROM d)
        |SELECT doc_id, host,
        |  CASE WHEN b < 8000 THEN 'train'
        |       WHEN b < 9000 THEN 'valid' ELSE 'test' END AS split
        |FROM h ORDER BY doc_id""".stripMargin,
    "q101_data_card" ->
      """WITH d AS (
        |  SELECT COALESCE(lang, 'unknown') AS lang,
        |    len(regexp_split_to_array(trim(text), '\s+')) AS toks,
        |    'site-' || CAST(doc_id % 40 AS VARCHAR) AS host, source
        |  FROM documents)
        |SELECT CASE WHEN GROUPING(lang) = 1 THEN 'ALL' ELSE lang END AS lang,
        |  CAST(GROUPING(lang) AS INTEGER) AS is_total,
        |  COUNT(*) AS n_docs, CAST(SUM(toks) AS BIGINT) AS n_tokens,
        |  COUNT(DISTINCT host) AS n_hosts, COUNT(DISTINCT source) AS n_sources,
        |  MIN(toks) AS min_doc_tokens, MAX(toks) AS max_doc_tokens,
        |  ROUND(CAST(SUM(toks) AS DOUBLE) / COUNT(*), 4) AS mean_doc_tokens
        |FROM d GROUP BY ROLLUP(lang) ORDER BY lang""".stripMargin,
    "q102_anchor_text" ->
      """WITH l AS (
        |  SELECT 'site-' || CAST((doc_id*7+1) % 40 AS VARCHAR) || '.example.com' AS host,
        |         'alpha ' || CAST(doc_id % 5 AS VARCHAR) AS anchor FROM documents
        |  UNION ALL
        |  SELECT 'site-' || CAST((doc_id*13+2) % 40 AS VARCHAR) || '.example.com',
        |         'beta ' || CAST(doc_id % 7 AS VARCHAR) FROM documents)
        |SELECT host, COUNT(*) AS n_links,
        |  COUNT(DISTINCT anchor) AS n_anchors,
        |  array_to_string(list_sort(list(DISTINCT anchor)), '|') AS anchor_vocab
        |FROM l GROUP BY host ORDER BY host""".stripMargin,
    "q103_curriculum_shards" ->
      """WITH h AS (
        |  SELECT doc_id, n_chars,
        |    ('0x'||substr(md5(CAST(doc_id AS VARCHAR) || '|cur1'),1,15))::UBIGINT AS h
        |  FROM documents)
        |SELECT doc_id, n_chars, CAST(h % 4 AS BIGINT) AS shard,
        |  ROW_NUMBER() OVER (PARTITION BY h % 4 ORDER BY n_chars, h, doc_id) AS pos
        |FROM h ORDER BY shard, pos""".stripMargin,
    "q38_decontaminate" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tw FROM documents),
        | bench AS (
        |  SELECT DISTINCT unnest(list_distinct(list_transform(range(1, len(w)-1),
        |    j -> w[j] || ' ' || w[j+1] || ' ' || w[j+2]))) AS s
        |  FROM (SELECT regexp_split_to_array(lower(array_to_string(tw[1:15], ' ')), '\s+') AS w
        |        FROM toks WHERE doc_id % 10 = 0)
        |  WHERE len(w) >= 3),
        | corp AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w)-1),
        |    j -> w[j] || ' ' || w[j+1] || ' ' || w[j+2]))) AS s
        |  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w FROM documents)
        |  WHERE len(w) >= 3)
        |SELECT doc_id AS id, COUNT(*) AS n_hits
        |FROM corp JOIN bench USING (s)
        |GROUP BY 1 HAVING COUNT(*) >= 5 ORDER BY 1""".stripMargin,
    // q16's pipeline + a recursive min-reachable-id CTE: comp(v) = MIN(id)
    // over everything reachable from v in the verified-pair graph.
    "q39_dup_components" ->
      """WITH RECURSIVE u AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id,
        |         array_to_string(regexp_split_to_array(trim(text), '\s+')[3:], ' ') AS text
        |  FROM documents WHERE doc_id % 25 = 0
        |), shl AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(w)-1),
        |           j -> w[j] || ' ' || w[j+1] || ' ' || w[j+2])) AS sh
        |  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w FROM u)
        |  WHERE len(w) >= 3
        |), sig AS (
        |  SELECT doc_id AS id, i,
        |    CAST(MIN((pa::HUGEINT * ('0x'||substr(md5(s),1,15))::UBIGINT + pb)
        |      % 2305843009213693951) AS BIGINT) AS sig
        |  FROM (SELECT doc_id, unnest(sh) AS s FROM shl),
        |    (SELECT i, ('0x'||substr(md5('a'||i),1,15))::UBIGINT * 2 + 1 AS pa,
        |            ('0x'||substr(md5('b'||i),1,15))::UBIGINT AS pb
        |     FROM (SELECT unnest(range(16)) AS i))
        |  GROUP BY 1,2
        |), bands AS (
        |  SELECT id, i//4 AS band, md5(string_agg(sig::VARCHAR, ',' ORDER BY i)) AS bd
        |  FROM sig GROUP BY 1,2
        |), prs AS (
        |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
        |  FROM bands a JOIN bands b ON a.band = b.band AND a.bd = b.bd AND a.id < b.id
        |), verified AS (
        |  SELECT p.id_a, p.id_b FROM prs p
        |  JOIN shl sa ON sa.doc_id = p.id_a JOIN shl sb ON sb.doc_id = p.id_b
        |  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
        |      / len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.5
        |), edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM verified
        |  UNION SELECT id_b, id_a FROM verified
        |), r(id, comp) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT e.dst, r.comp FROM r JOIN edges e ON e.src = r.id)
        |SELECT id, MIN(comp) AS comp FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    "q40_dup_ngram_ratio" ->
      """WITH u AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id,
        |         array_to_string(regexp_split_to_array(trim(text), '\s+')[3:], ' ') AS text
        |  FROM documents WHERE doc_id % 25 = 0
        |), grams AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w)-3),
        |    j -> w[j] || ' ' || w[j+1] || ' ' || w[j+2] || ' ' || w[j+3] || ' ' || w[j+4]))) AS g
        |  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w FROM u)
        |  WHERE len(w) >= 5
        |), withdf AS (
        |  SELECT doc_id, COUNT(*) OVER (PARTITION BY g) AS docfreq FROM grams)
        |SELECT doc_id, COUNT(*) AS n_grams,
        |  CAST(SUM(CASE WHEN docfreq > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        |  ROUND(CAST(SUM(CASE WHEN docfreq > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 4) AS dup_ratio
        |FROM withdf GROUP BY 1 ORDER BY 1""".stripMargin,
    "q59_group_split" ->
      ("WITH u AS (\n" + synthUrlSql + "),\n" +
      " h AS (SELECT doc_id, " + hostSql("regexp_replace(url, '#.*$', '')") + " AS host\n" +
      """   FROM u),
        | s AS (
        |  SELECT doc_id, host,
        |    (CASE WHEN ('0x'||substr(md5(host || '|split1'),1,15))::UBIGINT % 10000 < 8000 THEN 'train'
        |          WHEN ('0x'||substr(md5(host || '|split1'),1,15))::UBIGINT % 10000 < 9000 THEN 'valid'
        |          ELSE 'test' END) AS split
        |  FROM h)
        |SELECT split, COUNT(DISTINCT host) AS n_hosts, COUNT(*) AS n_pages
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin),
    "q58_tfidf_topk" ->
      """WITH tf AS (
        |  SELECT doc_id, term, COUNT(*) AS tf
        |  FROM (SELECT doc_id,
        |          unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
        |        FROM documents)
        |  GROUP BY 1, 2
        |), dfreq AS (
        |  SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
        |), n AS (SELECT COUNT(*) AS n FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term,
        |    tf.tf * ((n.n + 1.0) / (dfreq.df + 1)) AS score
        |  FROM tf JOIN dfreq USING (term), n
        |), ranked AS (
        |  SELECT doc_id, term, score,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, term ASC) AS INT) AS rank
        |  FROM scored)
        |SELECT doc_id, rank, term, ROUND(score, 4) AS score
        |FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    "q56_line_dedup" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    text || chr(10) || 'Doc ' || doc_id || ' unique footer.' ||
        |    chr(10) || 'Subscribe to our newsletter for updates' AS text
        |  FROM documents
        |), ln AS (
        |  SELECT doc_id, string_split(text, chr(10)) AS ls FROM u
        |), lines AS (
        |  SELECT doc_id, i AS line_no, ls[i] AS line,
        |    ('0x'||substr(md5(trim(ls[i])),1,15))::UBIGINT AS key
        |  FROM ln, UNNEST(range(1, len(ls) + 1)) AS t(i)
        |), occ AS (
        |  SELECT doc_id, line_no, line,
        |    COUNT(*) OVER (PARTITION BY key) AS n_occ,
        |    ROW_NUMBER() OVER (PARTITION BY key ORDER BY doc_id, line_no) AS rn
        |  FROM lines
        |), kept AS (
        |  SELECT doc_id, line_no, line FROM occ
        |  WHERE n_occ = 1 OR (n_occ <= 1000000 AND rn = 1)
        |)
        |SELECT doc_id AS id, COUNT(*) AS n_lines_kept,
        |  md5(string_agg(line, chr(10) ORDER BY line_no)) AS dedup_md5
        |FROM kept GROUP BY 1 ORDER BY 1""".stripMargin,
    // The composed curation chain, stage by stage: each stage's survivor
    // set is expressed in SQL given the previous stage's CTE — exact
    // (min-id per digest), line dedup (q56 skeleton), near-dup components
    // (q39 skeleton incl. the recursive CC), substring gate (q53 skeleton),
    // the full heuristic quality-gate set (q12/q43/q63 skeletons), packing
    // (q52 skeleton). Output: per-stage survivor counts.
    "q64_curation_counts" ->
      """WITH RECURSIVE withb AS (
        |  SELECT doc_id,
        |    text ||
        |    (CASE WHEN doc_id % 10 = 0 THEN ' this boilerplate sentence is shared across many documents and repeats sixteen whole tokens exactly' ELSE '' END) ||
        |    chr(10) || 'Doc ' || CAST(doc_id AS VARCHAR) || ' unique footer.' ||
        |    chr(10) || 'Subscribe to our newsletter for updates' AS text
        |  FROM documents
        |), u0 AS (
        |  SELECT doc_id, text FROM withb
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM withb WHERE doc_id % 25 = 0
        |  UNION ALL
        |  SELECT doc_id + 2000000,
        |         array_to_string(regexp_split_to_array(trim(text), '\s+')[3:], ' ')
        |  FROM withb WHERE doc_id % 25 = 0
        |  UNION ALL
        |  SELECT 5000000, 'Subscribe to our newsletter for updates'
        |  UNION ALL
        |  SELECT 6000000, (
        |    SELECT string_agg(frag, ' ' ORDER BY doc_id)
        |    FROM (SELECT doc_id,
        |            array_to_string(regexp_split_to_array(trim(text), '\s+')[1:20], ' ') AS frag
        |          FROM withb WHERE doc_id IN (1,2,3)))
        |  UNION ALL
        |  SELECT 7000000, array_to_string(list_transform(range(1,21), i -> 'alpha beta unique' || i), ' ')
        |  UNION ALL
        |  SELECT 7000001, 'Too short.'
        |), s1 AS (
        |  SELECT doc_id, text FROM (
        |    SELECT doc_id, text, MIN(doc_id) OVER (PARTITION BY md5(text)) AS m FROM u0)
        |  WHERE doc_id = m
        |), ln AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM s1),
        |lines_ AS (
        |  SELECT doc_id, i AS line_no, ls[i] AS line,
        |    ('0x'||substr(md5(trim(ls[i])),1,15))::UBIGINT AS key
        |  FROM ln, UNNEST(range(1, len(ls) + 1)) AS t(i)
        |), occ2 AS (
        |  SELECT doc_id, line_no, line,
        |    COUNT(*) OVER (PARTITION BY key) AS n_occ,
        |    ROW_NUMBER() OVER (PARTITION BY key ORDER BY doc_id, line_no) AS rn
        |  FROM lines_
        |), s2 AS (
        |  SELECT doc_id, string_agg(line, chr(10) ORDER BY line_no) AS text
        |  FROM occ2 WHERE n_occ = 1 OR rn = 1
        |  GROUP BY doc_id
        |), shl AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(w)-1),
        |           j -> w[j] || ' ' || w[j+1] || ' ' || w[j+2])) AS sh
        |  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w FROM s2)
        |  WHERE len(w) >= 3
        |), sig AS (
        |  SELECT doc_id AS id, i,
        |    CAST(MIN((pa::HUGEINT * ('0x'||substr(md5(s),1,15))::UBIGINT + pb)
        |      % 2305843009213693951) AS BIGINT) AS sig
        |  FROM (SELECT doc_id, unnest(sh) AS s FROM shl),
        |    (SELECT i, ('0x'||substr(md5('a'||i),1,15))::UBIGINT * 2 + 1 AS pa,
        |            ('0x'||substr(md5('b'||i),1,15))::UBIGINT AS pb
        |     FROM (SELECT unnest(range(16)) AS i))
        |  GROUP BY 1,2
        |), bands AS (
        |  SELECT id, i//4 AS band, md5(string_agg(sig::VARCHAR, ',' ORDER BY i)) AS bd
        |  FROM sig GROUP BY 1,2
        |), prs AS (
        |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
        |  FROM bands a JOIN bands b ON a.band = b.band AND a.bd = b.bd AND a.id < b.id
        |), verified AS (
        |  SELECT p.id_a, p.id_b FROM prs p
        |  JOIN shl sa ON sa.doc_id = p.id_a JOIN shl sb ON sb.doc_id = p.id_b
        |  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
        |      / len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.5
        |), edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM verified
        |  UNION SELECT id_b, id_a FROM verified
        |), r(id, comp) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT e.dst, r.comp FROM r JOIN edges e ON e.src = r.id
        |), labels AS (SELECT id, MIN(comp) AS comp FROM r GROUP BY 1),
        |s3 AS (
        |  SELECT s2.doc_id, s2.text FROM s2
        |  LEFT JOIN labels ON labels.id = s2.doc_id
        |  WHERE labels.id IS NULL OR labels.comp = s2.doc_id
        |), toks4 AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w FROM s3
        |), occ4 AS (
        |  SELECT doc_id, i AS pos,
        |    ('0x'||substr(md5(array_to_string(w[i:i+7], ' ')),1,15))::UBIGINT AS g
        |  FROM toks4, UNNEST(range(1, len(w) - 6)) AS t(i)
        |  WHERE len(w) >= 8
        |), ranked4 AS (
        |  SELECT doc_id, pos,
        |    COUNT(*) OVER (PARTITION BY g) AS n_occ,
        |    ROW_NUMBER() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
        |  FROM occ4
        |), cuts4 AS (
        |  SELECT doc_id, pos FROM ranked4 WHERE n_occ > 1 AND (n_occ > 64 OR rn > 1)
        |), cov4 AS (
        |  SELECT doc_id, pos,
        |    LEAST(8, COALESCE(LEAD(pos) OVER (PARTITION BY doc_id ORDER BY pos) - pos, 8)) AS c
        |  FROM cuts4
        |), agg4 AS (
        |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_cut FROM cov4 GROUP BY 1
        |), s4 AS (
        |  SELECT s3.doc_id, s3.text
        |  FROM s3 JOIN toks4 t ON t.doc_id = s3.doc_id
        |  LEFT JOIN agg4 a ON a.doc_id = s3.doc_id
        |  WHERE ROUND(CAST(COALESCE(a.n_cut, 0) AS DOUBLE)/len(t.w), 4) <= 0.5
        |), q5 AS (
        |  SELECT doc_id, text,
        |    len(regexp_split_to_array(trim(text), '\s+')) AS n_words,
        |    length(regexp_replace(text, '[ \t\n\v\f\r]', '', 'g')) AS n_chars,
        |    length(text) - length(replace(replace(text, '#', ''), '…', '')) AS n_symbols,
        |    len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |        t -> regexp_matches(t, '[a-z]'))) AS n_alpha,
        |    list_transform(regexp_split_to_array(text, '\r?\n'), l -> trim(l)) AS ls
        |  FROM s4
        |), rep5 AS (
        |  SELECT doc_id, MAX(c)::DOUBLE / SUM(c) AS rep FROM (
        |    SELECT doc_id, g, COUNT(*) AS c FROM (
        |      SELECT doc_id, rt[i] || ' ' || rt[i+1] AS g
        |      FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS rt FROM s4),
        |           UNNEST(range(1, len(rt))) AS t(i))
        |    GROUP BY 1, 2)
        |  GROUP BY 1
        |), s5 AS (
        |  SELECT q5.doc_id, q5.text,
        |    len(regexp_split_to_array(trim(q5.text), '\s+')) AS n_tokens
        |  FROM q5 LEFT JOIN rep5 ON rep5.doc_id = q5.doc_id
        |  WHERE NOT (
        |    n_words < 10 OR n_words > 200000
        |    OR (n_chars::DOUBLE / n_words) < 2.0 OR (n_chars::DOUBLE / n_words) > 12.0
        |    OR (n_symbols::DOUBLE / n_words) > 0.1
        |    OR (n_alpha::DOUBLE / n_words) < 0.5
        |    OR COALESCE(rep5.rep, 0) > 0.2
        |    OR (CAST(len(list_filter(ls, l -> regexp_matches(l, '^[•*-]'))) AS DOUBLE) / len(ls)) > 0.9
        |    OR (CAST(len(list_filter(ls, l -> regexp_matches(l, '(\.\.\.|…)$'))) AS DOUBLE) / len(ls)) > 0.3)
        |), p6 AS (
        |  SELECT doc_id,
        |    CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15))::UBIGINT % 8 AS BIGINT) AS shard,
        |    n_tokens
        |  FROM s5
        |), p6o AS (
        |  SELECT shard,
        |    COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 256 AS seq_id
        |  FROM p6
        |)
        |SELECT * FROM (
        |  SELECT 0 AS stage_no, 'input' AS stage, COUNT(*) AS n FROM u0
        |  UNION ALL SELECT 1, 'exact', COUNT(*) FROM s1
        |  UNION ALL SELECT 2, 'lines', COUNT(*) FROM s2
        |  UNION ALL SELECT 3, 'neardup', COUNT(*) FROM s3
        |  UNION ALL SELECT 4, 'substring', COUNT(*) FROM s4
        |  UNION ALL SELECT 5, 'quality', COUNT(*) FROM s5
        |  UNION ALL SELECT 6, 'pack', COUNT(*) FROM (SELECT DISTINCT shard, seq_id FROM p6o))
        |ORDER BY stage_no""".stripMargin,
    // Incremental near-dup: the q16 LSH pipeline over batch ∪ history,
    // restricted to cross-boundary (batch, history) pairs.
    "q65_incr_neardup" -> incrNeardupOracleSql,
    // Same oracle as q65 — q95 computes the identical answer with the
    // history band table persisted through a StateLake round trip and the
    // probe read bucket-pruned; the lake layout must not change the pairs.
    "q95_lake_incr_neardup" -> incrNeardupOracleSql,
    // The composed daily step vs the full chain over history ∪ batch,
    // both chain instantiations generated from `chainTemplate`.
    "q96_incr_step_full" -> q96OracleSql,
    "q51_bloom_dedup" ->
      """SELECT b.doc_id, md5(b.text) AS digest
        |FROM documents b
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM documents h
        |  WHERE h.doc_id % 3 = 0 AND md5(h.text) = md5(b.text))
        |ORDER BY b.doc_id""".stripMargin,
    "q52_pack_sequences" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
        |    CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15))::UBIGINT % 8 AS BIGINT) AS shard
        |  FROM documents
        |), p AS (
        |  SELECT doc_id, shard, n_tokens,
        |    COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_off
        |  FROM t)
        |SELECT doc_id, shard, n_tokens, CAST(start_off AS BIGINT) AS start_off,
        |  CAST(start_off // 256 AS BIGINT) AS seq_id
        |FROM p ORDER BY doc_id""".stripMargin,
    "q54_mixture_repeat" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR) || '|mix1'),1,15))::UBIGINT % 10000 AS BIGINT) AS bucket,
        |    (CASE WHEN source = 'src18' THEN 2.5 WHEN source = 'src7' THEN 0.4 ELSE 1.0 END) AS rate
        |  FROM documents
        |), n AS (
        |  SELECT doc_id, source,
        |    CAST(FLOOR(rate) AS BIGINT) +
        |      (CASE WHEN bucket < CAST(round((rate - FLOOR(rate)) * 10000) AS BIGINT) THEN 1 ELSE 0 END) AS n_copies
        |  FROM t)
        |SELECT doc_id, source, CAST(copy AS BIGINT) AS copy
        |FROM n, UNNEST(range(1, n_copies + 1)) AS u(copy)
        |ORDER BY doc_id, copy""".stripMargin,
    // Exact-substring dedup: duplicated 8-gram occurrences minus the one
    // canonical (min doc,pos) occurrence (kept only while df ≤ 64), then a
    // per-doc interval union of the cut [pos, pos+8) spans.
    "q53_substring_dedup" ->
      """WITH u AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id,
        |         array_to_string(regexp_split_to_array(trim(text), '\s+')[3:], ' ') AS text
        |  FROM documents WHERE doc_id % 25 = 0
        |), toks AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w FROM u
        |), occ AS (
        |  SELECT doc_id, i AS pos,
        |    ('0x'||substr(md5(array_to_string(w[i:i+7], ' ')),1,15))::UBIGINT AS g
        |  FROM toks, UNNEST(range(1, len(w) - 6)) AS t(i)
        |  WHERE len(w) >= 8
        |), ranked AS (
        |  SELECT doc_id, pos,
        |    COUNT(*) OVER (PARTITION BY g) AS n_occ,
        |    ROW_NUMBER() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
        |  FROM occ
        |), cuts AS (
        |  SELECT doc_id, pos FROM ranked WHERE n_occ > 1 AND (n_occ > 64 OR rn > 1)
        |), cov AS (
        |  SELECT doc_id, pos,
        |    LEAST(8, COALESCE(LEAD(pos) OVER (PARTITION BY doc_id ORDER BY pos) - pos, 8)) AS c
        |  FROM cuts
        |), agg AS (
        |  SELECT doc_id, COUNT(*) AS n_spans, CAST(SUM(c) AS BIGINT) AS n_cut
        |  FROM cov GROUP BY 1)
        |SELECT t.doc_id AS id, len(t.w) AS n_tokens,
        |  COALESCE(a.n_spans, 0) AS n_spans, COALESCE(a.n_cut, 0) AS n_cut,
        |  ROUND(CAST(COALESCE(a.n_cut, 0) AS DOUBLE)/len(t.w), 4) AS cut_ratio
        |FROM toks t LEFT JOIN agg a ON a.doc_id = t.doc_id
        |ORDER BY t.doc_id""".stripMargin,
    // Winnowing (Schleimer MOSS) ported whole: Rabin-Karp char-8-gram rolling
    // hash mod 2^61-1 (HUGEINT Horner — products stay < 2^70), rightmost-min
    // windows of 16 via MIN OVER (the fingerprint is the min VALUE, so the
    // rightmost-among-ties rule needs no tie-break in SQL), short-doc global-
    // min guard, df≤256 flood cap, shared-fp pair counts. Char parity with
    // the JVM charAt loop holds because string_split('') yields codepoints
    // and the fixtures are BMP-only (UTF-16 unit == codepoint).
    "q26_winnow_pairs" ->
      """WITH u AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id,
        |         array_to_string(regexp_split_to_array(trim(text), '\s+')[3:], ' ') AS text
        |  FROM documents WHERE doc_id % 25 = 0
        |), cs AS (
        |  SELECT doc_id, list_transform(string_split(text, ''), c -> unicode(c)::HUGEINT) AS cp
        |  FROM u WHERE length(text) >= 8
        |), h AS (
        |  SELECT doc_id, i AS pos,
        |    ((((((((((((((cp[i] * 257 + cp[i+1]) % 2305843009213693951) * 257 + cp[i+2]) % 2305843009213693951)
        |      * 257 + cp[i+3]) % 2305843009213693951) * 257 + cp[i+4]) % 2305843009213693951) * 257 + cp[i+5]) % 2305843009213693951)
        |      * 257 + cp[i+6]) % 2305843009213693951) * 257 + cp[i+7]) % 2305843009213693951) AS h
        |  FROM cs, UNNEST(range(1, len(cp) - 6)) AS t(i)
        |), w AS (
        |  SELECT doc_id, pos, h,
        |    MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
        |                 ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS wmin
        |  FROM h
        |), fps AS (
        |  SELECT DISTINCT doc_id, wmin AS fp FROM w WHERE pos >= 16
        |  UNION
        |  SELECT doc_id, MIN(h) AS fp FROM w GROUP BY doc_id HAVING MAX(pos) < 16
        |), capped AS (
        |  SELECT doc_id, fp FROM (
        |    SELECT doc_id, fp, COUNT(*) OVER (PARTITION BY fp) AS df FROM fps)
        |  WHERE df <= 256
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
        |FROM capped a JOIN capped b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1,2 HAVING COUNT(*) >= 10 ORDER BY 1,2""".stripMargin,
    "q62_c4_line_filter" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    text || (CASE WHEN doc_id % 2 = 0 THEN '.' ELSE '' END) ||
        |    chr(10) || 'Home | About | Contact' ||
        |    chr(10) || 'Ok.' ||
        |    chr(10) || 'Accept all cookies' ||
        |    chr(13) || chr(10) || 'A carriage-return separated sentence.' ||
        |    chr(10) || 'This planted sentence has plenty of words.' AS text
        |  FROM documents
        |), ln AS (
        |  SELECT doc_id, regexp_split_to_array(text, '\r?\n') AS ls FROM u
        |), f AS (
        |  SELECT doc_id, len(ls) AS n_lines,
        |    list_filter(ls, l -> regexp_matches(trim(l), '[.!?"]$')
        |      AND len(regexp_split_to_array(trim(l), '\s+')) >= 3) AS kept
        |  FROM ln
        |)
        |SELECT doc_id, CAST(n_lines AS INT) AS n_lines, CAST(len(kept) AS INT) AS n_lines_kept,
        |  md5(array_to_string(kept, chr(10))) AS filtered_md5
        |FROM f ORDER BY doc_id""".stripMargin,
    "q63_gopher_lines" ->
      """WITH u AS (
        |  SELECT doc_id, text ||
        |    (CASE WHEN doc_id % 3 = 0
        |       THEN repeat(chr(10) || '- planted bullet item', 19) ELSE '' END) ||
        |    (CASE WHEN doc_id % 5 = 0
        |       THEN chr(10) || 'Read more...' || chr(10) || 'And the story continues…' ELSE '' END)
        |    AS text
        |  FROM documents
        |), ln AS (
        |  SELECT doc_id, list_transform(regexp_split_to_array(text, '\r?\n'), l -> trim(l)) AS ls
        |  FROM u
        |)
        |SELECT doc_id, CAST(len(ls) AS INT) AS n_lines,
        |  ROUND(CAST(len(list_filter(ls, l -> regexp_matches(l, '^[•*-]'))) AS DOUBLE) / len(ls), 4) AS frac_bullet,
        |  ROUND(CAST(len(list_filter(ls, l -> regexp_matches(l, '(\.\.\.|…)$'))) AS DOUBLE) / len(ls), 4) AS frac_ellipsis,
        |  (CAST(len(list_filter(ls, l -> regexp_matches(l, '^[•*-]'))) AS DOUBLE) / len(ls) > 0.9) AS drop_bullet,
        |  (CAST(len(list_filter(ls, l -> regexp_matches(l, '(\.\.\.|…)$'))) AS DOUBLE) / len(ls) > 0.3) AS drop_ellipsis
        |FROM ln ORDER BY doc_id""".stripMargin,
    "q70_fix_mojibake" ->
      (s"""SELECT doc_id, text || '$MojiClean$MojiIntact' AS fixed_text
        |FROM documents ORDER BY doc_id""").stripMargin,
    "q73_robots_filter" ->
      """SELECT doc_id,
        |  'https://site-' || CAST(doc_id % 40 AS VARCHAR) || '.example.com' ||
        |  CASE doc_id % 5
        |    WHEN 0 THEN '/private/p' || CAST(doc_id AS VARCHAR)
        |    WHEN 1 THEN '/private/public/p' || CAST(doc_id AS VARCHAR)
        |    WHEN 2 THEN '/tmp/f' || CAST(doc_id AS VARCHAR) || '.pdf'
        |    WHEN 3 THEN '/f' || CAST(doc_id AS VARCHAR) || '.pdf'
        |    ELSE '/docs/p' || CAST(doc_id AS VARCHAR)
        |  END AS url,
        |  CASE doc_id % 5 WHEN 0 THEN false WHEN 1 THEN true WHEN 2 THEN false
        |    WHEN 3 THEN true ELSE true END AS allowed
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q74_span_dedup" ->
      """WITH u AS (
        |  SELECT doc_id, text || ' Unique tail sentence ' || CAST(doc_id AS VARCHAR)
        |    || ' marker. Call today! Free shipping applies. Limited time only.' AS text
        |  FROM documents
        |), s AS (
        |  SELECT doc_id,
        |    list_transform(regexp_extract_all(text, '[^.!?]+[.!?]+'), x -> trim(x)) AS ss
        |  FROM u
        |), sp AS (
        |  SELECT doc_id, i AS pos, ss[i] || ' ' || ss[i+1] || ' ' || ss[i+2] AS span
        |  FROM s, UNNEST(range(1, len(ss) - 1)) AS t(i)
        |), occ AS (
        |  SELECT doc_id, pos,
        |    COUNT(*) OVER (PARTITION BY span) AS n_occ,
        |    ROW_NUMBER() OVER (PARTITION BY span ORDER BY doc_id, pos) AS rn
        |  FROM sp
        |), cut AS (
        |  SELECT doc_id, pos FROM occ WHERE n_occ > 1 AND (n_occ > 1000000 OR rn > 1)
        |), sent AS (
        |  SELECT doc_id, i AS pos, ss[i] AS sentence, len(ss) AS n_sentences
        |  FROM s, UNNEST(range(1, len(ss) + 1)) AS t(i)
        |), kept AS (
        |  SELECT se.doc_id, se.pos, se.sentence FROM sent se
        |  WHERE NOT EXISTS (SELECT 1 FROM cut c
        |    WHERE c.doc_id = se.doc_id AND se.pos >= c.pos AND se.pos < c.pos + 3)
        |), agg AS (
        |  SELECT doc_id, COUNT(*) AS n_kept,
        |    string_agg(sentence, ' ' ORDER BY pos) AS text_dedup
        |  FROM kept GROUP BY 1
        |)
        |SELECT s.doc_id AS id, len(s.ss) AS n_sentences,
        |  COALESCE(a.n_kept, 0) AS n_kept, md5(COALESCE(a.text_dedup, '')) AS dedup_md5
        |FROM s LEFT JOIN agg a ON s.doc_id = a.doc_id
        |ORDER BY 1""".stripMargin,
    "q75_keep_best" ->
      """WITH RECURSIVE u AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id,
        |         array_to_string(regexp_split_to_array(trim(text), '\s+')[3:], ' ') AS text
        |  FROM documents WHERE doc_id % 25 = 0
        |  UNION ALL
        |  SELECT doc_id + 2000000 AS doc_id,
        |         trim(text) || ' ' ||
        |           array_to_string(regexp_split_to_array(trim(text), '\s+')[1:8], ' ') AS text
        |  FROM documents WHERE doc_id % 40 = 0
        |), shl AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(w)-1),
        |           j -> w[j] || ' ' || w[j+1] || ' ' || w[j+2])) AS sh
        |  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w FROM u)
        |  WHERE len(w) >= 3
        |), sig AS (
        |  SELECT doc_id AS id, i,
        |    CAST(MIN((pa::HUGEINT * ('0x'||substr(md5(s),1,15))::UBIGINT + pb)
        |      % 2305843009213693951) AS BIGINT) AS sig
        |  FROM (SELECT doc_id, unnest(sh) AS s FROM shl),
        |    (SELECT i, ('0x'||substr(md5('a'||i),1,15))::UBIGINT * 2 + 1 AS pa,
        |            ('0x'||substr(md5('b'||i),1,15))::UBIGINT AS pb
        |     FROM (SELECT unnest(range(16)) AS i))
        |  GROUP BY 1,2
        |), bands AS (
        |  SELECT id, i//4 AS band, md5(string_agg(sig::VARCHAR, ',' ORDER BY i)) AS bd
        |  FROM sig GROUP BY 1,2
        |), prs AS (
        |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
        |  FROM bands a JOIN bands b ON a.band = b.band AND a.bd = b.bd AND a.id < b.id
        |), verified AS (
        |  SELECT p.id_a, p.id_b FROM prs p
        |  JOIN shl sa ON sa.doc_id = p.id_a JOIN shl sb ON sb.doc_id = p.id_b
        |  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
        |      / len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.5
        |), edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM verified
        |  UNION SELECT id_b, id_a FROM verified
        |), r(id, comp) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT e.dst, r.comp FROM r JOIN edges e ON e.src = r.id
        |), comp AS (
        |  SELECT id, MIN(comp) AS comp FROM r GROUP BY 1
        |), scored AS (
        |  SELECT u.doc_id,
        |    CAST(len(regexp_split_to_array(trim(u.text), '\s+')) AS INT) AS n_words,
        |    COALESCE(c.comp, u.doc_id) AS comp
        |  FROM u LEFT JOIN comp c ON c.id = u.doc_id
        |)
        |SELECT doc_id, n_words FROM (
        |  SELECT doc_id, n_words,
        |    ROW_NUMBER() OVER (PARTITION BY comp
        |                       ORDER BY n_words DESC, doc_id ASC) AS rn
        |  FROM scored) WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "q76_domain_suffix_block" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    CASE doc_id % 5
        |      WHEN 0 THEN 'site' || CAST(doc_id % 40 AS VARCHAR) || '.org'
        |      WHEN 1 THEN 'ads.tracker.net'
        |      WHEN 2 THEN 'tracker.net'
        |      WHEN 3 THEN 'nottracker.net'
        |      ELSE 'deep.a.b.example.com' END AS host
        |  FROM documents)
        |SELECT doc_id, host FROM h
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM (VALUES ('tracker.net'), ('b.example.com')) b(e)
        |  WHERE h.host = b.e OR h.host LIKE '%.' || b.e)
        |ORDER BY doc_id""".stripMargin,
    "q77_ccnet_bucket" ->
      """WITH scored AS (
        |  SELECT doc_id, lang,
        |    ROUND(CAST(n_chars AS DOUBLE) /
        |      (1.0 + len(regexp_split_to_array(trim(text), '\s+'))), 4) AS score
        |  FROM documents
        |), cuts AS (
        |  SELECT lang,
        |    QUANTILE_CONT(score, 1.0/3) AS lo,
        |    QUANTILE_CONT(score, 2.0/3) AS hi
        |  FROM scored GROUP BY 1
        |)
        |SELECT s.doc_id, s.lang, s.score,
        |  CASE WHEN s.score <= c.lo THEN 'head'
        |       WHEN s.score <= c.hi THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM scored s JOIN cuts c USING (lang) ORDER BY s.doc_id""".stripMargin,
    // Mirrors CcnetNormalize exactly on ASCII: lower → digit-fold → strip
    // non-alnum-non-space → collapse runs → trim (see the expression's
    // scaladoc for why the step order is equivalent to the single JVM pass).
    "q78_ccnet_paradedup" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    text || chr(10) || CASE WHEN doc_id % 2 = 0
        |      THEN 'Share on FACEBOOK - 1,234 Likes!!!'
        |      ELSE 'share   on facebook 0000 likes' END AS text
        |  FROM documents
        |), ln AS (
        |  SELECT doc_id, string_split(text, chr(10)) AS ls FROM u
        |), lines AS (
        |  SELECT doc_id, i AS line_no, ls[i] AS line,
        |    trim(regexp_replace(regexp_replace(regexp_replace(
        |      lower(ls[i]), '[0-9]', '0', 'g'),
        |      '[^a-z0-9 \t\x0b-\x0d\x1c-\x1f]', '', 'g'),
        |      '[ \t\x0b-\x0d\x1c-\x1f]+', ' ', 'g')) AS norm
        |  FROM ln, UNNEST(range(1, len(ls) + 1)) AS t(i)
        |), keyed AS (
        |  SELECT doc_id, line_no, line,
        |    ('0x'||substr(md5(norm),1,15))::UBIGINT AS key
        |  FROM lines
        |), occ AS (
        |  SELECT doc_id, line_no, line,
        |    COUNT(*) OVER (PARTITION BY key) AS n_occ,
        |    ROW_NUMBER() OVER (PARTITION BY key ORDER BY doc_id, line_no) AS rn
        |  FROM keyed
        |), kept AS (
        |  SELECT doc_id, line_no, line FROM occ
        |  WHERE n_occ = 1 OR (n_occ <= 1000000 AND rn = 1)
        |)
        |SELECT doc_id AS id, COUNT(*) AS n_lines_kept,
        |  md5(string_agg(line, chr(10) ORDER BY line_no)) AS dedup_md5
        |FROM kept GROUP BY 1 ORDER BY 1""".stripMargin,
    "q79_host_cap" ->
      """WITH pages AS (
        |  SELECT doc_id, n_chars,
        |    CASE WHEN doc_id % 3 = 0
        |      THEN 'hot' || CAST(doc_id % 13 AS VARCHAR) || '.com'
        |      ELSE 'h' || CAST(doc_id % 211 AS VARCHAR) || '.org' END AS host
        |  FROM documents)
        |SELECT doc_id, host, n_chars FROM pages
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY host ORDER BY n_chars DESC, doc_id) <= 5
        |ORDER BY doc_id""".stripMargin,
    "q80_lang_temperature" ->
      """WITH n AS (SELECT lang, COUNT(*) AS n_lang FROM documents GROUP BY 1),
        | r AS (SELECT lang, n_lang,
        |   CAST(floor(least(1.0, 8.0 / sqrt(CAST(n_lang AS DOUBLE))) * 1000000.0) AS BIGINT) AS thr
        |   FROM n)
        |SELECT d.doc_id, d.lang, r.n_lang
        |FROM documents d JOIN r USING (lang)
        |WHERE ('0x'||substr(md5(CAST(d.doc_id AS VARCHAR) || '|t1'),1,15))::UBIGINT % 1000000 < r.thr
        |ORDER BY d.doc_id""".stripMargin,
    "q90_url_shape" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    'https://' || CASE WHEN doc_id % 5 = 0
        |        THEN 'dl-0000-' || CAST(doc_id % 9 AS VARCHAR) || '.biz'
        |        ELSE 's' || CAST(doc_id % 97 AS VARCHAR) || '.org' END
        |      || repeat('/seg', CAST(doc_id % 5 AS INT))
        |      || CASE WHEN doc_id % 3 = 0 THEN '?a=1&b=2&c=3' ELSE '' END AS url
        |  FROM documents),
        | s AS (
        |  SELECT doc_id, url,
        |    lower(regexp_extract(url, '^[a-zA-Z]+://([^/?#]+)', 1)) AS host,
        |    regexp_extract(url, '^[a-zA-Z]+://[^/?#]+(/[^?#]*)?', 1) AS path,
        |    regexp_extract(url, '\?([^#]*)', 1) AS query
        |  FROM u),
        | g AS (
        |  SELECT doc_id, url,
        |    CAST(len(path) - len(replace(path, '/', '')) AS INT) AS path_depth,
        |    CAST(CASE WHEN len(query) = 0 THEN 0
        |         ELSE len(query) - len(replace(query, '&', '')) + 1 END AS INT) AS n_params,
        |    CAST((len(host) - len(regexp_replace(host, '[0-9]', '', 'g'))) * 1000 // len(host) AS INT) AS host_digit_permille,
        |    CAST(len(host) - len(replace(host, '-', '')) AS INT) AS host_hyphens
        |  FROM s)
        |SELECT doc_id, url, path_depth, n_params, host_digit_permille, host_hyphens,
        |  path_depth >= 4 OR n_params >= 3 OR host_digit_permille >= 350 AS url_suspect
        |FROM g ORDER BY doc_id""".stripMargin,
    "q89_domain_prior" ->
      """WITH d AS (
        |  SELECT doc_id, n_chars,
        |    CASE WHEN doc_id % 3 = 0
        |      THEN 'hot' || CAST(doc_id % 13 AS VARCHAR) || '.com'
        |      ELSE 'h' || CAST(doc_id % 211 AS VARCHAR) || '.org' END AS host,
        |    (n_chars * 1000000) // len(regexp_split_to_array(trim(text), '\s+')) AS score
        |  FROM documents),
        | a AS (SELECT host, AVG(score) AS domain_avg FROM d GROUP BY 1)
        |SELECT d.doc_id, d.host, d.score, a.domain_avg
        |FROM d JOIN a USING (host)
        |WHERE a.domain_avg >= 5500000 OR d.score >= 5800000
        |ORDER BY d.doc_id""".stripMargin,
    "q81_url_latest" ->
      """WITH caps AS (
        |  SELECT doc_id,
        |    'https://s.com/p' || CAST(doc_id % 150 AS VARCHAR) AS url,
        |    (doc_id * 37) % 1000 AS warc_ts
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |    'https://s.com/p' || CAST(doc_id % 150 AS VARCHAR),
        |    (doc_id * 37) % 1000
        |  FROM documents WHERE doc_id % 50 = 0
        |), n AS (SELECT url, COUNT(*) AS n_captures FROM caps GROUP BY 1)
        |SELECT c.url, c.doc_id, c.warc_ts, n.n_captures
        |FROM caps c JOIN n USING (url)
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY c.url ORDER BY c.warc_ts DESC, c.doc_id) = 1
        |ORDER BY c.url""".stripMargin,
    // Same ASCII normalization mirror as q78; the incremental semantics is
    // a plain NOT IN against the even-half's distinct keys.
    "q83_incr_linededup" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    text || chr(10) || CASE WHEN doc_id % 2 = 0
        |      THEN 'Share on FACEBOOK - 1,234 Likes!!!'
        |      ELSE 'share   on facebook 0000 likes' END AS text
        |  FROM documents
        |), ln AS (
        |  SELECT doc_id, string_split(text, chr(10)) AS ls FROM u
        |), lines AS (
        |  SELECT doc_id, i AS line_no, ls[i] AS line,
        |    trim(regexp_replace(regexp_replace(regexp_replace(
        |      lower(ls[i]), '[0-9]', '0', 'g'),
        |      '[^a-z0-9 \t\x0b-\x0d\x1c-\x1f]', '', 'g'),
        |      '[ \t\x0b-\x0d\x1c-\x1f]+', ' ', 'g')) AS norm
        |  FROM ln, UNNEST(range(1, len(ls) + 1)) AS t(i)
        |), keyed AS (
        |  SELECT doc_id, line_no, line,
        |    ('0x'||substr(md5(norm),1,15))::UBIGINT AS key
        |  FROM lines
        |), hist AS (
        |  SELECT DISTINCT key FROM keyed WHERE doc_id % 2 = 0
        |), kept AS (
        |  SELECT doc_id, line_no, line FROM keyed
        |  WHERE doc_id % 2 = 1 AND key NOT IN (SELECT key FROM hist)
        |)
        |SELECT doc_id AS id, COUNT(*) AS n_lines_kept,
        |  md5(string_agg(line, chr(10) ORDER BY line_no)) AS dedup_md5
        |FROM kept GROUP BY 1 ORDER BY 1""".stripMargin,
    // Incremental span dedup: the q53 rule over history ∪ batch, restricted
    // to batch doc_ids (>= 1000000). Batch ids exceed every history id, so
    // a batch occurrence of a history gram always ranks rn > 1 — membership
    // in the persisted gram table IS the union verdict (the Spark side's
    // Bloom-prefiltered form; the Bloom pass changes cost, not the answer).
    "q91_incr_spandedup" ->
      """WITH u AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id,
        |         array_to_string(regexp_split_to_array(trim(text), '\s+')[3:], ' ')
        |         || CASE WHEN doc_id % 50 = 0
        |              THEN ' fresh mirror footer alpha beta gamma delta epsilon zeta eta theta'
        |              ELSE '' END AS text
        |  FROM documents WHERE doc_id % 25 = 0
        |  UNION ALL
        |  SELECT doc_id + 2000000 AS doc_id,
        |         array_to_string(regexp_split_to_array(trim(text), '\s+')[5:], ' ') AS text
        |  FROM documents WHERE doc_id % 40 = 0
        |), toks AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w FROM u
        |), occ AS (
        |  SELECT doc_id, i AS pos,
        |    ('0x'||substr(md5(array_to_string(w[i:i+7], ' ')),1,15))::UBIGINT AS g
        |  FROM toks, UNNEST(range(1, len(w) - 6)) AS t(i)
        |  WHERE len(w) >= 8
        |), ranked AS (
        |  SELECT doc_id, pos,
        |    COUNT(*) OVER (PARTITION BY g) AS n_occ,
        |    ROW_NUMBER() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
        |  FROM occ
        |), cuts AS (
        |  SELECT doc_id, pos FROM ranked WHERE n_occ > 1 AND (n_occ > 64 OR rn > 1)
        |), cov AS (
        |  SELECT doc_id, pos,
        |    LEAST(8, COALESCE(LEAD(pos) OVER (PARTITION BY doc_id ORDER BY pos) - pos, 8)) AS c
        |  FROM cuts WHERE doc_id >= 1000000
        |), agg AS (
        |  SELECT doc_id, COUNT(*) AS n_spans, CAST(SUM(c) AS BIGINT) AS n_cut
        |  FROM cov GROUP BY 1)
        |SELECT t.doc_id AS id, len(t.w) AS n_tokens,
        |  COALESCE(a.n_spans, 0) AS n_spans, COALESCE(a.n_cut, 0) AS n_cut,
        |  ROUND(CAST(COALESCE(a.n_cut, 0) AS DOUBLE)/len(t.w), 4) AS cut_ratio
        |FROM toks t LEFT JOIN agg a ON a.doc_id = t.doc_id
        |WHERE t.doc_id >= 1000000
        |ORDER BY t.doc_id""".stripMargin,
    // Admission-equivalence contract: the incremental step must equal the
    // full first-cap-arrivals window over history ∪ batch restricted to
    // batch rows (batch warc_ts strictly follows history's).
    "q93_incr_hostcap" ->
      """WITH arr AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0
        |      THEN 'hot' || CAST(doc_id % 13 AS VARCHAR) || '.com'
        |    WHEN doc_id % 3 = 1
        |      THEN 'm' || CAST(doc_id % 29 AS VARCHAR) || '.net'
        |    ELSE 't' || CAST(doc_id % 997 AS VARCHAR) || '.org' END AS host,
        |    CASE WHEN doc_id % 4 = 3 THEN doc_id + 10000000 ELSE doc_id END AS warc_ts
        |  FROM documents
        |), ranked AS (
        |  SELECT doc_id, host, warc_ts,
        |    ROW_NUMBER() OVER (PARTITION BY host ORDER BY warc_ts, doc_id) AS rn
        |  FROM arr)
        |SELECT doc_id, host, warc_ts FROM ranked
        |WHERE rn <= 5 AND doc_id % 4 = 3
        |ORDER BY doc_id""".stripMargin,
    // The q81 latest-capture window over ALL arrivals (history: even ids
    // plus the %70=35 tie plants at id+2e6; batch: odd ids plus the %50
    // plants at id+1e6), winners restricted to batch-contributed rows.
    "q94_incr_latest" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    'https://s.com/p' || CAST((doc_id // 2) % 150 AS VARCHAR) AS url,
        |    (doc_id * 37) % 1000 AS warc_ts
        |  FROM documents
        |), caps AS (
        |  SELECT doc_id, url, warc_ts FROM base WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT doc_id + 2000000, url, warc_ts FROM base WHERE doc_id % 70 = 35
        |  UNION ALL
        |  SELECT doc_id, url, warc_ts FROM base WHERE doc_id % 2 = 1
        |  UNION ALL
        |  SELECT doc_id + 1000000, url, warc_ts FROM base WHERE doc_id % 50 = 0
        |), n AS (SELECT url, COUNT(*) AS n_captures FROM caps GROUP BY 1),
        | w AS (
        |  SELECT c.url, c.doc_id, c.warc_ts, n.n_captures,
        |    ROW_NUMBER() OVER (PARTITION BY c.url ORDER BY c.warc_ts DESC, c.doc_id) AS rn
        |  FROM caps c JOIN n USING (url))
        |SELECT url, doc_id, warc_ts, n_captures FROM w
        |WHERE rn = 1 AND (doc_id % 2 = 1 OR doc_id >= 1000000) AND doc_id < 2000000
        |ORDER BY url""".stripMargin,
    "q86_syndication" ->
      """WITH caps AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 25 = 0
        |), pages AS (
        |  SELECT doc_id, md5(text) AS digest,
        |    CASE WHEN doc_id % 3 = 0
        |      THEN 'hot' || CAST(doc_id % 13 AS VARCHAR) || '.com'
        |      ELSE 'h' || CAST(doc_id % 211 AS VARCHAR) || '.org' END AS host
        |  FROM caps)
        |SELECT digest, COUNT(*) AS n_copies, COUNT(DISTINCT host) AS n_hosts,
        |  MIN(doc_id) AS canonical_id
        |FROM pages GROUP BY 1 HAVING COUNT(DISTINCT host) >= 2
        |ORDER BY digest""".stripMargin,
    // Expected strict-scrub output rebuilt in SQL: the card clause uses the
    // q82 Luhn formula, the RRN clause the q84 citizen rule OR'd with the
    // ARC +2 variant (gender digit 5-8).
    "q85_strict_scrub" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    '4' || lpad(CAST((doc_id * 7919 + 13) % 100000000000000 AS VARCHAR), 14, '0')
        |        || CAST(doc_id % 10 AS VARCHAR) AS cardraw,
        |    '900101' || CAST(doc_id % 10 AS VARCHAR)
        |      || lpad(CAST((doc_id * 101) % 100000 AS VARCHAR), 5, '0')
        |      || CAST((doc_id * 7) % 10 AS VARCHAR) AS rrnraw
        |  FROM documents
        |), v AS (
        |  SELECT doc_id,
        |    substr(cardraw,1,4)||'-'||substr(cardraw,5,4)||'-'||substr(cardraw,9,4)||'-'||substr(cardraw,13,4) AS card,
        |    substr(rrnraw,1,6) || '-' || substr(rrnraw,7,7) AS rrn,
        |    list_sum(list_transform(range(1,17), i ->
        |      CASE WHEN (16 - i) % 2 = 1 THEN
        |        CASE WHEN 2*CAST(substr(cardraw,i,1) AS INT) > 9
        |             THEN 2*CAST(substr(cardraw,i,1) AS INT) - 9
        |             ELSE 2*CAST(substr(cardraw,i,1) AS INT) END
        |      ELSE CAST(substr(cardraw,i,1) AS INT) END)) % 10 = 0 AS card_ok,
        |    CAST(substr(rrnraw,7,1) AS INT) AS g,
        |    (11 - (list_sum(list_transform(range(1,13), i ->
        |       ((i - 1) % 8 + 2) * CAST(substr(rrnraw,i,1) AS INT))) % 11)) % 10 AS chk,
        |    CAST(substr(rrnraw,13,1) AS INT) AS d13
        |  FROM c)
        |SELECT doc_id,
        |  '결제 카드번호 ' || CASE WHEN card_ok THEN '[카드번호]' ELSE card END ||
        |  ' 주민등록번호 ' ||
        |  CASE WHEN (g BETWEEN 1 AND 8 AND chk = d13)
        |         OR (g BETWEEN 5 AND 8 AND (chk + 2) % 10 = d13)
        |       THEN '[주민등록번호]' ELSE rrn END || ' 확인' AS text_strict
        |FROM v ORDER BY doc_id""".stripMargin,
    // Weighted mod-11 RRN checksum in SQL: weights (i-1)%8+2 over d1-d12,
    // gender digit d7 must be 1-8.
    "q84_rrn_check" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    '900101' || CAST(doc_id % 10 AS VARCHAR)
        |      || lpad(CAST((doc_id * 101) % 100000 AS VARCHAR), 5, '0')
        |      || CAST((doc_id * 7) % 10 AS VARCHAR) AS raw
        |  FROM documents)
        |SELECT doc_id,
        |  substr(raw,1,6) || '-' || substr(raw,7,7) AS rrn,
        |  (CAST(substr(raw,7,1) AS INT) BETWEEN 1 AND 8) AND
        |  ((11 - (list_sum(list_transform(range(1,13), i ->
        |     ((i - 1) % 8 + 2) * CAST(substr(raw,i,1) AS INT))) % 11)) % 10
        |    = CAST(substr(raw,13,1) AS INT)) AS rrn_ok
        |FROM c ORDER BY doc_id""".stripMargin,
    // Digit-by-digit Luhn in SQL: double every second digit from the right
    // ((16-i)%2=1 for left-index i), fold >9 by -9, sum ≡ 0 (mod 10).
    "q82_card_luhn" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    '4' || lpad(CAST((doc_id * 7919 + 13) % 100000000000000 AS VARCHAR), 14, '0')
        |        || CAST(doc_id % 10 AS VARCHAR) AS raw
        |  FROM documents)
        |SELECT doc_id,
        |  substr(raw,1,4)||'-'||substr(raw,5,4)||'-'||substr(raw,9,4)||'-'||substr(raw,13,4) AS card,
        |  list_sum(list_transform(range(1,17), i ->
        |    CASE WHEN (16 - i) % 2 = 1 THEN
        |      CASE WHEN 2*CAST(substr(raw,i,1) AS INT) > 9
        |           THEN 2*CAST(substr(raw,i,1) AS INT) - 9
        |           ELSE 2*CAST(substr(raw,i,1) AS INT) END
        |    ELSE CAST(substr(raw,i,1) AS INT) END)) % 10 = 0 AS luhn_ok
        |FROM c ORDER BY doc_id""".stripMargin,
    "q71_extract_links" ->
      """SELECT doc_id, pos, 'https://site-' || CAST((doc_id * m + a) % 40 AS VARCHAR)
        |         || '.example.com/p' || CAST(doc_id AS VARCHAR) AS link
        |FROM documents, (VALUES (0, 7, 1), (1, 13, 2), (2, 3, 5)) AS f(pos, m, a)
        |ORDER BY doc_id, pos""".stripMargin,
    "q72_host_rank" ->
      """WITH RECURSIVE
        |links AS (
        |  SELECT CAST(doc_id % 40 AS INT) AS s, CAST((doc_id * m + a) % 40 AS INT) AS t
        |  FROM documents, (VALUES (7, 1), (13, 2), (3, 5)) AS f(m, a)
        |),
        |edges AS (SELECT DISTINCT 'site-' || CAST(s AS VARCHAR) AS src,
        |                          'site-' || CAST(t AS VARCHAR) AS dst FROM links),
        |-- NOT `src UNION dst`: inside WITH RECURSIVE DuckDB treats a bare
        |-- UNION as the recursion construct and the dedup is lost
        |hosts AS (SELECT DISTINCT host FROM
        |  (SELECT src AS host FROM edges UNION ALL SELECT dst AS host FROM edges) u),
        |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src),
        |fan AS (
        |  SELECT e.src AS src, e.dst AS tgt, d.deg AS deg FROM edges e JOIN deg d USING (src)
        |  UNION ALL
        |  SELECT host, host, CAST(0 AS BIGINT) FROM hosts
        |),
        |pr AS (
        |  SELECT 0 AS iter, host, CAST(1000000000000 AS BIGINT) AS rank FROM hosts
        |  UNION ALL
        |  SELECT iter + 1, tgt AS host,
        |    CAST(150000000000 AS BIGINT) +
        |      (85 * SUM(CASE WHEN deg > 0 THEN rank // deg ELSE CAST(0 AS BIGINT) END)) // 100
        |  FROM (SELECT p.iter, f.tgt, f.deg, p.rank
        |        FROM pr p JOIN fan f ON f.src = p.host WHERE p.iter < 10) step
        |  GROUP BY iter, tgt
        |)
        |SELECT host, CAST(rank AS BIGINT) AS rank FROM pr WHERE iter = 10 ORDER BY host""".stripMargin,
    "q92_host_rank_gate" ->
      """WITH RECURSIVE
        |links AS (
        |  SELECT CAST(doc_id % 40 AS INT) AS s, CAST((doc_id * m + a) % 40 AS INT) AS t
        |  FROM documents, (VALUES (7, 1), (13, 2), (3, 5)) AS f(m, a)
        |),
        |edges AS (SELECT DISTINCT 'site-' || CAST(s AS VARCHAR) AS src,
        |                          'site-' || CAST(t AS VARCHAR) AS dst FROM links),
        |hosts AS (SELECT DISTINCT host FROM
        |  (SELECT src AS host FROM edges UNION ALL SELECT dst AS host FROM edges) u),
        |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src),
        |fan AS (
        |  SELECT e.src AS src, e.dst AS tgt, d.deg AS deg FROM edges e JOIN deg d USING (src)
        |  UNION ALL
        |  SELECT host, host, CAST(0 AS BIGINT) FROM hosts
        |),
        |pr AS (
        |  SELECT 0 AS iter, host, CAST(1000000000000 AS BIGINT) AS rank FROM hosts
        |  UNION ALL
        |  SELECT iter + 1, tgt AS host,
        |    CAST(150000000000 AS BIGINT) +
        |      (85 * SUM(CASE WHEN deg > 0 THEN rank // deg ELSE CAST(0 AS BIGINT) END)) // 100
        |  FROM (SELECT p.iter, f.tgt, f.deg, p.rank
        |        FROM pr p JOIN fan f ON f.src = p.host WHERE p.iter < 10) step
        |  GROUP BY iter, tgt
        |),
        |ranks AS (SELECT host, CAST(rank AS BIGINT) AS rank FROM pr WHERE iter = 10),
        |bar AS (SELECT rank AS bar FROM ranks WHERE host = 'site-0'),
        |pages AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 11 = 0 THEN 'offgraph-' || CAST(doc_id % 7 AS VARCHAR)
        |         ELSE 'site-' || CAST(CAST(doc_id % 40 AS INT) AS VARCHAR) END AS host
        |  FROM documents)
        |SELECT p.doc_id, p.host,
        |  COALESCE(r.rank, b.bar) AS host_rank,
        |  COALESCE(r.rank, b.bar) >= b.bar AS keep
        |FROM pages p LEFT JOIN ranks r ON r.host = p.host CROSS JOIN bar b
        |ORDER BY p.doc_id""".stripMargin,
    "q68_html_extract" ->
      (s"""SELECT doc_id,
        |  CAST(length('$ExtractProse1' || chr(10) || text || chr(10) || '$ExtractProse2') AS INT) AS n_chars,
        |  md5('$ExtractProse1' || chr(10) || text || chr(10) || '$ExtractProse2') AS extracted_md5
        |FROM documents ORDER BY doc_id""").stripMargin,
    "q67_dup_shape" ->
      """WITH u AS (
        |  SELECT doc_id, text ||
        |    (CASE WHEN doc_id % 4 = 0
        |       THEN repeat(chr(10) || 'Subscribe to our newsletter', 3) ELSE '' END) ||
        |    (CASE WHEN doc_id % 7 = 0
        |       THEN chr(10) || chr(10) || text ELSE '' END) AS text
        |  FROM documents
        |), el AS (
        |  SELECT doc_id,
        |    list_filter(list_transform(regexp_split_to_array(text, '\r?\n'), x -> trim(x)), x -> x <> '') AS lines,
        |    list_filter(list_transform(regexp_split_to_array(text, '(\r?\n){2,}'), x -> trim(x)), x -> x <> '') AS paras
        |  FROM u
        |), lg AS (
        |  SELECT doc_id, line, count(*) AS c, length(line) AS len
        |  FROM (SELECT doc_id, unnest(lines) AS line FROM el) GROUP BY doc_id, line
        |), la AS (
        |  SELECT doc_id, CAST(SUM(c) AS INT) AS n_lines, CAST(SUM(c - 1) AS INT) AS dup_lines,
        |    CAST(SUM(c * len) AS BIGINT) AS line_chars,
        |    CAST(SUM((c - 1) * len) AS BIGINT) AS dup_line_chars
        |  FROM lg GROUP BY doc_id
        |), pg AS (
        |  SELECT doc_id, para, count(*) AS c, length(para) AS len
        |  FROM (SELECT doc_id, unnest(paras) AS para FROM el) GROUP BY doc_id, para
        |), pa AS (
        |  SELECT doc_id, CAST(SUM(c) AS INT) AS n_paras, CAST(SUM(c - 1) AS INT) AS dup_paras,
        |    CAST(SUM(c * len) AS BIGINT) AS para_chars,
        |    CAST(SUM((c - 1) * len) AS BIGINT) AS dup_para_chars
        |  FROM pg GROUP BY doc_id
        |)
        |SELECT u.doc_id,
        |  COALESCE(n_lines, 0) AS n_lines, COALESCE(dup_lines, 0) AS dup_lines,
        |  COALESCE(line_chars, CAST(0 AS BIGINT)) AS line_chars,
        |  COALESCE(dup_line_chars, CAST(0 AS BIGINT)) AS dup_line_chars,
        |  COALESCE(n_paras, 0) AS n_paras, COALESCE(dup_paras, 0) AS dup_paras,
        |  COALESCE(para_chars, CAST(0 AS BIGINT)) AS para_chars,
        |  COALESCE(dup_para_chars, CAST(0 AS BIGINT)) AS dup_para_chars,
        |  CASE WHEN COALESCE(n_lines, 0) > 0
        |    THEN CAST(dup_lines AS DOUBLE) / n_lines ELSE 0.0 END AS dup_line_frac,
        |  CASE WHEN COALESCE(line_chars, 0) > 0
        |    THEN CAST(dup_line_chars AS DOUBLE) / line_chars ELSE 0.0 END AS dup_line_char_frac,
        |  CASE WHEN COALESCE(n_paras, 0) > 0
        |    THEN CAST(dup_paras AS DOUBLE) / n_paras ELSE 0.0 END AS dup_para_frac,
        |  CASE WHEN COALESCE(para_chars, 0) > 0
        |    THEN CAST(dup_para_chars AS DOUBLE) / para_chars ELSE 0.0 END AS dup_para_char_frac
        |FROM u LEFT JOIN la USING (doc_id) LEFT JOIN pa USING (doc_id)
        |ORDER BY u.doc_id""".stripMargin,
    "q88_semantic_decontam" ->
      """WITH b AS (
        |  SELECT CAST(list_transform(embedding, x -> x * 2) AS DOUBLE[]) AS be
        |  FROM embeddings WHERE vec_id < 10),
        | s AS (
        |  SELECT e.vec_id,
        |    MAX(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), b.be)) AS m
        |  FROM embeddings e, b GROUP BY 1)
        |SELECT vec_id, ROUND(m, 6) AS max_sim, ROUND(m, 6) >= 0.999 AS contaminated
        |FROM s ORDER BY vec_id""".stripMargin,
    "q18_cosine_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
        |           FROM embeddings WHERE vec_id < 10),
        | scored AS (
        |  SELECT q.query_id, e.vec_id AS cand_id,
        |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qe) AS sim
        |  FROM embeddings e, q),
        | ranked AS (
        |  SELECT query_id, cand_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id ASC) AS rank,
        |    ROUND(sim, 6) AS sim
        |  FROM scored)
        |SELECT query_id, cand_id, CAST(rank AS INT) AS rank, sim FROM ranked
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)
}
