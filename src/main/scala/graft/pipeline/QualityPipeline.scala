package graft.pipeline

import graft.filter.LangIdModel
import graft.functions.{Pinned, PiiFunctions, QualityFunctions, TextFunctions => TF}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}

/** The web-text quality-filter + PII-scrub pipeline (north rule):
  * extract → langid → heuristic quality rules → PII scrub → keep/drop,
  * with stage checkpointing for exact resume, per-partition lineage, and a
  * salted host aggregation for skewed domains.
  *
  * Every stage is a narrow projection (no shuffle) — the only shuffles are
  * the metrics rollups at the end. At cluster scale the same plan reads an
  * Iceberg/parquet table partitioned by crawl date and bucketed by url hash.
  * The chain's expensive expressions and `drop_reasons` are pinned
  * ([[graft.functions.Pinned]]), so pushdown cannot duplicate them; in a
  * GraftSession the PushFiltersThroughPinned rule still sinks every filter
  * that reads none of their outputs. So scan predicates (crawl-date pruning,
  * host allowlists) applied after [[run]] reach the scan, and
  * `run(...).filter(col("keep"))` drops pages right above the `drop_reasons`
  * projection, before the PII stage. (No Iceberg runtime ships with this
  * build — parquet directories stand in with identical layout.)
  */
object QualityPipeline {

  final case class Config(
      minWords: Int = 10,
      maxWords: Int = 200000,
      minMeanWordLen: Double = 2.0,
      maxMeanWordLen: Double = 12.0,
      maxSymbolRatio: Double = 0.1,
      minAlphaWordRatio: Double = 0.5,
      maxRepetitionRatio: Double = 0.2,
      minLangConfidence: Double = 0.0,
      maxBulletLineFrac: Double = 0.9,
      maxEllipsisLineFrac: Double = 0.3,
      allowedLangs: Seq[String] = Nil, // empty = all
      // C4 line filter (Raffel et al. 2020 §2.2): OFF by default — it
      // REWRITES text (drops non-sentence lines), so the byte-identity
      // invariant holds only for pages whose every line is prose
      c4LineFilter: Boolean = false,
      c4MinWordsPerLine: Int = 3,
      c4MinLinesKept: Int = 5,
      // Gopher duplicate-shape gates (Rae et al. 2021 Table A1): pages that
      // repeat whole lines/paragraphs verbatim. OFF by default — single-line
      // prose (the fixture shape all existing goldens pin) can never trip
      // them, but the extra per-row pass isn't free, so it's opt-in like
      // the C4 line filter. Thresholds are the paper's.
      gopherDupGates: Boolean = false,
      maxDupLineFrac: Double = 0.30,
      maxDupParaFrac: Double = 0.30,
      maxDupLineCharFrac: Double = 0.20,
      maxDupParaCharFrac: Double = 0.20,
      // Checksum-gated scrub (Luhn for cards, mod-11 for RRNs): card/RRN
      // regex hits failing their checksum are NOT redacted (the regex
      // layer's random-number false positives) and don't count in n_pii.
      // OFF by default — it changes text_scrubbed/n_pii for exactly those
      // rows, which the reference-parity goldens pin.
      strictScrub: Boolean = false,
      // Per-language jusText (runFromHtml only): after language ID on the
      // language-independent draft extraction, pages whose language has a
      // stopword list get a SECOND extraction pass sharpened by stopword
      // density (jusText's full mode — kills keyword-stuffed link-free
      // boilerplate the length/link signals can't see). OFF by default:
      // it rewrites extracted text for listed-language pages.
      justextByLang: Boolean = false,
      // Host-rank gate ([[hostRankStage]], active only when `run` is given
      // a rank table): pages on hosts whose link-graph PageRank
      // ([[graft.operators.LinkGraph.hostRank]] fixed-point Longs) falls
      // below this bar get a drop reason. 0 = no gate.
      minHostRank: Long = 0L)

  /** Optional stage 0a: populate `text` from the raw `html` payload for
    * pages that arrive without a pre-extracted text column — jusText
    * boilerplate-aware extraction in language-independent mode (the only
    * mode available before langid has run). Pages WITH text keep it verbatim
    * (the byte-identity invariant); narrow per-row work. */
  def htmlExtractStage(pages: DataFrame): DataFrame =
    pages.withColumn("text",
      when(col("text").isNull || col("text") === "",
        graft.functions.HtmlFunctions.justext_extract(
          // NOT decode(html,'UTF-8'): under Spark 4's default ANSI mode that
          // THROWS on the first invalid byte — and crawl payloads are
          // routinely mis-encoded (the premise of the mojibake stage). The
          // binary→string cast reinterprets bytes unchecked; make_valid_utf8
          // then replaces ill-formed sequences with U+FFFD, so one broken
          // page degrades to replacement chars instead of killing the job.
          expr("make_valid_utf8(cast(html as string))")))
        .otherwise(col("text")))

  /** Optional stage 0a, per-language mode (jusText's full algorithm): the
    * language-independent extraction first — the only mode available before
    * the language is known — then language ID on that draft, then for
    * textless-arriving pages whose predicted language has a stopword list a
    * SECOND extraction pass with the paper's stopword-density thresholds
    * (0.30/0.32). Two O(|html|) scans for listed languages, one for the
    * rest; still narrow per-row work, no shuffle — the two-pass shape is
    * exactly CCNet's "process, identify, reprocess per language" discipline.
    * Pages that arrived WITH text keep it verbatim, as in
    * [[htmlExtractStage]]. */
  def htmlExtractByLangStage(pages: DataFrame,
      lists: Map[String, Set[String]] = graft.functions.JusTextStopwords.lists,
      model: LangIdModel = LangIdModel.default): DataFrame = {
    val htmlStr = expr("make_valid_utf8(cast(html as string))")
    val textless = col("text").isNull || col("text") === ""
    val draft = pages.withColumn("_jt_draft",
      when(textless, graft.functions.HtmlFunctions.justext_extract(htmlStr))
        .otherwise(col("text")))
      // langid only where its result can be consumed (textless rows): every
      // sharpened branch below is guarded by `textless`, so running the
      // model on pages that arrived with text would be a pure waste — and
      // langid is the most expensive narrow op in the chain
      .withColumn("_jt_lang",
        when(textless,
          QualityFunctions.langid(col("_jt_draft"), model).getField("lang")))
    // deterministic when-chain over the (small, driver-side) language list
    val sharpened = lists.toSeq.sortBy(_._1).foldLeft(col("_jt_draft")) {
      case (acc, (lang, sw)) =>
        when(textless && col("_jt_lang") === lang,
          graft.functions.HtmlFunctions.justext_extract(htmlStr, sw)).otherwise(acc)
    }
    draft.withColumn("text", sharpened).drop("_jt_draft", "_jt_lang")
  }

  /** Optional stage 0b: mojibake repair (UTF-8-as-cp1252 damage) before any
    * hashing, token counting or dedup sees the text. Correct text is a
    * fixpoint with an ASCII fast path, so the off-path cost is one scan. */
  def mojibakeStage(pages: DataFrame): DataFrame =
    pages.withColumn("text", graft.functions.FixMojibake.fix_mojibake(col("text")))

  /** Stage 1: extract text/host from the raw page row. The text column is
    * carried through verbatim (byte-identical invariant). */
  def extract(pages: DataFrame): DataFrame =
    pages.select(
      col("url"),
      regexp_extract(col("url"), "https?://([^/]+)/", 1).as("host"),
      col("warc_ts"), col("text"), col("lang"))

  /** Stage 2: language identification (fastText-style hashed n-gram model). */
  def langIdStage(df: DataFrame, model: LangIdModel = LangIdModel.default): DataFrame =
    df.withColumn("lid", QualityFunctions.langid(col("text"), model))
      .withColumn("lang_pred", col("lid.lang"))
      .withColumn("lang_conf", col("lid.confidence"))
      .drop("lid")

  /** Optional stage 2b (C4 §2.2, `cfg.c4LineFilter`): keep only lines that
    * end in terminal punctuation and carry ≥ `c4MinWordsPerLine` words —
    * nav menus, cookie banners, button labels die here; the page is
    * rebuilt from the surviving lines and `n_lines_kept` carries C4's
    * sentence count forward for the page-level gate in [[qualityStage]].
    * Pure narrow per-row work, same core expression as the standalone
    * operator (q62). */
  def lineFilterStage(df: DataFrame, cfg: Config = Config()): DataFrame =
    df.withColumn("_c4", graft.operators.ExactSubstring
        .c4KeptLines(col("text"), cfg.c4MinWordsPerLine))
      .withColumn("n_lines_kept", size(col("_c4.kept")))
      .withColumn("text", array_join(col("_c4.kept"), "\n"))
      .drop("_c4")

  /** Stage 3: Gopher/C4-style heuristic quality signals + drop reasons. */
  def qualityStage(df: DataFrame, cfg: Config = Config()): DataFrame = {
    // One fused single-pass scan for ALL the per-row signals (value-parity
    // with the TF built-in / standalone-expression formulations pinned in
    // QualitySignalsSpec) — the built-ins re-tokenized the document four
    // times (~40% of the whole pipeline's CPU on the 1M-page bench), and
    // the earlier fusion still paid three expression passes per row (the
    // four counts, the repetition ratio, the per-line regex line-shape
    // chain); quality_signals_full computes the whole surface in one eval
    // and one UTF8String→String conversion. The lsig struct is rebuilt
    // from the returned counts with the identical int/int divisions.
    val withSignals = df
      .withColumn("qs", QualityFunctions.quality_signals_full(col("text")))
      .withColumn("n_words", col("qs.n_words"))
      .withColumn("mean_word_len", col("qs.n_chars").cast("double") / col("qs.n_words"))
      .withColumn("symbol_ratio", col("qs.n_symbols").cast("double") / col("qs.n_words"))
      .withColumn("alpha_word_ratio", col("qs.n_alpha_words").cast("double") / col("qs.n_words"))
      .withColumn("repetition_ratio", col("qs.rep2"))
      // Gopher line-shape gates (bullet-started / ellipsis-ended line
      // fractions); single-line prose (frac 0) never trips them
      .withColumn("lsig", struct(
        col("qs.n_lines").as("n_lines"),
        (col("qs.n_bullet").cast("double") / col("qs.n_lines")).as("frac_bullet"),
        (col("qs.n_ellipsis").cast("double") / col("qs.n_lines")).as("frac_ellipsis")))
      .drop("qs")
    // Gopher duplicate-shape signals (opt-in): one fused pass builds both
    // the line and paragraph duplicate counts
    val withDup =
      if (cfg.gopherDupGates)
        withSignals.withColumn("dsig", QualityFunctions.dup_shape_signals(col("text")))
      else withSignals
    val reasonCols = Seq(
      when(col("n_words") < cfg.minWords, lit("too_few_words")),
      when(col("n_words") > cfg.maxWords, lit("too_many_words")),
      when(col("mean_word_len") < cfg.minMeanWordLen ||
        col("mean_word_len") > cfg.maxMeanWordLen, lit("word_len_out_of_range")),
      when(col("symbol_ratio") > cfg.maxSymbolRatio, lit("symbol_heavy")),
      when(col("alpha_word_ratio") < cfg.minAlphaWordRatio, lit("non_alpha")),
      when(col("repetition_ratio") > cfg.maxRepetitionRatio, lit("repetitive")),
      when(col("lsig.frac_bullet") > cfg.maxBulletLineFrac, lit("bullet_heavy")),
      when(col("lsig.frac_ellipsis") > cfg.maxEllipsisLineFrac, lit("ellipsis_heavy")),
      when(lit(cfg.allowedLangs.nonEmpty) &&
        !col("lang_pred").isin(cfg.allowedLangs: _*), lit("lang_filtered")),
      when(col("lang_conf") < cfg.minLangConfidence, lit("lang_low_conf"))) ++
      // C4's page gate (< c4MinLinesKept surviving sentences): only when
      // the line-filter stage ran — plan-time schema check, the column
      // exists iff it did
      (if (df.columns.contains("n_lines_kept"))
        Seq(when(col("n_lines_kept") < cfg.c4MinLinesKept, lit("too_few_sentences")))
      else Nil) ++
      // Gopher dup-shape gates. 0-element documents (empty/whitespace text)
      // must gate as fraction 0, and the division needs an explicit guard:
      // under Spark 4's default ANSI mode 0/0 THROWS (and with ANSI off it
      // yields NULL) — an unguarded divide would kill the whole job on one
      // blank page.
      (if (cfg.gopherDupGates) {
        def frac(num: String, den: String): org.apache.spark.sql.Column =
          when(col(s"dsig.$den") > 0,
            col(s"dsig.$num").cast("double") / col(s"dsig.$den"))
            .otherwise(lit(0.0))
        Seq(
          when(frac("dup_lines", "n_lines") > cfg.maxDupLineFrac, lit("dup_lines")),
          when(frac("dup_paras", "n_paras") > cfg.maxDupParaFrac, lit("dup_paras")),
          when(frac("dup_line_chars", "line_chars") >
            cfg.maxDupLineCharFrac, lit("dup_line_chars")),
          when(frac("dup_para_chars", "para_chars") >
            cfg.maxDupParaCharFrac, lit("dup_para_chars")))
      } else Nil)
    val reasons = array_compact(array(reasonCols: _*))
    withDup
      .withColumn("drop_reasons", Pinned.column(reasons))
      .withColumn("keep", size(col("drop_reasons")) === 0)
      .drop("lsig", "dsig")
  }

  /** [[run]]'s trained-model gate: `lm` and `qm` are fit upstream (on a
    * sample, or on the input corpus); pages above `maxPerplexity` or under
    * `minScore` get a drop reason, so +∞ / −∞ never drops a page. */
  final case class ModelGate(lm: graft.filter.BigramLM, qm: graft.filter.QualityModel,
                             maxPerplexity: Double, minScore: Double)

  /** Optional stage 3b: both trained-model scores from ONE tokenization
    * pass (`model_scores` kernel): Kneser-Ney perplexity against a bigram
    * LM (drop reason `high_perplexity`) and the fastText-style quality
    * classifier of CCNet/DCLM-style pipelines (`low_quality_score`). The
    * models ride the expression (task-binary broadcast, one copy per
    * executor); a narrow projection, no shuffle. */
  private[graft] def modelScoresStage(df: DataFrame, g: ModelGate): DataFrame = {
    val scored = df.withColumn("_ms",
        graft.functions.ModelScoresExpression.model_scores(col("text"), g.lm, g.qm))
      .withColumn("perplexity", col("_ms.perplexity"))
      .withColumn("quality_score", col("_ms.quality"))
    gate(gate(scored, col("perplexity") > g.maxPerplexity, "high_perplexity"),
      col("quality_score") < g.minScore, "low_quality_score")
      .drop("_ms")
  }

  /** Optional stage 3d: host-trust gate from the link graph — the stated
    * consumer of [[graft.operators.LinkGraph.hostRank]]. Pages on hosts
    * ranked below `minRank` get a drop reason; hosts ABSENT from the rank
    * table (outside the crawl's link graph) are treated as exactly
    * `minRank` — unknown is neutral, never auto-dropped. The rank table is
    * host-grain — orders of magnitude smaller than the corpus, and gating
    * tables are threshold-pruned in practice — so it ships BROADCAST: the
    * corpus never shuffles (a plain host join would shuffle the corpus on
    * its most skewed key). */
  def hostRankStage(df: DataFrame, hostRanks: DataFrame, minRank: Long): DataFrame = {
    val ranked = df.join(broadcast(hostRanks.select(col("host"), col("rank").as("host_rank"))),
        Seq("host"), "left")
      .withColumn("host_rank", coalesce(col("host_rank"), lit(minRank)))
    gate(ranked, col("host_rank") < minRank, "low_host_rank")
  }

  /** A later stage's drop gate: appends `reason` to `drop_reasons` where
    * `cond` holds, and recomputes `keep`. */
  private def gate(df: DataFrame, cond: Column, reason: String): DataFrame =
    df.withColumn("drop_reasons",
        when(cond, array_union(col("drop_reasons"), array(lit(reason))))
          .otherwise(col("drop_reasons")))
      .withColumn("keep", size(col("drop_reasons")) === 0)

  /** Stage 4: PII detection + redaction in ONE detector pass per row
    * (process_pii expression; patterns are executor singletons). With
    * `strict`, the same single pass additionally gates card/RRN spans on
    * their checksums before redacting. */
  def piiStage(df: DataFrame, strict: Boolean = false): DataFrame =
    df.withColumn("pp",
        if (strict) PiiFunctions.process_pii_strict(col("text"))
        else PiiFunctions.process_pii(col("text")))
      .withColumn("n_pii", col("pp.n_pii"))
      .withColumn("text_scrubbed", col("pp.text_scrubbed"))
      .drop("pp")

  /** Full chain (the C4 line-filter stage joins when `cfg.c4LineFilter`,
    * the model gate when one is passed, the host-rank gate when a rank
    * table is passed). */
  def run(pages: DataFrame, cfg: Config = Config(),
          model: LangIdModel = LangIdModel.default,
          hostRanks: Option[DataFrame] = None,
          modelGate: Option[ModelGate] = None): DataFrame = {
    val base = extract(pages)
    val lf = if (cfg.c4LineFilter) lineFilterStage(base, cfg) else base
    val quality = qualityStage(langIdStage(lf, model), cfg)
    val gated = modelGate.fold(quality)(modelScoresStage(quality, _))
    val ranked = hostRanks.fold(gated)(hostRankStage(gated, _, cfg.minHostRank))
    piiStage(ranked, cfg.strictScrub)
  }

  /** Full chain from RAW HTML pages (url, warc_ts, html, lang [, text]):
    * extraction (per-language when `cfg.justextByLang`) + mojibake repair in
    * front of [[run]]. Pages may arrive without a text column at all. */
  def runFromHtml(pages: DataFrame, cfg: Config = Config(),
                  model: LangIdModel = LangIdModel.default): DataFrame = {
    val withText =
      if (pages.columns.contains("text")) pages
      else pages.withColumn("text", lit(""))
    val extracted =
      if (cfg.justextByLang) htmlExtractByLangStage(withText, model = model)
      else htmlExtractStage(withText)
    run(mojibakeStage(extracted), cfg, model)
  }

  /** Zero-extra-pass metrics: `observe` accumulates named aggregates while
    * the main action runs (no second job); read them from the returned
    * Observation after any action on the result. */
  def observed(result: DataFrame, obs: org.apache.spark.sql.Observation): DataFrame =
    result.observe(obs,
      count(lit(1)).as("rows"),
      sum(when(col("keep"), 1L).otherwise(0L)).as("kept"),
      sum(when(col("n_pii") > 0, 1L).otherwise(0L)).as("pii_rows"),
      sum(col("n_pii").cast("long")).as("pii_items"))

  /** Per-partition lineage rows: (stage, partition, rows, kept, pii_rows) —
    * written alongside outputs so every output row is attributable to an
    * input partition. */
  def lineage(result: DataFrame, stage: String): DataFrame =
    result.groupBy(spark_partition_id().as("partition_id"))
      .agg(count(lit(1)).as("rows"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("kept"),
        sum(when(col("n_pii") > 0, 1L).otherwise(0L)).as("pii_rows"))
      .withColumn("stage", lit(stage))

  /** Salted two-phase per-host rollup: pre-aggregate on (host, salt) so a
    * skewed host fans out over `salts` reducers, then combine. AQE skew
    * handling is the backstop; this makes the plan skew-proof by construction. */
  def hostRollup(result: DataFrame, salts: Int = 16): DataFrame = {
    val salted = result
      .withColumn("salt", pmod(hash(col("url")), lit(salts)))
      .groupBy(col("host"), col("salt"))
      .agg(count(lit(1)).as("n"), sum(when(col("keep"), 1L).otherwise(0L)).as("kept"))
    salted.groupBy("host")
      .agg(sum("n").as("n_pages"), sum("kept").as("n_kept"))
  }

  /** Checkpointed stage write: parquet + marker; `resume` skips any stage
    * whose marker exists AND whose recorded input fingerprint still matches
    * (content-addressed resume — a changed input must recompute, never serve
    * stale output; the fingerprint is the parquet-lake analogue of resuming
    * from a pinned Iceberg snapshot id). Returns the (re)loaded stage output. */
  def checkpointStage(spark: SparkSession, df: => DataFrame, outDir: String,
                      stage: String, inputFingerprint: String = ""): DataFrame = {
    val path = s"$outDir/stage=$stage"
    val marker = Paths.get(path, "_GRAFT_INPUT_FINGERPRINT")
    val complete = Files.exists(Paths.get(path, "_SUCCESS"))
    val fresh = inputFingerprint.isEmpty ||
      (Files.exists(marker) &&
        new String(Files.readAllBytes(marker), java.nio.charset.StandardCharsets.UTF_8)
          == inputFingerprint)
    if (!(complete && fresh)) {
      df.write.mode("overwrite").parquet(path)
      if (inputFingerprint.nonEmpty) {
        Files.write(marker,
          inputFingerprint.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
    }
    spark.read.parquet(path)
  }

  /** Content fingerprint of an input directory: digest over every data
    * file's relative path, size, mtime AND its tail bytes (up to 4 KiB) —
    * still a driver-side metadata-scale walk (what Iceberg gets for free
    * from its snapshot id), but immune to the size+mtime blind spot where a
    * same-length rewrite lands inside the filesystem's mtime granularity.
    * The tail is where parquet keeps its footer (row-group stats, created_by),
    * so any real content change perturbs it. */
  def inputFingerprint(path: String): String = {
    import scala.jdk.CollectionConverters._
    val root = Paths.get(path)
    val walk = Files.walk(root)
    val md = java.security.MessageDigest.getInstance("MD5")
    val entries =
      try {
        walk.iterator().asScala
          .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
          .toVector.sortBy(p => root.relativize(p).toString)
      } finally walk.close()
    entries.foreach { p =>
      val size = Files.size(p)
      md.update((s"${root.relativize(p)}|$size|${Files.getLastModifiedTime(p).toMillis}\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val ch = java.nio.channels.FileChannel.open(p)
      try {
        val n = math.min(4096L, size).toInt
        val buf = java.nio.ByteBuffer.allocate(n)
        ch.position(size - n)
        while (buf.hasRemaining && ch.read(buf) >= 0) {}
        md.update(buf.array(), 0, buf.position())
      } finally ch.close()
    }
    md.digest().map("%02x".format(_)).mkString
  }
}
