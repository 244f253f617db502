package graft

import graft.pipeline.{Curation, IncrementalCuration, QualityPipeline, SyntheticPages}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Benchmark harness. Prints ONE JSON line:
  * {"metric":"total","value":S,"unit":"sec","queries":{...},"sf":...,
  *  "pipeline":{...two-parallelism scaling evidence...}}
  *
  * Methodology:
  * - results are forced with a noop-format write (full plan computation —
  *   a bare count() would let Catalyst prune expensive projections);
  * - one warm-up pipeline pass before timing (JIT + codegen warm);
  * - the north rule's N vs 4N cluster scaling is evidenced with the same job
  *   at local[N] and local[4N] over the same input: docs/sec at both plus
  *   efficiency = throughput_4N / (4 · throughput_N).
  */
object Bench {
  private def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def time[A](f: => A): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  private def session(cores: Int): SparkSession = GraftSession.local(cores, "graft-bench")

  private def nprocs: Int = Runtime.getRuntime.availableProcessors()

  private def rmDir(path: String): Unit = {
    def rm(p: java.io.File): Unit = {
      if (p.isDirectory) p.listFiles.foreach(rm)
      p.delete(): Unit
    }
    rm(new java.io.File(path))
  }

  // --- scaling-pair fixture + job + estimator

  /** Materialize the base pages as a 64-file parquet dir (outside any timed
    * region): real crawl input arrives as thousands of splits; the driver
    * fixture is ONE row-group, whose scan would serialize at exactly the
    * parallelism being measured. */
  private def scalingFixture(spark: SparkSession, sfDir: String,
                             prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    SyntheticPages.fromDocuments(spark, sfDir).repartition(64)
      .write.mode("overwrite").parquet(dir)
    dir
  }

  private val ScalingPartitions = 256

  /** The scaling job: ×repFactor replication (narrow explode) through the
    * full quality pipeline. The base rows repartition to 256 BEFORE the
    * explode — the 64-file dir otherwise bin-packs to ~defaultParallelism
    * splits (openCost-dominated sizing), i.e. ONE task wave per level, and
    * the big level's makespan becomes its slowest-of-N task over variable-
    * length text (ragged tail). An interleaved A/B (3 rounds, both
    * variants in every round) measured 256 partitions faster than that
    * one-wave read at both levels (4 cores 35.4–40.5 s vs 37.2–42.8 s,
    * 16 cores 10.0–10.5 s vs 11.1–11.9 s) AND tighter in per-round
    * efficiency (0.883–0.968 vs 0.781–0.961). */
  private def scalingPipelineDf(s: SparkSession, pagesDir: String,
                                repFactor: Int): DataFrame = {
    val pages = s.read.parquet(pagesDir).repartition(ScalingPartitions)
      .withColumn("rep", explode(sequence(lit(0), lit(repFactor - 1))))
      .withColumn("url", concat(col("url"), lit("?rep="), col("rep")))
      .drop("rep")
    QualityPipeline.run(pages).select("url", "keep", "n_pii", "text_scrubbed")
  }

  /** One interleaved (N, 4N) pair: back-to-back so transient host noise
    * (VM-steal bursts) hits both levels roughly equally. Each level is
    * timed over an EQUAL-LENGTH interval — two consecutive forces at N,
    * four at 4N (per-force wall time is ~4× shorter there) — so each
    * level's steal exposure is equal; see the methodology comment at the
    * call site in `main`. Returns (tN, t4N) per-force seconds. */
  private def scalingPair(mkSession: Int => SparkSession,
                          smallCpus: Int, bigCpus: Int,
                          df: SparkSession => DataFrame): (Double, Double) = {
    var spark = mkSession(smallCpus)
    val a = time { force(df(spark)); force(df(spark)) } / 2
    spark.stop()
    spark = mkSession(bigCpus)
    val b = time { (1 to 4).foreach(_ => force(df(spark))) } / 4
    spark.stop()
    (a, b)
  }

  /** Single-thread detector throughput on the real Korean corpus — the direct
    * comparison with the reference's single-process run (~3k docs/sec). Plain
    * JVM loop; measured before any Spark work for a clean JIT/CPU state. */
  private def detectorBenchJson(): String = {
    val corpusPath = java.nio.file.Paths.get("/root/reference/combined_test_cases.json")
    if (!java.nio.file.Files.exists(corpusPath)) return ""
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      java.nio.file.Files.readAllBytes(corpusPath))
    val docs = new Array[String](node.size())
    for (i <- 0 until node.size()) docs(i) = node.get(i).get("document_text").asText()
    var sink = 0
    for (_ <- 1 to 5) docs.foreach(d => sink += graft.core.PiiDetector.detect(d).cats.length)
    val passes = 30
    val t0 = System.nanoTime()
    var p = 0
    while (p < passes) { docs.foreach(d => sink += graft.core.PiiDetector.detect(d).cats.length); p += 1 }
    val sec = (System.nanoTime() - t0) / 1e9
    val dps = docs.length.toLong * passes / sec
    s""","detector":{"corpus_docs":${docs.length},"passes":$passes,"docs_sec_1thread":${"%.1f".format(dps)}}"""
  }

  /** The daily-incremental-step bench: history = ×repFactor MUTUALLY-DISTINCT
    * docs built from the fixture pages by THIRD-MIXING (one third each from
    * three hash-chosen pages + a variant marker) — docs sharing a source
    * third sit at Jaccard ≈ 0.2, under the LSH collision knee, so the history
    * has realistic hard negatives but is NOT a wall of near-duplicates (a
    * curated corpus is distinct by construction; a history of ~identical
    * variants floods every band bucket and benchmarks a state no real
    * pipeline has — see `mixed` below). The history is PERSISTED to parquet
    * (at scale the state lives in the lake — the step reads files, not an
    * explode pipeline re-derived per history-side pass). Batch = a ~10%-scale
    * day: fresh third-mixes (a different mix key), exact recrawls of history
    * rows, and drop-3-token near-dup mutants of history rows. Bootstrap is
    * untimed (one-time, at scale a lake read) but reported. Batch ids sit
    * above 2^61 > every 60-bit history hash — the monotonic-id contract every
    * incremental operator canonicalizes on.
    * Returns (initSec, stepSec, stageProfile, historyDocs, batchDocs). */
  private def incrementalBench(spark: SparkSession, pagesDir: String,
                               repFactor: Int, nDocs: Long)
      : (Double, Double, Seq[(String, Double)], Long, Long) = {
    val (histDocs, batch, histDir) = incrementalFixture(spark, pagesDir, repFactor)
    val nBatch = batch.count()
    var state: graft.pipeline.IncrementalCuration.State = null
    val initSec = time {
      state = graft.pipeline.IncrementalCuration.init(histDocs, None,
        withLineDedup = true)
    }
    def rep(): (Double, Seq[(String, Double)]) = {
      val stages = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
      val sec = time {
        graft.pipeline.IncrementalCuration.step(state, batch,
          expectedHistoryDigests = nDocs,
          // the fixture corpus is one paragraph per page — size the line
          // filter from the known line count, not the 32x safety default
          expectedHistoryLines = 2L * nDocs,
          onStage = (n, s) => stages += ((n, s)))
      }
      (sec, stages.toSeq)
    }
    val (stepSec, stepStages) = Seq(rep(), rep()).minBy(_._1)
    rmDir(histDir)
    (initSec, stepSec, stepStages, nDocs, nBatch)
  }

  /** The LAKE-BACKED daily step (`pipeline_incremental_lake`): the same
    * fixture and stage mix as [[incrementalBench]], but the state lives as
    * [[graft.sources.StateLake]] tables on disk
    * ([[IncrementalCuration.stepLake]]) — history reads are bucket-pruned
    * parquet scans and the step's appends are atomic batch commits, so
    * this figure prices the production state layout (file I/O included)
    * against the in-memory harness's block-manager state. Bootstrap is
    * untimed (one-time, reported); each rep resets the tables to version
    * 0 by dropping the appended batch dirs so both reps step the same
    * state. */
  private def incrementalLakeBench(spark: SparkSession, pagesDir: String,
                                   repFactor: Int, nDocs: Long)
      : (Double, Double, Seq[(String, Double)], Long, Long) = {
    val (histDocs, batch, histDir) = incrementalFixture(spark, pagesDir, repFactor)
    val nBatch = batch.count()
    val root = java.nio.file.Files
      .createTempDirectory("graft_bench_lake").toString + "/state"
    val initSec = time {
      IncrementalCuration.initLake(histDocs, None, root, withLineDedup = true)
    }
    def resetToBootstrap(): Unit =
      for (t <- Seq("docs", "bands", "lines", "grams", "cells", "hosts",
                    "docs_bloom", "lines_bloom", "grams_bloom");
           d = new java.io.File(s"$root/$t") if d.isDirectory;
           b <- d.listFiles()
           if b.getName.startsWith("batch=") && b.getName != "batch=000000")
        rmDir(b.toString)
    def rep(): (Double, Seq[(String, Double)]) = {
      val stages = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
      val sec = time {
        graft.pipeline.IncrementalCuration.stepLake(spark, root, batch,
          expectedHistoryDigests = nDocs,
          expectedHistoryLines = 2L * nDocs,
          onStage = (n, s) => stages += ((n, s)))
      }
      resetToBootstrap()
      (sec, stages.toSeq)
    }
    val (stepSec, stepStages) = Seq(rep(), rep()).minBy(_._1)
    rmDir(root)
    rmDir(histDir)
    (initSec, stepSec, stepStages, nDocs, nBatch)
  }

  /** One timed rep of the composed curation run (`pipeline_curation`):
    * docs/sec through runCheckpointed's whole chain, checkpoint parquet I/O
    * included, with the per-stage wall-time profile. Each rep gets a FRESH
    * checkpoint dir — a reused one would resume at zero cost and measure
    * nothing. */
  private def curationRep(spark: SparkSession, pagesDir: String, repFactor: Int)
      : (Double, Seq[(String, Double)]) = {
    val outDir = java.nio.file.Files.createTempDirectory("graft_bench_curation").toString
    val stages = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    val pages = spark.read.parquet(pagesDir)
      .withColumn("rep", explode(sequence(lit(0), lit(repFactor - 1))))
      .withColumn("url", concat(col("url"), lit("?rep="), col("rep")))
      .select("url", "text")
    val sec = time {
      Curation.runCheckpointed(spark, Curation.fromLake(pages), None, outDir,
        inputFp = "bench-" + outDir,
        onStage = (n, s) => stages += ((n, s)))
    }
    rmDir(outDir)
    (sec, stages.toSeq)
  }

  /** The incremental-step fixture: a `repFactor`-replicated third-mix
    * history plus a ~10%-scale batch (fresh mixes, exact recrawls,
    * drop-3-token near-dup mutants).
    * Returns (histDocs, batch [materialized], histDir to rmDir after). */
  private def incrementalFixture(spark: SparkSession, pagesDir: String, repFactor: Int)
      : (DataFrame, DataFrame, String) = {
    import graft.functions.{TextFunctions => TF}
    val basePages = spark.read.parquet(pagesDir).select(col("url"), col("text"))
    val nBase = basePages.count()
    // source-text lookup with DENSE keys 0..nBase-1 (a hash-mod key covers
    // only ~63% of buckets and the three inner joins below would silently
    // drop 1 - 0.63³ ≈ 3/4 of the mixed corpus); the one-time window over
    // the 5k-row base table is bootstrap cost, not step cost
    val lookup = basePages
      .withColumn("bkey", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("url")).cast("long") - 1)
      .select(col("bkey"), col("text").as("tb"))
    // THIRD-mix: each doc = first third of page A + middle third of page B
    // + last third of page C, all three hash-chosen. Two mixes sharing one
    // source third have Jaccard ≈ 0.2 — under the LSH collision knee, so a
    // batch doc draws ~1 candidate partner, a normal crawl day. (A HALF-mix
    // puts shared-half pairs at J ≈ 1/3, right AT the knee: with each base
    // half shared by ~repFactor docs, every batch doc drew ~20 candidates
    // and the step benchmarked an adversarial candidate wall instead.)
    def mixed(src: DataFrame, reps: Int, salt: String): DataFrame = {
      var df = src.select(col("url"))
        .withColumn("rep", explode(sequence(lit(0), lit(reps - 1))))
      for (tag <- Seq("a", "b", "c")) {
        df = df
          .withColumn("bkey", pmod(TF.hash60(
            concat(col("url"), lit(salt), col("rep"), lit(tag))), lit(nBase)))
          .join(lookup, Seq("bkey"))
          .withColumn(s"w_$tag", split(trim(col("tb")), "\\s+"))
          .drop("bkey", "tb")
      }
      df.select(col("rep"),
        concat(col("url"), lit(salt), col("rep")).as("url"),
        concat_ws(" ",
          expr("array_join(slice(w_a, 1, greatest(size(w_a) div 3, 1)), ' ')"),
          expr("array_join(slice(w_b, greatest(size(w_b) div 3, 1) + 1, " +
            "greatest(size(w_b) div 3, 1)), ' ')"),
          expr("array_join(slice(w_c, 2 * greatest(size(w_c) div 3, 1) + 1, " +
            "1000000), ' ')"),
          concat(lit("variant"), col("rep"))).as("text"))
    }
    val histDir = java.nio.file.Files.createTempDirectory("graft_bench_hist").toString
    mixed(basePages, repFactor, "?rep=")
      .repartition(64)
      .write.mode("overwrite").parquet(histDir)
    val histBase = spark.read.parquet(histDir)
    val histDocs = Curation.fromLake(histBase.drop("rep"))
    val idOff = 1L << 61
    val freshReps = math.max(repFactor / 20, 1)
    val fresh = mixed(basePages, freshReps, "?fresh=")
      .select((TF.hash60(col("url")) + idOff).as("doc_id"), col("text"))
    val recrawl = histBase.filter(col("rep") < freshReps - 2)
      .select((TF.hash60(concat(col("url"), lit("?recrawl"))) + idOff).as("doc_id"),
        col("text"))
    val mutants = histBase.filter(col("rep") >= repFactor - 2)
      .select((TF.hash60(concat(col("url"), lit("?mut"))) + idOff).as("doc_id"),
        array_join(slice(split(col("text"), " "), 4, 1000000), " ").as("text"))
    val batch = fresh.unionByName(recrawl).unionByName(mutants).localCheckpoint()
    (histDocs, batch, histDir)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // Scaling pair N vs 4N: cap 4N at half the machine so the measurement
    // reflects engine scaling, not host oversubscription (driver+GC threads
    // share the same cores in local mode).
    val bigCpus = math.max(math.min(cpus / 2, nprocs / 2), 4)
    val smallCpus = math.max(bigCpus / 4, 1)
    val repFactor = sys.env.getOrElse("SPARK_GRAFT_REP", "200").toInt

    val detectorJson = detectorBenchJson() // before any Spark work: clean JIT/CPU state

    val headline = Seq(
      "q1_pricing_agg", "q3_join_enrich", "q7_percentiles",
      "q14_minhash_sig", "q16_dup_pairs", "q17_simhash", "q18_cosine_topk",
      "q20_pii_detect", "q21_pii_scrub", "q23_pipeline_hosts",
      "q29_embed_neardup", "q35_asof_join",
      "q38_decontaminate", "q39_dup_components", "q40_dup_ngram_ratio",
      "q47_skew_join", "q48_range_join", "q53_substring_dedup",
      "q65_incr_neardup", "q68_html_extract",
      "q78_ccnet_paradedup", "q79_host_cap", "q81_url_latest",
      "q83_incr_linededup", "q86_syndication", "q88_semantic_decontam",
      "q93_incr_hostcap", "q94_incr_latest",
      "q97_train_shards", "q98_token_budget", "q99_mixture_shards",
      "q100_host_split", "q101_data_card", "q102_anchor_text")

    var spark = session(cpus)

    // --- two-parallelism pipeline scaling -------------------------------
    // Measured FIRST, before the headline suite: the north rule's criterion
    // is per-spark-submit — a fresh JVM per job — and the in-suite reading
    // taken after ~130 executed query plans was depressed ~0.05 by JVM
    // aging (grown heap, GC pressure; a fresh-JVM run of the same pairs
    // read 0.810 median / 0.822 best in the same hour post-suite runs read
    // 0.744–0.817 — same code, same host).
    // Fixture + job + pair estimator live in scalingFixture /
    // scalingPipelineDf / scalingPair above.
    val pagesDir = scalingFixture(spark, sfDir, "graft_bench_pages")
    // Raw-HTML variant of the same corpus for the extraction bench: the body
    // text sandwiched between two known-prose paragraphs (so jusText's
    // context resolution keeps it regardless of body length), wrapped in the
    // nav/tracking/footer boilerplate a real crawl page carries; `text`
    // arrives EMPTY so htmlExtractStage has to produce it.
    val htmlPagesDir = java.nio.file.Files.createTempDirectory("graft_bench_html").toString
    val prose1 = "The measurement methodology records wall-clock time across the " +
      "whole job, including scan, extraction, classification and the final " +
      "write, so the reported figure reflects what a production run would pay."
    val prose2 = "Each paragraph of genuine prose carries enough characters and " +
      "few enough links that the classifier marks it good on its own merits, " +
      "which anchors the context resolution for the shorter body blocks."
    SyntheticPages.fromDocuments(spark, sfDir).repartition(64)
      .select(col("url"), col("warc_ts"), col("lang"),
        encode(concat(
          lit("<html><head><title>T</title><style>p{color:red}</style></head>" +
            "<body><nav><a href='/'>Home</a> <a href='/shop'>Shop</a> " +
            s"<a href='/cart'>Cart</a></nav><p>$prose1</p><p>"),
          col("text"),
          lit(s"</p><p>$prose2</p><div><a href='/more'>Read more</a></div>" +
            "<!-- tracking --><script>var a=1;</script>" +
            "<footer>© 2026 Example Corp</footer></body></html>")), "UTF-8").as("html"),
        lit("").as("text"))
      .write.mode("overwrite").parquet(htmlPagesDir)
    def pipelineDf(s: SparkSession) = scalingPipelineDf(s, pagesDir, repFactor)
    val nDocs = spark.read.parquet(pagesDir).count() * repFactor
    force(pipelineDf(spark)) // warm-up (JIT/codegen) before any timing
    spark.stop()

    // Interleaved pairs: each (N, 4N) pair runs back-to-back so transient
    // host noise (VM steal bursts, measured at ±30% on this host even for
    // plain JVM thread loops) hits both levels of a pair roughly equally;
    // efficiency is the MEDIAN of 7 per-pair ratios — robust to three corrupted
    // pairs — while docs/sec headline numbers use the best time per level.
    // Each level is timed over TWO consecutive forces: after the signal
    // fusion the 16-core run dropped to ~7s, short enough for one VM-steal
    // burst to corrupt a pair ratio — doubling the measured interval keeps
    // the median estimator steal-robust without extra sessions.
    // The 4N level runs FOUR forces per interval (vs two at N): per-force
    // wall time is ~4× shorter there, so a two-force interval was ~14s vs
    // ~52s at N — short enough that a single steal burst inside it corrupted
    // the pair ratio (observed medians 0.75–0.86 across same-day runs while
    // the best-times estimator held 0.90–0.92). Equalizing interval LENGTH
    // equalizes each level's steal exposure.
    val pairs = (1 to 7).map { _ =>
      scalingPair(session, smallCpus, bigCpus, pipelineDf)
    }
    val tn = pairs.map(_._1).min
    val t4n = pairs.map(_._2).min
    val dsN = nDocs / tn
    val ds4N = nDocs / t4n
    val ratios = pairs.map { case (a, b) => (a / b) / (bigCpus.toDouble / smallCpus) }.sorted
    // Two estimators, both reported: the pair-ratio MEDIAN is the
    // conservative one (a steal burst inside a pair pulls its ratio down);
    // the BEST-times ratio filters steal additively (steal only ever slows a
    // run, so min-over-pairs at each level is the cleanest estimate of true
    // engine capacity). They bracket the real figure.
    val eff = ratios(ratios.length / 2)
    val effBest = (tn / t4n) / (bigCpus.toDouble / smallCpus)

    // --- headline suite (cold + interleaved warm passes), after the
    // scaling pairs so THEIR measurement sees a young JVM ----------------
    spark = session(cpus)
    // Two passes per headline query: the "cold" pass carries each query's
    // FIRST-execution cost (analysis, planning, per-query Janino codegen) in
    // a fresh session — but since the scaling section now runs first, the
    // JVM itself (JIT, shared-operator codegen cache) is already warm, so
    // queries_cold is NOT comparable with rounds ≤4 where it was the first
    // Spark work in the process. The warm pass is the regression-comparable
    // number and is unaffected.
    val coldTimes = headline.map { name =>
      name -> time(force(SparkEntry.queries(name)(spark, sfDir)))
    }
    // warm = best of 2 measurements, each a TWO-consecutive-force interval,
    // applied UNIFORMLY to every headline query — and the two measurements
    // of a query are separated by a FULL pass over the whole headline list
    // (A₁B₁C₁…A₂B₂C₂…, not A₁A₂B₁B₂…). Back-to-back intervals let one
    // minutes-long VM-steal burst corrupt BOTH measurements of whichever
    // query it overlapped (r3 recorded q38 at 26.8s vs 1.6s steady);
    // interleaving puts minutes between a query's two intervals, so a
    // burst inflates at most one of them and min() discards it.
    def interval(name: String): Double =
      time { force(SparkEntry.queries(name)(spark, sfDir))
             force(SparkEntry.queries(name)(spark, sfDir)) } / 2
    val pass1 = headline.map(n => n -> interval(n)).toMap
    val pass2 = headline.map(n => n -> interval(n)).toMap
    val queryTimes = headline.map(n => n -> math.min(pass1(n), pass2(n)))
    spark.stop()
    val total = queryTimes.map(_._2).sum + t4n

    // --- FULL five-stage pipeline (extract → langid → quality → KN-
    // perplexity → trained classifier → PII scrub): the trained-filter
    // stages cost a broadcast-model UDF per row; this measures that marginal
    // cost so the 100-TB model covers them. Model FITS stay outside the
    // timed region — they are one-time corpus passes, not per-query cost.
    spark = session(bigCpus)
    val (fullSec, fullC4Sec) = {
      val s = spark
      import s.implicits._
      val base = s.read.parquet(pagesDir)
      val lm = graft.filter.BigramLM.fit(base.select("text").as[String])
      val qm = graft.filter.QualityClassifier.fit(
        graft.filter.QualityClassifier.weakLabels(
            base, abs(hash(col("url"))).cast("long"), col("text"))
          .select(col("text").as("_1"), col("y").as("_2")).as[(String, Double)])
      def fullDf(c4: Boolean) = {
        val pages0 = s.read.parquet(pagesDir)
          .withColumn("rep", explode(sequence(lit(0), lit(repFactor - 1))))
          .withColumn("url", concat(col("url"), lit("?rep="), col("rep")))
          .drop("rep")
        // The c4 variant must measure the filter's COST on a corpus it
        // keeps: the synthetic doc bodies don't end in terminal
        // punctuation, so unpunctuated input would zero out every page at
        // the line stage and the "chain" downstream would process empty
        // strings. A planted terminal '.' keeps the body line (≥3 words +
        // punctuation) and the full chain runs at full width.
        val pages = if (c4) pages0.withColumn("text", concat(col("text"), lit(".")))
                    else pages0
        val cfg = QualityPipeline.Config(c4LineFilter = c4)
        val extracted = QualityPipeline.extract(pages)
        val lf = if (c4) QualityPipeline.lineFilterStage(extracted, cfg) else extracted
        QualityPipeline.piiStage(
          QualityPipeline.modelScoresStage(
            QualityPipeline.qualityStage(QualityPipeline.langIdStage(lf), cfg),
            lm, qm, maxPerplexity = 1e9, minScore = 0.0))
          .select("url", "keep", "n_pii", "text_scrubbed")
      }
      force(fullDf(c4 = false)) // warm-up
      val plain = math.min(time(force(fullDf(c4 = false))), time(force(fullDf(c4 = false))))
      // C4 line-filter variant: the marginal cost of the line stage on the
      // same chain (one extra CRLF split + per-line predicate per doc)
      val c4 = math.min(time(force(fullDf(c4 = true))), time(force(fullDf(c4 = true))))
      (plain, c4)
    }

    // --- full chain FROM RAW HTML: jusText extraction + mojibake repair in
    // front of the same heuristic pipeline — the delta against `pipeline`'s
    // per-level numbers at the same core count prices extraction, the most
    // expensive narrow stage a real crawl pipeline runs.
    def extractDf(s: SparkSession) = {
      val pages = s.read.parquet(htmlPagesDir)
        .withColumn("rep", explode(sequence(lit(0), lit(repFactor - 1))))
        .withColumn("url", concat(col("url"), lit("?rep="), col("rep")))
        .drop("rep")
      QualityPipeline.runFromHtml(pages)
        .select("url", "keep", "n_pii", "text_scrubbed")
    }
    force(extractDf(spark)) // warm-up
    val extractSec = math.min(time(force(extractDf(spark))), time(force(extractDf(spark))))

    // --- composed curation run: docs/sec THROUGH runCheckpointed's whole
    // chain (exact → lines → neardup → substring → quality → scrub → pack),
    // checkpoint parquet I/O included, with the per-stage wall-time profile
    // — which stage dominates is measured, not reasoned. Input is the same
    // ×repFactor url-replicated corpus as `pipeline`: a recrawl-heavy shape
    // where exact dedup carries the full input width (and, being a map-side-
    // combining min_by agg, reduces it before the shuffle) and every later
    // stage works the unique survivors. Each rep gets a FRESH checkpoint
    // dir — a reused one would resume at zero cost and measure nothing.
    val (curSec, curStages) =
      Seq(curationRep(spark, pagesDir, repFactor),
        curationRep(spark, pagesDir, repFactor)).minBy(_._1)

    // --- daily incremental step: the number that justifies the whole
    // incremental surface is step_cost << full-run cost on the same
    // history. History = the corpus made UNIQUE (per-rep disambiguated
    // texts — the state a long run of daily steps has accumulated), batch
    // = a 10%-scale day with a realistic recrawl mix: ~half fresh pages,
    // ~half exact recrawls of history, plus a mutant slice so the
    // cross-batch near-dup verify join does real work. State bootstrap is
    // untimed (at scale it IS the persisted lake state, not a daily cost)
    // but reported. Batch ids sit above 2^61 > every 60-bit history hash —
    // the monotonic-id contract every incremental operator canonicalizes
    // on.
    val (incrInitSec, incrStepSec, incrStages, incrHistDocs, incrBatchDocs) =
      incrementalBench(spark, pagesDir, repFactor, nDocs)

    // the same step against LAKE-backed state: the production layout's
    // price (bucket-pruned parquet reads + atomic batch-commit appends)
    val (lakeInitSec, lakeStepSec, lakeStages, _, lakeBatchDocs) =
      incrementalLakeBench(spark, pagesDir, repFactor, nDocs)
    spark.stop()

    def f(d: Double) = f"$d%.3f"
    val qJson = queryTimes.map { case (k, v) => s""""$k":${f(v)}""" }.mkString("{", ",", "}")
    val qColdJson = coldTimes.map { case (k, v) => s""""$k":${f(v)}""" }.mkString("{", ",", "}")
    val pipeJson =
      s"""{"docs":$nDocs,"cores_n":$smallCpus,"sec_n":${f(tn)},"docs_sec_n":${f(dsN)},""" +
      s""""cores_4n":$bigCpus,"sec_4n":${f(t4n)},"docs_sec_4n":${f(ds4N)},""" +
      s""""scaling_efficiency":${f(eff)},"scaling_efficiency_best":${f(effBest)}}"""
    val fullJson =
      s"""{"docs":$nDocs,"cores":$bigCpus,"sec":${f(fullSec)},"docs_sec":${f(nDocs / fullSec)}}"""
    val fullC4Json =
      s"""{"docs":$nDocs,"cores":$bigCpus,"sec":${f(fullC4Sec)},"docs_sec":${f(nDocs / fullC4Sec)}}"""
    val extractJson =
      s"""{"docs":$nDocs,"cores":$bigCpus,"sec":${f(extractSec)},"docs_sec":${f(nDocs / extractSec)}}"""
    val curStagesJson = curStages.map { case (k, v) => s""""$k":${f(v)}""" }.mkString("{", ",", "}")
    val curationJson =
      s"""{"docs":$nDocs,"cores":$bigCpus,"sec":${f(curSec)},"docs_sec":${f(nDocs / curSec)},"stages":$curStagesJson}"""
    val incrStagesJson = incrStages.map { case (k, v) => s""""$k":${f(v)}""" }.mkString("{", ",", "}")
    val incrJson =
      s"""{"history_docs":$incrHistDocs,"batch_docs":$incrBatchDocs,"cores":$bigCpus,""" +
      s""""init_sec":${f(incrInitSec)},"sec":${f(incrStepSec)},""" +
      s""""docs_sec":${f(incrBatchDocs / incrStepSec)},"stages":$incrStagesJson}"""
    val lakeStagesJson = lakeStages.map { case (k, v) => s""""$k":${f(v)}""" }.mkString("{", ",", "}")
    val lakeJson =
      s"""{"history_docs":$incrHistDocs,"batch_docs":$lakeBatchDocs,"cores":$bigCpus,""" +
      s""""init_sec":${f(lakeInitSec)},"sec":${f(lakeStepSec)},""" +
      s""""docs_sec":${f(lakeBatchDocs / lakeStepSec)},"stages":$lakeStagesJson}"""
    println(s"""{"metric":"total","value":${f(total)},"unit":"sec","queries":$qJson,"queries_cold":$qColdJson,"sf":"$sfDir","pipeline":$pipeJson,"pipeline_full":$fullJson,"pipeline_full_c4":$fullC4Json,"pipeline_full_extract":$extractJson,"pipeline_curation":$curationJson,"pipeline_incremental":$incrJson,"pipeline_incremental_lake":$lakeJson$detectorJson}""")

    rmDir(pagesDir)
    rmDir(htmlPagesDir)
  }
}
