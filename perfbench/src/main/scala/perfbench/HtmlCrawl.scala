package perfbench

import graft.pipeline.{QualityPipeline, SyntheticPages}
import graft.sources.PageLake
import graft.streaming.PageStream
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `html_crawl`: raw-HTML pages (the generated documents replicated,
  * wrapped in boilerplate, a share as mojibake, `text` empty) through
  * `QualityPipeline.runFromHtml(pages).filter(keep)` → `PageLake.write`.
  * Its traced run also measures the `streaming` layer with a side drain. */
final class HtmlCrawl extends Workload {
  import HtmlCrawl._
  type Fx = CrawlFx
  type Out = Unit
  def name = "html_crawl"
  def docsPerOp: Long = BaseDocs.toLong * Reps
  // op times keep falling over a JVM's first five passes (≈1.9, 1.6, 1.3,
  // 1.25, 1.25 s, then ≈1.1 s), so five passes run before timing
  override def warmupOps: Int = 5

  def setup(ctx: Ctx, dir: String): Fx = {
    Pages.writeDocuments(ctx.spark, s"$dir/docs", ctx.seed, BaseDocs)
    val fx = CrawlFx(dir)
    Pages.htmlPages(Pages.replicate(SyntheticPages.fromDocuments(ctx.spark, s"$dir/docs"), Reps))
      .repartition(4 * Main.Cores).write.mode("overwrite").parquet(fx.pages)
    fx
  }

  def op(ctx: Ctx, fx: Fx, i: Int): Out = {
    val pages = ctx.spark.read.parquet(fx.pages)
    val kept = ctx.span("pipeline.QualityPipeline.runFromHtml")(QualityPipeline.runFromHtml(pages))
      .filter(col("keep"))
    ctx.span("sources.PageLake.write")(PageLake.write(lakeRows(kept), fx.lake))
  }

  /** Row count equals the kept count of the batch pipeline; no url appears
    * twice; no planted `@corp.co.kr` address survives. The reference
    * (url, pre-scrub text, keep) is computed once, at the first check. */
  def check(ctx: Ctx, fx: Fx, out: Out): Seq[String] = {
    val spark = ctx.spark
    if (!new java.io.File(fx.ref).exists())
      QualityPipeline.runFromHtml(spark.read.parquet(fx.pages)).select("url", "text", "keep")
        .write.mode("overwrite").parquet(fx.ref)
    countErrors(spark, fx.lake, fx.ref)
  }

  override def finalCheck(ctx: Ctx, fx: Fx): Seq[String] = scrubErrors(ctx.spark, fx.lake, fx.ref)

  def properties: Seq[(String, String)] = Seq(
    "pages" -> docsPerOp.toString, "base_documents" -> BaseDocs.toString,
    "replicas" -> Reps.toString, "input" -> "raw html, empty text; 1 in 50 pages as mojibake")

  def layers(ctx: Ctx, fx: Fx, traced: Seq[OpRecord[Out]]): Layers = {
    val spark = ctx.spark
    val pages = spark.read.parquet(fx.pages)
    val extracted = QualityPipeline.htmlExtractStage(pages)
    val mojibake = QualityPipeline.mojibakeStage(extracted)
    val base = QualityPipeline.extract(mojibake)
    val lang = QualityPipeline.langIdStage(base)
    val quality = QualityPipeline.qualityStage(lang)
    val costs = prefixCosts(Seq("scan" -> pages, "functions.extract_s" -> extracted,
      "functions.mojibake_s" -> mojibake, "select" -> base, "functions.langid_s" -> lang,
      "functions.quality_s" -> quality, "pipeline.pii_s" -> QualityPipeline.piiStage(quality)))
    val (files, bytes) = Harness.footprint(fx.lake)
    val kept = keptCount(spark, fx.ref)
    val piiRows = Stats.median(traced.map(_.piiRows.toDouble))
    val (stream, streamErrs) = streaming(ctx, fx)
    Layers(costs.filter(_._1.contains('.')) ++ stream ++ Map(
      "pipeline.rows_in" -> docsPerOp.toDouble, "pipeline.rows_kept" -> kept.toDouble,
      "pipeline.pii_rows" -> piiRows, "pipeline.pii_useful_ratio" -> kept / piiRows,
      "sources.lake_files" -> files.toDouble, "sources.lake_bytes" -> bytes.toDouble,
      "sources.write_s" -> writeSeconds(spark, fx)),
      Seq("streaming drain" -> streamErrs))
  }

  /** The `streaming` layer: the same page family with its text already
    * extracted, landed as `StreamFiles` parquet files and drained once by
    * `PageStream.runIntoLake` (AvailableNow) into a fresh lake. Outside the
    * timed op; the first streaming query of the process, so it carries the
    * streaming code's warm-up. The drained lake is then checked against
    * the batch pipeline over the landed pages: the kept count, no duplicate
    * url (exactly-once), no planted address, and the scrubbed text. */
  private def streaming(ctx: Ctx, fx: Fx): (Map[String, Double], Seq[String]) = {
    val spark = ctx.spark
    val rec = ctx.rec.get
    val landing = s"${fx.dir}/landing"
    val lake = s"${fx.dir}/stream-lake"
    SyntheticPages.fromDocuments(spark, s"${fx.dir}/docs").repartition(StreamFiles)
      .write.mode("overwrite").parquet(landing)
    rec.drain()
    val b0 = rec.microBatches.size
    rec.recording = true
    val t0 = System.nanoTime()
    ctx.span("streaming.PageStream.runIntoLake")(
      PageStream.runIntoLake(spark, landing, lake, s"${fx.dir}/stream-checkpoint"))
    val wall = (System.nanoTime() - t0) / 1e9
    rec.drain()
    rec.recording = false
    val mbs = rec.microBatches.drop(b0)
    val addBatch = mbs.map(_.addBatchS).sum
    val ref = s"${fx.dir}/stream-ref"
    QualityPipeline.run(spark.read.parquet(landing)).select("url", "text", "keep")
      .write.mode("overwrite").parquet(ref)
    (Map("streaming.microbatches" -> mbs.size.toDouble,
      "streaming.microbatch_s_p50" -> Stats.median(mbs.map(_.triggerS)),
      "streaming.microbatch_s_max" -> (if (mbs.isEmpty) Double.NaN else mbs.map(_.triggerS).max),
      "streaming.add_batch_s" -> addBatch, "streaming.overhead_s" -> (wall - addBatch)),
      countErrors(spark, lake, ref) ++ scrubErrors(spark, lake, ref))
  }
}

object HtmlCrawl {
  val BaseDocs = 4000
  val Reps = 3
  /** The streaming side drain of the traced run: 192 landed files, three
    * micro-batches at the source's 64 files per trigger. */
  val StreamFiles = 192

  final case class CrawlFx(dir: String) {
    val pages: String = s"$dir/pages"
    val lake: String = s"$dir/lake"
    val ref: String = s"$dir/ref"
  }

  /** The kept-pages product lake's columns (the `PageStream.runIntoLake`
    * contract): scrubbed text, an html wrapper of it, predicted language. */
  private def lakeRows(kept: DataFrame): DataFrame =
    kept.select(col("url"), col("warc_ts"),
      encode(concat(lit("<html><body>"), col("text_scrubbed"), lit("</body></html>")), "UTF-8").as("html"),
      col("text_scrubbed").as("text"), col("lang_pred").as("lang"))

  private def keptCount(spark: SparkSession, ref: String): Long =
    spark.read.parquet(ref).filter(col("keep")).count()

  /** The lake's row count equals the kept count of the reference (url,
    * pre-scrub text, keep); no url appears twice; no planted `@corp.co.kr`
    * address survives. */
  private def countErrors(spark: SparkSession, lake: String, ref: String): Seq[String] = {
    val r = PageLake.read(spark, lake).agg(count(lit(1)),
      sum(when(col("text").contains("@corp.co.kr"), 1L).otherwise(0L)), countDistinct(col("url"))).head()
    val (n, leaked, urls) = (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1), r.getLong(2))
    val kept = keptCount(spark, ref)
    Seq(
      if (n != kept) Some(s"lake holds $n rows, the pipeline kept $kept") else None,
      if (leaked > 0) Some(s"$leaked lake rows still carry a planted @corp.co.kr address") else None,
      if (urls != n) Some(s"${n - urls} duplicate urls in the lake") else None).flatten
  }

  /** Every lake text equals the plain-JVM `PiiDetector.scrub` of the kept
    * reference text with its url, and no url is on one side only. */
  private def scrubErrors(spark: SparkSession, lake: String, ref: String): Seq[String] = {
    val scrubbed = udf((s: String) => graft.core.PiiDetector.scrub(s))
    val src = spark.read.parquet(ref).filter(col("keep")).select(col("url"), col("text").as("src"))
    val bad = PageLake.read(spark, lake).join(src, Seq("url"), "full_outer")
      .filter(col("text").isNull || col("src").isNull || col("text") =!= scrubbed(col("src")))
      .count()
    if (bad > 0) Seq(s"$bad lake rows differ from PiiDetector.scrub of their source text") else Nil
  }

  /** Stage-prefix differences: each prefix forced twice to a noop sink,
    * best time kept; entry k is prefix k minus prefix k-1. */
  private def prefixCosts(prefixes: Seq[(String, DataFrame)]): Map[String, Double] = {
    def forced(df: DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val best = prefixes.map { case (n, df) => n -> math.min(forced(df), forced(df)) }
    best.sliding(2).collect { case Seq((_, a), (n, b)) => n -> (b - a) }.toMap
  }

  /** Seconds of one `PageLake.write` of already-materialized kept rows
    * (best of two). */
  private def writeSeconds(spark: SparkSession, fx: CrawlFx): Double = {
    val rows = PageLake.read(spark, fx.lake).drop("crawl_date", "url_bucket").localCheckpoint()
    val s = (0 until 2).map { i =>
      val t0 = System.nanoTime()
      PageLake.write(rows, s"${fx.dir}/write-$i")
      val dt = (System.nanoTime() - t0) / 1e9
      Harness.rmDir(s"${fx.dir}/write-$i")
      dt
    }
    rows.unpersist()
    s.min
  }
}
