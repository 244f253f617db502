package graft.pipeline

import graft.GraftSession
import graft.sources.PageLake
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The spark-submit entry for the full quality-filter + PII-scrub pipeline:
  *
  *   pages → [[QualityPipeline.run]] (extract → langid → quality
  *         → optional model gate → scrub)
  *         → checkpointed result stage (exact resume after failure)
  *         → kept-pages lake (date-partitioned parquet)
  *         → lineage + per-host metrics tables
  *
  * Usage: PipelineMain [sfDir] [outDir]. At cluster scale the same main runs
  * under spark-submit with the input path pointing at the crawl lake; here
  * pages are synthesized deterministically from the driver fixtures.
  *
  * Optional model gate ([[QualityPipeline.ModelGate]]; both models are fit
  * from the input corpus upstream of the one fused scoring pass, no
  * shuffle). Setting either variable fits both models; a threshold that is
  * not set is neutral (+∞ / −∞) and never drops a page:
  *   SPARK_GRAFT_MAX_PPL=<double>     drop pages above this KN perplexity
  *   SPARK_GRAFT_MIN_QUALITY=<double> drop pages under this classifier score
  */
object PipelineMain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.001")
    val outDir = args.lift(1).getOrElse("/tmp/graft_pipeline_out")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt, "graft-pipeline")
    run(spark, sfDir, outDir, sys.env.get("SPARK_GRAFT_MAX_PPL").map(_.toDouble),
      sys.env.get("SPARK_GRAFT_MIN_QUALITY").map(_.toDouble))
    spark.stop()
  }

  /** Runs the pipeline over `sfDir` into `outDir` and prints the summary
    * line; returns the checkpointed result stage. The checkpoint is keyed
    * on the input and on the gate's thresholds, so a rerun with another
    * gate recomputes it. */
  def run(spark: SparkSession, sfDir: String, outDir: String,
          maxPpl: Option[Double], minQ: Option[Double]): DataFrame = {
    import spark.implicits._
    val pages = SyntheticPages.fromDocuments(spark, sfDir)
    // lazy: a resumed checkpoint fits no model
    lazy val modelGate = if (maxPpl.isEmpty && minQ.isEmpty) None else {
      val lm = graft.filter.BigramLM.fit(pages.select("text").as[String])
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val qm = graft.filter.QualityClassifier.fit(
        graft.filter.QualityClassifier.weakLabels(docs, col("doc_id"), col("text"))
          .select(col("text").as("_1"), col("y").as("_2")).as[(String, Double)])
      Some(QualityPipeline.ModelGate(lm, qm, maxPpl.getOrElse(Double.PositiveInfinity),
        minQ.getOrElse(Double.NegativeInfinity)))
    }
    val gateKey = s"|max_ppl=${maxPpl.getOrElse("")}|min_quality=${minQ.getOrElse("")}"
    val result = QualityPipeline.checkpointStage(spark,
      QualityPipeline.run(pages, modelGate = modelGate),
      outDir, "scored", QualityPipeline.inputFingerprint(sfDir) + gateKey)

    // kept pages → partitioned lake (the pipeline's product)
    PageLake.write(
      result.filter(col("keep"))
        .select(col("url"), col("warc_ts"),
          encode(concat(lit("<html><body>"), col("text_scrubbed"), lit("</body></html>")), "UTF-8").as("html"),
          col("text_scrubbed").as("text"), col("lang_pred").as("lang")),
      s"$outDir/kept_pages")

    // lineage + metrics side-outputs
    QualityPipeline.lineage(result, "scored")
      .write.mode("overwrite").parquet(s"$outDir/lineage")
    QualityPipeline.hostRollup(result)
      .write.mode("overwrite").parquet(s"$outDir/host_metrics")

    val s = result.agg(
      count(lit(1)), sum(when(col("keep"), 1L).otherwise(0L)),
      sum(when(col("n_pii") > 0, 1L).otherwise(0L)), sum(col("n_pii"))).head()
    println(s"pages=${s.getLong(0)} kept=${s.getLong(1)} " +
      s"pii_pages=${s.getLong(2)} pii_items=${s.getLong(3)} out=$outDir")
    result
  }
}
