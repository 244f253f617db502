package graft.functions

import graft.SparkSpecBase
import graft.filter.{BigramLM, QualityClassifier}
import graft.pipeline.QualityPipeline
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.functions._

/** Fused model_scores expression: EXACT (==) value parity with the separate
  * BigramLM.perplexity / QualityModel.score paths, and stage-level parity of
  * modelScoresStage with classifierStage∘perplexityStage. */
class ModelScoresSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet")
  private lazy val lm = BigramLM.fit(docs.select("text").as[String], maxVocab = 4096)
  private lazy val qm = QualityClassifier.fit(
    QualityClassifier.weakLabels(docs, col("doc_id"), col("text"))
      .select(col("text").as("_1"), col("y").as("_2")).as[(String, Double)],
    epochs = 10)

  test("expression == reference scorers, bit-exact, over the corpus + edges") {
    val edge = Seq("", "   ", "one", "one two", "tab\tsep  words",
      "café gärten 한국어 텍스트", "a " * 3000) // > 2000-token cap
    val rows = docs.select("text").as[String].collect().toSeq ++ edge
    val got = rows.toDF("text")
      .select(col("text"),
        ModelScoresExpression.model_scores(col("text"), lm, qm).as("ms"))
      .select(col("text"), col("ms.perplexity"), col("ms.quality"))
      .collect()
    for (r <- got) {
      val t = r.getString(0)
      assert(r.getDouble(1) == lm.perplexity(t), s"ppl drift on: ${t.take(60)}")
      assert(r.getDouble(2) == qm.score(t), s"quality drift on: ${t.take(60)}")
    }
  }

  test("fused stage equals the composed perplexity+classifier stages") {
    val pages = graft.pipeline.SyntheticPages.fromDocuments(spark, sfDir)
    val base = QualityPipeline.qualityStage(
      QualityPipeline.langIdStage(QualityPipeline.extract(pages)))
    // thresholds at the observed medians so BOTH drop reasons fire on the
    // fixture (the parity covers the reason-appending branches, not just
    // the pass-through)
    val scored = base.select(
      ModelScoresExpression.model_scores(col("text"), lm, qm).as("ms"))
      .select(col("ms.perplexity").as("p"), col("ms.quality").as("q"))
    val Array(maxPpl, minQ) = scored.stat
      .approxQuantile(Array("p", "q"), Array(0.5), 0.001).map(_.head)
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("url"), col("perplexity"), col("quality_score"),
        array_join(col("drop_reasons"), ",").as("reasons"), col("keep"))
      .collect().map(_.toString).sorted.toSeq
    val composed = canon(QualityPipeline.classifierStage(
      QualityPipeline.perplexityStage(base,
        spark.sparkContext.broadcast(lm), maxPpl),
      spark.sparkContext.broadcast(qm), minQ))
    val fused = canon(QualityPipeline.modelScoresStage(base, lm, qm, maxPpl, minQ))
    assert(fused == composed)
    // thresholds actually bite on this corpus (the parity is non-trivial)
    assert(composed.exists(_.contains("high_perplexity")) ||
      composed.exists(_.contains("low_quality_score")), "pick thresholds that fire")
  }

  test("model_scores struct is evaluated once per row in the fused stage plan") {
    val pages = graft.pipeline.SyntheticPages.fromDocuments(spark, sfDir)
    val base = QualityPipeline.qualityStage(
      QualityPipeline.langIdStage(QualityPipeline.extract(pages)))
    val plan = QualityPipeline.modelScoresStage(base, lm, qm, 5000.0, 0.5)
      .queryExecution.optimizedPlan
    val n = plan.collect { case node =>
      node.expressions.map(_.collect {
        case s: StaticInvoke if s.staticObject == ModelScoresExpression.getClass => s }.size).sum
    }.sum
    assert(n == 1, s"model_scores must appear exactly once in the plan, found $n")
  }
}
