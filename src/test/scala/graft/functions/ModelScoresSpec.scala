package graft.functions

import graft.SparkSpecBase
import graft.filter.{BigramLM, QualityClassifier}
import graft.pipeline.QualityPipeline
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.functions._

/** Fused model_scores expression: EXACT (==) value parity with the separate
  * BigramLM.perplexity / QualityModel.score paths, and stage-level parity of
  * modelScoresStage with those scorers and its gate rule applied per row on
  * the driver. */
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

  test("fused stage equals the driver-side scorers under the same gate rule") {
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
    val fused = QualityPipeline.modelScoresStage(base.withColumn("reasons0",
        col("drop_reasons")), QualityPipeline.ModelGate(lm, qm, maxPpl, minQ))
      .select(col("url"), col("text"), col("reasons0"), col("perplexity"),
        col("quality_score"), col("drop_reasons"), col("keep"))
      .collect()
    for (r <- fused) {
      val t = r.getString(1)
      val (ppl, q) = (lm.perplexity(t), qm.score(t))
      // gate: append the reason where the threshold is crossed (set union)
      val withPpl =
        if (ppl > maxPpl) (r.getSeq[String](2) :+ "high_perplexity").distinct else r.getSeq[String](2)
      val reasons = if (q < minQ) (withPpl :+ "low_quality_score").distinct else withPpl
      assert((r.getDouble(3), r.getDouble(4)) == ((ppl, q)), r.getString(0))
      assert(r.getSeq[String](5) == reasons, r.getString(0))
      assert(r.getBoolean(6) == reasons.isEmpty, r.getString(0))
    }
    // thresholds actually bite on this corpus (the parity is non-trivial)
    assert(fused.exists(_.getSeq[String](5).contains("high_perplexity")) &&
      fused.exists(_.getSeq[String](5).contains("low_quality_score")), "pick thresholds that fire")
  }

  test("model_scores struct is evaluated once per row in the fused stage plan") {
    val pages = graft.pipeline.SyntheticPages.fromDocuments(spark, sfDir)
    val base = QualityPipeline.qualityStage(
      QualityPipeline.langIdStage(QualityPipeline.extract(pages)))
    val plan = QualityPipeline.modelScoresStage(base, QualityPipeline.ModelGate(lm, qm, 5000.0, 0.5))
      .queryExecution.optimizedPlan
    val n = plan.collect { case node =>
      node.expressions.map(_.collect {
        case s: StaticInvoke if s.staticObject == ModelScoresExpression.getClass => s }.size).sum
    }.sum
    assert(n == 1, s"model_scores must appear exactly once in the plan, found $n")
  }
}
