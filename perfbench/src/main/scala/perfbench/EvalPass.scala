package perfbench

import graft.core.PiiDetector
import graft.eval.{EvalHarness, MetricsEngine, Report}
import graft.model.TestCase

/** The `eval` layer, measured in every traced run: the seeded labeled
  * Korean corpus through `EvalHarness.evaluateRegex` → `Report.fromCases` +
  * `EvalHarness.splits` → summary JSON, once to warm up and once timed.
  * The timed pass is checked: Spark per-case tp/fp/fn per category equal a
  * single-thread `PiiDetector.detect` pass scored with the same metric code
  * against the generator's labels, and the summary totals match. */
object EvalPass {
  def measure(ctx: Ctx, corpus: KoreanCorpus.Corpus): (Map[String, Double], Seq[String]) = {
    val spark = ctx.spark
    import spark.implicits._
    val dir = s"${ctx.work}/eval_corpus"
    spark.createDataset(corpus.cases).repartition(4 * Main.Cores).write.mode("overwrite").parquet(dir)
    val times = scala.collection.mutable.Map.empty[String, Double]
    def evaluate(timed: Boolean) = {
      def step[A](name: String)(f: => A): A =
        if (!timed) f
        else {
          val t0 = System.nanoTime()
          val r = ctx.span(name)(f)
          times(name) = (System.nanoTime() - t0) / 1e9
          r
        }
      val scored = EvalHarness.evaluateRegex(spark.read.schema(TestCase.schema).parquet(dir).as[TestCase])
      val summary = step("eval.Report.fromCases")(Report.fromCases(scored))
      val splits = step("eval.EvalHarness.splits")(EvalHarness.splits(scored))
      (scored, summary, splits, (summary +: splits.toSeq.sortBy(_._1).map(_._2)).map(EvalHarness.summaryJson(_)))
    }
    evaluate(timed = false)
    Harness.clearCaches(spark)
    val (scored, summary, splits, json) = evaluate(timed = true)

    val cases = corpus.cases
    val local = cases.map { c =>
      MetricsEngine.computeMetrics(MetricsEngine.normalizeExpected(c.expected_pii.map(e => (e.`type`, e.value))),
        PiiDetector.detect(c.document_text).cats)
    }
    val bySpark = scored.collect().map(c => c.id -> c).toMap
    Harness.clearCaches(spark)
    val perCase = cases.indices.flatMap { i =>
      val m = local(i)
      bySpark.get(cases(i).id) match {
        case None => Seq(s"case ${cases(i).id} missing from the Spark result")
        case Some(s) if s.catTp != m.perCategory.map(_.tp) || s.catFp != m.perCategory.map(_.fp) ||
            s.catFn != m.perCategory.map(_.fn) =>
          Seq(s"case ${cases(i).id}: Spark tp/fp/fn differ from the single-thread pass")
        case _ => Nil
      }
    }.take(5)
    val d = summary.perDifficulty.values
    val easy = cases.count(_.difficulty == "EASY").toLong
    val totals = Seq(
      "total_cases" -> (summary.totalCases, cases.size.toLong),
      "perfect_cases" -> (summary.perfectCases, local.count(_.isPerfect).toLong),
      "tp" -> (d.map(_.tp).sum, local.map(_.totalTp.toLong).sum),
      "fp" -> (d.map(_.fp).sum, local.map(_.totalFp.toLong).sum),
      "fn" -> (d.map(_.fn).sum, local.map(_.totalFn.toLong).sum),
      "base_cases" -> (splits("base").totalCases, easy),
      "advanced_cases" -> (splits("advanced").totalCases, cases.size - easy))
    val bad = totals.collect { case (k, (a, b)) if a != b => s"eval summary $k: Spark $a, single-thread $b" }
    val malformed = if (json.forall(_.contains("\"total_cases\""))) Nil else Seq("eval summary JSON malformed")
    (Map("eval.score_s" -> times("eval.Report.fromCases"), "eval.splits_s" -> times("eval.EvalHarness.splits")),
      perCase ++ bad ++ malformed)
  }
}
