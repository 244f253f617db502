package graft.functions

import graft.SparkSpecBase
import graft.filter.{BigramLM, QualityClassifier}
import graft.pipeline.{QualityPipeline, SyntheticPages}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualTo, Expression, Literal, Rand, Size}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.functions._

/** PushFiltersThroughPinned: filters that read no pinned output sink below
  * the pinned projections; filters that do stay above them; projections
  * with other non-deterministic fields are left alone; and no pinned
  * expression is ever duplicated. */
class PushFiltersThroughPinnedSpec extends SparkSpecBase {

  private lazy val pages = SyntheticPages.fromDocuments(spark, sfDir)

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => conjuncts(a) ++ conjuncts(b)
    case other => Seq(other)
  }

  private def holdsDetector(plan: LogicalPlan): Boolean =
    plan.exists(_.expressions.exists(_.exists(_.isInstanceOf[PiiProcessExpression])))

  /** The keep conjunct: the attribute itself, or its definition
    * size(drop_reasons) = 0 once pushdown has substituted it. The pinned
    * drop_reasons array stays an attribute there. */
  private def isKeep(e: Expression): Boolean = e match {
    case a: AttributeReference => a.name == "keep"
    case EqualTo(Size(a: AttributeReference, _), Literal(0, _)) => a.name == "drop_reasons"
    case _ => false
  }

  /** Pinned children in the optimized plan, by class (a static kernel by
    * the object that holds it; the drop-reasons chain as `drop_reasons`),
    * with multiplicity. */
  private def pinnedCounts(df: DataFrame): Map[String, Int] =
    df.queryExecution.optimizedPlan
      .flatMap(_.expressions.flatMap(_.collect {
        case Pinned(s: StaticInvoke) => s.staticObject.getSimpleName.stripSuffix("$")
        case Pinned(e) if e.exists(_ == Literal("too_few_words")) => "drop_reasons"
        case Pinned(e) => e.getClass.getSimpleName
      }))
      .groupBy(identity).map { case (k, v) => k -> v.size }

  /** The pinned kernels, once the drop-reasons chain is found pinned
    * exactly once. */
  private def pinnedKernels(df: DataFrame): Map[String, Int] = {
    val counts = pinnedCounts(df)
    assert(counts.get("drop_reasons").contains(1), df.queryExecution.optimizedPlan.toString)
    counts - "drop_reasons"
  }

  test("a GraftSession serves the SQL PII functions and carries the pushdown rule") {
    val scrubbed = spark.sql(
      "SELECT scrub_pii('문의: kim.cs@corp.co.kr 주민등록번호 850315-1234567 끝') AS s")
      .head().getString(0)
    assert(scrubbed == "문의: [이메일] 주민등록번호 [주민등록번호] 끝")
    assert(spark.sql("SELECT detect_pii('연락처 010-1234-5678').`전화번호` AS p")
      .head().getSeq[String](0) == Seq("010-1234-5678"))
    assert(spark.sessionState.optimizer.extendedOperatorOptimizationRules
      .contains(PushFiltersThroughPinned))
  }

  test("a warc_ts predicate after run() reaches the parquet scan's PushedFilters") {
    val dir = java.nio.file.Files.createTempDirectory("pinned-scan").toString
    pages.write.mode("overwrite").parquet(dir)
    val cut = java.time.Instant.parse("2024-01-01T00:05:00Z")
    val df = QualityPipeline.run(spark.read.parquet(dir))
      .filter(col("warc_ts") > timestamp_seconds(lit(cut.getEpochSecond)))
    val plan = df.queryExecution.sparkPlan.toString
    assert("PushedFilters: \\[[^\\]]*GreaterThan\\(warc_ts".r.findFirstIn(plan).nonEmpty, plan)
    val expected = QualityPipeline.run(spark.read.parquet(dir)).collect()
      .count(_.getAs[java.sql.Timestamp]("warc_ts").toInstant.isAfter(cut))
    assert(df.count() == expected)
    assert(expected > 0 && expected < pages.count())
  }

  test("filter(n_pii > 0 && keep) splits: n_pii stays above the detector, keep goes below") {
    val df = QualityPipeline.run(pages).filter(col("n_pii") > 0 && col("keep"))
    val filters = df.queryExecution.optimizedPlan.collect { case f: Filter => f }
    val piiConjuncts = filters.filter(f => conjuncts(f.condition).exists(_.references.exists(_.name == "pp")))
    val keepFilters = filters.filter(f => conjuncts(f.condition).exists(isKeep))
    assert(piiConjuncts.nonEmpty && piiConjuncts.forall(f => holdsDetector(f.child)),
      df.queryExecution.optimizedPlan.toString)
    assert(keepFilters.nonEmpty && keepFilters.forall(f => !holdsDetector(f.child)),
      df.queryExecution.optimizedPlan.toString)
    val expected = QualityPipeline.run(pages).collect()
      .count(r => r.getAs[Int]("n_pii") > 0 && r.getAs[Boolean]("keep"))
    assert(df.count() == expected && expected > 0)
  }

  test("a projection holding a pinned expression and rand(7) keeps a pass-through filter above it") {
    def planOf(withRand: Boolean): LogicalPlan = {
      val extra = if (withRand) Seq(rand(7).as("r")) else Nil
      pages.select(Seq(col("url"), PiiFunctions.process_pii(col("text")).as("pp")) ++ extra: _*)
        .filter(col("url").startsWith("https://host-1"))
        .queryExecution.optimizedPlan
    }
    def filterBelowDetector(plan: LogicalPlan): Boolean = plan.exists {
      case p: Project if holdsDetector(p) => p.child.exists(_.isInstanceOf[Filter])
      case _ => false
    }
    val blocked = planOf(withRand = true)
    assert(blocked.exists(_.expressions.exists(_.exists(_.isInstanceOf[Rand]))))
    assert(!filterBelowDetector(blocked), blocked.toString)
    // without rand the same filter does sink below the detector
    val open = planOf(withRand = false)
    assert(filterBelowDetector(open), open.toString)
  }

  test("no pinned expression is duplicated by the keep filter (gopher gates, model scores)") {
    val gated = QualityPipeline.run(pages, QualityPipeline.Config(gopherDupGates = true))
      .filter(col("keep"))
    assert(pinnedKernels(gated) == Map("QualitySignalsFull" -> 1, "LangId" -> 1,
      "DupShapeSignals" -> 1, "PiiProcessExpression" -> 1),
      gated.queryExecution.optimizedPlan.toString)

    import spark.implicits._
    val texts = Seq("the quick brown fox jumps over the lazy dog",
      "buy now click here best price buy now", "a quiet harbor at dawn with fishing boats")
    val lm = BigramLM.fit(texts.toDS(), maxVocab = 64)
    val qm = QualityClassifier.fit(texts.zip(Seq(1.0, 0.0, 1.0)).toDS(), dim = 1 << 10, epochs = 2)
    val scored = QualityPipeline.modelScoresStage(
        QualityPipeline.qualityStage(QualityPipeline.langIdStage(QualityPipeline.extract(pages))),
        QualityPipeline.ModelGate(lm, qm, maxPerplexity = 1e9, minScore = 0.0))
      .filter(col("keep"))
    assert(pinnedKernels(scored) == Map("QualitySignalsFull" -> 1, "LangId" -> 1,
      "ModelScoresExpression" -> 1), scored.queryExecution.optimizedPlan.toString)
  }
}
