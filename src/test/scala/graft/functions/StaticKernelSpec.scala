package graft.functions

import graft.SparkSpecBase
import graft.core.PiiCategories
import org.apache.spark.sql.{AnalysisException, Column, DataFrame}
import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The static-kernel surface: every kernel built through [[StaticKernel]]
  * keeps the column name, data type and nullability it had as a
  * hand-written expression class, plans its projection inside a
  * WholeStageCodegen stage over a parquet scan, computes the same values
  * generated and interpreted, and rejects a wrong-typed argument at
  * analysis. */
class StaticKernelSpec extends SparkSpecBase {

  private lazy val parquet: DataFrame = {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("static-kernel-spec").resolve("t").toString
    Seq(
      (1, Some("Share on FACEBOOK - 1,234 Likes! café cafÃ© â€” 문의: kim.cs@corp.co.kr " +
        "010-1234-5678 카드 4111-1111-1111-1112 the quick brown fox the quick brown fox #x …"),
        Some("<a href=/a>one <b>two</b></a> <A HREF='/b?q=1'>x</A>"),
        Some("User-agent: *\nDisallow: /private\nAllow: /private/ok"),
        Some("http://h.example/private/x"), Some("4111-1111-1111-1111"),
        Some(Seq(1L, 2L, 3L)), Some(Seq(2L, 3L, 4L)),
        Some(Seq(1.0, 2.0)), Some(Seq(0.5, 0.25)), Some(Seq(1.5f, 2.5f))),
      (2, Some("é plain   text\twith\ttabs ... and a\nsecond line"), Some("<p>none</p>"),
        Some(""), Some("/private"), Some("900101-1234568"),
        Some(Seq.empty[Long]), Some(Seq(5L)), Some(Seq(1.0)), Some(Seq(1.0, 2.0)), Some(Seq(1f))),
      (3, None, None, None, None, None, None, None, None, None, None)
    ).toDF("id", "text", "html", "robots", "url", "card", "a", "b", "x", "y", "f")
      .coalesce(1).write.parquet(dir)
    spark.read.parquet(dir)
  }

  private val longs = ArrayType(LongType, containsNull = false)

  /** (column, auto-generated name, data type, nullable) as the expression
    * classes these kernels replaced reported them. */
  private def kernels: Seq[(Column, String, DataType, Boolean)] = Seq(
    (SortedIntersectFunctions.sorted_intersect_count(col("a"), col("b")),
      "sorted_intersect_count(a, b)", IntegerType, true),
    (CosineFunctions.cosine_sim(col("x"), col("y")), "cosine_sim(x, y)", DoubleType, true),
    (CosineFunctions.cosine_sim(col("f"), col("y")), "cosine_sim(f, y)", DoubleType, true),
    (GramHash60Functions.gram_hash60s(col("text"), 3), "gram_hash60s(text)", longs, false),
    (ShingleHashesFunctions.shingle_hashes(col("text")), "shingle_hashes(text)", longs, false),
    (SimHashFunctions.simhash60(col("text")), "simhash60(text)", LongType, true),
    (LuhnValid.luhn_valid(col("card")), "luhn_valid(card)", BooleanType, true),
    (RrnValid.rrn_valid(col("card")), "rrn_valid(card)", BooleanType, true),
    (CcnetNormalize.ccnet_normalize(col("text")), "ccnet_normalize(text)", StringType, true),
    (QualityFunctions.nfc_normalize(col("text")), "nfc_normalize(text)", StringType, true),
    (QualityFunctions.deflate_ratio(col("text")), "deflate_ratio(text)", DoubleType, true),
    (QualityFunctions.repetition_ratio(col("text"), 2), "repetition_ratio_2(text)",
      DoubleType, true),
    (QualityFunctions.winnow_fingerprint(col("text")), "winnow_fingerprint(text)", longs, true),
    (QualityFunctions.quality_signals(col("text")), "quality_signals(text)",
      StructType(Seq("n_words", "n_chars", "n_symbols", "n_alpha_words")
        .map(StructField(_, IntegerType, nullable = false))), true),
    (QualityFunctions.quality_signals_full(col("text")), "quality_signals_full(text)",
      StructType(Seq("n_words", "n_chars", "n_symbols", "n_alpha_words")
        .map(StructField(_, IntegerType, nullable = false)) ++
        Seq(StructField("rep2", DoubleType, nullable = false)) ++
        Seq("n_lines", "n_bullet", "n_ellipsis")
          .map(StructField(_, IntegerType, nullable = false))), true),
    (QualityFunctions.dup_shape_signals(col("text")), "dup_shape_signals(text)",
      StructType(Seq("n_lines" -> IntegerType, "dup_lines" -> IntegerType,
        "line_chars" -> LongType, "dup_line_chars" -> LongType,
        "n_paras" -> IntegerType, "dup_paras" -> IntegerType,
        "para_chars" -> LongType, "dup_para_chars" -> LongType)
        .map { case (n, t) => StructField(n, t, nullable = false) }), true),
    (FixMojibake.fix_mojibake(col("text")), "fix_mojibake(text)", StringType, true),
    (ExtractLinks.extract_links(col("html")), "extract_links(html)",
      ArrayType(StringType, containsNull = false), true),
    (ExtractLinks.extract_link_anchors(col("html")), "extract_link_anchors(html)",
      ArrayType(StructType(Seq(StructField("href", StringType, nullable = false),
        StructField("anchor", StringType, nullable = false))), containsNull = false), true),
    (RobotsAllowed.robots_allowed(col("robots"), col("url")), "robots_allowed(robots, url)",
      BooleanType, true),
    (PiiFunctions.detect_pii(col("text")), "detect_pii(text)",
      StructType(PiiCategories.names.map(
        StructField(_, ArrayType(StringType, containsNull = false), nullable = true))), true),
    (PiiFunctions.scrub_pii(col("text")), "scrub_pii(text)", StringType, true),
    (PiiFunctions.scrub_pii_strict(col("text")), "scrub_pii_strict(text)", StringType, true))

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  for ((kernel, name, dataType, nullable) <- kernels) {
    test(s"$name: name, type and nullability kept; planned inside WholeStageCodegen") {
      val df = parquet.select(kernel)
      assert(df.schema.fields.toSeq == Seq(StructField(name, dataType, nullable)))

      val plan = df.queryExecution.executedPlan
      val projects = plan.collect { case p: ProjectExec => p }
      val staged = plan.collect { case w: WholeStageCodegenExec =>
        w.child.collect { case p: ProjectExec => p }
      }.flatten
      assert(projects.nonEmpty && projects.forall(p => staged.exists(_ eq p)),
        s"$name's projection fell out of WholeStageCodegen:\n$plan")

      // generated code must compile (no silent fallback to interpretation),
      // and agree with StaticInvoke's interpreted path row for row
      def rows() = parquet.select(col("id"), kernel).collect().sortBy(_.getInt(0)).toSeq
      val generated = withConf("spark.sql.codegen.fallback" -> "false")(rows())
      val interpreted = withConf("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(rows())
      assert(generated.map(_.toString) == interpreted.map(_.toString))
      val nullRow = generated.last.get(1)
      if (nullable) assert(nullRow == null, s"$name(NULL) must be NULL")
      else assert(nullRow == Seq.empty, s"$name(NULL) must be the empty array")
    }
  }

  /** The kernels wrapped in [[Pinned]]: the only non-deterministic ones. */
  private val pinnedNames = Set("sorted_intersect_count(a, b)", "cosine_sim(x, y)",
    "cosine_sim(f, y)", "ccnet_normalize(text)", "quality_signals_full(text)",
    "dup_shape_signals(text)")

  test("pinned kernels are non-deterministic in the optimized plan; the others stay deterministic") {
    def projected(c: Column) = parquet.select(c).queryExecution.optimizedPlan
      .collectFirst { case p: org.apache.spark.sql.catalyst.plans.logical.Project => p }
      .get.projectList.head
    for ((kernel, name, _, _) <- kernels)
      assert(projected(kernel).deterministic == !pinnedNames(name), s"$name: ${projected(kernel)}")
    val text = col("text")
    for (c <- Seq(PiiFunctions.process_pii(text), PiiFunctions.process_pii_strict(text),
                  QualityFunctions.langid(text), MinHashFunctions.minhash_sigs(text))) {
      val p = projected(c)
      assert(!p.deterministic && p.collectFirst { case k: Pinned => k }.nonEmpty, p.toString)
    }
  }

  test("a wrong-typed argument fails at analysis, before any job runs") {
    val s = spark
    import s.implicits._
    val strings = Seq((Seq("a"), Seq("b"))).toDF("p", "q")
    val bigints = Seq(Seq(4111L)).toDF("card")
    val group = "static-kernel-type-check"
    spark.sparkContext.setJobGroup(group, group)
    try {
      val cases: Seq[(String, () => DataFrame)] = Seq(
        "sorted_intersect_count" -> (() =>
          strings.select(SortedIntersectFunctions.sorted_intersect_count(col("p"), col("q")))),
        "cosine_sim" -> (() => strings.select(CosineFunctions.cosine_sim(col("p"), col("q")))),
        "luhn_valid" -> (() => bigints.select(LuhnValid.luhn_valid(col("card")))))
      for ((fn, build) <- cases) {
        val e = intercept[AnalysisException](build())
        assert(e.getCondition == "DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE", s"$fn: ${e.getMessage}")
      }
      assert(spark.sparkContext.statusTracker.getJobIdsForGroup(group).isEmpty)
    } finally spark.sparkContext.clearJobGroup()
  }
}
