package graft.functions

import graft.SparkSpecBase
import graft.core.PiiCategories
import graft.filter.{BigramLM, QualityModel}
import graft.operators.BpeVocab
import org.apache.spark.sql.{AnalysisException, Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** The per-row kernel surface: every kernel built through [[StaticKernel]],
  * and [[PiiProcessExpression]], keeps the column name, data type and
  * nullability it had as a hand-written expression class, plans its
  * projection inside a WholeStageCodegen stage over a multi-file parquet
  * scan (so object parameters — models, stopword sets, a broadcast — go
  * through task serialization), computes the same values generated and
  * interpreted, and rejects a wrong-typed argument at analysis. */
class StaticKernelSpec extends SparkSpecBase {

  private val text1 = "Share on FACEBOOK - 1,234 Likes! café cafÃ© â€” 문의: kim.cs@corp.co.kr " +
    "010-1234-5678 카드 4111-1111-1111-1112 the quick brown fox the quick brown fox #x …"

  private lazy val parquet: DataFrame = {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("static-kernel-spec").resolve("t").toString
    Seq(
      (1, Some(text1),
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
      .repartitionByRange(3, col("id")).write.parquet(dir)
    spark.read.parquet(dir)
  }

  private val lm = BigramLM(Map("the" -> 4L, "quick" -> 2L, "brown" -> 2L, "fox" -> 2L),
    Map(("the", "quick") -> 2L, ("quick", "brown") -> 2L, ("brown", "fox") -> 2L),
    Map("quick" -> 1, "brown" -> 1, "fox" -> 1), Map("the" -> 1, "quick" -> 1, "brown" -> 1),
    totalUnigrams = 10L, bigramTypes = 3L, discount = 0.75)
  private val qm = QualityModel(8, Array.tabulate(8)(i => i * 0.25f - 1f), 0.1f)
  private val bpe = BpeVocab.Model(Seq(BpeVocab.Merge(0, "t", "h", 2L),
    BpeVocab.Merge(1, "th", "e</w>", 2L), BpeVocab.Merge(2, "q", "u", 1L)))
  /** One filter holding row 1's text: it probes true, row 2 false, NULL false. */
  private lazy val filters = {
    val bf = BloomFilter.create(16, 0.01)
    bf.putLong(XXH64.hashUTF8String(UTF8String.fromString(text1), 42L))
    spark.sparkContext.broadcast(Array(bf))
  }

  private val longs = ArrayType(LongType, containsNull = false)
  private val processed = StructType(Seq(StructField("text_scrubbed", StringType, nullable = false),
    StructField("n_pii", IntegerType, nullable = false)))

  /** (column, auto-generated name, data type, nullable) as the expression
    * classes these kernels replaced reported them. A non-nullable kernel
    * maps NULL to the empty array or to false. */
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
    (PiiFunctions.scrub_pii_strict(col("text")), "scrub_pii_strict(text)", StringType, true),
    (QualityFunctions.langid(col("text")), "langid(text)",
      StructType(Seq(StructField("lang", StringType, nullable = false),
        StructField("confidence", DoubleType, nullable = false))), true),
    (ModelScoresExpression.model_scores(col("text"), lm, qm), "model_scores(text)",
      StructType(Seq(StructField("perplexity", DoubleType, nullable = false),
        StructField("quality", DoubleType, nullable = false))), true),
    (BpeEncodeExpression.bpe_encode(col("text"), bpe), "bpe_encode(text)",
      ArrayType(StringType, containsNull = false), true),
    (MinHashFunctions.minhash_sigs(col("text")), "minhash_sigs(text)", longs, true),
    (SignLshFunctions.sign_lsh_buckets(col("f"), 3, 4, 2), "sign_lsh_buckets(f)", longs, true),
    (HtmlFunctions.justext_extract(col("html")), "justext_extract(html)", StringType, true),
    (HtmlFunctions.justext_extract(col("html"), JusTextStopwords.en), "justext_extract(html)",
      StringType, true),
    (BloomMightContainSharded.might_contain_sharded(col("text"), filters),
      "might_contain_sharded(text)", BooleanType, false),
    (PiiFunctions.process_pii(col("text")), "process_pii(text)", processed, true),
    (PiiFunctions.process_pii_strict(col("text")), "process_pii_strict(text)", processed, true))

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  for (((kernel, name, dataType, nullable), i) <- kernels.zipWithIndex) {
    val variant = kernels.take(i).count(_._2 == name)
    test(s"$name${if (variant > 0) s" #${variant + 1}" else ""}: name, type and nullability kept; " +
        "planned inside WholeStageCodegen") {
      val df = parquet.select(kernel)
      assert(df.schema.fields.toSeq == Seq(StructField(name, dataType, nullable)))
      assert(parquet.rdd.getNumPartitions > 1)

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
      else if (dataType == BooleanType) assert(nullRow == false, s"$name(NULL) must be false")
      else assert(nullRow == Seq.empty, s"$name(NULL) must be the empty array")
    }
  }

  /** The kernels wrapped in [[Pinned]]: the only non-deterministic ones. */
  private val pinnedNames = Set("sorted_intersect_count(a, b)", "cosine_sim(x, y)",
    "cosine_sim(f, y)", "ccnet_normalize(text)", "quality_signals_full(text)",
    "dup_shape_signals(text)", "langid(text)", "model_scores(text)", "minhash_sigs(text)",
    "process_pii(text)", "process_pii_strict(text)")

  test("pinned kernels are non-deterministic in the optimized plan; the others stay deterministic") {
    def projected(c: Column) = parquet.select(c).queryExecution.optimizedPlan
      .collectFirst { case p: org.apache.spark.sql.catalyst.plans.logical.Project => p }
      .get.projectList.head
    for ((kernel, name, _, _) <- kernels) {
      val p = projected(kernel)
      assert(p.deterministic == !pinnedNames(name), s"$name: $p")
      assert(p.exists(_.isInstanceOf[Pinned]) == pinnedNames(name), s"$name: $p")
    }
  }

  test("a wrong-typed argument fails at analysis, before any job runs") {
    val s = spark
    import s.implicits._
    val strings = Seq((Seq("a"), Seq("b"))).toDF("p", "q")
    val bigints = Seq(Seq(4111L)).toDF("card")
    val doubles = Seq(Seq(0.5, -1.0, 2.0), Seq(-0.25, 0.75, 1.5)).toDF("v")
    def lsh(c: Column) = SignLshFunctions.sign_lsh_buckets(c, 3, 4, 3)
    val group = "static-kernel-type-check"
    spark.sparkContext.setJobGroup(group, group)
    try {
      val cases: Seq[(String, () => DataFrame)] = Seq(
        "sorted_intersect_count" -> (() =>
          strings.select(SortedIntersectFunctions.sorted_intersect_count(col("p"), col("q")))),
        "cosine_sim" -> (() => strings.select(CosineFunctions.cosine_sim(col("p"), col("q")))),
        "luhn_valid" -> (() => bigints.select(LuhnValid.luhn_valid(col("card")))),
        "langid" -> (() => strings.select(QualityFunctions.langid(col("p")))),
        "justext_extract" -> (() => strings.select(HtmlFunctions.justext_extract(col("p")))),
        "bpe_encode" -> (() => strings.select(BpeEncodeExpression.bpe_encode(col("p"), bpe))))
      for ((fn, build) <- cases) {
        val e = intercept[AnalysisException](build())
        assert(e.getCondition == "DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE", s"$fn: ${e.getMessage}")
      }
      assert(spark.sparkContext.statusTracker.getJobIdsForGroup(group).isEmpty)
    } finally spark.sparkContext.clearJobGroup()
    // sign_lsh_buckets reads array<float>: an array<double> column is cast
    // to it at analysis, so the kernel never reads raw double bits
    assert(doubles.select(lsh(col("v"))).collect().toSeq ==
      doubles.select(lsh(col("v").cast("array<float>"))).collect().toSeq)
  }
}
