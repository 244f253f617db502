package graft

import graft.functions.{CcnetNormalize, ExtractLinks, LuhnValid, PiiFunctions, QualityFunctions, RrnValid}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The spark.sql.extensions packaging: a session created with
  * `spark.sql.extensions=graft.GraftExtensions` exposes the engine's
  * functions to pure SQL (the spark-submit / thrift-server path). */
class GraftExtensionsSpec extends AnyFunSuite {

  private def withExtensions(body: SparkSession => Unit): Unit = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("ext-spec")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try body(spark) finally {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  test("extensions register detect/scrub/quality functions for SQL sessions") {
    withExtensions { spark =>
      val scrubbed = spark.sql(
        "SELECT scrub_pii('문의: kim.cs@corp.co.kr 주민등록번호 850315-1234567 끝') AS s")
        .head().getString(0)
      assert(scrubbed == "문의: [이메일] 주민등록번호 [주민등록번호] 끝")
      val detected = spark.sql(
        "SELECT detect_pii('연락처 010-1234-5678').`전화번호` AS p").head().getSeq[String](0)
      assert(detected == Seq("010-1234-5678"))
      val rep = spark.sql("SELECT repetition_ratio('a b a b a b') AS r").head().getDouble(0)
      assert(rep > 0.3)
      val lang = spark.sql("SELECT langid('the quick brown fox and the lazy dog of the north').lang AS l")
        .head().getString(0)
      assert(lang == "en")
      val ccnet = spark.sql("SELECT ccnet_normalize('Share on FACEBOOK - 1,234 Likes!!!') AS n")
        .head().getString(0)
      assert(ccnet == "share on facebook 0000 likes")
      assert(spark.sql("SELECT luhn_valid('4111-1111-1111-1111') AS v").head().getBoolean(0))
      assert(!spark.sql("SELECT luhn_valid('4111-1111-1111-1112') AS v").head().getBoolean(0))
      assert(spark.sql("SELECT rrn_valid('900101-1234568') AS v").head().getBoolean(0))
      assert(!spark.sql("SELECT rrn_valid('900101-1234567') AS v").head().getBoolean(0))
      assert(spark.sql("SELECT winnow_fingerprint('some reasonably long text for fingerprinting') AS f")
        .head().getSeq[Long](0).nonEmpty)
      assert(spark.sql("SELECT extract_links('<a href=/a>x</a><a href=\"/b\">y</a>') AS l")
        .head().getSeq[String](0) == Seq("/a", "/b"))
      val anchor = spark.sql(
        "SELECT extract_link_anchors('<a href=/a>one <b>two</b></a>')[0] AS p").head()
        .getStruct(0)
      assert(anchor.getString(0) == "/a" && anchor.getString(1) == "one two")
      // redundancy detector: looped boilerplate compresses far below prose
      val Seq(spam, prose) = Seq(
        "SELECT deflate_ratio(repeat('click here to win big prizes now ', 40)) AS r",
        "SELECT deflate_ratio('A quiet morning fog rolled over the harbor while fishermen argued about tides, gulls, rope prices, and the stubborn engine nobody could fix.') AS r")
        .map(q => spark.sql(q).head().getDouble(0))
      assert(spam < 0.15, s"boilerplate should compress hard: $spam")
      assert(prose > 0.5, s"prose should not: $prose")
      assert(spam < prose)
    }
  }

  test("a SQL kernel call names and computes its column exactly like the Column API") {
    withExtensions { spark =>
      import spark.implicits._
      val t = Seq(
        ("4111-1111-1111-1111", "문의: kim.cs@corp.co.kr 850315-1234567 Café — 1,234 Likes!",
          "<a href=/a>x</a><a href='/b'>y</a>"),
        ("900101-1234568", "e\u0301 plain text", "<p>none</p>"),
        (null, null, null)).toDF("card", "text", "html")
      t.createOrReplaceTempView("t")
      val cases: Seq[(String, Column)] = Seq(
        "luhn_valid(card)" -> LuhnValid.luhn_valid(col("card")),
        "rrn_valid(card)" -> RrnValid.rrn_valid(col("card")),
        "ccnet_normalize(text)" -> CcnetNormalize.ccnet_normalize(col("text")),
        "nfc_normalize(text)" -> QualityFunctions.nfc_normalize(col("text")),
        "extract_links(html)" -> ExtractLinks.extract_links(col("html")),
        "scrub_pii(text)" -> PiiFunctions.scrub_pii(col("text")))
      for ((call, column) <- cases) {
        val viaSql = spark.sql(s"SELECT $call FROM t")
        val viaApi = t.select(column)
        val field = viaApi.schema.head
        assert(viaSql.schema.map(f => (f.name, f.dataType, f.nullable)) ==
          Seq((call, field.dataType, field.nullable)), call)
        assert(field.name == call)
        assert(viaSql.collect().toSeq == viaApi.collect().toSeq, call)
      }
    }
  }
}
