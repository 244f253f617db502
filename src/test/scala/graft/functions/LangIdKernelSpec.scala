package graft.functions

import graft.SparkSpecBase
import org.apache.spark.sql.functions._
import org.scalacheck.{Arbitrary, Gen}
import org.scalacheck.rng.Seed

/** The `langid` kernel's confidence is a probability on any text: in
  * [0, 1] and never NaN. The quality stage therefore has no confidence
  * gate (a bar at 0 could never fire). NULL text gives a NULL struct. */
class LangIdKernelSpec extends SparkSpecBase {

  test("langid confidence is in [0, 1] and never NaN; NULL text gives NULL") {
    val s = spark
    import s.implicits._
    val edges = Seq("", " \t\n  ", "0123456789 42 7", "한국어 문서의 본문입니다 가나다",
      "The quick brown fox jumps over the lazy dog. " * 23000) // ~1 MB
    // a seeded ScalaCheck sample: arbitrary Unicode, ASCII, and word-like text
    val gen = Gen.oneOf(Arbitrary.arbitrary[String], Gen.asciiStr,
      Gen.listOf(Gen.alphaLowerStr).map(_.mkString(" ")))
    val sampled = Gen.listOfN(300, gen).pureApply(Gen.Parameters.default, Seed(20261021L))
    val texts = (edges ++ sampled).map(Option(_)) :+ None
    val rows = texts.toDF("t")
      .select(col("t"), QualityFunctions.langid(col("t")).as("lid"))
      .collect()
    assert(rows.length == texts.length)
    for (r <- rows) {
      if (r.isNullAt(0)) assert(r.isNullAt(1), "NULL text must give a NULL struct")
      else {
        val conf = r.getStruct(1).getDouble(1)
        assert(!conf.isNaN && conf >= 0.0 && conf <= 1.0,
          s"confidence $conf on ${r.getString(0).take(40)}")
      }
    }
  }
}
