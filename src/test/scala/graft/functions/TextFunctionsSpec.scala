package graft.functions

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

class TextFunctionsSpec extends SparkSpecBase {
  import spark.implicits._

  test("bpe token count: contractions, words, numbers, punctuation") {
    val got = Seq("it's 2024, really!?", "hello world")
      .toDF("t").select(TextFunctions.bpeTokenCount($"t")).as[Int].collect()
    // it|'s| 2024|,| really|!?  → 6 ;  hello| world → 2
    assert(got.toSeq == Seq(6, 2))
  }

  test("winnow fingerprints: shift-invariant overlap for near-identical docs") {
    val base = "the quick brown fox jumps over the lazy dog and keeps running through the green forest"
    val shifted = "PREFIX added " + base
    val other = "completely different content about database engines and query optimizers at scale"
    val df = Seq((1L, base), (2L, shifted), (3L, other)).toDF("id", "t")
      .select($"id", QualityFunctions.winnow_fingerprint($"t", 8, 4).as("fp"))
    val fps = df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val simNear = fps(1L).intersect(fps(2L)).size.toDouble / fps(1L).union(fps(2L)).size
    val simFar = fps(1L).intersect(fps(3L)).size.toDouble / fps(1L).union(fps(3L)).size
    assert(simNear > 0.7, s"near=$simNear")
    assert(simFar < 0.1, s"far=$simFar")
    // deterministic
    val again = Seq((1L, base)).toDF("id", "t")
      .select(QualityFunctions.winnow_fingerprint($"t", 8, 4)).as[Seq[Long]].head()
    assert(again.toSet == fps(1L))
  }

  test("winnow fingerprints: short text yields empty or single fingerprint") {
    val got = Seq("ab", "exactly8", "a bit longer text")
      .toDF("t").select(QualityFunctions.winnow_fingerprint($"t", 8, 16)).as[Seq[Long]].collect()
    assert(got(0).isEmpty)        // shorter than k
    assert(got(1).length == 1)    // one k-gram → fallback single fingerprint
    assert(got(2).nonEmpty)
  }

  test("hash60 matches the DuckDB-portable definition") {
    // first 15 hex digits of md5("abc") = 900150983cd24fb → 648541476951500027... verified in DuckDB
    val got = Seq("abc").toDF("t").select(TextFunctions.hash60($"t")).as[Long].head()
    assert(got == java.lang.Long.parseLong("900150983cd24fb", 16))
  }

  test("lineShapeSignals: bullet and ellipsis line fractions (CRLF-safe)") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val df = Seq(
      (1L, "- one\n* two\n\u2022 three\nplain prose line"),
      (2L, "teaser cut short...\r\nfull sentence here.\nunicode ellipsis\u2026"),
      (3L, "no markers at all")
    ).toDF("id", "text")
    val out = df.select(col("id"), TextFunctions.lineShapeSignals(col("text")).as("s"))
      .select(col("id"), col("s.n_lines"), col("s.frac_bullet"), col("s.frac_ellipsis"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(out(1L) == (4, 0.75, 0.0))
    assert(out(2L) == (3, 0.0, 2.0 / 3))
    assert(out(3L) == (1, 0.0, 0.0))
  }
}
