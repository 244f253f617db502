package graft

import graft.pipeline.{Curation, QualityPipeline}
import graft.streaming.CurationStream
import org.scalatest.funsuite.AnyFunSuite

/** One value in use, one constant: a `Config` field exists only when two
  * live callers set it to different values (or it is the one way into a
  * tested behaviour). A value nothing varies is a named constant next to
  * its use. Pins each pipeline `Config`'s field names, so a new field is a
  * deliberate edit here. */
class ConfigFieldsSpec extends AnyFunSuite {

  private val pinned: Seq[(String, Product, Seq[String])] = Seq(
    ("QualityPipeline.Config", QualityPipeline.Config(),
      Seq("c4LineFilter", "gopherDupGates", "strictScrub", "justextByLang")),
    ("Curation.Config", Curation.Config(), Seq("maxCutRatio", "neardupThreshold")),
    ("CurationStream.Config", CurationStream.Config(), Seq("hostCapN", "skipSemantic")))

  test("each pipeline Config has only its pinned fields") {
    for ((name, cfg, fields) <- pinned) {
      val actual = cfg.productElementNames.toSeq
      assert(actual == fields,
        s"$name has fields ${actual.mkString(", ")}, pinned ${fields.mkString(", ")}. " +
          "A new field needs two live callers that set different values; " +
          "a value that nothing varies is a named constant next to its use.")
    }
  }
}
