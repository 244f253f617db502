package graft.model

/** Labeled test-case row (reference corpus schema,
  * /root/reference/pii_test_cases.py:22-29; see FIXTURES.md §1). */
final case class ExpectedItem(`type`: String, value: String)

final case class TestCase(
    id: String,
    category: String,
    difficulty: String,
    intent: String,
    document_text: String,
    expected_pii: Seq[ExpectedItem],
    false_positive_note: Option[String])

object TestCase {
  import org.apache.spark.sql.types._
  /** Explicit schema (field order as in the corpus files) — avoids schema
    * inference scans and pins expected_pii's element-struct order. */
  val schema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("category", StringType),
    StructField("difficulty", StringType),
    StructField("intent", StringType),
    StructField("document_text", StringType),
    StructField("expected_pii", ArrayType(StructType(Seq(
      StructField("type", StringType),
      StructField("value", StringType))))),
    StructField("false_positive_note", StringType)))
}

/** Detection-result struct: one nullable array field per canonical category,
  * Korean field names matching the reference's output schema
  * (regex_pii_detector.py:179-184). null = nothing detected (≠ empty). */
final case class PiiStruct(
    이름: Seq[String], 주소: Seq[String], 주민등록번호: Seq[String],
    여권번호: Seq[String], 운전면허번호: Seq[String], 이메일: Seq[String],
    IP주소: Seq[String], 전화번호: Seq[String], 계좌번호: Seq[String],
    카드번호: Seq[String], 생년월일: Seq[String], 기타_고유식별정보: Seq[String]) {
  def toArray: Array[List[String]] = Array(
    nl(이름), nl(주소), nl(주민등록번호), nl(여권번호), nl(운전면허번호), nl(이메일),
    nl(IP주소), nl(전화번호), nl(계좌번호), nl(카드번호), nl(생년월일), nl(기타_고유식별정보))
  @inline private def nl(s: Seq[String]): List[String] = if (s == null) null else s.toList
}
