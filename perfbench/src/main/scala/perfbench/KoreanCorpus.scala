package perfbench

import graft.model.{ExpectedItem, TestCase}

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** Seeded, labeled Korean PII corpus in the reference corpus schema.
  *
  * Every document is built from templates, and its expected labels are the
  * values the generator inserted — they never come from the detector. The
  * mix is stratified, so every seed gives the same shape:
  *  - each of the 12 categories is the primary category of an equal share
  *    of documents;
  *  - EASY / MEDIUM / HARD documents are 40 / 35 / 25 %;
  *  - HARD documents add near misses the labels exclude: checksum-invalid
  *    resident and card numbers, role mailboxes, well-known resolver IPs and
  *    private IPs in a CIDR context; masked forms are labeled;
  *  - exactly `longTokenShare` of documents paste one opaque base64-like run
  *    (500 to 1,000 characters, evenly spread) right before an email — the
  *    input on which the email scan is quadratic.
  * The seed decides values, templates, which documents are which, and
  * document order.
  */
object KoreanCorpus {
  val Difficulties: Seq[(String, Double)] = Seq("EASY" -> 0.40, "MEDIUM" -> 0.35, "HARD" -> 0.25)
  /** Corpus size of `pii_eval` and of the single-thread detector figure. */
  val BenchDocs = 2000
  val LongTokenMin = 500
  val LongTokenMax = 1000

  final case class Corpus(cases: IndexedSeq[TestCase], longToken: Set[String])

  private val surnames = Vector("김", "이", "박", "최", "정", "강", "조", "윤", "장", "임", "한", "오")
  private val givenNames = Vector("민수", "서연", "지훈", "하은", "도윤", "수빈", "예준", "지아",
    "현우", "유진", "성민", "다은")
  private val nameLabels = Vector("성명", "이름", "담당자", "신청자", "작성자", "보호자", "계약자")
  private val cities = Vector("서울특별시" -> Vector("강남구", "마포구", "종로구", "송파구"),
    "부산광역시" -> Vector("해운대구", "수영구", "동래구"),
    "대구광역시" -> Vector("수성구", "달서구"),
    "인천광역시" -> Vector("연수구", "남동구"))
  private val roads = Vector("테헤란로", "월드컵로", "중앙대로", "해운대로", "달구벌대로", "컨벤시아대로")
  private val banks = Vector("국민", "신한", "우리", "하나", "농협", "기업", "카카오")
  private val domains = Vector("corp.co.kr", "mail.kr", "company.kr", "service.co.kr")
  private val userParts = Vector("minsu", "seoyeon", "jihoon", "haeun", "doyun", "sales", "hr.team", "dev")
  private val fillers = Vector(
    "본 문서는 고객 지원 요청에 관한 내부 기록입니다.",
    "처리 결과는 담당 부서에서 검토 후 회신할 예정입니다.",
    "자세한 내용은 첨부 파일을 참고하시기 바랍니다.",
    "요청하신 자료를 아래와 같이 정리하였습니다.",
    "개인정보는 관련 법령에 따라 안전하게 관리됩니다.",
    "회의 일정은 다음 주 화요일로 변경되었습니다.",
    "신규 시스템 전환 작업이 이번 분기에 완료됩니다.",
    "문의 사항이 있으면 언제든지 연락 주시기 바랍니다.",
    "이전 요청과 중복되는 항목은 제외하였습니다.",
    "검토 의견은 다음 회의 전까지 공유해 주세요.")

  private final case class Item(text: String, label: Option[(String, String)])

  private def digits(r: Random, n: Int): String = Seq.fill(n)(r.nextInt(10)).mkString
  private def pick[A](r: Random, v: IndexedSeq[A]): A = v(r.nextInt(v.length))

  private def rrnCheck(d12: String): Int = {
    val w = Array(2, 3, 4, 5, 6, 7, 8, 9, 2, 3, 4, 5)
    (11 - d12.indices.map(i => (d12(i) - '0') * w(i)).sum % 11) % 10
  }

  private def rrn(r: Random, valid: Boolean): String = {
    val front = f"${70 + r.nextInt(30)}%02d${1 + r.nextInt(12)}%02d${1 + r.nextInt(28)}%02d"
    val back = s"${1 + r.nextInt(4)}${digits(r, 5)}"
    val c = rrnCheck(front + back)
    s"$front-$back${if (valid) c else (c + 1 + r.nextInt(9)) % 10}"
  }

  private def luhnCheck(d15: String): Int = {
    val sum = d15.reverse.zipWithIndex.map { case (ch, i) =>
      val d = ch - '0'
      if (i % 2 == 0) { val x = d * 2; if (x > 9) x - 9 else x } else d
    }.sum
    (10 - sum % 10) % 10
  }

  private def card(r: Random, valid: Boolean): String = {
    val d15 = "4" + digits(r, 14)
    val c = luhnCheck(d15)
    (d15 + (if (valid) c else (c + 1 + r.nextInt(9)) % 10)).grouped(4).mkString("-")
  }

  private def name(r: Random) = pick(r, surnames) + pick(r, givenNames)

  /** One labeled value of category `cat` (PiiCategories order) inside a
    * short Korean clause. */
  private def positive(r: Random, cat: Int): Item = cat match {
    case 0 =>
      val n = name(r); Item(s"${pick(r, nameLabels)}: $n, 확인 바랍니다.", Some("이름" -> n))
    case 1 =>
      val (city, gus) = pick(r, cities)
      val a = s"$city ${pick(r, gus)} ${pick(r, roads)} ${1 + r.nextInt(400)}"
      Item(s"주소는 $a 입니다.", Some("주소" -> a))
    case 2 =>
      val v = rrn(r, valid = true); Item(s"주민등록번호 $v 로 조회하였습니다.", Some("주민등록번호" -> v))
    case 3 =>
      val v = s"M${digits(r, 8)}"; Item(s"여권번호 $v 를 확인했습니다.", Some("여권번호" -> v))
    case 4 =>
      val v = f"${11 + r.nextInt(18)}%02d-${digits(r, 2)}-${digits(r, 6)}-${digits(r, 2)}"
      Item(s"운전면허번호 $v 가 등록되어 있습니다.", Some("운전면허번호" -> v))
    case 5 =>
      val v = s"${pick(r, userParts)}${r.nextInt(100)}@${pick(r, domains)}"
      Item(s"회신 주소는 $v 입니다.", Some("이메일" -> v))
    case 6 =>
      val v = s"${11 + r.nextInt(180)}.${r.nextInt(256)}.${r.nextInt(256)}.${1 + r.nextInt(254)}"
      Item(s"접속 IP $v 에서 요청이 들어왔습니다.", Some("IP주소" -> v))
    case 7 =>
      val v = s"010-${digits(r, 4)}-${digits(r, 4)}"; Item(s"연락처 $v 로 전화 주세요.", Some("전화번호" -> v))
    case 8 =>
      val v = s"${digits(r, 3)}-${digits(r, 3)}-${digits(r, 6)}"
      Item(s"${pick(r, banks)}은행 $v 으로 입금 바랍니다.", Some("계좌번호" -> v))
    case 9 =>
      val v = card(r, valid = true); Item(s"결제 카드 $v 로 승인되었습니다.", Some("카드번호" -> v))
    case 10 =>
      val v = f"${1960 + r.nextInt(45)}-${1 + r.nextInt(12)}%02d-${1 + r.nextInt(28)}%02d"
      Item(s"생년월일: $v 입니다.", Some("생년월일" -> v))
    case _ =>
      val v = s"${2015 + r.nextInt(10)}-${digits(r, 5)}"; Item(s"사번: $v 으로 등록되었습니다.", Some("기타_고유식별정보" -> v))
  }

  /** A HARD-only variant of category `cat`: masked (labeled) or a near
    * miss (unlabeled). */
  private def hardVariant(r: Random, cat: Int): Item = cat match {
    case 2 => Item(s"참고 번호 ${rrn(r, valid = false)} 는 검증에 실패했습니다.", None)
    case 5 =>
      if (r.nextBoolean()) Item(s"문의는 ${pick(r, Vector("info", "support", "admin"))}@${pick(r, domains)} 로 보내 주세요.", None)
      else { val v = s"${('a' + r.nextInt(26)).toChar}***@${pick(r, domains)}"; Item(s"마스킹 주소 $v 입니다.", Some("이메일" -> v)) }
    case 6 =>
      if (r.nextBoolean()) Item(s"DNS 서버는 ${pick(r, Vector("8.8.8.8", "1.1.1.1", "9.9.9.9"))} 를 사용합니다.", None)
      else Item(s"사내 대역 10.${r.nextInt(256)}.0.0/16 할당 완료.", None)
    case 7 =>
      val v = s"010-****-${digits(r, 4)}"; Item(s"마스킹 연락처 $v 입니다.", Some("전화번호" -> v))
    case 9 => Item(s"테스트 카드 ${card(r, valid = false)} 는 거절되었습니다.", None)
    case _ => positive(r, cat)
  }

  private def base64Run(r: Random, n: Int): String = {
    val alphabet = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789+"
    val sb = new StringBuilder(n)
    var i = 0
    while (i < n) { sb.append(alphabet.charAt(r.nextInt(alphabet.length))); i += 1 }
    sb.toString
  }

  def generate(seed: Long, n: Int, longTokenShare: Double = 0.005): Corpus = {
    val r = new Random(seed)
    val cats = graft.core.PiiCategories.names
    // stratified assignments, shuffled by the seed
    val primary = r.shuffle((0 until n).map(_ % cats.length))
    val counts = Difficulties.map { case (d, p) => d -> math.round(n * p).toInt }
    val diffs = r.shuffle(counts.flatMap { case (d, k) => Seq.fill(k)(d) }
      .padTo(n, Difficulties.head._1).take(n))
    val nLong = math.max(1, math.round(n * longTokenShare).toInt)
    val longIdx = r.shuffle((0 until n).toVector).take(nLong).zipWithIndex.map { case (doc, k) =>
      doc -> (LongTokenMin + (LongTokenMax - LongTokenMin) * k / math.max(1, nLong - 1))
    }.toMap
    val cases = (0 until n).map { i =>
      val cat = primary(i)
      val diff = diffs(i)
      val items = ArrayBuffer(positive(r, cat))
      if (diff != "EASY") (0 until 1 + r.nextInt(2)).foreach(_ => items += positive(r, r.nextInt(cats.length)))
      if (diff == "HARD") {
        items += hardVariant(r, cat)
        items += hardVariant(r, pick(r, Vector(2, 5, 6, 7, 9)))
      }
      longIdx.get(i).foreach { len =>
        val v = s"${pick(r, userParts)}@${pick(r, domains)}"
        items += Item(s"첨부 토큰 ${base64Run(r, len)} $v 로 전달되었습니다.", Some("이메일" -> v))
      }
      val sentences = r.shuffle(items.map(_.text) ++
        Seq.fill(1 + r.nextInt(if (diff == "EASY") 2 else 4))(pick(r, fillers)))
      val expected = items.flatMap(_.label).distinct.map { case (t, v) => ExpectedItem(t, v) }
      TestCase(id = f"bench-$seed-$i%06d", category = cats(cat), difficulty = diff,
        intent = if (items.exists(_.label.isEmpty)) "near_miss" else "detect",
        document_text = sentences.mkString(" "), expected_pii = expected.toSeq,
        false_positive_note = None)
    }
    Corpus(cases, longIdx.keySet.map(cases(_).id))
  }

  /** The workload properties printed with every run. */
  def properties(c: Corpus): Seq[(String, String)] = {
    def counts(f: TestCase => String) =
      c.cases.groupBy(f).toSeq.sortBy(_._1).map { case (k, v) => s"$k=${v.size}" }.mkString(",")
    Seq(
      "documents" -> c.cases.size.toString,
      "per_category" -> counts(_.category),
      "per_difficulty" -> counts(_.difficulty),
      "long_token_docs" -> c.longToken.size.toString,
      "long_token_share" -> f"${c.longToken.size.toDouble / c.cases.size}%.4f",
      "avg_chars" -> f"${c.cases.map(_.document_text.length).sum.toDouble / c.cases.size}%.1f")
  }
}
