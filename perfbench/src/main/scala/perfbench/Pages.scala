package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.util.Random

/** Seeded page and document inputs for the page and daily workloads.
  *
  * `writeDocuments` produces a `documents.parquet` with the schema and
  * statistics of the repository's synthetic crawl documents (doc_id, text,
  * lang, source, n_chars; 10-100 words of soup over the same 30-word
  * technical vocabulary; en 41 %, zh/es/fr 15 % each, de 14 %), so the
  * program's own [[graft.pipeline.SyntheticPages]] turns it into the usual page family
  * (one page in five carries an email and a phone).
  */
object Pages {
  private val vocab = Vector("a", "the", "batch", "part", "spark", "line", "column", "order",
    "small", "sort", "fast", "value", "scan", "hash", "slow", "group", "agg", "filter", "query",
    "big", "key", "window", "row", "table", "stream", "merge", "data", "join", "vector", "customer")
  private val langs = Vector("en" -> 41, "zh" -> 15, "es" -> 15, "fr" -> 15, "de" -> 14)

  private def words(r: Random): String =
    Seq.fill(10 + r.nextInt(91))(vocab(r.nextInt(vocab.length))).mkString(" ")

  def documents(seed: Long, n: Int): IndexedSeq[(Long, String, String, String, Long)] = {
    val r = new Random(seed)
    val langOf = langs.flatMap { case (l, k) => Seq.fill(k)(l) }
    (0 until n).map { i =>
      val t = words(r)
      (i.toLong, t, langOf(r.nextInt(langOf.length)), s"src${i % 20}", t.length.toLong)
    }
  }

  def writeDocuments(spark: SparkSession, dir: String, seed: Long, n: Int): Unit = {
    import spark.implicits._
    documents(seed, n).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  /** `pages` replicated `reps` times under distinct urls. */
  def replicate(pages: DataFrame, reps: Int): DataFrame =
    pages.withColumn("rep", explode(sequence(lit(0), lit(reps - 1))))
      .withColumn("url", concat(col("url"), lit("?rep="), col("rep")))
      .drop("rep")

  /** UTF-8 bytes read as cp1252, with the five undefined bytes kept as
    * their latin-1 control characters — the damage the mojibake stage
    * repairs. */
  def mojibake(s: String): String = {
    val sb = new StringBuilder(s.length * 2)
    for (b <- s.getBytes(java.nio.charset.StandardCharsets.UTF_8)) {
      val x = b & 0xFF
      if (x == 0x81 || x == 0x8D || x == 0x8F || x == 0x90 || x == 0x9D) sb.append(x.toChar)
      else sb.append(new String(Array(b), "windows-1252").charAt(0))
    }
    sb.toString
  }

  /** Raw-HTML crawl pages: the page text as the one body paragraph between
    * nav, script and footer boilerplate, `text` empty. One page in ten of
    * those carrying Korean PII arrives as UTF-8-as-cp1252 mojibake. On the
    * repository's own sf0.1 documents this shape keeps 71.7 % of pages
    * (jusText drops short bodies as boilerplate). */
  def htmlPages(pages: DataFrame): DataFrame = {
    val moji = udf((s: String) => mojibake(s))
    val body = when(col("text").contains("문의:") && pmod(xxhash64(col("url")), lit(10)) === 0,
      moji(col("text"))).otherwise(col("text"))
    pages.select(col("url"), col("warc_ts"),
      encode(concat(
        lit("<html><head><title>T</title></head><body><nav><a href='/'>Home</a> " +
          "<a href='/shop'>Shop</a> <a href='/cart'>Cart</a></nav><p>"),
        body,
        lit("</p><div><a href='/more'>Read more</a></div><script>var a=1;</script>" +
          "<footer>© 2026 Example Corp</footer></body></html>")), "UTF-8").as("html"),
      lit("").as("text"), col("lang"))
  }

  /** Daily-lake history: `n` mutually distinct documents, each the first
    * third of one base text, the middle third of another and the last
    * third of a third, plus a variant marker (the recipe of
    * `graft.Bench.incrementalFixture`: documents sharing one source third
    * sit at Jaccard ~0.2, below the LSH knee). Ids are 1..n. */
  def history(seed: Long, base: IndexedSeq[String], n: Int): IndexedSeq[(Long, String)] = {
    val r = new Random(seed ^ 0x5DEECE66DL)
    (1 to n).map(i => (i.toLong, thirdMix(r, base) + s" variant$i"))
  }

  private def thirdMix(r: Random, base: IndexedSeq[String]): String = {
    def third(k: Int): String = {
      val w = base(r.nextInt(base.size)).split(" ")
      val t = math.max(w.length / 3, 1)
      (if (k == 2) w.drop(2 * t) else w.slice(k * t, (k + 1) * t)).mkString(" ")
    }
    Seq(third(0), third(1), third(2)).mkString(" ")
  }

  final case class Day(docs: IndexedSeq[(Long, String)], recrawlIds: Set[Long])

  /** Day `d` (1-based) of the daily feed, `size` documents: half fresh
    * third-mixes, 35 % exact recrawls of history documents, 15 %
    * near-duplicate mutants (history text minus its first three tokens).
    * Ids are above every history id and above every earlier day's ids. */
  def day(seed: Long, d: Int, base: IndexedSeq[String], hist: IndexedSeq[(Long, String)],
          size: Int): Day = {
    val r = new Random(seed * 1000003L + d)
    val nFresh = size / 2
    val nRecrawl = size * 35 / 100
    val idOf = (k: Int) => (d.toLong << 32) + k
    val fresh = (0 until nFresh).map(k => (idOf(k), thirdMix(r, base) + s" fresh${d}x$k"))
    val recrawl = (nFresh until nFresh + nRecrawl).map(k => (idOf(k), hist(r.nextInt(hist.size))._2))
    val mutants = (nFresh + nRecrawl until size).map { k =>
      (idOf(k), hist(r.nextInt(hist.size))._2.split(" ").drop(3).mkString(" "))
    }
    Day(r.shuffle(fresh ++ recrawl ++ mutants), recrawl.map(_._1).toSet)
  }
}
