package graft.functions

import graft.filter.{BigramLM, QualityClassifier, QualityModel}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** model_scores(text) → struct(perplexity double, quality double): the two
  * trained-model quality scores in ONE pass.
  *
  * Why fused: run separately, the KN-perplexity stage and the classifier
  * stage each tokenize every document again (the same repeated-tokenization
  * tax the fused `quality_signals` expression removed for the heuristic
  * stage — ~40% of pipeline CPU in round 2). Here one `\s+` split feeds both
  * scorers. On top of that, `BigramLM.prob`'s hot lookup is a Scala
  * `Map[(String, String), Long]` — every probe allocates a Tuple2 and pays
  * generic hashing; this kernel rebuilds the tables as
  * java.util.HashMaps with a composite "w1 w2" key (tokens cannot contain
  * spaces, so the key never aliases): zero allocation per probe beyond one
  * string concat.
  *
  * Value parity is EXACT (spec-pinned, `==` on doubles): the arithmetic
  * reproduces `BigramLM.perplexity` / `QualityModel.score` operation for
  * operation — same interpolation order, same 2000-token feature cap, same
  * mean-normalized sigmoid.
  *
  * Distribution shape: the models ride the kernel's object parameter, a
  * [[ModelScoresExpression.ModelRef]], into the task binary →
  * TorrentBroadcast (shipped once per executor), but the task binary is
  * DESERIALIZED per task — so the fast tables live in an EXECUTOR-SINGLETON
  * cache keyed by the ref's `key` (a driver-generated UUID that survives
  * task serialization): the first task on each executor builds them, every
  * later task reuses them. Without this, a full-size LM (2^20 bigrams) would
  * pay ~1M HashMap inserts per TASK — rivaling the scoring work the fusion
  * saves on short tasks. `model_scores` wraps it in [[Pinned]], so the
  * optimizer evaluates it once per row.
  */
object ModelScoresExpression {
  /** Holder keeping the MODELS out of the expression's structural
    * equality: Catalyst hashes/compares expressions during analysis and
    * optimization (ExpressionSet, canonicalization), and a synthesized
    * case-class equals over a 2^20-entry model Map would make PLANNING cost
    * O(model size) per comparison. Equality/hashCode key on the driver-
    * generated UUID only — two refs are the same model iff they were
    * created by the same `model_scores` call, which is exactly the
    * granularity the executor-side table cache uses. */
  final class ModelRef(val lm: BigramLM, val qm: QualityModel,
                       val key: String = java.util.UUID.randomUUID().toString)
      extends Serializable {
    override def equals(o: Any): Boolean = o match {
      case r: ModelRef => r.key == key
      case _ => false
    }
    override def hashCode: Int = key.hashCode
    override def toString: String = s"ModelRef($key)"

    /** The fast tables: resolved once per deserialized ref, BUILT once per
      * executor JVM ([[tablesFor]]). */
    @transient lazy val tables: FastTables = tablesFor(key, lm)
  }

  /** Exact replica of BigramLM.prob over the fast tables. */
  private def prob(lm: BigramLM, t: FastTables, w1: String, w2: String): Double = {
    val c1 = t.uniT.getOrDefault(w1, 0L)
    val pcont = {
      val cc = t.contT.getOrDefault(w2, 0)
      if (lm.bigramTypes > 0 && cc > 0) cc.toDouble / lm.bigramTypes else t.unkP
    }
    if (c1 == 0) pcont
    else {
      val c12 = t.bigT.getOrDefault(w1 + " " + w2, 0L)
      val lambda = lm.discount * t.follT.getOrDefault(w1, 0) / c1
      math.max(c12 - lm.discount, 0.0) / c1 + lambda * pcont
    }
  }

  def scores(u: UTF8String, models: ModelRef): InternalRow = {
    val lm = models.lm
    val qm = models.qm
    val t = models.tables
    // ONE tokenization feeds both scorers. Parity: BigramLM.tokenize is
    // trim→lower→split→nonEmpty filter; QualityClassifier.features is
    // lower→trim→split (no filter) — identical token sets for every input
    // (post-trim `\s+` splits produce no interior/leading empties).
    val toks = u.toString
      .trim.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty)

    val ppl =
      if (toks.length < 2) 1e9
      else {
        var lp = 0.0
        var i = 1
        while (i < toks.length) {
          lp += math.log(math.max(prob(lm, t, toks(i - 1), toks(i)), 1e-12))
          i += 1
        }
        math.exp(-lp / (toks.length - 1))
      }

    val quality = {
      val n = math.min(toks.length, 2000)
      if (n == 0) QualityClassifier.sigmoid(qm.bias)
      else {
        val dim = qm.dim
        val w = qm.weights
        // SAME summation order as QualityModel.score over features(): all
        // unigram buckets first, then all bigram buckets — double addition
        // is order-sensitive and parity is asserted with ==
        var s = 0.0
        var i = 0
        while (i < n) {
          s += w(java.lang.Math.floorMod(
            scala.util.hashing.MurmurHash3.stringHash(toks(i), 41), dim))
          i += 1
        }
        i = 1
        while (i < n) {
          s += w(java.lang.Math.floorMod(
            scala.util.hashing.MurmurHash3.stringHash(toks(i - 1) + " " + toks(i), 43), dim))
          i += 1
        }
        QualityClassifier.sigmoid(s / (2 * n - 1) + qm.bias)
      }
    }
    InternalRow(ppl, quality)
  }

  final case class FastTables(uniT: java.util.HashMap[String, Long],
                              bigT: java.util.HashMap[String, Long],
                              contT: java.util.HashMap[String, Int],
                              follT: java.util.HashMap[String, Int],
                              unkP: Double)

  // Bounded executor-wide cache: one entry per distinct model in flight;
  // cleared wholesale past 8 entries (long-lived sessions fitting many
  // models just rebuild on the next task — correctness is unaffected).
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, FastTables]()

  private def tablesFor(key: String, lm: BigramLM): FastTables = {
    val hit = cache.get(key)
    if (hit != null) hit
    else {
      if (cache.size >= 8) cache.clear()
      cache.computeIfAbsent(key, _ => build(lm))
    }
  }

  private def build(lm: BigramLM): FastTables = {
    val uniT = new java.util.HashMap[String, Long](lm.unigramCount.size * 2)
    lm.unigramCount.foreach { case (k, v) => uniT.put(k, v) }
    val bigT = new java.util.HashMap[String, Long](lm.bigramCount.size * 2)
    lm.bigramCount.foreach { case ((a, b), v) => bigT.put(a + " " + b, v) }
    val contT = new java.util.HashMap[String, Int](lm.continuationCount.size * 2)
    lm.continuationCount.foreach { case (k, v) => contT.put(k, v) }
    val follT = new java.util.HashMap[String, Int](lm.followerTypes.size * 2)
    lm.followerTypes.foreach { case (k, v) => follT.put(k, v) }
    FastTables(uniT, bigT, contT, follT, 1.0 / math.max(lm.totalUnigrams, 1L))
  }

  def model_scores(c: Column, lm: BigramLM, qm: QualityModel): Column =
    StaticKernel.column(args => Pinned(StaticKernel.expr("model_scores", this, "scores",
      StructType(Seq(StructField("perplexity", DoubleType, nullable = false),
        StructField("quality", DoubleType, nullable = false))),
      Seq(StringType), args, Seq(new ModelRef(lm, qm)))), c)
}
