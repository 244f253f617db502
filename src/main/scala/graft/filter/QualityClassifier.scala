package graft.filter

import graft.functions.StaticKernel
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, Dataset, SparkSession}
import org.apache.spark.sql.types.{DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import scala.util.hashing.MurmurHash3

/** fastText-style supervised quality classifier: binary logistic regression
  * over hashed token uni+bigram features (bag-of-hashed-ngrams, mean
  * normalized — the reduction fastText's supervised mode makes for a linear
  * model). Complements the rule-based Gopher/C4 heuristics with a TRAINED
  * keep/drop signal (the CCNet/DCLM "model-based quality filter" stage).
  *
  * Training is distributed: the labeled sample stays in the cluster and each
  * full-batch epoch ships only the `dim`-sized gradient back to the driver
  * (`treeAggregate`), so a 10⁷-document labeled set trains without ever
  * collecting a row. The model itself is a small broadcastable value
  * (`dim` floats ≈ 128 KB at 2¹⁵), scored per-row like the langid model.
  *
  * Determinism: float summation is order-dependent, and partition layout
  * (core count, input splits) changes the order — so per-row gradient
  * contributions are rounded to FIXED-POINT Longs and summed exactly.
  * The fitted weights are bit-identical for any partitioning of the same
  * labeled set, which is what makes the trained stage checkpoint/resume
  * safe and the downstream keep/drop decisions reproducible.
  */
final case class QualityModel(dim: Int, weights: Array[Float], bias: Float)
    extends Serializable {

  def score(text: String): Double = {
    val fs = QualityClassifier.features(text, dim)
    if (fs.isEmpty) return QualityClassifier.sigmoid(bias)
    var s = 0.0
    var i = 0
    while (i < fs.length) { s += weights(fs(i)); i += 1 }
    QualityClassifier.sigmoid(s / fs.length + bias)
  }

  def keep(text: String, threshold: Double = 0.5): Boolean = score(text) >= threshold
}

object QualityClassifier {

  @inline private[graft] def sigmoid(z: Double): Double = 1.0 / (1.0 + math.exp(-z))

  /** quality_score(text): `model.score` per row, a static kernel with the
    * model as its object parameter (the model's equality is its weight
    * array's identity, so planning never compares weights). */
  def score(text: Column, model: QualityModel): Column =
    StaticKernel.column(args => StaticKernel.expr("quality_score", this, "scoreText",
      DoubleType, Seq(StringType), args, Seq(model)), text)

  def scoreText(t: UTF8String, model: QualityModel): Double = model.score(t.toString)

  /** Deterministic weak-supervision corpus — ONE definition shared by the
    * q55 query (whose model the golden pins) and the held-out accuracy gate
    * (QualityClassifierSpec), so the gate always measures exactly the
    * pinned model's training recipe: real docs = keep(1); token-reversed
    * gibberish and repeated-phrase spam = drop(0). Output: (id, text, y). */
  def weakLabels(docs: org.apache.spark.sql.DataFrame,
                 idCol: org.apache.spark.sql.Column,
                 textCol: org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val spamText = Seq.fill(12)("buy now limited offer click here").mkString(" ")
    val good = docs.select(idCol.as("id"), textCol.as("text"), lit(1.0).as("y"))
    val gibberish = docs.filter(idCol % 2 === 0).select(idCol.as("id"),
      array_join(transform(graft.functions.TextFunctions.tokensLower(textCol),
        t => reverse(t)), " ").as("text"),
      lit(0.0).as("y"))
    val spam = docs.filter(idCol % 2 === 1).select(idCol.as("id"),
      concat(lit(spamText), lit(" #"), idCol.cast("string")).as("text"),
      lit(0.0).as("y"))
    good.unionByName(gibberish).unionByName(spam)
  }

  /** Hashed feature buckets: token unigrams + bigrams of the lowered
    * whitespace tokens (multiset — repeats keep their weight, as in
    * fastText's bag). Capped at the first 2000 tokens to bound per-row cost
    * on multi-MB crawl docs. */
  def features(text: String, dim: Int): Array[Int] = {
    if (text == null) return Array.emptyIntArray
    val toks = text.toLowerCase(java.util.Locale.ROOT).trim.split("\\s+")
    val n = math.min(toks.length, 2000)
    if (n == 0 || (n == 1 && toks(0).isEmpty)) return Array.emptyIntArray
    val out = new Array[Int](2 * n - 1)
    var i = 0
    while (i < n) {
      out(i) = java.lang.Math.floorMod(MurmurHash3.stringHash(toks(i), 41), dim)
      if (i > 0)
        out(n + i - 1) = java.lang.Math.floorMod(
          MurmurHash3.stringHash(toks(i - 1) + " " + toks(i), 43), dim)
      i += 1
    }
    out
  }

  /** Fixed-point scale for exact (order-independent) gradient sums: per-row
    * contributions are in [-1, 1], so 2²⁴ scaling keeps 10⁹ rows well inside
    * Long range while preserving ~7 decimal digits. */
  private val Scale = (1L << 24).toDouble

  /** Full-batch logistic-regression fit over (text, label∈{0,1}) rows.
    * One `treeAggregate` per epoch; features are computed once and cached.
    *
    * At 100-TB scale the labeled sample is O(10⁶–10⁷) rows (human or
    * weak-supervision labels) — feature extraction is the only per-row work
    * and the shuffle-free epochs are bounded by `dim` driver math. */
  def fit(labeled: Dataset[(String, Double)], dim: Int = 1 << 15,
          epochs: Int = 60, lr: Double = 6.0, l2: Double = 1e-6): QualityModel = {
    val spark: SparkSession = labeled.sparkSession
    import spark.implicits._
    val feats = labeled.map { case (t, y) => (features(t, dim), y) }
      .rdd.cache()
    try {
      val w = new Array[Double](dim)
      var b = 0.0
      var epoch = 0
      while (epoch < epochs) {
        val bw: Broadcast[Array[Double]] = spark.sparkContext.broadcast(w.clone())
        val bb = b
        val zero = (new Array[Long](dim), 0L, 0L)
        val (gw, gb, n) = feats.treeAggregate(zero)(
          seqOp = { case ((aw, ab, an), (fs, y)) =>
            if (fs.nonEmpty) {
              val wt = bw.value
              var s = 0.0
              var i = 0
              while (i < fs.length) { s += wt(fs(i)); i += 1 }
              val err = sigmoid(s / fs.length + bb) - y
              val perFeat = err / fs.length
              i = 0
              while (i < fs.length) {
                aw(fs(i)) += math.round(perFeat * Scale)
                i += 1
              }
              (aw, ab + math.round(err * Scale), an + 1)
            } else (aw, ab, an)
          },
          combOp = { case ((aw, ab, an), (cw, cb, cn)) =>
            var i = 0
            while (i < dim) { aw(i) += cw(i); i += 1 }
            (aw, ab + cb, an + cn)
          })
        bw.destroy()
        if (n > 0) {
          var j = 0
          while (j < dim) {
            w(j) -= lr * (gw(j) / Scale / n + l2 * w(j))
            j += 1
          }
          b -= lr * (gb / Scale / n)
        }
        epoch += 1
      }
      QualityModel(dim, w.map(_.toFloat), b.toFloat)
    } finally {
      feats.unpersist(): Unit
    }
  }
}
