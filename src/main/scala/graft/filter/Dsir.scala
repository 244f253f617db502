package graft.filter

import graft.functions.StaticKernel
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** DSIR — Data Selection with Importance Resampling (Xie et al. 2023,
  * "Data Selection for Language Models via Importance Resampling"): select
  * raw-corpus documents whose hashed-n-gram distribution looks like a target
  * domain, by resampling with importance weights
  * `w(x) = p_target(x) / p_raw(x)` under bag-of-hashed-ngram multinomial
  * models. The published recipe for "give me pretraining data shaped like
  * this reference corpus" — the trained complement to the rule-based gates
  * and the quality classifier (which needs LABELS; DSIR needs only a target
  * SAMPLE).
  *
  * Spark shape:
  *  - fitting = one `treeAggregate` of exact Long bucket counts per corpus
  *    (order-independent integer sums → the model is bit-deterministic under
  *    any partitioning, same discipline as [[QualityClassifier.fit]]);
  *  - the model is a `dim`-sized log-ratio vector (512 KB at 2¹⁶) that rides
  *    the scoring kernel's task-binary broadcast;
  *  - scoring is a narrow per-row pass (one tokenization, feature hashing
  *    shared with the quality classifier);
  *  - resampling without replacement = Gumbel top-k (Vieira 2014): key =
  *    log w(x) + Gumbel(hash(id, seed)), take the k largest. The noise is
  *    keyed on the document id, so selection is layout-invariant and
  *    reproducible; `orderBy(...).limit(k)` plans as TakeOrdered (per-
  *    partition top-k, k-sized driver merge — no full sort shuffle).
  */
final case class DsirModel(dim: Int, logRatio: Array[Double]) extends Serializable {
  /** Σ_features (log p_target − log p_raw); 0 for empty/feature-less text. */
  def logWeight(text: String): Double = {
    val fs = QualityClassifier.features(text, dim)
    var s = 0.0
    var i = 0
    while (i < fs.length) { s += logRatio(fs(i)); i += 1 }
    s
  }
}

object Dsir {

  /** Exact hashed-ngram bucket counts: fixed-size Long array, one
    * treeAggregate — integer sums are order-independent, so the counts (and
    * the fitted model) are identical under any partitioning. */
  private[filter] def bucketCounts(docs: DataFrame, textCol: Column, dim: Int): Array[Long] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(textCol.cast("string")).na.drop.as[String].rdd
      .treeAggregate(new Array[Long](dim))(
        (acc, t) => {
          val fs = QualityClassifier.features(t, dim)
          var i = 0
          while (i < fs.length) { acc(fs(i)) += 1L; i += 1 }
          acc
        },
        (a, b) => {
          var i = 0
          while (i < dim) { a(i) += b(i); i += 1 }
          a
        })
  }

  /** Fit the log importance-weight model from a target-domain sample and a
    * raw-corpus sample (both just DataFrames with a text column; sample the
    * raw corpus upstream — O(10⁶) rows is plenty). `alpha` is the additive
    * smoothing that keeps never-seen buckets finite. */
  def fit(target: DataFrame, raw: DataFrame, textCol: Column,
          dim: Int = 1 << 16, alpha: Double = 1.0): DsirModel = {
    require(alpha > 0, "alpha must be positive (unseen buckets need mass)")
    val ct = bucketCounts(target, textCol, dim)
    val cr = bucketCounts(raw, textCol, dim)
    val logTt = math.log(ct.sum + alpha * dim)
    val logTr = math.log(cr.sum + alpha * dim)
    val ratio = new Array[Double](dim)
    var i = 0
    while (i < dim) {
      ratio(i) = (math.log(ct(i) + alpha) - logTt) - (math.log(cr(i) + alpha) - logTr)
      i += 1
    }
    DsirModel(dim, ratio)
  }

  /** dsir_log_weight(text): per-row log importance weight, a static
    * kernel with the model as its object parameter (task-binary broadcast;
    * the model's equality is its array's identity) — no shuffle. */
  def logWeights(textCol: Column, model: DsirModel): Column =
    StaticKernel.column(args => StaticKernel.expr("dsir_log_weight", this, "logWeight",
      DoubleType, Seq(StringType), args, Seq(model)), textCol)

  def logWeight(t: UTF8String, model: DsirModel): Double = model.logWeight(t.toString)

  /** Gumbel top-k resampling without replacement: keep the k documents with
    * the largest `log w + Gumbel` key. Noise comes from murmur3 of
    * (id, seed) mapped to (0,1) — deterministic per id, so the selected set
    * is identical under any input layout; ties broken by id.
    *
    * Output = the input columns plus `log_weight` (which is overwritten if
    * the input already carries one); the selection key itself is internal
    * and dropped. */
  def resample(df: DataFrame, idCol: Column, textCol: Column,
               model: DsirModel, k: Int, seed: Int = 41): DataFrame = {
    // (hash & (2^30-1)) + 0.5 over 2^30: u ∈ (0,1), never 0 or 1 — both
    // log()s stay finite
    val u = (pmod(hash(idCol, lit(seed)), lit(1 << 30)).cast("double") + lit(0.5)) /
      lit((1 << 30).toDouble)
    val gumbel = -log(-log(u))
    df.withColumn("log_weight", logWeights(textCol, model))
      .withColumn("_dsir_gumbel_key", col("log_weight") + gumbel)
      .orderBy(desc("_dsir_gumbel_key"), idCol)
      .limit(k)
      .drop("_dsir_gumbel_key")
  }
}
