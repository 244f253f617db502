package graft.eval

import graft.core.{PiiCategories, PyCompat}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import PyCompat.pyRound

/** A fully-scored evaluation case (flattened for Spark aggregation).
  * `expected`/`predicted` carry 12 slots in canonical category order
  * (null slot = category absent). */
final case class ScoredEvalCase(
    id: String, category: String, difficulty: String, intent: String,
    expected: Seq[Seq[String]], predicted: Seq[Seq[String]],
    microPrecision: Double, microRecall: Double, microF1: Double,
    totalTp: Int, totalFp: Int, totalFn: Int,
    catTp: Seq[Int], catFp: Seq[Int], catFn: Seq[Int],
    hasExp: Seq[Boolean], hasPred: Seq[Boolean])

// Summary mirror of the reference report (run_pii_evaluation.py:514-702).
final case class CatPR(precision: Double, recall: Double)
final case class ClsCell(precision: Double, recall: Double, f1: Double, accuracy: Double)
final case class ClsTotal(tp: Long, tn: Long, fp: Long, fn: Long,
    precision: Double, recall: Double, f1: Double, accuracy: Double)
final case class DiffRow(count: Long, perfect: Long, tp: Long, fp: Long, fn: Long)
final case class EvalSummary(
    totalCases: Long, perfectCases: Long,
    overallAccuracy: Double, overallPrecision: Double, overallRecall: Double, overallF1: Double,
    categoryMetrics: Map[String, CatPR],
    clsPerCategory: Map[String, ClsCell],
    clsPerDifficulty: Map[String, ClsCell],
    clsTotal: ClsTotal,
    perDifficulty: Map[String, DiffRow],
    worstCases: Seq[(String, Double)])

/** The aggregation/report engine (A3-A7 + binary confusion matrices + top-k
  * failures), Spark-native: one explode to (case × category) rows, then
  * groupBy rollups; scalar arithmetic and HALF_EVEN rounding on the driver.
  */
object Report {

  def fromCases(ds: Dataset[ScoredEvalCase]): EvalSummary = {
    val spark = ds.sparkSession
    val cats = PiiCategories.names
    val cached = ds.cache()

    // overall micro (A3) + perfect count (A7)
    val o = cached.agg(
      count(lit(1)), sum(when(col("microF1") === 1.0, 1L).otherwise(0L)),
      sum(col("totalTp").cast("long")), sum(col("totalFp").cast("long")),
      sum(col("totalFn").cast("long"))).head()
    val (total, perfect) = (o.getLong(0), o.getLong(1))
    val (tp, fp, fn) = (o.getLong(2), o.getLong(3), o.getLong(4))

    // per-category rollup (A4) + binary confusion cells (A6) in one pass
    val exploded = cached.select(col("difficulty"),
        explode(arrays_zip(
          lit(cats.toArray).as("cat"), col("catTp").as("tp"), col("catFp").as("fp"),
          col("catFn").as("fn"), col("hasExp").as("he"), col("hasPred").as("hp"))).as("z"))
      .select(col("difficulty"), col("z.cat").as("cat"), col("z.tp").as("tp"),
        col("z.fp").as("fp"), col("z.fn").as("fn"), col("z.he").as("he"), col("z.hp").as("hp"))
      .cache()

    val catAgg = exploded.groupBy("cat").agg(
      sum(col("tp").cast("long")), sum(col("fp").cast("long")), sum(col("fn").cast("long")),
      sum(when(col("he") && col("hp"), 1L).otherwise(0L)),
      sum(when(!col("he") && !col("hp"), 1L).otherwise(0L)),
      sum(when(!col("he") && col("hp"), 1L).otherwise(0L)),
      sum(when(col("he") && !col("hp"), 1L).otherwise(0L))).collect()

    val catMetrics = catAgg.map { r =>
      val (ctp, cfp, cfn) = (r.getLong(1), r.getLong(2), r.getLong(3))
      val p = if (ctp + cfp > 0) ctp.toDouble / (ctp + cfp) else 0.0
      val rc = if (ctp + cfn > 0) ctp.toDouble / (ctp + cfn) else 0.0
      r.getString(0) -> CatPR(pyRound(p, 4), pyRound(rc, 4))
    }.toMap

    val clsPerCat = catAgg.map { r =>
      r.getString(0) -> cls(r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))
    }.toMap
    val (ctp2, ctn2, cfp2, cfn2) = catAgg.foldLeft((0L, 0L, 0L, 0L)) { case ((a, b, c, d), r) =>
      (a + r.getLong(4), b + r.getLong(5), c + r.getLong(6), d + r.getLong(7))
    }

    // the reference zero-initializes all three difficulty buckets, so absent
    // difficulties still appear with empty cells (print_report:516, :635)
    val allDiffs = Seq("EASY", "MEDIUM", "HARD")
    val clsDiff = allDiffs.map(_ -> cls(0, 0, 0, 0)).toMap ++
      exploded.groupBy("difficulty").agg(
        sum(when(col("he") && col("hp"), 1L).otherwise(0L)),
        sum(when(!col("he") && !col("hp"), 1L).otherwise(0L)),
        sum(when(!col("he") && col("hp"), 1L).otherwise(0L)),
        sum(when(col("he") && !col("hp"), 1L).otherwise(0L))).collect()
        .map(r => r.getString(0) -> cls(r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toMap

    // per-difficulty micro rollup (A5), zero-filled like the reference
    val perDiff = allDiffs.map(_ -> DiffRow(0, 0, 0, 0, 0)).toMap ++
      cached.groupBy("difficulty").agg(
        count(lit(1)), sum(when(col("microF1") === 1.0, 1L).otherwise(0L)),
        sum(col("totalTp").cast("long")), sum(col("totalFp").cast("long")),
        sum(col("totalFn").cast("long"))).collect()
        .map(r => r.getString(0) -> DiffRow(r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
        .toMap

    // top-k worst failures (O2); id tie-break keeps the listing deterministic
    val worst = cached.filter(col("microF1") =!= 1.0)
      .orderBy(col("microF1").asc, col("id").asc).limit(10)
      .select("id", "microF1").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq

    val op = if (tp + fp > 0) tp.toDouble / (tp + fp) else 0.0
    val or = if (tp + fn > 0) tp.toDouble / (tp + fn) else 0.0
    val of1 = if (op + or > 0) 2 * op * or / (op + or) else 0.0
    val oacc = if (total > 0) perfect.toDouble / total else 0.0

    // total binary-classification row uses 0.0 edge (unlike per-cat's 1.0)
    val ctP = if (ctp2 + cfp2 > 0) ctp2.toDouble / (ctp2 + cfp2) else 0.0
    val ctR = if (ctp2 + cfn2 > 0) ctp2.toDouble / (ctp2 + cfn2) else 0.0
    val ctF1 = if (ctP + ctR > 0) 2 * ctP * ctR / (ctP + ctR) else 0.0
    val ctAll = ctp2 + ctn2 + cfp2 + cfn2
    val ctAcc = if (ctAll > 0) (ctp2 + ctn2).toDouble / ctAll else 0.0

    EvalSummary(total, perfect,
      pyRound(oacc, 4), pyRound(op, 4), pyRound(or, 4), pyRound(of1, 4),
      catMetrics, clsPerCat, clsDiff,
      ClsTotal(ctp2, ctn2, cfp2, cfn2, pyRound(ctP, 4), pyRound(ctR, 4), pyRound(ctF1, 4), pyRound(ctAcc, 4)),
      perDiff, worst)
  }

  /** Per-category / per-difficulty binary-classification cell — note the
    * reference's 1.0 edge when a denominator is zero
    * (run_pii_evaluation.py:608-610, 678-680). */
  private def cls(tp: Long, tn: Long, fp: Long, fn: Long): ClsCell = {
    val p = if (tp + fp > 0) tp.toDouble / (tp + fp) else 1.0
    val r = if (tp + fn > 0) tp.toDouble / (tp + fn) else 1.0
    val f1 = if (p + r > 0) 2 * p * r / (p + r) else 0.0
    val all = tp + tn + fp + fn
    val acc = if (all > 0) (tp + tn).toDouble / all else 0.0
    ClsCell(pyRound(p, 4), pyRound(r, 4), pyRound(f1, 4), pyRound(acc, 4))
  }
}
