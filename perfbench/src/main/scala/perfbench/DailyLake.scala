package perfbench

import graft.operators.Dedup
import graft.pipeline.{Curation, IncrementalCuration}
import graft.sources.StateLake
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer

/** `daily_lake`: set-up bootstraps a lake-backed history
  * (`IncrementalCuration.initLake`); each op steps the next ~10 % daily
  * batch (fresh documents, exact recrawls, near-duplicate mutants) through
  * `IncrementalCuration.stepLake`. State grows every day. */
final class DailyLake extends Workload {
  import DailyLake._
  type Fx = DayFx
  type Out = DayOut
  def name = "daily_lake"

  def docsPerOp: Long = DayDocs.toLong

  def setup(ctx: Ctx, dir: String): Fx = {
    val spark = ctx.spark
    import spark.implicits._
    val base = Pages.documents(ctx.seed, BaseDocs).map(_._2)
    val hist = Pages.history(ctx.seed, base, HistoryDocs)
    val fx = DayFx(dir, (1 to MaxDays).map(d => Pages.day(ctx.seed, d, base, hist, DayDocs)))
    hist.toDF("doc_id", "text").repartition(2 * Main.Cores).write.mode("overwrite").parquet(s"${fx.dir}/history")
    fx.days.zipWithIndex.foreach { case (d, k) =>
      d.docs.toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(fx.day(k + 1))
    }
    IncrementalCuration.initLake(spark.read.parquet(s"${fx.dir}/history"), None, fx.root,
      withLineDedup = true)
    fx.version = IncrementalCuration.lakeStateVersion(spark, fx.root)
    fx
  }

  override def maxOps: Int = MaxDays
  /** A JVM's first steps run slow (measured 8.3-10.0 s, then 6.1-7.9 s,
    * then 5.6-7.5 s, before settling near 5.5-6 s), so two run on set-up
    * 0's state before timing; the median of three timed steps then
    * discards a third step that is still slow. */
  override def warmupOps: Int = 2

  def op(ctx: Ctx, fx: Fx, i: Int): Out = {
    val stages = ArrayBuffer.empty[(String, Double, Long)]
    val survivors = ctx.span("pipeline.IncrementalCuration.stepLake") {
      IncrementalCuration.stepLake(ctx.spark, fx.root, ctx.spark.read.parquet(fx.day(i + 1)),
        expectedHistoryDigests = HistoryDocs.toLong, expectedHistoryLines = 2L * HistoryDocs,
        onStage = (n, s) => stages += ((n, s, System.currentTimeMillis())))
    }
    DayOut(i + 1, survivors, stages.toSeq)
  }

  /** No exact recrawl survives; survivor ids are unique; the state version
    * advances by one; the docs table grows by exactly the survivors. */
  def check(ctx: Ctx, fx: Fx, out: Out): Seq[String] = {
    val spark = ctx.spark
    val ids = out.survivors.select("doc_id").collect().map(_.getLong(0))
    val v0 = fx.version
    val v1 = IncrementalCuration.lakeStateVersion(spark, fx.root)
    fx.version = v1
    def docsAt(v: Int) = StateLake.read(spark, s"${fx.root}/docs", v).count()
    val grown = docsAt(v1) - docsAt(v0)
    val recrawls = ids.count(fx.days(out.day - 1).recrawlIds)
    Seq(
      if (recrawls > 0) Some(s"day ${out.day}: $recrawls exact recrawls survived") else None,
      if (ids.distinct.length != ids.length) Some(s"day ${out.day}: duplicate survivor ids") else None,
      if (v1 != v0 + 1) Some(s"day ${out.day}: state version went $v0 -> $v1") else None,
      if (grown != ids.length) Some(s"day ${out.day}: docs grew by $grown, ${ids.length} survivors") else None
    ).flatten
  }

  def properties: Seq[(String, String)] = Seq(
    "history_docs" -> HistoryDocs.toString, "day_docs" -> DayDocs.toString,
    "day_mix" -> "50% fresh, 35% exact recrawls, 15% near-duplicate mutants",
    "days_available" -> MaxDays.toString)

  def layers(ctx: Ctx, fx: Fx, traced: Seq[OpRecord[Out]]): Layers = {
    val spark = ctx.spark
    // a job belongs to the first stage whose end mark is at or after its start
    def jobsPerStage(o: OpRecord[Out]): Map[String, Int] =
      o.jobStarts.flatMap(t => o.out.stages.find(_._3 >= t).map(_._1)).groupBy(identity).map {
        case (k, v) => k -> v.size
      }
    val stageS = Metrics.dailyStageNames.flatMap { s =>
      Seq(s"pipeline.${s}_s" -> Stats.median(traced.map(_.out.stages.find(_._1 == s).map(_._2).getOrElse(0.0))),
        s"pipeline.$s.jobs" -> Stats.median(traced.map(o => jobsPerStage(o).getOrElse(s, 0).toDouble)))
    }
    // LSH candidates and verified pairs touching the last traced day's batch
    val last = traced.last.out.day
    val batch = spark.read.parquet(fx.day(last)).select(col("doc_id").cast("long"), col("text"))
    val all = StateLake.read(spark, s"${fx.root}/docs", last - 1).select("doc_id", "text")
      .unionByName(batch)
    val pairs = ctx.span("operators.Dedup.candidatePairs") {
      Dedup.candidatePairs(Dedup.lshBandsHashed(Dedup.minhashSignaturesFast(all, "doc_id", "text")))
        .filter(col("id_b") >= (last.toLong << 32)).localCheckpoint()
    }
    val candidates = pairs.count()
    val verified = ctx.span("operators.Dedup.jaccardVerify") {
      Dedup.jaccardVerify(all, "doc_id", "text", pairs)
        .filter(col("jaccard") >= Curation.Config().neardupThreshold).count()
    }
    val (files, bytes) = Harness.footprint(fx.root)
    val survivors = traced.last.out.survivors.withColumn("digest", md5(col("text"))).localCheckpoint()
    val t0 = System.nanoTime()
    StateLake.append(survivors, s"${fx.dir}/write", "doc_id", 16, 0)
    val writeS = (System.nanoTime() - t0) / 1e9
    Layers(stageS.toMap ++ Map(
      "operators.lsh_candidates" -> candidates.toDouble, "operators.lsh_verified" -> verified.toDouble,
      "operators.lsh_useful_ratio" -> verified.toDouble / math.max(1L, candidates),
      "operators.shuffle_write_bytes" -> Stats.median(traced.map(_.engine.shuffleWrite.toDouble)),
      "operators.spill_bytes" -> Stats.median(traced.map(_.engine.spill.toDouble)),
      "sources.state_files" -> files.toDouble, "sources.state_bytes" -> bytes.toDouble,
      "sources.write_s" -> writeS))
  }
}

object DailyLake {
  val BaseDocs = 1000
  val HistoryDocs = 2000
  val DayDocs = 200
  val MaxDays = 6

  final case class DayFx(dir: String, days: IndexedSeq[Pages.Day]) {
    val root: String = s"$dir/state"
    def day(d: Int): String = s"$dir/day=$d"
    var version: Int = 0
  }
  final case class DayOut(day: Int, survivors: DataFrame, stages: Seq[(String, Double, Long)])
}
