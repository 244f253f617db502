package graft.streaming

import graft.SparkSpecBase
import graft.pipeline.IncrementalCuration
import graft.sources.StateLake
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The streaming daily step: foreachBatch-driven lake curation equals the
  * sequential stepLake loop, exactly once under every crash point. */
class CurationStreamSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val base = spark.read.parquet(s"$sfDir/documents.parquet")
    .select($"doc_id".cast("long").as("doc_id"), $"text").cache()

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def mutant(src: DataFrame, idOff: Long) =
    src.select(($"doc_id" + idOff).as("doc_id"),
      array_join(slice(split(trim($"text"), "\\s+"), 3, 1000000), " ").as("text"))

  private lazy val history = base.filter($"doc_id" < 200)

  // three crawl drops with cross-drop duplicate plants: d2 recrawls a
  // history doc AND exactly copies / mutates d1 docs — the state must have
  // advanced between micro-batches for those to die
  private lazy val d1 = base.filter($"doc_id" >= 200 && $"doc_id" < 260)
    .unionByName(history.filter($"doc_id" === 7)
      .select(lit(9000007L).as("doc_id"), $"text"))
  private lazy val d2 = base.filter($"doc_id" >= 260 && $"doc_id" < 320)
    .unionByName(base.filter($"doc_id" === 210)
      .select(lit(9000210L).as("doc_id"), $"text"))
    .unionByName(mutant(base.filter($"doc_id" === 220), 9000000L))
  private lazy val d3 = base.filter($"doc_id" >= 320 && $"doc_id" < 360)

  private def initRoot(): String = {
    val root = tmp("curstream") + "/state"
    IncrementalCuration.initLake(history, None, root,
      withLineDedup = true, withSpanDedup = true)
    root
  }

  private def withHost(df: DataFrame): DataFrame =
    df.withColumn("host", concat(lit("h"), ($"doc_id" % 3).cast("string")))

  private def initHostRoot(): String = {
    val root = tmp("curstream-host") + "/state"
    IncrementalCuration.initLake(history, None, root,
      hostArrivals = Some(graft.operators.IncrementalSelect.hostCapInit(
        withHost(history), "host")))
    root
  }

  private def ids(df: DataFrame): Set[Long] =
    df.select("doc_id").as[Long].collect().toSet

  private val specCfg = CurationStream.Config()

  test("streamed drops equal the sequential stepLake loop; restart drains nothing") {
    val rootS = initRoot(); val rootR = initRoot()
    val inDir = tmp("curstream-in"); val outDir = tmp("curstream-out")
    val ckDir = tmp("curstream-ck")

    // reference: the sequential batch loop over the same drops
    val refSurvivors = Seq(d1, d2, d3).map(d =>
      ids(IncrementalCuration.stepLake(spark, rootR, d,
        expectedHistoryDigests = 1 << 10, expectedHistoryLines = 1 << 14,
        expectedHistoryGrams = 1 << 17)))

    // stream: one drop lands, the standing query drains it, repeat —
    // checkpoint offsets make each run see only the new files
    for (d <- Seq(d1, d2, d3)) {
      d.coalesce(1).write.mode("append").parquet(inDir)
      CurationStream.runAvailable(spark, inDir, rootS, outDir, ckDir, specCfg)
    }

    val out = spark.read.parquet(outDir)
    assert(ids(out) == refSurvivors.reduce(_ ++ _),
      "streamed survivor union must equal the sequential loop's")
    // cross-drop plants died against state advanced by EARLIER micro-batches
    assert(!ids(out).contains(9000007L), "history recrawl must die")
    assert(!ids(out).contains(9000210L), "exact copy of a d1 doc must die")
    assert(!ids(out).contains(9000220L), "near-mutant of a d1 doc must die")
    // state advanced once per drop, identically to the reference loop
    assert(StateLake.committedBatches(spark, s"$rootS/docs") == Seq(0, 1, 2, 3))
    def docSet(root: String) = StateLake.read(spark, s"$root/docs")
      .select("doc_id").as[Long].collect().toSet
    assert(docSet(rootS) == docSet(rootR), "state docs must match the loop")
    // provenance partition column discovered from the layout
    assert(out.columns.contains("ingest_batch"))

    // restart with the same checkpoint and no new files: nothing replays
    val nBefore = spark.read.parquet(outDir).count()
    CurationStream.runAvailable(spark, inDir, rootS, outDir, ckDir, specCfg)
    assert(spark.read.parquet(outDir).count() == nBefore)
    assert(StateLake.committedBatches(spark, s"$rootS/docs") == Seq(0, 1, 2, 3),
      "an empty drain must not advance the state")
  }

  test("start-time guards: semantic lake needs opt-in; hostCapN needs counters and host-bearing files") {
    val inDir = tmp("curstream-gin"); val outDir = tmp("curstream-gout")
    withHost(d1).coalesce(1).write.mode("append").parquet(inDir)

    // semantic-enabled lake without skipSemantic: refused at start (the
    // stream carries no embeddings — silent decay must be opted into)
    val rootSem = tmp("curstream-gsem") + "/state"
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding").filter($"vec_id" < 200)
    IncrementalCuration.initLake(history, Some(emb), rootSem)
    val eSem = intercept[IllegalArgumentException] {
      CurationStream.runAvailable(spark, inDir, rootSem, outDir,
        tmp("curstream-gck1"), specCfg, withHost = true)
    }
    assert(eSem.getMessage.contains("skipSemantic"), eSem.getMessage)
    // with the explicit opt-in the same stream drains
    CurationStream.runAvailable(spark, inDir, rootSem, outDir,
      tmp("curstream-gck2"), specCfg.copy(skipSemantic = true), withHost = true)
    assert(spark.read.parquet(outDir).count() > 0)

    // hostCapN without the counters table: refused at start, not inside
    // batch 0 after its intent is written
    val eCap = intercept[IllegalArgumentException] {
      CurationStream.runAvailable(spark, inDir, initRoot(), outDir,
        tmp("curstream-gck3"), specCfg.copy(hostCapN = Some(5)), withHost = true)
    }
    assert(eCap.getMessage.contains("hosts table"), eCap.getMessage)

    // hostCapN without withHost: refused at start
    val rootHost = initHostRoot()
    intercept[IllegalArgumentException] {
      CurationStream.runAvailable(spark, inDir, rootHost, outDir,
        tmp("curstream-gck4"), specCfg.copy(hostCapN = Some(5)), withHost = false)
    }

    // withHost = true but the drop files carry no host column: refused at
    // start (they would stream as all-NULL hosts — cap silently bypassed)
    val inNoHost = tmp("curstream-gin2")
    d1.coalesce(1).write.mode("append").parquet(inNoHost)
    val eFiles = intercept[IllegalArgumentException] {
      CurationStream.runAvailable(spark, inNoHost, rootHost, outDir,
        tmp("curstream-gck5"), specCfg, withHost = true)
    }
    assert(eFiles.getMessage.contains("NULL"), eFiles.getMessage)
  }

  test("crash after full state commit but before output append: replay restores the lost output") {
    val rootA = initRoot(); val rootB = initRoot()
    val outA = tmp("curstream-outA"); val outB = tmp("curstream-outB")

    // clean run on A
    CurationStream.curateBatch(d1, 0L, rootA, outA, "s", specCfg)

    // crashed run on B: intent written, step fully committed, output and
    // commit marker both missing — the worst case, where an UNPINNED
    // replay would see its own rows as history and emit zero survivors
    val fs = new org.apache.hadoop.fs.Path(rootB)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mDir = new org.apache.hadoop.fs.Path(rootB, "_stream_commits/s")
    fs.mkdirs(mDir)
    val v0 = IncrementalCuration.lakeStateVersion(spark, rootB)
    val intent = new org.apache.hadoop.fs.Path(mDir, "0.intent")
    val out0 = fs.create(intent, true)
    try out0.write(v0.toString.getBytes("UTF-8")) finally out0.close()
    IncrementalCuration.stepLake(spark, rootB, d1,
      expectedHistoryDigests = 1 << 10, expectedHistoryLines = 1 << 14,
      expectedHistoryGrams = 1 << 17, atVersion = Some(v0))
    assert(StateLake.committedBatches(spark, s"$rootB/docs") == Seq(0, 1),
      "fixture sanity: the crashed attempt fully committed the state")

    // the replay (what the restarted stream does)
    CurationStream.curateBatch(d1, 0L, rootB, outB, "s", specCfg)

    val (a, b) = (spark.read.parquet(outA), spark.read.parquet(outB))
    assert(ids(b) == ids(a), "replay must emit the clean run's survivors")
    assert(a.count() > 0, "fixture sanity: the batch has survivors to lose")
    assert(StateLake.committedBatches(spark, s"$rootB/docs") == Seq(0, 1),
      "replay must not double-append the state")
    assert(fs.exists(new org.apache.hadoop.fs.Path(mDir, "0")) &&
      !fs.exists(intent), "intent must have promoted to the commit marker")
  }

  test("a batch whose commit marker exists is skipped outright") {
    val root = initRoot(); val outDir = tmp("curstream-out3")
    CurationStream.curateBatch(d1, 0L, root, outDir, "s", specCfg)
    val before = StateLake.committedBatches(spark, s"$root/docs")
    val nOut = spark.read.parquet(outDir).count()
    CurationStream.curateBatch(d1, 0L, root, outDir, "s", specCfg)
    assert(StateLake.committedBatches(spark, s"$root/docs") == before,
      "a committed batch must not step the state again")
    assert(spark.read.parquet(outDir).count() == nOut,
      "a committed batch must not append output again")
  }

  test("streamed host-capped curation: budget enforced across drops; host-less schema refused at start") {
    val root = initHostRoot()
    val inDir = tmp("curstream-hin"); val outDir = tmp("curstream-hout")
    val ckDir = tmp("curstream-hck")
    // preflight: a lake with host counters must refuse a host-less stream
    // BEFORE starting (a schema failure inside batch 0 would crash-loop
    // behind its already-written intent)
    intercept[IllegalArgumentException] {
      CurationStream.runAvailable(spark, inDir, root, outDir, ckDir, specCfg)
    }
    // history holds 67/67/66 docs on hosts h0/h1/h2 — cap 67 leaves budget
    // for exactly ONE more curated h2 arrival, nothing on h0/h1
    val cfg = specCfg.copy(hostCapN = Some(67))
    withHost(d1).coalesce(1).write.mode("append").parquet(inDir)
    CurationStream.runAvailable(spark, inDir, root, outDir, ckDir, cfg,
      withHost = true)
    val out1 = spark.read.parquet(outDir)
    assert(out1.count() == 1, "exactly one admission fits under the cap")
    assert(out1.select("doc_id").as[Long].head() % 3 == 2,
      "the admission must be on the one host with budget (h2)")
    // second drop: every host saturated (h2's counter includes ALL of
    // drop 1's curated arrivals, kept or capped) — nothing admitted
    withHost(d3).coalesce(1).write.mode("append").parquet(inDir)
    CurationStream.runAvailable(spark, inDir, root, outDir, ckDir, cfg,
      withHost = true)
    assert(spark.read.parquet(outDir).count() == 1,
      "a saturated host must admit nothing in later drops")
    // counters kept growing through both drops (capped-out rows count too)
    val sums = StateLake.read(spark, s"$root/hosts")
      .groupBy("host").agg(sum("n_seen").as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sums.values.forall(_ > 66L), s"deltas must accumulate: $sums")
    assert(StateLake.committedBatches(spark, s"$root/hosts") == Seq(0, 1, 2))
  }

  test("crash after output append but before the marker: replay completes without duplicating") {
    val root = initRoot(); val outDir = tmp("curstream-out4")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mDir = new org.apache.hadoop.fs.Path(root, "_stream_commits/s")
    fs.mkdirs(mDir)
    val v0 = IncrementalCuration.lakeStateVersion(spark, root)
    val intent = new org.apache.hadoop.fs.Path(mDir, "0.intent")
    val o = fs.create(intent, true)
    try o.write(v0.toString.getBytes("UTF-8")) finally o.close()
    val surv = IncrementalCuration.stepLake(spark, root, d1,
      expectedHistoryDigests = 1 << 10, expectedHistoryLines = 1 << 14,
      expectedHistoryGrams = 1 << 17, atVersion = Some(v0))
    CurationStream.appendOut(surv, outDir, "s", 0L)
    val nOut = spark.read.parquet(outDir).count()
    // crash here: marker missing — replay must finish idempotently
    CurationStream.curateBatch(d1, 0L, root, outDir, "s", specCfg)
    assert(spark.read.parquet(outDir).count() == nOut,
      "the committed output partition must not double-append")
    assert(fs.exists(new org.apache.hadoop.fs.Path(mDir, "0")))
  }
}
