package graft.pipeline

import graft.SparkSpecBase
import graft.sources.StateLake
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Lake-backed incremental curation: stepLake ≡ step, crash-recoverable
  * multi-table commits, bucket-pruned history reads. */
class LakeIncrementalSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val base = spark.read.parquet(s"$sfDir/documents.parquet")
    .select($"doc_id".cast("long").as("doc_id"), $"text").cache()
  private lazy val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
    .select("vec_id", "embedding").cache()

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("lakeincr").toString + "/state"

  private def mutant(src: DataFrame, idOff: Long) =
    src.select(($"doc_id" + idOff).as("doc_id"),
      array_join(slice(split(trim($"text"), "\\s+"), 3, 1000000), " ").as("text"))

  private lazy val history = base.filter($"doc_id" < 200)
  private lazy val histEmb = embs.filter($"vec_id" < 200)
  // fresh docs, an exact recrawl of history doc 7, a near-mutant of history
  // doc 30, a within-batch exact dup — every duplicate class planted
  private lazy val batch = base.filter($"doc_id" >= 200 && $"doc_id" < 280)
    .unionByName(history.filter($"doc_id" === 7)
      .select(lit(9000007L).as("doc_id"), $"text"))
    .unionByName(mutant(history.filter($"doc_id" === 30), 9000000L))
    .unionByName(base.filter($"doc_id" === 250)
      .select(lit(9000250L).as("doc_id"), $"text"))
  private lazy val batchEmb =
    embs.filter($"vec_id" >= 200 && $"vec_id" < 280)

  private def ids(df: DataFrame): Set[Long] =
    df.select("doc_id").as[Long].collect().toSet

  test("monotone-id contract: a batch reusing history ids is refused loudly") {
    val root = tmp()
    IncrementalCuration.initLake(history, None, root)
    val bad = base.filter($"doc_id" >= 100 && $"doc_id" < 150) // overlaps history
    val e = intercept[IllegalArgumentException] {
      IncrementalCuration.stepLake(spark, root, bad,
        expectedHistoryDigests = 1 << 10)
    }
    assert(e.getMessage.contains("monotone"), e.getMessage)
    // a compliant batch on the same lake still steps
    val ok = IncrementalCuration.stepLake(spark, root,
      base.filter($"doc_id" >= 200 && $"doc_id" < 220),
      expectedHistoryDigests = 1 << 10)
    assert(ids(ok).nonEmpty)
  }

  test("a zero-survivor batch (all exact recrawls) does not break later steps") {
    val root = tmp()
    IncrementalCuration.initLake(history, None, root)
    // every row an exact recrawl of a history doc → zero survivors → the
    // docs append for batch 1 commits with NO data files; the monotone-id
    // guard's backward scan must skip it (spark.read.parquet on a
    // data-less dir throws UNABLE_TO_INFER_SCHEMA)
    val recrawls = history.filter($"doc_id" < 40)
      .select(($"doc_id" + 1000000L).as("doc_id"), $"text")
    val dead = IncrementalCuration.stepLake(spark, root, recrawls,
      expectedHistoryDigests = 1 << 10)
    assert(ids(dead).isEmpty)
    assert(!StateLake.batchHasData(spark, s"$root/docs", 1))
    // the next day still steps, and the guard still sees through the empty
    // append to the bootstrap ids: a non-monotone batch is still refused
    val e = intercept[IllegalArgumentException] {
      IncrementalCuration.stepLake(spark, root,
        base.filter($"doc_id" >= 100 && $"doc_id" < 120),
        expectedHistoryDigests = 1 << 10)
    }
    assert(e.getMessage.contains("monotone"), e.getMessage)
    val ok = IncrementalCuration.stepLake(spark, root,
      base.filter($"doc_id" >= 200 && $"doc_id" < 220)
        .select(($"doc_id" + 2000000L).as("doc_id"), $"text"),
      expectedHistoryDigests = 1 << 10)
    assert(ids(ok).nonEmpty)
  }

  test("monotone-id guard: annotation fast path matches the legacy data-scan fallback") {
    val root = tmp()
    IncrementalCuration.initLake(history, None, root)
    // the bootstrap append carries its max doc_id as an annotation
    assert(StateLake.batchAnnotation(spark, s"$root/docs", 0, "maxDocId")
      .exists(_.toLong == history.agg(max("doc_id")).head().getLong(0)))
    // a lake written BEFORE annotations existed (annotation files absent)
    // must still guard correctly through the data-scan fallback
    for (b <- StateLake.committedBatches(spark, s"$root/docs")) {
      val p = new org.apache.hadoop.fs.Path(
        s"$root/docs/batch=$b%06d".format(b), "_annotations.properties")
      val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      f.delete(new org.apache.hadoop.fs.Path(
        f"$root/docs/batch=$b%06d/_annotations.properties"), false)
    }
    assert(StateLake.batchAnnotation(spark, s"$root/docs", 0, "maxDocId").isEmpty)
    val e = intercept[IllegalArgumentException] {
      IncrementalCuration.stepLake(spark, root,
        base.filter($"doc_id" >= 100 && $"doc_id" < 120), // overlaps history
        expectedHistoryDigests = 1 << 10)
    }
    assert(e.getMessage.contains("monotone"), e.getMessage)
    val ok = IncrementalCuration.stepLake(spark, root,
      base.filter($"doc_id" >= 200 && $"doc_id" < 220),
      expectedHistoryDigests = 1 << 10)
    assert(ids(ok).nonEmpty)
  }

  test("stepLake equals the in-memory step, state tables round-trip exactly") {
    val root = tmp()
    // in-memory reference: all state classes on
    val st0 = IncrementalCuration.init(history, Some(histEmb),
      withLineDedup = true, withSpanDedup = true)
    // expected sizes pinned to the fixture — the 2^20-doc defaults size
    // gram-grain Blooms for a million-doc history (hundreds of MB)
    val (sMem, st1) = IncrementalCuration.step(st0, batch, Some(batchEmb),
      expectedHistoryDigests = 1 << 10, expectedHistoryLines = 1 << 14,
      expectedHistoryGrams = 1 << 17)

    IncrementalCuration.initLake(history, Some(histEmb), root,
      withLineDedup = true, withSpanDedup = true)
    val sLake = IncrementalCuration.stepLake(spark, root, batch, Some(batchEmb),
      expectedHistoryDigests = 1 << 10, expectedHistoryLines = 1 << 14,
      expectedHistoryGrams = 1 << 17)

    assert(ids(sLake) == ids(sMem), "survivor sets must agree")
    // dedup plants actually died (the fixture is live, not vacuous)
    assert(!ids(sLake).contains(9000007L) && !ids(sLake).contains(9000030L)
      && !ids(sLake).contains(9000250L))

    // every state table content-identical to the in-memory next state
    val lake1 = IncrementalCuration.loadLake(spark, root)
    def docSet(df: DataFrame) =
      df.select("doc_id", "digest").as[(Long, String)].collect().toSet
    assert(docSet(lake1.docs) == docSet(st1.docs))
    def bandSet(df: DataFrame) =
      df.select("id", "band", "band_digest").as[(Long, Long, Long)]
        .collect().toSet
    assert(bandSet(lake1.bands) == bandSet(st1.bands))
    assert(lake1.lines.get.select("line_digest").as[String].collect().toSet ==
      st1.lines.get.select("line_digest").as[String].collect().toSet)
    def gramSet(df: DataFrame) =
      df.select("g", "first_id", "first_pos").as[(Long, Long, Int)]
        .collect().toSet
    assert(gramSet(lake1.grams.get) == gramSet(st1.grams.get))
    def cellSet(df: DataFrame) =
      df.select("id", "cell").as[(Long, Int)].collect().toSet
    assert(cellSet(lake1.semantic.get.cells) == cellSet(st1.semantic.get.cells))
    assert(lake1.semantic.get.centroids.map(_.toSeq).toSeq ==
      st1.semantic.get.centroids.map(_.toSeq).toSeq,
      "frozen centroids must round-trip bit-exactly")
  }

  test("crash between per-table commits: replaying the same batch heals the state") {
    val rootA = tmp(); val rootB = tmp()
    for (r <- Seq(rootA, rootB))
      IncrementalCuration.initLake(history, None, r, withLineDedup = true)
    val sA = IncrementalCuration.stepLake(spark, rootA, batch)
    // crash simulation on B: run the step, then tear out three of the
    // component commits (bands + lines + the lines Bloom sidecar) as if
    // the process died mid-commit
    IncrementalCuration.stepLake(spark, rootB, batch)
    for (t <- Seq("bands", "lines", "lines_bloom")) {
      val d = new java.io.File(s"$rootB/$t/batch=000001")
      assert(d.isDirectory, s"$t batch dir must exist before the tear")
      org.apache.commons.io.FileUtils.deleteDirectory(d)
    }
    // the daily contract: re-invoke with the SAME batch
    val sB = IncrementalCuration.stepLake(spark, rootB, batch)
    assert(ids(sB) == ids(sA), "replay must re-derive the identical survivors")
    assert(StateLake.committedBatches(spark, s"$rootB/lines_bloom") == Seq(0, 1),
      "the torn Bloom sidecar commit must heal too")
    for (t <- Seq("docs", "bands", "lines")) {
      val a = StateLake.read(spark, s"$rootA/$t")
      val b = StateLake.read(spark, s"$rootB/$t")
      assert(a.count() == b.count(), s"$t row counts must heal")
      assert(StateLake.committedBatches(spark, s"$rootB/$t") == Seq(0, 1))
      val cols = a.columns.filterNot(Set("batch", "bucket")).sorted
      val aSet = a.select(cols.map(col): _*).collect().map(_.toString).toSet
      val bSet = b.select(cols.map(col): _*).collect().map(_.toString).toSet
      assert(aSet == bSet, s"$t contents must equal the uninterrupted run")
    }
  }

  test("a lake step's plans evaluate each kernel at most once per row") {
    // the text stages, then the semantic stage (cell assignment) too
    for (emb <- Seq(None, Some(histEmb))) {
      val root = tmp()
      IncrementalCuration.initLake(history, emb, root, withLineDedup = true,
        withSpanDedup = true)
      val (survivors, plans, violations) = graft.PlanInvariant.check(spark) {
        ids(IncrementalCuration.stepLake(spark, root, batch, emb.map(_ => batchEmb)))
      }
      assert(plans > 0)
      assert(violations.isEmpty, violations.mkString("\n"))
      assert(!survivors.contains(9000007L) && survivors.exists(id => id >= 200 && id < 280))
    }
  }

  test("a later step dedups against lake state accumulated by earlier steps") {
    val root = tmp()
    IncrementalCuration.initLake(history, None, root)
    val s1 = IncrementalCuration.stepLake(spark, root, batch)
    val sv = ids(s1).filter(id => id >= 200 && id < 280).toSeq.sorted
    val (svA, svB) = (sv.head, sv.last)
    val b2 = base.filter($"doc_id" >= 280 && $"doc_id" < 340)
      .unionByName(base.filter($"doc_id" === svA)
        .select(lit(9100000L + svA).as("doc_id"), $"text"))
      .unionByName(mutant(base.filter($"doc_id" === svB), 9200000L))
    val s2 = IncrementalCuration.stepLake(spark, root, b2)
    assert(!ids(s2).contains(9100000L + svA),
      "exact copy of a step-1 survivor must die against lake state")
    assert(!ids(s2).contains(9200000L + svB),
      "near-mutant of a step-1 survivor must die against lake state")
    assert(ids(s2).exists(id => id >= 280 && id < 340))
    assert(StateLake.committedBatches(spark, s"$root/docs") == Seq(0, 1, 2))
  }

  test("a small batch's history reads are bucket-pruned (no line dedup — raw-text keys are the probe keys)") {
    val root = tmp()
    // bands pruning is only SOUND without line dedup (with it on, the
    // near-dup stage probes bands of REWRITTEN text — see the mutant test
    // below); this lake prunes, the line-dedup one reads whole
    IncrementalCuration.initLake(history, None, root, nBuckets = 32)
    // two docs probe a handful of band buckets out of 32
    val tiny = base.filter($"doc_id".isin(400L, 401L))
    IncrementalCuration.stepLake(spark, root, tiny)
    import graft.operators.IncrementalDedup
    val tinyText = tiny.select($"doc_id", $"text")
    val bandBuckets = StateLake.probedBuckets(
      IncrementalDedup.bandTable(tinyText, "doc_id", "text"),
      "band_digest", 32)
    val (hit, total) = StateLake.pruneStats(spark, s"$root/bands",
      bandBuckets.distinct)
    assert(hit < total,
      s"a 2-doc batch must not scan the whole band table ($hit/$total files)")
  }

  test("line-dedup lake: a trickle near-mutant hidden behind known boilerplate still dies") {
    val root = tmp()
    IncrementalCuration.initLake(history, None, root, withLineDedup = true)
    // batch doc = a line the line history already holds (history doc 50's
    // whole text) + a near-mutant line of history doc 30. The line stage
    // strips the known line, so the near-dup stage probes MinHash bands of
    // the STRIPPED text — which match doc 30's stored bands. Bucket-pruning
    // the band read by the RAW text's band digests (a different signature:
    // the raw text mixes both docs' shingles) would miss doc 30's buckets
    // and admit the duplicate — with line dedup on, the band table must be
    // read whole.
    val boiler = history.filter($"doc_id" === 50)
      .select("text").as[String].head()
    val mut = mutant(history.filter($"doc_id" === 30), 9000000L)
      .select("text").as[String].head()
    val fresh = base.filter($"doc_id" === 400)
      .select("text").as[String].head()
    val tiny = Seq((9000030L, boiler + "\n" + mut), (9000400L, fresh))
      .toDF("doc_id", "text")
    val s = IncrementalCuration.stepLake(spark, root, tiny,
      expectedHistoryDigests = 1 << 10, expectedHistoryLines = 1 << 14)
    assert(!ids(s).contains(9000030L),
      "the stripped text is a near-dup of history doc 30 and must die")
    assert(ids(s).contains(9000400L), "the fresh doc must survive")
  }

  test("semantic lake: steps without batch embeddings still advance the state version") {
    val root = tmp()
    IncrementalCuration.initLake(history, Some(histEmb), root)
    // the streaming driver's shape: batches carry no vectors — the cells
    // table must advance by an EMPTY append or the state version (min
    // committed batch across tables) stalls at bootstrap and every later
    // step silently skips its appends while curating against frozen state
    val b1 = base.filter($"doc_id" >= 200 && $"doc_id" < 260)
    val s1 = IncrementalCuration.stepLake(spark, root, b1)
    assert(IncrementalCuration.lakeStateVersion(spark, root) == 1,
      "cells must advance with the step (empty append)")
    val sv = ids(s1).filter(id => id >= 200 && id < 260).min
    val b2 = base.filter($"doc_id" >= 260 && $"doc_id" < 300)
      .unionByName(base.filter($"doc_id" === sv)
        .select(lit(9300000L + sv).as("doc_id"), $"text"))
    val s2 = IncrementalCuration.stepLake(spark, root, b2)
    assert(!ids(s2).contains(9300000L + sv),
      "step 2 must dedup against step-1 state, not frozen bootstrap state")
    assert(StateLake.committedBatches(spark, s"$root/docs") == Seq(0, 1, 2))
    assert(StateLake.committedBatches(spark, s"$root/cells") == Seq(0, 1, 2))
  }

  test("host cap enforced through the lake hosts table, counters accumulate as deltas") {
    val root = tmp()
    val withHost = (df: DataFrame) => df.withColumn("host",
      concat(lit("h"), (col("doc_id") % 5).cast("string")))
    IncrementalCuration.initLake(history, None, root,
      hostArrivals = Some(graft.operators.IncrementalSelect.hostCapInit(
        withHost(history), "host")))
    // history already holds 40 docs per host (200/5) — cap 41 admits ONE
    // more per host, ordered by doc_id
    val b = withHost(base.filter($"doc_id" >= 200 && $"doc_id" < 240))
    val kept = IncrementalCuration.stepLake(spark, root, b, hostCapN = Some(41))
    // quality gates may drop some docs before the cap; every admitted host
    // has at most one doc, and it is the smallest CURATED doc_id of that host
    val perHost = kept.join(b.select("doc_id", "host"), Seq("doc_id"))
      .groupBy("host").agg(count(lit(1)).as("n"), min("doc_id").as("got"))
      .collect()
    assert(perHost.nonEmpty && perHost.forall(_.getLong(1) == 1L),
      "cap 41 over 40 seen = exactly one admission per host")
    // counters accumulated: host table sums to history + this batch's
    // curated arrivals (kept AND capped-out both occupy ranks)
    val sums = StateLake.read(spark, s"$root/hosts")
      .groupBy("host").agg(sum("n_seen").as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sums.values.forall(_ > 40L), s"deltas must accumulate: $sums")
    assert(StateLake.committedBatches(spark, s"$root/hosts") == Seq(0, 1))
  }
}
