package graft.pipeline

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** The daily incremental curation step: each duplicate class dies at its
  * stage, survivors accumulate into state, and batch 2 dedups against
  * history ∪ batch-1 survivors. */
class IncrementalCurationSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val base = spark.read.parquet(s"$sfDir/documents.parquet")
    .select($"doc_id".cast("long").as("doc_id"), $"text").cache()
  private lazy val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
    .select("vec_id", "embedding").cache()

  private def mutant(src: org.apache.spark.sql.DataFrame, idOff: Long) =
    src.select(($"doc_id" + idOff).as("doc_id"),
      array_join(slice(split(trim($"text"), "\\s+"), 3, 1000000), " ").as("text"))

  test("two daily batches: every duplicate class dies, state accumulates") {
    val history = base.filter($"doc_id" < 200)
    val histEmb = embs.filter($"vec_id" < 200)
    val state0 = IncrementalCuration.init(history, Some(histEmb))

    // batch 1: fresh docs 200..279, an exact copy of history doc 7, a
    // near-mutant of history doc 30, and a within-batch exact dup pair
    val fresh1 = base.filter($"doc_id" >= 200 && $"doc_id" < 280)
    val b1 = fresh1
      .unionByName(history.filter($"doc_id" === 7)
        .select(lit(9000007L).as("doc_id"), $"text"))
      .unionByName(mutant(history.filter($"doc_id" === 30), 9000000L))
      .unionByName(base.filter($"doc_id" === 250)
        .select(lit(9000250L).as("doc_id"), $"text"))
    // embeddings for batch-1 ids: fresh docs carry their own vectors; the
    // planted copies reuse a history vector SCALED (cosine-identical →
    // semantic dup of vec 40)
    val semCopy = embs.filter($"vec_id" === 40)
      .select(lit(9000040L).as("vec_id"),
        transform($"embedding", x => x * lit(3.0f)).as("embedding"))
    val b1e = embs.filter($"vec_id" >= 200 && $"vec_id" < 280).unionByName(semCopy)
    // the semantic dup carries GENUINELY fresh text (no lexical overlap
    // with any doc) so no text-based stage can claim its kill — only the
    // embedding stage can drop it
    val b1doc = spark.range(1).select(lit(9000040L).as("doc_id"),
      lit("a completely original page describing semantic duplication where " +
        "the words share nothing with any other document in this corpus " +
        "yet the embedding is a scaled copy of vector forty").as("text"))

    val (s1, state1) = IncrementalCuration.step(state0, b1.unionByName(b1doc), Some(b1e))
    val ids1 = s1.select("doc_id").as[Long].collect().toSet
    assert(!ids1.contains(9000007L), "exact copy of history must die")
    assert(!ids1.contains(9000030L), "near-mutant of history must die")
    assert(!ids1.contains(9000250L), "within-batch exact dup must die (min id 250 wins)")
    assert(!ids1.contains(9000040L), "semantic copy (scaled embedding of vec 40) must die")
    assert(ids1.exists(id => id >= 200 && id < 280), "fresh docs must survive")

    // batch 2: fresh docs 280..339, an exact copy of a BATCH-1 survivor,
    // and a near-mutant of a batch-1 survivor
    val sv = ids1.filter(id => id >= 200 && id < 280).toSeq.sorted
    val (svA, svB) = (sv.head, sv.last)
    val b2 = base.filter($"doc_id" >= 280 && $"doc_id" < 340)
      .unionByName(base.filter($"doc_id" === svA)
        .select(lit(9100000L + svA).as("doc_id"), $"text"))
      .unionByName(mutant(base.filter($"doc_id" === svB), 9200000L))
    val (s2, state2) = IncrementalCuration.step(state1, b2, None)
    val ids2 = s2.select("doc_id").as[Long].collect().toSet
    assert(!ids2.contains(9100000L + svA), "exact copy of a batch-1 survivor must die")
    assert(!ids2.contains(9200000L + svB), "near-mutant of a batch-1 survivor must die")
    assert(ids2.exists(id => id >= 280 && id < 340), "fresh batch-2 docs must survive")

    // state accumulates exactly the survivors
    val n0 = state0.docs.count()
    assert(state1.docs.count() == n0 + s1.count())
    assert(state2.docs.count() == n0 + s1.count() + s2.count())
    // band + cell tables grew with the survivors too
    assert(state2.bands.count() > state1.bands.count())
    assert(state1.semantic.get.cells.count() >= state0.semantic.get.cells.count())
  }

  test("optional paragraph stage: history boilerplate dies line-level across surface variants") {
    val history = base.filter($"doc_id" < 50)
      .select($"doc_id", concat($"text", lit("\nShare on FACEBOOK - 1,234 Likes!!!")).as("text"))
    val state0 = IncrementalCuration.init(history, None, withLineDedup = true)
    // the batch carries a DIFFERENT surface form of the same footer — only
    // the ccnet-normalized line key can connect them
    val batch = base.filter($"doc_id" >= 100 && $"doc_id" < 130)
      .select($"doc_id", concat($"text", lit("\nshare   on facebook 0000 likes")).as("text"))
    val (s1, state1) = IncrementalCuration.step(state0, batch, None)
    val surv = s1.collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    val orig = base.filter($"doc_id" >= 100 && $"doc_id" < 130)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(surv.nonEmpty, "fresh docs must survive the chain")
    // the footer line is gone from every survivor, body lines are its own
    surv.foreach { case (id, t) =>
      assert(!t.toLowerCase.contains("facebook"), s"doc $id kept the footer")
      assert(t.split("\n").toSet.subsetOf(orig(id).split("\n").toSet),
        s"doc $id carries lines not in its original body")
    }
    // the survivors' fresh line digests accumulated into state
    assert(state1.lines.get.count() > state0.lines.get.count())
  }

  test("optional span stage: a late mirror with enough fresh text to beat near-dup dies on spans") {
    val history = base.filter($"doc_id" < 120)
    val stateOff = IncrementalCuration.init(history, None)
    val stateOn = IncrementalCuration.init(history, None, withSpanDedup = true)

    // the mirror republishes history doc 60 verbatim PLUS ~1.2x its length
    // of unrelated-but-real prose (doc 300's tokens, shuffled with a fixed
    // seed — natural word stats, no 8-gram survives the shuffle):
    // 3-shingle Jaccard vs doc 60 ≈ 0.45 < 0.5 → near-dup passes it, but
    // duplicated-span coverage ≈ 0.45 of its tokens... so the spec gates at
    // maxCutRatio = 0.3 (a deployment guarding late mirrors tunes exactly
    // this knob — coverage stays high while Jaccard dilutes)
    val src = base.filter($"doc_id" === 60).select("text").head().getString(0)
    val fillerToks = base.filter($"doc_id" === 300).select("text").head()
      .getString(0).trim.split("\\s+")
    val n = src.trim.split("\\s+").length
    val m = math.min(fillerToks.length, math.max(9, (1.2 * n).toInt))
    val filler = new scala.util.Random(42L).shuffle(fillerToks.toSeq).take(m).mkString(" ")
    val mirror = spark.range(1).select(lit(9000060L).as("doc_id"),
      lit(src.trim + " " + filler).as("text"))
    val fresh = base.filter($"doc_id" >= 200 && $"doc_id" < 230)
    val batch = fresh.unionByName(mirror)

    val cfg = Curation.Config(maxCutRatio = 0.3)
    val (sOff, _) = IncrementalCuration.step(stateOff, batch, None, cfg = cfg,
      expectedHistoryDigests = 1 << 14)
    val (sOn, stateOn1) = IncrementalCuration.step(stateOn, batch, None, cfg = cfg,
      expectedHistoryDigests = 1 << 14)
    val idsOff = sOff.select("doc_id").as[Long].collect().toSet
    val idsOn = sOn.select("doc_id").as[Long].collect().toSet
    assert(idsOff.contains(9000060L),
      "control: without the span stage the diluted mirror must survive the chain")
    assert(!idsOn.contains(9000060L),
      "the span stage must catch the mirror by its gram coverage")
    // fresh docs pass the gate in both modes; gram state accumulated
    assert(idsOn.exists(id => id >= 200 && id < 230))
    assert((idsOff - 9000060L) == idsOn, "span gate must only remove the mirror")
    assert(stateOn1.grams.get.count() > stateOn.grams.get.count())
    // the gram k is state-recorded at init and carried through steps — the
    // probe and the appends always use the k the table was built with
    val st6 = IncrementalCuration.init(history, None, withSpanDedup = true, spanK = 6)
    assert(st6.spanK == 6)
    val (_, st6b) = IncrementalCuration.step(st6, fresh, None,
      expectedHistoryDigests = 1 << 14)
    assert(st6b.spanK == 6)
  }

  test("five batches: every state append is a materialized leaf (no re-derivation)") {
    val history = base.filter($"doc_id" < 100)
    var state = IncrementalCuration.init(history, None, withSpanDedup = true)
    for (i <- 0 until 5) {
      val lo = 200 + i * 40
      val batch = base.filter($"doc_id" >= lo && $"doc_id" < lo + 40)
      state = IncrementalCuration.step(state, batch, None,
        expectedHistoryDigests = 1 << 14)._2
    }
    // the N-batch docs/bands/grams state must be a UNION OF LEAVES: any
    // Join/Aggregate/Generate/Window in its plan means some append was left
    // lazy and the next step's history joins would re-derive N batches deep
    for ((name, df) <- Seq("docs" -> state.docs, "bands" -> state.bands,
                           "grams" -> state.grams.get)) {
      val plan = df.queryExecution.optimizedPlan
      val heavy = plan.collect {
        case n if n.nodeName.matches("(?i).*(Join|Aggregate|Generate|Window).*") => n.nodeName
      }
      assert(heavy.isEmpty, s"$name state re-derives per step: $heavy\n$plan")
      assert(plan.collectLeaves().size == 6, s"$name: expected 6 leaves\n$plan")
    }
  }

  test("optional host cap: admission over the curated stream equals the no-cap run truncated per host") {
    val history = base.filter($"doc_id" < 100)
    val histHosts = history.select(
      concat(lit("h"), ($"doc_id" % 4).cast("string")).as("host"))
    val state0 = IncrementalCuration.init(history, None)
    val state0c = state0.copy(hosts =
      Some(graft.operators.IncrementalSelect.hostCapInit(histHosts, "host").localCheckpoint()))
    // 25 prior arrivals per host; cap 28 leaves 3 admission slots each
    val batch = base.filter($"doc_id" >= 200 && $"doc_id" < 240)
      .withColumn("host", concat(lit("h"), ($"doc_id" % 4).cast("string")))
    val (sOff, _) = IncrementalCuration.step(state0, batch, None)
    val (sOn, state1) = IncrementalCuration.step(state0c, batch, None, hostCapN = Some(28))
    // expected = the no-cap survivors, first (28 - 25) per host by doc_id
    val expect = sOff.select("doc_id").as[Long].collect().sorted
      .groupBy(id => id % 4).values.flatMap(_.take(3)).toSet
    val got = sOn.select("doc_id").as[Long].collect().toSet
    assert(got == expect, s"cap admission must truncate the curated stream per host")
    // arrivals (admitted or not) all counted; state hosts carried forward
    val ns = state1.hosts.get.as[(String, Long)].collect().toMap
    assert(ns.values.sum == 100L + sOff.count())
    // dedup state only holds ADMITTED docs
    assert(state1.docs.count() == 100L + got.size)
  }

  test("host-cap config errors are loud; counters persist through cap-off steps") {
    val history = base.filter($"doc_id" < 100)
    val state0 = IncrementalCuration.init(history, None)
    val batch = base.filter($"doc_id" >= 200 && $"doc_id" < 220)
      .withColumn("host", concat(lit("h"), ($"doc_id" % 4).cast("string")))
    // cap requested but hosts state never bootstrapped -> throw, not skip
    intercept[IllegalArgumentException] {
      IncrementalCuration.step(state0, batch, None, hostCapN = Some(5))
    }
    // hosts state present, cap OFF this step: arrivals still counted, so a
    // later capped step sees the full curated stream
    val hs = graft.operators.IncrementalSelect.hostCapInit(
      history.select(concat(lit("h"), ($"doc_id" % 4).cast("string")).as("host")), "host")
    val (s1, state1) = IncrementalCuration.step(
      state0.copy(hosts = Some(hs)), batch, None)
    val ns = state1.hosts.get.as[(String, Long)].collect().toMap
    assert(ns.values.sum == 100L + s1.count(),
      "cap-off step must still count curated arrivals into host state")
  }

  test("the COMPOSED step equals the full chain over history ∪ batch restricted to batch") {
    import org.apache.spark.sql.DataFrame
    val cfg = Curation.Config()
    // the full-corpus chain with the step's ccnet-normalized line stage
    // (the step's paragraph dedup keys on ccnet_normalize — stating the
    // equivalence against Curation.lineStage's raw-trim key would be false)
    def chain(df: DataFrame): DataFrame = {
      val s1 = Curation.exactStage(df)
      val s2 = graft.operators.ExactSubstring.ccnetDedupLines(s1, "doc_id", "text")
        .select($"id".as("doc_id"), $"text_dedup".as("text"))
      val s3 = Curation.neardupStage(s2, cfg.neardupThreshold)
      val s4 = Curation.substringStage(s3, cfg)
      Curation.qualityStage(s4)
    }
    // history = a FIXED POINT of the chain (an already-curated corpus —
    // the step's contract; a non-fixed-point history would be re-judged
    // by the full run but never by the step)
    val history = chain(base.filter($"doc_id" % 3 === 0)).localCheckpoint()
    val hRows = history.orderBy("doc_id").limit(2).collect()
    val (hId0, hText0) = (hRows(0).getLong(0), hRows(0).getString(1))
    val hText1 = hRows(1).getString(1)
    // batch ids all ABOVE history ids (monotonic-crawl contract); plants:
    // an exact recrawl of a history doc, a drop-3-token near-mutant of
    // another, and a within-batch exact dup pair
    val fresh = base.filter($"doc_id" % 3 =!= 0)
      .select(($"doc_id" + 10000L).as("doc_id"), $"text")
    val batch = fresh
      .unionByName(spark.range(1).select(lit(90001L).as("doc_id"), lit(hText0).as("text")))
      .unionByName(spark.range(1).select(lit(90002L).as("doc_id"),
        lit(hText1.split("\\s+").drop(3).mkString(" ")).as("text")))
      .unionByName(fresh.orderBy("doc_id").limit(1)
        .select(lit(90003L).as("doc_id"), $"text"))
    val st0 = IncrementalCuration.init(history, None,
      withLineDedup = true, withSpanDedup = true)
    val (stepOut, _) = IncrementalCuration.step(st0, batch, None,
      expectedHistoryDigests = 1 << 10, expectedHistoryLines = 1 << 14,
      expectedHistoryGrams = 1 << 17)
    val full = chain(history.unionByName(batch))
      .filter($"doc_id" >= 10000L)
    def rows(df: DataFrame) =
      df.select("doc_id", "text").as[(Long, String)].collect().toSet
    val (s, f) = (rows(stepOut), rows(full))
    assert(s == f, s"step-only: ${(s -- f).map(_._1)}; full-only: ${(f -- s).map(_._1)}")
    // the plants actually died (the fixture is live): exact recrawl,
    // near-mutant, within-batch dup
    assert(s.map(_._1).intersect(Set(90001L, 90002L, 90003L)).isEmpty)
    assert(s.exists(_._1 >= 10000L), "fresh docs must survive")
    assert(hId0 < 10000L, "fixture sanity: history ids below batch ids")
  }

  test("replaying an already-applied batch yields zero survivors (crash-replay safe)") {
    val history = base.filter($"doc_id" < 100)
    val state0 = IncrementalCuration.init(history, None)
    val batch = base.filter($"doc_id" >= 200 && $"doc_id" < 240)
    val (s1, state1) = IncrementalCuration.step(state0, batch, None)
    assert(s1.count() > 0, "first application must admit fresh docs")
    // a crashed orchestrator re-submits the same batch: every doc's digest
    // is now in state, so the exact stage kills the whole replay
    val (s2, _) = IncrementalCuration.step(state1, batch, None)
    assert(s2.count() == 0, "replay must be a no-op against updated state")
  }
}
