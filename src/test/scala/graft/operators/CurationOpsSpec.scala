package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** Semantics of the round-2 curation additions: Bloom-prefiltered
  * incremental dedup, sequence packing, exact-substring span dedup. */
class CurationOpsSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    .select("doc_id", "text").cache()

  // --- IncrementalDedup -------------------------------------------------

  private def newOnly(batch: org.apache.spark.sql.DataFrame,
                      history: org.apache.spark.sql.DataFrame, expectedItems: Long,
                      fpp: Double = 0.01, shards: Int = 1) =
    IncrementalDedup.newOnly(batch, history, "digest",
      IncrementalDedup.buildFilterArray(history, "digest", expectedItems, fpp, shards))

  test("bloom incremental dedup equals the exact anti-join") {
    val batch = docs.select($"doc_id", md5($"text").as("digest"))
    val history = batch.filter($"doc_id" % 3 === 0)
    val got = newOnly(batch, history, expectedItems = 1024)
      .df.select("doc_id").as[Long].collect().sorted
    val want = batch.join(history.select("digest").distinct(), Seq("digest"), "left_anti")
      .select("doc_id").as[Long].collect().sorted
    assert(got.sameElements(want))
    assert(got.nonEmpty && got.length < batch.count())
  }

  test("sharded bloom history (B=4) equals B=1 equals the exact anti-join") {
    val batch = docs.select($"doc_id", md5($"text").as("digest"))
    val history = batch.filter($"doc_id" % 3 === 0)
    val want = batch.join(history.select("digest").distinct(), Seq("digest"), "left_anti")
      .select("doc_id").as[Long].collect().sorted.toSeq
    for (b <- Seq(1, 4)) {
      val got = newOnly(batch, history, expectedItems = 1024, shards = b)
        .df.select("doc_id").as[Long].collect().sorted.toSeq
      assert(got == want, s"shards=$b")
    }
    // the router spreads digests across all shards (not a degenerate hash)
    // — keyed exactly as the build side keys them: xxhash64(digest)
    val keys = history.select(xxhash64($"digest")).as[Long].collect()
    val used = keys.map(IncrementalDedup.shardOf(_, 4)).distinct
    assert(used.sorted.toSeq == Seq(0, 1, 2, 3))
  }

  test("newOnly releases the filter broadcast after the action") {
    val batch = docs.select($"doc_id", md5($"text").as("digest"))
    val history = batch.filter($"doc_id" % 3 === 0)
    val pf = newOnly(batch, history, expectedItems = 1024, shards = 2)
    assert(pf.df.count() > 0)
    pf.release() // must not throw; broadcast is destroyed
    // a fresh run after release still works (new broadcast per call)
    assert(newOnly(batch, history, 1024).df.count() > 0)
  }

  test("bloom incremental dedup has no false negatives at high fpp") {
    // Even a deliberately tiny/overloaded filter may only cost extra verify
    // joins — never readmit a seen digest.
    val batch = docs.select($"doc_id", md5($"text").as("digest"))
    val history = batch.filter($"doc_id" % 2 === 0)
    val seen = history.select("digest").as[String].collect().toSet
    val out = newOnly(batch, history, expectedItems = 8, fpp = 0.5)
      .df.select("digest").as[String].collect()
    assert(out.forall(d => !seen.contains(d)))
  }

  test("incremental near-dup equals the full-corpus LSH pipeline restricted to the boundary") {
    val base = docs.limit(200)
    val history = base.filter($"doc_id" % 3 === 0)
    val mutants = base.filter($"doc_id" % 15 === 0)
      .select(($"doc_id" + 1000000L).as("doc_id"),
        array_join(slice(graft.functions.TextFunctions.tokens($"text"), 3, 1000000), " ").as("text"))
    val batch = base.filter($"doc_id" % 3 =!= 0).unionByName(mutants)
    val got = IncrementalDedup.nearCrossPairs(batch, history, "doc_id", "text")
      .filter($"jaccard" >= 0.5)
      .select("batch_id", "hist_id").as[(Long, Long)].collect().sorted.toSeq
    // reference: full corpus (batch ∪ history) through the q16 pipeline,
    // keep only pairs straddling the boundary
    val all = batch.unionByName(history)
    val histIds = history.select("doc_id").as[Long].collect().toSet
    val full = Dedup.jaccardVerify(all, "doc_id", "text",
        Dedup.candidatePairs(
          Dedup.lshBandsFast(Dedup.minhashSignaturesFast(all, "doc_id", "text"))))
      .filter($"jaccard" >= 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    val want = full.collect {
      case (a, b) if histIds.contains(a) != histIds.contains(b) =>
        if (histIds.contains(a)) (b, a) else (a, b)
    }.sorted.toSeq
    assert(got == want && got.nonEmpty)
    // and nearNewOnly is exactly the batch minus the flagged batch ids
    val flagged = got.map(_._1).toSet
    val survivors = IncrementalDedup.nearNewOnly(batch, history, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    val batchIds = batch.select("doc_id").as[Long].collect().toSet
    assert(survivors == batchIds -- flagged)
  }

  test("flood buckets never truncate the probe side: every batch duplicate is caught") {
    // 10 batch copies of one history doc all land in the SAME (band,
    // digest) buckets; with maxBucket = 2 a probe-side cap would examine
    // only 2 of them and silently admit the other 8 — the cap must apply
    // to the history (partner) side only
    val text = docs.orderBy($"doc_id").limit(1).select("text").as[String].head()
    val history = Seq((0L, text)).toDF("doc_id", "text")
    val batch = (1L to 10L).map(i => (100L + i, text)).toDF("doc_id", "text")
    val survivors = IncrementalDedup.nearNewOnly(batch, history, "doc_id", "text",
      maxBucket = 2).select("doc_id").as[Long].collect()
    assert(survivors.isEmpty,
      s"all 10 batch duplicates must be flagged, but ${survivors.length} survived")
  }

  test("nearCrossPairs accepts a precomputed (persisted) history band table") {
    val base = docs.limit(150)
    val history = base.filter($"doc_id" % 3 === 0)
    val batch = base.filter($"doc_id" % 3 =!= 0)
    val persisted = IncrementalDedup.bandTable(history, "doc_id", "text")
    def res(hb: Option[org.apache.spark.sql.DataFrame]) =
      IncrementalDedup.nearCrossPairs(batch, history, "doc_id", "text", historyBands = hb)
        .collect().map(_.toString).sorted.toSeq
    assert(res(Some(persisted)) == res(None))
  }

  // --- Packing ----------------------------------------------------------

  test("sequence packing: offsets are contiguous per shard and chunks respect the budget origin") {
    val packed = Packing.packSequences(
      docs.select($"doc_id", graft.functions.TextFunctions.tokenCount($"text").as("n_tokens")),
      $"doc_id", $"n_tokens", budget = 128, nShards = 4)
      .select("doc_id", "shard", "n_tokens", "start_off", "seq_id")
      .collect()
    val byShard = packed.groupBy(_.getAs[Long]("shard"))
    assert(byShard.size == 4)
    for ((_, rows) <- byShard) {
      val sorted = rows.sortBy(_.getAs[Long]("doc_id"))
      var off = 0L
      for (r <- sorted) {
        assert(r.getAs[Long]("start_off") == off, s"offset gap at doc ${r.getAs[Long]("doc_id")}")
        assert(r.getAs[Long]("seq_id") == off / 128)
        off += r.getAs[Int]("n_tokens")
      }
    }
  }

  test("sequence packing is invariant to input partition layout") {
    val base = docs.select($"doc_id", graft.functions.TextFunctions.tokenCount($"text").as("n_tokens"))
    def run(df: org.apache.spark.sql.DataFrame) =
      Packing.packSequences(df, $"doc_id", $"n_tokens", budget = 64, nShards = 8)
        .select("doc_id", "seq_id").as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(run(base) == run(base.repartition(13)))
  }

  test("sequence stats account for every token exactly once") {
    val withTok = docs.select($"doc_id", graft.functions.TextFunctions.tokenCount($"text").as("n_tokens"))
    val packed = Packing.packSequences(withTok, $"doc_id", $"n_tokens", 256, 4)
    val statsTotal = Packing.sequenceStats(packed, $"n_tokens")
      .agg(sum("n_tokens")).head().getLong(0)
    val rawTotal = withTok.agg(sum("n_tokens")).head().getLong(0)
    assert(statsTotal == rawTotal)
  }

  // --- weightedRepeat (data mixture) --------------------------------------

  test("weighted repeat realizes fractional epoch rates and stays deterministic") {
    val src = docs.select($"doc_id", when($"doc_id" % 2 === 0, "up").otherwise("down").as("source"))
    def run(df: org.apache.spark.sql.DataFrame) =
      Sampling.weightedRepeat(df, $"source", $"doc_id",
        Map("up" -> 2.5, "down" -> 0.4), default = 1.0, salt = "t")
    val out = run(src).groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val nUp = src.filter($"source" === "up").count()
    val nDown = src.count() - nUp
    assert(math.abs(out("up").toDouble / nUp - 2.5) < 0.2, out.toString)
    assert(math.abs(out("down").toDouble / nDown - 0.4) < 0.2, out.toString)
    // integer part is guaranteed per-row: every 'up' doc appears ≥ 2 times
    val minUp = run(src).filter($"source" === "up").groupBy("doc_id").count()
      .agg(min("count")).head().getLong(0)
    assert(minUp >= 2)
    // layout-invariant
    assert(run(src).select("doc_id", "copy").as[(Long, Long)].collect().sorted.toSeq ==
      run(src.repartition(7)).select("doc_id", "copy").as[(Long, Long)].collect().sorted.toSeq)
  }

  // --- group-stable split (leakage hygiene) -------------------------------

  test("group split never straddles a host across splits") {
    import graft.functions.{TextFunctions => TFn}
    val pages = docs.select($"doc_id",
      concat(lit("host-"), ($"doc_id" % 37).cast("string")).as("host"))
    val b = pmod(TFn.hash60(concat($"host", lit("|split1"))), lit(10000))
    val assigned = pages.withColumn("split",
      when(b < 8000, "train").when(b < 9000, "valid").otherwise("test"))
    val splitsPerHost = assigned.groupBy("host")
      .agg(countDistinct("split").as("n")).agg(max("n")).head().getLong(0)
    assert(splitsPerHost == 1L, "a host must belong to exactly one split")
    assert(assigned.select("split").distinct().count() >= 2)
  }

  // --- ExactSubstring ---------------------------------------------------

  private val corpus = Seq(
    // doc 1 and doc 2 share the 8-token span "a b c d e f g h"
    (1L, "a b c d e f g h x1 y1 z1 w1"),
    (2L, "p2 q2 a b c d e f g h r2 s2"),
    (3L, "unique tokens only here nothing shared at all today")
  ).toDF("doc_id", "text")

  test("exact-substring: canonical occurrence survives, the other is cut") {
    val st = ExactSubstring.stats(corpus, "doc_id", "text", k = 8)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("n_spans"), r.getAs[Long]("n_cut"))).toMap
    assert(st(1L) == (0L, 0L))      // doc 1 holds the canonical (min id,pos)
    assert(st(2L) == (1L, 8L))      // doc 2's copy is one 8-token span
    assert(st(3L) == (0L, 0L))
  }

  test("exact-substring scrub removes exactly the duplicated span tokens") {
    val out = ExactSubstring.scrub(corpus, "doc_id", "text", k = 8)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("text_dedup")).toMap
    assert(out(1L) == "a b c d e f g h x1 y1 z1 w1")
    assert(out(2L) == "p2 q2 r2 s2")
    assert(out(3L) == "unique tokens only here nothing shared at all today")
  }

  test("exact-substring: overlapping duplicated spans union, not double-count") {
    // 10 shared tokens ⇒ three overlapping duplicated 8-grams in doc 2,
    // covering exactly 10 tokens once unioned.
    val c2 = Seq(
      (1L, "a b c d e f g h i j t1 t2"),
      (2L, "u1 a b c d e f g h i j u2")
    ).toDF("doc_id", "text")
    val st = ExactSubstring.stats(c2, "doc_id", "text", k = 8)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("n_cut")).toMap
    assert(st(2L) == 10L)
    assert(st(1L) == 0L)
  }

  test("line dedup keeps first occurrence, drops boilerplate above maxDf everywhere") {
    val c = Seq(
      (1L, "alpha one\nshared boilerplate\nbeta one"),
      (2L, "alpha two\nshared boilerplate\nbeta two"),
      (3L, "  shared boilerplate  \ngamma three") // trimmed key matches too
    ).toDF("doc_id", "text")
    val out = ExactSubstring.dedupLines(c, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("n_lines_kept"), r.getAs[String]("text_dedup"))).toMap
    assert(out(1L) == (3L, "alpha one\nshared boilerplate\nbeta one"))
    assert(out(2L) == (2L, "alpha two\nbeta two"))
    assert(out(3L) == (1L, "gamma three"))
    // with maxDf 2 the 3-doc boilerplate is dropped everywhere, doc 1 included
    val capped = ExactSubstring.dedupLines(c, "doc_id", "text", maxDf = 2)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("text_dedup")).toMap
    assert(capped(1L) == "alpha one\nbeta one")
  }

  test("ccnet line dedup collapses case/digit/punct boilerplate variants; originals kept verbatim") {
    val c = Seq(
      (1L, "Unique alpha\nShare on FACEBOOK - 1,234 Likes!!!"),
      (2L, "Unique beta\nshare   on facebook 0000 likes"),
      (3L, "Unique gamma\nSHARE ON FACEBOOK — 5,678 likes") // digit-fold is per-digit: 4 digits → 0000
    ).toDF("doc_id", "text")
    val out = ExactSubstring.ccnetDedupLines(c, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("text_dedup")).toMap
    // all three footers share one normalized key → survive only in doc 1,
    // and doc 1 keeps its ORIGINAL bytes, not the normalized form
    assert(out(1L) == "Unique alpha\nShare on FACEBOOK - 1,234 Likes!!!")
    assert(out(2L) == "Unique beta")
    assert(out(3L) == "Unique gamma")
    // plain dedupLines would NOT collapse them (different raw bytes)
    val plain = ExactSubstring.dedupLines(c, "doc_id", "text")
      .agg(org.apache.spark.sql.functions.sum("n_lines_kept")).head().getLong(0)
    assert(plain == 6L)
  }

  test("incremental line dedup drops batch lines whose normalized key is in history") {
    val hist = Seq((1L, "alpha\nShare on FACEBOOK - 1,234 Likes!!!")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "fresh prose\nshare   on facebook 0000 likes"), // variant of known footer
      (11L, "SHARE ON FACEBOOK — 5,678 likes")               // every line known → doc drops out
    ).toDF("doc_id", "text")
    val histD = IncrementalDedup.lineDigests(hist, "doc_id", "text").select("line_digest")
    val out = IncrementalDedup.newLinesOnly(batch, histD, "doc_id", "text",
        IncrementalDedup.buildFilterArray(histD, "line_digest", 1024, shards = 2))
      .df.collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("text_dedup")).toMap
    assert(out == Map(10L -> "fresh prose"))
  }

  test("BPE-budget packing: offsets are exact prefix sums of subword lengths per shard") {
    import graft.functions.BpeEncodeExpression.bpe_encode
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")
    val model = BpeVocab.fit(docs, "text", nMerges = 64, maxWords = 4096)
    val packed = Packing.packSequences(
        docs.select($"doc_id", size(bpe_encode($"text", model)).as("n_bpe")),
        $"doc_id", $"n_bpe", budget = 512, nShards = 8)
      .select("doc_id", "shard", "n_bpe", "start_off", "seq_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3), r.getLong(4)))
    // recompute the prefix sums independently per shard in plain Scala
    for ((_, rows) <- packed.groupBy(_._2)) {
      var off = 0L
      for ((id, _, n, start, seq) <- rows.sortBy(_._1)) {
        assert(start == off, s"doc $id: start_off $start, expected prefix sum $off")
        assert(seq == start / 512, s"doc $id: seq_id $seq for offset $start")
        off += n
      }
    }
    // subword lengths differ from whitespace counts (the reason to pack by BPE)
    val diverges = docs.select($"doc_id",
        size(bpe_encode($"text", model)).as("n_bpe"),
        graft.functions.TextFunctions.tokenCount($"text").as("n_words"))
      .filter($"n_bpe" =!= $"n_words").count()
    assert(diverges > 0, "fixture must exercise subword != word counts")
  }

  test("span dedup keeps first occurrence of a duplicated 3-sentence window") {
    val c = Seq(
      (1L, "One a. Two b. Three c. Tail a."),
      (2L, "Intro b! One a. Two b. Three c. End b?"),
      (3L, "Just two. Sentences here.") // < 3 sentences: no windows, untouched
    ).toDF("doc_id", "text")
    val out = ExactSubstring.dedupSpans(c, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Int]("n_sentences"), r.getAs[Int]("n_kept"),
          r.getAs[String]("text_dedup"))).toMap
    assert(out(1L) == (4, 4, "One a. Two b. Three c. Tail a."))
    // the shared (One, Two, Three) window at pos 2 cuts sentences 2-4
    assert(out(2L) == (5, 2, "Intro b! End b?"))
    assert(out(3L) == (2, 2, "Just two. Sentences here."))
  }

  test("span dedup cuts within-document repeats and floods above maxDf") {
    val rep = Seq((7L, "X. Y. Z. X. Y. Z. W.")).toDF("doc_id", "text")
    val out = ExactSubstring.dedupSpans(rep, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Int]("n_kept"), r.getAs[String]("text_dedup"))).toMap
    // (X,Y,Z) repeats at pos 4: sentences 4-6 cut, trailing W survives
    assert(out(7L) == (4, "X. Y. Z. W."))
    // three copies of one span with maxDf = 2: boilerplate, no canonical kept
    val c = Seq(
      (1L, "Dup one. Dup two. Dup three."),
      (2L, "Dup one. Dup two. Dup three."),
      (3L, "Dup one. Dup two. Dup three. Plus own tail.")
    ).toDF("doc_id", "text")
    val capped = ExactSubstring.dedupSpans(c, "doc_id", "text", maxDf = 2)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Int]("n_kept"), r.getAs[String]("text_dedup"))).toMap
    assert(capped(1L) == (0, ""))
    assert(capped(2L) == (0, ""))
    // doc 3: pos-1 window flooded (cut), pos-2 window (two,three,tail) unique
    // but its sentences 2-3 are already covered by the flooded window
    assert(capped(3L) == (1, "Plus own tail."))
  }

  test("C4 line filter keeps terminal-punctuated >=3-word lines, rebuilds in order") {
    val c = Seq(
      (1L, "A proper first sentence here.\nHome | About\nOk.\nShe said \"stop\"\nEnds with a question?"),
      (2L, "no terminal punct at all\nAccept cookies"),
      (3L, "  padded but fine sentence.  \nshort.")
    ).toDF("doc_id", "text")
    val out = ExactSubstring.c4LineFilter(c, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Int]("n_lines"), r.getAs[Int]("n_lines_kept"), r.getAs[String]("text_filtered"))).toMap
    // doc 1: sentence (kept), nav (no punct), Ok. (1 word), quote-ending
    // 3-worder (kept), question (kept) — order preserved
    assert(out(1L) == (5, 3,
      "A proper first sentence here.\nShe said \"stop\"\nEnds with a question?"))
    assert(out(2L) == (2, 0, ""))
    // trailing spaces: the trim applies to the TEST, the original line is kept
    assert(out(3L) == (2, 1, "  padded but fine sentence.  "))
  }

  test("C4 line filter: CRLF line endings split cleanly, lone CR does not fake a match") {
    val c = Seq(
      (1L, "Windows sentence number one.\r\nAnd a second windows line.\r\nno punct"),
      // a LONE trailing \r is not consumed by the \r?\n split; the \z anchor
      // must refuse it (Java's $ would match before the final \r)
      (2L, "ends with stray carriage return.\r")
    ).toDF("doc_id", "text")
    val out = ExactSubstring.c4LineFilter(c, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Int]("n_lines"), r.getAs[Int]("n_lines_kept"), r.getAs[String]("text_filtered"))).toMap
    assert(out(1L) == (3, 2, "Windows sentence number one.\nAnd a second windows line."))
    assert(out(2L) == (1, 0, ""))
  }

  test("exact-substring differential fuzz vs brute-force reference") {
    val k = 3
    val rnd = new scala.util.Random(20260816L)
    for (trial <- 1 to 5) {
      // small vocab + short docs ⇒ organic duplicated spans
      val corpus = (1L to 30L).map { id =>
        val n = 4 + rnd.nextInt(12)
        (id, Seq.fill(n)("t" + rnd.nextInt(6)).mkString(" "))
      }
      // brute force: positional k-grams, global canonical, interval union
      val occ = corpus.flatMap { case (id, text) =>
        val w = text.split("\\s+")
        (0 to w.length - k).map(i => ((id, i + 1), w.slice(i, i + k).mkString(" ")))
      }
      val byGram = occ.groupBy(_._2)
      val cuts = occ.collect {
        case ((id, pos), g) if byGram(g).size > 1 && byGram(g).map(_._1).min != ((id, pos)) =>
          (id, pos)
      }
      val want = corpus.map { case (id, text) =>
        val ps = cuts.filter(_._1 == id).map(_._2).sorted
        val covered = ps.foldLeft((0L, 0)) { case ((acc, hi), p) =>
          (acc + math.min(k, math.max(0, p + k - math.max(hi, p))), math.max(hi, p + k))
        }._1
        id -> (ps.size.toLong, covered)
      }.toMap
      val got = ExactSubstring.stats(corpus.toDF("doc_id", "text"), "doc_id", "text",
          k = k, maxDf = 1000)
        .collect().map(r => r.getAs[Long]("id") ->
          (r.getAs[Long]("n_spans"), r.getAs[Long]("n_cut"))).toMap
      assert(got == want, s"trial $trial: ${got.toSeq.sorted} vs ${want.toSeq.sorted}")
    }
  }

  test("exact-substring: boilerplate above maxDf is cut everywhere (no canonical)") {
    val many = (1L to 6L).map(i => (i, s"x$i start boiler plate text shared by all docs end y$i"))
      .toDF("doc_id", "text")
    val st = ExactSubstring.stats(many, "doc_id", "text", k = 8, maxDf = 4)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("n_cut")).toMap
    // the shared 9-token middle (2 overlapping 8-grams, union = 9 tokens)
    // appears 6 > maxDf times ⇒ all 6 docs cut it, canonical included
    assert((1L to 6L).forall(i => st(i) == 9L), st.toString)
  }

  // --- Incremental exact-substring (span) dedup ---------------------------

  test("incremental span stats equal the full-corpus stats over union, restricted to the batch") {
    // history: every doc; batch: suffix mutants (cross-boundary span shares)
    // plus a within-batch duplicated footer — both cut classes exercised,
    // for B=1 and the sharded Bloom path
    val hist = docs.limit(200)
    val batch = hist.filter($"doc_id" % 5 === 0)
      .select(($"doc_id" + 1000000L).as("doc_id"),
        concat(array_join(slice(split(lower(trim($"text")), "\\s+"), 3, 1000000), " "),
          when($"doc_id" % 10 === 0,
              lit(" batch only footer span repeated across several fresh pages today"))
            .otherwise(lit(""))).as("text"))
    val want = ExactSubstring.stats(hist.unionByName(batch), "doc_id", "text",
        k = 8, maxDf = 64)
      .filter($"id" >= 1000000L)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("n_spans"), r.getAs[Long]("n_cut"))).sortBy(_._1).toSeq
    val grams = IncrementalDedup.spanGramTable(hist, "doc_id", "text")
    for (b <- Seq(1, 2)) {
      val got = IncrementalDedup.incrSpanStats(batch, grams, "doc_id", "text",
          k = 8, maxDf = 64,
          filters = IncrementalDedup.buildFilterArray(
            grams.select(IncrementalDedup.gramDigest), "g_digest", 1 << 16, shards = b))
        .df.collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("n_spans"), r.getAs[Long]("n_cut"))).sortBy(_._1).toSeq
      assert(got == want, s"shards=$b")
    }
    // the fixture really exercises both classes: some batch doc has cuts,
    // and the batch-only footer produced within-batch (non-history) cuts
    assert(want.exists(_._4 > 0))
  }

  test("spanGramTable is distinct-gram grain with the min (id, pos) canonical") {
    val d = Seq(
      (1L, "a b c d e f g h i"),       // grams at pos 1,2
      (2L, "a b c d e f g h tail")     // pos-1 gram duplicates doc 1's
    ).toDF("doc_id", "text")
    val g = IncrementalDedup.spanGramTable(d, "doc_id", "text", k = 8)
      .collect().map(r => (r.getAs[Long]("g"), r.getAs[Long]("first_id"),
        r.getAs[Int]("first_pos").toLong))
    assert(g.length == 3, g.mkString(", ")) // abc..h, bcd..i, bcd..tail — distinct
    assert(g.map(_._1).distinct.length == 3)
    // the shared pos-1 gram canonicalizes to doc 1 (min id); doc 2 owns
    // only its unique tail gram
    assert(g.count { case (_, id, pos) => id == 1L && pos == 1L } == 1)
    assert(g.count(_._2 == 1L) == 2 && g.count(_._2 == 2L) == 1, g.mkString(", "))
  }

  test("incremental span stats: a fresh batch doc with no shared grams reports zero cuts") {
    val hist = docs.limit(50)
    val batch = Seq((5000000L,
      "entirely fresh prose never crawled before with its own distinct vocabulary " +
      "spanning more than eight unique tokens easily")).toDF("doc_id", "text")
    val grams = IncrementalDedup.spanGramTable(hist, "doc_id", "text")
    val row = IncrementalDedup.incrSpanStats(batch, grams, "doc_id", "text",
        k = 8, maxDf = 64,
        filters = IncrementalDedup.buildFilterArray(
          grams.select(IncrementalDedup.gramDigest), "g_digest", 1 << 16))
      .df.collect()
    assert(row.length == 1 && row.head.getAs[Long]("n_cut") == 0L)
    assert(row.head.getAs[Double]("cut_ratio") == 0.0)
  }
}
