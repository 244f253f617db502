package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** Incremental (cross-batch) exact dedup: keep only the rows of an incoming
  * batch whose content digest has never been seen in the historical corpus.
  *
  * The 100-TB shape of this problem is asymmetric: the incoming batch is a
  * day's crawl (≈ 10⁹ pages) but the history is the whole corpus (≈ 10¹²
  * pages). A plain anti-join shuffles BOTH sides every batch; the standard
  * production pattern is a Bloom-filter prefilter:
  *
  *   1. build a Bloom filter over the history's digests (distributed
  *      treeAggregate, one pass, no driver blowup);
  *   2. rows whose digest the filter rejects are DEFINITELY new (Bloom
  *      filters have no false negatives) — they bypass the join entirely;
  *   3. only the filter's positives (true dups + `fpp` false positives, i.e.
  *      a tiny fraction of the batch when most content is fresh) pay the
  *      exact anti-join that removes false positives.
  *
  * The result is therefore EXACTLY equal to `batch ANTI JOIN history` — the
  * Bloom pass changes the cost, not the answer — which is what the DuckDB
  * oracle (q51) checks. The paragraph ([[newLinesOnly]]) and substring-span
  * ([[crossSpanCuts]], [[incrSpanStats]]) operators below use the same
  * prefilter, the span ones through the membership dual [[seenOnly]].
  *
  * Sizing: ~1.2 GB per 10⁹ history keys at fpp=0.01. Beyond a few 10⁹ keys a
  * single broadcast filter stops fitting one task binary / one memory chunk,
  * so `shards = B > 1` hash-shards the history
  * (`floorMod(xxhash64(digest), B)` — [[buildFilterArray]], [[shardOf]]),
  * builds one filter per shard in the SAME single pass (a treeAggregate of a
  * B-slot array), and routes each batch row to its shard's filter map-side —
  * still no shuffle of the definitely-new rows, and each filter is 1/B the
  * size (the broadcast ships the array once per executor either way, but
  * per-filter bit arrays stay under JVM array / task-serialization limits;
  * at 10¹²-key scale the filter array is built per-shard-group and probed
  * by executor-side routing exactly as here).
  *
  * Every Bloom-prefiltered operator here takes its filters as an argument:
  * either built in one pass over the history ([[buildFilterArray]]) or
  * merged from the per-batch sidecars a lake-backed state persists
  * ([[graft.sources.StateLake.readBloom]]). CONTRACT: the filters must
  * cover a SUPERSET of the history's keys. A filter MISSING history keys
  * produces Bloom false negatives — those rows bypass the verify join and
  * the answer silently changes (correctness, not cost). Only OVER-full
  * filters are harmless: extra keys merely degrade fpp, so more rows pay the
  * verify join. The lake path guarantees the superset by construction — the
  * state version is the min committed batch across data tables AND Bloom
  * sidecars ([[graft.pipeline.IncrementalCuration.lakeStateVersion]]), so a
  * sidecar can never lag the table it guards.
  *
  * Broadcast lifecycle: each call broadcasts its filter array and returns
  * it with a `release()` hook ([[Prefiltered]]). A per-batch loop builds a
  * fresh multi-GB broadcast every batch; without an explicit release they
  * accumulate on the driver and executors until GC happens to collect the
  * wrapper. Call `release()` after the consuming ACTION has completed (the
  * DataFrame is lazy — releasing earlier would fail tasks that haven't
  * probed the filter yet).
  */
object IncrementalDedup {

  /** Lazy prefiltered result + explicit broadcast release hook. */
  final case class Prefiltered(df: DataFrame, release: () => Unit)

  /** Broadcast `filters` and return the `might_contain_sharded` static
    * kernel over `digestCol` against them, with the broadcast's release
    * hook. A codegen'd kernel, not a Scala UDF: it runs on every row of every incoming batch, and the
    * UDF's per-row encoder round-trip is a real tax at 10⁹-row batches
    * (PlanSpec pins zero ScalaUDF nodes here). */
  private def bloomProbe(df: DataFrame, digestCol: String,
                         filters: Array[BloomFilter]): (Column, () => Unit) = {
    val bfB = df.sparkSession.sparkContext.broadcast(filters)
    (graft.functions.BloomMightContainSharded
      .might_contain_sharded(col(digestCol), bfB), () => { bfB.destroy(); () })
  }

  /** Rows of `batch` whose `digestCol` value does not occur in
    * `history(digestCol)`. Both inputs must expose `digestCol`; `filters`
    * cover the history's digests (see the object doc's SUPERSET contract).
    * Exactly equals `batch ANTI JOIN history` — the DuckDB oracle (q51)
    * checks it. */
  def newOnly(batch: DataFrame, history: DataFrame, digestCol: String,
              filters: Array[BloomFilter]): Prefiltered = {
    val (mightContain, release) = bloomProbe(batch, digestCol, filters)
    // No distinct() on the history side: LEFT ANTI semantics are unaffected
    // by right-side duplicates, and a distinct would shuffle the ENTIRE
    // history every batch. At 10¹²-key scale the history digest table is
    // stored bucketed by digest, so the verify join moves only the suspects.
    val definitelyNew = batch.filter(!mightContain)
    val suspects = batch.filter(mightContain)
      .join(history.select(digestCol), Seq(digestCol), "left_anti")
    Prefiltered(definitelyNew.unionByName(suspects), release)
  }

  // --- Incremental NEAR-dup dedup (cross-batch MinHash-LSH) --------------

  /** The persisted history table for incremental near-dup dedup: one row
    * per (id, band, band_digest). A daily crawl pipeline appends each
    * batch's survivors here and stores it BUCKETED BY band_digest
    * ([[graft.sources.PageLake.writeBucketedTable]] discipline) so the
    * per-batch candidate join below shuffles ONLY the incoming batch's
    * bands — the 10¹²-row history never moves again.
    * `band_digest` is the 8-byte hashed form ([[Dedup.lshBandsHashed]]):
    * this table IS the history-scale exchange/persist surface the narrow
    * key exists for — the md5-hex string form moved 4× the key bytes
    * through every probe semi-join, flood-cap window, candidate join and
    * lake append (recall-safe equivalence documented there). */
  def bandTable(docs: DataFrame, idCol: String, textCol: String,
                k: Int = 16, rowsPerBand: Int = 4,
                shingleWidth: Int = 3): DataFrame =
    Dedup.lshBandsHashed(
      Dedup.minhashSignaturesFast(docs, idCol, textCol, k, shingleWidth)
        .filter(element_at(col("sigs"), 1) =!= Long.MaxValue),
      rowsPerBand, k)

  /** Cross-boundary verified near-dup pairs: for each incoming-batch doc,
    * every history doc it LSH-collides with, with the exact shingle-Jaccard
    * — the daily-crawl analogue of the full-corpus q16 pipeline, computing
    * ONLY batch×history pairs (never history×history: last month's corpus
    * was already deduped against itself).
    *
    * Equals the full-corpus candidate pipeline over batch ∪ history
    * restricted to cross-boundary pairs below the flood cap (spec-pinned;
    * ids must be disjoint across the two inputs). Scale shape: batch bands
    * are recomputed (a narrow per-row expression over the day's crawl);
    * history bands come from the persisted table; the candidate join is an
    * equi-join on (band, band_digest) — with the history side bucketed on
    * band_digest, both the cap window and the join satisfy their
    * clustering from the table layout, so only the batch side shuffles.
    *
    * Flood buckets (boilerplate band collisions): ONLY the history side is
    * rank-capped, at its `maxBucket` smallest ids — every batch doc always
    * probes (a batch doc needs just ONE verified history partner to be
    * recognized as a near-dup, so truncating the probe side would silently
    * admit duplicates; capping the partner set merely risks verifying
    * against a non-matching member of a boilerplate-flooded bucket, the
    * documented recall regime). Per-bucket pair count is bounded by
    * |batch bucket| × min(|history bucket|, maxBucket). */
  def nearCrossPairs(batch: DataFrame, history: DataFrame,
                     idCol: String, textCol: String,
                     historyBands: Option[DataFrame] = None,
                     maxBucket: Int = 4096, shingleWidth: Int = 3,
                     // precomputed batch bands (must equal
                     // bandTable(batch, idCol, textCol) rows) — the daily
                     // step derives them from its shared signature table
                     // instead of re-running the MinHash pass
                     batchBands: Option[DataFrame] = None): DataFrame = {
    import graft.functions.{TextFunctions => TF}
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("band", "band_digest").orderBy("id")
    // materialized once: the batch band table feeds hB's semi-join probe
    // set AND the candidate join, and (through cand) three more consumers —
    // left lazy, the md5-per-shingle MinHash pass over the whole batch
    // would re-run per plan subtree (the CPU-dominant stage of the step)
    val bB = batchBands
      .getOrElse(bandTable(batch, idCol, textCol, shingleWidth = shingleWidth))
      .localCheckpoint()
    // the flood-cap window runs ONLY over buckets the batch probes: the
    // history band table is 10-100x the batch and windowing all of it per
    // step dominated the step's cost (at scale the semi-join is satisfied
    // by the band table's band_digest bucketing — the history still never
    // shuffles). hB's ONLY consumer is the candidate join below, and cand
    // is materialized — so hB itself stays lazy and evaluates exactly once
    // inside cand's materialization job (an own localCheckpoint here cost
    // one extra action barrier plus a block-manager copy of the capped
    // probe set per step, for nothing: there is no second consumer).
    val hB = historyBands.getOrElse(bandTable(history, idCol, textCol,
        shingleWidth = shingleWidth))
      .join(bB.select("band", "band_digest").distinct(),
        Seq("band", "band_digest"), "left_semi")
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= maxBucket).drop("_rn")
    // candidate pairs are batch-scale and consumed three times (both
    // verify-side semi-joins + the final join) — materialize once
    val cand = bB.select(col("band"), col("band_digest"), col("id").as("batch_id"))
      .join(hB.select(col("band"), col("band_digest"), col("id").as("hist_id")),
        Seq("band", "band_digest"))
      .select("batch_id", "hist_id").distinct()
      .localCheckpoint()
    // shingles ONLY for docs that reached a candidate pair: the history is
    // 10-100x the batch, and computing (and shuffling) a ~200-element
    // shingle array for every history doc to verify a few thousand
    // candidates dominated the whole step's cost before this semi-join
    // (at scale, the id-keyed semi join is satisfied by the docs table's
    // bucketing; the non-candidate history text is never even projected)
    // sorted once per doc → zero-allocation merge-walk intersect per pair
    // (see Dedup.jaccardVerify / graft.functions.SortedIntersectFunctions.sortedIntersectCount)
    val shB = batch.select(col(idCol).cast("long").as("batch_id"), col(textCol))
      .join(cand.select("batch_id").distinct(), Seq("batch_id"), "left_semi")
      .select(col("batch_id"),
        sort_array(TF.shingleHashes(col(textCol), shingleWidth)).as("sh_a"))
    val shH = history.select(col(idCol).cast("long").as("hist_id"), col(textCol))
      .join(cand.select("hist_id").distinct(), Seq("hist_id"), "left_semi")
      .select(col("hist_id"),
        sort_array(TF.shingleHashes(col(textCol), shingleWidth)).as("sh_b"))
    cand.join(shB, "batch_id").join(shH, "hist_id")
      // |A∪B| = |A|+|B|−|A∩B| — see Dedup.jaccardVerify: a merge-walk
      // intersect count, no materialized union array (this is the dominant
      // stage of the verify join at 400k+ candidate pairs per step).
      .withColumn("_i", graft.functions.SortedIntersectFunctions
        .sorted_intersect_count(col("sh_a"), col("sh_b")))
      .withColumn("jaccard", col("_i").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("_i")))
      .select("batch_id", "hist_id", "jaccard")
  }

  /** Rows of `batch` with NO history near-duplicate at Jaccard ≥
    * `threshold` — the incremental near-dup filter a crawl pipeline runs
    * per batch (within-batch near-dups are the full-corpus operators' job:
    * candidatePairs + connectedComponents over the batch alone). */
  def nearNewOnly(batch: DataFrame, history: DataFrame,
                  idCol: String, textCol: String, threshold: Double = 0.5,
                  historyBands: Option[DataFrame] = None,
                  maxBucket: Int = 4096, shingleWidth: Int = 3,
                  batchBands: Option[DataFrame] = None): DataFrame = {
    val dupIds = nearCrossPairs(batch, history, idCol, textCol,
        historyBands, maxBucket, shingleWidth, batchBands)
      .filter(col("jaccard") >= threshold)
      .select(col("batch_id").as(idCol)).distinct()
    batch.join(dupIds, Seq(idCol), "left_anti")
  }

  // --- Incremental PARAGRAPH/LINE dedup (cross-batch) --------------------

  /** One row per line of `docs`: (id, line_no, line, line_digest), digest =
    * decimal string of the 60-bit hash of the CCNET-NORMALIZED line (case /
    * digit / punctuation variants of the same boilerplate share a digest —
    * [[graft.functions.CcnetNormalize.normalize]]). This is both the probe side of
    * [[newLinesOnly]] and the row shape a production pipeline APPENDS to
    * its persisted seen-paragraphs digest table after each batch. */
  def lineDigests(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import graft.functions.{CcnetNormalize, TextFunctions => TF}
    ExactSubstring.explodeLines(docs, idCol, textCol)
      .withColumn("line_digest",
        TF.hash60(CcnetNormalize.ccnet_normalize(col("line"))).cast("string"))
  }

  /** Cross-batch paragraph dedup (the paragraph analogue of [[newOnly]],
    * the discipline Dolma's dedup step applies with a persisted Bloom
    * filter of every paragraph ever seen): rebuild each incoming-batch
    * document with every line whose digest occurs in `historyDigests`
    * REMOVED; a document whose every line is known boilerplate drops out
    * entirely. Exactly equals lines-of-batch ANTI JOIN history (the Bloom
    * pass changes cost, not the answer — same contract as [[newOnly]],
    * and what the q83 DuckDB oracle checks).
    *
    * Scale shape: the history is line-grain (≈30× doc count) so the
    * sharded-Bloom path matters sooner than for whole-document digests —
    * definitely-new lines (the overwhelming majority of a fresh crawl's
    * prose) never shuffle; only Bloom-positive suspects pay the verify
    * join against the digest-bucketed history table. Within-batch line
    * dedup stays [[ExactSubstring.ccnetDedupLines]]'s job — this operator
    * guards the batch↔history boundary only. */
  def newLinesOnly(batch: DataFrame, historyDigests: DataFrame,
                   idCol: String, textCol: String,
                   filters: Array[BloomFilter]): Prefiltered = {
    val pf = newOnly(lineDigests(batch, idCol, textCol),
      historyDigests, "line_digest", filters)
    Prefiltered(ExactSubstring.rebuildDocs(pf.df), pf.release)
  }

  // --- Incremental EXACT-SUBSTRING (span) dedup --------------------------

  /** Membership dual of [[newOnly]]: rows of `probe` whose `digestCol`
    * value DOES occur in `history(digestCol)`. Bloom-negative rows are
    * definitely unseen (no false negatives) and never reach the join; only
    * Bloom-positive suspects pay the exact verify, here a LEFT SEMI against
    * the digest-bucketed history table (false positives die there). Result
    * exactly equals `probe SEMI JOIN history` under the same SUPERSET
    * contract as [[newOnly]] (here a false negative silently SKIPS a span
    * cut the history holds the canonical copy of). */
  def seenOnly(probe: DataFrame, history: DataFrame, digestCol: String,
               filters: Array[BloomFilter]): Prefiltered = {
    val (mightContain, release) = bloomProbe(probe, digestCol, filters)
    Prefiltered(probe.filter(mightContain)
      .join(history.select(digestCol), Seq(digestCol), "left_semi"), release)
  }

  /** One distributed pass building the B-sharded filter array over
    * `history(digestCol)` — the filters every prefiltered operator here
    * probes, and a batch's filter CONTRIBUTION when a lake-backed pipeline
    * persists it as a sidecar ([[graft.sources.StateLake.writeBloom]]).
    * Sidecar discipline: every contribution to one logical filter MUST be
    * built with the same (expectedItems, fpp, shards) — merging needs
    * identical bit-array sizes, and the shard router depends on B.
    *
    * @param expectedItems sizing hint for the filter (history digest count)
    * @param fpp           false-positive rate: fraction of genuinely-new rows
    *                      that needlessly pay the verify join
    * @param shards        B-way history sharding (B=1 → one filter) */
  def buildFilterArray(history: DataFrame, digestCol: String,
                       expectedItems: Long, fpp: Double = 0.01,
                       shards: Int = 1): Array[BloomFilter] = {
    require(shards >= 1, s"shards must be >= 1, got $shards")
    val b = shards
    val perShard = math.max(1L, expectedItems / b)
    import history.sparkSession.implicits._
    // The filter KEY is xxhash64(digest) — 8 bytes through putLong instead
    // of the digest string through putString (guide §2.3, narrower types):
    // the old path re-encoded every digest to UTF-8 and Murmur-hashed
    // 20-32 bytes per insert/probe; the long key is hashed once here by
    // codegen and probed allocation-free. The probe side (the
    // `might_contain_sharded` kernel,
    // [[graft.functions.BloomMightContainSharded.probe]]) derives the
    // IDENTICAL key via XXH64.hashUTF8String(digest, 42) — Spark's
    // xxhash64() with its fixed default seed — so false negatives remain
    // impossible by construction; only the (filter-internal) false-positive
    // pattern changes, which the verify join removes either way. The key
    // is taken over the digest's STRING form, as the probe reads it (a
    // numeric digest column reaches the kernel cast to string): hashing a
    // bigint as a long here would never match the probe. Null digests are
    // excluded to match the probe's NULL→false bypass.
    history.where(col(digestCol).isNotNull)
      .select(xxhash64(col(digestCol).cast("string")).as("k")).as[Long]
      .rdd.treeAggregate(Array.fill(b)(BloomFilter.create(perShard, fpp)))(
        (fs, k) => { fs(shardOf(k, b)).putLong(k); fs },
        (a, x) => { a.indices.foreach(i => a(i).mergeInPlace(x(i))); a })
  }

  /** The persisted gram-history table for incremental substring-span dedup:
    * one row per DISTINCT k-token gram of the curated corpus with its
    * canonical first occurrence — (g, first_id, first_pos), `g` the
    * portable 60-bit gram hash ([[ExactSubstring.occurrences]]' key). A
    * production pipeline stores it BUCKETED BY g
    * ([[graft.sources.PageLake.writeBucketedTable]] discipline) and appends
    * each batch's surviving grams, so the per-batch verify join below
    * shuffles only the incoming batch's suspect grams — the history (≈30×
    * the corpus' token count at k=8 before distinct) never moves again.
    * One map-side-combined min-struct aggregation per build/append. */
  def spanGramTable(docs: DataFrame, idCol: String, textCol: String,
                    k: Int = 8): DataFrame =
    ExactSubstring.occurrences(docs, idCol, textCol, k)
      .groupBy("g")
      .agg(min(struct(col("id"), col("pos"))).as("f"))
      .select(col("g"), col("f.id").as("first_id"), col("f.pos").as("first_pos"))

  /** The Bloom key of a gram: the decimal string of its 60-bit hash `g`,
    * as column `g_digest`. The probe ([[crossSpanCuts]]) and every filter
    * over a gram table — built in memory or written as a lake sidecar —
    * key on this one form; a filter built over any other form of `g` would
    * never match the probe (every span cut silently skipped). */
  def gramDigest: Column = col("g").cast("string").as("g_digest")

  /** Cross-boundary span cuts: every (id, pos) occurrence in `batch` of a
    * gram already present in the gram history — the spans last month's
    * corpus holds the canonical copy of. Bloom-prefiltered membership
    * ([[seenOnly]]): the overwhelming majority of a fresh crawl's grams are
    * new and never shuffle; only suspects pay the semi join. `filters`
    * cover `historyGrams.select(gramDigest)` on key `g_digest`.
    *
    * SIZING: a gram filter must be sized for GRAM grain — ~512 distinct
    * grams per doc at k=8, i.e. orders of magnitude above doc counts. An
    * undersized filter saturates (fpp → 1) and silently degenerates the
    * prefilter into shuffling every occurrence into the verify join
    * (correct, but the cost the filter exists to avoid). Production sizes
    * from the real gram-table count the way
    * [[graft.pipeline.IncrementalCuration.stepLake]] does. */
  def crossSpanCuts(batch: DataFrame, historyGrams: DataFrame,
                    idCol: String, textCol: String, k: Int,
                    filters: Array[BloomFilter]): Prefiltered = {
    val occ = ExactSubstring.occurrences(batch, idCol, textCol, k)
      .select(col("*"), gramDigest)
    val pf = seenOnly(occ, historyGrams.select(gramDigest), "g_digest", filters)
    Prefiltered(pf.df.select("id", "pos"), pf.release)
  }

  /** Incremental exact-substring statistics — the daily-crawl analogue of
    * [[ExactSubstring.stats]]: per batch document, the coverage of the
    * union of (a) within-batch duplicated spans (the full-corpus rule over
    * the batch alone — [[ExactSubstring.cutSpans]]) and (b) cross-boundary
    * spans whose gram the history already holds ([[crossSpanCuts]], same
    * `filters`).
    *
    * EXACTLY equals [[ExactSubstring.stats]] over (history ∪ batch)
    * restricted to batch documents, provided batch ids exceed every
    * history id (the monotone-crawl-id contract all incremental operators
    * here share): a batch occurrence of a history gram always ranks rn > 1
    * in the union, so membership IS the union verdict — which is what the
    * q91 DuckDB oracle checks. Output: (id, n_tokens, n_spans, n_cut,
    * cut_ratio), one row per batch doc. */
  def incrSpanStats(batch: DataFrame, historyGrams: DataFrame,
                    idCol: String, textCol: String, k: Int, maxDf: Long,
                    filters: Array[BloomFilter]): Prefiltered = {
    val cross = crossSpanCuts(batch, historyGrams, idCol, textCol, k, filters)
    val cuts = ExactSubstring.cutSpans(batch, idCol, textCol, k, maxDf)
      .unionByName(cross.df).distinct()
    Prefiltered(
      ExactSubstring.statsFromCuts(batch, idCol, textCol, cuts, k),
      cross.release)
  }

  /** Shard router over the 8-byte filter key — build and probe both run
    * this exact function (no SQL-side mirror needed; result equality with
    * the anti-join is what the oracle pins). The key is already an xxhash64
    * value, so a plain floorMod spreads shards uniformly. */
  @inline private[graft] def shardOf(key: Long, b: Int): Int =
    if (b == 1) 0 else java.lang.Math.floorMod(key, b.toLong).toInt
}
