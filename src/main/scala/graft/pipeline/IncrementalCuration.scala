package graft.pipeline

import graft.operators.{IncrementalDedup, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The DAILY curation step — what a crawl pipeline runs per batch once the
  * initial corpus has been curated ([[Curation]] is the full-corpus run;
  * this is its incremental counterpart): the incoming batch is deduped
  * against persisted history state across all three duplicate classes
  * without ever re-shuffling the history —
  *
  *   1. exact     — Bloom-prefiltered digest anti-join
  *                  ([[IncrementalDedup.newOnly]]);
  *   1b. paragraph (optional, `init(withLineDedup = true)`) — within-batch
  *                  line collapse + rebuild against the seen-line digest
  *                  history ([[IncrementalDedup.newLinesOnly]]);
  *   2. near-dup  — MinHash bands vs the persisted band table
  *                  ([[IncrementalDedup.nearNewOnly]]);
  *   2b. substring spans (optional, `init(withSpanDedup = true)`) — batch
  *                  docs mostly covered by spans the persisted gram table
  *                  already holds are dropped
  *                  ([[IncrementalDedup.incrSpanStatsManaged]]);
  *   3. quality   — the langid + Gopher/C4 gate chain
  *                  ([[Curation.qualityStage]]);
  *   4. semantic  — frozen-centroid cells vs the persisted assignment
  *                  table ([[Similarity.semDedupIncremental]]) — after
  *                  quality, matching the full-corpus runner's order;
  *
  * then the survivors are APPENDED to every state table. Within-batch
  * duplicates are handled too: exact by [[Curation.exactStage]] and
  * near-dup by [[Curation.neardupStage]] over the batch alone (both run
  * BEFORE the history joins, shrinking the probe side), semantic by
  * [[Similarity.semDedupIncremental]] itself (a batch row is judged
  * against the batch's earlier-id rows as well as history).
  *
  * State tables are plain DataFrames here; a deployment persists them to
  * the lake with the layouts each join wants — digests bucketed by digest,
  * bands by band_digest, cells by cell — so every per-batch join satisfies
  * its clustering from the table layout and ONLY the batch side moves.
  */
object IncrementalCuration {

  /** The persisted history: curated docs (id, text, digest), their MinHash
    * band table, the frozen semantic quantizer and its assignment table
    * (None when the corpus has no embeddings), and — when paragraph dedup
    * is on — the seen-line digest table (the persisted form of Dolma's
    * seen-paragraphs Bloom filter; stored digest-bucketed at scale). */
  final case class State(
      docs: DataFrame,
      bands: DataFrame,
      semantic: Option[SemState],
      lines: Option[DataFrame] = None,
      grams: Option[DataFrame] = None,
      // per-host arrival counts for the admission cap (None = cap off);
      // host-dimension scale, broadcast at step time
      hosts: Option[DataFrame] = None,
      // the k the gram table was built with: probing or appending with a
      // different k would silently never match (membership always false,
      // the gate neutered) — so the step reads k from here, never from an
      // independent knob
      spanK: Int = 8,
      // NARROW materialized (digest) projection of `docs` for the exact
      // stage's per-step Bloom build + verify anti-join. `docs` itself may
      // be a lazy frame over the caller's corpus (texts included), so
      // deriving digests from it per step re-reads — and re-md5s — the
      // full history text every day; this 32-byte-per-row table is the
      // projection materialized once at init and appended batch-wise.
      // None (e.g. a lake-backed state, where the docs table is parquet
      // and the digest column is scan-pruned) falls back to
      // docs.select("digest").
      digests: Option[DataFrame] = None)

  final case class SemState(centroids: Array[Array[Double]],
                            cells: DataFrame)

  /** Bootstrap state from an ALREADY-CURATED corpus (the output of the
    * full [[Curation]] run). */
  def init(corpus: DataFrame,
           embeddings: Option[DataFrame],
           nCells: Int = 16,
           withLineDedup: Boolean = false,
           withSpanDedup: Boolean = false,
           spanK: Int = 8): State = {
    val docs = corpus.select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .withColumn("digest", md5(col("text")))
    // state tables are materialized once at birth (at scale: written to the
    // lake); later steps read them repeatedly and must not re-derive them
    val bands = IncrementalDedup.bandTable(docs, "doc_id", "text").localCheckpoint()
    val sem = embeddings.map { e =>
      val centroids = Similarity.fitSemCentroids(e, nCells)
      SemState(centroids, Similarity.assignCells(e, centroids).localCheckpoint())
    }
    val lines =
      if (!withLineDedup) None
      else Some(IncrementalDedup.lineDigests(docs, "doc_id", "text")
        .select("line_digest").distinct().localCheckpoint())
    val grams =
      if (!withSpanDedup) None
      else Some(IncrementalDedup.spanGramTable(docs, "doc_id", "text", spanK)
        .localCheckpoint())
    State(docs, bands, sem, lines, grams, spanK = spanK,
      digests = Some(docs.select("digest").localCheckpoint()))
  }

  /** One daily step: returns (survivors of the batch, next state).
    * Batch ids must exceed every history id (crawl ids grow
    * monotonically — the min-id canonicalization contract of every
    * incremental operator here). The returned survivors are materialized
    * (`localCheckpoint`); at scale each append is a lake-table append. */
  def step(state: State, batch: DataFrame,
           batchEmbeddings: Option[DataFrame] = None,
           cfg: Curation.Config = Curation.Config(),
           expectedHistoryDigests: Long = 1 << 20,
           bloomShards: Int = 1,
           // line-grain history is ~30x the doc count — sizing its filter
           // with the doc-grain hint would saturate it (fpp → 1, every
           // line a suspect); default 32x the doc hint, override when the
           // real line count is known
           expectedHistoryLines: Long = -1L,
           // gram-grain history is larger still (one k-gram per token
           // before distinct); default 512x the doc hint — at real scale
           // pass the persisted gram table's row count
           expectedHistoryGrams: Long = -1L,
           // per-host admission cap over the CURATED stream (None = off).
           // Requires state.hosts (bootstrap with IncrementalSelect
           // .hostCapInit over prior curated arrivals) and a `host` column
           // on the batch. Rank space = docs that survive dedup + quality,
           // admission-ordered by doc_id (the monotonic-crawl contract), so
           // N steps equal the full first-cap window over the concatenated
           // curated stream.
           hostCapN: Option[Int] = None,
           // per-stage wall-time hook at the step's EXISTING materialization
           // boundaries (exact, lines, neardup_batch [the within-batch CC
           // fixpoint], spans, semantic, survivors [= the lazy history
           // verify join + quality chain], state appends) — the bench's
           // stage profile; no extra materialization is introduced for it.
           onStage: (String, Double) => Unit = (_, _) => ()): (DataFrame, State) = {
    val core = stepCore(state, batch, batchEmbeddings, cfg,
      expectedHistoryDigests, bloomShards, expectedHistoryLines,
      expectedHistoryGrams, hostCapN, onStage)
    val survivors = core.survivors
    // append survivors to every state table, each appended piece
    // materialized ONCE at birth like the init tables (at scale:
    // [[stepLake]]'s lake appends) — lazy pieces would re-derive every
    // prior batch's signatures/assignments on every later step
    val ap = appendPieces(survivors, batchEmbeddings, state, Some(core.sigs))
    // the docs piece is checkpointed like every other state append: the
    // N-batch state stays a union of materialized leaves, never a chain
    // of projections the next step's verify join re-derives; the narrow
    // digests table appends a projection of the SAME materialized piece
    val docsPiece = ap.docs.localCheckpoint()
    val next = State(
      docs = state.docs.unionByName(docsPiece),
      digests = state.digests.map(_.unionByName(docsPiece.select("digest"))),
      bands = state.bands.unionByName(ap.bands.localCheckpoint()),
      semantic = (state.semantic, ap.cells) match {
        case (Some(sem), Some(c)) =>
          Some(sem.copy(cells = sem.cells.unionByName(c.localCheckpoint())))
        case (s, _) => s
      },
      lines = (state.lines, ap.lines) match {
        case (Some(ld), Some(l)) => Some(ld.unionByName(l.localCheckpoint()))
        case (s, _) => s
      },
      grams = (state.grams, ap.grams) match {
        case (Some(g), Some(a)) => Some(g.unionByName(a.localCheckpoint()))
        case (s, _) => s
      },
      hosts = (state.hosts, core.hostsDelta) match {
        case (Some(hs), Some(d)) => Some(hs.unionByName(d)
          .groupBy("host").agg(sum("n_seen").as("n_seen")).localCheckpoint())
        case (s, _) => s
      },
      spanK = state.spanK)
    core.mark("appends")
    (survivors.select("doc_id", "text"), next)
  }

  /** The step's computation up to (and including) the survivor set —
    * shared by the in-memory [[step]] and the lake-backed [[stepLake]],
    * which differ only in how the state appends are persisted.
    * `hostsDelta` is this batch's per-host CURATED-arrival counts (the
    * rank-space increment both the capped and uncapped counter paths
    * merge — see [[graft.operators.IncrementalSelect.hostCapStep]]). */
  private final case class CoreResult(survivors: DataFrame,
                                      hostsDelta: Option[DataFrame],
                                      // the step's shared (checkpointed)
                                      // MinHash signature table over the
                                      // post-line-stage batch — survivors'
                                      // band append derives from it instead
                                      // of re-running the signature pass
                                      sigs: DataFrame,
                                      mark: String => Unit)

  private def stepCore(state: State, batch: DataFrame,
                       batchEmbeddings: Option[DataFrame],
                       cfg: Curation.Config,
                       expectedHistoryDigests: Long,
                       bloomShards: Int,
                       expectedHistoryLines: Long,
                       expectedHistoryGrams: Long,
                       hostCapN: Option[Int],
                       onStage: (String, Double) => Unit,
                       // persisted-sidecar filters ([[stepLake]]): when
                       // present, the exact / line stages probe these
                       // instead of re-scanning history to build fresh ones
                       docsFilters: Option[Array[org.apache.spark.util.sketch.BloomFilter]] = None,
                       lineFilters: Option[Array[org.apache.spark.util.sketch.BloomFilter]] = None,
                       gramFilters: Option[Array[org.apache.spark.util.sketch.BloomFilter]] = None)
      : CoreResult = {
    var tMark = System.nanoTime()
    def mark(name: String): Unit = {
      val now = System.nanoTime()
      onStage(name, (now - tMark) / 1e9)
      tMark = now
    }
    val lineItems =
      if (expectedHistoryLines > 0) expectedHistoryLines
      else 32L * expectedHistoryDigests
    val gramItems =
      if (expectedHistoryGrams > 0) expectedHistoryGrams
      else 512L * expectedHistoryDigests
    // 0. collapse within-batch exact dups, digest the rest
    val b0 = Curation.exactStage(
        batch.select(col("doc_id").cast("long").as("doc_id"), col("text")))
      .withColumn("digest", md5(col("text")))

    // 1. exact vs history (Bloom prefilter; broadcast released after the
    //    step materializes). Sidecar filters, when supplied, skip the
    //    per-step history scan the build would pay; the digest frame is
    //    the state's narrow materialized projection when present (deriving
    //    it from `docs` re-reads and re-hashes the full history text).
    val histDigests = state.digests.getOrElse(state.docs.select("digest"))
    val pf = docsFilters match {
      case Some(fs) => IncrementalDedup.newOnlyPrebuilt(
        b0, histDigests, "digest", fs)
      case None => IncrementalDedup.newOnlyManaged(
        b0, histDigests,
        "digest", expectedHistoryDigests, shards = bloomShards)
    }
    val b1 = pf.df.localCheckpoint()
    pf.release()
    mark("exact")

    // 1b. paragraph dedup (optional): within-batch line collapse
    //     (ccnetDedupLines) then rebuild against the seen-line history —
    //     BEFORE near-dup, so shared boilerplate lines can't manufacture
    //     MinHash similarity between otherwise-unrelated pages. A doc whose
    //     every line is known boilerplate drops out here.
    val b1b = state.lines match {
      case Some(ld) =>
        val within = graft.operators.ExactSubstring
          .ccnetDedupLines(b1, "doc_id", "text")
          .select(col("id").as("doc_id"), col("text_dedup").as("text"))
        val pfL = lineFilters match {
          case Some(fs) => IncrementalDedup.newLinesOnlyPrebuilt(
            within, ld, "doc_id", "text", fs)
          case None => IncrementalDedup.newLinesOnlyManaged(within, ld,
            "doc_id", "text", lineItems, shards = bloomShards)
        }
        val out = pfL.df.select(col("id").as("doc_id"),
          col("text_dedup").as("text")).localCheckpoint()
        pfL.release()
        out
      case None => b1
    }
    mark("lines")

    // 2. near-dup: within the batch first (full-corpus operator over the
    //    day — smaller probe side for the history join), then vs history
    //    (persisted band table; nearNewOnly needs history text for the
    //    Jaccard verify join)
    // both near-dup results are materialized: the within-batch survivor set
    // feeds nearNewOnly as bands + verify-side + anti-join probe (≈5 plan
    // consumers — left lazy, each re-runs the whole within-batch chain),
    // and the history-filtered set is read by the span gate's two consumers
    // and the quality chain
    // ONE MinHash signature pass over the batch, shared by both near-dup
    // stages: the within-batch stage bands it directly; the history stage's
    // band probe re-derives its (filtered, survivor-restricted) band table
    // from the same checkpointed signatures — the signature expression (one
    // md5 per shingle) is the CPU-dominant per-row pass of the step and
    // previously ran once per stage. The checkpoint is narrow: (id, 16
    // longs) per doc.
    val sigs = graft.operators.Dedup
      .minhashSignaturesFast(b1b, "doc_id", "text").localCheckpoint()
    val bWithin = Curation.neardupStageFromSigs(b1b, sigs, cfg.neardupThreshold)
      .localCheckpoint()
    mark("neardup_batch")
    // = IncrementalDedup.bandTable(bWithin): same per-row expressions, the
    // short-doc sentinel filter, restricted to the within-batch survivors
    val survivorBands = graft.operators.Dedup.lshBandsHashed(
      sigs.filter(element_at(col("sigs"), 1) =!= Long.MaxValue)
        .join(bWithin.select(col("doc_id").as("id")), Seq("id"), "left_semi"))
    val b2 = IncrementalDedup.nearNewOnly(
      bWithin, state.docs, "doc_id", "text",
      threshold = cfg.neardupThreshold, historyBands = Some(state.bands),
      batchBands = Some(survivorBands))
      .localCheckpoint()
    mark("neardup_history")

    // 2b. substring-span gate (optional, `init(withSpanDedup = true)`):
    //     drop batch docs whose coverage by duplicated spans — within-batch
    //     OR already held by the persisted gram history — exceeds the q53
    //     ratio, the cross-batch form of Curation.substringStage. Catches
    //     the mirror that arrives a day late with light edits: near-dup
    //     misses it once enough fresh text is appended, but its token
    //     spans still match last month's corpus gram for gram. Same slot
    //     as the full run (after near-dup, before quality).
    val b2s = state.grams match {
      case Some(g) =>
        // k comes from the STATE (what the gram table was built with) —
        // probing with an independent cfg knob would silently never match
        val pfS = gramFilters match {
          case Some(fs) => IncrementalDedup.incrSpanStatsPrebuilt(b2, g,
            "doc_id", "text", k = state.spanK, maxDf = cfg.substringMaxDf,
            filters = fs)
          case None => IncrementalDedup.incrSpanStatsManaged(b2, g,
            "doc_id", "text", k = state.spanK, maxDf = cfg.substringMaxDf,
            expectedItems = gramItems, shards = bloomShards)
        }
        val keep = pfS.df.filter(col("cut_ratio") <= cfg.maxCutRatio)
          .select(col("id").as("doc_id"))
        val out = b2.join(keep, Seq("doc_id"), "left_semi").localCheckpoint()
        pfS.release()
        out
      case None => b2
    }
    mark("spans")

    // 3. quality gates BEFORE the semantic stage — the same order the
    //    full-corpus runner uses (Curation.runCheckpointed): a low-quality
    //    batch doc must not kill its high-quality semantic neighbor and
    //    then die itself at quality (verdicts would become
    //    batch-composition dependent)
    val b3 = Curation.qualityStage(b2s.select("doc_id", "text"), cfg)

    // 4. semantic vs history (frozen cells), when both sides have vectors
    val b4 = (state.semantic, batchEmbeddings) match {
      case (Some(sem), Some(be)) =>
        val inc = Similarity.semDedupIncremental(
          be.join(b3.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi"),
          sem.cells, sem.centroids, cfg.semThreshold)
        val out = b3.join(
          inc.df.filter(!col("keep")).select(col("vec_id").as("doc_id")),
          Seq("doc_id"), "left_anti").localCheckpoint()
        inc.release()
        out
      case _ => b3
    }
    mark("semantic") // neardup+quality fuse into this or the survivors boundary

    // 4b. per-host admission cap (optional): LAST, so only documents that
    //     earned their place in the corpus count against their host's
    //     budget. Dropped-by-cap docs do NOT enter dedup state — state is
    //     the curated corpus, and a capped host's recrawls die here anyway.
    if (state.hosts.isDefined && !batch.columns.contains("host"))
      throw new IllegalArgumentException(
        "state maintains per-host arrival counters but the batch has no " +
          "'host' column — every curated arrival must be counted or a later " +
          "capped step over-admits. Feed batches with (doc_id, text, host) " +
          "(CurationStream.readDocs(withHost = true) for the streaming driver)")
    // the host mapping is deduped by doc_id: a duplicated input record
    // (same doc_id twice in a day's batch — a routine WARC artifact) was
    // collapsed by the exact stage, and the join back must not re-expand
    // it. min(host) — NOT dropDuplicates — because a conflicting duplicate
    // (one doc_id, two hosts) must resolve DETERMINISTICALLY: the crash
    // replay re-derives the survivor set, and dropDuplicates picks a
    // partition-merge-order-dependent winner, so a replay could cap the
    // doc under a different host budget than the committed first attempt
    def batchHosts = batch
      .select(col("doc_id").cast("long").as("doc_id"), col("host"))
      .groupBy("doc_id").agg(min(col("host")).as("host"))
    // curated-arrival counts: the rank-space increment of the host-cap
    // contract (KEPT and capped-out rows both occupy ranks) — what both
    // counter paths below merge into the state, and what [[stepLake]]
    // appends as this batch's hosts delta
    def arrivalDelta = b4.join(batchHosts, Seq("doc_id"))
      .filter(col("host").isNotNull)
      .groupBy("host").agg(count(lit(1)).as("n_seen"))
    val (b5, hostsDelta) = (hostCapN, state.hosts) match {
      case (Some(cap), Some(hs)) =>
        val r = graft.operators.IncrementalSelect.hostCapStep(
          hs, b4.join(batchHosts, Seq("doc_id")), "host", "doc_id", "doc_id", cap)
        (r.kept.select("doc_id", "text"), Some(arrivalDelta))
      case (Some(_), None) =>
        throw new IllegalArgumentException(
          "hostCapN is set but state.hosts is missing — bootstrap it with " +
            "IncrementalSelect.hostCapInit over the prior curated arrivals " +
            "(silently skipping the cap would over-admit)")
      case (None, Some(_)) =>
        // cap off THIS step, counters still maintained: a later capped
        // step must see every curated arrival, or it over-admits relative
        // to the full-run-equivalence contract
        (b4, Some(arrivalDelta))
      case (None, None) => (b4, None)
    }
    mark("hostcap")

    val survivors = b5.withColumn("digest", md5(col("text"))).localCheckpoint()
    mark("survivors") // the near-dup + quality chain materializes here
    CoreResult(survivors, hostsDelta, sigs, mark)
  }

  /** The rows one batch's survivors contribute to each state table — the
    * shared derivation behind [[step]]'s in-memory unions and
    * [[stepLake]]'s lake appends (lazy; the caller materializes by
    * checkpointing or writing). */
  private final case class Appends(docs: DataFrame, bands: DataFrame,
                                   lines: Option[DataFrame],
                                   grams: Option[DataFrame],
                                   cells: Option[DataFrame])

  private def appendPieces(survivors: DataFrame,
                           batchEmbeddings: Option[DataFrame],
                           state: State,
                           // the step's shared signature table (covers every
                           // survivor: text is UNCHANGED from the post-line-
                           // stage batch through the later filter stages)
                           sigs: Option[DataFrame] = None): Appends = {
    val cells = (state.semantic, batchEmbeddings) match {
      case (Some(sem), Some(be)) =>
        val survEmb = be.join(
          survivors.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
        Some(Similarity.assignCells(survEmb, sem.centroids))
      case _ => None
    }
    Appends(
      docs = survivors.select("doc_id", "text", "digest"),
      // = bandTable(survivors): the shared signature table restricted to
      // survivor ids (every later stage only FILTERS rows — text never
      // changes after the line stage, so the signatures still hold);
      // without it the append re-ran the md5-per-shingle pass
      bands = sigs.map(sg => graft.operators.Dedup.lshBandsHashed(
          sg.filter(element_at(col("sigs"), 1) =!= Long.MaxValue)
            .join(survivors.select(col("doc_id").as("id")), Seq("id"), "left_semi")))
        .getOrElse(IncrementalDedup.bandTable(survivors, "doc_id", "text")),
      lines = state.lines.map(_ =>
        IncrementalDedup.lineDigests(survivors, "doc_id", "text")
          .select("line_digest").distinct()),
      grams = state.grams.map(_ =>
        IncrementalDedup.spanGramTable(survivors, "doc_id", "text", state.spanK)),
      cells = cells)
  }

  // --- Lake-backed state (the production form) ---------------------------
  //
  // [[step]] holds state as in-memory DataFrames — right for specs and the
  // single-process bench, but the scaladocs' production story ("at scale
  // each append is a lake-table append, bands bucketed by band_digest, …")
  // was only prose until here. [[initLake]]/[[stepLake]] make it concrete:
  // every state table is a [[graft.sources.StateLake]] table clustered by
  // its probe key, a step's appends are atomic batch-grain commits, and a
  // step crash between the per-table commits is recovered by REPLAYING the
  // same batch — the state version is the min committed batch across
  // tables, the replay re-derives the identical survivor set from that
  // version (the step is deterministic in its inputs), and already-
  // committed tables skip their append idempotently.

  import graft.sources.StateLake
  import org.apache.spark.sql.SparkSession

  /** Tables a lake state MAY hold, with the probe key each is clustered
    * by: docs by doc_id (the near-dup verify semi-join key; the exact
    * stage's digest probe reads only the digest COLUMN — column-pruned,
    * never joined by layout), bands by band_digest, lines/grams by their
    * digest, cells by cell, hosts by host. */
  private val lakeKeys: Seq[(String, String)] = Seq(
    "docs" -> "doc_id", "bands" -> "band_digest", "lines" -> "line_digest",
    "grams" -> "g", "cells" -> "cell", "hosts" -> "host")

  private def metaPath(root: String) = s"$root/meta.properties"

  private def writeMeta(spark: SparkSession, root: String,
                        kv: Map[String, String]): Unit = {
    val p = new org.apache.hadoop.fs.Path(metaPath(root))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(kv.toSeq.sorted.map { case (k, v) => s"$k=$v\n" }
      .mkString.getBytes("UTF-8"))
    finally out.close()
  }

  private def readMeta(spark: SparkSession, root: String): Map[String, String] = {
    val p = new org.apache.hadoop.fs.Path(metaPath(root))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val bytes = try {
      val buf = new java.io.ByteArrayOutputStream()
      val tmp = new Array[Byte](8192)
      Iterator.continually(in.read(tmp)).takeWhile(_ > 0)
        .foreach(n => buf.write(tmp, 0, n))
      buf.toByteArray
    } finally in.close()
    new String(bytes, "UTF-8").linesIterator
      .map(_.trim).filter(_.nonEmpty)
      .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }
      .toMap
  }

  /** The docs table's per-batch running-max annotation: one column-pruned
    * agg over the (materialized) appended piece, committed atomically with
    * the batch so the monotone-id guard reads one tiny file instead of
    * scanning the latest non-empty append's doc_id column every step.
    * Empty value = a zero-survivor batch (known empty — the guard keeps
    * walking backwards without touching the data). */
  private def maxIdAnnotation(docs: DataFrame): Map[String, String] = {
    val r = docs.agg(max("doc_id")).head()
    Map("maxDocId" -> (if (r.isNullAt(0)) "" else r.getLong(0).toString))
  }

  private def tableDirs(spark: SparkSession, root: String): Seq[String] =
    lakeKeys.map(_._1).filter(t =>
      StateLake.committedBatches(spark, s"$root/$t").nonEmpty)

  /** The lake state's version: the minimum max-committed batch id across
    * every present data table AND Bloom sidecar — a crash between any of
    * the per-component commits rolls the whole step back to this. A caller
    * that must replay a step deterministically (the streaming driver)
    * records this BEFORE stepping and passes it back as
    * [[stepLake]]'s `atVersion`. */
  def lakeStateVersion(spark: SparkSession, root: String): Int = {
    val present = tableDirs(spark, root) ++
      Seq("docs_bloom", "lines_bloom", "grams_bloom").filter(t =>
        StateLake.committedBatches(spark, s"$root/$t").nonEmpty)
    present.map(t => StateLake.committedBatches(spark, s"$root/$t").max).min
  }

  /** Bootstrap a lake-backed state at `root` from an already-curated
    * corpus — [[init]] persisted: each table written as batch 0 of its
    * [[StateLake]] table, the frozen centroids and the (spanK, buckets)
    * config alongside. `hostArrivals` (optional) seeds the per-host
    * admission counters ([[graft.operators.IncrementalSelect.hostCapInit]]
    * shape: host, n_seen). */
  def initLake(corpus: DataFrame, embeddings: Option[DataFrame],
               root: String, nCells: Int = 16,
               withLineDedup: Boolean = false,
               withSpanDedup: Boolean = false, spanK: Int = 8,
               nBuckets: Int = 16,
               hostArrivals: Option[DataFrame] = None,
               // Bloom sidecar sizing — FIXED for the table's lifetime
               // (per-batch contributions must share bit-array sizes to
               // merge). 0 = 4x the bootstrap count: headroom for growth;
               // outgrowing it degrades fpp (more verify-join suspects),
               // never correctness. At real scale pass the target corpus
               // size.
               bloomDocsItems: Long = 0L, bloomLineItems: Long = 0L,
               bloomGramItems: Long = 0L,
               bloomFpp: Double = 0.01, bloomShards: Int = 1): Unit = {
    val spark = corpus.sparkSession
    val st = init(corpus, embeddings, nCells, withLineDedup, withSpanDedup,
      spanK)
    // every table and Bloom sidecar is an independent batch-0 commit: one
    // concurrent wave ([[StateLake.commitAll]]). A sidecar commit returns
    // its fixed sizing for the meta file.
    def table(name: String, piece: DataFrame,
              annotations: => Map[String, String] = Map.empty)
        : () => Option[(String, String)] = () => {
      appendTable(root, name, piece, nBuckets, 0, annotations); None }
    def sidecar(name: String, piece: DataFrame, key: String, items: Long,
                metaKey: String): () => Option[(String, String)] = () => {
      // 0 = 4x the bootstrap count
      val n = if (items > 0) items else 4L * piece.count()
      writeSidecar(root, name, piece, key, n, bloomFpp, bloomShards, 0)
      Some(metaKey -> n.toString)
    }
    // the centroids ride the same wave (a plain write, read only after
    // the meta file below exists)
    def centroids(sem: SemState): () => Option[(String, String)] = () => {
      import spark.implicits._
      sem.centroids.zipWithIndex.map { case (u, i) => (i, u.toSeq) }.toSeq
        .toDF("cell", "u").coalesce(1)
        .write.mode("overwrite").parquet(s"$root/centroids")
      None
    }
    // Bloom sidecars: the bootstrap's filter contribution, so no step
    // ever re-scans history digests to build a prefilter. Gram filters
    // probe the STRING form of g (crossSpanCutsManaged's digest form) —
    // the contribution must be built over the same form.
    val sized = StateLake.commitAll(
      Seq(table("docs", st.docs, maxIdAnnotation(st.docs)),
        table("bands", st.bands),
        sidecar("docs", st.digests.getOrElse(st.docs.select("digest")),
          "digest", bloomDocsItems, "bloomDocsItems")) ++
      st.lines.toSeq.flatMap(l => Seq(table("lines", l),
        sidecar("lines", l, "line_digest", bloomLineItems, "bloomLineItems"))) ++
      st.grams.toSeq.flatMap(g => Seq(table("grams", g),
        sidecar("grams", g.select(col("g").cast("string").as("g_digest")),
          "g_digest", bloomGramItems, "bloomGramItems"))) ++
      st.semantic.toSeq.flatMap(sem =>
        Seq(table("cells", sem.cells), centroids(sem))) ++
      hostArrivals.map(h => table("hosts", h))).flatten
    writeMeta(spark, root, Map(
      "spanK" -> spanK.toString, "buckets" -> nBuckets.toString,
      "bloomFpp" -> bloomFpp.toString,
      "bloomShards" -> bloomShards.toString) ++ sized)
  }

  /** Append `piece` as batch `batchId` of state table `name`, clustered by
    * its probe key ([[lakeKeys]]). */
  private def appendTable(root: String, name: String, piece: DataFrame,
                          nBuckets: Int, batchId: Int,
                          annotations: Map[String, String] = Map.empty): Unit =
    StateLake.append(piece, s"$root/$name", lakeKeys.toMap.apply(name),
      nBuckets, batchId, annotations)

  /** Write the Bloom contribution of `piece`'s `key` column as batch
    * `batchId` of table `name`'s sidecar, with the table's fixed sizing
    * (bit-compatible with every other batch's, for the reader's merge). */
  private def writeSidecar(root: String, name: String, piece: DataFrame,
                           key: String, items: Long, fpp: Double, shards: Int,
                           batchId: Int): Unit =
    StateLake.writeBloom(piece.sparkSession, IncrementalDedup.buildFilterArray(
      piece, key, items, fpp, shards), s"$root/${name}_bloom", batchId)

  /** The lake state as plain (lazy) DataFrames — [[State]] re-assembled
    * from the persisted tables as of `upTo` (default: everything
    * committed). Reads are column-pruned by each consumer; [[stepLake]]
    * additionally bucket-prunes the probe-keyed tables. */
  def loadLake(spark: SparkSession, root: String,
               upTo: Int = Int.MaxValue): State =
    lakeState(spark, root, readMeta(spark, root), tableDirs(spark, root).toSet)(
      (name, cols) =>
        StateLake.read(spark, s"$root/$name", upTo).select(cols.map(col): _*))

  /** [[State]] over the `present` tables, each read ONCE through
    * `readTable(name, columns)` (a read lists the table's files and infers
    * its schema, so a read thrown away still costs a Spark job). */
  private def lakeState(spark: SparkSession, root: String,
                        meta: Map[String, String], present: Set[String])
                       (readTable: (String, Seq[String]) => DataFrame): State = {
    def opt(name: String, cols: String*): Option[DataFrame] =
      if (present(name)) Some(readTable(name, cols)) else None
    State(
      docs = readTable("docs", Seq("doc_id", "text", "digest")),
      bands = readTable("bands", Seq("id", "band", "band_digest")),
      semantic = opt("cells", "id", "u", "cell").map { cells =>
        val centroids = spark.read.parquet(s"$root/centroids")
          .collect().sortBy(_.getInt(0))
          .map(_.getSeq[Double](1).toArray)
        SemState(centroids, cells)
      },
      lines = opt("lines", "line_digest"),
      grams = opt("grams", "g", "first_id", "first_pos"),
      hosts = opt("hosts", "host", "n_seen")
        .map(_.groupBy("host").agg(sum("n_seen").as("n_seen"))),
      spanK = meta("spanK").toInt)
  }

  /** One daily step against the LAKE-backed state: load state as of the
    * last FULLY-committed batch, run the step, append the survivors'
    * rows to every table as one batch id. Returns the survivors.
    *
    * Probe-keyed history tables (bands / lines / grams) are read
    * BUCKET-PRUNED: the batch's probe keys hash to a bounded bucket set
    * (collected driver-side, ≤ nBuckets longs — one narrow batch-scale
    * pass per table), and history rows outside those buckets cannot match
    * any batch key, so pruning them never changes the answer — only the
    * scan footprint (a small daily batch against a month of history opens
    * a fraction of the files; StateLakeSpec pins both the equality and
    * the pruning).
    *
    * Crash contract: if a previous invocation died between per-table
    * commits, re-invoke with the SAME batch — the state version is the
    * minimum committed batch across tables, so the replay recomputes the
    * identical survivors from the pre-crash state and fills exactly the
    * missing table commits (the committed ones skip idempotently). The
    * per-table and sidecar commits run CONCURRENTLY
    * ([[StateLake.commitAll]]), so a crash can leave any subset of them
    * committed, not just a prefix; the min-over-tables version covers
    * every subset, and a failed commit surfaces only after the others
    * have finished, so a replay never races an append still in flight.
    *
    * `atVersion` pins the state version a caller RECORDED before a prior
    * attempt (the streaming driver's write-ahead intent,
    * [[graft.streaming.CurationStream]]): a replay whose first attempt
    * FULLY committed would otherwise compute version+1, treat the same
    * rows as a fresh batch, and return zero survivors (they all look like
    * exact dups of themselves) — pinned, the replay recomputes the
    * identical survivor set from the same pre-batch state while every
    * append skips idempotently. */
  def stepLake(spark: SparkSession, root: String, batch: DataFrame,
               batchEmbeddings: Option[DataFrame] = None,
               cfg: Curation.Config = Curation.Config(),
               expectedHistoryDigests: Long = 1 << 20,
               bloomShards: Int = 1,
               expectedHistoryLines: Long = -1L,
               expectedHistoryGrams: Long = -1L,
               hostCapN: Option[Int] = None,
               onStage: (String, Double) => Unit = (_, _) => (),
               atVersion: Option[Int] = None): DataFrame = {
    val meta = readMeta(spark, root)
    val nBuckets = meta("buckets").toInt
    val stateVersion = atVersion.getOrElse(lakeStateVersion(spark, root))
    val batchId = stateVersion + 1
    val present = tableDirs(spark, root).toSet
    val docsFilters = meta.get("bloomDocsItems").map(_ =>
      StateLake.readBloom(spark, s"$root/docs_bloom", stateVersion))
    val lineFilters = meta.get("bloomLineItems").map(_ =>
      StateLake.readBloom(spark, s"$root/lines_bloom", stateVersion))
    val gramFilters = meta.get("bloomGramItems").map(_ =>
      StateLake.readBloom(spark, s"$root/grams_bloom", stateVersion))

    // Bucket-pruned probe-table reads: keys derived from the RAW batch.
    // SOUNDNESS per table — pruning is only legal when the stage's actual
    // probe keys are a subset of the raw batch's:
    //   - lines: always sound. The line stage probes digests of the
    //     within-batch-collapsed text, whose line SET is a subset of the
    //     raw batch's lines (dedup removes lines, never rewrites them).
    //   - bands/grams: sound ONLY when line dedup is OFF. With it on, the
    //     near-dup and span stages probe signatures of the REWRITTEN
    //     (line-stripped) text — MinHash bands and seam-spanning k-grams of
    //     the stripped text are NOT a subset of the raw text's, so pruning
    //     by raw-text keys could drop exactly the history rows a mutant
    //     would match. Those tables are read whole in that configuration
    //     (LakeIncrementalSpec pins the kill).
    // WORTHWHILENESS per table (coupon collector): a probe pass costs one
    // narrow batch pass + driver collect, and prunes nothing once the
    // probe carries more than ~8·B·ln(B) KEYS — keys, not docs: a doc
    // contributes ~4 bands, ~32 lines, ~512 grams (the Bloom-sizing
    // ratios), so each table gets its own gate.
    val bText = batch.select(col("doc_id").cast("long").as("doc_id"),
      col("text"))
    // the batch's size and min id in ONE aggregation (one job)
    val bStats = bText.agg(count(lit(1)), min("doc_id")).head()
    val batchDocs = bStats.getLong(0)
    // Monotone-crawl-id contract, enforced LOUDLY: every incremental
    // operator keys on batch ids exceeding all history ids (near-dup pair
    // canonicalization, the semantic a.id < b.id drop rule, the host-cap
    // rank order) — a feed that reuses or replays doc_ids would produce
    // silently-wrong keep/drop verdicts. Cheap by the same contract: the
    // global max doc_id lives in the LATEST non-empty docs append, so this
    // reads one batch directory + one batch-scale agg — the previous day's
    // append on every step but the first, where the latest append IS the
    // bootstrap corpus (a once-ever column-pruned max over doc_id).
    // A pinned replay reads upTo = the recorded pre-batch version, so its
    // own first attempt's append is excluded and the check replays clean.
    // Fast path: every append since annotations existed carries its max
    // doc_id as a batch annotation (committed atomically with the data) —
    // the guard reads ONE tiny file, usually of the previous day's append.
    // Legacy appends without the annotation fall back to the data scan,
    // skipping data-file-less dirs FIRST (a zero-survivor batch commits a
    // dir holding only _SUCCESS, and spark.read.parquet on it throws
    // UNABLE_TO_INFER_SCHEMA before the null-max skip could engage — one
    // fully-deduped day must not break every later step on this lake)
    val histMax: Option[Long] = (stateVersion to 0 by -1).iterator
      .map { b =>
        StateLake.batchAnnotation(spark, s"$root/docs", b, "maxDocId") match {
          case Some("") => None // known-empty batch: keep walking
          case Some(v)  => Some(v.toLong)
          case None =>
            if (!StateLake.batchHasData(spark, s"$root/docs", b)) None
            else {
              val r = StateLake.readBatch(spark, s"$root/docs", b)
                .agg(max("doc_id")).head()
              if (r.isNullAt(0)) None else Some(r.getLong(0))
            }
        }
      }
      .collectFirst { case Some(v) => v }
    if (!bStats.isNullAt(1)) histMax.foreach { hm =>
      require(bStats.getLong(1) > hm,
        s"monotone-crawl-id contract violated: batch min doc_id " +
          s"${bStats.getLong(1)} <= history max doc_id $hm — assign fresh, " +
          "strictly increasing ids per crawl drop (reused ids make the " +
          "incremental dedup verdicts silently wrong)")
    }
    val pruneBound = 8.0 * nBuckets * math.max(1.0, math.log(nBuckets.toDouble))
    val lineDedupOn = present("lines")
    // (keys per doc, probe keys, key column) of each prunable table
    def probe(name: String): Option[(Double, DataFrame, String)] = name match {
      case "bands" if !lineDedupOn => Some((4.0,
        IncrementalDedup.bandTable(bText, "doc_id", "text"), "band_digest"))
      case "lines" => Some((32.0,
        IncrementalDedup.lineDigests(bText, "doc_id", "text"), "line_digest"))
      case "grams" if !lineDedupOn => Some((512.0,
        graft.operators.ExactSubstring
          .occurrences(bText, "doc_id", "text", meta("spanK").toInt), "g"))
      case _ => None
    }
    val state = lakeState(spark, root, meta, present) {
      (name, cols) =>
        val t = StateLake.read(spark, s"$root/$name", upTo = stateVersion)
        (probe(name) match {
          case Some((keysPerDoc, keys, keyCol))
              if batchDocs * keysPerDoc < pruneBound =>
            t.filter(col("bucket").isInCollection(
              StateLake.probedBuckets(keys, keyCol, nBuckets)))
          case _ => t
        }).select(cols.map(col): _*)
    }

    val core = stepCore(state, batch, batchEmbeddings, cfg,
      expectedHistoryDigests, bloomShards, expectedHistoryLines,
      expectedHistoryGrams, hostCapN, onStage,
      docsFilters = docsFilters, lineFilters = lineFilters,
      gramFilters = gramFilters)
    val ap = appendPieces(core.survivors, batchEmbeddings, state, Some(core.sigs))
    // A semantic lake must advance its cells table EVERY batch, even when
    // the batch carries no vectors (the streaming driver never does): the
    // state version is the min committed batch across tables, so a stalled
    // cells table would pin it at bootstrap forever — every later step
    // would recompute the same batchId, skip all its appends idempotently,
    // and silently curate against frozen state while emitting duplicates.
    // An empty append keeps the tables in lockstep.
    val cells = ap.cells.orElse(state.semantic.map(sem =>
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        sem.cells.schema)))
    // the lines and grams pieces each feed an append AND a sidecar: derived
    // once (a lazy val's initializer is synchronized, so the second commit
    // of the wave waits for the first one's checkpoint instead of re-running
    // the distinct / gram pass)
    lazy val lines = ap.lines.map(_.localCheckpoint())
    lazy val grams = ap.grams.map(_.localCheckpoint())
    def table(name: String, piece: => DataFrame,
              annotations: => Map[String, String] = Map.empty): () => Unit =
      () => appendTable(root, name, piece, nBuckets, batchId, annotations)
    // sidecar contributions: filters over JUST the appended digests, with
    // the table's fixed sizing (bit-compat for the reader's merge)
    val sFpp = meta.get("bloomFpp").map(_.toDouble).getOrElse(0.01)
    val sShards = meta.get("bloomShards").map(_.toInt).getOrElse(1)
    def sidecar(name: String, metaKey: String, key: String,
                piece: => DataFrame): Option[() => Unit] =
      meta.get(metaKey).map(items => () =>
        writeSidecar(root, name, piece, key, items.toLong, sFpp, sShards, batchId))
    // every table and sidecar commit is independent: one concurrent wave
    StateLake.commitAll(
      Seq(table("docs", ap.docs, maxIdAnnotation(core.survivors)),
        table("bands", ap.bands)) ++
      ap.lines.map(_ => table("lines", lines.get)) ++
      ap.grams.map(_ => table("grams", grams.get)) ++
      cells.map(c => table("cells", c)) ++
      core.hostsDelta.map(d => table("hosts", d)) ++
      sidecar("docs", "bloomDocsItems", "digest", ap.docs) ++
      ap.lines.flatMap(_ => sidecar("lines", "bloomLineItems", "line_digest",
        lines.get)) ++
      ap.grams.flatMap(_ => sidecar("grams", "bloomGramItems", "g_digest",
        grams.get.select(col("g").cast("string").as("g_digest")))))
    core.mark("appends")
    core.survivors.select("doc_id", "text")
  }
}
