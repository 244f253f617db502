package graft.streaming

import graft.pipeline.{Curation, IncrementalCuration}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

/** The daily incremental-curation step as a CONTINUOUSLY-RUNNING
  * Structured Streaming job: crawl drops land as parquet files in `inDir`,
  * each micro-batch is curated against the lake-backed state
  * ([[IncrementalCuration.stepLake]] — exact / line / near-dup / span /
  * semantic dedup against all history, quality gates, optional host cap),
  * survivors are appended to `outDir`, and the state lake advances — so
  * "run the daily step" stops being a cron job someone forgets and becomes
  * a standing query that drains whatever has landed.
  *
  * Exactly-once contract (the part foreachBatch does NOT give for free —
  * it is at-least-once under driver retry):
  *
  *   - The file source replays a crashed micro-batch with the SAME rows
  *     (checkpoint offsets pin file→batch assignment).
  *   - Before stepping, the driver records the lake's current state
  *     version in a WRITE-AHEAD INTENT (`_stream_commits/<id>/<b>.intent`
  *     under the state root, atomic tmp+rename). A replay finds the intent
  *     and re-runs the step PINNED at that version
  *     ([[IncrementalCuration.stepLake]]'s `atVersion`): the step is
  *     deterministic given (state, batch), so the replay re-derives the
  *     identical survivor set while every state append skips idempotently
  *     — a bare replay would instead see its own first attempt as history
  *     and return zero survivors, silently losing the batch's output.
  *   - The survivors append to `outDir` is one staging-dir write + rename
  *     into a per-batch partition directory (`ingest_batch=...`), skipped
  *     if already committed — so the output cannot double- or half-append.
  *   - Only then does the intent rename to the commit marker; a batch
  *     whose marker exists is skipped outright.
  *
  * Net effect: any crash point — mid-state-commit, between state and
  * output, between output and marker — replays to the same state, the
  * same output rows, exactly once. The crash matrix is spec-pinned
  * (CurationStreamSpec), as is equality with the sequential
  * [[IncrementalCuration.stepLake]] loop over the same drops.
  *
  * Scale shape: identical to the batch step — each micro-batch pays
  * batch-scale work against bucket-pruned, Bloom-prefiltered history
  * reads; the stream adds only the marker I/O (two renames and one tiny
  * listing file per batch). `maxFilesPerTrigger` bounds micro-batch size
  * so one giant crawl drop cannot blow a single step.
  */
object CurationStream {

  /** Tunables forwarded to [[IncrementalCuration.stepLake]] per batch.
    * `skipSemantic` is the explicit opt-in required to stream into a
    * semantic-enabled lake: the stream carries no embeddings, so semantic
    * dedup never runs for streamed batches AND streamed survivors never
    * enter the cells table (even later embedding-bearing batch steps
    * cannot dedup against them) — a degradation the caller must
    * acknowledge, not discover. */
  final case class Config(
      curation: Curation.Config = Curation.Config(),
      hostCapN: Option[Int] = None,
      skipSemantic: Boolean = false)

  /** Streaming scan of crawl drops: (doc_id, text) parquet files — the
    * daily step's input shape. `withHost = true` adds the `host` column,
    * REQUIRED when the state lake maintains per-host arrival counters
    * (every curated arrival must be counted or a later capped step
    * over-admits — [[IncrementalCuration]]'s host contract). */
  def readDocs(spark: SparkSession, path: String,
               maxFilesPerTrigger: Int = 64,
               withHost: Boolean = false): DataFrame =
    spark.readStream
      .schema(if (withHost) "doc_id LONG, text STRING, host STRING"
              else "doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(path)

  /** Drain every crawl drop currently in `inDir` through the incremental
    * curation step exactly once and stop; rerunning with the same
    * `checkpointDir` processes only files that arrived since. The state
    * lake at `stateRoot` must exist ([[IncrementalCuration.initLake]]). */
  def runAvailable(spark: SparkSession, inDir: String, stateRoot: String,
                   outDir: String, checkpointDir: String,
                   cfg: Config = Config(),
                   maxFilesPerTrigger: Int = 64,
                   withHost: Boolean = false): Unit = {
    // fail at START, not inside batch 0 after its intent is written (a
    // config/schema mismatch there would crash-loop on every restart):
    // - a lake with host counters needs the host column on every batch
    val hostsPresent = graft.sources.StateLake
      .committedBatches(spark, s"$stateRoot/hosts").nonEmpty
    if (!withHost && hostsPresent)
      throw new IllegalArgumentException(
        s"state lake at $stateRoot maintains per-host arrival counters; " +
          "run with withHost = true (input files must carry a host column)")
    // - capping needs the counters table (stepCore throws mid-batch
    //   otherwise) and the host column on the batch
    if (cfg.hostCapN.nonEmpty && !hostsPresent)
      throw new IllegalArgumentException(
        s"hostCapN is set but the state lake at $stateRoot has no hosts " +
          "table — bootstrap it via initLake(hostArrivals = ...)")
    if (cfg.hostCapN.nonEmpty && !withHost)
      throw new IllegalArgumentException(
        "hostCapN is set but withHost = false — batches would carry no host column")
    // - withHost injects an ALL-NULL host column when the files lack one
    //   (a user-specified schema fills missing parquet columns with NULL),
    //   silently bypassing the cap and freezing the counters — check the
    //   files actually carry it (AvailableNow drains what exists at start)
    if (withHost)
      scala.util.Try(spark.read.parquet(inDir).schema).foreach { sch =>
        if (!sch.fieldNames.contains("host"))
          throw new IllegalArgumentException(
            s"withHost = true but the files in $inDir carry no 'host' " +
              "column — they would stream as all-NULL hosts (cap bypassed, " +
              "counters never advancing)")
      }
    // - a semantic-enabled lake degrades when streamed (no embeddings on
    //   the stream): require the explicit opt-in, never silent decay
    if (!cfg.skipSemantic && graft.sources.StateLake
          .committedBatches(spark, s"$stateRoot/cells").nonEmpty)
      throw new IllegalArgumentException(
        s"state lake at $stateRoot is semantic-enabled (cells table) but " +
          "the stream carries no embeddings: semantic dedup would silently " +
          "skip for every streamed batch and streamed docs would never " +
          "enter the cells table. Pass Config(skipSemantic = true) to " +
          "accept that, or feed embedding-bearing batches through " +
          "IncrementalCuration.stepLake directly")
    // resolved once on the first batch, cached for the run; STRICT — a
    // fallback id would re-key the commit markers mid-stream
    lazy val streamId = PageStream.streamIdOf(spark, checkpointDir)
    val q = readDocs(spark, inDir, maxFilesPerTrigger, withHost)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        curateBatch(batch, batchId, stateRoot, outDir, streamId, cfg)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** One exactly-once curation micro-batch (see object scaladoc for the
    * protocol). Exposed for the crash-matrix specs. */
  private[streaming] def curateBatch(batch: DataFrame, batchId: Long,
                                     stateRoot: String, outDir: String,
                                     streamId: String,
                                     cfg: Config = Config()): Unit = {
    val spark = batch.sparkSession
    val hconf = spark.sparkContext.hadoopConfiguration
    val dir = new org.apache.hadoop.fs.Path(stateRoot,
      s"_stream_commits/$streamId")
    val commit = new org.apache.hadoop.fs.Path(dir, s"$batchId")
    val intent = new org.apache.hadoop.fs.Path(dir, s"$batchId.intent")
    val fs = commit.getFileSystem(hconf)
    if (fs.exists(commit)) return // already fully applied: exactly-once
    val pinnedVersion: Int =
      if (fs.exists(intent)) {
        // replay of a crashed attempt: re-run pinned at the recorded
        // pre-batch version (the first attempt may have fully committed)
        val in = fs.open(intent)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toInt
        finally in.close()
      } else {
        val v = IncrementalCuration.lakeStateVersion(spark, stateRoot)
        fs.mkdirs(dir)
        val tmp = new org.apache.hadoop.fs.Path(dir, s"$batchId.intent.tmp")
        val out = fs.create(tmp, true)
        try out.write(v.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        if (!fs.rename(tmp, intent))
          throw new java.io.IOException(s"intent rename failed for batch $batchId")
        v
      }
    val survivors = IncrementalCuration.stepLake(spark, stateRoot, batch,
      batchEmbeddings = None, cfg = cfg.curation,
      hostCapN = cfg.hostCapN,
      atVersion = Some(pinnedVersion))
    appendOut(survivors, outDir, streamId, batchId)
    if (!fs.rename(intent, commit))
      throw new java.io.IOException(s"stream commit rename failed for batch $batchId")
    // GC old markers (the PageStream.ingestBatch retention discipline):
    // replay only ever concerns the latest uncommitted batch, so a bounded
    // window is safe — a standing query would otherwise accrete one tiny
    // marker file per micro-batch forever
    val retainMarkers = 128
    if (batchId > retainMarkers) {
      for (s <- fs.listStatus(dir)
           if scala.util.Try(s.getPath.getName.takeWhile(_.isDigit).toLong)
             .toOption.exists(_ < batchId - retainMarkers))
        fs.delete(s.getPath, false)
    }
  }

  /** Idempotent per-batch output append: staging write + one rename into
    * an `ingest_batch=<stream>-<batch>` partition dir (partition-style
    * naming so `spark.read.parquet(outDir)` discovers every batch and the
    * provenance column comes along for free); skipped if the partition
    * already committed. */
  private[streaming] def appendOut(survivors: DataFrame, outDir: String,
                                   streamId: String, batchId: Long): Unit = {
    val spark = survivors.sparkSession
    val hconf = spark.sparkContext.hadoopConfiguration
    val name = f"$streamId-$batchId%06d"
    val target = new org.apache.hadoop.fs.Path(outDir, s"ingest_batch=$name")
    graft.sources.StateLake.commitStaged(target.getFileSystem(hconf),
        new org.apache.hadoop.fs.Path(outDir, s".staging-$name"), target) {
      staging => survivors.write.mode("overwrite").parquet(staging.toString)
    }
    ()
  }
}
