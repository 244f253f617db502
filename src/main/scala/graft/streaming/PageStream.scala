package graft.streaming

import graft.pipeline.QualityPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

/** Structured-Streaming front end for the quality-filter + PII-scrub
  * pipeline: the SAME stage chain the batch runner uses
  * ([[QualityPipeline.run]] — every stage is a narrow projection, so it is
  * streaming-compatible with NO state store), applied continuously as page
  * files land in the crawl directory.
  *
  * Exactly-once contract: the file source tracks consumed input files in
  * the checkpoint and the file sink commits output files through its
  * transaction log, so a crash between micro-batches neither drops nor
  * duplicates pages — restarting with the same `checkpointDir` resumes
  * cleanly (spec-pinned: a second run over the same input appends
  * nothing). `Trigger.AvailableNow` drains everything currently present
  * and stops — the batch-shaped deployment (cron per crawl drop); a
  * continuous deployment passes a processing-time trigger instead.
  */
object PageStream {

  /** Streaming page scan: same schema as the lake
    * (url, warc_ts, html, text, lang). `maxFilesPerTrigger` bounds
    * micro-batch size so one giant crawl drop cannot blow a single batch. */
  def readPages(spark: SparkSession, path: String,
                maxFilesPerTrigger: Int = 64): DataFrame =
    spark.readStream
      .schema("url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(path)

  /** The scored stream: extract → langid → quality gates → PII scrub —
    * identical column contract to the batch pipeline. */
  def scored(pages: DataFrame,
             cfg: QualityPipeline.Config = QualityPipeline.Config()): DataFrame =
    QualityPipeline.run(pages, cfg)
      .select("url", "lang_pred", "keep", "drop_reasons", "n_pii", "text_scrubbed")

  /** Drain everything currently in `inDir` into `outDir` exactly once and
    * stop. Rerunning with the same `checkpointDir` processes only files
    * that arrived since the last run. */
  def runAvailable(spark: SparkSession, inDir: String, outDir: String,
                   checkpointDir: String,
                   cfg: QualityPipeline.Config = QualityPipeline.Config()): Unit = {
    val q = scored(readPages(spark, inDir), cfg)
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Streamed crawl ingestion INTO the page lake.
    *
    * CONTRACT: `lakeDir` is a KEPT-PAGES product lake (the same artifact
    * `PipelineMain` writes) — `text` is the PII-SCRUBBED text, `html` a
    * synthesized wrapper of it, `lang` the predicted language. It is NOT a
    * raw-crawl mirror; don't mix it with a lake of raw pages (digests over
    * `text` would differ for identical source pages and exact dedup would
    * miss them).
    *
    * Kept pages of each micro-batch are appended to `lakeDir` through
    * [[graft.sources.PageLake.append]] (date-partitioned, bucket-sorted,
    * manifest refreshed incrementally — O(new files) footer reads per
    * batch), so downstream bucket-pruned reads stay exact as the crawl
    * streams in.
    *
    * `foreachBatch` + append is at-least-once under driver retry, so each
    * batch commits through a WRITE-AHEAD INTENT under `_stream_commits/`
    * (the mini version of the file sink's transaction log): the intent
    * records the pre-append file listing, the append runs, then the
    * intent renames to the commit marker. A replayed batch whose commit
    * exists is skipped; a replay that finds a dangling intent first
    * DELETES every data file not in the intent's listing (the crashed
    * attempt's partial output — batches run sequentially, so nothing else
    * wrote meanwhile) and re-appends. Net effect: exactly-once lake rows
    * under any crash point. */
  def runIntoLake(spark: SparkSession, inDir: String, lakeDir: String,
                  checkpointDir: String,
                  cfg: QualityPipeline.Config = QualityPipeline.Config()): Unit = {
    import org.apache.spark.sql.functions._
    // resolved once on the first batch, cached for the run (the metadata
    // file exists by then — written at query start)
    lazy val streamId = streamIdOf(spark, checkpointDir)
    val q = QualityPipeline.run(readPages(spark, inDir), cfg).filter(col("keep"))
      .select(col("url"), col("warc_ts"),
        encode(concat(lit("<html><body>"), col("text_scrubbed"),
          lit("</body></html>")), "UTF-8").as("html"),
        col("text_scrubbed").as("text"), col("lang_pred").as("lang"))
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestBatch(batch, batchId, lakeDir, streamId)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** The checkpoint's query UUID (from `<checkpoint>/metadata`, written at
    * query start — foreachBatch runs after, so it exists by first read):
    * a recreated checkpoint gets a new UUID, so its restarted batch
    * numbering can never collide with the old markers. STRICT — a read
    * failure throws (failing the batch, which retries) rather than falling
    * back to a path hash: a silent fallback would re-key the marker
    * directory mid-stream, so a replay after a transient metadata-read
    * blip would miss its own intent and double- or zero-apply the batch —
    * exactly the corruption the markers exist to prevent. */
  private[streaming] def streamIdOf(spark: SparkSession, checkpointDir: String): String = {
    val p = new org.apache.hadoop.fs.Path(checkpointDir, "metadata")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    scala.util.Try {
      val in = fs.open(p)
      val bytes = try {
        val bos = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, bos, 8192, false)
        bos.toByteArray
      } finally in.close()
      new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(bytes).get("id").asText()
    }.fold(e => throw new java.io.IOException(
      s"cannot resolve the stream id from $p — refusing a fallback id " +
        "(it would re-key the exactly-once commit markers)", e), identity)
  }

  /** One idempotent lake append (see [[runIntoLake]] for the protocol).
    *
    * `streamId` namespaces the commit markers: a RESET checkpoint (or a
    * second stream into the same lake) gets fresh batch numbering, and
    * bare batch ids would collide with the old markers and silently skip
    * whole batches — [[runIntoLake]] passes the checkpoint's metadata
    * UUID, which changes whenever the checkpoint is recreated.
    *
    * The two listings per batch (intent = pre-append,
    * [[graft.sources.PageLake.refreshManifest]] = post-append) are both
    * required — they snapshot different points in time; transactional
    * metadata (Iceberg) is what removes them, not reordering. */
  private[streaming] def ingestBatch(batch: DataFrame, batchId: Long,
                                     lakeDir: String,
                                     streamId: String = "default",
                                     retainMarkers: Int = 128): Unit = {
    import graft.sources.PageLake
    val spark = batch.sparkSession
    val hconf = spark.sparkContext.hadoopConfiguration
    val dir = new org.apache.hadoop.fs.Path(lakeDir, s"_stream_commits/$streamId")
    val commit = new org.apache.hadoop.fs.Path(dir, s"$batchId")
    val intent = new org.apache.hadoop.fs.Path(dir, s"$batchId.intent")
    val fs = commit.getFileSystem(hconf)
    if (!fs.exists(commit)) {
      if (fs.exists(intent)) {
        // crashed attempt: roll back its partial data files, including any
        // task-committed output still parked under _temporary (the replay's
        // job commit would otherwise resurrect it alongside its own)
        val before = {
          val in = fs.open(intent)
          try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toSet
          finally in.close()
        }
        for (f <- PageLake.liveFiles(spark, lakeDir) if !before.contains(f))
          fs.delete(new org.apache.hadoop.fs.Path(f), false)
        fs.delete(new org.apache.hadoop.fs.Path(lakeDir, "_temporary"), true)
      } else {
        // ATOMIC intent: write to a tmp path, rename into place — a torn
        // half-written intent would otherwise make a later replay's
        // rollback read a truncated listing and delete committed data
        fs.mkdirs(dir)
        val tmp = new org.apache.hadoop.fs.Path(dir, s"$batchId.intent.tmp")
        val out = fs.create(tmp, true)
        try out.write(PageLake.liveFiles(spark, lakeDir).toSeq.sorted
          .mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        if (!fs.rename(tmp, intent))
          throw new java.io.IOException(s"intent rename failed for batch $batchId")
      }
      PageLake.append(batch, lakeDir)
      if (!fs.rename(intent, commit))
        throw new java.io.IOException(s"stream commit rename failed for batch $batchId")
      // GC old markers: replay only ever concerns the latest uncommitted
      // batch, so a bounded retention window is safe (a continuous stream
      // would otherwise accrete one tiny file per micro-batch forever)
      if (batchId > retainMarkers) {
        for (s <- fs.listStatus(dir)
             if scala.util.Try(s.getPath.getName.takeWhile(_.isDigit).toLong)
               .toOption.exists(_ < batchId - retainMarkers))
          fs.delete(s.getPath, false)
      }
    }
  }
}
