package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted, bucket-clustered state tables for the incremental-curation
  * surface — the concrete form of the layout every incremental operator's
  * scaladoc prescribes ("bands bucketed by band_digest, digests by digest,
  * cells by cell"): one parquet table per state class, clustered so the
  * per-batch probe joins are satisfied from layout and only the batch side
  * ever moves.
  *
  * Layout (Hive-partitioned parquet — what Iceberg's bucket-transform
  * partitioning degrades to without the jars in this sandbox):
  *
  * {{{
  *   <dir>/batch=000000/bucket=<k>/part-*.parquet   // bootstrap
  *   <dir>/batch=000001/bucket=<k>/part-*.parquet   // day-1 append
  *   ...
  * }}}
  *
  * `bucket = pmod(xxhash64(key), nBuckets)` — a probe that knows its key
  * set knows its bucket set, so a filter on `bucket` partition-prunes the
  * scan to the matching directories (asserted in StateLakeSpec via the
  * scan's numFiles metric).
  *
  * Appends are BATCH-grain and atomic: each batch is written to a hidden
  * `.staging-<id>` directory and committed with one directory rename — a
  * reader never sees a torn batch, and a crashed append leaves only a
  * staging dir the retry deletes. Commits are idempotent per (table,
  * batchId): re-appending an already-committed batch is a no-op (returns
  * false), which is what makes the daily step's multi-table commit
  * crash-recoverable — replaying the same batch after a crash re-derives
  * the identical rows (the step is deterministic in its inputs) and fills
  * in only the tables whose rename never happened
  * ([[graft.pipeline.IncrementalCuration.stepLake]]).
  */
object StateLake {

  /** Bucket-of-key: the clustering column every table is partitioned by. */
  def bucketOf(key: Column, nBuckets: Int): Column =
    pmod(xxhash64(key), lit(nBuckets.toLong))

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The crash-safe commit protocol every batch-grain writer here shares
    * (data appends, Bloom sidecars, the stream's output partitions):
    * skip if `target` is already committed (idempotent — returns false),
    * delete a torn staging dir from a crashed previous attempt, run
    * `write` into `staging`, then promote with ONE atomic rename. One
    * implementation so a future semantics fix (e.g. rename-onto-existing
    * behavior on object stores) cannot silently miss a writer. */
  private[graft] def commitStaged(f: org.apache.hadoop.fs.FileSystem,
                                  staging: Path, target: Path)
                                 (write: Path => Unit): Boolean = {
    if (f.exists(target)) return false
    if (f.exists(staging)) f.delete(staging, true) // torn previous attempt
    write(staging)
    if (!f.rename(staging, target))
      throw new java.io.IOException(s"commit rename failed: $staging -> $target")
    true
  }

  /** Append `df` as batch `batchId` of the table at `dir`, clustered by
    * `keyCol` into `nBuckets` bucket partitions. Atomic (staging dir +
    * rename) and idempotent: returns false without writing when the batch
    * is already committed.
    *
    * Write geometry: the piece is shuffled into min(nBuckets,
    * defaultParallelism) tasks keyed on `bucket` — one task wave, however
    * many buckets the table has. A bucket still lands in exactly one task,
    * so every `batch=N/bucket=K` directory holds exactly one file
    * (StateLakeSpec pins it). A step's appends to different tables are
    * independent commits; [[commitAll]] runs them concurrently.
    *
    * `annotations` are tiny per-batch metadata values (e.g. the docs
    * table's running max doc_id for the monotone-id guard) written as a
    * `_annotations.properties` file INSIDE the staging dir — they commit
    * atomically with the batch's data under the same rename, so a reader
    * can never see an annotation without its batch or vice versa. The
    * underscore prefix keeps parquet readers from touching the file. */
  def append(df: DataFrame, dir: String, keyCol: String, nBuckets: Int,
             batchId: Int, annotations: Map[String, String] = Map.empty): Boolean = {
    val spark = df.sparkSession
    val f = fs(spark, dir)
    commitStaged(f, new Path(dir, s".staging-$batchId"),
        new Path(dir, f"batch=$batchId%06d")) { staging =>
      // one shuffle of the APPENDED piece only (batch-scale): hashing on
      // `bucket` puts each bucket's rows in one task, so each partition dir
      // gets one file; a task writes several buckets when nBuckets exceeds
      // the core count (a task per bucket would run in several waves)
      val tasks = math.min(nBuckets, spark.sparkContext.defaultParallelism)
      df.withColumn("bucket", bucketOf(col(keyCol), nBuckets))
        .repartition(tasks, col("bucket"))
        .write.mode("overwrite").partitionBy("bucket")
        .parquet(staging.toString)
      if (annotations.nonEmpty) {
        val out = f.create(new Path(staging, "_annotations.properties"), true)
        try out.write(annotations.toSeq.sorted
          .map { case (k, v) => s"$k=$v" }.mkString("", "\n", "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
      }
    }
  }

  /** Run a step's independent commits ([[append]], [[writeBloom]] on
    * different tables) concurrently, one thread each, and return their
    * results in order. It waits for EVERY commit to finish before it
    * rethrows the first failure (in `commits` order; later failures ride
    * along as suppressed): a caller that replays the step after a failure
    * must not race an append still in flight, or [[commitStaged]] would
    * delete that append's live staging dir. The pool threads are created
    * by the calling thread, so they inherit its Spark local properties
    * (job group, scheduler pool). */
  private[graft] def commitAll[A](commits: Seq[() => A]): Seq[A] = {
    import java.util.concurrent.{Callable, ExecutionException, Executors}
    import scala.jdk.CollectionConverters._
    import scala.util.{Failure, Try}
    val pool = Executors.newFixedThreadPool(math.max(1, commits.size))
    val outcomes =
      try pool.invokeAll(commits.map(c => (() => c()): Callable[A]).asJava)
        .asScala.toSeq.map(f => Try(f.get()).recoverWith {
          case e: ExecutionException => Failure(e.getCause)
        })
      finally pool.shutdown()
    outcomes.collect { case Failure(e) => e } match {
      case first +: rest =>
        rest.filterNot(_ eq first).foreach(first.addSuppressed)
        throw first
      case _ => outcomes.map(_.get)
    }
  }

  /** One committed batch's annotation value, or None when the batch (or
    * the annotation file, e.g. a lake written before annotations existed)
    * is absent — callers fall back to deriving the value from the batch's
    * data. Driver-side file read, no Spark job. */
  def batchAnnotation(spark: SparkSession, dir: String, batchId: Int,
                      key: String): Option[String] = {
    val f = fs(spark, dir)
    val p = new Path(dir, f"batch=$batchId%06d/_annotations.properties")
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      val text = try {
        val buf = new java.io.ByteArrayOutputStream()
        val tmp = new Array[Byte](4096)
        var n = in.read(tmp)
        while (n > 0) { buf.write(tmp, 0, n); n = in.read(tmp) }
        buf.toString(java.nio.charset.StandardCharsets.UTF_8)
      } finally in.close()
      text.linesIterator.map(_.split("=", 2))
        .collectFirst { case Array(k, v) if k == key => v }
    }
  }

  /** Batch ids committed at `dir` (ascending); empty when the table does
    * not exist yet. */
  def committedBatches(spark: SparkSession, dir: String): Seq[Int] = {
    val f = fs(spark, dir)
    val root = new Path(dir)
    if (!f.exists(root)) Seq.empty
    else f.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
      .map(_.getPath.getName.stripPrefix("batch=").toInt)
      .sorted
  }

  /** The table as of `upTo` (inclusive; default: every committed batch) —
    * original columns plus the `batch` and `bucket` partition columns.
    * A filter on `bucket` partition-prunes (the point of the layout). */
  def read(spark: SparkSession, dir: String, upTo: Int = Int.MaxValue): DataFrame = {
    val batches = committedBatches(spark, dir).filter(_ <= upTo)
    require(batches.nonEmpty, s"state table $dir has no committed batch <= $upTo")
    val dirs = batches.map(b => new Path(dir, f"batch=$b%06d").toString)
    spark.read.option("basePath", dir).parquet(dirs: _*)
  }

  /** One committed batch's rows only (batch-scale I/O — e.g. the
    * monotone-id guard reads just the latest non-empty docs append). */
  def readBatch(spark: SparkSession, dir: String, batchId: Int): DataFrame =
    spark.read.option("basePath", dir)
      .parquet(new Path(dir, f"batch=$batchId%06d").toString)

  /** True when committed batch `batchId` holds at least one parquet data
    * file. A zero-row append (e.g. an all-duplicate crawl day) commits a
    * batch dir containing only _SUCCESS — no partition dirs, no data —
    * and `spark.read.parquet` on such a dir throws UNABLE_TO_INFER_SCHEMA,
    * so callers that walk batch dirs ([[readBatch]] consumers like the
    * monotone-id guard) must skip data-less batches first. One driver-side
    * listing per batch dir, no Spark job. */
  def batchHasData(spark: SparkSession, dir: String, batchId: Int): Boolean = {
    val f = fs(spark, dir)
    def any(p: Path): Boolean = f.listStatus(p).exists { s =>
      if (s.isDirectory) any(s.getPath)
      else !s.getPath.getName.startsWith("_") && s.getLen > 0
    }
    val d = new Path(dir, f"batch=$batchId%06d")
    f.exists(d) && any(d)
  }

  /** [[read]] restricted to the buckets a probe key set can touch — the
    * per-step history read: `buckets` comes from the batch side (bounded
    * by nBuckets, never data-scale), and the filter prunes the scan to the
    * matching partition directories. */
  def readBuckets(spark: SparkSession, dir: String, buckets: Seq[Long],
                  upTo: Int = Int.MaxValue): DataFrame =
    read(spark, dir, upTo).filter(col("bucket").isInCollection(buckets))

  /** The bucket ids `keys` hash into — the probe side's scan footprint,
    * collected on the driver (≤ nBuckets values, never data-scale). */
  def probedBuckets(keys: DataFrame, keyCol: String, nBuckets: Int): Seq[Long] =
    keys.select(bucketOf(col(keyCol), nBuckets).as("bucket"))
      .distinct().collect().map(_.getLong(0)).toSeq

  // --- Bloom sidecars -----------------------------------------------------
  //
  // A digest table's Bloom prefilter, persisted NEXT TO the table so a
  // daily step never re-scans the history to rebuild it: each batch
  // commit writes the batch's filter CONTRIBUTION (built over just the
  // appended digests with the table's fixed (expectedItems, fpp, shards)
  // — merging requires identical bit-array sizes), and a reader ORs the
  // per-batch contributions together (Bloom merge is bitwise-or:
  // order-independent, no false negatives). Same batch-dir layout and
  // atomic rename commit as the data tables, so one stateVersion covers
  // both. A filter that outgrows its sizing degrades fpp (more rows pay
  // the verify join), never correctness — rebuild from the digest table
  // when saturated.

  /** Write `filters` as batch `batchId`'s sidecar at `dir` (atomic,
    * idempotent — the [[append]] contract). */
  def writeBloom(spark: SparkSession,
                 filters: Array[org.apache.spark.util.sketch.BloomFilter],
                 dir: String, batchId: Int): Boolean = {
    val f = fs(spark, dir)
    commitStaged(f, new Path(dir, s".staging-$batchId"),
        new Path(dir, f"batch=$batchId%06d")) { staging =>
      filters.zipWithIndex.foreach { case (bf, i) =>
        val out = f.create(new Path(staging, f"shard-$i%03d.bf"), true)
        try bf.writeTo(out) finally out.close()
      }
    }
  }

  /** The merged filter array as of `upTo`: every committed batch's
    * contribution OR-ed per shard. */
  def readBloom(spark: SparkSession, dir: String,
                upTo: Int = Int.MaxValue): Array[org.apache.spark.util.sketch.BloomFilter] = {
    val f = fs(spark, dir)
    val batches = committedBatches(spark, dir).filter(_ <= upTo)
    require(batches.nonEmpty, s"bloom sidecar $dir has no committed batch <= $upTo")
    var acc: Array[org.apache.spark.util.sketch.BloomFilter] = null
    for (b <- batches) {
      val d = new Path(dir, f"batch=$b%06d")
      // sort by the PARSED shard index, not the name: lexicographic order
      // scrambles index-vs-shard beyond 1000 shards (shard-1000 < shard-101),
      // and a scrambled array means might_contain_sharded probes the wrong
      // filter — Bloom false NEGATIVES, i.e. silently admitted duplicates
      // only files this writer's naming produced: a stray .bf (foreign tool
      // output, a copy suffix) must not break the parsed-index sort
      val shardFiles = f.listStatus(d).toSeq
        .filter(s => s.isFile && s.getPath.getName.matches("shard-\\d+\\.bf"))
        .sortBy(_.getPath.getName.stripPrefix("shard-").stripSuffix(".bf").toInt)
      val batchFilters = shardFiles.map { s =>
        val in = f.open(s.getPath)
        try org.apache.spark.util.sketch.BloomFilter.readFrom(in)
        finally in.close()
      }.toArray
      if (acc == null) acc = batchFilters
      else {
        require(acc.length == batchFilters.length,
          s"shard count drift in $dir at batch $b")
        acc.indices.foreach(i => acc(i).mergeInPlace(batchFilters(i)))
      }
    }
    acc
  }

  /** (files a bucket-pruned scan opens, total live files) — the pruning
    * effectiveness measure (the PageLake.pruneStats analogue). */
  def pruneStats(spark: SparkSession, dir: String,
                 buckets: Seq[Long]): (Int, Int) = {
    val f = fs(spark, dir)
    val wanted = buckets.map(b => s"bucket=$b").toSet
    val all = committedBatches(spark, dir).flatMap { b =>
      f.listStatus(new Path(dir, f"batch=$b%06d")).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("bucket="))
        .flatMap(d => f.listStatus(d.getPath).toSeq.filter(_.isFile)
          .map(file => (d.getPath.getName, file.getPath.getName)))
    }
    (all.count(x => wanted.contains(x._1)), all.size)
  }
}
