package graft.sources

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** StateLake: atomic batch-grain appends, idempotent commits, and
  * bucket-partition pruning of probe reads. */
class StateLakeSpec extends SparkSpecBase {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("statelake").toString + "/t"

  private def rows(n: Int, off: Long = 0L) =
    spark.range(n).select(($"id" + off).as("k"),
      concat(lit("v"), ($"id" + off).cast("string")).as("v"))

  test("append/read round-trip across batches; batch and bucket columns exposed") {
    val dir = tmp()
    assert(StateLake.append(rows(100), dir, "k", 8, 0))
    assert(StateLake.append(rows(50, 100), dir, "k", 8, 1))
    assert(StateLake.committedBatches(spark, dir) == Seq(0, 1))
    val all = StateLake.read(spark, dir)
    assert(all.count() == 150)
    assert(all.columns.toSet == Set("k", "v", "batch", "bucket"))
    // upTo pins the state version
    assert(StateLake.read(spark, dir, upTo = 0).count() == 100)
    // buckets agree with bucketOf
    val bad = all.filter(col("bucket") =!= StateLake.bucketOf(col("k"), 8))
    assert(bad.count() == 0, "stored bucket must equal bucketOf(key)")
  }

  test("re-appending a committed batch is a no-op (idempotent commit)") {
    val dir = tmp()
    assert(StateLake.append(rows(40), dir, "k", 4, 0))
    val before = StateLake.read(spark, dir).inputFiles.toSet
    assert(!StateLake.append(rows(9999, 7777), dir, "k", 4, 0),
      "second commit of batch 0 must be refused")
    assert(StateLake.read(spark, dir).inputFiles.toSet == before,
      "file set must be untouched by the refused append")
    assert(StateLake.read(spark, dir).count() == 40)
  }

  test("more buckets than cores: one parquet file per bucket dir, each row in bucketOf(key)") {
    val dir = tmp()
    val nBuckets = 4 * spark.sparkContext.defaultParallelism + 3
    val n = 50 * nBuckets
    assert(StateLake.append(rows(n), dir, "k", nBuckets, 0))
    assert(StateLake.append(rows(n, n), dir, "k", nBuckets, 1))
    for (b <- Seq("batch=000000", "batch=000001")) {
      val bucketDirs = new java.io.File(dir, b).listFiles().filter(_.isDirectory)
      assert(bucketDirs.length == nBuckets, s"$b: every bucket holds rows")
      for (d <- bucketDirs) {
        val files = d.listFiles().map(_.getName).filter(_.endsWith(".parquet"))
        assert(files.length == 1, s"$b/${d.getName} holds ${files.toSeq}")
      }
    }
    val all = StateLake.read(spark, dir)
    assert(all.count() == 2L * n)
    assert(all.filter(col("bucket") =!= StateLake.bucketOf(col("k"), nBuckets))
      .count() == 0, "stored bucket must equal bucketOf(key)")
  }

  test("commitAll: a failure surfaces only after every other commit finished") {
    val finished = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val boom = new java.io.IOException("commit 0 failed")
    val commits: Seq[() => Unit] = (0 until 4).map { i => () =>
      if (i == 0) throw boom // fails at once; the others are still running
      Thread.sleep(300)
      finished.add(i)
      ()
    }
    val e = intercept[java.io.IOException](StateLake.commitAll(commits))
    assert(e eq boom)
    assert(finished.toArray.toSet == Set(1, 2, 3),
      "every other commit must finish before the failure is rethrown")
  }

  test("commitAll: commits run concurrently, results come back in order, local properties inherited") {
    val n = 4
    val latch = new java.util.concurrent.CountDownLatch(n)
    spark.sparkContext.setLocalProperty("statelake.spec", "wave")
    val out = try StateLake.commitAll((0 until n).map { i => () =>
      latch.countDown()
      // every commit waits for all the others: only concurrent ones pass
      assert(latch.await(30, java.util.concurrent.TimeUnit.SECONDS))
      (i, spark.sparkContext.getLocalProperty("statelake.spec"))
    }) finally spark.sparkContext.setLocalProperty("statelake.spec", null)
    assert(out == (0 until n).map(i => (i, "wave")))
  }

  test("a torn staging dir is invisible to readers and cleaned by the retry") {
    val dir = tmp()
    StateLake.append(rows(10), dir, "k", 4, 0)
    // simulate a crash mid-write of batch 1: staging exists, no rename
    val staging = new java.io.File(dir, ".staging-1")
    staging.mkdirs()
    java.nio.file.Files.write(staging.toPath.resolve("garbage.parquet"),
      Array[Byte](1, 2, 3))
    assert(StateLake.read(spark, dir).count() == 10,
      "torn staging must not be read")
    assert(StateLake.committedBatches(spark, dir) == Seq(0))
    // retry commits cleanly
    assert(StateLake.append(rows(5, 10), dir, "k", 4, 1))
    assert(StateLake.read(spark, dir).count() == 15)
    assert(!staging.exists(), "retry must have replaced the torn staging dir")
  }

  test("bucket-pruned read: same answer, fewer files opened, partition filter in plan") {
    val dir = tmp()
    StateLake.append(rows(400), dir, "k", 16, 0)
    StateLake.append(rows(200, 400), dir, "k", 16, 1)
    val probeKeys = rows(3, 42).select("k")
    val buckets = StateLake.probedBuckets(probeKeys, "k", 16)
    assert(buckets.nonEmpty && buckets.size <= 3)
    // answer equality: pruning removes only rows that cannot match
    val prunedHits = StateLake.readBuckets(spark, dir, buckets)
      .join(probeKeys, Seq("k"), "left_semi")
      .select("k").as[Long].collect().sorted
    val fullHits = StateLake.read(spark, dir)
      .join(probeKeys, Seq("k"), "left_semi")
      .select("k").as[Long].collect().sorted
    assert(prunedHits.sameElements(fullHits))
    // scan footprint: strictly fewer files than the table holds
    val (hit, total) = StateLake.pruneStats(spark, dir, buckets)
    assert(hit < total, s"pruned scan must open fewer files ($hit/$total)")
    assert(hit >= buckets.size, "every probed bucket present in both batches")
    // Spark actually prunes: the partition filter reaches the scan
    val plan = StateLake.readBuckets(spark, dir, buckets)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      s"bucket filter must be a partition filter:\n$plan")
  }

  test("bloom sidecar: per-batch contributions merge with no false negatives") {
    import graft.operators.IncrementalDedup
    val dir = tmp() + "_bloom"
    val items = 4096L; val fpp = 0.01; val shards = 3
    val b0 = rows(300).select(col("k").cast("string").as("digest"))
    val b1 = rows(200, 1000).select(col("k").cast("string").as("digest"))
    assert(StateLake.writeBloom(spark,
      IncrementalDedup.buildFilterArray(b0, "digest", items, fpp, shards), dir, 0))
    assert(StateLake.writeBloom(spark,
      IncrementalDedup.buildFilterArray(b1, "digest", items, fpp, shards), dir, 1))
    // idempotent commit
    assert(!StateLake.writeBloom(spark,
      IncrementalDedup.buildFilterArray(b1, "digest", items, fpp, shards), dir, 1))
    val merged = StateLake.readBloom(spark, dir)
    assert(merged.length == shards)
    // every key from BOTH batches probes positive through the merged array
    // (Bloom merge is bitwise-or: contributions from any batch survive)
    // probe through the ONE production probe helper (key derivation +
    // shard routing live there; re-deriving them here could drift)
    import org.apache.spark.unsafe.types.UTF8String
    def probes(fs: Array[org.apache.spark.util.sketch.BloomFilter], d: String) =
      graft.functions.BloomMightContainSharded.probe(fs, UTF8String.fromString(d))
    val all = (b0.collect() ++ b1.collect()).map(_.getString(0))
    val miss = all.filterNot(d => probes(merged, d))
    assert(miss.isEmpty, s"false negatives after merge: ${miss.take(5).toSeq}")
    // version pinning: as of batch 0, batch-1 keys are mostly absent
    val only0 = StateLake.readBloom(spark, dir, upTo = 0)
    val hit1 = b1.collect().map(_.getString(0)).count(d => probes(only0, d))
    assert(hit1 < 20, s"batch-1 keys must be (almost) all absent at version 0, got $hit1/200")
  }

  test("bloom sidecar shard order survives >3-digit shard counts") {
    // lexicographic file order puts shard-1000 before shard-101; readBloom
    // must sort by the PARSED index or the probe routes to the wrong filter
    val dir = tmp() + "_bigbloom"
    val n = 1001
    val filters = Array.tabulate(n) { i =>
      val bf = org.apache.spark.util.sketch.BloomFilter.create(10, 0.01)
      bf.putLong(i.toLong); bf
    }
    assert(graft.sources.StateLake.writeBloom(spark, filters, dir, 0))
    val back = graft.sources.StateLake.readBloom(spark, dir)
    assert(back.length == n)
    for (i <- Seq(0, 5, 99, 101, 500, 999, 1000))
      assert(back(i).mightContainLong(i.toLong),
        s"shard $i holds the wrong filter — index order scrambled")
  }
}
