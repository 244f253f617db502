package graft.operators

import graft.functions.{Pinned, StaticKernel}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType}

/** Embedding similarity search over an `array<float>` column.
  *
  * Baseline: brute-force cosine top-k (broadcast the query set, narrow score
  * pass, per-query top-k via window). Scale path: LSH bucketing by random
  * hyperplane signs — candidates share a signature bucket, cutting the score
  * pass from |corpus|·|queries| to bucket-local work.
  */
object Similarity {

  /** Cosine similarity of two equal-length float-array columns, computed in
    * double with a deterministic left-to-right fold (portable to DuckDB's
    * list_cosine_similarity over DOUBLE[]). One fused expression pass —
    * the declarative aggregate/zip_with form paid interpreted per-element
    * lambda evaluation on every scored pair (higher-order functions are
    * CodegenFallback); bit-identity with it is pinned in SimilaritySpec. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineFunctions.cosine_sim(a, b)

  /** The declarative formulation [[cosine]] replaced — kept as the value
    * specification (SimilaritySpec pins bit-identity on the real corpus). */
  private[graft] def cosineDeclarative(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)
    val na = sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))
    val nb = sqrt(aggregate(b, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))
    dot / (na * nb)
  }

  /** Embedding-level benchmark decontamination: flag each corpus vector
    * whose cosine similarity to ANY benchmark vector reaches `threshold` —
    * the semantic analogue of shingle decontamination (q38): it catches
    * paraphrased eval items that share no 8-gram with the training page.
    * Benchmark sets are eval-scale → broadcast; the corpus scan stays
    * narrow and the only shuffle moves one map-side-combined (id, max_sim)
    * row per corpus vector. The verdict thresholds the 6-dp-ROUNDED max so
    * it is a decimal-stable quantity both engines compute identically
    * (q88's DuckDB oracle mirrors it with list_cosine_similarity). */
  def decontaminateSemantic(corpus: DataFrame, bench: DataFrame,
                            threshold: Double): DataFrame = {
    val b = broadcast(bench.select(col("vec_id").as("bench_id"),
      col("embedding").as("b_emb")))
    corpus.select(col("vec_id"), col("embedding"))
      .crossJoin(b)
      .withColumn("sim", cosine(col("b_emb"), col("embedding")))
      .groupBy("vec_id")
      .agg(round(max(col("sim")), 6).as("max_sim"))
      .withColumn("contaminated", col("max_sim") >= threshold)
  }

  /** Brute-force top-k: queries are broadcast (small side); the corpus scan
    * stays narrow; one shuffle on query_id for the per-query ranking. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb")))
    val scored = corpus.select(col("vec_id").as("cand_id"), col("embedding"))
      .crossJoin(q)
      .withColumn("sim", cosine(col("q_emb"), col("embedding")))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("cand_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("cand_id"), col("rank"), round(col("sim"), 6).as("sim"))
  }

  /** Deterministic random hyperplanes (seeded Gaussian via Box-Muller over a
    * splitmix-style counter) — same planes on every run/executor. */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(nPlanes)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-LSH bucket id for an embedding column: bit b = (v · plane_b) > 0. */
  def lshBucket(emb: Column, planes: Array[Array[Double]]): Column = {
    val bits = planes.zipWithIndex.map { case (p, b) =>
      val dot = aggregate(
        zip_with(emb, lit(p), (x, y) => x.cast("double") * y),
        lit(0.0), (acc, x) => acc + x)
      when(dot > 0, lit(1L << b)).otherwise(0L)
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** IVF (inverted-file) coarse quantizer: deterministic Lloyd's k-means over
    * a driver-collected sample (at crawl scale: a bounded random sample);
    * centroids are broadcast, corpus rows are assigned in a narrow map, and
    * queries probe the `nProbe` nearest cells only. */
  def ivfCentroids(sample: Array[Array[Float]], k: Int, iters: Int = 10,
                   seed: Long = 42L): Array[Array[Double]] = {
    require(sample.nonEmpty)
    val dim = sample.head.length
    val rnd = new scala.util.Random(seed)
    val idx = rnd.shuffle(sample.indices.toVector).take(k)
    var centroids = idx.map(i => sample(i).map(_.toDouble)).toArray
    for (_ <- 1 to iters) {
      val sums = Array.fill(centroids.length)(new Array[Double](dim))
      val counts = new Array[Int](centroids.length)
      for (v <- sample) {
        val c = nearestCentroid(v, centroids)
        counts(c) += 1
        var d = 0
        while (d < dim) { sums(c)(d) += v(d); d += 1 }
      }
      centroids = centroids.indices.map { c =>
        if (counts(c) == 0) centroids(c)
        else sums(c).map(_ / counts(c))
      }.toArray
    }
    centroids
  }

  private def sqDist(v: Array[Float], ctr: Array[Double]): Double = {
    var d = 0.0; var i = 0
    while (i < ctr.length) { val x = v(i) - ctr(i); d += x * x; i += 1 }
    d
  }

  private def nearestCentroid(v: Array[Float], centroids: Array[Array[Double]]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < centroids.length) {
      val d = sqDist(v, centroids(c))
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Centroids as a kernel parameter: a holder with identity equality, so
    * planning never compares centroid arrays. */
  final class Centroids(val values: Array[Array[Double]]) extends Serializable

  /** Kernel: the id of the centroid nearest to `v` (squared L2). */
  def nearestCell(v: ArrayData, c: Centroids): Int = nearestCentroid(v.toFloatArray(), c.values)

  /** Kernel: the ids of the `nProbe` centroids nearest to `v`, nearest
    * first (ties by id). */
  def nearestCells(v: ArrayData, c: Centroids, nProbe: Int): ArrayData = {
    val f = v.toFloatArray()
    ArrayData.toArrayData(c.values.indices.map(i => i -> sqDist(f, c.values(i)))
      .sortBy(_._2).take(nProbe).map(_._1).toArray)
  }

  /** nearest_cell(embedding array<float>) → int. */
  private[graft] def cellOf(v: Column, c: Centroids): Column =
    StaticKernel.column(args => StaticKernel.expr("nearest_cell", this, "nearestCell",
      IntegerType, Seq(ArrayType(FloatType)), args, Seq(c)), v)

  /** nearest_cells(embedding array<float>) → array<int> of `nProbe` ids. */
  private[graft] def cellsOf(v: Column, c: Centroids, nProbe: Int): Column =
    StaticKernel.column(args => StaticKernel.expr("nearest_cells", this, "nearestCells",
      ArrayType(IntegerType, containsNull = false), Seq(ArrayType(FloatType)), args,
      Seq(c, nProbe)), v)

  /** IVF ANN: corpus assigned to its nearest cell (one narrow pass); each
    * query probes its nProbe nearest cells; scoring joins on cell id. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nCells: Int = 16, nProbe: Int = 4, sampleSize: Int = 2048): DataFrame = {
    // ordered take: a bare limit() samples in partition order, which would
    // make centroid init — and so every cell assignment — depend on input
    // layout (same discipline as semDedup's sample)
    val sample = corpus.select(col("vec_id"), col("embedding"))
      .orderBy("vec_id").limit(sampleSize)
      .collect().map(_.getSeq[Float](1).toArray)
    val centroids = new Centroids(ivfCentroids(sample, nCells))
    // pinned: the join's inferred isnotnull(cell) would otherwise be
    // pushed below this projection as a second kernel call
    val c = corpus.select(col("vec_id").as("cand_id"), col("embedding"),
      Pinned.column(cellOf(col("embedding"), centroids)).as("cell"))
    val q = broadcast(queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
      explode(cellsOf(col("embedding"), centroids, nProbe)).as("cell")))
    val scored = c.join(q, "cell")
      .withColumn("sim", cosine(col("q_emb"), col("embedding")))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("cand_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("cand_id"), col("rank"), round(col("sim"), 6).as("sim"))
  }

  /** All-pairs near-duplicate search at a cosine threshold — scale-safe:
    * multi-table sign-LSH candidate generation (OR-construction over
    * `nTables` tables of `nPlanes` hyperplanes each) + exact cosine verify on
    * candidates only. No cartesian product anywhere: the candidate step is an
    * equi-self-join on (table, bucket), the verify step joins embeddings back
    * by id.
    *
    * Recall: identical-direction vectors (exact/scaled duplicates) share
    * every table's bucket deterministically → always found. For threshold t,
    * a pair at angle θ = arccos(t) is missed with probability
    * (1 − (1−θ/π)^nPlanes)^nTables — at t=0.99 with 16 planes × 8 tables
    * that is ~6e-3 per pair.
    *
    * SIZING: each table has 2^nPlanes buckets and expected membership
    * n/2^nPlanes, so pick nPlanes ≈ log2(n / targetBucketSize) — the
    * default 16 (65,536 buckets/table) keeps average buckets in the
    * hundreds up to ~10^7-10^8 vectors. Buckets that still exceed
    * `maxBucket` (pathological directional concentration) are rank-capped
    * to their `maxBucket` smallest ids rather than dropped, bounding the
    * self-join at O(maxBucket²) per bucket while keeping coverage of the
    * densest (most duplicate-rich) region; members beyond the cap in EVERY
    * table are the documented recall loss of that regime. */
  def neardupPairs(vectors: DataFrame, threshold: Double, dim: Int,
                   nTables: Int = 8, nPlanes: Int = 16,
                   maxBucket: Int = 4096): DataFrame = {
    // one-pass fused expression for all nTables×nPlanes dot products
    // (value-identical to composing lshBucket per table — DedupSpec)
    val bucketed = vectors
      .select(col("vec_id").as("id"),
        posexplode(graft.functions.SignLshFunctions
          .sign_lsh_buckets(col("embedding"), nTables, nPlanes, dim)))
      .select(col("id"), col("pos").as("t"), col("col").as("bucket"))
    val w = Window.partitionBy("t", "bucket").orderBy("id")
    val capped = bucketed.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= maxBucket).drop("_rn")
    val pairs = capped.select(col("t"), col("bucket"), col("id").as("id_a"))
      .join(capped.select(col("t"), col("bucket"), col("id").as("id_b")), Seq("t", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val e = vectors.select(col("vec_id"), col("embedding"))
    pairs
      .join(e.select(col("vec_id").as("id_a"), col("embedding").as("emb_a")), "id_a")
      .join(e.select(col("vec_id").as("id_b"), col("embedding").as("emb_b")), "id_b")
      .withColumn("sim", cosine(col("emb_a"), col("emb_b")))
      .filter(col("sim") >= threshold)
      .select("id_a", "id_b", "sim")
  }

  /** SemDeDup (Abbas et al. 2023): semantic deduplication by embedding —
    * cluster the corpus with a coarse k-means quantizer, then inside each
    * cluster drop every vector that has an EARLIER-id neighbor at cosine ≥
    * `threshold` (deterministic min-id canonicalization of the paper's
    * ε-ball pruning; "earlier neighbor" includes itself-dropped vectors, so
    * chains collapse to their smallest id).
    *
    * Embeddings are L2-normalized first (the algorithm operates on the unit
    * sphere; normalization also makes scaled duplicates land in the same
    * cell — Euclidean cells on raw vectors would separate x from 2x despite
    * cosine 1). Scale shape: the centroid fit ([[fitSemCentroids]]) is the
    * bounded `sampleSize` driver sample (same discipline as [[ivfTopK]]);
    * assignment is a narrow broadcast-centroid map; the only shuffle is the
    * within-cell self-join, bounded by `maxCluster` per cell (rank-capped by
    * id — members beyond the cap are kept unexamined, the documented recall
    * loss; pick nCells ≈ n / targetClusterSize).
    *
    * `centroids` is the coarse quantizer: [[fitSemCentroids]] over the same
    * vectors for a one-pass run, or the frozen centroids of an earlier pass
    * (the deterministic remainder of the algorithm). Output: (vec_id, cell,
    * keep), with a `release()` hook that unpersists the assignment subtree —
    * call it after the consuming ACTION completes; repeated un-released
    * calls (batch loops, interactive sessions) otherwise accumulate
    * MEMORY_AND_DISK blocks until LRU eviction. */
  def semDedup(vectors: DataFrame, threshold: Double,
               centroids: Array[Array[Double]],
               maxCluster: Int = 4096): SemDeduped = {
    // Persisted: the normalize+assign subtree feeds BOTH self-join sides and
    // the final projection — without this Spark recomputes it three times.
    // MEMORY_AND_DISK spills at scale; at the 10¹²-row tier a deployment
    // writes the assignment table to the lake instead (assignCells is that
    // table).
    val assigned = assignCells(vectors, centroids)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    SemDeduped(semDropRule(assigned, threshold, maxCluster),
      () => { assigned.unpersist(); () })
  }

  /** Lazy semDedup result + explicit cache release hook. */
  final case class SemDeduped(df: DataFrame, release: () => Unit)

  /** The coarse quantizer [[semDedup]] clusters with: k-means over
    * an ORDERED bounded sample of the L2-normalized vectors (a bare limit()
    * would sample in partition order and make every cell id depend on input
    * layout). Exposed so an INCREMENTAL deployment can freeze the
    * centroids of its first corpus pass and assign every later batch to
    * the same cells ([[semDedupIncremental]]). */
  def fitSemCentroids(vectors: DataFrame, nCells: Int = 16,
                      sampleSize: Int = 2048): Array[Array[Double]] = {
    val sample = l2normalize(vectors).orderBy("id").limit(sampleSize).select("u")
      .collect().map(_.getSeq[Double](0).map(_.toFloat).toArray)
    ivfCentroids(sample, nCells)
  }

  /** (vec_id → id, embedding → u): L2-normalized double vectors (zero
    * vectors map to the zero vector). */
  private def l2normalize(vectors: DataFrame): DataFrame = {
    val norm = sqrt(aggregate(col("embedding"), lit(0.0),
      (a, x) => a + x.cast("double") * x.cast("double")))
    vectors.select(col("vec_id").as("id"),
      when(norm > 0, transform(col("embedding"), x => x.cast("double") / norm))
        .otherwise(transform(col("embedding"), x => lit(0.0))).as("u"))
  }

  /** Normalized cell assignments under a FROZEN quantizer: (id, u, cell) —
    * the standard SemDeDup intermediate a deployment persists to the lake
    * (bucketed by cell) so later batches join against it without
    * recomputation. Centroids ride the `nearest_cell` kernel's object
    * parameter (task binary → one torrent-broadcast copy per executor, no
    * explicit lifecycle); the kernel reads `u` narrowed to float, as the
    * centroid fit reads its sample. */
  def assignCells(vectors: DataFrame, centroids: Array[Array[Double]]): DataFrame =
    l2normalize(vectors).select(col("id"), col("u"),
      cellOf(col("u").cast("array<float>"), new Centroids(centroids)).as("cell"))

  /** The deterministic drop rule over an assignment table: vector b is
    * dropped iff some vector a with a.id < b.id shares its cell at cosine
    * ≥ threshold (both within the per-cell `maxCluster` id-rank cap).
    * `probe` (an (id, u, cell) SUBSET of `assigned`) restricts the VERDICT
    * side — pairs where b is not a probe row are never generated, so an
    * incremental call pays |history|·|batch| per cell, not |history)|²
    * (the a side always spans everything) — and the output rows come
    * straight from the probe rows (no join back through the history). */
  private def semDropRule(assigned: DataFrame, threshold: Double,
                          maxCluster: Int,
                          probe: Option[DataFrame] = None): DataFrame = {
    val w = Window.partitionBy("cell").orderBy("id")
    val capped = assigned.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= maxCluster).drop("_rn")
    // b side still derives from `capped`: a probe row beyond the combined
    // per-cell cap is kept UNEXAMINED, same contract as the full rule
    val bSide = probe.fold(capped)(p =>
      capped.join(p.select(col("id")), Seq("id"), "left_semi"))
    val dropped = capped.select(col("cell"), col("id").as("id_a"), col("u").as("u_a"))
      .join(bSide.select(col("cell"), col("id").as("id_b"), col("u").as("u_b")), Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim", cosine(col("u_a"), col("u_b")))
      .filter(col("sim") >= threshold)
      .select(col("id_b").as("id")).distinct()
      .withColumn("_dropped", lit(true))
    probe.getOrElse(assigned).select(col("id").as("vec_id"), col("cell"))
      .join(dropped.withColumnRenamed("id", "vec_id"), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("_dropped").isNull.as("keep"))
  }

  /** Incremental (cross-batch) SemDeDup — the embedding-space analogue of
    * [[IncrementalDedup.nearNewOnly]]: the daily batch is assigned to the
    * FROZEN historical cells and judged against the persisted historical
    * assignment table plus its own earlier-id rows; only batch verdicts
    * are produced, and only |history|·|batch| within-cell pairs are
    * generated (never history², which was judged when the history was
    * built). EXACTLY equals [[semDedup]] over history ∪ batch with
    * the same centroids, restricted to batch ids (spec-pinned) — requires
    * every history id < every batch id (crawl ids grow monotonically).
    *
    * `historyAssigned` is [[assignCells]] output for the historical corpus
    * (at scale: read back from the lake, bucketed by cell so the per-cell
    * join satisfies its clustering from the table layout). */
  def semDedupIncremental(batch: DataFrame, historyAssigned: DataFrame,
                          centroids: Array[Array[Double]], threshold: Double,
                          maxCluster: Int = 4096,
                          persist: Boolean = true): SemDeduped = {
    // Two caches: the batch assignment (feeds the b side AND the output
    // projection) and the combined table (feeds both sides of the capped
    // pairing — without it a LAZY historyAssigned recomputes per consumer;
    // a deployment reading the cell table off the lake may pass
    // persist = false and let the bucketed scan serve each consumer).
    def cache(df: DataFrame): DataFrame =
      if (persist) df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else df
    val batchAssigned = cache(assignCells(batch, centroids))
    val assigned = cache(historyAssigned.select("id", "u", "cell")
      .unionByName(batchAssigned))
    SemDeduped(
      semDropRule(assigned, threshold, maxCluster, probe = Some(batchAssigned)),
      () => { if (persist) { assigned.unpersist(); batchAssigned.unpersist() }; () })
  }

  /** ANN via sign-LSH: score only same-bucket candidates. Recall < 1 by
    * construction; nProbes>1 would add neighboring buckets. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nPlanes: Int = 8, dim: Int = 64): DataFrame = {
    val planes = hyperplanes(nPlanes, dim)
    val c = corpus.select(col("vec_id").as("cand_id"), col("embedding"),
      lshBucket(col("embedding"), planes).as("bucket"))
    val q = broadcast(queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
      lshBucket(col("embedding"), planes).as("bucket")))
    val scored = c.join(q, "bucket")
      .withColumn("sim", cosine(col("q_emb"), col("embedding")))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("cand_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("cand_id"), col("rank"), round(col("sim"), 6).as("sim"))
  }
}
