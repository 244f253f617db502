package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** SemDeDup: planted-duplicate behavior, brute-force parity of the drop
  * rule, and layout invariance. */
class SemDedupSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
    .select("vec_id", "embedding")

  private def withPlanted = {
    val planted = embs.filter($"vec_id" % 20 === 0)
      .select(($"vec_id" + 100000L).as("vec_id"),
        transform($"embedding", x => x * lit(2.0f)).as("embedding"))
    embs.unionByName(planted)
  }

  /** One-pass run: centroids fitted over the same vectors. */
  private def semDedup(vectors: org.apache.spark.sql.DataFrame,
                       maxCluster: Int = 4096) =
    Similarity.semDedup(vectors, threshold = 0.99,
      Similarity.fitSemCentroids(vectors), maxCluster)

  test("planted scaled copies are dropped, their originals kept") {
    val out = semDedup(withPlanted).df
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Boolean]("keep")).toMap
    val plantedIds = out.keys.filter(_ >= 100000L)
    assert(plantedIds.nonEmpty)
    for (p <- plantedIds) {
      assert(!out(p), s"scaled copy $p (cosine 1 to ${p - 100000}) must be dropped")
      assert(out(p - 100000L), s"original ${p - 100000} is the earliest in its ball — kept")
    }
  }

  test("drop rule matches the brute-force within-cluster reference (incl. cap)") {
    val unit = withPlanted.collect().map { r =>
      val v = r.getSeq[Float](1).map(_.toDouble).toArray
      val n = math.sqrt(v.map(x => x * x).sum)
      r.getLong(0) -> v.map(x => if (n > 0) x / n else 0.0)
    }.toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    // maxCluster = 4 exercises the cap branch (fixture cells exceed 4);
    // the large value exercises the uncapped rule. The reference mirrors
    // semDedup's contract: only the first maxCluster ids per cell
    // participate in pairing (either side); beyond-cap rows are kept.
    for (cap <- Seq(1000000, 4)) {
      val res = semDedup(withPlanted, maxCluster = cap).df
        .collect()
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("cell"), r.getAs[Boolean]("keep")))
      val byCell = res.groupBy(_._2)
      var capKept = 0
      for ((_, members) <- byCell) {
        val participants = members.map(_._1).sorted.take(cap).toSet
        for ((id, _, keep) <- members) {
          val expectDrop = participants.contains(id) && members.exists { case (other, _, _) =>
            participants.contains(other) && other < id &&
              cos(unit(other), unit(id)) >= 0.99
          }
          if (!participants.contains(id)) capKept += 1
          assert(keep == !expectDrop,
            s"cap=$cap vec $id: keep=$keep but brute force says drop=$expectDrop")
        }
      }
      if (cap == 4) assert(capKept > 0, "small cap must leave beyond-cap rows unexamined")
    }
  }

  test("semDedup release() unpersists the assignment cache") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val m = semDedup(withPlanted)
    m.df.count()
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.nonEmpty, "semDedup must persist the assignment subtree")
    m.release()
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert(added.forall(id => !after.contains(id)),
      "release() must unpersist the assignment subtree")
  }

  test("incremental semdedup equals the full frozen-centroid run restricted to the batch") {
    val all = withPlanted
    val history = all.filter($"vec_id" < 300)
    val batch = all.filter($"vec_id" >= 300) // includes the planted copies (+100000)
    val centroids = Similarity.fitSemCentroids(history)
    val inc = Similarity.semDedupIncremental(batch,
      Similarity.assignCells(history, centroids), centroids, threshold = 0.99)
    val got = inc.df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2))).sorted.toSeq
    val full = Similarity.semDedup(all, 0.99, centroids, maxCluster = 4096)
    val batchIds = batch.select("vec_id").as[Long].collect().toSet
    val want = full.df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2)))
      .filter(t => batchIds.contains(t._1)).sorted.toSeq
    inc.release(); full.release()
    assert(got == want && got.nonEmpty)
    // verdicts cover exactly the batch, and every planted scaled copy in
    // the batch is dropped against its earlier original
    assert(got.map(_._1).toSet == batchIds)
    val copies = got.filter(_._1 >= 100000L)
    assert(copies.nonEmpty && copies.forall(!_._3),
      "scaled copies must drop against earlier-id originals across the boundary")
  }

  test("result is invariant to input partition layout") {
    def run(df: org.apache.spark.sql.DataFrame) =
      semDedup(df).df
        .select("vec_id", "keep").as[(Long, Boolean)].collect().sortBy(_._1).toSeq
    assert(run(withPlanted) == run(withPlanted.repartition(13)))
  }

  test("cosine_sim expression is bit-identical to the declarative fold on the real corpus") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select($"vec_id", $"embedding")
    // float arrays: every corpus vector against a shifted partner, plus the
    // double-array shape (normalized u vectors) the SemDeDup rule scores
    val pairs = e.select($"vec_id".as("a"), $"embedding".as("ea"))
      .join(e.select(($"vec_id" + 1L).as("a"), $"embedding".as("eb")), "a")
    val diffF = pairs.select(
        Similarity.cosine($"ea", $"eb").as("fused"),
        Similarity.cosineDeclarative($"ea", $"eb").as("decl"))
      .filter($"fused" =!= $"decl" ||
        ($"fused".isNull =!= $"decl".isNull)).count()
    assert(diffF == 0)
    val u = e.select($"vec_id".as("a"),
      transform($"embedding", x => x.cast("double") * 2.0).as("ua"))
    val pairsD = u.join(u.select(($"a" + 1L).as("a"), $"ua".as("ub")), "a")
    val diffD = pairsD.select(
        Similarity.cosine($"ua", $"ub").as("fused"),
        Similarity.cosineDeclarative($"ua", $"ub").as("decl"))
      .filter($"fused" =!= $"decl" ||
        ($"fused".isNull =!= $"decl".isNull)).count()
    assert(diffD == 0)
  }
}
