package graft

/** Smoke coverage: every SparkEntry query runs at sf0.001, yields rows, and
  * is deterministic across two executions (same content hash). Every
  * action a query runs, `localCheckpoint` included, must also pass the
  * [[PlanInvariant]]: no kernel evaluated twice on one plan path. */
class QueriesSpec extends SparkSpecBase {
  import org.apache.spark.sql.functions._

  private lazy val invariant = {
    val r = new PlanInvariant.Recorder
    spark.listenerManager.register(r)
    r
  }

  private def assertInvariant(name: String): Unit = {
    val (plans, violations) = invariant.take(spark)
    assert(plans > 0, s"$name: no plan was checked")
    assert(violations.isEmpty, s"$name:\n${violations.mkString("\n")}")
  }

  private def contentHash(df: org.apache.spark.sql.DataFrame): java.math.BigDecimal = {
    val cols = df.columns.sorted.map(c => col(s"`$c`").cast("string"))
    df.select(md5(concat_ws("", cols: _*)).as("h"))
      .agg(sum(conv(substring(col("h"), 1, 15), 16, 10).cast("decimal(38,0)")))
      .head().getDecimal(0)
  }

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"$name runs, non-empty, deterministic") {
      invariant.take(spark)
      val df1 = fn(spark, sfDir)
      val n = df1.count()
      assert(n > 0, s"$name returned no rows")
      assert(contentHash(fn(spark, sfDir)) == contentHash(fn(spark, sfDir)))
      assertInvariant(name)
    }
  }

  test("entry flagship returns rows") {
    invariant.take(spark)
    assert(SparkEntry.entry(spark).count() > 0)
    assertInvariant("entry")
  }

  test("oracleSql keys are a subset of queries keys") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }
}
