package graft

import graft.pipeline.{QualityPipeline, SyntheticPages}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the operator inventory surface: relational coverage
  * (RelationalQueries, SQL-oracled) + training-data-pipeline coverage
  * (TextQueries: dedup / similarity / text analysis / PII / full pipeline).
  */
object SparkEntry {
  /** Flagship: the full quality-filter + PII-scrub pipeline over synthetic
    * Common-Crawl-style pages at sf=0.001 (driver smoke-checks rows>0). */
  def entry(spark: SparkSession): DataFrame = {
    QualityPipeline.run(SyntheticPages.fromDocuments(spark, "/root/testdata/sf0.001"))
      .select("url", "lang_pred", "keep", "n_pii")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.RelationalQueries.fns ++ graft.queries.TextQueries.fns

  def oracleSql: Map[String, String] =
    graft.queries.RelationalQueries.sql ++ graft.queries.TextQueries.sql
}
