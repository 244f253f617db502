package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the settings this engine assumes.
  *
  * Local mode stands in for a multi-executor cluster; shuffle partitions are
  * sized to cores (not the 200 default) and AQE is on so plans re-partition /
  * skew-split at runtime — the same configs we'd ship in spark-submit at
  * cluster scale. The session carries [[GraftExtensions]]: the engine's SQL
  * functions and its optimizer rule.
  */
object GraftSession {
  def local(cores: Int, appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // INT64-micros timestamps everywhere (the Iceberg-mandated type):
      // INT96 carries no parquet min/max statistics, and configuring the
      // SESSION keeps PageLake.write conf-mutation-free (no save/restore
      // race between concurrent writers)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
