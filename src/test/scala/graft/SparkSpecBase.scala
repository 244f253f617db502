package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite; sf0.001 for speed. */
abstract class SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = GraftSession.local(4, getClass.getSimpleName)
  val sfDir = "/root/testdata/sf0.001"

  /** Suites share one session, so a result one suite caches would replace
    * the same plan in a later suite's optimized plans (an `InMemoryRelation`
    * with none of the plan's operators under it): every cached relation is
    * dropped when a suite ends. */
  override protected def afterAll(): Unit =
    try spark.catalog.clearCache() finally super.afterAll()
}
