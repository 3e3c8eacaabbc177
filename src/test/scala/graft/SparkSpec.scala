package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared forked-JVM session for all suites (never stopped mid-run —
  * suites share one SparkSession via getOrCreate). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(4)
  val sf: String = "/root/testdata/sf0.001"

  /** A query's result in its presentation order — the plan followed by
    * its record's `present` sort, as Verify writes it. For checks that
    * compare row sequences. */
  def presented(name: String, dir: String = sf): org.apache.spark.sql.DataFrame =
    SparkEntry.specs.find(_.id == name).get.presented(spark, dir)

  /** Formatted physical plan of a query by name. */
  def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
  }
}
