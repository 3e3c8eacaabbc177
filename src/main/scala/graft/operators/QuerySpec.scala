package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** One query, declared once: its plan, the DuckDB SQL the oracle gate
  * compares it against, and the keys its compared artifact is ordered
  * by.
  *
  * The plan carries no presentation sort. A sort stays in a plan only
  * when an operator above it reads the order (a limit, top-k, lastN);
  * a trailing sort is presentation, declared as `present` and applied
  * at the sink by [[presented]].
  *
  * Cache release is the caller's. A plan may `persist()` a subtree that
  * several of its consumers read; Spark's CacheManager owns the cached
  * frame, keyed by its plan, so a later query (or a second build in
  * the same one) that builds the same frame reads the cached copy. It
  * stays cached until the caller calls `spark.catalog.clearCache()`:
  * Verify and Bench do so between queries and timing passes, and a
  * long-lived session embedding an operator must do the same after
  * consuming its result. */
final case class QuerySpec(id: String, present: Seq[Column], oracleSql: String)(
    val plan: (SparkSession, String) => DataFrame) {

  /** The plan in presentation order: what `graft.Verify` writes. */
  def presented(s: SparkSession, dir: String): DataFrame =
    if (present.isEmpty) plan(s, dir) else plan(s, dir).orderBy(present: _*)
}

object QuerySpec {

  /** Presentation keys by column name. */
  def by(names: String*): Seq[Column] = names.map(col)
}

/** An operator module: its query records, and the id-keyed views
  * derived from them. */
trait QueryModule {
  val specs: Seq[QuerySpec]

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map(q => q.id -> q.plan).toMap

  def oracle: Map[String, String] = specs.map(q => q.id -> q.oracleSql).toMap
}
