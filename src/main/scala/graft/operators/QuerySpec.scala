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
  * at the sink by [[presented]]. */
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
