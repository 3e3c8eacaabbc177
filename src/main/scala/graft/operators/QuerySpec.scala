package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** One query, declared once: its plan, the plan contract the suite
  * holds it to, the DuckDB SQL the oracle gate compares it against,
  * and the keys its compared artifact is ordered by.
  *
  * The plan carries no presentation sort. A sort stays in a plan only
  * when an operator above it reads the order (a limit, top-k, lastN);
  * a trailing sort is presentation, declared as `present` and applied
  * at the sink by [[presented]].
  *
  * Cache release is the caller's. A plan may persist a subtree that
  * several of its consumers read, through [[QuerySpec.persisted]];
  * Spark's CacheManager owns the cached frame, keyed by its plan, so a
  * later query (or a second build in the same one) that builds the
  * same frame reads the cached copy. It stays cached until the caller
  * calls `spark.catalog.clearCache()`: Verify and Bench do so between
  * queries and timing passes, and a long-lived session embedding an
  * operator must do the same after consuming its result. */
final case class QuerySpec(id: String, present: Seq[Column], pins: Pins, oracleSql: String)(
    val plan: (SparkSession, String) => DataFrame) {

  /** The plan in presentation order: what `graft.Verify` writes. */
  def presented(s: SparkSession, dir: String): DataFrame =
    if (present.isEmpty) plan(s, dir) else plan(s, dir).orderBy(present: _*)
}

object QuerySpec {

  /** Presentation keys by column name. */
  def by(names: String*): Seq[Column] = names.map(col)

  /** `df`, persisted. Spark's CacheManager keys cached data by plan, so
    * a fresh build of an already-cached frame reads the cached copy;
    * `storageLevel` is that plan lookup, and skipping the repeat
    * `persist()` keeps it from logging "Asked to cache already cached
    * data". Every operator persists through this. */
  def persisted(df: DataFrame): DataFrame =
    if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE) df.persist() else df
}

/** A query's plan contract, checked by the plan ratchets of the test
  * suite at sf0.001 and read by nothing else.
  *
  * @param scans        materialized scans of each big table: a reused
  *                     exchange or a persisted relation counts once, at
  *                     its single materialization
  * @param exchanges    `Exchange` nodes (shuffle and broadcast,
  *                     subqueries and persisted subtrees included) in
  *                     the adaptive plan before it executes
  * @param loop         the query's work runs in connected-components
  *                     loop materializations its final plan no longer
  *                     references, so its scans are counted across
  *                     every execution it triggers
  * @param globalWindow why an unpartitioned window in the plan sees an
  *                     input bounded by a fixture constant or a
  *                     metric's range, never by corpus size
  * @param cartesian    why a join without an equality has no provably
  *                     single-row side */
final case class Pins(scans: Scans, exchanges: Int, loop: Boolean = false,
    globalWindow: Option[String] = None, cartesian: Option[Cartesian] = None)

/** Materialized scans per big table; region and nation, the two tiny
  * broadcast dimensions, are not counted. */
final case class Scans(customer: Int = 0, supplier: Int = 0, part: Int = 0,
    orders: Int = 0, lineitem: Int = 0, events: Int = 0, documents: Int = 0,
    embeddings: Int = 0)

/** A join without an equality whose sides are not single-row folds. */
sealed trait Cartesian extends Product with Serializable { def reason: String }

object Cartesian {

  /** An exact quadratic baseline: pairing every embedding with every
    * other is the contract, the truth that approximate paths are
    * measured against. */
  final case class ExactBaseline(reason: String) extends Cartesian

  /** One side is bounded by a domain (a fixture slice, a per-source
    * aggregate, a distinct catalog), not by the corpus. */
  final case class BoundedSide(reason: String) extends Cartesian
}

/** An operator module: its query records, and the id-keyed views
  * derived from them. */
trait QueryModule {
  val specs: Seq[QuerySpec]

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map(q => q.id -> q.plan).toMap

  def oracle: Map[String, String] = specs.map(q => q.id -> q.oracleSql).toMap
}
