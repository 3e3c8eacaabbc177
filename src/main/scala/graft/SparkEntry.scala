package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{Backup, Curation, Dedup, Multimodal, QuerySpec, Relational, Similarity, Streaming, TextAnalysis}

/** Query entry points — see SURVEY.md §7.
  *
  * Aggregates every operator module's [[QuerySpec]] records; `queries`
  * and `oracleSql` are views of them. `oracleSql` carries the
  * DuckDB-equivalent SQL the oracle gate hash-compares against at
  * sf0.01.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.queries("q01_agg")(spark, "/root/testdata/sf0.001")

  /** Every query record, one per implemented operator from SURVEY.md §2. */
  lazy val specs: Seq[QuerySpec] = unique(
    Relational.specs ++ Backup.specs ++ Dedup.specs ++ TextAnalysis.specs ++
      Similarity.specs ++ Multimodal.specs ++ Streaming.specs ++ Curation.specs)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map(q => q.id -> q.plan).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] = specs.map(q => q.id -> q.oracleSql).toMap

  /** `specs`, unless two records share an id — a map keyed by id would
    * silently keep only the last of them. */
  private[graft] def unique(specs: Seq[QuerySpec]): Seq[QuerySpec] = {
    val dup = specs.groupBy(_.id).collect { case (id, g) if g.size > 1 => id }
    require(dup.isEmpty, s"duplicate query id(s): ${dup.toSeq.sorted.mkString(", ")}")
    specs
  }
}
