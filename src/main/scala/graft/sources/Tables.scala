package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the shared testdata tables.
  *
  * Each loader is a plain parquet scan; Catalyst pushes filters and
  * prunes columns into it, so operators downstream never pay for
  * columns they do not read. On a cluster the same loaders read
  * partitioned directories transparently.
  */
object Tables {
  def region(s: SparkSession, dir: String): DataFrame    = load(s, dir, "region")
  def nation(s: SparkSession, dir: String): DataFrame    = load(s, dir, "nation")
  def customer(s: SparkSession, dir: String): DataFrame  = load(s, dir, "customer")
  def supplier(s: SparkSession, dir: String): DataFrame  = load(s, dir, "supplier")
  def part(s: SparkSession, dir: String): DataFrame      = load(s, dir, "part")
  def orders(s: SparkSession, dir: String): DataFrame    = load(s, dir, "orders")
  def lineitem(s: SparkSession, dir: String): DataFrame  = load(s, dir, "lineitem")
  /** The events table with `ts` as a µs ltz TIMESTAMP whatever layout
    * the file shipped in ([[graft.streaming.EventStream.normalize]]
    * decides it). Any new code path reading events.parquet must go
    * through this loader. The caller's session must come from
    * [[graft.GraftSession.configure]], which sets
    * `spark.sql.legacy.parquet.nanosAsLong` so an ns-timestamp file
    * decodes as raw longs; the loader reads that conf and never sets
    * it. */
  def events(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStream.normalize(load(s, dir, "events"))
  def documents(s: SparkSession, dir: String): DataFrame = load(s, dir, "documents")
  def embeddings(s: SparkSession, dir: String): DataFrame = load(s, dir, "embeddings")

  def load(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  val all: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")
}
