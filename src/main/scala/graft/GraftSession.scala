package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Tuned for the driver's local[32] harness but with settings that
  * transfer to a multi-executor cluster: AQE (runtime coalesce + skew
  * join splitting), UTC session time zone (oracle parity), and a
  * shuffle partition count sized to the parallelism at hand instead of
  * the 200 default. The [[plans.GraftExtensions]] injection registers
  * graft's native SQL functions. `spark.hadoop.fs.file.impl` and
  * `spark.hadoop.fs.AbstractFileSystem.file.impl` route `file:` I/O
  * (checkpoints, state stores, sinks, scratch) through
  * [[sources.LocalFs]], Hadoop's local filesystem without its `chmod`/
  * `readlink`/`ls` process forks; other schemes are untouched.
  */
object GraftSession {

  /** Apply graft defaults to an existing builder. */
  def configure(b: SparkSession.Builder, parallelism: Int): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", parallelism.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // unique per JVM: managed tables are scratch state; a fixed path
      // collides with leftover files from previous runs
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .config("spark.sql.parquet.aggregatePushdown", "true")
      // ns-timestamp parquet (events table) read as raw longs, which
      // EventStream.normalize decodes. Set here once: the events
      // loaders read it from the caller's session and never set it,
      // so no load mutates a session's conf under concurrent queries
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // scan-split / post-shuffle sizing stays at the Spark defaults
      // (128 MB maxPartitionBytes, 64 MB AQE advisory): measured here,
      // raising maxPartitionBytes to 256 MB collapsed the event-table
      // scans into too few tasks and tripled the streaming-twin times —
      // at a real 100 TB deployment these two knobs are the first to
      // retune against actual file sizes, per-table not globally
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config(sources.LocalFs.sparkConf)

  /** Standalone local session (tests / ad-hoc). */
  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val spark = configure(
      SparkSession.builder().master(s"local[$cores]").appName("graft"),
      cores
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
