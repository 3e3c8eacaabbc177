package graft

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

import graft.sources.Tables
import graft.streaming.EventStream

/** The events table has shipped in more than one physical layout
  * (ns-timestamps decoded as raw longs, then µs NTZ timestamps) and a
  * layout change once silently broke every events-reading query. This
  * suite pins the loader dispatch: `Tables.events` and
  * `EventStream.readEventsStream` must yield IDENTICAL ltz rows over
  * every layout the table has shipped in — long-nanos `ts`, NTZ-µs
  * `ts`, and plain ltz `ts`. */
class EventLayoutSpec extends SparkSpec {

  /** 200 canonical events (ltz ts) — small enough that the three
    * fixture writes cost milliseconds, large enough to span event
    * types and multiple hours. */
  private lazy val canonical: DataFrame =
    Tables.events(spark, sf).orderBy("event_id").limit(200)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .cache()

  /** Write `df` as a SINGLE parquet file named `events.parquet` inside
    * a fresh fixture dir (the testdata shape: one plain file, which the
    * streaming glob filter also depends on). */
  private def fixtureDir(df: DataFrame): String = {
    val dir = Files.createTempDirectory("graft-events-layout")
    val stage = Files.createTempDirectory("graft-events-stage")
    df.coalesce(1).write.mode("overwrite").parquet(stage.resolve("out").toString)
    val part = Files.list(stage.resolve("out")).toArray.map(_.asInstanceOf[Path])
      .find(_.getFileName.toString.endsWith(".parquet"))
      .getOrElse(fail("no parquet part written"))
    Files.move(part, dir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    dir.toString
  }

  private lazy val ltzDir = fixtureDir(canonical)
  private lazy val ntzDir = fixtureDir(
    canonical.withColumn("ts", col("ts").cast(TimestampNTZType)))
  private lazy val nsLongDir = fixtureDir(
    canonical.withColumn("ts", expr("unix_micros(ts) * 1000L")))

  private def rows(df: DataFrame): Seq[String] =
    df.select("event_id", "ts", "user_id", "event_type", "value", "props")
      .orderBy("event_id").collect().map(_.toString).toSeq

  test("Tables.events yields identical ltz rows over all three shipped layouts") {
    val expected = rows(canonical)
    for ((dir, label) <- Seq(ltzDir -> "ltz", ntzDir -> "ntz-us", nsLongDir -> "ns-long")) {
      val got = Tables.events(spark, dir)
      assert(got.schema("ts").dataType == TimestampType,
        s"$label layout: ts must load as ltz TIMESTAMP, got ${got.schema("ts").dataType}")
      assert(rows(got) == expected, s"$label layout rows diverge from canonical")
    }
  }

  test("raw decoded ts types differ across layouts (the dispatch is real)") {
    // guards the fixtures themselves: if a future Spark upgrade decodes
    // these files to the SAME type, the dispatch test above would pass
    // vacuously without exercising every branch
    def rawTs(dir: String) = spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType
    assert(rawTs(nsLongDir) == LongType)
    assert(rawTs(ntzDir) == TimestampNTZType)
    assert(rawTs(ltzDir) == TimestampType)
  }

  test("readEventsStream declares the matching schema per layout and streams identical rows") {
    val expected = rows(canonical)
    for ((dir, label) <- Seq(ntzDir -> "ntz-us", nsLongDir -> "ns-long")) {
      val name = s"graft_layout_${label.replace('-', '_')}"
      val q = EventStream.runToMemory(spark, dir, name, identity)
      q.awaitTermination(120000); q.stop()
      assert(rows(spark.table(name)) == expected,
        s"$label layout: streamed rows diverge from canonical batch rows")
    }
  }

  test("the events loaders read the session's nanosAsLong and never set it") {
    // GraftSession.configure sets the key once; a loader that set it
    // again would mutate the caller's session under concurrent queries
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val s = spark.newSession()
    s.conf.set(key, "false")
    Tables.events(s, ltzDir)
    EventStream.readEventsStream(s, ltzDir)
    assert(s.conf.get(key) == "false")
  }
}
