package graftbench

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkEntry
import graft.model.BackupLedger
import graft.model.Corpus
import graft.sources.{IO, Tables}
import graft.streaming.EventStream

/** esop's ledger and report operations on a single-file fixture, as
  * requests to a long-lived session: every scan is one task, so
  * per-stage cost, construction and planning dominate. A run measures
  * the fixed sample [[LedgerOps.sample]] of b01-b46 and q01-q39. The
  * cache is cleared before each op (each is an independent request);
  * the seed permutes the order in every pass. */
final class LedgerOps(spark: SparkSession, dir: String, out: String, seed: Long)
    extends Workload {
  private val all = SparkEntry.queries
  private val ops = LedgerOps.sample.map(id => id -> all(id))

  def inputs: Seq[(String, () => DataFrame)] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
      .map(t => t -> (() => Tables.load(spark, dir, t))) :+
      ("events" -> (() => Tables.events(spark, dir)))

  override def cold: Boolean = false

  /** One untimed run of every op, writing its result where the oracle
    * check reads it; this is also the session's codegen and JIT
    * warm-up. An op that fails here fails in the timed pass too. */
  override def prepare(): Unit = ops.foreach { case (id, f) =>
    spark.catalog.clearCache()
    try f(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$out/results/$id")
    catch { case NonFatal(e) => System.err.println(s"[graftbench] $id failed: $e") }
  }

  def pass(index: Int, tracer: Option[Tracer]): PassRec =
    Main.timedPass(tracer, index, "ledger_ops") { root =>
      val order = new scala.util.Random(seed * 1000003L + index).shuffle(ops)
      val recs = order.map { case (id, f) =>
        spark.catalog.clearCache()
        Main.runOp(spark, id, f, dir, Main.noop, tracer, root, s"pass$index/$id")
      }
      (recs, 0L, Map.empty)
    }

  def check(passes: Seq[PassRec]): Map[String, Any] = {
    val oracle = SparkEntry.oracleSql
    Json.writeFile(s"$out/oracle.json",
      ops.map(_._1).flatMap(id => oracle.get(id).map(id -> _)).toMap)
    Map("results_dir" -> s"$out/results", "oracle" -> s"$out/oracle.json")
  }

  override def layerProbes(tracer: Tracer): Map[String, Double] = Map(
    "model.ledger_s" -> Probes.time(() => BackupLedger.ledger(spark, dir)),
    "model.manifest_s" -> Probes.time(() => BackupLedger.manifest(spark, dir)))
}

object LedgerOps {
  /** Every fourteenth op of b01-b46 and q01-q39 in id order.
    * Measuring an op costs about four warm executions (the untimed
    * first one pays codegen and JIT, then two timed passes), so all 85
    * do not fit in a run; a fixed sample keeps runs comparable. */
  val sample: Seq[String] = Seq(
    "b01_manifest_list", "b15_token_check", "b29_growth_trend", "b43_snapshot_completeness",
    "q11_having", "q25_lateral", "q39_fuzzy_blocked")
}

/** One curation pass over a generated multi-file corpus, timed as a
  * fresh batch job: the n-gram dedup core, MinHash/LSH, the CC loop
  * over its pairs and IVFPQ. The gram and signature memos live for the
  * pass and are released at its end. */
final class CorpusPass(spark: SparkSession, dir: String, out: String) extends Workload {
  import CorpusPass._
  private val all = SparkEntry.queries
  private val ops = ids.map(id => id -> all(id))

  def inputs: Seq[(String, () => DataFrame)] = Seq(
    "documents" -> (() => Tables.documents(spark, dir)),
    "embeddings" -> (() => Tables.embeddings(spark, dir)))

  def pass(index: Int, tracer: Option[Tracer]): PassRec =
    Main.timedPass(tracer, index, "corpus") { root =>
      val recs = ops.map { case (id, f) =>
        Main.runOp(spark, id, f, dir, Main.noop, tracer, root, s"pass$index/$id")
      }
      spark.catalog.clearCache()
      (recs, 0L, Map.empty)
    }

  /** The share of the injected near-duplicate pairs that d04's LSH
    * path returns, and the corpus size (the rows a pass consumes). */
  def check(passes: Seq[PassRec]): Map[String, Any] = {
    val got = all("d04_minhash_lsh")(spark, dir).select("a_id", "b_id").cache()
    val truth = spark.read.parquet(s"$dir/truth_pairs.parquet")
    val hit = truth.join(got, Seq("a_id", "b_id"), "left_semi").count()
    val res = Map("documents" -> Tables.documents(spark, dir).count(),
      "neardup_recall" -> hit.toDouble / math.max(1L, truth.count()),
      "lsh_pairs" -> got.count())
    spark.catalog.clearCache()
    res
  }

  override def layerProbes(tracer: Tracer): Map[String, Double] = Map(
    "model.grams_s" -> Probes.time(() => Corpus.grams(spark, dir)),
    "model.grams_rows" -> Corpus.grams(spark, dir).count().toDouble)
}

object CorpusPass {
  /** One query per family; each is a separate op. */
  val ids: Seq[String] = Seq(
    "d02_dedup_ngram",        // exact n-gram core: gram stream + self-join
    "d04_minhash_lsh",        // MinHash/LSH candidate pairs
    "d24_dup_clusters",       // CC loop over the LSH pairs
    "d80_ivfpq_probe")        // IVF cells + PQ codes
}

/** A Structured Streaming drain of a backlog of event files, one file
  * per trigger, through `EventStream.normalize` and three ledger
  * transforms, each into a foreachBatch -> `IO.writeParquet` sink with
  * a checkpoint. A micro-batch is one operation. */
final class Ingest(spark: SparkSession, dir: String, out: String) extends Workload {
  import Ingest._

  def inputs: Seq[(String, () => DataFrame)] =
    Seq("events" -> (() => IO.readParquet(spark, s"$dir/events")))

  private lazy val inputBytes =
    new java.io.File(s"$dir/events").listFiles().filter(_.getName.endsWith(".parquet"))
      .map(_.length).sum.toDouble

  private def source(path: String): DataFrame =
    EventStream.normalize(spark.readStream.schema(EventStream.usSchema)
      .option("maxFilesPerTrigger", "1").parquet(path))

  /** Drain `in` through one transform into `to`; returns the query's
    * progress reports and the seconds spent inside the sink writer. */
  private def drain(name: String, t: DataFrame => DataFrame, in: String, to: String,
      tracer: Option[Tracer], parent: Option[Span], trace: String)
      : (Seq[org.apache.spark.sql.streaming.StreamingQueryProgress], Double) = {
    val writeNs = new java.util.concurrent.atomic.AtomicLong()
    val span = tracer.map(_.open(parent, trace, name, "stream"))
    val q = t(source(in)).writeStream
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val w0 = System.nanoTime()
        IO.writeParquet(batch.withColumn("_batch", lit(id)), s"$to/sink/batch_$id")
        writeNs.addAndGet(System.nanoTime() - w0)
        ()
      }
      .option("checkpointLocation", s"$to/checkpoint")
      .trigger(Trigger.AvailableNow())
      .start()
    span.foreach(s => tracer.get.owners(q.runId.toString) = s)
    q.awaitTermination()
    val progress = q.recentProgress.toSeq.filter(_.batchId >= 0)
      .filter(_.durationMs.containsKey("triggerExecution"))
    span.foreach { s =>
      tracer.get.close(s)
      progress.foreach { p =>
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        val mb = tracer.get.record(s, s"$trace#${p.batchId}", s"$name#${p.batchId}", "op",
          start, start + p.durationMs.get("triggerExecution").doubleValue)
        tracer.get.owners(s"${q.runId}/${p.batchId}") = mb
      }
    }
    (progress, writeNs.get / 1e9)
  }

  def pass(index: Int, tracer: Option[Tracer]): PassRec =
    Main.timedPass(tracer, index, "ingest") { root =>
      val runs = transforms.map { case (name, t, _) =>
        name -> drain(name, t, s"$dir/events", s"$out/ingest/p$index/$name",
          tracer, root, s"pass$index/$name")
      }
      val ops = runs.flatMap { case (name, (progress, _)) =>
        progress.map(p => OpRec(s"$name#${p.batchId}", "EventStream", 0.0,
          p.durationMs.get("triggerExecution").doubleValue / 1000.0, ok = true))
      }
      val all = runs.flatMap(_._2._1)
      def med(k: String) = Main.median(all.flatMap(p => Option(p.durationMs.get(k)))
        .map(_.doubleValue))
      val last = runs.map(_._2._1.last)
      val extra = Map(
        "write_s" -> runs.map(_._2._2).sum,
        "bytes_written" -> dirBytes(new java.io.File(s"$out/ingest/p$index")),
        "bytes_read" -> inputBytes * transforms.size,
        "batch_ms" -> med("triggerExecution"),
        "add_batch_ms" -> med("addBatch"),
        "query_planning_ms" -> med("queryPlanning"),
        "wal_commit_ms" -> med("walCommit"),
        "state_rows" -> last.flatMap(_.stateOperators).map(_.numRowsTotal.toDouble).sum,
        "state_memory_bytes" -> last.flatMap(_.stateOperators).map(_.memoryUsedBytes.toDouble).sum)
      (ops, all.map(_.numInputRows).sum, extra)
    }

  /** The last pass's sinks against the same transforms run as a batch
    * over the same files: per key, the row of the latest micro-batch
    * must equal the batch row, and no key may be missing or extra. */
  def check(passes: Seq[PassRec]): Map[String, Any] = {
    val last = passes.last.index
    val batchIn = EventStream.normalize(
      spark.read.schema(EventStream.usSchema).parquet(s"$dir/events"))
    val verdict = transforms.map { case (name, t, keys) =>
      val ok = try {
        val expected = t(batchIn)
        val sink = spark.read.parquet(s"$out/ingest/p$last/$name/sink/batch_*")
        val w = Window.partitionBy(keys.map(col): _*).orderBy(col("_batch").desc)
        val latest = sink.withColumn("_rn", row_number().over(w))
          .filter(col("_rn") === 1).select(expected.columns.map(col): _*)
        latest.exceptAll(expected).isEmpty && expected.exceptAll(latest).isEmpty
      } catch { case NonFatal(e) =>
        System.err.println(s"[graftbench] ingest check $name failed: $e"); false
      }
      name -> ok
    }
    Map("transforms" -> verdict.toMap)
  }
}

object Ingest {
  val transforms: Seq[(String, DataFrame => DataFrame, Seq[String])] = Seq(
    ("backupMonitor", EventStream.backupMonitor _, Seq("snapshot_day", "node_id")),
    ("progressMonitor", EventStream.progressMonitor _, Seq("snapshot_day", "node_id")),
    ("pitTracker", EventStream.pitTracker _, Seq("node_id", "k")))

  def dirBytes(f: java.io.File): Double =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum
    else f.length.toDouble
}
