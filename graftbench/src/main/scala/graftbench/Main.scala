package graftbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.GraftSession

/** One timed operation: a ledger op, a corpus query or a micro-batch. */
final case class OpRec(id: String, module: String, constructS: Double,
    executeS: Double, ok: Boolean) {
  def toMap: Map[String, Any] = Map("id" -> id, "module" -> module,
    "construct_s" -> constructS, "execute_s" -> executeS, "ok" -> ok)
}

/** One timed pass over a workload. `extra` carries workload-specific
  * counters; `root` is the pass span when the pass was traced. */
final case class PassRec(index: Int, wallS: Double, ops: Seq[OpRec],
    inputRows: Long, extra: Map[String, Double], root: Option[Span]) {
  def toMap: Map[String, Any] = Map("index" -> index, "traced" -> root.isDefined,
    "wall_s" -> wallS, "input_rows" -> inputRows, "extra" -> extra,
    "ops" -> ops.map(_.toMap))
}

trait Workload {
  /** The tables the workload reads, for the scan probe. */
  def inputs: Seq[(String, () => DataFrame)]
  /** Untimed work before the first timed pass. */
  def prepare(): Unit = ()
  /** A workload measured as a fresh job times its one (cold) pass; one
    * measured warm repeats passes while the next fits in `seconds`, at
    * least two. */
  def cold: Boolean = true
  def pass(index: Int, tracer: Option[Tracer]): PassRec
  /** Output checks, after the timed passes. */
  def check(passes: Seq[PassRec]): Map[String, Any]
  /** Per-layer metrics only this workload can measure (traced run). */
  def layerProbes(tracer: Tracer): Map[String, Double] = Map.empty
}

/** The benchmark process. Usage:
  * {{{
  * Main --workload ledger_ops|corpus|ingest --data <dir> --out <dir>
  *      --seconds <n> --seed <n> --trace 0|1 --setups <n> --cores <n>
  * }}}
  * `--data` holds one generated input copy per set-up (`<data>/0`,
  * `<data>/1`, ...); the workload runs on the last. Writes
  * `<out>/result.json` and, when traced, `<out>/spans.jsonl` and
  * `<out>/layers.json`. */
object Main {

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val data = a("data")
    val out = a("out")
    val seconds = a("seconds").toDouble
    val seed = a("seed").toLong
    val traced = a("trace") == "1"
    val setups = a("setups").toInt
    val cores = a("cores").toInt

    val phases = mutable.LinkedHashMap[String, Double]()
    var mark = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      phases(name) = (now - mark) / 1e9
      mark = now
    }

    // Set-up, repeated: a fresh session and a small fixed warm-up job.
    // The last session is kept.
    var spark: SparkSession = null
    val setupRecs = (0 until setups).map { i =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = session(cores, out)
      val t1 = System.nanoTime()
      spark.range(0L, 1L << 20, 1L, cores).selectExpr("sum(id)")
        .write.format("noop").mode("overwrite").save()
      Map("session_s" -> (t1 - t0) / 1e9, "warmup_s" -> (System.nanoTime() - t1) / 1e9)
    }

    phase("setups")
    val w = make(workload, spark, s"$data/${setups - 1}", out, seed)
    w.prepare()
    phase("prepare")
    val tracer = if (traced) Some(new Tracer(spark)) else None

    // Untraced: see Workload.cold. Traced: a traced first pass (the one
    // the per-layer metrics describe), then traced, untraced, traced;
    // the mean of those two traced passes minus the untraced one is the
    // tracing overhead (symmetric, so a still-warming JVM cancels out).
    val passes = mutable.ArrayBuffer[PassRec]()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    def more =
      if (traced) passes.size < 4
      else if (w.cold) passes.isEmpty
      else passes.size < 2 || elapsed + median(passes.map(_.wallS).toSeq) <= seconds
    while (more) {
      val useTrace = traced && passes.size != 2
      if (useTrace) tracer.get.attach()
      passes += w.pass(passes.size, if (useTrace) tracer else None)
      if (useTrace) tracer.get.detach()
    }

    phase("passes")
    val checks = w.check(passes.toSeq)
    phase("check")
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "cores" -> cores,
      "setups" -> setupRecs, "passes" -> passes.map(_.toMap), "checks" -> checks,
      "phase_s" -> phases)

    tracer.foreach { t =>
      t.attach()
      val layers = mutable.LinkedHashMap[String, Double]()
      layers("GraftSession.session_s") = median(setupRecs.map(_("session_s")))
      layers ++= Layers.fromPasses(passes.toSeq, t)
      layers ++= Probes.scan(spark, t, w.inputs)
      layers ++= w.layerProbes(t)
      layers ++= Probes.functions(spark)
      t.detach()
      result("layers") = layers
      val spanOut = new java.io.PrintWriter(s"$out/spans.jsonl", "UTF-8")
      try t.spans.foreach(s => spanOut.println(Json(s.toMap))) finally spanOut.close()
      Json.writeFile(s"$out/layers.json", t.rollup(Layers.layerOf))
      phase("probes")
    }
    Json.writeFile(s"$out/result.json", result)
    spark.stop()
  }

  def make(workload: String, spark: SparkSession, dir: String, out: String,
      seed: Long): Workload = workload match {
    case "ledger_ops" => new LedgerOps(spark, dir, out, seed)
    case "corpus" => new CorpusPass(spark, dir, out)
    case "ingest" => new Ingest(spark, dir, out)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** A graft session as a library user builds one, with every scratch
    * path (shuffle, scratch fixtures) under the run's own directory. */
  def session(cores: Int, out: String): SparkSession = {
    val s = GraftSession.configure(
      SparkSession.builder().master(s"local[$cores]").appName("graftbench"), cores)
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.graft.scratch", s"$out/graft-scratch")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private val modules: Seq[(String, Set[String])] = Seq(
    "Backup" -> graft.operators.Backup.queries.keySet,
    "Relational" -> graft.operators.Relational.queries.keySet,
    "Dedup" -> graft.operators.Dedup.queries.keySet,
    "Similarity" -> graft.operators.Similarity.queries.keySet,
    "TextAnalysis" -> graft.operators.TextAnalysis.queries.keySet,
    "Curation" -> graft.operators.Curation.queries.keySet,
    "Multimodal" -> graft.operators.Multimodal.queries.keySet,
    "Streaming" -> graft.operators.Streaming.queries.keySet)

  def moduleOf(id: String): String =
    modules.find(_._2.contains(id)).map(_._1).getOrElse("other")

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Build then execute one query into `sink`, timing the two phases
    * apart. A traced op gets an op span with a construct and an execute
    * span, and the jobs of each phase carry that phase's span. */
  def runOp(spark: SparkSession, id: String,
      f: (SparkSession, String) => DataFrame, dir: String, sink: DataFrame => Unit,
      tracer: Option[Tracer], parent: Option[Span], trace: String): OpRec = {
    val module = moduleOf(id)
    val op = tracer.map(_.open(parent, trace, s"$module.$id", "op"))
    def phase[T](name: String)(body: => T): T = tracer match {
      case Some(t) =>
        val s = t.open(op, trace, name, name)
        try t.within(s)(body) finally t.close(s)
      case None => body
    }
    var ok = true
    val c0 = System.nanoTime()
    val df = try phase("construct")(f(spark, dir)) catch {
      case NonFatal(e) =>
        System.err.println(s"[graftbench] $id construct failed: $e"); ok = false; null
    }
    val c1 = System.nanoTime()
    if (ok) try phase("execute")(sink(df)) catch {
      case NonFatal(e) =>
        System.err.println(s"[graftbench] $id execute failed: $e"); ok = false
    }
    val c2 = System.nanoTime()
    op.foreach(s => tracer.get.close(s))
    OpRec(id, module, (c1 - c0) / 1e9, (c2 - c1) / 1e9, ok)
  }

  /** Time a pass body; traced passes get a root span named `name`. */
  def timedPass(tracer: Option[Tracer], index: Int, name: String)(
      body: Option[Span] => (Seq[OpRec], Long, Map[String, Double])): PassRec = {
    val root = tracer.map { t => t.resetCachePeak(); t.open(None, s"pass$index", name, "pass") }
    val t0 = System.nanoTime()
    val (ops, rows, extra) = body(root)
    val wall = (System.nanoTime() - t0) / 1e9
    root.foreach { r =>
      tracer.get.close(r)
      tracer.get.attribute(r, "op")
    }
    PassRec(index, wall, ops, rows, extra, root)
  }
}
