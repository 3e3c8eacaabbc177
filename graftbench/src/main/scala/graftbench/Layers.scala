package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Per-layer metrics of a traced run: those of its first (traced) pass,
  * plus the tracing overhead from its three warm passes. */
object Layers {
  val modules: Seq[String] =
    Seq("Backup", "Relational", "Dedup", "Similarity", "TextAnalysis", "Curation")

  def fromPasses(passes: Seq[PassRec], t: Tracer): Map[String, Double] =
    perPass(passes(0), opSpans(t, passes(0).root.get)) +
      ("trace.overhead_s" -> ((passes(1).wallS + passes(3).wallS) / 2 - passes(2).wallS))

  private def perPass(p: PassRec, spans: Seq[Span]): Map[String, Double] = {
    val n = math.max(1, spans.size).toDouble
    def sum(k: String) = spans.map(_.attrs.getOrElse(k, 0.0)).sum
    val dedup = spans.filter(_.name.startsWith("Dedup."))
    val joinRows = dedup.map(_.attrs.getOrElse("join_rows", 0.0)).sum
    val m = Map.newBuilder[String, Double]
    modules.foreach { mod =>
      val mine = p.ops.filter(_.module == mod)
      m += s"operators.$mod.construct_s" -> mine.map(_.constructS).sum
      m += s"operators.$mod.execute_s" -> mine.map(_.executeS).sum
    }
    m += "plans.analysis_ms" -> sum("analysis_ms") / n
    m += "plans.optimization_ms" -> sum("optimization_ms") / n
    m += "plans.planning_ms" -> sum("planning_ms") / n
    m += "spark.jobs" -> sum("jobs") / n
    m += "spark.stages" -> sum("stages") / n
    m += "spark.tasks" -> sum("tasks") / n
    m += "spark.tasks_per_stage" -> sum("tasks") / math.max(1.0, sum("stages"))
    m += "spark.executor_run_ms" -> sum("run_ms")
    m += "spark.executor_cpu_ms" -> sum("cpu_ms")
    m += "spark.gc_ms" -> sum("gc_ms")
    m += "spark.scheduler_wait_ms" -> sum("scheduler_wait_ms") / n
    m += "spark.shuffle_read_bytes" -> sum("shuffle_read_bytes")
    m += "spark.shuffle_write_bytes" -> sum("shuffle_write_bytes")
    m += "spark.spill_bytes" -> sum("spill_bytes")
    m += "spark.cached_bytes_peak" -> p.root.get.attrs.getOrElse("cached_bytes_peak", 0.0)
    m += "spark.failed_tasks" -> sum("failed_tasks")
    m += "operators.Dedup.kept_pairs_per_candidate" ->
      (if (joinRows > 0) dedup.map(_.attrs.getOrElse("result_rows", 0.0)).sum / joinRows else 0.0)
    val x = p.extra
    m += "sources.write_s" -> x.getOrElse("write_s", 0.0)
    m += "sources.bytes_written_per_input_byte" ->
      (if (x.getOrElse("bytes_read", 0.0) > 0) x("bytes_written") / x("bytes_read") else 0.0)
    Seq("batch_ms", "add_batch_ms", "query_planning_ms", "wal_commit_ms", "state_rows",
      "state_memory_bytes").foreach(k => m += s"streaming.$k" -> x.getOrElse(k, 0.0))
    m.result()
  }

  /** The "op" spans under a pass root (directly, or under a stream). */
  private def opSpans(t: Tracer, root: Span): Seq[Span] = {
    val byId = t.spans.map(s => s.id -> s).toMap
    def under(s: Span): Boolean =
      s.parent == root.id || byId.get(s.parent).exists(under)
    t.spans.filter(s => s.kind == "op" && under(s)).toSeq
  }

  /** Layer name of a span for the self-time rollup. */
  def layerOf(s: Span): String = s.kind match {
    case "op" if s.name.contains("#") => "streaming.microbatch"
    case "op" => "operators." + s.name.takeWhile(_ != '.')
    case "construct" | "execute" => "operators." + s.kind
    case "job" => "spark.job"
    case "stage" => "spark.stage"
    case "stream" => "streaming.query"
    case other => other
  }
}

/** Probes timed from outside the passes (traced run only). */
object Probes {
  /** Median of `reps` timed runs of `df` into the noop sink, after
    * one untimed run. */
  def time(df: () => DataFrame, reps: Int = 3): Double = {
    Main.noop(df())
    Main.median((1 to reps).map { _ =>
      val t0 = System.nanoTime()
      Main.noop(df())
      (System.nanoTime() - t0) / 1e9
    })
  }

  /** `sources.scan_s`: every input table through its loader into the
    * noop sink; `sources.scan_tasks`: the tasks those scans ran. */
  def scan(spark: SparkSession, t: Tracer, inputs: Seq[(String, () => DataFrame)]): Map[String, Double] = {
    val root = t.open(None, "probe/scan", "sources.scan", "probe")
    val secs = t.within(root)(inputs.map { case (_, df) => time(df, reps = 1) }.sum)
    t.close(root)
    t.attribute(root, "probe")
    // one untimed and one timed run per table: half the tasks
    Map("sources.scan_s" -> secs, "sources.scan_tasks" -> root.attrs("tasks") / 2)
  }

  /** Kernel probes: each registered graft_* SQL function over a cached
    * frame of generated inputs of fixed shape (shapes below), as
    * nanoseconds per input row. */
  val kernels: Seq[(String, String)] = Seq(
    // 60-word array -> distinct word-3-grams
    "graft_grams" -> "graft_grams(ws, 3, true)",
    // one 3-word gram -> 16 MinHash values
    "graft_minhash16" -> "graft_minhash16(gram)",
    // 60-word array -> 32-bit SimHash
    "graft_simhash32" -> "graft_simhash32(ws)",
    // 8 sorted ids -> 28 pairs
    "graft_pair_combos" -> "graft_pair_combos(ids)",
    // 60-word array -> md5 of 7 non-overlapping 8-word tiles
    "graft_tile_md5" -> "graft_tile_md5(ws, 8, 8)",
    // 8 codes into an 8x16 lookup table
    "graft_lut_sum_long" -> "graft_lut_sum_long(lut, codes, 16)",
    // 16-dim query against 8 centroids
    "graft_argmin_top2_long" -> "graft_argmin_top2_long(q, cents)",
    // two 64-dim float vectors
    "graft_cosine" -> "graft_cosine(va, vb)",
    // 20 probe words in a sorted 200-word list
    "graft_sorted_hit_count" -> "graft_sorted_hit_count(probe, sorted)",
    // ~400-character text
    "graft_char_counts" -> "graft_char_counts(text)")

  val probeRows = 30000L

  def functions(spark: SparkSession): Map[String, Double] = {
    val word = "concat('w', CAST(pmod(xxhash64(id, i), 3000) AS STRING))"
    val in = spark.range(0L, probeRows, 1L, spark.sparkContext.defaultParallelism)
      .selectExpr(
        s"transform(sequence(1, 60), i -> $word) AS ws",
        "concat('w', id % 97, ' w', id % 89, ' w', id % 83) AS gram",
        "array_sort(transform(sequence(1, 8), i -> pmod(xxhash64(id, i), 100000))) AS ids",
        "transform(sequence(0, 127), i -> pmod(xxhash64(id, i), 1000)) AS lut",
        "transform(sequence(1, 8), i -> CAST(pmod(xxhash64(id, i), 16) AS INT)) AS codes",
        "transform(sequence(1, 16), i -> pmod(xxhash64(id, i), 2000) - 1000) AS q",
        "transform(sequence(0, 7), c -> named_struct('c', c, 'cv', " +
          "transform(sequence(1, 16), i -> CAST((c * 131 + i * 17) % 2000 - 1000 AS BIGINT)))) AS cents",
        "transform(sequence(1, 64), i -> CAST(sin(id + i) AS FLOAT)) AS va",
        "transform(sequence(1, 64), i -> CAST(cos(id * i) AS FLOAT)) AS vb",
        s"transform(sequence(1, 20), i -> $word) AS probe",
        s"array_sort(array_distinct(transform(sequence(1, 200), i -> concat('w', CAST(i * 15 AS STRING))))) AS sorted",
        s"array_join(transform(sequence(1, 60), i -> $word), ' ') AS text")
      .persist(StorageLevel.MEMORY_ONLY)
    in.count()
    try kernels.map { case (name, e) =>
      s"functions.$name.ns_per_row" -> time(() => in.selectExpr(e), reps = 1) * 1e9 / probeRows
    }.toMap
    finally in.unpersist()
  }
}
