package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution,
  * comparable with the epoch-ms times on Spark's listener events. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One traced interval. `trace` ties every span of one operation
  * together; counters recorded at the span's boundaries go in `attrs`. */
final class Span(val id: Long, val parent: Long, val trace: String,
    val name: String, val kind: String, val start: Double) {
  var end: Double = Double.NaN
  val attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
  def ms: Double = end - start
  def toMap: Map[String, Any] = Map("id" -> id, "parent" -> parent,
    "trace" -> trace, "name" -> name, "kind" -> kind, "start_ms" -> start,
    "end_ms" -> end, "attrs" -> attrs)
}

/** Everything Spark's listener bus says about one job. */
final class JobRec(val jobId: Int, val group: String, val batch: String,
    val start: Long, val stageIds: Seq[Int]) {
  var end: Long = start
  var ok: Boolean = true
}

final class StageRec(val stageId: Int) {
  var submitted: Long = -1
  var completed: Long = -1
  var tasks = 0L
  var failedTasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  val taskIntervals: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer()
}

/** A query execution seen by the QueryExecutionListener: its planning
  * phases and, for plans with joins, the rows its largest join emitted
  * against the rows the query returned. */
final case class QeRec(at: Double, analysisMs: Double, optimizationMs: Double,
    planningMs: Double, joinRows: Long, resultRows: Long)

/** In-memory span recorder driven from outside graft: the benchmark
  * opens spans around its own calls and tags Spark jobs with a job
  * group naming the open span; Spark's public listener APIs supply the
  * jobs, stages, tasks, block updates and query executions, which
  * `attribute` hangs under the spans after each pass. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer()
  private val byId = mutable.HashMap[Long, Span]()
  private var nextId = 1L
  /** Job group or streaming (runId/batchId) key -> owning span. */
  val owners: mutable.HashMap[String, Span] = mutable.HashMap()

  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stages = mutable.HashMap[Int, StageRec]()
  private val qes = mutable.ArrayBuffer[QeRec]()
  private val blocks = mutable.HashMap[String, Long]()
  private var cachedNow = 0L
  var cachedPeak = 0L

  private def add(parent: Long, trace: String, name: String, kind: String,
      start: Double): Span = {
    val s = new Span(nextId, parent, trace, name, kind, start)
    nextId += 1
    spans += s
    byId(s.id) = s
    s
  }

  def open(parent: Option[Span], trace: String, name: String, kind: String): Span =
    add(parent.map(_.id).getOrElse(0L), trace, name, kind, Clock.nowMs)

  def close(s: Span): Unit = s.end = Clock.nowMs

  /** Span with explicit bounds (micro-batches, known from progress). */
  def record(parent: Span, trace: String, name: String, kind: String,
      start: Double, end: Double): Span = {
    val s = add(parent.id, trace, name, kind, start)
    s.end = end
    s
  }

  /** Run `body` with Spark jobs attributed to `s`. */
  def within[T](s: Span)(body: => T): T = {
    val g = s"graftbench-${s.id}"
    owners(g) = s
    sc.setJobGroup(g, s.name, interruptOnCancel = false)
    try body finally sc.clearJobGroup()
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val p = Option(e.properties)
      val rec = new JobRec(e.jobId,
        p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).orNull,
        p.flatMap(x => Option(x.getProperty("streaming.sql.batchId"))).orNull,
        e.time, e.stageIds)
      jobs(e.jobId) = rec
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach { j =>
        j.end = e.time
        j.ok = e.jobResult == JobSucceeded
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val i = e.stageInfo
      val st = stages.getOrElseUpdate(i.stageId, new StageRec(i.stageId))
      st.submitted = i.submissionTime.getOrElse(-1L)
      st.completed = i.completionTime.getOrElse(-1L)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val st = stages.getOrElseUpdate(e.stageId, new StageRec(e.stageId))
      st.tasks += 1
      if (e.taskInfo.failed || e.taskInfo.killed) st.failedTasks += 1
      st.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      val m = e.taskMetrics
      if (m != null) {
        st.runMs += m.executorRunTime
        st.cpuNs += m.executorCpuTime
        st.gcMs += m.jvmGCTime
        st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        st.spill += m.diskBytesSpilled + m.memoryBytesSpilled
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = Tracer.this.synchronized {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) {
        val size = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
        cachedNow += size - blocks.getOrElse(b.blockId.name, 0L)
        if (size == 0L) blocks.remove(b.blockId.name) else blocks(b.blockId.name) = size
        cachedPeak = math.max(cachedPeak, cachedNow)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def d(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
      val at = ph.get("analysis").map(_.startTimeMs.toDouble).getOrElse(Clock.nowMs)
      val nodes = Tracer.nodes(qe.executedPlan)
      def rows(p: SparkPlan) = p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      val joinRows = nodes.collect { case j: BaseJoinExec => rows(j) }.foldLeft(0L)(math.max)
      val resultRows = nodes.find(_.metrics.contains("numOutputRows")).map(rows).getOrElse(0L)
      Tracer.this.synchronized {
        qes += QeRec(at, d("analysis"), d("optimization"), d("planning"), joinRows, resultRows)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def attach(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def detach(): Unit = {
    Tracer.drain(spark)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Turns the listener records of the spans under `root` into job and
    * stage spans, and sums their counters onto every span of `kind`
    * ("op") above them. Clears the records afterwards. */
  def attribute(root: Span, opKind: String): Unit = {
    Tracer.drain(spark)
    synchronized(attributeDrained(root, opKind))
  }

  private def attributeDrained(root: Span, opKind: String): Unit = {
    def opOf(s: Span): Option[Span] =
      if (s.kind == opKind) Some(s) else byId.get(s.parent).flatMap(opOf)
    val under = spans.filter(s => ancestors(s).contains(root.id) || s.id == root.id)
    val ops = under.filter(_.kind == opKind)
    val busy = mutable.HashMap[Long, mutable.ArrayBuffer[(Long, Long)]]()
    ops.foreach { o =>
      Seq("jobs", "stages", "tasks", "failed_tasks", "run_ms", "cpu_ms", "gc_ms",
        "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes").foreach(o.attrs(_) = 0.0)
    }
    jobs.values.foreach { j =>
      val owner = Option(j.batch).flatMap(b => Option(j.group).flatMap(g => owners.get(s"$g/$b")))
        .orElse(Option(j.group).flatMap(owners.get))
      owner.filter(o => o.id == root.id || ancestors(o).contains(root.id)).foreach { o =>
        val js = record(o, o.trace, s"job ${j.jobId}", "job", j.start.toDouble, j.end.toDouble)
        val sts = j.stageIds.flatMap(stages.get).filter(_.submitted >= 0)
        sts.foreach { st =>
          val ss = record(js, o.trace, s"stage ${st.stageId}", "stage",
            st.submitted.toDouble, math.max(st.completed, st.submitted).toDouble)
          ss.attrs("tasks") = st.tasks.toDouble
          ss.attrs("run_ms") = st.runMs.toDouble
        }
        opOf(o).foreach { op =>
          def add(k: String, v: Double) = op.attrs(k) = op.attrs.getOrElse(k, 0.0) + v
          add("jobs", 1)
          if (!j.ok) add("failed_jobs", 1)
          sts.foreach { st =>
            add("stages", 1)
            add("tasks", st.tasks.toDouble)
            add("failed_tasks", st.failedTasks.toDouble)
            add("run_ms", st.runMs.toDouble)
            add("cpu_ms", st.cpuNs / 1e6)
            add("gc_ms", st.gcMs.toDouble)
            add("shuffle_read_bytes", st.shuffleRead.toDouble)
            add("shuffle_write_bytes", st.shuffleWrite.toDouble)
            add("spill_bytes", st.spill.toDouble)
            busy.getOrElseUpdate(op.id, mutable.ArrayBuffer()) ++= st.taskIntervals
          }
        }
      }
    }
    ops.foreach { op =>
      val b = Tracer.unionMs(busy.getOrElse(op.id, Nil).map(x => (x._1.toDouble, x._2.toDouble)),
        op.start, op.end)
      op.attrs("busy_ms") = b
      op.attrs("scheduler_wait_ms") = math.max(0.0, op.ms - b)
      val mine = qes.filter(q => q.at >= op.start && q.at <= op.end)
      op.attrs("analysis_ms") = mine.map(_.analysisMs).sum
      op.attrs("optimization_ms") = mine.map(_.optimizationMs).sum
      op.attrs("planning_ms") = mine.map(_.planningMs).sum
      op.attrs("join_rows") = mine.map(_.joinRows.toDouble).sum
      op.attrs("result_rows") = mine.filter(_.joinRows > 0).map(_.resultRows.toDouble).sum
    }
    root.attrs("cached_bytes_peak") = cachedPeak.toDouble
    jobs.clear(); stages.clear(); qes.clear()
  }

  def resetCachePeak(): Unit = synchronized { cachedPeak = cachedNow }

  private def ancestors(s: Span): List[Long] =
    if (s.parent == 0L) Nil else s.parent :: byId.get(s.parent).map(ancestors).getOrElse(Nil)

  /** Per-layer self time: each span's duration minus the union of its
    * children's, summed by layer name. */
  def rollup(layerOf: Span => String): Map[String, Map[String, Double]] = {
    val kids = spans.groupBy(_.parent)
    val acc = mutable.LinkedHashMap[String, Array[Double]]()
    spans.filter(!_.end.isNaN).foreach { s =>
      val ch = kids.getOrElse(s.id, Nil).filter(!_.end.isNaN).map(c => (c.start, c.end))
      val self = math.max(0.0, s.ms - Tracer.unionMs(ch, s.start, s.end))
      val a = acc.getOrElseUpdate(layerOf(s), Array(0.0, 0.0, 0.0))
      a(0) += 1; a(1) += s.ms; a(2) += self
    }
    acc.map { case (k, a) => k -> Map("count" -> a(0), "total_ms" -> a(1), "self_ms" -> a(2)) }.toMap
  }
}

object Tracer {
  /** Pre-order walk of a physical plan, through adaptive plans, query
    * stages and subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def unionMs(iv: Iterable[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1).foreach { case (s, e) =>
        if (curE.isNaN || s > curE) {
          if (!curE.isNaN) total += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
      }
    if (!curE.isNaN) total += curE - curS
    total
  }

  def drain(spark: SparkSession): Unit =
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
}
