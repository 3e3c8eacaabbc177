package graft

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}

import graft.operators.{Pins, QuerySpec, Scans}

/** Measures a query's plan the way its [[Pins]] declare it: the
  * MATERIALIZED big-table scans (the number of times the executed plan
  * reads a testdata table off storage; reused exchanges and cached
  * relations count once, at their single materialization) and the
  * exchanges of its pre-execution adaptive plan. Shared by
  * PlanAuditSpec's plan-pin ratchet and [[ScanCountProbe]]. */
object ScanCount {

  /** The tables worth ratcheting — the fields of [[Scans]]: everything
    * but the two tiny broadcast dims (region, nation). */
  val bigTables: Seq[String] = Scans().productElementNames.toSeq

  /** A record's scan pins, by table. */
  def pinned(s: Scans): Map[String, Int] =
    bigTables.zip(s.productIterator.map { case n: Int => n }).toMap

  /** A query's measured scans and exchanges. */
  final case class Live(scans: Map[String, Int], exchanges: Int) {
    def matches(p: Pins): Boolean = scans == pinned(p.scans) && exchanges == p.exchanges

    /** `p` with the measured counts. */
    def pins(p: Pins): Pins = {
      val Seq(c, s, pa, o, l, e, d, v) = bigTables.map(scans)
      p.copy(scans = Scans(c, s, pa, o, l, e, d, v), exchanges = exchanges)
    }
  }

  /** `p` as a record declares it, so that re-pinning is a paste. */
  def syntax(p: Pins): String = {
    def str(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val m = pinned(p.scans)
    val scans = bigTables.filter(m(_) > 0).map(t => s"$t = ${m(t)}").mkString("Scans(", ", ", ")")
    val rest = Seq(
      Option.when(p.loop)("loop = true"),
      p.globalWindow.map(r => s"globalWindow = Some(${str(r)})"),
      p.cartesian.map(c => s"cartesian = Some(Cartesian.${c.productPrefix}(${str(c.reason)}))"))
    (Seq(scans, p.exchanges.toString) ++ rest.flatten).mkString("Pins(", ", ", ")")
  }

  /** Calls `f` on every node of `p` that materializes: into adaptive
    * plans, query stages and subqueries, and into each persisted
    * relation's plan once (`seenCaches`, shared across calls, keeps a
    * relation probed by several consumers or executions from counting
    * again). A reused exchange materialized elsewhere is skipped. */
  private def visit(p: SparkPlan, seenCaches: mutable.Set[Int])(f: SparkPlan => Unit): Unit = {
    f(p)
    p match {
      case a: AdaptiveSparkPlanExec => visit(a.executedPlan, seenCaches)(f)
      case q: QueryStageExec => visit(q.plan, seenCaches)(f)
      case _: ReusedExchangeExec => ()
      case m: InMemoryTableScanExec =>
        if (seenCaches.add(System.identityHashCode(m.relation.cacheBuilder)))
          visit(m.relation.cachedPlan, seenCaches)(f)
      case other => other.children.foreach(visit(_, seenCaches)(f))
    }
    p.subqueries.foreach(visit(_, seenCaches)(f))
  }

  private def scans(p: SparkPlan, tables: Seq[String], seenCaches: mutable.Set[Int],
      acc: mutable.Map[String, Int]): Unit =
    visit(p, seenCaches) {
      case f: FileSourceScanExec =>
        // exact-basename match: "events.parquet" can't be faked by a
        // scratch fixture or sibling whose name merely starts with a
        // table name (events.parquet.bak, events.parquet2)
        tables.foreach { t =>
          if (f.relation.location.rootPaths.exists(_.getName == s"$t.parquet")) acc(t) += 1
        }
      case _ => ()
    }

  private def exchanges(p: SparkPlan): Int = {
    var n = 0
    visit(p, mutable.Set[Int]()) {
      case _: Exchange => n += 1
      case _ => ()
    }
    n
  }

  /** A streaming query left running by an earlier suite (e.g. an
    * awaitTermination that hit its timeout) would keep firing
    * executions into the shared session while we count — stop any
    * stragglers before measuring. */
  private def quiesce(s: SparkSession): Unit = s.streams.active.foreach(_.stop())

  /** One cold build and run of `spec` at `sf`, measured as its pins
    * declare: the exchanges of the plan before `collect()` starts it,
    * the scans of the final plan after it — or, for a [[Pins.loop]]
    * query, the scans of every execution the build and the run
    * trigger ([[countsDuring]]). */
  def live(s: SparkSession, spec: QuerySpec, sf: String): Live = {
    var ex = 0
    def run(df: org.apache.spark.sql.DataFrame): Unit = {
      ex = exchanges(df.queryExecution.executedPlan)
      df.collect()
    }
    if (spec.pins.loop) {
      val c = countsDuring(s, spec.id, sf, bigTables, run = run)
      Live(bigTables.map(t => t -> c.getOrElse(t, 0)).toMap, ex)
    } else {
      quiesce(s)
      s.catalog.clearCache()
      val df = spec.plan(s, sf)
      run(df)
      val acc = mutable.Map[String, Int]().withDefaultValue(0)
      scans(df.queryExecution.executedPlan, bigTables, mutable.Set[Int](), acc)
      Live(bigTables.map(t => t -> acc(t)).toMap, ex)
    }
  }

  /** Scan counts across EVERY execution the query triggers, not just
    * the final plan — closes the final-plan ratchet's blind spot at
    * iterative operators (d24), whose corpus work happens inside
    * localCheckpoint materializations that the returned frame's plan
    * no longer references. A QueryExecutionListener on the caller's
    * session (the CC loop runs on it too) walks each successful
    * execution's plan (Dataset.localCheckpoint runs through withAction,
    * so checkpoint materializations fire it too); the cache-dedupe set
    * spans executions, so a relation persisted in one job and probed in
    * later ones still counts once.
    *
    * `after` continues from the dedupe set of earlier calls: the cache
    * is not cleared first, and a cached relation those calls already
    * counted counts 0 here — what a query reads off storage when it
    * runs after them in one cache lifetime. */
  def countsDuring(s: SparkSession, name: String, sf: String, tables: Seq[String],
      after: Option[mutable.Set[Int]] = None,
      run: org.apache.spark.sql.DataFrame => Unit = _.collect()): Map[String, Int] = {
    quiesce(s)
    if (after.isEmpty) s.catalog.clearCache()
    // drain the async listener bus BEFORE registering: execution
    // events still queued from PRECEDING queries would otherwise
    // deliver to the new listener and be counted into THIS query (the
    // full-suite-order "+1 documents" flake — the previous query's one
    // scan arriving late)
    org.apache.spark.GraftTestBus.flush(s.sparkContext)
    val seenCaches = after.getOrElse(mutable.Set[Int]())
    val acc = mutable.Map[String, Int]().withDefaultValue(0)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        acc.synchronized { scans(qe.executedPlan, tables, seenCaches, acc) }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    s.listenerManager.register(listener)
    try {
      run(SparkEntry.queries(name)(s, sf))
      org.apache.spark.GraftTestBus.flush(s.sparkContext)
    } finally s.listenerManager.unregister(listener)
    acc.synchronized(acc.toMap)
  }
}

/** Re-pinning tool: measures every query (or the ids given as
  * arguments) at sf0.001 and prints each one whose live scans or
  * exchanges differ from its record, as the `Pins(...)` to paste into
  * that record:
  * `sbt -batch "Test/runMain graft.ScanCountProbe [id ...]"`. */
object ScanCountProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    val sf = "/root/testdata/sf0.001"
    val specs = SparkEntry.specs.filter(q => args.isEmpty || args.contains(q.id))
    specs.sortBy(_.id).foreach { q =>
      val live = ScanCount.live(spark, q, sf)
      if (!live.matches(q.pins)) println(s"REPIN ${q.id} ${ScanCount.syntax(live.pins(q.pins))}")
    }
    spark.stop()
  }
}
