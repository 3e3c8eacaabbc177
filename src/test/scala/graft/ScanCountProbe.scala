package graft

import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Dev probe: MATERIALIZED big-table scan count per query — the number
  * of times the executed plan actually reads a testdata table off
  * storage (reused exchanges and cached relations count once, at their
  * single materialization). Shared by PlanAuditSpec's scan-count
  * ratchets (§2.A/§2.B/§2.C). */
object ScanCount {

  /** The tables worth ratcheting: everything but the two tiny
    * broadcast dims (region, nation). */
  val bigTables: Seq[String] = Seq("customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Queries whose corpus work happens inside checkpoint-loop
    * materializations the FINAL plan no longer references (the CC
    * loop family) — static [[counts]] understates or blanks them, so
    * both the PlanAuditSpec ratchet and the SCANCOUNT artifact probe
    * must measure them with [[countsDuring]]. One list, two
    * consumers: the r17 artifact drift (d106 recorded from the wrong
    * mode while its PIN was measured with the listener) cannot recur.
    * d96/d97 are loop CONSUMERS (artifact read-backs, pinned 0 under
    * static counting) and deliberately stay out — counting their
    * construction-time artifact build would mislead the other way. */
  val loopQueries: Set[String] = Set(
    "d24_dup_clusters", "d67_cluster_keep_best",
    "d95_knn_communities", "d106_cluster_size_hist")

  private def walk(p: SparkPlan, tables: Seq[String],
      seenCaches: scala.collection.mutable.Set[Int],
      acc: scala.collection.mutable.Map[String, Int]): Unit = {
    p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, tables, seenCaches, acc)
      case q: QueryStageExec => walk(q.plan, tables, seenCaches, acc)
      case _: ReusedExchangeExec => () // materialized once, counted there
      case m: InMemoryTableScanExec =>
        // a persisted subtree materializes ONCE per cached relation,
        // however many consumers probe it
        if (seenCaches.add(System.identityHashCode(m.relation.cacheBuilder)))
          walk(m.relation.cachedPlan, tables, seenCaches, acc)
      case f: FileSourceScanExec =>
        // exact-basename match: "events.parquet" can't be faked by a
        // scratch fixture or sibling whose name merely starts with a
        // table name (events.parquet.bak, events.parquet2)
        tables.foreach { t =>
          if (f.relation.location.rootPaths.exists(_.getName == s"$t.parquet"))
            acc(t) += 1
        }
      case other => other.children.foreach(walk(_, tables, seenCaches, acc))
    }
    p.subqueries.foreach(walk(_, tables, seenCaches, acc))
  }

  /** Scan counts visible in the FINAL executed plan (collect + walk). */
  /** A streaming query left running by an earlier suite (e.g. an
    * awaitTermination that hit its timeout) would keep firing
    * executions into the shared session while we count — stop any
    * stragglers before measuring. */
  private def quiesce(s: org.apache.spark.sql.SparkSession): Unit =
    s.streams.active.foreach(_.stop())

  def counts(s: org.apache.spark.sql.SparkSession, name: String, sf: String,
      tables: Seq[String] = Seq("documents", "embeddings")): Map[String, Int] = {
    quiesce(s)
    s.catalog.clearCache()
    val df = SparkEntry.queries(name)(s, sf)
    df.collect()
    val seenCaches = scala.collection.mutable.Set[Int]()
    val acc = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    walk(df.queryExecution.executedPlan, tables, seenCaches, acc)
    acc.toMap
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
  def countsDuring(s: org.apache.spark.sql.SparkSession, name: String, sf: String,
      tables: Seq[String] = Seq("documents", "embeddings"),
      after: Option[scala.collection.mutable.Set[Int]] = None): Map[String, Int] = {
    quiesce(s)
    if (after.isEmpty) s.catalog.clearCache()
    // drain the async listener bus BEFORE registering: execution
    // events still queued from PRECEDING queries would otherwise
    // deliver to the new listener and be counted into THIS query (the
    // full-suite-order "+1 documents" flake — the previous query's one
    // scan arriving late)
    org.apache.spark.GraftTestBus.flush(s.sparkContext)
    val seenCaches = after.getOrElse(scala.collection.mutable.Set[Int]())
    val acc = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        acc.synchronized { walk(qe.executedPlan, tables, seenCaches, acc) }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    s.listenerManager.register(listener)
    try {
      SparkEntry.queries(name)(s, sf).collect()
      org.apache.spark.GraftTestBus.flush(s.sparkContext)
    } finally s.listenerManager.unregister(listener)
    acc.synchronized(acc.toMap)
  }
}

object ScanCountProbe {
  /** Prints live pins. Args: query names (default: every d* query);
    * `--all` = every oracle-gated query; `--during` = listener-based
    * counting (the d24 mode). Output lines are `SCANCOUNT <name>
    * <table>=<n> ...` over [[ScanCount.bigTables]], nonzero only. */
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    val sf = "/root/testdata/sf0.001"
    val during = args.contains("--during")
    val rest = args.toSeq.filterNot(_.startsWith("--"))
    val names =
      if (args.contains("--all")) SparkEntry.queries.keys.toSeq.sorted
      else if (rest.nonEmpty) rest
      else SparkEntry.queries.keys.filter(_.startsWith("d")).toSeq.sorted
    names.foreach { n =>
      val c =
        if (during || ScanCount.loopQueries(n))
          ScanCount.countsDuring(spark, n, sf, ScanCount.bigTables)
        else ScanCount.counts(spark, n, sf, ScanCount.bigTables)
      val shown = ScanCount.bigTables.filter(t => c.getOrElse(t, 0) > 0)
        .map(t => s"$t=${c(t)}").mkString(" ")
      println(s"SCANCOUNT $n $shown")
    }
    spark.stop()
  }
}
