package graft

import graft.operators.Cartesian

/** Plan-shape assertions — the 100 TB design contract (SURVEY §5):
  * filters/projections reach the scan, dim joins broadcast, top-k
  * never globally sorts. */
class PlanSpec extends SparkSpec {

  test("q02 pushes filters into the parquet scan") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters: ["), s"no pushed filters:\n$p")
    assert(p.contains("GreaterThanOrEqual(l_shipdate") || p.contains("IsNotNull(l_shipdate"),
      s"shipdate filter not pushed:\n$p")
  }

  test("q02 prunes columns at the scan (no full-width read)") {
    val p = plan("q02_filter_project")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_orderkey"), s"unpruned scan: $readSchema")
    assert(readSchema.contains("l_extendedprice"))
  }

  test("q16 dimension joins are broadcast, not shuffled") {
    val p = plan("q16_broadcast_join")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"dim join fell back to SMJ:\n$p")
  }

  test("q06 topk plans TakeOrderedAndProject (no global sort)") {
    val p = plan("q06_topk")
    assert(p.contains("TakeOrderedAndProject"), s"topk did a global sort:\n$p")
  }

  test("q01 aggregates partially before the shuffle") {
    val p = plan("q01_agg")
    assert(p.contains("HashAggregate"), p)
    // two HashAggregate nodes = partial + final (map-side combine)
    assert("HashAggregate".r.findAllIn(p).length >= 2, s"no partial agg:\n$p")
  }

  test("d06 broadcasts the pair side (no shuffle for the n² stream)") {
    val p = plan("d06_cosine_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("d07 bucketed ANN joins on bucket equi-key (no cartesian)") {
    val p = plan("d07_ann_lsh")
    assert(!p.contains("CartesianProduct"), s"ANN degenerated to cartesian:\n$p")
  }

  test("d05 simhash pairs via band equi-join (no nested-loop all-pairs)") {
    val p = plan("d05_simhash")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"simhash pairing degenerated to all-pairs:\n$p")
  }

  test("d15 IVF pairing stays an equi-join on cell (no cartesian)") {
    val p = plan("d15_ann_ivf")
    assert(!p.contains("CartesianProduct"), s"IVF degenerated to cartesian:\n$p")
  }

  test("d27 clip dedup pairs via fingerprint equi-join (no all-pairs)") {
    val p = plan("d27_clip_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"clip dedup degenerated to all-pairs:\n$p")
  }

  test("d23 corpus mixing never reads the text column") {
    // the keep decision derives from doc_id/lang only — at 100 TB the
    // scan must prune the (dominant) text bytes away
    val p = plan("d23_corpus_mix")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("text"), s"text not pruned from the scan: $readSchema")
    assert(readSchema.contains("lang"), readSchema)
  }

  test("d26 KMV sketch aggregates in two phases (map-side partial buffers)") {
    // TypedImperativeAggregate plans as ObjectHashAggregate; the
    // partial/final pair is what keeps the exchange at one <=k-long
    // buffer per (group, partition) instead of the distinct hashes
    val p = plan("d26_kmv_by_source")
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2,
      s"KMV did not plan a partial ObjectHashAggregate:\n$p")
  }

  test("pair-stream top-k runs on TopKPerGroup, never a sort-window") {
    // the x04 operator's map-side partial is what keeps these
    // exchanges at k rows per group — a silent fallback to
    // row_number().over(...) would reintroduce a full shuffle+sort of
    // the pair stream
    for (q <- Seq("d06_cosine_topk", "d07_ann_lsh", "d15_ann_ivf", "d19_tfidf",
        "d38_corpus_sample")) {
      val p = plan(q)
      assert(p.contains("TopKPerGroupPartial") && p.contains("TopKPerGroupFinal"),
        s"$q fell off the custom top-k operator:\n$p")
      assert(!p.contains("Window"), s"$q still ranks through a sort-window:\n$p")
    }
  }

  test("d17 embedding near-dup stays an equi-join on (table, bucket)") {
    // BroadcastNestedLoopJoin appears ONLY as the intentional broadcast
    // of the tiny hyperplane table against the vectors (linear), never
    // as a vector×vector pairing (quadratic) — so the vector pair join
    // must be a hash/sort-merge equi-join and nothing may be a true
    // cartesian over the data.
    val p = plan("d17_dedup_embed")
    assert(!p.contains("CartesianProduct"), s"near-dup degenerated to cartesian:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), s"no equi-join for the pair stream:\n$p")
  }

  test("q18 correlated EXISTS decorrelates to a semi-join") {
    val p = plan("q18_exists_corr")
    assert(p.contains("LeftSemi"), s"EXISTS not decorrelated to semi-join:\n$p")
  }

  test("b04 incremental diff plans a left-anti join (never set-difference materialization)") {
    val p = plan("b04_snapshot_diff")
    assert(p.contains("LeftAnti"), s"no anti-join:\n$p")
  }

  test("ANN hash/cell spaces scale with input size (no fixed constants)") {
    import graft.operators.Similarity
    // LSH: bits per table track log2(n) so bucket occupancy stays ~2^4
    assert(Similarity.lshBits(500) == 5)
    assert(Similarity.lshBits(500) < Similarity.lshBits(1L << 20))
    assert(Similarity.lshBits(1L << 20) < Similarity.lshBits(1L << 40))
    // IVF: nlist ≈ √n — cell count AND per-cell size both grow as √n
    assert(Similarity.ivfCells(500) == 23)
    assert(Similarity.ivfCells(500) < Similarity.ivfCells(2000))
    assert(Similarity.ivfCells(4L * 1000 * 1000) == 2000)
  }

  test("b16 keeps the snapshots distinct pinned (no countDistinct Expand)") {
    // RemoveRedundantAggregates elides a distinct beneath an all-
    // duplicate-insensitive aggregate, which would run the Expand over
    // the full raw ledger (measured 0.9 -> 11.6s at sf0.1); the
    // two-phase form has no Expand at all
    val p = plan("b16_schema_versions")
    assert(!p.contains("Expand"), s"countDistinct Expand resurfaced in b16:\n$p")
  }

  test("d13 centroid argmin is a projection (no window, no hash exchange)") {
    val p = plan("d13_knn_centroid")
    assert(!p.contains("Window"), s"argmin fell back to a window:\n$p")
    assert(!p.contains("hashpartitioning"), s"argmin shuffles the vector stream:\n$p")
  }

  test("d15 cell assignment is shuffle-free on the vector stream") {
    // the IVF probe/assignment fold must be a per-row projection over a
    // broadcast centroid array — at n=10⁹ a window formulation would
    // push n×√n rows through one sort exchange (r3 weak item)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.window.WindowExec
    val df = graft.operators.Similarity.assignTop2(
      graft.model.Corpus.qvecs(spark, sf),
      graft.operators.Similarity.centroids(spark, 23))
    def pathToScan(p: SparkPlan): Option[List[SparkPlan]] = p match {
      case f: FileSourceScanExec if f.toString.contains("embeddings") => Some(List(f))
      case _ => p.children.view.flatMap(c => pathToScan(c).map(p :: _)).headOption
    }
    val path = pathToScan(df.queryExecution.sparkPlan)
    assert(path.isDefined, "no embeddings scan in the assignment plan")
    assert(!path.get.exists(_.isInstanceOf[ShuffleExchangeLike]),
      s"exchange on the vector stream:\n${df.queryExecution.sparkPlan}")
    assert(!path.get.exists(_.isInstanceOf[WindowExec]),
      s"sort-window on the vector stream:\n${df.queryExecution.sparkPlan}")
  }

  test("q29 rank/count windows and the final agg ride one exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    // both windows and the groupBy share the o_orderpriority
    // partitioning: exactly one hash exchange — a second would mean the
    // agg re-shuffled
    val plan = SparkEntry.queries("q29_quartiles")(spark, sf)
      .queryExecution.executedPlan
    val hashEx = plan.collect {
      case e: ShuffleExchangeLike if e.toString.contains("hashpartitioning") => e
    }
    assert(hashEx.size <= 1, s"windows/agg did not share one exchange:\n$plan")
  }

  test("q28 interval join plans as an equi shuffle join on the bin, not a nested loop") {
    // the whole point of the binning rewrite: containment alone would
    // plan as BroadcastNestedLoopJoin (O(points × intervals)); with the
    // bin key Catalyst gets an equi-join to hash/sort-merge on, and the
    // containment predicate rides along as the join's residual filter
    val p = SparkEntry.queries("q28_interval_join")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"interval join degenerated to a nested loop:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"),
      s"no equi join on the bin key:\n$p")
  }

  test("q24 NOT IN plans as a null-aware anti join (not a nested loop)") {
    // the single-column NOT IN must hit Catalyst's NAAJ rewrite: a
    // broadcast hash LeftAnti with isNullAware=true — the fallback for
    // non-rewritable NOT IN is a BroadcastNestedLoopJoin evaluating
    // the null-semantics predicate per pair, quadratic at scale
    // FormattedMode elides the isNullAware flag — read the raw
    // physical plan string, where BroadcastHashJoinExec prints
    // "LeftAnti, BuildRight, true"
    val p = SparkEntry.queries("q24_not_in")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("LeftAnti, BuildRight, true"),
      s"NOT IN did not plan as a null-aware anti join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"NOT IN degenerated to a nested loop:\n$p")
  }

  test("q25 LATERAL decorrelates with a partial window group limit") {
    // the correlated per-customer LIMIT must become a rank window with
    // WindowGroupLimit pushed to the map side — each task prunes to ≤3
    // rows per key before the exchange; re-executing the subquery per
    // outer row (nested loop / cartesian) would be quadratic
    val p = SparkEntry.queries("q25_lateral")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit"), s"no group-limit pushdown:\n$p")
    assert(p.contains("Partial"), s"group limit not pushed to the map side:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"lateral did not decorrelate:\n$p")
  }

  test("d35 scores members against a broadcast representative set (never a shuffled self-join)") {
    // SemDeDup's whole point is avoiding the member×member matrix: the
    // only join on the vector stream is against the ≤|cells|-row
    // representative table, which must broadcast
    val p = plan("d35_semdedup")
    assert(p.contains("BroadcastHashJoin"), s"rep join did not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"vector stream shuffled for a join:\n$p")
    // (the centroid-array attach is a deliberate 1-row broadcast
    // cross join inside assignTop2 — all-pairs here would be a
    // CartesianProduct, which must never appear)
    assert(!p.contains("CartesianProduct"), s"semdedup degenerated to all-pairs:\n$p")
  }

  test("d42 probes the broadcast benchmark per-row (no exchange)") {
    // the corpus stream must fold over the broadcast benchmark array —
    // no shuffle, no window, no join keyed on the corpus (the
    // presentation sort is applied at the sink, not in the plan)
    val p = SparkEntry.queries("d42_semantic_decon")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("SortMergeJoin") && !p.contains("Window "),
      s"corpus stream shuffled for the probe:\n$p")
    val exchanges = "Exchange [a-z]+partitioning".r.findAllIn(p).toList
    assert(exchanges.isEmpty, s"exchange on the corpus stream: $exchanges\n$p")
  }

  test("d42 semanticDecon rejects an oversized benchmark before building the fold array") {
    // the zero-exchange contract holds only for a bounded benchmark:
    // past MaxBenchVectors the operator must fail at CONSTRUCTION
    // (bench-side count, no corpus scan, no collecting aggregate) —
    // not OOM inside collect_list
    import graft.operators.Similarity
    def vecs(n: Long) = spark.range(n).selectExpr(
      "id AS vec_id", "array_repeat(CAST(1 AS LONG), 64) AS q", "CAST(64 AS LONG) AS norm2")
    val ex = intercept[IllegalArgumentException] {
      Similarity.semanticDecon(vecs(5), vecs(Similarity.MaxBenchVectors + 1L))
    }
    assert(ex.getMessage.contains("exceeds the broadcastable bound"), ex.getMessage)
  }

  test("d43 composes four curation stages over ONE corpus scan (plus the bounded bench slice)") {
    // the whole point of the composition: run separately, d21+d01+d04+
    // d22 scan the corpus 4+ times; fused, the executed plan may read
    // documents exactly TWICE — the train pass and the ≤100-doc bench
    // fixture slice (which must carry the doc_id pushdown) — and the
    // LSH near-dup drop must happen via bucket-min windows, never a
    // band self-join (no join keyed on the corpus at all)
    import org.apache.spark.sql.execution.FileSourceScanExec
    val df = SparkEntry.queries("d43_curation_pipeline")(spark, sf)
    val scans = df.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec if f.toString.contains("documents") => f
    }
    assert(scans.size == 2, s"expected train + bench scans, got ${scans.size}:\n${df.queryExecution.sparkPlan}")
    assert(scans.count(_.toString.contains("LessThan(doc_id,")) == 1,
      s"bench slice not filter-pruned at the scan:\n${scans.map(_.toString).mkString("\n")}")
    val p = df.queryExecution.sparkPlan.toString
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin")
      && !p.contains("CartesianProduct"),
      s"corpus stream joined — stages did not fuse:\n$p")
    // the only join is the single-row broadcast bench-array attach
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size == 1, p)
    // the gram array must never cross an exchange: both window inputs
    // (the content-hash keeper and the band bucket-min) carry only the
    // folded signature bands + scalars
    val windows = df.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.size == 2, s"expected 2 windows:\n$p")
    windows.foreach { w =>
      assert(!w.child.output.map(_.name).contains("garr"),
        s"gram array reaches a window exchange:\n${w.child.output.map(_.name)}")
    }
  }

  test("s13 bench-gram index is doc_id-pruned at the scan; the probe never joins the corpus") {
    // the streaming decon gate's scale contract: the bench-index side
    // is bounded by construction (doc_id < cap pushed to the parquet
    // scan, so it reads a fixed slice at ANY corpus size) and the probe
    // side attaches it as a single-row broadcast — no corpus-keyed join
    // or shuffle anywhere (the r10 cross-SF re-measure: 2.18× for 10×
    // data, warmed min-of-3; r9's 3.12× was a spread-2.9 noisy window)
    import org.apache.spark.sql.execution.FileSourceScanExec
    val df = SparkEntry.queries("s13_stream_decon")(spark, sf)
    val scans = df.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec if f.toString.contains("documents") => f
    }
    assert(scans.size == 2, s"expected probe + bench scans, got ${scans.size}")
    assert(scans.count(_.toString.contains("LessThan(doc_id,")) == 1,
      s"bench slice not filter-pruned at the scan:\n${scans.map(_.toString).mkString("\n")}")
    val p = df.queryExecution.sparkPlan.toString
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin")
      && !p.contains("CartesianProduct"), s"corpus joined — probe not broadcast:\n$p")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size == 1, p)
  }

  test("d06 is the ONLY query pairing embeddings×embeddings without an equi-key") {
    // blast-radius guard: the brute-force baseline's quadratic shape
    // must never silently leak into a scale path through future edits
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.expressions.{EqualTo, PredicateHelper}
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    object H extends PredicateHelper {
      def conjuncts(e: org.apache.spark.sql.catalyst.expressions.Expression) =
        splitConjunctivePredicates(e)
    }
    def readsEmbeddings(p: LogicalPlan): Boolean = p.collectLeaves().exists {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.exists(_.toString.contains("embeddings"))
        case _ => false
      }
      case _ => false
    }
    def tiny(p: LogicalPlan): Boolean = p.maxRows.exists(_ <= 1L) // broadcast scalars
    def quadratic(df: DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collect {
        case j: Join
          if !j.condition.toSeq.flatMap(H.conjuncts)
              .exists(_.isInstanceOf[EqualTo])
            && readsEmbeddings(j.left) && readsEmbeddings(j.right)
            && !tiny(j.left) && !tiny(j.right) => j
      }.nonEmpty
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filter(name => quadratic(SparkEntry.queries(name)(spark, sf)))
    // exactly the records declared exact baselines (d06 and the evals
    // that must rank against exact truth); everything else must route
    // through LSH/IVF candidates
    val baselines = SparkEntry.specs.collect {
      case q if q.pins.cartesian.exists(_.isInstanceOf[Cartesian.ExactBaseline]) => q.id
    }.sorted
    assert(offenders == baselines,
      s"quadratic embeddings pairing in: $offenders (declared exact baselines: $baselines)")
  }

  test("s41 sharded gate: no single-row fold over the medoid artifact (no-broadcast-growth pin)") {
    // THE structural claim of the s41 scale variant: s38 collapses the
    // whole medoid artifact — vectors included — into one broadcast row
    // (a fold whose payload grows with community count); s41 must NOT.
    // Its only empty-grouping aggregate is the cell LIST (bounded by
    // ⌈√n⌉ cells, the d50 centroid-scatter shape — an array<int>, no
    // vector payload), and the medoid vectors reach arrivals through a
    // keyed equi-join on cell. The pin: no single-row fold in s41's
    // plan may carry the medoid vector payload (a nested field named
    // `qm`) in its output — a future edit that re-collapses the medoid
    // table re-introduces the broadcast-growth problem and fails here.
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    import org.apache.spark.sql.types._
    def carriesQm(dt: DataType): Boolean = dt match {
      case s: StructType => s.fields.exists(f => f.name == "qm" || carriesQm(f.dataType))
      case a: ArrayType => carriesQm(a.elementType)
      case m: MapType => carriesQm(m.keyType) || carriesQm(m.valueType)
      case _ => false
    }
    def singleRowPayloadFolds(name: String): Seq[Aggregate] =
      SparkEntry.queries(name)(spark, sf).queryExecution.optimizedPlan.collect {
        case a: Aggregate if a.groupingExpressions.isEmpty
          && a.output.exists(o => carriesQm(o.dataType)) => a
      }
    assert(singleRowPayloadFolds("s41_stream_communities_sharded").isEmpty,
      "s41 collapses the medoid vector payload into a single-row fold — the broadcast-growth shape it exists to avoid")
    // the contrast that keeps this pin honest: the broadcast fast path
    // really does carry that fold (if s38 ever stops, the two variants
    // have converged and one of them is dead code)
    assert(singleRowPayloadFolds("s38_stream_communities").nonEmpty,
      "s38 no longer folds the medoid payload to one row — variants converged?")
  }

  test("q20 pivot with explicit values plans without a distinct-collect pre-job") {
    // a value-less pivot runs an eager distinct job at BUILD time; the
    // explicit-list form must stay fully lazy
    var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // flush the async bus with a sentinel job: events deliver in
      // order, so once the sentinel's events arrived, any earlier
      // (pivot-build) job start has been counted too
      def flushed(): Int = { spark.range(1).count(); Thread.sleep(200); jobs }
      val j0 = flushed()
      val df = SparkEntry.queries("q20_pivot")(spark, sf)
      df.queryExecution.optimizedPlan // force analysis + optimization
      val j1 = flushed()
      val valueless = graft.sources.Tables.orders(spark, sf)
        .groupBy("o_orderpriority").pivot("o_orderstatus")
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)))
      valueless.queryExecution.optimizedPlan
      val j2 = flushed()
      // the explicit-value build is job-free; the value-less build runs
      // the distinct-collect pre-job on top of the same flush overhead
      assert(j2 - j1 > j1 - j0,
        s"explicit pivot not cheaper: explicit=${j1 - j0} valueless=${j2 - j1}")
      // and the plan reads orders exactly once
      val scans = df.queryExecution.optimizedPlan.collectLeaves().size
      assert(scans == 1, s"pivot plan has $scans leaves")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("q22 set ops plan as semi/anti joins (no cartesian, no materialized difference)") {
    val p = plan("q22_setops")
    assert(p.contains("LeftSemi"), s"INTERSECT not a semi-join:\n$p")
    assert(p.contains("LeftAnti"), s"EXCEPT not an anti-join:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("b25 per-node latest-snapshot join broadcasts (never shuffles the manifest for it)") {
    val p = plan("b25_fetch_plan")
    assert(p.contains("BroadcastHashJoin"), s"latest join not broadcast:\n$p")
  }

  test("d31 reads only (doc_id, text) and expands only the URL stream") {
    val df = SparkEntry.queries("d31_url_extract")(spark, sf)
    val p = df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!readSchema.contains("lang") && !readSchema.contains("source"),
      s"unpruned documents scan: $readSchema")
    // the countDistinct Expand must sit ABOVE the URL explode
    // (Generate), i.e. it expands extracted URLs, not document rows
    val sp = df.queryExecution.sparkPlan
    def hasGenerateBelow(n: org.apache.spark.sql.execution.SparkPlan): Boolean =
      n.collect { case g: org.apache.spark.sql.execution.GenerateExec => g }.nonEmpty
    val expands = sp.collect { case e: org.apache.spark.sql.execution.ExpandExec => e }
    assert(expands.nonEmpty, "no Expand (countDistinct shape changed?)")
    expands.foreach(e => assert(hasGenerateBelow(e),
      s"Expand not above the URL explode:\n$sp"))
  }

  test("d32 quantization is per-row: no exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val df = SparkEntry.queries("d32_embed_quant")(spark, sf)
    val shuffles = df.queryExecution.sparkPlan.collect {
      case e: ShuffleExchangeLike => e
    }
    assert(shuffles.isEmpty,
      s"quantization shuffles the vector stream:\n${df.queryExecution.sparkPlan}")
  }

  test("d33 zorder key is computed at the scan (no exchange before the partial agg)") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val df = SparkEntry.queries("d33_zorder")(spark, sf)
    // walk root→scan; the FIRST aggregate met from the scan side must
    // appear before any exchange on that path (map-side partial)
    def pathToScan(p: SparkPlan): Option[List[SparkPlan]] =
      if (p.children.isEmpty) Some(List(p))
      else p.children.view.flatMap(c => pathToScan(c).map(p :: _)).headOption
    val path = pathToScan(df.queryExecution.sparkPlan).get.reverse // scan-first
    val firstAgg = path.indexWhere(_.isInstanceOf[BaseAggregateExec])
    val firstExchange = path.indexWhere(_.isInstanceOf[ShuffleExchangeLike])
    assert(firstAgg >= 0, "no aggregate in the d33 plan")
    assert(firstExchange < 0 || firstAgg < firstExchange,
      s"exchange before the partial agg:\n${df.queryExecution.sparkPlan}")
  }

  test("b30's global window consumes only the topology-sized token stream") {
    // the repo's ONE deliberately unpartitioned window: its bound is
    // structural, not statistical — the input is the union of the two
    // rings' vnode tokens ((n_src + n_tgt) × 8 rows; cluster-sized,
    // never data-sized). Pin (a) that it stays the only window here and
    // stays global (a partition key appearing would silently change the
    // ring semantics), and (b) the exact token-stream schema below it,
    // so a future edit can't route a data-volume column (object keys,
    // sizes, manifest rows) through the single-partition sort.
    import org.apache.spark.sql.execution.window.WindowExec
    val df = SparkEntry.queries("b30_topology_remap")(spark, sf)
    val windows = df.queryExecution.sparkPlan.collect { case w: WindowExec => w }
    assert(windows.size == 1,
      s"expected exactly the ring-ownership window:\n${df.queryExecution.sparkPlan}")
    val w = windows.head
    assert(w.partitionSpec.isEmpty,
      s"the ring window grew a partition key — ownership would no longer be global:\n$w")
    assert(w.child.output.map(_.name).toSet == Set("token", "is_tgt", "t_node", "src_node"),
      s"non-token-stream columns reach the global window:\n${w.child.output.map(_.name)}")
  }

  test("whole-stage codegen covers the q01 aggregation path") {
    // with AQE the codegen stage markers only exist in the FINAL plan —
    // execute first, then inspect the executed plan
    val df = SparkEntry.queries("q01_agg")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*("), s"no codegen stages:\n$p")
  }

  test("q38 fuzzy match broadcasts the catalog; no shuffle of the dirty feed for the cross") {
    // the spell-correction contract: the bounded name catalog reaches
    // the dirty feed as a broadcast nested-loop cross — the feed side
    // must never sort-merge or shuffle-exchange for candidate pairing
    // (the post-agg presentation sort is the only ordering)
    val p = SparkEntry.queries("q38_fuzzy_match")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"catalog cross is not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"dirty feed shuffled for the catalog cross:\n$p")
  }

  test("q39 blocked fuzzy match pairs candidates by an EQUI join — no nested-loop, no cartesian") {
    // the point of the variant: at huge-catalog scale the candidate
    // pairing must be a plain key join on the bounded deletion-gram
    // key (shuffle or broadcast HASH — both are fine, both are
    // per-key), never a per-row sweep of the whole catalog
    val p = SparkEntry.queries("q39_fuzzy_blocked")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"blocked variant degenerated to a full catalog sweep:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"no equi join on the deletion key found:\n$p")
  }

  test("d73 sketch frame is persisted: both pair sides read the cache, one corpus scan") {
    // the one-corpus-scan pin is STRUCTURAL (persist), not AQE
    // best-effort reuse — the lshPairs lesson applied to the overlap
    // matrix's aggregate
    val df = SparkEntry.queries("d73_source_overlap")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("InMemoryTableScan"),
      s"per-source sketch frame not persisted:\n$p")
  }

  test("d80 IVFPQ probe: broadcast codebook LUT, cell equi-join, serving scan pruned to codes") {
    // the flagship serving plan's structure, pinned (not just its
    // values): the 128-entry dense codebook reaches the query side as
    // a broadcast single-row array (the LUT is then a per-row
    // projection — BroadcastNestedLoopJoin of a 1-row build side);
    // candidate generation is the cell EQUI-join against the code
    // postings — never an all-pairs pairing of queries × postings
    val p = SparkEntry.queries("d80_ivfpq_probe")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin"), s"codebook not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"ADC degenerated to cartesian:\n$p")
    assert(p.contains("Join [cell"), s"candidate join lost the cell equi-key:\n$p")
    // the serving scan reads ONLY (vec_id, cell, codes, rn2) — the
    // audit column `re` (d56's distortion) must be pruned off, or the
    // 128× compression claim quietly pays an extra long per posting
    assert(p.contains("struct<vec_id:bigint,cell:int,codes:array<int>,rn2:bigint>"),
      s"IVFPQ serving scan not pruned to the code columns:\n$p")
  }

  test("d81 rerank: only the k'-deep ADC shortlist meets full vectors, on the b_id equi-key") {
    // the refine stage's structure: the shortlist is bounded BEFORE
    // the join (TopKPerGroup k'=10 emits prn), and full-precision
    // vectors are fetched by b_id EQUI-join — point lookups, never a
    // cartesian re-pairing (which side broadcasts is a stats call:
    // tiny query sets broadcast the shortlist, corpus-wide evals let
    // AQE shuffle both — both are equi plans)
    val p = SparkEntry.queries("d81_ivfpq_rerank")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"rerank degenerated to cartesian:\n$p")
    assert(p.contains("Join [b_id"), s"vector fetch lost the b_id equi-key:\n$p")
    assert(p.contains("10, prn"), s"shortlist not bounded by the k'=10 TopK before the join:\n$p")
  }

  test("d46 re-drive broadcasts the worklist against a pushdown-pruned corpus scan") {
    // the 100 TB contract of the quarantine loop's consumer side: the
    // corpus (the big side) is scanned once with the text filter AT the
    // scan, and the worklist ids reach it as a broadcast semi-join —
    // never a shuffle of the corpus (a re-drive batch is the corrupt
    // minority; the scan-count ratchet separately pins documents=1)
    val p = SparkEntry.queries("d46_quarantine_redrive")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"worklist join is not a broadcast semi-join:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the corpus side shuffled for the worklist join:\n$p")
    assert(p.contains("IsNotNull(text)"),
      s"text filter not pushed to the corpus scan:\n$p")
  }

  test("q31 bin-offsets join back broadcast (the data side never re-sorts globally)") {
    val p = plan("q31_ntile")
    assert(p.contains("BroadcastHashJoin"), s"offsets not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"rank join fell back to a shuffle merge:\n$p")
  }

  test("q34 argmax aggregates partially before the shuffle (no sort window)") {
    val p = plan("q34_argmax_latest")
    assert(p.contains("partial_max_by") || p.contains("partial_maxby")
      || "HashAggregate.*max_by".r.findFirstIn(p).isDefined,
      s"max_by did not plan as a partial-merge aggregate:\n$p")
    assert(!p.contains("Window"), s"argmax fell back to a window sort:\n$p")
  }

  test("s27 as-of probe is a broadcast lookup (no state, no shuffle of events)") {
    val p = SparkEntry.queries("s27_stream_asof")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftOuter"),
      s"SCD lookup is not a broadcast left join:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the event stream shuffled for the dimension probe:\n$p")
  }

  test("d69 replay manifest joins the plan broadcast and explodes after the join") {
    val p = SparkEntry.queries("d69_mix_execute")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"plan join not broadcast:\n$p")
    assert(p.contains("Generate explode"), s"no post-join explode:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the corpus shuffled for the plan join:\n$p")
  }

  test("every equality-free join in the suite keeps a provably single-row side") {
    // The cartesian audit, suite-wide: a join with no equality
    // conjunct is either the documented single-row broadcast FOLD
    // (an ungrouped aggregate — collected centroids/medoids/params —
    // cross-joined so a per-row lambda can fold over it: maxRows = 1,
    // cost linear in the big side) or a genuine pairs blow-up. q24/
    // q28's no-BNLJ pins catch two known shapes; this closes the rest
    // of the suite structurally. Exempt = the records that declare a
    // `cartesian` reason: an exact quadratic baseline (pinned by the
    // embeddings-pairing audit) or a side bounded by a domain.
    import org.apache.spark.sql.catalyst.expressions.{EqualNullSafe, EqualTo}
    import org.apache.spark.sql.catalyst.plans.logical.Join
    // equality ANYWHERE in the condition tree keys a hash join path:
    // plain conjunct EqualTo, setops' <=> (EqualNullSafe), and the
    // null-aware NOT IN shape Or(EqualTo, IsNull(EqualTo)) all count
    def hasEquality(j: Join): Boolean = j.condition.exists(c =>
      c.collectFirst { case e @ (_: EqualTo | _: EqualNullSafe) => e }.isDefined)
    val exempt = SparkEntry.specs.filter(_.pins.cartesian.isDefined).map(_.id).toSet
    // a side is a broadcastable PARAMETER TABLE when the planner can
    // PROVE its row bound: 1 for the collected-artifact folds
    // (centroids/medoids/fleet head), 15 for the LSH plane table
    // (LshTables × bbits rows — bbits grows O(log n), still ≤64 at
    // any real corpus). Anything without a provable bound is treated
    // as corpus-sized.
    def paramSide(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      p.maxRows.exists(_ <= 64L)
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(exempt)
      .filter { name =>
        SparkEntry.queries(name)(spark, sf).queryExecution.optimizedPlan
          .collectWithSubqueries {
            case j: Join
              if !hasEquality(j) && !paramSide(j.left) && !paramSide(j.right) => j
          }.nonEmpty
      }
    assert(offenders.isEmpty,
      s"equality-free join without a provably bounded side (new fold must " +
        s"prove maxRows<=64, new baseline/bounded shape must be declared): $offenders")
  }

  test("unpartitioned windows appear ONLY in the declared bounded-input set") {
    // An unpartitioned Window funnels its whole input through ONE task
    // — fine when the input is provably bounded (a ≤64-bin histogram,
    // a 100-row head curve), fatal on anything corpus-proportional.
    // The bench tail is full of WindowExec "No Partition Defined"
    // warnings from the bounded set, so a NEW corpus-sized one added
    // by mistake would be invisible in logs — this ratchet makes the
    // set exact: every query whose optimized plan (subqueries
    // included) contains an empty-partitionSpec Window must be
    // declared in its record with its boundedness argument, and a
    // declared one that stops planning a global window must drop it.
    import org.apache.spark.sql.catalyst.plans.logical.Window
    val withGlobalWindow = SparkEntry.queries.keys.toSeq.sorted.filter { name =>
      SparkEntry.queries(name)(spark, sf).queryExecution.optimizedPlan
        .collectWithSubqueries { case w: Window if w.partitionSpec.isEmpty => w }
        .nonEmpty
    }
    // each record's `globalWindow` says why its unpartitioned-window
    // INPUT is bounded by a fixture constant or a metric's range
    val declared = SparkEntry.specs.filter(_.pins.globalWindow.isDefined).map(_.id).sorted
    assert(withGlobalWindow == declared,
      s"global-window set drifted — new entries need a boundedness argument:\n" +
        s"  got      ${withGlobalWindow.mkString(", ")}\n" +
        s"  declared ${declared.mkString(", ")}")
  }

  test("presentation order lives in `present`: no spec's plan ends in a global sort") {
    // a trailing orderBy is presentation only — Verify applies the
    // record's `present` keys at the sink, so a global sort left at a
    // plan's root is a range exchange and a stage every caller pays for
    // nothing. Sorts that something above reads (limit, top-k, lastN)
    // sit under that operator, not at the root.
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Sort}
    def root(p: LogicalPlan): LogicalPlan = p match {
      case Project(_, c) => root(c)
      case Filter(_, c)  => root(c)
      case other         => other
    }
    val sorted = SparkEntry.specs.filter(_.present.nonEmpty).map(_.id).filter { id =>
      root(SparkEntry.queries(id)(spark, sf).queryExecution.optimizedPlan) match {
        case s: Sort => s.global
        case _       => false
      }
    }
    assert(sorted.isEmpty,
      s"global sort at the plan root (move its keys into `present`): ${sorted.mkString(", ")}")
  }
}
