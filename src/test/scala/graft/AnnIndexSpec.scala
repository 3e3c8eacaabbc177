package graft

import org.apache.spark.sql.DataFrame

import graft.model.Corpus
import graft.operators.Similarity
import graft.sources.{IO, Stats}
import graft.streaming.VecStream

/** The persisted ANN index (d50/s17): the index artifact must be the
  * EXACT clustering state (not an approximation), the probe over the
  * read-back artifact must reproduce d15 row-for-row, and the routing
  * transform must stream. */
class AnnIndexSpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  test("index read-back equals the in-memory build (the artifact IS the index)") {
    val q = Corpus.qvecs(spark, sf)
    val n = Stats.parquetRowCount(spark, s"$sf/embeddings.parquet")
    val centsRB = IO.readParquet(spark, Similarity.annIndexCents(spark, sf))
    val centsMem = Similarity.refinedCents(spark, q, n)
    assert(rows(centsRB.orderBy("c")) == rows(centsMem.orderBy("c")),
      "read-back centroid table diverges from the in-memory refinement")
    val postRB = IO.readParquet(spark, Similarity.annIndexPostings(spark, sf))
    assert(postRB.columns.toSeq == Seq("vec_id", "cell", "q", "norm2"),
      s"postings schema: ${postRB.columns.mkString(",")}")
    assert(postRB.count() == n, "postings must hold every vector exactly once")
  }

  test("d50 probe over the persisted index equals d15 computed in-memory") {
    // in presentation order: the plans' own row order is unspecified
    // (a cold JVM's first d15 collect comes back in another order)
    val d15 = rows(presented("d15_ann_ivf"))
    val d50 = rows(presented("d50_ann_index_probe"))
    assert(d50 == d15, "persisted-index probe diverges from the in-memory IVF")
  }

  test("d52 update appends exactly the new ids, and absorbing it converges") {
    val arriving = Corpus.qvecsOf(
      graft.sources.Tables.embeddings(spark, sf)).filter(Similarity.arrivingCond)
    val post = IO.readParquet(spark, Similarity.annSnapPostings(spark, sf))
    val cents = IO.readParquet(spark, Similarity.annSnapCents(spark, sf))
    val inc = Similarity.indexUpdate(arriving, post, cents)
    // the increment is exactly the arriving ids absent from the index
    val expectedNew = arriving.join(post.select("vec_id"), Seq("vec_id"), "left_anti")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val gotNew = inc.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(gotNew == expectedNew, "increment ids diverge from the anti-join set")
    assert(gotNew.nonEmpty, "fixture must produce a non-empty increment")
    // already-indexed arrivals were skipped (the fixture overlaps by design)
    val overlap = arriving.join(post.select("vec_id"), Seq("vec_id"))
      .count()
    assert(overlap > 0, "fixture must overlap the snapshot index")
    // convergence: once the postings absorb the increment, re-running
    // the SAME feed yields an empty increment — retry idempotence
    val absorbed = Similarity.updatedPostings(post, arriving, inc)
    assert(Similarity.indexUpdate(arriving, absorbed, cents).isEmpty,
      "re-running an absorbed feed must yield an empty increment")
    // the absorbed artifact keeps the postings layout
    assert(absorbed.columns.toSeq == post.columns.toSeq)
  }

  test("streaming ANN routing (s17) equals the batch routing") {
    val cents = IO.readParquet(spark, Similarity.annIndexCents(spark, sf))
    val q = VecStream.runToMemory(spark, sf, "graft_s17_test",
      df => Similarity.annRoute(cents)(Corpus.qvecsOf(df)))
    q.awaitTermination(120000); q.stop()
    val streamed = rows(spark.table("graft_s17_test").orderBy("vec_id"))
    val batch = rows(SparkEntry.queries("s17_stream_ann_route")(spark, sf))
    assert(streamed == batch, "streamed routing diverges from batch routing")
  }

  test("streaming outlier gate (s34) equals the batch gate and the d87 audit") {
    val cents = IO.readParquet(spark, Similarity.annIndexCents(spark, sf))
    val stats = IO.readParquet(spark, Similarity.annIndexCellStats(spark, sf))
    val q = VecStream.runToMemory(spark, sf, "graft_s34_test",
      df => Similarity.outlierGate(cents, stats)(Corpus.qvecsOf(df)))
    q.awaitTermination(120000); q.stop()
    val streamed = rows(spark.table("graft_s34_test").orderBy("vec_id"))
    val batch = rows(SparkEntry.queries("s34_stream_outliers")(spark, sf))
    assert(streamed == batch, "streamed outlier gate diverges from batch gate")
    // the gate must discriminate: both verdicts occur on the fixture
    val verdicts = spark.table("graft_s34_test")
      .select("is_outlier").distinct().collect().map(_.getBoolean(0)).toSet
    assert(verdicts == Set(true, false),
      s"fixture must exercise both gate outcomes, got $verdicts")
    // gate-over-artifact ≡ the d87 batch audit: the flagged ids match
    val gated = spark.table("graft_s34_test")
      .filter("is_outlier").select("vec_id")
      .collect().map(_.getLong(0)).toSet
    val audited = SparkEntry.queries("d87_embed_outliers")(spark, sf)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(gated == audited, "ingest gate and batch audit disagree on flagged ids")
  }

  test("streaming semdedup gate (s35) equals the batch gate; reps artifact is the min-id member per cell") {
    // the reps artifact must be exactly d35's election over the postings
    val post = IO.readParquet(spark, Similarity.annIndexPostings(spark, sf))
    val reps = IO.readParquet(spark, Similarity.annIndexReps(spark, sf))
    val wantReps = post.collect()
      .map(r => (r.getInt(1), (r.getLong(0), r.getSeq[Long](2), r.getLong(3))))
      .groupBy(_._1).view.mapValues(_.map(_._2).minBy(_._1)).toMap
    val gotReps = reps.collect()
      .map(r => (r.getInt(0), (r.getLong(1), r.getSeq[Long](2), r.getLong(3)))).toMap
    assert(gotReps == wantReps, "reps artifact diverges from the min-id election")
    val cents = IO.readParquet(spark, Similarity.annIndexCents(spark, sf))
    val q = VecStream.runToMemory(spark, sf, "graft_s35_test",
      df => Similarity.semdedupGate(cents, reps)(Corpus.qvecsOf(df)))
    q.awaitTermination(120000); q.stop()
    val streamed = rows(spark.table("graft_s35_test").orderBy("vec_id"))
    val batch = rows(SparkEntry.queries("s35_stream_semdedup")(spark, sf))
    assert(streamed == batch, "streamed semdedup gate diverges from batch gate")
    // the gate must discriminate: all three actions occur
    val actions = spark.table("graft_s35_test")
      .select("action").distinct().collect().map(_.getString(0)).toSet
    assert(actions == Set("rep", "drop", "keep"),
      s"fixture must exercise all three actions, got $actions")
  }

  test("streaming community gate (s38) equals the batch gate; medoid artifact equals d97's election") {
    // the medoid artifact must be exactly d97's election (the postings
    // and the corpus hold the same vector set, so the artifact built
    // from the index state matches the query computed over the corpus)
    val meds = IO.readParquet(spark, Similarity.annIndexMedoids(spark, sf))
    val wantMeds = SparkEntry.queries("d97_community_medoid")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val gotMeds = meds.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotMeds == wantMeds, "medoid artifact diverges from the d97 election")
    // the inline medoid vector must be the member's actual vector
    val vecs = Corpus.qvecs(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getSeq[Long](1), r.getLong(2))).toMap
    meds.collect().foreach { r =>
      val (qv, n2) = vecs(r.getLong(1))
      assert(r.getSeq[Long](2) == qv && r.getLong(3) == n2,
        s"medoid vector payload corrupt at cluster ${r.getLong(0)}")
    }
    val q = VecStream.runToMemory(spark, sf, "graft_s38_test",
      df => Similarity.communityGate(meds)(Corpus.qvecsOf(df)))
    q.awaitTermination(120000); q.stop()
    val streamed = rows(spark.table("graft_s38_test").orderBy("vec_id"))
    val batch = rows(SparkEntry.queries("s38_stream_communities")(spark, sf))
    assert(streamed == batch, "streamed community gate diverges from batch gate")
    // routing is total and meaningful: every vector lands somewhere,
    // more than one community receives arrivals, and every medoid
    // routes to its own community at distance 0
    val routed = spark.table("graft_s38_test").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(routed.size == vecs.size, "gate dropped arrivals")
    assert(routed.values.map(_._1).toSet.size > 1, "all arrivals in one community")
    gotMeds.foreach { case (c, mid) =>
      assert(routed(mid) == ((c, mid, 0L)),
        s"medoid $mid does not route to its own community at d2=0")
    }
  }

  test("sharded community gate (s41) recomputes the broadcast gate exactly; shards partition the medoids") {
    // routed ≡ broadcast, row for row: the scale variant must
    // RECOMPUTE s38's answer, not approximate it — that is what lets
    // it stand behind the same oracle (the d15 ↔ d50 contract)
    val batch41 = rows(SparkEntry.queries("s41_stream_communities_sharded")(spark, sf))
    val batch38 = rows(SparkEntry.queries("s38_stream_communities")(spark, sf))
    assert(batch41 == batch38, "sharded gate diverges from the broadcast gate")
    // the shards PARTITION the artifact: every medoid is resident in
    // exactly one cell (the medoid⨝postings join neither drops a
    // medoid nor fans one out — postings are unique per vec_id)
    val meds = IO.readParquet(spark, Similarity.annIndexMedoids(spark, sf))
    val post = IO.readParquet(spark, Similarity.annIndexPostings(spark, sf))
      .withColumnRenamed("vec_id", "medoid_id").select("medoid_id", "cell")
    val nMeds = meds.count()
    assert(meds.join(post, Seq("medoid_id")).count() == nMeds,
      "medoid⨝postings residency join is not 1:1 — shards do not partition the medoids")
    // streaming form: the gather is a keyed aggregation, so the gate
    // runs in complete mode — stream ≡ batch exactly (min over structs
    // is order-invariant, micro-batches merge exactly)
    val q = VecStream.runToMemory(spark, sf, "graft_s41_test",
      df => Similarity.communityGateRouted(spark, sf)(Corpus.qvecsOf(df)),
      mode = "complete")
    q.awaitTermination(120000); q.stop()
    val streamed = rows(spark.table("graft_s41_test").orderBy("vec_id"))
    assert(streamed == batch38, "streamed sharded gate diverges from the batch gate")
  }

  test("streaming community load (s39) equals the batch tally; state stays community-bounded") {
    val meds = IO.readParquet(spark, Similarity.annIndexMedoids(spark, sf))
    val q = VecStream.runToMemory(spark, sf, "graft_s39_test",
      df => Similarity.communityLoad(meds)(Corpus.qvecsOf(df)), mode = "complete")
    q.awaitTermination(120000); q.stop()
    val streamed = rows(spark.table("graft_s39_test").orderBy("cluster_id"))
    val batch = rows(presented("s39_stream_community_load"))
    assert(streamed == batch, "streamed community load diverges from batch tally")
    // state bound: at most one row per community, never stream-length
    val nMeds = meds.count()
    assert(batch.length <= nMeds, s"load state ${batch.length} exceeds $nMeds communities")
    // conservation: every arrival lands in exactly one tally
    val n = Stats.parquetRowCount(spark, s"$sf/embeddings.parquet")
    val tallied = spark.table("graft_s39_test")
      .agg(org.apache.spark.sql.functions.sum("n_arrivals")).first().getLong(0)
    assert(tallied == n, s"tally counts $tallied of $n arrivals")
  }

  test("d99 route fidelity: exact recount from the gate's own routes + membership") {
    val rows99 = presented("d99_route_fidelity").collect()
    // independent inputs: s38's oracle-proven routes and d95's
    // oracle-proven membership
    val routes = SparkEntry.queries("s38_stream_communities")(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3))).toMap
    val member = SparkEntry.queries("d95_knn_communities")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = member.groupBy(_._2).map { case (c, mmap) =>
      val rs = mmap.keys.toSeq.map(routes)
      c -> (mmap.size.toLong, rs.count(_._1 == c).toLong, rs.map(_._2).max)
    }
    assert(rows99.map(_.getLong(0)).toSeq == want.keys.toSeq.sorted,
      "community id set diverges from the recount")
    rows99.foreach { r =>
      val c = r.getLong(0)
      val (nm, na, mx) = want(c)
      assert(r.getLong(1) == nm, s"n_members($c)")
      assert(r.getLong(2) == na, s"n_agree($c)")
      assert(r.getLong(3) == mx, s"max_d2($c)")
      assert(r.getDouble(4) == na.toDouble / nm, s"agree_frac($c)")
      assert(r.getLong(2) <= r.getLong(1), s"agreement exceeds membership($c)")
    }
    // the gap this eval exists to expose must be real on the fixture —
    // and on signal-flat embeddings it is LARGE (measured ~28% home:
    // the sprawling giant community's boundary members defect to tiny
    // communities' medoids — the d81-style finding that makes a
    // deployment measure the shortcut before serving it). Stable pins:
    // every medoid routes home (its own distance is 0), agreement is
    // never perfect, and the defection is visible
    rows99.foreach(r => assert(r.getLong(2) >= 1,
      s"community ${r.getLong(0)}: even its medoid defected"))
    val (agreeSum, memberSum) = (rows99.map(_.getLong(2)).sum, rows99.map(_.getLong(1)).sum)
    assert(agreeSum < memberSum, "routing perfect — the encoder/partition gap vanished")
  }

  test("streaming moment sketch (s36) equals the batch moments and derives d89's spectrum") {
    val q = VecStream.runToMemory(spark, sf, "graft_s36_test",
      df => Similarity.dimMoments(Corpus.qvecsOf(df)), mode = "complete")
    q.awaitTermination(120000); q.stop()
    val streamed = rows(spark.table("graft_s36_test").orderBy("pos"))
    val batch = rows(presented("s36_stream_spectrum"))
    assert(streamed == batch, "streamed moments diverge from batch moments")
    // the state bound: 64 dimension rows, never stream-length
    assert(batch.length == 64, s"moment state grew to ${batch.length} rows")
    // the sketch IS the spectrum's input: n·Σx² − (Σx)² from the
    // moments must reproduce d89's var_num exactly, dimension by
    // dimension
    val moments = spark.table("graft_s36_test").collect()
      .map(r => r.getInt(0) -> (BigInt(r.getLong(1)) * BigInt(r.getLong(3))
        - BigInt(r.getLong(2)) * BigInt(r.getLong(2)))).toMap
    SparkEntry.queries("d89_embed_spectrum")(spark, sf).collect().foreach { r =>
      assert(r.getDouble(2) == moments(r.getInt(0)).toDouble,
        s"spectrum var_num(${r.getInt(0)}) not derivable from the live sketch")
    }
  }

  test("streaming index update (s18) equals the batch update") {
    val cents = IO.readParquet(spark, Similarity.annSnapCents(spark, sf))
    val post = IO.readParquet(spark, Similarity.annSnapPostings(spark, sf))
    val q = VecStream.runToMemory(spark, sf, "graft_s18_test",
      df => Similarity.indexUpdate(
        Corpus.qvecsOf(df).filter(Similarity.arrivingCond), post, cents))
    q.awaitTermination(120000); q.stop()
    val streamed = rows(spark.table("graft_s18_test").orderBy("vec_id"))
    val batch = rows(SparkEntry.queries("s18_stream_index_update")(spark, sf))
    assert(streamed == batch, "streamed index update diverges from batch update")
  }

  test("d91 recluster drift: contingency recount from the two artifact assignments, mass conservation") {
    // (cell, n_vecs, n_parents, n_dominant, dom_share)
    val rows = SparkEntry.queries("d91_recluster_drift")(spark, sf).collect()
    val n = Stats.parquetRowCount(spark, s"$sf/embeddings.parquet")
    assert(rows.map(_.getLong(1)).sum == n, "every vector sits in exactly one fresh cell")
    // independent recount: both assignments driver-side from the
    // persisted centroid artifacts
    val q = Corpus.qvecs(spark, sf)
    val snapC = IO.readParquet(spark, Similarity.annSnapCents(spark, sf))
    val curC = IO.readParquet(spark, Similarity.annIndexCents(spark, sf))
    def assign(cents: DataFrame): Map[Long, Int] =
      Similarity.assignTop2(q, cents).select("vec_id", "cell1")
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val oldA = assign(snapC); val newA = assign(curC)
    val cont = newA.toSeq.map { case (v, c) => (c, oldA(v)) }
      .groupBy(identity).view.mapValues(_.size).toSeq
      .groupBy(_._1._1)
    rows.foreach { r =>
      val g = cont(r.getInt(0)).map(_._2)
      assert(r.getLong(1) == g.sum, s"n_vecs(${r.getInt(0)})")
      assert(r.getLong(2) == g.size, s"n_parents(${r.getInt(0)})")
      assert(r.getLong(3) == g.max, s"n_dominant(${r.getInt(0)})")
      assert(r.getDouble(4) == g.max.toDouble / g.sum.toDouble, s"dom_share(${r.getInt(0)})")
    }
    // the fixture must discriminate: renamed-structure cells AND
    // genuinely reshuffled cells both occur
    assert(rows.exists(_.getLong(2) > 1), "no multi-parent cell — drift invisible")
    assert(rows.exists(_.getDouble(4) >= 0.9), "no stable cell — fixture degenerate")
  }

  test("d95 knn communities: union-find recount over mutual edges from d50's graph") {
    // (vec_id, cluster_id, cluster_size)
    val rows = SparkEntry.queries("d95_knn_communities")(spark, sf).collect()
    // independent edges: d50's oracle-proven probe output; mutual =
    // edge AND reverse; communities by driver-side union-find
    val edges = SparkEntry.queries("d50_ann_index_probe")(spark, sf)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val eset = edges.toSet
    val mutual = edges.filter { case (a, b) => a < b && eset((b, a)) }
    val canon = ufCommunities(edges)
    val got = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == canon, "community labels diverge from the union-find recount")
    val sizes = canon.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    rows.foreach(r => assert(r.getLong(2) == sizes(r.getLong(1)),
      s"cluster_size(${r.getLong(0)})"))
    assert(sizes.size > 1, "fixture must produce more than one community")
    // every mutual edge is intra-community by construction
    mutual.foreach { case (a, b) => assert(canon(a) == canon(b)) }
  }

  /** Union-find community labels over the mutual subset of a directed
    * edge list — the driver-side recount d95/d96/d97 are all checked
    * against (min-member-id canonical labels, mutual-graph nodes only). */
  private def ufCommunities(edges: Array[(Long, Long)]): Map[Long, Long] = {
    val eset = edges.toSet
    val mutual = edges.filter { case (a, b) => a < b && eset((b, a)) }
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    mutual.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val roots = parent.keys.map(x => x -> find(x)).toMap
    roots.groupBy(_._2).flatMap { case (_, m) =>
      val lbl = m.keys.min; m.keys.map(_ -> lbl)
    }
  }

  test("d96 modularity: exact recount over d50's edges + partition laws") {
    val rows = presented("d96_knn_modularity").collect()
    val edges = SparkEntry.queries("d50_ann_index_probe")(spark, sf)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val canon = ufCommunities(edges)
    // full-graph node set; non-mutual nodes are singletons of themselves
    val lab: Map[Long, Long] =
      edges.flatMap { case (a, b) => Seq(a, b) }.distinct
        .map(n => n -> canon.getOrElse(n, n)).toMap
    val m = edges.length.toLong
    val dOut = edges.groupBy(e => lab(e._1)).view.mapValues(_.length.toLong).toMap
    val dIn = edges.groupBy(e => lab(e._2)).view.mapValues(_.length.toLong).toMap
    val eIn = edges.filter(e => lab(e._1) == lab(e._2))
      .groupBy(e => lab(e._1)).view.mapValues(_.length.toLong).toMap
    val nNodes = lab.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    assert(rows.map(_.getLong(0)).toSeq == nNodes.keys.toSeq.sorted,
      "community id set diverges from the recount")
    rows.foreach { r =>
      val c = r.getLong(0)
      assert(r.getLong(1) == nNodes(c), s"n_nodes($c)")
      assert(r.getLong(2) == eIn.getOrElse(c, 0L), s"e_intra($c)")
      assert(r.getLong(3) == dOut.getOrElse(c, 0L), s"d_out($c)")
      assert(r.getLong(4) == dIn.getOrElse(c, 0L), s"d_in($c)")
      assert(r.getLong(5) ==
        m * eIn.getOrElse(c, 0L) - dOut.getOrElse(c, 0L) * dIn.getOrElse(c, 0L),
        s"qnum($c) breaks the m·e − dout·din identity")
    }
    // partition laws: degree mass is conserved; every directed edge
    // whose pair is mutual is intra by construction (2 per mutual pair)
    assert(rows.map(_.getLong(3)).sum == m, "Σd_out ≠ m")
    assert(rows.map(_.getLong(4)).sum == m, "Σd_in ≠ m")
    val eset = edges.toSet
    val nMutual = edges.count { case (a, b) => a < b && eset((b, a)) }
    assert(rows.map(_.getLong(2)).sum >= 2L * nMutual,
      "intra edge mass lost mutual pairs")
    // the partition must beat the null model on this fixture: m²·Q > 0
    val qnumSum = rows.map(_.getLong(5)).sum
    assert(qnumSum > 0 && qnumSum <= m * m,
      s"modularity numerator $qnumSum outside (0, m²]")
  }

  test("d97 medoid: brute-force O(size²) recount per community") {
    val rows = SparkEntry.queries("d97_community_medoid")(spark, sf).collect()
    val edges = SparkEntry.queries("d50_ann_index_probe")(spark, sf)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val canon = ufCommunities(edges)
    val vecs = Corpus.qvecs(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // brute-force: per community, every member's TRUE pairwise
    // Σ‖xi−xj‖² — the O(size²) definition the linear identity replaces
    val best = canon.groupBy(_._2).map { case (c, mmap) =>
      val ids = mmap.keys.toSeq.sorted
      val scored = ids.map { i =>
        val ssd = ids.filter(_ != i).map { j =>
          vecs(i).zip(vecs(j)).map { case (a, b) => val d = a - b; d * d }.sum
        }.sum
        (ssd, i)
      }
      c -> scored.min // (ssd, vec_id) lexicographic = the tie rule
    }
    assert(rows.map(_.getLong(0)).toSeq == best.keys.toSeq.sorted,
      "community id set diverges from the recount")
    rows.foreach { r =>
      val c = r.getLong(0)
      val (ssd, id) = best(c)
      assert(r.getLong(1) == id, s"medoid($c): got ${r.getLong(1)}, want $id")
      assert(r.getLong(3) == ssd, s"ssd($c): got ${r.getLong(3)}, want $ssd")
      assert(r.getLong(2) == canon.count(_._2 == c), s"n_nodes($c)")
    }
    // the linear identity must have had something to beat: some
    // community bigger than 2 (where medoid choice is non-trivial)
    assert(rows.exists(_.getLong(2) >= 3), "fixture communities all trivial")
  }

  test("d98 community purity: exact recount against the ground-truth labels") {
    val rows = SparkEntry.queries("d98_community_purity")(spark, sf).collect()
    val edges = SparkEntry.queries("d50_ann_index_probe")(spark, sf)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val canon = ufCommunities(edges)
    val lblOf = graft.sources.Tables.embeddings(spark, sf)
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    val want = canon.groupBy(_._2).map { case (c, mmap) =>
      val ls = mmap.keys.toSeq.map(lblOf)
      val byLbl = ls.groupBy(identity).view.mapValues(_.size.toLong).toMap
      // majority label, ties to the smaller label (d75's convention)
      val (topLbl, nTop) = byLbl.toSeq.minBy { case (l, n) => (-n, l) }
      c -> (ls.size.toLong, byLbl.size.toLong, topLbl, nTop)
    }
    assert(rows.map(_.getLong(0)).toSeq == want.keys.toSeq.sorted,
      "community id set diverges from the recount")
    rows.foreach { r =>
      val c = r.getLong(0)
      val (nm, nl, tl, nt) = want(c)
      assert(r.getLong(1) == nm, s"n_members($c)")
      assert(r.getLong(2) == nl, s"n_labels($c)")
      assert(r.getInt(3).toLong == tl, s"top_label($c)")
      assert(r.getLong(4) == nt, s"n_top($c)")
      assert(r.getDouble(5) == nt.toDouble / nm, s"purity($c)")
    }
    // the eval must discriminate on this fixture (labels are
    // signal-flat by design — d81's recall arc measures the same
    // thing — so NO community reaches purity 1; what the eval owes is
    // a real spread and the bounds)
    rows.foreach { r =>
      assert(r.getDouble(5) > 0.0 && r.getDouble(5) <= 1.0,
        s"purity(${r.getLong(0)}) out of (0,1]")
    }
    assert(rows.exists(_.getDouble(5) < 1.0), "every community pure — eval vacuous")
    assert(rows.map(_.getDouble(5)).distinct.length > 1,
      "purity constant across communities — eval does not discriminate")
  }

  test("d53 SQ8 artifact: genuine 1-byte codes, exact norms, full coverage") {
    val post8 = IO.readParquet(spark, Similarity.annIndexSq8(spark, sf))
    // the storage claim is real only if parquet holds int8, not int64
    val q8Type = post8.schema("q8").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
    assert(q8Type == org.apache.spark.sql.types.ByteType,
      s"q8 must be array<tinyint> in the artifact, got $q8Type")
    // max-abs quantization: every code in [-127, 127], the max-|q|
    // slot mapped to exactly ±127 (so n8 = 0 only for the zero vector)
    val audit = post8.selectExpr(
      "aggregate(q8, CAST(127 AS LONG), (acc, x) -> least(acc, CAST(abs(x) AS LONG))) <= 127 AS in_range",
      "aggregate(q8, CAST(0 AS LONG), (acc, x) -> greatest(acc, CAST(abs(x) AS LONG))) = 127 AS hits_127",
      "n8 = aggregate(q8, CAST(0 AS LONG), (acc, x) -> acc + CAST(x AS LONG) * CAST(x AS LONG)) AS n8_ok")
    assert(audit.filter("NOT in_range OR NOT hits_127 OR NOT n8_ok").isEmpty,
      "SQ8 code invariant violated (range / max-slot / stored norm)")
    val n = Stats.parquetRowCount(spark, s"$sf/embeddings.parquet")
    assert(post8.count() == n, "compressed postings must cover every vector")
    // same cells as the full-precision postings: quantization
    // compresses storage, it never re-routes
    val full = IO.readParquet(spark, Similarity.annIndexPostings(spark, sf))
      .select("vec_id", "cell")
    assert(post8.select("vec_id", "cell").exceptAll(full).isEmpty,
      "SQ8 postings must keep the full-precision cell assignment")
  }

  test("d56 PQ: valid 32-bit codes over the learned codebook, refinement beats seeds, distortion below signal energy") {
    import org.apache.spark.sql.functions.sum
    val q = Corpus.qvecs(spark, sf)
    val out = SparkEntry.queries("d56_pq_encode")(spark, sf).collect()
    assert(out.nonEmpty)
    // 8 nibbles in a 32-bit word, each naming a codeword that exists
    val cb = Similarity.pqCodebook(spark, q).collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSet
    out.foreach { r =>
      val code = r.getLong(1)
      assert(code >= 0 && code < (1L << 32), s"code out of 32-bit range: $code")
      (0 until 8).foreach { j =>
        val c = ((code >> (4 * j)) & 15).toInt
        assert(cb((j, c)), s"code nibble ($j, $c) names a missing codeword")
      }
    }
    // the codebook must have learned SOMETHING: total distortion below
    // the zero-codebook baseline (= total signal energy), and below
    // the unrefined seed assignment (k-means improvement; measured
    // 13.8× better at sf0.01)
    val refinedErr = out.map(_.getLong(2)).sum
    val energy = q.agg(sum("norm2")).head.getLong(0)
    assert(refinedErr < energy, s"distortion $refinedErr ≥ energy $energy")
    val seedErr = Similarity.pqAssign(Similarity.pqSubs(q), Similarity.pqSeeds(spark))
      .agg(sum("d")).head.getLong(0)
    assert(refinedErr < seedErr, s"refinement did not improve: $refinedErr vs $seedErr")
  }

  test("d80 IVFPQ artifact: 8 valid code digits, full coverage, d50 cells kept, exact recon norms") {
    val pq = IO.readParquet(spark, Similarity.annIndexPq(spark, sf))
    assert(pq.columns.toSeq == Seq("vec_id", "cell", "codes", "rn2", "re"),
      s"IVFPQ postings schema: ${pq.columns.mkString(",")}")
    val n = Stats.parquetRowCount(spark, s"$sf/embeddings.parquet")
    assert(pq.count() == n, "PQ postings must cover every vector")
    // every code digit names an existing codeword, and the stored
    // reconstruction norm is EXACTLY the sum of its codewords' norms
    // (what the ADC cosine divides by — a wrong norm silently skews
    // every score)
    val cbRows = IO.readParquet(spark, Similarity.annIndexPqCb(spark, sf)).collect()
    val cwNorm = cbRows.map(r => (r.getInt(0), r.getInt(1)) ->
      r.getSeq[Long](2).map(x => x * x).sum).toMap
    val cwVec = cbRows.map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Long](2)).toMap
    val rawQ = Corpus.qvecs(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    pq.collect().foreach { r =>
      val codes = r.getSeq[Int](2)
      assert(codes.length == 8, s"vec ${r.getLong(0)}: ${codes.length} digits")
      val rn2 = codes.zipWithIndex.map { case (c, j) => cwNorm((j, c)) }.sum
      assert(r.getLong(3) == rn2,
        s"rn2 mismatch at vec ${r.getLong(0)}: stored ${r.getLong(3)} vs $rn2")
      // stored distortion = Σ_j ‖sub_j − cw_j‖² recomputed from the RAW
      // vector — the single number d56's audit republishes, so a wrong
      // `re` here corrupts the encoding report downstream
      val q = rawQ(r.getLong(0))
      val re = codes.zipWithIndex.map { case (c, j) =>
        q.slice(j * 8, j * 8 + 8).zip(cwVec((j, c)))
          .map { case (a, b) => val d = a - b; d * d }.sum
      }.sum
      assert(r.getLong(4) == re,
        s"re mismatch at vec ${r.getLong(0)}: stored ${r.getLong(4)} vs $re")
    }
    // same cells as the full-precision postings: compression changes
    // storage, never routing (the d53 law at the deeper point)
    val full = IO.readParquet(spark, Similarity.annIndexPostings(spark, sf))
      .select("vec_id", "cell")
    assert(pq.select("vec_id", "cell").exceptAll(full).isEmpty,
      "PQ postings must keep the full-precision cell assignment")
  }

  test("d80 ADC scores are exact (LUT-sum ≡ reconstruction dot) and the agreement floor holds") {
    // Exactness first: the ADC lookup-table sum must equal
    // dot(query, reconstruction) — recompute a sample of scored pairs
    // from the raw artifacts in plain Scala and compare bit-for-bit
    // (the oracle proves the same cross-engine; this pins it in-tree).
    val out = SparkEntry.queries("d80_ivfpq_probe")(spark, sf).collect()
    assert(out.nonEmpty)
    val vecs = Corpus.qvecs(spark, sf).select("vec_id", "q", "norm2").collect()
      .map(r => r.getLong(0) -> (r.getSeq[Long](1).toArray, r.getLong(2))).toMap
    val cw = IO.readParquet(spark, Similarity.annIndexPqCb(spark, sf)).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Long](2).toArray).toMap
    val pqCodes = IO.readParquet(spark, Similarity.annIndexPq(spark, sf)).collect()
      .map(r => r.getLong(0) -> (r.getSeq[Int](2).toArray, r.getLong(3))).toMap
    out.take(200).foreach { r =>
      val (aId, bId, cosPq) = (r.getLong(0), r.getLong(2), r.getDouble(4))
      val qa = vecs(aId)._1
      val (codes, rn2) = pqCodes(bId)
      val recon = (0 until 8).flatMap(j => cw((j, codes(j)))).toArray
      val adc = qa.zip(recon).map { case (x, y) => x * y }.sum
      val expect = adc.toDouble /
        (math.sqrt(vecs(aId)._2.toDouble) * math.sqrt(math.max(rn2, 1L).toDouble))
      assert(cosPq == expect, s"ADC mismatch at ($aId,$bId): $cosPq vs $expect")
    }
    // Agreement floor — the measure-don't-guess number for serving
    // 128× compression. On THIS fixture the number IS the finding:
    // the synthetic vectors are near-random (the d74/d40 family), so
    // 4 bits/subspace collapses top-1 agreement to just above the
    // ~1/|candidates| chance line (measured 29/500 = 0.058 at
    // sf0.001, ~20-candidate pools; SQ8 holds 0.95+ on the same data
    // — the contrast that prices the 16× extra compression). The
    // pipeline is exact integer arithmetic end-to-end, so the number
    // is deterministic — pinned with slack as the regression floor.
    val top50 = SparkEntry.queries("d50_ann_index_probe")(spark, sf)
      .filter("rn = 1").selectExpr("a_id", "b_id AS b_full")
    val top80 = SparkEntry.queries("d80_ivfpq_probe")(spark, sf)
      .filter("rn = 1").selectExpr("a_id", "b_id AS b_pq")
    val j = top50.join(top80, Seq("a_id"), "full_outer")
    val total = j.count()
    val agree = j.filter("b_full = b_pq").count()
    assert(total > 0)
    info(s"d80 top-1 agreement vs full precision: $agree/$total")
    assert(agree.toDouble / total >= 0.04,
      s"IVFPQ top-1 agreement fell below the measured floor: $agree/$total")
  }

  test("d81 rerank: exact cosines on the shortlist, and agreement recovers past raw ADC") {
    // the refine step's laws: every reranked cosine is the TRUE cosine
    // (recomputed from raw vectors), ranks follow (cos desc, b_id asc)
    // within each query's shortlist, and prn records a genuine ADC
    // shortlist position (1..10)
    val out = SparkEntry.queries("d81_ivfpq_rerank")(spark, sf).collect()
    assert(out.nonEmpty)
    val vecs = Corpus.qvecs(spark, sf).select("vec_id", "q", "norm2").collect()
      .map(r => r.getLong(0) -> (r.getSeq[Long](1).toArray, r.getLong(2))).toMap
    out.foreach { r =>
      val (aId, bId, prn, cos) =
        (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(4))
      assert(prn >= 1 && prn <= 10, s"prn out of shortlist range: $prn")
      val (qa, na) = vecs(aId); val (qb, nb) = vecs(bId)
      val expect = qa.zip(qb).map { case (x, y) => x * y }.sum.toDouble /
        (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
      assert(cos == expect, s"rerank cosine not exact at ($aId,$bId)")
    }
    out.groupBy(_.getLong(0)).foreach { case (aId, g) =>
      val byRn = g.sortBy(_.getInt(3))
      assert(byRn.map(_.getInt(3)).toSeq == (1 to byRn.length), s"rank gap at $aId")
      byRn.sliding(2).foreach {
        case Array(x, y) =>
          assert(x.getDouble(4) > y.getDouble(4)
            || (x.getDouble(4) == y.getDouble(4) && x.getLong(1) < y.getLong(1)),
            s"rerank order violated at $aId")
        case _ =>
      }
    }
    // the agreement arc: reranking the 10-deep ADC shortlist with
    // exact math must recover top-1 agreement well past raw ADC's
    // near-chance 0.058 (deterministic pipeline — measured, then
    // pinned with slack)
    val top50 = SparkEntry.queries("d50_ann_index_probe")(spark, sf)
      .filter("rn = 1").selectExpr("a_id", "b_id AS b_full")
    val top81 = SparkEntry.queries("d81_ivfpq_rerank")(spark, sf)
      .filter("rn = 1").selectExpr("a_id", "b_id AS b_rer")
    val j = top50.join(top81, Seq("a_id"), "full_outer")
    val total = j.count()
    val agree = j.filter("b_full = b_rer").count()
    info(s"d81 reranked top-1 agreement vs full precision: $agree/$total")
    assert(total > 0 && agree.toDouble / total >= 0.20,
      s"rerank failed to recover precision: $agree/$total")
  }

  test("d53 ADC probe agrees with the full-precision probe on ≥95% of top-1 picks") {
    // the measure-don't-guess gate for serving the compressed index:
    // 8× storage is only a win if the quantized ranking still finds
    // the same neighbors (measured 0.996 at sf0.01, pinned with slack
    // for corpus growth)
    val top50 = SparkEntry.queries("d50_ann_index_probe")(spark, sf)
      .filter("rn = 1").selectExpr("a_id", "b_id AS b_full")
    val top53 = SparkEntry.queries("d53_sq8_probe")(spark, sf)
      .filter("rn = 1").selectExpr("a_id", "b_id AS b_sq8")
    val j = top50.join(top53, Seq("a_id"), "full_outer")
    val total = j.count()
    val agree = j.filter("b_full = b_sq8").count()
    assert(total > 0)
    assert(agree.toDouble / total >= 0.95,
      s"SQ8 top-1 agreement degraded: $agree/$total")
  }

  test("s34 gate decides for EVERY arrival: a stats-absent cell surfaces, never drops") {
    // force the production edge the sf fixture can't reach (stats and
    // arrivals derive from the same assignment there): withhold one
    // cell's stats row and assert its arrivals still get a verdict
    val cents = IO.readParquet(spark, Similarity.annIndexCents(spark, sf))
    val stats = IO.readParquet(spark, Similarity.annIndexCellStats(spark, sf))
    val vecs = Corpus.qvecs(spark, sf)
    val full = Similarity.outlierGate(cents, stats)(vecs)
    val holdCell = full.select("cell").orderBy("cell").first().getInt(0)
    val gated = Similarity.outlierGate(
      cents, stats.filter(s"cell <> $holdCell"))(vecs)
    assert(gated.count() == vecs.count(),
      "gate must emit exactly one verdict per arrival")
    val blind = gated.filter(s"cell = $holdCell")
    assert(blind.count() > 0, "fixture must route arrivals to the held cell")
    assert(blind.filter("known_cell OR is_outlier IS NOT NULL").count() == 0,
      "stats-absent arrivals must surface as known_cell=false / NULL verdict")
    // verdicts elsewhere are untouched by the withholding
    assert(rows(gated.filter(s"cell <> $holdCell").orderBy("vec_id"))
      == rows(full.filter(s"cell <> $holdCell").orderBy("vec_id")))
  }

  test("s35 gate decides for EVERY arrival: a rep-less cell's arrival elects itself") {
    val cents = IO.readParquet(spark, Similarity.annIndexCents(spark, sf))
    val reps = IO.readParquet(spark, Similarity.annIndexReps(spark, sf))
    val vecs = Corpus.qvecs(spark, sf)
    val full = Similarity.semdedupGate(cents, reps)(vecs)
    val holdCell = full.select("cell").orderBy("cell").first().getInt(0)
    val gated = Similarity.semdedupGate(
      cents, reps.filter(s"cell <> $holdCell"))(vecs)
    assert(gated.count() == vecs.count(),
      "gate must emit exactly one decision per arrival")
    val orphans = gated.filter(s"cell = $holdCell").collect()
    assert(orphans.nonEmpty, "fixture must route arrivals to the held cell")
    orphans.foreach { r =>
      assert(r.getLong(2) == r.getLong(0) && r.getDouble(3) == 1.0
        && r.getString(4) == "rep",
        s"rep-less arrival must self-elect, got $r")
    }
    assert(rows(gated.filter(s"cell <> $holdCell").orderBy("vec_id"))
      == rows(full.filter(s"cell <> $holdCell").orderBy("vec_id")))
  }

  test("s38 gate over an EMPTY medoid artifact emits zero rows (matches the oracle), not sentinels") {
    val meds = IO.readParquet(spark, Similarity.annIndexMedoids(spark, sf))
    val gated = Similarity.communityGate(meds.limit(0))(Corpus.qvecs(spark, sf))
    assert(gated.count() == 0,
      "no communities ⇒ no routes — sentinel cluster_id=-1 rows must not leak")
    // and with a NON-empty artifact the sentinel can never win the
    // fold, so the filter drops nothing: routing stays total
    assert(Similarity.communityGate(meds)(Corpus.qvecs(spark, sf)).count()
      == Corpus.qvecs(spark, sf).count())
  }
}
