package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{DotLong, PrefixDotsLong, SqDistLong}
import graft.model.Corpus
import graft.operators.QuerySpec.{by, persisted}

/** §2.C d06/d07/d12/d13/d15 — similarity search over embeddings.
  *
  * Exact-arithmetic design: vectors are quantized to an integer grid
  * ([[Corpus.qvecs]]) so dot products, norms and distances are exact
  * longs; cosine = dot / (√na·√nb) then divides identical integers in
  * both engines → bit-identical doubles, deterministic rankings.
  *
  * Scale:
  *   - d06 brute-force top-k is the correctness baseline: one
  *     broadcast of the smaller side, O(n²) pair stream through a
  *     codegen'd dot product, then a bounded per-vector window.
  *     Exists to validate d07/d15, never the scale path.
  *   - d07 is LSH: [[LshTables]] independent sign-random-projection
  *     tables of [[lshBits]](n) bits each. The bucket space scales
  *     with the data (bits ≈ log2 n − 4), so expected bucket occupancy
  *     stays ~2⁴ no matter how large n grows — intra-bucket work is
  *     LINEAR in n, and the bucket count (≫ cluster cores at scale)
  *     is what a 1000-executor cluster divides. Candidates from the L
  *     tables are unioned (distinct pairs) before scoring.
  *   - d15 is IVF: nlist = ⌈√n⌉ coarse cells (the classic heuristic —
  *     cell count and cell size both grow as √n), centroids trained by
  *     one deterministic k-means refinement over the assignment step
  *     (d13 is that step in isolation), then intra-cell top-k.
  *   - d12/d13 are per-row / ×k projections — no cross-vector shuffle.
  *
  * The n-driven parameters come from a planning-time row count (a
  * parquet metadata read, like the stats AQE plans from) — NOT a
  * per-row collect; the DuckDB oracles compute the identical
  * parameters from `count(1)` in SQL.
  */
object Similarity extends QueryModule {

  /** Independent LSH hash tables unioned for candidate recall. */
  val LshTables = 3

  private def bitLength(n: Long): Int =
    64 - java.lang.Long.numberOfLeadingZeros(math.max(n, 1L))

  /** Bits per LSH table: ~log2(n) − 4 keeps expected bucket occupancy
    * near 2⁴ at every scale. DuckDB twin:
    * greatest(4, length(to_base(n, 2)) - 4). */
  def lshBits(n: Long): Int = math.max(4, bitLength(n) - 4)

  /** IVF nlist ≈ √n. DuckDB twin: CAST(ceil(sqrt(n)) AS BIGINT). */
  def ivfCells(n: Long): Long =
    math.ceil(math.sqrt(math.max(n, 1L).toDouble)).toLong

  /** np SRP hyperplanes × 64 dims, components in [-1000, 1000],
    * md5-derived so both engines generate identical planes. Lambda
    * results coalesced → containsNull=false → branch-free kernels. */
  private def planes(s: SparkSession, np: Int): DataFrame =
    s.range(0, np).select(col("id").cast("int").as("j"))
      .withColumn("r", expr(
        """transform(sequence(0, 63), i ->
          |  coalesce(CAST(conv(substr(md5(concat('rp', CAST(j AS STRING), '_', CAST(i AS STRING))), 1, 8), 16, 10) AS LONG) % 2001 - 1000, CAST(0 AS LONG)))""".stripMargin))

  /** nc seed centroids × 64 dims, same deterministic family. */
  private[graft] def centroids(s: SparkSession, nc: Long): DataFrame =
    s.range(0, nc).select(col("id").cast("int").as("c"))
      .withColumn("cv", expr(
        """transform(sequence(0, 63), i ->
          |  coalesce(CAST(conv(substr(md5(concat('cent', CAST(c AS STRING), '_', CAST(i AS STRING))), 1, 8), 16, 10) AS LONG) % 2001 - 1000, CAST(0 AS LONG)))""".stripMargin))

  /** Two-nearest-centroid assignment, fully shuffle-free on the vector
    * stream: the centroid set is tiny (√n rows ≈ 16 MB of longs at
    * n=10⁹), so it is collapsed to ONE broadcast array row and each
    * vector FOLDS over it keeping the two best (dist2, cell)
    * accumulators — a per-row projection. The r3 formulation pushed the
    * full n×√n crossed stream through a row_number sort-window (one
    * exchange carrying ~3×10¹³ rows at n=10⁹); this computes the same
    * top-2 with zero exchanges between the embeddings scan and the cell
    * assignment (asserted in PlanSpec).
    *
    * Tie-break matches ORDER BY (dist2 ASC, cell ASC): the centroid
    * array is sorted by cell id and the fold uses strict `<`, so on
    * equal distance the earlier cell keeps its rank. Output: one row
    * per vector with `cell1` (nearest — the d13 argmin) and `cell2`
    * (second-nearest; -1 when fewer than two centroids exist). */
  private[graft] def assignTop2(q: DataFrame, cents: DataFrame): DataFrame = {
    val centsArr = cents
      .agg(expr("array_sort(collect_list(struct(c, cv)))").as("cents"))
    q.crossJoin(broadcast(centsArr))
      // one primitive codegen loop per row (ArgminTop2Long) — the
      // aggregate(transform(cents, …)) HOF it replaces was
      // CodegenFallback: per vector it allocated √n (d, c) structs and
      // folded them interpreted (the d80 ADC lesson). Same fold: same
      // ascending-c order, strict `<`, MaxValue/-1 init → identical
      // (cell1, cell2, dist1) bit-for-bit.
      .withColumn("top2",
        graft.functions.ArgminTop2Long(col("q"), col("cents")))
      .withColumn("cell1", expr("CAST(top2[1] AS INT)"))
      .withColumn("cell2", expr("CAST(top2[3] AS INT)"))
      .withColumn("dist1", col("top2").getItem(0))
      // passthrough: every input column survives (d75 rides `label`
      // through the assignment); (vec_id, q, norm2) callers see the
      // exact pre-refactor schema
      .drop("top2", "cents")
  }

  /** SemDeDup scored frame (vec_id, cell, rep_id, cos) — each member's
    * cosine to its IVF cell's elected representative (min vec_id),
    * shared by d35 (the production ε=0.25 decision) and d108 (the ε
    * sweep that SIZES that decision) so the two can never diverge.
    * The assignment frame is persisted because it feeds BOTH the
    * representative election aggregate and the probe side of the
    * broadcast rep join — the probe side has no exchange, so nothing
    * reuses and without this the corpus is scanned + folded TWICE
    * (the same reasoning as d15's cents1 persist). */
  private def semdedupScored(s: SparkSession, dir: String): DataFrame = {
    val n = graft.sources.Stats.parquetRowCount(s, s"$dir/embeddings.parquet")
    val ass = assignTop2(Corpus.qvecs(s, dir), centroids(s, ivfCells(n)))
      .select(col("vec_id"), col("cell1").as("cell"), col("q"), col("norm2"))
      .transform(persisted)
    // struct min: lexicographic on (vec_id, …) elects the min-id
    // member carrying its vector — one bounded-key aggregate, no
    // window, no join back to find the representative's payload
    val reps = ass
      .groupBy("cell")
      .agg(min(struct(col("vec_id"), col("q"), col("norm2"))).as("r"))
      .select(col("cell"), col("r.vec_id").as("rep_id"),
        col("r.q").as("qr"), col("r.norm2").as("nr"))
    ass.join(broadcast(reps), Seq("cell"))
      .withColumn("cos",
        DotLong(col("q"), col("qr")).cast("double")
          / (sqrt(col("norm2").cast("double")) * sqrt(col("nr").cast("double"))))
      .select(col("vec_id"), col("cell"), col("rep_id"), col("cos"))
  }

  /** One deterministic k-means refinement of the ⌈√n⌉ seed centroids:
    * per-dim floor(mean) over each cell's assigned members — exact
    * integer math in both engines (the d15 refinement, extracted so the
    * persisted-index build shares it verbatim). Output: (c, cv). */
  private[graft] def refinedCents(s: SparkSession, q: DataFrame, n: Long): DataFrame =
    assignTop2(q, centroids(s, ivfCells(n)))
      .select(col("vec_id"), col("cell1").as("cell"), col("q"))
      .select(col("cell"), posexplode(col("q")).as(Seq("pos", "comp")))
      .groupBy("cell", "pos")
      .agg(floor(sum(col("comp")).cast("double") / count(lit(1))).cast("long").as("cmp"))
      .groupBy("cell")
      .agg(expr("transform(array_sort(collect_list(struct(pos, cmp))), x -> coalesce(x.cmp, CAST(0 AS LONG)))").as("cv"))
      .select(col("cell").as("c"), col("cv"))

  /** IVF search core, shared by d15 (in-memory index), d50 (persisted
    * index) and d78 (filtered search): `probe` rows (vec_id, q, norm2,
    * cell1, cell2) explode into their nprobe=2 cells and equi-join
    * `data` rows (vec_id, cell, q, norm2) per cell; intra-cell top-3
    * runs on TopKPerGroup (x04) so the partial prunes the pair stream
    * to ≤3 rows per query per partition BEFORE the rank exchange. A
    * pair can meet in at most one cell (data lives in exactly one), so
    * no dedup is needed.
    *
    * `carry` names extra columns to ride each side (suffixed _a/_b —
    * d78 carries `label`); `pairFilter` is applied to the joined pair
    * stream BEFORE scoring (predicate pushdown into the probe: never
    * "search then filter"). Defaults preserve the d15/d50 shape
    * exactly. */
  private[graft] def ivfTopK(probe: DataFrame, data: DataFrame,
      carry: Seq[String] = Nil,
      pairFilter: DataFrame => DataFrame = identity): DataFrame = {
    val a = probe
      .select((Seq(col("vec_id").as("a_id"), col("q").as("qa"),
        col("norm2").as("na"),
        explode(array(col("cell1"), col("cell2"))).as("cell"))
        ++ carry.map(c => col(c).as(s"${c}_a"))): _*)
      .filter(col("cell") >= 0)
    val b = data.select((Seq(col("vec_id").as("b_id"), col("cell"),
      col("q").as("qb"), col("norm2").as("nb"))
      ++ carry.map(c => col(c).as(s"${c}_b"))): _*)
    val scored = pairFilter(
      a.join(b, Seq("cell")).filter(col("a_id") =!= col("b_id")))
      .withColumn("dot", DotLong(col("qa"), col("qb")))
      .withColumn("cos",
        col("dot").cast("double") / (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
    graft.plans.TopK.perGroup(scored,
        Seq("a_id"), Seq(("cos", true), ("b_id", false)), k = 3, rankName = "rn")
      .select((Seq("a_id", "cell", "b_id", "rn", "cos")
        ++ carry.flatMap(c => Seq(s"${c}_a", s"${c}_b"))).map(col): _*)
  }

  /** Persisted ANN index, part 1: the refined centroid table (c, cv),
    * built ONCE per (JVM, sf) through Scratch/IO — at 100 TB the index
    * build is the nightly clustering job and every probe after it reads
    * the artifact, never re-clusters. √n rows — trivially storable. */
  private[graft] def annIndexCents(s: SparkSession, dir: String): String =
    graft.sources.Scratch.materialize(s, "ann_index_cents", dir) {
      val n = graft.sources.Stats.parquetRowCount(s, s"$dir/embeddings.parquet")
      refinedCents(s, Corpus.qvecs(s, dir), n)
    }

  /** Persisted ANN index, part 2: the inverted lists — one row per
    * vector (vec_id, cell, q, norm2), vectors stored INLINE in their
    * cell's posting list exactly as FAISS IVF keeps codes in the list
    * (the probe never has to join back to vector storage). At 100 TB
    * this table is what you'd range-partition by `cell` on disk so a
    * low-nprobe probe prunes to its cells' files; written unpartitioned
    * here because √n directories of KB-files is the local-mode
    * small-file anti-pattern. */
  private[graft] def annIndexPostings(s: SparkSession, dir: String): String =
    graft.sources.Scratch.materialize(s, "ann_index_postings", dir) {
      val cents = graft.sources.IO.readParquet(s, annIndexCents(s, dir))
      assignTop2(Corpus.qvecs(s, dir), cents)
        .select(col("vec_id"), col("cell1").as("cell"), col("q"), col("norm2"))
    }

  /** The exact outlier z-test over (d2, n_cell, s1, s2) columns —
    * "d² above its cell's mean + 2σ" cross-multiplied so no
    * mean/stddev division ever happens: (n·d² − S) > 0 AND
    * (n·d² − S)² > 4(n·SS − S²), sums carried as DECIMAL(38,0)
    * ((d²)² alone overflows a long at this grid). ONE definition
    * shared by the d87 batch audit and the s34 ingest gate, so audit
    * and serving can never drift. */
  private[graft] def outlierFlag: org.apache.spark.sql.Column = {
    val excess = col("n_cell").cast("decimal(19,0)") * col("d2").cast("decimal(19,0)") - col("s1")
    excess > lit(0) &&
      excess * excess > lit(4) * (col("n_cell").cast("decimal(19,0)") * col("s2") - col("s1") * col("s1"))
  }

  /** Persisted per-cell distance statistics (cell, n_cell, s1 = Σd²,
    * s2 = Σ(d²)² as DECIMAL(38,0)) — the third index artifact: what a
    * serving fleet loads next to the centroids to flag anomalous
    * arrivals without touching the corpus. Derived from the postings
    * (the indexed population), distances against the same refined
    * centroids the postings were assigned to. */
  private[graft] def annIndexCellStats(s: SparkSession, dir: String): String =
    graft.sources.Scratch.materialize(s, "ann_index_cell_stats", dir) {
      val cents = denull(
        graft.sources.IO.readParquet(s, annIndexCents(s, dir)), "cv")
      denull(graft.sources.IO.readParquet(s, annIndexPostings(s, dir)), "q")
        .join(broadcast(cents.select(col("c").as("cell"), col("cv"))), Seq("cell"))
        .withColumn("d2", SqDistLong(col("q"), col("cv")))
        .groupBy("cell")
        .agg(count(lit(1)).as("n_cell"),
          sum(col("d2").cast("decimal(38,0)")).as("s1"),
          sum(col("d2").cast("decimal(19,0)") * col("d2").cast("decimal(19,0)")).as("s2"))
    }

  /** s34 — the streaming OUTLIER gate: each arriving vector is
    * assigned to its nearest index centroid (the s17 broadcast fold)
    * and its center distance tested against the cell's persisted
    * stats — d87's audit question asked at INGESTION, before a
    * corrupt vector ever enters the index. Stateless per-row, no
    * state store; the stats side is √n rows, broadcast.
    *
    * LEFT join on the stats artifact: a cell CAN lack a stats row
    * (refined centroids may own zero postings, and a genuinely novel
    * arrival routes to whatever centroid is nearest), and an ingest
    * gate must emit a verdict for EVERY arrival — an inner join would
    * silently eat the vector. Stats-absent arrivals surface with
    * known_cell=false and a NULL is_outlier (the z-test has no
    * population to test against; the caller decides the policy,
    * typically quarantine-and-index). */
  private[graft] def outlierGate(cents: DataFrame, stats: DataFrame)(
      vecs: DataFrame): DataFrame =
    assignTop2(vecs, denull(cents, "cv"))
      .select(col("vec_id"), col("cell1").as("cell"), col("dist1").as("d2"))
      .join(broadcast(stats), Seq("cell"), "left")
      .select(col("vec_id"), col("cell"), col("d2"),
        col("n_cell").isNotNull.as("known_cell"),
        when(col("n_cell").isNull, lit(null).cast("boolean"))
          .otherwise(outlierFlag).as("is_outlier"))

  /** Persisted per-cell REPRESENTATIVES (cell, rep_id, qr, nr) — the
    * fourth index artifact: the min-id member of each cell with its
    * inline vector, d35's representative election run over the
    * postings and stored next to the centroids. √n rows, broadcast by
    * every consumer; at 100 TB this is what a semantic-dedup serving
    * fleet loads instead of re-electing reps per batch. */
  private[graft] def annIndexReps(s: SparkSession, dir: String): String =
    graft.sources.Scratch.materialize(s, "ann_index_reps", dir) {
      denull(graft.sources.IO.readParquet(s, annIndexPostings(s, dir)), "q")
        .groupBy("cell")
        .agg(min(struct(col("vec_id"), col("q"), col("norm2"))).as("r"))
        .select(col("cell"), col("r.vec_id").as("rep_id"),
          col("r.q").as("qr"), col("r.norm2").as("nr"))
    }

  /** Per-dimension MOMENTS (pos, n_vals, sum_x, sum_x2) — the bounded
    * 64-row sketch d89's spectrum derives from, and the state s36
    * maintains live: count/sum/sum-of-squares are associative, so
    * micro-batches merge exactly and stream ≡ batch is EXACT (the
    * s26/s29 sketch-as-state argument in the vector domain). Long
    * sums hold to ~3·10¹¹ vectors per dimension at this grid; d89
    * widens to DECIMAL only for the n·Σx² product. */
  private[graft] def dimMoments(vecs: DataFrame): DataFrame =
    vecs.select(posexplode(col("q")).as(Seq("pos", "x")))
      .groupBy("pos")
      .agg(count(lit(1)).as("n_vals"),
        sum(col("x")).as("sum_x"),
        sum(col("x") * col("x")).as("sum_x2"))

  /** s35 — the streaming SEMANTIC-DEDUP gate: each arriving vector is
    * routed to its nearest index centroid (s17's broadcast fold) and
    * scored against that cell's persisted representative — d35's
    * cluster-dedup decision asked at INGESTION, one broadcast cosine
    * per arrival instead of a nightly sweep. Same action law as d35
    * (rep / drop at cos ≥ 0.25 / keep); stateless per-row, no state
    * store, no shuffle — centroids and reps are both √n-row artifact
    * read-backs.
    *
    * LEFT join on the reps artifact: a cell CAN lack a representative
    * (refined centroids may own zero postings), and an ingest gate
    * must decide for EVERY arrival — an inner join would silently
    * drop a genuinely novel vector. A rep-less arrival ELECTS ITSELF:
    * action='rep', rep_id = its own vec_id, cos = 1.0 (a vector's
    * cosine with itself, stated as a literal so batch, stream and
    * oracle agree bit-for-bit) — exactly what d35's min-id election
    * would do once the cell has one member. */
  private[graft] def semdedupGate(cents: DataFrame, reps: DataFrame)(
      vecs: DataFrame): DataFrame =
    assignTop2(vecs, denull(cents, "cv"))
      .select(col("vec_id"), col("cell1").as("cell"), col("q"), col("norm2"))
      .join(broadcast(denull(reps, "qr")), Seq("cell"), "left")
      .withColumn("rep_id", coalesce(col("rep_id"), col("vec_id")))
      .withColumn("cos",
        when(col("qr").isNull, lit(1.0)).otherwise(
          DotLong(col("q"), col("qr")).cast("double")
            / (sqrt(col("norm2").cast("double")) * sqrt(col("nr").cast("double")))))
      .select(col("vec_id"), col("cell"), col("rep_id"), col("cos"),
        when(col("vec_id") === col("rep_id"), lit("rep"))
          .when(col("cos") >= 0.25, lit("drop"))
          .otherwise(lit("keep")).as("action"))

  /** Persisted directed 3-NN GRAPH (a_id, b_id) — the fifth index
    * artifact: d50's probe run over the POSTINGS themselves (the
    * indexed population — the corpus is never touched at build time)
    * and stored next to the index. The ≤3n-row edge stream every
    * graph-analytics consumer (d96 modularity, the community and
    * medoid artifacts) reads instead of re-probing; at 100 TB the
    * nightly index job materializes this once and a week of audits
    * reads it. d95 stays the LIVE build (the d15 ↔ d50 split: the
    * definition computes, the artifact serves). */
  private[graft] def annKnnEdges(s: SparkSession, dir: String): String =
    graft.sources.Scratch.materialize(s, "ann_knn_edges", dir) {
      val post = denull(
        graft.sources.IO.readParquet(s, annIndexPostings(s, dir)), "q")
      val cents = denull(
        graft.sources.IO.readParquet(s, annIndexCents(s, dir)), "cv")
      // the postings ARE the vector set: assignTop2 only needs
      // vec_id/q/norm2
      ivfTopK(assignTop2(post.select("vec_id", "q", "norm2"), cents), post)
        .select(col("a_id"), col("b_id"))
    }

  /** Persisted mutual-kNN community LABELS (vec_id, cluster_id) — the
    * sixth index artifact: d95's star-contraction clustering run once
    * over the edges artifact and stored as index state. Nodes outside
    * any mutual edge are absent (consumers coalesce to singleton
    * labels where they need totality). */
  private[graft] def annIndexCommunities(s: SparkSession, dir: String): String =
    graft.sources.Scratch.materialize(s, "ann_index_communities", dir) {
      mutualLabels(graft.sources.IO.readParquet(s, annKnnEdges(s, dir)))
        .toDF("vec_id", "cluster_id")
    }

  /** Persisted community MEDOIDS (cluster_id, medoid_id, qm, nm) — the
    * seventh index artifact: d97's medoid election run over the
    * postings + communities artifacts (the corpus is never touched at
    * build time) and stored next to the centroids. This is what a
    * community-aware serving fleet loads to answer "which semantic
    * group does this arrival join" without re-clustering. Broadcast by
    * consumers: the medoid count is the community count (≪ n; a
    * 100 TB deployment with millions of communities would shard
    * medoids by their index cell and route arrivals through the d50
    * scatter first — same artifact, routed rather than broadcast). */
  private[graft] def annIndexMedoids(s: SparkSession, dir: String): String =
    graft.sources.Scratch.materialize(s, "ann_index_medoids", dir) {
      val post = denull(
        graft.sources.IO.readParquet(s, annIndexPostings(s, dir)), "q")
      val labels = graft.sources.IO.readParquet(s, annIndexCommunities(s, dir))
      val mem = post
        .join(labels, Seq("vec_id"))
        .transform(persisted)
      val longf = mem.select(col("cluster_id"), col("vec_id"), col("norm2"),
        posexplode(col("q")).as(Seq("pos", "v")))
      val csum = longf.groupBy("cluster_id", "pos").agg(sum(col("v")).as("sv"))
      val dots = longf.join(csum, Seq("cluster_id", "pos"))
        .groupBy("cluster_id", "vec_id")
        .agg(sum(col("v") * col("sv")).as("dot_s"))
      val stats = mem.groupBy("cluster_id")
        .agg(count(lit(1)).as("n_nodes"), sum(col("norm2")).as("n2_sum"))
      mem.select(col("cluster_id"), col("vec_id"), col("q"), col("norm2"))
        .join(dots, Seq("cluster_id", "vec_id"))
        .join(stats, Seq("cluster_id"))
        .withColumn("ssd",
          col("n_nodes") * col("norm2") + col("n2_sum") - lit(2L) * col("dot_s"))
        .groupBy("cluster_id")
        .agg(min(struct(col("ssd"), col("vec_id"), col("q"), col("norm2"))).as("w"))
        .select(col("cluster_id"), col("w.vec_id").as("medoid_id"),
          col("w.q").as("qm"), col("w.norm2").as("nm"))
    }

  /** s38 — the streaming COMMUNITY-ROUTING gate: each arriving vector
    * folds over the broadcast persisted medoids to its nearest
    * semantic community (exact integer ‖x − m‖², ties to the smaller
    * cluster_id then medoid_id) — "which group does this arrival
    * join", the per-arrival form of the d95/d97 nightly clustering.
    * Stateless per-row, append mode, no state store, no shuffle of
    * the feed. */
  private[graft] def communityGate(medoids: DataFrame)(
      vecs: DataFrame): DataFrame = {
    // the medoid table collapses to ONE broadcast row so the argmin is
    // a per-row fold (assignTop2's shape) — no aggregation, so the
    // gate streams in append mode with no state store
    val medArr = denull(medoids, "qm")
      .agg(expr("array_sort(collect_list(struct(cluster_id, medoid_id, qm)))")
        .as("meds"))
    vecs.crossJoin(broadcast(medArr))
      .withColumn("w", expr(
        s"""aggregate(
           |  transform(meds, m -> named_struct(
           |    'd2', graft_sqdist_long(q, m.qm),
           |    'cid', m.cluster_id, 'mid', m.medoid_id)),
           |  named_struct('d2', CAST(${Long.MaxValue} AS LONG),
           |               'cid', CAST(-1 AS LONG), 'mid', CAST(-1 AS LONG)),
           |  (acc, e) -> CASE WHEN e.d2 < acc.d2 THEN e ELSE acc END)""".stripMargin))
      // the fold's seed (cid = -1) survives ONLY when the medoid
      // artifact is empty (no mutual-kNN communities exist yet) — a
      // route to "no community" is not a route, so drop it: the gate
      // then emits zero rows, exactly the batch/oracle semantics of
      // routing against an empty medoid set (AnnIndexSpec pins this)
      .filter(col("w.cid") =!= lit(-1L))
      .select(col("vec_id"), col("w.cid").as("cluster_id"),
        col("w.mid").as("medoid_id"), col("w.d2").as("d2"))
  }

  /** s41 — the SHARDED form of the s38 community gate, the written
    * 100 TB path made code: [[communityGate]]'s single-row medoid fold
    * grows with the community count (millions of communities would not
    * broadcast), so this variant shards the SAME medoid artifact by
    * each medoid's index cell (the cell the postings already assigned
    * it — one row per medoid-bearing cell) and routes arrivals through
    * the scatter: each arrival fans out to every medoid shard, the
    * per-(arrival, shard) fold scores only that shard's residents, and
    * a keyed gather reduces the partial argmins to the global one.
    * EXACT by construction — every medoid lives in exactly one shard
    * and every arrival visits every shard, so the gather's min over
    * partials is the broadcast fold's argmin (same (d2, cid, mid)
    * tie-break; AnnIndexSpec pins row-for-row equality and the shared
    * oracle hash-gates it) — which is what lets it stand BEHIND THE
    * SAME ORACLE as s38 (the d15 ↔ d50 precedent: a scale variant must
    * recompute the same answer, not an approximation of it). What
    * changes is the memory shape, not the math: per-executor state is
    * ONE shard's medoids (bounded by the densest cell, not the
    * community count — PlanSpec pins that no empty-grouping fold sits
    * over the medoids artifact), the fan-out is the bounded
    * medoid-bearing-cell list (≤ ⌈√n⌉ cells — the same single-row
    * centroid-scale broadcast every d50-family probe already rides),
    * and total comparisons stay exactly |arrivals| × |medoids|. */
  private[graft] def communityGateRouted(s: SparkSession, dir: String)(
      vecs: DataFrame): DataFrame = {
    val meds = denull(
      graft.sources.IO.readParquet(s, annIndexMedoids(s, dir)), "qm")
    val post = graft.sources.IO.readParquet(s, annIndexPostings(s, dir))
      .select(col("vec_id").as("medoid_id"), col("cell"))
    // medoids sharded by their index cell: one row per medoid-bearing
    // cell, each holding only its RESIDENT medoids (no broadcast hint —
    // the medoid⨝posting equi-join is stats-driven; the artifact build
    // already paid the postings scan)
    val shards = meds.join(post, Seq("medoid_id"))
      .groupBy("cell")
      .agg(expr("array_sort(collect_list(struct(cluster_id, medoid_id, qm)))")
        .as("meds"))
    // the scatter: every arrival visits every medoid-bearing cell (the
    // shard LIST is the only single-row fold — cell-count-sized, the
    // d50 centroid-scatter shape — the medoid PAYLOAD stays sharded)
    val cellList = shards.select("cell")
      .agg(expr("array_sort(collect_list(cell))").as("cells"))
    val fan = vecs.crossJoin(broadcast(cellList))
      .select(col("vec_id"), col("q"), explode(col("cells")).as("cell"))
    // per-(arrival, shard) partial argmin over the shard's residents —
    // the equi-join on cell co-partitions arrivals with their shards
    val partial = fan.join(shards, Seq("cell"))
      .withColumn("w", expr(
        s"""aggregate(
           |  transform(meds, m -> named_struct(
           |    'd2', graft_sqdist_long(q, m.qm),
           |    'cid', m.cluster_id, 'mid', m.medoid_id)),
           |  named_struct('d2', CAST(${Long.MaxValue} AS LONG),
           |               'cid', CAST(-1 AS LONG), 'mid', CAST(-1 AS LONG)),
           |  (acc, e) -> CASE WHEN e.d2 < acc.d2 THEN e ELSE acc END)""".stripMargin))
    // the gather: reduce partials to the global argmin — min over
    // (d2, cid, mid) structs is exactly the broadcast fold's tie-break
    // (strictly-smaller d2 wins; ties keep the smallest (cid, mid))
    partial.groupBy("vec_id")
      .agg(min(col("w")).as("w"))
      .filter(col("w.cid") =!= lit(-1L))
      .select(col("vec_id"), col("w.cid").as("cluster_id"),
        col("w.mid").as("medoid_id"), col("w.d2").as("d2"))
  }

  /** s39 — live COMMUNITY LOAD: per-community arrival count and total
    * routed distance over the s38 gate's output. count/Σd2 are
    * associative, so micro-batches merge exactly in complete mode and
    * the state never exceeds the community count (s26/s29/s36's
    * bounded-sketch argument at the community level) — the serving
    * dashboard that spots a community absorbing disproportionate or
    * far-off arrivals without any nightly recompute. */
  private[graft] def communityLoad(meds: DataFrame)(vecs: DataFrame): DataFrame =
    communityGate(meds)(vecs)
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_arrivals"), sum(col("d2")).as("sum_d2"))

  /** Persisted SQ8-COMPRESSED inverted lists (d53) — d32's max-abs
    * int8 quantization applied to the INDEX artifact, the FAISS
    * IVF-SQ8 layout: each posting stores 1-byte codes (`array<tinyint>`
    * in parquet — the real 8× cut vs the long grid, the difference
    * between a 100 TB and a 12 TB index) plus its code norm `n8` and
    * the per-vector `scale`. Cosine search never needs the scale —
    * it cancels out of dot/(‖a‖·‖b̂‖) because b̂ = q8·scale/127 — so
    * the probe touches only codes + norms; scale is kept for the
    * reconstruction path a re-ranker would use. Derived ONCE from the
    * full-precision postings (same cells: quantization compresses
    * storage, never re-routes). */
  private[graft] def annIndexSq8(s: SparkSession, dir: String): String =
    graft.sources.Scratch.materialize(s, "ann_index_sq8", dir) {
      denull(graft.sources.IO.readParquet(s, annIndexPostings(s, dir)), "q")
        .withColumn("scale", greatest(
          expr("aggregate(q, CAST(0 AS LONG), (acc, x) -> greatest(acc, abs(x)))"),
          lit(1L)))
        .withColumn("q8", expr(
          "transform(q, x -> CAST(round(CAST(127 * x AS DOUBLE) / scale) AS TINYINT))"))
        .withColumn("n8", expr(
          "aggregate(q8, CAST(0 AS LONG), (acc, x) -> acc + CAST(x AS LONG) * CAST(x AS LONG))"))
        .select("vec_id", "cell", "q8", "n8", "scale")
    }

  /** Persisted PQ codebook for the IVFPQ index (d80): the d56 trainer
    * (one deterministic k-means refinement per subspace) run over the
    * index postings' inline vectors — 8×16 = 128 tiny rows (j, c, cv),
    * broadcastable at ANY corpus size. Built once per (JVM, sf); at
    * 100 TB this is part of the nightly index job. */
  private[graft] def annIndexPqCb(s: SparkSession, dir: String): String =
    graft.sources.Scratch.materialize(s, "ann_index_pqcb", dir) {
      pqCodebook(s,
        denull(graft.sources.IO.readParquet(s, annIndexPostings(s, dir)), "q")
          .select("vec_id", "q"))
    }

  /** Persisted IVFPQ inverted lists (d80) — d56's PQ codes as the
    * PAYLOAD of d50's postings, the production FAISS IVFPQ serving
    * layout: per posting its cell (IDENTICAL routing to d50/d53 —
    * compression changes storage, never routing), the 8 codeword ids
    * and the reconstruction norm ADC divides by. 8×4 bits of code +
    * one norm long per vector — the 128× cut beyond SQ8's 8×; only
    * this table scales with n, the codebook stays 128 rows forever.
    * Also carries `re` = Σ‖sub − cw‖² (the vector's total distortion):
    * one long that makes the artifact the SINGLE source of codes for
    * both the serving probes (d80/d81) and the encoding audit (d56) —
    * build once, consume everywhere.
    * Derived ONCE from the full-precision postings artifact (build →
    * compress → serve, the d53 lineage at the deeper compression
    * point). */
  private[graft] def annIndexPq(s: SparkSession, dir: String): String =
    graft.sources.Scratch.materialize(s, "ann_index_pq", dir) {
      val post = denull(
        graft.sources.IO.readParquet(s, annIndexPostings(s, dir)), "q")
      val cb = denull(
        graft.sources.IO.readParquet(s, annIndexPqCb(s, dir)), "cv")
      val codes = pqAssign(pqSubs(post.select("vec_id", "q")), cb)
        .groupBy("vec_id")
        .agg(expr("transform(array_sort(collect_list(struct(j, c))), x -> x.c)")
          .as("codes"),
          sum(col("cwn")).as("rn2"),
          sum(col("d")).as("re"))
      post.select("vec_id", "cell").join(codes, Seq("vec_id"))
    }

  /** The ADC-scored IVFPQ candidate stream shared by d80 (top-3 probe)
    * and d81 (top-10 shortlist + exact rerank): queries route through
    * the persisted refined centroids, build a per-query 128-entry
    * integer LOOKUP TABLE against the broadcast codebook (a per-row
    * projection — the ADC trick), and every cell-mate posting scores
    * as 8 table lookups summed over its code digits, never a 64-dim
    * dot. Emits (a_id, qa, na, lut, cell, b_id, cos_pq) — qa rides
    * along so the rerank stage needs no query-side join-back. */
  private def ivfpqScored(s: SparkSession, dir: String): DataFrame = {
    val cents = denull(
      graft.sources.IO.readParquet(s, annIndexCents(s, dir)), "cv")
    val cb = denull(
      graft.sources.IO.readParquet(s, annIndexPqCb(s, dir)), "cv")
    val pq = graft.sources.IO.readParquet(s, annIndexPq(s, dir))
      .select(col("vec_id").as("b_id"), col("cell"),
        expr("transform(codes, x -> coalesce(x, CAST(0 AS INT)))").as("codes"),
        greatest(col("rn2"), lit(1L)).as("rnb"))
    // densify the trained codebook onto the full (j, c) grid so the
    // LUT is positionally indexable (j·16 + c): codewords that never
    // won an assignment are absent from the artifact and can never
    // be referenced by a code — their grid slots carry zero vectors
    val grid = s.range(0, (PqSub * PqC).toLong)
      .select((col("id") / PqC).cast("int").as("j"),
        (col("id") % PqC).cast("int").as("c"))
    val cbDense = grid.join(cb, Seq("j", "c"), "left")
      .withColumn("cv",
        expr(s"coalesce(cv, array_repeat(CAST(0 AS LONG), $PqDim))"))
    val cbArr = cbDense
      .agg(expr("array_sort(collect_list(struct(j, c, cv)))").as("cb"))
    val a = assignTop2(Corpus.qvecs(s, dir), cents)
      .crossJoin(broadcast(cbArr))
      .withColumn("lut", expr(
        s"transform(cb, e -> graft_dot_long(slice(q, e.j * $PqDim + 1, $PqDim), e.cv))"))
      .select(col("vec_id").as("a_id"), col("q").as("qa"),
        col("norm2").as("na"), col("lut"),
        explode(array(col("cell1"), col("cell2"))).as("cell"))
      .filter(col("cell") >= 0)
    a.join(pq, Seq("cell"))
      .filter(col("a_id") =!= col("b_id"))
      // one primitive codegen loop per candidate (LutSumLong) — the
      // aggregate(sequence(…)) HOF it replaces is CodegenFallback and
      // paid an interpreted 8-step fold per (query, cell-mate) row;
      // identical sum: Σ_j lut[j·PqC + codes[j]] in the same j order
      .withColumn("adc",
        graft.functions.LutSumLong(col("lut"), col("codes"), PqC))
      .withColumn("cos_pq", col("adc").cast("double")
        / (sqrt(col("na").cast("double")) * sqrt(col("rnb").cast("double"))))
  }

  // ---- Product quantization (d56) ----------------------------------

  /** PQ geometry: 64 dims → [[PqSub]] subspaces of [[PqDim]] dims,
    * [[PqC]] codewords per subspace → an 8×4-bit = 32-bit code per
    * vector (128× smaller than the long grid, 16× smaller than SQ8).
    * The codebook is 128 tiny centroids — trivially broadcastable at
    * ANY corpus size (PQ's core trade: the codebook is fixed-size,
    * only the 4-byte codes scale with n). */
  private val PqSub = 8
  private val PqDim = 8
  private val PqC = 16

  /** 8×16 deterministic seed codebook — the md5 family [[centroids]]
    * uses, keyed by (subspace j, codeword c). */
  private[graft] def pqSeeds(s: SparkSession): DataFrame =
    s.range(0, PqSub.toLong * PqC)
      .select((col("id") / PqC).cast("int").as("j"),
        (col("id") % PqC).cast("int").as("c"))
      .withColumn("cv", expr(
        s"""transform(sequence(0, ${PqDim - 1}), i ->
           |  coalesce(CAST(conv(substr(md5(concat('pq', CAST(j AS STRING), '_', CAST(c AS STRING), '_', CAST(i AS STRING))), 1, 8), 16, 10) AS LONG) % 2001 - 1000, CAST(0 AS LONG)))""".stripMargin))

  /** Subvector explode: one row per (vector, subspace) with the 8-dim
    * slice — the unit PQ trains and encodes on. */
  private[graft] def pqSubs(q: DataFrame): DataFrame =
    q.select(col("vec_id"), posexplode(expr(
      s"transform(sequence(0, ${PqSub - 1}), j -> slice(q, j * $PqDim + 1, $PqDim))"))
      .as(Seq("j", "sub")))

  /** Nearest-codeword assignment per (vector, subspace) — the same
    * shuffle-free broadcast-fold shape as [[assignTop2]]: the whole
    * codebook collapses to ONE sorted array row, each subvector folds
    * over its subspace's 16 codewords keeping the argmin (strict `<`
    * ⇒ ties resolve to the lower codeword, mirroring ORDER BY d, c).
    * Emits the codeword id, the residual ‖sub − cw‖² (the distortion
    * this subspace contributes) and the codeword's ‖cw‖² (what the
    * reconstruction's norm is made of). */
  private[graft] def pqAssign(subs: DataFrame, cb: DataFrame): DataFrame = {
    val cbArr = cb.agg(expr("array_sort(collect_list(struct(j, c, cv)))").as("cb"))
    subs.crossJoin(broadcast(cbArr))
      .withColumn("best", expr(
        s"""aggregate(
           |  transform(filter(cb, e -> e.j = j), e -> named_struct(
           |    'd', graft_sqdist_long(sub, e.cv), 'c', e.c,
           |    'n', aggregate(e.cv, CAST(0 AS LONG), (acc, x) -> acc + x * x))),
           |  named_struct('d', CAST(${Long.MaxValue} AS LONG), 'c', CAST(-1 AS INT), 'n', CAST(0 AS LONG)),
           |  (acc, e) -> IF(e.d < acc.d, e, acc))""".stripMargin))
      .select(col("vec_id"), col("j"), col("sub"),
        col("best.c").as("c"), col("best.d").as("d"), col("best.n").as("cwn"))
  }

  /** One deterministic k-means refinement per subspace (the d15
    * refinement law applied independently in each of the 8 subspaces):
    * per-dim floor(mean) over each codeword's assigned subvectors.
    * The aggregate is bounded — 8×16×8 = 1024 cells — regardless of
    * corpus size. */
  private[graft] def pqCodebook(s: SparkSession, q: DataFrame): DataFrame =
    pqAssign(pqSubs(q), pqSeeds(s))
      .select(col("j"), col("c"), posexplode(col("sub")).as(Seq("pos", "comp")))
      .groupBy("j", "c", "pos")
      .agg(floor(sum(col("comp")).cast("double") / count(lit(1))).cast("long").as("cmp"))
      .groupBy("j", "c")
      .agg(expr("transform(array_sort(collect_list(struct(pos, cmp))), x -> coalesce(x.cmp, CAST(0 AS LONG)))").as("cv"))

  /** Re-establish the branch-free element contract after a parquet
    * round-trip: array elements come back nominally nullable, which
    * would make every vector kernel downstream re-emit its per-element
    * null branch (same reasoning as [[Corpus.qvecs]]). */
  private def denull(df: DataFrame, c: String): DataFrame =
    df.withColumn(c, expr(s"transform($c, x -> coalesce(x, CAST(0 AS LONG)))"))

  /** Fixture split for the INCREMENTAL index update (d52): the
    * persisted snapshot index covers vec_id % 10 ≠ 3 (the corpus as of
    * the last build); the arriving feed is vec_id % 4 = 1, which
    * OVERLAPS the snapshot — 4 of every 5 arriving vectors are already
    * indexed and must be skipped by the anti-join, exactly d49's
    * already-present ratio in the vector domain. */
  private[graft] val snapCond = "vec_id % 10 <> 3"
  private[graft] val arrivingCond = "vec_id % 4 = 1"

  /** Snapshot-index centroids: [[refinedCents]] over the snapshot
    * subset only (its own ⌈√n_snap⌉ cell count — the law tracks the
    * INDEXED population, not the feed). */
  private[graft] def annSnapCents(s: SparkSession, dir: String): String =
    graft.sources.Scratch.materialize(s, "ann_snap_cents", dir) {
      val snap = Corpus.qvecs(s, dir).filter(snapCond)
      refinedCents(s, snap, snap.count())
    }

  /** Snapshot-index inverted lists (same layout as [[annIndexPostings]]). */
  private[graft] def annSnapPostings(s: SparkSession, dir: String): String =
    graft.sources.Scratch.materialize(s, "ann_snap_postings", dir) {
      val cents = graft.sources.IO.readParquet(s, annSnapCents(s, dir))
      assignTop2(Corpus.qvecs(s, dir).filter(snapCond), denull(cents, "cv"))
        .select(col("vec_id"), col("cell1").as("cell"), col("q"), col("norm2"))
    }

  /** Incremental index update: arriving vectors LEFT-ANTI-joined
    * against the persisted inverted lists (only genuinely new ids pay
    * anything downstream), routed to their cell against the broadcast
    * snapshot centroids — the rows an index maintainer APPENDS. The
    * corpus-sized postings never shuffle for this: the arriving side
    * is the small one and the anti-join keys on vec_id. */
  private[graft] def indexUpdate(arriving: DataFrame, postings: DataFrame,
      cents: DataFrame): DataFrame =
    annRoute(cents)(
        arriving.join(postings.select("vec_id"), Seq("vec_id"), "left_anti"))
      .select(col("vec_id"), col("cell1").as("cell"), col("dist1"))

  /** Post-update write-back closing the index-maintenance loop: the
    * snapshot postings plus the increment's assignments — the artifact
    * the NEXT update anti-joins against. Absorbing the increment makes
    * a re-run of the same feed EMPTY (convergence spec-pinned in
    * AnnIndexSpec) — retry-idempotent maintenance, the d49 ledger
    * property in the vector domain. */
  private[graft] def updatedPostings(postings: DataFrame, arriving: DataFrame,
      increment: DataFrame): DataFrame =
    postings.unionByName(
      increment.select("vec_id", "cell")
        .join(arriving.select("vec_id", "q", "norm2"), Seq("vec_id")))

  /** ANN routing — the stateless scatter step of a distributed ANN
    * service, and the s17 streaming transform: each (arriving) query
    * vector folds over the broadcast index centroids to its nprobe=2
    * cells + nearest distance. Per-row projection, no state, no
    * shuffle: the shard fan-out decision a router makes before the
    * per-cell search (d50's join) runs shard-side. */
  private[graft] def annRoute(cents: DataFrame)(queries: DataFrame): DataFrame =
    assignTop2(queries, denull(cents, "cv"))
      .select("vec_id", "cell1", "cell2", "dist1")

  /** Held-out fixture bound for d42's benchmark slice: vec_id <
    * [[BenchIdCap]] ∧ vec_id % 10 = 0 selects AT MOST 100 vectors no
    * matter how large the corpus grows — the fixture stands in for the
    * external benchmark suite a production run would pass in. */
  val BenchIdCap = 1000L

  /** Hard ceiling on the benchmark side of [[semanticDecon]]: the
    * zero-exchange fold collapses the benchmark into ONE broadcast
    * array row, which is only sound while that row is comfortably
    * under the single-row/broadcast limits. 4096 vectors × 64 dims ×
    * 8 B ≈ 2 MB — far below either bound. */
  val MaxBenchVectors = 4096

  /** Semantic decontamination of `train` against an EXTERNAL `bench`
    * frame (both shaped like [[Corpus.qvecs]]: vec_id, q, norm2).
    *
    * The benchmark collapses to ONE broadcast array row and each
    * training vector FOLDS over it keeping its best (cos, bench_id) —
    * a per-row projection, zero exchanges on the corpus stream (the
    * assignTop2 pattern applied to a similarity probe). That contract
    * requires a BOUNDED benchmark, enforced in two layers: a
    * construction-time `require` counts the bench side (via
    * `limit(cap+1).count()` — a bench-only scan, never the corpus)
    * and fails BEFORE the collecting aggregate is ever built, so even
    * a grossly oversized benchmark can't OOM the agg; a runtime
    * `assert_true` on the folded array remains as defense-in-depth
    * against a bench frame whose contents change between the check
    * and execution. An EMPTY benchmark yields zero rows (the sentinel
    * accumulator is filtered out), matching the relational cross-join
    * formulation. */
  private[graft] def semanticDecon(train: DataFrame, bench: DataFrame): DataFrame = {
    val benchCount = bench.limit(MaxBenchVectors + 1).count()
    require(benchCount <= MaxBenchVectors,
      s"semanticDecon: benchmark side has > $MaxBenchVectors vectors — exceeds the broadcastable bound")
    val bv = bench
      .agg(expr("array_sort(collect_list(struct(vec_id AS c, q AS cv, norm2 AS n2)))").as("bv"))
      .filter(expr(
        s"assert_true(size(bv) <= $MaxBenchVectors, 'semanticDecon: benchmark side exceeds the broadcastable bound') IS NULL"))
    train
      .crossJoin(broadcast(bv))
      .withColumn("best", expr(
        """aggregate(
          |  transform(bv, e -> named_struct(
          |    'cos', CAST(graft_dot_long(q, e.cv) AS DOUBLE)
          |      / (sqrt(CAST(norm2 AS DOUBLE)) * sqrt(CAST(e.n2 AS DOUBLE))),
          |    'c', e.c)),
          |  named_struct('cos', CAST(-2.0 AS DOUBLE), 'c', CAST(-1 AS BIGINT)),
          |  (acc, e) -> CASE WHEN e.cos > acc.cos THEN e ELSE acc END)""".stripMargin))
      .filter(col("best.c") >= 0)
      .select(col("vec_id"),
        col("best.c").as("nearest_bench"),
        col("best.cos").as("max_cos"),
        (col("best.cos") >= 0.35).as("contaminated"))
  }

  private def centsSqlFrom(ncExpr: String, sfx: String = ""): String =
    s"""cents$sfx AS (
       |  SELECT c, list_transform(range(0, 64), i ->
       |    ${Corpus.hash32Sql("concat('cent', CAST(c AS VARCHAR), '_', CAST(i AS VARCHAR))")} % 2001 - 1000) AS cv
       |  FROM (SELECT unnest(range(0, $ncExpr)) AS c)
       |)""".stripMargin

  private val centroidsSql: String = centsSqlFrom("8")

  private val duckDot =
    "CAST(list_sum(list_transform(list_zip(%s, %s), p -> p[1] * p[2])) AS BIGINT)"

  /** Per-(vec, table) LSH bucket assignment — the shared candidate
    * machinery for d07 (ANN search) and d17 (near-dup dedup). */
  private def lshBuckets(s: SparkSession, dir: String): DataFrame = {
    val q = Corpus.qvecs(s, dir)
    val n = graft.sources.Stats.parquetRowCount(s, s"$dir/embeddings.parquet")
    val bbits = lshBits(n)
    val pl = planes(s, LshTables * bbits)
      .withColumn("t", expr(s"CAST(j div $bbits AS INT)"))
      .withColumn("bit", expr(s"CAST(j % $bbits AS INT)"))
    q.crossJoin(broadcast(pl))
      .withColumn("d", DotLong(col("q"), col("r")))
      .groupBy("vec_id", "t")
      .agg(sum(expr("CASE WHEN d > 0 THEN shiftleft(CAST(1 AS LONG), bit) ELSE CAST(0 AS LONG) END")).as("bucket"))
  }

  /** Embedding-cosine near-dup pairs (a_id < b_id, cos ≥ 0.35) — the
    * d17 pair set without the presentation columns, shared with d41's
    * text↔embedding consensus report. */
  private[operators] def embedDupPairs(s: SparkSession, dir: String): DataFrame = {
    val q = Corpus.qvecs(s, dir)
    val bucketed = lshBuckets(s, dir)
    val cand = bucketed.select(col("vec_id").as("a_id"), col("t"), col("bucket"))
      .join(bucketed.select(col("vec_id").as("b_id"), col("t"), col("bucket")),
        Seq("t", "bucket"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
    cand
      .join(q.select(col("vec_id").as("a_id"), col("q").as("qa"), col("norm2").as("na")), Seq("a_id"))
      .join(q.select(col("vec_id").as("b_id"), col("q").as("qb"), col("norm2").as("nb")), Seq("b_id"))
      .withColumn("cos",
        DotLong(col("qa"), col("qb")).cast("double")
          / (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
      .filter(col("cos") >= 0.35)
  }

  /** DuckDB CTE chain appendable AFTER an existing WITH block: qtab +
    * LSH buckets + `epairs(a_id, b_id)` — the oracle twin of
    * [[embedDupPairs]] (pair keys only), shared with d41. */
  private[operators] def embedDupPairsCte: String =
    Corpus.qtabCte.replaceFirst("WITH ", ", ") + lshBucketsSql +
      s""",
         |ecand AS (
         |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
         |  FROM buckets a JOIN buckets b ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id
         |),
         |epairs AS (
         |  SELECT c.a_id, c.b_id
         |  FROM ecand c JOIN qtab qa ON qa.vec_id = c.a_id JOIN qtab qb ON qb.vec_id = c.b_id
         |  WHERE CAST(${duckDot.format("qa.q", "qb.q")} AS DOUBLE)
         |    / (sqrt(CAST(qa.norm2 AS DOUBLE)) * sqrt(CAST(qb.norm2 AS DOUBLE))) >= 0.35
         |)""".stripMargin

  /** DuckDB twin of [[lshBuckets]]: prm/planes/dots/buckets CTE block. */
  private val lshBucketsSql: String =
    s""", prm AS (SELECT greatest(4, CAST(length(to_base(count(1), 2)) AS BIGINT) - 4) AS bbits FROM qtab),
       |planes AS (
       |  SELECT j, CAST(j // prm.bbits AS INT) AS t, CAST(j % prm.bbits AS INT) AS bit,
       |    list_transform(range(0, 64), i ->
       |      ${Corpus.hash32Sql("concat('rp', CAST(j AS VARCHAR), '_', CAST(i AS VARCHAR))")} % 2001 - 1000) AS r
       |  FROM prm, UNNEST(range(0, $LshTables * prm.bbits)) s(j)
       |),
       |dots AS (
       |  SELECT q.vec_id, p.t, p.bit, ${duckDot.format("q.q", "p.r")} AS d
       |  FROM qtab q CROSS JOIN planes p
       |),
       |buckets AS (
       |  SELECT vec_id, t,
       |    CAST(sum(CASE WHEN d > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS bucket
       |  FROM dots GROUP BY vec_id, t
       |)""".stripMargin

  private val duckSqDist =
    "CAST(list_sum(list_transform(list_zip(%s, %s), p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT)"

  /** DuckDB CTE chain ending in `scored(vec_id, cell, rep_id, cos)` —
    * the oracle twin of [[semdedupScored]], shared by d35 and d108. */
  private lazy val semdedupScoredSql: String =
    Corpus.qtabCte + ", " +
      centsSqlFrom("(SELECT CAST(ceil(sqrt(count(1))) AS BIGINT) FROM qtab)") +
      s""", asg AS (
         |  SELECT vec_id, c AS cell, q, norm2 FROM (
         |    SELECT q.vec_id, ce.c, q.q, q.norm2,
         |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
         |        ${duckSqDist.format("q.q", "ce.cv")} ASC, ce.c ASC) AS rn
         |    FROM qtab q CROSS JOIN cents ce) t
         |  WHERE rn = 1
         |),
         |repv AS (
         |  SELECT a.cell, a.vec_id AS rep_id, a.q AS qr, a.norm2 AS nr
         |  FROM asg a JOIN (SELECT cell, min(vec_id) AS rep_id FROM asg GROUP BY cell) r
         |    ON a.vec_id = r.rep_id
         |),
         |scored AS (
         |  SELECT a.vec_id, a.cell, r.rep_id,
         |    CAST(${duckDot.format("a.q", "r.qr")} AS DOUBLE)
         |      / (sqrt(CAST(a.norm2 AS DOUBLE)) * sqrt(CAST(r.nr AS DOUBLE))) AS cos
         |  FROM asg a JOIN repv r ON a.cell = r.cell)
         |""".stripMargin

  /** LIVE directed 3-NN edge stream (`a_id`, `b_id`) over the
    * persisted index — d50's probe shape. ONE corpus scan; the ≤3n-row
    * edge list is the working set from here on — materialized because
    * d95's mutual filter reads it from both sides. The PERSISTED twin
    * is [[annKnnEdges]] (the artifact d96 and the community/medoid
    * builds consume). */
  private def knnGraph(s: SparkSession, dir: String): DataFrame = {
    val cents = denull(
      graft.sources.IO.readParquet(s, annIndexCents(s, dir)), "cv")
    val post = denull(
      graft.sources.IO.readParquet(s, annIndexPostings(s, dir)), "q")
    ivfTopK(assignTop2(Corpus.qvecs(s, dir), cents), post)
      .select(col("a_id"), col("b_id"))
      .transform(persisted)
  }

  /** Mutual-kNN community labels (`id`, `lbl`) over a directed edge
    * frame: keep an undirected edge iff BOTH endpoints rank each other
    * (one self-semi-join on the edge minority), then exact connected
    * components via d24's shared star-contraction loop. Nodes outside
    * any mutual edge are absent — callers that need singletons
    * coalesce the label to the node's own id. */
  private def mutualLabels(edges: DataFrame): DataFrame = {
    // Shape note (r19, measured): a canonical-pair count-2 aggregate
    // computes the same mutual set with ONE exchange and no broadcast,
    // but paired probes read it 0.5 s SLOWER here — the persisted edge
    // frame's stats let this semi-join auto-broadcast, so the local
    // plan is exchange-free. At an edge volume past the broadcast cap
    // the aggregate form is the swap-in.
    val mutual = edges
      .join(edges.select(col("b_id").as("a_id"), col("a_id").as("b_id")),
        Seq("a_id", "b_id"), "left_semi")
      .filter(col("a_id") < col("b_id"))
    Curation.connectedComponents(mutual)
  }

  /** DuckDB CTE chain for the IVF-family oracles, parametrized by the
    * vector population `src` being indexed: ⌈√|src|⌉ seed centroids +
    * the one deterministic k-means refinement — `cents1` is exactly
    * the persisted index's centroid table over that population. */
  private def ivfCents1CteFrom(src: String, sfx: String = ""): String =
    centsSqlFrom(s"(SELECT CAST(ceil(sqrt(count(1))) AS BIGINT) FROM $src)", sfx) +
      s""", assign0$sfx AS (
         |  SELECT vec_id, c AS cell, q FROM (
         |    SELECT q.vec_id, ce.c, q.q,
         |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
         |        ${duckSqDist.format("q.q", "ce.cv")} ASC, ce.c ASC) AS rn
         |    FROM $src q CROSS JOIN cents$sfx ce) t
         |  WHERE rn = 1
         |),
         |comps$sfx AS (
         |  SELECT cell, pos, CAST(floor(CAST(sum(q[pos]) AS DOUBLE) / count(1)) AS BIGINT) AS cmp
         |  FROM assign0$sfx, UNNEST(range(1, 65)) t(pos)
         |  GROUP BY cell, pos
         |),
         |cents1$sfx AS (SELECT cell AS c, list(cmp ORDER BY pos) AS cv FROM comps$sfx GROUP BY cell)""".stripMargin

  /** The full-corpus instance (d15/d50/s17 oracles). */
  private def ivfCents1Cte: String =
    Corpus.qtabCte + ", " + ivfCents1CteFrom("qtab")

  /** s17's DuckDB twin: the routing decision (nprobe=2 cells + nearest
    * distance) per vector, probed against the index centroid table. */
  private[graft] def annRouteSql: String =
    ivfCents1Cte +
      s""", ranked AS (
         |  SELECT q.vec_id, ce.c,
         |    ${duckSqDist.format("q.q", "ce.cv")} AS d,
         |    ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
         |      ${duckSqDist.format("q.q", "ce.cv")} ASC, ce.c ASC) AS rn
         |  FROM qtab q CROSS JOIN cents1 ce)
         |SELECT vec_id,
         |  max(CASE WHEN rn = 1 THEN c END) AS cell1,
         |  max(CASE WHEN rn = 2 THEN c END) AS cell2,
         |  max(CASE WHEN rn = 1 THEN d END) AS dist1
         |FROM ranked WHERE rn <= 2 GROUP BY vec_id ORDER BY vec_id""".stripMargin

  /** s34's DuckDB twin: d87's outlier audit asked per arriving vector —
    * the SAME assignment + per-cell stats CTEs, but instead of
    * FILTERING to flagged rows it emits every vector with its boolean
    * verdict (an ingest gate decides for every arrival — hence the
    * LEFT join + known_cell flag mirroring the gate: a stats-absent
    * cell yields known_cell=false / NULL is_outlier, never a dropped
    * row). The stats are rebuilt from the full assignment because the
    * persisted cell-stats artifact is exact state over exactly that
    * population (the d50 ← d15 sharing rationale). */
  private[graft] def outlierGateSql: String =
    ivfCents1Cte +
      s""", ass AS (
         |  SELECT vec_id, cell, d2 FROM (
         |    SELECT q.vec_id, ce.c AS cell,
         |      ${duckSqDist.format("q.q", "ce.cv")} AS d2,
         |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
         |        ${duckSqDist.format("q.q", "ce.cv")} ASC, ce.c ASC) AS rn
         |    FROM qtab q CROSS JOIN cents1 ce) t
         |  WHERE rn = 1),
         |st AS (
         |  SELECT cell, count(1) AS n_cell,
         |    sum(CAST(d2 AS HUGEINT)) AS s1,
         |    sum(CAST(d2 AS HUGEINT) * CAST(d2 AS HUGEINT)) AS s2
         |  FROM ass GROUP BY cell)
         |SELECT a.vec_id, a.cell, a.d2,
         |  st.n_cell IS NOT NULL AS known_cell,
         |  CASE WHEN st.n_cell IS NULL THEN NULL ELSE
         |  (CAST(st.n_cell AS HUGEINT) * CAST(a.d2 AS HUGEINT) > st.s1
         |   AND (CAST(st.n_cell AS HUGEINT) * CAST(a.d2 AS HUGEINT) - st.s1)
         |       * (CAST(st.n_cell AS HUGEINT) * CAST(a.d2 AS HUGEINT) - st.s1)
         |       > 4 * (CAST(st.n_cell AS HUGEINT) * st.s2 - st.s1 * st.s1)) END AS is_outlier
         |FROM ass a LEFT JOIN st USING (cell)
         |ORDER BY a.vec_id""".stripMargin

  /** s35's DuckDB twin: d35's representative scoring against the
    * REFINED index cells — assignment + min-id rep election rebuilt
    * from cents1 (the persisted reps artifact is exact state over
    * exactly that assignment, the d50 ← d15 sharing rationale).
    * LEFT join + self-election mirroring the gate: a rep-less cell's
    * arrival becomes its own representative (rep_id = vec_id,
    * cos = 1.0, action 'rep'), never a dropped row. */
  private[graft] def semdedupGateSql: String =
    ivfCents1Cte +
      s""", asg AS (
         |  SELECT vec_id, cell, q, norm2 FROM (
         |    SELECT q.vec_id, ce.c AS cell, q.q, q.norm2,
         |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
         |        ${duckSqDist.format("q.q", "ce.cv")} ASC, ce.c ASC) AS rn
         |    FROM qtab q CROSS JOIN cents1 ce) t
         |  WHERE rn = 1),
         |repv AS (
         |  SELECT a.cell, a.vec_id AS rep_id, a.q AS qr, a.norm2 AS nr
         |  FROM asg a JOIN (SELECT cell, min(vec_id) AS rep_id FROM asg GROUP BY cell) r
         |    ON a.vec_id = r.rep_id)
         |SELECT vec_id, cell, rep_id, cos,
         |  CASE WHEN vec_id = rep_id THEN 'rep'
         |       WHEN cos >= 0.25 THEN 'drop'
         |       ELSE 'keep' END AS action
         |FROM (
         |  SELECT a.vec_id, a.cell, COALESCE(r.rep_id, a.vec_id) AS rep_id,
         |    CASE WHEN r.rep_id IS NULL THEN CAST(1.0 AS DOUBLE) ELSE
         |    CAST(${duckDot.format("a.q", "r.qr")} AS DOUBLE)
         |      / (sqrt(CAST(a.norm2 AS DOUBLE)) * sqrt(CAST(r.nr AS DOUBLE))) END AS cos
         |  FROM asg a LEFT JOIN repv r ON a.cell = r.cell) t
         |ORDER BY vec_id""".stripMargin

  /** s36's DuckDB twin: the per-dimension moment sketch over the
    * quantized grid — exact integer counts/sums, 64 rows. */
  private[graft] def dimMomentsSql: String =
    Corpus.qtabCte +
      """SELECT pos0 AS pos, count(1) AS n_vals,
        |  CAST(sum(x) AS BIGINT) AS sum_x,
        |  CAST(sum(x * x) AS BIGINT) AS sum_x2
        |FROM (SELECT pos - 1 AS pos0, q[pos] AS x
        |      FROM qtab, UNNEST(range(1, 65)) t(pos)) s
        |GROUP BY pos0 ORDER BY pos""".stripMargin

  /** Shared CTE chain ending in `edges(a_id, b_id)` — the directed
    * 3-NN graph over the rebuilt index state (d88's hubness audit and
    * the d95/d96/d97 community family consume the same graph).
    * `ranked` and `edges` are MATERIALIZED: DuckDB inlines CTEs by
    * default, and every consumer references `edges` several times —
    * inside d95/d96/d97's recursive reachability that re-evaluated the
    * window-heavy edge pipeline ONCE PER ITERATION (the d96 oracle ran
    * minutes and 11 GB before this hint; 0.5 s after). */
  private def knnEdgesCte: String =
    ivfCents1Cte +
      s""", ranked AS MATERIALIZED (
         |  SELECT q.vec_id, ce.c AS cell, q.q, q.norm2,
         |    ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
         |      ${duckSqDist.format("q.q", "ce.cv")} ASC, ce.c ASC) AS rn
         |  FROM qtab q CROSS JOIN cents1 ce
         |),
         |assigned AS (SELECT vec_id, cell, q, norm2 FROM ranked WHERE rn = 1),
         |probes AS (SELECT vec_id, cell, q, norm2 FROM ranked WHERE rn <= 2),
         |edges AS MATERIALIZED (
         |  SELECT a_id, b_id FROM (
         |    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |      ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
         |        CAST(${duckDot.format("a.q", "b.q")} AS DOUBLE)
         |        / (sqrt(CAST(a.norm2 AS DOUBLE)) * sqrt(CAST(b.norm2 AS DOUBLE))) DESC,
         |        b.vec_id ASC) AS rn
         |    FROM probes a JOIN assigned b ON a.cell = b.cell AND a.vec_id <> b.vec_id) t
         |  WHERE rn <= 3)""".stripMargin

  /** Shared CTE chain extending [[knnEdgesCte]] with the mutual-kNN
    * community labels: recursive-CTE reachability over the mutual
    * edge subgraph, ending in `lbl(id, cluster_id)` (min-member-id
    * canonical labels; nodes with no mutual edge absent — d95/d96/d97
    * all consume this one chain). */
  private def knnCommunityCte: String =
    knnEdgesCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
      """, mut AS MATERIALIZED (
        |  SELECT e.a_id, e.b_id FROM edges e
        |  JOIN edges r ON e.a_id = r.b_id AND e.b_id = r.a_id
        |  WHERE e.a_id < e.b_id),
        |sym AS MATERIALIZED (SELECT a_id AS src, b_id AS dst FROM mut
        |        UNION ALL SELECT b_id, a_id FROM mut),
        |nodes AS (SELECT DISTINCT src AS id FROM sym),
        |reach(id, r) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT s.src, reach.r FROM sym s JOIN reach ON reach.id = s.dst),
        |lbl AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)""".stripMargin

  /** Shared CTE chain extending [[knnCommunityCte]] with d97's medoid
    * scoring: community members joined back to their vectors, the
    * exact linear-identity total squared distance per member, ending
    * in `scored(cluster_id, vec_id, n_nodes, ssd, rn)` with rn = 1 at
    * the medoid (ties to the smaller vec_id). `mem`/`scored` are
    * MATERIALIZED so multi-reference consumers don't re-run the
    * recursive reachability. */
  private def medoidScoredCte: String =
    knnCommunityCte +
      """, mem AS MATERIALIZED (
        |  SELECT l.id AS vec_id, l.cluster_id, q.q, q.norm2
        |  FROM lbl l JOIN qtab q ON q.vec_id = l.id),
        |lf AS (
        |  SELECT cluster_id, vec_id, norm2, pos, q[pos] AS v
        |  FROM mem, UNNEST(range(1, 65)) t(pos)),
        |csum AS (
        |  SELECT cluster_id, pos, CAST(sum(v) AS BIGINT) AS sv
        |  FROM lf GROUP BY 1, 2),
        |dots AS (
        |  SELECT lf.cluster_id, lf.vec_id,
        |    CAST(sum(lf.v * c.sv) AS BIGINT) AS dot_s
        |  FROM lf JOIN csum c ON c.cluster_id = lf.cluster_id AND c.pos = lf.pos
        |  GROUP BY 1, 2),
        |stats AS (
        |  SELECT cluster_id, count(1) AS n_nodes,
        |    CAST(sum(norm2) AS BIGINT) AS n2_sum
        |  FROM mem GROUP BY 1),
        |scored AS MATERIALIZED (
        |  SELECT m.cluster_id, m.vec_id, st.n_nodes,
        |    st.n_nodes * m.norm2 + st.n2_sum - 2 * d.dot_s AS ssd,
        |    ROW_NUMBER() OVER (PARTITION BY m.cluster_id ORDER BY
        |      st.n_nodes * m.norm2 + st.n2_sum - 2 * d.dot_s ASC,
        |      m.vec_id ASC) AS rn
        |  FROM mem m
        |  JOIN dots d ON d.cluster_id = m.cluster_id AND d.vec_id = m.vec_id
        |  JOIN stats st ON st.cluster_id = m.cluster_id)
        |""".stripMargin

  /** Shared CTE chain extending [[medoidScoredCte]] with the medoid
    * vectors and every vector's nearest-medoid route, ending in
    * `routed(vec_id, cluster_id, medoid_id, d2)` — the s38/d99/s39
    * serving family all consume this one chain (communities + medoids
    * rebuilt in SQL: the persisted artifacts are exact state over
    * exactly the indexed population, the d50 ← d15 sharing rationale). */
  private def routedCte: String =
    medoidScoredCte +
      s""", meds AS MATERIALIZED (
         |  SELECT s.cluster_id, s.vec_id AS medoid_id, q.q AS qm
         |  FROM scored s JOIN qtab q ON q.vec_id = s.vec_id
         |  WHERE s.rn = 1),
         |routed AS MATERIALIZED (
         |  SELECT vec_id, cluster_id, medoid_id, d2 FROM (
         |    SELECT v.vec_id, m.cluster_id, m.medoid_id,
         |      ${duckSqDist.format("v.q", "m.qm")} AS d2,
         |      ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
         |        ${duckSqDist.format("v.q", "m.qm")} ASC,
         |        m.cluster_id ASC) AS rn
         |    FROM qtab v CROSS JOIN meds m) t
         |  WHERE rn = 1)
         |""".stripMargin

  /** s38's DuckDB twin: every vector's nearest-medoid route. */
  private[graft] def communityGateSql: String =
    routedCte +
      """SELECT vec_id, cluster_id, medoid_id, d2 FROM routed
        |ORDER BY vec_id""".stripMargin

  /** s39's DuckDB twin: per-community arrival count + total routed
    * distance over the same route chain. */
  private[graft] def communityLoadSql: String =
    routedCte +
      """SELECT cluster_id, count(1) AS n_arrivals,
        |  CAST(sum(d2) AS BIGINT) AS sum_d2
        |FROM routed GROUP BY 1 ORDER BY cluster_id""".stripMargin

  /** d52's DuckDB twin: rebuild the SNAPSHOT index's centroid table
    * (the persisted artifact is exact state) and route the new-only
    * arrivals — snapshot membership is id-determined, so the anti-join
    * collapses to the complementary id condition. */
  private def indexUpdateSql: String =
    Corpus.qtabCte +
      s", snap AS (SELECT * FROM qtab WHERE $snapCond), " +
      ivfCents1CteFrom("snap") +
      s""", arrivals AS (
         |  SELECT * FROM qtab WHERE ($arrivingCond) AND NOT ($snapCond)),
         |ranked AS (
         |  SELECT q.vec_id, ce.c,
         |    ${duckSqDist.format("q.q", "ce.cv")} AS d,
         |    ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
         |      ${duckSqDist.format("q.q", "ce.cv")} ASC, ce.c ASC) AS rn
         |  FROM arrivals q CROSS JOIN cents1 ce)
         |SELECT vec_id, c AS cell, d AS dist1
         |FROM ranked WHERE rn = 1 ORDER BY vec_id""".stripMargin

  /** d53's DuckDB twin: rebuild the index state (cents1 + assignment),
    * apply d32's max-abs int8 quantization to the POSTING side only,
    * and score probes asymmetrically (full-precision query dot int8
    * codes; the per-vector scale cancels out of the cosine). */
  private def sq8ProbeSql: String =
    ivfCents1Cte +
      s""", ranked AS (
         |  SELECT q.vec_id, ce.c AS cell, q.q, q.norm2,
         |    ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
         |      ${duckSqDist.format("q.q", "ce.cv")} ASC, ce.c ASC) AS rn
         |  FROM qtab q CROSS JOIN cents1 ce
         |),
         |assigned AS (SELECT vec_id, cell, q, norm2 FROM ranked WHERE rn = 1),
         |probes AS (SELECT vec_id, cell, q, norm2 FROM ranked WHERE rn <= 2),
         |sc8 AS (
         |  SELECT vec_id, cell, q,
         |    greatest(CAST(list_max(list_transform(q, x -> abs(x))) AS BIGINT), 1) AS scale
         |  FROM assigned),
         |codes AS (
         |  SELECT vec_id, cell,
         |    list_transform(q, x -> CAST(round(CAST(127 * x AS DOUBLE) / scale) AS BIGINT)) AS q8
         |  FROM sc8),
         |post8 AS (
         |  SELECT vec_id, cell, q8,
         |    CAST(list_sum(list_transform(q8, x -> x * x)) AS BIGINT) AS n8
         |  FROM codes)
         |SELECT a_id, cell, b_id, rn, cos8 FROM (
         |  SELECT a.vec_id AS a_id, a.cell AS cell, b.vec_id AS b_id,
         |    CAST(${duckDot.format("a.q", "b.q8")} AS DOUBLE)
         |      / (sqrt(CAST(a.norm2 AS DOUBLE)) * sqrt(CAST(b.n8 AS DOUBLE))) AS cos8,
         |    ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
         |      CAST(${duckDot.format("a.q", "b.q8")} AS DOUBLE)
         |      / (sqrt(CAST(a.norm2 AS DOUBLE)) * sqrt(CAST(b.n8 AS DOUBLE))) DESC,
         |      b.vec_id ASC) AS rn
         |  FROM probes a JOIN post8 b ON a.cell = b.cell AND a.vec_id <> b.vec_id) t
         |WHERE rn <= 3 ORDER BY a_id, rn""".stripMargin

  /** d80/d81's shared DuckDB chain: rebuild the index state (cents1 +
    * assignment), train the PQ codebook exactly as d56's oracle does,
    * RECONSTRUCT each posting from its codewords (the ADC lookup-table
    * sum is dot(query, reconstruction) — the same exact integer total,
    * just summed in subspace order), and score every cell-mate pair
    * asymmetrically with d53's quotient-of-exact-longs cosine, ending
    * in `pqscored(a_id, cell, b_id, cos_pq)`. */
  private def ivfpqScoredCte: String =
    ivfCents1Cte +
      s""", ranked AS (
         |  SELECT q.vec_id, ce.c AS cell, q.q, q.norm2,
         |    ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
         |      ${duckSqDist.format("q.q", "ce.cv")} ASC, ce.c ASC) AS rn
         |  FROM qtab q CROSS JOIN cents1 ce),
         |assigned AS (SELECT vec_id, cell, q, norm2 FROM ranked WHERE rn = 1),
         |probes AS (SELECT vec_id, cell, q, norm2 FROM ranked WHERE rn <= 2),
         |psubs AS (
         |  SELECT vec_id, CAST(j AS INT) AS j, q[j * 8 + 1 : j * 8 + 8] AS sub
         |  FROM qtab, UNNEST(range(0, 8)) t(j)),
         |pseeds AS (
         |  SELECT CAST(jc // 16 AS INT) AS j, CAST(jc % 16 AS INT) AS c,
         |    list_transform(range(0, 8), i ->
         |      ${Corpus.hash32Sql("concat('pq', CAST(jc // 16 AS VARCHAR), '_', CAST(jc % 16 AS VARCHAR), '_', CAST(i AS VARCHAR))")} % 2001 - 1000) AS cv
         |  FROM (SELECT unnest(range(0, 128)) AS jc)),
         |pa0 AS (
         |  SELECT vec_id, j, sub, c FROM (
         |    SELECT s.vec_id, s.j, s.sub, sd.c,
         |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.j ORDER BY
         |        ${duckSqDist.format("s.sub", "sd.cv")} ASC, sd.c ASC) AS rn
         |    FROM psubs s JOIN pseeds sd ON sd.j = s.j) t
         |  WHERE rn = 1),
         |pcomp AS (
         |  SELECT j, c, pos, CAST(floor(CAST(sum(sub[pos]) AS DOUBLE) / count(1)) AS BIGINT) AS cmp
         |  FROM pa0, UNNEST(range(1, 9)) t(pos)
         |  GROUP BY j, c, pos),
         |pcb AS (SELECT j, c, list(cmp ORDER BY pos) AS cv FROM pcomp GROUP BY j, c),
         |penc AS (
         |  SELECT vec_id, j, cv FROM (
         |    SELECT s.vec_id, s.j, cb.cv,
         |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.j ORDER BY
         |        ${duckSqDist.format("s.sub", "cb.cv")} ASC, cb.c ASC) AS rn
         |    FROM psubs s JOIN pcb cb ON cb.j = s.j) t
         |  WHERE rn = 1),
         |recon AS (
         |  SELECT vec_id, flatten(list(cv ORDER BY j)) AS rv
         |  FROM penc GROUP BY vec_id),
         |pqpost AS (
         |  SELECT b.vec_id, b.cell, r.rv,
         |    greatest(CAST(list_sum(list_transform(r.rv, x -> x * x)) AS BIGINT), 1) AS rn2
         |  FROM assigned b JOIN recon r ON r.vec_id = b.vec_id),
         |pqscored AS (
         |  SELECT a.vec_id AS a_id, a.cell AS cell, b.vec_id AS b_id,
         |    CAST(${duckDot.format("a.q", "b.rv")} AS DOUBLE)
         |      / (sqrt(CAST(a.norm2 AS DOUBLE)) * sqrt(CAST(b.rn2 AS DOUBLE))) AS cos_pq
         |  FROM probes a JOIN pqpost b ON a.cell = b.cell AND a.vec_id <> b.vec_id)""".stripMargin

  private def ivfpqProbeSql: String =
    ivfpqScoredCte +
      """
        |SELECT a_id, cell, b_id, rn, cos_pq FROM (
        |  SELECT a_id, cell, b_id, cos_pq,
        |    ROW_NUMBER() OVER (PARTITION BY a_id
        |      ORDER BY cos_pq DESC, b_id ASC) AS rn
        |  FROM pqscored) t
        |WHERE rn <= 3 ORDER BY a_id, rn""".stripMargin

  /** d81's DuckDB twin: the ADC shortlist (prn ≤ 10) reranked with
    * exact full-precision cosines — the refine step mirrored on the
    * same qtab values the postings artifact holds. */
  private def ivfpqRerankSql: String =
    ivfpqScoredCte +
      s"""
         |, short AS (
         |  SELECT a_id, b_id, prn FROM (
         |    SELECT a_id, b_id, ROW_NUMBER() OVER (PARTITION BY a_id
         |      ORDER BY cos_pq DESC, b_id ASC) AS prn
         |    FROM pqscored) t WHERE prn <= 10),
         |rer AS (
         |  SELECT s.a_id, s.b_id, s.prn,
         |    CAST(${duckDot.format("qa.q", "qb.q")} AS DOUBLE)
         |      / (sqrt(CAST(qa.norm2 AS DOUBLE)) * sqrt(CAST(qb.norm2 AS DOUBLE))) AS cos
         |  FROM short s JOIN qtab qa ON qa.vec_id = s.a_id
         |  JOIN qtab qb ON qb.vec_id = s.b_id)
         |SELECT a_id, b_id, prn, rn, cos FROM (
         |  SELECT a_id, b_id, prn, cos,
         |    ROW_NUMBER() OVER (PARTITION BY a_id
         |      ORDER BY cos DESC, b_id ASC) AS rn
         |  FROM rer) t
         |WHERE rn <= 3 ORDER BY a_id, rn""".stripMargin

  /** d68's DuckDB twin: the same routed/scored stream ranked at both
    * nprobe slices against the brute-force exact top-3. */
  private def annRecallSql: String =
    ivfCents1Cte +
      s""", ranked AS (
         |  SELECT q.vec_id, ce.c AS cell, q.q, q.norm2,
         |    ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
         |      ${duckSqDist.format("q.q", "ce.cv")} ASC, ce.c ASC) AS rn
         |  FROM qtab q CROSS JOIN cents1 ce),
         |assigned AS (SELECT vec_id, cell, q, norm2 FROM ranked WHERE rn = 1),
         |probes AS (SELECT vec_id, cell, q, norm2, rn AS probe_rank FROM ranked WHERE rn <= 2),
         |scored AS (
         |  SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.probe_rank,
         |    CAST(${duckDot.format("a.q", "b.q")} AS DOUBLE)
         |      / (sqrt(CAST(a.norm2 AS DOUBLE)) * sqrt(CAST(b.norm2 AS DOUBLE))) AS cos
         |  FROM probes a JOIN assigned b ON a.cell = b.cell AND a.vec_id <> b.vec_id),
         |ann1 AS (
         |  SELECT a_id, b_id FROM (
         |    SELECT a_id, b_id, ROW_NUMBER() OVER (PARTITION BY a_id
         |      ORDER BY cos DESC, b_id ASC) AS rn
         |    FROM scored WHERE probe_rank <= 1) t WHERE rn <= 3),
         |ann2 AS (
         |  SELECT a_id, b_id FROM (
         |    SELECT a_id, b_id, ROW_NUMBER() OVER (PARTITION BY a_id
         |      ORDER BY cos DESC, b_id ASC) AS rn
         |    FROM scored) t WHERE rn <= 3),
         |exact AS (
         |  SELECT a_id, b_id FROM (
         |    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |      ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
         |        CAST(${duckDot.format("a.q", "b.q")} AS DOUBLE)
         |        / (sqrt(CAST(a.norm2 AS DOUBLE)) * sqrt(CAST(b.norm2 AS DOUBLE))) DESC,
         |        b.vec_id ASC) AS rn
         |    FROM qtab a JOIN qtab b ON a.vec_id <> b.vec_id) t
         |  WHERE rn <= 3)
         |SELECT 1 AS nprobe, count(1) AS n_exact, count(a1.b_id) AS n_hit,
         |  CAST(count(a1.b_id) AS DOUBLE) / greatest(count(1), 1) AS recall
         |FROM exact e LEFT JOIN ann1 a1 USING (a_id, b_id)
         |UNION ALL
         |SELECT 2 AS nprobe, count(1) AS n_exact, count(a2.b_id) AS n_hit,
         |  CAST(count(a2.b_id) AS DOUBLE) / greatest(count(1), 1) AS recall
         |FROM exact e LEFT JOIN ann2 a2 USING (a_id, b_id)
         |ORDER BY nprobe""".stripMargin

  /** d15's DuckDB twin, shared by d50: d50 reads the persisted index
    * back, but the index IS the exact d15 intermediate state, so the
    * oracle is d15's verbatim. */
  private val ivfProbeSql: String =
    ivfCents1Cte +
      s""", ranked AS (
         |  SELECT q.vec_id, ce.c AS cell, q.q, q.norm2,
         |    ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
         |      ${duckSqDist.format("q.q", "ce.cv")} ASC, ce.c ASC) AS rn
         |  FROM qtab q CROSS JOIN cents1 ce
         |),
         |assigned AS (SELECT vec_id, cell, q, norm2 FROM ranked WHERE rn = 1),
         |probes AS (SELECT vec_id, cell, q, norm2 FROM ranked WHERE rn <= 2)
         |SELECT a_id, cell, b_id, rn, cos FROM (
         |  SELECT a.vec_id AS a_id, a.cell AS cell, b.vec_id AS b_id,
         |    CAST(${duckDot.format("a.q", "b.q")} AS DOUBLE)
         |      / (sqrt(CAST(a.norm2 AS DOUBLE)) * sqrt(CAST(b.norm2 AS DOUBLE))) AS cos,
         |    ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
         |      CAST(${duckDot.format("a.q", "b.q")} AS DOUBLE)
         |      / (sqrt(CAST(a.norm2 AS DOUBLE)) * sqrt(CAST(b.norm2 AS DOUBLE))) DESC,
         |      b.vec_id ASC) AS rn
         |  FROM probes a JOIN assigned b ON a.cell = b.cell AND a.vec_id <> b.vec_id) t
         |WHERE rn <= 3 ORDER BY a_id, rn""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    // Brute-force cosine top-5 neighbors per vector (baseline). The
    // top-5 runs on the custom TopKPerGroup operator (x04), not a
    // row_number sort-window: all pairs for a given a_id are generated
    // in one task (b is broadcast), so the map-side partial reduces the
    // n² pair stream to exactly 5 rows per vector BEFORE the exchange —
    // the shuffle carries 5n rows instead of sorting n².
    QuerySpec("d06_cosine_topk", by("a_id", "rn"),
      Pins(Scans(embeddings = 2), 2, cartesian = Some(Cartesian.ExactBaseline(
        "the brute-force exact top-k that approximate search is measured against"))),
      Corpus.qtabCte +
      s"""SELECT a_id, b_id, rn, cos FROM (
         |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |    CAST(${duckDot.format("a.q", "b.q")} AS DOUBLE)
         |      / (sqrt(CAST(a.norm2 AS DOUBLE)) * sqrt(CAST(b.norm2 AS DOUBLE))) AS cos,
         |    ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
         |      CAST(${duckDot.format("a.q", "b.q")} AS DOUBLE)
         |      / (sqrt(CAST(a.norm2 AS DOUBLE)) * sqrt(CAST(b.norm2 AS DOUBLE))) DESC,
         |      b.vec_id ASC) AS rn
         |  FROM qtab a JOIN qtab b ON a.vec_id <> b.vec_id) t
         |WHERE rn <= 5 ORDER BY a_id, rn""".stripMargin) { (s, dir) =>
      val q = Corpus.qvecs(s, dir)
      val a = q.toDF("a_id", "qa", "na")
      val b = q.toDF("b_id", "qb", "nb")
      val pairs = a.join(broadcast(b), col("a_id") =!= col("b_id"))
        .withColumn("dot", DotLong(col("qa"), col("qb")))
        .withColumn("cos",
          col("dot").cast("double") / (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
      graft.plans.TopK.perGroup(pairs,
          Seq("a_id"), Seq(("cos", true), ("b_id", false)), k = 5, rankName = "rn")
        .select("a_id", "b_id", "rn", "cos")
    },

    // MRL/truncation EVAL — the dimension-budget trade curve
    // (Matryoshka Representation Learning, Kusupati et al. 2022): can
    // this embedding space be served at 32, 16 or 8 of its 64 dims?
    // A pipeline reads this curve BEFORE cutting index storage 2-8×
    // by truncation — the cheapest compression there is (no codebook,
    // no requantization; d53/d80 compress PRECISION, this compresses
    // DIMENSION, and the two multiply). ONE d06-shaped exact pair
    // pass computes all four budgets' prefix cosines per pair (the
    // slices share the scan, the per-budget prefix norms are per-row
    // folds), each budget's top-1 resolves on TopKPerGroup (map-side
    // ≤1 row per (budget, query) per partition), and one bounded
    // aggregate emits the agreement-vs-full curve — counts exact
    // ints, the fraction a one-shot divide. Declared-exact baseline
    // (the d06 family); at scale the same curve runs on the d07/d15
    // candidate stream instead of all pairs.
    QuerySpec("d82_mrl_truncation", Seq(col("dim").desc),
      // Scans: the d06 exact-pair shape (a side + broadcast b side); all four dimension budgets
      // ride the one pair pass
      Pins(Scans(embeddings = 2), 7, cartesian = Some(Cartesian.ExactBaseline(
        "the truncation eval ranks against exact full-dimension truth"))),
      Corpus.qtabCte +
      """, dims AS (SELECT CAST(unnest([64, 32, 16, 8]) AS INT) AS dim),
        |pc AS (
        |  SELECT d.dim, a.vec_id AS a_id, b.vec_id AS b_id,
        |    CAST(list_sum(list_transform(list_zip(a.q[1:d.dim], b.q[1:d.dim]), p -> p[1] * p[2])) AS DOUBLE)
        |      / (sqrt(CAST(greatest(list_sum(list_transform(a.q[1:d.dim], x -> x * x)), 1) AS DOUBLE))
        |         * sqrt(CAST(greatest(list_sum(list_transform(b.q[1:d.dim], x -> x * x)), 1) AS DOUBLE))) AS cosd
        |  FROM qtab a JOIN qtab b ON a.vec_id <> b.vec_id CROSS JOIN dims d),
        |win AS (
        |  SELECT dim, a_id, b_id FROM (
        |    SELECT dim, a_id, b_id, ROW_NUMBER() OVER (PARTITION BY dim, a_id
        |      ORDER BY cosd DESC, b_id ASC) AS rn
        |    FROM pc) t WHERE rn = 1),
        |base AS (SELECT a_id, b_id AS b_full FROM win WHERE dim = 64)
        |SELECT w.dim, count(1) AS n_queries,
        |  CAST(sum(CASE WHEN w.b_id = base.b_full THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
        |  CAST(sum(CASE WHEN w.b_id = base.b_full THEN 1 ELSE 0 END) AS DOUBLE) / count(1) AS agreement
        |FROM win w JOIN base ON w.a_id = base.a_id
        |GROUP BY w.dim ORDER BY dim DESC""".stripMargin) { (s, dir) =>
      val cuts = Seq(8, 16, 32, 64)
      // prefix norms are a PER-VECTOR property — computed once per row
      // on each join side (the first formulation re-derived them per
      // PAIR via slice+aggregate: 131 s at sf0.1; this shape runs the
      // same exact math in 2.5 s). Both norms and pair dots ride the
      // segmented single-loop kernel (PrefixDotsLong).
      val q0 = Corpus.qvecs(s, dir).select(col("vec_id"), col("q"))
        .withColumn("pn", PrefixDotsLong(col("q"), col("q"), cuts))
      val a = q0.select(col("vec_id").as("a_id"), col("q").as("qa"), col("pn").as("pna"))
      val b = q0.select(col("vec_id").as("b_id"), col("q").as("qb"), col("pn").as("pnb"))
      val scored = a.join(broadcast(b), col("a_id") =!= col("b_id"))
        .withColumn("pd", PrefixDotsLong(col("qa"), col("qb"), cuts))
        .select(col("a_id"), col("b_id"),
          explode(array(cuts.zipWithIndex.map { case (d, k) =>
            struct(lit(d).as("dim"),
              (element_at(col("pd"), k + 1).cast("double")
                / (sqrt(greatest(element_at(col("pna"), k + 1), lit(1L)).cast("double"))
                  * sqrt(greatest(element_at(col("pnb"), k + 1), lit(1L)).cast("double")))).as("cosd"))
          }: _*)).as("e"))
        .select(col("a_id"), col("b_id"), col("e.dim").as("dim"), col("e.cosd").as("cosd"))
      val winners = graft.plans.TopK.perGroup(scored,
          Seq("dim", "a_id"), Seq(("cosd", true), ("b_id", false)), k = 1, rankName = "rn")
        .select("dim", "a_id", "b_id")
      val base = winners.filter(col("dim") === 64)
        .select(col("a_id"), col("b_id").as("b_full"))
      winners.join(base, Seq("a_id"))
        .groupBy("dim")
        .agg(count(lit(1)).as("n_queries"),
          sum(when(col("b_id") === col("b_full"), 1L).otherwise(0L)).as("n_agree"))
        .withColumn("agreement", col("n_agree").cast("double") / col("n_queries"))
    },

    // LSH ANN: L tables × lshBits(n) sign-projection bits; candidates
    // equi-join per (table, bucket), union-distinct, then top-3 via
    // TopKPerGroup (x04) — the partial prunes the scored candidate
    // stream to ≤3 rows per query vector per partition before the rank
    // exchange, instead of shuffle-sorting every candidate pair.
    QuerySpec("d07_ann_lsh", by("a_id", "rn"), Pins(Scans(embeddings = 2), 10),
      Corpus.qtabCte + lshBucketsSql +
      s""",
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
         |  FROM buckets a JOIN buckets b ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id <> b.vec_id
         |)
         |SELECT a_id, b_id, rn, cos FROM (
         |  SELECT c.a_id, c.b_id,
         |    CAST(${duckDot.format("qa.q", "qb.q")} AS DOUBLE)
         |      / (sqrt(CAST(qa.norm2 AS DOUBLE)) * sqrt(CAST(qb.norm2 AS DOUBLE))) AS cos,
         |    ROW_NUMBER() OVER (PARTITION BY c.a_id ORDER BY
         |      CAST(${duckDot.format("qa.q", "qb.q")} AS DOUBLE)
         |      / (sqrt(CAST(qa.norm2 AS DOUBLE)) * sqrt(CAST(qb.norm2 AS DOUBLE))) DESC,
         |      c.b_id ASC) AS rn
         |  FROM cand c JOIN qtab qa ON qa.vec_id = c.a_id JOIN qtab qb ON qb.vec_id = c.b_id) t
         |WHERE rn <= 3 ORDER BY a_id, rn""".stripMargin) { (s, dir) =>
      val q = Corpus.qvecs(s, dir)
      val bucketed = lshBuckets(s, dir)
      val cand = bucketed.select(col("vec_id").as("a_id"), col("t"), col("bucket"))
        .join(bucketed.select(col("vec_id").as("b_id"), col("t"), col("bucket")),
          Seq("t", "bucket"))
        .filter(col("a_id") =!= col("b_id"))
        .select("a_id", "b_id").distinct()
      val scored = cand
        .join(q.select(col("vec_id").as("a_id"), col("q").as("qa"), col("norm2").as("na")), Seq("a_id"))
        .join(q.select(col("vec_id").as("b_id"), col("q").as("qb"), col("norm2").as("nb")), Seq("b_id"))
        .withColumn("dot", DotLong(col("qa"), col("qb")))
        .withColumn("cos",
          col("dot").cast("double") / (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
      graft.plans.TopK.perGroup(scored,
          Seq("a_id"), Seq(("cos", true), ("b_id", false)), k = 3, rankName = "rn")
        .select("a_id", "b_id", "rn", "cos")
    },

    // Embedding-cosine near-dup dedup: unordered LSH candidate pairs
    // (same deterministic L-table machinery as d07, mirrored in the
    // oracle) filtered to cos ≥ τ; keep/drop by min vec_id. The scale
    // shape is identical to d07 — candidates never leave their
    // (table, bucket) equi-join partitions.
    QuerySpec("d17_dedup_embed", by("a_id", "b_id"), Pins(Scans(embeddings = 2), 9),
      Corpus.qtabCte + lshBucketsSql +
      s""",
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
         |  FROM buckets a JOIN buckets b ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id
         |)
         |SELECT a_id, b_id, cos, least(a_id, b_id) AS keep_id, greatest(a_id, b_id) AS drop_id
         |FROM (
         |  SELECT c.a_id, c.b_id,
         |    CAST(${duckDot.format("qa.q", "qb.q")} AS DOUBLE)
         |      / (sqrt(CAST(qa.norm2 AS DOUBLE)) * sqrt(CAST(qb.norm2 AS DOUBLE))) AS cos
         |  FROM cand c JOIN qtab qa ON qa.vec_id = c.a_id JOIN qtab qb ON qb.vec_id = c.b_id) t
         |WHERE cos >= 0.35 ORDER BY a_id, b_id""".stripMargin) { (s, dir) =>
      embedDupPairs(s, dir)
        .select(col("a_id"), col("b_id"), col("cos"),
          least(col("a_id"), col("b_id")).as("keep_id"),
          greatest(col("a_id"), col("b_id")).as("drop_id"))
    },

    // L2 norm + dimension audit per embedding.
    QuerySpec("d12_embed_norm", by("vec_id"), Pins(Scans(embeddings = 1), 0),
      Corpus.qtabCte +
      """SELECT vec_id, CAST(len(q) AS BIGINT) AS dim,
        |  CAST(list_sum(q) AS BIGINT) AS sum_q,
        |  sqrt(CAST(norm2 AS DOUBLE)) AS l2_norm
        |FROM qtab ORDER BY vec_id""".stripMargin) { (s, dir) =>
      Corpus.qvecs(s, dir)
        .select(
          col("vec_id"),
          size(col("q")).cast("long").as("dim"),
          expr("aggregate(q, CAST(0 AS LONG), (acc, x) -> acc + x)").as("sum_q"),
          sqrt(col("norm2").cast("double")).as("l2_norm"))
    },

    // int8 vector quantization (the 4× storage cut a 100 TB embedding
    // store takes before ANN indexing): per-vector max-abs scale,
    // q8_i = round(127·q_i/scale). Everything compared cross-engine is
    // EXACT integer arithmetic — the reconstruction error is kept as
    // the integer Σ(127·q_i − q8_i·scale)² (the true squared error
    // scaled by 127²/scale², with no float summation anywhere), and
    // the only float op, the rounding division, is one IEEE divide
    // both engines evaluate bit-identically. Pure per-row projection:
    // zero shuffles at any corpus size.
    QuerySpec("d32_embed_quant", by("vec_id"), Pins(Scans(embeddings = 1), 0),
      Corpus.qtabCte +
      """, sc AS (
        |  SELECT vec_id, q,
        |    greatest(CAST(list_max(list_transform(q, x -> abs(x))) AS BIGINT), 1) AS scale
        |  FROM qtab),
        |q8t AS (
        |  SELECT vec_id, q, scale,
        |    list_transform(q, x -> CAST(round(CAST(127 * x AS DOUBLE) / scale) AS BIGINT)) AS q8
        |  FROM sc)
        |SELECT vec_id, scale,
        |  CAST(list_sum(list_transform(range(1, len(q) + 1), i ->
        |    (127 * q[i] - q8[i] * scale) * (127 * q[i] - q8[i] * scale))) AS BIGINT) AS sq_err,
        |  md5(array_to_string(list_transform(q8, x -> CAST(x AS VARCHAR)), ',')) AS q8_hash
        |FROM q8t ORDER BY vec_id""".stripMargin) { (s, dir) =>
      Corpus.qvecs(s, dir)
        .withColumn("scale",
          greatest(expr("aggregate(q, CAST(0 AS LONG), (acc, x) -> greatest(acc, abs(x)))"), lit(1L)))
        .withColumn("q8", expr(
          "transform(q, x -> CAST(round(CAST(127 * x AS DOUBLE) / scale) AS LONG))"))
        .withColumn("sq_err", expr(
          "aggregate(zip_with(q, q8, (a, b) -> (127 * a - b * scale) * (127 * a - b * scale)), CAST(0 AS LONG), (acc, x) -> acc + x)"))
        .select(col("vec_id"), col("scale"), col("sq_err"),
          md5(concat_ws(",", expr("transform(q8, x -> CAST(x AS STRING))"))).as("q8_hash"))
    },

    // k-means assignment step against fixed deterministic centroids —
    // argmin as the same shuffle-free per-row fold the IVF path uses
    // (r3 shipped it as a map-side min(struct) aggregate; the fold
    // removes even that one n-row exchange).
    // k-NN label EVALUATION — the embedding-quality report a training
    // pipeline reads before trusting its vectors: leave-one-out 3-NN
    // classification over the labeled corpus, reported as the full
    // confusion matrix. Reuses d06's exact-cosine machinery (broadcast
    // pair stream, integer dot products, TopKPerGroup pruning the pair
    // stream to ≤3 rows per query per partition BEFORE the rank
    // exchange); labels ride the SAME quantization scan on both sides
    // (no join-back), majority vote tie-breaks (votes desc, label asc)
    // — every comparison exact, so the matrix is bit-stable
    // cross-engine. A good embedding space classifies its own labels;
    // the matrix says WHERE it doesn't.
    QuerySpec("d74_knn_eval", by("true_label", "pred_label"),
      // Scans: labels ride the quantization scan on both pair sides (a + broadcast b) — no label
      // join-back
      Pins(Scans(embeddings = 2), 3, cartesian = Some(Cartesian.ExactBaseline(
        "leave-one-out eval on d06's baseline: the eval side must be exact"))),
      Corpus.qtabCte +
      s""", lab AS (
         |  SELECT q.vec_id, e.label, q.q, q.norm2
         |  FROM qtab q JOIN embeddings e USING (vec_id)),
         |top3 AS (
         |  SELECT a_id, a_label, b_label FROM (
         |    SELECT a.vec_id AS a_id, a.label AS a_label, b.label AS b_label,
         |      ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
         |        CAST(${duckDot.format("a.q", "b.q")} AS DOUBLE)
         |        / (sqrt(CAST(a.norm2 AS DOUBLE)) * sqrt(CAST(b.norm2 AS DOUBLE))) DESC,
         |        b.vec_id ASC) AS rn
         |    FROM lab a JOIN lab b ON a.vec_id <> b.vec_id) t
         |  WHERE rn <= 3),
         |votes AS (
         |  SELECT a_id, a_label, b_label, count(1) AS votes
         |  FROM top3 GROUP BY 1, 2, 3),
         |pred AS (
         |  SELECT a_id, a_label, b_label FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY a_id
         |      ORDER BY votes DESC, b_label ASC) AS vr FROM votes) t
         |  WHERE vr = 1)
         |SELECT a_label AS true_label, b_label AS pred_label, count(1) AS n
         |FROM pred GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      val base = Corpus.qvecsAll(graft.sources.Tables.embeddings(s, dir))
      val a = base.select(col("vec_id").as("a_id"), col("label").as("a_label"),
        col("q").as("qa"), col("norm2").as("na"))
      val b = base.select(col("vec_id").as("b_id"), col("label").as("b_label"),
        col("q").as("qb"), col("norm2").as("nb"))
      val pairs = a.join(broadcast(b), col("a_id") =!= col("b_id"))
        .withColumn("dot", DotLong(col("qa"), col("qb")))
        .withColumn("cos",
          col("dot").cast("double")
            / (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
      val top3 = graft.plans.TopK.perGroup(pairs,
        Seq("a_id"), Seq(("cos", true), ("b_id", false)), k = 3, rankName = "rn")
      val votes = top3.groupBy("a_id", "a_label", "b_label")
        .agg(count(lit(1)).as("votes"))
      val pred = graft.plans.TopK.perGroup(votes,
        Seq("a_id"), Seq(("votes", true), ("b_label", false)), k = 1, rankName = "vr")
      pred
        .groupBy(col("a_label").as("true_label"), col("b_label").as("pred_label"))
        .agg(count(lit(1)).as("n"))
    },

    // Cluster PURITY audit — do the d15/d35 cells mean anything? Per
    // √n-cell majority-label purity against the ground-truth labels:
    // the clustering-quality gate run before trusting cell-level
    // operations (semantic dedup reps, IVF routing). Labels ride the
    // quantization scan (no join-back), the assignment is the
    // shuffle-free broadcast-fold (d35's), and the only exchanges are
    // two bounded aggregations ((cell, label) then cell). Purity is
    // one divide of exact longs.
    // Scans: ONE labeled quantization pass through the shuffle-free assignment; both rollups are
    // bounded-key aggregates
    QuerySpec("d75_cluster_purity", by("cell"), Pins(Scans(embeddings = 1), 4),
      Corpus.qtabCte + ", " +
      centsSqlFrom("(SELECT CAST(ceil(sqrt(count(1))) AS BIGINT) FROM qtab)") +
      s""", assign AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT q.vec_id, ce.c AS cell,
         |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
         |        ${duckSqDist.format("q.q", "ce.cv")} ASC, ce.c ASC) AS rn
         |    FROM qtab q CROSS JOIN cents ce) t
         |  WHERE rn = 1),
         |cl AS (
         |  SELECT a.cell, e.label, count(1) AS n
         |  FROM assign a JOIN embeddings e USING (vec_id)
         |  GROUP BY 1, 2),
         |ranked AS (
         |  SELECT cell, label, n,
         |    ROW_NUMBER() OVER (PARTITION BY cell ORDER BY n DESC, label ASC) AS rn,
         |    CAST(sum(n) OVER (PARTITION BY cell) AS BIGINT) AS n_members,
         |    count(1) OVER (PARTITION BY cell) AS n_labels
         |  FROM cl)
         |SELECT cell, n_members, n_labels, label AS top_label, n AS n_top,
         |  CAST(n AS DOUBLE) / n_members AS purity
         |FROM ranked WHERE rn = 1 ORDER BY cell""".stripMargin) { (s, dir) =>
      val n = graft.sources.Stats.parquetRowCount(s, s"$dir/embeddings.parquet")
      val ass = assignTop2(
        Corpus.qvecsAll(graft.sources.Tables.embeddings(s, dir)),
        centroids(s, ivfCells(n)))
      val cl = ass.groupBy(col("cell1").as("cell"), col("label"))
        .agg(count(lit(1)).as("n"))
      cl.groupBy("cell")
        .agg(sum(col("n")).as("n_members"),
          count(lit(1)).as("n_labels"),
          max_by(col("label"), struct(col("n"), lit(0L) - col("label"))).as("top_label"),
          max_by(col("n"), struct(col("n"), lit(0L) - col("label"))).as("n_top"))
        .withColumn("purity", col("n_top").cast("double") / col("n_members"))
    },

    // FILTERED ANN — vector search under a metadata predicate, the
    // vector-database feature a retrieval pipeline leans on ("nearest
    // neighbors WITH label = X"): d15's IVF probe with the predicate
    // pushed INTO the cell join, so non-qualifying postings are
    // dropped before any distance math or rank exchange — never
    // "search then filter", which silently under-returns when the
    // filter is selective. The fixture predicate is per-query
    // (neighbor label = (query label + 1) mod 10 — a deterministic
    // cross-class lookup exercising every label), labels ride the
    // quantization scan (qvecsAll), and the probe/data sides share
    // the ONE persisted assignment pass (d15's materialize-once
    // reasoning verbatim).
    // Scans: d15's two-pass shape (refinement + persisted assignment)
    QuerySpec("d78_ann_filtered", by("a_id", "rn"), Pins(Scans(embeddings = 2), 8),
      ivfCents1Cte +
      s""", ranked2 AS (
         |  SELECT q.vec_id, e.label, ce.c AS cell, q.q, q.norm2,
         |    ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
         |      ${duckSqDist.format("q.q", "ce.cv")} ASC, ce.c ASC) AS rn
         |  FROM qtab q JOIN embeddings e USING (vec_id) CROSS JOIN cents1 ce),
         |assigned AS (SELECT vec_id, label, cell, q, norm2 FROM ranked2 WHERE rn = 1),
         |probes AS (SELECT vec_id, label, cell, q, norm2 FROM ranked2 WHERE rn <= 2)
         |SELECT a_id, a_label, b_id, b_label, rn, cos FROM (
         |  SELECT a.vec_id AS a_id, a.label AS a_label,
         |    b.vec_id AS b_id, b.label AS b_label,
         |    CAST(${duckDot.format("a.q", "b.q")} AS DOUBLE)
         |      / (sqrt(CAST(a.norm2 AS DOUBLE)) * sqrt(CAST(b.norm2 AS DOUBLE))) AS cos,
         |    ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
         |      CAST(${duckDot.format("a.q", "b.q")} AS DOUBLE)
         |      / (sqrt(CAST(a.norm2 AS DOUBLE)) * sqrt(CAST(b.norm2 AS DOUBLE))) DESC,
         |      b.vec_id ASC) AS rn
         |  FROM probes a JOIN assigned b ON a.cell = b.cell AND a.vec_id <> b.vec_id
         |    AND b.label = (a.label + 1) % 10) t
         |WHERE rn <= 3 ORDER BY a_id, rn""".stripMargin) { (s, dir) =>
      val q = Corpus.qvecsAll(graft.sources.Tables.embeddings(s, dir))
      val n = graft.sources.Stats.parquetRowCount(s, s"$dir/embeddings.parquet")
      val cents1 = refinedCents(s, q, n)
        .transform(persisted)
      val ass = assignTop2(q, cents1)
        .transform(persisted)
      val data = ass.select(col("vec_id"), col("cell1").as("cell"),
        col("q"), col("norm2"), col("label"))
      ivfTopK(ass, data, carry = Seq("label"),
          pairFilter = _.filter(col("label_b") === (col("label_a") + 1) % 10))
        .select(col("a_id"), col("label_a").as("a_label"),
          col("b_id"), col("label_b").as("b_label"), col("rn"), col("cos"))
    },

    QuerySpec("d13_knn_centroid", by("vec_id"), Pins(Scans(embeddings = 1), 2),
      Corpus.qtabCte + ", " + centroidsSql +
      s"""SELECT vec_id, c AS centroid, dist2 FROM (
         |  SELECT q.vec_id, ce.c,
         |    ${duckSqDist.format("q.q", "ce.cv")} AS dist2,
         |    ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
         |      ${duckSqDist.format("q.q", "ce.cv")} ASC,
         |      ce.c ASC) AS rn
         |  FROM qtab q CROSS JOIN cents ce) t
         |WHERE rn = 1 ORDER BY vec_id""".stripMargin) { (s, dir) =>
      assignTop2(Corpus.qvecs(s, dir), centroids(s, 8))
        .select(col("vec_id"), col("cell1").as("centroid"), col("dist1").as("dist2"))
    },

    // IVF ANN: nlist = ⌈√n⌉ seed centroids, one k-means refinement
    // (per-dim floor(mean) over the assigned members — exact integer
    // math in both engines), re-assign, then intra-cell top-3 with the
    // query side probing its nprobe=2 nearest cells (standard IVF
    // search: data lives in 1 cell, probes widen recall; a pair can
    // meet in at most one cell, so no dedup is needed). Both the
    // assignment and the probe selection come from ONE shuffle-free
    // per-row top-2 fold over the broadcast centroid array
    // ([[assignTop2]]) — data side takes cell1, query side explodes
    // {cell1, cell2}.
    // Scans: the two k-means passes: refinement + persisted assignment
    QuerySpec("d15_ann_ivf", by("a_id", "rn"), Pins(Scans(embeddings = 2), 8),
      ivfProbeSql) { (s, dir) =>
      val q = Corpus.qvecs(s, dir)
      val n = graft.sources.Stats.parquetRowCount(s, s"$dir/embeddings.parquet")
      // lazy materialize-once: cents1 (√n rows) feeds BOTH sides of
      // the final cell self-join, and exchange reuse is not
      // guaranteed across the two differently-shaped consumers —
      // without this the whole refinement subtree (embeddings scan +
      // fold + per-cell aggregates) executes twice (measured: 4
      // scans). persist (not localCheckpoint) keeps the lineage, so
      // losing an executor on a real cluster recomputes the cached
      // partitions instead of failing the query.
      val cents1 = refinedCents(s, q, n)
        .transform(persisted)
      // same materialize-once reasoning one level up: the refined
      // assignment feeds BOTH sides of the cell equi-join (the probe
      // explode and the data side), whose exchanges differ in shape —
      // without this the embeddings scan + fold run twice.
      val ass = assignTop2(q, cents1)
        .transform(persisted)
      ivfTopK(ass, ass.select(col("vec_id"), col("cell1").as("cell"),
          col("q"), col("norm2")))
    },

    // EMBEDDING OUTLIER AUDIT — the data-quality sweep a vector
    // corpus runs before indexing: vectors anomalously FAR from their
    // own cell's center (corrupt encodes, wrong-modality rows, zeroed
    // payloads) poison k-means refinement and recall measurements
    // alike. Flags vec_id whose center distance d² exceeds its cell's
    // mean + 2σ — computed EXACTLY: with per-cell n, S=Σd², SS=Σ(d²)²,
    // the flag is (n·d² − S) > 0 AND (n·d² − S)² > 4(n·SS − S²), the
    // z-test cross-multiplied so no mean/stddev division ever happens
    // (sums as DECIMAL(38,0) in Spark / HUGEINT in DuckDB — b29's
    // 128-bit trick; (d²)² alone overflows a long at this grid).
    // Rides d15's index build: assignment is the shuffle-free
    // broadcast fold, stats are ONE √n-row aggregate joined back
    // broadcast — the vector stream never shuffles. At 100 TB this
    // audit is a free rider on the nightly index job.
    // Scans: d15's index-build shape — refine pass + assignment pass; the stats join is broadcast,
    // the vector stream never re-scans
    QuerySpec("d87_embed_outliers", by("vec_id"), Pins(Scans(embeddings = 2), 8),
      ivfCents1Cte +
      s""", ass AS (
         |  SELECT vec_id, cell, d2 FROM (
         |    SELECT q.vec_id, ce.c AS cell,
         |      ${duckSqDist.format("q.q", "ce.cv")} AS d2,
         |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
         |        ${duckSqDist.format("q.q", "ce.cv")} ASC, ce.c ASC) AS rn
         |    FROM qtab q CROSS JOIN cents1 ce) t
         |  WHERE rn = 1),
         |st AS (
         |  SELECT cell, count(1) AS n_cell,
         |    sum(CAST(d2 AS HUGEINT)) AS s1,
         |    sum(CAST(d2 AS HUGEINT) * CAST(d2 AS HUGEINT)) AS s2
         |  FROM ass GROUP BY cell)
         |SELECT a.vec_id, a.cell, a.d2, st.n_cell
         |FROM ass a JOIN st USING (cell)
         |WHERE CAST(st.n_cell AS HUGEINT) * CAST(a.d2 AS HUGEINT) > st.s1
         |  AND (CAST(st.n_cell AS HUGEINT) * CAST(a.d2 AS HUGEINT) - st.s1)
         |      * (CAST(st.n_cell AS HUGEINT) * CAST(a.d2 AS HUGEINT) - st.s1)
         |      > 4 * (CAST(st.n_cell AS HUGEINT) * st.s2 - st.s1 * st.s1)
         |ORDER BY a.vec_id""".stripMargin) { (s, dir) =>
      val q = Corpus.qvecs(s, dir)
      val n = graft.sources.Stats.parquetRowCount(s, s"$dir/embeddings.parquet")
      val cents1 = refinedCents(s, q, n)
        .transform(persisted)
      // the assignment feeds both the stats aggregate and the per-row
      // flag — materialize once (d15's reasoning; there is no exchange
      // between scan and assignment for reuse to latch onto)
      val ass = assignTop2(q, cents1)
        .select(col("vec_id"), col("cell1").as("cell"), col("dist1").as("d2"))
        .transform(persisted)
      val stats = ass.groupBy("cell")
        .agg(count(lit(1)).as("n_cell"),
          sum(col("d2").cast("decimal(38,0)")).as("s1"),
          sum(col("d2").cast("decimal(19,0)") * col("d2").cast("decimal(19,0)")).as("s2"))
      ass.join(broadcast(stats), Seq("cell"))
        .filter(outlierFlag)
        .select(col("vec_id"), col("cell"), col("d2"), col("n_cell"))
    },

    // k-NN GRAPH HUBNESS audit (Radovanović et al. 2010, JMLR — "Hubs
    // in Space"): high-dimensional k-NN graphs grow HUB nodes that
    // appear in far more neighbor lists than average, poisoning
    // retrieval diversity and graph-based clustering alike; this is
    // the per-node degree report a pipeline reads before trusting a
    // k-NN graph. Directed edges are d50's probe stream verbatim
    // (route the ONE corpus scan against the persisted index, top-3
    // per node via TopKPerGroup); the edge list (≤3n rows of two
    // longs) is persisted once and feeds BOTH the degree rollup (one
    // union-shaped shuffle carries out- AND in-degree) and the
    // reciprocity semi-join (an edge is MUTUAL iff its reverse
    // exists). is_hub cross-multiplies in_deg·n > 2·Σedges — strictly
    // more than twice the mean in-degree — so the verdict is exact
    // integer arithmetic, no float mean. The node list comes from the
    // postings artifact (8 bytes/row), never a second corpus scan.
    // Scans: ONE embeddings pass (the probe side) against the index read-backs; the persisted edge
    // list feeds degrees + mutuality
    QuerySpec("d88_knn_hubness", by("vec_id"), Pins(Scans(embeddings = 1), 11),
      knnEdgesCte +
      s""", deg AS (
         |  SELECT vec_id, CAST(sum(o) AS BIGINT) AS out_deg,
         |         CAST(sum(i) AS BIGINT) AS in_deg FROM (
         |    SELECT a_id AS vec_id, 1 AS o, 0 AS i FROM edges
         |    UNION ALL SELECT b_id, 0, 1 FROM edges) u GROUP BY vec_id),
         |mut AS (
         |  SELECT e.a_id AS vec_id, count(1) AS n_mutual
         |  FROM edges e JOIN edges r ON e.a_id = r.b_id AND e.b_id = r.a_id
         |  GROUP BY e.a_id),
         |tot AS (SELECT count(1) AS total_edges FROM edges),
         |nv AS (SELECT count(1) AS n FROM qtab)
         |SELECT q.vec_id,
         |  COALESCE(d.out_deg, 0) AS out_deg,
         |  COALESCE(d.in_deg, 0) AS in_deg,
         |  COALESCE(m.n_mutual, 0) AS n_mutual,
         |  COALESCE(d.in_deg, 0) * nv.n > 2 * tot.total_edges AS is_hub
         |FROM qtab q LEFT JOIN deg d USING (vec_id) LEFT JOIN mut m USING (vec_id)
         |CROSS JOIN tot CROSS JOIN nv
         |ORDER BY q.vec_id""".stripMargin) { (s, dir) =>
      val cents = denull(
        graft.sources.IO.readParquet(s, annIndexCents(s, dir)), "cv")
      val post = denull(
        graft.sources.IO.readParquet(s, annIndexPostings(s, dir)), "q")
      val n = graft.sources.Stats.parquetRowCount(s, s"$dir/embeddings.parquet")
      // the edge list feeds three consumers (degrees, both sides of
      // the reciprocity semi-join, the total) — materialize once
      val edges = ivfTopK(assignTop2(Corpus.qvecs(s, dir), cents), post)
        .select(col("a_id"), col("b_id"))
        .transform(persisted)
      val deg = edges.select(col("a_id").as("vec_id"), lit(1L).as("o"), lit(0L).as("i"))
        .unionAll(edges.select(col("b_id").as("vec_id"), lit(0L).as("o"), lit(1L).as("i")))
        .groupBy("vec_id")
        .agg(sum(col("o")).as("out_deg"), sum(col("i")).as("in_deg"))
      val mutual = edges
        .join(edges.select(col("b_id").as("a_id"), col("a_id").as("b_id")),
          Seq("a_id", "b_id"), "left_semi")
        .groupBy(col("a_id").as("vec_id"))
        .agg(count(lit(1)).as("n_mutual"))
      val totals = edges.agg(count(lit(1)).as("total_edges"))
      post.select("vec_id")
        .join(deg, Seq("vec_id"), "left")
        .join(mutual, Seq("vec_id"), "left")
        .na.fill(0L, Seq("out_deg", "in_deg", "n_mutual"))
        .crossJoin(broadcast(totals))
        .select(col("vec_id"), col("out_deg"), col("in_deg"), col("n_mutual"),
          (col("in_deg") * lit(n) > lit(2L) * col("total_edges")).as("is_hub"))
    },

    // Embedding variance SPECTRUM — the anisotropy health check an
    // embedding space gets before anyone trusts its cosines (Mu &
    // Viswanath 2018 "All-but-the-Top"; Ethayarajh 2019): if variance
    // concentrates in a few rogue dimensions, cosine similarity
    // degenerates to those dimensions and every downstream op (d06
    // search, d35 dedup, d15 cells) inherits the bias. Per-dimension
    // variance NUMERATOR V_d = n·Σx² − (Σx)² over the quantized grid
    // — EXACT integer sums carried as DECIMAL(38,0) (b29's 128-bit
    // trick; n·Σx² alone overflows a long at 100 TB), shares and the
    // descending cumulative curve are one-shot divides of the exact
    // sums cast to double. ONE corpus scan fans 64× into a bounded
    // 64-row aggregate (map-side partial per dimension); the ranking
    // window runs over 64 rows, never the corpus. The cum_share curve
    // IS the scree plot: var_rank where cum_share crosses 0.9 is the
    // space's effective dimensionality.
    QuerySpec("d89_embed_spectrum", by("pos"),
      // Scans: one corpus scan fans 64× into the bounded per-dim agg; ranking/cumulation windows
      // run over 64 rows, never the corpus
      Pins(Scans(embeddings = 1), 2, globalWindow = Some(
        "spectrum over the 64-dimension moment table")),
      Corpus.qtabCte +
      s""", perdim AS (
         |  SELECT pos0 AS pos,
         |    CAST(count(1) AS HUGEINT)
         |      * sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT))
         |      - sum(CAST(x AS HUGEINT)) * sum(CAST(x AS HUGEINT)) AS var_num
         |  FROM (SELECT pos - 1 AS pos0, q[pos] AS x
         |        FROM qtab, UNNEST(range(1, 65)) t(pos)) s
         |  GROUP BY pos0),
         |ranked AS (
         |  SELECT pos, var_num,
         |    ROW_NUMBER() OVER (ORDER BY var_num DESC, pos ASC) AS var_rank,
         |    sum(var_num) OVER (ORDER BY var_num DESC, pos ASC
         |      ROWS UNBOUNDED PRECEDING) AS cum_num,
         |    sum(var_num) OVER () AS tot
         |  FROM perdim)
         |SELECT pos, var_rank, CAST(var_num AS DOUBLE) AS var_num,
         |  CAST(var_num AS DOUBLE) / CAST(tot AS DOUBLE) AS var_share,
         |  CAST(cum_num AS DOUBLE) / CAST(tot AS DOUBLE) AS cum_share
         |FROM ranked ORDER BY pos""".stripMargin) { (s, dir) =>
      val perDim = dimMoments(Corpus.qvecs(s, dir))
        .select(col("pos"),
          (col("n_vals").cast("decimal(19,0)") * col("sum_x2").cast("decimal(19,0)")
            - col("sum_x").cast("decimal(19,0)") * col("sum_x").cast("decimal(19,0)"))
            .as("var_num"))
      val byVar = org.apache.spark.sql.expressions.Window
        .orderBy(col("var_num").desc, col("pos").asc)
      perDim
        .withColumn("var_rank", row_number().over(byVar))
        .withColumn("cum_num", sum(col("var_num")).over(
          byVar.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
        .withColumn("tot", sum(col("var_num")).over(
          org.apache.spark.sql.expressions.Window.partitionBy()))
        .select(col("pos"), col("var_rank"),
          col("var_num").cast("double").as("var_num"),
          (col("var_num").cast("double") / col("tot").cast("double")).as("var_share"),
          (col("cum_num").cast("double") / col("tot").cast("double")).as("cum_share"))
    },

    // Re-cluster DRIFT — the index REBUILD trigger, measured instead
    // of guessed: after the corpus outgrows its snapshot index (d52's
    // maintenance appends to OLD cells), how much would a fresh
    // clustering actually move? Cell ids are not comparable across
    // two clusterings (renumbering is not drift), so the measure is
    // the LABEL-INVARIANT contingency: per fresh cell, how many of
    // its members came from its single dominant snapshot cell
    // (dom_share ≈ 1 ⟺ the refresh just renamed structure; many
    // parents ⟺ genuinely new geometry — the purity machinery of d75
    // pointed old→new instead of label→cell). Both assignments ride
    // ONE corpus scan through two chained broadcast folds (snapshot +
    // current centroid artifacts, √n rows each); the contingency is
    // bounded at (√n)² cells and aggregates twice map-side. At 100 TB
    // this report is what decides between tonight's cheap append
    // (d52) and the expensive full re-cluster.
    // Scans: ONE corpus scan through two chained broadcast folds (snapshot + current centroid
    // artifacts are read-backs)
    QuerySpec("d91_recluster_drift", by("cell"), Pins(Scans(embeddings = 1), 6),
      Corpus.qtabCte +
      s", snap AS (SELECT * FROM qtab WHERE $snapCond), " +
      ivfCents1CteFrom("snap", "_s") + ", " + ivfCents1CteFrom("qtab") +
      s""", oldass AS (
         |  SELECT vec_id, cell AS old_cell FROM (
         |    SELECT q.vec_id, ce.c AS cell,
         |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
         |        ${duckSqDist.format("q.q", "ce.cv")} ASC, ce.c ASC) AS rn
         |    FROM qtab q CROSS JOIN cents1_s ce) t
         |  WHERE rn = 1),
         |newass AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT q.vec_id, ce.c AS cell,
         |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
         |        ${duckSqDist.format("q.q", "ce.cv")} ASC, ce.c ASC) AS rn
         |    FROM qtab q CROSS JOIN cents1 ce) t
         |  WHERE rn = 1),
         |cont AS (
         |  SELECT n.cell, o.old_cell, count(1) AS c
         |  FROM newass n JOIN oldass o USING (vec_id)
         |  GROUP BY n.cell, o.old_cell)
         |SELECT cell, CAST(sum(c) AS BIGINT) AS n_vecs,
         |  count(1) AS n_parents,
         |  CAST(max(c) AS BIGINT) AS n_dominant,
         |  CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS dom_share
         |FROM cont GROUP BY cell ORDER BY cell""".stripMargin) { (s, dir) =>
      val snapC = denull(
        graft.sources.IO.readParquet(s, annSnapCents(s, dir)), "cv")
      val curC = denull(
        graft.sources.IO.readParquet(s, annIndexCents(s, dir)), "cv")
      val both = assignTop2(
          assignTop2(Corpus.qvecs(s, dir), snapC)
            .select(col("vec_id"), col("q"), col("norm2"),
              col("cell1").as("old_cell")),
          curC)
        .select(col("cell1").as("cell"), col("old_cell"))
      both.groupBy("cell", "old_cell").agg(count(lit(1)).as("c"))
        .groupBy("cell")
        .agg(sum(col("c")).as("n_vecs"),
          count(lit(1)).as("n_parents"),
          max(col("c")).as("n_dominant"))
        .withColumn("dom_share",
          col("n_dominant").cast("double") / col("n_vecs").cast("double"))
    },

    // Mutual-kNN COMMUNITIES — the clustering the kNN graph was built
    // for: an undirected edge where BOTH endpoints rank each other in
    // their top-3 (the mutual-kNN criterion — robust to hubs precisely
    // because a hub's victims rarely rank IT back; d88 measures that
    // asymmetry, this exploits it), then connected components over the
    // mutual edges — semantic communities in embedding space, the
    // vector-side twin of d24's text-LSH clusters and the grouping a
    // SemDeDup-style "keep best per community" pass consumes. Edges
    // are d50's probe stream (one corpus scan against the persisted
    // index); the mutual filter is a self-semi-join on the ≤3n-row
    // edge list; the CC loop runs over the mutual MINORITY (d24's
    // convergence machinery, shared), never the corpus.
    // Scans: ONE embeddings pass (d88's probe side; the CC loop runs over the mutual minority)
    QuerySpec("d95_knn_communities", by("vec_id"), Pins(Scans(embeddings = 1), 2, loop = true),
      knnCommunityCte +
      """, sz AS (SELECT cluster_id, count(1) AS cluster_size FROM lbl GROUP BY 1)
        |SELECT l.id AS vec_id, l.cluster_id, s.cluster_size
        |FROM lbl l JOIN sz s USING (cluster_id) ORDER BY vec_id""".stripMargin) { (s, dir) =>
      val labels = mutualLabels(knnGraph(s, dir))
      labels
        .join(labels.groupBy("lbl").agg(count(lit(1)).as("cluster_size")), Seq("lbl"))
        .select(col("id").as("vec_id"), col("lbl").as("cluster_id"),
          col("cluster_size"))
    },

    // Directed MODULARITY of the d95 partition over the FULL kNN graph
    // — the measure-don't-guess gate on whether mutual-CC communities
    // actually capture the graph's edge mass or just shatter it
    // (Newman 2004; Leicht & Newman 2008 directed form): Q = Σ_c
    // [e_c/m − (dout_c/m)(din_c/m)], evaluated over ALL 3-NN edges
    // (the mutual filter built the partition; the full graph judges
    // it). Emitted EXACT: qnum_c = m·e_c − dout_c·din_c, so m²·Q =
    // Σ qnum — pure BIGINT cross-multiplies, no float division on
    // either engine (a 100 TB deployment would carry qnum as
    // decimal(38,0); at any SF the per-community rows also localize
    // WHICH community leaks — the audit d95's consumer reads before
    // trusting the grouping). Nodes outside any mutual edge are
    // singleton communities of themselves. ZERO live corpus scans:
    // the audit reads the persisted edge + community artifacts (the
    // nightly job built them once — d95 is the live definition, this
    // is the d50-style consumer); every aggregate runs on the ≤3n
    // edge minority.
    // Scans: ZERO live scans — the audit reads the persisted edge + community artifacts (d95 is
    // the live definition; this is the d50-style consumer)
    QuerySpec("d96_knn_modularity", by("cluster_id"), Pins(Scans(), 13),
      knnCommunityCte +
      // allnodes dedups in a SUBQUERY, not a top-level UNION: under
      // WITH RECURSIVE, DuckDB 1.0 treats ANY cte body shaped
      // `a UNION b` as a recursive evaluation and skips the dedup —
      // a quiet 2× node inflation that multiplied through every join
      """, allnodes AS (
        |  SELECT DISTINCT id FROM (
        |    SELECT a_id AS id FROM edges UNION ALL SELECT b_id FROM edges) u),
        |lab AS (
        |  SELECT n.id, COALESCE(l.cluster_id, n.id) AS cid
        |  FROM allnodes n LEFT JOIN lbl l ON l.id = n.id),
        |e2 AS (
        |  SELECT la.cid AS ca, lb.cid AS cb FROM edges e
        |  JOIN lab la ON la.id = e.a_id JOIN lab lb ON lb.id = e.b_id),
        |outd AS (
        |  SELECT ca AS cluster_id, count(1) AS d_out,
        |    CAST(sum(CASE WHEN ca = cb THEN 1 ELSE 0 END) AS BIGINT) AS e_intra
        |  FROM e2 GROUP BY 1),
        |ind AS (SELECT cb AS cluster_id, count(1) AS d_in FROM e2 GROUP BY 1),
        |sizes AS (SELECT cid AS cluster_id, count(1) AS n_nodes FROM lab GROUP BY 1),
        |tot AS (SELECT count(1) AS m FROM e2)
        |SELECT s.cluster_id, s.n_nodes,
        |  COALESCE(o.e_intra, 0) AS e_intra,
        |  COALESCE(o.d_out, 0) AS d_out,
        |  COALESCE(i.d_in, 0) AS d_in,
        |  tot.m * COALESCE(o.e_intra, 0)
        |    - COALESCE(o.d_out, 0) * COALESCE(i.d_in, 0) AS qnum
        |FROM sizes s LEFT JOIN outd o USING (cluster_id)
        |  LEFT JOIN ind i USING (cluster_id), tot
        |ORDER BY s.cluster_id""".stripMargin) { (s, dir) =>
      val edges = graft.sources.IO.readParquet(s, annKnnEdges(s, dir))
        .transform(persisted)
      val cc = graft.sources.IO.readParquet(s, annIndexCommunities(s, dir))
        .toDF("id", "lbl")
      val nodes = edges.select(col("a_id").as("id"))
        .union(edges.select(col("b_id").as("id"))).distinct()
      val lab = nodes.join(cc, Seq("id"), "left")
        .select(col("id"), coalesce(col("lbl"), col("id")).as("cid"))
      val e2 = edges
        .join(lab.select(col("id").as("a_id"), col("cid").as("ca")), Seq("a_id"))
        .join(lab.select(col("id").as("b_id"), col("cid").as("cb")), Seq("b_id"))
        .transform(persisted)
      val outd = e2.groupBy(col("ca").as("cluster_id"))
        .agg(count(lit(1)).as("d_out"),
          sum(when(col("ca") === col("cb"), 1L).otherwise(0L)).as("e_intra"))
      val ind = e2.groupBy(col("cb").as("cluster_id"))
        .agg(count(lit(1)).as("d_in"))
      val sizes = lab.groupBy(col("cid").as("cluster_id"))
        .agg(count(lit(1)).as("n_nodes"))
      val m = e2.agg(count(lit(1)).as("m"))
      sizes
        .join(outd, Seq("cluster_id"), "left")
        .join(ind, Seq("cluster_id"), "left")
        .na.fill(0L, Seq("d_out", "e_intra", "d_in"))
        .crossJoin(broadcast(m))
        .select(col("cluster_id"), col("n_nodes"), col("e_intra"),
          col("d_out"), col("d_in"),
          (col("m") * col("e_intra") - col("d_out") * col("d_in")).as("qnum"))
    },

    // Community MEDOID — the "keep best per community" act d95's
    // grouping exists for (SemDeDup's representative selection,
    // Abbas et al. 2023, at the community rather than cell level):
    // per community the member minimizing total squared distance to
    // the others. The brute-force medoid is O(size²) pair math; this
    // uses the EXACT linear identity Σ_j‖x_i−x_j‖² = n_c·‖x_i‖² +
    // Σ_j‖x_j‖² − 2·⟨x_i, S_c⟩ with S_c = Σ_j x_j — ONE elementwise
    // community-sum pass (64-long rows grouped by (community, dim),
    // the only exchange beyond the label join) and one dot per member
    // against its community sum. All integer on the quantized grid:
    // bit-identical cross-engine, no cosine floats anywhere. Ties
    // break to the smaller vec_id via lexicographic struct min. ZERO
    // live corpus scans: members come from the postings artifact and
    // labels from the communities artifact (the postings hold exactly
    // the corpus vectors — the d50 ← d15 sharing rationale).
    // Scans: ZERO live scans — members from the postings artifact, labels from the communities
    // artifact
    QuerySpec("d97_community_medoid", by("cluster_id"), Pins(Scans(), 7),
      medoidScoredCte +
      """SELECT cluster_id, vec_id AS medoid_id, n_nodes, ssd
        |FROM scored WHERE rn = 1 ORDER BY cluster_id""".stripMargin) { (s, dir) =>
      val labels = graft.sources.IO.readParquet(s, annIndexCommunities(s, dir))
      val mem = denull(
          graft.sources.IO.readParquet(s, annIndexPostings(s, dir)), "q")
        .join(labels, Seq("vec_id"))
        .transform(persisted)
      val longf = mem.select(col("cluster_id"), col("vec_id"), col("norm2"),
        posexplode(col("q")).as(Seq("pos", "v")))
      val csum = longf.groupBy("cluster_id", "pos").agg(sum(col("v")).as("sv"))
      val dots = longf.join(csum, Seq("cluster_id", "pos"))
        .groupBy("cluster_id", "vec_id")
        .agg(sum(col("v") * col("sv")).as("dot_s"))
      val stats = mem.groupBy("cluster_id")
        .agg(count(lit(1)).as("n_nodes"), sum(col("norm2")).as("n2_sum"))
      mem.select(col("cluster_id"), col("vec_id"), col("norm2"))
        .join(dots, Seq("cluster_id", "vec_id"))
        .join(stats, Seq("cluster_id"))
        .withColumn("ssd",
          col("n_nodes") * col("norm2") + col("n2_sum") - lit(2L) * col("dot_s"))
        .groupBy("cluster_id")
        .agg(min(struct(col("ssd"), col("vec_id"))).as("w"),
          first(col("n_nodes")).as("n_nodes"))
        .select(col("cluster_id"), col("w.vec_id").as("medoid_id"),
          col("n_nodes"), col("w.ssd").as("ssd"))
    },

    // Community PURITY against the ground-truth labels — d75's
    // clustering-eval question asked of the d95 partition instead of
    // the IVF cells: does the mutual-kNN criterion recover the true
    // classes, or does hub noise fuse them? Per community the member
    // count, distinct-label count, majority label (ties to the
    // smaller label, d75's convention) and its share — the external
    // validation a deployment runs on a labeled slice before trusting
    // unsupervised communities on the unlabeled 100 TB. ONE corpus
    // scan, pruned to (vec_id, label) — the vectors themselves never
    // load; community membership comes from the persisted labels
    // artifact, and everything downstream is bounded by the community
    // minority. Purity divides identical integers in both engines →
    // bit-identical doubles.
    // Scans: ONE corpus pass pruned to (vec_id, label); membership is the communities artifact
    // read-back
    QuerySpec("d98_community_purity", by("cluster_id"), Pins(Scans(embeddings = 1), 3),
      knnCommunityCte +
      """, cl AS (
        |  SELECT l.cluster_id, e.label, count(1) AS n
        |  FROM lbl l JOIN embeddings e ON e.vec_id = l.id
        |  GROUP BY 1, 2),
        |prnk AS (
        |  SELECT cluster_id, label, n,
        |    ROW_NUMBER() OVER (PARTITION BY cluster_id ORDER BY n DESC, label ASC) AS rn,
        |    CAST(sum(n) OVER (PARTITION BY cluster_id) AS BIGINT) AS n_members,
        |    count(1) OVER (PARTITION BY cluster_id) AS n_labels
        |  FROM cl)
        |SELECT cluster_id, n_members, n_labels, label AS top_label, n AS n_top,
        |  CAST(n AS DOUBLE) / n_members AS purity
        |FROM prnk WHERE rn = 1 ORDER BY cluster_id""".stripMargin) { (s, dir) =>
      val labels = graft.sources.IO.readParquet(s, annIndexCommunities(s, dir))
      val cl = graft.sources.Tables.embeddings(s, dir)
        .select(col("vec_id"), col("label"))
        .join(labels, Seq("vec_id"))
        .groupBy("cluster_id", "label").agg(count(lit(1)).as("n"))
      cl.groupBy("cluster_id")
        .agg(sum(col("n")).as("n_members"),
          count(lit(1)).as("n_labels"),
          max_by(col("label"), struct(col("n"), lit(0L) - col("label"))).as("top_label"),
          max_by(col("n"), struct(col("n"), lit(0L) - col("label"))).as("n_top"))
        .withColumn("purity", col("n_top").cast("double") / col("n_members"))
    },

    // ROUTING FIDELITY — does s38's nearest-medoid serving shortcut
    // reproduce the exact community membership it stands in for?
    // (vector quantization's classic encoder-vs-partition gap: the
    // medoid is IN the community, but a boundary member can sit closer
    // to a NEIGHBORING community's medoid). Per community: members,
    // how many route home, the agreement share, and the farthest
    // member-to-routed-medoid distance — the number that decides
    // whether one medoid per community is enough or a community needs
    // sub-representatives before the gate serves at 100 TB. ONE corpus
    // scan (the routed feed); membership is the communities-artifact
    // read-back; agreement is an exact integer cross-count.
    // Scans: ONE corpus pass (the routed feed); membership is the communities artifact read-back
    QuerySpec("d99_route_fidelity", by("cluster_id"), Pins(Scans(embeddings = 1), 4),
      routedCte +
      """SELECT l.cluster_id, count(1) AS n_members,
        |  CAST(sum(CASE WHEN r.cluster_id = l.cluster_id THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_agree,
        |  max(r.d2) AS max_d2,
        |  CAST(CAST(sum(CASE WHEN r.cluster_id = l.cluster_id THEN 1 ELSE 0 END)
        |    AS BIGINT) AS DOUBLE) / count(1) AS agree_frac
        |FROM lbl l JOIN routed r ON r.vec_id = l.id
        |GROUP BY 1 ORDER BY l.cluster_id""".stripMargin) { (s, dir) =>
      val meds = graft.sources.IO.readParquet(s, annIndexMedoids(s, dir))
      val labels = graft.sources.IO.readParquet(s, annIndexCommunities(s, dir))
      val routes = communityGate(meds)(Corpus.qvecs(s, dir))
      labels
        .join(routes.select(col("vec_id"), col("cluster_id").as("routed_id"),
          col("d2")), Seq("vec_id"))
        .groupBy("cluster_id")
        .agg(count(lit(1)).as("n_members"),
          sum(when(col("routed_id") === col("cluster_id"), 1L).otherwise(0L))
            .as("n_agree"),
          max(col("d2")).as("max_d2"))
        .withColumn("agree_frac", col("n_agree").cast("double") / col("n_members"))
    },

    // IVF probe against the PERSISTED index — the build-once/probe-many
    // split d15 demonstrates in one plan: the expensive clustering (the
    // nightly index job at 100 TB) ran ONCE through Scratch/IO and the
    // measured plan reads the artifact back — refined centroids route
    // the query side (broadcast fold), inverted lists with INLINE
    // vectors serve the cell join (no join back to vector storage,
    // the FAISS IVF layout). Output ≡ d15 row-for-row (shared oracle):
    // the index is exact state, not an approximation of it.
    // Scans: the measured plan: ONE embeddings scan (the query side) — the clustering ran inside
    // the construction-time Scratch index build; centroids + postings are read back from the
    // artifact
    QuerySpec("d50_ann_index_probe", by("a_id", "rn"), Pins(Scans(embeddings = 1), 4),
      ivfProbeSql) { (s, dir) =>
      val cents = denull(
        graft.sources.IO.readParquet(s, annIndexCents(s, dir)), "cv")
      val post = denull(
        graft.sources.IO.readParquet(s, annIndexPostings(s, dir)), "q")
      ivfTopK(assignTop2(Corpus.qvecs(s, dir), cents), post)
    },

    // SQ8 ADC probe over the COMPRESSED persisted index — the serving
    // configuration a 100 TB deployment actually runs: postings hold
    // 1-byte codes (8× smaller than the long grid → 8× more index per
    // executor-memory GB, 8× less scan IO per probe), queries stay
    // FULL precision (asymmetric distance computation, the FAISS ADC
    // scheme — quantize only what must be stored). The per-vector
    // max-abs scale CANCELS out of cosine (b̂ = q8·scale/127 on both
    // sides of dot/norm), so cos8 = Σ(qa·q8b)/(√na·√n8b) is a quotient
    // of exact longs — bit-stable cross-engine, no reconstruction
    // multiply in the hot loop. Same routing, same cell join, same
    // TopKPerGroup pruning as d50; only the posting payload changes.
    // Scans: ONE embeddings scan (the query side) — both the index build and its SQ8 compression
    // are construction-time Scratch artifacts; the measured plan reads codes + centroids back
    QuerySpec("d53_sq8_probe", by("a_id", "rn"), Pins(Scans(embeddings = 1), 4),
      sq8ProbeSql) { (s, dir) =>
      val cents = denull(
        graft.sources.IO.readParquet(s, annIndexCents(s, dir)), "cv")
      val post8 = graft.sources.IO.readParquet(s, annIndexSq8(s, dir))
        .select(col("vec_id").as("b_id"), col("cell"),
          expr("transform(q8, x -> CAST(coalesce(x, CAST(0 AS TINYINT)) AS LONG))").as("q8l"),
          col("n8").as("n8b"))
      val a = assignTop2(Corpus.qvecs(s, dir), cents)
        .select(col("vec_id").as("a_id"), col("q").as("qa"), col("norm2").as("na"),
          explode(array(col("cell1"), col("cell2"))).as("cell"))
        .filter(col("cell") >= 0)
      val scored = a.join(post8, Seq("cell"))
        .filter(col("a_id") =!= col("b_id"))
        .withColumn("dot8", DotLong(col("qa"), col("q8l")))
        .withColumn("cos8",
          col("dot8").cast("double")
            / (sqrt(col("na").cast("double")) * sqrt(col("n8b").cast("double"))))
      graft.plans.TopK.perGroup(scored,
          Seq("a_id"), Seq(("cos8", true), ("b_id", false)), k = 3, rankName = "rn")
        .select("a_id", "cell", "b_id", "rn", "cos8")
    },

    // IVFPQ ADC probe — the FULL production FAISS serving shape,
    // composing the catalog's ANN pieces end-to-end: d56's PQ codes as
    // the payload of d50's persisted inverted lists, searched with
    // d53's asymmetric-distance scheme. The query side builds a
    // per-query LOOKUP TABLE — 128 integer dots of its 8 subvectors
    // against the broadcast 128-row codebook, a per-row projection —
    // and each candidate's score is then 8 table lookups summed
    // (aggregate over the code digits), never a 64-dim dot: the ADC
    // trick that makes PQ serving cheap. The cell join carries only
    // 4-byte codes + one norm per posting (128× less scan IO than the
    // long grid, 16× less than SQ8 — the difference between an index
    // that fits executor memory and one that doesn't at 100 TB).
    // LUT-sum ≡ dot(query, reconstruction) in exact longs, so the
    // oracle mirrors it bit-identically via the reconstructed vectors.
    // Scans: ONE embeddings scan (the query side) — the IVFPQ index (postings cells + PQ codebook
    // + codes) is built construction-time through Scratch; the measured plan reads artifacts back
    QuerySpec("d80_ivfpq_probe", by("a_id", "rn"), Pins(Scans(embeddings = 1), 7),
      ivfpqProbeSql) { (s, dir) =>
      graft.plans.TopK.perGroup(ivfpqScored(s, dir),
          Seq("a_id"), Seq(("cos_pq", true), ("b_id", false)), k = 3, rankName = "rn")
        .select("a_id", "cell", "b_id", "rn", "cos_pq")
    },

    // IVFPQ + exact RERANK — the two-stage serving path a production
    // deployment actually runs over a 128×-compressed index (FAISS's
    // "refine" step, IVFPQR): the cheap ADC ranking shortlists k'=10
    // candidates per query (d80's machinery — only codes are scanned),
    // then ONLY the shortlist pays full-precision math: ~10 point
    // lookups per query against the id-keyed postings via the b_id
    // EQUI-join (which side broadcasts is a stats call — a tiny query
    // set broadcasts its shortlist; a corpus-wide eval lets AQE
    // shuffle both sides on b_id — either way no re-pairing beyond
    // the shortlist; PlanSpec pins the equi shape), exact integer
    // cosine, final top-3. The agreement arc this closes:
    // raw ADC top-1 sits near chance on this signal-flat fixture
    // (0.058), the reranked top-1 recovers to the shortlist's recall
    // of the true neighbor — compression pays for candidate
    // GENERATION, precision comes from the refine step. prn in the
    // output records how deep in the ADC shortlist the true winner
    // sat — the number that tunes k'.
    // Scans: the same single query-side scan; shortlist refine joins the id-keyed postings
    // ARTIFACT (broadcast shortlist side), never the embeddings table
    QuerySpec("d81_ivfpq_rerank", by("a_id", "rn"), Pins(Scans(embeddings = 1), 8),
      ivfpqRerankSql) { (s, dir) =>
      val short = graft.plans.TopK.perGroup(ivfpqScored(s, dir),
          Seq("a_id"), Seq(("cos_pq", true), ("b_id", false)), k = 10, rankName = "prn")
        .select("a_id", "qa", "na", "b_id", "prn")
      val post = denull(
        graft.sources.IO.readParquet(s, annIndexPostings(s, dir)), "q")
        .select(col("vec_id").as("b_id"), col("q").as("qb"),
          col("norm2").as("nb"))
      val rer = short.join(post, Seq("b_id"))
        .withColumn("cos", DotLong(col("qa"), col("qb")).cast("double")
          / (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
      graft.plans.TopK.perGroup(rer,
          Seq("a_id"), Seq(("cos", true), ("b_id", false)), k = 3, rankName = "rn")
        .select("a_id", "b_id", "prn", "rn", "cos")
    },

    // Product-quantization trainer + encoder + distortion report — the
    // 128× compression step beyond d53's SQ8 (8 subspaces × 16
    // codewords → one 32-bit code per vector; the codebook is 128 tiny
    // centroids, broadcastable at ANY corpus size — PQ's core trade:
    // only the 4-byte codes scale with n). The training + encoding
    // (one deterministic k-means refinement per subspace — d15's law,
    // 8× independently — then a shuffle-free broadcast-fold encode)
    // run ONCE inside the persisted [[annIndexPq]] artifact build (the
    // nightly job a deployment runs BEFORE enabling PQ serving); this
    // query is the encoding AUDIT over that single artifact — the
    // packed 32-bit code, the EXACT integer distortion (recon_err =
    // Σ_j ‖sub_j − cw_j‖², the measure-don't-guess gate on whether 4
    // bits/subspace is survivable) and the reconstruction norm ADC
    // cosine serving divides by. One codes artifact feeds d56's audit
    // AND d80/d81's serving probes — the codes a deployment audits
    // are bit-identical to the codes it serves.
    // Scans: ZERO live scans — train + encode run inside the construction-time annIndexPq artifact
    // build; the audit reads the same persisted codes d80/d81 serve from
    QuerySpec("d56_pq_encode", by("vec_id"), Pins(Scans(), 0),
      Corpus.qtabCte +
      s""", subs AS (
         |  SELECT vec_id, CAST(j AS INT) AS j, q[j * 8 + 1 : j * 8 + 8] AS sub
         |  FROM qtab, UNNEST(range(0, 8)) t(j)),
         |seeds AS (
         |  SELECT CAST(jc // 16 AS INT) AS j, CAST(jc % 16 AS INT) AS c,
         |    list_transform(range(0, 8), i ->
         |      ${Corpus.hash32Sql("concat('pq', CAST(jc // 16 AS VARCHAR), '_', CAST(jc % 16 AS VARCHAR), '_', CAST(i AS VARCHAR))")} % 2001 - 1000) AS cv
         |  FROM (SELECT unnest(range(0, 128)) AS jc)),
         |a0 AS (
         |  SELECT vec_id, j, sub, c FROM (
         |    SELECT s.vec_id, s.j, s.sub, sd.c,
         |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.j ORDER BY
         |        ${duckSqDist.format("s.sub", "sd.cv")} ASC, sd.c ASC) AS rn
         |    FROM subs s JOIN seeds sd ON sd.j = s.j) t
         |  WHERE rn = 1),
         |comps AS (
         |  SELECT j, c, pos, CAST(floor(CAST(sum(sub[pos]) AS DOUBLE) / count(1)) AS BIGINT) AS cmp
         |  FROM a0, UNNEST(range(1, 9)) t(pos)
         |  GROUP BY j, c, pos),
         |cb1 AS (SELECT j, c, list(cmp ORDER BY pos) AS cv FROM comps GROUP BY j, c),
         |enc AS (
         |  SELECT vec_id, j, c, d, n FROM (
         |    SELECT s.vec_id, s.j, cb.c,
         |      ${duckSqDist.format("s.sub", "cb.cv")} AS d,
         |      CAST(list_sum(list_transform(cb.cv, x -> x * x)) AS BIGINT) AS n,
         |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.j ORDER BY
         |        ${duckSqDist.format("s.sub", "cb.cv")} ASC, cb.c ASC) AS rn
         |    FROM subs s JOIN cb1 cb ON cb.j = s.j) t
         |  WHERE rn = 1)
         |SELECT vec_id,
         |  CAST(sum(CAST(c AS BIGINT) << (j * 4)) AS BIGINT) AS code,
         |  CAST(sum(d) AS BIGINT) AS recon_err,
         |  CAST(sum(n) AS BIGINT) AS recon_norm2
         |FROM enc GROUP BY vec_id ORDER BY vec_id""".stripMargin) { (s, dir) =>
      graft.sources.IO.readParquet(s, annIndexPq(s, dir))
        .select(col("vec_id"),
          expr(s"""aggregate(sequence(0, ${PqSub - 1}), CAST(0 AS LONG),
                  |  (acc, j) -> acc + shiftleft(CAST(coalesce(element_at(codes, j + 1), 0) AS LONG), j * 4))""".stripMargin)
            .as("code"),
          col("re").as("recon_err"),
          col("rn2").as("recon_norm2"))
    },

    // INCREMENTAL index maintenance — d49's freshen decision applied
    // to d50's artifact: the arriving vector feed LEFT-ANTI-joins the
    // persisted inverted lists (already-indexed ids are skipped — 4 of
    // every 5 here, by fixture), and only the genuinely new vectors
    // are routed to their cell against the broadcast snapshot
    // centroids. At 100 TB you append to the index artifact instead
    // of re-clustering the corpus nightly; the postings side never
    // shuffles for the update (anti-join on the small arriving side,
    // cell routing is a per-row fold). Write-back + convergence
    // (re-running an absorbed feed yields an EMPTY increment) are
    // spec-pinned in AnnIndexSpec.
    // Scans: ONE embeddings scan (the arriving feed) anti-joined against the snapshot-index
    // read-back (built construction-time)
    QuerySpec("d52_ann_index_update", by("vec_id"), Pins(Scans(embeddings = 1), 3),
      indexUpdateSql) { (s, dir) =>
      val cents = graft.sources.IO.readParquet(s, annSnapCents(s, dir))
      val post = graft.sources.IO.readParquet(s, annSnapPostings(s, dir))
      indexUpdate(Corpus.qvecs(s, dir).filter(arrivingCond), post, cents)
    },

    // Embedding-coverage audit — the BACKFILL worklist bridging the
    // text and vector sides of the pipeline: which corpus documents
    // have no vector in the CURRENT index snapshot (fixture: the
    // index lags a decile — the d49/d52 lag family on the doc→vector
    // edge). The complement of d52's freshen: d52 skips what the
    // index already holds; this lists what the embedder still owes.
    // One anti-join keyed on the id — the embeddings side is pruned
    // to its id column at the scan (a 100 TB vector store contributes
    // 8 bytes/row to this plan), the corpus side carries only the
    // routing columns the backfill scheduler needs.
    // Scans: one corpus pass anti-joined against one id-pruned embeddings pass
    QuerySpec("d58_embed_coverage", by("doc_id"), Pins(Scans(documents = 1, embeddings = 1), 1),
      """SELECT d.doc_id, d.lang, d.source FROM documents d
        |WHERE d.text IS NOT NULL
        |  AND d.doc_id NOT IN (SELECT vec_id FROM embeddings WHERE vec_id % 10 <> 6)
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val indexed = graft.sources.Tables.embeddings(s, dir)
        .filter(col("vec_id") % 10 =!= 6)
        .select(col("vec_id").as("doc_id"))
      graft.sources.Tables.documents(s, dir)
        .filter(col("text").isNotNull)
        .join(indexed, Seq("doc_id"), "left_anti")
        .select("doc_id", "lang", "source")
    },

    // Semantic dedup (SemDeDup-style: Abbas et al. 2023): cluster the
    // embedding space, pick one representative per cluster (min
    // vec_id), drop members whose cosine to their representative
    // clears the redundancy threshold — near-identical SEMANTIC
    // content collapses to one exemplar without any pairwise
    // member×member comparison. Cost model at 100 TB: the cell
    // assignment is the shuffle-free per-row fold (assignTop2), the
    // representative election is one min(struct) aggregate over
    // bounded cells, and the member→representative scoring joins
    // against a ≤|cells|-row broadcast — the n² semantic-similarity
    // matrix never materializes (cos is evaluated n times total,
    // once per member against its single representative).
    // The cluster space SCALES WITH THE DATA (nlist = ⌈√n⌉, the same
    // law as d15's IVF): cluster populations grow as √n, so "close to
    // the representative" keeps meaning semantic proximity at any
    // corpus size — a fixed cell count would dilute every cluster to
    // n/k members and the rep comparison would stop being semantic.
    // The representative table stays broadcastable (√n rows).
    QuerySpec("d35_semdedup", by("vec_id"), Pins(Scans(embeddings = 1), 4),
      semdedupScoredSql +
      """SELECT vec_id, cell, rep_id, cos,
        |  CASE WHEN vec_id = rep_id THEN 'rep'
        |       WHEN cos >= 0.25 THEN 'drop'
        |       ELSE 'keep' END AS action
        |FROM scored ORDER BY vec_id""".stripMargin) { (s, dir) =>
      semdedupScored(s, dir)
        .select(col("vec_id"), col("cell"), col("rep_id"), col("cos"),
          when(col("vec_id") === col("rep_id"), lit("rep"))
            .when(col("cos") >= 0.25, lit("drop"))
            .otherwise(lit("keep")).as("action"))
    },

    // SemDeDup THRESHOLD curve — d105's band-budget law applied to
    // d35's ε knob (Abbas et al. 2023 pick ε by exactly this sweep):
    // how many members does each cosine threshold drop, at what kept-
    // corpus cost? A member's fate under threshold t is fully
    // determined by its ONE cos-to-representative score (the gate is
    // monotone in t, like d105's first_band), so ONE member aggregate
    // prices the whole sweep as conditional counts — no per-threshold
    // re-join, no re-scoring; the t=0.25 row must reproduce d35's
    // production drop count exactly (the b=4 ≡ d34 pattern). Rides
    // the SAME scored frame as d35 ([[semdedupScored]]) so curve and
    // production decision can never diverge.
    // Scans: d35's one-persisted-assignment shape — the 4-threshold sweep is conditional counts
    // over the same scored frame, ZERO extra passes
    QuerySpec("d108_semdedup_curve", by("threshold"), Pins(Scans(embeddings = 1), 5),
      semdedupScoredSql +
      """, agg AS (
        |  SELECT count(1) AS n_members,
        |    count(CASE WHEN cos >= CAST(0.10 AS DOUBLE) THEN 1 END) AS x10,
        |    count(CASE WHEN cos >= CAST(0.20 AS DOUBLE) THEN 1 END) AS x20,
        |    count(CASE WHEN cos >= CAST(0.25 AS DOUBLE) THEN 1 END) AS x25,
        |    count(CASE WHEN cos >= CAST(0.30 AS DOUBLE) THEN 1 END) AS x30
        |  FROM scored WHERE vec_id <> rep_id)
        |SELECT CAST(0.10 AS DOUBLE) AS threshold, n_members, x10 AS n_dropped,
        |  n_members - x10 AS n_kept,
        |  CAST(x10 AS DOUBLE) / CAST(n_members AS DOUBLE) AS drop_frac FROM agg
        |UNION ALL SELECT CAST(0.20 AS DOUBLE), n_members, x20, n_members - x20,
        |  CAST(x20 AS DOUBLE) / CAST(n_members AS DOUBLE) FROM agg
        |UNION ALL SELECT CAST(0.25 AS DOUBLE), n_members, x25, n_members - x25,
        |  CAST(x25 AS DOUBLE) / CAST(n_members AS DOUBLE) FROM agg
        |UNION ALL SELECT CAST(0.30 AS DOUBLE), n_members, x30, n_members - x30,
        |  CAST(x30 AS DOUBLE) / CAST(n_members AS DOUBLE) FROM agg
        |ORDER BY threshold""".stripMargin) { (s, dir) =>
      val m = semdedupScored(s, dir).filter(col("vec_id") =!= col("rep_id"))
      m.agg(count(lit(1)).as("n_members"),
          count(when(col("cos") >= 0.10, 1)).as("x10"),
          count(when(col("cos") >= 0.20, 1)).as("x20"),
          count(when(col("cos") >= 0.25, 1)).as("x25"),
          count(when(col("cos") >= 0.30, 1)).as("x30"))
        .selectExpr("n_members",
          "stack(4, 0.10D, x10, 0.20D, x20, 0.25D, x25, 0.30D, x30) AS (threshold, n_dropped)")
        .withColumn("n_kept", col("n_members") - col("n_dropped"))
        .withColumn("drop_frac",
          col("n_dropped").cast("double") / col("n_members").cast("double"))
        .select("threshold", "n_members", "n_dropped", "n_kept", "drop_frac")
    },

    // Semantic DECONTAMINATION — d22's eval-leak guard in embedding
    // space: a training vector too close (cosine) to ANY held-out
    // benchmark vector is flagged, catching paraphrased/translated
    // leakage the exact-gram probe can't see. The benchmark is an
    // EXTERNAL INPUT to [[semanticDecon]] (here a BOUNDED fixture
    // slice — vec_id < [[BenchIdCap]] caps it at ≤100 vectors at ANY
    // corpus size); the operator size-asserts it before folding.
    QuerySpec("d42_semantic_decon", by("vec_id"),
      Pins(Scans(embeddings = 2), 2, cartesian = Some(Cartesian.BoundedSide(
        "the bench side is a ≤100-row fixture slice"))),
      Corpus.qtabCte +
      s""", bench AS (SELECT vec_id AS c, q AS cv, norm2 AS n2 FROM qtab
         |             WHERE vec_id % 10 = 0 AND vec_id < $BenchIdCap),
         |train AS (SELECT vec_id, q, norm2 FROM qtab
         |          WHERE NOT (vec_id % 10 = 0 AND vec_id < $BenchIdCap)),
         |scored AS (
         |  SELECT t.vec_id, b.c,
         |    CAST(${duckDot.format("t.q", "b.cv")} AS DOUBLE)
         |      / (sqrt(CAST(t.norm2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) AS cos
         |  FROM train t CROSS JOIN bench b)
         |SELECT vec_id, c AS nearest_bench, cos AS max_cos, cos >= 0.35 AS contaminated
         |FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
         |    ORDER BY cos DESC, c ASC) AS rn
         |  FROM scored) t
         |WHERE rn = 1 ORDER BY vec_id""".stripMargin) { (s, dir) =>
      val q = Corpus.qvecs(s, dir)
      val isBench = col("vec_id") % 10 === 0 && col("vec_id") < BenchIdCap
      semanticDecon(q.filter(!isBench), q.filter(isBench))
    },

    // Cell-balance audit — measure, don't guess (the d34 companion for
    // the VECTOR side): before trusting the √n cell space that d15 and
    // d35 shard their work by, measure how evenly it actually loads.
    // Hot cells are the skew that would stall a 1000-executor
    // intra-cell pass; this report (used cells, min/median/max
    // population, the max/mean skew factor) is the go/no-go gate for
    // the partitioning. One shuffle-free assignment fold + one
    // bounded-key count + one global agg; the exact-percentile partial
    // is the same mergeable value→count map d28 relies on.
    QuerySpec("d40_cell_balance", Nil, Pins(Scans(embeddings = 1), 4),
      Corpus.qtabCte + ", " +
      centsSqlFrom("(SELECT CAST(ceil(sqrt(count(1))) AS BIGINT) FROM qtab)") +
      s""", asg AS (
         |  SELECT vec_id, c AS cell FROM (
         |    SELECT q.vec_id, ce.c,
         |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
         |        ${duckSqDist.format("q.q", "ce.cv")} ASC, ce.c ASC) AS rn
         |    FROM qtab q CROSS JOIN cents ce) t
         |  WHERE rn = 1),
         |sizes AS (SELECT cell, count(1) AS n_vecs FROM asg GROUP BY 1)
         |SELECT
         |  (SELECT CAST(ceil(sqrt(count(1))) AS BIGINT) FROM qtab) AS n_cells,
         |  count(1) AS n_cells_used,
         |  min(n_vecs) AS cell_min,
         |  CAST(quantile_cont(n_vecs, 0.5) AS DOUBLE) AS cell_p50,
         |  max(n_vecs) AS cell_max,
         |  CAST(sum(n_vecs) AS BIGINT) AS n_vecs_total,
         |  CAST(max(n_vecs) AS DOUBLE)
         |    / (CAST(sum(n_vecs) AS DOUBLE) / count(1)) AS skew
         |FROM sizes""".stripMargin) { (s, dir) =>
      val n = graft.sources.Stats.parquetRowCount(s, s"$dir/embeddings.parquet")
      val nc = ivfCells(n)
      assignTop2(Corpus.qvecs(s, dir), centroids(s, nc))
        .groupBy("cell1").agg(count(lit(1)).as("n_vecs"))
        .agg(count(lit(1)).as("n_cells_used"),
          min(col("n_vecs")).as("cell_min"),
          expr("CAST(percentile(n_vecs, 0.5D) AS DOUBLE)").as("cell_p50"),
          max(col("n_vecs")).as("cell_max"),
          sum(col("n_vecs")).as("n_vecs_total"))
        .withColumn("n_cells", lit(nc))
        .withColumn("skew",
          col("cell_max").cast("double")
            / (col("n_vecs_total").cast("double") / col("n_cells_used")))
        .select("n_cells", "n_cells_used", "cell_min", "cell_p50",
          "cell_max", "n_vecs_total", "skew")
    },

    // MMR diversified rerank (Carbonell & Goldstein 1998) — the step
    // between retrieval and USE: d06's top-6 relevance pool per query
    // reranked so the final 3 are relevant AND mutually diverse
    // (pick_1 = argmax rel; then argmax 0.7·rel − 0.3·max sim-to-
    // selected). Greedy selection is inherently sequential IN K, not
    // in the data: each of the 3 rounds is one distributed plan over
    // per-query candidate sets (K is a constant; the d24 driver-loop
    // precedent). Candidate VECTORS ride the top-k payload, so the
    // 30-sims-per-query candidate self-join needs NO further
    // embeddings scan — two pinned scans total (query side + the
    // broadcast corpus of the declared-exact d06 baseline). The tiny
    // pool/selection frames persist across rounds. All similarities
    // divide exact integer dots, and every float expression sequence
    // matches the oracle's unrolled 3-stage greedy verbatim.
    // Scans: query side + broadcast corpus; candidate vectors ride the top-k payload so the 3
    // greedy rounds re-read the PERSISTED pool, never the table
    QuerySpec("d62_mmr_rerank", by("a_id", "pick_no"), Pins(Scans(embeddings = 2), 37),
      // Greedy MMR unrolled into explicit stages (K=3 is a constant):
      // s1 = argmax rel; each later stage scores the not-yet-selected
      // pool by 0.7·rel − 0.3·max(sim to the selected set) and takes
      // rank 1 — float expression sequences match the Spark side
      // verbatim over the same exact integer dots.
      Corpus.qtabCte + {
      val cosAB = s"CAST(${duckDot.format("a.qa", "b.q")} AS DOUBLE)" +
        " / (sqrt(CAST(a.na AS DOUBLE)) * sqrt(CAST(b.norm2 AS DOUBLE)))"
      val cosXY = s"CAST(${duckDot.format("c1.qb", "c2.qb")} AS DOUBLE)" +
        " / (sqrt(CAST(c1.nb AS DOUBLE)) * sqrt(CAST(c2.nb AS DOUBLE)))"
      s""", queries AS (
         |  SELECT vec_id AS a_id, q AS qa, norm2 AS na FROM qtab
         |  WHERE vec_id % 50 = 0),
         |scored AS (
         |  SELECT a.a_id, b.vec_id AS b_id, $cosAB AS rel,
         |         b.q AS qb, b.norm2 AS nb
         |  FROM queries a JOIN qtab b ON a.a_id <> b.vec_id),
         |cands AS (
         |  SELECT * FROM (
         |    SELECT a_id, b_id, rel, qb, nb,
         |      ROW_NUMBER() OVER (PARTITION BY a_id
         |        ORDER BY rel DESC, b_id ASC) AS rn
         |    FROM scored) t WHERE rn <= 6),
         |csim AS (
         |  SELECT c1.a_id, c1.b_id AS x_id, c2.b_id AS y_id, $cosXY AS sim
         |  FROM cands c1 JOIN cands c2
         |    ON c1.a_id = c2.a_id AND c1.b_id <> c2.b_id),
         |s1 AS (SELECT a_id, b_id, rel FROM cands WHERE rn = 1),
         |r2 AS (
         |  SELECT c.a_id, c.b_id, c.rel,
         |    CAST(0.7 AS DOUBLE) * c.rel
         |      - CAST(0.3 AS DOUBLE) * max(cs.sim) AS score
         |  FROM cands c
         |  JOIN csim cs ON cs.a_id = c.a_id AND cs.x_id = c.b_id
         |  JOIN s1 ON s1.a_id = cs.a_id AND s1.b_id = cs.y_id
         |  WHERE NOT EXISTS (SELECT 1 FROM s1 x
         |                    WHERE x.a_id = c.a_id AND x.b_id = c.b_id)
         |  GROUP BY c.a_id, c.b_id, c.rel),
         |s2 AS (
         |  SELECT a_id, b_id, rel FROM (
         |    SELECT a_id, b_id, rel, ROW_NUMBER() OVER (PARTITION BY a_id
         |      ORDER BY score DESC, b_id ASC) AS rn FROM r2) t
         |  WHERE rn = 1),
         |sel12 AS (SELECT a_id, b_id FROM s1
         |          UNION ALL SELECT a_id, b_id FROM s2),
         |r3 AS (
         |  SELECT c.a_id, c.b_id, c.rel,
         |    CAST(0.7 AS DOUBLE) * c.rel
         |      - CAST(0.3 AS DOUBLE) * max(cs.sim) AS score
         |  FROM cands c
         |  JOIN csim cs ON cs.a_id = c.a_id AND cs.x_id = c.b_id
         |  JOIN sel12 sl ON sl.a_id = cs.a_id AND sl.b_id = cs.y_id
         |  WHERE NOT EXISTS (SELECT 1 FROM sel12 x
         |                    WHERE x.a_id = c.a_id AND x.b_id = c.b_id)
         |  GROUP BY c.a_id, c.b_id, c.rel),
         |s3 AS (
         |  SELECT a_id, b_id, rel FROM (
         |    SELECT a_id, b_id, rel, ROW_NUMBER() OVER (PARTITION BY a_id
         |      ORDER BY score DESC, b_id ASC) AS rn FROM r3) t
         |  WHERE rn = 1)
         |SELECT a_id, b_id, CAST(1 AS INT) AS pick_no, rel FROM s1
         |UNION ALL
         |SELECT a_id, b_id, CAST(2 AS INT) AS pick_no, rel FROM s2
         |UNION ALL
         |SELECT a_id, b_id, CAST(3 AS INT) AS pick_no, rel FROM s3
         |ORDER BY a_id, pick_no""".stripMargin
    }) { (s, dir) =>
      def cos(dot: org.apache.spark.sql.Column,
          n1: org.apache.spark.sql.Column, n2: org.apache.spark.sql.Column) =
        dot.cast("double") / (sqrt(n1.cast("double")) * sqrt(n2.cast("double")))
      val base = Corpus.qvecs(s, dir)
      val queries = base.filter(col("vec_id") % 50 === 0)
        .toDF("a_id", "qa", "na")
      val corpus = base.toDF("b_id", "qb", "nb")
      val scored = queries.join(broadcast(corpus), col("a_id") =!= col("b_id"))
        .withColumn("rel", cos(DotLong(col("qa"), col("qb")), col("na"), col("nb")))
        .select("a_id", "b_id", "rel", "qb", "nb")
      val cands = graft.plans.TopK.perGroup(scored, Seq("a_id"),
          Seq(("rel", true), ("b_id", false)), k = 6, rankName = "rn")
        .select("a_id", "b_id", "rel", "qb", "nb")
        .transform(persisted)
      val csim = cands.select(col("a_id"), col("b_id").as("x_id"),
          col("qb").as("qx"), col("nb").as("nx"))
        .join(cands.select(col("a_id"), col("b_id").as("y_id"),
          col("qb").as("qy"), col("nb").as("ny")), Seq("a_id"))
        .filter(col("x_id") =!= col("y_id"))
        .withColumn("sim", cos(DotLong(col("qx"), col("qy")), col("nx"), col("ny")))
        .select("a_id", "x_id", "y_id", "sim")
        .transform(persisted)
      var sel = graft.plans.TopK.perGroup(cands, Seq("a_id"),
          Seq(("rel", true), ("b_id", false)), k = 1, rankName = "rn1")
        .select(col("a_id"), col("b_id"), lit(1).as("pick_no"), col("rel"))
      for (r <- 2 to 3) {
        val notSel = cands.select("a_id", "b_id", "rel")
          .join(sel.select("a_id", "b_id"), Seq("a_id", "b_id"), "left_anti")
        val div = csim
          .join(sel.select(col("a_id"), col("b_id").as("y_id")), Seq("a_id", "y_id"))
          .groupBy(col("a_id"), col("x_id").as("b_id"))
          .agg(max(col("sim")).as("div"))
        val scoredR = notSel.join(div, Seq("a_id", "b_id"))
          .withColumn("score", lit(0.7) * col("rel") - lit(0.3) * col("div"))
        val pick = graft.plans.TopK.perGroup(scoredR, Seq("a_id"),
            Seq(("score", true), ("b_id", false)), k = 1, rankName = "rnp")
          .select(col("a_id"), col("b_id"), lit(r).as("pick_no"), col("rel"))
        sel = sel.unionByName(pick)
      }
      sel
    },

    // Contrastive negative sampling — the pair-mining step an
    // embedding-training pipeline runs over the corpus: per anchor
    // (vec_id % 50 = 0), the positive is the cosine top-1, negatives
    // are mined in the production two-stage recipe — a HASH-ranked
    // uniform sample of 8 (deterministic, so re-runs and the oracle
    // draw the SAME sample; keyed per (anchor, candidate) so one
    // vector's sample position differs across anchors), then the 4
    // HARDEST kept by cosine (hard negatives are what make the loss
    // informative). One scored frame (anchors × broadcast corpus,
    // arrays dropped before persist) feeds positive resolution and
    // both mining stages — pin embeddings=2; both TopK stages prune
    // map-side via x04.
    // Scans: one persisted scored frame (anchors + broadcast corpus) feeds the positive and both
    // mining stages
    QuerySpec("d63_neg_sampling", by("a_id", "hard_rank"), Pins(Scans(embeddings = 2), 3),
      Corpus.qtabCte + {
      val cosAB = s"CAST(${duckDot.format("a.qa", "b.q")} AS DOUBLE)" +
        " / (sqrt(CAST(a.na AS DOUBLE)) * sqrt(CAST(b.norm2 AS DOUBLE)))"
      val h = Corpus.hash32Sql(
        "concat('neg', CAST(a.a_id AS VARCHAR), '#', CAST(b.vec_id AS VARCHAR))")
      s""", queries AS (
         |  SELECT vec_id AS a_id, q AS qa, norm2 AS na FROM qtab
         |  WHERE vec_id % 50 = 0),
         |scored AS (
         |  SELECT a.a_id, b.vec_id AS b_id, $cosAB AS cos, $h AS h
         |  FROM queries a JOIN qtab b ON a.a_id <> b.vec_id),
         |pos AS (
         |  SELECT a_id, b_id AS pos_id FROM (
         |    SELECT a_id, b_id, ROW_NUMBER() OVER (PARTITION BY a_id
         |      ORDER BY cos DESC, b_id ASC) AS rp FROM scored) t
         |  WHERE rp = 1),
         |samp AS (
         |  SELECT * FROM (
         |    SELECT s.a_id, p.pos_id, s.b_id, s.cos,
         |      ROW_NUMBER() OVER (PARTITION BY s.a_id
         |        ORDER BY s.h ASC, s.b_id ASC) AS samp_rank
         |    FROM scored s JOIN pos p
         |      ON s.a_id = p.a_id AND s.b_id <> p.pos_id) t
         |  WHERE samp_rank <= 8),
         |hard AS (
         |  SELECT * FROM (
         |    SELECT a_id, pos_id, b_id, cos, samp_rank,
         |      ROW_NUMBER() OVER (PARTITION BY a_id
         |        ORDER BY cos DESC, b_id ASC) AS hard_rank
         |    FROM samp) t
         |  WHERE hard_rank <= 4)
         |SELECT a_id, pos_id, b_id AS neg_id,
         |  CAST(samp_rank AS INT) AS samp_rank,
         |  CAST(hard_rank AS INT) AS hard_rank, cos
         |FROM hard ORDER BY a_id, hard_rank""".stripMargin
    }) { (s, dir) =>
      val base = Corpus.qvecs(s, dir)
      val queries = base.filter(col("vec_id") % 50 === 0)
        .toDF("a_id", "qa", "na")
      val corpus = base.toDF("b_id", "qb", "nb")
      val scored = queries.join(broadcast(corpus), col("a_id") =!= col("b_id"))
        .withColumn("cos", DotLong(col("qa"), col("qb")).cast("double")
          / (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
        .withColumn("h", graft.functions.hash32(concat(lit("neg"),
          col("a_id").cast("string"), lit("#"), col("b_id").cast("string"))))
        .select("a_id", "b_id", "cos", "h")
        .transform(persisted)
      val pos = graft.plans.TopK.perGroup(scored, Seq("a_id"),
          Seq(("cos", true), ("b_id", false)), k = 1, rankName = "rp")
        .select(col("a_id"), col("b_id").as("pos_id"))
      val sample8 = graft.plans.TopK.perGroup(
          scored.join(pos, Seq("a_id")).filter(col("b_id") =!= col("pos_id")),
          Seq("a_id"), Seq(("h", false), ("b_id", false)), k = 8,
          rankName = "samp_rank")
      graft.plans.TopK.perGroup(sample8, Seq("a_id"),
          Seq(("cos", true), ("b_id", false)), k = 4, rankName = "hard_rank")
        .select(col("a_id"), col("pos_id"), col("b_id").as("neg_id"),
          col("samp_rank"), col("hard_rank"), col("cos"))
    },

    // ANN recall CURVE — the nprobe tuning report an IVF deployment
    // reads before picking its latency/recall point (FAISS's
    // nprobe sweep, run as ONE plan): recall@3 of the persisted-index
    // probe at nprobe=1 and nprobe=2 against the exact brute-force
    // top-3 (d06's declared-exact baseline at the same tie-break).
    // The routed candidate stream is scored ONCE (cells tagged with
    // their probe rank, frame persisted) and each curve point is a
    // TopK over the probe_rank<=p slice — the sweep never re-routes
    // or re-scores; the exact baseline is persisted for its two
    // comparison consumers. Counts are exact integers; recall is the
    // one-shot divide. This is d34's measure-don't-guess gate on the
    // vector side: the artifact records MEASURED recall, not the
    // folklore "nprobe=2 is enough". Pin embeddings=3 (exact pair a
    // side + broadcast b side + the routed query side; postings and
    // centroids are artifact read-backs).
    // Scans: exact-baseline pair sides (a + broadcast b, d06's shape) + the routed query side;
    // postings/centroids are artifact read-backs and both TopK arms read the persisted scored
    // frame
    QuerySpec("d68_ann_recall", by("nprobe"), Pins(Scans(embeddings = 3), 13),
      annRecallSql) { (s, dir) =>
      val cents = denull(
        graft.sources.IO.readParquet(s, annIndexCents(s, dir)), "cv")
      val post = denull(
        graft.sources.IO.readParquet(s, annIndexPostings(s, dir)), "q")
        .select(col("vec_id").as("b_id"), col("cell"),
          col("q").as("qb"), col("norm2").as("nb"))
      val routed = assignTop2(Corpus.qvecs(s, dir), cents)
        .select(col("vec_id").as("a_id"), col("q").as("qa"), col("norm2").as("na"),
          posexplode(array(col("cell1"), col("cell2"))).as(Seq("pidx", "cell")))
        .filter(col("cell") >= 0)
        .withColumn("probe_rank", col("pidx") + 1)
      val scored = routed.join(post, Seq("cell"))
        .filter(col("a_id") =!= col("b_id"))
        .withColumn("dot", DotLong(col("qa"), col("qb")))
        .withColumn("cos", col("dot").cast("double")
          / (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
        .select("a_id", "b_id", "cos", "probe_rank")
        .transform(persisted)
      val q = Corpus.qvecs(s, dir)
      val pairs = q.toDF("a_id", "qa", "na")
        .join(broadcast(q.toDF("b_id", "qb", "nb")), col("a_id") =!= col("b_id"))
        .withColumn("dot", DotLong(col("qa"), col("qb")))
        .withColumn("cos", col("dot").cast("double")
          / (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
      val exact = graft.plans.TopK.perGroup(pairs,
          Seq("a_id"), Seq(("cos", true), ("b_id", false)), k = 3, rankName = "rn")
        .select("a_id", "b_id")
        .transform(persisted)
      Seq(1, 2).map { p =>
        val ann = graft.plans.TopK.perGroup(
            scored.filter(col("probe_rank") <= p),
            Seq("a_id"), Seq(("cos", true), ("b_id", false)), k = 3, rankName = "rn")
          .select(col("a_id"), col("b_id"), lit(1).as("hit"))
        exact.join(ann, Seq("a_id", "b_id"), "left")
          .agg(count(lit(1)).as("n_exact"), count(col("hit")).as("n_hit"))
          .select(lit(p).as("nprobe"), col("n_exact"), col("n_hit"),
            (col("n_hit").cast("double")
              / greatest(col("n_exact"), lit(1L)).cast("double")).as("recall"))
      }.reduce(_ unionAll _)
    }
  )
}
