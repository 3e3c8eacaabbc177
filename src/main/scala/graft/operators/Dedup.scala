package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions._
import graft.model.Corpus
import graft.operators.QuerySpec.{by, persisted}

/** §2.C d01–d05 — deduplication for large text corpora.
  *
  * The scale story (the reason each variant exists):
  *   - d01 exact: one hash-groupBy — a single shuffle on the content
  *     hash; the canonical first pass at 100 TB.
  *   - d02 n-gram Jaccard: exact set-similarity via a shingle
  *     self-join — correct but quadratic per shared shingle; kept as
  *     the correctness baseline the sketch variants approximate.
  *   - d03/d04 MinHash + LSH banding: the scale path. Signatures are
  *     a bounded 16-value sketch per doc; banding turns all-pairs
  *     into an equi-join on (band, signature) so only probable
  *     near-dups ever meet in a shuffle partition.
  *   - d05 SimHash: 32-bit fingerprint via bitwise majority — pairs
  *     compared with xor/bit_count, cheap enough to run on candidate
  *     streams.
  */
object Dedup extends QueryModule {

  private val seedsSql = "(SELECT unnest(range(0, 16)) AS seed)"

  /** Wide signature: one row per doc, columns m0..m15.
    *
    * The 16-member hash family is carved out of 4 md5 digests (each
    * 128-bit digest yields 4×32-bit members): seed s uses hex chars
    * [(s%4)·8, (s%4)·8+8) of md5("s<s/4>#" + gram) — md5 dominates the
    * sketch cost, so 4 calls/gram instead of 16. The 16 mins are
    * aggregate COLUMNS over the gram rows, so the shuffle carries
    * |grams| rows (a seeds cross-join would carry 16×). */
  private def minhashWideOver(grams: DataFrame): DataFrame = {
    val hashed = grams
      .withColumn("hs", graft.functions.MinHash16(col("gram")))
    hashed.groupBy("doc_id")
      .agg(min(element_at(col("hs"), 1)).as("m0"),
        (1 until 16).map(i => min(element_at(col("hs"), i + 1)).as(s"m$i")): _*)
  }
  private def minhashWide(s: SparkSession, dir: String): DataFrame =
    minhashWideOver(Corpus.grams(s, dir))

  /** Long form (doc_id, seed, minh) — d03's declared output shape. */
  private def minhash(s: SparkSession, dir: String): DataFrame = {
    val stackExpr = (0 until 16)
      .map(i => s"$i, m$i").mkString(s"stack(16, ", ", ", ") AS (seed, minh)")
    minhashWide(s, dir).selectExpr("doc_id", stackExpr)
      .withColumn("seed", col("seed").cast("int"))
  }

  /** DuckDB minhash CTE over any (doc_id, gram) relation — the oracle
    * twin of the MinHash16 hash family, parameterized so d43's
    * train-only gram stream can reuse it verbatim. */
  private[operators] def minhashSqlOver(gramsRel: String): String =
    s"""mh AS (
       |  SELECT doc_id, seed,
       |    min(CAST(concat('0x', substr(md5(concat('s', CAST(seed // 4 AS VARCHAR), '#', gram)), (seed % 4) * 8 + 1, 8)) AS BIGINT)) AS minh
       |  FROM $gramsRel CROSS JOIN $seedsSql
       |  GROUP BY doc_id, seed
       |)""".stripMargin

  private val minhashSql: String = minhashSqlOver("grams")

  /** stack() projecting a wide signature row to 4 (band, sig) rows. */
  private val bandStackExpr: String = (0 until 4).map { b =>
    val ms = (0 until 4).map(i => s"m${b * 4 + i}").mkString(", ")
    s"$b, concat_ws(',', $ms)"
  }.mkString("stack(4, ", ", ", ") AS (band, sig)")

  /** Per-doc LSH band signatures (doc_id, band, sig) — 4 bands × 4
    * members each; shared by the d04 self-join and d76's two-sided
    * index/probe split. */
  private def bandSigsOf(wide: DataFrame): DataFrame =
    wide.selectExpr("doc_id", bandStackExpr)
  private[operators] def bandSigs(s: SparkSession, dir: String): DataFrame =
    bandSigsOf(minhashWide(s, dir))

  /** [[bandSigs]], persisted: the one frame every LSH consumer
    * (d04/d24/d67 via [[lshPairs]], d76's two-sided index/probe,
    * d77/d79's membership pricing) reads. Persisting (vs relying on AQE
    * exchange reuse, which is best-effort under concurrent stage
    * submission) is what makes the one-corpus-scan guarantee
    * structural; the frame is 4 signature rows per doc, far smaller
    * than the corpus. */
  private[operators] def bandSigsPersisted(s: SparkSession, dir: String): DataFrame =
    persisted(bandSigs(s, dir))

  /** All ordered pairs (i < j) from a SORTED array column — the
    * combination explode that replaces a key-equality SELF-join. The
    * per-key member list arrives sorted off ONE aggregate exchange, so
    * a < b falls out of the sort order instead of a post-join filter,
    * and the whole candidate generation costs one Exchange instead of
    * the join's build/probe pair plus its upstream exchanges. Memory:
    * one key's combo array is m(m−1)/2 structs — the same m² pair
    * fan-out the self-join streams, materialized per key; the m² term
    * is the declared exact-baseline ceiling either way (the sketch
    * paths are the production twins), and the join form equally
    * buffers one key's m-row match set in its merge buffer.
    *
    * Runs on the [[graft.functions.PairCombos]] codegen kernel (r19):
    * the r18 `flatten(transform(c, (a, i) -> transform(slice(c, i+2,
    * size(c)), b -> …)))` HOF was CodegenFallback — every band group
    * paid m interpreted slice() tail-copies (O(m²) element copies)
    * plus interpreted per-pair lambda evaluation, which is exactly
    * where the r18 driver bench read d05 0.80× and the lshPairs
    * consumers 0.93–0.95×. Same pairs, same (i, j) order, one
    * primitive loop. */
  private def combos(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.functions.PairCombos(c)

  /** Exact gram-sharing pair stats (a_id < b_id, inter, na, nb) from
    * ONE corpus scan and TWO exchanges — the shared core of the
    * declared-exact n-gram baselines (d02/d30/d71/d103/d104/d34/d105).
    *
    * Shape (guide §2.3/§2.4 — fewer exchanges, fewer bytes): the
    * per-doc DISTINCT gram array and its size are per-row projections
    * on the scan, so both endpoint sizes ride the gram rows INTO the
    * self-join and the old post-aggregation sizes joins (two
    * exchanges + a doc-keyed aggregate) vanish — min(na)/min(nb) in
    * the pair aggregate recover the constant-per-doc sizes for free.
    * The df = 1 pruning pass (df-count aggregate + pruning join) is
    * dropped too: the full gram stream is materialized ONCE either
    * way, an unshared gram joins to only itself and dies on
    * a_id < b_id, so pruning bought a smaller join input at the price
    * of two extra operators. The previous shape planned 6 exchanges
    * and 3 corpus scans; this plans 2 exchanges over one cached
    * stream and 1 scan, with identical output (same distinct-gram
    * multiset per doc, same pairs, same exact integers).
    *
    * The (doc_id, n, gram) stream is PERSISTED, like
    * [[bandSigsPersisted]], for two measured reasons, not convenience:
    * (1) both join sides and any co-running consumer (d34/d104 pair
    * exact + probe, which build the stream once and pass it on) read
    * one materialization; (2) WITHOUT the cache barrier, Catalyst
    * inlines the `ga` projection into every pushed-down filter — the
    * normText→split→transform→array_distinct chain re-evaluates ~6×
    * per row (no cross-operator subexpression elimination) and d02
    * measured 150 s at sf0.1 vs ~6 s baseline. The cache bounds that
    * chain to exactly once per row, structurally.
    *
    * NOT the collect_list + combination-explode form: measured 12×
    * SLOWER at sf0.1 (75.9 s vs 6.2 s for d02) — a boilerplate gram
    * shared by m docs builds its m²/2 pair structs inside ONE
    * interpreted higher-order expression on one core, while the
    * codegen'd self-join streams the same pairs through the merge. */
  private def gramStreamPersisted(s: SparkSession, dir: String): DataFrame = {
    // The explode child MUST stay a non-attribute EXPRESSION: exploding
    // a projected array attribute lets InferFiltersFromGenerate add
    // size(ga) > 0 / isnotnull(ga) filters whose pushdown substitutes
    // ga's DEFINITION — the normText→split→transform chain then
    // re-evaluates per array element inside the filter (measured 70 s
    // vs 1.5 s for this stream alone at sf0.1). The transform-to-struct
    // below keeps ga referenced ≥2× (CollapseProject leaves its
    // projection intact, computed once per doc) and the generator child
    // an expression (no filter inference), while carrying the per-doc
    // distinct-gram count on every element.
    persisted(Corpus.docs(s, dir).filter(size(col("ws")) >= 3)
      .select(col("doc_id"), Corpus.gramsArr.as("ga"))
      .select(col("doc_id"), explode(expr(
        "transform(ga, g -> named_struct('gram', g, 'n', CAST(size(ga) AS BIGINT)))")).as("z"))
      .select(col("doc_id"), col("z.n").as("n"), col("z.gram").as("gram")))
  }
  private def gramPairStats(dg: DataFrame): DataFrame = {
    val a = dg.select(col("gram"), col("doc_id").as("a_id"), col("n").as("na"))
    val b = dg.select(col("gram"), col("doc_id").as("b_id"), col("n").as("nb"))
    // merge hint (r19, measured): the cached stream's stats sit under
    // the auto-broadcast threshold, and the planner's broadcast choice
    // LOSES — collecting the 260 k-row string-keyed build to the
    // driver and probing one big hashed relation measured 2.2 s vs
    // 0.78 s for the 32-way partitioned merge (OPTIMIZATION_r19.md §4,
    // steady state). The merge is also the only shape that exists at
    // 100 TB, where the gram stream can never broadcast.
    a.join(b.hint("merge"), Seq("gram"))
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("inter"), min(col("na")).as("na"),
        min(col("nb")).as("nb"))
  }

  /** LSH candidate pairs (a_id < b_id, n_shared_bands) — d04's output,
    * shared with d24's clustering.
    * Same combination-explode shape as [[gramPairStats]]: one
    * groupBy(band, sig) over the persisted signatures replaces the
    * signature self-join (one exchange fewer, no join build). */
  private def lshPairsOver(sig: DataFrame): DataFrame =
    sig.groupBy("band", "sig")
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) > 1)
      .select(explode(combos(col("ds"))).as("p"))
      .select(col("p.a").as("a_id"), col("p.b").as("b_id"))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("n_shared_bands"))
  private[operators] def lshPairs(s: SparkSession, dir: String): DataFrame =
    lshPairsOver(bandSigsPersisted(s, dir))

  /** Band signatures derived from the PERSISTED gram stream — for the
    * queries that ALSO consume [[gramStreamPersisted]] (d34/d104/d105:
    * exact baseline + sketch comparison in one plan). Bit-identical
    * signatures (same distinct gram multiset per doc, same MinHash16
    * family) at ZERO extra corpus scans — [[bandSigsPersisted]] keeps
    * its own scan for the sketch-only consumers (d04/d24/d76/…), where
    * materializing the full gram stream just to stream it once into
    * the 16-column min-agg would be pure write amplification at scale. */
  private def bandSigsFromGrams(dg: DataFrame): DataFrame =
    bandSigsOf(minhashWideOver(dg))

  /** DuckDB CTE chain ending in `sig(doc_id, band, sig)` — the oracle
    * twin of [[bandSigs]], shared by the d04/d24 pair chain and d76's
    * index/probe split. */
  private[operators] val bandSigsCte: String =
    Corpus.docsCte + ", " + minhashSql +
      """, sig AS (
        |  SELECT doc_id, seed // 4 AS band,
        |         string_agg(CAST(minh AS VARCHAR), ',' ORDER BY seed) AS sig
        |  FROM mh GROUP BY doc_id, band
        |)""".stripMargin

  /** DuckDB CTE chain ending in `pairs(a_id, b_id, n_shared_bands)` —
    * the oracle twin of [[lshPairs]], shared by d04 and d24. */
  private[operators] val lshPairsCte: String =
    bandSigsCte +
      """, pairs AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(1) AS n_shared_bands
        |  FROM sig a JOIN sig b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |)""".stripMargin

  /** Exact Jaccard near-dup pairs (a_id, b_id, inter, jaccard ≥ 0.5) —
    * d02's output, shared with the d34 recall evaluation.
    *
    * Pair generation rides [[gramPairStats]] (one scan, two
    * exchanges); the Jaccard is the one-shot divide of its exact
    * integers. Rejected alternatives, measured in earlier rounds on
    * the pre-r18 self-join shape: df-count as a full-frame window (7×
    * slower than the hash agg — sort-based, no partials), SSJoin-style
    * prefix filtering (3× slower — the rank window + per-doc arrays
    * cost more than the candidate reduction saves here); d04's MinHash
    * banding remains the scale path. */
  private def jaccardPairs(dg: DataFrame): DataFrame =
    gramPairStats(dg)
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= 0.5)

  /** DuckDB CTE `exact(a_id, b_id)` — the oracle twin of
    * [[jaccardPairs]] (projected to the pair keys), appended after a
    * chain that already establishes `grams`. */
  private val exactPairsCte: String =
    """sizes AS (SELECT doc_id, count(1) AS n FROM grams GROUP BY 1),
      |exact AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
      |  FROM grams a
      |  JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
      |  JOIN sizes sa ON sa.doc_id = a.doc_id
      |  JOIN sizes sb ON sb.doc_id = b.doc_id
      |  GROUP BY a.doc_id, b.doc_id
      |  HAVING CAST(count(1) AS DOUBLE)
      |    / (any_value(sa.n) + any_value(sb.n) - count(1)) >= 0.5
      |)""".stripMargin

  /** d01's core over any (doc_id, norm) frame — a single hash-groupBy
    * on the content hash. Skew-safe BY SHAPE: min/count partial-
    * aggregate map-side, so a 95%-mass hot hash (the boilerplate page
    * crawled a billion times) collapses to one row per input partition
    * BEFORE the exchange — the shuffle carries ~|distinct hashes| ×
    * |partitions| rows however skewed the input. SkewSpec pins this
    * structurally (partial-agg collapse measured from the shuffle-
    * records metric on a 95%-one-key stream). */
  private[graft] def exactDedupOver(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("norm")).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_doc"), count(lit(1)).as("n_docs"))

  /** Shared prefix-key projection — the d85 batch audit and the s33
    * streaming probe must key templates identically, so the prefix
    * definition lives once: first 8 NORMALIZED words, docs with ≥8
    * words only (shorter docs can't carry a meaningful template
    * head). Defined over any frame with (doc_id, text, lang, source). */
  private[graft] def prefixKeys(df: DataFrame): DataFrame =
    Corpus.normalized(df)
      .filter(size(col("ws")) >= 8)
      .select(col("doc_id"), col("lang"), col("source"),
        concat_ws(" ", slice(col("ws"), 1, 8)).as("prefix"))

  /** DuckDB twin of [[prefixKeys]], appendable after docsCte. */
  private[graft] val prefixKeysCte: String =
    """, pref AS (
      |  SELECT doc_id, lang, source,
      |    array_to_string(ws[1:8], ' ') AS prefix
      |  FROM docs WHERE len(ws) >= 8
      |)""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    // TEMPLATE-PREFIX clusters — boilerplate/template page detection
    // by shared document HEAD (the "same page skeleton, different
    // fill" shape crawled corpora are full of: listing pages, error
    // pages, mirrors): docs sharing their first 8 normalized words
    // form a template cluster. Near-dup docs share heads too, so the
    // report overlaps d04 — the point is the PRICE: ONE shuffle on
    // the prefix string (d01's exact-dedup cost, no shingles, no
    // signatures, no pair stream), which makes it the cheapest
    // template triage there is and the first pass a crawl pipeline
    // runs. Per cluster: size, source/lang spread (a template
    // spanning many sources is a mirror; one source is a site
    // skeleton), keeper = min doc_id. Distinct-count spread rides
    // the same single aggregation (two-phase Expand). The prefix key
    // is d01-skew-shaped (one hot key possible — the empty-ish
    // template); AQE skew handling is pinned for this family in
    // SkewSpec.
    QuerySpec("d85_template_prefix", Seq(col("n_docs").desc, col("prefix")),
      // Scans: template triage is ONE prefix-keyed shuffle — d01's cost
      Pins(Scans(documents = 1), 2),
      Corpus.docsCte + prefixKeysCte +
      """SELECT prefix, count(1) AS n_docs,
        |  count(DISTINCT source) AS n_sources,
        |  count(DISTINCT lang) AS n_langs,
        |  min(doc_id) AS keep_doc
        |FROM pref GROUP BY prefix HAVING count(1) > 1
        |ORDER BY n_docs DESC, prefix""".stripMargin) { (s, dir) =>
      prefixKeys(Corpus.docs(s, dir))
        .groupBy("prefix")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("source")).as("n_sources"),
          countDistinct(col("lang")).as("n_langs"),
          min(col("doc_id")).as("keep_doc"))
        .filter(col("n_docs") > 1)
    },

    // Dedup-yield THRESHOLD CURVE — the tuning sweep run before fixing
    // a near-dup cutoff (d68's nprobe curve, asked of the text side):
    // at Jaccard ≥ 0.5 / 0.95 / 0.98 (the corpus dup fixture is near-
    // identical copies, so the interesting cutoffs sit NEAR 1 — itself
    // a finding the curve surfaces), how many exact near-dup pairs
    // exist and how many docs are touched by at least one? The exact
    // pair stream is computed ONCE (the d34 baseline pipeline,
    // persisted), each pair fans out to its qualifying thresholds ×
    // both endpoints, and ONE aggregate yields pairs (= doc rows div
    // 2, exact) and distinct affected docs per threshold — the sweep
    // never recomputes a join. Jaccard is the one-shot divide of
    // exact integer counts, so the ≥t comparisons are bit-identical
    // cross-engine. This is what turns "0.8 feels right" into a
    // measured pairs/docs trade at each candidate cutoff.
    // Scans: ONE gram pass (the pair core); the threshold sweep reads the persisted pair frame,
    // never the corpus
    QuerySpec("d71_dedup_curve", by("t"), Pins(Scans(documents = 1), 5),
      Corpus.docsCte +
      """, sizes AS (SELECT doc_id, count(1) AS n FROM grams GROUP BY 1),
        |pj AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |    CAST(count(1) AS DOUBLE)
        |      / (any_value(sa.n) + any_value(sb.n) - count(1)) AS j
        |  FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |  JOIN sizes sa ON sa.doc_id = a.doc_id
        |  JOIN sizes sb ON sb.doc_id = b.doc_id
        |  GROUP BY a.doc_id, b.doc_id
        |  HAVING CAST(count(1) AS DOUBLE)
        |    / (any_value(sa.n) + any_value(sb.n) - count(1)) >= 0.5),
        |th AS (SELECT unnest(CAST([0.5, 0.95, 0.98] AS DOUBLE[])) AS t),
        |ex AS (SELECT th.t, pj.a_id, pj.b_id FROM pj JOIN th ON pj.j >= th.t),
        |docstream AS (
        |  SELECT t, unnest([a_id, b_id]) AS doc FROM ex)
        |SELECT t, count(1) // 2 AS n_pairs, count(DISTINCT doc) AS n_docs
        |FROM docstream GROUP BY t ORDER BY t""".stripMargin) { (s, dir) =>
      val p = jaccardPairs(gramStreamPersisted(s, dir))
        .select("a_id", "b_id", "jaccard")
        .transform(persisted)
      p.select(col("a_id"), col("b_id"), col("jaccard"),
          explode(array(lit(0.5), lit(0.95), lit(0.98))).as("t"))
        .filter(col("jaccard") >= col("t"))
        .select(col("t"), explode(array(col("a_id"), col("b_id"))).as("doc"))
        .groupBy("t")
        .agg(expr("count(1) div 2").as("n_pairs"),
          countDistinct(col("doc")).as("n_docs"))
    },

    // Exact dedup: md5 over normalized text; min doc_id is the keeper.
    QuerySpec("d01_dedup_exact", by("content_hash"), Pins(Scans(documents = 1), 1),
      Corpus.docsCte +
      """SELECT md5(norm) AS content_hash, min(doc_id) AS keep_doc, count(1) AS n_docs
        |FROM docs GROUP BY 1 ORDER BY content_hash""".stripMargin) { (s, dir) =>
      exactDedupOver(Corpus.docs(s, dir))
    },

    // Word-3-gram Jaccard near-dup pairs (|∩|/|∪| ≥ 0.5).
    QuerySpec("d02_dedup_ngram", by("a_id", "b_id"), Pins(Scans(documents = 1), 3),
      Corpus.docsCte +
      """, sizes AS (SELECT doc_id, count(1) AS n FROM grams GROUP BY 1)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(1) AS inter,
        |  CAST(count(1) AS DOUBLE) / (any_value(sa.n) + any_value(sb.n) - count(1)) AS jaccard
        |FROM grams a
        |JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |JOIN sizes sa ON sa.doc_id = a.doc_id
        |JOIN sizes sb ON sb.doc_id = b.doc_id
        |GROUP BY a.doc_id, b.doc_id
        |HAVING CAST(count(1) AS DOUBLE) / (any_value(sa.n) + any_value(sb.n) - count(1)) >= 0.5
        |ORDER BY a_id, b_id""".stripMargin) { (s, dir) =>
      jaccardPairs(gramStreamPersisted(s, dir))
        .select("a_id", "b_id", "inter", "jaccard")
    },

    // MinHash signatures (k=16, md5-derived hash family).
    QuerySpec("d03_minhash", by("doc_id", "seed"), Pins(Scans(documents = 1), 1),
      Corpus.docsCte + ", " + minhashSql +
      "\nSELECT doc_id, seed, minh FROM mh ORDER BY doc_id, seed") { (s, dir) =>
      minhash(s, dir)
    },

    // LSH banding (4 bands × 4 rows): candidate pairs share ≥1 band.
    // Band signatures come straight off the wide per-doc signature row
    // (concat of 4 members) — no second shuffle to regroup by band.
    QuerySpec("d04_minhash_lsh", by("a_id", "b_id"), Pins(Scans(documents = 1), 3),
      lshPairsCte +
      "\nSELECT a_id, b_id, n_shared_bands FROM pairs ORDER BY a_id, b_id") { (s, dir) =>
      lshPairs(s, dir)
    },

    // INCREMENTAL near-dup probe — the production shape of d04: a
    // corpus is deduped ONCE, then every arriving shard probes the
    // PERSISTED signature index instead of re-running the corpus
    // self-join (the near-dup twin of d49's exact content-hash
    // freshen). Arriving = the every-3rd-doc partition (the s10/s24
    // ingested-partition convention), index = the rest; both sides
    // ride ONE persisted signature pass, the candidate join is
    // equi on (band, sig) with the small arriving side driving it,
    // and every arriving doc gets a verdict (suspect ⟺ any index
    // partner shares a band). At 100 TB: |shard| ≪ |corpus| makes
    // this the only affordable continuous-dedup shape — cost scales
    // with the shard, not the corpus².
    // Scans: both probe sides + the arriving-verdict frame ride the ONE persisted signature pass
    QuerySpec("d76_incremental_neardup", by("new_id"), Pins(Scans(documents = 1), 5),
      bandSigsCte +
      """, cand AS (
        |  SELECT a.doc_id AS new_id, b.doc_id AS dup_of, count(1) AS nb
        |  FROM sig a JOIN sig b ON a.band = b.band AND a.sig = b.sig
        |  WHERE a.doc_id % 3 = 0 AND b.doc_id % 3 <> 0
        |  GROUP BY 1, 2),
        |st AS (
        |  SELECT new_id, count(1) AS n_partners, max(nb) AS max_bands,
        |         min(dup_of) AS first_dup
        |  FROM cand GROUP BY 1),
        |arrv AS (SELECT DISTINCT doc_id AS new_id FROM sig WHERE doc_id % 3 = 0)
        |SELECT a.new_id, COALESCE(st.n_partners, 0) AS n_partners,
        |  COALESCE(st.max_bands, 0) AS max_bands, st.first_dup,
        |  COALESCE(st.n_partners, 0) > 0 AS suspect
        |FROM arrv a LEFT JOIN st ON a.new_id = st.new_id
        |ORDER BY a.new_id""".stripMargin) { (s, dir) =>
      val sig = bandSigsPersisted(s, dir)
      val idx = sig.filter(col("doc_id") % 3 =!= 0).toDF("dup_of", "band", "sig")
      val arr = sig.filter(col("doc_id") % 3 === 0).toDF("new_id", "band", "sig")
      val stats = arr.join(idx, Seq("band", "sig"))
        .groupBy("new_id", "dup_of").agg(count(lit(1)).as("nb"))
        .groupBy("new_id")
        .agg(count(lit(1)).as("n_partners"), max(col("nb")).as("max_bands"),
          min(col("dup_of")).as("first_dup"))
      arr.select(col("new_id")).distinct()
        .join(stats, Seq("new_id"), "left")
        .select(col("new_id"),
          coalesce(col("n_partners"), lit(0L)).as("n_partners"),
          coalesce(col("max_bands"), lit(0L)).as("max_bands"),
          col("first_dup"),
          (coalesce(col("n_partners"), lit(0L)) > 0).as("suspect"))
    },

    // 32-bit SimHash fingerprints + hamming-near pairs (≤ 2 bits apart).
    QuerySpec("d05_simhash", by("a_id", "b_id"), Pins(Scans(documents = 1), 2),
      Corpus.docsCte +
      s""", wd AS (SELECT DISTINCT doc_id, w FROM (SELECT doc_id, unnest(ws) AS w FROM docs) t),
         |sgns AS (
         |  SELECT doc_id, b,
         |    sum(CASE WHEN (${Corpus.hash32Sql("w")} >> b) & 1 = 1 THEN 1 ELSE -1 END) AS sgn
         |  FROM wd, UNNEST(range(0, 32)) t(b)
         |  GROUP BY doc_id, b
         |),
         |fp AS (
         |  SELECT doc_id,
         |    CAST(sum(CASE WHEN sgn > 0 THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS fp
         |  FROM sgns GROUP BY doc_id
         |)
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.fp AS fp_a, b.fp AS fp_b,
         |  bit_count(xor(a.fp, b.fp)) AS hamming
         |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.fp, b.fp)) <= 2
         |ORDER BY a_id, b_id""".stripMargin) { (s, dir) =>
      // Fingerprints are a pure per-row projection via the SimHash32
      // kernel (one pass over the row's distinct words) — the
      // explode→distinct→32-sign-sums formulation the oracle mirrors
      // would push |words| rows through TWO shuffles first.
      val fp = Corpus.docs(s, dir)
        .select(col("doc_id"), SimHash32(array_distinct(col("ws"))).as("fp"))
      // Pairing via pigeonhole banding: split the 32-bit fp into 3
      // bands (11+11+10 bits). hamming ≤ 2 means at most 2 bands can
      // differ, so every qualifying pair is bit-identical in ≥1 band —
      // candidates group by (band_idx, band_bits) (shuffle-partitioned,
      // scales like LSH), never an all-pairs nested loop. Recall is
      // exact, so the all-pairs oracle matches.
      val bands = fp.select(col("doc_id"), col("fp"), expr(
        """explode(array(
          |  struct(0 AS bi, fp & 2047 AS bv),
          |  struct(1 AS bi, shiftright(fp, 11) & 2047 AS bv),
          |  struct(2 AS bi, shiftright(fp, 22) & 1023 AS bv))) AS b""".stripMargin))
        .select(col("doc_id"), col("fp"), col("b.bi"), col("b.bv"))
      // candidate pairs via the combination explode over each band
      // bucket (the gramPairStats shape) — one exchange replaces the
      // band self-join; hamming filters BEFORE the dedup shuffle
      bands.groupBy("bi", "bv")
        .agg(sort_array(collect_list(struct(col("doc_id"), col("fp")))).as("ds"))
        .filter(size(col("ds")) > 1)
        .select(explode(combos(col("ds"))).as("p"))
        .select(col("p.a.doc_id").as("a_id"), col("p.b.doc_id").as("b_id"),
          col("p.a.fp").as("fp_a"), col("p.b.fp").as("fp_b"))
        .withColumn("hamming", expr("bit_count(fp_a ^ fp_b)"))
        .filter(col("hamming") <= 2)
        .select("a_id", "b_id", "fp_a", "fp_b", "hamming")
        .distinct() // a pair may collide in 2-3 bands
    },

    // CONTAINMENT near-dup pairs: |A∩B| / min(|A|,|B|) — the asymmetric
    // complement of d02's Jaccard. A short doc fully embedded in a long
    // one scores ~|A∩B|/|A| ≈ 1 here but |A∩B|/|A∪B| ≪ 1 on Jaccard, so
    // quote/excerpt duplication only this metric catches. Same exact
    // df=1 pruning as d02 (an unshared gram contributes nothing to the
    // intersection; the denominators come from the unpruned per-doc
    // sizes), so the quadratic join again runs only over the shareable
    // gram minority.
    // CONTAINMENT ESTIMATION quality — d34's measure-don't-guess gate
    // for d30's asymmetric metric: can the MinHash sketch STAND IN for
    // the exact containment a quote/excerpt dedup pass needs? Per LSH
    // candidate pair: the signature agreement (n_match/16 estimates
    // Jaccard — n_match ≥ 4 by construction, the matching band's
    // seeds), the containment ESTIMATE derived from it via the exact
    // identity |∩| = J(na+nb)/(1+J) ⟹ Ĉ = Ĵ(na+nb)/((1+Ĵ)·min(na,nb))
    // (sizes are exact per-doc gram counts — only J is sketched), and
    // the exact containment to judge it against. The exact |∩| is
    // computed ONLY for the candidate minority (semi-join restriction
    // BEFORE the pair aggregate — at 100 TB the quadratic gram join
    // never runs outside the sketch's shortlist, which is the whole
    // point being evaluated). n_match/16 is a power-of-two divide —
    // exact in binary, so every float here is bit-identical
    // cross-engine.
    // Scans: ONE cached gram pass — wide signatures, band-sig candidates, exact intersections AND
    // sizes all derive from it
    QuerySpec("d104_containment_est", by("a_id", "b_id"), Pins(Scans(documents = 1), 16),
      lshPairsCte +
      """, cand AS (SELECT a_id, b_id FROM pairs),
        |mm AS (
        |  SELECT c.a_id, c.b_id,
        |    CAST(count(CASE WHEN ma.minh = mb.minh THEN 1 END) AS BIGINT) AS n_match
        |  FROM cand c
        |  JOIN mh ma ON ma.doc_id = c.a_id
        |  JOIN mh mb ON mb.doc_id = c.b_id AND mb.seed = ma.seed
        |  GROUP BY 1, 2),
        |sizes2 AS (SELECT doc_id, count(1) AS n FROM grams GROUP BY 1),
        |ints AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(count(1) AS BIGINT) AS inter
        |  FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |  JOIN cand c ON c.a_id = a.doc_id AND c.b_id = b.doc_id
        |  GROUP BY 1, 2)
        |SELECT m.a_id, m.b_id, m.n_match,
        |  CAST(m.n_match AS DOUBLE) / 16.0 AS j_est,
        |  (CAST(m.n_match AS DOUBLE) / 16.0) * CAST(sa.n + sb.n AS DOUBLE)
        |    / ((1.0 + CAST(m.n_match AS DOUBLE) / 16.0) * CAST(least(sa.n, sb.n) AS DOUBLE)) AS c_est,
        |  COALESCE(i.inter, 0) AS inter,
        |  CAST(COALESCE(i.inter, 0) AS DOUBLE) / CAST(least(sa.n, sb.n) AS DOUBLE) AS c_exact
        |FROM mm m
        |LEFT JOIN ints i ON i.a_id = m.a_id AND i.b_id = m.b_id
        |JOIN sizes2 sa ON sa.doc_id = m.a_id
        |JOIN sizes2 sb ON sb.doc_id = m.b_id
        |ORDER BY m.a_id, m.b_id""".stripMargin) { (s, dir) =>
      // ONE wide-signature build off the CACHED gram stream (shared
      // with the exact-intersection core below), persisted because it
      // feeds the band-sig candidate generation AND both endpoint
      // lookup sides — same distinct gram set per doc, same md5 hash
      // family, so bit-identical signatures to minhashWide's at zero
      // extra corpus scans (r18 built them TWICE: once in
      // bandSigsPersisted's own scan for the candidates, once from the
      // cached stream for the lookups)
      val dg = gramStreamPersisted(s, dir)
      val aw = minhashWideOver(dg)
        .transform(persisted)
      val cand = lshPairsOver(bandSigsOf(aw)).select("a_id", "b_id")
        .transform(persisted)
      val a = aw.toDF(("a_id" +: (0 until 16).map(i => s"ma$i")): _*)
      val b = aw.toDF(("b_id" +: (0 until 16).map(i => s"mb$i")): _*)
      val nMatch = (0 until 16)
        .map(i => when(col(s"ma$i") === col(s"mb$i"), 1L).otherwise(0L))
        .reduce(_ + _)
      // sizes is one tiny aggregate over the CACHED gram stream (n is
      // constant per doc) — no extra corpus scan
      val sizes = dg
        .groupBy("doc_id").agg(min(col("n")).as("n"))
      // exact |∩| restricted to the CANDIDATE DOC MINORITY before the
      // quadratic gram self-join (guide §3.2 — pre-filter the big side
      // with a semi-join): inter is consumed ONLY for cand pairs, and
      // both endpoints of a cand pair are in cand's doc set, so
      // restricting the stream cannot change any kept pair's count —
      // while the m² pair fan-out prunes from the full corpus to the
      // near-dup minority (r18 ran the FULL d02-grade pair aggregate
      // here and left-joined it; that full m² pass was d104's dominant
      // residual). The doc-id set is broadcast (the near-dup minority
      // by construction); at a scale where it outgrows the broadcast
      // cap, the same shape runs on a §3.2 Bloom filter.
      val candDocs = cand
        .select(explode(array(col("a_id"), col("b_id"))).as("doc_id"))
        .distinct()
      val dgc = dg.select("doc_id", "gram")
        .join(broadcast(candDocs), Seq("doc_id"), "left_semi")
      val inter = dgc.toDF("a_id", "gram")
        .join(dgc.toDF("b_id", "gram").select(col("gram"), col("b_id")), Seq("gram"))
        .filter(col("a_id") < col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(count(lit(1)).as("inter"))
      cand
        .join(a, Seq("a_id")).join(b, Seq("b_id"))
        .withColumn("n_match", nMatch)
        .select("a_id", "b_id", "n_match")
        .join(inter, Seq("a_id", "b_id"), "left")
        .na.fill(0L, Seq("inter"))
        .join(sizes.toDF("a_id", "na"), Seq("a_id"))
        .join(sizes.toDF("b_id", "nb"), Seq("b_id"))
        .withColumn("j_est", col("n_match").cast("double") / lit(16.0))
        .withColumn("c_est",
          col("j_est") * (col("na") + col("nb")).cast("double")
            / ((lit(1.0) + col("j_est")) * least(col("na"), col("nb")).cast("double")))
        .withColumn("c_exact",
          col("inter").cast("double") / least(col("na"), col("nb")).cast("double"))
        .select("a_id", "b_id", "n_match", "j_est", "c_est", "inter", "c_exact")
    },

    // DUPLICATION PROVENANCE — which sources copy from which: d02's
    // exact near-dup pairs rolled up to the (source, source) matrix
    // (pair sources canonicalized least/greatest so the matrix is
    // upper-triangular), with the cross-source flag a release report
    // leads with — intra-source duplication is a crawler artifact,
    // CROSS-source duplication is syndication/mirroring and decides
    // which source a dedup pass should prefer to keep. The pair
    // stream is the near-dup MINORITY, so both rollup joins and the
    // matrix aggregate are bounded by it; the (doc_id, source) lookup
    // is ONE pruned corpus scan persisted for its two join sides
    // (pin documents=4: d02's three-pass gram pipeline + this one).
    // Scans: d02's one-pass gram pair core + ONE pruned (doc_id, source) scan persisted for its
    // two join sides
    QuerySpec("d103_dup_provenance", by("source_a", "source_b"), Pins(Scans(documents = 2), 6),
      Corpus.docsCte + ", " + exactPairsCte +
      """SELECT source_a, source_b, count(1) AS n_pairs,
        |  source_a <> source_b AS cross_source
        |FROM (
        |  SELECT least(da.source, db.source) AS source_a,
        |    greatest(da.source, db.source) AS source_b
        |  FROM exact e
        |  JOIN docs da ON da.doc_id = e.a_id
        |  JOIN docs db ON db.doc_id = e.b_id) t
        |GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin) { (s, dir) =>
      val pairs = jaccardPairs(gramStreamPersisted(s, dir)).select("a_id", "b_id")
      val src = Corpus.docs(s, dir).select(col("doc_id"), col("source"))
        .transform(persisted)
      pairs
        .join(src.toDF("a_id", "src_a"), Seq("a_id"))
        .join(src.toDF("b_id", "src_b"), Seq("b_id"))
        .select(least(col("src_a"), col("src_b")).as("source_a"),
          greatest(col("src_a"), col("src_b")).as("source_b"))
        .groupBy("source_a", "source_b")
        .agg(count(lit(1)).as("n_pairs"))
        .withColumn("cross_source", col("source_a") =!= col("source_b"))
    },

    QuerySpec("d30_containment", by("a_id", "b_id"), Pins(Scans(documents = 1), 3),
      Corpus.docsCte +
      """, sizes AS (SELECT doc_id, count(1) AS n FROM grams GROUP BY 1)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(1) AS inter,
        |  any_value(sa.n) AS na, any_value(sb.n) AS nb,
        |  CAST(count(1) AS DOUBLE) / least(any_value(sa.n), any_value(sb.n)) AS containment
        |FROM grams a
        |JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |JOIN sizes sa ON sa.doc_id = a.doc_id
        |JOIN sizes sb ON sb.doc_id = b.doc_id
        |GROUP BY a.doc_id, b.doc_id
        |HAVING CAST(count(1) AS DOUBLE) / least(any_value(sa.n), any_value(sb.n)) >= 0.8
        |ORDER BY a_id, b_id""".stripMargin) { (s, dir) =>
      // same one-scan/two-exchange pair core as d02 ([[gramPairStats]]);
      // only the metric differs (min-denominator instead of union)
      gramPairStats(gramStreamPersisted(s, dir))
        .withColumn("containment",
          col("inter").cast("double") / least(col("na"), col("nb")))
        .filter(col("containment") >= 0.8)
        .select("a_id", "b_id", "inter", "na", "nb", "containment")
    },

    // Sketch-quality evaluation — measure, don't guess: what fraction
    // of the EXACT Jaccard-0.5 near-dup pairs does the d04 MinHash-LSH
    // candidate generation actually surface (recall), and how selective
    // is the candidate set (n_candidates vs n_hit)? This is the QA
    // gate a production dedup pipeline runs on a sample before trusting
    // the sketch path at full corpus scale. Both inputs are the shared
    // bucketed plans (exact pairs df=1-pruned, candidates band-joined);
    // the comparison itself is one tiny pair-key join.
    // Scans: candidates derive their band signatures from the SAME cached gram stream the exact
    // baseline reads — one corpus scan for the whole recall evaluation
    QuerySpec("d34_lsh_recall", Nil, Pins(Scans(documents = 1), 13),
      lshPairsCte + ", " + exactPairsCte +
      """SELECT
        |  (SELECT count(1) FROM exact) AS n_exact,
        |  (SELECT count(1) FROM pairs) AS n_candidates,
        |  (SELECT count(1) FROM exact e JOIN pairs p
        |     ON e.a_id = p.a_id AND e.b_id = p.b_id) AS n_hit,
        |  CAST((SELECT count(1) FROM exact e JOIN pairs p
        |     ON e.a_id = p.a_id AND e.b_id = p.b_id) AS DOUBLE)
        |    / greatest((SELECT count(1) FROM exact), 1) AS recall""".stripMargin) { (s, dir) =>
      val dg = gramStreamPersisted(s, dir)
      val exact = jaccardPairs(dg).select("a_id", "b_id")
      // candidates from the gram stream the exact side already
      // persists (bit-identical signatures, one corpus scan for the
      // whole query instead of two)
      val cand = lshPairsOver(bandSigsFromGrams(dg)).select("a_id", "b_id")
      val hits = exact.join(cand.withColumn("hit", lit(1)),
        Seq("a_id", "b_id"), "left")
        .agg(count(lit(1)).as("n_exact"), count(col("hit")).as("n_hit"))
      val nCand = cand.agg(count(lit(1)).as("n_candidates"))
      hits.crossJoin(broadcast(nCand))
        .withColumn("recall",
          col("n_hit").cast("double") / greatest(col("n_exact"), lit(1L)))
        .select("n_exact", "n_candidates", "n_hit", "recall")
    },

    // LSH BAND-BUDGET curve — d68's nprobe law applied to the banding
    // knob: how much recall does each of d04's 4 bands BUY, at what
    // candidate-volume COST? The whole curve prices the b=1..4 sweep
    // from ONE pair aggregate: a pair's fate under a b-band budget is
    // fully determined by its FIRST shared band (candidate ⟺
    // first_band < b), so one (a_id, b_id) → min(band) rollup feeds
    // all four budgets as conditional counts — no per-budget re-join,
    // no 4× candidate generation (d68 must re-rank per nprobe because
    // probe order changes scores; a band budget only GATES, so the
    // sweep collapses). Exact truth = the d34 gram-Jaccard baseline.
    // Output: per budget the candidate count, hits, recall — the
    // "which b do I need at my recall target" table that sizes the
    // production d04 config. persist on the pair rollup: the hits
    // join and the cost aggregate both consume it (d72's convention).
    // Scans: the d34 shape — band signatures ride the same cached gram stream as the exact
    // baseline; the b=1..4 sweep adds ZERO passes — one first-band pair rollup feeds all four
    // budgets
    QuerySpec("d105_lsh_band_curve", by("n_bands"), Pins(Scans(documents = 1), 10),
      bandSigsCte + ", " + exactPairsCte +
      """, fb AS (
        |  SELECT x.doc_id AS a_id, y.doc_id AS b_id, min(x.band) AS first_band
        |  FROM sig x JOIN sig y
        |    ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2)
        |SELECT CAST(nb AS INTEGER) AS n_bands,
        |  (SELECT count(1) FROM exact) AS n_exact,
        |  (SELECT count(1) FROM fb WHERE first_band < nb) AS n_candidates,
        |  (SELECT count(1) FROM exact e JOIN fb f
        |     ON e.a_id = f.a_id AND e.b_id = f.b_id
        |   WHERE f.first_band < nb) AS n_hit,
        |  CAST((SELECT count(1) FROM exact e JOIN fb f
        |     ON e.a_id = f.a_id AND e.b_id = f.b_id
        |   WHERE f.first_band < nb) AS DOUBLE)
        |    / greatest((SELECT count(1) FROM exact), 1) AS recall
        |FROM (SELECT unnest(range(1, 5)) AS nb) t
        |ORDER BY n_bands""".stripMargin) { (s, dir) =>
      // signatures from the gram stream the exact side already
      // persists (bit-identical, one corpus scan for the whole query)
      val dg = gramStreamPersisted(s, dir)
      val sig = bandSigsFromGrams(dg)
      // lshPairs' combination-explode shape, keeping min(band) instead
      // of the shared-band count — one exchange instead of a self-join
      val firstBand = sig.groupBy("band", "sig")
        .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
        .filter(size(col("ds")) > 1)
        .select(col("band"), explode(combos(col("ds"))).as("p"))
        .groupBy(col("p.a").as("a_id"), col("p.b").as("b_id"))
        .agg(min(col("band")).as("first_band"))
        .transform(persisted)
      val exact = jaccardPairs(dg).select("a_id", "b_id")
      val hits = exact.join(firstBand, Seq("a_id", "b_id"), "left")
        .agg(count(lit(1)).as("n_exact"),
          (1 to 4).map(nb =>
            count(when(col("first_band") < nb, 1)).as(s"h$nb")): _*)
      val cands = firstBand.agg(
        count(when(col("first_band") < 1, 1)).as("c1"),
        (2 to 4).map(nb =>
          count(when(col("first_band") < nb, 1)).as(s"c$nb")): _*)
      hits.crossJoin(broadcast(cands))
        .selectExpr("n_exact",
          "stack(4, 1, c1, h1, 2, c2, h2, 3, c3, h3, 4, c4, h4) AS (n_bands, n_candidates, n_hit)")
        .withColumn("recall",
          col("n_hit").cast("double") / greatest(col("n_exact"), lit(1L)))
        .select("n_bands", "n_exact", "n_candidates", "n_hit", "recall")
    },

    // SAMPLE-MEASUREMENT BIAS curve — the methodology check behind
    // "just measure duplication on a 10% sample": a pair survives
    // uniform doc sampling only when BOTH endpoints survive, so the
    // observed pair count scales ~r² while the doc count scales ~r —
    // a sampled dup-rate UNDERSTATES the corpus's by ~r, and anyone
    // sizing a dedup pass from a sample must divide by this curve.
    // Per rate r ∈ {25%, 50%, 75%, 100%} (md5 bucket < 256·r, the
    // d38/d57 content-keyed sampling family — deterministic, so the
    // "sample" is reproducible): sampled docs, surviving d04 LSH
    // pairs, the measured dup rate, and its bias vs the full-corpus
    // rate (bias(1.0) ≡ 1 by construction). ONE pair rollup prices
    // all four rates (a pair's fate is its max endpoint bucket — the
    // d105 monotone-gate collapse); the bucket lookup is one pruned
    // corpus scan PERSISTED for its two join sides (d103's
    // convention; pin documents=2 with the cached signatures).
    // Scans: the cached signature pass + the pruned bucket lookup persisted for its two pair-join
    // sides (d103's convention); all four rates ride ONE pair rollup
    QuerySpec("d110_sample_dedup_bias", by("rate"), Pins(Scans(documents = 2), 8),
      lshPairsCte +
      """, bk AS (
        |  SELECT doc_id,
        |    CAST(concat('0x', substr(md5(concat('smp2', CAST(doc_id AS VARCHAR))), 1, 2)) AS INT) AS b
        |  FROM documents),
        |pb AS (
        |  SELECT greatest(ba.b, bb.b) AS bmax
        |  FROM pairs p JOIN bk ba ON ba.doc_id = p.a_id
        |               JOIN bk bb ON bb.doc_id = p.b_id),
        |pa AS (
        |  SELECT count(CASE WHEN bmax < 64 THEN 1 END) AS p64,
        |    count(CASE WHEN bmax < 128 THEN 1 END) AS p128,
        |    count(CASE WHEN bmax < 192 THEN 1 END) AS p192,
        |    count(1) AS p256
        |  FROM pb),
        |da AS (
        |  SELECT count(CASE WHEN b < 64 THEN 1 END) AS d64,
        |    count(CASE WHEN b < 128 THEN 1 END) AS d128,
        |    count(CASE WHEN b < 192 THEN 1 END) AS d192,
        |    count(1) AS d256
        |  FROM bk),
        |rows4 AS (
        |  SELECT CAST(0.25 AS DOUBLE) AS rate, d64 AS n_docs, p64 AS n_pairs, d256, p256 FROM pa, da
        |  UNION ALL SELECT CAST(0.5 AS DOUBLE), d128, p128, d256, p256 FROM pa, da
        |  UNION ALL SELECT CAST(0.75 AS DOUBLE), d192, p192, d256, p256 FROM pa, da
        |  UNION ALL SELECT CAST(1.0 AS DOUBLE), d256, p256, d256, p256 FROM pa, da)
        |SELECT rate, n_docs, n_pairs,
        |  CAST(n_docs AS DOUBLE) / CAST(d256 AS DOUBLE) AS doc_frac,
        |  CAST(n_pairs AS DOUBLE) / CAST(n_docs AS DOUBLE) AS dup_rate,
        |  (CAST(n_pairs AS DOUBLE) / CAST(n_docs AS DOUBLE))
        |    / (CAST(p256 AS DOUBLE) / CAST(d256 AS DOUBLE)) AS bias_vs_full
        |FROM rows4 ORDER BY rate""".stripMargin) { (s, dir) =>
      val bkExpr =
        "CAST(conv(substr(md5(concat('smp2', CAST(doc_id AS STRING))), 1, 2), 16, 10) AS INT)"
      val bk = graft.sources.Tables.documents(s, dir)
        .select(col("doc_id"), expr(bkExpr).as("b"))
        .transform(persisted)
      val pb = lshPairs(s, dir).select("a_id", "b_id")
        .join(bk.toDF("a_id", "ba"), Seq("a_id"))
        .join(bk.toDF("b_id", "bb"), Seq("b_id"))
        .select(greatest(col("ba"), col("bb")).as("bmax"))
      val p = pb.agg(
        count(when(col("bmax") < 64, 1)).as("p64"),
        count(when(col("bmax") < 128, 1)).as("p128"),
        count(when(col("bmax") < 192, 1)).as("p192"),
        count(lit(1)).as("p256"))
      val d = bk.agg(
        count(when(col("b") < 64, 1)).as("d64"),
        count(when(col("b") < 128, 1)).as("d128"),
        count(when(col("b") < 192, 1)).as("d192"),
        count(lit(1)).as("d256"))
      p.crossJoin(broadcast(d))
        .selectExpr(
          "stack(4, 0.25D, d64, p64, 0.5D, d128, p128, 0.75D, d192, p192, 1.0D, d256, p256) AS (rate, n_docs, n_pairs)",
          "d256", "p256")
        .select(col("rate"), col("n_docs"), col("n_pairs"),
          (col("n_docs").cast("double") / col("d256").cast("double"))
            .as("doc_frac"),
          (col("n_pairs").cast("double") / col("n_docs").cast("double"))
            .as("dup_rate"),
          ((col("n_pairs").cast("double") / col("n_docs").cast("double"))
            / (col("p256").cast("double") / col("d256").cast("double")))
            .as("bias_vs_full"))
    },

    // Duplicated-SPAN detection (the tile analogue of suffix-array
    // substring dedup, Lee et al. 2022 "Deduplicating Training Data
    // Makes Language Models Better"): non-overlapping 8-word tiles per
    // doc, a tile reused by ≥2 distinct docs marks a duplicated span,
    // and each doc reports what fraction of its tiles is boilerplate
    // shared with the rest of the corpus. Catches cross-doc REPEATED
    // PASSAGES that whole-doc hashing (d01) misses and per-doc
    // shingling (d02) only prices in aggregate. Scale: the explode
    // fan-out is |words|/8 per doc (8× FEWER rows than the corpus word
    // stream), the df count is a map-side-partial hash agg keyed by
    // tile hash, and the join back probes the same hash-partitioned
    // key — co-partitioned with the agg output, no extra exchange. No
    // broadcast hint: the tile vocabulary grows with the corpus.
    QuerySpec("d36_tile_dedup", by("doc_id"), Pins(Scans(documents = 2), 3),
      Corpus.docsCte + Corpus.tilesCte +
      """, dfreq AS (SELECT tile, count(1) AS df FROM tiles GROUP BY tile)
        |SELECT t.doc_id, count(1) AS n_tiles,
        |  CAST(sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_tiles,
        |  CAST(sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(1) AS dup_frac,
        |  CAST(sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(1) >= 0.5 AS flagged
        |FROM tiles t JOIN dfreq d ON t.tile = d.tile
        |GROUP BY t.doc_id
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val tiles = Corpus.tiles(graft.sources.Tables.documents(s, dir))
        .select("doc_id", "tile")
      val dfreq = tiles.groupBy("tile").agg(count(lit(1)).as("df"))
      tiles.join(dfreq, Seq("tile"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tiles"),
          sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup_tiles"))
        .withColumn("dup_frac",
          col("n_dup_tiles").cast("double") / col("n_tiles"))
        .withColumn("flagged", col("dup_frac") >= 0.5)
    },

    // Duplicated-span EXTENTS (the positional completion of d36's
    // suffix-array-dedup analogue, Lee et al. 2022): d36 PRICES each
    // doc's duplicated-tile fraction; this op LOCATES the longest
    // CONTIGUOUS duplicated extent — the "remove the span, not the
    // document" decision substring dedup actually makes (a doc with
    // 30% scattered dup tiles is noisy; a doc with a 10-tile
    // contiguous run contains a verbatim lifted passage). A tile is
    // dup only when ≥2 DISTINCT docs share it (min≠max doc over the
    // tile partition — doc-internal repetition is d29's business, not
    // cross-doc leakage); runs come from the gaps-and-islands window
    // (i − row_number per doc over dup tiles). Scale: ONE corpus scan
    // explodes to |words|/8 positional tiles; the tile window is one
    // hash exchange on the tile stream (min/max ride the same window
    // pass, no df join); the flagged stream persists once and feeds
    // the per-doc rollup AND the island windows (both repartition by
    // doc_id, co-partitioned with each other).
    // Scans: one corpus scan into the positional tile explode; the persisted flagged stream feeds
    // the rollup AND the island runs
    QuerySpec("d90_dup_spans", by("doc_id"), Pins(Scans(documents = 1), 4),
      Corpus.docsCte + Corpus.posTilesCte +
      """, flag AS (
        |  SELECT doc_id, i,
        |    min(doc_id) OVER (PARTITION BY tile)
        |      <> max(doc_id) OVER (PARTITION BY tile) AS is_dup
        |  FROM ptiles),
        |agg AS (
        |  SELECT doc_id, count(1) AS n_tiles,
        |    CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_tiles
        |  FROM flag GROUP BY doc_id),
        |druns AS (
        |  SELECT doc_id, count(1) AS run_len
        |  FROM (SELECT doc_id, i,
        |          i - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS grp
        |        FROM flag WHERE is_dup) r
        |  GROUP BY doc_id, grp),
        |best AS (SELECT doc_id, max(run_len) AS max_dup_run FROM druns GROUP BY doc_id)
        |SELECT a.doc_id, a.n_tiles, a.n_dup_tiles,
        |  COALESCE(b.max_dup_run, 0) AS max_dup_run,
        |  COALESCE(b.max_dup_run, 0) >= 2 AS has_dup_span
        |FROM agg a LEFT JOIN best b USING (doc_id)
        |ORDER BY a.doc_id""".stripMargin) { (s, dir) =>
      val byTile = org.apache.spark.sql.expressions.Window.partitionBy("tile")
      val flagged = graft.model.Corpus
        .posTiles(graft.sources.Tables.documents(s, dir))
        .withColumn("is_dup",
          min(col("doc_id")).over(byTile) =!= max(col("doc_id")).over(byTile))
        .transform(persisted)
      val agg = flagged.groupBy("doc_id")
        .agg(count(lit(1)).as("n_tiles"),
          sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup_tiles"))
      val runs = flagged.filter(col("is_dup"))
        .withColumn("grp", col("i") - row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("doc_id").orderBy("i")))
        .groupBy("doc_id", "grp").agg(count(lit(1)).as("run_len"))
        .groupBy("doc_id").agg(max(col("run_len")).as("max_dup_run"))
      agg.join(runs, Seq("doc_id"), "left")
        .na.fill(0L, Seq("max_dup_run"))
        .select(col("doc_id"), col("n_tiles"), col("n_dup_tiles"),
          col("max_dup_run"), (col("max_dup_run") >= 2).as("has_dup_span"))
    },

    // OFFSET-ROBUST duplicated-span detection — closes the one gap in
    // the d36/d90 span family: their non-overlapping stride-8 tiles
    // give ZERO shared tiles for a verbatim cross-doc passage whose
    // start offsets differ by k ∉ 8ℤ, so the Lee et al. 2022 analogue
    // held only for aligned passages. Here the span unit is the
    // WINNOWING selection over stride-1 rolling 8-word hashes
    // ([[graft.model.Corpus.winnowTiles]], Schleimer et al. 2003):
    // per-window minima are content-determined, so any shared passage
    // of ≥ 15 words shares at least one selected fingerprint at ANY
    // alignment — the spec pins a passage d90 provably misses (offsets
    // shifted by 3) that this operator catches. Downstream is d90's
    // shape verbatim: a fingerprint is dup when ≥2 DISTINCT docs
    // selected it (min≠max over the fingerprint partition), runs come
    // from gaps-and-islands over each doc's selected SEQUENCE (the
    // selected stream replaces the tile grid, so run length counts
    // consecutive selected dup fingerprints). Scale: ONE corpus scan;
    // the stride-1 explode reduces to ~22% density inside the per-doc
    // selection window BEFORE the fingerprint exchange; the flagged
    // stream persists once and feeds the rollup AND the island windows
    // (both keyed on doc_id, co-partitioned).
    // Scans: ONE corpus scan into the stride-1 rolling explode; the winnowing selection reduces
    // inside the per-doc window BEFORE the fingerprint exchange, and the persisted flagged stream
    // feeds the rollup AND the island windows (d90's shape)
    QuerySpec("d111_winnow_spans", by("doc_id"), Pins(Scans(documents = 1), 5),
      Corpus.docsCte + Corpus.winnowTilesCte +
      """, flag AS (
        |  SELECT doc_id, pos,
        |    min(doc_id) OVER (PARTITION BY tile)
        |      <> max(doc_id) OVER (PARTITION BY tile) AS is_dup
        |  FROM wtiles),
        |seqd AS (
        |  SELECT doc_id, pos, is_dup,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS seq
        |  FROM flag),
        |agg AS (
        |  SELECT doc_id, count(1) AS n_sel,
        |    CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_sel
        |  FROM flag GROUP BY doc_id),
        |druns AS (
        |  SELECT doc_id, count(1) AS run_len
        |  FROM (SELECT doc_id,
        |          seq - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |        FROM seqd WHERE is_dup) r
        |  GROUP BY doc_id, grp),
        |best AS (SELECT doc_id, max(run_len) AS max_dup_run FROM druns GROUP BY doc_id)
        |SELECT a.doc_id, a.n_sel, a.n_dup_sel,
        |  COALESCE(b.max_dup_run, 0) AS max_dup_run,
        |  COALESCE(b.max_dup_run, 0) >= 2 AS has_dup_span
        |FROM agg a LEFT JOIN best b USING (doc_id)
        |ORDER BY a.doc_id""".stripMargin) { (s, dir) =>
      val byTile = org.apache.spark.sql.expressions.Window.partitionBy("tile")
      val bySeq = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("pos")
      val flagged = graft.model.Corpus
        .winnowTiles(graft.sources.Tables.documents(s, dir))
        .withColumn("is_dup",
          min(col("doc_id")).over(byTile) =!= max(col("doc_id")).over(byTile))
        .transform(persisted)
      val agg = flagged.groupBy("doc_id")
        .agg(count(lit(1)).as("n_sel"),
          sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup_sel"))
      val runs = flagged
        .withColumn("seq", row_number().over(bySeq))
        .filter(col("is_dup"))
        .withColumn("grp", col("seq") - row_number().over(bySeq))
        .groupBy("doc_id", "grp").agg(count(lit(1)).as("run_len"))
        .groupBy("doc_id").agg(max(col("run_len")).as("max_dup_run"))
      agg.join(runs, Seq("doc_id"), "left")
        .na.fill(0L, Seq("max_dup_run"))
        .select(col("doc_id"), col("n_sel"), col("n_dup_sel"),
          col("max_dup_run"), (col("max_dup_run") >= 2).as("has_dup_span"))
    },

    // Text↔embedding dedup CONSENSUS — do the two independent near-dup
    // signals (d04's MinHash-LSH over shingles, d17's cosine-LSH over
    // embeddings) agree? A production pipeline runs this before
    // trusting either alone: high agreement validates both, divergence
    // localizes which modality's threshold drifted. Text pairs are
    // restricted to ids that HAVE embeddings (at full scale the
    // embedded subset is a projection of the corpus), then the
    // comparison is one pair-key join over two already-bucketed pair
    // sets — nothing quadratic is introduced by the comparison itself.
    QuerySpec("d41_dedup_consensus", Nil, Pins(Scans(documents = 1, embeddings = 3), 15),
      lshPairsCte + Similarity.embedDupPairsCte +
      """, tpairs AS (
        |  SELECT p.a_id, p.b_id FROM pairs p
        |  WHERE p.a_id IN (SELECT vec_id FROM qtab)
        |    AND p.b_id IN (SELECT vec_id FROM qtab))
        |SELECT
        |  (SELECT count(1) FROM tpairs) AS n_text_pairs,
        |  (SELECT count(1) FROM epairs) AS n_embed_pairs,
        |  (SELECT count(1) FROM tpairs t JOIN epairs e
        |     ON t.a_id = e.a_id AND t.b_id = e.b_id) AS n_both,
        |  CAST((SELECT count(1) FROM tpairs t JOIN epairs e
        |     ON t.a_id = e.a_id AND t.b_id = e.b_id) AS DOUBLE)
        |    / greatest((SELECT count(1) FROM tpairs)
        |        + (SELECT count(1) FROM epairs)
        |        - (SELECT count(1) FROM tpairs t JOIN epairs e
        |             ON t.a_id = e.a_id AND t.b_id = e.b_id), 1) AS agreement
        |FROM (SELECT 1) one""".stripMargin) { (s, dir) =>
      val vecIds = graft.sources.Tables.embeddings(s, dir).select(col("vec_id"))
      val tp = lshPairs(s, dir).select("a_id", "b_id")
        .join(vecIds.toDF("a_id"), Seq("a_id"), "left_semi")
        .join(vecIds.toDF("b_id"), Seq("b_id"), "left_semi")
        .withColumn("t", lit(1))
      val ep = Similarity.embedDupPairs(s, dir).select("a_id", "b_id")
        .withColumn("e", lit(1))
      // ONE full-outer pass computes all three counts — separate
      // count branches cross-joined together would re-evaluate the
      // expensive LSH subtrees once per branch (Spark has no
      // cross-branch subtree sharing)
      tp.join(ep, Seq("a_id", "b_id"), "full_outer")
        .agg(count(col("t")).as("n_text_pairs"),
          count(col("e")).as("n_embed_pairs"),
          count(when(col("t").isNotNull && col("e").isNotNull, 1)).as("n_both"))
        .withColumn("agreement",
          col("n_both").cast("double")
            / greatest(col("n_text_pairs") + col("n_embed_pairs") - col("n_both"), lit(1L)))
        .select("n_text_pairs", "n_embed_pairs", "n_both", "agreement")
    }
  )
}
