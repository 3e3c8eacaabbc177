package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions._
import graft.model.Corpus
import graft.operators.QuerySpec.{by, persisted}

/** §2.C d22–d25 — corpus CURATION: the decisions a training-data
  * pipeline makes on top of the raw analysis/dedup passes (which docs
  * to drop, resample, cluster, or scrub).
  *
  *   - d22 decontamination: a training doc sharing any word-3-gram
  *     with a held-out benchmark set must not be trained on. The
  *     benchmark gram set is tiny relative to the corpus, so it
  *     BROADCASTS and the check is a map-side join — the corpus-side
  *     scan never shuffles.
  *   - d23 corpus mixing: deterministic per-stratum (language)
  *     downsampling via an md5-derived keep bucket — a pure per-row
  *     projection + filter, zero shuffles, reproducible across runs
  *     and engines (no rand()).
  *   - d24 duplicate clusters: connected components over the d04
  *     MinHash-LSH candidate pairs — pairwise near-dup hits become
  *     transitive KEEP-one groups. Alternating large-star/small-star
  *     contraction: O(log² n) rounds regardless of diameter, each a
  *     pair of hash-partitioned join+agg passes, no driver-side data
  *     (the loop's only driver value is the convergence signature —
  *     the same class of per-iteration statistic every iterative-ML
  *     Spark job reads).
  *   - d25 PII scrub: detect + redact emails / IPv4s / phone numbers
  *     before training. Per-row regex projections, zero shuffles. The
  *     corpus text is synthetic word salad, so deterministic PII is
  *     INJECTED from doc_id first (same expression in both engines) —
  *     the operator under test is the detect/redact pipeline, and its
  *     inputs then provably contain every pattern class.
  */
object Curation extends QueryModule {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Round count of the most recent [[connectedComponents]] fixpoint
    * on this thread — observability hook for the convergence-pin spec
    * (star contraction promises O(log² n) rounds regardless of
    * diameter; a change that silently re-couples rounds to diameter
    * should fail a ratchet, not surface as a bench regression). */
  private[graft] val lastCcRounds = new ThreadLocal[Integer]

  /** Benchmark membership for the d22 FIXTURE: every 10th doc below
    * [[benchIdCap]] — AT MOST 100 docs at any corpus size. The held-out
    * suite is an EXTERNAL INPUT to [[decontaminate]]; a real run passes
    * its own bounded benchmark frame, this predicate only builds the
    * test fixture (mirrored verbatim in the oracle). */
  private[graft] val benchIdCap = 1000L
  private def benchCondOn(q: String): String =
    s"$q.doc_id % 10 = 0 AND $q.doc_id < $benchIdCap"
  private[graft] val benchCond = s"doc_id % 10 = 0 AND doc_id < $benchIdCap"

  /** Benchmark decontamination of a training corpus against an
    * EXTERNAL held-out gram frame: per training doc, how many of its
    * distinct grams appear in ANY held-out doc. The benchmark gram set
    * is BOUNDED (held-out suites are KBs–MBs against a 100 TB corpus),
    * so it distincts + BROADCASTS and the check is a map-side join —
    * the corpus-side scan never shuffles. Past the broadcast limit the
    * build side fails loudly (no silent fallback to a corpus-wide
    * shuffle), which is the contract: an unbounded "benchmark" is a
    * caller bug, not a plan to accommodate.
    *
    * @param trainDocs  training corpus (doc_id, …) — already excludes
    *                   the held-out docs
    * @param trainGrams (doc_id, gram) for the training corpus
    * @param benchGrams (gram) or (doc_id, gram) for the held-out suite */
  private[graft] def decontaminate(trainDocs: DataFrame, trainGrams: DataFrame,
      benchGrams: DataFrame): DataFrame = {
    val bench = benchGrams.select("gram").distinct()
    val hits = trainGrams
      .join(broadcast(bench), Seq("gram"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_hit_grams"))
    trainDocs.select("doc_id")
      .join(hits, Seq("doc_id"), "left")
      .withColumn("n_hit_grams", coalesce(col("n_hit_grams"), lit(0L)))
      .withColumn("contaminated", col("n_hit_grams") > 0)
  }

  /** (lang, keep-rate%) corpus-mixing weights: downsample the
    * over-represented languages, keep the rest whole. */
  private val mixRates: Seq[(String, Int)] =
    Seq("en" -> 60, "zh" -> 50, "fr" -> 80, "es" -> 90, "de" -> 100)

  // PII patterns restricted to the Java-regex ∩ RE2 common subset
  // (character classes + bounded repetition; no lookaround, no \b).
  private[graft] val emailRe = """[a-z0-9]+@[a-z0-9]+\.[a-z]+"""
  private[graft] val ipRe = """[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+"""
  private[graft] val phoneRe = """[0-9]{3}-[0-9]{3}-[0-9]{4}"""

  /** Deterministic PII injection: email on every 5th doc, IPv4 on
    * every 7th, phone on every 11th — mirrored verbatim in the oracle
    * CTE so both engines scrub identical inputs. */
  private[graft] def withPii(df: DataFrame): DataFrame =
    df.withColumn("raw", concat(
      col("text"),
      when(col("doc_id") % 5 === 0,
        concat(lit(" contact user"), col("doc_id").cast("string"), lit("@example.com")))
        .otherwise(""),
      when(col("doc_id") % 7 === 0,
        concat(lit(" host 10."), (col("doc_id") % 256).cast("string"),
          lit(".0."), (col("doc_id") % 100).cast("string")))
        .otherwise(""),
      when(col("doc_id") % 11 === 0,
        concat(lit(" call 555-"), (col("doc_id") % 900 + 100).cast("string"),
          lit("-"), (col("doc_id") % 9000 + 1000).cast("string")))
        .otherwise("")))

  private val piiRawSql: String =
    """concat(text,
      |  CASE WHEN doc_id % 5 = 0
      |       THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END,
      |  CASE WHEN doc_id % 7 = 0
      |       THEN ' host 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.' || CAST(doc_id % 100 AS VARCHAR) ELSE '' END,
      |  CASE WHEN doc_id % 11 = 0
      |       THEN ' call 555-' || CAST(doc_id % 900 + 100 AS VARCHAR) || '-' || CAST(doc_id % 9000 + 1000 AS VARCHAR) ELSE '' END)""".stripMargin

  /** d48 chunk geometry: 200-char chunks every 160 chars — consecutive
    * chunks overlap by 40 so no boundary-straddling span is lost, the
    * standard context-window layout for embedding/retrieval pipelines.
    * The last chunk may be short; an empty doc still yields its one
    * (empty) chunk so every document stays addressable downstream. */
  private[graft] val chunkChars = 200
  private[graft] val chunkStride = 160

  /** Context-window chunking over ANY documents-shaped frame: one row
    * per (doc, chunk) with the chunk's index, length and content hash —
    * never the chunk text itself, so the output stays narrow at 100 TB
    * and joins back on (doc_id, chunk_idx) or dedups on chunk_hash.
    * Stateless per-row bounded explode inside codegen, zero shuffles. */
  private[graft] def chunkDocs(docs: DataFrame): DataFrame =
    docs.where(col("text").isNotNull)
      .select(col("doc_id"), col("text"), length(col("text")).as("len"))
      .select(col("doc_id"), col("text"),
        explode(expr(s"sequence(1, greatest(len, 1), $chunkStride)")).as("start"))
      .select(col("doc_id"),
        expr(s"CAST((start - 1) DIV $chunkStride AS BIGINT)").as("chunk_idx"),
        expr(s"substring(text, start, $chunkChars)").as("chunk"))
      .select(col("doc_id"), col("chunk_idx"),
        length(col("chunk")).cast("long").as("n_chars"),
        hash32(col("chunk")).as("chunk_hash"))

  /** Content-fingerprint projection shared by the d49 ingest paths:
    * one narrow (doc_id, fp) row per non-null doc. The fingerprint is
    * the full 128-bit md5 — the same content identity d01's exact
    * dedup groups by — NOT a 32-bit hash: with billions of ledger
    * entries a 32-bit space is half full and a genuinely-new doc
    * would be silently skipped with ~coin-flip probability, which is
    * data loss, not dedup. At 32 hex bytes per doc a 100 TB corpus's
    * ledger is still only ~hundreds of GB of parquet: shuffle-able,
    * never driver-resident, never the wide text. */
  private[graft] def fingerprints(docs: DataFrame): DataFrame =
    docs.where(col("text").isNotNull)
      .select(col("doc_id"), md5(col("text")).as("fp"))

  /** Content-addressed incremental ingest: arriving docs whose
    * fingerprint is ABSENT from the ledger — new or changed CONTENT
    * only, regardless of ids (a re-crawled duplicate body under a new
    * id is skipped; an edited body under a known id flows through).
    * This is esop's freshen decision — hash already present remotely
    * ⇒ don't re-upload (reference: `Backuper.java:22-27`,
    * `FreshenResult.UPLOAD_REQUIRED`) — applied to corpus curation,
    * so every expensive downstream stage (dedup, ANN, decontam) runs
    * on the increment, not the snapshot. The anti-join keys on the
    * hash, so both sides shuffle UNIFORMLY by construction (no skew
    * path needed) and neither side is assumed broadcast-able: at
    * 100 TB the ledger is billions of fingerprints. */
  private[graft] def incrementalIngest(arriving: DataFrame, ledger: DataFrame): DataFrame =
    fingerprints(arriving).join(ledger, Seq("fp"), "left_anti")
      .select("doc_id", "fp")

  /** One-per-(JVM, sf) path of the PERSISTED fingerprint ledger — the
    * previous snapshot's content-addressed store listing, written
    * through Scratch/IO once and read back by d49/s16 the way a real
    * ingest lists its store before a run. The FIXTURE snapshot is
    * deciles ≠ 3 of the corpus PLUS the bodies of new-id docs with
    * doc_id ≡ 3 (mod 50) — the "already crawled under another id"
    * case, so the oracle-gated query exercises the content-skip path
    * on a fifth of the arriving new ids, not just in the unit test.
    * The id rules are the fixture (oracle-predictable "previous
    * snapshot"); the ledger format — distinct narrow fingerprints in
    * parquet — is the production artifact. */
  private def ledgerPath(s: SparkSession, dir: String): String =
    graft.sources.Scratch.materialize(s, "ingest_ledger", dir)(
      fingerprints(graft.sources.Tables.documents(s, dir))
        .where(col("doc_id") % 10 =!= 3 || col("doc_id") % 50 === 3)
        .select("fp").distinct())

  /** The persisted ledger read BACK from storage — through the same
    * IO layer that wrote it (the d45 round-trip contract). */
  private[graft] def ingestLedger(s: SparkSession, dir: String): DataFrame =
    graft.sources.IO.readParquet(s, ledgerPath(s, dir))

  /** Bloom probes per fingerprint for the d55/s20 deny-list gate:
    * k=3 independent md5-derived positions in [0, m). hash32 is the
    * shared 32-bit md5 prefix (nonnegative), so `% m` needs no pmod
    * and the DuckDB twin is [[Corpus.hash32Sql]] verbatim. */
  private[graft] val BloomK = 3
  private def bloomPos(i: Int, fp: org.apache.spark.sql.Column, m: Long) =
    hash32(concat(lit(s"bloom$i#"), fp)) % m

  /** Bloom size for a deny-list of n entries: next power of two ≥ 16n
    * (~16 bits/key at k=3 → ~0.5% false-positive rate at EVERY deny
    * size — the filter scales with the blocklist like d07's bucket
    * space scales with the corpus). DuckDB twin:
    * POWER(2, length(to_base(16 * count - 1, 2))). */
  private[graft] def bloomBits(nDeny: Long): Long =
    java.lang.Long.highestOneBit(math.max(16 * nDeny, 2L) - 1L) << 1

  /** One-per-(JVM, sf) path of the PERSISTED deny-list — content
    * fingerprints of blocked documents, the external artifact a real
    * ingest receives from trust & safety / legal (fixture: bodies of
    * doc_id ≡ 0 (mod 17)); written through Scratch/IO and read back
    * like d49's ledger. Distinct narrow md5s in parquet — billions of
    * rows at production scale, never driver-resident. */
  private def denyPath(s: SparkSession, dir: String): String =
    graft.sources.Scratch.materialize(s, "deny_fps", dir)(
      fingerprints(graft.sources.Tables.documents(s, dir))
        .where(col("doc_id") % 17 === 0)
        .select("fp").distinct())

  private[graft] def denyList(s: SparkSession, dir: String): DataFrame =
    graft.sources.IO.readParquet(s, denyPath(s, dir))

  /** Filter size for THIS deny-list artifact — a planning-time parquet
    * footer count (no Spark job), the same Stats source the ANN
    * n-driven parameters use. */
  private[graft] def denyBits(s: SparkSession, dir: String): Long =
    bloomBits(graft.sources.Stats.parquetRowCount(s, denyPath(s, dir)))

  /** One-per-(JVM, sf) path of the PERSISTED deletion-request list —
    * the "right to be forgotten" docket an operator receives (fixture:
    * doc_id ≡ 1 (mod 23)); written through Scratch/IO like the
    * deny-list, read back as the external input it is. */
  private def forgetPath(s: SparkSession, dir: String): String =
    graft.sources.Scratch.materialize(s, "forget_ids", dir)(
      graft.sources.Tables.documents(s, dir)
        .where(col("doc_id") % 23 === 1)
        .select("doc_id").distinct())

  private[graft] def forgetList(s: SparkSession, dir: String): DataFrame =
    graft.sources.IO.readParquet(s, forgetPath(s, dir))

  /** Content-keyed split assignment over ANY documents-shaped frame
    * (d57, and the s21 streaming gate): md5-bucket of the CONTENT
    * fingerprint → train/val/test, so byte-identical duplicates share
    * a split by construction. Pure per-row projection — streams
    * stateless. */
  private[graft] def splitAssign(docs: DataFrame): DataFrame =
    fingerprints(docs)
      .withColumn("bucket", hash32(concat(lit("split#"), col("fp"))) % 100)
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test"))
      .select("doc_id", "bucket", "split")

  /** Two-stage blocklist gate over ANY documents-shaped frame — the
    * architecture a 100 TB ingest actually runs against a
    * billions-of-entries deny-list: a BLOOM filter (m = [[bloomBits]]
    * bits as one broadcast sorted-position row — the set bits are
    * ≤ min(3n, m) ints, bounded by m no matter how the deny-list
    * grows) prunes the corpus per-row at scan cost, and only the
    * ~0.5% bloom-positives pay the EXACT verification join against
    * the deny store. Output is the SUSPECT WORKLIST (one row per
    * bloom-positive with its exact verdict — the d45 shape): docs
    * that clear the filter pass the gate and never re-materialize,
    * so the corpus-sized stream is scanned once and never joins or
    * shuffles — sound because a Bloom filter has NO false negatives
    * (spec-pinned: every listed doc surfaces). The false_positive
    * flag is the filter-sizing feedback loop (measure, don't guess).
    * Streams stateless (s20): the probe is a per-row fold, the
    * verify join is stream-static over the positive trickle. */
  private[graft] def blocklistGate(docs: DataFrame, deny: DataFrame,
      m: Long): DataFrame = {
    val bits = deny
      .select(explode(array((0 until BloomK).map(i =>
        bloomPos(i, col("fp"), m)): _*)).as("pos"))
      .agg(expr("array_sort(collect_set(pos))").as("bits"))
    fingerprints(docs)
      .crossJoin(broadcast(bits))
      .filter((0 until BloomK).map(i =>
        array_contains(col("bits"), bloomPos(i, col("fp"), m))).reduce(_ && _))
      .select("doc_id", "fp")
      .join(deny.withColumn("exact_hit", lit(true)), Seq("fp"), "left")
      .withColumn("exact_hit", coalesce(col("exact_hit"), lit(false)))
      .withColumn("false_positive", !col("exact_hit"))
      .select("doc_id", "exact_hit", "false_positive")
  }

  /** Post-run ledger update closing the ingest loop: the previous
    * ledger plus the increment's fingerprints, distinct — the artifact
    * the NEXT run lists before ingesting. Re-running the same snapshot
    * against the updated ledger yields an EMPTY increment (the
    * convergence property spec-pins), which is what makes the whole
    * pipeline idempotent under retry: a crashed run that re-drives
    * the same snapshot re-processes only what never landed. */
  private[graft] def updatedLedger(ledger: DataFrame, increment: DataFrame): DataFrame =
    ledger.union(increment.select("fp")).distinct()

  /** Connected components over an undirected pair frame
    * (`a_id`, `b_id`) → exact per-node labels (`id`, `lbl`) where `lbl`
    * is the component's minimum member id. The d24 clustering runs on
    * this; it is also the reusable primitive for any transitive-closure
    * grouping (near-dup clusters, entity resolution, d95's mutual-kNN
    * communities).
    *
    * Alternating LARGE-STAR / SMALL-STAR contraction (Kiveris et al.
    * 2014, "Connected Components in MapReduce and Beyond"): each round
    * REWRITES THE EDGE SET so every node hooks toward its neighborhood
    * minimum — the graph itself contracts toward one star per
    * component, which bounds convergence at O(log² n) rounds
    * REGARDLESS OF DIAMETER. The previous min-label propagation
    * converged in O(diameter) rounds: fine for d24's shallow
    * dup-of-dup clusters (2–3 rounds), but d95's mutual-kNN giant
    * component measured diameter 85 at sf0.1 — 37 propagation rounds,
    * past any sane cap, and a path-shaped component at 100 TB has no
    * bound at all. Star contraction closes the same graph in 7.
    *
    * Convergence detection is EXACT from one tiny agg per round:
    * every edge a star pass rewrites strictly lowers its partner, so
    * (count, Σ(lo+hi)) over the canonical set is monotone and
    * unchanged ⟺ fixpoint. NON-convergence inside the 50-round cap
    * throws: loud beats silently-wrong labels (50 rounds ≈ log² of an
    * absurd node count; the cap exists only as a runaway backstop).
    *
    * localCheckpoint each round: the round plan references the
    * previous round's frame multiple times (both stars, both sides of
    * the convergence check), so with lazy lineage the logical plan
    * would grow geometrically and the driver would re-analyze
    * exponentially many copies of the upstream pipeline. Checkpointing
    * pins each round to its materialized blocks, so every loop plan
    * stays O(1) size. The checkpoints are LAZY (r18): a lazy
    * localCheckpoint truncates the logical plan identically (the
    * Dataset wraps a LogicalRDD either way) while the round's one
    * convergence-signature action materializes the blocks — the eager
    * form spent a separate job per round on materialization alone,
    * and on a KB-scale edge set each loop job is pure scheduling
    * overhead (measured ~3.9 s of the d24 query was this loop's 8
    * jobs; halving the job count halves that). Trade-off (same as
    * GraphX's iterative cut): checkpoint blocks are executor-local,
    * so an executor loss mid-loop fails the query instead of
    * recomputing — acceptable for a seconds-long loop; a long-lived
    * cluster deployment would set a reliable checkpoint dir and use
    * Dataset.checkpoint on the same cadence. */
  private[graft] def connectedComponents(pairs: DataFrame): DataFrame = {
    // canonical undirected edges (lo < hi), deduplicated. Every round
    // runs on the caller's session: AQE coalesces each round's shuffle
    // to the measured edge minority (KBs–MBs even on a 100 TB corpus),
    // and nothing here touches a conf.
    val e0 = pairs.toDF("a_id", "b_id")
      .select(least(col("a_id"), col("b_id")).as("lo"),
        greatest(col("a_id"), col("b_id")).as("hi"))
      .filter(col("lo") =!= col("hi")).distinct()
      .localCheckpoint(false) // materialized by the initial sig() below
    // EXACT fixpoint detection from one tiny agg per round: every edge
    // a star pass actually rewrites strictly lowers its partner to the
    // neighborhood minimum, so Σ(lo+hi) over the canonical set is
    // MONOTONE-DECREASING and (count, Σ) unchanged ⟺ no edge changed
    def sig(e: DataFrame): (Long, java.math.BigDecimal) = {
      val r = e.agg(count(lit(1)),
        sum((col("lo") + col("hi")).cast("decimal(38,0)"))).first()
      (r.getLong(0),
        if (r.isNullAt(1)) java.math.BigDecimal.ZERO else r.getDecimal(1))
    }
    // the initial convergence signature doubles as the edge count —
    // ONE action materializes e0's checkpoint and seeds the fixpoint
    // check
    val prev0 = sig(e0)
    val m0 = prev0._1
    var edges = e0

    // LARGE-STAR: every strictly-larger neighbor of u hooks to
    // m = min(N(u) ∪ {u}) — long chains fold toward minima
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("lo").as("u"), col("hi").as("v"))
        .union(e.select(col("hi").as("u"), col("lo").as("v")))
      val m = sym.groupBy("u").agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      sym.join(m, Seq("u"))
        .filter(col("v") > col("u"))
        .select(least(col("v"), col("m")).as("lo"),
          greatest(col("v"), col("m")).as("hi"))
        .filter(col("lo") =!= col("hi"))
      // no distinct here: small-star's terminal dedup covers the round,
      // and its min-agg is duplicate-insensitive — one fewer exchange
    }

    // SMALL-STAR: every smaller-or-equal neighbor of u (and u itself)
    // hooks to the minimum — stars flatten to their root
    def smallStar(e: DataFrame): DataFrame = {
      val canon = e.select(col("hi").as("u"), col("lo").as("v")) // v < u
      val m = canon.groupBy("u").agg(min(col("v")).as("m"))      // m < u
      val rewired = canon.join(m, Seq("u"))
        .filter(col("v") =!= col("m"))
        .select(col("m").as("lo"), col("v").as("hi"))            // m < v
      val hooked = m.select(col("m").as("lo"), col("u").as("hi"))
      rewired.union(hooked).filter(col("lo") =!= col("hi")).distinct()
    }

    // ONE materialization per LS/SS round — a longer un-checkpointed
    // stride is a measured loser: each star pass references its input
    // ~3× (sym/canon feed both the min-agg and the join), so chaining
    // k passes lazily grows the logical plan 3^k-fold and the
    // analyzer/optimizer swamps the actual µs of data work (stride-2
    // measured 6× slower than per-round checkpoints on the same graph).
    // The checkpoint is lazy: the round's sig() action materializes it,
    // so each round costs exactly ONE action (AQE submits each of its
    // shuffle stages as a job of its own).
    var prev = prev0
    var converged = false
    var rounds = 0
    while (!converged && rounds < 50) {
      edges = smallStar(largeStar(edges)).localCheckpoint(false)
      val cur = sig(edges)
      converged = cur._1 == prev._1 && cur._2.compareTo(prev._2) == 0
      prev = cur
      rounds += 1
    }
    // convergence telemetry: the loop's cost model is rounds × fixed
    // scheduling overhead — keep the round count observable (logger,
    // not stderr: d24/d95 run this on every query, and unconditional
    // console writes would pollute bench/test output) and queryable
    // ([[lastCcRounds]]) so growth at a new SF is attributable and
    // the O(log² n) diameter-independence claim can be spec-pinned
    log.info(s"[cc] converged=$converged rounds=$rounds edges=$m0")
    lastCcRounds.set(rounds)
    require(converged,
      s"connected-components failed to converge in $rounds rounds")
    // the fixpoint edge set is EXACTLY one star per component rooted
    // at the component minimum (smallStar-identity means every node's
    // canonical neighbor set is its single root; LS/SS preserve the
    // node set — no self-loops can arise, so no node ever drops), so
    // labels read straight off the stars: each hi appears exactly
    // once (one root), each root self-labels once via the distinct
    edges.select(col("hi").as("id"), col("lo").as("lbl"))
      .unionAll(edges.select(col("lo")).distinct()
        .select(col("lo").as("id"), col("lo").as("lbl")))
      .localCheckpoint(false) // lazy: the caller's first action materializes
  }

  /** The d51 mix plan (per-source shares, weights, epochs) — ONE
    * definition shared by d51 (the report) and d69 (the execution):
    * the epoch counts a sampler replays must come from the same frame
    * the planner published. */
  private def mixPlanFrame(s: SparkSession, dir: String): DataFrame = {
    val per = Corpus.docs(s, dir)
      .select(col("source"), size(col("ws")).cast("long").as("n_tokens"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
      .withColumn("w_raw",
        pmod(hash32(concat(lit("mixplan#"), col("source"))), lit(1000L)) + lit(1L))
      // materialize-once: the per-source table (bounded by the source
      // domain) feeds BOTH the totals aggregate and the final join —
      // without this the corpus scan + token reduction run twice
      .transform(persisted)
    val tot = per.agg(sum("n_tokens").as("tot_tokens"), sum("w_raw").as("tot_w"))
    per.crossJoin(broadcast(tot))
      .withColumn("actual_frac",
        col("n_tokens").cast("double") / col("tot_tokens").cast("double"))
      .withColumn("target_frac",
        col("w_raw").cast("double") / col("tot_w").cast("double"))
      .withColumn("weight", col("target_frac") / col("actual_frac"))
      .withColumn("epochs", ceil(col("weight")).cast("long"))
      .select("source", "n_docs", "n_tokens", "actual_frac",
        "target_frac", "weight", "epochs")
  }

  val specs: Seq[QuerySpec] = Seq(
    // Benchmark decontamination ([[decontaminate]]) against the
    // BOUNDED held-out fixture (≤100 docs at any corpus size — the
    // external-benchmark stand-in; see [[benchIdCap]]).
    // Scans: three input roles: the train stream, the bench slice and the probe
    QuerySpec("d22_decontaminate", by("doc_id"), Pins(Scans(documents = 3), 4),
      Corpus.docsCte +
      s""", bench AS (SELECT DISTINCT gram FROM grams WHERE $benchCond),
         |hits AS (
         |  SELECT g.doc_id, count(1) AS n FROM grams g JOIN bench USING (gram)
         |  WHERE NOT (${benchCondOn("g")}) GROUP BY g.doc_id)
         |SELECT d.doc_id, CAST(COALESCE(h.n, 0) AS BIGINT) AS n_hit_grams,
         |       COALESCE(h.n, 0) > 0 AS contaminated
         |FROM docs d LEFT JOIN hits h USING (doc_id)
         |WHERE NOT (${benchCondOn("d")})
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val g = Corpus.grams(s, dir)
      decontaminate(
        Corpus.docs(s, dir).filter(not(expr(benchCond))),
        g.filter(not(expr(benchCond))),
        g.filter(expr(benchCond)))
    },

    // Corpus mixing: deterministic stratified downsampling. The keep
    // decision is pmod(hash32("mix#" || doc_id), 100) < rate(lang) —
    // reproducible (same doc always kept/dropped at a given rate,
    // raising a rate only ADDS docs), per-row, zero shuffles.
    QuerySpec("d23_corpus_mix", by("doc_id"), Pins(Scans(documents = 1), 0),
      {
      val rateSql = mixRates.map { case (l, r) => s"WHEN lang = '$l' THEN $r" }
        .mkString("CASE ", " ", " ELSE 100 END")
      s"""WITH m AS (
         |  SELECT doc_id, lang, source,
         |    ${Corpus.hash32Sql("'mix#' || CAST(doc_id AS VARCHAR)")} % 100 AS bucket,
         |    CAST($rateSql AS BIGINT) AS rate
         |  FROM documents)
         |SELECT doc_id, lang, source, bucket, rate
         |FROM m WHERE bucket < rate ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      val rate = mixRates.foldLeft(lit(100)) { case (c, (lang, r)) =>
        when(col("lang") === lang, r).otherwise(c)
      }
      graft.sources.Tables.documents(s, dir)
        .withColumn("bucket",
          pmod(hash32(concat(lit("mix#"), col("doc_id").cast("string"))), lit(100L)))
        .withColumn("rate", rate.cast("long"))
        .filter(col("bucket") < col("rate"))
        .select("doc_id", "lang", "source", "bucket", "rate")
    },

    // TEMPERATURE-smoothed multilingual sampling weights (Conneau &
    // Lample 2019, XLM; the α-law mT5/XLM-R corpora were drawn with):
    // q_l(α) ∝ p_l^α — α<1 boosts low-resource languages, α>1
    // sharpens the head; this computes the TARGET mixture d51's
    // planner consumes (d51 prices actual-vs-target, THIS is where
    // the target comes from). α ∈ {0.5, 1, 2} picked for EXACT
    // cross-engine floats: n^0.5 is one correctly-rounded IEEE sqrt
    // of an exact long, n^1/n^2 are exact — no libm pow anywhere.
    // The per-lang table collapses to ONE sorted struct array and
    // every sum folds LEFT-TO-RIGHT over it (Spark aggregate() HOF ≡
    // DuckDB list_reduce — sequential by definition on both sides),
    // so the float denominators are bit-identical cross-engine. ONE
    // corpus scan, map-side partial to a lang-bounded aggregate; the
    // α explode happens on the one packed row, never the corpus.
    // Scans: one corpus scan map-side-reduced to the lang-bounded aggregate; the α explode happens
    // on ONE packed row
    QuerySpec("d94_lang_temperature", by("alpha", "lang"), Pins(Scans(documents = 1), 2),
      // the α-law over lang counts: w per (alpha, lang), denominators as
      // an ORDERED sequential list_reduce (≡ Spark's left fold over the
      // sorted struct array — bit-identical float sums), boost left-assoc
      """WITH counts AS (SELECT lang, count(1) AS n_docs FROM documents GROUP BY lang),
        |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total FROM counts),
        |al AS (SELECT unnest([CAST(0.5 AS DOUBLE), CAST(1.0 AS DOUBLE), CAST(2.0 AS DOUBLE)]) AS alpha),
        |w AS (
        |  SELECT a.alpha, c.lang, c.n_docs,
        |    CASE WHEN a.alpha = 0.5 THEN sqrt(CAST(c.n_docs AS DOUBLE))
        |         WHEN a.alpha = 1.0 THEN CAST(c.n_docs AS DOUBLE)
        |         ELSE CAST(c.n_docs AS DOUBLE) * CAST(c.n_docs AS DOUBLE) END AS w
        |  FROM al a CROSS JOIN counts c),
        |den AS (
        |  SELECT alpha,
        |    CAST(list_reduce(list(w ORDER BY lang), (x, y) -> x + y) AS DOUBLE) AS denom
        |  FROM w GROUP BY alpha)
        |SELECT w.alpha, w.lang, w.n_docs,
        |  w.w / den.denom AS share,
        |  w.w / den.denom * CAST(t.n_total AS DOUBLE) / CAST(w.n_docs AS DOUBLE) AS boost
        |FROM w JOIN den USING (alpha) CROSS JOIN tot t
        |ORDER BY alpha, lang""".stripMargin) { (s, dir) =>
      graft.sources.Tables.documents(s, dir)
        .groupBy("lang").agg(count(lit(1)).as("n_docs"))
        .agg(expr("array_sort(collect_list(struct(lang, n_docs)))").as("ls"))
        .select(explode(expr(
          """flatten(transform(array(0.5D, 1.0D, 2.0D), a ->
            |  transform(ls, x -> struct(
            |    a AS alpha, x.lang AS lang, x.n_docs AS n_docs,
            |    CASE WHEN a = 0.5D THEN sqrt(CAST(x.n_docs AS DOUBLE))
            |         WHEN a = 1.0D THEN CAST(x.n_docs AS DOUBLE)
            |         ELSE CAST(x.n_docs AS DOUBLE) * CAST(x.n_docs AS DOUBLE) END AS w,
            |    aggregate(ls, CAST(0 AS DOUBLE), (acc, y) -> acc +
            |      CASE WHEN a = 0.5D THEN sqrt(CAST(y.n_docs AS DOUBLE))
            |           WHEN a = 1.0D THEN CAST(y.n_docs AS DOUBLE)
            |           ELSE CAST(y.n_docs AS DOUBLE) * CAST(y.n_docs AS DOUBLE) END) AS denom,
            |    aggregate(ls, CAST(0 AS LONG), (acc, y) -> acc + y.n_docs) AS n_total))))"""
            .stripMargin)).as("r"))
        .select(col("r.alpha").as("alpha"), col("r.lang").as("lang"),
          col("r.n_docs").as("n_docs"),
          (col("r.w") / col("r.denom")).as("share"),
          (col("r.w") / col("r.denom") * col("r.n_total").cast("double")
            / col("r.n_docs").cast("double")).as("boost"))
    },

    // Near-dup clusters: connected components over the d04 LSH pairs —
    // pairwise near-dup hits become transitive KEEP-one groups.
    // Scans: ONE documents scan for the whole iterative clustering, counted across the loop's
    // checkpoint materializations
    QuerySpec("d24_dup_clusters", by("doc_id"), Pins(Scans(documents = 1), 2, loop = true),
      Dedup.lshPairsCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
      """, sym AS (
        |  SELECT a_id AS src, b_id AS dst FROM pairs
        |  UNION ALL SELECT b_id, a_id FROM pairs),
        |nodes AS (SELECT DISTINCT src AS id FROM sym),
        |reach(id, r) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT s.src, reach.r FROM sym s JOIN reach ON reach.id = s.dst),
        |lbl AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
        |sz AS (SELECT cluster_id, count(1) AS cluster_size FROM lbl GROUP BY 1)
        |SELECT l.id AS doc_id, l.cluster_id, s.cluster_size
        |FROM lbl l JOIN sz s USING (cluster_id) ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val labels =
        connectedComponents(Dedup.lshPairs(s, dir).select("a_id", "b_id"))
      labels
        .join(labels.groupBy(col("lbl")).agg(count(lit(1)).as("cluster_size")), Seq("lbl"))
        .select(col("id").as("doc_id"), col("lbl").as("cluster_id"), col("cluster_size"))
    },

    // Dup-cluster SIZE histogram — the release-report rollup of d24
    // ("how big do duplicate families get, and how much corpus mass
    // sits in them"): per cluster size, the cluster count, doc count
    // and corpus fraction, INCLUDING the size-1 row (docs in no LSH
    // pair) so the histogram partitions the whole corpus — the number
    // a dedup pass quotes ("k% of docs live in dup families of ≥2")
    // and the skew check for d67's keep-best (one giant family =
    // boilerplate, not mirroring). The singleton row derives from the
    // HISTOGRAM itself (corpus count − Σ size·n_clusters over the
    // bounded size domain), never from a second labels pass; the
    // corpus count is one column-pruned scan folded in as a broadcast
    // singleton. Same CC loop as d24 (star contraction, pinned
    // rounds), so its pins set `loop` like d24's.
    QuerySpec("d106_cluster_size_hist", by("cluster_size"),
      Pins(Scans(documents = 2), 9, loop = true),
      Dedup.lshPairsCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
      """, sym AS (
        |  SELECT a_id AS src, b_id AS dst FROM pairs
        |  UNION ALL SELECT b_id, a_id FROM pairs),
        |nodes AS (SELECT DISTINCT src AS id FROM sym),
        |reach(id, r) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT s.src, reach.r FROM sym s JOIN reach ON reach.id = s.dst),
        |lbl AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
        |sz AS (SELECT cluster_id, count(1) AS cluster_size FROM lbl GROUP BY 1),
        |hist AS (SELECT cluster_size, count(1) AS n_clusters FROM sz GROUP BY 1),
        |tot AS (SELECT count(1) AS n_corpus FROM documents),
        |clustered AS (
        |  SELECT CAST(coalesce(sum(cluster_size * n_clusters), 0) AS BIGINT) AS n_in
        |  FROM hist),
        |allrows AS (
        |  SELECT cluster_size, n_clusters FROM hist
        |  UNION ALL
        |  SELECT CAST(1 AS BIGINT),
        |         (SELECT n_corpus FROM tot) - (SELECT n_in FROM clustered))
        |SELECT cluster_size, n_clusters,
        |  CAST(cluster_size * n_clusters AS BIGINT) AS n_docs,
        |  CAST(cluster_size * n_clusters AS DOUBLE)
        |    / CAST((SELECT n_corpus FROM tot) AS DOUBLE) AS doc_frac
        |FROM allrows ORDER BY cluster_size""".stripMargin) { (s, dir) =>
      val labels =
        connectedComponents(Dedup.lshPairs(s, dir).select("a_id", "b_id"))
      val hist = labels.groupBy(col("lbl"))
        .agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size")
        .agg(count(lit(1)).as("n_clusters"))
      val corpus = graft.sources.Tables.documents(s, dir)
        .agg(count(lit(1)).as("n_corpus"))
      val clustered = hist
        .agg(coalesce(sum(col("cluster_size") * col("n_clusters")), lit(0L))
          .as("n_in_clusters"))
      val singleton = corpus.crossJoin(broadcast(clustered))
        .select(lit(1L).as("cluster_size"),
          (col("n_corpus") - col("n_in_clusters")).as("n_clusters"))
      hist.unionByName(singleton)
        .crossJoin(broadcast(corpus))
        .select(col("cluster_size"), col("n_clusters"),
          (col("cluster_size") * col("n_clusters")).as("n_docs"),
          ((col("cluster_size") * col("n_clusters")).cast("double")
            / col("n_corpus").cast("double")).as("doc_frac"))
    },

    // PII scrub: count each pattern class, then redact in one
    // email → IP → phone cascade (emails first — they are the only
    // class containing other classes' alphabets). Output carries the
    // counts + md5 of the redacted text (narrow result, full-text
    // equality check across engines).
    QuerySpec("d25_pii_scrub", by("doc_id"), Pins(Scans(documents = 1), 0),
      {
      s"""WITH raws AS (
         |  SELECT doc_id, $piiRawSql AS raw FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(raw, '$emailRe')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(raw, '$ipRe')) AS BIGINT) AS n_ips,
         |  CAST(len(regexp_extract_all(raw, '$phoneRe')) AS BIGINT) AS n_phones,
         |  len(regexp_extract_all(raw, '$emailRe'))
         |    + len(regexp_extract_all(raw, '$ipRe'))
         |    + len(regexp_extract_all(raw, '$phoneRe')) > 0 AS has_pii,
         |  md5(regexp_replace(regexp_replace(regexp_replace(raw,
         |    '$emailRe', '<EMAIL>', 'g'), '$ipRe', '<IP>', 'g'),
         |    '$phoneRe', '<PHONE>', 'g')) AS redacted_hash
         |FROM raws ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      withPii(graft.sources.Tables.documents(s, dir))
        .withColumn("n_emails",
          size(regexp_extract_all(col("raw"), lit(emailRe), lit(0))).cast("long"))
        .withColumn("n_ips",
          size(regexp_extract_all(col("raw"), lit(ipRe), lit(0))).cast("long"))
        .withColumn("n_phones",
          size(regexp_extract_all(col("raw"), lit(phoneRe), lit(0))).cast("long"))
        .withColumn("redacted",
          regexp_replace(
            regexp_replace(
              regexp_replace(col("raw"), emailRe, "<EMAIL>"),
              ipRe, "<IP>"),
            phoneRe, "<PHONE>"))
        .withColumn("has_pii", col("n_emails") + col("n_ips") + col("n_phones") > 0)
        .select(col("doc_id"), col("n_emails"), col("n_ips"), col("n_phones"),
          col("has_pii"), md5(col("redacted")).as("redacted_hash"))
    },

    // Consistent stratified sampling: the per-stratum QA sample every
    // corpus pipeline pulls (spot checks, eval carve-outs, vendor
    // audits), chosen by HASH RANK — md5(doc_id) order is stable
    // across runs, partitionings and corpus GROWTH (a doc stays
    // sampled until k better-ranked hashes arrive), unlike rand()
    // which resamples the world every run and can't be mirrored by an
    // oracle at all. Runs on the x04 TopKPerGroup operator in
    // production: map-side bounded heaps mean the exchange carries ≤k
    // rows per language, not the corpus.
    QuerySpec("d38_corpus_sample", by("lang", "rank"), Pins(Scans(documents = 1), 1),
      """SELECT lang, rank, doc_id, h FROM (
        |  SELECT lang, doc_id, md5('smp' || CAST(doc_id AS VARCHAR)) AS h,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY md5('smp' || CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rank
        |  FROM documents) t
        |WHERE rank <= 5 ORDER BY lang, rank""".stripMargin) { (s, dir) =>
      val keyed = graft.sources.Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          md5(concat(lit("smp"), col("doc_id").cast("string"))).as("h"))
      graft.plans.TopK.perGroup(keyed,
          Seq("lang"), Seq(("h", false), ("doc_id", false)), k = 5, rankName = "rank")
        .select("lang", "rank", "doc_id", "h")
    },

    // END-TO-END curation composition — the production path a corpus
    // actually ships through (quality gate → exact dedup → LSH
    // near-dup drop → benchmark decontamination), fused into ONE
    // linear plan over ONE corpus scan. This is the proof the catalog
    // operators compose as a system: run separately (d21 + d01 + d04 +
    // d22) the corpus is scanned four times and the gram stream
    // exploded twice; here every stage's inputs are computed as
    // columns of a single pass —
    //   per-row: d09's qualityCols, d01's content hash, the distinct
    //     gram array ([[Corpus.gramsArr]] — d02/d04's shingle family
    //     kept row-local), d03's MinHash16 signature folded per-row
    //     over that array, and d22's benchmark hits via one broadcast
    //     bench-gram array row (the d42 bounded-benchmark pattern);
    //   exact dedup: keeper = min quality-passing doc_id per content
    //     hash — a conditional window, not a groupBy + join-back;
    //   near-dup drop: a doc drops iff some LSH band bucket holds a
    //     LOWER-id exact-survivor — provably the pairwise keep-min
    //     rule over d04's candidate pairs, computed as a bucket-min
    //     window over the exploded 4-band stream (gramless docs get
    //     singleton '!'-prefixed buckets, so no skew partition and no
    //     false pairing) — the band SELF-JOIN never happens;
    //   decontamination: n_hit_grams > 0, already per-row.
    // Stage semantics are SEQUENTIAL (each stage sees the previous
    // stage's survivors — the conditional mins restrict to them) and
    // every train doc gets a verdict attributing its first failing
    // stage. Shuffles at any corpus size: content-hash window + band
    // window + per-doc regroup — three narrow exchanges for a
    // four-stage pipeline, zero self-joins, corpus
    // text read ONCE (the second documents scan is the ≤100-doc bench
    // fixture slice, filter-pruned at the scan).
    QuerySpec("d43_curation_pipeline", by("doc_id"), Pins(Scans(documents = 2), 5),
      Corpus.docsCte +
      s""", bench AS (SELECT DISTINCT gram FROM grams WHERE $benchCond),
         |grams_t AS (SELECT doc_id, gram FROM grams WHERE NOT ($benchCond)),
         |hits AS (
         |  SELECT g.doc_id, count(1) AS n FROM grams_t g JOIN bench USING (gram)
         |  GROUP BY 1),
         |${Dedup.minhashSqlOver("grams_t")},
         |sig AS (
         |  SELECT doc_id, seed // 4 AS band,
         |         string_agg(CAST(minh AS VARCHAR), ',' ORDER BY seed) AS sig
         |  FROM mh GROUP BY doc_id, band),
         |q AS (
         |  SELECT d.doc_id, md5(d.norm) AS content_hash,
         |    CAST(len(d.ws) AS BIGINT) AS n_words,
         |    CAST(len(list_filter(d.ws, w -> list_contains(${TextAnalysis.enStopSqlList}, w))) AS DOUBLE)
         |      / greatest(len(d.ws), 1) AS stop_ratio,
         |    CAST(COALESCE(h.n, 0) AS BIGINT) AS n_hit_grams
         |  FROM docs d LEFT JOIN hits h USING (doc_id)
         |  WHERE NOT (${benchCondOn("d")})),
         |q2 AS (SELECT *, (stop_ratio >= 0.05 AND n_words BETWEEN 5 AND 500) AS quality_ok FROM q),
         |w1 AS (SELECT *, min(CASE WHEN quality_ok THEN doc_id END)
         |         OVER (PARTITION BY content_hash) AS keeper FROM q2),
         |w1b AS (SELECT *, (quality_ok AND doc_id = keeper) AS survives_exact FROM w1),
         |sb AS (
         |  SELECT s.doc_id,
         |    min(CASE WHEN w.survives_exact THEN s.doc_id END)
         |      OVER (PARTITION BY s.band, s.sig) AS bmin
         |  FROM sig s JOIN w1b w USING (doc_id)),
         |ndup AS (
         |  SELECT doc_id, bool_or(bmin IS NOT NULL AND bmin < doc_id) AS hit
         |  FROM sb GROUP BY doc_id)
         |SELECT w.doc_id, w.n_words, w.stop_ratio, w.quality_ok,
         |  COALESCE(w.keeper, -1) AS keeper,
         |  (w.survives_exact AND COALESCE(n.hit, false)) AS near_dup,
         |  w.n_hit_grams,
         |  CASE WHEN NOT w.quality_ok THEN 'drop_quality'
         |       WHEN w.doc_id <> w.keeper THEN 'drop_exact_dup'
         |       WHEN w.survives_exact AND COALESCE(n.hit, false) THEN 'drop_near_dup'
         |       WHEN w.n_hit_grams > 0 THEN 'drop_contaminated'
         |       ELSE 'keep' END AS verdict
         |FROM w1b w LEFT JOIN ndup n USING (doc_id)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val train = Corpus.docs(s, dir).filter(not(expr(benchCond)))
      // sorted for SortedHitCount's binary search (array_sort = the
      // UTF8String binary ordering the kernel searches with)
      val benchGrams = Corpus.grams(s, dir).filter(expr(benchCond))
        .agg(array_sort(collect_set(col("gram"))).as("bg"))
      // the band structs fold from sig16 PER-ROW, BEFORE the keeper
      // window: garr (the full distinct gram array, ~3-4× the corpus
      // text) must never reach the content-hash exchange — the
      // explicit narrow select makes that structural (spec-pinned:
      // no window input carries garr), so exchange #1 serializes 4
      // short band sigs + scalars per doc, not the shingle set
      val base = TextAnalysis.qualityCols(train)
        .withColumn("content_hash", md5(col("norm")))
        .withColumn("quality_ok",
          col("stop_ratio") >= 0.05 && col("n_words").between(5L, 500L))
        .withColumn("garr", Corpus.gramsArr)
        .crossJoin(broadcast(benchGrams))
        .withColumn("n_hit_grams", SortedHitCount(col("garr"), col("bg")))
        .withColumn("sig16", MinHashFold(col("garr")))
        .withColumn("bands", expr(
          """IF(size(garr) > 0,
            |   transform(sequence(0, 3), b -> named_struct(
            |     'band', b,
            |     'sig', concat_ws(',', element_at(sig16, b*4+1), element_at(sig16, b*4+2),
            |                           element_at(sig16, b*4+3), element_at(sig16, b*4+4)))),
            |   array(named_struct('band', -1, 'sig', concat('!', CAST(doc_id AS STRING)))))""".stripMargin))
        .select("doc_id", "n_words", "stop_ratio", "quality_ok",
          "content_hash", "n_hit_grams", "bands")
        .withColumn("keeper", min(when(col("quality_ok"), col("doc_id")))
          .over(Window.partitionBy("content_hash")))
        .withColumn("survives_exact",
          col("quality_ok") && col("doc_id") === col("keeper"))
      val banded = base.select(
          col("doc_id"), col("n_words"), col("stop_ratio"), col("quality_ok"),
          col("keeper"), col("survives_exact"), col("n_hit_grams"),
          explode(col("bands")).as("b"))
        .withColumn("band", col("b.band")).withColumn("sig", col("b.sig")).drop("b")
      banded
        .withColumn("bmin", min(when(col("survives_exact"), col("doc_id")))
          .over(Window.partitionBy("band", "sig")))
        .groupBy("doc_id")
        .agg(max("n_words").as("n_words"),
          max("stop_ratio").as("stop_ratio"),
          max("quality_ok").as("quality_ok"),
          max("keeper").as("keeper"),
          max("survives_exact").as("survives_exact"),
          max("n_hit_grams").as("n_hit_grams"),
          coalesce(max(when(col("bmin") < col("doc_id"), lit(true))), lit(false)).as("nd_hit"))
        .withColumn("near_dup", col("survives_exact") && col("nd_hit"))
        .withColumn("verdict",
          when(!col("quality_ok"), "drop_quality")
            .when(col("doc_id") =!= col("keeper"), "drop_exact_dup")
            .when(col("near_dup"), "drop_near_dup")
            .when(col("n_hit_grams") > 0, "drop_contaminated")
            .otherwise("keep"))
        .select(col("doc_id"), col("n_words"), col("stop_ratio"), col("quality_ok"),
          coalesce(col("keeper"), lit(-1L)).as("keeper"),
          col("near_dup"), col("n_hit_grams"), col("verdict"))
    },

    // Context-window chunking — the dual of d39's packing: each LONG
    // document is split into fixed-budget overlapping chunks (200
    // chars, stride 160 → 40-char overlap so no span is lost at a
    // boundary), the standard layout for embedding / retrieval
    // pipelines where a model's context window is smaller than the
    // document. Pure per-row bounded explode inside codegen — zero
    // shuffles, output linear in corpus bytes — and each chunk carries
    // a content hash, the downstream equi-join key for chunk-level
    // dedup/ANN, so the wide text column never re-materializes.
    QuerySpec("d48_doc_chunk", by("doc_id", "chunk_idx"), Pins(Scans(documents = 1), 0),
      // chunk starts mirror Spark's inclusive sequence(1, max(len,1),
      // stride) via DuckDB's exclusive-stop range(1, max(len,1)+1,
      // stride); the corpus is ASCII so substr/length agree cross-engine
      s"""SELECT doc_id,
         |  CAST((start - 1) // $chunkStride AS BIGINT) AS chunk_idx,
         |  CAST(length(substr(text, start, $chunkChars)) AS BIGINT) AS n_chars,
         |  ${Corpus.hash32Sql(s"substr(text, start, $chunkChars)")} AS chunk_hash
         |FROM documents, UNNEST(range(1, greatest(length(text), 1) + 1, $chunkStride)) t(start)
         |WHERE text IS NOT NULL
         |ORDER BY doc_id, chunk_idx""".stripMargin) { (s, dir) =>
      chunkDocs(graft.sources.Tables.documents(s, dir))
    },

    // Content-addressed incremental ingest — esop's freshen/skip
    // decision applied to corpus curation: only docs whose CONTENT
    // fingerprint is absent from the persisted ledger (the previous
    // snapshot's store listing, materialized through Scratch/IO and
    // read back like d45's worklist) flow to the expensive downstream
    // stages. Keyed on the hash, not the id, so a re-crawled duplicate
    // body is skipped even under a new id. The anti-join shuffles both
    // sides on the uniformly-distributed fingerprint; at 100 TB
    // neither side broadcasts and neither needs to.
    // Scans: the final plan anti-joins ONE corpus fingerprint scan against the ledger read-back
    // (the Scratch write, like d45's, is construction-time)
    QuerySpec("d49_incremental_ingest", by("doc_id"), Pins(Scans(documents = 1), 1),
      // the ledger CTE mirrors the Scratch-materialized previous
      // snapshot (deciles ≠ 3 plus the ≡3 mod 50 "known body, new id"
      // overlap, distinct md5 fingerprints) verbatim
      """WITH ledger AS (
        |  SELECT DISTINCT md5(text) AS fp
        |  FROM documents
        |  WHERE text IS NOT NULL AND (doc_id % 10 <> 3 OR doc_id % 50 = 3))
        |SELECT doc_id, md5(text) AS fp
        |FROM documents d
        |WHERE text IS NOT NULL
        |  AND NOT EXISTS (SELECT 1 FROM ledger l WHERE l.fp = md5(d.text))
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      incrementalIngest(graft.sources.Tables.documents(s, dir), ingestLedger(s, dir))
    },

    // Training-sequence packing — the last step before tokens hit the
    // trainer: documents are concatenated in order and chunked into
    // fixed-budget sequences (greedy concat-then-chunk, the standard
    // GPT-style pretraining layout); a doc belongs to the sequence
    // where its FIRST token lands. Packing is SHARD-LOCAL (shard =
    // doc_id div 500), exactly how a distributed pipeline packs within
    // each input split: the running-sum window partitions by shard, so
    // every partition is bounded by construction (≤500 docs) and the
    // whole pass is embarrassingly parallel at any corpus size — no
    // global sort, no unbounded window partition.
    QuerySpec("d39_seq_pack", by("shard", "seq_id"), Pins(Scans(documents = 1), 1),
      Corpus.docsCte +
      """, toks AS (
        |  SELECT doc_id, doc_id // 500 AS shard,
        |         CAST(len(ws) AS BIGINT) AS n_tokens
        |  FROM docs),
        |cums AS (
        |  SELECT doc_id, shard, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM toks)
        |SELECT shard, CAST((cum - n_tokens) // 512 AS BIGINT) AS seq_id,
        |  count(1) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM cums GROUP BY 1, 2
        |ORDER BY shard, seq_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val toks = Corpus.docs(s, dir).select(col("doc_id"),
        expr("doc_id div 500").as("shard"),
        size(col("ws")).cast("long").as("n_tokens"))
      val w = Window.partitionBy("shard").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      toks.withColumn("cum", sum(col("n_tokens")).over(w))
        .withColumn("seq_id", expr("(cum - n_tokens) div 512"))
        .groupBy("shard", "seq_id")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
    },

    // Mix PLANNING — the aggregate-level dual of d23's per-doc
    // application: given the corpus's actual per-source token shares
    // and a target mix (md5-derived fixture weights standing in for
    // the externally-chosen mixture a run would pass in), compute each
    // source's sampling weight (target share / actual share) and epoch
    // count (ceil(weight) — how many passes over an under-represented
    // source a fixed-budget run schedules; DoReMi-style static
    // planning). ONE corpus scan reduced map-side to a per-source
    // aggregate bounded by the source domain; the totals row joins
    // back as a broadcast singleton. The only float ops are the share
    // divides and their ratio, IEEE-identical cross-engine; the
    // planner's output is the config a weighted sampler (d23's shape)
    // consumes at 100 TB.
    // Scans: one corpus scan reduced to the persisted per-source table (totals agg + join both
    // read the cached bounded relation)
    QuerySpec("d51_mix_plan", by("source"), Pins(Scans(documents = 1), 3),
      Corpus.docsCte +
      s""", per AS (
         |  SELECT source, count(1) AS n_docs,
         |    CAST(sum(len(ws)) AS BIGINT) AS n_tokens,
         |    (${Corpus.hash32Sql("'mixplan#' || source")} % 1000) + 1 AS w_raw
         |  FROM docs GROUP BY source),
         |tot AS (
         |  SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens,
         |    CAST(sum(w_raw) AS BIGINT) AS tot_w FROM per)
         |SELECT source, n_docs, n_tokens,
         |  CAST(n_tokens AS DOUBLE) / CAST(tot_tokens AS DOUBLE) AS actual_frac,
         |  CAST(w_raw AS DOUBLE) / CAST(tot_w AS DOUBLE) AS target_frac,
         |  (CAST(w_raw AS DOUBLE) / CAST(tot_w AS DOUBLE))
         |    / (CAST(n_tokens AS DOUBLE) / CAST(tot_tokens AS DOUBLE)) AS weight,
         |  CAST(ceil((CAST(w_raw AS DOUBLE) / CAST(tot_w AS DOUBLE))
         |    / (CAST(n_tokens AS DOUBLE) / CAST(tot_tokens AS DOUBLE))) AS BIGINT) AS epochs
         |FROM per CROSS JOIN tot ORDER BY source""".stripMargin) { (s, dir) =>
      mixPlanFrame(s, dir)
    },

    // Right-to-be-forgotten deletion PLAN — the data-governance sweep
    // a 100 TB pipeline must answer before it can honor a deletion
    // docket: every DERIVED artifact still carrying a requested doc,
    // with the row count to purge. Three artifact classes: the corpus
    // row itself; its d48 chunk rows (counted by the chunk-geometry
    // LAW per-row — ⌊(len−1)/stride⌋+1 — so the plan never explodes
    // the chunk stream: corpus + chunks come from ONE scan emitting a
    // two-element artifact array per hit); and its ANN posting (the
    // d50 index artifact read back, id-pruned). The docket is a
    // PERSISTED external input (Scratch round-trip, like d55's
    // deny-list) broadcast-semi-joined against each artifact — the
    // artifact sides never shuffle. What a purge executor consumes.
    // Scans: ONE corpus pass (corpus + chunk rows via the per-row geometry law, no chunk explode);
    // docket and ANN postings are artifact read-backs
    QuerySpec("d59_forget_plan", by("doc_id", "artifact"), Pins(Scans(documents = 1), 2),
      """WITH tex AS (
        |  SELECT doc_id, 'corpus' AS artifact, CAST(1 AS BIGINT) AS n_rows
        |  FROM documents WHERE text IS NOT NULL AND doc_id % 23 = 1
        |  UNION ALL
        |  SELECT doc_id, 'chunks',
        |    CAST((greatest(length(text), 1) - 1) // 160 + 1 AS BIGINT)
        |  FROM documents WHERE text IS NOT NULL AND doc_id % 23 = 1),
        |posts AS (
        |  SELECT vec_id AS doc_id, 'postings' AS artifact, CAST(1 AS BIGINT) AS n_rows
        |  FROM embeddings WHERE vec_id % 23 = 1)
        |SELECT * FROM tex UNION ALL SELECT * FROM posts
        |ORDER BY doc_id, artifact""".stripMargin) { (s, dir) =>
      val del = forgetList(s, dir)
      val textual = graft.sources.Tables.documents(s, dir)
        .filter(col("text").isNotNull)
        .join(broadcast(del), Seq("doc_id"), "left_semi")
        .withColumn("n_chunks",
          (expr(s"(greatest(length(text), 1) - 1) div ${chunkStride}") + 1))
        .select(col("doc_id"), explode(expr(
          "array(named_struct('artifact', 'corpus', 'n_rows', CAST(1 AS LONG)), " +
            "named_struct('artifact', 'chunks', 'n_rows', CAST(n_chunks AS LONG)))")).as("a"))
        .select(col("doc_id"), col("a.artifact").as("artifact"), col("a.n_rows").as("n_rows"))
      val postings = graft.sources.IO.readParquet(s,
          graft.operators.Similarity.annIndexPostings(s, dir))
        .select(col("vec_id").as("doc_id"))
        .join(broadcast(del), Seq("doc_id"), "left_semi")
        .select(col("doc_id"), lit("postings").as("artifact"), lit(1L).as("n_rows"))
      textual.unionByName(postings)
    },

    // Deterministic train/val/test split — keyed on the CONTENT
    // fingerprint, not the doc id: every byte-identical duplicate
    // lands in the SAME split by construction, so exact dups can
    // never leak train content into the held-out sets (the classic
    // split bug d22/d42 exist to catch after the fact — this prevents
    // the exact-dup case at assignment time). md5-derived bucket in
    // [0,100): <80 train, <90 val, else test — per-row, zero
    // shuffles, reproducible under re-runs and corpus growth (a doc's
    // split never changes when neighbors arrive, unlike rand() or
    // rank-based splits). The same md5-bucket family as d23/d38.
    // Scans: pure per-row split assignment over one fingerprint scan
    QuerySpec("d57_data_split", by("doc_id"), Pins(Scans(documents = 1), 0),
      s"""WITH fps AS (
         |  SELECT doc_id, md5(text) AS fp FROM documents WHERE text IS NOT NULL),
         |b AS (
         |  SELECT doc_id,
         |    ${Corpus.hash32Sql("concat('split#', fp)")} % 100 AS bucket
         |  FROM fps)
         |SELECT doc_id, bucket,
         |  CASE WHEN bucket < 80 THEN 'train'
         |       WHEN bucket < 90 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM b ORDER BY doc_id""".stripMargin) { (s, dir) =>
      splitAssign(graft.sources.Tables.documents(s, dir))
    },

    // Two-stage Bloom deny-list gate — how a 100 TB ingest enforces a
    // billions-of-entries blocklist (CSAM hashes, copyright claims,
    // robots retractions) without joining the corpus against it: the
    // broadcast Bloom filter answers per-row at scan cost and only
    // the ~0.5% bloom-positives pay the exact verification join
    // against the persisted deny store ([[blocklistGate]]). m scales
    // with the deny-list (next pow2 ≥ 16n → stable FPR at any size);
    // the no-false-negative soundness and the FPR budget are
    // spec-pinned, and the oracle recomputes both stages in SQL.
    // Scans: ONE corpus scan through the broadcast bloom probe — the deny-list build is a
    // construction-time Scratch artifact; the verify join reads the artifact back, never the
    // corpus
    QuerySpec("d55_blocklist_bloom", by("doc_id"), Pins(Scans(documents = 1), 3),
      {
      def pos(i: Int) =
        s"(${Corpus.hash32Sql(s"'bloom$i#' || fp")} % (SELECT m FROM mm))"
      s"""WITH fps AS (
         |  SELECT doc_id, md5(text) AS fp FROM documents WHERE text IS NOT NULL),
         |deny AS (SELECT DISTINCT fp FROM fps WHERE doc_id % 17 = 0),
         |mm AS (SELECT CAST(POWER(2, length(to_base(16 * count(1) - 1, 2))) AS BIGINT) AS m FROM deny),
         |bits AS (
         |  SELECT DISTINCT ${Corpus.hash32Sql("'bloom' || CAST(i AS VARCHAR) || '#' || fp")}
         |      % (SELECT m FROM mm) AS pos
         |  FROM deny, UNNEST([0, 1, 2]) t(i)),
         |suspects AS (
         |  SELECT doc_id, fp FROM fps
         |  WHERE ${pos(0)} IN (SELECT pos FROM bits)
         |    AND ${pos(1)} IN (SELECT pos FROM bits)
         |    AND ${pos(2)} IN (SELECT pos FROM bits))
         |SELECT doc_id,
         |  fp IN (SELECT fp FROM deny) AS exact_hit,
         |  fp NOT IN (SELECT fp FROM deny) AS false_positive
         |FROM suspects ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      blocklistGate(graft.sources.Tables.documents(s, dir),
          denyList(s, dir), denyBits(s, dir))
    },

    // Snapshot-over-snapshot DRIFT monitor — the regression gate a
    // data-quality dashboard runs before every training launch: did
    // today's crawl/filter change shift the corpus distribution? The
    // fixture stands in for two pipeline runs — "prev" is deciles 0-7,
    // "curr" is deciles 8-9 AFTER a length bar (n_chars ≥ 300, the
    // "today's run dropped short docs" incident this gate exists to
    // catch). Each (lang, length-bucket) stratum reports both counts,
    // both shares, and an EXACT integer drift numerator
    // |n_prev·N_curr − n_curr·N_prev| (the |Δshare| L1 term scaled by
    // N_prev·N_curr — no float summation anywhere; shares are one-shot
    // IEEE divides of exact longs). ONE corpus scan → conditional agg
    // over the bounded stratum space (langs × 6 buckets); the totals
    // come from a global window over that BOUNDED aggregate, never a
    // second pass over the data.
    QuerySpec("d54_corpus_drift", by("lang", "len_bucket"),
      // Scans: one corpus scan → bounded stratum agg; totals come from a window over the
      // aggregate, never a second pass
      Pins(Scans(documents = 1), 2, globalWindow = Some(
        "share totals over the (lang × 6 len-bucket) strata")),
      """WITH tagged AS (
        |  SELECT lang, least(n_chars // 100, 5) AS len_bucket,
        |    CASE WHEN doc_id % 10 < 8 THEN 'prev'
        |         WHEN n_chars >= 300 THEN 'curr' END AS snap
        |  FROM documents
        |  WHERE doc_id % 10 < 8 OR n_chars >= 300),
        |strata AS (
        |  SELECT lang, len_bucket,
        |    count(CASE WHEN snap = 'prev' THEN 1 END) AS n_prev,
        |    count(CASE WHEN snap = 'curr' THEN 1 END) AS n_curr
        |  FROM tagged GROUP BY 1, 2),
        |wide AS (
        |  SELECT *, SUM(n_prev) OVER () AS tot_prev,
        |            SUM(n_curr) OVER () AS tot_curr
        |  FROM strata)
        |SELECT lang, len_bucket, n_prev, n_curr,
        |  CAST(n_prev AS DOUBLE) / CAST(tot_prev AS DOUBLE) AS share_prev,
        |  CAST(n_curr AS DOUBLE) / CAST(tot_curr AS DOUBLE) AS share_curr,
        |  CAST(abs(n_prev * tot_curr - n_curr * tot_prev) AS BIGINT) AS drift_num
        |FROM wide ORDER BY lang, len_bucket""".stripMargin) { (s, dir) =>
      val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
      graft.sources.Tables.documents(s, dir)
        .withColumn("snap",
          when(col("doc_id") % 10 < 8, "prev")
            .when(col("n_chars") >= 300, "curr"))
        .filter(col("snap").isNotNull)
        .withColumn("len_bucket", least(expr("n_chars div 100"), lit(5L)))
        .groupBy("lang", "len_bucket")
        .agg(count(when(col("snap") === "prev", 1)).as("n_prev"),
          count(when(col("snap") === "curr", 1)).as("n_curr"))
        .withColumn("tot_prev", sum("n_prev").over(wAll))
        .withColumn("tot_curr", sum("n_curr").over(wAll))
        .withColumn("share_prev",
          col("n_prev").cast("double") / col("tot_prev").cast("double"))
        .withColumn("share_curr",
          col("n_curr").cast("double") / col("tot_curr").cast("double"))
        .withColumn("drift_num",
          abs(col("n_prev") * col("tot_curr") - col("n_curr") * col("tot_prev")))
        .select("lang", "len_bucket", "n_prev", "n_curr",
          "share_prev", "share_curr", "drift_num")
    },

    // Token-balanced shard assignment — the writer-side plan that
    // turns a curated corpus into fixed-budget training shards:
    // every doc gets a position in a deterministic global order
    // (hash-derived, so shuffle- and growth-stable) and its shard is
    // cum_tokens_before div SHARD_TOKENS. The global prefix sum uses
    // the two-stage SCALABLE pattern, not a single-partition window:
    // stage 1 cumulates WITHIN each of B hash buckets (parallel
    // windows over bucket partitions); stage 2 prefixes the B bucket
    // TOTALS (a bounded 32-row window) and broadcasts the offsets
    // back. Global order = (bucket, ord, doc_id), so offset +
    // local-cumsum IS the global cumsum — no stage ever sorts the
    // corpus in one place. B scales with the cluster at 100 TB; the
    // totals agg is a second pinned scan (corpus-sized intermediates
    // are not persisted — two cheap scans beat caching 100 TB).
    QuerySpec("d65_shard_plan", by("doc_id"),
      // Scans: bucket-local window pass + the bucket-totals agg pass (two cheap scans instead of
      // caching a corpus-sized frame)
      Pins(Scans(documents = 2), 4, globalWindow = Some(
        "shard prefix over the 32-row hash-bucket aggregate")),
      // one flat window over the global (bucket, ord, doc_id) order —
      // DuckDB needs no bucket staging, the ORDER is what must match
      Corpus.docsCte + {
      val ord = Corpus.hash32Sql("concat('shard', CAST(doc_id AS VARCHAR))")
      s""", d AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(ws, x -> x <> '')) AS BIGINT) AS n_tokens,
        |    $ord AS ord, $ord % 32 AS bucket
        |  FROM docs),
        |cum AS (
        |  SELECT doc_id, bucket, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY bucket, ord, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS cum_before
        |  FROM d)
        |SELECT doc_id, bucket, n_tokens, cum_before,
        |  cum_before // 4096 AS shard
        |FROM cum ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val shardTokens = 4096L
      val d = Corpus.docs(s, dir).select(
        col("doc_id"),
        TextAnalysis.nonEmptyCount(col("ws")).as("n_tokens"),
        hash32(concat(lit("shard"), col("doc_id").cast("string"))).as("ord"))
        .withColumn("bucket", col("ord") % 32)
      val wLocal = Window.partitionBy("bucket")
        .orderBy(col("ord"), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val local = d.withColumn("local_before",
        coalesce(sum(col("n_tokens")).over(wLocal), lit(0L)))
      val wPrefix = Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = d.groupBy("bucket").agg(sum(col("n_tokens")).as("tot"))
        .withColumn("offset", coalesce(sum(col("tot")).over(wPrefix), lit(0L)))
        .select("bucket", "offset")
      local.join(broadcast(offsets), Seq("bucket"))
        .withColumn("cum_before", col("offset") + col("local_before"))
        .withColumn("shard", expr(s"cum_before div $shardTokens"))
        .select("doc_id", "bucket", "n_tokens", "cum_before", "shard")
    },

    // Token-budget curriculum selection — the per-source QUOTA cut a
    // mixture-balanced training run makes: within each source, take
    // the best-scoring docs until the source's token budget is spent
    // (d23/d51 decide HOW MUCH each source contributes; this decides
    // WHICH docs fill that allowance). Score is an exact-integer
    // quality proxy (per-mille stopword density — the d09 family's
    // English-likeness signal without a single float), so the ranking
    // is bit-identical cross-engine. The admit rule is knapsack-greedy
    // (admit iff the WHOLE doc fits: cum_before + n_tokens ≤ quota) on
    // a per-source rank + prefix-sum window — x04's TopKPerGroup can't
    // prune this map-side because the stop condition is a token SUM,
    // not a row count, so the per-source window IS the right tool: one
    // exchange on source, windows parallel across sources (a
    // pathological mega-source would take d65's two-stage prefix
    // within the source). Pin documents=1.
    // Scans: score + rank + prefix-sum all ride one source-keyed exchange over one scan
    QuerySpec("d66_quota_select", by("source", "rk"), Pins(Scans(documents = 1), 1),
      Corpus.docsCte +
      s""", scored AS (
         |  SELECT source, doc_id,
         |    CAST(len(list_filter(ws, x -> x <> '')) AS BIGINT) AS n_tokens,
         |    CAST(len(list_filter(ws, w -> list_contains(${TextAnalysis.enStopSqlList}, w))) AS BIGINT) AS n_stop
         |  FROM docs),
         |r AS (
         |  SELECT source, doc_id, n_tokens,
         |    (n_stop * 1000) // greatest(n_tokens, 1) AS score
         |  FROM scored),
         |cum AS (
         |  SELECT source, doc_id, score, n_tokens,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY source
         |      ORDER BY score DESC, doc_id) AS BIGINT) AS rk,
         |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY source
         |      ORDER BY score DESC, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |      AS cum_before
         |  FROM r)
         |SELECT source, doc_id, score, n_tokens, rk, cum_before
         |FROM cum WHERE cum_before + n_tokens <= 600
         |ORDER BY source, rk""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val quota = 600L
      val w = Window.partitionBy("source")
        .orderBy(col("score").desc, col("doc_id"))
      val wCum = w.rowsBetween(Window.unboundedPreceding, -1)
      Corpus.docs(s, dir)
        .withColumn("n_tokens", TextAnalysis.nonEmptyCount(col("ws")))
        .withColumn("n_stop", TextAnalysis.wordHits(col("ws"), TextAnalysis.enStop))
        .withColumn("score", expr("(n_stop * 1000) div greatest(n_tokens, 1)"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(wCum), lit(0L)))
        .filter(col("cum_before") + col("n_tokens") <= quota)
        .select("source", "doc_id", "score", "n_tokens", "rk", "cum_before")
    },

    // Quality-aware canonical selection within near-dup clusters — the
    // step production dedup actually wants after d24's connected
    // components: keep the BEST copy of each duplicated page (argmax
    // quality, not min doc_id — the min-id keeper d01/d60 use is the
    // right call only when copies are byte-identical; near-dups differ
    // and you keep the cleanest). Labels come from the same pointer-
    // jumping components over the d04 LSH pairs; the keeper is
    // first_value over a per-cluster (score desc, doc_id) window —
    // clusters are small by construction (near-dup groups), so the
    // windows are bounded and parallel across clusters; the score is
    // d66's exact-integer quality proxy (bit-identical cross-engine,
    // which is what lets an ARGMAX survive a hash compare). Output is
    // the purge worklist: every clustered doc, its keeper, and the
    // purge flag. Corpus passes: the LSH pipeline's one documents scan
    // (inside the checkpoint loop, so its pins set `loop` as d24's do)
    // plus the score join's one.
    QuerySpec("d67_cluster_keep_best", by("doc_id"), Pins(Scans(documents = 2), 2, loop = true),
      Dedup.lshPairsCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
      s""", sym AS (
         |  SELECT a_id AS src, b_id AS dst FROM pairs
         |  UNION ALL SELECT b_id, a_id FROM pairs),
         |nodes AS (SELECT DISTINCT src AS id FROM sym),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT s.src, reach.r FROM sym s JOIN reach ON reach.id = s.dst),
         |lbl AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
         |sz AS (SELECT cluster_id, count(1) AS cluster_size FROM lbl GROUP BY 1),
         |scored AS (
         |  SELECT doc_id,
         |    (CAST(len(list_filter(ws, w -> list_contains(${TextAnalysis.enStopSqlList}, w))) AS BIGINT) * 1000)
         |      // greatest(CAST(len(list_filter(ws, x -> x <> '')) AS BIGINT), 1) AS score
         |  FROM docs),
         |j AS (
         |  SELECT l.id AS doc_id, l.cluster_id, s.cluster_size, sc.score
         |  FROM lbl l JOIN sz s USING (cluster_id)
         |  JOIN scored sc ON sc.doc_id = l.id),
         |k AS (
         |  SELECT doc_id, cluster_id, cluster_size, score,
         |    FIRST_VALUE(doc_id) OVER (PARTITION BY cluster_id
         |      ORDER BY score DESC, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS keeper_id
         |  FROM j)
         |SELECT doc_id, cluster_id, cluster_size, score, keeper_id,
         |  doc_id <> keeper_id AS purge
         |FROM k ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val labels =
        connectedComponents(Dedup.lshPairs(s, dir).select("a_id", "b_id"))
      val scored = Corpus.docs(s, dir)
        .withColumn("n_tokens", TextAnalysis.nonEmptyCount(col("ws")))
        .withColumn("n_stop", TextAnalysis.wordHits(col("ws"), TextAnalysis.enStop))
        .withColumn("score", expr("(n_stop * 1000) div greatest(n_tokens, 1)"))
        .select(col("doc_id"), col("score"))
      val wOrd = Window.partitionBy("cluster_id")
        .orderBy(col("score").desc, col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      labels.select(col("id").as("doc_id"), col("lbl").as("cluster_id"))
        .join(scored, Seq("doc_id"))
        .withColumn("keeper_id", first(col("doc_id")).over(wOrd))
        .withColumn("cluster_size",
          count(lit(1)).over(Window.partitionBy("cluster_id")))
        .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
          col("score"), col("keeper_id"),
          (col("doc_id") =!= col("keeper_id")).as("purge"))
    },

    // Mix-plan EXECUTION — the replay manifest that turns d51's
    // per-source epoch counts into the actual training stream: every
    // doc replicated `epochs(source)` times with a deterministic
    // replica index (the oversampling half of the DoReMi loop; d23 is
    // the undersampling half). The plan is a bounded per-source frame
    // joined BROADCAST, and the explode multiplies rows AFTER the
    // join — the corpus is scanned once for the stream and once
    // (reduced map-side) for the plan (pin documents=2); no shuffle
    // anywhere, the manifest inherits the scan's partitioning. A
    // dataloader consumes (doc_id, replica) as its sample list;
    // replica is in the key so shuffling the manifest never collides
    // copies.
    // Scans: the manifest stream's scan + the plan's map-side-reduced scan (d51's persisted
    // per-source frame)
    QuerySpec("d69_mix_execute", by("doc_id", "replica"), Pins(Scans(documents = 2), 4),
      Corpus.docsCte +
      s""", per AS (
         |  SELECT source, CAST(sum(len(ws)) AS BIGINT) AS n_tokens,
         |    (${Corpus.hash32Sql("'mixplan#' || source")} % 1000) + 1 AS w_raw
         |  FROM docs GROUP BY source),
         |tot AS (
         |  SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens,
         |    CAST(sum(w_raw) AS BIGINT) AS tot_w FROM per),
         |plan AS (
         |  SELECT source,
         |    CAST(ceil((CAST(w_raw AS DOUBLE) / CAST(tot_w AS DOUBLE))
         |      / (CAST(n_tokens AS DOUBLE) / CAST(tot_tokens AS DOUBLE))) AS BIGINT) AS epochs
         |  FROM per CROSS JOIN tot)
         |SELECT d.doc_id, d.source, CAST(t.r AS BIGINT) AS replica, p.epochs
         |FROM docs d JOIN plan p USING (source), UNNEST(range(1, p.epochs + 1)) t(r)
         |ORDER BY doc_id, replica""".stripMargin) { (s, dir) =>
      val plan = mixPlanFrame(s, dir).select("source", "epochs")
      Corpus.docs(s, dir).select("doc_id", "source")
        .join(broadcast(plan), Seq("source"))
        .withColumn("replica", explode(expr("sequence(1, epochs)")))
        .select("doc_id", "source", "replica", "epochs")
    }
  )
}
