package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.model.Corpus
import graft.operators.TextAnalysis

/** §2.D s08 — Structured Streaming over the DOCUMENT feed: the
  * training-data pipeline's ingestion side. A 100 TB corpus arrives
  * continuously (crawl drops, partner feeds); the curation gate —
  * normalize, quality-score, keep/drop — must run as the documents
  * land, not as a nightly batch. The transform is defined once and
  * applied to both the batch table (the oracle) and `readStream`
  * (proven equal in `EventStreamSpec`).
  *
  * State: the aggregation keys are (lang, source) — a bounded,
  * low-cardinality domain (languages × feeds), so complete-mode state
  * is O(|langs|·|sources|) regardless of stream length. The per-row
  * scoring is stateless and kernel-backed (CharCounts), identical to
  * d09's batch scoring by construction (same
  * [[TextAnalysis.qualityCols]] call).
  */
object DocStream {

  /** Parquet schema of the documents table (for the file source). */
  val rawSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  def readDocsStream(s: SparkSession, dir: String): DataFrame =
    s.readStream.schema(rawSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)

  /** The curation gate: per-(lang, source) doc counts, quality-bar
    * keeps, and total word volume — the live dashboard a corpus
    * ingestion pipeline watches. Per-row score ≡ d09 (shared
    * definition); keep bar = quality ≥ 0.1. */
  def curate(docs: DataFrame): DataFrame =
    TextAnalysis.qualityCols(Corpus.normalized(docs))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("quality") >= 0.1, 1L).otherwise(0L)).as("n_keep"),
        sum(col("n_words")).as("total_words"))

  /** Streaming Count-Min sketch — d61's 4×1024 frequency sketch
    * maintained AS TOKENS ARRIVE: each arriving doc's tokens bump one
    * cell per hash row; complete-mode state is the sketch itself,
    * bounded at 4096 counters forever (the whole point of sketching a
    * stream — exact vocabulary counts would grow state with the
    * vocabulary). Merge across micro-batches is count addition —
    * CMS's native mergeability. Same cell geometry as d61
    * ([[graft.model.Corpus.cmsCellsSql]]), so the live sketch answers
    * the same probes as the batch one; stream ≡ batch proven in
    * EventStreamSpec. */
  def cmsSketch(docs: DataFrame): DataFrame =
    Corpus.normalized(docs)
      .select(explode(col("ws")).as("w")).filter(col("w") =!= "")
      .select(explode(expr(Corpus.cmsCellsSql)).as("rc"))
      .select(col("rc.i").as("i"), col("rc.cell").as("cell"))
      .groupBy("i", "cell").agg(count(lit(1)).as("c"))

  /** s29 — streaming per-source KMV distinct sketch: d26's grouped
    * vocabulary estimator maintained AS DOCUMENTS ARRIVE. The x06
    * `TypedImperativeAggregate` IS the streaming state: complete-mode
    * per-source buffers hold ≤k hashes each (bounded forever — the
    * sketch never grows with the vocabulary), micro-batches merge
    * through the aggregate's own associative merge, and the emitted
    * (k_actual, h_k, est) equals the batch sketch exactly because a
    * sorted-distinct k-min set is ORDER-INVARIANT over any arrival
    * order. Same transform as d26 (shared oracle); stream ≡ batch
    * proven in EventStreamSpec. */
  def kmvBySource(docs: DataFrame): DataFrame =
    Corpus.normalized(docs)
      .select(col("source"), explode(col("ws")).as("w"))
      .select(col("source"), graft.functions.hash32(col("w")).as("h"))
      .groupBy("source")
      .agg(graft.functions.KmvSketchAgg(col("h"), 64).as("kmv"))
      .select(col("source"), col("kmv.k_actual").as("k_actual"),
        col("kmv.h_k").as("h_k"), col("kmv.est_distinct").as("est_distinct"))

  /** Canonical-URL ingest gate — d60's dedup question asked as pages
    * ARRIVE: each doc's crawl URL canonicalized per-row (stateless,
    * append mode) and probed against the already-ingested canonical
    * index (stream-static join against the materialized index a
    * 100 TB crawler shares — here the every-3rd-doc partition, the
    * s10/tileIndex convention); `is_new` = no index hit, the keep
    * decision a re-crawl makes without any content fetch. Batch twin
    * is the oracle (`s24_stream_url`); stream ≡ batch in
    * EventStreamSpec. */
  def urlGate(index: DataFrame)(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        TextAnalysis.crawlUrl(col("doc_id")).as("url"))
      .withColumn("canonical_url", TextAnalysis.canonicalUrl(col("url")))
      .join(broadcast(index.withColumn("hit", lit(true))),
        Seq("canonical_url"), "left")
      .select(col("doc_id"), col("canonical_url"),
        (!coalesce(col("hit"), lit(false))).as("is_new"))

  /** s24's static side: canonical URLs the previous crawl already
    * covered — a hash-range of the PAGE space (70% of pages by page
    * hash, the sharded-crawl fixture), so the gate stays
    * discriminative at every SF: coverage is a property of the page,
    * not of which docs happen to exist. */
  def urlIndex(s: SparkSession, dir: String): DataFrame = {
    val canon = TextAnalysis.canonicalUrl(
      TextAnalysis.crawlUrl(col("doc_id")))
    graft.sources.Tables.documents(s, dir)
      .select(canon.as("canonical_url"))
      .filter(graft.functions.hash32(col("canonical_url")) % 10 < 7)
      .distinct()
  }

  /** s33's static side — the known-template index: distinct 8-word
    * prefixes of the already-ingested partition (every 3rd doc, the
    * s10/tileIndex convention). At 100 TB this is the materialized
    * template catalog the crawl fleet shares; prefix keys come from
    * the SAME projection d85 audits with ([[graft.operators.Dedup
    * .prefixKeys]]) so batch triage and live gate can never drift. */
  def templateIndex(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.prefixKeys(
        graft.sources.Tables.documents(s, dir)
          .filter(col("doc_id") % 3 === 0))
      .select("prefix").distinct()

  /** s33 — the streaming TEMPLATE gate: each arriving page's 8-word
    * head is computed per-row (stateless) and probed against the
    * broadcast template index — d85's triage question asked at
    * ingestion, BEFORE the page pays shingling or signature cost.
    * Stream-static left join, append mode: no state store, no
    * watermark, no shuffle at any corpus rate. Docs under 8 words
    * carry no template head and pass through ungated (they are not
    * emitted — the d85 eligibility rule, shared via prefixKeys). */
  def templateGate(index: DataFrame)(docs: DataFrame): DataFrame =
    graft.operators.Dedup.prefixKeys(docs.filter(col("doc_id") % 3 =!= 0))
      .join(broadcast(index.withColumn("hit", lit(true))),
        Seq("prefix"), "left")
      .select(col("doc_id"), col("prefix"),
        coalesce(col("hit"), lit(false)).as("is_template"))

  /** s10's static side — the known-boilerplate index: distinct tile
    * hashes of the already-ingested partition (every 3rd doc plays
    * that role). At 100 TB this is the materialized dedup index the
    * ingestion fleet shares; here it is a batch frame joined
    * stream-static. */
  def tileIndex(s: SparkSession, dir: String): DataFrame =
    Corpus.tiles(graft.sources.Tables.documents(s, dir)
        .filter(col("doc_id") % 3 === 0))
      .select("tile").distinct()

  /** s10 — the streaming BOILERPLATE gate: as documents arrive, how
    * much of their span volume is already known to the corpus index?
    * Per-row tile explode (stateless), one stream-static left join
    * against the index, one bounded (lang, source) aggregation —
    * exactly the d36 pricing question asked live. The join is
    * stream-static (static right side), so no join state accumulates;
    * the only state is the complete-mode (lang, source) aggregate. */
  def boilerplateGate(index: DataFrame)(docs: DataFrame): DataFrame =
    Corpus.tiles(docs.filter(col("doc_id") % 3 =!= 0))
      .join(index.withColumn("known", lit(1)), Seq("tile"), "left_outer")
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_tiles"),
        sum(when(col("known").isNotNull, 1L).otherwise(0L)).as("n_known"))
      .withColumn("known_frac", col("n_known").cast("double") / col("n_tiles"))

  /** s13's static side — the held-out benchmark gram set as ONE sorted
    * array row (the d43 probe shape): the eval suite a production
    * ingestion job loads once at startup. Bounded by construction
    * (d22's ≤100-doc fixture stands in for the external benchmark). */
  def benchGramIndex(s: SparkSession, dir: String): DataFrame =
    Corpus.grams(s, dir)
      .filter(expr(graft.operators.Curation.benchCond))
      .agg(array_sort(collect_set(col("gram"))).as("bg"))

  /** s13 — streaming benchmark DECONTAMINATION: every arriving
    * training doc is probed against the held-out benchmark gram set AS
    * IT LANDS (a real pipeline flags eval leakage at ingestion, not in
    * a nightly sweep). Entirely STATELESS — the per-row gram array
    * folds through the SortedHitCount kernel against the broadcast
    * single-row bench array (d43's probe verbatim), so the stream runs
    * append-mode with no state store, no watermark, and no shuffle at
    * any corpus rate. Output contract ≡ d22 (same oracle). */
  def deconGate(benchGrams: DataFrame)(docs: DataFrame): DataFrame =
    Corpus.normalized(docs)
      .filter(not(expr(graft.operators.Curation.benchCond)))
      .withColumn("garr", Corpus.gramsArr)
      .crossJoin(broadcast(benchGrams))
      .withColumn("n_hit_grams", graft.functions.SortedHitCount(col("garr"), col("bg")))
      .select(col("doc_id"), col("n_hit_grams"),
        (col("n_hit_grams") > 0).as("contaminated"))

  /** Per-source ingest/crawl budget (s25): tokens-seen state. */
  case class BudgetDoc(doc_id: Long, source: String, n_tokens: Long)
  case class BudgetOut(doc_id: Long, source: String, n_tokens: Long,
      cum_before: Long, admitted: Boolean)

  /** Tokens a source may contribute before its crawl budget closes. */
  val budgetTokens = 600L

  /** Per-source CRAWL-BUDGET gate — "stop ingesting a source once its
    * token allowance is spent", decided doc by doc AS THEY ARRIVE
    * (CommonCrawl-style per-feed budgets; d66 picks by SCORE offline,
    * an ingest gate can only pick by arrival). State per source is ONE
    * long (tokens seen so far) via flatMapGroupsWithState — bounded by
    * |sources| forever; every arriving doc counts against the budget
    * (rejected docs were still crawled — the ledger tracks arrived
    * volume), admit iff the whole doc fits. Arrival order within a
    * micro-batch is doc_id order (the iterator is sorted — file feeds
    * deliver in id order; the sort makes that explicit and
    * deterministic), so stream ≡ the batch prefix-sum twin exactly. */
  def ingestBudget(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    Corpus.normalized(docs)
      .select(col("doc_id"), col("source"),
        expr("CAST(size(filter(ws, x -> x != '')) AS BIGINT)").as("n_tokens"))
      .as[BudgetDoc]
      .groupByKey(_.source)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        budgetGroup)
      .toDF()
  }

  private def budgetGroup(source: String, docs: Iterator[BudgetDoc],
      state: org.apache.spark.sql.streaming.GroupState[Long]): Iterator[BudgetOut] = {
    var cum = state.getOption.getOrElse(0L)
    val out = docs.toSeq.sortBy(_.doc_id).map { d =>
      val before = cum
      cum += d.n_tokens
      BudgetOut(d.doc_id, source, d.n_tokens, before,
        before + d.n_tokens <= budgetTokens)
    }
    state.update(cum)
    out.iterator
  }

  /** s28's static side — the d72 domain-reputation index reduced to
    * its deny set (the "low" reputation tier) as ONE sorted array row,
    * the startup-loaded broadcast shape every stateless gate here uses
    * (benchGramIndex's form). Domains are bounded, so the array is KBs
    * at any corpus size. */
  def repDenyIndex(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.domainReputation(s, dir)
      .filter(col("tier") === "low")
      .agg(coalesce(array_sort(collect_list(col("domain"))),
        expr("CAST(array() AS ARRAY<STRING>)")).as("deny"))

  /** s28 — streaming domain-REPUTATION gate: each arriving doc's cited
    * domains are extracted per row and probed against the broadcast
    * low-tier deny set; docs citing any denied domain route to review.
    * Entirely STATELESS (append mode, no watermark, no state store):
    * the domain array is a per-row regexp projection and the probe is
    * an array-membership filter against the single broadcast row — the
    * d55/s20 two-stage deny-list idea applied to PROVENANCE instead of
    * content. */
  def reputationGate(deny: DataFrame)(docs: DataFrame): DataFrame =
    TextAnalysis.withInjectedUrls(docs)
      .withColumn("domains",
        expr(s"regexp_extract_all(raw, '${TextAnalysis.urlRe}', 1)"))
      .crossJoin(broadcast(deny))
      .withColumn("n_domains", size(col("domains")).cast("long"))
      .withColumn("n_low",
        size(filter(col("domains"), d => array_contains(col("deny"), d))).cast("long"))
      .withColumn("verdict",
        when(col("n_low") > 0, "review").otherwise("accept"))
      .select("doc_id", "n_domains", "n_low", "verdict")

  /** s32's row/state shapes: hash-bucketed live shard packing. */
  case class PackDoc(doc_id: Long, bucket: Int, n_tokens: Long)
  case class PackOut(doc_id: Long, bucket: Int, n_tokens: Long,
      cum_before_bucket: Long, shard_seq: Long)

  /** Per-writer shard budget for the LIVE packer — smaller than d65's
    * offline 4096 so the per-bucket sequence genuinely advances at
    * every SF (a live writer closes shards often; the offline planner
    * packs bigger). */
  val packShardTokens = 512L

  /** Streaming SHARD PACKER (s32) — d65's question asked at ingest:
    * which training shard does each arriving doc land in? The offline
    * planner (d65) orders by a hash for balance and prefixes GLOBALLY
    * via the two-stage broadcast — a stream cannot know future bucket
    * totals, so the live packer does what a 1000-writer pipeline
    * actually does: docs hash-route to one of 32 WRITERS (the same
    * `hash32('shard'+id) % 32` law as d65's buckets, so load spreads
    * identically), each writer packs ITS OWN shard sequence in arrival
    * order, and the global shard identity is the pair (bucket,
    * shard_seq) — writer-id × local-seq, no cross-writer coordination
    * ever. State per writer is ONE long (tokens packed so far): 32
    * longs forever, d65's two-stage prefix collapsed to its
    * micro-batch accumulating half. Arrival order within a batch is
    * doc_id order (the s25 convention — file feeds deliver in id
    * order; the sort makes it explicit), so stream ≡ the per-bucket
    * batch cumsum twin exactly. */
  def shardPack(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    Corpus.normalized(docs)
      .select(col("doc_id"),
        (graft.functions.hash32(concat(lit("shard"), col("doc_id").cast("string"))) % 32)
          .cast("int").as("bucket"),
        expr("CAST(size(filter(ws, x -> x != '')) AS BIGINT)").as("n_tokens"))
      .as[PackDoc]
      .groupByKey(_.bucket)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        packGroup)
      .toDF()
  }

  private def packGroup(bucket: Int, docs: Iterator[PackDoc],
      state: org.apache.spark.sql.streaming.GroupState[Long]): Iterator[PackOut] = {
    var cum = state.getOption.getOrElse(0L)
    val out = docs.toSeq.sortBy(_.doc_id).map { d =>
      val before = cum
      cum += d.n_tokens
      PackOut(d.doc_id, bucket, d.n_tokens, before, before / packShardTokens)
    }
    state.update(cum)
    out.iterator
  }

  /** Run a document-stream transform to a memory sink (AvailableNow —
    * drains the source then stops), for the stream ≡ batch specs. */
  def runToMemory(s: SparkSession, dir: String, name: String,
      transform: DataFrame => DataFrame, mode: String = "complete"): StreamingQuery =
    MemorySink.run(readDocsStream(s, dir), name, transform, mode)
}
