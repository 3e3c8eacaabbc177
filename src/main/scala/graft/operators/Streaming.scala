package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions._
import graft.operators.QuerySpec.by
import graft.sources.Tables
import graft.streaming.EventStream

/** §2.D s01/s02 — batch-equivalent entry points for the streaming
  * transforms (the driver's oracle runs batch SQL; `EventStreamSpec`
  * proves the same transform over `readStream` produces the same
  * rows).
  */
object Streaming extends QueryModule {

  val specs: Seq[QuerySpec] = Seq(
    // Tumbling 1-hour window aggregation — the exact DataFrame transform
    // the streaming job runs (watermark is a no-op on batch input).
    QuerySpec("s01_stream_window", by("hour", "event_type"), Pins(Scans(events = 1), 1),
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
        |  COUNT(1) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin) { (s, dir) =>
      EventStream.hourlyAgg(Tables.events(s, dir))
    },

    // Deterministic dedup: first event (min event_id) per
    // (user_id, event_type) — batch twin of the streaming dropDuplicates.
    QuerySpec("s02_stream_dedup", by("user_id", "event_type"), Pins(Scans(events = 1), 1),
      """SELECT user_id, event_type, MIN(event_id) AS first_event,
        |  COUNT(1) AS n_events
        |FROM events GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .groupBy("user_id", "event_type")
        .agg(min(col("event_id")).as("first_event"), count(lit(1)).as("n_events"))
    },

    // Stream-static broadcast enrichment, rolled up per dimension row —
    // the join is the exact transform the streaming job runs.
    QuerySpec("s06_stream_enrich", by("n_name"), Pins(Scans(events = 1), 2),
      """SELECT n.n_name, COUNT(1) AS n_events,
        |  CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events e JOIN nation n ON e.user_id % 25 = n.n_nationkey
        |GROUP BY 1 ORDER BY n_name""".stripMargin) { (s, dir) =>
      EventStream.enrich(Tables.events(s, dir), Tables.nation(s, dir))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_events"),
          asDouble(sum(dec2(col("value")))).as("total_value"))
    },

    // Live backup monitoring: the ledger's per-(day, node) manifest
    // report as the exact transform the streaming job runs (day
    // windows ≡ snapshot days on batch input).
    QuerySpec("s07_backup_monitor", by("snapshot_day", "node_id"), Pins(Scans(events = 1), 1),
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS snapshot_day,
        |  user_id AS node_id, COUNT(1) AS n_uploads,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_bytes
        |FROM events GROUP BY 1, 2 ORDER BY snapshot_day, node_id""".stripMargin) { (s, dir) =>
      EventStream.backupMonitor(Tables.events(s, dir))
    },

    // Live upload-progress tracking — the b26 tracker report as the
    // exact transform the streaming job runs (no NOT_STARTED class:
    // un-arrived events are not yet units in a live tracker).
    QuerySpec("s09_stream_progress", by("snapshot_day", "node_id"), Pins(Scans(events = 1), 1),
      """WITH st AS (
        |  SELECT CAST(date_trunc('day', ts) AS DATE) AS snapshot_day,
        |    user_id AS node_id,
        |    CASE WHEN event_id % 41 = 0 THEN 'FAILED'
        |         WHEN event_id % 37 = 0 THEN 'IGNORED'
        |         ELSE 'FINISHED' END AS state
        |  FROM events)
        |SELECT snapshot_day, node_id, count(1) AS n_units,
        |  count(CASE WHEN state = 'FAILED' THEN 1 END) AS n_failed,
        |  count(CASE WHEN state = 'IGNORED' THEN 1 END) AS n_ignored,
        |  CAST(count(1) - count(CASE WHEN state = 'FAILED' THEN 1 END)
        |       - count(CASE WHEN state = 'IGNORED' THEN 1 END) AS DOUBLE)
        |    / count(1) AS ok_ratio
        |FROM st GROUP BY 1, 2 ORDER BY snapshot_day, node_id""".stripMargin) { (s, dir) =>
      EventStream.progressMonitor(Tables.events(s, dir))
    },

    // Sliding-window aggregation — the same DataFrame transform the
    // streaming job runs; the oracle expands each event into its two
    // overlapping windows explicitly.
    QuerySpec("s05_sliding_window", by("win_start", "event_type"), Pins(Scans(events = 1), 1),
      """SELECT win_start, event_type, COUNT(1) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM (
        |  SELECT time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP))
        |           - (k * INTERVAL '30 minutes') AS win_start,
        |         event_type, value
        |  FROM events, UNNEST(range(0, 2)) t(k)) x
        |GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin) { (s, dir) =>
      EventStream.slidingAgg(Tables.events(s, dir))
    },

    // Streaming corpus curation — the document-feed quality gate as
    // the exact transform the streaming job runs (per-row kernel
    // scoring shared with d09, bounded (lang, source) state).
    QuerySpec("s08_corpus_curate", by("lang", "source"), Pins(Scans(documents = 1), 1),
      s"""WITH d AS (
         |  SELECT lang, source, text, string_split(${graft.model.Corpus.normSql}, ' ') AS ws
         |  FROM documents),
         |scored AS (
         |  SELECT lang, source,
         |    CAST(len(ws) AS BIGINT) AS n_words,
         |    CAST(len(list_filter(ws, w -> list_contains(${TextAnalysis.enStopSqlList}, w))) AS DOUBLE)
         |      / greatest(len(ws), 1)
         |    - CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
         |      / greatest(length(text), 1)
         |    + CASE WHEN len(ws) BETWEEN 5 AND 200 THEN 0.1 ELSE 0.0 END AS quality
         |  FROM d)
         |SELECT lang, source, COUNT(1) AS n_docs,
         |  CAST(SUM(CASE WHEN quality >= 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
         |  CAST(SUM(n_words) AS BIGINT) AS total_words
         |FROM scored GROUP BY lang, source ORDER BY lang, source""".stripMargin) { (s, dir) =>
      graft.streaming.DocStream.curate(Tables.documents(s, dir))
    },

    // Streaming frame sampler — the d18 media transform as clips land:
    // stateless per-row bounded explode, no watermark, no state at
    // all. The batch twin is d18 itself (shared transform + oracle).
    QuerySpec("s12_stream_frames", by("doc_id", "frame_idx"), Pins(Scans(documents = 1), 0),
      // the streaming frame sampler is the d18 transform verbatim — the
      // oracle is shared the same way s11 shares b07's
      Multimodal.oracle("d18_frame_sample")) { (s, dir) =>
      Multimodal.frameSample(Tables.documents(s, dir))
    },

    // Streaming PIT tracker — the same running-max transform the
    // streaming job runs (complete-mode state bounded by node×key),
    // applied to the batch table. Value-equal to b07's window
    // formulation (same oracle; equality also spec-proven).
    QuerySpec("s11_stream_pit", by("node_id", "k"), Pins(Scans(events = 1), 1),
      // identical output contract to b07 — the PIT question asked of the
      // stream must get the batch answer, so it shares the oracle text
      Backup.oracle("b07_pit_state")) { (s, dir) =>
      graft.streaming.EventStream.pitTracker(Tables.events(s, dir))
    },

    // Streaming boilerplate gate — the same transform the streaming
    // job runs (stream-static tile-index join, bounded (lang, source)
    // aggregate), applied to the batch table.
    // Scans: the doc-frequency pass over the corpus + the probe of it
    QuerySpec("s10_stream_boilerplate", by("lang", "source"), Pins(Scans(documents = 2), 3),
      graft.model.Corpus.docsCte + graft.model.Corpus.tilesCte +
      """, idx AS (SELECT DISTINCT tile FROM tiles WHERE doc_id % 3 = 0)
        |SELECT lang, source, n_tiles, n_known,
        |  CAST(n_known AS DOUBLE) / n_tiles AS known_frac
        |FROM (
        |  SELECT t.lang, t.source, count(1) AS n_tiles,
        |    CAST(sum(CASE WHEN i.tile IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_known
        |  FROM tiles t LEFT JOIN idx i ON t.tile = i.tile
        |  WHERE t.doc_id % 3 <> 0
        |  GROUP BY t.lang, t.source) r
        |ORDER BY lang, source""".stripMargin) { (s, dir) =>
      graft.streaming.DocStream.boilerplateGate(
          graft.streaming.DocStream.tileIndex(s, dir))(
          Tables.documents(s, dir))
    },

    // Streaming decontamination — the d22 question asked at INGESTION:
    // the same stateless per-row transform the streaming job runs
    // (d43's sorted-probe kernel against the broadcast bench array),
    // applied to the batch table. Output contract ≡ d22 (shared
    // oracle); stream ≡ batch proven in EventStreamSpec.
    // Scans: the corpus probe against the bounded bench slice (d22's roles minus the gram explode)
    QuerySpec("s13_stream_decon", by("doc_id"), Pins(Scans(documents = 2), 2),
      // the streaming decon gate answers d22's question with d43's
      // kernel — value-identical to the batch join formulation, so it
      // shares d22's oracle text
      Curation.oracle("d22_decontaminate")) { (s, dir) =>
      graft.streaming.DocStream.deconGate(
          graft.streaming.DocStream.benchGramIndex(s, dir))(
          Tables.documents(s, dir))
    },

    // Streaming media-ingest quarantine — the d44 audit asked at
    // INGESTION: every arriving container decoded tolerantly as it
    // lands (stateless per-row decode), failures rolled into a
    // complete-mode summary whose state is bounded by the CLOSED
    // failure-kind set. The audit API takes packed containers; the
    // oracle-predictable pack+damage FIXTURE is composed in front, as
    // in d44. Output contract ≡ d44 (shared oracle); stream ≡ batch
    // proven in EventStreamSpec.
    QuerySpec("s14_stream_quarantine", by("err_kind"), Pins(Scans(documents = 1), 1),
      // the streaming quarantine gate is the d44 audit verbatim — the
      // oracle is shared the same way s12 shares d18's
      Multimodal.oracle("d44_media_quarantine")) { (s, dir) =>
      Multimodal.quarantineAudit(
          Multimodal.packDamagedFixture(Tables.documents(s, dir)))
    },

    // Streaming metadata sweep — the d47 question asked at INGESTION:
    // dims + declared frame count peeked from each arriving container's
    // fixed header, no frame walk / CRC / payload digest. Stateless
    // per-row with no state or aggregation (append mode), so a 100 TB
    // backfill and the live stream run the SAME transform at scan cost.
    // Output contract ≡ d47 (shared transform + oracle); stream ≡ batch
    // proven in EventStreamSpec.
    QuerySpec("s15_stream_dims", by("doc_id"), Pins(Scans(documents = 1), 0),
      // the streaming dims sweep is the d47 transform verbatim — the
      // oracle is shared the same way s12 shares d18's
      Multimodal.oracle("d47_media_dims")) { (s, dir) =>
      Multimodal.dimsSweep(Tables.documents(s, dir))
    },

    // Streaming incremental ingest — the d49 freshen decision made as
    // docs ARRIVE: each micro-batch stream-static LEFT-ANTI-joins its
    // fingerprints against the persisted ledger read back from
    // storage, so only new-content docs flow downstream the moment
    // they land. Stateless (no watermark, no join state — the static
    // side is the state, and it lives in parquet, not the state
    // store), append mode; backfill and live feed run the SAME
    // transform. Output contract ≡ d49 (shared transform + oracle);
    // stream ≡ batch proven in EventStreamSpec.
    QuerySpec("s16_stream_ingest", by("doc_id"), Pins(Scans(documents = 1), 1),
      // the streaming freshen gate is the d49 transform verbatim
      // (stream-static anti-join against the same persisted ledger)
      Curation.oracle("d49_incremental_ingest")) { (s, dir) =>
      Curation.incrementalIngest(Tables.documents(s, dir), Curation.ingestLedger(s, dir))
    },

    // Streaming ANN routing — the scatter step of a distributed ANN
    // service run as queries ARRIVE: each vector folds over the
    // broadcast PERSISTED index centroids (d50's artifact, read back
    // from storage) to its nprobe=2 cells + nearest distance.
    // Stateless per-row (no watermark, no state store, no shuffle);
    // the per-cell search runs shard-side (d50's cell join) — a router
    // only decides WHERE each query goes. Stream ≡ batch proven in
    // VecStreamSpec.
    // Scans: routes ONE embeddings pass against the index-centroid read-back (the index build,
    // like d45/d50, is construction-time)
    QuerySpec("s17_stream_ann_route", by("vec_id"), Pins(Scans(embeddings = 1), 2),
      // the routing decision probed against the index centroid table —
      // the SQL rebuilds cents1 exactly (the persisted index is exact
      // state, same sharing rationale as d50 ← d15)
      Similarity.annRouteSql) { (s, dir) =>
      val cents = graft.sources.IO.readParquet(s, Similarity.annIndexCents(s, dir))
      Similarity.annRoute(cents)(graft.model.Corpus.qvecs(s, dir))
    },

    // Streaming outlier gate — d87's audit question asked at
    // INGESTION: each arriving vector's center distance tested
    // against the PERSISTED per-cell stats artifact (centroids +
    // stats both load from the index, the corpus is never touched) —
    // a corrupt vector is flagged before it enters the index.
    // Stateless per-row, append mode; stream ≡ batch in AnnIndexSpec.
    // Scans: ONE embeddings pass (the arriving feed) against the centroid + cell-stats artifact
    // read-backs, as s17
    QuerySpec("s34_stream_outliers", by("vec_id"), Pins(Scans(embeddings = 1), 3),
      // the ingest-side outlier verdict per arriving vector — d87's
      // audit CTEs (assignment + per-cell stats), un-filtered: the SQL
      // rebuilds the cell stats exactly as the persisted artifact holds
      // them (same exact-state sharing rationale as s17 ← d50)
      Similarity.outlierGateSql) { (s, dir) =>
      val cents = graft.sources.IO.readParquet(s, Similarity.annIndexCents(s, dir))
      val stats = graft.sources.IO.readParquet(s, Similarity.annIndexCellStats(s, dir))
      Similarity.outlierGate(cents, stats)(graft.model.Corpus.qvecs(s, dir))
    },

    // Streaming semantic-dedup gate — d35's cluster-dedup decision
    // asked at INGESTION: each arriving vector folds to its nearest
    // index centroid and is scored against that cell's PERSISTED
    // representative (centroids + reps both √n-row index artifacts,
    // broadcast) — one cosine per arrival decides rep/drop/keep
    // before the vector ever reaches the corpus. Stateless per-row,
    // append mode; stream ≡ batch proven in AnnIndexSpec.
    // Scans: ONE embeddings pass (the arriving feed) against the centroid + reps artifact
    // read-backs, as s34
    QuerySpec("s35_stream_semdedup", by("vec_id"), Pins(Scans(embeddings = 1), 3),
      // the ingest-side semantic-dedup verdict — d35's rep scoring
      // against the refined index cells; the SQL rebuilds assignment +
      // rep election exactly as the persisted reps artifact holds them
      Similarity.semdedupGateSql) { (s, dir) =>
      val cents = graft.sources.IO.readParquet(s, Similarity.annIndexCents(s, dir))
      val reps = graft.sources.IO.readParquet(s, Similarity.annIndexReps(s, dir))
      Similarity.semdedupGate(cents, reps)(graft.model.Corpus.qvecs(s, dir))
    },

    // Streaming community-routing gate — the d95/d97 nightly
    // clustering's question asked PER ARRIVAL: each arriving vector
    // folds over the broadcast PERSISTED community medoids (the fifth
    // index artifact, built once from the postings) to its nearest
    // semantic group — "which community does this vector join",
    // decided at the door with exact integer distances. Stateless
    // per-row (the medoid table collapses to one broadcast row and the
    // argmin is a per-row fold — no aggregation, no state store, no
    // shuffle of the feed), append mode; backfill and live feed run
    // the SAME transform. Stream ≡ batch proven in AnnIndexSpec.
    // Scans: ONE embeddings pass (the arriving feed) folded over the broadcast medoid artifact
    // read-back, as s17/s34/s35
    QuerySpec("s38_stream_communities", by("vec_id"), Pins(Scans(embeddings = 1), 2),
      // the ingest-side community routing — the full community + medoid
      // election rebuilt in SQL (the persisted medoid artifact is exact
      // state over the indexed population), then nearest-medoid argmin
      Similarity.communityGateSql) { (s, dir) =>
      val meds = graft.sources.IO.readParquet(s, Similarity.annIndexMedoids(s, dir))
      Similarity.communityGate(meds)(graft.model.Corpus.qvecs(s, dir))
    },

    // The s38 gate's declared 100 TB form — same medoid artifact,
    // SHARDED by index cell and served scatter/gather instead of
    // broadcast: per-executor state is one shard's residents (bounded
    // by the densest cell, not the community count), the single-row
    // fold that grows with communities is gone (PlanSpec pins it), and
    // the answer is EXACTLY s38's (same oracle — the d15 ↔ d50
    // precedent; AnnIndexSpec pins row-for-row equality). This is the
    // variant a fleet with millions of communities runs; s38 remains
    // the broadcast fast path while the medoid table fits.
    // Scans: the sharded s38 — still ONE embeddings pass (the arriving feed fanned over the
    // bounded cell list); medoid + posting sides are artifact read-backs, never corpus scans
    QuerySpec("s41_stream_communities_sharded", by("vec_id"), Pins(Scans(embeddings = 1), 8),
      // the sharded scatter/gather gate recomputes s38's answer exactly
      // (same artifact, same argmin, same tie-break — only the memory
      // shape changes), so it stands behind the SAME oracle
      Similarity.communityGateSql) { (s, dir) =>
      Similarity.communityGateRouted(s, dir)(graft.model.Corpus.qvecs(s, dir))
    },

    // Live community LOAD — the serving dashboard over the s38 gate:
    // per-community arrival count + total routed distance, maintained
    // as vectors ARRIVE. count/Σ are associative, so micro-batches
    // merge exactly in complete mode and the state never exceeds the
    // community count (the s26/s29/s36 bounded-sketch argument at the
    // community level) — spots a community absorbing disproportionate
    // or far-off arrivals with no nightly recompute. Stream ≡ batch
    // EXACT (integer sums are order-invariant); proven in AnnIndexSpec.
    // Scans: the s38 route pass into the bounded per-community tally
    QuerySpec("s39_stream_community_load", by("cluster_id"), Pins(Scans(embeddings = 1), 3),
      // the per-community arrival tally over the same rebuilt route chain
      Similarity.communityLoadSql) { (s, dir) =>
      val meds = graft.sources.IO.readParquet(s, Similarity.annIndexMedoids(s, dir))
      Similarity.communityLoad(meds)(graft.model.Corpus.qvecs(s, dir))
    },

    // Live per-dimension moment sketch — the bounded 64-row state
    // that FEEDS d89's spectrum, maintained as vectors ARRIVE:
    // count/Σx/Σx² per dimension are associative, so micro-batches
    // merge exactly in complete mode and the state never grows with
    // the stream (s26's histogram argument, s29's sketch argument, in
    // the vector domain — the spectrum's input is always current, no
    // nightly recompute). Stream ≡ batch EXACT (integer sums are
    // order-invariant); proven in AnnIndexSpec.
    // Scans: one corpus pass into the bounded per-dim moment agg
    QuerySpec("s36_stream_spectrum", by("pos"), Pins(Scans(embeddings = 1), 1),
      // the live moment sketch's batch twin — exact integer per-dim
      // counts/sums over the quantized grid
      Similarity.dimMomentsSql) { (s, dir) =>
      Similarity.dimMoments(graft.model.Corpus.qvecs(s, dir))
    },

    // Live token-fertility profile — d100's multilingual cost table
    // maintained as pages LAND: per-language doc/word/token/char sums
    // are associative, so micro-batches merge exactly in complete mode
    // and the state never exceeds the language domain (the s26/s29/s36
    // bounded-sketch argument) — the mixing planner (d94/d51) always
    // reads a current fertility table, no nightly recompute. Output
    // contract ≡ d100 (shared transform + oracle); stream ≡ batch
    // EXACT (integer sums are order-invariant); proven in
    // EventStreamSpec.
    // Scans: the d100 profile verbatim — one corpus pass into the lang-bounded fertility aggregate
    QuerySpec("s40_stream_fertility", by("lang"), Pins(Scans(documents = 1), 1),
      // the live fertility table ≡ d100's batch profile
      TextAnalysis.oracle("d100_token_fertility")) { (s, dir) =>
      TextAnalysis.tokenFertility(graft.model.Corpus.docs(s, dir))
    },

    // Streaming Gopher gate — d92's rule panel asked as pages LAND:
    // every verdict is per-row HOF work over the doc's own words
    // (zero shuffles, no state, append mode), so the ingestion gate
    // and the 100 TB backfill sweep are ONE code path at scan cost —
    // the cheapest possible "refuse at the door" filter. Output
    // contract ≡ d92 (shared transform + oracle); stream ≡ batch
    // proven in EventStreamSpec.
    // Scans: the d92 panel verbatim — pure per-row, one corpus pass
    QuerySpec("s37_stream_gopher", by("doc_id"), Pins(Scans(documents = 1), 0),
      // the streaming Gopher gate is the d92 panel verbatim (stateless
      // per-row rule verdicts) — shared oracle like s15 ← d47
      TextAnalysis.oracle("d92_gopher_rules")) { (s, dir) =>
      TextAnalysis.gopherPanel(graft.model.Corpus.docs(s, dir))
    },

    // Streaming index maintenance — the d52 freshen decision made as
    // vectors ARRIVE: each micro-batch stream-static LEFT-ANTI-joins
    // its ids against the persisted inverted lists (the static side IS
    // the state, living in parquet, not the state store — the s16
    // shape in the vector domain) and routes only the genuinely new
    // vectors against the broadcast snapshot centroids. Stateless
    // append mode; backfill and live feed run the SAME transform.
    // Output contract ≡ d52 (shared transform + oracle); stream ≡
    // batch proven in AnnIndexSpec.
    // Scans: ONE embeddings pass (the arriving feed) anti-joined against the snapshot-index
    // read-back, as d52
    QuerySpec("s18_stream_index_update", by("vec_id"), Pins(Scans(embeddings = 1), 3),
      // the streaming freshen gate is the d52 transform verbatim
      // (stream-static anti-join against the same persisted index)
      Similarity.oracle("d52_ann_index_update")) { (s, dir) =>
      val cents = graft.sources.IO.readParquet(s, Similarity.annSnapCents(s, dir))
      val post = graft.sources.IO.readParquet(s, Similarity.annSnapPostings(s, dir))
      Similarity.indexUpdate(
          graft.model.Corpus.qvecs(s, dir).filter(Similarity.arrivingCond),
          post, cents)
    },

    // Streaming context-window chunking — d48's retrieval layout cut
    // AS DOCUMENTS LAND: the standard ingestion pipeline chunks each
    // arriving doc before embedding/indexing it (stream → chunk →
    // embed → ANN upsert, the live half of a RAG index), and the
    // transform is the same stateless bounded explode the backfill
    // runs — no watermark, no state store, no shuffle, so live feed
    // and 100 TB backfill are ONE code path at scan cost. Output
    // contract ≡ d48 (shared transform + oracle); stream ≡ batch
    // proven in EventStreamSpec.
    // Scans: the d48 chunker verbatim — one corpus pass, bounded explode
    QuerySpec("s19_stream_chunk", by("doc_id", "chunk_idx"), Pins(Scans(documents = 1), 0),
      // the streaming chunker is the d48 transform verbatim (stateless
      // bounded explode) — shared oracle like s15 ← d47
      Curation.oracle("d48_doc_chunk")) { (s, dir) =>
      Curation.chunkDocs(Tables.documents(s, dir))
    },

    // Streaming split assignment — d57's content-keyed train/val/test
    // decision stamped as documents LAND: a doc's split is a pure
    // function of its body, so assigning it at ingestion (not in a
    // nightly sweep) is free and permanent — later re-crawls of the
    // same body land in the same split no matter when they arrive.
    // Stateless per-row append mode; backfill ≡ live. Output contract
    // ≡ d57 (shared transform + oracle); stream ≡ batch proven in
    // EventStreamSpec.
    // Scans: the d57 stamp verbatim — pure per-row, one corpus pass
    QuerySpec("s21_stream_split", by("doc_id"), Pins(Scans(documents = 1), 0),
      // the streaming split stamp is the d57 transform verbatim
      // (pure per-row content function)
      Curation.oracle("d57_data_split")) { (s, dir) =>
      Curation.splitAssign(Tables.documents(s, dir))
    },

    // Streaming blocklist gate — d55's two-stage deny-list decision
    // made as documents LAND (the place a blocklist actually runs:
    // refusing blocked content at the door beats sweeping it out
    // nightly): per-row broadcast Bloom probe, bloom-positives
    // stream-static-joined against the persisted deny store for exact
    // verification. Stateless append mode — no watermark, no state
    // store; the filter and the deny artifact are the static state.
    // Output contract ≡ d55 (shared transform + oracle); stream ≡
    // batch proven in EventStreamSpec.
    // Scans: the d55 gate verbatim — one corpus pass through the bloom probe; deny store is an
    // artifact read-back
    QuerySpec("s20_stream_blocklist", by("doc_id"), Pins(Scans(documents = 1), 3),
      // the streaming blocklist gate is the d55 transform verbatim
      // (broadcast bloom + stream-static verify against the same
      // persisted deny store)
      Curation.oracle("d55_blocklist_bloom")) { (s, dir) =>
      Curation.blocklistGate(Tables.documents(s, dir),
          Curation.denyList(s, dir), Curation.denyBits(s, dir))
    },

    // Event-lateness audit — the measurement that PICKS a watermark
    // instead of guessing one: per node, how far event time lags the
    // stream's high-water mark at arrival (injected late-arrival
    // fixture), computed two-stage (bucket-local windows + a bounded
    // prefix-max) — the oracle keeps the sequential global-window
    // formulation, proving the decomposition exact.
    QuerySpec("s31_stream_lateness", by("node_id"),
      // Scans: the bucket-local window pass + the bounded bucket-max side of the two-stage prefix
      // max (d65's two-cheap-scans trade)
      Pins(Scans(events = 2), 5, globalWindow = Some(
        "watermark prefix over the per-day bucket aggregate")),
      """WITH ev AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |    epoch_us(ts) + CASE WHEN event_id % 17 = 0
        |      THEN CAST(7200 AS BIGINT) * 1000000 ELSE 0 END AS arr_us
        |  FROM events),
        |lagged AS (
        |  SELECT user_id,
        |    max(ts_us) OVER (ORDER BY arr_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      - ts_us AS lag_us
        |  FROM ev)
        |SELECT user_id AS node_id, count(1) AS n_events,
        |  count(CASE WHEN lag_us > CAST(3600 AS BIGINT) * 1000000 THEN 1 END) AS n_late_1h,
        |  max(lag_us) AS max_lag_us,
        |  CAST(count(CASE WHEN lag_us > CAST(3600 AS BIGINT) * 1000000 THEN 1 END) AS DOUBLE)
        |    / count(1) AS late_frac
        |FROM lagged GROUP BY 1 ORDER BY node_id""".stripMargin) { (s, dir) =>
      EventStream.latenessAudit(Tables.events(s, dir))
    },

    // Live snapshot-completeness monitor — b43's existence gate as
    // uploads LAND (day windows per node, ledger ftype mapping as a
    // per-row stream projection, bounded (node × day) state). Batch
    // twin of the exact transform the streaming job runs; verdict over
    // raw arrivals (a live gate prices arrivals, not the deduped
    // manifest b43 sweeps).
    // Scans: one events pass into the bounded (node, day) aggregate
    QuerySpec("s30_stream_completeness", by("node_id", "snapshot_day"), Pins(Scans(events = 1), 1),
      graft.model.BackupLedger.oracleCte +
      """SELECT node_id, snapshot_day, count(1) AS n_uploads,
        |  count(CASE WHEN ftype = 'MANIFEST_FILE' THEN 1 END) AS n_manifest,
        |  count(CASE WHEN ftype = 'CQL_SCHEMA' THEN 1 END) AS n_schema,
        |  count(CASE WHEN ftype = 'COMMIT_LOG' THEN 1 END) AS n_commitlog,
        |  count(CASE WHEN ftype = 'MANIFEST_FILE' THEN 1 END) > 0
        |    AND count(CASE WHEN ftype = 'CQL_SCHEMA' THEN 1 END) > 0 AS complete
        |FROM ledger GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      EventStream.completenessMonitor(Tables.events(s, dir))
    },

    // Live lexical-diversity gate — d107's quality panel scored as
    // documents LAND: the panel is per-row by construction (each row
    // sorts + run-folds its OWN word array; the word histogram never
    // materializes), so the stream is stateless append mode with no
    // watermark and no state at all — the same shape as s21/s37.
    // Shared transform (TextAnalysis.diversityPanel) + shared oracle;
    // stream ≡ batch proven in EventStreamSpec.
    // Scans: the d107 panel verbatim — pure per-row, one corpus pass
    QuerySpec("s43_stream_diversity", by("doc_id"), Pins(Scans(documents = 1), 0),
      // the live diversity gate ≡ d107's batch panel
      TextAnalysis.oracle("d107_lexical_diversity")) { (s, dir) =>
      TextAnalysis.diversityPanel(Tables.documents(s, dir))
    },

    // Live retry-budget monitor — b46's backoff pricing as uploads
    // LAND (day windows per node, the ONE ledger projection shared
    // with the batch side, bounded (node × day) state). Verdict over
    // raw arrivals: a superseded failed upload still burned its retry
    // wall-clock, so the live budget can exceed b46's manifest-deduped
    // worst case — spec pins that containment against b46 per
    // (node, day). Batch twin of the exact transform the streaming
    // job runs.
    // Scans: ONE events pass — the failed minority rides conditional aggs inside the same (node,
    // day) groupBy, b46's shape over the raw arrivals
    QuerySpec("s42_stream_retry", by("snapshot_day", "node_id"), Pins(Scans(events = 1), 1),
      graft.model.BackupLedger.oracleCte +
      """, agg AS (
        |  SELECT snapshot_day, node_id, count(1) AS n_uploads,
        |    count(CASE WHEN upload_hash <> download_hash THEN 1 END) AS n_failed,
        |    coalesce(sum(CASE WHEN upload_hash <> download_hash THEN size END),
        |             CAST(0 AS DECIMAL(18,2))) AS fsz
        |  FROM ledger GROUP BY 1, 2)
        |SELECT snapshot_day, node_id, n_uploads, n_failed,
        |  CAST(fsz AS DOUBLE) AS failed_bytes,
        |  n_failed * 70 AS sleep_exp_sec,
        |  CAST(ceil(CAST(fsz AS DOUBLE) * 3 / 25.0) AS BIGINT) AS retransfer_sec,
        |  n_failed * 70
        |    + CAST(ceil(CAST(fsz AS DOUBLE) * 3 / 25.0) AS BIGINT) AS added_sec
        |FROM agg ORDER BY snapshot_day, node_id""".stripMargin) { (s, dir) =>
      EventStream.retryMonitor(Tables.events(s, dir))
    },

    // Streaming per-source KMV sketch — d26's grouped distinct
    // estimator with the x06 TypedImperativeAggregate AS the streaming
    // state (≤k longs per source forever; micro-batches merge through
    // the aggregate's own associative merge). Batch twin of the exact
    // transform the streaming job runs; same oracle as d26.
    // Scans: one corpus pass into the bounded per-source sketch agg
    QuerySpec("s29_stream_kmv", by("source"), Pins(Scans(documents = 1), 1),
      // the streaming sketch is the d26 transform verbatim (order-
      // invariant sorted-distinct k-min state)
      TextAnalysis.oracle("d26_kmv_by_source")) { (s, dir) =>
      graft.streaming.DocStream.kmvBySource(Tables.documents(s, dir))
    },

    // Streaming domain-reputation gate — d72's index consumed at the
    // door: each arriving doc's cited domains probed per row against
    // the broadcast low-tier deny set (stateless append mode, no
    // state store; the provenance twin of s20's content deny list).
    // Batch twin of the exact transform the streaming job runs;
    // stream ≡ batch proven in EventStreamSpec.
    QuerySpec("s28_stream_reputation", by("doc_id"),
      // Scans: the arriving stream + the d72 reputation-index side
      Pins(Scans(documents = 2), 7, globalWindow = Some(
        "rank offsets over ≤ ~2.2k quality bands (d72's banded-rank law)")),
      graft.model.Corpus.docsCte + ", " +
      TextAnalysis.rawsCteSql + ",\n" + TextAnalysis.domainRepCteSql +
      s""",
         |lowarr AS (
         |  SELECT COALESCE(list(domain ORDER BY domain), []) AS deny
         |  FROM ranked WHERE q_rank * 4 <= nd),
         |doms AS (
         |  SELECT doc_id, regexp_extract_all(raw, '${TextAnalysis.urlRe}', 1) AS domains
         |  FROM raws)
         |SELECT doc_id, CAST(len(domains) AS BIGINT) AS n_domains,
         |  CAST(len(list_filter(domains, x -> list_contains(deny, x))) AS BIGINT) AS n_low,
         |  CASE WHEN len(list_filter(domains, x -> list_contains(deny, x))) > 0
         |       THEN 'review' ELSE 'accept' END AS verdict
         |FROM doms, lowarr ORDER BY doc_id""".stripMargin) { (s, dir) =>
      graft.streaming.DocStream.reputationGate(
          graft.streaming.DocStream.repDenyIndex(s, dir))(
          Tables.documents(s, dir))
    },

    // Stream-stream interval join — the same transform the streaming
    // job runs (watermarks are no-ops on batch input); in batch Spark
    // plans it as an equi-join on user plus the range predicate.
    // Scans: the two joined event roles
    QuerySpec("s04_stream_join", by("error_id", "click_id"), Pins(Scans(events = 2), 1),
      """WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type FROM events)
        |SELECT e.event_id AS error_id, e.user_id AS user_id, e.ts AS e_ts,
        |  c.event_id AS click_id, c.ts AS c_ts
        |FROM ev e JOIN ev c ON c.user_id = e.user_id
        | AND e.event_type = 'error' AND c.event_type = 'click'
        | AND c.ts >= e.ts - INTERVAL 1 HOUR AND c.ts < e.ts
        |ORDER BY error_id, click_id""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir)
      EventStream.clickErrorJoin(ev, ev)
    },

    // Sessionization (30-min inactivity gap) — batch twin of the
    // flatMapGroupsWithState streaming path (EventStream.sessionize):
    // gap marks via lag + running sum = session numbers, one window
    // pass partitioned by user.
    QuerySpec("s03_sessionize", by("user_id", "sess_no"), Pins(Scans(events = 1), 1),
      """WITH ordered AS (
        |  SELECT user_id, ts, event_id, CAST(value AS DECIMAL(18,2)) AS v,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |         OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM events),
        |sess AS (
        |  SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_no
        |  FROM ordered)
        |SELECT user_id, CAST(sess_no AS BIGINT) AS sess_no,
        |  CAST(MIN(ts) AS TIMESTAMP) AS session_start, COUNT(1) AS n_events,
        |  CAST(SUM(v) AS DOUBLE) AS total_value
        |FROM sess GROUP BY user_id, sess_no
        |ORDER BY user_id, sess_no""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val wOrd = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
      Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"), dec2(col("value")).as("v"))
        .withColumn("prev", lag(col("ts"), 1).over(wOrd))
        .withColumn("new_sess",
          when(col("prev").isNull
            || unix_micros(col("ts")) - unix_micros(col("prev")) > EventStream.sessionGapUs, 1)
            .otherwise(0))
        .withColumn("sess_no",
          sum(col("new_sess")).over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "sess_no")
        .agg(
          min(col("ts")).as("session_start"),
          count(lit(1)).as("n_events"),
          asDouble(sum(col("v"))).as("total_value"))
    },

    // Streaming per-day verification gate — b35's freshness input
    // computed as days close (watermarked day windows over hash checks
    // done at upload time). Identical transform over the batch table;
    // stream ≡ batch proven in EventStreamSpec.
    QuerySpec("s22_stream_verify", by("snapshot_day", "node_id", "keyspace"),
      Pins(Scans(events = 1), 1),
      // the md5 compare flags exactly the %53 corruption fixture rows
      // (distinct md5 inputs, so the hashes always differ there)
      """WITH lg AS (
        |  SELECT CAST(date_trunc('day', ts) AS DATE) AS snapshot_day,
        |    user_id AS node_id,
        |    concat('ks', CAST((event_id % 97) % 3 AS VARCHAR)) AS keyspace,
        |    (event_id % 53 = 0) AS bad
        |  FROM events)
        |SELECT snapshot_day, node_id, keyspace, count(1) AS n_files,
        |  count(CASE WHEN bad THEN 1 END) AS n_bad,
        |  count(CASE WHEN bad THEN 1 END) = 0 AS day_ok
        |FROM lg GROUP BY 1, 2, 3
        |ORDER BY snapshot_day, node_id, keyspace""".stripMargin) { (s, dir) =>
      EventStream.verifyDayGate(Tables.events(s, dir))
    },

    // Streaming Count-Min sketch — d61's frequency sketch as
    // bounded-state (4096 counters, forever) streaming aggregation;
    // identical transform over the batch table, stream ≡ batch proven
    // in EventStreamSpec.
    QuerySpec("s23_stream_cms", by("i", "cell"), Pins(Scans(documents = 1), 1),
      graft.model.Corpus.docsCte + {
      val cell = graft.model.Corpus.hash32Sql(
        "concat('cms', CAST(i AS VARCHAR), '#', w)") + " % 1024"
      s""", toks AS (
        |  SELECT w FROM (SELECT unnest(ws) AS w FROM docs) u WHERE w <> '')
        |SELECT i, $cell AS cell, count(1) AS c
        |FROM toks, UNNEST(range(0, 4)) t(i)
        |GROUP BY 1, 2 ORDER BY i, cell""".stripMargin
    }) { (s, dir) =>
      graft.streaming.DocStream.cmsSketch(Tables.documents(s, dir))
    },

    // Canonical-URL ingest gate — d60's dedup asked at ARRIVAL:
    // stateless per-row canonicalization probed against the
    // already-ingested index (stream-static broadcast); identical
    // transform over the batch table, stream ≡ batch proven in
    // EventStreamSpec.
    // Scans: the arriving stream + the ingested-index side
    QuerySpec("s24_stream_url", by("doc_id"), Pins(Scans(documents = 2), 2),
      """WITH urls AS (
        |  SELECT doc_id, concat(
        |    CASE WHEN doc_id % 4 = 2 THEN 'HTTP://'
        |         WHEN doc_id % 4 = 0 THEN 'http://' ELSE 'https://' END,
        |    CASE WHEN doc_id % 4 = 1 THEN 'www.' ELSE '' END,
        |    CASE WHEN doc_id % 4 = 2 THEN 'SITE' ELSE 'site' END,
        |    CAST(doc_id % 5 AS VARCHAR), '.example.com/p',
        |    CAST(doc_id % 23 AS VARCHAR),
        |    CASE WHEN doc_id % 4 = 1 THEN '/' ELSE '' END,
        |    CASE WHEN doc_id % 4 = 2 THEN '?utm_source=feed' ELSE '' END,
        |    CASE WHEN doc_id % 4 = 3 THEN '#frag' ELSE '' END) AS url
        |  FROM documents),
        |canon AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |      lower(url),
        |      '^https?://', ''), '^www\.', ''), '[?#].*$', ''), '/$', '')
        |      AS canonical_url
        |  FROM urls),
        |idx AS (
        |  SELECT DISTINCT canonical_url FROM canon
        |  WHERE CAST(concat('0x', substr(md5(canonical_url), 1, 8)) AS BIGINT) % 10 < 7)
        |SELECT c.doc_id, c.canonical_url,
        |  i.canonical_url IS NULL AS is_new
        |FROM canon c LEFT JOIN idx i ON c.canonical_url = i.canonical_url
        |ORDER BY c.doc_id""".stripMargin) { (s, dir) =>
      graft.streaming.DocStream.urlGate(
          graft.streaming.DocStream.urlIndex(s, dir))(
          Tables.documents(s, dir))
    },

    // Streaming template gate — d85's triage question asked at
    // INGESTION: each arriving page's 8-word head probed against the
    // already-ingested template index (stream-static broadcast,
    // stateless per-row, append mode). Identical transform over the
    // batch table; stream ≡ batch proven in EventStreamSpec.
    // Scans: template-index build scan + the arriving-docs scan
    QuerySpec("s33_stream_template", by("doc_id"), Pins(Scans(documents = 2), 2),
      graft.model.Corpus.docsCte
      + graft.operators.Dedup.prefixKeysCte +
      """, idx AS (SELECT DISTINCT prefix FROM pref WHERE doc_id % 3 = 0)
        |SELECT p.doc_id, p.prefix,
        |  (idx.prefix IS NOT NULL) AS is_template
        |FROM pref p LEFT JOIN idx ON p.prefix = idx.prefix
        |WHERE p.doc_id % 3 <> 0 ORDER BY p.doc_id""".stripMargin) { (s, dir) =>
      graft.streaming.DocStream.templateGate(
          graft.streaming.DocStream.templateIndex(s, dir))(
          Tables.documents(s, dir))
    },

    // Streaming as-of lookup — the same broadcast SCD-2 probe the
    // streaming job runs (pre-intervalized dimension, stateless
    // per-row), applied to the batch table; stream ≡ batch in
    // EventStreamSpec.
    // Scans: event probe side + the bounded dimension's build side
    QuerySpec("s27_stream_asof", by("event_id"), Pins(Scans(events = 2), 3),
      graft.model.BackupLedger.oracleCte +
      """, dim AS (
        |  SELECT node_id AS dim_node, snapshot_day AS valid_from,
        |    LEAD(snapshot_day) OVER (PARTITION BY node_id
        |      ORDER BY snapshot_day) AS valid_to
        |  FROM snapshots
        |  WHERE date_diff('day', DATE '2020-01-01', snapshot_day) % 3 <> 0)
        |SELECT e.event_id, e.node_id, e.snapshot_day AS event_day,
        |  d.valid_from AS snapshot_day,
        |  date_diff('day', d.valid_from, e.snapshot_day) AS lag_days
        |FROM ledger e
        |LEFT JOIN dim d ON d.dim_node = e.node_id
        |  AND e.snapshot_day >= d.valid_from
        |  AND (d.valid_to IS NULL OR e.snapshot_day < d.valid_to)
        |ORDER BY event_id""".stripMargin) { (s, dir) =>
      EventStream.scdLookup(EventStream.restorableDim(s, dir))(
          Tables.events(s, dir))
    },

    // Live upload-size histogram — the same bounded-bin transform the
    // streaming job runs (complete mode, state = the histogram),
    // applied to the batch table; stream ≡ batch in EventStreamSpec.
    // Scans: one events scan into the bounded bin aggregate
    QuerySpec("s26_stream_sizehist", by("bin"), Pins(Scans(events = 1), 1),
      """SELECT CAST(floor(value / 16.0) AS BIGINT) AS bin,
        |  count(1) AS n_uploads,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_bytes
        |FROM events GROUP BY 1 ORDER BY bin""".stripMargin) { (s, dir) =>
      EventStream.sizeHistogram(Tables.events(s, dir))
    },

    // Per-source crawl-budget gate — DocStream.ingestBudget's batch
    // twin: the stream's one-long-per-source state IS a prefix sum in
    // arrival (doc_id) order, so the batch formulation is a per-source
    // cumsum window; stream ≡ batch proven in EventStreamSpec.
    // Scans: one corpus scan through the per-source prefix-sum window
    QuerySpec("s25_stream_budget", by("doc_id"), Pins(Scans(documents = 1), 1),
      graft.model.Corpus.docsCte +
      """, toks AS (
        |  SELECT doc_id, source,
        |    CAST(len(list_filter(ws, x -> x <> '')) AS BIGINT) AS n_tokens
        |  FROM docs),
        |cum AS (
        |  SELECT doc_id, source, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY source
        |      ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS cum_before
        |  FROM toks)
        |SELECT doc_id, source, n_tokens, cum_before,
        |  cum_before + n_tokens <= 600 AS admitted
        |FROM cum ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      graft.model.Corpus.docs(s, dir)
        .select(col("doc_id"), col("source"),
          TextAnalysis.nonEmptyCount(col("ws")).as("n_tokens"))
        .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
        .withColumn("admitted",
          col("cum_before") + col("n_tokens") <= graft.streaming.DocStream.budgetTokens)
    },

    // Streaming SHARD PACKER — DocStream.shardPack's batch twin: the
    // live half of d65's planning question. Docs hash-route to 32
    // writers (d65's exact bucket law), each writer packs its own
    // shard sequence in arrival (doc_id) order with ONE long of state;
    // global shard identity = (bucket, shard_seq), writer-id ×
    // local-seq — no cross-writer coordination, which is precisely
    // what d65's close-time offset broadcast cannot do live. The batch
    // formulation is therefore a per-bucket cumsum window in doc_id
    // order (32 parallel bounded partitions, one corpus scan); stream
    // ≡ batch proven in EventStreamSpec.
    // Scans: one corpus scan through the per-bucket prefix-sum window
    QuerySpec("s32_stream_shardpack", by("doc_id"), Pins(Scans(documents = 1), 1),
      graft.model.Corpus.docsCte +
      s""", pd AS (
         |  SELECT doc_id,
         |    CAST(${graft.model.Corpus.hash32Sql("concat('shard', CAST(doc_id AS VARCHAR))")} % 32 AS INT) AS bucket,
         |    CAST(len(list_filter(ws, x -> x <> '')) AS BIGINT) AS n_tokens
         |  FROM docs),
         |pc AS (
         |  SELECT doc_id, bucket, n_tokens,
         |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY bucket
         |      ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |      AS cum_before_bucket
         |  FROM pd)
         |SELECT doc_id, bucket, n_tokens, cum_before_bucket,
         |  cum_before_bucket // ${graft.streaming.DocStream.packShardTokens} AS shard_seq
         |FROM pc ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("bucket").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      graft.model.Corpus.docs(s, dir)
        .select(col("doc_id"),
          (graft.functions.hash32(concat(lit("shard"), col("doc_id").cast("string"))) % 32)
            .cast("int").as("bucket"),
          TextAnalysis.nonEmptyCount(col("ws")).as("n_tokens"))
        .withColumn("cum_before_bucket",
          coalesce(sum(col("n_tokens")).over(w), lit(0L)))
        .withColumn("shard_seq",
          expr(s"cum_before_bucket div ${graft.streaming.DocStream.packShardTokens}"))
    }
  )
}
