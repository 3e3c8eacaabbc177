package graft

/** Audit: self-join operators must not recompute their expensive
  * subtree — the exchange feeding both sides should be reused. */
class PlanAuditSpec extends SparkSpec {

  private def audit(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  /** Shared ratchet check: the inventory must match the pin set
    * exactly (a new query needs a pin, a removed one must drop its
    * pin), and no query may scan a `tables` member more often than
    * pinned — a count BELOW its pin is progress: tighten the pin. */
  private def assertScanPins(section: String,
      expected: Map[String, Map[String, Int]], inventory: Seq[String],
      tables: Seq[String], countsFor: String => Map[String, Int]): Unit = {
    assert(inventory.toSet == expected.keySet,
      s"$section inventory drifted — update the pins: ${inventory.toSet.diff(expected.keySet)} / ${expected.keySet.diff(inventory.toSet)}")
    val over = inventory.flatMap { name =>
      val c = countsFor(name)
      val bad = tables.flatMap { t =>
        val n = c.getOrElse(t, 0)
        val pin = expected(name).getOrElse(t, 0)
        if (n > pin) Some(s"$t=$n (pin $pin)") else None
      }
      if (bad.nonEmpty) Some(s"$name: ${bad.mkString(", ")}") else None
    }
    assert(over.isEmpty,
      s"big-table scan count regressed:\n${over.mkString("\n")}")
  }

  test("b05 computes the manifest dedupe exactly once") {
    // one events scan in the final plan (toString includes the AQE
    // initial plan too, so ≤2 across both)
    val p = audit("b05_reclaimable")
    assert("FileScan".r.findAllIn(p).length <= 2, p)
  }

  test("d05 simhash fingerprints are per-row (scan-side kernel, no word shuffle)") {
    // the fingerprint build must be a projection at the scan (SimHash32
    // kernel), never an explode+distinct+groupBy over |words| rows —
    // re-scanning the docs twice for the self-join shuffles ~100× less
    // than exchanging word-level rows would. toString includes the AQE
    // initial plan too, so ≤ 4 scans across both copies.
    val p = audit("d05_simhash")
    assert(p.contains("graft_simhash32"), s"per-row kernel not in plan:\n$p")
    assert("FileScan".r.findAllIn(p).length <= 4, p)
  }

  for (q <- Seq("d02_dedup_ngram", "d04_minhash_lsh", "d07_ann_lsh",
      "d17_dedup_embed")) {
    test(s"$q self-join reuses the build-side computation") {
      val p = audit(q)
      info(s"$q: ReusedExchange=" + p.contains("ReusedExchange")
        + " InMemoryTableScan=" + p.contains("InMemoryTableScan")
        + " scans=" + "FileScan".r.findAllIn(p).length)
      // three acceptable proofs of single computation: a reused
      // exchange, a persisted build side (d04: the sig cache makes the
      // dedup structural instead of AQE's best-effort runtime reuse),
      // or at most one scan per AQE plan copy
      assert(p.contains("ReusedExchange") || p.contains("InMemoryTableScan")
        || "FileScan".r.findAllIn(p).length <= 2, p)
    }
  }

  test("§2.C scan-count ratchet: every operator reads its big table at most the pinned number of times") {
    // [[ScanCount.counts]] counts MATERIALIZED big-table scans in the
    // executed plan (reused exchanges and persisted relations count
    // once, at their single materialization) — the structural guard
    // against double-evaluation regressions (pre-r7 d35 scanned + folded
    // the corpus twice; this spec would have failed it with
    // embeddings=2 > 1). Pinned counts are the CURRENT audited plans:
    //   1  = single-pass operators;
    //   2  = a second legitimate pass (self-join payload probe, d15's
    //        two k-means passes, tf×df joins, d43's ≤100-doc bench
    //        slice);
    //   3+ = d22's three input roles, d104's eval chain.
    //   (r18: the exact gram baselines d02/d30/d71 collapsed to ONE
    //   scan — pair stats now ride a single groupBy(gram) + combo
    //   explode instead of the 3-scan self-join pipeline.)
    // A count BELOW the pin is progress: tighten the pin.
    // d24's corpus work happens inside localCheckpoint materialization,
    // opaque to the final plan — it is counted with the listener-based
    // [[ScanCount.countsDuring]] (every execution the query triggers on
    // the caller's session, loop rounds included), which sees the real
    // materialization:
    // ONE documents scan for the whole iterative clustering.
    val expected: Map[String, (Int, Int)] = Map( // name -> (documents, embeddings)
      "d01_dedup_exact" -> (1, 0), "d02_dedup_ngram" -> (1, 0),
      "d03_minhash" -> (1, 0), "d04_minhash_lsh" -> (1, 0),
      "d05_simhash" -> (1, 0), "d06_cosine_topk" -> (0, 2),
      "d07_ann_lsh" -> (0, 2), "d08_langid" -> (1, 0),
      "d09_quality" -> (1, 0), "d10_tokens" -> (1, 0),
      "d11_fingerprint" -> (1, 0), "d12_embed_norm" -> (0, 1),
      "d13_knn_centroid" -> (0, 1), "d14_multimodal" -> (1, 0),
      "d15_ann_ivf" -> (0, 2), "d16_vocab" -> (1, 0),
      "d17_dedup_embed" -> (0, 2), "d18_frame_sample" -> (1, 0),
      "d19_tfidf" -> (2, 0), "d20_kmv_sketch" -> (1, 0),
      "d21_corpus_select" -> (1, 0), "d22_decontaminate" -> (3, 0),
      "d23_corpus_mix" -> (1, 0), "d24_dup_clusters" -> (1, 0),
      "d25_pii_scrub" -> (1, 0), "d26_kmv_by_source" -> (1, 0),
      "d27_clip_dedup" -> (2, 0), "d28_corpus_stats" -> (1, 0),
      "d29_repetition" -> (2, 0), "d30_containment" -> (1, 0),
      "d31_url_extract" -> (1, 0), "d32_embed_quant" -> (0, 1),
      // d34 (r19): candidates derive their band signatures from the
      // SAME cached gram stream the exact baseline reads — one corpus
      // scan for the whole recall evaluation (was 2)
      "d33_zorder" -> (1, 0), "d34_lsh_recall" -> (1, 0),
      "d35_semdedup" -> (0, 1), "d36_tile_dedup" -> (2, 0),
      "d37_lm_novelty" -> (2, 0), "d38_corpus_sample" -> (1, 0),
      "d39_seq_pack" -> (1, 0), "d40_cell_balance" -> (0, 1),
      "d41_dedup_consensus" -> (1, 3), "d42_semantic_decon" -> (0, 2),
      "d43_curation_pipeline" -> (2, 0), "d44_media_quarantine" -> (1, 0),
      // d45 pins empty like b22: its documents scan happens inside the
      // eager Scratch worklist write at construction time — the
      // measured plan reads the persisted worklist back
      "d45_quarantine_worklist" -> (0, 0),
      // d46's measured plan: ONE corpus scan semi-joined against the
      // broadcast worklist read-back (the Scratch write, if this JVM
      // hasn't materialized it yet, is construction-time like d45)
      "d46_quarantine_redrive" -> (1, 0), "d47_media_dims" -> (1, 0),
      "d48_doc_chunk" -> (1, 0),
      // d49's final plan anti-joins ONE corpus fingerprint scan
      // against the ledger read-back (the Scratch write, like d45's,
      // is construction-time)
      "d49_incremental_ingest" -> (1, 0),
      // d50's measured plan: ONE embeddings scan (the query side) —
      // the clustering ran inside the construction-time Scratch index
      // build; centroids + postings are read back from the artifact
      "d50_ann_index_probe" -> (0, 1),
      // d51: one corpus scan reduced to the persisted per-source table
      // (totals agg + join both read the cached bounded relation)
      "d51_mix_plan" -> (1, 0),
      // d52: ONE embeddings scan (the arriving feed) anti-joined
      // against the snapshot-index read-back (built construction-time)
      "d52_ann_index_update" -> (0, 1),
      // d53: ONE embeddings scan (the query side) — both the index
      // build and its SQ8 compression are construction-time Scratch
      // artifacts; the measured plan reads codes + centroids back
      "d53_sq8_probe" -> (0, 1),
      // d54: one corpus scan → bounded stratum agg; totals come from a
      // window over the aggregate, never a second pass
      "d54_corpus_drift" -> (1, 0),
      // d55: ONE corpus scan through the broadcast bloom probe — the
      // deny-list build is a construction-time Scratch artifact; the
      // verify join reads the artifact back, never the corpus
      "d55_blocklist_bloom" -> (1, 0),
      // d56: ZERO live scans — train + encode run inside the
      // construction-time annIndexPq artifact build; the audit reads
      // the same persisted codes d80/d81 serve from
      "d56_pq_encode" -> (0, 0),
      // d57: pure per-row split assignment over one fingerprint scan
      "d57_data_split" -> (1, 0),
      // d58: one corpus pass anti-joined against one id-pruned
      // embeddings pass
      "d58_embed_coverage" -> (1, 1),
      // d59: ONE corpus pass (corpus + chunk rows via the per-row
      // geometry law, no chunk explode); docket and ANN postings are
      // artifact read-backs
      "d59_forget_plan" -> (1, 0),
      // d60: per-row canonicalization + the keeper AGGREGATE+JOIN
      // (skew-survivable, never a hot-key window): two cheap pruned
      // passes — the keeper side partial-aggregates to one row per
      // distinct page and broadcasts back into the data side
      "d60_url_dedup" -> (2, 0),
      // d65: bucket-local window pass + the bucket-totals agg pass
      // (two cheap scans instead of caching a corpus-sized frame)
      "d65_shard_plan" -> (2, 0),
      // d61: sketch pass + exact-baseline pass over the token stream
      "d61_cms_heavy" -> (2, 0),
      // d64: both pair counts derive from ONE token-stream agg (the
      // explode runs over the bounded word table, not the corpus)
      "d64_bpe_pairs" -> (1, 0),
      // d62: query side + broadcast corpus; candidate vectors ride the
      // top-k payload so the 3 greedy rounds re-read the PERSISTED
      // pool, never the table
      "d62_mmr_rerank" -> (0, 2),
      // d63: one persisted scored frame (anchors + broadcast corpus)
      // feeds the positive and both mining stages
      "d63_neg_sampling" -> (0, 2),
      // d66: score + rank + prefix-sum all ride one source-keyed
      // exchange over one scan
      "d66_quota_select" -> (1, 0),
      // d67: the LSH pipeline's one checkpoint-loop scan (d24's,
      // counted with countsDuring) + the score join's one
      "d67_cluster_keep_best" -> (2, 0),
      // d68: exact-baseline pair sides (a + broadcast b, d06's shape)
      // + the routed query side; postings/centroids are artifact
      // read-backs and both TopK arms read the persisted scored frame
      "d68_ann_recall" -> (0, 3),
      // d69: the manifest stream's scan + the plan's map-side-reduced
      // scan (d51's persisted per-source frame)
      "d69_mix_execute" -> (2, 0),
      // d70: all five column panels ride ONE scan's Expand; the melt
      // explodes the 1-row aggregate
      "d70_profile" -> (1, 0),
      // d71: ONE gram pass (the r18 pair core); the threshold sweep
      // reads the persisted pair frame, never the corpus
      "d71_dedup_curve" -> (1, 0),
      // d72: one corpus scan builds the quality-scored link stream;
      // the tier window runs over the bounded domain table
      "d72_domain_reputation" -> (1, 0),
      // d73: ONE corpus pass into per-source bounded sketches; the
      // S² merge is array arithmetic on 20 rows
      "d73_source_overlap" -> (1, 0),
      // d74: labels ride the quantization scan on both pair sides
      // (a + broadcast b) — no label join-back
      "d74_knn_eval" -> (0, 2),
      // d75: ONE labeled quantization pass through the shuffle-free
      // assignment; both rollups are bounded-key aggregates
      "d75_cluster_purity" -> (0, 1),
      // d76: both probe sides + the arriving-verdict frame ride the
      // ONE persisted signature pass
      "d76_incremental_neardup" -> (1, 0),
      // d77: the signature pass + the quality pass, joined per doc
      "d77_quality_dup_corr" -> (2, 0),
      // d78: d15's two-pass shape (refinement + persisted assignment)
      "d78_ann_filtered" -> (0, 2),
      // d79: the corpus card pass + the signature pass (d77's shape)
      "d79_dataset_card" -> (2, 0),
      // d80: ONE embeddings scan (the query side) — the IVFPQ index
      // (postings cells + PQ codebook + codes) is built construction-
      // time through Scratch; the measured plan reads artifacts back
      "d80_ivfpq_probe" -> (0, 1),
      // d81: the same single query-side scan; shortlist refine joins
      // the id-keyed postings ARTIFACT (broadcast shortlist side),
      // never the embeddings table
      "d81_ivfpq_rerank" -> (0, 1),
      // d82: the d06 exact-pair shape (a side + broadcast b side);
      // all four dimension budgets ride the one pair pass
      "d82_mrl_truncation" -> (0, 2),
      // d83: the d77 shape — quality+token pass + the signature pass;
      // the 4-threshold sweep is a bounded explode, never a re-scan
      "d83_quality_curve" -> (2, 0),
      // d84: one token pass carrying tf AND dl (df derives from the
      // tf exchange, d19's reuse) + one column-pruned stats scalar
      "d84_bm25" -> (2, 0),
      // d85: template triage is ONE prefix-keyed shuffle — d01's cost
      "d85_template_prefix" -> (1, 0),
      // d86: the word-frequency exchange feeds BOTH the top-100 and
      // the total-token scalar (exchange reuse, no second scan)
      "d86_zipf_curve" -> (1, 0),
      // d87: d15's index-build shape — refine pass + assignment pass;
      // the stats join is broadcast, the vector stream never re-scans
      "d87_embed_outliers" -> (0, 2),
      // d88: ONE embeddings pass (the probe side) against the index
      // read-backs; the persisted edge list feeds degrees + mutuality
      "d88_knn_hubness" -> (0, 1),
      // d89: one corpus scan fans 64× into the bounded per-dim agg;
      // ranking/cumulation windows run over 64 rows, never the corpus
      "d89_embed_spectrum" -> (0, 1),
      // d90: one corpus scan into the positional tile explode; the
      // persisted flagged stream feeds the rollup AND the island runs
      "d90_dup_spans" -> (1, 0),
      // d91: ONE corpus scan through two chained broadcast folds
      // (snapshot + current centroid artifacts are read-backs)
      "d91_recluster_drift" -> (0, 1),
      // d92: pure per-row HOF panel — one corpus scan, zero shuffles
      "d92_gopher_rules" -> (1, 0),
      // d93: d47's header peek + per-row integer thumb math
      "d93_resize_plan" -> (1, 0),
      // d94: one corpus scan map-side-reduced to the lang-bounded
      // aggregate; the α explode happens on ONE packed row
      "d94_lang_temperature" -> (1, 0),
      // d95: ONE embeddings pass (d88's probe side, counted with the
      // listener like d24 — the CC loop runs over the mutual minority)
      "d95_knn_communities" -> (0, 1),
      // d96: ZERO live scans — the audit reads the persisted edge +
      // community artifacts (d95 is the live definition; this is the
      // d50-style consumer)
      "d96_knn_modularity" -> (0, 0),
      // d97: ZERO live scans — members from the postings artifact,
      // labels from the communities artifact
      "d97_community_medoid" -> (0, 0),
      // d98: ONE corpus pass pruned to (vec_id, label); membership is
      // the communities artifact read-back
      "d98_community_purity" -> (0, 1),
      // d99: ONE corpus pass (the routed feed); membership is the
      // communities artifact read-back
      "d99_route_fidelity" -> (0, 1),
      // d100: one corpus scan into the lang-bounded fertility agg
      "d100_token_fertility" -> (1, 0),
      // d101: one corpus scan into the lang²-bounded confusion agg
      // (row totals ride a window over the 25-cell agg output)
      "d101_langid_confusion" -> (1, 0),
      // d102: two per-row passes joined on doc_id (d77's two-pass
      // shape: quality scalar + gopher panel), 20-bin bounded agg
      "d102_quality_calibration" -> (2, 0),
      // d103: d02's one-pass gram pair core + ONE pruned
      // (doc_id, source) scan persisted for its two join sides
      "d103_dup_provenance" -> (2, 0),
      // d104 (r19): ONE cached gram pass — wide signatures, band-sig
      // candidates, exact intersections AND sizes all derive from it
      // (was 2: the candidate signatures paid their own scan)
      "d104_containment_est" -> (1, 0),
      // d105 (r19): the d34 shape — band signatures now ride the same
      // cached gram stream as the exact baseline (was 2); the b=1..4
      // sweep adds ZERO passes — one first-band pair rollup feeds all
      // four budgets
      "d105_lsh_band_curve" -> (1, 0),
      // d106: d24's ONE clustering pass (cached signatures, counted
      // with the listener like d24) + the column-pruned corpus count;
      // the singleton row derives from the histogram, never a second
      // labels pass
      "d106_cluster_size_hist" -> (2, 0),
      // d107: pure per-row sorted-run fold — one corpus pass, zero
      // shuffles (the histogram never materializes)
      "d107_lexical_diversity" -> (1, 0),
      // d108: d35's one-persisted-assignment shape — the 4-threshold
      // sweep is conditional counts over the same scored frame, ZERO
      // extra passes
      "d108_semdedup_curve" -> (0, 1),
      // d109: the word stream (first-occurrence agg) + the doc stream
      // (per-quarter token mass) — the d19 tf+df two-pass convention;
      // the cumulation window runs over 4 rows, never the corpus
      "d109_vocab_growth" -> (2, 0),
      // d110: the cached signature pass + the pruned bucket lookup
      // persisted for its two pair-join sides (d103's convention);
      // all four rates ride ONE pair rollup
      "d110_sample_dedup_bias" -> (2, 0),
      // d111: ONE corpus scan into the stride-1 rolling explode; the
      // winnowing selection reduces inside the per-doc window BEFORE
      // the fingerprint exchange, and the persisted flagged stream
      // feeds the rollup AND the island windows (d90's shape)
      "d111_winnow_spans" -> (1, 0))
    assertScanPins("§2.C",
      expected.map { case (k, (d, e)) =>
        k -> Map("documents" -> d, "embeddings" -> e) },
      SparkEntry.queries.keys.filter(_.startsWith("d")).toSeq.sorted,
      Seq("documents", "embeddings"),
      name =>
        // ONE mode list shared with the SCANCOUNT artifact probe, so
        // the artifact can never record a loop query from the wrong
        // mode again (the r17 d106 drift)
        if (ScanCount.loopQueries(name))
          ScanCount.countsDuring(spark, name, sf)
        else ScanCount.counts(spark, name, sf))
  }

  test("§2.A/§2.B scan-count ratchet: every relational/backup query reads its big tables at most the pinned number of times") {
    // the q/b twin of the §2.C ratchet: pins the MATERIALIZED scan
    // count of every non-tiny table ([[ScanCount.bigTables]] — region/
    // nation stay uncounted, they broadcast everywhere) per query.
    // Structural guards this encodes: q17's five-table join reads each
    // table once; b05/b13's "one-pass window" claims really are one
    // events pass; the 2s are legitimate second passes (b04's
    // snapshot-pair diff, b12's as-of build+probe, b31's manifest
    // target+local roles, q15's scalar-subquery probe); the 3s are
    // three-branch set ops (q22) and three-role plans (b25 fetch
    // waves, b28 log+anchor+replay). b22 pins empty because its events
    // read happens inside the eager Scratch JSON-fixture write at
    // construction time — the measured plan reads the fixture back.
    // A count BELOW a pin is progress: tighten the pin.
    val expected: Map[String, Map[String, Int]] = Map(
      "b01_manifest_list" -> Map("events" -> 1),
      "b02_list_lastn" -> Map("events" -> 1),
      "b03_list_from_ts" -> Map("events" -> 1),
      "b04_snapshot_diff" -> Map("events" -> 2),
      "b05_reclaimable" -> Map("events" -> 1),
      "b06_retention" -> Map("events" -> 1),
      "b07_pit_state" -> Map("events" -> 1),
      "b08_hash_verify" -> Map("events" -> 1),
      "b09_chunking" -> Map("events" -> 1),
      "b10_topology" -> Map("events" -> 1),
      "b11_table_rename" -> Map("events" -> 1),
      "b12_asof_join" -> Map("events" -> 2),
      "b13_remove_oldest" -> Map("events" -> 2),
      "b14_entities_filter" -> Map("events" -> 1),
      "b15_token_check" -> Map("events" -> 1),
      "b16_schema_versions" -> Map("events" -> 1),
      "b17_topology_full" -> Map("events" -> 1),
      "b18_remote_inventory" -> Map("events" -> 1),
      "b19_sstable_gen" -> Map("events" -> 1),
      "b20_restore_readiness" -> Map("events" -> 2),
      "b21_bandwidth_plan" -> Map("events" -> 1),
      "b22_manifest_ingest" -> Map(),
      "b23_pit_diff" -> Map("events" -> 1),
      "b24_storage_locations" -> Map("events" -> 1),
      "b25_fetch_plan" -> Map("events" -> 3),
      "b26_progress" -> Map("events" -> 1),
      "b27_local_resolve" -> Map("events" -> 2),
      "b28_commitlog_fetch" -> Map("events" -> 3),
      "b29_growth_trend" -> Map("events" -> 1),
      "b30_topology_remap" -> Map("events" -> 1),
      "b31_sync_plan" -> Map("events" -> 2),
      "b32_compaction_plan" -> Map("events" -> 1),
      // b33: latest-day agg + the join target (b25's two-role shape)
      "b33_restore_workers" -> Map("events" -> 2),
      // b34: resolution agg + the resolved slice (dealing and hash
      // gate fused into ONE pass over it) + one bounded snapshots
      // pass carrying all three gate windows
      "b34_restore_plan" -> Map("events" -> 3),
      // b35: both agg levels stack on ONE manifest derivation
      "b35_rpo_compliance" -> Map("events" -> 1),
      // b36: latest-day agg + the sampled slice (b13's two-role shape)
      "b36_verify_sample" -> Map("events" -> 2),
      "q01_agg" -> Map("lineitem" -> 1),
      "q02_filter_project" -> Map("lineitem" -> 1),
      "q03_join_agg" -> Map("customer" -> 1, "orders" -> 1, "lineitem" -> 1),
      "q04_semi_join" -> Map("orders" -> 1, "lineitem" -> 1),
      "q05_anti_join" -> Map("customer" -> 1, "orders" -> 1),
      "q06_topk" -> Map("orders" -> 1),
      "q07_window_rank" -> Map("orders" -> 1),
      "q08_distinct" -> Map("orders" -> 1),
      "q09_union_all" -> Map("customer" -> 1, "supplier" -> 1),
      "q10_rollup" -> Map("customer" -> 1),
      "q11_having" -> Map("lineitem" -> 1),
      "q12_case_when" -> Map("orders" -> 1),
      "q13_time_bucket" -> Map("events" -> 1),
      "q14_string_funcs" -> Map("part" -> 1),
      "q15_scalar_subquery" -> Map("part" -> 2),
      "q16_broadcast_join" -> Map("customer" -> 1),
      "q17_multi_join" -> Map("customer" -> 1, "supplier" -> 1, "orders" -> 1, "lineitem" -> 1),
      "q18_exists_corr" -> Map("customer" -> 1, "orders" -> 1),
      "q19_grouping_sets" -> Map("orders" -> 1),
      "q20_pivot" -> Map("orders" -> 1),
      "q21_lead_lag" -> Map("orders" -> 1),
      "q22_setops" -> Map("orders" -> 3),
      "q23_running_sum" -> Map("orders" -> 1),
      "q24_not_in" -> Map("customer" -> 1),
      "q25_lateral" -> Map("customer" -> 1, "orders" -> 1),
      // q26: all four CUBE groupings through one Expand over one scan
      "q26_cube" -> Map("orders" -> 1),
      // q27: one shuffle on the partition key, per-partition RANGE frame
      "q27_range_frame" -> Map("orders" -> 1),
      // q28: the day-dimension distinct + the point stream (q31's
      // two-cheap-scans trade — the interval join runs against the
      // bounded day dimension, ~60× less join output) + one lineitem
      "q28_interval_join" -> Map("orders" -> 2, "lineitem" -> 1),
      // q29: rank + count windows + agg all share one exchange
      "q29_quartiles" -> Map("orders" -> 1),
      // q30: the melt expands the aggregated frame, not the table
      "q30_unpivot" -> Map("orders" -> 1),
      // q31: ranked pass + the bin-totals pass over the 2-column
      // pruned relation (d65's two-cheap-scans trade)
      "q31_ntile" -> Map("orders" -> 2),
      // q32: all three distinct panels ride ONE scan's Expand
      "q32_multi_distinct" -> Map("orders" -> 1),
      // b37: pure per-object aggregate — no survivor-set join at all
      "b37_orphan_gc" -> Map("events" -> 1),
      // q33: densification explodes the bounded aggregate, not the table
      "q33_histogram" -> Map("orders" -> 1),
      // b38: rides the 2-column snapshots distinct, one node exchange
      "b38_backup_streaks" -> Map("events" -> 1),
      // q34: one scan, map-side-partial max_by (no sort window)
      "q34_argmax_latest" -> Map("orders" -> 1),
      // q35: typed per-row parse + bucket agg in one pass
      "q35_json_extract" -> Map("events" -> 1),
      // b39: one manifest-keyed agg renders every backup's document
      "b39_manifest_export" -> Map("events" -> 1),
      // b40: latest-day agg + the filtered manifest slice (b13's
      // two-role shape)
      "b40_replica_spread" -> Map("events" -> 2),
      // b41: manifest pass + the bounded snapshots-rank side; the
      // 4-policy sweep explodes the per-object frame, never the ledger
      "b41_retention_curve" -> Map("events" -> 2),
      // b42: per-object fold + the broadcast head-day agg
      "b42_storage_tiering" -> Map("events" -> 2),
      // b43: one manifest pass into the bounded (node, day) aggregate
      "b43_snapshot_completeness" -> Map("events" -> 1),
      // b44: one 2-column snapshots distinct; every liveness count is
      // a window over the bounded (day × node) aggregate
      "b44_fleet_liveness" -> Map("events" -> 1),
      // b46: ONE manifest pass — the failed minority rides conditional
      // aggs inside the same (node, day) groupBy, never a second scan
      "b46_retry_budget" -> Map("events" -> 1),
      // b45: per-node cadence agg + the single-row fleet-head fold
      // (the head derives from the same snapshots distinct — 2nd pass)
      "b45_backup_cadence" -> Map("events" -> 2),
      // q36: base + the synthesized CDC delta (ONE extra scan — both
      // delta branches ride a single bounded explode)
      "q36_merge_upsert" -> Map("orders" -> 2),
      // q37: the (day,user) distinct pass + the day-dimension side
      // (same distinct lineage; broadcast-semi clamp)
      "q37_sliding_distinct" -> Map("events" -> 2),
      // q38: the dirty feed + the bounded catalog distinct
      "q38_fuzzy_match" -> Map("part" -> 2),
      // q39: the same two roles (dirty feed + catalog), each exploded
      // to its deletion keys at the scan — blocking adds no pass
      "q39_fuzzy_blocked" -> Map("part" -> 2))
    assertScanPins("§2.A/§2.B", expected,
      SparkEntry.queries.keys
        .filter(n => n.startsWith("q") || n.startsWith("b")).toSeq.sorted,
      ScanCount.bigTables,
      name => ScanCount.counts(spark, name, sf, ScanCount.bigTables))
  }

  test("§2.D scan-count ratchet: every streaming batch-equivalent reads its big tables at most the pinned number of times") {
    // completes ratchet coverage: with this, EVERY oracle-gated query
    // (q/b/d/s) carries a structural scan-count pin. The s queries'
    // batch equivalents share their transforms with the streaming
    // runtime by construction, so a regression here means the shared
    // transform grew a redundant pass. The 2s: s04 joins two event
    // roles, s10's boilerplate df needs a doc-frequency pass over the
    // corpus it then probes, s13 probes the corpus against the bounded
    // bench slice (d22's roles minus the gram explode).
    val expected: Map[String, Map[String, Int]] = Map(
      "s01_stream_window" -> Map("events" -> 1),
      "s02_stream_dedup" -> Map("events" -> 1),
      "s03_sessionize" -> Map("events" -> 1),
      "s04_stream_join" -> Map("events" -> 2),
      "s05_sliding_window" -> Map("events" -> 1),
      "s06_stream_enrich" -> Map("events" -> 1),
      "s07_backup_monitor" -> Map("events" -> 1),
      "s08_corpus_curate" -> Map("documents" -> 1),
      "s09_stream_progress" -> Map("events" -> 1),
      "s10_stream_boilerplate" -> Map("documents" -> 2),
      "s11_stream_pit" -> Map("events" -> 1),
      "s12_stream_frames" -> Map("documents" -> 1),
      "s13_stream_decon" -> Map("documents" -> 2),
      "s14_stream_quarantine" -> Map("documents" -> 1),
      "s15_stream_dims" -> Map("documents" -> 1),
      "s16_stream_ingest" -> Map("documents" -> 1),
      // s17 routes ONE embeddings pass against the index-centroid
      // read-back (the index build, like d45/d50, is construction-time)
      "s17_stream_ann_route" -> Map("embeddings" -> 1),
      // s18: ONE embeddings pass (the arriving feed) anti-joined
      // against the snapshot-index read-back, as d52
      "s18_stream_index_update" -> Map("embeddings" -> 1),
      // s34: ONE embeddings pass (the arriving feed) against the
      // centroid + cell-stats artifact read-backs, as s17
      "s34_stream_outliers" -> Map("embeddings" -> 1),
      // s35: ONE embeddings pass (the arriving feed) against the
      // centroid + reps artifact read-backs, as s34
      "s35_stream_semdedup" -> Map("embeddings" -> 1),
      // s36: one corpus pass into the bounded per-dim moment agg
      "s36_stream_spectrum" -> Map("embeddings" -> 1),
      // s38: ONE embeddings pass (the arriving feed) folded over the
      // broadcast medoid artifact read-back, as s17/s34/s35
      "s38_stream_communities" -> Map("embeddings" -> 1),
      // s39: the s38 route pass into the bounded per-community tally
      "s39_stream_community_load" -> Map("embeddings" -> 1),
      // s41: the sharded s38 — still ONE embeddings pass (the arriving
      // feed fanned over the bounded cell list); medoid + posting sides
      // are artifact read-backs, never corpus scans
      "s41_stream_communities_sharded" -> Map("embeddings" -> 1),
      // s42: ONE events pass — the failed minority rides conditional
      // aggs inside the same (node, day) groupBy, b46's shape over the
      // raw arrivals
      "s42_stream_retry" -> Map("events" -> 1),
      // s43: the d107 panel verbatim — pure per-row, one corpus pass
      "s43_stream_diversity" -> Map("documents" -> 1),
      // s37: the d92 panel verbatim — pure per-row, one corpus pass
      "s37_stream_gopher" -> Map("documents" -> 1),
      // s40: the d100 profile verbatim — one corpus pass into the
      // lang-bounded fertility aggregate
      "s40_stream_fertility" -> Map("documents" -> 1),
      // s19: the d48 chunker verbatim — one corpus pass, bounded explode
      "s19_stream_chunk" -> Map("documents" -> 1),
      // s20: the d55 gate verbatim — one corpus pass through the bloom
      // probe; deny store is an artifact read-back
      "s20_stream_blocklist" -> Map("documents" -> 1),
      // s21: the d57 stamp verbatim — pure per-row, one corpus pass
      "s21_stream_split" -> Map("documents" -> 1),
      "s22_stream_verify" -> Map("events" -> 1),
      "s23_stream_cms" -> Map("documents" -> 1),
      // s24: the arriving stream + the ingested-index side
      "s24_stream_url" -> Map("documents" -> 2),
      // s33: template-index build scan + the arriving-docs scan
      "s33_stream_template" -> Map("documents" -> 2),
      // s25: one corpus scan through the per-source prefix-sum window
      "s25_stream_budget" -> Map("documents" -> 1),
      // s32: one corpus scan through the per-bucket prefix-sum window
      "s32_stream_shardpack" -> Map("documents" -> 1),
      // s26: one events scan into the bounded bin aggregate
      "s26_stream_sizehist" -> Map("events" -> 1),
      // s27: event probe side + the bounded dimension's build side
      "s27_stream_asof" -> Map("events" -> 2),
      // s28: the arriving stream + the d72 reputation-index side
      "s28_stream_reputation" -> Map("documents" -> 2),
      // s29: one corpus pass into the bounded per-source sketch agg
      "s29_stream_kmv" -> Map("documents" -> 1),
      // s30: one events pass into the bounded (node, day) aggregate
      "s30_stream_completeness" -> Map("events" -> 1),
      // s31: the bucket-local window pass + the bounded bucket-max
      // side of the two-stage prefix max (d65's two-cheap-scans trade)
      "s31_stream_lateness" -> Map("events" -> 2))
    assertScanPins("§2.D", expected,
      SparkEntry.queries.keys.filter(_.startsWith("s")).toSeq.sorted,
      ScanCount.bigTables,
      name => ScanCount.counts(spark, name, sf, ScanCount.bigTables))
  }

  test("b18 incremental plan prunes to an anti-join against the external inventory") {
    // x04: the remote listing is a REAL external source (parquet round-
    // trip through IO), and the incremental diff is a left-anti join —
    // never a full-materialized set-difference
    val p = audit("b18_remote_inventory")
    assert(p.contains("LeftAnti"), s"no anti-join in incremental plan:\n$p")
    assert(p.contains("graft_remote_inventory"),
      s"inventory not read from the external source:\n$p")
  }
}
