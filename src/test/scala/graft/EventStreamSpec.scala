package graft

import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.streaming.EventStream

/** Structured Streaming ↔ batch equivalence: the same transform over
  * readStream (AvailableNow, memory sink) must reproduce the batch
  * result. */
class EventStreamSpec extends SparkSpec {

  test("streaming hourly agg equals batch hourly agg") {
    val q = EventStream.runToMemory(spark, sf, "graft_s01_test",
      EventStream.hourlyAgg, mode = "complete")
    q.awaitTermination(120000); q.stop()
    val streamed = spark.table("graft_s01_test")
      .orderBy("hour", "event_type").collect()
    val batch = EventStream.hourlyAgg(Tables.events(spark, sf))
      .orderBy("hour", "event_type").collect()
    assert(streamed.length == batch.length, s"${streamed.length} vs ${batch.length}")
    assert(streamed.sameElements(batch))
  }

  test("custom-state sessionization matches the batch window twin") {
    val q = EventStream.runToMemory(spark, sf, "graft_s03_test",
      df => EventStream.sessionize(df).toDF())
    q.awaitTermination(120000); q.stop()
    val streamed = spark.table("graft_s03_test")
      .select("user_id", "session_start", "n_events")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet
    val batch = presented("s03_sessionize")
      .select("user_id", "session_start", "n_events")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet
    // append mode only emits sessions closed before the final watermark;
    // everything emitted must be a batch session, and most sessions close
    assert(streamed.subsetOf(batch),
      s"streamed-only sessions: ${(streamed -- batch).take(3)}")
    assert(streamed.size >= batch.size / 2,
      s"only ${streamed.size} of ${batch.size} sessions emitted")
  }

  test("streaming sliding-window agg equals batch sliding agg") {
    val q = EventStream.runToMemory(spark, sf, "graft_s05_test",
      EventStream.slidingAgg, mode = "complete")
    q.awaitTermination(120000); q.stop()
    val streamed = spark.table("graft_s05_test")
      .orderBy("win_start", "event_type").collect()
    val batch = EventStream.slidingAgg(Tables.events(spark, sf))
      .orderBy("win_start", "event_type").collect()
    assert(streamed.length == batch.length, s"${streamed.length} vs ${batch.length}")
    assert(streamed.sameElements(batch))
  }

  test("streaming as-of lookup equals batch, resolves backward and flags unrestorable") {
    val dim = EventStream.restorableDim(spark, sf)
    val q = EventStream.runToMemory(spark, sf, "graft_s27_test",
      EventStream.scdLookup(dim), mode = "append")
    q.awaitTermination(120000); q.stop()
    val streamed = spark.table("graft_s27_test").orderBy("event_id").collect()
    val batch = presented("s27_stream_asof").collect()
    assert(streamed.length == batch.length, s"${streamed.length} vs ${batch.length}")
    assert(streamed.sameElements(batch))
    // as-of law: resolution = latest restorable day <= event day
    val restorable = dim.collect()
      .map(r => (r.getLong(0), r.getDate(1).toLocalDate))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    batch.foreach { r =>
      val cand = restorable(r.getLong(1))
        .filter(!_.isAfter(r.getDate(2).toLocalDate))
      if (r.isNullAt(3)) assert(cand.isEmpty, s"missed a restorable day: $r")
      else {
        assert(r.getDate(3).toLocalDate == cand.maxBy(_.toEpochDay),
          s"not the as-of max: $r")
        assert(r.getInt(4) >= 0)
      }
    }
    // the fixture must exercise all three outcomes
    assert(batch.exists(_.isNullAt(3)), "no unrestorable event")
    assert(batch.exists(r => !r.isNullAt(4) && r.getInt(4) > 0),
      "no backward resolution")
    assert(batch.exists(r => !r.isNullAt(4) && r.getInt(4) == 0),
      "no same-day resolution")
  }

  test("streaming size histogram equals the batch bins, state stays bounded") {
    val q = EventStream.runToMemory(spark, sf, "graft_s26_test",
      EventStream.sizeHistogram, mode = "complete")
    q.awaitTermination(120000); q.stop()
    val streamed = spark.table("graft_s26_test").orderBy("bin").collect()
    val batch = presented("s26_stream_sizehist").collect()
    assert(streamed.length == batch.length, s"${streamed.length} vs ${batch.length}")
    assert(streamed.sameElements(batch))
    // the state bound: bins are value-range/width, not stream-length
    assert(batch.length <= 64, s"histogram state grew to ${batch.length} bins")
    assert(batch.map(_.getLong(1)).sum ==
      Tables.events(spark, sf).count(), "mass not conserved")
  }

  test("streaming progress tracker equals the batch report") {
    val q = EventStream.runToMemory(spark, sf, "graft_s09_test",
      EventStream.progressMonitor, mode = "complete")
    q.awaitTermination(120000); q.stop()
    val streamed = spark.table("graft_s09_test")
      .orderBy("snapshot_day", "node_id").collect()
    val batch = presented("s09_stream_progress").collect()
    assert(streamed.length == batch.length, s"${streamed.length} vs ${batch.length}")
    assert(streamed.sameElements(batch))
  }

  test("streaming backup monitor equals the batch ledger report") {
    val q = EventStream.runToMemory(spark, sf, "graft_s07_test",
      EventStream.backupMonitor, mode = "complete")
    q.awaitTermination(120000); q.stop()
    val streamed = spark.table("graft_s07_test")
      .orderBy("snapshot_day", "node_id").collect()
    val batch = presented("s07_backup_monitor").collect()
    assert(streamed.length == batch.length, s"${streamed.length} vs ${batch.length}")
    assert(streamed.sameElements(batch))
  }

  test("streaming completeness monitor equals the batch existence gate") {
    val q = EventStream.runToMemory(spark, sf, "graft_s30_test",
      EventStream.completenessMonitor, mode = "complete")
    q.awaitTermination(120000); q.stop()
    val streamed = spark.table("graft_s30_test")
      .orderBy("node_id", "snapshot_day").collect()
    val batch = presented("s30_stream_completeness").collect()
    assert(streamed.length == batch.length, s"${streamed.length} vs ${batch.length}")
    assert(streamed.sameElements(batch))
    // verdict law + both outcomes on this fixture
    batch.foreach { r =>
      assert(r.getBoolean(6) == (r.getLong(3) > 0 && r.getLong(4) > 0))
      assert(r.getLong(2) >= r.getLong(3) + r.getLong(4) + r.getLong(5))
    }
    assert(batch.exists(_.getBoolean(6)) && batch.exists(!_.getBoolean(6)))
  }

  test("streaming diversity gate equals the batch d107 panel") {
    // per-row panel (each row folds its own sorted word array):
    // stateless append mode, no watermark, no state at all
    import graft.streaming.DocStream
    val q = DocStream.runToMemory(spark, sf, "graft_s43_test",
      graft.operators.TextAnalysis.diversityPanel, mode = "append")
    q.awaitTermination(120000); q.stop()
    val streamed = spark.table("graft_s43_test").orderBy("doc_id").collect()
    val batch = presented("s43_stream_diversity").collect()
    assert(streamed.length == batch.length, s"${streamed.length} vs ${batch.length}")
    assert(streamed.sameElements(batch))
    // ... and the shared-transform guarantee: s43 ≡ d107 row-for-row
    val d107 = presented("d107_lexical_diversity").collect()
    assert(batch.sameElements(d107))
  }

  test("streaming retry monitor equals the batch budget and contains b46's") {
    val q = EventStream.runToMemory(spark, sf, "graft_s42_test",
      EventStream.retryMonitor, mode = "complete")
    q.awaitTermination(120000); q.stop()
    val streamed = spark.table("graft_s42_test")
      .orderBy("snapshot_day", "node_id").collect()
    val batch = presented("s42_stream_retry").collect()
    assert(streamed.length == batch.length, s"${streamed.length} vs ${batch.length}")
    assert(streamed.sameElements(batch))
    // backoff law, composition, zero-failure rows clean, both verdicts
    batch.foreach { r =>
      assert(r.getLong(5) == 70 * r.getLong(3), s"backoff law drift: $r")
      assert(r.getLong(7) == r.getLong(5) + r.getLong(6), s"added_sec composition: $r")
      if (r.getLong(3) == 0)
        assert(r.getDouble(4) == 0.0 && r.getLong(7) == 0,
          s"zero-failure window carries a budget: $r")
    }
    assert(batch.exists(_.getLong(3) > 0) && batch.exists(_.getLong(3) == 0))
    // the live monitor prices ARRIVALS; b46 prices the deduped manifest —
    // dedupe can only DROP failed uploads, so live >= b46 per (node, day)
    val b46 = presented("b46_retry_budget").collect()
      .map(r => (r.getLong(0), r.getDate(1)) -> r.getLong(3)).toMap
    batch.foreach { r =>
      val k = (r.getLong(1), r.getDate(0))
      assert(r.getLong(3) >= b46.getOrElse(k, 0L),
        s"live monitor saw fewer failures than the manifest at $k")
    }
  }

  test("streaming day-verification gate equals the batch verdicts") {
    val q = EventStream.runToMemory(spark, sf, "graft_s22_test",
      EventStream.verifyDayGate, mode = "complete")
    q.awaitTermination(120000); q.stop()
    val streamed = spark.table("graft_s22_test")
      .orderBy("snapshot_day", "node_id", "keyspace").collect()
    val batch = presented("s22_stream_verify").collect()
    assert(streamed.length == batch.length, s"${streamed.length} vs ${batch.length}")
    assert(streamed.sameElements(batch))
    // the corruption fixture must flip at least one day verdict
    assert(batch.exists(!_.getBoolean(5)) && batch.exists(_.getBoolean(5)))
  }

  test("streaming KMV sketch state equals the batch sketch per source") {
    import graft.streaming.DocStream
    // the x06 TypedImperativeAggregate as streaming state: complete-mode
    // per-source buffers, merged across micro-batches by the aggregate's
    // own merge — order-invariance of the sorted-distinct k-min set is
    // what makes stream ≡ batch EXACT, not approximate
    val q = DocStream.runToMemory(spark, sf, "graft_s29_test",
      DocStream.kmvBySource, mode = "complete")
    q.awaitTermination(120000); q.stop()
    val streamed = spark.table("graft_s29_test").orderBy("source").collect()
    val batch = presented("s29_stream_kmv").collect()
    assert(streamed.length == batch.length, s"${streamed.length} vs ${batch.length}")
    assert(streamed.sameElements(batch))
    // the corpus vocabulary (~31 words) never fills k=64: every sketch
    // is in its EXACT regime here, so est is an integer count
    batch.foreach { r =>
      assert(r.getLong(1) < 64 && r.getDouble(3) == r.getLong(1).toDouble)
    }
  }

  test("streaming reputation gate equals the batch domain-tier decision") {
    import graft.streaming.DocStream
    val q = DocStream.runToMemory(spark, sf, "graft_s28_test",
      DocStream.reputationGate(DocStream.repDenyIndex(spark, sf)), mode = "append")
    q.awaitTermination(120000); q.stop()
    val streamed = spark.table("graft_s28_test").orderBy("doc_id").collect()
    val batch = presented("s28_stream_reputation").collect()
    assert(streamed.length == batch.length, s"${streamed.length} vs ${batch.length}")
    assert(streamed.sameElements(batch))
    // the gate must discriminate: both verdicts occur, URL-less docs accept
    assert(batch.exists(_.getString(3) == "review")
      && batch.exists(_.getString(3) == "accept"))
    batch.filter(_.getLong(1) == 0).foreach { r =>
      assert(r.getString(3) == "accept" && r.getLong(2) == 0)
    }
    // n_low never exceeds n_domains; review iff n_low > 0
    batch.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1))
      assert((r.getString(3) == "review") == (r.getLong(2) > 0))
    }
  }

  test("streaming URL ingest gate equals the batch decision") {
    import graft.streaming.DocStream
    val q = DocStream.runToMemory(spark, sf, "graft_s24_test",
      DocStream.urlGate(DocStream.urlIndex(spark, sf)), mode = "append")
    q.awaitTermination(120000); q.stop()
    val streamed = spark.table("graft_s24_test").orderBy("doc_id").collect()
    val batch = presented("s24_stream_url").collect()
    assert(streamed.length == batch.length, s"${streamed.length} vs ${batch.length}")
    assert(streamed.sameElements(batch))
    // the hash-range index leaves ~30% of pages uncrawled: both
    // outcomes occur, and the decision is page-consistent (all docs
    // of one canonical page agree)
    assert(batch.exists(_.getBoolean(2)) && batch.exists(!_.getBoolean(2)))
    batch.groupBy(_.getString(1)).foreach { case (_, g) =>
      assert(g.map(_.getBoolean(2)).distinct.length == 1)
    }
  }

  test("streaming template gate equals the batch decision") {
    import graft.streaming.DocStream
    val q = DocStream.runToMemory(spark, sf, "graft_s33_test",
      DocStream.templateGate(DocStream.templateIndex(spark, sf)), mode = "append")
    q.awaitTermination(120000); q.stop()
    val streamed = spark.table("graft_s33_test").orderBy("doc_id").collect()
    val batch = presented("s33_stream_template").collect()
    assert(streamed.length == batch.length, s"${streamed.length} vs ${batch.length}")
    assert(streamed.sameElements(batch))
    // the gate must discriminate: known templates AND fresh heads both
    // arrive (the near-dup fixture spans the %3 partition split)
    assert(batch.exists(_.getBoolean(2)) && batch.exists(!_.getBoolean(2)))
    // no already-ingested doc leaks into the gated stream
    assert(batch.forall(_.getLong(0) % 3 != 0))
  }

  test("streaming shard packer equals the batch per-bucket prefix twin") {
    import graft.streaming.DocStream
    val q = DocStream.runToMemory(spark, sf, "graft_s32_test",
      DocStream.shardPack, mode = "append")
    q.awaitTermination(120000); q.stop()
    val streamed = spark.table("graft_s32_test").orderBy("doc_id").collect()
    val batch = presented("s32_stream_shardpack").collect()
    assert(streamed.length == batch.length, s"${streamed.length} vs ${batch.length}")
    assert(streamed.sameElements(batch))
    // the writer-local sequence must actually advance (the packer
    // closes shards at this SF), and the prefix law must hold row by
    // row per bucket — recomputed sequentially in plain Scala
    assert(batch.exists(_.getLong(4) >= 1L), "no bucket ever closed a shard")
    batch.groupBy(_.getInt(1)).foreach { case (bucket, g) =>
      val inOrder = g.sortBy(_.getLong(0))
      var cum = 0L
      inOrder.foreach { r =>
        assert(r.getLong(3) == cum, s"bucket $bucket prefix drift at doc ${r.getLong(0)}")
        assert(r.getLong(4) == cum / DocStream.packShardTokens,
          s"bucket $bucket shard law at doc ${r.getLong(0)}")
        cum += r.getLong(2)
      }
    }
    // buckets genuinely spread the stream (the hash law load-balances
    // the 32 writers): more than half the writer space is populated
    assert(batch.map(_.getInt(1)).distinct.length > 16,
      "hash routing left most writers idle")
  }

  test("streaming crawl-budget gate equals the batch prefix-sum twin") {
    import graft.streaming.DocStream
    val q = DocStream.runToMemory(spark, sf, "graft_s25_test",
      DocStream.ingestBudget, mode = "append")
    q.awaitTermination(120000); q.stop()
    val streamed = spark.table("graft_s25_test").orderBy("doc_id").collect()
    val batch = presented("s25_stream_budget").collect()
    assert(streamed.length == batch.length, s"${streamed.length} vs ${batch.length}")
    assert(streamed.sameElements(batch))
    // the budget must actually close on at least one source, and the
    // admit rule must hold row by row
    assert(batch.exists(!_.getBoolean(4)) && batch.exists(_.getBoolean(4)))
    batch.foreach { r =>
      assert(r.getBoolean(4) ==
        (r.getLong(3) + r.getLong(2) <= DocStream.budgetTokens), s"admit law: $r")
    }
    // per source: cum_before is the running total of ALL arrived tokens
    batch.groupBy(_.getString(1)).foreach { case (src, g) =>
      val inOrder = g.sortBy(_.getLong(0))
      var cum = 0L
      inOrder.foreach { r =>
        assert(r.getLong(3) == cum, s"$src ledger drift at doc ${r.getLong(0)}")
        cum += r.getLong(2)
      }
    }
  }

  test("streaming CMS sketch equals the batch sketch cell-for-cell") {
    import graft.streaming.DocStream
    val q = DocStream.runToMemory(spark, sf, "graft_s23_test",
      DocStream.cmsSketch, mode = "complete")
    q.awaitTermination(120000); q.stop()
    val streamed = spark.table("graft_s23_test")
      .orderBy("i", "cell").collect()
    val batch = presented("s23_stream_cms").collect()
    assert(streamed.length == batch.length, s"${streamed.length} vs ${batch.length}")
    assert(streamed.sameElements(batch))
    // total mass per hash row is the token count — the merge is lossless
    val mass = batch.groupBy(_.getInt(0)).view.mapValues(_.map(_.getLong(2)).sum)
    assert(mass.values.toSet.size == 1, s"rows disagree on total mass: $mass")
  }

  test("streaming corpus curation equals the batch quality gate") {
    import graft.streaming.DocStream
    val q = DocStream.runToMemory(spark, sf, "graft_s08_test",
      DocStream.curate, mode = "complete")
    q.awaitTermination(120000); q.stop()
    val streamed = spark.table("graft_s08_test")
      .orderBy("lang", "source").collect()
    val batch = presented("s08_corpus_curate").collect()
    assert(streamed.length == batch.length, s"${streamed.length} vs ${batch.length}")
    assert(streamed.sameElements(batch))
  }

  test("streaming fertility profile equals the batch table (complete mode, lang-bounded state)") {
    import graft.streaming.DocStream
    val q = DocStream.runToMemory(spark, sf, "graft_s40_test",
      df => graft.operators.TextAnalysis.tokenFertility(
        graft.model.Corpus.normalized(df)), mode = "complete")
    q.awaitTermination(120000); q.stop()
    val streamed = spark.table("graft_s40_test").orderBy("lang").collect()
    val batch = presented("s40_stream_fertility").collect()
    assert(streamed.length == batch.length, s"${streamed.length} vs ${batch.length}")
    assert(streamed.sameElements(batch))
    // state bound: one row per language, never stream-length
    val nLangs = graft.model.Corpus.docs(spark, sf)
      .select("lang").distinct().count()
    assert(batch.length.toLong == nLangs, "fertility state is not lang-bounded")
    // conservation: every document is profiled exactly once
    val nDocs = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(batch.map(_.getLong(1)).sum == nDocs, "doc mass lost in the profile")
  }

  test("streaming Gopher gate equals the batch rule panel (stateless append)") {
    import graft.streaming.DocStream
    val q = DocStream.runToMemory(spark, sf, "graft_s37_test",
      df => graft.operators.TextAnalysis.gopherPanel(
        graft.model.Corpus.normalized(df)), mode = "append")
    q.awaitTermination(120000); q.stop()
    val streamed = spark.table("graft_s37_test").orderBy("doc_id").collect()
    val batch = presented("s37_stream_gopher").collect()
    assert(streamed.length == batch.length, s"${streamed.length} vs ${batch.length}")
    assert(streamed.sameElements(batch))
    // the gate must discriminate: both keep outcomes occur
    val keeps = streamed.map(_.getBoolean(11)).toSet
    assert(keeps == Set(true, false), s"gate outcomes: $keeps")
  }

  test("streaming decon gate equals the batch d22 join formulation (stateless append)") {
    import graft.streaming.DocStream
    val q = DocStream.runToMemory(spark, sf, "graft_s13_test",
      DocStream.deconGate(DocStream.benchGramIndex(spark, sf)), mode = "append")
    q.awaitTermination(120000); q.stop()
    val streamed = spark.table("graft_s13_test").orderBy("doc_id").collect()
    // compare against d22 ITSELF (broadcast gram join + groupBy), not
    // just the s13 batch twin — the per-row kernel probe must
    // reproduce the join's counts exactly
    val batch = presented("d22_decontaminate").collect()
    assert(streamed.length == batch.length, s"${streamed.length} vs ${batch.length}")
    assert(streamed.sameElements(batch))
    assert(batch.exists(_.getBoolean(2)) && batch.exists(!_.getBoolean(2)))
  }

  test("streaming quarantine gate equals the batch d44 audit") {
    import graft.streaming.DocStream
    val q = DocStream.runToMemory(spark, sf, "graft_s14_test",
      docs => graft.operators.Multimodal.quarantineAudit(
        graft.operators.Multimodal.packDamagedFixture(docs)),
      mode = "complete")
    q.awaitTermination(120000); q.stop()
    val streamed = spark.table("graft_s14_test").orderBy("err_kind").collect()
    val batch = presented("d44_media_quarantine").collect()
    assert(streamed.length == batch.length, s"${streamed.length} vs ${batch.length}")
    assert(streamed.sameElements(batch))
    // both damage classes must actually occur on this corpus — the
    // stream survived real corrupt containers, not a vacuous pass
    assert(batch.map(_.getString(0)).sorted.sameElements(Array("bad_version", "null_blob")))
  }

  test("streaming dims sweep equals the batch d47 output") {
    import graft.streaming.DocStream
    val q = DocStream.runToMemory(spark, sf, "graft_s15_test",
      graft.operators.Multimodal.dimsSweep, mode = "append")
    q.awaitTermination(120000); q.stop()
    val streamed = spark.table("graft_s15_test").orderBy("doc_id").collect()
    val batch = presented("d47_media_dims").collect()
    assert(streamed.length == batch.length, s"${streamed.length} vs ${batch.length}")
    assert(streamed.sameElements(batch))
  }

  test("streaming chunker equals the batch d48 output") {
    // stateless bounded explode: no watermark, no state store — live
    // ingestion and backfill are one code path
    import graft.streaming.DocStream
    val q = DocStream.runToMemory(spark, sf, "graft_s19_test",
      graft.operators.Curation.chunkDocs, mode = "append")
    q.awaitTermination(120000); q.stop()
    val streamed = spark.table("graft_s19_test")
      .orderBy("doc_id", "chunk_idx").collect()
    val batch = presented("s19_stream_chunk").collect()
    assert(streamed.length == batch.length, s"${streamed.length} vs ${batch.length}")
    assert(streamed.sameElements(batch))
  }

  test("streaming split stamp equals the batch d57 output") {
    import graft.streaming.DocStream
    val q = DocStream.runToMemory(spark, sf, "graft_s21_test",
      graft.operators.Curation.splitAssign, mode = "append")
    q.awaitTermination(120000); q.stop()
    val streamed = spark.table("graft_s21_test").orderBy("doc_id").collect()
    val batch = presented("s21_stream_split").collect()
    assert(streamed.length == batch.length, s"${streamed.length} vs ${batch.length}")
    assert(streamed.sameElements(batch))
  }

  test("streaming blocklist gate equals the batch d55 output") {
    // broadcast bloom probe per row + stream-static exact verify:
    // stateless append mode — the filter and the deny store are the
    // static state
    import graft.streaming.DocStream
    import graft.operators.Curation
    val deny = Curation.denyList(spark, sf)
    val m = Curation.denyBits(spark, sf)
    val q = DocStream.runToMemory(spark, sf, "graft_s20_test",
      docs => Curation.blocklistGate(docs, deny, m), mode = "append")
    q.awaitTermination(120000); q.stop()
    val streamed = spark.table("graft_s20_test").orderBy("doc_id").collect()
    val batch = presented("s20_stream_blocklist").collect()
    assert(streamed.length == batch.length, s"${streamed.length} vs ${batch.length}")
    assert(streamed.sameElements(batch))
  }

  test("streaming incremental ingest equals the batch d49 output") {
    // stream-static LEFT ANTI against the persisted ledger: stateless
    // append mode — the static side is the state, read from parquet
    import graft.streaming.DocStream
    val ledger = graft.operators.Curation.ingestLedger(spark, sf)
    val q = DocStream.runToMemory(spark, sf, "graft_s16_test",
      docs => graft.operators.Curation.incrementalIngest(docs, ledger),
      mode = "append")
    q.awaitTermination(120000); q.stop()
    val streamed = spark.table("graft_s16_test").orderBy("doc_id").collect()
    val batch = presented("d49_incremental_ingest").collect()
    assert(streamed.length == batch.length, s"${streamed.length} vs ${batch.length}")
    assert(streamed.sameElements(batch))
  }

  test("streaming PIT tracker equals the batch b07 window formulation") {
    val q = EventStream.runToMemory(spark, sf, "graft_s11_test",
      EventStream.pitTracker, mode = "complete")
    q.awaitTermination(120000); q.stop()
    val streamed = spark.table("graft_s11_test")
      .orderBy("node_id", "k").collect()
    // compare against b07 ITSELF (row_number window), not just the s11
    // batch twin — the running-max register must reproduce the window
    val batch = presented("b07_pit_state").collect()
    assert(streamed.length == batch.length, s"${streamed.length} vs ${batch.length}")
    assert(streamed.sameElements(batch))
  }

  test("streaming frame sampler equals the batch d18 output") {
    import graft.streaming.DocStream
    val q = DocStream.runToMemory(spark, sf, "graft_s12_test",
      graft.operators.Multimodal.frameSample, mode = "append")
    q.awaitTermination(120000); q.stop()
    val streamed = spark.table("graft_s12_test")
      .orderBy("doc_id", "frame_idx").collect()
    val batch = presented("d18_frame_sample").collect()
    assert(streamed.length == batch.length, s"${streamed.length} vs ${batch.length}")
    assert(streamed.sameElements(batch))
  }

  test("streaming boilerplate gate equals the batch tile-index report") {
    import graft.streaming.DocStream
    val q = DocStream.runToMemory(spark, sf, "graft_s10_test",
      DocStream.boilerplateGate(DocStream.tileIndex(spark, sf)), mode = "complete")
    q.awaitTermination(120000); q.stop()
    val streamed = spark.table("graft_s10_test")
      .orderBy("lang", "source").collect()
    val batch = presented("s10_stream_boilerplate").collect()
    assert(streamed.length == batch.length, s"${streamed.length} vs ${batch.length}")
    assert(streamed.sameElements(batch))
    // the gate must actually catch known boilerplate on this corpus
    assert(batch.map(_.getLong(3)).sum > 0, "no known tiles — gate untested")
  }

  test("stream-stream interval join matches the batch twin") {
    val q = EventStream.runToMemory(spark, sf, "graft_s04_test",
      df => EventStream.clickErrorJoin(df, df))
    q.awaitTermination(120000); q.stop()
    val streamed = spark.table("graft_s04_test")
      .select("error_id", "click_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = presented("s04_stream_join")
      .select("error_id", "click_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch,
      s"stream-only: ${(streamed -- batch).take(3)}, batch-only: ${(batch -- streamed).take(3)}")
  }

  test("stream-static enrichment joins every event to its dimension row") {
    val q = EventStream.runToMemory(spark, sf, "graft_s06_test",
      df => EventStream.enrich(df, Tables.nation(spark, sf)))
    q.awaitTermination(120000); q.stop()
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select("event_id", "n_name")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val streamed = pairs(spark.table("graft_s06_test"))
    val batch = pairs(EventStream.enrich(
      Tables.events(spark, sf), Tables.nation(spark, sf)))
    assert(streamed == batch,
      s"stream-only: ${(streamed -- batch).take(3)}, batch-only: ${(batch -- streamed).take(3)}")
  }

  test("foreachBatch parquet sink lands every event durably") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val q = EventStream.runToParquet(spark, sf, tmp, identity)
    q.awaitTermination(120000); q.stop()
    // glob over ALL batch dirs: AvailableNow may split multi-file
    // sources into several micro-batches; durability = union matches
    val landed = spark.read.parquet(s"$tmp/batch_*")
    val src = Tables.events(spark, sf)
    assert(landed.count() == src.count())
    // checkpoint written → a restarted query would resume, not replay
    assert(new java.io.File(s"$tmp/_checkpoint").isDirectory)
  }

  test("streaming dedup emits at most one row per key") {
    val q = EventStream.runToMemory(spark, sf, "graft_s02_test",
      EventStream.dedupStream)
    q.awaitTermination(120000); q.stop()
    val out = spark.table("graft_s02_test")
    val dupes = out.groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("n")).filter(col("n") > 1)
    assert(dupes.count() == 0)
    // every key present in the source appears exactly once
    val keys = Tables.events(spark, sf)
      .select("user_id", "event_type").distinct().count()
    assert(out.count() == keys)
  }
}
