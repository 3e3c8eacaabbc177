package graft

import org.apache.spark.sql.functions._

/** §2.C d22–d25 semantics + plan-shape checks (the oracle gate proves
  * value equality; these pin the invariants and the scale shapes). */
class CurationSpec extends SparkSpec {

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  test("d22 never emits held-out docs, and contamination == gram overlap") {
    val rows = q("d22_decontaminate").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getLong(0) % 10 != 0), "benchmark doc leaked into the training report")
    assert(rows.forall { r => (r.getLong(1) > 0) == r.getBoolean(2) })
    assert(rows.exists(_.getBoolean(2)), "no contaminated docs at all — fixture lost its dup structure")
    assert(rows.exists(!_.getBoolean(2)), "everything contaminated — filter broken")
  }

  test("d22 broadcasts the benchmark gram set (corpus side never shuffles for the probe)") {
    val p = plan("d22_decontaminate")
    assert(p.contains("BroadcastHashJoin"), s"benchmark probe not broadcast:\n$p")
  }

  test("d23 respects per-stratum rates and stays a pure per-row filter") {
    val rows = q("d23_corpus_mix").select("lang", "bucket", "rate").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(1) < r.getLong(2)), "kept row at/above its rate bucket")
    val rates = rows.map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(rates("en") == 60L && rates("zh") == 50L && rates("de") == 100L, rates.toString)
    // the plan is a per-row filter: no sort (presentation order is
    // applied at the sink) and no shuffle
    val df = SparkEntry.queries("d23_corpus_mix")(spark, sf)
    val sorts = df.queryExecution.optimizedPlan.collect {
      case s: org.apache.spark.sql.catalyst.plans.logical.Sort => s
    }
    val p = plan("d23_corpus_mix")
    assert(!p.contains("Exchange"), s"per-row sampler shuffled:\n$p")
    assert(sorts.isEmpty, s"sort in the per-row sampler:\n$p")
  }

  test("d24 clusters are closed over the candidate pairs and labeled by their min id") {
    val labels = q("d24_dup_clusters").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.nonEmpty)
    // label = min member of the cluster
    labels.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.keys.min == cid, s"cluster $cid not labeled by its min member")
    }
    // both endpoints of every candidate pair land in the same cluster
    val pairs = graft.operators.Dedup.queries("d04_minhash_lsh")(spark, sf)
      .select("a_id", "b_id").collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      assert(labels(r.getLong(0)) == labels(r.getLong(1)),
        s"pair (${r.getLong(0)}, ${r.getLong(1)}) split across clusters")
    }
  }

  test("connectedComponents: exact labels on chains, cliques, and random forests") {
    import spark.implicits._
    def cc(pairs: Seq[(Long, Long)]): Map[Long, Long] =
      graft.operators.Curation
        .connectedComponents(pairs.toDF("a_id", "b_id"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // a 40-node chain: worst-case diameter, forces multiple
    // propagate+jump rounds before the fixpoint
    val chain = (0L until 39L).map(i => (i, i + 1))
    val chainLbl = cc(chain)
    assert(chainLbl.size == 40 && chainLbl.values.forall(_ == 0L), chainLbl)
    // two disjoint cliques keep separate min labels
    val cliques =
      (for (a <- 10L to 13L; b <- (a + 1) to 13L) yield (a, b)) ++
        (for (a <- 20L to 24L; b <- (a + 1) to 24L) yield (a, b))
    val clLbl = cc(cliques)
    assert((10L to 13L).forall(clLbl(_) == 10L) && (20L to 24L).forall(clLbl(_) == 20L))
    // random edge set vs a reference union-find
    val rnd = new scala.util.Random(42)
    val edges = Seq.fill(120)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter { case (a, b) => a != b }
    val parent = scala.collection.mutable.Map((0L until 60L).map(i => i -> i): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra max rb) = ra min rb
    }
    val want = edges.flatMap(e => Seq(e._1, e._2)).distinct
      .map(x => x -> find(x)).toMap
    // union-find roots are not necessarily the min member — normalize
    val wantMin = want.groupBy(_._2).flatMap { case (_, m) =>
      val mn = m.keys.min; m.keys.map(_ -> mn)
    }
    assert(cc(edges) == wantMin)
    // diameter-independence regression: a 400-node PATH is the shape
    // that breaks O(diameter) label propagation (d95's giant component
    // measured diameter 85 — propagation needed 37 rounds there and
    // has NO bound here); star contraction must close it inside the
    // loop's 50-round backstop (it throws loudly otherwise), with
    // exact labels
    val path = (0L until 399L).map(i => (i, i + 1))
    val pathLbl = cc(path)
    assert(pathLbl.size == 400 && pathLbl.values.forall(_ == 0L),
      "long-path labels wrong — contraction broke")
  }

  test("d24 loop runs on the caller's session and never touches its conf") {
    import spark.implicits._
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    val partsBefore = spark.conf.get("spark.sql.shuffle.partitions")
    val labels = graft.operators.Curation.connectedComponents(
      Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a_id", "b_id"))
    val m = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    // the caller's conf was never mutated — a query planned on `spark`
    // at ANY point during the loop keeps AQE (and its skew-splitting)
    assert(spark.conf.get("spark.sql.adaptive.enabled") == aqeBefore)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == partsBefore)
    // the returned frame stays on the caller's session, so downstream
    // consumers plan with the caller's AQE
    assert(labels.sparkSession eq spark)
  }

  test("d24 cluster sizes are consistent with the labeling") {
    val rows = q("d24_dup_clusters").collect()
    val byCluster = rows.groupBy(_.getLong(1))
    rows.foreach { r =>
      assert(r.getLong(2) == byCluster(r.getLong(1)).length.toLong)
    }
    // near-dup clustering must produce at least one non-trivial group
    assert(byCluster.values.exists(_.length >= 2))
  }

  test("d43 verdicts agree with the standalone operators it composes") {
    val rows = q("d43_curation_pipeline").collect()
    assert(rows.nonEmpty)
    val verdicts = rows.map(r => r.getLong(0) -> r.getString(7)).toMap
    // no bench doc in the output; the quality gate is exactly d21's rule
    rows.foreach { r =>
      val (id, nWords, stopRatio, qOk) =
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3))
      assert(id % 10 != 0 || id >= 1000, s"bench doc $id leaked")
      assert(qOk == (stopRatio >= 0.05 && nWords >= 5 && nWords <= 500))
      assert((r.getString(7) == "drop_quality") == !qOk)
    }
    // decontamination stage: n_hit_grams must equal d22's count per doc
    // (d43 probes via the SortedHitCount kernel, d22 via a broadcast
    // join — value equality proves the fused probe)
    val d22 = q("d22_decontaminate").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      assert(r.getLong(6) == d22(r.getLong(0)),
        s"doc ${r.getLong(0)}: d43 n_hit=${r.getLong(6)} vs d22=${d22(r.getLong(0))}")
    }
    // near-dup stage: every drop is backed by a d04 candidate pair
    // whose lower side survived the exact stage (the pairwise keep-min
    // rule over d04's pair set, restricted to train docs)
    val exactSurvivor = rows.filter(r =>
      !Set("drop_quality", "drop_exact_dup")(r.getString(7)))
      .map(_.getLong(0)).toSet
    val d04 = graft.operators.Dedup.queries("d04_minhash_lsh")(spark, sf)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val droppedNear = rows.filter(_.getString(7) == "drop_near_dup").map(_.getLong(0)).toSet
    assert(droppedNear.nonEmpty, "near-dup stage never fired — fixture lost its dup structure")
    droppedNear.foreach { b =>
      assert(d04.exists { case (a, bb) => bb == b && a < b && exactSurvivor(a) },
        s"doc $b dropped as near-dup without a surviving d04 partner")
    }
    // and every kept doc is clean on all four gates
    val kept = rows.filter(_.getString(7) == "keep")
    assert(kept.nonEmpty)
    kept.foreach { r =>
      assert(r.getBoolean(3) && !r.getBoolean(5) && r.getLong(6) == 0L
        && r.getLong(4) == r.getLong(0)) // keeper == itself
    }
    assert(verdicts.size == rows.length)
  }

  test("d25 finds exactly the injected PII and nothing in clean docs") {
    val rows = q("d25_pii_scrub")
      .select("doc_id", "n_emails", "n_ips", "n_phones", "has_pii").collect()
    rows.foreach { r =>
      val id = r.getLong(0)
      assert(r.getLong(1) == (if (id % 5 == 0) 1L else 0L), s"doc $id emails=${r.getLong(1)}")
      assert(r.getLong(2) == (if (id % 7 == 0) 1L else 0L), s"doc $id ips=${r.getLong(2)}")
      assert(r.getLong(3) == (if (id % 11 == 0) 1L else 0L), s"doc $id phones=${r.getLong(3)}")
      assert(r.getBoolean(4) == (id % 5 == 0 || id % 7 == 0 || id % 11 == 0))
    }
  }

  test("d25 redaction removes every match (no PII survives in the redacted text)") {
    // rebuild the redacted text (the query ships only its hash) with
    // the SAME production injection + patterns (not copies that could
    // drift), and re-scan it: zero residual matches
    import graft.operators.Curation
    val df = Curation.queries("d25_pii_scrub")(spark, sf)
    val residual = Curation.withPii(graft.sources.Tables.documents(spark, sf))
      .withColumn("red",
        regexp_replace(regexp_replace(regexp_replace(col("raw"),
          Curation.emailRe, "<EMAIL>"),
          Curation.ipRe, "<IP>"),
          Curation.phoneRe, "<PHONE>"))
      .filter(col("red").rlike(Curation.emailRe)
        || col("red").rlike(Curation.ipRe)
        || col("red").rlike(Curation.phoneRe))
      .count()
    assert(residual == 0L, s"$residual docs still carry PII after redaction")
    assert(df.count() > 0)
  }

  test("d51 mix plan: shares partition the corpus and the plan conserves the token budget") {
    val rows = q("d51_mix_plan")
      .select("n_tokens", "actual_frac", "target_frac", "weight", "epochs")
      .collect()
    assert(rows.nonEmpty)
    val actualSum = rows.map(_.getDouble(1)).sum
    val targetSum = rows.map(_.getDouble(2)).sum
    assert(math.abs(actualSum - 1.0) < 1e-9, s"actual shares sum to $actualSum")
    assert(math.abs(targetSum - 1.0) < 1e-9, s"target shares sum to $targetSum")
    rows.foreach { r =>
      val (target, actual, w, e) =
        (r.getDouble(2), r.getDouble(1), r.getDouble(3), r.getLong(4))
      assert(e == math.ceil(w).toLong && e >= 1L)
      assert((w > 1.0) == (target > actual),
        "upsampling iff the source is under-represented")
    }
    // conservation: Σ weight·n_tokens = Σ target_frac·total = total —
    // the plan REDISTRIBUTES the token budget, it never grows it
    val total = rows.map(_.getLong(0)).sum.toDouble
    val planned = rows.map(r => r.getDouble(3) * r.getLong(0)).sum
    assert(math.abs(planned - total) < 1e-6 * total,
      s"planned tokens $planned vs budget $total")
  }

  test("d55 blocklist: no false negatives, exact stage equals a direct deny join, FPR within budget") {
    import graft.operators.Curation
    val out = q("d55_blocklist_bloom").collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1), r.getBoolean(2))).toMap
    // ground truth: docs whose content fingerprint is on the deny-list
    val denyFps = Curation.denyList(spark, sf)
      .collect().map(_.getString(0)).toSet
    val truth = graft.sources.Tables.documents(spark, sf)
      .where(col("text").isNotNull)
      .select(col("doc_id"), md5(col("text")).as("fp")).collect()
      .map(r => r.getLong(0) -> denyFps(r.getString(1))).toMap
    // THE bloom invariant: a listed doc can never slip through — every
    // truly-blocked doc surfaces on the worklist with exact_hit
    truth.foreach { case (id, blocked) =>
      if (blocked) assert(out.get(id).exists(v => v._1 && !v._2),
        s"false negative: blocked doc $id passed the gate")
    }
    // the two-stage verdict equals the single-stage exact join
    out.foreach { case (id, (exact, fp)) =>
      assert(exact == truth(id), s"exact stage wrong for suspect $id")
      assert(fp == !exact)
    }
    // FPR budget: ~16 bits/key at k=3 targets ~0.5%; pin 2% with slack
    val nonDeny = truth.count(!_._2)
    val falsePos = out.values.count(_._2)
    assert(nonDeny > 0 && falsePos.toDouble / nonDeny <= 0.02,
      s"bloom FPR over budget: $falsePos/$nonDeny")
  }

  test("d59 forget plan: covers every requested doc in all three artifacts, chunk counts match the real chunker") {
    import graft.operators.Curation
    val plan = q("d59_forget_plan").collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val requested = Curation.forgetList(spark, sf)
      .collect().map(_.getLong(0)).toSet
    assert(requested.nonEmpty)
    // exactly the docket's docs, each in all three artifact classes
    assert(plan.keySet.map(_._1) == requested, "plan ids ≠ docket ids")
    requested.foreach { id =>
      Seq("corpus", "chunks", "postings").foreach(a =>
        assert(plan.contains((id, a)), s"doc $id missing artifact $a"))
      assert(plan((id, "corpus")) == 1L && plan((id, "postings")) == 1L)
    }
    // the per-row chunk-geometry law equals the REAL chunker's output
    val actualChunks = Curation.chunkDocs(
        graft.sources.Tables.documents(spark, sf))
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    requested.foreach { id =>
      assert(plan((id, "chunks")) == actualChunks(id),
        s"chunk-law count diverges from chunkDocs for doc $id")
    }
  }

  test("d57 split: total, deterministic, and exact-dup cohesive (no cross-split content leak)") {
    val out = q("d57_data_split").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    val docs = graft.sources.Tables.documents(spark, sf)
      .where(col("text").isNotNull)
      .select(col("doc_id"), md5(col("text")).as("fp")).collect()
    assert(out.keySet == docs.map(_.getLong(0)).toSet, "split must cover every doc")
    out.values.foreach { case (b, sp) =>
      assert(b >= 0 && b < 100)
      assert(sp == (if (b < 80) "train" else if (b < 90) "val" else "test"))
    }
    // the leak-prevention property: byte-identical bodies share a split
    docs.groupBy(_.getString(1)).foreach { case (fp, grp) =>
      val splits = grp.map(r => out(r.getLong(0))._2).distinct
      assert(splits.length == 1,
        s"content $fp straddles splits ${splits.mkString(",")}")
    }
    // all three splits are populated on this corpus
    assert(out.values.map(_._2).toSet == Set("train", "val", "test"))
  }

  test("d54 drift: shares partition each snapshot, drift numerator is the exact share gap, fixture drifts") {
    val rows = q("d54_corpus_drift").collect()
    assert(rows.nonEmpty)
    val sharePrev = rows.map(_.getDouble(4)).sum
    val shareCurr = rows.map(_.getDouble(5)).sum
    assert(math.abs(sharePrev - 1.0) < 1e-9, s"prev shares sum to $sharePrev")
    assert(math.abs(shareCurr - 1.0) < 1e-9, s"curr shares sum to $shareCurr")
    val totPrev = rows.map(_.getLong(2)).sum
    val totCurr = rows.map(_.getLong(3)).sum
    rows.foreach { r =>
      val (np, nc, num) = (r.getLong(2), r.getLong(3), r.getLong(6))
      // the integer numerator IS |Δshare| scaled by totPrev·totCurr —
      // exact, no float summation
      assert(num == math.abs(np * totCurr - nc * totPrev))
      // the length bar makes short-bucket strata impossible in curr
      if (r.getLong(1) < 3) assert(nc == 0L,
        s"curr snapshot leaked a short doc into bucket ${r.getLong(1)}")
    }
    // the fixture must actually drift (the gate has something to catch):
    // some stratum present in prev vanished from curr
    assert(rows.exists(r => r.getLong(2) > 0 && r.getLong(3) == 0),
      "fixture produced no drifting stratum")
  }
}
