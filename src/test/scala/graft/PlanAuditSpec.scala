package graft

/** Audit: self-join operators must not recompute their expensive
  * subtree — the exchange feeding both sides should be reused — and
  * every query's plan holds to the scans and exchanges its record
  * pins. */
class PlanAuditSpec extends SparkSpec {

  private def audit(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect()
    df.queryExecution.executedPlan.toString
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

  /** The plan-pin ratchet, one test per SURVEY §2 section, keyed by
    * query-id prefix. */
  private val sections: Seq[(String, String, Set[Char])] = Seq(
    ("§2.A/§2.B", "every relational/backup query reads its big tables at most the pinned number of times", Set('q', 'b')),
    ("§2.C", "every operator reads its big table at most the pinned number of times", Set('d')),
    ("§2.D", "every streaming batch-equivalent reads its big tables at most the pinned number of times", Set('s')))

  for ((section, claim, prefixes) <- sections) {
    test(s"$section scan-count ratchet: $claim") {
      // [[ScanCount.live]] counts MATERIALIZED big-table scans (reused
      // exchanges and persisted relations count once, at their single
      // materialization) — the structural guard against double-evaluation
      // regressions (pre-r7 d35 scanned and folded the corpus twice) — and
      // the exchanges of the pre-execution adaptive plan, so a new stage
      // fails structurally. Both must equal the record's `Pins`: a count
      // above its pin is a regression, one below is progress that
      // tightens the pin. Each failure line is the `Pins(...)` to paste
      // (`graft.ScanCountProbe` prints the same).
      val specs = SparkEntry.specs.filter(q => prefixes(q.id.head)).sortBy(_.id)
      assert(specs.nonEmpty, s"no $section queries")
      val drift = specs.flatMap { q =>
        val live = ScanCount.live(spark, q, sf)
        Option.unless(live.matches(q.pins))(
          s"${q.id}: live ${ScanCount.syntax(live.pins(q.pins))}, declared ${ScanCount.syntax(q.pins)}")
      }
      assert(drift.isEmpty, s"$section plan pins drifted:\n${drift.mkString("\n")}")
    }
  }

  test("every query falls in exactly one scan-count ratchet section") {
    val stray = SparkEntry.specs.map(_.id)
      .filter(id => sections.count(_._3(id.head)) != 1)
    assert(stray.isEmpty, s"queries outside the ratchet sections: ${stray.sorted.mkString(", ")}")
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
