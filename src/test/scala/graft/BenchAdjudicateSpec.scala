package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench regression gate is a pure function of (results, baseline) —
  * spec'd directly so the stall-vs-regression split can't silently rot.
  * (Three rounds of recorded benches needed a human to adjudicate VM
  * throttle windows; this is the mechanical replacement.) */
class BenchAdjudicateSpec extends AnyFunSuite with SparkTestBase {

  private val base = (1 to 10).map(i => f"q$i%02d" -> 1.0).toMap

  private def run(times: (String, Double)*): String =
    Bench.adjudicate(times.toSeq, base)

  test("clean run: no flags, verdict clean") {
    val out = run((1 to 10).map(i => f"q$i%02d" -> 1.1): _*)
    assert(out.contains("\"bench_verdict\":\"clean\""), out)
    assert(out.contains("\"stall_windows\":[]") && out.contains("\"suspects\":[]"), out)
  }

  test("contiguous window of >= 3 regressions = VM stall, not code") {
    val times = (1 to 10).map { i =>
      val s = if (i >= 4 && i <= 7) 9.0 else 1.1 // q04-q07 inflate together
      f"q$i%02d" -> s
    }
    val out = run(times: _*)
    assert(out.contains("\"bench_verdict\":\"vm_stall\""), out)
    assert(out.contains("\"q04\",\"q05\",\"q06\",\"q07\""), out)
    assert(out.contains("\"suspects\":[]"), out)
  }

  test("isolated regression = code suspect, even alongside a stall window") {
    val times = (1 to 10).map { i =>
      val s = if (i >= 4 && i <= 6) 9.0 else if (i == 9) 5.0 else 1.1
      f"q$i%02d" -> s
    }
    val out = run(times: _*)
    assert(out.contains("\"bench_verdict\":\"code_regression_suspect\""), out)
    assert(out.contains("\"suspects\":[\"q09\"]"), out)
    assert(out.contains("\"q04\",\"q05\",\"q06\""), out)
  }

  test("small ratios and sub-absolute deltas are not regressions") {
    // 1.9x ratio: under the 2x gate; 3x on a 0.1 s baseline: under the
    // 0.5 s absolute gate (tiny-query jitter)
    val b = Map("q01" -> 1.0, "q02" -> 0.1)
    val out = Bench.adjudicate(Seq("q01" -> 1.9, "q02" -> 0.3), b)
    assert(out.contains("\"bench_verdict\":\"clean\""), out)
  }

  test("queries missing from the baseline (new this round) never flag") {
    val out = Bench.adjudicate(Seq("q01" -> 1.1, "q99_new" -> 50.0), base)
    assert(out.contains("\"bench_verdict\":\"clean\""), out)
  }

  test("no baseline file = explicit no_baseline verdict") {
    val out = Bench.adjudicate(Seq("q01" -> 1.0), Map.empty)
    assert(out.contains("\"bench_verdict\":\"no_baseline\""), out)
  }

  // --- end-of-suite adjudication rerun (round-8 judge directive #7) ---

  test("flaggedNames: both thresholds required, baseline-missing exempt") {
    val b = Map("q01" -> 1.0, "q02" -> 0.1, "q03" -> 1.0)
    val flagged = Bench.flaggedNames(
      Seq("q01" -> 5.0,      // 5x and +4.0 s -> flagged
          "q02" -> 0.3,      // 3x but +0.2 s: under absolute gate
          "q03" -> 1.4,      // +0.4 s and 1.4x: under both
          "q99" -> 50.0),    // no baseline: never flagged
      b)
    assert(flagged == Seq("q01"), flagged)
  }

  test("rerun refutes a throttle-window flag: merged min re-adjudicates clean") {
    // q09 inflates in-suite (isolated -> code_regression_suspect)...
    val inSuite = (1 to 10).map(i => f"q$i%02d" -> (if (i == 9) 5.0 else 1.1))
    assert(Bench.flaggedNames(inSuite, base) == Seq("q09"))
    assert(run(inSuite: _*).contains("code_regression_suspect"))
    // ...the standalone rerun lands at baseline; the record takes the min
    // and the SAME adjudication now returns clean — the loop the judge
    // ran by hand, executed before the verdict is emitted.
    val rerun = Map("q09" -> 1.05)
    val merged = inSuite.map { case (n, s) =>
      n -> math.min(s, rerun.getOrElse(n, s)) }
    assert(Bench.flaggedNames(merged, base).isEmpty)
    assert(run(merged: _*).contains("\"bench_verdict\":\"clean\""))
  }

  test("rerun cannot mask a real regression: still flagged after merge") {
    val inSuite = (1 to 10).map(i => f"q$i%02d" -> (if (i == 9) 5.0 else 1.1))
    val rerun = Map("q09" -> 4.8) // reproduces standalone
    val merged = inSuite.map { case (n, s) =>
      n -> math.min(s, rerun.getOrElse(n, s)) }
    assert(Bench.flaggedNames(merged, base) == Seq("q09"))
    assert(run(merged: _*).contains("code_regression_suspect"))
  }

  // --- baseline reseed ratchet guard (round-9 judge directive #5) ---

  test("mergeBaseline: reseed takes per-query min(new, old) — a degraded " +
      "run's regime cannot raise the bar") {
    val old = Map("q01" -> 1.0, "q02" -> 3.0)
    val fresh = Seq("q01" -> 1.5, "q02" -> 2.0, "q03" -> 4.0)
    val merged = Bench.mergeBaseline(old, fresh, wholesale = false).toMap
    assert(merged("q01") == 1.0, "slower fresh time must not replace old")
    assert(merged("q02") == 2.0, "faster fresh time wins (real optimization)")
    assert(merged("q03") == 4.0, "new query seeds from its first run")
  }

  test("mergeBaseline: force mode replaces wholesale and removed queries " +
      "drop out") {
    val old = Map("q01" -> 1.0, "q09_gone" -> 2.0)
    val fresh = Seq("q01" -> 1.5)
    val forced = Bench.mergeBaseline(old, fresh, wholesale = true)
    assert(forced == Seq("q01" -> 1.5),
      "force takes the fresh time; q09_gone is not carried")
    val merged = Bench.mergeBaseline(old, fresh, wholesale = false)
    assert(merged == Seq("q01" -> 1.0),
      "min-merge also drops queries absent from this run")
  }

  test("split phase records: a serve regression invisible in the total " +
      "flags via its name:serve entry; build noise alone cannot flag " +
      "the serving path") {
    val pb = Map("q215:build" -> 12.0, "q215:serve" -> 0.5,
      "q215_hybrid_hnsw" -> 12.5)
    // serve 0.5 → 1.6 s (3.2× and +1.1 s), build steady: the TOTAL
    // moves 12.5 → 13.6 (1.09×, under both thresholds) — invisible
    val run1 = Seq("q215_hybrid_hnsw" -> 13.6)
    assert(Bench.flaggedNames(run1, pb).isEmpty,
      "the headline total must NOT flag a buried serve regression")
    val phases1 = Seq("q215:build" -> 12.0, "q215:serve" -> 1.6)
    assert(Bench.flaggedNames(phases1, pb) == Seq("q215:serve"),
      "the phase record must flag it")
    // conversely: build 12 → 30 s flags build, not serve
    val phases2 = Seq("q215:build" -> 30.0, "q215:serve" -> 0.5)
    assert(Bench.flaggedNames(phases2, pb) == Seq("q215:build"))
  }

  test("phaseJson groups name:phase records per query with _s keys; " +
      "headlineTotal excludes phase entries from the suite total") {
    val entries = Seq("q215:build" -> 12.0, "q215:serve" -> 0.5,
      "q203:build" -> 3.0, "q203:serve" -> 0.25)
    val js = Bench.phaseJson(entries)
    assert(js ==
      """{"q203":{"build_s":3.0,"serve_s":0.25},""" +
      """"q215":{"build_s":12.0,"serve_s":0.5}}""", js)
    assert(Bench.phaseJson(Seq.empty) == "{}")
    // the merged baseline holds headline AND phase entries; the file's
    // total must count each phased query once (its headline sum), not
    // three times
    val merged = Seq("q215_hybrid_hnsw" -> 12.5, "q01" -> 1.0) ++ entries
    assert(Bench.headlineTotal(merged) == 13.5)
  }

  test("many-phase composites (q180 gates, q344 batches): one gate's " +
      "regression flags its own record while the headline and every " +
      "other gate stay clean") {
    val pb = Map("q180_curation_full" -> 14.2,
      "q180:dedup" -> 0.8, "q180:langid" -> 3.7, "q180:neardup" -> 4.8,
      "q180:gates" -> 2.8, "q180:admit" -> 2.1,
      "q344:batch1" -> 4.1, "q344:batch2" -> 7.7, "q344:batch3" -> 5.1)
    // neardup 4.8 → 2.2 s slower: headline 14.2 → 16.4 (1.15×, under
    // the 2× bar) — only the gate's own record trips
    val run = Seq("q180_curation_full" -> 16.4)
    assert(Bench.flaggedNames(run, pb).isEmpty)
    val phases = Seq("q180:dedup" -> 0.8, "q180:langid" -> 3.7,
      "q180:neardup" -> 11.0, "q180:gates" -> 2.8, "q180:admit" -> 2.1)
    assert(Bench.flaggedNames(phases, pb) == Seq("q180:neardup"))
    // a per-batch record isolates state-growth regressions the same way
    val batches = Seq("q344:batch1" -> 4.1, "q344:batch2" -> 7.7,
      "q344:batch3" -> 16.0)
    assert(Bench.flaggedNames(batches, pb) == Seq("q344:batch3"))
    // and the five-phase JSON groups under one query key
    val js = Bench.phaseJson(phases)
    assert(js.startsWith("""{"q180":{""") && js.contains("\"neardup_s\":11.0"), js)
  }

  test("mergeBaseline treats phase keys like any query: per-phase min " +
      "on reseed, wholesale on force") {
    val old = Map("q215:serve" -> 0.5, "q215:build" -> 12.0)
    val fresh = Seq("q215:serve" -> 0.8, "q215:build" -> 10.0)
    val merged = Bench.mergeBaseline(old, fresh, wholesale = false).toMap
    assert(merged("q215:serve") == 0.5 && merged("q215:build") == 10.0)
  }

  test("runsFor: sub-0.5s baselines run once (they are never the " +
      "regression signal), the 0.5-1.5s band runs min-of-2 (r14 ask " +
      "#6 - the standalone rerun, not a third sample, adjudicates " +
      "noise now), everything else keeps the configured repeats") {
    assert(Bench.runsFor(Some(0.1), 2) == 1)
    assert(Bench.runsFor(Some(0.49), 2) == 1)
    assert(Bench.runsFor(Some(0.5), 2) == 2)
    assert(Bench.runsFor(Some(1.49), 2) == 2)
    assert(Bench.runsFor(Some(1.5), 2) == 2)
    // r13 ask #3b: the suite's biggest entries run once — a real 2×
    // regression on a ≥5 s query is unmistakable in one sample and the
    // budgeted rerun adjudicates stalls
    assert(Bench.runsFor(Some(4.99), 2) == 2)
    assert(Bench.runsFor(Some(5.0), 2) == 1)
    assert(Bench.runsFor(Some(20.0), 2) == 1)
    assert(Bench.runsFor(None, 2) == 2, "new queries keep min-of-N")
    // a caller asking for more repeats is never cut below it in the
    // magnet band
    assert(Bench.runsFor(Some(0.8), 5) == 5)
  }

  test("rerunOrder: a wall-budgeted rerun spends its budget on the " +
      "largest absolute excess first; unbaselined flags go last") {
    val inSuite = Map("qA" -> 10.0, "qB" -> 3.0, "qC" -> 100.0,
      "qD:serve" -> 2.0)
    val base = Map("qA" -> 1.0, "qB" -> 0.5, "qC" -> 96.0)
    // excesses: qA 9, qB 2.5, qC 4 -> qA, qC, qB; qD:serve (no
    // baseline, excess treated as its in-suite time 2.0) slots by value
    assert(Bench.rerunOrder(Seq("qB", "qC", "qA"), inSuite, base) ==
      Seq("qA", "qC", "qB"))
    assert(Bench.rerunOrder(Seq("qB", "qD:serve"), inSuite, base) ==
      Seq("qB", "qD:serve"))
    // duplicates collapse (a query flagged by total AND phase reruns once)
    assert(Bench.rerunOrder(Seq("qA", "qA"), inSuite, base) == Seq("qA"))
  }

  test("bench phases are marks in the checked bodies: q370 and q362 " +
      "mark their build, the unmarked q371 records none") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_phase_sf").toString
    val words = Seq("the", "fast", "key", "order", "sort", "table", "scan",
      "merge", "part", "window", "small", "hash", "join", "batch", "stream")
    (0L until 300L).map { i =>
      (i, (0 until 120).map(j => words(((i * 7 + j * j) % 15).toInt))
        .mkString(" "))
    }.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    (0L until 64L).map(i => (i, (0 until 8).map(j => math.sin(i * 8 + j).toFloat)))
      .toDF("vec_id", "embedding").write.parquet(s"$dir/embeddings.parquet")
    def marks(q: String): Seq[String] =
      Phase.record(SparkEntry.queries(q)(spark, dir).count())._2.map(_._1)
    assert(marks("q370_ivf_quantized") == Seq("build"))
    assert(marks("q362_sa_stats_incremental") == Seq("build"))
    assert(marks("q371_phrase_search").isEmpty)
    Seq(dir, SparkEntry.prebuiltPath(dir)).foreach(d =>
      graft.ops.Joins.deleteRecursively(new java.io.File(d)))
  }

  test("composeVerdict: budget-starved flags are unadjudicated, not a " +
      "regression; an adjudicated survivor still cries code") {
    def v(base: String, still: Seq[String], skipped: Seq[String],
        phase: Seq[String] = Nil, failed: Seq[String] = Nil,
        flaky: Seq[String] = Nil) =
      Bench.composeVerdict(failed, flaky, phase, base, still, skipped)
    // every surviving flag was skipped → budget exhausted, not code
    assert(v("code_regression_suspect", Seq("q04", "q13"),
      Seq("q04", "q13", "q99")) == "rerun_budget_exhausted")
    // one survivor WAS adjudicated (not in skipped) → real suspect
    assert(v("code_regression_suspect", Seq("q04", "q77"),
      Seq("q04")) == "code_regression_suspect")
    // no skips → verdicts pass through
    assert(v("clean", Nil, Nil) == "clean")
    assert(v("vm_stall", Seq("q04"), Nil) == "vm_stall")
    // a live phase suspect keeps the code verdict even when every
    // query-level flag was skipped
    assert(v("code_regression_suspect", Seq("q04"), Seq("q04"),
      phase = Seq("q215:serve")) == "code_regression_suspect")
    // but a phase flag whose QUERY was budget-skipped is unadjudicated
    assert(v("code_regression_suspect", Seq("q04"), Seq("q04", "q215"),
      phase = Seq("q215:serve")) == "rerun_budget_exhausted")
    assert(v("clean", Nil, Seq("q215"),
      phase = Seq("q215:serve")) == "clean")
    // failures and flakiness still dominate everything
    assert(v("clean", Nil, Nil, failed = Seq("qX")) == "failed_queries")
    assert(v("clean", Nil, Nil, flaky = Seq("qX")) == "flaky_queries")
  }

  test("composeVerdict: a suite-budget-truncated run is " +
      "suite_budget_exhausted — nothing downstream was adjudicated, so " +
      "no flag verdict may fire; failures among what DID run dominate") {
    def v(base: String, still: Seq[String], skipped: Seq[String],
        notRun: Seq[String], phase: Seq[String] = Nil,
        failed: Seq[String] = Nil, flaky: Seq[String] = Nil) =
      Bench.composeVerdict(failed, flaky, phase, base, still, skipped,
        notRun)
    assert(v("clean", Nil, Nil, notRun = Seq("q370", "q371")) ==
      "suite_budget_exhausted")
    // flags existed but the rerun was skipped wholesale: still the
    // budget verdict, never code_regression_suspect
    assert(v("code_regression_suspect", Seq("q04"), Seq("q04"),
      notRun = Seq("q370")) == "suite_budget_exhausted")
    assert(v("vm_stall", Seq("q04"), Seq("q04"),
      notRun = Seq("q370")) == "suite_budget_exhausted")
    // a phase suspect is equally unadjudicated under truncation
    assert(v("clean", Nil, Seq("q215"), notRun = Seq("q370"),
      phase = Seq("q215:serve")) == "suite_budget_exhausted")
    // but a query that FAILED among those that ran still dominates
    assert(v("clean", Nil, Nil, notRun = Seq("q370"),
      failed = Seq("q01")) == "failed_queries")
    assert(v("clean", Nil, Nil, notRun = Seq("q370"),
      flaky = Seq("q01")) == "flaky_queries")
    // empty not_run changes nothing
    assert(v("clean", Nil, Nil, notRun = Nil) == "clean")
  }

  test("suite arithmetic: the committed baseline's worst-case measured " +
      "compute (sum of baseline x runsFor over headline entries) stays " +
      "under the default 900s suite budget with margin for the " +
      "unbaselined entries and per-query overhead") {
    val committed = Bench.loadBaseline()
    assume(committed.nonEmpty, "no committed baseline in this checkout")
    val headline = committed.filterNot(_._1.contains(":"))
    val measured = headline.map { case (_, b) =>
      b * Bench.runsFor(Some(b), 2) }.sum
    assert(measured < 800.0,
      f"worst-case measured compute $measured%.0f s leaves no margin " +
        "under the 900 s default suite budget - retune runsFor or the " +
        "budget DELIBERATELY (this is the wall-kill guard)")
  }

  test("partialJson: the incremental sidecar record is parseable JSON " +
      "with partial=true, the completed/selected counts, per-query " +
      "times, failures, and phase records") {
    val line = Bench.partialJson(
      Seq(("q01", 0.5, 6L), ("q02", 1.25, -1L), ("q03", 0.25, 10L)),
      383, "/root/testdata/sf0.1",
      Seq("q03:build" -> 0.2, "q03:serve" -> 0.05))
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(line)
    assert(node.get("partial").asBoolean())
    assert(node.get("completed").asInt() == 3)
    assert(node.get("selected").asInt() == 383)
    assert(node.get("queries").get("q02").asDouble() == 1.25)
    assert(node.get("queries").size() == 3)
    assert(node.get("failed").size() == 1 &&
      node.get("failed").get(0).asText() == "q02")
    assert(node.get("phases").get("q03").get("build_s").asDouble() == 0.2)
    assert(math.abs(node.get("value").asDouble() - 2.0) < 1e-9)
    // empty prefix (killed before the first query completes) still
    // yields a parseable record
    val empty = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Bench.partialJson(Nil, 383, "sf", Nil))
    assert(empty.get("completed").asInt() == 0 &&
      empty.get("partial").asBoolean())
  }

  test("strArr renders a JSON string array (the not_run record shape)") {
    assert(Bench.strArr(Nil) == "[]")
    assert(Bench.strArr(Seq("q370_int8_rerank", "q371_phrase_search")) ==
      """["q370_int8_rerank","q371_phrase_search"]""")
  }

  // --- r14 asks #1a/#1b/#3: degraded windows, anchored budgets, hook ---

  test("driftDegraded: the probe trips only past BOTH the ratio and the " +
      "absolute margin, and never on a sub-0.1s baseline") {
    assert(Bench.driftDegraded(0.9, 0.3), "3x and +0.6s trips")
    assert(!Bench.driftDegraded(0.55, 0.3), "under 2x does not")
    assert(!Bench.driftDegraded(0.12, 0.05),
      "a 0.05s baseline is jitter, not a drift probe")
    assert(!Bench.driftDegraded(0.25, 0.12),
      "2.1x but only +0.13s absolute - under the margin")
    assert(Bench.driftDegraded(2.4, 0.9), "r14's 2.7x window trips")
  }

  test("effectiveRerunBudget: the rerun budget is capped by what " +
      "remains of the process-anchored suite budget, never negative") {
    assert(Bench.effectiveRerunBudget(300.0, 900.0, 600.0) == 300.0)
    assert(Bench.effectiveRerunBudget(300.0, 900.0, 850.0) == 50.0)
    assert(Bench.effectiveRerunBudget(300.0, 900.0, 950.0) == 0.0)
    assert(Bench.effectiveRerunBudget(300.0, 900.0, 0.0) == 300.0)
  }

  test("LastLine.hookLine: prefers the final record over the partial, " +
      "fires at most once, and yields nothing before any record exists") {
    Bench.LastLine.reset()
    assert(Bench.LastLine.hookLine().isEmpty,
      "no record yet - the hook must stay silent")
    Bench.LastLine.reset()
    Bench.LastLine.partialLine = Some("""{"partial":true}""")
    assert(Bench.LastLine.hookLine().contains("""{"partial":true}"""),
      "a kill mid-suite emits the freshest partial")
    assert(Bench.LastLine.hookLine().isEmpty, "at most once")
    Bench.LastLine.reset()
    Bench.LastLine.partialLine = Some("""{"partial":true}""")
    Bench.LastLine.finalLine = Some("""{"metric":"total"}""")
    assert(Bench.LastLine.hookLine().contains("""{"metric":"total"}"""),
      "the final record wins over the partial - no duplicate data lines")
    Bench.LastLine.reset()
  }

  test("partialJson carries degraded_mode so a killed degraded run's " +
      "sidecar says its samples were single-run") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val on = mapper.readTree(Bench.partialJson(
      Seq(("q01", 0.9, 6L)), 383, "sf", Nil, degraded = true))
    assert(on.get("degraded_mode").asBoolean())
    val off = mapper.readTree(Bench.partialJson(Nil, 383, "sf", Nil))
    assert(!off.get("degraded_mode").asBoolean())
  }
}
