package graft

import org.scalatest.funsuite.AnyFunSuite

/** Unit gates for the bench harness's own safety logic (no SparkSession
  * needed — the timing plumbing is driven by the driver's real Bench run).
  */
class BenchSpec extends AnyFunSuite {

  test("slow-query ceiling names any reading over budget in the emitted JSON fragment") {
    // the r15 failure profile: a brand-new query with no drift baseline
    // that runs for minutes — must be named even though it completes
    val timings = Seq(
      "q01_amp_phase" -> 0.4,
      "q158_hilbert_key" -> 619.6,
      "shared_pair_table" -> 1.3,
      "q999_synthetic_slow" -> 31.0)
    assert(Bench.slowJson(timings) == """["q158_hilbert_key","q999_synthetic_slow"]""")
  }

  test("slow-query ceiling stays quiet when every reading is under budget") {
    val timings = Seq("q01_amp_phase" -> 0.4, "q147_trained_langid" -> 7.6,
      "q999_at_ceiling" -> Bench.slowCeilingSec) // AT the budget is not over it
    assert(Bench.slowJson(timings) == "[]")
  }

  test("ceiling is an explicit constant with sf0.1 headroom (every healthy query <= ~8s)") {
    assert(Bench.slowCeilingSec == 30.0)
  }

  test("load canary: the synthetic-load A/B — loaded legs flagged, idle legs clear") {
    // A: idle capture — every canary sample near the calibrated base
    val base = 0.030
    val idle = Seq("q120_gopher_full" -> 0.031, "q72_dedup_clusters_stars" -> 0.028,
      "q57_dedup_clusters" -> 0.055) // < 2x base: noisy but not loaded
    assert(Bench.canaryFlags(idle, base) == Nil)
    // B: the r17 driver profile — background load inflates the canary
    // next to exactly the legs whose timings came back 5-26x; those legs
    // must name themselves so the drift flags read as load, not plans
    val loaded = Seq("q120_gopher_full" -> 0.41, "q72_dedup_clusters_stars" -> 0.19,
      "q57_dedup_clusters" -> 0.02, "q169_nmi" -> 0.061)
    assert(Bench.canaryFlags(loaded, base) ==
      Seq("q120_gopher_full", "q169_nmi", "q72_dedup_clusters_stars"))
    // threshold is a strict multiple: AT 2x is not flagged
    assert(Bench.canaryFlags(Seq("x" -> 0.060), base) == Nil)
    assert(Bench.canaryFlags(Seq("x" -> 0.0601), base) == Seq("x"))
  }

  test("shared-input registry: the seven emitted legs, 22 consumers, every one a real query") {
    // Bench derives its shared legs and its warm/cold split from
    // Tables.shared alone; the leg names are parsed from the bench JSON
    val legs = Tables.shared.map(_.leg)
    assert(legs == Seq("shared_pair_table", "shared_component_table",
      "shared_centroid_table", "shared_classifier_weights",
      "shared_hashed_fp32", "shared_bigram_ce", "shared_bpe_merges"))
    assert(legs.distinct == legs)
    val consumers = Tables.shared.flatMap(_.consumers).toSet
    assert(consumers.size == 22, consumers.toSeq.sorted)
    val unknown = consumers.filterNot(SparkEntry.queries.contains)
    assert(unknown.isEmpty, s"consumers that are not queries: $unknown")
  }

  test("passes record: run-order [wall, canary] pairs, valid JSON shape (r20)") {
    // the driver and judge parse this field to adjudicate load-vs-plan;
    // its shape is contract — pairs stay in RUN ORDER (the correlation
    // between wall plateaus and canary inflation is the signal)
    assert(Bench.passesJson(Nil) == "[]")
    assert(Bench.passesJson(Seq((2.23, 0.301), (1.49, 0.266))) ==
      "[[2.23,0.301],[1.49,0.266]]")
  }
}
