package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench slow-query guard (round-11, after a 658 s query landed in a
  * committed snapshot unremarked): pure-function laws over
  * [[Bench.slowUnremarked]] and [[Bench.shortKeys]] — no Spark session.
  */
class BenchGuardSpec extends AnyFunSuite {

  private val plans =
    """# PLANS
      |## q29_typedetect — two-pass floor
      |justification prose...
      |slow-budget: q29_typedetect 4.0
      |slow-budget: q999_documented_monster 700
      |slow-budget: malformed
      |slow-budget: q777_bad notanumber
      |""".stripMargin

  test("guard trips on a deliberately slowed query with no budget") {
    val offenders = Bench.slowUnremarked(
      Seq("q01_fast" -> 0.2, "q193_winnow_stream" -> 658.5), 5.0, plans)
    assert(offenders == Seq(("q193_winnow_stream", 658.5, 5.0)))
  }

  test("a committed slow-budget line exempts the query up to its budget") {
    // within budget: silent; above budget: trips with the budget as limit
    assert(Bench.slowUnremarked(
      Seq("q999_documented_monster" -> 650.0), 5.0, plans).isEmpty)
    assert(Bench.slowUnremarked(
      Seq("q999_documented_monster" -> 701.0), 5.0, plans) ==
      Seq(("q999_documented_monster", 701.0, 700.0)))
  }

  test("a budget can only raise the limit, never tighten below the default") {
    // q29's 4.0 budget is below the 5.0 default — the default wins
    assert(Bench.slowUnremarked(Seq("q29_typedetect" -> 4.5), 5.0, plans).isEmpty)
    assert(Bench.slowUnremarked(Seq("q29_typedetect" -> 5.5), 5.0, plans) ==
      Seq(("q29_typedetect", 5.5, 5.0)))
  }

  test("malformed budget lines are ignored, empty PLANS text means no budgets") {
    assert(Bench.slowUnremarked(Seq("q777_bad" -> 6.0), 5.0, plans) ==
      Seq(("q777_bad", 6.0, 5.0)))
    assert(Bench.slowUnremarked(Seq("q01_x" -> 6.0), 5.0, "") ==
      Seq(("q01_x", 6.0, 5.0)))
  }

  test("a red guard quarantines the snapshot instead of owning the canonical name") {
    // round 12: a run with a non-empty slow_unremarked must never write
    // BENCH_local_<sf>.json — it gets the .rejected.json quarantine suffix
    assert(Bench.snapshotSuffix(Nil) == ".json")
    assert(Bench.snapshotSuffix(Seq(("q154_minhash_dedup_portable", 16.32, 5.0))) ==
      ".rejected.json")
  }

  // The retry pass is the fork-isolated re-time: [[Bench.forkAdjudicate]]
  // over the fresh-JVM mins of one forked child.
  test("retry pass clears a contended first pass, keeps the improved min") {
    // round 13: the driver's r10/r11/r12 benches were all refused by the
    // guard while an idle re-run exonerated the code each time. Simulate
    // exactly that: two offenders whose main-pass mins landed inside a
    // contended window, both come back under budget on the fresh JVM.
    val contended = Seq(("q61_recall", 6.1, 5.0), ("q154_minhash", 16.3, 5.0))
    val freshMins = Map("q61_recall" -> 0.9, "q154_minhash" -> 2.1)
    val (updated, confirmed) = Bench.forkAdjudicate(contended, Nil, freshMins.get)
    assert(confirmed.isEmpty)                       // snapshot no longer refused
    assert(updated == freshMins)                    // artifact carries the real floor
    assert(Bench.snapshotSuffix(confirmed) == ".json")
  }

  test("retry pass refuses only confirmed offenders") {
    // one query is genuinely slow (the fresh JVM agrees), one was host noise
    val slow = Seq(("q_real_monster", 700.0, 5.0), ("q_noise", 9.0, 5.0))
    val (updated, confirmed) = Bench.forkAdjudicate(slow, Nil,
      Map("q_real_monster" -> 690.0, "q_noise" -> 1.2).get)
    assert(confirmed == Seq(("q_real_monster", 690.0, 5.0)))
    assert(updated == Map("q_real_monster" -> 690.0, "q_noise" -> 1.2))
    assert(Bench.snapshotSuffix(confirmed) == ".rejected.json")
  }

  test("a retry that throws never clears an offender and never worsens the min") {
    // no fresh sample (every re-time run threw): the main-pass evidence stands
    val (u1, c1) = Bench.forkAdjudicate(Seq(("q_x", 8.0, 5.0)), Nil, _ => None)
    assert(u1.isEmpty && c1 == Seq(("q_x", 8.0, 5.0)))
    // a re-time SLOWER than the main pass must not replace the min
    val (u2, c2) = Bench.forkAdjudicate(Seq(("q_y", 8.0, 5.0)), Nil, _ => Some(12.0))
    assert(u2.isEmpty && c2 == Seq(("q_y", 8.0, 5.0)))
  }

  test("per-sf default slow limit: 5s to sf0.1, 30s sf1-class, 30·sf above") {
    assert(Bench.defaultSlowLimit("sf0.001") == 5.0)
    assert(Bench.defaultSlowLimit("sf0.01") == 5.0)
    assert(Bench.defaultSlowLimit("sf0.1") == 5.0)
    assert(Bench.defaultSlowLimit("sf0.5") == 30.0)
    assert(Bench.defaultSlowLimit("sf1") == 30.0)
    assert(Bench.defaultSlowLimit("sf10") == 300.0)
    assert(Bench.defaultSlowLimit("sf100") == 3000.0)
    // non-GenScale-named dirs stay on the strict default
    assert(Bench.defaultSlowLimit("mydata") == 5.0)
    assert(Bench.defaultSlowLimit("sf") == 5.0)
  }

  test("parseCommittedMins reads the queries object of a committed snapshot") {
    val snap = """{"queries":{"q01":0.20,"q57":1.58,"q154":2.66},"sf":"/x/sf10",""" +
      """"errors":[],"slow_unremarked":[],"metric":"total","unit":"sec","value":4.44}"""
    assert(Bench.parseCommittedMins(snap) ==
      Map("q01" -> 0.20, "q57" -> 1.58, "q154" -> 2.66))
    // malformed / missing input is evidence-absent, never an error
    assert(Bench.parseCommittedMins("").isEmpty)
    assert(Bench.parseCommittedMins("{\"value\":3.0}").isEmpty)
    assert(Bench.parseCommittedMins("{\"queries\":{").isEmpty)
  }

  test("relative-inflation check flags >4x the committed min, above the noise floor") {
    // round 13's driver bench: q180 ×8.5, q17 ×6.0 vs the committed idle
    // snapshot — all under the 5 s absolute limit, so nothing tripped.
    val ref = Map("q17" -> 0.50, "q180" -> 0.40, "q01" -> 0.05)
    val keyOf = Map("q17_join_warn" -> "q17", "q180_audio_neardup" -> "q180",
      "q01_filter_columns" -> "q01", "q_new_query" -> "q_new_query")
    val mins = Seq(
      "q17_join_warn" -> 3.0,        // 6x ref, >= floor -> flagged
      "q180_audio_neardup" -> 3.4,   // 8.5x ref -> flagged
      "q01_filter_columns" -> 0.3,   // 6x ref but under the 0.5 s floor
      "q_new_query" -> 9.9)          // no reference -> not flagged here
    assert(Bench.slowRelative(mins, keyOf, ref) == Seq(
      ("q17_join_warn", 3.0, 2.0),
      ("q180_audio_neardup", 3.4, 1.6)))
    // within 4x: silent
    assert(Bench.slowRelative(Seq("q17_join_warn" -> 1.9), keyOf, ref).isEmpty)
    // a zero/negative reference min can never flag (guards the 0.00-rounded
    // committed entries)
    assert(Bench.slowRelative(Seq("q17_join_warn" -> 3.0), keyOf,
      Map("q17" -> 0.0)).isEmpty)
  }

  test("relative offenders clear through the same fork-isolated re-time") {
    // contended main pass: 6x the committed min; the fresh JVM lands at
    // 1.1x -> cleared (min spliced), nothing reported
    val ref = Map("q17" -> 0.50)
    val keyOf = Map("q17_join_warn" -> "q17")
    val flagged = Seq(("q17_join_warn", 3.0, 2.0))
    def reported(fresh: Double) = {
      val (updated, confirmed) = Bench.forkAdjudicate(Nil, flagged, _ => Some(fresh))
      assert(confirmed.isEmpty && updated == Map("q17_join_warn" -> fresh))
      Bench.slowRelative(Seq("q17_join_warn" -> updated("q17_join_warn")), keyOf, ref)
    }
    assert(reported(0.55).isEmpty)
    // a genuine regression survives the re-time and stays reported
    assert(reported(2.9) == Seq(("q17_join_warn", 2.9, 2.0)))
  }

  test("fork adjudication: a fresh-JVM min under the limit clears a confirmed offender") {
    // the r14 scenario verbatim: the in-JVM retry confirmed q176 at 6.37 s
    // (session pressure), the fresh JVM ran it at 1.73 s — the round's
    // official artifact must not be refused, and the snapshot carries the
    // isolated floor.
    val (updates, confirmed) = Bench.forkAdjudicate(
      Seq(("q176_winnow_pairs", 6.37, 5.0)), Nil,
      Map("q176_winnow_pairs" -> 1.73).get)
    assert(confirmed.isEmpty)
    assert(updates == Map("q176_winnow_pairs" -> 1.73))
  }

  test("fork adjudication: a genuinely slow query stays confirmed with the isolated min") {
    val (updates, confirmed) = Bench.forkAdjudicate(
      Seq(("q_real_monster", 700.0, 5.0)), Nil,
      Map("q_real_monster" -> 690.0).get)
    assert(confirmed == Seq(("q_real_monster", 690.0, 5.0)))
    assert(updates == Map("q_real_monster" -> 690.0))
    // a fresh sample SLOWER than the main pass never worsens the min but
    // still confirms (isolated evidence over the limit)
    val (u2, c2) = Bench.forkAdjudicate(
      Seq(("q_y", 8.0, 5.0)), Nil, Map("q_y" -> 12.0).get)
    assert(u2.isEmpty && c2 == Seq(("q_y", 8.0, 5.0)))
  }

  test("fork adjudication: fork failure keeps every offender at its main-pass min") {
    // the fork yields nothing: with no isolated sample an offender stands
    // on main-pass evidence (never silently cleared, never re-timed in the
    // pressured session)
    val offenders =
      Seq(("q_noise", 9.0, 5.0), ("q_monster", 700.0, 5.0), ("q_dead", 8.0, 5.0))
    val (updates, confirmed) = Bench.forkAdjudicate(offenders, Nil, _ => None)
    assert(updates.isEmpty)
    assert(confirmed == offenders)
    assert(Bench.snapshotSuffix(confirmed) == ".rejected.json")
  }

  test("fork adjudication: inflation candidates splice mins but never confirm") {
    // commit-gate candidates (> 2x ref, under the absolute limit): a fresh
    // min replaces a pressured one; a missing/slower fresh sample changes
    // nothing; none of them can ever refuse the snapshot
    val (updates, confirmed) = Bench.forkAdjudicate(
      Nil,
      Seq(("q74_cc", 3.67, 2.0), ("q75_keep", 3.94, 2.0), ("q70_x", 3.23, 2.0)),
      Map("q74_cc" -> 1.88, "q70_x" -> 4.0).get)
    assert(confirmed.isEmpty)
    assert(updates == Map("q74_cc" -> 1.88))
    // a query in BOTH sets is adjudicated once, as an absolute offender
    val (u2, c2) = Bench.forkAdjudicate(
      Seq(("q_both", 6.0, 5.0)), Seq(("q_both", 6.0, 2.0)),
      Map("q_both" -> 1.5).get)
    assert(c2.isEmpty && u2 == Map("q_both" -> 1.5))
  }

  test("reference ledger merges only downward and ignores non-positive mins") {
    val ref = Map("q01" -> 0.20, "q74" -> 1.88, "q176" -> 1.73)
    // a pressured run can't raise entries; a faster run lowers them; new
    // queries enter; -1 failure sentinels and 0.00-rounded values stay out
    val merged = Bench.mergeRefMins(ref, Map(
      "q01" -> 0.18,     // faster -> lowered
      "q74" -> 3.67,     // pressured -> ignored
      "q176" -> 1.73,    // equal -> unchanged
      "q197" -> 1.83,    // new -> added
      "q_fail" -> -1.0,  // failure sentinel -> never enters
      "q_zero" -> 0.0,   // would disable slowRelative forever -> never enters
      "q_tiny" -> 0.004, // serializes as 0.00 through the 2-dp formatter
      "q_edge" -> 0.005)) // smallest value that round-trips non-zero
    assert(merged == Map("q01" -> 0.18, "q74" -> 1.88, "q176" -> 1.73,
      "q197" -> 1.83, "q_edge" -> 0.005))
    // idempotent on itself
    assert(Bench.mergeRefMins(merged, merged) == merged)
  }

  test("shortKeys shortens to the q-number prefix only when unambiguous") {
    val ok = Bench.shortKeys(Seq("q01_filter", "q02_rename"))
    assert(ok == Map("q01_filter" -> "q01", "q02_rename" -> "q02"))
    // two queries sharing a q-number prefix: full names, nothing shadowed
    val clash = Bench.shortKeys(Seq("q01_filter", "q01_other"))
    assert(clash == Map("q01_filter" -> "q01_filter", "q01_other" -> "q01_other"))
  }
}
