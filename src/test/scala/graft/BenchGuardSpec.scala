package graft

import org.scalatest.funsuite.AnyFunSuite

/** The cross-round bench regression guard, unit-level (no 70 s sweep):
  * prior-artifact parsing including the poisoned-prior defenses, and
  * the trip condition shared by the re-run trigger and the `regressed`
  * output field. */
class BenchGuardSpec extends AnyFunSuite {

  private val fullLine =
    """{"metric":"total","value":3.1000,"unit":"sec",""" +
      """"queries":{"q_a":0.5000,"q_b":2.0000,"q_tiny":0.0500},""" +
      """"errors":{},""" +
      """"iterations":{"q_a":[0.6000,0.5000,0.7000],"q_b":[2.1000,2.0000]},""" +
      """"reran":[],""" +
      """"regressed":{"q_b":[2.0000,0.9000]},""" +
      """"baseline_subset_total":2.5000,"replay_events":0,"replay_sec":-1,""" +
      """"replay_iterations":[],"replay_msgs_per_sec":-1,"replay_mode":"fork",""" +
      """"replay_reran":false,""" +
      """"prior_window":{"q_a":[0.3000,0.5000],"q_b":[2.0000,1.0000,2.1000]},""" +
      """"sf":"/root/testdata/sf0.1"}"""

  test("full artifact line: min per query across queries+iterations, regressed map stripped") {
    val got = Bench.parsePriorQueries(fullLine)
    // the prior_window's 0.3 (a PAST round's figure) must not fold in
    // either — same poison class as the regressed pair below
    assert(got("q_a") == 0.5)
    // q_b's accepted figure is 2.0; the regressed pair's 0.9 PRE-regression
    // min must NOT re-inject (the prior could never advance otherwise)
    assert(got("q_b") == 2.0)
    assert(got("q_tiny") == 0.05)
  }

  test("prior_window: parsed per query, upper median wins, absent field falls back") {
    val w = Bench.parsePriorWindow(fullLine)
    assert(w("q_a") == Seq(0.3, 0.5))
    assert(w("q_b") == Seq(2.0, 1.0, 2.1))
    // upper median: even count takes the SLOWER middle — one
    // outlier-fast round can never set the prior alone
    assert(Bench.windowPrior(w("q_a")) == 0.5)
    assert(Bench.windowPrior(w("q_b")) == 2.0)
    assert(Bench.windowPrior(Seq(1.7)) == 1.7)
    // a line predating the field disarms the window (min-fold fallback)
    assert(Bench.parsePriorWindow(fullLine.replace("prior_window", "x")).isEmpty)
    // a front cut INSIDE the window map beheads its anchor: nothing parses
    val cut = fullLine.substring(fullLine.indexOf(""""q_b":[2.0000,1.0000"""))
    assert(Bench.parsePriorWindow(cut).isEmpty)
  }

  test("a TAIL-torn line (crash mid-write) cannot leak window/regressed entries into the min-fold") {
    // the write is temp+renamed so this should never exist on disk, but
    // the parser is the second fence: an anchored-but-UNTERMINATED map
    // (the tear removed the closing brace and everything after) must
    // strip to end-of-string, not leak its complete leading entries
    val wAnchor = """"prior_window":{"q_a":[0.3000,0.5000]"""
    val tornWindow = fullLine.substring(0, fullLine.indexOf(wAnchor) + wAnchor.length)
    assert(tornWindow.endsWith(wAnchor))
    val got = Bench.parsePriorQueries(tornWindow)
    assert(got("q_a") == 0.5, s"past-round window residue leaked: $got")
    // and the torn window disarms the median path (object never closes)
    assert(Bench.parsePriorWindow(tornWindow).isEmpty)
    // same tear landing inside the regressed map
    val rAnchor = """"regressed":{"q_b":[2.0000,0.9000]"""
    val tornRegressed = fullLine.substring(0, fullLine.indexOf(rAnchor) + rAnchor.length)
    assert(tornRegressed.endsWith(rAnchor))
    val got2 = Bench.parsePriorQueries(tornRegressed)
    assert(got2("q_b") == 2.0, s"pre-regression residue leaked: $got2")
    // a tear MID-NUMBER in the queries map ("q_b":2.0000 cut to
    // "q_b":2) must not parse the stump as a fake-fast prior — only
    // entries followed by ',' or '}' are complete
    val midNumber = fullLine.substring(0, fullLine.indexOf(""""q_b":2.0000""") + 8)
    assert(midNumber.endsWith(""""q_b":2."""))
    assert(!Bench.parsePriorQueries(midNumber).contains("q_b"),
      "truncated scalar stump must not become a prior")
  }

  test("an adjudicated-ambient round advances the prior: no repeat flag on the same figure") {
    // the q_neardup_jaccard history, compressed: round N-1's window holds
    // an outlier-fast 0.86 beside the steady 1.41 it flagged (and the
    // round adjudicated ambient, keeping the slower figure). Round N
    // measures the same steady ~1.5 s: under the old min-prior (0.86)
    // that flags AGAIN (1.5 > 0.86*1.5); under the window median it must
    // not — the accepted slower figure has advanced the prior.
    val window = Seq(0.86, 1.41)
    assert(Bench.crossRoundRegressed("q_x", Some(window.min), 1.5, 1.5),
      "min-prior would have re-flagged (the bug this window fixes)")
    assert(!Bench.crossRoundRegressed("q_x", Some(Bench.windowPrior(window)), 1.5, 1.5))
    // a GENUINE regression still trips through the median within two
    // rounds: steady 1.4s history, plan change lands 3s
    assert(Bench.crossRoundRegressed(
      "q_x", Some(Bench.windowPrior(Seq(1.38, 1.41, 1.44))), 3.0, 1.5))
  }

  test("tail truncated mid-iterations keeps the regressed strip working") {
    // the driver's artifact keeps only an output tail; a cut inside the
    // iterations map leaves the regressed anchor intact downstream
    val tail = fullLine.substring(fullLine.indexOf("""0.5000,0.7000]"""))
    val got = Bench.parsePriorQueries(tail)
    assert(got("q_b") == 2.0, s"regressed residue leaked into $got")
    // the cut beheaded q_a's entry — its residue must not half-parse
    assert(!got.contains("q_a"))
  }

  test("tail truncated mid-regressed cannot feed orphan pre-regression pairs to the guard") {
    // the cut removes the "regressed":{ anchor itself: the leftover
    // "q_b":[2.0000,0.9000]} residue escapes the strip regex — the
    // parser must discard everything before the next top-level key
    // instead of folding 0.9 back in (advisor finding, round 13)
    val tail = fullLine.substring(fullLine.indexOf(""""q_b":[2.0000,0.9000]"""))
    val got = Bench.parsePriorQueries(tail)
    assert(!got.contains("q_b"), s"orphan regressed residue re-injected: $got")
    assert(got.isEmpty, s"nothing after baseline_subset_total names a query: $got")
  }

  test("a cut landing exactly on the regressed map's opening brace cannot masquerade as an intact line") {
    // tail = {"q_b":[2.0000,0.9000]},... — starts with '{' but is NOT
    // the line head; only the real {"metric" prefix counts as intact
    val tail = fullLine.substring(fullLine.indexOf("""{"q_b":[2.0000,0.9000]"""))
    val got = Bench.parsePriorQueries(tail)
    assert(!got.contains("q_b"), s"brace-cut residue re-injected: $got")
  }

  test("unparseable or empty priors disarm the guard instead of throwing") {
    assert(Bench.parsePriorQueries("").isEmpty)
    assert(Bench.parsePriorQueries("not json at all").isEmpty)
  }

  test("a failed round carries the prior window UNCHANGED instead of erasing the history") {
    // measured round: this round's final min appends, capped at 3
    assert(Bench.rollWindow(Seq(1.0, 2.0, 3.0), Some(4.0)) == Seq(2.0, 3.0, 4.0))
    assert(Bench.rollWindow(Seq(1.7), Some(1.8)) == Seq(1.7, 1.8))
    assert(Bench.rollWindow(Nil, Some(0.9)) == Seq(0.9))
    // errored round (no figure): the multi-round window must survive —
    // dropping it would hand the recovered query to the single-min
    // fallback prior, re-exposing the outlier-fast-poison mode
    assert(Bench.rollWindow(Seq(1.3, 1.4, 1.5), None) == Seq(1.3, 1.4, 1.5))
    // a query with no history that also errored stays absent (empty)
    assert(Bench.rollWindow(Nil, None).isEmpty)
  }

  test("suppressed_in_band pairs never poison the next round's prior min-fold") {
    val line = """{"metric":"total","value":1.0,"unit":"sec",""" +
      """"queries":{"q_a":1.4800},"errors":{},"iterations":{"q_a":[1.4800,1.5000]},""" +
      """"reran":[],"regressed":{},"suppressed_in_band":{"q_a":[1.4800,0.8687]},""" +
      """"baseline_subset_total":1.0,"sf":"/x"}"""
    val got = Bench.parsePriorQueries(line)
    // the pair's 0.8687 prior is exactly the outlier-fast poison the
    // regressed-map strip exists for — same rule here
    assert(got.get("q_a").contains(1.48), s"suppressed pair leaked into prior: $got")
  }

  test("trip condition: factor breach above the floor re-runs and records; floor and no-prior disarm") {
    // the synthetic-prior scenario: last round 0.5 s, this round 0.9 s
    // at the 1.5x default → the guard must trip (re-run + regressed)
    val prior = Bench.parsePriorQueries(fullLine).get("q_a")
    assert(Bench.crossRoundRegressed("q_a", prior, 0.9, 1.5))
    // recovered after the re-run: min back under the threshold → clear
    assert(!Bench.crossRoundRegressed("q_a", prior, 0.7, 1.5))
    // sub-100 ms priors double on codegen jitter alone: floored out
    assert(!Bench.crossRoundRegressed("q_a", Some(0.05), 10.0, 1.5))
    // no prior (new query / disabled guard): never trips
    assert(!Bench.crossRoundRegressed("q_a", None, 99.0, 1.5))
  }

  test("artifact numbers are locale-pinned JSON (comma-decimal default must not corrupt)") {
    // f"%.4f" under a de/fr default locale emitted 0,1234 — invalid
    // JSON that failed the driver's parse and mis-fed the next round's
    // prior fold (r20 review finding); Json.num pins Locale.ROOT
    val old = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.GERMANY)
    try {
      assert(Json.num(0.1234) == "0.1234", Json.num(0.1234))
      assert(Json.num(-7.5) == "-7.5000")
      // and the string escaper survives control chars in any locale
      assert(Json.str("a\tb") == "\"a\\tb\\u0001\"")
    } finally java.util.Locale.setDefault(old)
  }
}
