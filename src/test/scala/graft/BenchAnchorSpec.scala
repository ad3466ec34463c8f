package graft

import org.scalatest.funsuite.AnyFunSuite

/** Contract tests for the round-13 bench-credibility layer: the
  * history-anchored lane sanity check and the combined (FP +
  * memory-bandwidth) health gate inside [[Bench.calibrated]]. These
  * exist because round 12's official close certified a 5.5×-inflated
  * fleet lane behind clean cycles-only calibration brackets — the
  * suspect/anchor machinery is the defense, so its decision logic is
  * pinned here with an injected health probe (no multi-second kernel
  * runs in the test).
  */
class BenchAnchorSpec extends AnyFunSuite {

  private val cleanHealth = Bench.HealthReading(0.40, 0.22)
  private val fpDirty = Bench.HealthReading(1.20, 0.22)
  private val bwDirty = Bench.HealthReading(0.40, 0.90)

  test("HealthReading gates on BOTH kernels — bandwidth theft alone is dirty") {
    assert(cleanHealth.clean)
    assert(!fpDirty.clean)
    assert(!bwDirty.clean, "a clean FP reading must not certify a bandwidth-stolen window")
  }

  test("extractObject pulls a flat sub-object; parseNumericFields reads its pairs") {
    val json =
      """{"sf": "/x/sf0.1", "lanes": {"fleet16_sec": 8.45, "stream_docs_per_sec": 1412.8},
        | "queries": {"p01": 4.841, "q17": 0.35, "neg": -1.0}}""".stripMargin
    val lanes = Bench.parseNumericFields(Bench.extractObject(json, "lanes"))
    assert(lanes == Map("fleet16_sec" -> 8.45, "stream_docs_per_sec" -> 1412.8))
    val qs = Bench.parseNumericFields(Bench.extractObject(json, "queries"))
    assert(qs("p01") == 4.841 && qs("neg") == -1.0)
    assert(Bench.extractObject(json, "absent") == "")
  }

  test("anchorSuspects: ratio gate AND absolute floor must both trip") {
    val anchors = Map("p01" -> 4.8, "q_fast" -> 0.10, "q_ok" -> 2.0)
    // p01 at 27s is the round-12 signature: 5.6x and +22s absolute
    val (med, sus) = Bench.anchorSuspects(
      Map("p01" -> 27.0, "q_fast" -> 0.30, "q_ok" -> 2.1), anchors)
    assert(sus == Seq("p01"))
    // q_fast tripled but only +0.2s — scheduler noise, not a suspect
    assert(!sus.contains("q_fast"))
    // suite median is the q_ok-ish middle, near 1
    assert(med > 0.9 && med < 3.1)
  }

  test("anchorSuspects: failed (-1) and zero-anchor entries are ignored") {
    val (med, sus) = Bench.anchorSuspects(
      Map("a" -> -1.0, "b" -> 9.0),
      Map("a" -> 1.0, "b" -> 0.0, "c" -> 5.0))
    assert(sus.isEmpty && med == -1.0)
  }

  test("anchorSuspects: empty anchors (sf mismatch) yields no suspects") {
    val (med, sus) = Bench.anchorSuspects(Map("a" -> 99.0), Map.empty)
    assert(med == -1.0 && sus.isEmpty)
  }

  test("calibrated retries a suspect lane and self-labels when it persists") {
    var laneRuns = 0
    val out = Bench.calibrated(
      "spec", maxAttempts = 3,
      suspect = _ => Some("fleet16_sec 46.08 vs anchor 8.45"),
      backoffMs = 1L, probe = () => cleanHealth
    ) { laneRuns += 1; s"""{"fleet16_sec":46.08,"run":$laneRuns}""" }
    assert(laneRuns == 3, "a suspect lane must exhaust its retries")
    assert(out.contains("\"lane_suspect\":true"))
    assert(out.contains("fleet16_sec 46.08 vs anchor 8.45"))
    assert(out.contains("\"degraded\":false"),
      "clean kernels + suspect lane is the round-12 signature: degraded stays false, lane_suspect carries the flag")
  }

  test("calibrated retries dirty-bandwidth brackets and labels degraded when they persist") {
    var laneRuns = 0
    val out = Bench.calibrated(
      "spec", maxAttempts = 2, backoffMs = 1L, probe = () => bwDirty
    ) { laneRuns += 1; """{"v":1}""" }
    assert(laneRuns == 2)
    assert(out.contains("\"degraded\":true"))
    assert(out.contains("\"lane_suspect\":false"))
    assert(out.contains("\"bw_before_sec\":0.9000"))
  }

  test("calibrated accepts the first clean, non-suspect attempt") {
    var laneRuns = 0
    val out = Bench.calibrated(
      "spec", maxAttempts = 3, backoffMs = 1L, probe = () => cleanHealth
    ) { laneRuns += 1; """{"v":1}""" }
    assert(laneRuns == 1)
    assert(out.contains("\"attempts\":1") && out.contains("\"degraded\":false"))
  }

  test("core count: parsed once to Int; anchors certify only at their top-level cpus") {
    assert(Bench.benchCpus(None) == 32)
    assert(Bench.benchCpus(Some(" 08")) == 8)
    assert(Bench.benchCpus(Some("auto")) == 32, "a non-number must not reach the JSON lines")

    val at32 = """{"sf": "/x/sf0.1", "cpus": 32, "lanes": {"fleet16_sec": 5.7}}"""
    assert(Bench.anchorCpusMatch(at32, 32))
    assert(!Bench.anchorCpusMatch(at32, 8))
    assert(Bench.anchorCpusMatch("""{"cpus": "8", "queries": {}}""", 8))
    // a legacy file without the field no longer certifies every core count
    val legacy = """{"sf": "/x/sf0.1", "queries": {"p01": 4.8}}"""
    assert(!Bench.anchorCpusMatch(legacy, 32))
    // only the top-level field counts, wherever a nested one appears
    val nested = """{"sf": "/x/sf0.1", "lanes": {"cpus": 32}, "cpus": 8}"""
    assert(!Bench.anchorCpusMatch(nested, 32) && Bench.anchorCpusMatch(nested, 8))
    assert(!Bench.anchorCpusMatch("""{"lanes": {"cpus": 32}}""", 32))
    assert(!Bench.anchorCpusMatch("", 32))
  }

  test("committed anchors file parses and matches the close shape") {
    val p = java.nio.file.Paths.get("bench/anchors.json")
    assume(java.nio.file.Files.exists(p))
    val json = java.nio.file.Files.readString(p)
    val qs = Bench.parseNumericFields(Bench.extractObject(json, "queries"))
    val lanes = Bench.parseNumericFields(Bench.extractObject(json, "lanes"))
    assert(qs.size >= 180, s"expected the full suite in anchors, got ${qs.size}")
    assert(lanes.keySet == Set("single_site_sec", "fleet16_sec", "stream_docs_per_sec"))
    assert(qs.values.forall(v => v > 0 && v < 60), "anchor medians must be sane seconds")
  }
}
