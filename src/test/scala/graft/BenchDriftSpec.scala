package graft

import org.scalatest.funsuite.AnyFunSuite

/** The Bench per-query drift gate (VERDICT r16 #5): a slowed query must
  * trip it, in-batch scheduling jitter and brand-new queries must not.
  */
class BenchDriftSpec extends AnyFunSuite {

  private val reference = Map(
    "q42_minhash_lsh" -> 2.0,
    "q02_filter" -> 0.1,
    "q63_neardup_clusters" -> 3.0)

  test("a deliberately slowed query trips the gate with its ratio") {
    val measured = Map("q42_minhash_lsh" -> 4.1, "q63_neardup_clusters" -> 3.1)
    val d = Bench.drift(reference, measured)
    assert(d == Map("q42_minhash_lsh" -> 2.05))
  }

  test("small-absolute jitter on a cheap query does not trip (ratio alone is not enough)") {
    // 0.1s -> 0.3s is 3x but only 0.2s excess — in-batch core-sharing noise
    assert(Bench.drift(reference, Map("q02_filter" -> 0.3)).isEmpty)
  }

  test("a big query must exceed BOTH the ratio and the absolute floor") {
    // 3.0 -> 4.0 is +1.0s but only 1.33x — below the ratio gate
    assert(Bench.drift(reference, Map("q63_neardup_clusters" -> 4.0)).isEmpty)
    // 3.0 -> 4.6 is 1.53x and +1.6s — trips
    assert(Bench.drift(reference, Map("q63_neardup_clusters" -> 4.6)) ==
      Map("q63_neardup_clusters" -> 1.53))
  }

  test("queries with no committed reference (new this round) never drift") {
    assert(Bench.drift(reference, Map("q99_brand_new" -> 60.0)).isEmpty)
  }

  test("a scheduling fluke dies at the serial re-measure (r17 false-alarm mold)") {
    // in-batch wall tripped the gate, but alone on all cores the query
    // is back at its reference — pool placement, not a regression
    val suspects = Bench.drift(reference, Map("q42_minhash_lsh" -> 4.1))
    assert(suspects.nonEmpty)
    assert(Bench.confirmDrift(suspects, reference, _ => 1.9).isEmpty)
  }

  test("a real regression survives the serial re-measure and reports the serial ratio") {
    val suspects = Bench.drift(reference, Map("q42_minhash_lsh" -> 4.1))
    assert(Bench.confirmDrift(suspects, reference, _ => 4.5) ==
      Map("q42_minhash_lsh" -> 2.25))
  }

  test("a query that FAILS its serial re-measure confirms drift (capped ratio), never clears it") {
    // a swallowed exception would measure near-zero wall and clear the
    // suspect — the re-measure reports infinity instead, capped for JSON
    val suspects = Bench.drift(reference, Map("q42_minhash_lsh" -> 4.1))
    assert(Bench.confirmDrift(suspects, reference, _ => Double.PositiveInfinity) ==
      Map("q42_minhash_lsh" -> 99.0))
  }

  test("serial confirmation applies the same absolute floor as the gate") {
    // cheap-query serial jitter: 3x the 0.1s reference but only +0.25s
    val suspects = Map("q02_filter" -> 3.5)
    assert(Bench.confirmDrift(suspects, reference, _ => 0.35).isEmpty)
  }

  test("canaryFactor: clean window, missing reference, and failed canary all report 1.0") {
    assert(Bench.canaryFactor(0.14, Some(0.135)) == 1.0) // at reference
    assert(Bench.canaryFactor(0.19, Some(0.135)) == 1.0) // 1.4x — under the ratio gate
    assert(Bench.canaryFactor(0.22, Some(0.135)) == 1.0) // 1.6x but only +0.085s — jitter floor
    assert(Bench.canaryFactor(3.0, None) == 1.0)         // no committed wall: can't calibrate
    // a canary that itself FAILED must not deflate anything — better to
    // over-report drift than to let an infinite factor clear it all
    assert(Bench.canaryFactor(Double.PositiveInfinity, Some(0.135)) == 1.0)
  }

  test("canaryFactor: a loaded window reports the inflation factor") {
    val f = Bench.canaryFactor(0.405, Some(0.135))
    assert(math.abs(f - 3.0) < 1e-9)
  }

  test("splitByCanary: clean window passes confirmed drift through unchanged") {
    val confirmed = Map("q42_minhash_lsh" -> 2.25)
    assert(Bench.splitByCanary(confirmed, 1.0) == (confirmed, Map.empty))
  }

  test("a deliberately loaded window reports load-suspect, not drift (r18 false-confirm mold)") {
    // every serial wall inflated ~3x by box load, canary included: the
    // suspects' ratios deflate below the gate and land in load_suspect
    val confirmed = Map("q15_distinct" -> 1.91, "q52_quality_filter" -> 3.04)
    val (d, sus) = Bench.splitByCanary(confirmed, 3.0)
    assert(d.isEmpty)
    assert(sus == Map("q15_distinct" -> 0.64, "q52_quality_filter" -> 1.01))
  }

  test("a real regression survives canary correction inside a loaded window") {
    // 9x serial ratio under a 3x-loaded window is still 3x the reference
    val (d, sus) = Bench.splitByCanary(Map("q42_minhash_lsh" -> 9.0, "q15_distinct" -> 1.91), 3.0)
    assert(d == Map("q42_minhash_lsh" -> 3.0))
    assert(sus == Map("q15_distinct" -> 0.64))
  }

  test("a FAILED re-measure (capped 99.0) stays confirmed drift under any load factor") {
    // the 99.0 sentinel means the re-run THREW — a failure is not a
    // load artifact, so it is exempt from canary correction entirely
    // (dividing it by the factor downgraded real breakage to
    // load_suspect whenever the factor exceeded 99/1.5 ≈ 66)
    val (d, sus) = Bench.splitByCanary(Map("q42_minhash_lsh" -> 99.0), 3.0)
    assert(d == Map("q42_minhash_lsh" -> 99.0) && sus.isEmpty)
    val (d68, sus68) = Bench.splitByCanary(Map("q42_minhash_lsh" -> 99.0), 68.0)
    assert(d68 == Map("q42_minhash_lsh" -> 99.0) && sus68.isEmpty)
  }

  test("the canary has a committed reference wall (the calibration depends on it)") {
    val p = java.nio.file.Paths.get("tools/bench_reference.json")
    assume(java.nio.file.Files.exists(p), "reference not committed yet")
    val ref = Bench.parseQueryTimes(java.nio.file.Files.readString(p))
    assert(ref.get("q65_freq_items").exists(w => w > 0 && w < 1.0),
      "canary q65_freq_items must stay a committed sub-second fixed-cost query")
  }

  test("parseQueryTimes reads the queries object past nested cold_queries") {
    val txt = """{"value":7.2,"queries":{"q01_agg":0.312,"q42_minhash_lsh":2.931},"cold_queries":{"q01_agg":9.1}}"""
    assert(Bench.parseQueryTimes(txt) == Map("q01_agg" -> 0.312, "q42_minhash_lsh" -> 2.931))
  }

  test("parseQueryTimes refuses texts without a queries object instead of scanning from 0") {
    // the compact summary line carries q-named DRIFT RATIOS — returning
    // those as reference seconds would flood the gate with phantom drift
    val compact = """{"value":7.2,"drift":{"q42_minhash_lsh":2.05},"n_queries":89}"""
    assert(Bench.parseQueryTimes(compact).isEmpty)
    assert(Bench.parseQueryTimes("").isEmpty)
    assert(Bench.parseQueryTimes(""""queries":{"q01_agg":0.3""").isEmpty) // unbalanced
  }

  test("median3 reads sustained load where best-of-N reads clean") {
    // two of three runs slow -> the median reports the loaded wall
    assert(Bench.median3(0.13, 0.41, 0.45) == 0.41)
    // one outlier run does NOT flag (a scheduler blip, not a loaded window)
    assert(Bench.median3(0.13, 0.45, 0.14) == 0.14)
    // any failed run poisons the whole measurement, like serialWall
    assert(Bench.median3(0.13, Double.PositiveInfinity, 0.14).isPosInfinity)
    assert(Bench.median3(0.13, Double.NaN, 0.14).isNaN)
  }

  test("parseNamedTimes isolates serial_canaries from the queries object") {
    val txt = """{"serial_canaries":{"q24_topk_per_group":1.1},"queries":{"q24_topk_per_group":2.273,"q65_freq_items":0.135}}"""
    assert(Bench.parseNamedTimes(txt, "serial_canaries") == Map("q24_topk_per_group" -> 1.1))
    assert(Bench.parseQueryTimes(txt) == Map("q24_topk_per_group" -> 2.273, "q65_freq_items" -> 0.135))
    assert(Bench.parseNamedTimes(txt, "absent_key").isEmpty)
  }

  test("parseNamedTimes anchors on the depth-1 key, not a quoted mention of it") {
    // a note that quotes the key (followed by another q-named object), a
    // note that quotes it escaped, and a nested object of the same name
    // all come before the real object
    val txt = """{"note":"serial_canaries","see":{"q01_agg":9.9},"why":"see \"serial_canaries\": {\"q03_y\": 7.7}",""" +
      """"cold":{"serial_canaries":{"q02_x":8.8}},"serial_canaries" : {"q24_topk_per_group":1.1},""" +
      """"queries":{"q65_freq_items":0.135}}"""
    assert(Bench.parseNamedTimes(txt, "serial_canaries") == Map("q24_topk_per_group" -> 1.1))
    assert(Bench.parseQueryTimes(txt) == Map("q65_freq_items" -> 0.135))
    // the key present only inside a string value: no object
    assert(Bench.parseNamedTimes("""{"note":"\"serial_canaries\":{\"q01_agg\":9.9}"}""", "serial_canaries").isEmpty)
  }

  test("the committed reference carries a ~1 s serial wall for the second canary") {
    val p = java.nio.file.Paths.get("tools/bench_reference.json")
    assume(java.nio.file.Files.exists(p), "reference not committed yet")
    val ref = Bench.parseNamedTimes(java.nio.file.Files.readString(p), "serial_canaries")
    assert(ref.get("q24_topk_per_group").exists(w => w >= 0.5 && w <= 3.0),
      "canary2 must stay a committed ~1 s fixed-cost query so sustained load overlaps it")
  }

  test("the committed reference file parses and covers the whole query inventory") {
    val p = java.nio.file.Paths.get("tools/bench_reference.json")
    assume(java.nio.file.Files.exists(p), "reference not committed yet")
    val ref = Bench.parseQueryTimes(java.nio.file.Files.readString(p))
    val missing = SparkEntry.queries.keySet -- ref.keySet
    // new queries legitimately have no baseline until the next refresh;
    // the gate must at least see the bulk of the inventory
    assert(ref.size >= 80 && missing.size <= SparkEntry.queries.size / 10,
      s"reference stale: ${ref.size} entries, missing ${missing.toSeq.sorted.take(10)}")
    assert(ref.values.forall(v => v > 0 && v < 120))
  }

  test("a first run orders longest-first by the committed reference, unknown queries at the median") {
    val costs = Map("q_a" -> 4.0, "q_b" -> 1.0, "q_c" -> 2.0)
    assert(Bench.lptOrder(Seq("q_b", "q_new", "q_a", "q_c"), costs) == Seq("q_a", "q_c", "q_new", "q_b"))
    assert(Bench.lptOrder(Seq("q_b", "q_a"), Map.empty) == Seq("q_a", "q_b"))
    val p = java.nio.file.Paths.get("tools/bench_reference.json")
    assume(java.nio.file.Files.exists(p), "reference not committed yet")
    val ref = Bench.parseQueryTimes(java.nio.file.Files.readString(p))
    val order = Bench.lptOrder(SparkEntry.queries.keys.toSeq, ref).filter(ref.contains)
    assert(order.map(ref).sliding(2).forall { case Seq(a, b) => a >= b })
    // the long poles added after the hand-kept tier list go to the front
    assert(order.indexOf("q94_incremental_dedup") < order.size / 4)
  }
}
