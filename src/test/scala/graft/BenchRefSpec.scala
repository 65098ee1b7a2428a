package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench's noise-defense tier against the COMMITTED reference
  * file so it can never silently vacate again.
  *
  * History: the retry tier compares each query's min-of-2 timing to a
  * per-query reference parsed from BENCH_REF.json. Twice now (rounds 13
  * and 15) a format drift made the parse regexes match ZERO entries —
  * `loadReference()` returned an empty map, `needsRetry` never fired,
  * and a hypervisor-steal window inflated committed numbers unretried.
  * This spec runs against the file actually committed at the repo root
  * (sbt test's working directory), so any re-serialization that the
  * parser can't read turns the build red instead of the defense off.
  */
class BenchRefSpec extends AnyFunSuite {

  test("committed BENCH_REF.json parses to at least one entry per declared query") {
    assume(java.nio.file.Files.exists(java.nio.file.Paths.get("BENCH_REF.json")),
      "BENCH_REF.json not present in working directory")
    val ref = Bench.loadReference()
    val nq = SparkEntry.queries.size
    assert(ref.size >= nq,
      s"loadReference() parsed ${ref.size} entries but ${nq} queries are declared — " +
        "the noise-retry tier would be (partially) OFF. Re-serialize BENCH_REF.json " +
        "compactly or fix the parse regexes in Bench.loadReference.")
    // every declared query must have a positive reference timing
    val missing = SparkEntry.queries.keySet -- ref.keySet
    assert(missing.isEmpty, s"queries with no reference timing: ${missing.toSeq.sorted.take(10).mkString(", ")}")
    assert(ref.values.forall(_ > 0), "reference timings must be positive")
  }

  test("control query has a committed reference row and the ratio computes") {
    // round 17 proved this box's throughput varies beyond steal
    // telemetry; every capture self-labels with "control": warm
    // q_tpch_q9 over its reference. That label needs (a) the control
    // query declared and (b) a positive reference row for it.
    assert(SparkEntry.queries.contains(Bench.ControlQuery),
      s"${Bench.ControlQuery} is not declared — the bench control label cannot be measured")
    assume(java.nio.file.Files.exists(java.nio.file.Paths.get("BENCH_REF.json")),
      "BENCH_REF.json not present in working directory")
    val ref = Bench.loadReference()
    assert(ref.get(Bench.ControlQuery).exists(_ > 0),
      s"${Bench.ControlQuery} has no positive row in BENCH_REF.json — control ratio would be -1")
    // ratio semantics: sec/ref when both positive, -1 otherwise
    assert(math.abs(Bench.controlRatio(1.0, Map(Bench.ControlQuery -> 0.8)) - 1.25) < 1e-12)
    assert(Bench.controlRatio(-1.0, Map(Bench.ControlQuery -> 0.8)) == -1.0)
    assert(Bench.controlRatio(1.0, Map.empty) == -1.0)
  }

  test("a filtered bench run writes detail to the partial file") {
    // the round-16 review lost a full capture to a targeted re-measure
    // overwriting BENCH_DETAIL.json; the filter now redirects
    assert(Bench.detailFileName(filtered = false) == "BENCH_DETAIL.json")
    assert(Bench.detailFileName(filtered = true) == "BENCH_DETAIL.partial.json")
  }

  test("parser tolerates both compact and spaced JSON serializations") {
    // round-15 regression shape: spaces after colons
    val spaced = """{"metric": "total", "noisy": 0, "queries": {"q1_agg": {"sec": 0.254, "p1": 0.5}, "q_ab": {"sec": 0.1}}}"""
    val compact = """{"metric":"total","noisy":0,"queries":{"q1_agg":{"sec":0.254,"p1":0.5},"q_ab":{"sec":0.1}}}"""
    val flat = """{"noisy":0,"queries":{"q1_agg":0.254,"q_ab":0.1}}"""
    val flatSpaced = """{"noisy": 0, "queries": {"q1_agg": 0.254, "q_ab": 0.1}}"""
    def parseIn(text: String): Map[String, Double] = {
      val dir = java.nio.file.Files.createTempDirectory("benchref")
      java.nio.file.Files.write(dir.resolve("BENCH_REF.json"), text.getBytes("UTF-8"))
      Bench.loadReference(dir)
    }
    for (t <- Seq(spaced, compact, flat, flatSpaced)) {
      val m = parseIn(t)
      assert(m == Map("q1_agg" -> 0.254, "q_ab" -> 0.1), s"parse failed on: $t")
    }
  }

  test("a header carrying codegen compile counts parses like one without") {
    def parseIn(name: String, text: String): Map[String, Double] = {
      val dir = java.nio.file.Files.createTempDirectory("benchref")
      java.nio.file.Files.write(dir.resolve(name), text.getBytes("UTF-8"))
      Bench.loadReference(dir)
    }
    val codegen = """"codegen_compiles":{"warmup":31,"p1":2912,"p2":118},""" +
      """"codegen_compile_s":{"warmup":0.412,"p1":40.125,"p2":1.093},"""
    val queries = """"queries":{"q1_agg":{"sec":0.254,"p1":0.5,"p2":0.254,"st1":0.0,"st2":0.0},"q_ab":{"sec":0.1,"p1":0.2,"p2":0.1,"st1":0.0,"st2":0.0}}"""
    val header = """{"metric":"total","value":0.354,"unit":"sec","nq":2,"noisy":0,"steal_sec":0.0,"shuffle_partitions":4,"""
    val expected = Map("q1_agg" -> 0.254, "q_ab" -> 0.1)
    for (name <- Seq("BENCH_REF.json", "BENCH_DETAIL.json")) {
      assert(parseIn(name, header + queries + "}") == expected, s"old header, $name")
      assert(parseIn(name, header + codegen + queries + "}") == expected, s"new header, $name")
    }
  }
}
