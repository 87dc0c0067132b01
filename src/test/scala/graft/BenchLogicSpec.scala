package graft

import java.nio.file.Files

/** The driver-facing bench bookkeeping: prior-round record discovery,
  * scale-factor guard, and suspect selection for the end-of-suite re-run
  * pass. Pure JVM logic — the suite's lazy SparkSession is never built.
  */
class BenchLogicSpec extends SparkSuite {

  private def write(dir: String, name: String, body: String): Unit =
    Files.write(java.nio.file.Paths.get(dir, name), body.getBytes("UTF-8"))

  test("maxBenchRound picks the MAX round number, not the file count") {
    withTempDir("graft_benchspec_") { d =>
      // a sparse layout (r03 missing) must still yield 7 — the seed/prior
      // lookup keys off the max, so deleting an old record can't shift it
      write(d, "BENCH_r01.json", "{}")
      write(d, "BENCH_r02.json", "{}")
      write(d, "BENCH_r07.json", "{}")
      assert(Bench.maxBenchRound(d).contains(7L))
    }
  }

  test("maxBenchRound is None on an empty or missing dir") {
    withTempDir("graft_benchspec_")(d => assert(Bench.maxBenchRound(d).isEmpty))
    assert(Bench.maxBenchRound("/nonexistent/graft").isEmpty)
  }

  test("priorRoundMins reads the max-round record and keeps positive mins") {
    withTempDir("graft_benchspec_") { d =>
      write(d, "BENCH_r04.json",
        """{"parsed":{"sf":"/old/sf0.1","queries":{"q_a":9.9}}}""")
      write(d, "BENCH_r05.json",
        """{"parsed":{"sf":"/root/testdata/sf0.1",
          |"queries":{"q_a":0.25,"q_b":1.5,"q_bad":-1.0}}}""".stripMargin)
      val m = Bench.priorRoundMins("/root/testdata/sf0.1", d)
      assert(m == Map("q_a" -> 0.25, "q_b" -> 1.5)) // r05 wins; -1 dropped
    }
  }

  test("priorRoundMins is empty when the prior round measured another sf") {
    withTempDir("graft_benchspec_") { d =>
      write(d, "BENCH_r05.json",
        """{"parsed":{"sf":"/root/testdata/sf0.01","queries":{"q_a":0.25}}}""")
      assert(Bench.priorRoundMins("/root/testdata/sf0.1", d).isEmpty)
      // ...but dir-spelling differences of the SAME sf still match
      assert(Bench.priorRoundMins("/elsewhere/sf0.01/", d) ==
        Map("q_a" -> 0.25))
    }
  }

  test("priorRoundMins survives malformed JSON") {
    withTempDir("graft_benchspec_") { d =>
      write(d, "BENCH_r05.json", "not json at all {")
      assert(Bench.priorRoundMins("/root/testdata/sf0.1", d).isEmpty)
    }
  }

  test("pickSuspects applies both the 1.5x ratio and the 50 ms floor") {
    val prior = Map("fast" -> 0.02, "mid" -> 0.4, "slow" -> 2.0,
      "gone" -> 1.0)
    val results = Map(
      "fast" -> 0.06, // 3x prior but only +40 ms — jitter, not a suspect
      "mid" -> 0.9, // 2.25x and +500 ms — suspect
      "slow" -> 2.4, // +400 ms but only 1.2x — not a suspect
      "new" -> 5.0) // no prior record — the no-prior arm picks it up
    val (s, sk) = Bench.pickSuspects(results, prior)
    assert(s.map(_._1) == Seq("mid", "new") && sk.isEmpty)
    assert(s.head._2 == 0.9 && s.head._3 == 0.4)
    assert(s(1)._3 == -1.0) // no-prior marker
  }

  test("pickSuspects no-prior arm: slow new queries rerun, trivial ones don't") {
    val results = Map("new_slow" -> 2.4, "new_slower" -> 5.0,
      "new_fast" -> 0.1) // under the 0.3 s floor — never worth a rerun slot
    val (s, _) = Bench.pickSuspects(results, Map.empty)
    assert(s.map(_._1) == Seq("new_slower", "new_slow")) // slowest first
    assert(s.forall(_._3 == -1.0))
    // regressed queries outrank no-prior ones within the cap, and the
    // capped-out one is REPORTED, not silently dropped
    val (s2, sk2) = Bench.pickSuspects(
      Map("reg" -> 1.0, "brand_new" -> 9.9), Map("reg" -> 0.2), cap = 1,
      minRest = 1)
    assert(s2.map(_._1) == Seq("reg"))
    assert(sk2 == Seq("brand_new"))
  }

  test("localPriorMins reads bench_last.json under the same sf guard") {
    withTempDir("graft_benchspec_") { d =>
      write(d, "bench_last.json",
        """{"metric":"total","queries":{"q_a":0.5,"q_bad":-1.0},
          |"sf":"/root/testdata/sf0.1"}""".stripMargin)
      assert(Bench.localPriorMins("/elsewhere/sf0.1", d) == Map("q_a" -> 0.5))
      assert(Bench.localPriorMins("/root/testdata/sf0.01", d).isEmpty)
      withTempDir("graft_benchspec_")(e =>
      assert(Bench.localPriorMins("/root/testdata/sf0.1", e).isEmpty))
    }
  }

  test("pickSuspects ranks worst offenders first and caps the pass") {
    val prior = (1 to 12).map(i => s"q$i" -> 0.1).toMap
    val results = (1 to 12).map(i => s"q$i" -> (0.1 * (i + 1))).toMap
    val (s, sk) = Bench.pickSuspects(results, prior, cap = 8)
    assert(s.size == 8)
    assert(s.head._1 == "q12") // +1.2 s excess, the worst
    assert(s.map(t => t._2 - t._3).sliding(2).forall(w => w(0) >= w(1)))
    assert(sk.size == 4) // all 12 regressed, 8 kept, 4 reported
  }

  test("pickSuspects ranks by absolute excess, not ratio (r14 outlier)") {
    // Round 14's unadjudicated outlier: q_label_prop_weighted at 121.8 s
    // vs 1.79 s prior (+120 s) lost its slot to smaller-excess entries.
    // A 3x-but-tiny regression must rank BELOW a 68x-and-huge one.
    val prior = Map("tiny" -> 0.2, "huge" -> 1.79)
    val results = Map("tiny" -> 0.9, "huge" -> 121.8) // 4.5x vs 68x
    val (s, _) = Bench.pickSuspects(results, prior, cap = 8)
    assert(s.map(_._1) == Seq("huge", "tiny"))
  }

  test("pickSuspects: headline regressions are NEVER dropped by the cap") {
    // 10 huge non-headline offenders + 2 modest headline ones; cap = 4.
    // Round 13's failure mode: the headline rows lost their slots to the
    // bigger ratios and shipped unadjudicated.
    val prior = ((1 to 10).map(i => s"big$i" -> 0.1) ++
      Seq("q_tpch_q3" -> 0.4, "q_dedup_components" -> 0.7)).toMap
    val results = ((1 to 10).map(i => s"big$i" -> 10.0) ++
      Seq("q_tpch_q3" -> 0.8, "q_dedup_components" -> 2.8)).toMap
    val (s, sk) = Bench.pickSuspects(results, prior, cap = 4,
      headline = Set("q_tpch_q3", "q_dedup_components"))
    assert(s.map(_._1).take(2).toSet ==
      Set("q_tpch_q3", "q_dedup_components"),
      s"headline rows must come first, got ${s.map(_._1)}")
    assert(s.size == 6) // 2 headline + the guaranteed 4-slot rest share
    assert(sk.size == 6)
    // even when headline regressions alone EXCEED the cap, all are kept
    val hp = (1 to 6).map(i => s"h$i" -> 0.5).toMap
    val hr = (1 to 6).map(i => s"h$i" -> 2.0).toMap
    val (s2, _) = Bench.pickSuspects(hr, hp, cap = 4,
      headline = hp.keySet)
    assert(s2.size == 6)
  }

  test("pickSuspects: headline regressions cannot STARVE the rest pool") {
    // Round 14's failure mode inverted: 8 headline regressions filled the
    // cap and a +120 s non-headline outlier shipped unadjudicated. The
    // rest pool must keep its minRest slots regardless of head size.
    val head = (1 to 8).map(i => s"q_h$i").toSet
    val prior = (head.map(_ -> 1.0) + ("q_label_prop" -> 1.79)).toMap
    val results = (head.map(_ -> 2.0) + ("q_label_prop" -> 121.8)).toMap
    val (s, sk) = Bench.pickSuspects(results, prior, cap = 8,
      headline = head)
    assert(s.map(_._1).contains("q_label_prop"),
      s"the +120 s outlier must be adjudicated, got ${s.map(_._1)}")
    assert(s.size == 9 && sk.isEmpty)
    // ...and when the rest pool is empty, no phantom slots appear
    val (s2, sk2) = Bench.pickSuspects(
      head.map(_ -> 2.0).toMap, head.map(_ -> 1.0).toMap,
      cap = 8, headline = head)
    assert(s2.size == 8 && sk2.isEmpty)
  }

  test("suspectPool: budget-cut and failed queries never reach suspect selection") {
    // The wall-budget contract (r15/r16): a budget-cut query ships a
    // single known-cold sample — its "regression" on the prior is the
    // expected signature of the cut, and a -1 is a failure, not a time.
    // Neither may consume a rerun slot or pollute PERF's comparison set.
    val results = Map("q_ok" -> 2.0, "q_cut" -> 9.0, "q_failed" -> -1.0)
    val pool = Bench.suspectPool(results, Set("q_cut"))
    assert(pool == Map("q_ok" -> 2.0))
    val prior = Map("q_ok" -> 1.0, "q_cut" -> 1.0, "q_failed" -> 1.0)
    val (s, _) = Bench.pickSuspects(pool, prior)
    assert(s.map(_._1) == Seq("q_ok"),
      s"only the un-cut regression may rerun, got ${s.map(_._1)}")
  }
}
