package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's pure pieces: the ledger-file routing, the scale parse, the
  * outlier policy and the compact stdout encoding.
  */
class BenchLedgerSpec extends AnyFunSuite {

  test("parseSf takes the LAST sf<digits> match, not the first") {
    assert(Bench.parseSf("/root/testdata/sf0.1") == "0.1")
    assert(Bench.parseSf("/tmp/testdata-sf1") == "1")
    // the ADVICE r7 case: a backup-dir prefix must not misfile an sf1
    // run over the sf0.1 ledger
    assert(Bench.parseSf("/data/sf0.1-backup/testdata-sf1") == "1")
    assert(Bench.parseSf("/no/scale/here") == "0")
  }

  test("non-sf0.1 runs land in their own suffixed file") {
    // expected routing, so no stderr note
    assert(Bench.ledgerFor("0.001", distributed = false, Nil) ==
      ("BENCH_LOCAL_sf0.001.json", None))
    assert(Bench.ledgerFor("1", distributed = false, Nil) ==
      ("BENCH_LOCAL_sf1.json", None))
    // sf0.1 is no exception: one overwrite-latest file per scale
    assert(Bench.ledgerFor("0.1", distributed = false, Nil) ==
      ("BENCH_LOCAL_sf0.1.json", None))
    // a distributed master writes the cluster file of its scale
    assert(Bench.ledgerFor("0.1", distributed = true, Nil) ==
      ("BENCH_CLUSTER_sf0.1.json", None))
    assert(Bench.ledgerFor("1", distributed = true, Nil) ==
      ("BENCH_CLUSTER_sf1.json", None))
  }

  test("needsExtraRepeat: a >ratio spike earns extras; quiet bands, " +
    "single runs, and all-failed runs do not") {
    // quiet band: 10% variance at ratio 3 -> no extras
    assert(!Bench.needsExtraRepeat(Seq(0.10, 0.11, 0.105), 3.0))
    // the observed phase-spike shape (q23: 1.8 s vs 0.12 s quiet)
    assert(Bench.needsExtraRepeat(Seq(0.12, 1.80, 0.13), 3.0))
    // exactly at the ratio is NOT an outlier (strictly greater trips)
    assert(!Bench.needsExtraRepeat(Seq(0.10, 0.30), 3.0))
    assert(Bench.needsExtraRepeat(Seq(0.10, 0.301), 3.0))
    // failures are excluded from the band, not treated as zeros
    assert(!Bench.needsExtraRepeat(Seq(-1.0, 0.10, 0.11), 3.0))
    assert(Bench.needsExtraRepeat(Seq(-1.0, 0.10, 0.50), 3.0))
    // fewer than two successes -> no signal
    assert(!Bench.needsExtraRepeat(Seq(0.10), 3.0))
    assert(!Bench.needsExtraRepeat(Seq(-1.0, -1.0, 0.10), 3.0))
    assert(!Bench.needsExtraRepeat(Nil, 3.0))
    // a degenerate 0-second run makes any positive run an outlier
    assert(Bench.needsExtraRepeat(Seq(0.0, 0.2), 3.0))
  }

  test("encodeCompact emits millisecond key:value pairs and degrades to " +
    "coarser units only when the budget demands it") {
    val r = Map("q01_scan_project" -> 0.1234, "q191_auc_roc" -> 2.6049,
      "q85_dedup_minhash_lsh" -> -1.0)
    val (unit, s) = Bench.encodeCompact(r)
    assert(unit == "ms")
    val m = s.split(",").map(_.split(":")).map(a => a(0) -> a(1).toLong).toMap
    assert(m("01") == 123L && m("191") == 2605L)
    // a failed query is the -1.0 s sentinel in ms — never a plausible time
    assert(m("85") == -1000L)
    // a 210-query surface at the real sf0.1 value distribution (3-digit
    // ms medians; the measured r10 string form is ~1530 chars) fits the
    // documented tail budget in ms — a uniformly-4-digit surface (sf1
    // totals) is exactly what the degrade ladder below is for
    val big = (1 to 210).map(i => f"q$i%02d_x" -> 0.1234).toMap
    val (u2, s2) = Bench.encodeCompact(big)
    assert(u2 == "ms" && s2.length <= 1700)
    // squeezed budget degrades: centisec, then decisec
    assert(Bench.encodeCompact(big, budget = s2.length - 1)._1 == "centisec")
    assert(Bench.encodeCompact(big, budget = 10)._1 == "decisec")
  }
}
