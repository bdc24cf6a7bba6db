package graft

import org.scalatest.funsuite.AnyFunSuite

/** A query whose runs all fail carries the -1.0 sentinel median. Summed
  * into the headline total it made a crash look like a speed-up; these
  * pin that a failure is named, left out of the total, and written to
  * its own ledger file.
  */
class BenchTotalSpec extends AnyFunSuite {

  test("totalOf leaves failed queries out of the sum and names them") {
    val ok = Map("q01_a" -> 1.5, "q02_b" -> 2.0, "q03_c" -> 0.5)
    assert(Bench.totalOf(ok) == (4.0, Nil))
    val (total, failed) =
      Bench.totalOf(ok + ("q09_x" -> -1.0) + ("q04_y" -> -1.0))
    assert(total == 4.0, "a crash must never lower the total")
    assert(failed == Seq("q04_y", "q09_x"))
    assert(Bench.totalOf(Map.empty) == (0.0, Nil))
  }

  test("ledgerFor routes a run with failures to the invalid file, local " +
    "or cluster") {
    val (file, note) = Bench.ledgerFor("0.1", distributed = false,
      Seq("q202_kcore_peel"))
    assert(file == "BENCH_LOCAL_invalid.json")
    assert(note.exists(n =>
      n.startsWith("INVALID") && n.contains("q202_kcore_peel")))
    // failures are checked before the scale and master routing
    assert(Bench.ledgerFor("1", distributed = false, Seq("q01_a"))._1 ==
      "BENCH_LOCAL_invalid.json")
    assert(Bench.ledgerFor("0.1", distributed = true, Seq("q01_a"))._1 ==
      "BENCH_LOCAL_invalid.json")
    // no failures: the scale routing is untouched
    assert(Bench.ledgerFor("0.1", distributed = false, Nil) ==
      ("BENCH_LOCAL_sf0.1.json", None))
  }

  test("the compact stdout line still carries a failed query as -1000 ms") {
    val (unit, qs) = Bench.encodeCompact(
      scala.collection.immutable.ListMap("q01_a" -> 1.5, "q09_x" -> -1.0))
    assert(unit == "ms" && qs == "01:1500,09:-1000")
  }

  test("warmDirFor warms on the sf0.001 sibling, and not at all when " +
    "the target is sf0.001 itself") {
    assert(Bench.warmDirFor("/data/sf0.1") == Some("/data/sf0.001"))
    assert(Bench.warmDirFor("/data/sf1/") == Some("/data/sf0.001"))
    assert(Bench.warmDirFor("/data/sf0.001").isEmpty)
    assert(Bench.warmDirFor("/data/sf0.001/").isEmpty)
    assert(Bench.warmDirFor("/data/x/../sf0.001").isEmpty)
  }
}
