package graft

import org.scalatest.funsuite.AnyFunSuite

/** The family-history adjudication rule (VERDICT r17 item 5): entries
  * over-family vs their own list's min move to annotation lists so
  * mean-based readings stay clean while the min-based gate (which never
  * read them) is untouched. */
class BenchFamilySpec extends AnyFunSuite {

  test("splitAdjudicated: the min always stays; entries past the " +
    "ratio+floor gate move; sub-floor ratio spikes stay") {
    // the motivating r17 case: 82.2 beside a 41.29 min (1.99x, +40.9s)
    val (kept, adj) = Bench.splitAdjudicated(
      Seq(53.659, 82.200, 49.812, 41.290, 44.609))
    assert(kept == Seq(53.659, 49.812, 41.290, 44.609) && adj == Seq(82.200))
    // sub-second rows: a 2x ratio under the 0.5s absolute floor stays
    val (k2, a2) = Bench.splitAdjudicated(Seq(0.2, 0.45, 0.3))
    assert(k2 == Seq(0.2, 0.45, 0.3) && a2.isEmpty)
    // empty and single-entry lists are untouched
    assert(Bench.splitAdjudicated(Seq.empty) == ((Seq.empty, Seq.empty)))
    assert(Bench.splitAdjudicated(Seq(7.0)) == ((Seq(7.0), Seq.empty)))
    // the min itself can never adjudicate out
    val (k3, a3) = Bench.splitAdjudicated(Seq(100.0, 1.0, 99.0))
    assert(k3 == Seq(1.0) && a3 == Seq(100.0, 99.0))
  }

  test("updateFamilyHistory: an over-family newcomer on a FULL list cannot " +
    "evict the protected min via the window trim (adjudicate BEFORE trim)") {
    // min 41.3 sits in the OLDEST slot of a full 5-entry list; a
    // sustained regression to 70 lands (70 > 1.5*41.3 + 0.5)
    val prev = Map("row" -> Seq(50.1, 50.5, 50.9, 51.0, 41.3))
    val (updated, adj) = Bench.updateFamilyHistory(prev, Seq("row" -> 70.0))
    // the newcomer adjudicates out; the min SURVIVES the trim, so the
    // regression keeps screaming next round instead of aging in
    assert(updated("row") == Seq(50.1, 50.5, 50.9, 51.0, 41.3), updated)
    assert(updated("~adjudicated_row") == Seq(70.0))
    assert(adj == List("row"))
    // an IN-family newcomer on a full list still ages the oldest out
    // (the original window semantics, unchanged)
    val (u2, a2) = Bench.updateFamilyHistory(
      Map("row" -> Seq(50.0, 45.0, 46.0, 47.0, 48.0)), Seq("row" -> 49.0))
    assert(u2("row") == Seq(49.0, 50.0, 45.0, 46.0, 47.0) && a2.isEmpty)
    // annotation lists are never re-processed as row histories
    val (u3, _) = Bench.updateFamilyHistory(
      Map("~adjudicated_row" -> Seq(99.0), "row" -> Seq(1.0)), Seq.empty)
    assert(u3("~adjudicated_row") == Seq(99.0) && u3("row") == Seq(1.0))
  }

  test("only a full sf0.1 run writes the committed bench records") {
    assert(Bench.writesCommittedRecords("/data/sf0.1", None))
    // a filtered dev loop (SPARK_GRAFT_BENCH_ONLY) writes neither
    // BENCH_LOCAL.json nor the family history
    assert(!Bench.writesCommittedRecords("/data/sf0.1", Some(Set("fuzzy_annf_3g_lsh"))))
    assert(!Bench.writesCommittedRecords("/data/sf0.001", None))
  }
}
