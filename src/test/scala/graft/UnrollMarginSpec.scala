package graft

import org.scalatest.funsuite.AnyFunSuite

/** Asserts the generous-unroll margins the iterative-graph oracles rely
  * on (q132 k-core: 12 unrolled rounds; q137 coreness: 32; q177/q222
  * betweenness: 6 BFS layers). Each Spark implementation iterates to a
  * data-dependent fixpoint and records its round count in
  * the `Rounds` ledger; the unrolled DuckDB replay compares equal ONLY
  * while fixpoint <= unroll (post-fixpoint rounds are no-ops by
  * monotonicity). These tests pin that inequality AT THE ORACLE GATE
  * SCALES (sf0.001 here; sf0.01 is exercised by the driver's verify run
  * on the same corpus family) so corpus drift past an unroll fails the
  * suite with a named margin instead of surfacing as an opaque oracle
  * hash mismatch. All three ledger keys count EFFECTIVE rounds — the
  * iterations that changed the data, excluding the final no-change
  * verification pass — which is exactly the count an unrolled replay
  * must dominate. Measured effective fixpoints for context: coreness 7
  * (sf0.01), k-core 8-10, betweenness eccentricity 3-4.
  */
class UnrollMarginSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.Sf0001

  test("q137 coreness fixpoint stays within half the 32-round oracle unroll") {
    SparkEntry.queries("q137_coreness")(spark, sf).collect()
    val rounds = graft.operators.Rounds.last("coreness").getOrElse(0)
    assert(rounds > 0, "coreness did not record its round count")
    assert(rounds <= 16,
      s"coreness fixpoint $rounds rounds — the q137 oracle unrolls 32; " +
        "past 16 the safety margin is gone, extend the unroll")
  }

  test("q132 k-core peel count stays within the 12-round oracle unroll") {
    SparkEntry.queries("q132_kcore")(spark, sf).collect()
    val peels = graft.operators.Rounds.last("kcore").getOrElse(0)
    assert(peels > 0, "kCore did not record its peel count")
    assert(peels <= 12,
      s"k-core peeled $peels rounds — the q132 oracle unrolls exactly 12; " +
        "any more and the unrolled replay diverges")
  }

  test("q177 betweenness BFS depth stays within the 6-layer oracle unroll") {
    SparkEntry.queries("q177_betweenness")(spark, sf).collect()
    val depth = graft.operators.Rounds.last("betweenness_depth").getOrElse(0)
    assert(depth > 0, "betweennessGridPpm did not record its BFS depth")
    assert(depth <= 6,
      s"betweenness BFS reached depth $depth — the q177/q222 oracles " +
        "unroll 6 layers; a deeper graph needs a wider unroll")
  }
}
