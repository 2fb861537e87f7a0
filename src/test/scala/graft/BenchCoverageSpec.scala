package graft

import org.scalatest.funsuite.AnyFunSuite

/** Freezes the bench-coverage invariant mechanically (VERDICT r8 #6):
  * every oracled catalog query must either be benched directly
  * ([[Bench.headline]]) or name a benched representative of its
  * operator family ([[Bench.familyRep]]). The headline is derived as
  * catalog keys minus familyRep keys, so what can still go wrong is
  * in [[Bench.familyRep]]: a representative that is itself a mapped
  * variant (so never benched), or a key naming no catalog query.
  */
class BenchCoverageSpec extends AnyFunSuite {

  test("every oracled query is benched or maps to a benched representative") {
    val covered = Bench.headline.toSet ++ Bench.familyRep.keySet
    val uncovered = SparkEntry.queries.keySet.diff(covered)
    assert(uncovered.isEmpty,
      s"queries with no benched representative: ${uncovered.toSeq.sorted.mkString(", ")}")
  }

  test("every familyRep representative is itself in the headline") {
    val bad = Bench.familyRep.values.toSet.diff(Bench.headline.toSet)
    assert(bad.isEmpty,
      s"familyRep points at unbenched representatives: ${bad.toSeq.sorted.mkString(", ")}")
  }

  test("every familyRep key is a real catalog query") {
    val stale = Bench.familyRep.keySet.diff(SparkEntry.queries.keySet)
    assert(stale.isEmpty,
      s"familyRep keys with no catalog query: ${stale.toSeq.sorted.mkString(", ")}")
  }
}
