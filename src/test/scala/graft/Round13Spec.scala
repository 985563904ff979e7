package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-13 hardening: the PlanChecks parent-match regression (the TwoPass
  * gate family's round-13 cases live in [[TwoPassSpec]]).
  */
class Round13Spec extends AnyFunSuite {

  test("PlanChecks.singlePartitionSorts: SortAggregate / SortMergeJoin " +
    "parents are not global sorts (round-12 ADVICE regression)") {
    def plan(parent: String): String =
      s"""== Physical Plan ==
         |$parent (3)
         |+- Exchange (2)
         |   +- Scan parquet (1)
         |
         |(2) Exchange
         |Input [1]: [x#1L]
         |Arguments: SinglePartition
         |""".stripMargin
    assert(PlanChecks.singlePartitionSorts(plan("Sort")) === 1)
    assert(PlanChecks.singlePartitionSorts(plan("SortAggregate")) === 0)
    assert(PlanChecks.singlePartitionSorts(plan("SortMergeJoin")) === 0)
  }
}
