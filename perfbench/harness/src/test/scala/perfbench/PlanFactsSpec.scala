package perfbench

import org.scalatest.funsuite.AnyFunSuite

class PlanFactsSpec extends AnyFunSuite {
  // The tree string of an adaptive plan after it ran: the final plan, then
  // the initial plan, which repeats the exchanges, sorts and scans.
  private val adaptive =
    """AdaptiveSparkPlan isFinalPlan=true
      |+- == Final Plan ==
      |   ResultQueryStage 3
      |   +- *(4) HashAggregate(keys=[], functions=[count(1)])
      |      +- ShuffleQueryStage 2
      |         +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=90]
      |            +- *(3) HashAggregate(keys=[], functions=[partial_count(1)])
      |               +- *(3) SortMergeJoin [o_orderkey#1L], [l_orderkey#2L], Inner
      |                  :- *(1) Sort [o_orderkey#1L ASC NULLS FIRST], false, 0
      |                  :  +- AQEShuffleRead coalesced
      |                  :     +- ShuffleQueryStage 0
      |                  :        +- Exchange hashpartitioning(o_orderkey#1L, 4), ENSURE_REQUIREMENTS, [plan_id=40]
      |                  :           +- *(1) FileScan parquet [o_orderkey#1L] Batched: true, Format: Parquet
      |                  +- *(2) BroadcastHashJoin [l_partkey#3L], [p_partkey#4L], Inner, BuildRight, false
      |                     :- *(2) Sort [l_orderkey#2L ASC NULLS FIRST], false, 0
      |                     :  +- AQEShuffleRead coalesced
      |                     :     +- ShuffleQueryStage 1
      |                     :        +- ReusedExchange [l_orderkey#2L, l_partkey#3L], Exchange hashpartitioning(l_orderkey#2L, 4)
      |                     +- BroadcastQueryStage 4
      |                        +- BroadcastExchange HashedRelationBroadcastMode(List(input[0, bigint, false]),false), [plan_id=70]
      |                           +- *(5) FileScan parquet [p_partkey#4L] Batched: true, Format: Parquet
      |+- == Initial Plan ==
      |   HashAggregate(keys=[], functions=[count(1)])
      |   +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=30]
      |      +- SortMergeJoin [o_orderkey#1L], [l_orderkey#2L], Inner
      |         :- Sort [o_orderkey#1L ASC NULLS FIRST], false, 0
      |         :  +- Exchange hashpartitioning(o_orderkey#1L, 4), ENSURE_REQUIREMENTS, [plan_id=20]
      |         :     +- FileScan parquet [o_orderkey#1L] Batched: true, Format: Parquet
      |         +- Sort [l_orderkey#2L ASC NULLS FIRST], false, 0
      |            +- Exchange hashpartitioning(l_orderkey#2L, 4), ENSURE_REQUIREMENTS, [plan_id=21]
      |               +- FileScan parquet [l_orderkey#2L] Batched: true, Format: Parquet
      |""".stripMargin

  test("counts operators of the final plan only, not the initial plan") {
    assert(PlanFacts.of(adaptive) == PlanFacts(
      exchanges = 3, sorts = 2, smj = 1, bhj = 1, reusedExchanges = 1, parquetScans = 2))
  }

  test("a plan without an initial-plan section is counted whole") {
    val plain = adaptive.substring(0, adaptive.indexOf("== Initial Plan =="))
    assert(PlanFacts.of(plain) == PlanFacts.of(adaptive))
    assert(PlanFacts.finalPlan(adaptive) == plain)
  }
}
