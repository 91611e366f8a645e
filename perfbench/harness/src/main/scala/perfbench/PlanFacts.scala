package perfbench

/** Operator counts of a query's final physical plan, read from the plan's
  * tree string. After an adaptive query runs, its plan string holds the
  * `== Final Plan ==` followed by the `== Initial Plan ==`; only the part
  * before the initial plan is counted, or every shared subtree would count
  * twice.
  */
final case class PlanFacts(
    exchanges: Int, sorts: Int, smj: Int, bhj: Int, reusedExchanges: Int,
    parquetScans: Int)

object PlanFacts {
  private val InitialPlan = "== Initial Plan =="
  // Tree-drawing prefix, then an optional whole-stage-codegen marker
  // `*(n) `, then the operator name.
  private val Operator = """^[\s:|+\-]*(?:\*\(\d+\)\s+)?([A-Za-z][A-Za-z0-9]*)(.*)$""".r

  def finalPlan(planString: String): String = {
    val i = planString.indexOf(InitialPlan)
    if (i < 0) planString else planString.substring(0, i)
  }

  def of(planString: String): PlanFacts = {
    val ops = finalPlan(planString).linesIterator.collect {
      case Operator(name, rest) => (name, rest.trim)
    }.toSeq
    def count(names: String*): Int = ops.count { case (n, _) => names.contains(n) }
    PlanFacts(
      exchanges = count("Exchange", "BroadcastExchange"),
      sorts = count("Sort"),
      smj = count("SortMergeJoin"),
      bhj = count("BroadcastHashJoin"),
      reusedExchanges = count("ReusedExchange"),
      parquetScans = ops.count { case (n, rest) =>
        n == "FileScan" && rest.startsWith("parquet") })
  }
}
