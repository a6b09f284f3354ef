package graft.queries

import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan}
import org.scalatest.funsuite.AnyFunSuite
import graft.{GraftSession, SparkEntry}

/** Pins q04's load-bearing plan shapes (round 17).
  *
  * Within the dimension-broadcast budget the customer⋈nation projection is
  * BROADCAST into the lineitem⋈orders output and the aggregate groups by
  * n_name directly — no custkey exchange tier at all (SCALE.md "Round 17:
  * the r16 probe program": 160.8/109.2 s shipped vs 86.8 s at the fifth
  * decade). Beyond the budget
  * (-Dgraft.dimBroadcastMaxBytes) the query falls back to the per-custkey
  * partial aggregate BETWEEN the two big joins, whose loss would re-send
  * every lineitem row through the custkey exchange (600 M rows / ~47 s at
  * the fifth decade) with no correctness signal. Both shapes are authored
  * in the query; pin both.
  */
class Q04PlanSpec extends AnyFunSuite {

  private def q04Plan(): LogicalPlan = {
    val spark = GraftSession.get("q04-plan-spec")
    SparkEntry.queries("q04_revenue_by_nation")(spark, "/root/testdata/sf0.001")
      .queryExecution.optimizedPlan
  }

  test("q04 (broadcastable customer) groups by n_name with a broadcast c⋈n join") {
    val plan = q04Plan()
    // no per-custkey aggregate tier anywhere
    val perCust = plan.collect {
      case a: Aggregate
        if a.groupingExpressions.exists(_.references.exists(_.name == "o_custkey")) => a
    }
    assert(perCust.isEmpty,
      s"q04 regrew a custkey aggregate tier under the broadcast shape:\n${plan.treeString.take(3000)}")
    // the one aggregate groups by n_name and sees the joined lineitem rows
    val byName = plan.collect {
      case a: Aggregate
        if a.groupingExpressions.exists(_.references.exists(_.name == "n_name")) &&
          a.collect { case j: Join => j }.nonEmpty => a
    }
    assert(byName.nonEmpty,
      s"q04 lost its direct by-n_name aggregate:\n${plan.treeString.take(3000)}")
    // the custkey join carries a broadcast hint on the dimension side
    val bcCust = plan.collect {
      case j: Join
        if j.condition.exists(_.references.exists(_.name == "c_custkey")) &&
          (j.hint.rightHint.exists(_.strategy.isDefined) ||
            j.hint.leftHint.exists(_.strategy.isDefined)) => j
    }
    assert(bcCust.nonEmpty,
      s"q04's customer join lost its broadcast hint:\n${plan.treeString.take(3000)}")
  }

  test("q04 beyond the broadcast budget keeps the per-custkey partial aggregate") {
    System.setProperty("graft.dimBroadcastMaxBytes", "0")
    try {
      val plan = q04Plan()

      // the per-custkey partial aggregate: groups on o_custkey and still
      // has the lineitem⋈orders join (an l_ column) in its subtree
      val perCust = plan.collect {
        case a: Aggregate
          if a.groupingExpressions.exists(_.references.exists(_.name == "o_custkey")) &&
            a.collect { case j: Join => j }.nonEmpty => a
      }
      assert(perCust.nonEmpty,
        s"q04 lost its per-custkey partial aggregate:\n${plan.treeString.take(3000)}")

      // ...and the customer relation must NOT appear below it: the
      // aggregate runs before the customer join, so the custkey exchange
      // carries one partial row per customer, not one row per lineitem.
      // Relations are identified at the SCAN LEAVES, where column names are
      // the parquet schema (an alias in the query adds a Project above the
      // scan, it cannot rename the leaf's output) — and the below-aggregate
      // check then goes by exprId, so a rename introduced between the scan
      // and the aggregate cannot make this pass vacuously.
      def leavesWith(p: LogicalPlan, col: String): Seq[LogicalPlan] =
        p.collectLeaves().filter(_.output.exists(_.name == col))
      val custIds = leavesWith(plan, "c_custkey").flatMap(_.output).map(_.exprId).toSet
      assert(custIds.nonEmpty, "no customer scan found in q04's plan at all")
      val custBelow = perCust.head.collect {
        case p: LogicalPlan if p.output.exists(a => custIds(a.exprId)) => p
      }
      assert(custBelow.isEmpty,
        "customer relation found BELOW the partial aggregate - the " +
          "aggregate no longer runs between the two big joins:\n" +
          perCust.head.treeString.take(3000))

      // the aggregate's subtree must scan exactly lineitem and orders:
      // the partial aggregate compresses the lineitem⋈orders result, and
      // any third relation sneaking under it would change what the custkey
      // exchange carries
      val aggLeaves = perCust.head.collectLeaves()
      assert(aggLeaves.size == 2 &&
        leavesWith(perCust.head, "l_orderkey").size == 1 &&
        leavesWith(perCust.head, "o_custkey").size == 1,
        s"partial aggregate's subtree should scan exactly lineitem+orders, " +
          s"found ${aggLeaves.size} leaves:\n${perCust.head.treeString.take(3000)}")
    } finally System.clearProperty("graft.dimBroadcastMaxBytes")
  }
}
