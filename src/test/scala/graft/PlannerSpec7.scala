package graft

import org.apache.spark.GraftTestBridge
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** TPC-DS plan-shape parity with the reference's `tpcds-all.test`
  * (`testdata/workloads/functional-planner/queries/PlannerTest/
  * tpcds-all.test`). The registry's TPC-DS schema is DERIVED from the
  * driver tables (TpcdsQueries header), so the "fact" leaf in these
  * plans is the lineitem scan feeding the store_sales derivation; the
  * pinned decisions — star dims build while the fact streams, Top-N,
  * 2-phase aggregation, aggregate-then-join, one-row-subquery
  * combination, a shared CTE derived once — are the ones the
  * reference file locks in. Coverage: 24 of the file's 24 queries.
  * (TPCDS-Q66 at tpcds-all.test:3406-3553 was long mis-adjudicated
  * as needing web_sales/catalog_sales; the reference file's q66 is
  * actually the store-only promotions/total text — byte-identical to
  * tpcds-q61.test — so it ports directly; see the q66 pin below and
  * the `tpcds_q66` registry entry.)
  */
class PlannerSpec7 extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // plan against sf0.1 for a real fact/dim size contrast (PlannerSpec5
  // rationale); planning only, nothing executes at that SF
  private def qBig(name: String): DataFrame =
    SparkEntry.queries(name)(spark, "/root/testdata/sf0.1")
  private def q(name: String): DataFrame =
    SparkEntry.queries(name)(spark, TestSpark.sf)

  private def buildSubtrees(p: SparkPlan): Seq[SparkPlan] =
    p.collect { case j: BroadcastHashJoinExec =>
      if (j.buildSide == BuildLeft) j.left else j.right }

  private def scanPaths(p: SparkPlan): Seq[String] =
    p.collectLeaves().collect { case f: FileSourceScanExec =>
      f.relation.location.rootPaths.mkString(",") }

  private def factScans(p: SparkPlan): Int =
    scanPaths(p).count(_.contains("lineitem"))

  /** Pins a `qMat` entry (TpcdsQueries): its shared CTE is derived once
    * and read `refs` times, once per reference in the query text — no
    * more often than the reference plans scan the fact. The entry runs
    * in two halves: [[Engine.materialize]] checkpoints the CTE (a
    * Dataset action reported to listeners as `localCheckpoint`, or
    * `checkpoint` when reliable), then the continuation reads it
    * through a temp view, one `Scan ExistingRDD` per reference.
    * Returns the materialization's plan.
    */
  private def assertDerivedOnce(name: String, refs: Int): SparkPlan = {
    val mats = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (f == "localCheckpoint" || f == "checkpoint") mats.add(qe.sparkPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // drain first: an earlier action's event must not reach this listener
    GraftTestBridge.drainListenerBus(spark.sparkContext)
    spark.listenerManager.register(listener)
    val cont = try {
      val p = q(name).queryExecution.sparkPlan
      GraftTestBridge.drainListenerBus(spark.sparkContext)
      p
    } finally spark.listenerManager.unregister(listener)
    assert(mats.size === 1, mats.asScala.mkString("\n"))
    val mat = mats.peek()
    assert(factScans(mat) === 1, mat.toString)
    assert(factScans(cont) === 0, cont.toString)
    val reads = cont.collect { case r: RDDScanExec => r.rdd.id }
    assert(reads.size === refs, cont.toString)
    assert(reads.distinct.size === 1, cont.toString)
    mat
  }

  // TPCDS-Q3 (tpcds-all.test:30-56): item and date_dim build with their
  // selective predicates; store_sales streams (01:SCAN store_sales at
  // the bottom, runtime filters RF000/RF001 targeting it); 06:TOP-N
  // LIMIT=100 over the 2-phase brand/year aggregate.
  test("tpcds q3: star dims build, the derived fact streams, Top-N over 2-phase agg (tpcds-all.test:30-56)") {
    val p = qBig("tpcds_q3").queryExecution.sparkPlan
    val builds = buildSubtrees(p)
    assert(builds.nonEmpty, p.toString)
    assert(!builds.flatMap(scanPaths).exists(_.contains("lineitem")),
      s"fact on a build side:\n$p")
    val s = p.toString
    assert(s.contains("TakeOrderedAndProject"), s)
    assert(s.split("HashAggregate").length - 1 >= 2, s)
  }

  // TPCDS-Q96 (tpcds-all.test:2817-2905): three selective dims
  // (time_dim t_hour/t_minute, household_demographics hd_dep_count,
  // store s_store_name) all build; the fact streams through the
  // 3-join chain into a 2-phase count.
  test("tpcds q96: three selective dims build around the streamed fact (tpcds-all.test:2817-2905)") {
    val p = qBig("tpcds_q96").queryExecution.sparkPlan
    val builds = buildSubtrees(p)
    assert(builds.nonEmpty, p.toString)
    assert(!builds.flatMap(scanPaths).exists(_.contains("lineitem")),
      s"fact on a build side:\n$p")
    val s = p.toString
    assert(s.split("HashAggregate").length - 1 >= 2, s)
  }

  // TPCDS-Q88 (tpcds-all.test:3554+): eight time-band count subqueries
  // each collapse to a single-row aggregate and the SELECT * combines
  // them as one-row nested-loop (cross) joins — eight independent agg
  // subtrees, never a data-sized cartesian.
  test("tpcds q88: eight 1-row aggs combined by broadcast NLJ (tpcds-all.test:3554+)") {
    val s = q("tpcds_q88").queryExecution.sparkPlan.toString
    assert(s.split("BroadcastNestedLoopJoin").length - 1 >= 7, s)
    // each band is its own 2-phase count: >= 16 HashAggregate nodes
    assert(s.split("HashAggregate").length - 1 >= 16, s)
    assert(!s.contains("CartesianProduct"), s)
  }

  // TPCDS-Q34 (tpcds-all.test:723-873): the per-ticket count aggregate
  // runs BELOW the customer join (aggregate-then-join shrinks the join
  // input to tickets) with the cnt-between filter on the aggregated
  // side — never aggregate-after-join.
  test("tpcds q34: ticket-count agg below the customer join (tpcds-all.test:723-873)") {
    val p = q("tpcds_q34").queryExecution.sparkPlan
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec, ShuffledHashJoinExec}
    val aggUnderJoin = p.collect {
      case j: BroadcastHashJoinExec => Seq(j.left, j.right)
      case j: SortMergeJoinExec => Seq(j.left, j.right)
      case j: ShuffledHashJoinExec => Seq(j.left, j.right)
    }.flatten.exists(side =>
      side.collect { case a: HashAggregateExec => a }
        .exists(_.groupingExpressions.exists(_.toString.contains("ss_ticket_number"))))
    assert(aggUnderJoin, p.toString)
    assert(p.toString.contains("cnt"), p.toString)
  }

  // TPCDS-Q47 (tpcds-all.test:3219-3405): v1 is referenced three times
  // (current/lag/lead month) — the reference plans exactly three scans
  // of the fact; the monthly-sum + window subtree must not multiply
  // beyond that. The entry materializes v1 (`qMat`): one fact scan
  // under the Window, then three reads of the checkpoint
  // (`graft_q47_v1 v1, v1_lag, v1_lead`).
  test("tpcds q47: the lag/lead self-join bounds at three fact scans (tpcds-all.test:3219-3405)") {
    val mat = assertDerivedOnce("tpcds_q47", refs = 3)
    assert(mat.toString.contains("Window"), mat.toString)
  }

  // TPCDS-Q53 (tpcds-all.test:1385-1502): quarterly manufacturer sums
  // under a Top-N — the registry's golden-port adaptation drops the
  // avg-window (q89/q98 pin the windowed variants), so the decision
  // here is Top-N directly over the 2-phase quarterly aggregate.
  test("tpcds q53: Top-N over 2-phase quarterly sums (tpcds-all.test:1385-1502)") {
    val s = q("tpcds_q53").queryExecution.sparkPlan.toString
    assert(s.contains("TakeOrderedAndProject"), s)
    assert(s.split("HashAggregate").length - 1 >= 2, s)
    assert(s.indexOf("TakeOrderedAndProject") < s.indexOf("HashAggregate"), s)
  }

  // TPCDS-Q65 (tpcds-all.test:1996-2199): per-item revenue and the
  // store totals are two aggregate branches over the fact — the
  // reference scans store_sales exactly twice, and so must the derived
  // plan (not once per downstream consumer). The entry materializes the
  // per-item revenue once (`qMat`); the two branches (sb, sc) read it.
  test("tpcds q65: exactly two fact-aggregate branches (tpcds-all.test:1996-2199)") {
    assertDerivedOnce("tpcds_q65", refs = 2)
  }

  // TPCDS-Q89 (tpcds-all.test:2683-2816): the category/brand monthly
  // sums feed an avg-over-partition window, the deviation filter sits
  // on the window output, Top-N on top.
  test("tpcds q89: agg -> window -> filter -> Top-N (tpcds-all.test:2683-2816)") {
    val s = q("tpcds_q89").queryExecution.sparkPlan.toString
    assert(s.contains("Window"), s)
    assert(s.contains("TakeOrderedAndProject"), s)
    assert(s.indexOf("TakeOrderedAndProject") < s.indexOf("Window"), s)
    assert(s.indexOf("Window") < s.lastIndexOf("HashAggregate"), s)
  }

  // TPCDS-Q98 (tpcds-all.test:2906-3218): the class-revenue share is a
  // windowed sum over the grouped revenue (ratio-to-report) — one
  // aggregate pass, one window, no self-join for the denominator.
  test("tpcds q98: revenue share is a window, not a denominator self-join (tpcds-all.test:2906-3218)") {
    val p = q("tpcds_q98").queryExecution.sparkPlan
    val s = p.toString
    assert(s.contains("Window"), s)
    val liScans = p.collect { case f: FileSourceScanExec => f }
      .count(_.relation.location.rootPaths.mkString.contains("lineitem"))
    assert(liScans === 1, s)
  }

  // TPCDS-Q42/Q52/Q55 (tpcds-all.test:874-968, 1291-1384, 1503-1593):
  // the brand-revenue star family — every member plans dims-build /
  // fact-streams with a Top-N over the 2-phase brand aggregate (same
  // decisions as Q3's pinned plan, one pin per family member).
  test("tpcds q42/q52/q55: the brand star family plans like q3 (tpcds-all.test:874-1593)") {
    for (name <- Seq("tpcds_q42", "tpcds_q52", "tpcds_q55")) {
      val p = qBig(name).queryExecution.sparkPlan
      val builds = buildSubtrees(p)
      assert(builds.nonEmpty, s"$name:\n$p")
      assert(!builds.flatMap(scanPaths).exists(_.contains("lineitem")),
        s"$name fact builds:\n$p")
      val s = p.toString
      assert(s.contains("TakeOrderedAndProject"), s"$name:\n$s")
      assert(s.split("HashAggregate").length - 1 >= 2, s"$name:\n$s")
    }
  }

  // TPCDS-Q7/Q27 (tpcds-all.test:101-234, 587-722): the 4-dim
  // demographic star — every dim (date, item, demographics, promotion
  // / store) builds with its selective predicate; the fact streams
  // into the per-item 2-phase average aggregate.
  test("tpcds q7/q27: four selective dims build around the fact (tpcds-all.test:101-234,587-722)") {
    for (name <- Seq("tpcds_q7", "tpcds_q27")) {
      val p = qBig(name).queryExecution.sparkPlan
      assert(!buildSubtrees(p).flatMap(scanPaths).exists(_.contains("lineitem")),
        s"$name fact builds:\n$p")
      assert(p.toString.split("HashAggregate").length - 1 >= 2,
        s"$name:\n$p")
    }
  }

  // TPCDS-Q46/Q68/Q79 (tpcds-all.test:1072-1290, 2200-2387,
  // 2533-2682): the ticket family — per-ticket amounts aggregate
  // BELOW the customer join (Q34's decision at three more queries).
  test("tpcds q46/q68/q79: ticket aggs run below the customer join (tpcds-all.test:1072-2682)") {
    import org.apache.spark.sql.execution.joins.{SortMergeJoinExec, ShuffledHashJoinExec}
    for (name <- Seq("tpcds_q46", "tpcds_q68", "tpcds_q79")) {
      val p = q(name).queryExecution.sparkPlan
      val aggUnderJoin = p.collect {
        case j: BroadcastHashJoinExec => Seq(j.left, j.right)
        case j: SortMergeJoinExec => Seq(j.left, j.right)
        case j: ShuffledHashJoinExec => Seq(j.left, j.right)
      }.flatten.exists(side =>
        side.collect { case a: HashAggregateExec => a }
          .exists(_.groupingExpressions.exists(_.toString.contains("ss_ticket_number"))))
      assert(aggUnderJoin, s"$name:\n$p")
    }
  }

  // TPCDS-Q43 (tpcds-all.test:969-1071): the weekday pivot is ONE
  // 2-phase aggregate over the date-joined fact (seven CASE sums in a
  // single pass), never one branch per weekday.
  test("tpcds q43: weekday pivot is a single aggregate pass (tpcds-all.test:969-1071)") {
    val p = q("tpcds_q43").queryExecution.sparkPlan
    val liScans = p.collect { case f: FileSourceScanExec => f }
      .count(_.relation.location.rootPaths.mkString.contains("lineitem"))
    assert(liScans === 1, p.toString)
    // all seven CASE sums live in ONE aggregate (the schema-derivation
    // CTEs contribute their own aggs, so count the pivot's, not all)
    val onePass = p.collect { case a: HashAggregateExec => a }.exists(a =>
      a.aggregateExpressions.toString.contains("Sunday") &&
      a.aggregateExpressions.toString.contains("Saturday"))
    assert(onePass, p.toString)
  }

  // TPCDS-Q63 (tpcds-all.test:1853-1995): Q53's sibling — the manager
  // monthly sums under a Top-N, one fact pass.
  test("tpcds q63: one fact pass under the Top-N (tpcds-all.test:1853-1995)") {
    val p = q("tpcds_q63").queryExecution.sparkPlan
    val liScans = p.collect { case f: FileSourceScanExec => f }
      .count(_.relation.location.rootPaths.mkString.contains("lineitem"))
    assert(liScans === 1, p.toString)
    assert(p.toString.contains("TakeOrderedAndProject"), p.toString)
  }

  // TPCDS-Q73 (tpcds-all.test:2388-2532): Q34's sibling (cnt 1-5
  // band) — same aggregate-then-join decision.
  test("tpcds q73: ticket-count agg below the customer join (tpcds-all.test:2388-2532)") {
    import org.apache.spark.sql.execution.joins.{SortMergeJoinExec, ShuffledHashJoinExec}
    val p = q("tpcds_q73").queryExecution.sparkPlan
    val aggUnderJoin = p.collect {
      case j: BroadcastHashJoinExec => Seq(j.left, j.right)
      case j: SortMergeJoinExec => Seq(j.left, j.right)
      case j: ShuffledHashJoinExec => Seq(j.left, j.right)
    }.flatten.exists(side =>
      side.collect { case a: HashAggregateExec => a }
        .exists(_.groupingExpressions.exists(_.toString.contains("ss_ticket_number"))))
    assert(aggUnderJoin, p.toString)
  }

  // TPCDS-Q19 (tpcds-all.test:427-586): brand revenue with the
  // customer/store zip inequality — the non-equi predicate rides a
  // hash join as a residual, never forcing a nested-loop.
  test("tpcds q19: zip inequality stays residual on hash joins (tpcds-all.test:427-586)") {
    val s = q("tpcds_q19").queryExecution.sparkPlan.toString
    assert(!s.contains("CartesianProduct"), s)
    assert(s.contains("TakeOrderedAndProject"), s)
    assert(s.split("HashAggregate").length - 1 >= 2, s)
  }

  // TPCDS-Q8 (tpcds-all.test:235-426): the zip-prefix dimension chain
  // (substr IN-list + customer-preferred count HAVING) feeds the store
  // join; the fact streams; net-profit agg is 2-phase.
  test("tpcds q8: zip chain builds, fact streams, 2-phase profit agg (tpcds-all.test:235-426)") {
    val p = qBig("tpcds_q8").queryExecution.sparkPlan
    assert(!buildSubtrees(p).flatMap(scanPaths).exists(_.contains("lineitem")),
      p.toString)
    assert(p.toString.split("HashAggregate").length - 1 >= 2, p.toString)
  }

  // TPCDS-Q66 (tpcds-all.test:3406-3553): the planner file's q66 is
  // the store-only promotions/total text (= workload tpcds-q61.test).
  // Reference plan: NESTED LOOP JOIN [CROSS JOIN] of two AGGREGATE
  // [FINALIZE] fragments — two independent single-row sum branches,
  // dims build while both fact scans stream; never a data-sized
  // cartesian.
  test("tpcds q66: two 1-row agg branches cross-joined, fact streams (tpcds-all.test:3406-3553)") {
    val p = qBig("tpcds_q66").queryExecution.sparkPlan
    val s = p.toString
    assert(s.split("BroadcastNestedLoopJoin").length - 1 >= 1, s)
    assert(!s.contains("CartesianProduct"), s)
    // each branch is its own 2-phase sum: >= 4 HashAggregate nodes
    assert(s.split("HashAggregate").length - 1 >= 4, s)
    val builds = buildSubtrees(p)
    assert(builds.nonEmpty, s)
    assert(!builds.flatMap(scanPaths).exists(_.contains("lineitem")),
      s"fact on a build side:\n$s")
  }

  // TPCDS-Q59 (tpcds-all.test:1594-1852): the shared weekly-sales CTE
  // (wss) is referenced twice (current week vs +52); the reference
  // materializes the shared subtree once per fragment. The entry
  // checkpoints wss once (`qMat`) and both the y and x branches read
  // that one checkpoint.
  test("tpcds q59: shared weekly CTE materializes once (tpcds-all.test:1594-1852)") {
    assertDerivedOnce("tpcds_q59", refs = 2)
  }
}
