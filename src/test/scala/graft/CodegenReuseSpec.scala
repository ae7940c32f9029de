package graft

import java.nio.file.Files
import org.apache.commons.io.FileUtils
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark.withConf
import graft.plans.HoistedLiteral

/** `graft.plans.HoistLiterals`: statements that differ only in constants
  * reuse compiled classes, every hoisted type answers as interpreted
  * evaluation does, and what the planner shows or decides from a
  * constant (explain text, pushed filters, partition pruning, exchange
  * reuse) is as it was with plain literals.
  */
class CodegenReuseSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark

  private def sql(q: String): DataFrame = Engine.sql(spark, TestSpark.sf, q)

  /** Hoisted constants in the filters and projections of `plan`. */
  private def hoisted(plan: SparkPlan): Seq[HoistedLiteral] = collect(plan) {
    case p @ (_: FilterExec | _: ProjectExec) =>
      p.expressions.flatMap(_.collect { case h: HoistedLiteral => h })
  }.flatten

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("statements that differ only in int, bigint, double and timestamp constants compile once") {
    def stmt(n: Int, k: Long, q: Double, day: String, ts: String) =
      s"""select l_orderkey, l_linenumber, l_extendedprice * ${q}d + $n as x,
         |  timestamp '$ts' as t
         |from lineitem
         |where l_linenumber < $n and l_orderkey > ${k}L and l_quantity > ${q}d
         |  and l_shipdate >= timestamp_ntz '$day'""".stripMargin
    sql(stmt(5, 100L, 10.5, "1994-01-01", "2001-02-03 04:05:06")).collect()
    val before = compiles
    val second = sql(stmt(6, 200L, 5.25, "1993-06-30", "2011-12-13 14:15:16"))
    val rows = second.collect()
    assert(compiles - before === 0L)
    assert(rows.nonEmpty && rows.forall(r => r.getInt(1) < 6 &&
      r.getLong(0) > 200L))
    val types = hoisted(second.queryExecution.executedPlan).map(_.dataType).toSet
    assert(Set[DataType](IntegerType, LongType, DoubleType, TimestampType,
      TimestampNTZType).subsetOf(types), second.queryExecution.executedPlan)
  }

  test("every hoisted type answers under codegen without fallback as interpreted") {
    // (type, column expression over range id, a literal of the type)
    val cases = Seq(
      (ByteType, "cast(id % 100 as tinyint)", "cast(40 as tinyint)"),
      (ShortType, "cast(id as smallint)", "cast(150 as smallint)"),
      (IntegerType, "cast(id as int) * 3", "457"),
      (LongType, "id * 1000000007", "123456789012L"),
      (FloatType, "cast(id as float) * cast(0.25 as float)", "cast(60.5 as float)"),
      (DoubleType, "id * 0.37d", "101.25d"),
      (DateType, "date_from_unix_date(cast(id as int))", "date '1970-06-30'"),
      (TimestampType, "timestamp_seconds(id * 3600)", "timestamp '1970-01-08 05:00:00'"),
      (TimestampNTZType, "cast(timestamp_seconds(id * 3600) as timestamp_ntz)",
        "timestamp_ntz '1970-01-12 07:00:00'"))
    for ((t, c, lit) <- cases) {
      val q = s"select id, greatest(c, $lit) as g from " +
        s"(select id, $c as c from range(0, 500)) where c > $lit"
      val codegen = withConf("spark.sql.codegen.fallback" -> "false",
          "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY") {
        val df = sql(q)
        val rows = df.collect()
        assert(hoisted(df.queryExecution.executedPlan).exists(_.dataType == t),
          s"$t not hoisted:\n${df.queryExecution.executedPlan}")
        rows
      }
      val interpreted = withConf("spark.sql.codegen.wholeStage" -> "false",
          "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
        val before = compiles
        val rows = sql(q).collect()
        assert(compiles === before, s"$t: the interpreted run compiled")
        rows
      }
      assert(codegen.nonEmpty && codegen.length < 500, s"$t: ${codegen.length} rows")
      assert(codegen.sortBy(_.getLong(0)).toSeq ===
        interpreted.sortBy(_.getLong(0)).toSeq, t)
    }
  }

  test("a hoisted filter explains as before and its scan still pushes the constant") {
    val df = sql("select l_orderkey, l_quantity from lineitem where l_orderkey = 42")
    val plan = df.queryExecution.executedPlan
    assert(hoisted(plan).nonEmpty, plan)
    val plain = plan.transformAllExpressions { case h: HoistedLiteral => h.literal }
    assert(plan.treeString(verbose = true) === plain.treeString(verbose = true))
    val filter = plan.collectFirst { case f: FilterExec => f }.get
    assert(filter.verboseStringWithOperatorId() ===
      plain.collectFirst { case f: FilterExec => f }.get.verboseStringWithOperatorId())
    assert(filter.condition.toString.contains("= 42)"), filter.condition)
    val scan = plan.collectFirst { case s: FileSourceScanExec => s }.get
    assert(scan.metadata("PushedFilters").contains("EqualTo(l_orderkey,42)"),
      scan.metadata("PushedFilters"))
    assert(scan.dataFilters.exists(_.exists(_ == Literal(42L))), scan.dataFilters)
    assert(scan.expressions.forall(_.find(_.isInstanceOf[HoistedLiteral]).isEmpty))
  }

  test("a point query on a partitioned table still reads one partition") {
    val root = Files.createTempDirectory("hoist-part")
    try {
      val dir = root.resolve("t").toString
      spark.range(0, 300)
        .selectExpr("id as k", "id * 0.5d as v", "cast(id % 3 as int) as p")
        .write.partitionBy("p").parquet(dir)
      val df = spark.read.parquet(dir).where("p = 2 and k > 10")
      val rows = df.collect()
      val scan = df.queryExecution.executedPlan.collectFirst {
        case s: FileSourceScanExec => s
      }.get
      assert(scan.selectedPartitions.partitionCount === 1)
      assert(rows.length === (11 until 300).count(_ % 3 == 2))
      assert(rows.forall(r => r.getAs[Int]("p") == 2))
    } finally FileUtils.deleteDirectory(root.toFile)
  }

  test("a filtered subtree that appears twice still reuses its exchange") {
    val q =
      """with t as (select l_suppkey, sum(l_quantity) as q from lineitem
        |  where l_orderkey > 100 group by l_suppkey)
        |select a.l_suppkey, a.q, b.q as q2 from t a join t b
        |  on a.l_suppkey = b.l_suppkey""".stripMargin
    val aqe = sql(q)
    aqe.collect()
    assert(collect(aqe.queryExecution.executedPlan) {
      case r: ReusedExchangeExec => r }.nonEmpty, aqe.queryExecution.executedPlan)
    // without AQE, exchange reuse compares the hoisted plans themselves
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val plan = spark.sql(q).queryExecution.executedPlan
      assert(hoisted(plan).nonEmpty, plan)
      assert(plan.collect { case r: ReusedExchangeExec => r }.nonEmpty, plan)
    }
  }
}
