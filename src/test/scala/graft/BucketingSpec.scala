package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark.withConf

/** Bucketed co-located join: the shuffle-elimination pattern for
  * repeatedly-joined big tables (SURVEY design rules). Writing both
  * sides bucketed by the join key into the warehouse lets every later
  * equi-join on that key run with NO exchange on either side — at 100 TB
  * this converts the dominant repeated shuffle into a one-time layout
  * cost, the Spark analog of the reference's partitioned join on
  * co-partitioned HDFS data.
  */
class BucketingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // one-time bucketed layout shared by both tests
  private lazy val bucketed: Unit = {
    Engine.configure(spark)
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    // a crashed earlier run can leave the managed location behind after
    // the catalog entry is gone — clear it or saveAsTable refuses
    for (t <- Seq("b_lineitem", "b_orders")) {
      val loc = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir")
          .stripPrefix("file:"), t)
      if (loc.exists()) {
        import scala.reflect.io.Directory
        new Directory(loc).deleteRecursively()
      }
    }
    Engine.table(spark, TestSpark.sf, "lineitem")
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("b_lineitem")
    Engine.table(spark, TestSpark.sf, "orders")
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("b_orders")
  }

  test("equi-join on bucketed tables runs without a shuffle on either side") {
    bucketed
    // disable broadcast so the join would otherwise shuffle both sides
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val joined = spark.table("b_lineitem")
        .join(spark.table("b_orders"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"))
      val p = joined.queryExecution.executedPlan.toString
      // bucket layout satisfies the join's required distribution: the
      // only exchange allowed is the one for the final small aggregation
      val joinSection = p.linesIterator
        .dropWhile(l => !l.contains("SortMergeJoin") && !l.contains("ShuffledHashJoin"))
        .mkString("\n")
      assert(joinSection.nonEmpty, p)
      assert(!joinSection.contains("Exchange hashpartitioning(l_orderkey"), p)
      assert(!joinSection.contains("Exchange hashpartitioning(o_orderkey"), p)
      // result parity with the unbucketed plan
      val expect = Engine.table(spark, TestSpark.sf, "lineitem")
        .join(Engine.table(spark, TestSpark.sf, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val got = joined.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got === expect)
    }
  }

  test("bucket pruning skips non-matching buckets on point lookups") {
    bucketed
    // auto-bucketed-scan demotes scan-only reads to non-bucketed (no
    // join to co-locate with); force the bucketed read so the point
    // filter can prune buckets
    withConf("spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false") {
      val df = spark.table("b_lineitem").filter(col("l_orderkey") === 42)
      val scan = df.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.head
      // SelectedBucketsCount appears once bucket pruning kicks in
      val meta = scan.metadata.get("SelectedBucketsCount")
      assert(meta.exists(_.contains("1 out of 8")), s"bucket pruning missing: $meta")
    }
  }
}
