package graft.sources

import graft.{Engine, Q}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Table sink parity (SURVEY.md section 2.2, reference
  * `be/src/exec/hdfs-table-sink.{h,cc}`): `INSERT [OVERWRITE] ...
  * PARTITION` with dynamic partitioning maps to
  * `df.write.partitionBy(...).parquet(...)` — Spark's commit protocol
  * provides the staging-dir + final-move semantics the reference
  * implements by hand (hdfs-table-sink.h:40-122).
  */
object TableSink {

  /** Dynamic-partitioned parquet write (INSERT OVERWRITE analog). */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String],
      overwrite: Boolean = true): Unit =
    df.write
      .mode(if (overwrite) SaveMode.Overwrite else SaveMode.Append)
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Round-trip sink check: write orders partitioned by order year
    * (dynamic partitioning, partition column derived in-flight), read the
    * partitioned layout back, and aggregate per partition. The oracle
    * computes the same aggregate from the source table, so partition
    * pruning + the write path itself are value-checked.
    */
  val partitionedRoundtrip: Q = Q("sink_partitioned",
    (s, d) => {
      Engine.configure(s)
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_sink_orders"
      val src = Engine.table(s, d, "orders")
        .withColumn("o_year", year(col("o_orderdate")))
      writePartitioned(src, out, Seq("o_year"))
      s.read.parquet(out)
        .filter(col("o_year").between(1996, 1998)) // partition pruning path
        .groupBy(col("o_year"))
        .agg(count(lit(1)).as("n_orders"),
          graft.Det.dsum2(col("o_totalprice")).as("volume"))
        .orderBy(col("o_year"))
    },
    Some(s"""SELECT CAST(YEAR(o_orderdate) AS INT) AS o_year,
      |  COUNT(*) AS n_orders,
      |  ${graft.Det.oSum2("o_totalprice")} AS volume
      |FROM orders
      |WHERE YEAR(o_orderdate) BETWEEN 1996 AND 1998
      |GROUP BY YEAR(o_orderdate)
      |ORDER BY o_year""".stripMargin))

  /** Keyed-store sink round trip (HBase table sink analog — see
    * KvStoreSink): write orders as keyed puts, scan them back with a
    * pushed key range, aggregate per tag. The oracle computes the same
    * aggregate straight from the source table, so the put/scan path is
    * value-checked end to end.
    */
  val kvRoundtrip: Q = Q("sink_kv_roundtrip",
    (s, d) => {
      Engine.configure(s)
      KvStore.drop("q_orders")
      Engine.table(s, d, "orders")
        .select(col("o_orderkey").as("key"),
          col("o_totalprice").as("val"),
          col("o_orderstatus").as("tag"))
        .write.format("graft.sources.KvStoreSink")
        .option("table", "q_orders").mode(SaveMode.Append).save()
      s.read.format("graft.sources.KvStoreSink")
        .option("table", "q_orders").load()
        .filter(col("key") <= 1000)
        .groupBy(col("tag"))
        .agg(count(lit(1)).as("n"), graft.Det.dsum2(col("val")).as("total"))
        .orderBy(col("tag"))
    },
    Some(s"""SELECT o_orderstatus AS tag, COUNT(*) AS n,
      |  ${graft.Det.oSum2("o_totalprice")} AS total
      |FROM orders WHERE o_orderkey <= 1000
      |GROUP BY o_orderstatus ORDER BY tag""".stripMargin))

  val defs: Seq[Q] = Seq(partitionedRoundtrip, kvRoundtrip)
}
