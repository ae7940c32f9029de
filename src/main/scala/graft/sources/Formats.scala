package graft.sources

import graft.{Engine, Fixtures, Q}
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/** Scanner-format parity (SURVEY.md section 2.1 #1: the reference ships
  * per-format scanners — text/CSV `hdfs-text-scanner.cc`, Parquet, Avro,
  * JSON-ish via serdes). Spark's DataSource covers parquet/CSV/JSON
  * natively; these round trips prove the text paths end-to-end: write the
  * canonical table out in the format, read it back with an explicit
  * schema, and aggregate — the oracle computes the same result from the
  * parquet source, so any encode/decode loss fails the hash check.
  */
object Formats {

  private def tmp(name: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_fmt_$name"

  val csvRoundtrip: Q = Q("scan_csv",
    (s, d) => {
      Engine.configure(s)
      val src = Engine.table(s, d, "customer")
      val path = tmp("customer_csv")
      src.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)
      s.read.schema(src.schema).option("header", "true").csv(path)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), graft.Det.dsum2(col("c_acctbal")).as("bal"))
        .orderBy(col("c_mktsegment"))
    },
    Some(s"""SELECT c_mktsegment, COUNT(*) AS n,
      |  ${graft.Det.oSum2("c_acctbal")} AS bal
      |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin))

  val jsonRoundtrip: Q = Q("scan_json",
    (s, d) => {
      Engine.configure(s)
      val src = Engine.table(s, d, "supplier")
      val path = tmp("supplier_json")
      src.write.mode(SaveMode.Overwrite).json(path)
      s.read.schema(src.schema).json(path)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n"), max(col("s_acctbal")).as("max_bal"))
        .orderBy(col("s_nationkey"))
    },
    Some("""SELECT s_nationkey, COUNT(*) AS n, MAX(s_acctbal) AS max_bal
      |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin))

  /** Avro round trip — the reference's Avro scanner/writer
    * (`be/src/exec/hdfs-avro-scanner.h`, `hdfs-avro-table-writer.cc`).
    * Spark 4 bundles the Avro source inside spark-sql but does not
    * service-register the "avro" shortname in this distribution, so the
    * provider class is named explicitly. Timestamps go through Avro's
    * timestamp-micros logical type, exactly the reference's microsecond
    * write resolution, so the round trip is lossless for this schema.
    */
  private val AvroProvider = "org.apache.spark.sql.avro.AvroFileFormat"

  val avroRoundtrip: Q = Q("scan_avro",
    (s, d) => {
      Engine.configure(s)
      val src = Engine.table(s, d, "orders")
      val path = tmp("orders_avro")
      src.write.mode(SaveMode.Overwrite).format(AvroProvider).save(path)
      s.read.format(AvroProvider).schema(src.schema).load(path)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          graft.Det.dsum2(col("o_totalprice")).as("total"),
          max(col("o_orderdate")).as("max_date"))
        .orderBy(col("o_orderpriority"))
    },
    Some(s"""SELECT o_orderpriority, COUNT(*) AS n,
      |  ${graft.Det.oSum2("o_totalprice")} AS total,
      |  MAX(o_orderdate) AS max_date
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin))

  /** External data-source scan through the DSv2 connector (SURVEY 2.1
    * #3, `KvRangeSource`): the id-range conjuncts are ACCEPTED by the
    * source (narrow generation), the tag conjunct stays residual. The
    * oracle recomputes the same deterministic rows from DuckDB's range().
    */
  val dsv2Scan: Q = Q("scan_datasource",
    (s, d) => {
      Engine.configure(s)
      s.read.format("graft.sources.KvRangeSource").option("rows", "100000")
        .load()
        .filter(col("id") >= 1000 && col("id") < 2000)
        .groupBy(col("tag"))
        .agg(count(lit(1)).as("n"), graft.Det.dsum2(col("val")).as("total"))
        .orderBy(col("tag"))
    },
    Some(s"""SELECT 't' || (id % 7) AS tag, COUNT(*) AS n,
      |  ${graft.Det.oSum2("(id % 97) * 0.5")} AS total
      |FROM (SELECT range AS id FROM range(0, 100000))
      |WHERE id >= 1000 AND id < 2000
      |GROUP BY 1 ORDER BY tag""".stripMargin))

  /** Escape-aware delimited text scan (delimited-text.test's
    * comma/backslash fixture, `delimited-text-parser.cc`): the Spark
    * side parses the in-repo fixture `text-comma-backslash-newline.txt`
    * ([[Fixtures]]; its bytes are the reference values below,
    * escaped as [[DelimitedText]] documents) through
    * [[DelimitedText.read]]; the oracle is the reference's expected
    * decoded VALUES as constants (DuckDB's CSV reader cannot parse
    * unquoted escapes — the expected rows ARE the published fixture
    * semantics, QueryTest/delimited-text.test:5-15).
    */
  val delimitedScan: Q = Q("scan_delimited",
    (s, _) => {
      Engine.configure(s)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("f1",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("f2",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("f3",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("f4",
          org.apache.spark.sql.types.IntegerType)))
      DelimitedText.read(s,
        Fixtures.path("text-comma-backslash-newline.txt"),
        schema, sep = ',', esc = '\\')
        .orderBy(col("f1"))
    },
    Some("""SELECT f1, f2, CAST(f3 AS INT) AS f3, CAST(f4 AS INT) AS f4
      |FROM (VALUES
      |  ('one', 'two', 3, 4),
      |  ('one,one', 'two', 3, 4),
      |  ('one\', 'two', 3, 4),
      |  ('one\,one', 'two', 3, 4),
      |  ('one\\', 'two', 3, 4)) t(f1, f2, f3, f4)
      |ORDER BY f1""".stripMargin))

  /** All-types external data-source scan (SURVEY 2.1 #3): the DSv2 port
    * of the reference's test data source
    * (`ext-data-source/test/.../AllTypesDataSource.java`, see
    * [[AllTypesSource]]) — deterministic generated rows across every
    * scalar type family (int widths, float/double, timestamp, nullable
    * string, decimals at 5 precisions). The id-range conjunct is
    * ACCEPTED and applied by the source; the aggregate exercises
    * decimal sums, null-string counting and timestamp max. The oracle
    * regenerates the same rows from DuckDB's range().
    */
  val allTypesDs: Q = Q("scan_alltypes_ds",
    (s, _) => {
      Engine.configure(s)
      s.read.format("graft.sources.AllTypesSource").load()
        .filter(col("id") >= 100 && col("id") < 4100)
        .groupBy(col("tinyint_col"))
        .agg(count(lit(1)).as("n"),
          count(col("string_col")).as("n_str"),
          sum(col("bigint_col")).as("sum_big"),
          // exact decimal sum, then one cast to DOUBLE: the group sums all
          // carry trailing zeros at scale 5 (e.g. -39999991.61600), the one
          // rendering class where DECIMAL stringification diverges between
          // engines while comparing numerically equal (Det policy, NOTES.md
          // rule 1 — same treatment as the tpcds money sums)
          sum(col("dec_col5"))
            .cast(org.apache.spark.sql.types.DecimalType(25, 5))
            .cast("double").as("sum_dec"),
          // epoch-millis BIGINT, not a raw timestamp: Spark writes
          // TimestampType parquet as isAdjustedToUTC=true while DuckDB's
          // epoch_ms() is naive — tz-aware vs naive stringify unequally
          // in the driver's hasher, so compare on the integer domain
          unix_millis(max(col("timestamp_col"))).as("max_ts"))
        .orderBy(col("tinyint_col"))
    },
    Some("""SELECT CAST(r % 10 AS TINYINT) AS tinyint_col,
      |  COUNT(*) AS n,
      |  COUNT(CASE WHEN r % 5 <> 0 THEN 1 END) AS n_str,
      |  CAST(SUM(r * 10) AS BIGINT) AS sum_big,
      |  CAST(CAST(SUM(CAST(CASE WHEN r % 2 = 0 THEN -(10000000000 - (r + 1))
      |                     ELSE 10000000000 - (r + 1) END AS DECIMAL(15,0))
      |           * CAST(0.00001 AS DECIMAL(6,5))) AS DECIMAL(25,5)) AS DOUBLE) AS sum_dec,
      |  CAST(MAX(r) AS BIGINT) AS max_ts
      |FROM range(100, 4100) t(r)
      |GROUP BY 1 ORDER BY tinyint_col""".stripMargin))

  val defs: Seq[Q] = Seq(csvRoundtrip, jsonRoundtrip, avroRoundtrip, dsv2Scan,
    delimitedScan, allTypesDs)
}
