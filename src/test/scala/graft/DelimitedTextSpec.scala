package graft

import graft.sources.DelimitedText
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Conformance with the reference's QueryTest/delimited-text.test,
  * delimited-latin-text.test and overflow.test: expected VALUES are the
  * reference's own, read from the in-repo fixtures
  * (`src/main/resources/fixtures`, resolved by [[Fixtures.path]]).
  * text-comma-backslash-newline.txt, text-dollar-hash-pipe.txt and
  * text-thorn-ecirc-newline.txt are literal bytes, not produced by
  * [[DelimitedText.write]]: the reference values below, escaped by the
  * documented rule (an escape makes the next character literal,
  * sources/DelimitedText.scala), with the reference files' separators,
  * escapes and terminators. overflow.txt is a constructed boundary
  * case, not the reference's file (FIXTURES.md §4).
  *
  * Adaptation (documented in sources/DelimitedText.scala): the latin
  * fixture's 0xFE/0xEA delimiter BYTES decode via Latin-1 into U+00FE /
  * U+00EA characters — the reference renders the raw bytes as
  * '\xfe'/'\xea'; same code points either way.
  */
class DelimitedTextSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val schema = StructType(Seq(
    StructField("f1", StringType), StructField("f2", StringType),
    StructField("f3", IntegerType), StructField("f4", IntegerType)))

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(String, String, Int, Int)] =
    df.collect().toSeq.map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getInt(3)))

  test("delimited-text.test: fields ',' escaped '\\' lines '\\n'") {
    val df = DelimitedText.read(spark, Fixtures.path("text-comma-backslash-newline.txt"),
      schema, sep = ',', esc = '\\')
    assert(rows(df).sortBy(_._1) === Seq(
      ("one", "two", 3, 4),
      ("one,one", "two", 3, 4),
      ("one\\", "two", 3, 4),
      ("one\\,one", "two", 3, 4),
      ("one\\\\", "two", 3, 4)).sortBy(_._1))
  }

  test("delimited-text.test: fields '$' escaped '#' lines '|'") {
    val df = DelimitedText.read(spark, Fixtures.path("text-dollar-hash-pipe.txt"),
      schema, sep = '$', esc = '#', lineSep = "|")
    assert(rows(df).sortBy(_._1) === Seq(
      ("one", "two", 3, 4),
      ("one$one", "two", 3, 4),
      ("one#", "two", 3, 4),
      ("one#$one", "two", 3, 4),
      ("one##", "two", 3, 4)).sortBy(_._1))
  }

  test("delimited-latin-text.test: extended-ASCII thorn/ecirc delimiters") {
    val df = DelimitedText.read(spark, Fixtures.path("text-thorn-ecirc-newline.txt"),
      schema, sep = 'þ', esc = 'ê', charset = "ISO-8859-1")
    assert(rows(df).sortBy(_._1) === Seq(
      ("one", "two", 3, 4),
      ("oneþone", "two", 3, 4),
      ("oneê", "two", 3, 4),
      ("oneêþone", "two", 3, 4),
      ("oneêê", "two", 3, 4)).sortBy(_._1))
  }

  test("delimited-text.test: insert into cbn/dhp round-trips escaped values") {
    import spark.implicits._
    // the reference's INSERT ... VALUES blocks (backslash literals
    // unescaped to runtime values)
    val cbn = Seq(
      ("abc , abc", "xyz \\ xyz", 1, 2),
      ("abc ,,, abc", "xyz \\\\\\ xyz", 3, 4),
      ("abc \\,\\, abc", "xyz ,\\,\\ xyz", 5, 6))
    val dhp = Seq(
      ("abc $ abc", "xyz # xyz", 1, 2),
      ("abc $$$ abc", "xyz ### xyz", 3, 4),
      ("abc #$#$ abc", "xyz $#$# xyz", 5, 6))
    val tmp = System.getProperty("java.io.tmpdir")
    val cbnPath = s"$tmp/graft_delim_cbn"
    val dhpPath = s"$tmp/graft_delim_dhp"
    DelimitedText.write(cbn.toDF("f1", "f2", "f3", "f4"), cbnPath,
      sep = ',', esc = '\\')
    DelimitedText.write(dhp.toDF("f1", "f2", "f3", "f4"), dhpPath,
      sep = '$', esc = '#', lineSep = "|")
    assert(rows(DelimitedText.read(spark, cbnPath, schema, ',', '\\'))
      .sortBy(_._3) === cbn)
    assert(rows(DelimitedText.read(spark, dhpPath, schema, '$', '#',
      lineSep = "|")).sortBy(_._3) === dhp)
  }

  test("writer emits the reference's exact byte encoding") {
    import spark.implicits._
    // write the comma/backslash fixture's VALUES and compare the file
    // bytes with the fixture's literal encoding, line for line
    val vals = Seq(
      ("one", "two", 3, 4), ("one,one", "two", 3, 4),
      ("one\\", "two", 3, 4), ("one\\,one", "two", 3, 4),
      ("one\\\\", "two", 3, 4))
    val tmp = System.getProperty("java.io.tmpdir")
    val path = s"$tmp/graft_delim_bytes"
    DelimitedText.write(vals.toDF("f1", "f2", "f3", "f4")
      .coalesce(1), path, sep = ',', esc = '\\')
    val written = {
      val dir = new java.io.File(path)
      val part = dir.listFiles().filter(_.getName.startsWith("part-")).head
      val src = scala.io.Source.fromFile(part, "UTF-8")
      try src.getLines().toList.sorted finally src.close()
    }
    val ref = {
      val src = scala.io.Source.fromFile(
        Fixtures.path("text-comma-backslash-newline.txt"), "UTF-8")
      try src.getLines().toList.sorted finally src.close()
    }
    assert(written === ref)
  }

  test("overflow.test: out-of-range text values saturate, never null") {
    // the reference's text scanner clamps integer overflow to the type's
    // min/max and float overflow to +/-Infinity (string-parser.h;
    // QueryTest/overflow.test). fixtures/overflow.txt is a constructed
    // boundary case, not the reference's bytes: the outer rows are one
    // past each bound (FIXTURES.md §4)
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("a", ByteType), StructField("b", ShortType),
      StructField("c", IntegerType), StructField("d", LongType),
      StructField("e", FloatType), StructField("f", DoubleType)))
    val rows = DelimitedText.read(spark,
        Fixtures.path("overflow.txt"), schema, sep = ',', esc = '\\')
      .collect()
      .map(r => (r.getByte(0), r.getShort(1), r.getInt(2), r.getLong(3),
        r.getFloat(4), r.getDouble(5)))
      .sortBy(_._1)
    assert(rows.toSeq === Seq(
      (Byte.MinValue, Short.MinValue, Int.MinValue, Long.MinValue,
        Float.NegativeInfinity, Double.NegativeInfinity),
      (1.toByte, 2.toShort, 3, 4L, 5.5f, 6.6),
      (Byte.MaxValue, Short.MaxValue, Int.MaxValue, Long.MaxValue,
        Float.PositiveInfinity, Double.PositiveInfinity)))
  }

  test("integer text wider than DECIMAL(38,0) saturates by its sign") {
    // 40-digit literals overflow the DECIMAL(38,0) the integer clamp goes
    // through; they must still read as the bound of their sign, while a
    // zero-padded 45-character literal keeps its small value
    val big = "1" + "0" * 39
    val dir = java.nio.file.Files.createTempDirectory("graft_delim_wide")
    val lines = Seq(s"-$big", big, s"+$big", "0" * 43 + "42")
      .map(v => Seq.fill(4)(v).mkString(","))
    java.nio.file.Files.write(dir.resolve("wide.txt"),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    val schema = StructType(Seq(
      StructField("a", ByteType), StructField("b", ShortType),
      StructField("c", IntegerType), StructField("d", LongType)))
    val rows = DelimitedText.read(spark, dir.toString, schema,
        sep = ',', esc = '\\')
      .collect()
      .map(r => (r.getByte(0), r.getShort(1), r.getInt(2), r.getLong(3)))
      .sortBy(_._1)
    assert(rows.toSeq === Seq(
      (Byte.MinValue, Short.MinValue, Int.MinValue, Long.MinValue),
      (42.toByte, 42.toShort, 42, 42L),
      (Byte.MaxValue, Short.MaxValue, Int.MaxValue, Long.MaxValue),
      (Byte.MaxValue, Short.MaxValue, Int.MaxValue, Long.MaxValue)))
  }
}
