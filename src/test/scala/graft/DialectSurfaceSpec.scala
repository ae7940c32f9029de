package graft

import org.scalatest.funsuite.AnyFunSuite

/** The round-7 builtin-surface completion sweep, pinned against the
  * reference's own expr-test expectations
  * (`be/src/exprs/expr-test.cc` line refs per test): MADlib vector
  * interop, decimal type metadata, numeric truncation, timestamp_cmp,
  * type extrema, the d-/f-prefixed math-alias family, and the
  * operator function-forms.
  */
class DialectSurfaceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def one(sql: String): org.apache.spark.sql.Row =
    Engine.sql(spark, TestSpark.sf, s"select $sql").collect().head

  test("madlib vector family matches expr-test.cc:5542-5559") {
    val r = one(
      """madlib_encode_vector(madlib_vector(1.0, 2.0, 3.0)) a,
        |madlib_print_vector(madlib_vector(1, 2, 3)) b,
        |madlib_encode_vector(madlib_decode_vector(madlib_encode_vector(
        |  madlib_vector(1.0, 2.0, 3.0)))) c,
        |madlib_vector_get(0, madlib_vector(1.0, 2.0, 3.0)) g0,
        |madlib_vector_get(1, madlib_vector(1.0, 2.0, 3.0)) g1,
        |madlib_vector_get(2, madlib_vector(1.0, 2.0, 3.0)) g2,
        |madlib_vector_get(3, madlib_vector(1.0, 2.0, 3.0)) g3,
        |madlib_vector_get(-1, madlib_vector(1.0, 2.0, 3.0)) g4,
        |madlib_vector_get(2, madlib_decode_vector(madlib_encode_vector(
        |  madlib_vector(1.0, 2.0, 3.0)))) g5""".stripMargin)
    assert(r.getString(0) === "aaaaaipdaaaaaaaeaaaaaeae")
    assert(r.getString(1) === "<1, 2, 3>")
    assert(r.getString(2) === "aaaaaipdaaaaaaaeaaaaaeae")
    assert(r.getDouble(3) === 1.0 && r.getDouble(4) === 2.0 &&
      r.getDouble(5) === 3.0)
    assert(r.isNullAt(6) && r.isNullAt(7))
    assert(r.getDouble(8) === 3.0)
  }

  test("madlib print uses C++ default double formatting") {
    val r = one("madlib_print_vector(madlib_vector(1.5, 0.125, 1234567.0)) p")
    // 6 significant digits, trailing zeros stripped, %g switch to
    // scientific at 1e6 — the C++ ostream default
    assert(r.getString(0) === "<1.5, 0.125, 1.23457e+06>")
  }

  test("precision/scale match expr-test.cc:4793-4812 (cast forms)") {
    val r = one(
      """precision(cast(1 as decimal(10,2))) p1,
        |scale(cast(1 as decimal(10,2))) s1,
        |precision(cast(1 as smallint)) p2,
        |precision(cast(123 as bigint)) p3,
        |precision(123.45) p4, scale(123.45) s4,
        |scale(cast(NULL as decimal(10, 2))) s5,
        |scale(round(123.456, 3)) s6,
        |scale(truncate(123.456, 1)) s7,
        |precision(truncate(123.456, 1)) p7""".stripMargin)
    assert(r.getInt(0) === 10 && r.getInt(1) === 2)
    assert(r.getInt(2) === 5 && r.getInt(3) === 19)
    assert(r.getInt(4) === 5 && r.getInt(5) === 2)
    assert(r.getInt(6) === 2) // NULL input still reports the type's scale
    assert(r.getInt(7) === 3)
    assert(r.getInt(8) === 1 && r.getInt(9) === 4)
  }

  test("truncate/dtrunc truncate toward zero, reference types") {
    val r = one(
      """truncate(123.456, 1) t1,
        |truncate(cast(-3.7 as double)) t2,
        |dtrunc(cast(9.99 as double)) t3,
        |truncate(cast(-123.456 as decimal(6,3)), 1) t4""".stripMargin)
    assert(r.getDecimal(0).toString === "123.4")
    assert(r.getLong(1) === -3L)
    assert(r.getLong(2) === 9L)
    assert(r.getDecimal(3).toString === "-123.4")
  }

  test("truncate(double, scale) is rejected — the reference has no such overload") {
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    for (scale <- Seq("1", "0")) {
      val e = intercept[Throwable] {
        one(s"truncate(cast(1.5 as double), $scale) t")
      }
      assert(messages(e).exists(_.contains("No matching function")), e.toString)
    }
    // a NULL scale on the decimal form returns NULL (reference
    // null-propagation), and a fractional scale is a clean signature
    // error, not a NumberFormatException
    assert(one("truncate(cast(1.23 as decimal(4,2)), NULL) t").isNullAt(0))
    val e2 = intercept[Throwable] {
      one("truncate(cast(1.23 as decimal(4,2)), 1.5) t")
    }
    assert(messages(e2).exists(_.contains("No matching function")), e2.toString)
  }

  test("truncate BIGINT-literal scale narrows by two's-complement wrap") {
    // the reference's BigIntVal overload passes the int64 scale to
    // RoundTo(int) (decimal-functions.cc:102-121), so 2^32 wraps to
    // scale 0 and 2^32+1 wraps to scale 1 — not a saturating clamp
    val r = one(
      """truncate(cast(123.456 as decimal(6,3)), 4294967296) w0,
        |truncate(cast(123.456 as decimal(6,3)), 4294967297) w1""".stripMargin)
    assert(r.getDecimal(0).toPlainString === "123")
    assert(r.getDecimal(1).toPlainString === "123.4")
  }

  test("madlib functions accept STRING vectors; cppDouble ties round half-even") {
    // ascii-encoded vectors are strings; the get/encode/print side must
    // accept string input like the reference's StringVal convention
    val r = one(
      """madlib_vector_get(0,
        |  madlib_decode_vector('aaaaaipdaaaaaaaeaaaaaeae')) g,
        |madlib_print_vector(madlib_vector(1234565.0, 1234567.0)) p""".stripMargin)
    assert(r.getDouble(0) === 1.0)
    // 1234565 sits on the 6-significant-digit tie: glibc/C++ rounds
    // half-to-even (1.23456e+06), not HALF_UP
    assert(r.getString(1) === "<1.23456e+06, 1.23457e+06>")
  }

  test("sleep(NULL) propagates NULL like the reference") {
    assert(one("sleep(cast(NULL as int)) s").isNullAt(0))
  }

  test("timestamp_cmp matches expr-test.cc:3577-3584") {
    val r = one(
      """timestamp_cmp('1964-05-04 15:33:45','1966-05-04 15:33:45') c1,
        |timestamp_cmp('1966-09-04 15:33:45','1966-05-04 15:33:45') c2,
        |timestamp_cmp('1966-05-04 15:33:45','1966-05-04 15:33:45') c3,
        |timestamp_cmp('1967-06-05','1966-05-04') c4,
        |timestamp_cmp(cast(null as string), '1966-05-04') c5""".stripMargin)
    assert(r.getInt(0) === -1 && r.getInt(1) === 1 && r.getInt(2) === 0)
    assert(r.getInt(3) === 1)
    assert(r.isNullAt(4))
  }

  test("date_add/date_sub on a DATE answer like Spark's date_add and d +/- interval") {
    val rows = Engine.sql(spark, TestSpark.sf,
      """select id, greatest(c, date '2020-06-30') as g from (
        |  select id, date_add(date '2020-01-01', cast(id as int)) as c
        |  from range(0, 500)) where c > date '2020-06-30'""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.get(1).toString).sortBy(_._1)
    assert(rows.length === 318) // 2020-01-01 + 182 days = 2020-07-01
    assert(rows.head === (182L -> "2020-07-01"))
    assert(rows.last === (499L -> "2021-05-14"))
    def cmp(sql: String): Seq[String] = {
      val r = one(sql)
      (0 until r.length).map(i => String.valueOf(r.get(i)))
    }
    assert(cmp(
      """date_add(date '2020-01-01', 3) a, date_sub(date '2020-01-01', 3) b,
        |date_add(date '2020-01-01', cast(3 as bigint)) c,
        |typeof(date_add(date '2020-01-01', 3)) t""".stripMargin) ===
      Seq("2020-01-04", "2019-12-29", "2020-01-04", "date"))
    val forms = Seq(
      "date '2020-01-01'" -> "interval 3 days",
      "date '2020-01-31'" -> "interval 1 month",
      "date '2020-01-01'" -> "interval 25 hours")
    for ((d, iv) <- forms) {
      assert(cmp(s"date_add($d, $iv) a, date_sub($d, $iv) b") ===
        cmp(s"$d + $iv a, $d - $iv b"), s"$d $iv")
      assert(cmp(s"typeof(date_add($d, $iv)) a") === cmp(s"typeof($d + $iv) a"))
    }
  }

  test("type extrema constants carry their exact width") {
    val r = one(
      """max_tinyint() a, min_tinyint() b, max_smallint() c,
        |min_smallint() d, max_int() e, min_int() f,
        |max_bigint() g, min_bigint() h""".stripMargin)
    assert(r.getByte(0) === Byte.MaxValue && r.getByte(1) === Byte.MinValue)
    assert(r.getShort(2) === Short.MaxValue && r.getShort(3) === Short.MinValue)
    assert(r.getInt(4) === Int.MaxValue && r.getInt(5) === Int.MinValue)
    assert(r.getLong(6) === Long.MaxValue && r.getLong(7) === Long.MinValue)
  }

  test("d-/f-prefixed math aliases and operator function-forms") {
    val r = one(
      """dceil(3.2) a, dfloor(3.8) b, dlog1(cast(2.718281828459045 as double)) c,
        |dlog10(100.0) d, dexp(0.0) e, dsqrt(64.0) f, dpow(2, 10) g,
        |fpow(3, 2) h, fmod(10.5, 3.0) i, dround(2.5) j, dround(1.23456, 2) k,
        |distinctfrom(1, null) l, distinctfrom(null, null) m,
        |notdistinct(null, null) n, notdistinct(1, 2) o,
        |udf_pi() p, udf_abs(-3.5) q, udf_lower('ABC') r""".stripMargin)
    assert(r.getLong(0) === 4L && r.getLong(1) === 3L)
    assert(math.abs(r.getDouble(2) - 1.0) < 1e-12)
    assert(r.getDouble(3) === 2.0 && r.getDouble(4) === 1.0 &&
      r.getDouble(5) === 8.0)
    assert(r.getDouble(6) === 1024.0 && r.getDouble(7) === 9.0)
    assert(r.getDouble(8) === 1.5)
    assert(r.getLong(9) === 3L) // round(double) is BIGINT, away from zero
    assert(r.getDouble(10) === 1.23)
    assert(r.getBoolean(11) && r.getBoolean(12) === false)
    assert(r.getBoolean(13) && r.getBoolean(14) === false)
    assert(r.getDouble(15) === math.Pi)
    assert(r.getDouble(16) === 3.5 && r.getString(17) === "abc")
  }

  test("sleep returns true after blocking") {
    val t0 = System.nanoTime()
    val r = one("sleep(50) s")
    assert(r.getBoolean(0))
    assert(System.nanoTime() - t0 >= 50L * 1000 * 1000)
  }
}
