package graft

import org.apache.spark.sql.{Row, SparkSession}
import scala.io.Source

/** Runner for the reference's QueryTest golden-file format
  * (testdata/workloads/functional-query/queries/QueryTest, SURVEY.md
  * section 5): blocks separated by `====` with sections
  * `---- QUERY`, `---- RESULTS`, optional `---- TYPES`, `---- OPTIONS`
  * (order_sensitive) and `---- CATCH` (expected error substring).
  * Strings are single-quoted, NULL is the null literal, timestamps print
  * in Impala's text form (`uuuu-MM-dd HH:mm:ss[.fffffffff]`, unquoted),
  * doubles use Scala toString formatting. A RESULTS line of the form
  * `row_regex: <pattern>` matches any row whose rendering matches the
  * regex (the reference uses this for nondeterministic values).
  */
object GoldenRunner {

  final case class GoldenCase(
      name: String,
      query: String,
      expected: Seq[String],
      types: Option[Seq[String]],
      orderSensitive: Boolean,
      catchError: Option[String],
      impalaRender: Boolean = false,
      hasResults: Boolean = true)

  def parse(path: String): Seq[GoldenCase] = {
    // explicit UTF-8: the forked test JVM may default to ASCII
    val src = Source.fromFile(path, "UTF-8")
    val text = try src.mkString finally src.close()
    text.split("====").map(_.trim).filter(_.nonEmpty).zipWithIndex.map {
      case (block, i) =>
        val sections = block.split("---- ").map(_.trim).filter(_.nonEmpty)
        var query = ""
        var results = Seq.empty[String]
        var hasResults = false
        var types: Option[Seq[String]] = None
        var ordered = false
        var impalaRender = false
        var catchErr: Option[String] = None
        sections.foreach { s =>
          val lines = s.linesIterator.toSeq
          lines.head.trim match {
            case "QUERY" =>
              // '#' lines are comments in the QueryTest format
              query = lines.tail.filterNot(_.trim.startsWith("#"))
                .mkString("\n").trim
            // reference files write e.g. "RESULTS: VERIFY_IS_EQUAL_SORTED"
            // (sorted comparison is already this runner's default), with
            // occasional "RESULTS :" spacing
            case h if h == "RESULTS" || h.startsWith("RESULTS:") ||
                h.startsWith("RESULTS ") =>
              hasResults = true
              results = lines.tail.map(_.trim).filter(_.nonEmpty)
                .filterNot(_.startsWith("#"))
            case "TYPES" =>
              // split on commas NOT inside parens: DECIMAL(9,0) is one type
              types = Some(lines.tail.filterNot(_.trim.startsWith("#"))
                .mkString(",").split(",(?![^(]*\\))").map(_.trim)
                .filter(_.nonEmpty).toSeq)
            case "OPTIONS" =>
              ordered = lines.tail.exists(_.contains("order_sensitive"))
              impalaRender = lines.tail.exists(_.contains("impala_render"))
            case "CATCH" => catchErr = Some(lines.tail.mkString("\n").trim)
            case _ => ()
          }
        }
        GoldenCase(s"${new java.io.File(path).getName}#${i + 1}", query,
          results, types, ordered, catchErr, impalaRender, hasResults)
    }.toSeq
  }

  /** Impala prints timestamps as date + time, with exactly 9 fractional
    * digits when the fraction is nonzero (timestamp-value.h nanosecond
    * time-of-day; Spark supplies micros, padded).
    */
  private def fmtTs(t: java.time.LocalDateTime): String = {
    val base = f"${t.getYear}%04d-${t.getMonthValue}%02d-${t.getDayOfMonth}%02d " +
      f"${t.getHour}%02d:${t.getMinute}%02d:${t.getSecond}%02d"
    if (t.getNano == 0) base else base + f".${t.getNano}%09d"
  }

  /** Render a row the way the golden files encode it. */
  def render(row: Row): String = render(row, impala = false)

  /** With impala = true, numbers render the way the reference's test
    * client does (floats widened to double before printing, whole
    * doubles without a trailing ".0") — used by blocks ported verbatim
    * from the reference corpus via OPTIONS `impala_render`.
    */
  def render(row: Row, impala: Boolean): String = {
    val fields = if (row.schema != null) row.schema.fields else null
    row.toSeq.zipWithIndex.map { case (v, i) => v match {
      // the reference's test client renders STRING NULLs quoted
      // (CHAR/VARCHAR columns included — they surface when
      // spark.sql.preserveCharVarcharTypeInfo is on)
      case null if impala && fields != null && (fields(i).dataType match {
        case org.apache.spark.sql.types.StringType => true
        case _: org.apache.spark.sql.types.CharType => true
        case _: org.apache.spark.sql.types.VarcharType => true
        case _ => false
      }) => "'NULL'"
      case null => "NULL"
      // the reference's test client escapes backslashes in its expected
      // strings ('\%' prints as '\\%') and control bytes as \xNN
      // (null_data.test's NUL-byte strings print as 'a\x00b')
      case s: String if impala =>
        val b = new StringBuilder("'")
        s.foreach {
          case '\\' => b.append("\\\\")
          // newlines print as the two-character escape (the reference's
          // expected strings for pretty-printed nested types carry '\n')
          case '\n' => b.append("\\n")
          case c if c < 0x20 => b.append(f"\\x${c.toInt}%02x")
          case c => b.append(c)
        }
        b.append("'").toString
      case s: String => "'" + s + "'"
      // zero decimals at high scale would print scientific ("0E-38");
      // the reference prints plain digits
      case bd: java.math.BigDecimal => bd.toPlainString
      case t: java.time.LocalDateTime => fmtTs(t)
      case t: java.sql.Timestamp => fmtTs(t.toLocalDateTime)
      case d: java.sql.Date => d.toString
      case f: java.lang.Float if impala => fmtD(f.doubleValue())
      case d: java.lang.Double if impala => fmtD(d.doubleValue())
      case v => v.toString
    } }.mkString(",")
  }

  /** The reference's test client prints doubles via C "%.16g" (16
    * significant digits, trailing zeros stripped), not shortest-repr:
    * 30.299999999999997 prints as 30.3, 12.100000381469727 as
    * 12.10000038146973. Whole numbers drop the ".0".
    */
  private def fmtD(v: Double): String = {
    if (v.isInfinite || v.isNaN) return v.toString
    // C %g keeps the sign of negative zero; toLong would drop it
    if (v == 0.0 && (1.0 / v) < 0) return "-0"
    if (v == math.rint(v) && math.abs(v) < 1e15) return v.toLong.toString
    // C printf %.16g rounds the EXACT binary expansion of the double;
    // Java's %g instead rounds the shortest decimal repr, which goes the
    // other way when the shortest repr's 17th digit is a 5 (1.0/7 must
    // print ...28 like the reference, not ...29).
    val mc = new java.math.MathContext(16, java.math.RoundingMode.HALF_EVEN)
    val r = new java.math.BigDecimal(v).round(mc)
    val exp = r.precision - r.scale - 1
    if (exp < -4 || exp >= 16) {
      val m = r.movePointLeft(exp).stripTrailingZeros.toPlainString
      val sign = if (exp < 0) "-" else "+"
      f"${m}e$sign${math.abs(exp)}%02d"
    } else {
      val s = r.toPlainString
      if (s.contains('.'))
        s.reverse.dropWhile(_ == '0').reverse.stripSuffix(".")
      else s
    }
  }

  private def matches(got: String, want: String): Boolean =
    if (want.startsWith("row_regex:")) {
      got.matches(want.stripPrefix("row_regex:").trim)
    } else got == want

  private val fixtureRef = """\$FIXTURES/([\w.-]+)""".r

  def run(spark: SparkSession, sfDir: String, c0: GoldenCase): Option[String] = {
    // the reference's corpus substitutes $FILESYSTEM_PREFIX into its
    // queries; this runner's analog is $WAREHOUSE (the session's
    // warehouse dir), used by the load.test port to address staged files;
    // $FIXTURES/<name> names an in-repo fixture file ([[Fixtures.path]])
    val c = c0.copy(query = fixtureRef.replaceAllIn(
      c0.query.replace("$WAREHOUSE",
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")),
      m => scala.util.matching.Regex.quoteReplacement(Fixtures.path(m.group(1)))))
    c.catchError match {
      case Some(fragment) =>
        try {
          val df = Engine.sql(spark, sfDir, c.query)
          df.collect()
          Some(s"expected error containing '$fragment' but query succeeded")
        } catch {
          case e: Throwable =>
            val msgs = Iterator.iterate(e: Throwable)(_.getCause)
              .takeWhile(_ != null).take(8)
              .map(t => t.toString + Option(t.getMessage).getOrElse(""))
              .mkString("\n")
            if (msgs.contains(fragment)) None
            else Some(s"error did not contain '$fragment': ${msgs.take(300)}")
        }
      case None => runResults(spark, sfDir, c)
    }
  }

  private def runResults(spark: SparkSession, sfDir: String,
      c: GoldenCase): Option[String] = {
    val df = Engine.sql(spark, sfDir, c.query)
    c.types.foreach { want =>
      val got = df.schema.fields.map(_.dataType.sql).toSeq
      if (got.map(_.toUpperCase) != want.map(_.toUpperCase))
        return Some(s"types: got=${got.mkString(",")} want=${want.mkString(",")}")
    }
    val got = df.collect().map(r => render(r, c.impalaRender)).toSeq
    // a block with no RESULTS section at all only asserts the query runs
    // (the reference corpus uses this for doesn't-crash tests)
    if (!c.hasResults) return None
    if (got.size != c.expected.size)
      return Some(s"rows: ${got.size} vs ${c.expected.size}; " +
        s"first got=${got.headOption.getOrElse("<none>")} " +
        s"want=${c.expected.headOption.getOrElse("<none>")}")
    val (g, w) =
      if (c.orderSensitive) (got, c.expected)
      else (got.sorted, c.expected.sorted)
    // order-insensitive regex expectations: greedy bipartite-ish match
    // (sorted alignment first, regexes consume leftovers)
    if (w.exists(_.startsWith("row_regex:")) && !c.orderSensitive) {
      val (regexes, literals) = w.partition(_.startsWith("row_regex:"))
      val remaining = scala.collection.mutable.ArrayBuffer(g: _*)
      for (l <- literals) {
        val i = remaining.indexOf(l)
        if (i < 0) return Some(s"missing literal row: $l")
        remaining.remove(i)
      }
      for (r <- regexes) {
        val i = remaining.indexWhere(x => matches(x, r))
        if (i < 0) return Some(s"no row matched $r")
        remaining.remove(i)
      }
      return None
    }
    val bad = g.zip(w).filter { case (a, b) => !matches(a, b) }.take(3)
    if (bad.nonEmpty)
      Some(s"rows: ${bad.map { case (a, b) => s"got=$a want=$b" }.mkString("; ")}" +
        s" (${g.size} vs ${w.size} rows)")
    else None
  }
}
