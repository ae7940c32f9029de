package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Add, BitwiseAnd, BitwiseCount, BitwiseOr, Cast, Expression, Literal, Pmod, Round, RuntimeReplaceable, ShiftLeft, ShiftRightUnsigned, Subtract, TimeZoneAwareExpression}
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
import org.apache.spark.sql.types._

/** Bit width of an integral input — the reference's bit/byte builtins
  * operate within the argument's own width
  * (`be/src/exprs/bit-byte-functions.cc`), not a widened 64 bits.
  */
private[functions] object BitWidth {
  def of(dt: DataType): Int = dt match {
    case ByteType => 8
    case ShortType => 16
    case IntegerType => 32
    case _ => 64
  }
  def mask(w: Int): Long = if (w == 64) -1L else (1L << w) - 1
}

/** Post-analysis type dispatch for dialect builtins whose rewrite depends
  * on the argument's resolved type. A temp-function builder runs at parse
  * time, when column arguments may still be unresolved — deciding the
  * rewrite there makes semantics depend on analyzer resolution order.
  * These wrappers defer the decision into `replacement`, which the
  * analyzer only evaluates once the child is resolved, so the same SQL
  * always takes the same path.
  */

/** fnv_hash(x): native-byte hashing for fixed-width/string/binary types,
  * string-render fallback for the rest (decimal/timestamp — documented
  * divergence, see ImpalaFunctions).
  */
case class FnvHashDialect(child: Expression)
    extends RuntimeReplaceable with UnaryLike[Expression] {

  override lazy val replacement: Expression = child.dataType match {
    case StringType | BinaryType | BooleanType | ByteType | ShortType |
         IntegerType | LongType | FloatType | DoubleType => FnvHash64(child)
    case _ => FnvHash64(Cast(child, StringType))
  }

  override protected def withNewChildInternal(c: Expression): FnvHashDialect =
    copy(child = c)
  override def prettyName: String = "fnv_hash"
}

/** round(x): Impala's 1-arg round returns BIGINT for double/float input
  * (`be/src/exprs/math-functions.h` Round), Spark's keeps DOUBLE. For
  * already-integral or decimal inputs Spark's semantics are kept.
  */
case class DialectRound(child: Expression)
    extends RuntimeReplaceable with UnaryLike[Expression] {

  override lazy val replacement: Expression = child.dataType match {
    case DoubleType | FloatType => Cast(Round(child, Literal(0)), LongType)
    case _ => Round(child, Literal(0))
  }

  override protected def withNewChildInternal(c: Expression): DialectRound =
    copy(child = c)
  override def prettyName: String = "round"
}

/** countset(x[, v]): set (or, with v=0, clear) bits within the INPUT's
  * width — countset(cast(-1 as tinyint)) is 8, not 64.
  */
case class DialectCountSet(left: Expression, right: Expression)
    extends RuntimeReplaceable with BinaryLike[Expression] {

  override lazy val replacement: Expression = {
    val w = BitWidth.of(left.dataType)
    val masked = BitwiseAnd(Cast(left, LongType), Literal(BitWidth.mask(w)))
    val ones = Cast(BitwiseCount(masked), IntegerType)
    org.apache.spark.sql.catalyst.expressions.If(
      org.apache.spark.sql.catalyst.expressions.EqualTo(
        Cast(right, IntegerType), Literal(0)),
      Subtract(Literal(w), ones), ones)
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): DialectCountSet = copy(left = l, right = r)
  override def prettyName: String = "countset"
}

/** date_add/date_sub(ts, n_or_interval): the reference's forms operate
  * on TIMESTAMP and accept either a day count or an INTERVAL expression
  * (`fe/.../analysis/ArithmeticExpr.java` TIMESTAMP arithmetic); Spark's
  * builtins are DATE-typed and integer-only. Dispatch on the resolved
  * right-hand type. A DATE first argument answers like Spark: a day
  * count like its `date_add`/`date_sub` (a DATE), an interval like
  * `d + interval`/`d - interval`.
  */
case class DialectDateAdd(left: Expression, right: Expression, sign: Int)
    extends RuntimeReplaceable with BinaryLike[Expression] {

  override lazy val replacement: Expression =
    if (left.dataType == DateType) onDate else onTimestamp

  /** Spark's own datetime arithmetic, resolved here with the session
    * time zone bound: the analyzer rules that normally do both have
    * already run when a replacement is materialized.
    */
  private def onDate: Expression = {
    val r = right.dataType match {
      case _: YearMonthIntervalType | _: DayTimeIntervalType |
          CalendarIntervalType => right
      case _ => Cast(right, IntegerType)
    }
    val tz = org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone
    org.apache.spark.sql.catalyst.analysis.BinaryArithmeticWithDatetimeResolver
      .resolve(if (sign >= 0) Add(left, r) else Subtract(left, r))
      .transform {
        case e: TimeZoneAwareExpression if e.timeZoneId.isEmpty =>
          e.withTimeZone(tz)
      }
  }

  private def onTimestamp: Expression = right.dataType match {
    // year-month intervals take their own physical op (TimestampAddInterval
    // only accepts day-time/calendar intervals — the analyzer sugar that
    // normally routes this is ResolveBinaryArithmetic, which does not
    // re-run inside a replacement)
    case _: YearMonthIntervalType =>
      val iv = if (sign >= 0) right
      else org.apache.spark.sql.catalyst.expressions.UnaryMinus(right)
      org.apache.spark.sql.catalyst.expressions.TimestampAddYMInterval(left, iv,
        Some(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone))
    case _: DayTimeIntervalType | CalendarIntervalType =>
      val iv = if (sign >= 0) right
      else org.apache.spark.sql.catalyst.expressions.UnaryMinus(right)
      // timezone must be bound here: the analyzer's ResolveTimeZone has
      // already run by the time this replacement is materialized
      org.apache.spark.sql.catalyst.expressions.TimestampAddInterval(left, iv,
        Some(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone))
    case _ =>
      // timezone bound explicitly: TimestampAdd is TimeZoneAware and
      // stays unresolved inside a replacement otherwise
      org.apache.spark.sql.catalyst.expressions.TimestampAdd(
        "DAY",
        if (sign >= 0) Cast(right, LongType)
        else org.apache.spark.sql.catalyst.expressions.UnaryMinus(Cast(right, LongType)),
        left,
        Some(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone))
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): DialectDateAdd = copy(left = l, right = r)
  override def prettyName: String = if (sign >= 0) "date_add" else "date_sub"
}

/** rotateleft/rotateright(x, n): rotate within the input's width and
  * return the input's type, like the reference.
  */
case class DialectRotate(left: Expression, right: Expression,
    isLeft: Boolean) extends RuntimeReplaceable with BinaryLike[Expression] {

  override lazy val replacement: Expression = {
    val w = BitWidth.of(left.dataType)
    val v = BitwiseAnd(Cast(left, LongType), Literal(BitWidth.mask(w)))
    val s = Pmod(Cast(right, IntegerType), Literal(w))
    val rotated =
      if (isLeft)
        BitwiseOr(ShiftLeft(v, s), ShiftRightUnsigned(v, Subtract(Literal(w), s)))
      else
        BitwiseOr(ShiftRightUnsigned(v, s), ShiftLeft(v, Subtract(Literal(w), s)))
    Cast(BitwiseAnd(rotated, Literal(BitWidth.mask(w))), left.dataType)
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): DialectRotate = copy(left = l, right = r)
  override def prettyName: String = if (isLeft) "rotateleft" else "rotateright"
}

/** appx_median(x): string inputs take the reference's string-reservoir
  * median (memcmp sort, `aggregate-functions.cc:1119` AppxMedianFinalize
  * over StringVal), everything else the double reservoir with a finalize
  * cast back to the argument type. Post-analysis dispatch, same rationale
  * as [[graft.functions.TimestampAvg]]'s DialectAvg.
  */
case class DialectAppxMedian(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
    with org.apache.spark.sql.catalyst.expressions.RuntimeReplaceableAggregate
    with UnaryLike[Expression] {

  override lazy val replacement: Expression = child.dataType match {
    case StringType | _: CharType | _: VarcharType =>
      AppxMedianStringAgg(Cast(child, StringType))
    // NTZ has no direct <-> double cast; route via TIMESTAMP (UTC session)
    case TimestampNTZType =>
      AppxMedianAgg(Cast(Cast(child, TimestampType), DoubleType),
        resultType = TimestampNTZType)
    case dt =>
      AppxMedianAgg(Cast(child, DoubleType), resultType = dt)
  }

  override protected def withNewChildInternal(c: Expression): DialectAppxMedian =
    copy(child = c)
  override def prettyName: String = "appx_median"
}

/** histogram(x): type-aware rendering — the reference's histogram is
  * instantiated per input type and prints each sample boundary as that
  * type (floats in float precision, timestamps as timestamps).
  */
case class DialectHistogram(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
    with org.apache.spark.sql.catalyst.expressions.RuntimeReplaceableAggregate
    with UnaryLike[Expression] {

  override lazy val replacement: Expression = child.dataType match {
    case FloatType => HistogramAgg(Cast(child, DoubleType), render = "float")
    case TimestampType => HistogramAgg(Cast(child, DoubleType), render = "ts")
    case TimestampNTZType =>
      HistogramAgg(Cast(Cast(child, TimestampType), DoubleType), render = "ts")
    case _ => HistogramAgg(Cast(child, DoubleType))
  }

  override protected def withNewChildInternal(c: Expression): DialectHistogram =
    copy(child = c)
  override def prettyName: String = "histogram"
}

/** log(base, x) with raw C math (the reference's math-functions.cc uses
  * plain `log(x)/log(base)`): log(1,2)=Infinity, log(0,2)=-0,
  * log(2,0)=-Infinity, log(0,0)=NaN. Spark's Logarithm/Divide null-guard
  * non-positive inputs and zero denominators, so this is its own kernel.
  */
case class CMathLog(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with org.apache.spark.sql.catalyst.trees.BinaryLike[Expression] {

  // callers cast both children to DOUBLE (see the `log` builder)
  override def dataType: DataType = DoubleType

  protected override def nullSafeEval(b: Any, v: Any): Any =
    java.lang.Math.log(v.asInstanceOf[Double]) /
      java.lang.Math.log(b.asInstanceOf[Double])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (b, v) =>
      s"${ev.value} = java.lang.Math.log($v) / java.lang.Math.log($b);")

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): CMathLog = copy(left = l, right = r)
  override def prettyName: String = "log"
}

/** truncate/dtrunc (numeric): truncation toward zero
  * (`be/src/exprs/math-functions.cc` Truncate → BIGINT for DOUBLE input;
  * `decimal-functions.cc` Truncate/TruncateTo → DECIMAL(p-s+d, d)).
  * Post-analysis dispatch on the resolved child type: decimals route to
  * Spark's RoundFloor/RoundCeil by sign (identical result type either
  * branch), doubles take the LEGACY long cast (which truncates toward
  * zero).
  */
case class DialectTruncate(left: Expression, right: Expression,
    explicitScale: Boolean = true)
    extends RuntimeReplaceable with BinaryLike[Expression] {

  override lazy val replacement: Expression = left.dataType match {
    // the reference returns NULL for a NULL scale argument
    case d: DecimalType if isNullLiteral(right) =>
      Literal(null, d)
    case d: DecimalType =>
      val scale = right match {
        // the reference registers (DECIMAL, TINYINT/SMALLINT/INT/BIGINT)
        // overloads (decimal-functions.cc:102-121) whose BigIntVal path
        // narrows int64 -> int by two's-complement WRAP (RoundTo takes
        // int): truncate(d, 4294967296) wraps to scale 0 and truncates
        // all decimals. Wrap here too — it also matches the non-literal
        // foldable path below, which goes through Cast(e, IntegerType)
        case Literal(v: java.lang.Number, _)
            if (right.dataType match {
              case ByteType | ShortType | IntegerType | LongType => true
              case _ => false }) =>
          Literal(v.longValue().toInt)
        case Literal(_, _) => throw new IllegalArgumentException(
          s"No matching function with signature: truncate(${d.sql}, " +
            s"${right.dataType.sql})")
        // RoundFloor/RoundCeil need a foldable scale (the result TYPE
        // depends on it) — surface the dialect signature error rather
        // than Spark's internal non-foldable analysis error
        case e if !e.foldable => throw new IllegalArgumentException(
          s"No matching function with signature: truncate(${d.sql}, " +
            s"${right.dataType.sql}) — scale must be a constant")
        case e => Cast(e, IntegerType)
      }
      val bySign = org.apache.spark.sql.catalyst.expressions.If(
        org.apache.spark.sql.catalyst.expressions.GreaterThanOrEqual(
          left, Cast(Literal(0), left.dataType)),
        org.apache.spark.sql.catalyst.expressions.RoundFloor(left, scale),
        org.apache.spark.sql.catalyst.expressions.RoundCeil(left, scale))
      // the reference types TruncateTo as DECIMAL(p-s+d, d) — RoundFloor
      // reserves a rounding-overflow digit truncation can't need, so
      // narrow when the target scale is a known constant in range
      scale match {
        case Literal(v: Int, _) if v >= 0 && v <= d.scale &&
            d.precision - d.scale + v >= 1 =>
          Cast(bySign,
            DecimalType(math.min(38, d.precision - d.scale + v), v))
        case _ => bySign
      }
    case t =>
      // double/float/integer single-arg form: BIGINT truncation toward
      // zero (LEGACY double->long cast truncates toward zero). The
      // reference has NO (DOUBLE, scale) overload — any explicitly
      // written scale argument rejects, even 0.
      if (explicitScale) throw new IllegalArgumentException(
        s"No matching function with signature: truncate(${t.sql}, ...)" +
          " — the scale form takes DECIMAL")
      Cast(left, LongType, evalMode =
        org.apache.spark.sql.catalyst.expressions.EvalMode.LEGACY)
  }

  private def isNullLiteral(e: Expression): Boolean = e match {
    case Literal(null, _) => true
    case _ => false
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): DialectTruncate = copy(left = l, right = r)
  override def prettyName: String = "truncate"
}

/** precision(x) / scale(x) (`be/src/exprs/decimal-functions.cc:27-33`):
  * the DECLARED precision/scale of the argument's type — a property of
  * the resolved type, not the value (NULL input still reports its
  * type's precision). Integer arguments report the max precision of
  * their width as the reference's implicit int->decimal conversion
  * does (TINYINT 3, SMALLINT 5, INT 10, BIGINT 19). Divergence, pinned
  * in FunctionsSpec: bare literals type wider in Spark (`1` is INT
  * here, TINYINT in the reference), so `precision(1)` is 10, not 3 —
  * the cast forms agree exactly.
  */
case class DialectTypeMeta(child: Expression, isPrecision: Boolean)
    extends RuntimeReplaceable with UnaryLike[Expression] {

  override lazy val replacement: Expression = child.dataType match {
    case d: DecimalType => Literal(if (isPrecision) d.precision else d.scale)
    case ByteType => Literal(if (isPrecision) 3 else 0)
    case ShortType => Literal(if (isPrecision) 5 else 0)
    case IntegerType => Literal(if (isPrecision) 10 else 0)
    case LongType => Literal(if (isPrecision) 19 else 0)
    case t => throw new IllegalArgumentException(
      s"${prettyName}() requires a decimal or integer argument, got ${t.sql}")
  }

  override protected def withNewChildInternal(c: Expression): DialectTypeMeta =
    copy(child = c)
  override def prettyName: String = if (isPrecision) "precision" else "scale"
}

/** sleep(ms) (`be/src/exprs/utility-functions.cc` Sleep): blocks the
  * calling thread for ms milliseconds, returns true. The result is
  * constant (only the side effect is temporal), so the expression stays
  * "deterministic" for the planner exactly like the reference's
  * non-constant-folded builtin; eval-only (no codegen) — it exists for
  * timeout testing, never on a hot path.
  */
case class DialectSleep(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true
  override def foldable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val ms = child.eval(input)
    // the reference propagates NULL (utility-functions.cc:104-108)
    if (ms == null) return null
    Thread.sleep(math.max(0L, ms.asInstanceOf[Number].longValue()))
    true
  }

  override protected def withNewChildInternal(c: Expression): DialectSleep =
    copy(child = c)
  override def prettyName: String = "sleep"
}
