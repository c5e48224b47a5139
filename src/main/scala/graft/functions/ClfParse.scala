package graft.functions

import java.util.regex.{Matcher, Pattern}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, GenericInternalRow,
  GetTimestamp, Literal, TimeZoneAwareExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.clf.LogParser

/** graft_clf_parse(line): one Common Log Format line → the 15 parsed
  * [[graft.clf.LogParser.LogLine]] fields (plus the reference-parity
  * `date_ref_buggy`) as a struct, from ONE run of [[LogParser.Pattern]].
  *
  * Value-identical to the 13-call SQL form — `regexp_extract(line, P, i)`
  * per group, `try_cast` for the int groups, and
  * `to_timestamp(…, "dd/MMM/yyyy HH:mm:ss Z")` over the rejoined date
  * groups — on every input, including ANSI errors:
  *   - a null or non-matching line → strings `""`, ints and dates null;
  *   - the match is `lookingAt` on the `^…$` pattern, i.e. exactly the
  *     `find` that `rlike`/`regexp_extract` run (a line ending in a
  *     Unicode line terminator matches, as it does for them);
  *   - `date` on the fast path (a canonical `Jan`…`Dec` month, day within
  *     the month, year ≥ 1, hour/minute/second and offset in range) is
  *     calendar arithmetic; every other matching line evaluates the exact
  *     `to_timestamp` expression, so it yields that form's value, null or
  *     `CANNOT_PARSE_TIMESTAMP` under `failOnError` (the session's ANSI
  *     flag when the plan was built);
  *   - `date_ref_buggy` = `timestamp_millis(unix_timestamp(date))`.
  *
  * Codegen is one static call into [[ClfParse.parse]] (the
  * [[RegexCountReplace]] pattern): the compiled `Pattern` is a reference
  * object and each generated class reuses one `Matcher`.
  *
  * Declared nondeterministic although it is a pure function of the line:
  * the flag stops the optimizer from copying the kernel into a filter
  * pushed below its projection (`validLines`' `host <> ''` would
  * otherwise run the regex twice per line) and from inlining it into each
  * of the 15 field extractions. */
case class ClfParse(child: Expression, failOnError: Boolean, timeZoneId: Option[String] = None)
    extends UnaryExpression with TimeZoneAwareExpression {

  override def dataType: DataType = ClfParse.Schema
  override def nullable: Boolean = false
  override lazy val deterministic: Boolean = false
  override def prettyName: String = "graft_clf_parse"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"graft_clf_parse expects a string line, got $t")
  }

  override def withTimeZone(timeZoneId: String): TimeZoneAwareExpression =
    copy(timeZoneId = Option(timeZoneId))

  @transient private lazy val pattern: Pattern = Pattern.compile(LogParser.Pattern)

  /** `to_timestamp(s, TimestampFormat)` as the SQL form plans it, over
    * column 0 of a one-field row. */
  @transient private lazy val fallback: Expression =
    GetTimestamp(BoundReference(0, StringType, nullable = true), Literal(ClfParse.TimestampFormat),
      TimestampType, timeZoneId = timeZoneId, failOnError = failOnError)

  override def eval(input: InternalRow): Any =
    ClfParse.parse(child.eval(input).asInstanceOf[UTF8String], pattern.matcher(""), fallback)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val patRef = ctx.addReferenceObj("clfPattern", pattern, classOf[Pattern].getName)
    val fbRef = ctx.addReferenceObj("clfFallback", fallback, classOf[Expression].getName)
    val m = ctx.addMutableState(classOf[Matcher].getName, "clfMatcher",
      v => s"""$v = $patRef.matcher("");""")
    ev.copy(code = code"""
      |${c.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} = graft.functions.ClfParse.parse(
      |  ${c.isNull} ? null : ${c.value}, $m, $fbRef);""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): ClfParse =
    copy(child = newChild)
}

object ClfParse {

  /** The SQL form's `to_timestamp` pattern over `dd/MMM/yyyy HH:mm:ss Z`. */
  val TimestampFormat = "dd/MMM/yyyy HH:mm:ss Z"

  val Schema: StructType = StructType(Seq(
    StructField("host", StringType, nullable = false),
    StructField("day", IntegerType),
    StructField("month", StringType, nullable = false),
    StructField("year", IntegerType),
    StructField("hour", IntegerType),
    StructField("minute", IntegerType),
    StructField("second", IntegerType),
    StructField("timezone", StringType, nullable = false),
    StructField("date", TimestampType),
    StructField("date_ref_buggy", TimestampType),
    StructField("httpMethod", StringType, nullable = false),
    StructField("ressource", StringType, nullable = false),
    StructField("httpVersion", StringType, nullable = false),
    StructField("httpReplyCode", IntegerType),
    StructField("replyBytes", IntegerType)))

  private val Months = Array("Jan", "Feb", "Mar", "Apr", "May", "Jun",
    "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")

  private def noMatch: InternalRow = {
    val e = UTF8String.EMPTY_UTF8
    new GenericInternalRow(Array[Any](
      e, null, e, null, null, null, null, e, null, null, e, e, e, null, null))
  }

  /** The ASCII-digit value of `s[from, until)` (`\d` is `[0-9]`). */
  private def digits(s: String, from: Int, until: Int): Int = {
    var n = 0
    var i = from
    while (i < until) { n = n * 10 + (s.charAt(i) - '0'); i += 1 }
    n
  }

  /** 1–12 for a canonical month name at `s[from, until)`, else 0. */
  private def monthOf(s: String, from: Int, until: Int): Int = {
    if (until - from != 3) return 0
    var i = 0
    while (i < 12) {
      if (s.regionMatches(from, Months(i), 0, 3)) return i + 1
      i += 1
    }
    0
  }

  /** Static kernel, called from both interpreted eval and generated code. */
  def parse(line: UTF8String, m: Matcher, fallback: Expression): InternalRow = {
    if (line == null) return noMatch
    val s = line.toString
    if (!m.reset(s).lookingAt()) return noMatch
    def str(g: Int): UTF8String = UTF8String.fromString(m.group(g))
    def int(g: Int): Int = digits(s, m.start(g), m.end(g))
    val day = int(2); val year = int(4)
    val hour = int(5); val minute = int(6); val second = int(7)
    // group 8 is `-HHMM`: the regex admits negative offsets only
    val tz = m.start(8)
    val tzMinutes = digits(s, tz + 1, tz + 3) * 60 + digits(s, tz + 3, tz + 5)
    val month = monthOf(s, m.start(3), m.end(3))
    val fast = month > 0 && year >= 1 && day >= 1 &&
      day <= java.time.YearMonth.of(year, month).lengthOfMonth() &&
      hour <= 23 && minute <= 59 && second <= 59 &&
      digits(s, tz + 3, tz + 5) <= 59 && tzMinutes <= 18 * 60
    val date: Any =
      if (fast)
        (java.time.LocalDate.of(year, month, day).toEpochDay * 86400L +
          hour * 3600L + minute * 60L + second + tzMinutes * 60L) * 1000000L
      else fallback.eval(InternalRow(UTF8String.fromString(
        s"${m.group(2)}/${m.group(3)}/${m.group(4)} ${m.group(5)}:${m.group(6)}:${m.group(7)} ${m.group(8)}")))
    val refBuggy: Any =
      if (date == null) null else Math.floorDiv(date.asInstanceOf[Long], 1000000L) * 1000L
    // group 13 is `\d{1,9}` or `-`: '-' is the SQL form's failed try_cast
    val bytes: Any = if (s.charAt(m.start(13)) == '-') null else int(13)
    new GenericInternalRow(Array[Any](
      str(1), day, str(3), year, hour, minute, second, str(8), date, refBuggy,
      str(9), str(10), str(11), int(12), bytes))
  }
}
