package graft.clf

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

import graft.functions.ClfParse

/** Common Log Format schema + parser — the reference's native input domain.
  *
  * The regex is the reference's (reference StreamingJob.scala:69) with
  * ONE deliberate tightening — the HTTP-version dot is escaped; see the
  * [[Pattern]] comment — and otherwise keeps its deliberate/accidental
  * restrictions (SURVEY.md §2.3): ident/user must be `- -`, timezone only
  * negative offsets, HTTP version only 1.0/V1.0, no spaces in paths,
  * bytes is 1–9 digits or `-` (null).
  *
  * Parsing is one codegen'd Catalyst kernel, [[graft.functions.ClfParse]]:
  * one regex run per line destructures all 13 groups, like the reference's
  * `parseLogline` match (StreamingJob.scala:112–138), but without a Scala
  * UDF's row Ser/De barrier — the kernel stays inside whole-stage codegen.
  * Its values equal the 13-call `regexp_extract` + `to_timestamp` SQL form
  * (the DuckDB oracle's), errors included (PropertySpec pins that).
  */
object LogParser {

  /** reference StreamingJob.scala:69, with one deliberate tightening:
    * the reference writes `HTTP/V?1.0` (unescaped dot, matching any
    * char); here the dot is escaped (`1\.0`). Same accept set on all
    * real CLF traffic — fixture-covered in ClfParserSpec — and strictly
    * narrower on adversarial input (e.g. `HTTP/1x0`). */
  val Pattern: String =
    "^(\\S+) - - \\[(\\d\\d)/(\\w{1,3})/(\\d{4}):(\\d{2}):(\\d{2}):(\\d{2}) (-\\d{4})\\] \"(\\w{1,6}) ([^ \"]+) *(HTTP/V?1\\.0) *\" (\\d{3}) (\\d{1,9}|-)$"

  /** Typed row — mirrors the reference's LogLine
    * (StreamingJob.scala:37–53) with intended-semantics timestamp. */
  case class LogLine(
      raw: String, host: String, day: Int, month: String, year: Int,
      hour: Int, minute: Int, second: Int, timezone: String,
      date: java.sql.Timestamp, httpMethod: String, ressource: String,
      httpVersion: String, httpReplyCode: Int, replyBytes: Option[Int])

  /** value:string → `passthrough` columns, `raw`, then the LogLine fields
    * and `date_ref_buggy` (the reference's seconds-as-millis timestamp,
    * StreamingJob.scala:125–126, SURVEY.md §0). Unparseable lines keep
    * `raw` and get `""` strings and null ints/dates (reference
    * StreamingJob.scala:135: LogLine(raw = line)). The kernel runs once
    * per line in its own projection; the field extraction above it reads
    * the struct. */
  def parse(lines: DataFrame, passthrough: Seq[String] = Nil): DataFrame = {
    val keep = passthrough.map(col)
    val ansi = lines.sparkSession.conf.get("spark.sql.ansi.enabled").toBoolean
    val kernel = ClfParse(ColumnBridge.expr(col("value")), failOnError = ansi)
    lines
      .select(keep ++ Seq(col("value").as("raw"), ColumnBridge.of(kernel).as("p")): _*)
      .select(keep ++ Seq(col("raw"), col("p.*")): _*)
  }

  /** Valid rows (reference parseLoglines, StreamingJob.scala:141–143). */
  def validLines(lines: DataFrame): DataFrame =
    parse(lines).where(col("host") =!= "")

  /** Dead-letter stream of unparseable raw lines (reference
    * checkInvalidLoglineParsing, StreamingJob.scala:145–147). Equivalent
    * to `parse(...).where(host === "")` — host is `\S+` so it is empty
    * iff the regex did not match — but skips the group extraction: one
    * regex run per line is the whole cost. */
  def deadLetters(lines: DataFrame): DataFrame =
    lines.where(!col("value").rlike(Pattern)).select(col("value").as("raw"))

  /** Single-pass alternative to the valid/dead-letter double scan: the
    * valid rows flow through while an `observe` metric counts total and
    * invalid lines on the same pass (SURVEY.md §2.1 row 5). Read the
    * metric from the listener or `Observation` after an action. */
  def validLinesObserved(lines: DataFrame): DataFrame = {
    graft.operators.Diagnostics.install(lines.sparkSession)
    parse(lines)
      .observe("clf_parse",
        count(lit(1)).as("n_lines"),
        sum(when(col("host") === "", 1L).otherwise(0L)).as("n_dead_letters"))
      .where(col("host") =!= "")
  }

  /** q37: the fixture corpus through [[validLines]], projected to the
    * hash-portable column set (timestamps as BIGINTs: `ts_sec` is the
    * intended-semantics epoch seconds; `ts_ref_millis` is the millis
    * count of the reference-parity `date_ref_buggy` — numerically EQUAL
    * to `ts_sec`, which is precisely the seconds-as-millis bug, so the
    * DuckDB twin states it as `ts_sec AS ts_ref_millis` and the hash
    * gate pins the parity). Ordered by `raw` — the fixture lines are
    * pairwise distinct. */
  def fixtureValid(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    validLines(FixtureLines.toDF("value"))
      .select(col("raw"), col("host"), col("day"), col("month"), col("year"),
        col("hour"), col("minute"), col("second"), col("timezone"),
        col("date").cast("long").as("ts_sec"),
        unix_millis(col("date_ref_buggy")).as("ts_ref_millis"),
        col("httpMethod"), col("ressource"), col("httpVersion"),
        col("httpReplyCode"), col("replyBytes"))
      .orderBy("raw")
  }

  /** q38: the fixture dead-letter stream, ordered by `raw`. */
  def fixtureDead(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    deadLetters(FixtureLines.toDF("value")).orderBy("raw")
  }

  /** The FIXTURES.md §A corpus, embedded so the CLF path is exercisable
    * without external files (the NASA log itself is not shipped). */
  val FixtureLines: Seq[String] = Seq(
    "host01.example.com - - [01/Aug/1995:00:00:01 -0400] \"GET /index.html HTTP/1.0\" 200 1839",
    "192.168.7.42 - - [01/Aug/1995:00:00:07 -0400] \"GET /images/logo.gif HTTP/1.0\" 304 0",
    "host02.example.net - - [01/Aug/1995:00:00:09 -0400] \"HEAD /missions/sts-70/ HTTP/1.0\" 404 -",
    "proxy.example.org - - [19/Aug/1995:23:59:59 -0400] \"POST /cgi-bin/form HTTP/V1.0\" 500 999999999",
    "host01.example.com - - [20/Aug/1995:00:00:00 -0400] \"GET /a.txt HTTP/1.0\" 200 77",
    "host03.example.com - - [01/Aug/1995:00:01:02 -0400] \"GET /new HTTP/1.1\" 200 512",
    "host04.example.com - alice [01/Aug/1995:00:01:03 -0400] \"GET /x HTTP/1.0\" 200 512",
    "host05.example.com - - [01/Aug/1995:00:01:04 +0200] \"GET /x HTTP/1.0\" 200 512",
    "host06.example.com - - [01/Aug/1995:00:01:05 -0400] \"GET /a b.html HTTP/1.0\" 200 512",
    "not a log line at all")
}
