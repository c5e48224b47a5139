package graft.clf

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic NASA-like CLF corpus at REFERENCE volume (1.57M lines —
  * the NASA-access-log size the reference job parses, StreamingJob
  * .scala:85, 112–138), exercised and ORACLE-GATED at that scale instead
  * of on a 10-line fixture: the corpus is materialized to parquet that
  * DuckDB reads directly, and the 13-group regex parse is re-expressed
  * in DuckDB SQL (q37b/q38b).
  *
  * Every field is a pure function of the line id (no RNG, no timestamps
  * of "now"), so the corpus is bit-identical across machines and reruns;
  * 1 line in 13 is a near-miss dead letter cycling through the four
  * reject reasons the regex encodes (ident/user set, HTTP/1.1, space in
  * path, positive timezone — SURVEY.md §2.3).
  */
object LogCorpus {

  /** Matches the NASA Jul-1995 trace's 1,569,898 lines (BASELINE.md).
    * Line uniqueness survives the bump: ids 1e6 apart repeat the bytes
    * cycle but differ in host (1e6 mod 997 = 9 ≠ 0). */
  val NumLines = 1569898L

  /** Corpus location — content is a pure function of this code, so the
    * version tag IS the fingerprint; bump it when generation changes.
    * (v3: rows carry `line_id` so the oracle sort keys on a BIGINT.) */
  val Path = "/tmp/graft_clf_corpus_v3"

  private def fmt2(c: Column): Column = format_string("%02d", c)

  /** One CLF line per id. Valid shape:
    * `host042.example.com - - [07/Mar/1995:13:21:44 -0400] "GET /data/item01234.html HTTP/1.0" 200 56789` */
  private def lineCol: Column = {
    val id = col("id")
    val isDead = pmod(id, lit(13L)) === 11
    val kind = pmod(id, lit(4L))
    val host = format_string("host%03d.example.com", pmod(id, lit(997L)))
    val ident = when(isDead && kind === 0, lit(" - alice ")).otherwise(lit(" - - "))
    val day = fmt2(pmod(id, lit(28L)) + 1)
    val month = element_at(
      array(Seq("Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")
        .map(lit): _*), (pmod(id, lit(12L)) + 1).cast("int"))
    val time = concat(fmt2(pmod(id, lit(24L))), lit(":"), fmt2(pmod(id * 7, lit(60L))), lit(":"), fmt2(pmod(id * 13, lit(60L))))
    val tz = when(isDead && kind === 3, lit("+0400"))
      .otherwise(element_at(array(lit("-0400"), lit("-0500"), lit("-0800")), (pmod(id, lit(3L)) + 1).cast("int")))
    val method = element_at(array(lit("GET"), lit("HEAD"), lit("POST")), (pmod(id, lit(3L)) + 1).cast("int"))
    val path = when(isDead && kind === 2, lit("/a b.html"))
      .otherwise(format_string("/data/item%05d.html", pmod(id, lit(50000L))))
    val version = when(isDead && kind === 1, lit("HTTP/1.1"))
      .otherwise(when(pmod(id, lit(50L)) === 0, lit("HTTP/V1.0")).otherwise(lit("HTTP/1.0")))
    val code = element_at(array(lit(200), lit(304), lit(404), lit(500)), (pmod(id, lit(4L)) + 1).cast("int"))
    val bytes = when(pmod(id, lit(17L)) === 0, lit("-")).otherwise(pmod(id * 37, lit(1000000L)).cast("string"))
    format_string("%s%s[%s/%s/1995:%s %s] \"%s %s %s\" %d %s",
      host, ident, day, month, time, tz, method, path, version, code, bytes)
  }

  /** One-time materialization of the corpus (line_id: bigint, value:
    * string). Generation is distributed (`spark.range` partitions) and
    * deterministic; the `_SUCCESS` marker gates reuse like the other
    * warehouse copies. `line_id` is the provenance/order key: the oracle
    * hash-compare needs SOME deterministic global order, and ordering by
    * an 8-byte BIGINT is far cheaper than by the ~115-byte log lines
    * whose long shared prefixes (`hostNNN.example.com - - [...`) make
    * string comparisons worst-case. */
  def ensure(spark: SparkSession): String = {
    if (!graft.sources.Artifacts.isBuilt(spark, Path))
      spark.range(NumLines).select(col("id").as("line_id"), lineCol.as("value"))
        .write.mode("overwrite").parquet(Path)
    Path
  }

  /** The corpus compresses to a handful of small parquet files that the
    * file-source packer coalesces into ~1 split (files.openCostInBytes ×
    * nFiles fills maxPartitionBytes), which would serialize the
    * expression-heavy 13-group parse onto one core — so spread the raw
    * lines across the cluster first. The shuffle moves only the ~140 MB
    * value column; the parse then runs data-parallel, which is also the
    * 100 TB shape (there the files are big enough that the scan itself
    * yields parallel splits and this repartition becomes a no-op to
    * remove). */
  private def corpus(spark: SparkSession): DataFrame =
    spark.read.parquet(ensure(spark))
      .repartition(spark.sparkContext.defaultParallelism)

  /** q37b: the 13-group parse over the full corpus — every parsed field
    * plus the timestamp as BIGINT epoch seconds (the cross-engine-safe
    * form), keyed and ordered by `line_id`.
    *
    * Shape: sort FIRST, parse after. The oracle's global ORDER BY has to
    * shuffle something; sorting the (line_id, raw) pairs moves the
    * narrowest possible payload (vs the 15 parsed columns), the range
    * exchange keys on the 8-byte BIGINT (vs worst-case shared-prefix
    * string compares), its output supplies the parse's data-parallelism,
    * and the post-sort parse is [[LogParser.parse]] — one regex run per
    * row — with `line_id` passed through ahead of the parsed fields. At
    * 100 TB the sort disappears entirely (replaced by a partitioned
    * write); it exists for the oracle hash gate. */
  def parsedValidVolume(spark: SparkSession): DataFrame =
    LogParser.parse(corpus(spark).orderBy("line_id"), Seq("line_id"))
      .where(col("host") =!= "")
      .select(col("line_id"), col("raw"), col("host"), col("day"), col("month"), col("year"),
        col("hour"), col("minute"), col("second"), col("timezone"),
        col("date").cast("long").as("ts_sec"),
        col("httpMethod"), col("ressource"), col("httpVersion"),
        col("httpReplyCode"), col("replyBytes"))

  /** Dead-letter table location — versioned with [[Path]] (same
    * "content is a pure function of this code" contract; bump both
    * when generation or the parse contract changes). */
  val DeadPath = Path + "_dead"

  /** q38b: the dead-letter stream at volume (raw unparseable lines),
    * read from the PERSISTED dead-letter table — the decode-once
    * artifact pattern (q36/q147) applied to log ingest. At 100 TB the
    * dead-letter stream is materialized ONCE, at ingest: it IS the
    * dead-letter queue (reference StreamingJob.scala:145–147 — the
    * reject side of the parse split), and every downstream audit reads
    * the DLQ table rather than re-running the reject regex over the
    * whole corpus. The build pass is one regex-match run per line
    * (q37's reject predicate verbatim) behind the `_SUCCESS` build-once
    * gate; the DuckDB oracle re-derives the rejects from the RAW corpus
    * every verify run, so the artifact is re-gated, never trusted.
    * (r18, verdict task 1b — this and the raw-line repartition were the
    * only per-audit costs left; q37b, the canary, deliberately keeps
    * pricing the live parse path.) */
  def deadLettersVolume(spark: SparkSession): DataFrame = {
    ensure(spark)
    if (!graft.sources.Artifacts.isBuilt(spark, DeadPath))
      corpus(spark)
        .where(!col("value").rlike(LogParser.Pattern))
        .select(col("line_id"), col("value").as("raw"))
        .write.mode("overwrite").parquet(DeadPath)
    spark.read.parquet(DeadPath).orderBy("line_id")
  }

  /** The corpus as a DuckDB FROM clause. */
  private val FromCorpus = s"read_parquet('$Path/*.parquet')"

  /** Shared DuckDB re-expression of the 13-group parse over an arbitrary
    * `value`-columned relation — ONE SQL text serves the 1.57M-line
    * corpus (q37b) and the embedded 10-line fixture (q37), so the
    * fixture gate exercises exactly the SQL the volume gate proved
    * portable. `idCols` ride through unchanged ahead of the parsed
    * fields; `refBuggy` additionally emits the reference's
    * seconds-as-millis value (`ts_ref_millis` = `ts_sec` — the bug IS
    * that the epoch-seconds number is used as a millis count, so the
    * oracle states the equality outright; DuckDB lateral alias
    * references make that a one-liner). */
  private def validParseSql(relation: String, idCols: Seq[String], orderCol: String,
      refBuggy: Boolean): String = {
    val ids = idCols.map(_ + ", ").mkString
    val refCol = if (refBuggy) "\n  ts_sec AS ts_ref_millis," else ""
    s"""WITH src AS (SELECT ${ids}value,
       |    regexp_extract(value, '${LogParser.Pattern}',
       |      ['host','day','month','year','hour','minute','second','timezone',
       |       'httpMethod','ressource','httpVersion','httpReplyCode','replyBytes']) AS g
       |  FROM $relation WHERE regexp_matches(value, '${LogParser.Pattern}')),
       |p AS (SELECT ${ids}value AS raw,
       |  g.host AS host,
       |  CAST(g.day AS INT) AS day,
       |  g.month AS month,
       |  CAST(g.year AS INT) AS year,
       |  CAST(g.hour AS INT) AS hour,
       |  CAST(g.minute AS INT) AS minute,
       |  CAST(g.second AS INT) AS second,
       |  g.timezone AS timezone,
       |  CAST(FLOOR(EPOCH(strptime(
       |    g.day || '/' || g.month || '/' || g.year || ' ' ||
       |    g.hour || ':' || g.minute || ':' || g.second || ' ' || g.timezone,
       |    '%d/%b/%Y %H:%M:%S %z'))) AS BIGINT) AS ts_sec,$refCol
       |  g.httpMethod AS httpMethod,
       |  g.ressource AS ressource,
       |  g.httpVersion AS httpVersion,
       |  CAST(g.httpReplyCode AS INT) AS httpReplyCode,
       |  TRY_CAST(g.replyBytes AS INT) AS replyBytes
       |FROM src)
       |SELECT * FROM p ORDER BY $orderCol""".stripMargin
  }

  /** DuckDB twin of [[parsedValidVolume]]: the same regex (RE2 and
    * java.util.regex agree on this pattern class). DuckDB's positional
    * regexp_extract caps at group 9, so all 13 groups come out in one
    * shot via the named-struct variant. */
  def validOracleSql: String =
    validParseSql(FromCorpus, Seq("line_id"), "line_id", refBuggy = false)

  /** DuckDB twin of [[deadLettersVolume]]. */
  def deadOracleSql: String =
    s"""SELECT line_id, value AS raw FROM $FromCorpus
       |WHERE NOT regexp_matches(value, '${LogParser.Pattern}') ORDER BY line_id""".stripMargin

  /** The FIXTURES.md §A corpus as a DuckDB VALUES relation. The lines are
    * printable ASCII with no single quotes (ClfParserSpec pins that — the
    * SQL embedding below is only valid under it). */
  private val FixtureValues: String =
    LogParser.FixtureLines.map(l => s"('$l')").mkString("(VALUES ", ", ", ") t(value)")

  /** DuckDB twin of q37 (the fixture parse, [[LogParser.FixtureLines]]
    * through the identical parse SQL as q37b, keyed by `raw` — the
    * fixture lines are pairwise distinct). */
  def fixtureValidOracleSql: String =
    validParseSql(FixtureValues, Nil, "raw", refBuggy = true)

  /** DuckDB twin of q38 (the fixture dead-letter stream). */
  def fixtureDeadOracleSql: String =
    s"""SELECT value AS raw FROM $FixtureValues
       |WHERE NOT regexp_matches(value, '${LogParser.Pattern}') ORDER BY raw""".stripMargin
}
