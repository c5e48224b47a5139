package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.{forAll, propBoolean}

import graft.clf.LogParser
import graft.operators.Multimodal

/** ScalaCheck properties for the pure kernels (SURVEY.md §5.2.3).
  * Spark-free: the CLF regex, truncating-average arithmetic, and frame
  * sampling are all testable without a session. The one exception is the
  * CLF parse kernel, whose reference is a SQL form and is run through the
  * shared test session. */
object PropertySpec extends Properties("graft") {

  private val pattern = java.util.regex.Pattern.compile(LogParser.Pattern)

  private val genHost = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString.take(20))
  private val genMonth = Gen.oneOf("Jan", "Feb", "Mar", "Aug", "Sep", "Dec")
  private val genPath = Gen.nonEmptyListOf(Gen.oneOf(Gen.alphaNumChar, Gen.const('/'))).map("/" + _.mkString.take(30))
  private val genLine = for {
    host <- genHost
    day <- Gen.choose(1, 28)
    month <- genMonth
    hour <- Gen.choose(0, 23); minute <- Gen.choose(0, 59); second <- Gen.choose(0, 59)
    tz <- Gen.choose(1, 9)
    method <- Gen.oneOf("GET", "HEAD", "POST")
    path <- genPath
    v <- Gen.oneOf("HTTP/1.0", "HTTP/V1.0")
    code <- Gen.choose(100, 599)
    bytes <- Gen.option(Gen.choose(0, 999999999))
  } yield {
    val b = bytes.map(_.toString).getOrElse("-")
    (host, day, month, hour, method, path, code, bytes,
      f"$host - - [$day%02d/$month/1995:$hour%02d:$minute%02d:$second%02d -0$tz%d00] " +
        f""""$method $path $v" $code%03d $b""")
  }

  property("regex parse inverts CLF formatting (parse . format = id)") =
    forAll(genLine) { case (host, day, month, hour, method, path, code, bytes, line) =>
      val m = pattern.matcher(line)
      m.matches() &&
        m.group(1) == host && m.group(2).toInt == day && m.group(3) == month &&
        m.group(5).toInt == hour && m.group(9) == method && m.group(10) == path &&
        m.group(12).toInt == code &&
        (bytes match { case Some(x) => m.group(13).toInt == x; case None => m.group(13) == "-" })
    }

  property("lines with spaced paths or HTTP/1.1 never parse (dead-letter invariant)") =
    forAll(genHost) { host =>
      !pattern.matcher(s"""$host - - [01/Aug/1995:00:00:00 -0400] "GET /a b HTTP/1.0" 200 1""").matches() &&
      !pattern.matcher(s"""$host - - [01/Aug/1995:00:00:00 -0400] "GET /a HTTP/1.1" 200 1""").matches()
    }

  // ClfParse ≡ the 13-call SQL form it replaced, on CLF-shaped lines
  // that reach every branch: the four reject reasons, null lines, '-'
  // and 9-digit (and 10-digit) byte counts, non-canonical months that
  // Spark's case-insensitive formatter still parses, impossible dates,
  // hours, minutes, seconds and offsets, a trailing Unicode line
  // terminator (rlike's `find` accepts it), and U+0001 anywhere.
  private val genClfLine: Gen[Option[String]] = {
    def two(lo: Int, hi: Int): Gen[String] = Gen.choose(lo, hi).map(n => f"$n%02d")
    def freq[T](common: Gen[T], rare: Gen[T]): Gen[T] = Gen.frequency(12 -> common, 1 -> rare)
    // rarer, so that few lines per batch need their own ANSI-on check
    def dateFreq[T](common: Gen[T], rare: Gen[T]): Gen[T] = Gen.frequency(40 -> common, 1 -> rare)
    val line = for {
      host <- freq(genHost, Gen.const("a\u0001b"))
      ident <- freq(Gen.const(" - - "), Gen.const(" - alice "))
      day <- dateFreq(two(1, 28), Gen.oneOf("00", "29", "30", "31", "32"))
      month <- dateFreq(Gen.oneOf("Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"),
        Gen.oneOf("aug", "AUG", "Xyz", "Ja", "1"))
      year <- dateFreq(Gen.oneOf("1995", "1996", "2000", "1900"), Gen.choose(0, 9999).map(n => f"$n%04d"))
      hour <- dateFreq(two(0, 23), Gen.const("24"))
      minute <- dateFreq(two(0, 59), Gen.const("60"))
      second <- dateFreq(two(0, 59), Gen.const("60"))
      dayMonthYear <- dateFreq(Gen.const(s"$day/$month/$year"), Gen.oneOf("31/Feb/1995",
        "29/Feb/1995", "29/Feb/1900", "29/Feb/1996", "29/Feb/2000", "31/Apr/1995", "30/Feb/2000"))
      tz <- dateFreq(Gen.oneOf("-0400", "-0500", "-0800"),
        Gen.oneOf("-0000", "-1800", "-1759", "-1801", "-1900", "-0060", "-0959", "+0400"))
      method <- Gen.oneOf("GET", "HEAD", "POST")
      path <- freq(genPath, Gen.oneOf("/p\u0001q", "/a b.html"))
      version <- freq(Gen.oneOf("HTTP/1.0", "HTTP/V1.0"), Gen.const("HTTP/1.1"))
      code <- Gen.choose(100, 599)
      bytes <- freq(Gen.choose(0, 99999).map(_.toString),
        Gen.oneOf("-", "999999999", "1234567890"))
      tail <- freq(Gen.const(""), Gen.oneOf("\u2028", " "))
      ctl <- freq(Gen.const(-1), Gen.choose(0, 200))
    } yield {
      val l = s"""$host$ident[$dayMonthYear:$hour:$minute:$second $tz] "$method $path $version" $code $bytes$tail"""
      if (ctl < 0) l else { val i = ctl % (l.length + 1); l.take(i) + "\u0001" + l.drop(i) }
    }
    Gen.frequency(25 -> line.map(Some(_)), 1 -> Gen.const(None))
  }

  private lazy val clfSessions: Map[Boolean, org.apache.spark.sql.SparkSession] =
    Seq(true, false).map { ansi =>
      val s = SparkSpec.session.newSession()
      s.conf.set("spark.sql.ansi.enabled", ansi.toString)
      ansi -> s
    }.toMap

  /** The parse as regexp_extract per group + to_timestamp, the form the
    * DuckDB oracle states (LogCorpus.validParseSql); a null line parses
    * as the empty string, i.e. as a non-matching line. */
  private def clfSqlForm(lines: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val v = coalesce(col("value"), lit(""))
    def g(i: Int) = regexp_extract(v, LogParser.Pattern, i)
    def int(i: Int) = nullif(g(i), lit("")).try_cast("int")
    val ts = to_timestamp(when(g(1) =!= "", concat_ws(" ",
      concat_ws("/", g(2), g(3), g(4)), concat_ws(":", g(5), g(6), g(7)), g(8))),
      "dd/MMM/yyyy HH:mm:ss Z")
    lines.select(col("id"), col("value"), g(1), int(2), g(3), int(4), int(5), int(6), int(7),
      g(8), ts, timestamp_millis(unix_timestamp(ts)), g(9), g(10), g(11), int(12), int(13))
  }

  /** Both forms' rows, ordered by line id. `local` lines form a local
    * relation, which the optimizer evaluates on the driver with
    * interpreted expressions (no job, so an expected ANSI error costs no
    * executor log); otherwise the lines are an RDD in two partitions and
    * run through whole-stage codegen. */
  private def clfRows(ansi: Boolean, lines: Seq[(Long, Option[String])], kernel: Boolean,
      local: Boolean = false): Either[Throwable, Seq[Seq[Any]]] = {
    val s = clfSessions(ansi)
    import s.implicits._
    val rows = lines.map { case (i, l) => (i, l.orNull) }
    val df = (if (local) rows.toDF("id", "value") else s.sparkContext.parallelize(rows, 2).toDF("id", "value"))
    val out = if (kernel) LogParser.parse(df, Seq("id")) else clfSqlForm(df)
    try Right(out.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq)
    catch { case e: Exception => Left(e) }
  }

  private def cannotParseTimestamp(r: Either[Throwable, _]): Boolean = r match {
    case Left(e) => Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("CANNOT_PARSE_TIMESTAMP"))
    case Right(_) => false
  }

  property("ClfParse kernel == regexp_extract + to_timestamp SQL form, ANSI off and on") =
    Prop.forAllNoShrink(Gen.listOfN(40, genClfLine)) { drawn =>
      val lines = drawn.zipWithIndex.map { case (l, i) => (i.toLong, l) }
      val sqlOff = clfRows(ansi = false, lines, kernel = false)
      val kernelOff = clfRows(ansi = false, lines, kernel = true)
      val kernelOffLocal = clfRows(ansi = false, lines, kernel = true, local = true)
      // the lines whose date the formatter rejects: matched, null date
      val rejected = sqlOff.toSeq.flatten.collect { case r if r(2) != "" && r(10) == null => r.head }.toSet
      val (bad, good) = lines.partition { case (i, _) => rejected(i) }
      val goodOff = sqlOff.map(_.filterNot(r => rejected(r.head.asInstanceOf[Long])))
      (s"ANSI off: kernel $kernelOff, SQL $sqlOff" |: (sqlOff.isRight && kernelOff == sqlOff)) &&
        (s"ANSI off, interpreted: kernel $kernelOffLocal" |: kernelOffLocal == sqlOff) &&
        (s"ANSI on, accepted dates" |:
          (clfRows(ansi = true, good, kernel = true) == goodOff &&
            clfRows(ansi = true, good, kernel = false) == goodOff)) &&
        Prop.all(bad.map { l =>
          s"ANSI on must throw CANNOT_PARSE_TIMESTAMP on $l" |:
            (cannotParseTimestamp(clfRows(ansi = true, Seq(l), kernel = true, local = true)) &&
              cannotParseTimestamp(clfRows(ansi = true, Seq(l), kernel = false, local = true)))
        }: _*)
    }

  property("truncating average: floor(sum/n)*n <= sum < floor(sum/n)*n + n") =
    forAll(Gen.nonEmptyListOf(Gen.choose(0L, 1000000L))) { xs =>
      val sum = xs.sum; val n = xs.length
      val avg = math.floor(sum.toDouble / n).toLong
      avg * n <= sum && sum < avg * n + n
    }

  property("frame sampling: k evenly spaced offsets, strictly increasing, in range") =
    forAll(Gen.choose(0, 10000), Gen.choose(1, 64)) { (n, k) =>
      val off = Multimodal.frameOffsets(n, k)
      val expectLen = math.min(n, k).max(0)
      off.length == expectLen &&
        off.forall(o => o >= 0 && o < math.max(n, 1)) &&
        off.sliding(2).forall { case Array(a, b) => a < b; case _ => true }
    }

  // q91's merge-count identity: replacing a 2-char pair with a 1-char
  // placeholder removes exactly one char per LEFT-TO-RIGHT NON-OVERLAPPING
  // site, so the length delta IS the merge count (what the oracle and the
  // Spark side both rely on). Alphabet kept tiny so pairs actually occur
  // and overlaps ("aaa" with pair "aa") are exercised.
  private val genTinyText = Gen.listOf(Gen.oneOf('a', 'b', 'c')).map(_.mkString)
  private val genPair = for { x <- Gen.oneOf('a', 'b', 'c'); y <- Gen.oneOf('a', 'b', 'c') } yield s"$x$y"

  property("BPE merge count = length delta of non-overlapping replace (q91 identity)") =
    forAll(genTinyText, genPair) { (s, pair) =>
      var i = 0; var n = 0
      while (i >= 0) {
        i = s.indexOf(pair, i)
        if (i >= 0) { n += 1; i += 2 }
      }
      s.length - s.replace(pair, "·").length == n
    }

  // q103's chained form of the same identity: applying k merges in
  // sequence (fresh 1-char symbol per iteration, like the engine) keeps
  // the per-iteration length delta equal to that iteration's
  // non-overlapping site count ON THE PREVIOUSLY-MERGED TEXT, and the
  // total shrink telescopes — the arithmetic both the Spark plan and the
  // unrolled DuckDB CTEs rely on at every depth. Symbols come from
  // outside the generator alphabet, mirroring the fresh-symbol
  // precondition the corpus spec asserts.
  property("chained BPE merges: per-iteration length deltas telescope (q103 identity)") =
    forAll(genTinyText, genPair, genPair, genPair) { (s0, p1, p2, p3) =>
      val syms = Seq('Ā', 'ā', 'Ă').map(_.toString)
      def sites(s: String, pair: String): Int = {
        var i = 0; var n = 0
        while (i >= 0) {
          i = s.indexOf(pair, i)
          if (i >= 0) { n += 1; i += 2 }
        }
        n
      }
      val texts = Seq(p1, p2, p3).zip(syms).scanLeft(s0) {
        case (t, (p, sym)) => t.replace(p, sym)
      }
      val deltasMatch = texts.sliding(2).zip(Seq(p1, p2, p3).iterator).forall {
        case (Seq(prev, next), p) => prev.length - next.length == sites(prev, p)
        case _ => true
      }
      deltasMatch && (s0.length - texts.last.length) ==
        texts.sliding(2).collect { case Seq(a, b) => a.length - b.length }.sum
    }

  property("whole-bit log2 identity: len(bin(x)) - 1 = floor(log2 x) (q85 portability)") =
    forAll(Gen.choose(1L, Long.MaxValue)) { x =>
      val viaBin = java.lang.Long.toBinaryString(x).length - 1
      val viaNlz = 63 - java.lang.Long.numberOfLeadingZeros(x)
      // the mathematical floor(log2) via bit position, and the identity
      // both engines' bin()/length() reproduce
      // upper-bound check skipped at viaBin = 62: x < 2^63 is vacuous for
      // positive longs and 1L << 63 wraps negative
      viaBin == viaNlz && (1L << viaBin) <= x &&
        (viaBin >= 62 || x < (1L << (viaBin + 1)))
    }

  property("surprisal is nonnegative and bounded by bits_total (q85 invariant)") =
    forAll(Gen.choose(1L, 1L << 40), Gen.choose(1L, 1L << 40)) { (a, b) =>
      val n = math.max(a, b); val cnt = math.min(a, b) // cnt <= N always
      def bits(x: Long) = 63 - java.lang.Long.numberOfLeadingZeros(x)
      val s = bits(n) - bits(cnt)
      s >= 0 && s <= bits(n)
    }

  // The native-expression static kernels (round 7: hoisted out of the
  // expression classes for codegen) are plain functions over catalyst
  // value types — no session needed, so the whole input space is open
  // to scalacheck, not just the corpus fixtures the specs pin.

  import org.apache.spark.sql.catalyst.util.GenericArrayData
  import org.apache.spark.unsafe.types.UTF8String
  import graft.functions.{CollapseRuns, KarpRabin, LongestRun, Simhash64, WinnowMin}

  property("Karp–Rabin rolling hashes equal the direct polynomial at every position") =
    forAll(Gen.asciiPrintableStr, Gen.listOf(Gen.choose(0x20.toChar, 0x2FFF.toChar)).map(_.mkString)) { (a, b) =>
      val s = a + b // mixed ASCII + multi-byte: the kernel is byte-defined
      val u = UTF8String.fromString(s)
      val bytes = u.getBytes
      val out = KarpRabin.hashes(u).toLongArray().toSeq
      val expect = (0 to bytes.length - KarpRabin.K).map { i =>
        (0 until KarpRabin.K).foldLeft(0L)((h, j) =>
          (h * KarpRabin.B + (bytes(i + j) & 0xFF)) % KarpRabin.P)
      }
      out == expect
    }

  property("winnow-min equals the naive sliding-window minimum") =
    forAll(Gen.listOf(Gen.choose(Long.MinValue, Long.MaxValue)), Gen.choose(1, 8)) { (xs, w) =>
      val out = WinnowMin.mins(new GenericArrayData(xs.toArray), w).toLongArray().toSeq
      val expect = if (xs.length < w) Seq.empty[Long] else xs.sliding(w).map(_.min).toSeq
      out == expect
    }

  property("longest-run equals the naive mode with smallest-token tie-break") =
    forAll(Gen.listOf(Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString.take(4)))) { toks =>
      val row = LongestRun.run(new GenericArrayData(toks.map(UTF8String.fromString).toArray))
      if (toks.isEmpty) row.getLong(0) == 0L && row.isNullAt(1)
      else {
        val counts = toks.groupBy(identity).view.mapValues(_.size)
        val bestCnt = counts.values.max
        // ASCII-only tokens: String order == UTF8String byte order
        val bestTok = counts.collect { case (t, c) if c == bestCnt => t }.min
        row.getLong(0) == bestCnt.toLong && row.getUTF8String(1).toString == bestTok
      }
    }

  property("collapse-runs equals the naive run-length truncation at any k") =
    forAll(
      Gen.listOf(Gen.oneOf("a", "b", "aa", "c")), // tiny alphabet → long runs
      Gen.choose(1, 4)) { (toks, k) =>
      val row = CollapseRuns.run(
        new GenericArrayData(toks.map(UTF8String.fromString).toArray), k)
      // naive recompute: maximal runs via consecutive grouping
      val runs = toks.foldLeft(List.empty[(String, Int)]) {
        case ((t, c) :: rest, tok) if t == tok => (t, c + 1) :: rest
        case (acc, tok) => (tok, 1) :: acc
      }.reverse
      val clean = runs.flatMap { case (t, c) => List.fill(math.min(c, k))(t) }
      row.getLong(0) == toks.length.toLong &&
        row.getLong(1) == clean.length.toLong &&
        row.getLong(2) == runs.count(_._2 > k).toLong &&
        row.getLong(3) == (if (toks.isEmpty) 0L else runs.map(_._2).max.toLong) &&
        row.getUTF8String(4).toString == clean.mkString(" ")
    }

  // q111/q112/q115's statistic: drift(cb, ch) = |cb·Nh − ch·Nb|, the
  // common-denominator form of |cb/Nb − ch/Nh| — these properties are
  // what make it a sound monitor.
  private def drift(cb: Long, ch: Long, nb: Long, nh: Long): BigInt =
    (BigInt(cb) * nh - BigInt(ch) * nb).abs

  property("drift statistic: zero exactly at rate equality, sign-free, k-replication scales uniformly") =
    forAll(Gen.choose(0L, 1000L), Gen.choose(0L, 1000L),
      Gen.choose(1L, 100000L), Gen.choose(1L, 100000L), Gen.choose(1L, 50L)) {
      (cb, ch, nb, nh, k) =>
        val d = drift(cb, ch, nb, nh)
        // zero iff exact proportionality (the rational zero point; no epsilon)
        val zeroIff = (d == 0) == (BigInt(cb) * nh == BigInt(ch) * nb)
        // symmetric in the two sides (a monitor must not care which side grew)
        val sym = d == drift(ch, cb, nh, nb)
        // replicating the batch k× scales every token's drift by exactly k:
        // rankings are replication-invariant, so thresholds transfer
        val scale = drift(cb * k, ch, nb * k, nh) == k * d
        zeroIff && sym && scale
    }

  // arbitrary mixes of the full Java \s class, letters, digits, and
  // non-ASCII BMP chars — the kernel must agree with the authority
  // (java.util.regex split with limit -1, exactly what Spark's
  // size(split) computes) on EVERY string, including empty
  private val genWsText: Gen[String] = Gen.listOf(Gen.frequency(
    5 -> Gen.alphaNumChar,
    1 -> Gen.oneOf(' ', '\t', '\n', '\u000b', '\f', '\r'),
    1 -> Gen.oneOf('é', 'ß', '中', 'й', 'ع'))).map(_.mkString)

  property("CountWsTokens kernel == size(split(s, '\\s+')) (Java split, limit -1) on any string") =
    forAll(genWsText) { s =>
      graft.functions.CountWsTokens.run(UTF8String.fromString(s)) ==
        s.split("\\s+", -1).length
    }

  // q122's proportional-epoch reduction: with w = c and sum_w = total,
  // the count factor cancels exactly inside the floor — the reduced
  // form never builds the total·count product that wraps int64
  property("mixture rate: proportional reduction floor(1000·T·c/(total·c)) = floor(1000·T/total)") =
    forAll(Gen.choose(1L, 3000000L), Gen.choose(1L, 1000000L)) { (total0, c0) =>
      val c = math.min(c0, total0)
      val total = total0
      val t = total / 5
      // direct (guarded by generator bounds to stay inside int64) vs reduced
      (1000L * t * c) / (total * c) == (1000L * t) / total
    }

  property("simhash is token-order invariant (±1 vote sums commute) and 16 hex digits") =
    forAll(Gen.nonEmptyListOf(Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString.take(6)))) { toks =>
      def sk(ts: Seq[String]) =
        Simhash64.sketch(new GenericArrayData(ts.map(UTF8String.fromString).toArray)).toString
      val h = sk(toks)
      h.matches("[0-9a-f]{16}") && h == sk(toks.reverse) && h == sk(scala.util.Random.shuffle(toks))
    }
}
