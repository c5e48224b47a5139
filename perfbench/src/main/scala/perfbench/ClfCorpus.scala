package perfbench

import java.io.{BufferedWriter, File, FileWriter}
import java.time.{Instant, ZoneOffset}
import java.util.SplittableRandom

import scala.collection.mutable

/** The three analytics' answers for one 31-day window, as the engine
  * returns them: busiest host (ties to the larger host name), its request
  * count, distinct hosts, and the truncating average reply size with '-'
  * counted as 0. `start` is the window start in epoch seconds. */
final case class ClfWindow(start: Long, busiestHost: String, busiestCount: Long, uniqueHosts: Long, avgBytes: Long)

/** What the generator wrote, with its own plain-Scala answers. */
final case class ClfModel(lines: Long, valid: Long, windows: Seq[ClfWindow]) {
  def validRatio: Double = valid.toDouble / lines
}

/** Seeded NASA-like Common Log Format corpus.
  *
  * Hosts follow a Zipf(1.1) popularity over [[Hosts]] names — real access
  * logs are skewed, and skew is what a grouped aggregation has to survive;
  * the engine's own `LogCorpus` cycles 997 hosts uniformly. Request times
  * rise through August 1995 (UTC), written in one of three negative zone
  * offsets, so the corpus spans two 31-day windows split at 1995-08-20.
  * About one line in 13 is a near miss that the parser must reject, cycling
  * over the four reasons the reference regex encodes: an ident/user other
  * than `- -`, HTTP/1.1, a space in the path, a positive zone offset.
  * Reply sizes are '-' about one time in 17.
  *
  * The model is computed here, line by line, with no Spark: it is the
  * reference the engine's answers are checked against. */
object ClfCorpus {
  val Hosts = 20000
  private val ZipfS = 1.1
  private val WindowSec = 31L * 86400
  private val From = Instant.parse("1995-08-01T06:00:00Z").getEpochSecond
  private val To = Instant.parse("1995-09-01T00:00:00Z").getEpochSecond
  private val Months = Array("Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")
  private val Offsets = Array(-4, -5, -8)

  private lazy val zipfCdf: Array[Double] = {
    val w = Array.tabulate(Hosts)(k => 1.0 / math.pow(k + 1, ZipfS))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }

  private def zipfRank(r: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(zipfCdf, r.nextDouble())
    math.min(if (i >= 0) i else -i - 1, Hosts - 1)
  }

  private final class Acc {
    val perHost = mutable.HashMap.empty[String, Long]
    var n = 0L
    var bytes = 0L
  }

  def write(file: File, seed: Long, lines: Int): ClfModel = {
    val r = new SplittableRandom(seed)
    // which host name gets which popularity rank differs per seed
    val names = {
      val ids = (0 until Hosts).toArray
      for (i <- ids.indices.reverse) { val j = r.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t }
      ids.map(i => if (i % 5 == 0) s"10.${i / 256 % 256}.${i % 256}.${i % 7 + 1}" else f"host$i%05d.example${i % 3}.net")
    }
    val windows = mutable.TreeMap.empty[Long, Acc]
    var valid = 0L
    val out = new BufferedWriter(new FileWriter(file), 1 << 20)
    try {
      val sb = new java.lang.StringBuilder(160)
      for (i <- 0 until lines) {
        val epoch = From + (To - From) * i / lines
        val host = names(zipfRank(r))
        val dead = r.nextInt(13) == 0
        val reason = r.nextInt(4)
        val off = Offsets(r.nextInt(Offsets.length))
        val tz = (if (dead && reason == 3) "+0" else "-0") + (-off) + "00"
        val local = Instant.ofEpochSecond(epoch).atOffset(ZoneOffset.ofHours(off))
        val method = r.nextInt(10) match { case 0 => "HEAD"; case 1 => "POST"; case _ => "GET" }
        val path = if (dead && reason == 2) "/shuttle/missions/sts 70/" else s"/shuttle/missions/sts-${r.nextInt(80)}/item${r.nextInt(5000)}.html"
        val version = if (dead && reason == 1) "HTTP/1.1" else if (r.nextInt(50) == 0) "HTTP/V1.0" else "HTTP/1.0"
        val ident = if (dead && reason == 0) " - guest " else " - - "
        val code = r.nextInt(20) match { case 0 => 404; case 1 | 2 => 304; case 3 => 500; case _ => 200 }
        val bytes: Option[Int] = if (r.nextInt(17) == 0) None else Some(r.nextInt(1 << 17))
        def two(v: Int): java.lang.StringBuilder = sb.append(('0' + v / 10).toChar).append(('0' + v % 10).toChar)
        sb.setLength(0)
        sb.append(host).append(ident).append('[')
        two(local.getDayOfMonth).append('/').append(Months(local.getMonthValue - 1)).append('/').append(local.getYear).append(':')
        two(local.getHour).append(':'); two(local.getMinute).append(':'); two(local.getSecond).append(' ').append(tz)
        sb.append("] \"").append(method).append(' ').append(path).append(' ').append(version)
          .append("\" ").append(code).append(' ').append(bytes.fold("-")(_.toString)).append('\n')
        out.write(sb.toString)
        if (!dead) {
          valid += 1
          val acc = windows.getOrElseUpdate(Math.floorDiv(epoch, WindowSec) * WindowSec, new Acc)
          acc.perHost(host) = acc.perHost.getOrElse(host, 0L) + 1
          acc.n += 1
          acc.bytes += bytes.getOrElse(0)
        }
      }
    } finally out.close()
    ClfModel(lines, valid, windows.toSeq.map { case (start, a) =>
      val (top, cnt) = a.perHost.maxBy { case (h, c) => (c, h) }
      ClfWindow(start, top, cnt, a.perHost.size, math.floor(a.bytes.toDouble / a.n).toLong)
    })
  }
}
