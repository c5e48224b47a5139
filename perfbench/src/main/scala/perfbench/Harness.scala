package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** Command-line settings of one benchmark run. `work` is the run's private
  * scratch directory inside the checkout; every file the run reads or
  * writes (inputs, checkpoints, Spark local and temp dirs) lives there,
  * and a traced run's span file goes next to it. */
final case class Config(workload: String, seed: Long, seconds: Int, trace: Boolean, work: File) {
  val cores: Int = Runtime.getRuntime.availableProcessors
  def dir(name: String): File = { val d = new File(work, name); d.mkdirs(); d }
}

object Config {
  def parse(args: Array[String]): Config = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Config(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", new File(need("work")).getAbsoluteFile)
  }
}

/** What a workload hands back to [[Main]]: the operations it attempted,
  * those that threw or failed their output check, and its metrics by name
  * (units are declared once, in BENCHMARK.json). */
final case class Outcome(attempted: Int, failed: Int, metrics: Map[String, Double])

object Stats {
  /** Linear-interpolated quantile of a non-empty sample (q in [0, 1]). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Per key, the median over the samples that carry it. */
  def medians(samples: Seq[Map[String, Double]]): Map[String, Double] =
    samples.flatMap(_.keys).distinct.map(k => k -> median(samples.flatMap(_.get(k)))).toMap

  /** Length of the union of intervals, clipped to [from, to]. */
  def unionLength(iv: Seq[(Double, Double)], from: Double, to: Double): Double = {
    val clipped = iv.map { case (s, e) => (s max from, e min to) }.filter(i => i._2 > i._1).sortBy(_._1)
    clipped.foldLeft((0.0, Double.NegativeInfinity)) { case ((total, reach), (s, e)) =>
      if (e <= reach) (total, reach) else (total + e - (s max reach), e)
    }._1
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
}

/** The one SparkSession a run uses at a time, built the way the engine's
  * own entry points build theirs (GraftExtensions installed, UTC session
  * time zone, shuffle partitions = cores), with every local directory
  * pointed into the run's work directory. */
final class Sessions(cfg: Config) {
  private var current: Option[SparkSession] = None

  def spark: SparkSession = current.getOrElse(sys.error("no session started"))

  /** Stops the running session, if any, and starts a fresh one (a new
    * SparkContext). Returns the seconds the start took. */
  def restart(): Double = {
    stop()
    val t0 = System.nanoTime()
    val s = SparkSession.builder()
      .master(s"local[${cfg.cores}]")
      .appName("perfbench")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cfg.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", cfg.dir("spark-local").getPath)
      .config("spark.sql.warehouse.dir", cfg.dir("warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    current = Some(s)
    (System.nanoTime() - t0) / 1e9
  }

  def stop(): Unit = { current.foreach(_.stop()); current = None }
}

/** Peak driver heap retained after a full garbage collection, sampled at
  * checkpoints the workloads place where they hold the most live data (a
  * cached parse, loaded state stores), always between timed operations. */
final class HeapPeak {
  private val memory = ManagementFactory.getMemoryMXBean
  private var peak = 0L

  def checkpoint(): Unit = {
    System.gc()
    peak = math.max(peak, memory.getHeapMemoryUsage.getUsed)
  }
  def peakMb: Double = peak / 1048576.0
}
