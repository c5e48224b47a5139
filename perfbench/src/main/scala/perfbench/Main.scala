package perfbench

import java.io.File
import java.lang.management.ManagementFactory

/** What every workload shares: settings, the session, the heap gauge and
  * the span recorder. */
final class Bench(val cfg: Config) {
  val sessions = new Sessions(cfg)
  val heap = new HeapPeak
  val tracer = new Tracer
  def spark = sessions.spark

  // JVM start to here: launch, class loading and the harness's own start
  private val jvmStartS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  /** The one cold set-up a run has: JVM start plus its first set-up round
    * (less the input generation between the two). `setup_s` is the median
    * round, a warm-JVM one; this is the per-layer view of the cold one. */
  def coldSetupS(firstRoundS: Double): Double = jvmStartS + firstRoundS

  /** The run's outcome: end-to-end metrics when untraced; per-layer
    * metrics, plus the span file and its self-time summary, when traced. */
  def finish(attempted: Int, failed: Int, e2e: Map[String, Double], perLayer: Map[String, Double]): Outcome =
    if (!cfg.trace) Outcome(attempted, failed, e2e)
    else {
      val file = new File(cfg.work.getParentFile, s"trace-${cfg.workload}-seed${cfg.seed}.json")
      val self = tracer.write(file, perLayer)
      println(s"[trace] spans and counters: $file")
      self.toSeq.sortBy(-_._2).foreach { case (name, ms) => println(f"[trace] self_ms $name%-22s $ms%12.1f") }
      Outcome(attempted, failed, perLayer)
    }
}

/** Runs one workload and prints its outcome as the last stdout line:
  * `{"attempted": n, "failed": n, "metrics": {name: value}}`. */
object Main {
  def main(args: Array[String]): Unit = {
    val b = new Bench(Config.parse(args))
    val out =
      try b.cfg.workload match {
        case "clf_batch" => ClfBatch.run(b)
        case "stream_replay" => StreamReplay.run(b)
        case w => throw new IllegalArgumentException(s"unknown workload: $w")
      } finally b.sessions.stop()
    val metrics = out.metrics.toSeq.sorted.map { case (k, v) => s"${Json.str(k)}: ${Json.num(v)}" }
    println(s"""{"attempted": ${out.attempted}, "failed": ${out.failed}, "metrics": {${metrics.mkString(", ")}}}""")
  }
}
