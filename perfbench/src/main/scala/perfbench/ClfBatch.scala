package perfbench

import java.io.File

import scala.collection.mutable
import scala.io.Source

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FilterExec

import graft.SparkEntry
import graft.clf.{LogAnalysisJob, LogParser}
import graft.sources.Tables

/** Workload `clf_batch`: the paper's three analytics in batch, closed loop.
  *
  * A pass is the paper's job as `LogAnalysisJob` wires it — `readClf` →
  * `cache` → busiest host, unique hosts and average reply size per 31-day
  * window on correct-millisecond timestamps — over a seeded CLF file, from
  * the text file to its three answers: one large scan where regex parsing
  * and grouped aggregation do almost all the work and planning does almost
  * none. Each pass is followed by a query round: the engine's own
  * transplant of the same analytics onto the `events` table
  * (`SparkEntry.queries` q1–q3, `graft.operators.EventAnalytics` over
  * `graft.sources.Tables.events`) over a seeded table of sf0.1's size,
  * where building, planning and scheduling a query weigh as much as its
  * scan. The next pass starts when the previous round returned. */
object ClfBatch {
  val Lines = 100000
  val SetupRounds = 3
  /** Nominal seconds of one measured round (a CLF pass and a query round)
    * on 4 cores. A run measures `--seconds / RoundS` rounds: a count fixed
    * by the arguments, not by the clock, so a slow host does not also move
    * the median to an earlier, less warm pass. */
  val RoundS = 3
  /** Unmeasured rounds between set-up and measurement: in a 45 s run the
    * pass time still fell by a fifth over the first six passes after
    * set-up, as JIT compilation of the parse and aggregation settled. */
  val WarmRounds = 2
  val Queries = Seq("q1_busiest_user", "q2_unique_users", "q3_avg_value")
  private lazy val queryFns = Queries.map(q => q -> SparkEntry.queries(q))

  private final case class Answers(q1: Array[Row], q2: Array[Row], q3: Array[Row])

  /** The job's three analytics over the parsed lines. */
  private def analytics(valid: DataFrame): Seq[DataFrame] =
    Seq(LogAnalysisJob.busiestHost(valid, "date"), LogAnalysisJob.uniqueHosts(valid, "date"),
      LogAnalysisJob.avgReplyBytes(valid, "date"))

  /** One pass of the job: builds the three DataFrames over a freshly cached
    * parse and collects them in order. Returns the still-cached parse and
    * the answers. */
  private def pass(b: Bench, path: String, op: String): (DataFrame, Answers) =
    b.tracer.span("pass", op) {
      val (valid, qs) = b.tracer.span("clf.build", op) {
        val valid = LogAnalysisJob.readClf(b.spark, path).cache()
        (valid, analytics(valid))
      }
      val rows = qs.zipWithIndex.map { case (q, i) => b.tracer.span(s"clf.q${i + 1}", op)(q.collect()) }
      (valid, Answers(rows(0), rows(1), rows(2)))
    }

  /** One query round: each events query built through its public function
    * and collected. Returns the mismatches against the generator's answers
    * and each query's latency in ms, from the call to the collected rows. */
  private def queryRound(b: Bench, dir: String, want: Map[String, Seq[String]], op: String): (Seq[String], Seq[Double]) = {
    val out = queryFns.map { case (q, fn) =>
      val t0 = System.nanoTime()
      val rows = b.tracer.span(s"query.$q", op) {
        b.tracer.span("operators.build", op)(fn(b.spark, dir)).collect()
      }
      val ms = (System.nanoTime() - t0) / 1e6
      val got = rows.map(_.toSeq.mkString("\t")).toSeq
      (if (got == want(q)) None else Some(s"$q: engine ${got.mkString(" | ")}, model ${want(q).mkString(" | ")}"), ms)
    }
    (out.flatMap(_._1), out.map(_._2))
  }

  private def mismatches(a: Answers, m: ClfModel): Seq[String] = {
    def sec(r: Row) = r.getTimestamp(0).getTime / 1000
    val got = m.windows.indices.map { i =>
      if (i >= a.q1.length || i >= a.q2.length || i >= a.q3.length) None
      else Some(ClfWindow(sec(a.q1(i)), a.q1(i).getString(1), a.q1(i).getLong(2), a.q2(i).getLong(1), a.q3(i).getLong(1)))
    }
    val sizes = Seq(a.q1.length, a.q2.length, a.q3.length).filter(_ != m.windows.length)
      .map(n => s"engine returned $n windows, model has ${m.windows.length}")
    sizes ++ m.windows.zip(got).collect { case (want, g) if !g.contains(want) => s"window ${want.start}: engine $g, model $want" }
  }

  def run(b: Bench): Outcome = {
    val input = new File(b.cfg.dir("clf"), "access.log").getPath
    val model = ClfCorpus.write(new File(input), b.cfg.seed, Lines)
    // events.parquet and the model's answers to its queries, from gen_events.py
    val eventsDir = new File(b.cfg.work, "events").getPath
    val want = {
      val src = Source.fromFile(new File(eventsDir, "answers.tsv"))
      try src.getLines().map(_.split("\t", 2)).toSeq.groupMap(_(0))(_(1))
      finally src.close()
    }

    // a CLF pass and a query round, checked, with no time taken
    def checkedRound(op: String): Unit = {
      val (valid, answers) = pass(b, input, op)
      valid.unpersist(blocking = true)
      val bad = mismatches(answers, model) ++ queryRound(b, eventsDir, want, op)._1
      require(bad.isEmpty, s"$op answers wrong: ${bad.mkString("; ")}")
    }

    // set-up: a fresh session, its first checked pass over the input and its
    // first checked query round, so class loading, JIT compilation, codegen
    // and first-job costs land here and not in the timed passes
    val sessionS = mutable.ArrayBuffer.empty[Double]
    val setupS = (1 to SetupRounds).map { r =>
      val t0 = System.nanoTime()
      sessionS += b.tracer.span("session", s"setup-$r")(b.sessions.restart())
      checkedRound(s"setup-$r")
      (System.nanoTime() - t0) / 1e9
    }
    (1 to WarmRounds).foreach(r => checkedRound(s"warm-$r"))

    val probe = new LayerProbe(b.spark, b.tracer)
    val plainWall = mutable.ArrayBuffer.empty[Double]
    val tracedWall = mutable.ArrayBuffer.empty[Double]
    val latencyMs = mutable.ArrayBuffer.empty[Double]
    val clfLayers = mutable.ArrayBuffer.empty[Map[String, Double]]
    val queryLayers = mutable.ArrayBuffer.empty[Map[String, Double]]
    var rounds = 0
    var attempted = 0
    var failed = 0
    val measured = math.max(if (b.cfg.trace) 4 else 3, b.cfg.seconds / RoundS)
    while (rounds < measured) {
      rounds += 1
      // a traced run alternates bare and traced rounds in ABBA order, so the
      // two medians give the tracing overhead on the same warm session
      val traced = b.cfg.trace && rounds % 4 >= 2
      val op = s"pass-$rounds"
      attempted += 1
      try {
        if (traced) { probe.attach(); probe.begin(op) }
        val from = b.tracer.nowMs
        val t0 = System.nanoTime()
        val (valid, answers) = pass(b, input, op)
        val wallS = (System.nanoTime() - t0) / 1e9
        val to = b.tracer.nowMs
        b.heap.checkpoint() // with the parse still cached
        (if (traced) tracedWall else plainWall) += wallS
        if (traced) {
          probe.settle(actions = 3)
          val passLayers = probe.end(wallS, from, to, b.cfg.cores)
          probe.phaseSpans()
          val buildMs = b.tracer.spans.filter(s => s.op == op && s.name == "clf.build").map(_.durMs).sum
          // the three analytics again, alone, over the warm cache
          val aggS = timed(b.tracer.span("clf.agg", op)(analytics(valid).foreach(_.collect())))
          probe.expect(3)
          valid.unpersist(blocking = true)
          // the parse alone, uncached, to a noop sink
          probe.begin(op + "-parse")
          val parseS = timed(b.tracer.span("clf.parse", op) {
            LogParser.validLines(b.spark.read.text(input)).write.format("noop").mode("overwrite").save()
          })
          probe.settle(actions = 1)
          val parse = probe.end(parseS, 0, 0, b.cfg.cores)
          val validRows = probe.executions.flatMap(qe => Plans.nodes(qe.executedPlan))
            .collect { case f: FilterExec => f.metrics("numOutputRows").value }.sum
          probe.detach()
          // the text read is graft.clf's, and planning counts come from the
          // query round, where they are a visible share of the work
          clfLayers += passLayers.filter { case (k, _) => !k.startsWith("sources.") && !k.startsWith("plans.") } ++ Map(
            "clf.build_ms" -> buildMs, "clf.agg_s" -> aggS, "clf.parse_s" -> parseS,
            "clf.lines_in" -> parse("sources.records_read"),
            "clf.valid_ratio" -> validRows / parse("sources.records_read"))
        }
        valid.unpersist(blocking = true)
        val bad = mismatches(answers, model)
        if (bad.nonEmpty) { failed += 1; System.err.println(s"[perfbench] $op wrong: ${bad.mkString("; ")}") }
      } catch {
        case e: Exception => failed += 1; System.err.println(s"[perfbench] $op threw: $e")
      }

      val qop = s"query-$rounds"
      attempted += 1
      try {
        var loadMs = 0.0
        if (traced) {
          probe.attach()
          loadMs = timed(b.tracer.span("sources.load", qop)(Tables.events(b.spark, eventsDir))) * 1e3
          probe.begin(qop)
        }
        val from = b.tracer.nowMs
        val t0 = System.nanoTime()
        val (bad, latency) =
          try queryRound(b, eventsDir, want, qop)
          finally if (traced) probe.settle(actions = Queries.length)
        val wallS = (System.nanoTime() - t0) / 1e9
        if (traced) {
          val round = try probe.end(wallS, from, b.tracer.nowMs, b.cfg.cores) finally probe.detach()
          probe.phaseSpans()
          val buildMs = b.tracer.spans.filter(s => s.op == qop && s.name == "operators.build").map(_.durMs).sum
          queryLayers += round.filter { case (k, _) => k.startsWith("sources.") || k.startsWith("plans.") } ++
            Map("operators.build_ms" -> buildMs, "sources.load_ms" -> loadMs)
        } else latencyMs ++= latency
        if (bad.nonEmpty) { failed += 1; System.err.println(s"[perfbench] $qop wrong: ${bad.mkString("; ")}") }
      } catch {
        case e: Exception => failed += 1; System.err.println(s"[perfbench] $qop threw: $e")
      }
    }

    val validRatioOk = clfLayers.forall(l => math.abs(l("clf.valid_ratio") - model.validRatio) < 1e-12)
    if (!validRatioOk) {
      failed += clfLayers.length
      System.err.println(s"[perfbench] valid ratio ${clfLayers.map(_("clf.valid_ratio"))} != generator's ${model.validRatio}")
    }

    System.err.println(s"[perfbench] pass walls (s): bare ${plainWall.map(w => f"$w%.3f").mkString(" ")}" +
      s"; traced ${tracedWall.map(w => f"$w%.3f").mkString(" ")}")
    System.err.println(s"[perfbench] query latencies (ms): ${latencyMs.map(l => f"$l%.0f").mkString(" ")}")
    val runS = Stats.median(plainWall.toSeq)
    val e2e = Map(
      "setup_s" -> Stats.median(setupS),
      "run_s" -> runS,
      "rows_per_s" -> Lines / runS,
      "latency_p50_ms" -> Stats.quantile(latencyMs.toSeq, 0.5),
      "latency_p90_ms" -> Stats.quantile(latencyMs.toSeq, 0.9),
      "heap_peak_mb" -> b.heap.peakMb)
    val perLayer =
      if (!b.cfg.trace) Map.empty[String, Double]
      else Stats.medians(clfLayers.toSeq) ++ Stats.medians(queryLayers.toSeq) ++ Map(
        "session.start_s" -> Stats.median(sessionS.toSeq),
        "session.cold_setup_s" -> b.coldSetupS(setupS.head),
        "trace.overhead_ratio" -> Stats.median(tracedWall.toSeq) / Stats.median(plainWall.toSeq))
    b.finish(attempted, failed, e2e, perLayer)
  }

  private def timed(body: => Unit): Double = { val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9 }
}
