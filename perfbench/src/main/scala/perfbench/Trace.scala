package perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, debug}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.util.QueryExecutionListener

import graft.plans.InsertBnljStreamBarrier

/** A timed call from the benchmark into one layer. Times are milliseconds
  * since the tracer's origin; `op` names the pass, round or phase it
  * belongs to; `parent` is 0 for a root span. */
final case class Span(id: Int, name: String, parent: Int, op: String, startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** In-memory span recorder. Bench code is single-threaded around its calls
  * into the engine, so its spans nest on a plain stack. Spans observed
  * through listeners (jobs, planning phases) arrive from other threads with
  * wall-clock stamps; at the end each is hung under the innermost bench
  * span of the same op that covers it. Nothing is written before the end. */
final class Tracer {
  private val originNs = System.nanoTime()
  private val originEpochMs = System.currentTimeMillis()
  private val bench = mutable.ArrayBuffer.empty[Span]
  private val observed = new ConcurrentLinkedQueue[Span]()
  private var stack = List.empty[Int]

  def nowMs: Double = (System.nanoTime() - originNs) / 1e6
  /** A wall-clock stamp (listener, tracker, stream progress) on the span clock. */
  def fromEpochMs(epochMs: Long): Double = (epochMs - originEpochMs).toDouble

  def span[T](name: String, op: String)(body: => T): T = {
    val id = bench.length + 1
    val parent = stack.headOption.getOrElse(0)
    val start = nowMs
    bench += Span(id, name, parent, op, start, start)
    stack = id :: stack
    try body
    finally {
      stack = stack.tail
      bench(id - 1) = Span(id, name, parent, op, start, nowMs)
    }
  }

  /** Records a span measured elsewhere, from listener or progress stamps. */
  def observe(name: String, op: String, startMs: Double, endMs: Double): Unit =
    observed.add(Span(0, name, 0, op, startMs, endMs))

  def spans: Seq[Span] = {
    val base = bench.toSeq
    val tolMs = 2.0 // listener stamps have millisecond resolution
    base ++ observed.asScala.toSeq.zipWithIndex.map { case (s, i) =>
      val covering = base.filter(p => p.op == s.op && p.startMs <= s.startMs + tolMs && p.endMs >= s.endMs - tolMs)
      s.copy(id = base.length + i + 1, parent = if (covering.isEmpty) 0 else covering.minBy(_.durMs).id)
    }
  }

  /** Self time per span name: each span's duration minus the union of its
    * children's intervals, summed over spans of that name. */
  def selfTimeMs(all: Seq[Span]): Map[String, Double] = {
    val kids = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        s.durMs - Stats.unionLength(kids.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs)), s.startMs, s.endMs)
      }.sum
    }
  }

  /** Writes spans, self times and counters as one JSON file; returns the self times. */
  def write(file: File, counters: Map[String, Double]): Map[String, Double] = {
    val all = spans
    val self = selfTimeMs(all)
    file.getParentFile.mkdirs()
    val w = new PrintWriter(file)
    try {
      def obj(m: Map[String, Double]) = m.toSeq.sorted.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")
      w.println("{\"spans\": [")
      w.println(all.map(s =>
        s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},"op":${Json.str(s.op)},""" +
          s""""start_ms":${Json.num(s.startMs)},"end_ms":${Json.num(s.endMs)}}""").mkString(",\n"))
      w.println("],")
      w.println("\"self_ms\": " + obj(self) + ",")
      w.println("\"counters\": " + obj(counters))
      w.println("}")
    } finally w.close()
    self
  }
}

/** Per-layer counters of one operation window (a pass or a stream phase),
  * read only through Spark's public seams: a SparkListener for tasks,
  * stages and jobs; a QueryExecutionListener for the planning tracker and
  * executed plans; CodegenMetrics and CodeGenerator for compilation. */
final class LayerProbe(spark: SparkSession, tracer: Tracer) {
  private val lock = new Object
  private var op = ""
  private val stageTaskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private var jobsStarted = 0
  private var jobsEnded = 0
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobIntervals = mutable.ArrayBuffer.empty[(Double, Double)]
  private val qes = new ConcurrentLinkedQueue[QueryExecution]()
  private var codegenCount0 = 0L
  private var codegenNs0 = 0L

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      jobsStarted += 1; jobStart(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobsEnded += 1
      jobStart.remove(e.jobId).foreach { s =>
        val iv = (tracer.fromEpochMs(s), tracer.fromEpochMs(e.time))
        jobIntervals += iv
        tracer.observe("exec", op, iv._1, iv._2)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      sums("exec.stages") += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        sums("exec.tasks") += 1
        sums("exec.task_run_s") += m.executorRunTime / 1e3
        sums("exec.task_cpu_s") += m.executorCpuTime / 1e9
        sums("exec.gc_s") += m.jvmGCTime / 1e3
        sums("exec.shuffle_write_mb") += m.shuffleWriteMetrics.bytesWritten / 1048576.0
        sums("exec.shuffle_read_mb") += m.shuffleReadMetrics.totalBytesRead / 1048576.0
        sums("exec.spill_mb") += (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0
        sums("sources.bytes_read") += m.inputMetrics.bytesRead.toDouble
        sums("sources.records_read") += m.inputMetrics.recordsRead.toDouble
        stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) += m.executorRunTime
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      qes.add(qe); reported.incrementAndGet()
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = {
      qes.add(qe); reported.incrementAndGet()
    }
  }

  // query executions the bench has run while attached, and those reported
  private var expected = 0
  private val reported = new java.util.concurrent.atomic.AtomicInteger

  def attach(): Unit = {
    expected = 0; reported.set(0)
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }
  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Notes `actions` query executions run while attached, outside any window. */
  def expect(actions: Int): Unit = expected += actions

  /** Listener events arrive asynchronously, job events before the query
    * execution that ran them. Waits (bounded) until every expected query
    * execution was reported and every job that started has ended. */
  private def awaitDelivered(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    def done = reported.get >= expected && lock.synchronized(jobsEnded >= jobsStarted)
    while (!done && System.nanoTime() < deadline) Thread.sleep(2)
  }

  /** Starts a window once earlier events are in: clears the counters and
    * notes the codegen totals. */
  def begin(opName: String): Unit = {
    awaitDelivered()
    lock.synchronized {
      op = opName
      stageTaskMs.clear(); sums.clear(); jobStart.clear(); jobIntervals.clear()
      jobsStarted = 0; jobsEnded = 0; qes.clear()
    }
    codegenCount0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    codegenNs0 = CodeGenerator.compileTime
  }

  /** Waits for the events of the window's `actions` query executions. */
  def settle(actions: Int): Unit = { expected += actions; awaitDelivered() }

  /** Counters of the window that started at [[begin]]. `wallS` is the
    * window's wall time and `from`/`to` its bounds on the span clock. */
  def end(wallS: Double, from: Double, to: Double, cores: Int,
          streams: Seq[StreamingQuery] = Nil): Map[String, Double] = {
    val execs = qes.asScala.toSeq
    val phases = execs.flatMap(_.tracker.phases.toSeq)
    def phaseMs(p: String) = phases.collect { case (`p`, s) => (s.endTimeMs - s.startTimeMs).toDouble }.sum
    val rules = execs.flatMap(_.tracker.rules.toSeq)
    val invocations = rules.map(_._2.numInvocations).sum.toDouble
    val effective = rules.map(_._2.numEffectiveInvocations).sum.toDouble
    // the tracker records only analyzer and optimizer rules, so it has
    // RewriteTokenCount; InsertBnljStreamBarrier is a physical (query stage
    // preparation) rule, timed here by applying it once more to each
    // query's physical plan
    val tokenRuleMs = rules.collect { case (n, r) if n.contains("RewriteTokenCount") => r.totalTimeNs / 1e6 }.sum
    val barrierRuleMs = execs.map { qe =>
      val t0 = System.nanoTime()
      InsertBnljStreamBarrier(qe.sparkPlan)
      (System.nanoTime() - t0) / 1e6
    }.sum
    val stats = execs.flatMap(qe => debug.codegenStringSeq(qe.executedPlan).map(_._3)) ++
      streams.flatMap(q => debug.codegenStringSeq(q).map(_._3))
    val methodBytes = stats.map(_.maxMethodCodeSize)
    lock.synchronized {
      val covered = Stats.unionLength(jobIntervals.toSeq, from, to)
      val skews = stageTaskMs.values.filter(_.length >= 2).map { ts =>
        val med = Stats.median(ts.map(_.toDouble).toSeq)
        if (med > 0) ts.max / med else 1.0
      }
      sums.toMap ++ Map(
        "exec.cpu_util" -> sums("exec.task_cpu_s") / (wallS * cores),
        "exec.task_skew" -> (if (skews.isEmpty) 1.0 else skews.max),
        "exec.driver_gap_s" -> math.max(0.0, wallS - covered / 1e3),
        "plans.analysis_ms" -> phaseMs(org.apache.spark.sql.catalyst.QueryPlanningTracker.ANALYSIS),
        "plans.optimization_ms" -> phaseMs(org.apache.spark.sql.catalyst.QueryPlanningTracker.OPTIMIZATION),
        "plans.planning_ms" -> phaseMs(org.apache.spark.sql.catalyst.QueryPlanningTracker.PLANNING),
        "plans.rule_effective_ratio" -> (if (invocations > 0) effective / invocations else 0.0),
        "plans.graft_rule_ms" -> (tokenRuleMs + barrierRuleMs),
        "functions.codegen_compiles" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - codegenCount0).toDouble,
        "functions.codegen_compile_ms" -> (CodeGenerator.compileTime - codegenNs0) / 1e6,
        "functions.max_method_bytes" -> (if (methodBytes.isEmpty) 0.0 else methodBytes.max.toDouble),
        "functions.huge_stages" -> methodBytes.count(_ > 8000).toDouble)
    }
  }

  /** The query executions reported in the current window. */
  def executions: Seq[QueryExecution] = qes.asScala.toSeq

  /** Tracker phases of the window's query executions, as spans. */
  def phaseSpans(): Unit = qes.asScala.foreach { qe =>
    qe.tracker.phases.foreach { case (p, s) =>
      tracer.observe(s"plans.$p", op, tracer.fromEpochMs(s.startTimeMs), tracer.fromEpochMs(s.endTimeMs))
    }
  }
}

object Plans {
  /** Every node of an executed plan, through adaptive plans and query stages. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case _ => p.children.flatMap(nodes)
  })
}
