package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.time.Instant
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.io.Source
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

import graft.streaming.StreamingAnalytics

/** Workload `stream_replay`: the reference job's streaming subject.
  * `StreamingAnalytics.windowedUserCounts` and `avgValuePerWindow` run as
  * two update-mode queries over `readStream.parquet` of one directory.
  * Per-batch fixed cost and the state store dominate while compute per row
  * is small; the aggregation layer is the one `clf_batch` uses in one shot,
  * so a change that helps one-shot aggregation but hurts incremental
  * aggregation shows here.
  *
  * Inputs are seeded event files (gen_events.py) listed in a manifest:
  *  - `warm`: two December files, replayed once per set-up round and
  *    committed by the open-loop queries before the generator starts;
  *  - `open`: files a generator thread releases into the watched directory
  *    on a fixed schedule (open loop), stamping each with its release time;
  *  - `backlog`: a fixed staged backlog, drained closed loop at
  *    [[FilesPerTrigger]] files per trigger.
  * Events rise in time from file to file, with disorder only inside a file,
  * so no row can arrive behind the watermark. */
object StreamReplay {
  val SetupRounds = 3
  val FilesPerTrigger = 4

  val Schema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType), StructField("user_id", LongType),
    StructField("event_type", StringType), StructField("value", DoubleType)))

  private final case class InputFile(phase: String, name: String, rows: Long, dueMs: Long)

  /** The two queries' results, as upserted by their foreachBatch sinks. */
  private final class Sinks {
    val counts = new ConcurrentHashMap[(Long, Long), Long]()
    val avgs = new ConcurrentHashMap[Long, (Long, Long)]()
  }

  private def countsKv(r: Row): ((Long, Long), Long) = ((r.getTimestamp(0).getTime, r.getLong(1)), r.getLong(2))
  private def avgsKv(r: Row): (Long, (Long, Long)) = (r.getTimestamp(0).getTime, (r.getLong(1), r.getLong(2)))

  private def start(b: Bench, dir: File, ckpt: File, sinks: Sinks, trigger: Trigger,
                    maxFiles: Option[Int]): Seq[StreamingQuery] = {
    val reader = b.spark.readStream.schema(Schema)
    val events = maxFiles.fold(reader)(n => reader.option("maxFilesPerTrigger", n.toString)).parquet(dir.getPath)
    def upsert[K, V](m: ConcurrentHashMap[K, V], kv: Row => (K, V)): (DataFrame, Long) => Unit =
      (df, _) => df.collect().foreach { r => val (k, v) = kv(r); m.put(k, v) }
    Seq(
      ("counts", StreamingAnalytics.windowedUserCounts(events), upsert(sinks.counts, countsKv)),
      ("avgs", StreamingAnalytics.avgValuePerWindow(events), upsert(sinks.avgs, avgsKv))
    ).map { case (name, df, sink) =>
      df.writeStream.queryName(name).outputMode("update").trigger(trigger).foreachBatch(sink)
        .option("checkpointLocation", new File(ckpt, name).getPath).start()
    }
  }

  /** The two functions run as a batch over a directory: the reference the
    * streamed results must equal. */
  private final case class Expected(counts: Map[(Long, Long), Long], avgs: Map[Long, (Long, Long)])

  private def expected(b: Bench, dir: File): Expected = {
    val events = b.spark.read.schema(Schema).parquet(dir.getPath)
    Expected(StreamingAnalytics.windowedUserCounts(events).collect().map(countsKv).toMap,
      StreamingAnalytics.avgValuePerWindow(events).collect().map(avgsKv).toMap)
  }

  /** Failed batches of a phase: all of a query's batches when its final
    * result differs from the batch computation over the same files. */
  private def check(want: Expected, sinks: Sinks, batches: Map[String, Int], phase: String): Int = {
    val bad = Seq("counts" -> (sinks.counts.asScala.toMap == want.counts), "avgs" -> (sinks.avgs.asScala.toMap == want.avgs))
      .collect { case (q, false) => q }
    bad.foreach(q => System.err.println(s"[perfbench] $phase $q: streamed result differs from the batch result"))
    bad.map(q => batches.getOrElse(q, 1)).sum
  }

  private def dataBatches(q: StreamingQuery): Seq[StreamingQueryProgress] =
    q.recentProgress.toSeq.filter(_.numInputRows > 0)

  private def moveIn(src: File, dstDir: File): Long = {
    val dst = new File(dstDir, src.getName)
    Files.move(src.toPath, dst.toPath, StandardCopyOption.ATOMIC_MOVE)
    val now = System.currentTimeMillis()
    dst.setLastModified(now) // the file source orders new files by modification time
    now
  }

  def run(b: Bench): Outcome = {
    val root = b.cfg.dir("stream")
    val manifest = {
      val src = Source.fromFile(new File(root, "manifest.tsv"))
      try src.getLines().map(_.split('\t')).map(f => InputFile(f(0), f(1), f(2).toLong, f(3).toLong)).toVector
      finally src.close()
    }
    def files(phase: String) = manifest.filter(_.phase == phase)

    // set-up: a fresh session and both queries over the warm files
    val sessionS = mutable.ArrayBuffer.empty[Double]
    val setupS = (1 to SetupRounds).map { r =>
      val t0 = System.nanoTime()
      sessionS += b.tracer.span("session", s"setup-$r")(b.sessions.restart())
      b.spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
      val qs = start(b, new File(root, "warm"), b.cfg.dir(s"ckpt/warm-$r"), new Sinks, Trigger.AvailableNow(), None)
      qs.foreach(_.awaitTermination())
      qs.foreach(q => q.exception.foreach(e => throw e))
      (System.nanoTime() - t0) / 1e9
    }

    val probe = new LayerProbe(b.spark, b.tracer)
    var attempted = 0
    var failed = 0

    // open loop: the queries start on the warm files (December, so they
    // close no January window); once both committed them, the generator
    // releases the January files on schedule, whatever the queries do
    val live = b.cfg.dir("stream/live")
    val staged = new File(root, "open")
    files("warm").foreach(f => Files.copy(new File(root, s"warm/${f.name}").toPath, new File(live, f.name).toPath))
    val openFiles = files("open")
    val released = new Array[Long](openFiles.length)
    val sinks = new Sinks
    val queries = start(b, live, b.cfg.dir("ckpt/open"), sinks, Trigger.ProcessingTime(0L), None)
    queries.foreach(_.processAllAvailable())
    if (b.cfg.trace) { probe.attach(); probe.begin("open") }
    val fromMs = b.tracer.nowMs
    val t0 = System.currentTimeMillis()
    val generator = new Thread(() => openFiles.zipWithIndex.foreach { case (f, i) =>
      val wait = t0 + f.dueMs - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      released(i) = moveIn(new File(staged, f.name), live)
    }, "generator")
    generator.start()
    generator.join()
    queries.foreach(_.processAllAvailable())
    val openWallS = (System.currentTimeMillis() - t0) / 1e3
    val toMs = b.tracer.nowMs
    val openLayers =
      if (!b.cfg.trace) Map.empty[String, Double]
      else {
        probe.settle(0)
        // the file source's reads are Spark's, not graft.sources'
        try probe.end(openWallS, fromMs, toMs, b.cfg.cores, queries).filter { case (k, _) => !k.startsWith("sources.") }
        finally probe.detach()
      }
    b.heap.checkpoint() // with the open-loop state stores loaded
    queries.foreach(_.stop())
    val progress = queries.map(q => q.name -> dataBatches(q).filter(p => Instant.parse(p.timestamp).toEpochMilli >= t0)).toMap
    val openBatches = progress.map { case (q, ps) => q -> ps.length }
    attempted += openBatches.values.sum
    failed += check(expected(b, live), sinks, openBatches, "open loop")

    // a file's result is emitted when a query commits the batch that
    // consumed it; files are consumed in release order. One latency sample
    // per (file, query).
    val cumRows = openFiles.scanLeft(0L)(_ + _.rows).tail
    val latencyMs = progress.values.toSeq.flatMap { ps =>
      val ends = ps.map(p => Instant.parse(p.timestamp).toEpochMilli + p.durationMs.get("triggerExecution").longValue)
      val rowsDone = ps.map(_.numInputRows).scanLeft(0L)(_ + _).tail
      cumRows.zip(openFiles).map { case (need, f) =>
        val i = rowsDone.indexWhere(_ >= need)
        require(i >= 0, s"${f.name} was never committed")
        (ends(i) - (t0 + f.dueMs)).toDouble
      }
    }
    val lagMs = openFiles.indices.map(i => (released(i) - (t0 + openFiles(i).dueMs)).toDouble)

    // closed loop: drain the staged backlog, fresh checkpoints each round
    val backlog = new File(root, "backlog")
    val backlogRows = files("backlog").map(_.rows).sum
    val backlogWant = expected(b, backlog)
    val rounds = if (b.cfg.trace) 4 else 5
    val plainWall = mutable.ArrayBuffer.empty[Double]
    val tracedWall = mutable.ArrayBuffer.empty[Double]
    (1 to rounds).foreach { r =>
      val traced = b.cfg.trace && r % 4 >= 2 // ABBA: bare, traced, traced, bare
      if (traced) probe.attach()
      val drainSinks = new Sinks
      val t = System.nanoTime()
      val qs = b.tracer.span("streaming.drain", s"drain-$r") {
        val qs = start(b, backlog, b.cfg.dir(s"ckpt/drain-$r"), drainSinks, Trigger.AvailableNow(), Some(FilesPerTrigger))
        qs.foreach(_.awaitTermination())
        qs
      }
      (if (traced) tracedWall else plainWall) += (System.nanoTime() - t) / 1e9
      if (traced) probe.detach()
      val batches = qs.map(q => q.name -> dataBatches(q).length).toMap
      attempted += batches.values.sum
      failed += (if (qs.exists(_.exception.isDefined)) batches.values.sum
                 else check(backlogWant, drainSinks, batches, s"drain $r"))
      b.heap.checkpoint()
    }

    System.err.println(s"[perfbench] drain walls (s): bare ${plainWall.map(w => f"$w%.3f").mkString(" ")}" +
      s"; traced ${tracedWall.map(w => f"$w%.3f").mkString(" ")}")
    System.err.println(s"[perfbench] open-loop latencies (ms): ${latencyMs.map(_.toLong).mkString(" ")}")
    val runS = Stats.median(plainWall.toSeq)
    val e2e = Map(
      "setup_s" -> Stats.median(setupS),
      "run_s" -> runS,
      "rows_per_s" -> backlogRows / runS,
      "latency_p50_ms" -> Stats.quantile(latencyMs, 0.5),
      "latency_p90_ms" -> Stats.quantile(latencyMs, 0.9),
      "heap_peak_mb" -> b.heap.peakMb)

    val perLayer = if (!b.cfg.trace) Map.empty[String, Double] else {
      val all = progress.values.flatten.toSeq
      def dur(p: StreamingQueryProgress, k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      def p50(k: String) = Stats.median(all.map(dur(_, k)))
      all.foreach { p =>
        val s = b.tracer.fromEpochMs(Instant.parse(p.timestamp).toEpochMilli)
        b.tracer.observe("streaming.trigger", "open", s, s + dur(p, "triggerExecution"))
        b.tracer.observe("streaming.add_batch", "open", s, s + dur(p, "addBatch"))
      }
      val lastState = progress.values.flatMap(_.lastOption).flatMap(_.stateOperators)
      openLayers ++ Map(
        "session.start_s" -> Stats.median(sessionS.toSeq),
        "session.cold_setup_s" -> b.coldSetupS(setupS.head),
        "streaming.trigger_ms" -> p50("triggerExecution"),
        "streaming.trigger_p90_ms" -> Stats.quantile(all.map(dur(_, "triggerExecution")), 0.9),
        "streaming.add_batch_ms" -> p50("addBatch"),
        "streaming.planning_ms" -> p50("queryPlanning"),
        "streaming.wal_commit_ms" -> p50("walCommit"),
        "streaming.commit_offsets_ms" -> p50("commitOffsets"),
        "streaming.latest_offset_ms" -> p50("latestOffset"),
        "streaming.get_batch_ms" -> p50("getBatch"),
        "streaming.fixed_ms" -> Stats.median(all.map(p => dur(p, "triggerExecution") - dur(p, "addBatch"))),
        "streaming.batches" -> all.length.toDouble,
        "streaming.rows_per_batch" -> Stats.median(all.map(_.numInputRows.toDouble)),
        "streaming.state_rows" -> lastState.map(_.numRowsTotal).sum.toDouble,
        "streaming.state_mb" -> lastState.map(_.memoryUsedBytes).sum / 1048576.0,
        "streaming.late_dropped" -> all.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum.toDouble,
        "streaming.generator_lag_ms" -> lagMs.max,
        "trace.overhead_ratio" -> Stats.median(tracedWall.toSeq) / Stats.median(plainWall.toSeq))
    }
    b.finish(attempted, failed, e2e, perLayer)
  }
}
