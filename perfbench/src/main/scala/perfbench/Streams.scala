package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.UUID

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.streaming._
import graft.streaming.source.Dsv2ReplaySource

/** The stream workload and its layer cuts.
  *
  * depth_drain (closed loop): one depth symbol's backlog through
  * Dsv2ReplaySource (1000 msgs/batch) → Pipelines.depthRecords →
  * BookSynchronizer.apply → Pipelines.depthRows → CsvAppendSink.forDepth,
  * triggers back to back until the backlog is drained.
  *
  * Its traced run also replays one trade tape through
  * Runner.startWithSinks (parquet sink, batch_size 1000, the Runner's own
  * 1 s trigger), for the layers only the service's Runner path has: how
  * late each trigger starts against its scheduled tick, and the parquet
  * sink's addBatch.
  */
object Streams {
  val BatchSize = 1000
  val Market = "spot"

  final case class Run(
      runId: UUID, batches: Seq[StreamingQueryProgress], idle: Int, shape: PlanShape)

  /** Depth pipeline cut after `cut`: source, parse, sync, explode (into
    * the noop sink) or csv (the full pipeline into CsvAppendSink). */
  def depthQuery(spark: SparkSession, tape: String, snap: BookSnapshot,
      cut: String, work: Path, writeMs: mutable.Map[Long, (Double, Double)],
      symbol: String, arrival: Long): StreamingQuery = {
    val id = EventId("binance", Market, symbol, "depth")
    val raw = new Dsv2ReplaySource(tape, BatchSize, Some(arrival)).stream(spark, id)
    lazy val records = Pipelines.depthRecords(raw)
    lazy val synced = BookSynchronizer.apply(records, Market, symbol, snap)
    val frame = cut match {
      case "source" => raw
      case "parse" => records
      case "sync" => synced
      case _ => Pipelines.depthRows(synced)
    }
    val w = frame.writeStream
      .option("checkpointLocation", work.resolve(s"ckpt-$cut").toString)
      .trigger(Trigger.ProcessingTime(0L))
    if (cut == "csv") {
      val sink = CsvAppendSink.forDepth(work.toString, symbol, Market)
      w.foreachBatch { (df: DataFrame, bid: Long) =>
        val t0 = Stats.wallMs().toDouble
        val n0 = Stats.nowMs()
        sink.writeBatch(df, bid)
        writeMs.synchronized { writeMs(bid) = (t0, t0 + Stats.nowMs() - n0) }
        ()
      }.start()
    } else w.format("noop").start()
  }

  /** Waits until every query has committed `lines` input rows, then
    * stops them all. Fails on a query error or after `timeoutS`. */
  def drain(qs: Seq[StreamingQuery], log: ProgressLog, lines: Long,
      timeoutS: Double): Unit = {
    val deadline = Stats.nowMs() + timeoutS * 1000
    try {
      while (qs.exists(q => log.inputRows(q.runId) < lines)) {
        qs.foreach(q => q.exception.foreach(e => throw e))
        if (Stats.nowMs() > deadline)
          throw new IllegalStateException(
            s"stream did not drain $lines lines in ${timeoutS}s")
        Thread.sleep(5)
      }
    } finally qs.foreach(q => if (q.isActive) q.stop())
  }

  def runOf(q: StreamingQuery, log: ProgressLog): Run =
    Run(q.runId, log.batches(q.runId), log.idle(q.runId), Progress.lastShape(q))

  /** Per-message time of a run's batches after the cold batch 0:
    * summed trigger time over the messages they took in. */
  def usPerMsg(bs: Seq[StreamingQueryProgress]): Double = {
    val warm = bs.filter(_.batchId > 0)
    warm.map(Progress.dur(_, "triggerExecution")).sum * 1000.0 /
      math.max(1L, warm.map(_.numInputRows).sum)
  }

  /** A drain whose first `warm` batches are warm-up (the JIT is still
    * speeding a batch up over about the first twenty batches of a fresh
    * JVM): tracing is switched on halfway through the measured batches,
    * attached while batch traceFrom-2 commits and recorded from batch
    * traceFrom on. The progress hook reads process CPU when the query
    * commits its last warm-up batch, which starts the measured window. */
  final class Drain(spark: SparkSession, log: ProgressLog, val warm: Long, lines: Long,
      trace: Boolean) {
    val traceFrom: Long = warm + ((lines + BatchSize - 1) / BatchSize - warm) / 2
    val ex: Option[ExecListener] = if (trace) Some(new ExecListener) else None
    @volatile var cpuAtWarm = 0L
    @volatile private var attached = false
    log.onProgress = p => {
      if (p.batchId == warm - 1) cpuAtWarm = Stats.processCpuNs()
      ex.foreach { l =>
        if (!attached && p.batchId >= traceFrom - 2) {
          attached = true; spark.sparkContext.addSparkListener(l)
        }
      }
    }

    /** The measured batches of `runs`, and their window: the first
      * measured trigger to the last commit. */
    def measured(runs: Seq[Run]): (Seq[StreamingQueryProgress], Double, Double) = {
      val m = runs.flatMap(_.batches.filter(_.batchId >= warm))
      (m, m.map(Progress.startMs).min, m.map(Progress.endMs).max)
    }
  }

  /** Lays a run's micro-batches out as spans: batch → latestOffset,
    * walCommit, queryPlanning, addBatch (→ sink.writeBatch), commitOffsets,
    * in the order MicroBatchExecution runs them; jobs and stages hang
    * under the addBatch span of their batch. */
  def batchSpans(tr: Tracer, r: Run, traced: StreamingQueryProgress => Boolean,
      writeMs: collection.Map[Long, (Double, Double)], ex: Option[ExecListener]): Unit = {
    val jobs = ex.map(_.jobsByKey).getOrElse(Map.empty)
    val stages = ex.map(_.stagesByJob).getOrElse(Map.empty)
    r.batches.filter(traced).foreach { p =>
      val t = s"${r.runId}/${p.batchId}"
      val s0 = Progress.startMs(p)
      val b = tr.add(0, t, "batch", s0, Progress.endMs(p))
      var at = s0
      var add = 0L
      Seq("latestOffset", "walCommit", "queryPlanning", "addBatch", "commitOffsets")
        .foreach { k =>
          val d = Progress.dur(p, k)
          val id = tr.add(b, t, k, at, at + d)
          if (k == "addBatch") add = id
          at += d
        }
      writeMs.get(p.batchId).foreach { case (s, e) => tr.add(add, t, "sink.writeBatch", s, e) }
      jobs.getOrElse(t, Nil).foreach { case (_, jid, js, je) =>
        val j = tr.add(add, t, "job", js, je)
        stages.getOrElse(jid, Nil).foreach { case (_, _, ss, se) => tr.add(j, t, "stage", ss, se) }
      }
    }
  }

  // ------------------------------------------------------------ depth_drain

  def depthDrain(a: Args, r: Result): Unit = {
    val (spark, sessionS) = Setup.sessions()
    val symbol = Inputs.text(a.depthTape, "symbol")
    val arrival = Inputs.long(a.depthTape, "arrival_ms")
    val lines = Inputs.long(a.depthTape, "lines")
    val snap = Inputs.snapshot(a.depthTape)
    val tapeDir = Paths.get(a.depthTape).toString
    val log = new ProgressLog
    spark.streams.addListener(log)

    // one query drains the whole tape, warm-up batches first
    val d = new Drain(spark, log, a.warmBatches, lines, a.trace)
    val traceFrom = d.traceFrom
    val ex = d.ex
    val main = Files.createDirectories(a.work.resolve("main"))
    val writeMs = mutable.Map[Long, (Double, Double)]()
    Setup.phase("main")
    val t0 = Stats.wallMs().toDouble
    val q = depthQuery(spark, tapeDir, snap, "csv", main, writeMs, symbol, arrival)
    drain(Seq(q), log, lines, 170)
    Setup.phase("drained")
    val cpuS = (Stats.processCpuNs() - d.cpuAtWarm) / 1e9
    org.apache.spark.perfbenchshim.Bus.drain(spark.sparkContext)
    val run = runOf(q, log)
    val (measured, from, end) = d.measured(Seq(run))
    r.metric("setup_s", sessionS + (from - t0) / 1000.0, "s")
    val lat = measured.map(Progress.dur(_, "triggerExecution"))
    r.info("batches", run.batches.size)
    r.info("trigger_ms", run.batches.map(Progress.dur(_, "triggerExecution")).mkString(","))
    r.info("csv_path", main.resolve(s"$symbol.$Market.depth.csv").toString)
    val committed = run.batches.map(_.numInputRows).sum
    r.check("committed_lines", committed == lines, s"$committed of $lines")
    val messages = measured.map(_.numInputRows).sum

    if (!a.trace) {
      // a batch's rate is its messages over its cycle, its start to the
      // next batch's start (the last: to its commit); the median batch
      // is not moved by a slow spell of the machine shorter than half
      // the measured window, which the mean over the window would be
      val starts = measured.map(Progress.startMs) :+ end
      val rates = measured.indices.map(i =>
        measured(i).numInputRows * 1000.0 / (starts(i + 1) - starts(i)))
      r.metric("throughput_per_s", Stats.median(rates), "1/s")
      r.metric("latency_ms_p50", Stats.median(lat), "ms")
      r.metric("latency_ms_p90", Stats.quantile(lat, 0.9), "ms")
      r.metric("cpu_s", cpuS * 10000.0 / messages, "s")
    } else {
      val traced = run.batches.filter(_.batchId >= traceFrom)
      val untraced = measured.filter(_.batchId < traceFrom)
      val tr = new Tracer
      batchSpans(tr, run, _.batchId >= traceFrom, writeMs, ex)
      streamLayers(r, run.batches, run.idle, run.shape,
        traced.map(b => (b, s"${run.runId}/${b.batchId}")), untraced, ex.get)
      r.metric("sink.csv_write_ms",
        Stats.median(traced.flatMap(b => writeMs.get(b.batchId)).map(x => x._2 - x._1)), "ms")
      val ops = traced.flatMap(_.stateOperators.headOption)
      r.metric("sync.state_commit_ms", Stats.median(ops.map(_.commitTimeMs.toDouble)), "ms")
      r.metric("sync.state_bytes", Stats.median(ops.map(_.memoryUsedBytes.toDouble)), "bytes")
      val keys = traced.map(b => s"${run.runId}/${b.batchId}")
      val sw = keys.flatMap(k => Option(ex.get.byKey.get(k))).map(_.shuffleWrite.toDouble)
      r.metric("sync.shuffle_bytes_per_batch", Stats.median(sw), "bytes")
      val csv = main.resolve(s"$symbol.$Market.depth.csv")
      val csvRows = { val ls = Files.lines(csv); try ls.count() - 1 finally ls.close() }
      r.metric("sink.bytes_per_row", Files.size(csv).toDouble / csvRows, "bytes")

      // layer cuts: the same tape's prefix replayed into the noop sink,
      // one more layer each time; a layer's self time is its cut minus
      // the cut before it
      val cutTape = a.cutTape
      val cutLines = Inputs.long(cutTape, "lines")
      val cuts = Seq("source", "parse", "sync", "explode", "csv").map { c =>
        val w = Files.createDirectories(a.work.resolve(s"cut-$c"))
        val cq = depthQuery(spark, cutTape, snap, c, w, mutable.Map(), symbol, arrival)
        drain(Seq(cq), log, cutLines, 120)
        c -> usPerMsg(runOf(cq, log).batches)
      }.toMap
      r.metric("source.self_us_per_msg", cuts("source"), "us")
      r.metric("pipelines.parse_us_per_msg", cuts("parse") - cuts("source"), "us")
      r.metric("sync.self_us_per_msg", cuts("sync") - cuts("parse"), "us")
      r.metric("pipelines.explode_us_per_msg", cuts("explode") - cuts("sync"), "us")
      r.metric("sink.self_us_per_msg", cuts("csv") - cuts("explode"), "us")
      // a check on the cuts, not a layer: 0 when the full cut's time per
      // message equals the traced half of the main run's
      r.metric("cuts.coverage_error", math.abs(cuts("csv") / usPerMsg(traced) - 1), "ratio")

      // the fold itself, called directly on the same tape in batch-sized chunks
      val recs = Inputs.depthRecords(spark, tapeDir, arrival)
      val fold0 = Stats.nowMs()
      var st = SyncLogic.empty
      var out = 0L
      recs.grouped(BatchSize).foreach { chunk =>
        val (s2, o) = SyncLogic.run(st, chunk.sortBy(_.first_update_id), snap)
        st = s2; out += o.size
      }
      r.metric("sync.fold_us_per_msg", (Stats.nowMs() - fold0) * 1000.0 / recs.size, "us")
      r.metric("sync.admitted_ratio", out.toDouble / recs.size, "ratio")
      r.metric("pipelines.parsed_ratio", recs.size.toDouble / lines, "ratio")
      runnerCut(spark, a, r, log)
      tr.write(a.work.resolve("spans.json").toString)
      r.metric("trace.spans", tr.size.toDouble, "count")
    }
    r.metric("peak_rss_mb", Stats.peakRssMb(), "MB")
    spark.stop()
  }

  /** One trade tape through the service's own path, Runner.startWithSinks
    * with the parquet sink and the Runner's 1 s trigger (open loop: a
    * batch is due at the first interval boundary after the previous
    * batch started). Reports how late triggers start against that tick,
    * and the parquet sink's addBatch, over the batches after the cold
    * first `RunnerWarm`. */
  val RunnerWarm = 2

  def runnerCut(spark: SparkSession, a: Args, r: Result, log: ProgressLog): Unit = {
    val tapes = a.tradeTape
    val sym = Inputs.text(tapes, "symbol")
    val out = a.work.resolve("cut-runner")
    val qs = Runner.startWithSinks(spark,
      StreamConfig(Seq(s"binance.$Market.$sym.trade"), out.toString, BatchSize, "parquet"),
      new Dsv2ReplaySource(tapes, BatchSize, Some(Inputs.long(tapes, "arrival_ms"))),
      checkpointRoot = out.resolve("_checkpoints").toString).map(_._1)
    drain(qs, log, Inputs.long(tapes, "lines"), 120)
    r.info("trade_out", out.toString)
    val bs = log.batches(qs.head.runId)
    val late = bs.sliding(2).collect { case Seq(prev, b) if b.batchId >= RunnerWarm =>
      Progress.startMs(b) - (math.floor(Progress.startMs(prev) / 1000.0) + 1) * 1000.0
    }.toSeq
    r.metric("runner.trigger_late_ms_p90", Stats.quantile(late, 0.9), "ms")
    r.metric("sink.parquet_add_batch_ms",
      Stats.median(bs.filter(_.batchId >= RunnerWarm).map(Progress.dur(_, "addBatch"))), "ms")
  }

  /** Per-layer metrics of the depth drain, from the traced half of the
    * main run. `traced` pairs each traced batch with its work key; `all`
    * is every batch of the run. */
  def streamLayers(r: Result, all: Seq[StreamingQueryProgress], idle: Int,
      shape: PlanShape, traced: Seq[(StreamingQueryProgress, String)],
      untraced: Seq[StreamingQueryProgress], ex: ExecListener): Unit = {
    val tb = traced.map(_._1)
    def p50(k: String) = Stats.median(tb.map(Progress.dur(_, k)))
    r.metric("source.rows_per_batch", Stats.median(tb.map(_.numInputRows.toDouble)), "count")
    r.metric("microbatch.plan_ms", p50("queryPlanning"), "ms")
    r.metric("microbatch.wal_ms", p50("walCommit"), "ms")
    r.metric("microbatch.commit_ms", p50("commitOffsets"), "ms")
    r.metric("microbatch.overhead_ms",
      Stats.median(tb.map(b => Progress.dur(b, "triggerExecution") - Progress.dur(b, "addBatch"))), "ms")
    val works = traced.map(t => Option(ex.byKey.get(t._2)).getOrElse(new Work))
    r.metric("microbatch.jobs_per_batch", Stats.median(works.map(_.jobs.toDouble)), "count")
    r.metric("microbatch.nodata_batches", (all.count(_.numInputRows == 0) + idle).toDouble, "count")
    r.metric("microbatch.batches", all.size.toDouble, "count")
    execLayers(r, works)
    r.metric("plan.exchanges", shape.exchanges.toDouble, "count")
    r.metric("plan.scans", shape.scans.toDouble, "count")
    r.metric("plan.smj", shape.smj.toDouble, "count")
    r.metric("plan.bnlj", shape.bnlj.toDouble, "count")
    r.metric("plan.ms", p50("queryPlanning"), "ms")
    // per batch: trigger wall during which none of its jobs ran
    val wait = traced.zip(works).map { case ((b, _), w) =>
      (Progress.endMs(b) - Progress.startMs(b)) - Stats.unionLength(w.jobIntervals.toSeq) }
    r.metric("driver.wait_s", wait.sum / 1000.0, "s")
    val lat = (bs: Seq[StreamingQueryProgress]) =>
      Stats.median(bs.map(Progress.dur(_, "triggerExecution")))
    r.metric("trace.overhead_ms", lat(tb) - lat(untraced), "ms")
  }

  def execLayers(r: Result, works: Seq[Work]): Unit = {
    val w = new Work
    works.foreach(w.add)
    r.metric("exec.task_cpu_s", w.cpuNs / 1e9, "s")
    r.metric("exec.gc_s", w.gcMs / 1000.0, "s")
    r.metric("exec.shuffle_write_mb", w.shuffleWrite / 1e6, "MB")
    r.metric("exec.shuffle_read_mb", w.shuffleRead / 1e6, "MB")
    r.metric("exec.spill_mb", w.spill / 1e6, "MB")
    r.metric("exec.peak_task_mem_mb", w.peakTaskMem / 1e6, "MB")
    r.metric("exec.stages", w.stages.toDouble, "count")
    r.metric("exec.tasks", w.tasks.toDouble, "count")
    r.metric("exec.jobs", w.jobs.toDouble, "count")
  }
}
