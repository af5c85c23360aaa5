package perfbench

import java.security.MessageDigest

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The batch workload: a fixed query set from `graft.SparkEntry.queries`,
  * run in a seed-permuted order. One collect pass (the output digests
  * checked against golden.json) and WarmPasses passes through the noop
  * sink warm up; timed passes through the noop sink follow, as
  * graft.Bench times them. */
object Batch {
  val Relational = Seq("Relational", "TimeSeries", "Extras")
  val Llm = Seq("Dedup", "Similarity", "TextAnalysis", "Corpus", "Curation",
    "Multimodal")
  val Modules: Seq[String] = Relational ++ Llm

  /** Query name → module, from each module's own `queries` map. */
  lazy val moduleOf: Map[String, String] = Seq(
    "Relational" -> graft.queries.Relational.queries,
    "TimeSeries" -> graft.queries.TimeSeries.queries,
    "Extras" -> graft.queries.Extras.queries,
    "Dedup" -> graft.queries.Dedup.queries,
    "Similarity" -> graft.queries.Similarity.queries,
    "TextAnalysis" -> graft.queries.TextAnalysis.queries,
    "Corpus" -> graft.queries.Corpus.queries,
    "Curation" -> graft.queries.Curation.queries,
    "Pipeline" -> graft.queries.Pipeline.queries,
    "Multimodal" -> graft.queries.Multimodal.queries,
  ).flatMap { case (m, qs) => qs.keys.map(_ -> m) }.toMap

  /** The timed set: a query from every module but Pipeline, whose two
    * composite queries cost more than a run can spend (the first
    * execution of q55 alone takes about 5 s); the ledger measures it.
    * Six are executor-bound LLM-module queries (shuffles, kernels,
    * fences), three are relational-module queries where planning weighs
    * most; queries.<Module>.* splits them. */
  val Set: Seq[String] = Seq("q03", "q23", "q50", "q29", "q94", "q85", "q47",
    "q71", "q36")

  /** Noop passes after the collect pass that still warm up: in a fresh
    * JVM the JIT speeds a pass of `Set` up from about 4.9 s to 3.1 s over
    * the first five, by about 5% a pass over the third to the fifth, and
    * by about 2% a pass after that. */
  val WarmPasses = 4

  /** Seconds of `--seconds` per timed pass of `Set` (a warm pass takes
    * about 3 s on 4 cores; 12 s give three passes, the least a run
    * times). */
  val PassSeconds = 4

  def resolve(ids: Seq[String]): Seq[String] = {
    val names = graft.SparkEntry.queries.keys.toSeq
    ids.map(id => names.find(_.startsWith(id + "_")).getOrElse(
      throw new IllegalArgumentException(s"no query $id in SparkEntry.queries")))
  }

  def permute(names: Seq[String], seed: Long): Seq[String] =
    new scala.util.Random(seed).shuffle(names.sorted)

  // ---------------------------------------------------------------- digest

  private def render(v: Any): String = v match {
    case null => "∅"
    case r: Row => r.toSeq.map(render).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case d: java.math.BigDecimal => d.toPlainString
    case t: java.sql.Timestamp => t.toInstant.toString
    case x => x.toString
  }

  /** Order-insensitive digest of a query's output: column names, then
    * every row rendered canonically, sorted. */
  def digest(df: DataFrame): (String, Long) = {
    val rows = df.collect()
    val md = MessageDigest.getInstance("SHA-256")
    md.update(df.columns.mkString(",").getBytes("UTF-8"))
    rows.map(render).sorted.foreach { l => md.update('\n'.toByte); md.update(l.getBytes("UTF-8")) }
    (md.digest().map("%02x".format(_)).mkString, rows.length.toLong)
  }

  // ------------------------------------------------------------------ runs

  final case class Timed(name: String, startWall: Double, endWall: Double, ms: Double)

  /** One pass through the noop sink; a failing query is recorded and
    * the pass goes on. */
  def pass(spark: SparkSession, dir: String, names: Seq[String],
      failed: mutable.Set[String]): Seq[Timed] = names.flatMap { n =>
    spark.sparkContext.setJobGroup(n, n)
    val w0 = Stats.wallMs().toDouble
    val t0 = Stats.nowMs()
    try {
      graft.Bench.exec(graft.SparkEntry.queries(n)(spark, dir))
      val ms = Stats.nowMs() - t0
      Some(Timed(n, w0, w0 + ms, ms))
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $n failed: ${e.toString.take(300)}")
        failed += n
        None
    } finally spark.sparkContext.clearJobGroup()
  }

  /** Collect pass: warms every query and digests its output. */
  def digests(spark: SparkSession, dir: String, names: Seq[String],
      failed: mutable.Set[String], outputs: String = ""): Map[String, (String, Long)] =
    names.flatMap { n =>
      spark.sparkContext.setJobGroup(n, n)
      try {
        val df = graft.SparkEntry.queries(n)(spark, dir)
        if (outputs.nonEmpty) df.coalesce(1).write.mode("overwrite").parquet(s"$outputs/$n")
        Some(n -> digest(df))
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] $n failed: ${e.toString.take(300)}")
          failed += n
          None
      } finally spark.sparkContext.clearJobGroup()
    }.toMap

  def run(a: Args, r: Result): Unit = {
    val names = permute(resolve(Set), a.seed)
    val (spark, sessionS) = Setup.sessions()
    graft.PerfbenchAccess.applyScaledShuffle(spark, a.tables)
    val failed = mutable.Set[String]()
    var ds: Map[String, (String, Long)] = Map.empty
    // warm-up: the collect pass (digests), then WarmPasses noop passes
    val warmS = Setup.time {
      ds = digests(spark, a.tables, names, failed)
      (1 to WarmPasses).foreach(_ => pass(spark, a.tables, names, failed))
    }
    r.metric("setup_s", sessionS + warmS, "s")
    ds.foreach { case (n, (d, rows)) => r.info(s"digest.$n", s"$d:$rows") }
    r.info("order", names.mkString(","))

    // a fixed number of passes, one per PassSeconds of measured time, so
    // the amount of work does not depend on how fast the box is; a
    // traced run makes the last of them traced
    val nPasses = math.max(3, a.seconds / PassSeconds)
    val passes = (1 to (if (a.trace) math.max(1, nPasses - 1) else nPasses)).map { _ =>
      val c0 = Stats.processCpuNs()
      val p0 = Stats.nowMs()
      val ts = pass(spark, a.tables, names, failed)
      (ts, Stats.nowMs() - p0, (Stats.processCpuNs() - c0) / 1e9)
    }
    r.attempted = names.size.toLong
    r.failed = failed.size.toLong
    r.info("passes", passes.size)
    names.foreach(n => r.info(s"ms.$n", passes.map(_._1.find(_.name == n).map(_.ms).getOrElse(-1.0))
      .map(x => f"$x%.1f").mkString(",")))
    val ok = names.filterNot(failed)
    if (!a.trace) {
      // a query's time is its median pass, which a slow spell of the
      // shared machine over fewer than half the passes does not move; the
      // set's time is the sum of its queries'
      val perQuery = ok.map(n => Stats.median(passes.flatMap(_._1.filter(_.name == n).map(_.ms))))
      r.metric("throughput_per_s", names.size * 1000.0 / perQuery.sum, "1/s")
      r.metric("latency_ms_p50", Stats.median(perQuery), "ms")
      r.metric("latency_ms_p90", Stats.quantile(perQuery, 0.9), "ms")
      r.metric("cpu_s", Stats.median(passes.map(_._3)), "s")
    } else {
      val ex = new ExecListener
      val qe = new QeListener
      spark.sparkContext.addSparkListener(ex)
      spark.listenerManager.register(qe)
      val p0 = Stats.nowMs()
      val traced = pass(spark, a.tables, names, failed)
      val tracedMs = Stats.nowMs() - p0
      org.apache.spark.perfbenchshim.Bus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(ex)
      spark.listenerManager.unregister(qe)
      r.failed = failed.size.toLong
      layers(r, traced, ex, qe, a.work.resolve("spans.json").toString)
      r.metric("trace.overhead_ms", (tracedMs - Stats.median(passes.map(_._2))) / names.size, "ms")
    }
    r.metric("peak_rss_mb", Stats.peakRssMb(), "MB")
    spark.stop()
  }

  /** Per-layer metrics of one traced pass, and its spans: query → job → stage. */
  def layers(r: Result, traced: Seq[Timed], ex: ExecListener, qe: QeListener,
      spansPath: String): Unit = {
    val work = traced.map(t => t.name -> Option(ex.byKey.get(t.name)).getOrElse(new Work)).toMap
    Modules.foreach { m =>
      val in = traced.filter(t => moduleOf.get(t.name).contains(m))
      r.metric(s"queries.$m.wall_s", in.map(_.ms).sum / 1000.0, "s")
      r.metric(s"queries.$m.cpu_s", in.map(t => work(t.name).cpuNs).sum / 1e9, "s")
    }
    Streams.execLayers(r, work.values.toSeq)
    val plans = traced.map(t => qe.within(t.startWall, t.endWall))
    val sh = plans.map(_._2).foldLeft(PlanShape.zero)(_ + _)
    r.metric("plan.exchanges", sh.exchanges.toDouble, "count")
    r.metric("plan.scans", sh.scans.toDouble, "count")
    r.metric("plan.smj", sh.smj.toDouble, "count")
    r.metric("plan.bnlj", sh.bnlj.toDouble, "count")
    r.metric("plan.ms", plans.map(_._1).sum, "ms")
    r.metric("driver.wait_s", traced.map(t =>
      t.ms - Stats.unionLength(work(t.name).jobIntervals.toSeq)).sum / 1000.0, "s")
    val tr = new Tracer
    val jobs = ex.jobsByKey
    val stages = ex.stagesByJob
    traced.foreach { t =>
      val q = tr.add(0, t.name, "query", t.startWall, t.endWall)
      jobs.getOrElse(t.name, Nil).foreach { case (_, jid, s, e) =>
        val j = tr.add(q, t.name, "job", s, e)
        stages.getOrElse(jid, Nil).foreach { case (_, _, ss, se) => tr.add(j, t.name, "stage", ss, se) }
      }
    }
    tr.write(spansPath)
    r.metric("trace.spans", tr.size.toDouble, "count")
  }

  /** The whole inventory once, for the per-query ledger: a collect pass
    * (digests; with `outputs` set, each output is also written as
    * parquet for the DuckDB oracle), then one traced noop pass. */
  def ledger(a: Args, r: Result): Unit = {
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
    val (spark, _) = Setup.sessions()
    graft.PerfbenchAccess.applyScaledShuffle(spark, a.tables)
    val failed = mutable.Set[String]()
    if (a.outputs.nonEmpty) {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(a.outputs))
      java.nio.file.Files.write(java.nio.file.Paths.get(a.outputs, "oracle_sql.json"),
        graft.SparkEntry.oracleSql.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }
          .mkString("{", ",\n", "}").getBytes("UTF-8"))
    }
    val ds = digests(spark, a.tables, names, failed, a.outputs)
    ds.foreach { case (n, (d, rows)) => r.info(s"digest.$n", s"$d:$rows") }
    val ex = new ExecListener
    val qe = new QeListener
    spark.sparkContext.addSparkListener(ex)
    spark.listenerManager.register(qe)
    val traced = pass(spark, a.tables, names, failed)
    org.apache.spark.perfbenchshim.Bus.drain(spark.sparkContext)
    r.attempted = names.size.toLong
    r.failed = failed.size.toLong
    val rows = traced.map { t =>
      val w = Option(ex.byKey.get(t.name)).getOrElse(new Work)
      val (planMs, sh) = qe.within(t.startWall, t.endWall)
      s"""{"query":${Json.str(t.name)},"module":${Json.str(moduleOf.getOrElse(t.name, ""))},""" +
        s""""wall_s":${t.ms / 1000.0},"cpu_s":${w.cpuNs / 1e9},"gc_s":${w.gcMs / 1000.0},""" +
        s""""shuffle_read_mb":${w.shuffleRead / 1e6},"shuffle_write_mb":${w.shuffleWrite / 1e6},""" +
        s""""spill_mb":${w.spill / 1e6},"peak_task_mem_mb":${w.peakTaskMem / 1e6},""" +
        s""""stages":${w.stages},"tasks":${w.tasks},"exchanges":${sh.exchanges},""" +
        s""""scans":${sh.scans},"smj":${sh.smj},"bnlj":${sh.bnlj},"plan_ms":$planMs}"""
    }
    java.nio.file.Files.write(a.work.resolve("ledger.json"),
      rows.mkString("[\n", ",\n", "\n]\n").getBytes("UTF-8"))
    spark.stop()
  }
}
