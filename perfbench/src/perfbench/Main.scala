package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      tiny: Boolean, work: String, traceDir: String, plantWrong: Boolean)

/** What a workload hands back besides its op samples. */
final case class Outcome(storedBytes: Long, primary: String,
                         layers: (Seq[Span], Map[String, Double], Int) => Map[String, Double])

/** Span aggregates for a workload's layer metrics: per traced op, or per
  * span instance.
  */
final class Layers(spans: Seq[Span], ops: Int) {
  private lazy val self = Tracer.selfNs(spans)
  private def named(n: String) = spans.filter(_.name == n)
  /** Seconds per traced op inside spans named `n`. */
  def total(n: String): Double = named(n).map(_.durationNs).sum / 1e9 / math.max(1, ops)
  /** Seconds per traced op of self time of spans named `n`. */
  def self(n: String): Double = named(n).map(s => self(s.id)).sum / 1e9 / math.max(1, ops)
  /** Mean milliseconds of one span named `n` (0 when none ran). */
  def meanMs(n: String): Double =
    if (named(n).isEmpty) 0.0 else named(n).map(_.durationNs).sum / 1e6 / named(n).size
}

/** Bookkeeping shared by the workloads: set-up timing, closed-loop op
  * timing with untimed output checks, failure counts, live-heap samples
  * and the traced/untraced split of a traced run.
  */
final class Run(val spark: SparkSession, val args: Args, val tracer: Tracer) {
  var setupS = 0.0
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val tracedMs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var attempted = 0
  var failed = 0
  var tracedOps = 0
  private var opIndex = 0
  private var busyNs = 0L
  private var heapPeakBytes = 0L

  def log(msg: String): Unit = { System.out.println(s"perfbench: $msg"); System.out.flush() }

  /** Set the workload up once, timing it as `setup_s`. */
  def setUp[T](make: => T): T = {
    val t0 = System.nanoTime()
    val v = make
    setupS = (System.nanoTime() - t0) / 1e9
    v
  }

  /** One closed-loop op: `body` is timed; `check` runs untimed after it.
    * A throw from either, or a false check, counts the op as failed. In a
    * traced run the 1st, 3rd, 5th, … op of each kind is traced; the others
    * run untraced in the same process and give a within-run overhead
    * baseline.
    */
  def op[T](kind: String)(body: => T)(check: T => Boolean): Boolean = {
    opIndex += 1
    val nthOfKind = all(kind).size + 1
    val traced = args.trace && nthOfKind % 2 == 1
    tracer.request = opIndex
    tracer.active = traced
    val t0 = System.nanoTime()
    val r = try Right(tracer.span(kind)(body)) catch { case NonFatal(e) => Left(e) }
    val dt = System.nanoTime() - t0
    tracer.active = false
    val ok = r match {
      case Right(v) =>
        try check(v) catch { case NonFatal(e) => log(s"$kind check threw: $e"); false }
      case Left(e) => log(s"$kind threw: $e"); false
    }
    attempted += 1
    if (!ok) { failed += 1; log(s"$kind op $opIndex FAILED") }
    if (dt > 1e9) log(f"$kind op $opIndex ${dt / 1e6}%.1f ms${if (traced) " (traced)" else ""}")
    busyNs += dt
    val into = if (traced) tracedMs else samples
    into.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += dt / 1e6
    if (traced) tracedOps += 1
    ok
  }

  /** An untimed output check outside any op, counted like an op's check. */
  def expect(what: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case NonFatal(e) => log(s"$what threw: $e"); false }
    attempted += 1
    if (!ok) { failed += 1; log(s"check FAILED: $what") }
  }

  /** Run `steps` in order: the workload's fixed set of timed ops, the same
    * however fast they run. `--seconds` only caps it, so that a very slow
    * build still ends in time: once it has passed, no further step starts
    * (the first always runs), and the run says how many were cut.
    */
  def fixed[A](steps: Seq[A])(step: A => Unit): Unit = {
    val end = System.nanoTime() + (args.seconds * 1e9).toLong
    var done = 0
    steps.iterator.takeWhile(_ => done == 0 || System.nanoTime() < end)
      .foreach { a => step(a); done += 1 }
    if (done < steps.size) log(s"--seconds ${args.seconds} cap reached: ran $done of ${steps.size} ops")
  }

  /** Live heap after a full collection, sampled between ops. The second
    * collection frees what Spark's cleaner released after the first.
    */
  def heapSample(): Unit = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    heapPeakBytes = math.max(heapPeakBytes, used)
  }

  def busySeconds: Double = busyNs / 1e9
  def heapPeakMb: Double = heapPeakBytes / 1048576.0
  def all(kind: String): Seq[Double] =
    samples.getOrElse(kind, Nil).toSeq ++ tracedMs.getOrElse(kind, Nil).toSeq
}

object Main {
  private def parse(argv: Array[String]): Args = {
    val flags = Set("--plant-wrong")
    val kv = argv.filterNot(flags).grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", kv.get("--scale").contains("tiny"), need("--work"),
      need("--trace-dir"), argv.contains("--plant-wrong"))
  }

  def session(work: String): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors()
    val b = SparkSession.builder().master(s"local[$n]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.default.parallelism", n.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    graft.Tables.sessionConfs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val spark = session(args.work)
    // a failure outside the ops (set-up, trace files) ends the run without a result
    try measure(spark, args)
    catch { case NonFatal(e) => e.printStackTrace(); spark.stop(); sys.exit(1) }
  }

  private def measure(spark: SparkSession, args: Args): Unit = {
    val tracer = new Tracer(spark)
    if (args.trace) tracer.install()
    val run = new Run(spark, args, tracer)
    val outcome = args.workload match {
      case "refresh_weekly" => RefreshWeekly.run(run)
      case "curate_train" => CurateTrain.run(run)
      case "index_serve" => IndexServe.run(run)
      case other => sys.error(s"unknown workload $other")
    }
    run.heapSample()
    val metrics: Seq[(String, Double, String)] =
      if (!args.trace) endToEnd(run, outcome) else perLayer(run, outcome)
    metrics.foreach { case (k, v, u) => run.log(f"$k%-28s $v%.4f $u") }
    run.log(s"error_rate ${run.failed}/${run.attempted} = " +
      f"${run.failed.toDouble / math.max(1, run.attempted)}%.4f")
    val result = Json.obj(Seq(
      "correct" -> (run.failed == 0),
      "attempted" -> run.attempted,
      "failed" -> run.failed,
      "metrics" -> Json.Raw(Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.Raw(Json.obj(Seq("value" -> v, "unit" -> u))) }))))
    spark.stop()
    System.out.println("RESULT " + result)
    System.out.flush()
  }

  private def endToEnd(run: Run, o: Outcome): Seq[(String, Double, String)] = {
    val prim = run.all(o.primary)
    val ops = run.samples.values.map(_.size).sum + run.tracedMs.values.map(_.size).sum
    Seq(
      ("setup_s", run.setupS, "s"),
      ("op_p50_ms", Stats.median(prim), "ms"),
      ("ops_per_s", ops / run.busySeconds, "1/s"),
      ("stored_mb", o.storedBytes / 1048576.0, "MB"),
      ("heap_peak_mb", run.heapPeakMb, "MB"))
  }

  private def perLayer(run: Run, o: Outcome): Seq[(String, Double, String)] = {
    val spans = run.tracer.finish()
    val tot = new EngineCounters
    spans.foreach { case (_, c) => tot.add(c) }
    val n = math.max(1, run.tracedOps).toDouble
    val traced = run.tracedMs.getOrElse(o.primary, Nil).toSeq
    val untraced = run.samples.getOrElse(o.primary, Nil).toSeq
    // within-run overhead needs an untraced op too; runs timing a single
    // batch pass compare trace.op_p50_ms with an untraced run's op_p50_ms
    val overheadPct = if (traced.isEmpty || untraced.isEmpty) None
      else Some(100.0 * (Stats.median(traced) - Stats.median(untraced)) / Stats.median(untraced))
    val layerMetrics = o.layers(spans.map(_._1), run.tracer.counts, run.tracedOps)
    writeLayers(run, spans, layerMetrics, overheadPct)
    Seq(
      ("catalyst.analysis_s", tot.analysisMs / 1e3 / n, "s"),
      ("catalyst.optimization_s", tot.optimizationMs / 1e3 / n, "s"),
      ("catalyst.planning_s", tot.planningMs / 1e3 / n, "s"),
      ("spark.jobs", tot.jobs / n, "count"),
      ("spark.tasks", tot.tasks / n, "count"),
      ("spark.scheduler_delay_s", tot.schedulerDelayMs / 1e3 / n, "s"),
      ("spark.executor_run_s", tot.runMs / 1e3 / n, "s"),
      ("spark.executor_cpu_s", tot.cpuNs / 1e9 / n, "s"),
      ("spark.gc_s", tot.gcMs / 1e3 / n, "s"),
      ("spark.shuffle_write_mb", tot.shuffleWriteBytes / 1048576.0 / n, "MB"),
      ("spark.shuffle_read_mb", tot.shuffleReadBytes / 1048576.0 / n, "MB"),
      ("spark.spill_mb", tot.spillBytes / 1048576.0 / n, "MB"),
      ("trace.op_p50_ms", Stats.median(traced), "ms"))
  }

  /** The traced run's files: every span, and the per-layer table of the
    * workload (layer metric name → value, per traced op).
    */
  private def writeLayers(run: Run, spans: Seq[(Span, EngineCounters)],
                          layerMetrics: Map[String, Double], overheadPct: Option[Double]): Unit = {
    val base = s"${run.args.traceDir}/${run.args.workload}-seed${run.args.seed}"
    Tracer.writeSpans(s"$base.spans.json", spans)
    val self = Tracer.selfNs(spans.map(_._1))
    val byName = spans.groupBy(_._1.name).toSeq.sortBy(_._1).map { case (name, ss) =>
      val c = new EngineCounters
      ss.foreach(x => c.add(x._2))
      name -> Json.Raw(Json.obj(Seq("count" -> ss.size,
        "total_ms" -> ss.map(_._1.durationNs).sum / 1e6,
        "self_ms" -> ss.map(x => self(x._1.id)).sum / 1e6,
        "engine" -> Json.Raw(c.toJson))))
    }
    Files.write(s"$base.layers.json", Json.obj(Seq(
      "workload" -> run.args.workload, "seed" -> run.args.seed,
      "traced_ops" -> run.tracedOps) ++ overheadPct.map("trace_overhead_pct" -> _) ++ Seq(
      "layer_metrics" -> layerMetrics.toSeq.sortBy(_._1).toMap,
      "spans_by_name" -> Json.Raw(Json.obj(byName)))) + "\n")
    layerMetrics.toSeq.sortBy(_._1).foreach { case (k, v) => run.log(f"layer $k%-34s $v%.4f") }
    overheadPct.foreach(p => run.log(f"tracing overhead within this run: $p%.1f%%"))
    run.log(s"trace files: $base.spans.json, $base.layers.json")
  }
}
