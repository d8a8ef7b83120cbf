package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark engine counters of one span: the task metrics of every stage its
  * jobs ran, and the Catalyst phase times of every query it executed.
  */
final class EngineCounters {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var schedulerDelayMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L

  def add(o: EngineCounters): Unit = {
    jobs += o.jobs; tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs
    gcMs += o.gcMs; schedulerDelayMs += o.schedulerDelayMs
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
    spillBytes += o.spillBytes; analysisMs += o.analysisMs
    optimizationMs += o.optimizationMs; planningMs += o.planningMs
  }

  def toJson: String = Json.obj(Seq(
    "jobs" -> jobs, "tasks" -> tasks, "executor_run_ms" -> runMs,
    "executor_cpu_ms" -> cpuNs / 1e6, "gc_ms" -> gcMs,
    "scheduler_delay_ms" -> schedulerDelayMs,
    "shuffle_write_bytes" -> shuffleWriteBytes, "shuffle_read_bytes" -> shuffleReadBytes,
    "spill_bytes" -> spillBytes, "analysis_ms" -> analysisMs,
    "optimization_ms" -> optimizationMs, "planning_ms" -> planningMs))
}

/** One timed region around a call into a program layer. `parent` is 0 for
  * a request's root span; `request` groups the spans of one benchmark op.
  */
final case class Span(id: Int, parent: Int, name: String, request: Long,
                      startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def durationNs: Long = endNs - startNs
}

/** Spans recorded from the benchmark's own code around each call into a
  * layer, kept in memory and written once when the run ends. Spark work is
  * tied to the span that submitted it through a thread-local job property;
  * Catalyst phase times are tied to the innermost span open when the query
  * was planned. Recording happens only while `active` is set (the traced
  * ops of a traced run); otherwise `span` just runs its body.
  */
final class Tracer(spark: SparkSession) {
  private val SpanProp = "perfbench.span"
  private val ids = new AtomicInteger(0)
  private val current = new InheritableThreadLocal[Integer] {
    override def initialValue(): Integer = 0
  }
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counters = new ConcurrentHashMap[Int, EngineCounters]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  // (planning start ms, phase ms) of executed queries, resolved to spans at the end
  private val queries = mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
  private val extraCounts = mutable.LinkedHashMap.empty[String, Double]

  @volatile var active = false
  @volatile var request = 0L

  private def countersOf(span: Int): EngineCounters =
    counters.computeIfAbsent(span, _ => new EngineCounters)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val s = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
      s.map(_.toInt).filter(_ > 0).foreach { span =>
        countersOf(span).synchronized { countersOf(span).jobs += 1 }
        e.stageIds.foreach(stageSpan.put(_, span))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val span = stageSpan.getOrDefault(e.stageId, 0)
      val m = e.taskMetrics
      if (span > 0 && m != null) {
        val c = countersOf(span)
        val info = e.taskInfo
        val delay = math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
        c.synchronized {
          c.tasks += 1
          c.runMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.schedulerDelayMs += delay
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          c.spillBytes += m.diskBytesSpilled
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
      val at = ph.get("planning").map(_.startTimeMs).getOrElse(System.currentTimeMillis())
      queries.synchronized {
        queries += ((at, ms("analysis"), ms("optimization"), ms("planning")))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Run `body` inside a span named `name`, a child of the caller's span. */
  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val sc = spark.sparkContext
      val id = ids.incrementAndGet()
      val parent: Int = current.get()
      val prevProp = sc.getLocalProperty(SpanProp)
      current.set(id)
      sc.setLocalProperty(SpanProp, id.toString)
      val (t0, w0) = (System.nanoTime(), System.currentTimeMillis())
      try body
      finally {
        val s = Span(id, parent, name, request, t0, System.nanoTime(), w0,
          System.currentTimeMillis())
        spans.synchronized { spans += s }
        current.set(parent)
        sc.setLocalProperty(SpanProp, prevProp)
      }
    }

  /** Add to a named count of the current run (rows, pages, versions…). */
  def count(name: String, v: Double): Unit =
    if (active) extraCounts.synchronized {
      extraCounts(name) = extraCounts.getOrElse(name, 0.0) + v
    }

  def counts: Map[String, Double] = extraCounts.synchronized(extraCounts.toMap)

  /** Wait until the listener bus has delivered every event so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Every recorded span with its own engine counters (queries resolved to
    * the innermost span whose wall interval holds their planning start).
    */
  def finish(): Seq[(Span, EngineCounters)] = {
    drain()
    val all = spans.synchronized(spans.toVector)
    val byStart = all.sortBy(_.startMs)
    val byId = all.map(x => x.id -> x).toMap
    val depth = all.map(s => s.id -> Iterator.iterate(s.parent)(p =>
      byId.get(p).map(_.parent).getOrElse(0)).takeWhile(_ != 0).size).toMap
    queries.synchronized(queries.toVector).foreach { case (at, a, o, p) =>
      val holders = byStart.filter(s => s.startMs <= at && at <= s.endMs)
      if (holders.nonEmpty) {
        val inner = holders.maxBy(s => (depth(s.id), s.startMs))
        val c = countersOf(inner.id)
        c.synchronized { c.analysisMs += a; c.optimizationMs += o; c.planningMs += p }
      }
    }
    all.map(s => s -> Option(counters.get(s.id)).getOrElse(new EngineCounters))
  }
}

object Tracer {
  /** Self time of each span: its duration minus the union of its children. */
  def selfNs(all: Seq[Span]): Map[Int, Long] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val iv = kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)).sortBy(_._1)
      var covered = 0L
      var (lo, hi) = (Long.MinValue, Long.MinValue)
      iv.foreach { case (a, b) =>
        if (a > hi) { if (hi > lo) covered += hi - lo; lo = a; hi = b }
        else hi = math.max(hi, b)
      }
      if (hi > lo) covered += hi - lo
      s.id -> math.max(0L, s.durationNs - covered)
    }.toMap
  }

  /** Write the spans, one JSON object each with its self time and its own
    * engine counters, as `{"spans": [...]}`.
    */
  def writeSpans(path: String, all: Seq[(Span, EngineCounters)]): Unit = {
    val t0 = if (all.isEmpty) 0L else all.map(_._1.startNs).min
    val self = selfNs(all.map(_._1))
    val rows = all.sortBy(_._1.startNs).map { case (s, c) =>
      Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "request" -> s.request, "start_ms" -> (s.startNs - t0) / 1e6,
        "end_ms" -> (s.endNs - t0) / 1e6, "self_ms" -> self(s.id) / 1e6,
        "engine" -> Json.Raw(c.toJson)))
    }
    Files.write(path, rows.mkString("{\"spans\":[\n", ",\n", "\n]}\n"))
  }
}
