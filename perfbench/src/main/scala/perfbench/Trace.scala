package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Cumulative counters fed by the listeners a traced run registers.
  * Every field only grows; a span's counts are the difference between
  * two snapshots taken around it. */
final class Counters {
  var jobs, stages, tasks = 0L
  var runMs, cpuMs, gcMs = 0.0
  var shuffleWrite, shuffleRead, spill = 0L
  var fetchWaitMs = 0.0
  var analysisMs, optimizationMs, planningMs = 0.0
  var streamBatches = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  val batchMs = mutable.ArrayBuffer.empty[Double]
  private val jobStart = mutable.Map.empty[Int, Long]

  def snapshot(): Map[String, Double] = synchronized {
    Map("jobs" -> jobs.toDouble, "stages" -> stages.toDouble, "tasks" -> tasks.toDouble,
      "exec_run_ms" -> runMs, "exec_cpu_ms" -> cpuMs, "exec_gc_ms" -> gcMs,
      "shuffle_write_bytes" -> shuffleWrite.toDouble, "shuffle_read_bytes" -> shuffleRead.toDouble,
      "shuffle_fetch_wait_ms" -> fetchWaitMs, "shuffle_spill_bytes" -> spill.toDouble,
      "analysis_ms" -> analysisMs, "optimization_ms" -> optimizationMs,
      "planning_ms" -> planningMs, "codegen_compile_ms" -> CodeGenerator.compileTime / 1e6,
      "stream_batches" -> streamBatches.toDouble)
  }

  /** Wall milliseconds of [t0, t1] (epoch ms) that no Spark job covers. */
  def uncoveredMs(t0: Long, t1: Long): Double = synchronized {
    val inside = jobIntervals.iterator.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var covered = 0L
    var cur = t0
    for ((a, b) <- inside) {
      val s = math.max(a, cur)
      if (b > s) { covered += b - s; cur = b }
    }
    math.max(0L, (t1 - t0) - covered).toDouble
  }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Counters.this.synchronized {
      jobs += 1; jobStart(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Counters.this.synchronized {
      jobStart.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Counters.this.synchronized {
      stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Counters.this.synchronized {
      tasks += 1
      Option(e.taskMetrics).foreach { m =>
        runMs += m.executorRunTime
        cpuMs += m.executorCpuTime / 1e6
        gcMs += m.jvmGCTime
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = addPhases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = addPhases(qe)
  }

  /** Catalyst phase times of one query execution. The listener above
    * sees Dataset actions; a caller that drains `queryExecution.toRdd`
    * itself (the suite does, as graft.Bench does) adds them here. */
  def addPhases(qe: QueryExecution): Unit = synchronized {
    val p = qe.tracker.phases
    def ms(k: String) = p.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
    analysisMs += ms("analysis")
    optimizationMs += ms("optimization")
    planningMs += ms("planning")
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Counters.this.synchronized {
        streamBatches += 1
        batchMs += e.progress.batchDuration.toDouble
      }
  }
}

/** One span: a call the benchmark made into a layer. */
final case class Span(opId: Long, spanId: Long, parentId: Long, name: String, layer: String,
                      phase: String, startNs: Long, endNs: Long, counts: Map[String, Double]) {
  def durMs: Double = (endNs - startNs) / 1e6
}

/** Times the benchmark's calls. Untraced, a call costs two clock reads.
  * Traced, the listeners are registered, the listener bus is drained
  * after each call so its counters are complete, and one span per call
  * is kept in memory until the run writes them out. */
final class Recorder(spark: SparkSession, val traced: Boolean) {
  val counters = new Counters
  val spans = mutable.ArrayBuffer.empty[Span]
  private val t0Ns = System.nanoTime()
  private var nextId = 0L
  private var opId = 0L
  private val stack = mutable.Stack.empty[Long]
  /** setup, measure, extra or after: the part of the run the next spans belong to. */
  var phase = "setup"

  if (traced) {
    spark.sparkContext.addSparkListener(counters.sparkListener)
    spark.listenerManager.register(counters.queryListener)
    spark.streams.addListener(counters.streamListener)
  }

  private def drain(): Unit = if (traced) org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)

  /** Runs `body` as one timed call into `layer`; returns its result and
    * its wall time in milliseconds (the drain is outside the timing). */
  def call[T](name: String, layer: String)(body: => T): (T, Double) = {
    if (stack.isEmpty) opId += 1
    val id = { nextId += 1; nextId }
    val parent = stack.headOption.getOrElse(0L)
    val before = if (traced) { drain(); counters.snapshot() } else Map.empty[String, Double]
    val wall0 = System.currentTimeMillis()
    stack.push(id)
    val start = System.nanoTime()
    val result = try body finally stack.pop()
    val end = System.nanoTime()
    if (traced) {
      drain()
      val after = counters.snapshot()
      val counts = after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) } +
        ("sched_gap_ms" -> counters.uncoveredMs(wall0, System.currentTimeMillis()))
      spans += Span(opId, id, parent, name, layer, phase, start - t0Ns, end - t0Ns, counts)
    }
    (result, (end - start) / 1e6)
  }

  /** Like [[call]] for a call whose time is not reported on its own. */
  def span[T](name: String, layer: String)(body: => T): T = call(name, layer)(body)._1

  /** Self time per layer over the spans of `phase`: each span's duration
    * minus the time its direct children cover (they run one after another). */
  def selfMsByLayer(phase: String): Map[String, Double] = {
    val ss = spans.filter(_.phase == phase)
    val childMs = ss.groupBy(_.parentId).map { case (p, cs) => p -> cs.map(_.durMs).sum }
    ss.groupBy(_.layer).map { case (layer, group) =>
      layer -> group.map(s => s.durMs - childMs.getOrElse(s.spanId, 0.0)).sum
    }
  }

  def writeSpans(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(Json.write(Map("op_id" -> s.opId, "span_id" -> s.spanId, "parent_id" -> s.parentId,
        "name" -> s.name, "layer" -> s.layer, "phase" -> s.phase, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "counts" -> s.counts)))
    } finally w.close()
  }

  /** Top-level spans of `phase`: their counts cover their children's. */
  def topLevel(phase: String): Seq[Span] = spans.filter(s => s.parentId == 0 && s.phase == phase).toSeq
}

/** Minimal JSON writer for the benchmark's own output (maps, sequences,
  * numbers, strings, booleans). */
object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(write).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}
