package perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable
import scala.util.control.NonFatal

/** Command line of the benchmark JVM (run.py builds it).
  *
  * --workload  sdf_warehouse | analytics_suite | record_suite
  * --seed      workload seed (the inputs under --data were made from it)
  * --seconds   how long the measured passes run, at least
  * --trace     1 registers the listeners and records spans
  * --data      input directory (SDF corpus or suite tables)
  * --work      scratch directory for warehouses and staged state
  * --out       raw result JSON; spans go next to it as .spans.jsonl
  * --expected  the suite's recorded row counts and content hashes
  * --deadline  epoch seconds by which the run must end
  */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      data: String, work: String, out: String, expected: String,
                      deadline: Double) {
  def secondsLeft: Double = deadline - System.currentTimeMillis() / 1e3
}

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toDouble, get("trace") == "1",
      get("data"), get("work"), get("out"), m.getOrElse("expected", ""),
      m.get("deadline").map(_.toDouble).getOrElse(Double.PositiveInfinity))
  }
}

/** State of one benchmark run: the counts of attempted and failed
  * operations, the latency samples and the scalar values it reports. */
final class Run(val args: Args, val spark: SparkSession, val rec: Recorder) {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val values = mutable.LinkedHashMap.empty[String, Any]
  /** Prefix of the sample keys being recorded: "" while the measured
    * passes run, "extra." during a traced run's additional pass. */
  var tag = ""
  /** Summed wall time of the timed operations of the current pass. */
  private var passMs = 0.0

  def add(key: String, v: Double): Unit =
    samples.getOrElseUpdate(tag + key, mutable.ArrayBuffer.empty) += v

  def count(key: String): Int = samples.get(key).map(_.size).getOrElse(0)

  def fail(why: String): Unit = {
    failed += 1
    if (failures.size < 50) failures += why
    System.err.println(s"[perfbench] FAILED $why")
  }

  /** One timed, checked operation. An exception or a failed check counts
    * the operation as failed and records no time; otherwise its wall time
    * in ms goes to `sample` and, unless `inPass` is false, to the pass
    * time. `check` returns the reason a result is wrong. */
  def op[T](sample: String, name: String, layer: String, inPass: Boolean = true)(body: => T)(
      check: T => Option[String]): Option[T] = {
    attempted += 1
    try {
      val (r, ms) = rec.call(name, layer)(body)
      check(r) match {
        case None =>
          add(sample, ms)
          if (inPass) passMs += ms
          Some(r)
        case Some(why) => fail(s"$name: $why"); None
      }
    } catch { case NonFatal(e) => fail(s"$name: $e"); None }
  }

  /** Untimed check of state between operations; a mismatch is a failed op. */
  def verify(name: String)(check: => Option[String]): Unit = {
    attempted += 1
    try check.foreach(why => fail(s"$name: $why"))
    catch { case NonFatal(e) => fail(s"$name: $e") }
  }

  /** Runs passes until `args.seconds` have passed and the passes hold at
    * least `minSamples` samples of `primary` (or `limitS` has passed).
    * A pass's time is the sum of its timed operations, so checks and
    * clean-up between them do not count. Records pass_s per pass and the
    * number of passes. */
  def passes(primary: String, minSamples: Int, limitS: Double)(pass: Int => Unit): Unit = {
    rec.phase = "measure"
    val s0 = System.nanoTime()
    var i = 0
    def elapsed = (System.nanoTime() - s0) / 1e9
    while (i == 0 || ((elapsed < args.seconds || count(primary) < minSamples) && elapsed < limitS)) {
      passMs = 0.0
      pass(i)
      add("pass_s", passMs / 1e3)
      i += 1
    }
    values("passes") = i
    rec.phase = "after"
  }

  /** A traced run's additional pass, recorded under the "extra." prefix
    * and kept out of every end-to-end metric. */
  def extraPass(pass: => Unit): Unit = {
    tag = "extra."
    rec.phase = "extra"
    pass
    tag = ""
    rec.phase = "after"
  }
}

object Main {
  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = graft.GraftSession.local(cores)
    val rec = new Recorder(spark, args.trace)
    val run = new Run(args, spark, rec)
    run.values("cores") = cores
    try {
      args.workload match {
        case "sdf_warehouse" => SdfWorkloads.warehouse(run)
        case "analytics_suite" => Suite.run(run)
        case "record_suite" => Suite.record(run)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      spark.catalog.clearCache()
      run.values("heap_retained_mb") = retainedHeapMb()
      if (args.trace) {
        Layers.report(run)
        rec.writeSpans(args.out.stripSuffix(".json") + ".spans.jsonl")
      }
      val out = Map("workload" -> args.workload, "seed" -> args.seed, "traced" -> args.trace,
        "attempted" -> run.attempted, "failed" -> run.failed, "failures" -> run.failures,
        "samples" -> run.samples, "values" -> run.values)
      java.nio.file.Files.write(java.nio.file.Paths.get(args.out),
        Json.write(out).getBytes("UTF-8"))
    } finally {
      spark.sparkContext.setLogLevel("OFF")
      spark.stop()
    }
  }

  /** Heap still in use after full collections: what memos and caches keep. */
  private def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(200) }
    (rt.totalMemory() - rt.freeMemory()) / (1024.0 * 1024.0)
  }
}
