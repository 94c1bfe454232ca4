package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.GraftQuery

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The analytics suite: a fixed, named list of registry entries, each
  * drained with `queryExecution.toRdd.count()` as graft.Bench does, and
  * checked against the row count and content hash recorded in
  * suite_expected.json. */
object Suite {
  /** Registry modules by name, so each entry's time is charged to the
    * module that implements it. The SDF entries are not in the suite. */
  val Modules: Seq[(String, Seq[GraftQuery])] = Seq(
    "Relational" -> graft.operators.Relational.queries,
    "TextOps" -> graft.operators.TextOps.queries,
    "Pack" -> graft.operators.Pack.queries,
    "Bpe" -> graft.operators.Bpe.queries,
    "Dedup" -> graft.operators.Dedup.queries,
    "Curation" -> graft.operators.Curation.queries,
    "Retract" -> graft.operators.Retract.queries,
    "Similarity" -> graft.operators.Similarity.queries,
    "ZOrder" -> graft.sinks.ZOrder.queries,
    "Streams" -> graft.streaming.Streams.queries,
    "Multimodal" -> graft.multimodal.Multimodal.queries)

  /** The entries graft.Bench warms the JVM with before timing. */
  private val Warmup = Seq("q1_agg", "q_median", "q_events_tumbling")
  private val SetupRepeats = 5

  final case class Expected(name: String, rows: Long, hash: String)

  def moduleOf(name: String): String =
    Modules.collectFirst { case (m, qs) if qs.exists(_.name == name) => m }.getOrElse("unknown")

  def loadExpected(path: String): Seq[Expected] = {
    val root = new ObjectMapper().readTree(Paths.get(path).toFile)
    root.get("entries").elements().asScala.map(e =>
      Expected(e.get("name").asText(), e.get("rows").asLong(), e.get("hash").asText())).toSeq
  }

  private def entries(expected: Seq[Expected]): Seq[(Expected, GraftQuery)] = {
    val registry = graft.Registry.all.map(q => q.name -> q).toMap
    val missing = expected.map(_.name).filterNot(registry.contains)
    require(missing.isEmpty, s"suite entries missing from graft.Registry: ${missing.mkString(", ")}")
    expected.map(e => e -> registry(e.name))
  }

  /** Drains the entry's own physical plan once, as graft.Bench's
    * `toRdd.count()` does, folding an order-independent content hash into
    * the same pass: (rows, hash). */
  def drain(run: Run, q: GraftQuery): (Long, Long) = {
    val df = q.run(run.spark, run.args.data)
    val schema = df.schema
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      var n, h = 0L
      it.foreach { r => n += 1; h += RowHash.row(r, schema) }
      Iterator.single((n, h))
    }.collect()
    if (run.rec.traced) run.rec.counters.addPhases(df.queryExecution)
    (parts.map(_._1).sum, parts.map(_._2).sum)
  }

  private def suitePass(run: Run, suite: Seq[(Expected, GraftQuery)]): Unit =
    for ((e, q) <- suite) {
      run.spark.catalog.clearCache()
      val module = moduleOf(e.name)
      run.op("entry_ms", e.name, module)(drain(run, q)) { case (rows, hash) =>
        if (rows == e.rows && hash.toString == e.hash) None
        else Some(s"$rows rows hash $hash, expected ${e.rows} rows hash ${e.hash}")
      }.foreach { _ =>
        val ms = run.samples(run.tag + "entry_ms").last
        run.add(s"entry.${e.name}", ms)
        run.add(s"module.$module", ms)
      }
    }

  /** Set-up warms the JVM with graft.Bench's warm-up entries, five times.
    * The measured pass is then every entry's first run in this JVM, which
    * prices codegen and the in-JVM memos; a traced run adds a second pass
    * for the warm state, and fails if no time is left for it. */
  def run(run: Run): Unit = {
    val spark = run.spark
    val suite = entries(loadExpected(run.args.expected))
    val registry = graft.Registry.queries
    for (_ <- 1 to SetupRepeats) {
      val t = System.nanoTime()
      Warmup.foreach { w =>
        run.op("setup_entry_ms", s"setup.$w", moduleOf(w))(registry(w)(spark, run.args.data).count())(_ => None)
      }
      run.add("setup_s", (System.nanoTime() - t) / 1e9)
    }
    // one pass whatever --seconds says: the limit of 0 stops after it
    run.passes("entry_ms", 50, 0.0)(_ => suitePass(run, suite))
    // the warm pass takes about 0.6 of the cold one (0.8 leaves a margin);
    // without it the per-module steady times would read 0
    val coldS = run.samples("pass_s").head
    if (run.rec.traced) {
      val needS = 0.8 * coldS + 5
      if (run.args.secondsLeft > needS) run.extraPass(suitePass(run, suite))
      else run.verify("warm pass")(Some(f"needs about $needS%.0f s, ${run.args.secondsLeft}%.0f s left"))
    }
  }

  /** Records the row count and content hash of every registry entry
    * outside the SDF module, which pins the suite's entry list. */
  def record(run: Run): Unit = {
    val sdf = graft.sources.SdfQueries.queries.map(_.name).toSet
    val rows = graft.Registry.all.filterNot(q => sdf(q.name)).sortBy(_.name).map { q =>
      val (count, hash) = drain(run, q)
      System.err.println(s"[perfbench] recorded ${q.name} rows=$count hash=$hash")
      Map("name" -> q.name, "rows" -> count, "hash" -> hash.toString)
    }
    Files.write(Paths.get(run.args.expected),
      rows.map(Json.write).mkString("{\"entries\": [\n", ",\n", "\n]}\n").getBytes("UTF-8"))
  }
}
