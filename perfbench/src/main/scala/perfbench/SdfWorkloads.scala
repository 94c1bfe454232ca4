package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.sinks.Warehouse
import graft.sources.{LayoutSpec, Sdf}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

final case class Compound(cid: Long, inchikey: String, xlogp3: Option[Double],
                          exactMass: Double, formula: String, weight: Double)

final case class SdfFile(name: String, lowestCid: Long, highestCid: Long, generated: Long,
                         kept: Long, droppedCids: Seq[Long], sdfBytes: Long)

/** A corpus written by gen_sdf.py: the `.sdf.gz` files plus the
  * generator's expected.json (per file) and expected.tsv (one line per
  * record that survives extraction). */
final class Corpus(val dir: String) {
  val files: IndexedSeq[SdfFile] = {
    val root = new ObjectMapper().readTree(Paths.get(dir, "expected.json").toFile)
    root.get("files").elements().asScala.map { f =>
      SdfFile(f.get("name").asText(), f.get("lowest_cid").asLong(), f.get("highest_cid").asLong(),
        f.get("generated").asLong(), f.get("kept").asLong(),
        f.get("dropped_cids").elements().asScala.map(_.asLong()).toSeq, f.get("sdf_bytes").asLong())
    }.toIndexedSeq
  }
  val compounds: IndexedSeq[Compound] =
    Files.readAllLines(Paths.get(dir, "expected.tsv")).asScala.map { line =>
      val p = line.split("\t", -1)
      Compound(p(0).toLong, p(1), if (p(2).isEmpty) None else Some(p(2).toDouble),
        p(3).toDouble, p(4), p(5).toDouble)
    }.toIndexedSeq
  val byCid: Map[Long, Compound] = compounds.map(c => c.cid -> c).toMap

  def path(f: SdfFile): Path = Paths.get(dir, f.name)
  private val byFile: Map[String, IndexedSeq[Compound]] = files.map(f =>
    f.name -> compounds.filter(c => c.cid >= f.lowestCid && c.cid <= f.highestCid)).toMap
  def keptIn(fs: Seq[SdfFile]): IndexedSeq[Compound] = fs.flatMap(f => byFile(f.name)).toIndexedSeq
}

/** The `sdf_warehouse` workload: the reference product's lifecycle on
  * one seeded corpus. Files land in batches with pk lookups beside the
  * writes; a no-op re-ingest, compaction and the bucketed publish
  * follow; then a read-only mix of pk, InChIKey and SQL-scan queries;
  * and last a retraction of a few CIDs spanning two files. */
object SdfWorkloads extends AdaptiveSparkPlanHelper {
  private val Layout = LayoutSpec.default
  private val BucketedTable = "perfbench_compounds"
  /** Files of the first batch; the rest land in two equal batches. */
  private def batches(files: IndexedSeq[SdfFile]): Seq[IndexedSeq[SdfFile]] = {
    val first = files.size / 2
    val rest = files.drop(first)
    Seq(files.take(first), rest.take(rest.size / 2), rest.drop(rest.size / 2))
  }
  private val LookupsPerBatch = 20
  private val RetractPerFile = 4
  private val SetupRepeats = 5
  /** op_p80_ms needs ten samples beyond the 80th percentile. */
  private val MinSamples = 50
  /** Upper bound on the measured phase, so a run ends well inside the
    * benchmark's time limit even if the program slows down sharply. */
  private def measureLimit(run: Run) = math.max(run.args.seconds * 4, 60.0)

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))

  private def dirBytes(p: Path, suffix: String): (Long, Long) = {
    val fs = Files.walk(p).iterator().asScala.filter(f => Files.isRegularFile(f) &&
      f.getFileName.toString.endsWith(suffix)).toSeq
    (fs.size.toLong, fs.map(Files.size).sum)
  }

  private def countRows(run: Run, wh: String): Long =
    run.spark.read.parquet(Warehouse.compoundsDir(wh)).count()

  private def scans(df: DataFrame): Seq[FileSourceScanExec] =
    collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }

  /** pk lookup through the manifest-span prune, checked against the
    * generated record: a hit returns exactly its InChIKey, a miss nothing.
    * A set-up lookup's time and scan counts stay out of the measured ones. */
  private def lookupPk(run: Run, wh: String, cid: Long, expect: Option[String],
                       setup: Boolean = false): Unit = {
    run.op(if (setup) "setup_lookup_pk_ms" else "lookup_pk_ms", "lookup_pk", "bench") {
      val df = run.rec.span("Warehouse.lookup", "Warehouse")(Warehouse.lookup(run.spark, wh, cid))
      val rows = run.rec.span("Warehouse.lookup.collect", "spark_sql")(df.collect())
      if (run.rec.traced && !setup) {
        val ss = scans(df)
        run.add("lookup_files_read", ss.map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum.toDouble)
        run.add("lookup_rows_examined", ss.map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum.toDouble)
        run.add("lookup_hits", rows.length.toDouble)
      }
      rows
    } { rows =>
      val got = rows.map(_.getAs[String]("InChIKey")).toSeq
      if (got == expect.toSeq) None else Some(s"cid $cid returned $got, expected $expect")
    }
  }

  private def pick[T](rng: java.util.Random, xs: Seq[T]): T = xs(rng.nextInt(xs.size))

  /** A CID the warehouse must not return: one in a file not landed yet,
    * one NOT_NULL dropped, or one past the corpus. */
  private def missCid(rng: java.util.Random, corpus: Corpus, landed: Seq[SdfFile]): Long = {
    val notLanded = corpus.files.filterNot(landed.contains)
    val dropped = pick(rng, corpus.files).droppedCids
    rng.nextInt(3) match {
      case 0 if notLanded.nonEmpty =>
        val f = pick(rng, notLanded)
        f.lowestCid + rng.nextInt((f.highestCid - f.lowestCid + 1).toInt)
      case 1 if dropped.nonEmpty => pick(rng, dropped)
      case _ => corpus.files.last.highestCid + 1 + rng.nextInt(1000000)
    }
  }

  private def land(corpus: Corpus, fs: Seq[SdfFile], landing: Path): Unit = {
    Files.createDirectories(landing)
    fs.foreach(f => Files.createLink(landing.resolve(f.name), corpus.path(f)))
  }

  def warehouse(run: Run): Unit = {
    val spark = run.spark
    val corpus = new Corpus(run.args.data)
    val rng = new java.util.Random(run.args.seed)
    val work = Paths.get(run.args.work)
    // CIDs in the warehouse right now: a lookup of any other CID must miss
    val live = scala.collection.mutable.Set.empty[Long]
    def expect(cid: Long) = if (live.contains(cid)) corpus.byCid.get(cid).map(_.inchikey) else None
    val bs = batches(corpus.files)
    run.values("sdf_bytes") = corpus.files.map(_.sdfBytes).sum

    // Set-up: a one-file lifecycle in a fresh JVM, repeated; it warms the
    // code paths every pass uses, and its median is setup_s.
    for (k <- 1 to SetupRepeats) {
      val root = work.resolve(s"setup-$k")
      val wh = root.resolve("wh").toString
      val f = corpus.files.head
      land(corpus, Seq(f), root.resolve("landing"))
      val t = System.nanoTime()
      run.op("setup_ingest_ms", "setup.ingest", "Warehouse")(
        Warehouse.ingest(run.spark, s"${root.resolve("landing")}/*.sdf.gz", wh))(r =>
        if (r.rowsLoaded == f.kept) None else Some(s"loaded ${r.rowsLoaded}, expected ${f.kept}"))
      live ++= corpus.keptIn(Seq(f)).map(_.cid)
      val cid = pick(rng, corpus.keptIn(Seq(f))).cid
      lookupPk(run, wh, cid, expect(cid), setup = true)
      run.add("setup_s", (System.nanoTime() - t) / 1e9)
      live.clear()
      deleteTree(root)
    }

    run.passes("lookup_pk_ms", MinSamples, measureLimit(run)) { i =>
      val root = work.resolve(s"pass-$i")
      val landing = root.resolve("landing")
      val wh = root.resolve("wh").toString
      val glob = s"$landing/*.sdf.gz"
      var landed = IndexedSeq.empty[SdfFile]
      for ((batch, b) <- bs.zipWithIndex) {
        land(corpus, batch, landing)
        if (run.rec.traced) probeSources(run, corpus, batch, glob, wh)
        val rows = batch.map(_.kept).sum
        run.op(if (b == 0) "ingest_first_ms" else "ingest_incr_ms", "Warehouse.ingest", "Warehouse")(
          Warehouse.ingest(run.spark, glob, wh)) { r =>
          if (r.rowsLoaded != rows) Some(s"batch $b loaded ${r.rowsLoaded} rows, expected $rows")
          else if (r.filesLoaded.toSet != batch.map(_.name).toSet) Some(s"batch $b loaded files ${r.filesLoaded}")
          else None
        }
        run.add("ingest_rows", rows.toDouble)
        landed ++= batch
        live ++= corpus.keptIn(batch).map(_.cid)
        run.verify(s"rows after batch $b") {
          val n = countRows(run, wh)
          val want = landed.map(_.kept).sum
          if (n == want) None else Some(s"$n rows, expected $want")
        }
        // reads beside writes: half on the files just landed, the rest on
        // older files, one in ten a miss
        for (_ <- 1 to LookupsPerBatch) {
          val r = rng.nextInt(10)
          val cid =
            if (r == 0) missCid(rng, corpus, landed)
            else {
              val ks = corpus.keptIn(Seq(pick(rng, if (r <= 5 || b == 0) batch else landed.dropRight(batch.size))))
              pick(rng, ks).cid
            }
          lookupPk(run, wh, cid, expect(cid))
        }
      }
      val total = landed.map(_.kept).sum
      run.values("output_bytes") = dirBytes(Paths.get(Warehouse.compoundsDir(wh)), ".parquet")._2
      run.op("noop_ingest_ms", "Warehouse.ingest(no-op)", "Warehouse")(Warehouse.ingest(run.spark, glob, wh))(r =>
        if (r.filesLoaded.isEmpty && r.rowsLoaded == 0) None else Some(s"re-ingest loaded ${r.filesLoaded}"))

      val (filesBefore, _) = dirBytes(Paths.get(Warehouse.compoundsDir(wh)), ".parquet")
      run.op("compact_ms", "Warehouse.compact", "Warehouse")(Warehouse.compact(run.spark, wh))(n =>
        if (n > 0) None else Some(s"compact reported $n files"))
      val (filesAfter, bytesAfter) = dirBytes(Paths.get(Warehouse.compoundsDir(wh)), ".parquet")
      run.add("compact_files_before", filesBefore.toDouble)
      run.add("compact_files_after", filesAfter.toDouble)
      run.add("compact_bytes_rewritten", bytesAfter.toDouble)
      run.verify("rows after compact") {
        val n = countRows(run, wh)
        if (n == total) None else Some(s"$n rows, expected $total")
      }

      run.op("publish_bucketed_ms", "Warehouse.publishBucketed", "Warehouse")(
        Warehouse.publishBucketed(spark, wh, BucketedTable, key = "InChIKey"))(_ => None)
      Warehouse.compounds(spark, wh).createOrReplaceTempView("compounds")
      readMix(run, corpus, wh, rng)

      // takedown of a few CIDs spanning two files
      val hit = rng.ints(0, corpus.files.size).distinct().limit(2).toArray.toSeq.map(corpus.files(_))
      val cids = hit.flatMap { f =>
        val ks = corpus.keptIn(Seq(f))
        val start = rng.nextInt(ks.size - RetractPerFile)
        ks.slice(start, start + RetractPerFile).map(_.cid)
      }
      run.op("retract_ms", "Warehouse.retract", "Warehouse")(Warehouse.retract(run.spark, wh, cids)) { r =>
        if (r.rowsRetracted != cids.size) Some(s"retracted ${r.rowsRetracted}, expected ${cids.size}")
        else if (r.partitionsRewritten.size != 2) Some(s"rewrote ${r.partitionsRewritten}")
        else None
      }.foreach(r => run.add("retract_partitions_rewritten", r.partitionsRewritten.size.toDouble))
      live --= cids
      run.verify("rows after retract") {
        val n = countRows(run, wh)
        if (n == total - cids.size) None else Some(s"$n rows, expected ${total - cids.size}")
      }
      lookupPk(run, wh, cids.head, expect(cids.head))
      live.clear()
      deleteTree(root)
    }
  }

  /** Traced runs only: the source layer's public calls on the batch just
    * landed, timed and counted on their own (the ingest call runs them
    * again inside). */
  private def probeSources(run: Run, corpus: Corpus, batch: Seq[SdfFile], glob: String, wh: String): Unit = {
    val rec = run.rec
    rec.span("Warehouse.listSdfFiles", "Warehouse")(Warehouse.listSdfFiles(run.spark, glob))
    rec.span("Warehouse.manifest", "Warehouse") {
      val m = Warehouse.manifest(run.spark, wh)
      if (m.columns.nonEmpty) m.collect()
    }
    val paths = batch.map(f => corpus.path(f).toString)
    run.op("sources_extract_ms", "sources.extract", "sources", inPass = false) {
      val read = rec.span("Sdf.read", "sources")(Sdf.read(run.spark, paths))
      val records = rec.span("Sdf.read.count", "sources")(read.count())
      val kept = rec.span(Layers.ExtractSpan, "sources")(
        Sdf.filterNotNull(Sdf.extract(read, Layout), Layout).count())
      (records, kept)
    } { case (records, kept) =>
      run.add("sources_records_read", records.toDouble)
      run.add("sources_rows_kept", kept.toDouble)
      val wantRecords = batch.map(_.generated).sum
      val wantKept = batch.map(_.kept).sum
      if (records == wantRecords && kept == wantKept) None
      else Some(s"read $records records keeping $kept, expected $wantRecords and $wantKept")
    }
  }

  private sealed trait Query
  private case object PkHit extends Query
  private case object PkMiss extends Query
  private case object KeyHit extends Query
  private case object RangeAgg extends Query
  private case object TopK extends Query
  /** One pass of the lookup mix: fixed shares, order and targets seeded. */
  private val Mix: Seq[Query] =
    Seq.fill(36)(PkHit) ++ Seq.fill(4)(PkMiss) ++ Seq.fill(10)(KeyHit) ++
      Seq.fill(3)(RangeAgg) ++ Seq.fill(3)(TopK)

  /** One pass of the read-only mix on the compacted, published warehouse:
    * pk hits and misses, InChIKey lookups through the bucketed table, and
    * SQL scans over `compounds` (a range filter with a group-by aggregate,
    * and a top-k). Shares are fixed; order and targets come from `rng`. */
  private def readMix(run: Run, corpus: Corpus, wh: String, rng: java.util.Random): Unit = {
    val spark = run.spark
    val all = corpus.compounds
    val (lo, hi) = (all.head.cid, all.last.cid)
    val order = new java.util.ArrayList[Query](Mix.asJava)
    java.util.Collections.shuffle(order, rng)
    order.asScala.foreach {
      case PkHit =>
        val c = pick(rng, all)
        lookupPk(run, wh, c.cid, Some(c.inchikey))
      case PkMiss => lookupPk(run, wh, missCid(rng, corpus, corpus.files), None)
      case KeyHit =>
        val c = pick(rng, all)
        run.op("lookup_inchikey_ms", "lookup_inchikey", "bench") {
          val df = run.rec.span("Warehouse.lookupIndexed", "Warehouse")(
            Warehouse.lookupIndexed(spark, BucketedTable, "InChIKey", c.inchikey))
          val rows = run.rec.span("Warehouse.lookupIndexed.collect", "spark_sql")(df.collect())
          if (run.rec.traced) run.add("lookupIndexed_buckets_read", scans(df).map(s =>
            bucketsRead(s.metadata.getOrElse("SelectedBucketsCount", ""))).sum)
          rows
        } { rows =>
          val got = rows.map(_.getAs[Long]("cid")).toSeq
          if (got == Seq(c.cid)) None else Some(s"InChIKey ${c.inchikey} returned cids $got")
        }
      case RangeAgg =>
        val a = lo + rng.nextInt((hi - lo).toInt / 2)
        val b = a + (hi - lo) / 5
        val want = all.filter(c => c.cid >= a && c.cid <= b).groupBy(_.formula)
          .map { case (f, cs) => f -> (cs.size.toLong, cs.map(_.exactMass).max) }
        sqlScan(run, s"SELECT molecular_formula, count(*) AS n, max(exact_mass) AS mx " +
          s"FROM compounds WHERE cid BETWEEN $a AND $b GROUP BY molecular_formula") { rows =>
          val got = rows.map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
          if (got == want) None else Some(s"range [$a, $b]: ${got.size} groups, expected ${want.size}")
        }
      case TopK =>
        val x = -4.0 + rng.nextInt(100) / 10.0
        val want = all.filter(_.xlogp3.exists(_ >= x))
          .sortBy(c => (-c.weight, c.cid)).take(10).map(_.cid)
        sqlScan(run, s"SELECT cid, molecular_weight FROM compounds WHERE xlogp3 >= $x " +
          "ORDER BY molecular_weight DESC, cid LIMIT 10") { rows =>
          val got = rows.map(_.getLong(0)).toSeq
          if (got == want) None else Some(s"top-k at xlogp3 >= $x returned $got, expected $want")
        }
    }
  }

  private def sqlScan(run: Run, sql: String)(check: Array[Row] => Option[String]): Unit =
    run.op("sql_scan_ms", "sql_scan", "spark_sql")(run.spark.sql(sql).collect())(check)

  /** "1 out of 16" (the scan node's SelectedBucketsCount) to 1. */
  private def bucketsRead(s: String): Double =
    s.trim.split(" ").headOption.flatMap(_.toDoubleOption).getOrElse(0.0)
}
