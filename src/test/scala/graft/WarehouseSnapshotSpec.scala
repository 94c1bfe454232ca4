package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import graft.sinks.Warehouse
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types.StringType
import org.scalatest.funsuite.AnyFunSuite

/** The warehouse's memoized manifest snapshot: warm point lookups and a
  * no-op re-ingest start no Spark job, every manifest write invalidates
  * the memo, and a span whose partition directory is gone reads empty.
  * The corpus comes from [[SdfScaleBench.generate]]: file `f` holds
  * CIDs `[5f + 1, 5f + 5]`, every record kept by the default layout. */
class WarehouseSnapshotSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val PerFile = 5
  /** More files than Spark's parallel partition-discovery threshold
    * (32), so a full-table listing of the warehouse would be a job. */
  private val ManyFiles = 40
  private lazy val corpus: IndexedSeq[Path] = {
    val root = Files.createTempDirectory("graft_snapshot_corpus").toString
    val glob = SdfScaleBench.generate(root, ManyFiles + 4, PerFile)
    val dir = Paths.get(glob).getParent
    (0 until ManyFiles + 4).map(f => dir.resolve(f"Compound_$f%05d.sdf"))
  }
  private def cidsOf(f: Int): Seq[Long] = (1 to PerFile).map(i => (PerFile * f + i).toLong)

  /** Hard-links corpus files `fs` into `landing` and returns its glob. */
  private def land(landing: Path, fs: Range): String = {
    Files.createDirectories(landing)
    fs.foreach(f => Files.createLink(landing.resolve(corpus(f).getFileName), corpus(f)))
    s"$landing/*.sdf"
  }

  /** `body`'s result and the number of Spark jobs it started. */
  private def jobs[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    org.apache.spark.GraftTestBridge.drainListenerBus(sc)
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val r = body
      org.apache.spark.GraftTestBridge.drainListenerBus(sc)
      (r, n.get)
    } finally sc.removeSparkListener(listener)
  }

  private def cids(wh: String, cid: Long): Seq[Long] =
    Warehouse.lookup(spark, wh, cid).collect().map(_.getAs[Long]("cid")).toSeq

  test("warm lookups start no Spark job: hit, miss inside a span, miss outside every span") {
    val root = Files.createTempDirectory("graft_snapshot_jobs")
    val glob = land(root.resolve("landing"), 0 until ManyFiles)
    val wh = root.resolve("wh").toString
    Warehouse.ingest(spark, glob, wh)
    val parts = new java.io.File(Warehouse.compoundsDir(wh)).listFiles().count(_.isDirectory)
    assert(parts == ManyFiles && parts > 32)
    // a CID retracted from the middle of file 7 leaves its span intact
    val gap = cidsOf(7)(2)
    Warehouse.retract(spark, wh, Seq(gap))
    val hit = cidsOf(23)(1)
    assert(cids(wh, hit) == Seq(hit)) // builds the snapshot

    val (df, hitJobs) = jobs(Warehouse.lookup(spark, wh, hit))
    assert(hitJobs == 0, "warm hit")
    val (rows, collectJobs) = jobs(df.collect())
    assert(collectJobs == 1, "the hit's scan is one job")
    assert(rows.map(_.getAs[Long]("cid")).toSeq == Seq(hit))
    val (inSpan, inSpanJobs) = jobs(Warehouse.lookup(spark, wh, gap))
    assert(inSpanJobs == 0, "warm miss inside a span")
    assert(inSpan.collect().isEmpty)
    val (outside, outsideJobs) = jobs(Warehouse.lookup(spark, wh, 1000000L))
    assert(outsideJobs == 0, "warm miss outside every span")
    assert(outside.collect().isEmpty)

    // same columns, same order as the compounds table; src_filename a string
    assert(df.columns.toSeq == Warehouse.compounds(spark, wh).columns.toSeq)
    assert(df.schema("src_filename").dataType == StringType)
    assert(rows.head.getAs[String]("src_filename") == "Compound_00023.sdf")

    // the skip set comes from the same snapshot
    val (noop, noopJobs) = jobs(Warehouse.ingest(spark, glob, wh))
    assert(noop == Warehouse.IngestResult(Nil, 0L))
    assert(noopJobs == 0, "no-op re-ingest over an unchanged manifest")
  }

  test("every manifest write invalidates the snapshot: a second ingest, a retract, reset and re-ingest") {
    val root = Files.createTempDirectory("graft_snapshot_memo")
    val landing = root.resolve("landing")
    val wh = root.resolve("wh").toString
    Warehouse.ingest(spark, land(landing, 0 until 4), wh)
    val late = cidsOf(5)(3)
    assert(cids(wh, late).isEmpty) // warm snapshot without file 5
    Warehouse.ingest(spark, land(landing, 4 until 6), wh)
    assert(cids(wh, late) == Seq(late), "a CID from the second ingest, on the first lookup after it")

    val gone = cidsOf(1)(0)
    assert(cids(wh, gone) == Seq(gone))
    Warehouse.retract(spark, wh, Seq(gone))
    assert(cids(wh, gone).isEmpty, "a retracted CID misses")

    Warehouse.reset(spark, wh)
    val e = intercept[IllegalArgumentException](Warehouse.lookup(spark, wh, late))
    assert(e.getMessage.contains(wh))
    val re = Warehouse.ingest(spark, s"$landing/*.sdf", wh)
    assert(re.filesLoaded.length == 6)
    assert(cids(wh, late) == Seq(late) && cids(wh, gone) == Seq(gone), "re-ingest after reset")
  }

  test("a stale span whose partition directory was deleted reads empty, not PATH_NOT_FOUND") {
    val root = Files.createTempDirectory("graft_snapshot_stale")
    val wh = root.resolve("wh").toString
    Warehouse.ingest(spark, land(root.resolve("landing"), 0 until 3), wh)
    val stale = cidsOf(1)(2)
    assert(cids(wh, stale) == Seq(stale))
    // the retract crash state: partition deleted, manifest row not yet repaired
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(Warehouse.compoundsDir(wh), "src_filename=Compound_00001.sdf"))
    assert(cids(wh, stale).isEmpty)
    assert(cids(wh, cidsOf(2)(0)) == Seq(cidsOf(2)(0)), "other spans still served")
  }

  test("ingest and ingestStream fail naming a glob that matches no file; an all-ingested glob is a no-op") {
    val root = Files.createTempDirectory("graft_snapshot_glob")
    val wh = root.resolve("wh").toString
    val empty = s"$root/nothing/*.sdf"
    val e = intercept[IllegalArgumentException](Warehouse.ingest(spark, empty, wh))
    assert(e.getMessage.contains(empty))
    val s = intercept[IllegalArgumentException](
      Warehouse.ingestStream(spark, empty, wh, root.resolve("ck").toString))
    assert(s.getMessage.contains(empty))
    assert(!Files.exists(Paths.get(Warehouse.manifestDir(wh))), "nothing written")

    val glob = land(root.resolve("landing"), 0 until 2)
    assert(Warehouse.ingest(spark, glob, wh).rowsLoaded == 2L * PerFile)
    assert(Warehouse.ingest(spark, glob, wh) == Warehouse.IngestResult(Nil, 0L))
  }

  test("a manifest past ManifestCollectMax keeps the distributed skip set and span prune") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    val root = Files.createTempDirectory("graft_snapshot_overflow")
    val wh = root.resolve("wh").toString
    // unrelated rows whose one-CID spans cover the real CIDs too: their
    // partitions do not exist, so only the real file may be read
    spark.range(Warehouse.ManifestCollectMax + 1L)
      .select(concat(lit("fake_"), col("id"), lit(".sdf")).as("filename"),
        col("id").as("lowest_cid"), col("id").as("highest_cid"),
        lit("2026-01-01").as("date_added"), lit(1L).as("n_compounds"))
      .write.parquet(Warehouse.manifestDir(wh))
    val glob = land(root.resolve("landing"), 0 until 2)
    assert(Warehouse.ingest(spark, glob, wh).rowsLoaded == 2L * PerFile)
    val hit = cidsOf(1)(4)
    assert(cids(wh, hit) == Seq(hit))
    assert(cids(wh, 3L * PerFile).isEmpty, "in a fake span only")
    assert(Warehouse.ingest(spark, glob, wh) == Warehouse.IngestResult(Nil, 0L))
  }
}
