package graft

import java.nio.file.{Files, Paths}

import graft.sinks.Warehouse
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** Compaction keeps the lexical form of all-digit source names. The
  * corpus has the shape of SinksSpec's all-digit retract corpus, two
  * SDF files named `00123` and `00999`, built from
  * [[SdfScaleBench.generate]] output (CIDs 1-5 and 6-10). Partition
  * inference on a plain parquet read would narrow `00123` to the
  * integer 123 and rewrite the partition as `src_filename=123`, while
  * the manifest still names `00123`. */
class CompactDigitSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("compact keeps all-digit partitions: lookup and retract still find the rows") {
    val gen = Paths.get(SdfScaleBench.generate(
      Files.createTempDirectory("graft_digit_gen").toString, 2, 5)).getParent
    val src = Files.createTempDirectory("graft_digit_compact_src")
    Files.copy(gen.resolve("Compound_00000.sdf"), src.resolve("00123"))
    Files.copy(gen.resolve("Compound_00001.sdf"), src.resolve("00999"))
    val wh = Files.createTempDirectory("graft_wh_digit_compact").toString
    assert(Warehouse.ingest(spark, s"$src/*", wh).rowsLoaded == 10L)
    Warehouse.compact(spark, wh)

    val dataDir = new Path(Warehouse.compoundsDir(wh))
    val fs = dataDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(dataDir).filter(_.isDirectory).map(_.getPath.getName).sorted.toSeq
    assert(parts == Seq("src_filename=00123", "src_filename=00999"))
    assert(Warehouse.lookup(spark, wh, 2L).count() == 1L, "compacted row not found by lookup")
    assert(Warehouse.lookup(spark, wh, 7L).count() == 1L, "compacted row not found by lookup")

    val res = Warehouse.retract(spark, wh, Seq(2L))
    assert(res.partitionsRewritten == Seq("00123") && res.rowsRetracted == 1L)
    assert(Warehouse.lookup(spark, wh, 2L).isEmpty, "retracted cid still served")
    assert(Warehouse.compounds(spark, wh).count() == 9L)
  }
}
