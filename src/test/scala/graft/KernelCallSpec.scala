package graft

import org.scalatest.funsuite.AnyFunSuite

/** Operators call graft's kernels through typed `functions.F`
  * columns, so running them must not depend on, or change, the
  * session's function registry. Each entry runs on a fresh session
  * that never saw `GraftSession.local` and must give the shared
  * session's result, and afterwards the fresh session still has no
  * graft function registered. */
class KernelCallSpec extends AnyFunSuite {
  private val dir = new RelationalSpec().dir // the corpus every registry spec runs on

  /** At least one kernel-calling entry per operator module. */
  private val entries = Seq(
    "text_pii", "text_fingerprint", "text_ngram_freq", // TextOps
    "pack_sequences", "pack_sequences_bpe",            // Pack
    "dedup_ngram_jaccard", "dedup_simhash",            // Dedup
    "dedup_substring_clean",
    "curate_pipeline",                                 // Curation
    "retract_substring_profile",                       // Retract
    "ann_topk_lsh", "ann_ivf", "dedup_semantic",       // Similarity
    "stream_shard_assign", "stream_curate_gate")       // Streams

  private def rows(spark: org.apache.spark.sql.SparkSession, name: String): Seq[String] =
    Registry.queries(name)(spark, dir).collect().map(_.toString).toSeq.sorted

  test("operators run on a session with no graft functions and leave its registry alone") {
    val expected = entries.map(n => n -> rows(SparkTestSession.spark, n)).toMap
    FreshSession() { fresh =>
      assert(!fresh.catalog.functionExists("graft_text_stats"))
      entries.foreach { n =>
        assert(rows(fresh, n) == expected(n), s"$n differs on a fresh session")
      }
      assert(!fresh.catalog.functionExists("graft_text_stats"))
      assert(!fresh.catalog.functionExists("vec_dot"))
    }
  }
}
