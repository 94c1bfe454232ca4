package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Covers the cluster-deployment registration path: a session built
  * with `spark.sql.extensions=graft.functions.GraftExtensions` must
  * expose every native function WITHOUT any graft code running first
  * (no GraftSession, no operator entry points). The shared test
  * session only exercises the registry path, so this builds a fresh
  * SparkSession (reusing the JVM's SparkContext) and restores the
  * shared one afterwards. */
class ExtensionsSpec extends AnyFunSuite {
  test("spark.sql.extensions config registers every native function in a fresh session") {
    val shared = SparkTestSession.spark // ensure the context exists
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // withExtensions is the builder form of the static
      // `spark.sql.extensions=graft.functions.GraftExtensions` conf
      // (the conf path just Class.forName's the same class into this
      // hook; the static conf itself can't be re-set on a reused
      // test SparkContext)
      val fresh = SparkSession.builder()
        .master("local[2]")
        .withExtensions(new functions.GraftExtensions)
        .getOrCreate()
      assert(fresh ne shared, "builder returned the shared session — extensions path not exercised")
      val row = fresh.sql(
        """SELECT fnv1a64('a') AS h,
          |  vec_dot(array(1D, 2D), array(3D, 4D)) AS d,
          |  vec_sqdist(array(0D), array(3D)) AS sq,
          |  size(graft_shingles('abcdef', 3)) AS ns,
          |  size(graft_word_bigrams('a b c')) AS nb,
          |  size(vec_lsh_sign(array(1D, 2D), 4)) AS nl""".stripMargin).collect()(0)
      assert(row.getLong(0) == functions.Fnv1a64.hash("a"))
      assert(row.getDouble(1) == 11.0)
      assert(row.getDouble(2) == 9.0)
      assert(row.getInt(3) == 4) // abc bcd cde def
      assert(row.getInt(4) == 2) // "a b", "b c"
      assert(row.getInt(5) == 4)
    } finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }

  test("every SQL kernel through GraftExtensions equals its typed F builder") {
    import functions.F
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions.{lit, typedLit}
    val pii = "mail a@b.com, see http://x.org or 555-123-4567"
    val text = "Hello, World!! the cat sat; the cat sat 42"
    val cases: Seq[(String, String, Column)] = Seq(
      ("fnv1a64", s"fnv1a64('$text')", F.fnv1a64(lit(text))),
      ("vec_dot", "vec_dot(array(1D, 2D), array(3D, 4D))",
        F.vecDot(typedLit(Seq(1.0, 2.0)), typedLit(Seq(3.0, 4.0)))),
      ("vec_sqdist", "vec_sqdist(array(0D, 1D), array(3D, 5D))",
        F.vecSqDist(typedLit(Seq(0.0, 1.0)), typedLit(Seq(3.0, 5.0)))),
      ("graft_shingles", s"graft_shingles('$text', 3)", F.shingles(lit(text), 3)),
      ("graft_word_bigrams", s"graft_word_bigrams('$text')", F.wordBigrams(lit(text))),
      ("graft_window_hashes", s"graft_window_hashes('$text', 5)", F.windowHashes(lit(text), 5)),
      ("graft_hash_shingles", s"graft_hash_shingles('$text', 4)", F.hashShingles(lit(text), 4)),
      ("graft_minhash_sig", "graft_minhash_sig(array(11L, -7L, 3L), 8)",
        F.minhashSig(typedLit(Seq(11L, -7L, 3L)), 8)),
      ("graft_text_stats", s"graft_text_stats('$text')", F.textStats(lit(text))),
      ("graft_bpe_clean", s"graft_bpe_clean('$text')", F.bpeClean(lit(text))),
      ("graft_pii_counts", s"graft_pii_counts('$pii')", F.piiCounts(lit(pii))),
      ("graft_pii_redact", s"graft_pii_redact('$pii')", F.piiRedact(lit(pii))),
      ("graft_strip_dup_windows", s"graft_strip_dup_windows('$text', array(3, 20), 4)",
        F.stripDupWindows(lit(text), typedLit(Seq(3, 20)), 4)),
      ("graft_dup_span_count", "graft_dup_span_count(array(0, 2, 30), 4)",
        F.dupSpanCount(typedLit(Seq(0, 2, 30)), 4)),
      ("vec_lsh_sign", "vec_lsh_sign(array(1D, -2D, 0.5D), 6)",
        F.vecLshSign(typedLit(Seq(1.0, -2.0, 0.5)), 6)))
    assert(cases.map(_._1).sorted == functions.GraftFunctions.all.map(_._1).sorted,
      "every registered kernel needs a case here")
    FreshSession(Some(new functions.GraftExtensions)) { fresh =>
      cases.foreach { case (name, call, typed) =>
        assert(call.startsWith(name + "("))
        val viaSql = fresh.sql(s"SELECT $call AS r").head().get(0)
        val viaF = fresh.range(1).select(typed.as("r")).head().get(0)
        assert(viaSql != null, s"$name returned null")
        assert(viaSql == viaF, s"$name: SQL $viaSql vs F $viaF")
      }
    }
  }
}
