package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.util.sketch.CountMinSketch

/** Typed `Column` builders for graft's native kernels — the one way
  * graft code calls a kernel.
  *
  * Each builder takes its data arguments as `Column`s and its
  * plan-time constants (n, k, perms, nbits, codec, sketch, ...) as
  * plain Scala values, and builds the Catalyst node directly through
  * [[org.apache.spark.sql.graftbridge.ColumnBridge]]. The resolved
  * plan is the one the SQL call builds: every kernel's `prettyName`
  * is its SQL name. A builder needs no function registry, so calling
  * one never touches the session's catalog, and a misspelled kernel
  * is a compile error.
  *
  * SQL users reach the 15 kernels of [[GraftFunctions.all]] by name:
  * `GraftSession.local` registers them once per session, and
  * [[GraftExtensions]] injects them on a cluster. The last five
  * builders have no SQL name: three bind per-call state (a codec, a
  * centroid matrix, a sketch) that a session-global name cannot
  * scope, and the two pair kernels serve only their operators. */
object F {
  private def c(e: Expression): Column = ColumnBridge.column(e)
  private def e(c: Column): Expression = ColumnBridge.expression(c)

  /** 64-bit FNV-1a of the UTF-8 bytes ([[Fnv1a64]]). */
  def fnv1a64(s: Column): Column = c(Fnv1a64Expr(e(s)))

  /** Left-associative Σ a[i]*b[i] over two array<double> columns —
    * the same IEEE op sequence as the oracle's list_reduce, so
    * results are bit-identical across engines, but a plain Java loop
    * instead of Spark's interpreted higher-order functions.
    * (aggregate(zip_with(...)) is CodegenFallback, ~10x slower on
    * the pair join; an unrolled 64-term element_at chain blows past
    * codegen method limits, ~4x slower.) */
  def vecDot(a: Column, b: Column): Column = c(VecDotExpr(e(a), e(b)))

  /** Σ (a[i]-b[i])², same kernel treatment as [[vecDot]]. Built per
    * codeword by the PQ encoder (m x k nodes per plan): constructing
    * the node directly, rather than parsing an SQL string per
    * codeword, keeps plan construction out of the timed region. */
  def vecSqDist(a: Column, b: Column): Column = c(VecSqDistExpr(e(a), e(b)))

  /** LSH sign bits of an array<double> column, `nbits` of them. */
  def vecLshSign(v: Column, nbits: Int): Column = c(VecLshSignExpr(e(v), nbits))

  /** Distinct character `n`-gram shingles as strings (one Java loop;
    * the transform+array_distinct form interprets every substring
    * through CodegenFallback lambdas). */
  def shingles(text: Column, n: Int): Column = c(ShinglesExpr(e(text), n))

  /** Distinct hashed character `n`-gram shingles, array<long>. */
  def hashShingles(text: Column, n: Int): Column = c(HashShinglesExpr(e(text), n))

  /** Per-row minhash signature of one hashed-shingle array, `perms`
    * long values. Evaluates min over xxhash64(gh, k) for k in
    * [0, perms) on the same argument types as the batch path's
    * aggregate form, so the values are identical (spec-pinned);
    * callers drop empty shingle sets first, as the aggregate never
    * sees a row for them. */
  def minhashSig(ghs: Column, perms: Int): Column = c(MinhashSigExpr(e(ghs), perms))

  /** Single-space word bigrams of a text, array<string>. */
  def wordBigrams(text: Column): Column = c(WordBigramsExpr(e(text)))

  /** Hashes of every `k`-character window, array<long>. */
  def windowHashes(text: Column, k: Int): Column = c(WindowHashesExpr(e(text), k))

  /** The fused text statistics, array<long> (see
    * [[TextKernels.textStats]]): one code-point pass in place of a
    * stack of regexp_extract_all counts, which benched 3-19x behind
    * DuckDB's RE2. The regexes remain the definition — the oracles
    * run them and TextOpsSpec pins kernel == regex. CSE evaluates a
    * repeated call once per row of a collapsed projection. */
  def textStats(text: Column): Column = c(TextStatsExpr(e(text)))

  /** [emails, urls, phones] match counts, array<long>. */
  def piiCounts(text: Column): Column = c(PiiCountsExpr(e(text)))

  /** The text with every PII match replaced by its category token. */
  def piiRedact(text: Column): Column = c(PiiRedactExpr(e(text)))

  /** The BPE normalization: non-alphanumeric runs collapsed to one
    * space, then lowercased, in one pass. The regexp_replace form was
    * the dominant cost of the sf10 BPE bench row; the oracle keeps the
    * defining regex and BpeSpec pins kernel == regex. */
  def bpeClean(text: Column): Column = c(BpeCleanExpr(e(text)))

  /** The text with the `k`-windows at the sorted `positions` removed. */
  def stripDupWindows(text: Column, positions: Column, k: Int): Column =
    c(StripDupWindowsExpr(e(text), e(positions), k))

  /** Number of merged spans the `k`-windows at `positions` cover. */
  def dupSpanCount(positions: Column, k: Int): Column = c(DupSpanCountExpr(e(positions), k))

  /** BPE token count of a cleaned text under `codec`'s merges. */
  def bpeTokenCount(cleaned: Column, codec: BpeCodec): Column =
    c(BpeTokenCountExpr(e(cleaned), codec))

  /** The `p` nearest of the centroids `cents` (ids `cids`) to an
    * array<double> column, nearest first. */
  def topCells(v: Column, cids: Array[Int], cents: Array[Array[Double]], p: Int): Column =
    c(TopCellsExpr(e(v), cids, cents, p))

  /** The pairs of one cell's (vec_id, v, nrm) members whose cosine
    * reaches `threshold`. */
  def cellPairs(members: Column, threshold: Double): Column =
    c(CellPairsExpr(e(members), threshold))

  /** Generator of the (doc_a, doc_b, hamming) pairs within
    * `maxHamming` across two simhash blocks (a triangle when `same`). */
  def simhashPairs(ma: Column, mb: Column, same: Column, maxHamming: Int): Column =
    c(SimhashPairsGen(e(ma), e(mb), e(same), maxHamming))

  /** The PPJoin prefix of a hashed-shingle array at Jaccard `t`,
    * ranked by `sketch`'s global counts. The sketch binds per call:
    * a session-global function closing over it would let two
    * interleaved calls on different corpora analyze against the
    * wrong call's sketch. */
  def ppjoinPrefix(ghs: Column, sketch: CountMinSketch, t: Double): Column =
    c(PpjoinPrefixExpr(e(ghs), sketch, t))
}
