package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Whole MinHash signature in ONE per-row expression:
  * `minhash_sig(text, n, numHashes)` → `array<long>`.
  *
  * Semantics identical to the explode → stableHash31 → 32-way min-aggregate
  * pipeline (`graft.operators.DedupTwins.minhashSigsAgg`, test code,
  * property-tested) and to the per-row higher-order form
  * (`graft.operators.DedupTwins.withMinhash`, test code):
  * for each word `n`-gram shingle (via [[WordShingles.shingle]] — a doc
  * shorter than n yields its whole text), h = md5-derived 60-bit
  * [[Hashing.stableHash]] mod P, and sig_k = min over shingles of
  * (a_k * h + b_k) mod P with the pinned [[Hashing.minhashCoeffs]].
  *
  * Why: the aggregate formulation shuffles one row per doc AND pays an
  * exchange + two HashAggregate levels; the higher-order form evaluates
  * interpreted (~6µs/element-op). This runs the whole
  * shingle → md5 → 32-permutation fold as one JIT-compiled loop per row —
  * the signature step of MinHash dedup becomes a NARROW map with zero
  * shuffle, which is the right plan at every corpus size.
  */
final case class MinhashSig(child: Expression, n: Int, numHashes: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType) TypeCheckResult.TypeCheckFailure(
      s"minhash_sig requires a string input, got ${child.dataType}")
    else if (n < 1 || numHashes < 1) TypeCheckResult.TypeCheckFailure(
      s"minhash_sig(text, n, numHashes) — need n >= 1 and numHashes >= 1")
    else TypeCheckResult.TypeCheckSuccess
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override def nullSafeEval(input: Any): Any =
    MinhashSig.sig(input.asInstanceOf[UTF8String], n, numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.MinhashSig.sig($c, $n, $numHashes)")

  override protected def withNewChildInternal(newChild: Expression): MinhashSig =
    copy(child = newChild)
}

object MinhashSig {
  import Hashing.P

  /** Coefficient arrays per numHashes, derived once from the pinned seed
    * (same values the oracle SQL generator embeds). */
  private val coeffCache =
    new java.util.concurrent.ConcurrentHashMap[Int, (Array[Long], Array[Long])]()
  private def coeffs(numHashes: Int): (Array[Long], Array[Long]) =
    coeffCache.computeIfAbsent(numHashes, k => {
      val cs = Hashing.minhashCoeffs(k)
      (cs.map(_._1).toArray, cs.map(_._2).toArray)
    })

  private val md5 = ThreadLocal.withInitial[MessageDigest](() =>
    MessageDigest.getInstance("MD5"))

  /** First 15 hex digits of md5(bytes) as a long — bit-identical to
    * `conv(substring(md5(s), 1, 15), 16, 10)` / DuckDB
    * `('0x' || substr(md5(s), 1, 15))::BIGINT`: 15 nibbles = the first
    * 8 digest bytes big-endian, low nibble of the 8th dropped. */
  def stableHash60(s: UTF8String): Long = {
    val d = md5.get().digest(s.getBytes)
    var h = 0L
    var j = 0
    while (j < 8) { h = (h << 8) | (d(j) & 0xffL); j += 1 }
    h >>> 4
  }

  /** Static helper the generated code calls: one fused loop per row. */
  def sig(s: UTF8String, n: Int, numHashes: Int): ArrayData = {
    val (a, b) = coeffs(numHashes)
    val shingles = WordShingles.shingle(s, n)
    val out = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    val m = shingles.numElements()
    while (i < m) {
      val h = stableHash60(shingles.getUTF8String(i)) % P
      var k = 0
      while (k < numHashes) {
        val v = (a(k) * h + b(k)) % P
        if (v < out(k)) out(k) = v
        k += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Column-API entry point. */
  def apply(text: Column, n: Int, numHashes: Int): Column =
    Bridge.column(MinhashSig(Bridge.expression(text), n, numHashes))
}
