package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftshim.Bridge
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Whole SimHash signature in ONE per-row expression:
  * `simhash_sig(text)` → long ([[graft.operators.Dedup.SimhashBits]]-bit).
  *
  * Semantics identical to the explode → stableHash → 32 bit-sum aggregates
  * pipeline (`graft.operators.DedupTwins.simhashSigsAgg`, test code,
  * property-tested) and the per-row higher-order fold
  * (`graft.operators.DedupTwins.withSimhash`, test code):
  * tokens are single-space splits (empty tokens from doubled spaces
  * included, matching `split(text, ' ')`), each hashed with the md5-derived
  * 60-bit [[Hashing.stableHash]]; bit b of the signature is set iff
  * Σ_tokens (2*bit_b(h) - 1) > 0.
  *
  * Why: the aggregate form costs an exchange + two HashAggregate levels per
  * signature build; this is a narrow JIT-compiled per-row loop — zero
  * shuffle at any corpus size — feeding q20/q43/q49/q60's band joins.
  */
final case class SimhashSig(child: Expression, bits: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType) TypeCheckResult.TypeCheckFailure(
      s"simhash_sig requires a string input, got ${child.dataType}")
    else if (bits < 1 || bits > 60) TypeCheckResult.TypeCheckFailure(
      s"simhash_sig(text, bits) — need 1 <= bits <= 60 (stableHash provides 60)")
    else TypeCheckResult.TypeCheckSuccess
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_sig"

  override def nullSafeEval(input: Any): Any =
    SimhashSig.sig(input.asInstanceOf[UTF8String], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.SimhashSig.sig($c, $bits)")

  override protected def withNewChildInternal(newChild: Expression): SimhashSig =
    copy(child = newChild)
}

object SimhashSig {
  /** Static helper the generated code calls: split on single spaces (empty
    * tokens included — `split(text, ' ')` semantics), md5-hash each token,
    * accumulate per-bit ±1 counts, pack the sign bits. */
  def sig(s: UTF8String, bits: Int): Long = {
    val counts = new Array[Int](bits)
    val raw = s.getBytes // materialize backing bytes ONCE
    val bytes = raw.length
    var start = 0
    var i = 0
    while (i <= bytes) {
      if (i == bytes || raw(i) == ' '.toByte) {
        val h = MinhashSig.stableHash60(UTF8String.fromBytes(raw, start, i - start))
        var b = 0
        while (b < bits) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
        start = i + 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < bits) {
      if (counts(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** Column-API entry point. */
  def apply(text: Column, bits: Int): Column =
    Bridge.column(SimhashSig(Bridge.expression(text), bits))
}
