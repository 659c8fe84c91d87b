package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Content-defined chunking in ONE per-row expression:
  * `cdc_chunks(text, window, divisor)` →
  * `array<struct<start_tok, end_tok, chunk_hash>>` (1-based inclusive token
  * range per chunk, in document order).
  *
  * Boundary rule (the Rabin/Karp-style content cut of CDC dedup): token
  * position i (1-based, i >= window) ends a chunk iff the polynomial rolling
  * hash of the last `window` token hashes —
  * `fold(acc = 0; acc = (acc·257 + stableHash31(token)) mod P)` over
  * tokens[i−window+1 … i] — is ≡ 0 (mod divisor). The final position always
  * ends the last chunk. `chunk_hash` = stableHash31 of the chunk's tokens
  * re-joined with single spaces. Because boundaries depend only on local
  * CONTENT, a passage shifted by an insertion far away re-chunks
  * identically — the duplication that fixed-width segmenting
  * ([[SegmentHashes]]) structurally misses. Expected chunk length ≈
  * `divisor` · window-survival; tune `divisor` for the target granularity.
  *
  * Token split matches Spark's `split(text, " ")` (Java regex semantics:
  * consecutive spaces yield empty tokens, TRAILING empties drop, an empty
  * string yields [""]) — the same contract every shingle operator in this
  * repo already relies on against DuckDB's `str_split`.
  *
  * Why native: the declarative form recomputes an O(window) fold per
  * position (O(n·window) interpreted higher-order calls); this maintains a
  * true O(n) rolling window (subtract the outgoing hash's `257^window mod P`
  * term) in one JIT-compiled pass. The declarative twin
  * (`graft.operators.DedupTwins.cdcChunksDeclarative`, test code) is
  * property-tested equal; the DuckDB oracle replays the fold form exactly.
  */
final case class CdcChunks(child: Expression, window: Int, divisor: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType) TypeCheckResult.TypeCheckFailure(
      s"cdc_chunks requires a string input, got ${child.dataType}")
    else if (window < 1 || divisor < 1) TypeCheckResult.TypeCheckFailure(
      "cdc_chunks(text, window, divisor) — need window >= 1 and divisor >= 1")
    else TypeCheckResult.TypeCheckSuccess
  override def dataType: DataType = CdcChunks.Schema
  override def prettyName: String = "cdc_chunks"

  override def nullSafeEval(input: Any): Any =
    CdcChunks.chunks(input.asInstanceOf[UTF8String], window, divisor)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.CdcChunks.chunks($c, $window, $divisor)")

  override protected def withNewChildInternal(newChild: Expression): CdcChunks =
    copy(child = newChild)
}

object CdcChunks {
  import Hashing.P
  private val B = 257L

  val Schema: DataType = ArrayType(StructType(Seq(
    StructField("start_tok", LongType, nullable = false),
    StructField("end_tok", LongType, nullable = false),
    StructField("chunk_hash", LongType, nullable = false))),
    containsNull = false)

  /** Java `"…".split(" ")` semantics over the UTF-8 bytes: split at 0x20
    * (single-byte in UTF-8, never part of a multibyte char), drop TRAILING
    * empty tokens, empty input → one empty token. Returns (starts, ends)
    * byte offsets per token. */
  private def splitOffsets(raw: Array[Byte]): (Array[Int], Array[Int]) = {
    val starts = new scala.collection.mutable.ArrayBuffer[Int]()
    val ends = new scala.collection.mutable.ArrayBuffer[Int]()
    var tokStart = 0
    var i = 0
    while (i < raw.length) {
      if (raw(i) == ' ') { starts += tokStart; ends += i; tokStart = i + 1 }
      i += 1
    }
    starts += tokStart; ends += raw.length
    // Java split drops trailing empties (but not a lone empty for "")
    var n = starts.length
    while (n > 1 && starts(n - 1) == ends(n - 1)) n -= 1
    (starts.take(n).toArray, ends.take(n).toArray)
  }

  /** Static helper the generated code calls: one O(n) rolling pass. */
  def chunks(s: UTF8String, window: Int, divisor: Int): ArrayData = {
    val raw = s.getBytes
    val (starts, ends) = splitOffsets(raw)
    val n = starts.length
    val hs = new Array[Long](n)
    var i = 0
    while (i < n) {
      hs(i) = MinhashSig.stableHash60(
        UTF8String.fromBytes(raw, starts(i), ends(i) - starts(i))) % P
      i += 1
    }
    // 257^window mod P — the outgoing token's coefficient in the window fold
    var bw = 1L
    i = 0
    while (i < window) { bw = (bw * B) % P; i += 1 }
    val cuts = new scala.collection.mutable.ArrayBuffer[Int]()
    var acc = 0L
    i = 0
    while (i < n) {
      acc = (acc * B + hs(i)) % P
      if (i >= window) acc = ((acc - (hs(i - window) * bw) % P) % P + P) % P
      // position is 1-based; a window is complete from position `window` on
      if (i >= window - 1 && acc % divisor == 0) cuts += (i + 1)
      i += 1
    }
    if (cuts.isEmpty || cuts.last != n) cuts += n
    val out = new Array[Any](cuts.length)
    var k = 0
    var chunkStart = 1 // 1-based token position
    while (k < cuts.length) {
      val chunkEnd = cuts(k)
      // the chunk's raw byte span IS its tokens joined with single spaces
      // (every separator is exactly one 0x20 byte — we split at each), so
      // this hash equals concat_ws(' ', slice(toks, …)) / array_to_string
      // in the declarative twin and the oracle, with zero re-join copying
      val from = starts(chunkStart - 1)
      val h = MinhashSig.stableHash60(
        UTF8String.fromBytes(raw, from, ends(chunkEnd - 1) - from)) % P
      out(k) = new GenericInternalRow(
        Array[Any](chunkStart.toLong, chunkEnd.toLong, h))
      chunkStart = chunkEnd + 1
      k += 1
    }
    new GenericArrayData(out)
  }

  /** Column-API entry point. */
  def apply(text: Column, window: Int, divisor: Int): Column =
    Bridge.column(CdcChunks(Bridge.expression(text), window, divisor))
}
