package graft.core

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import graft.functions.{ArrayDot, CharBigramCounts, CompressionRatio, HilbertIndex, MinhashSig, NgramCounts, QuantizeInt8, SegmentHashes, ShingleHashes, SimhashSig, TokenCounts, WordShingles}

/** Engine extensions registered through the sanctioned
  * `SparkSessionExtensions` hook (`spark.sql.extensions=graft.core.
  * GraftExtensions`, wired by [[Sessions.configure]]): makes the native
  * expressions first-class SQL functions, so `spark.sql("SELECT
  * word_shingles(text, 3) ...")` plans the same codegen'd operator the
  * DataFrame API uses — no separate SQL/DataFrame capability surface. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { f =>
      ext.injectFunction((
        new FunctionIdentifier(f.name),
        new ExpressionInfo(f.cls.getName, f.name),
        (args: Seq[Expression]) => f.build.applyOrElse(args,
          (_: Seq[Expression]) => throw new IllegalArgumentException(f.usage))))
    }
}

object GraftExtensions {
  /** One SQL function: its name, the expression it plans, the argument
    * shapes it accepts (anything else fails analysis with `usage`). */
  private[graft] final case class SqlFunction(name: String, cls: Class[_ <: Expression],
      build: PartialFunction[Seq[Expression], Expression], usage: String)

  private[graft] val functions: Seq[SqlFunction] = Seq(
    SqlFunction("word_shingles", classOf[WordShingles], {
      case Seq(text, Literal(n: Int, _)) if n >= 1 => WordShingles(text, n)
      case Seq(text) => WordShingles(text, 3)
    }, "word_shingles(text[, n]) — n must be an integer literal >= 1"),
    SqlFunction("array_dot", classOf[ArrayDot], {
      case Seq(a, b) => ArrayDot(a, b)
    }, "array_dot(a, b)"),
    SqlFunction("quantize_int8", classOf[QuantizeInt8], {
      case Seq(v) => QuantizeInt8(v)
    }, "quantize_int8(vec)"),
    SqlFunction("minhash_sig", classOf[MinhashSig], {
      case Seq(text, Literal(n: Int, _), Literal(k: Int, _)) => MinhashSig(text, n, k)
      case Seq(text) => MinhashSig(text, 3, 32)
    }, "minhash_sig(text[, n, numHashes]) — n/numHashes integer literals"),
    SqlFunction("token_counts", classOf[TokenCounts], {
      case Seq(text) => TokenCounts(text)
    }, "token_counts(text)"),
    SqlFunction("char_bigram_counts", classOf[CharBigramCounts], {
      case Seq(text) => CharBigramCounts(text)
    }, "char_bigram_counts(text)"),
    SqlFunction("hilbert_index", classOf[HilbertIndex], {
      case Seq(a, b, Literal(bits: Int, _)) => HilbertIndex(a, b, bits)
      case Seq(a, b) => HilbertIndex(a, b, 16)
    }, "hilbert_index(a, b[, bits]) — bits an integer literal in [1, 31]"),
    SqlFunction("shingle_hashes", classOf[ShingleHashes], {
      case Seq(text, Literal(n: Int, _)) if n >= 1 => ShingleHashes(text, n)
      case Seq(text) => ShingleHashes(text, 3)
    }, "shingle_hashes(text[, n]) — n must be an integer literal >= 1"),
    SqlFunction("segment_hashes", classOf[SegmentHashes], {
      case Seq(text, Literal(w: Int, _)) if w >= 1 => SegmentHashes(text, w)
      case Seq(text) => SegmentHashes(text, 8)
    }, "segment_hashes(text[, w]) — w must be an integer literal >= 1"),
    SqlFunction("simhash_sig", classOf[SimhashSig], {
      case Seq(text) => SimhashSig(text, graft.operators.Dedup.SimhashBits)
      case Seq(text, Literal(b: Int, _)) => SimhashSig(text, b)
    }, "simhash_sig(text[, bits]) — bits an integer literal in [1, 60]"),
    SqlFunction("compression_ratio", classOf[CompressionRatio], {
      case Seq(text) => CompressionRatio(text)
    }, "compression_ratio(text)"),
    SqlFunction("ngram_counts", classOf[NgramCounts], {
      case Seq(text, Literal(n: Int, _)) if n >= 1 => NgramCounts(text, n)
      case Seq(text) => NgramCounts(text, 2)
    }, "ngram_counts(text[, n]) — n must be an integer literal >= 1"))
}
