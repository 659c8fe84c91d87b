package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Hashing
import Dedup.{shingles, tokens, SimhashBits}

/** The built-in-operator reference twins of [[Dedup]]'s fused signature,
  * shingling and chunking expressions. Nothing in the program calls them:
  * each is the semantic oracle its fast path is property-tested against,
  * so they live with the tests. */
object DedupTwins {
  import Hashing.P

  /** The same shingling expressed purely with built-in higher-order functions
    * (interpreted → ~30× slower per shingle; kept as the semantic oracle). */
  def shinglesDeclarative(text: Column, n: Int): Column = {
    val t = tokens(text)
    transform(
      sequence(lit(1), greatest(size(t) - (n - 1), lit(1))),
      i => concat_ws(" ", slice(t, i, lit(n))))
  }

  /** MinHash signature over an already-hashed shingle array:
    * sig_i = min over shingles of (a_i * h + b_i) mod P. Keep the md5-based
    * shingle hashing in a separate materialized column ([[withMinhash]]) —
    * inlining it here would recompute every md5 numHashes times. */
  def minhashOfHashes(shingleHashes: Column, numHashes: Int): Column =
    array(Hashing.minhashCoeffs(numHashes).map { case (a, b) =>
      array_min(transform(shingleHashes, h => (lit(a) * h + lit(b)) % lit(P)))
    }: _*)

  /** Adds a MinHash signature column — entirely within the row via higher-order
    * functions: NO explode, NO shuffle. The shingle-hash array is materialized
    * once per row (`_hs`) so each of the numHashes permutations reuses it. */
  def withMinhash(df: DataFrame, textCol: String, out: String,
      shingleSize: Int, numHashes: Int): DataFrame =
    df.withColumn("_hs",
        transform(shingles(col(textCol), shingleSize), s => Hashing.stableHash31(s)))
      .withColumn(out, minhashOfHashes(col("_hs"), numHashes))
      .drop("_hs")

  /** The same signatures via explode → codegen'd hash → numHashes-way min
    * aggregate — the built-in-operator twin [[Dedup.minhashSigs]] must always agree
    * with (property-tested). Costs an exchange + two HashAggregate levels;
    * kept as the semantic oracle and as the fallback shape for engines
    * without expression extension points. */
  def minhashSigsAgg(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, numHashes: Int): DataFrame = {
    val aggs = Hashing.minhashCoeffs(numHashes).zipWithIndex.map {
      case ((a, b), i) => min((lit(a) * col("h") + lit(b)) % lit(P)).as(s"_s$i")
    }
    df.select(col(idCol).as("id"),
        explode(shingles(col(textCol), shingleSize)).as("sh"))
      .select(col("id"), Hashing.stableHash31(col("sh")).as("h"))
      .groupBy(col("id"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("id"), array((0 until numHashes).map(i => col(s"_s$i")): _*).as("sig"))
  }

  /** SimHash over word unigrams: bit b of the signature is the sign of
    * Σ_tokens (2*bit_b(h(token)) - 1). Per-row higher-order fold — narrow, no
    * shuffle, token hashes materialized once in `_th`. Interpreted eval; for
    * corpora where that dominates use [[Dedup.simhashSigs]]. */
  def withSimhash(df: DataFrame, textCol: String, out: String): DataFrame = {
    val hashed = df.withColumn("_th",
      transform(tokens(col(textCol)), t => Hashing.stableHash(t)))
    val sig = (0 until SimhashBits).map { b =>
      val bitSum = aggregate(col("_th"), lit(0L),
        (s, h) => s + shiftright(h, b).bitwiseAND(lit(1L)) * 2 - 1)
      when(bitSum > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    hashed.withColumn(out, sig).drop("_th")
  }

  /** The same signatures via explode → codegen'd md5 → 32 bit-sum
    * aggregates — the built-in-operator twin [[Dedup.simhashSigs]] must always
    * agree with (property-tested). The shuffle carries ONLY (id, 32 longs)
    * per doc with map-side partial aggregation; kept as the semantic oracle
    * / no-extension-point fallback. Returns (idCol, out). */
  def simhashSigsAgg(df: DataFrame, idCol: String, textCol: String,
      out: String = "simhash"): DataFrame = {
    val bitAggs = (0 until SimhashBits).map { b =>
      sum(shiftright(col("_h"), b).bitwiseAND(lit(1L)) * 2 - 1).as(s"_b$b")
    }
    val packed = (0 until SimhashBits).map { b =>
      when(col(s"_b$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    df.select(col(idCol), explode(tokens(col(textCol))).as("_t"))
      .select(col(idCol), Hashing.stableHash(col("_t")).as("_h"))
      .groupBy(col(idCol))
      .agg(bitAggs.head, bitAggs.tail: _*)
      .select(col(idCol), packed.as(out))
  }

  /** The same chunking expressed with built-in higher-order functions — the
    * O(n·window) interpreted twin [[Dedup.cdcChunks]] must always agree with
    * (property-tested); kept as the semantic oracle and the
    * no-extension-point fallback shape. */
  def cdcChunksDeclarative(df: DataFrame, idCol: String, textCol: String,
      window: Int = 8, divisor: Int = 16): DataFrame = {
    import Hashing.P
    val B = 257L
    val toks = tokens(col("_text"))
    val hs = transform(toks, t => Hashing.stableHash31(t))
    // fold over the w-token window ending at 1-based position i
    def roll(i: Column) = aggregate(
      slice(hs, (i - window + 1).cast("int"), lit(window)), lit(0L),
      (acc, h) => (acc * B + h) % P)
    // guard: Spark's sequence(a, b) runs DESCENDING when b < a (DuckDB's
    // range is empty) — a doc shorter than the window has no boundary slots
    val positions = when(size(toks) >= window,
      sequence(lit(window.toLong), size(toks).cast("long")))
      .otherwise(array().cast("array<long>"))
    val bpos = filter(positions, i => roll(i) % divisor === 0)
    val ends = when(
      coalesce(element_at(bpos, -1), lit(-1L)) === size(toks).cast("long"),
      bpos).otherwise(concat(bpos, array(size(toks).cast("long"))))
    df.select(col(idCol).as("id"), col(textCol).as("_text"))
      .withColumn("_ends", ends)
      .select(col("id"), col("_text"),
        posexplode(transform(col("_ends"), (e, k) => struct(
          when(k === 0, lit(1L))
            .otherwise(element_at(col("_ends"), k) + 1).as("start_tok"),
          e.as("end_tok")))))
      .select(col("id"), col("pos").cast("long").as("chunk_idx"),
        col("col.start_tok").as("start_tok"), col("col.end_tok").as("end_tok"),
        Hashing.stableHash31(concat_ws(" ",
          slice(tokens(col("_text")), col("col.start_tok").cast("int"),
            (col("col.end_tok") - col("col.start_tok") + 1).cast("int"))))
          .as("chunk_hash"))
  }
}
