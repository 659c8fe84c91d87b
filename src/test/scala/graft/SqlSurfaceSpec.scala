package graft

import graft.core.TableRegistry

/** The SQL face of the engine: a reference-style user (CTE chains,
  * GROUP BY ordinals, lenient casts — everything S1 relies on) must be able
  * to point spark.sql at registry-registered tables and get the Glue-Spark
  * semantics the port assumes. */
class SqlSurfaceSpec extends SparkSpec {

  test("reference-style SQL: CTEs, ordinals, lenient casts over registry views") {
    TableRegistry.forDir(spark, sfDir)
    val df = spark.sql("""
      WITH li AS (
        SELECT l_returnflag, l_linestatus, CAST(l_quantity AS double) qty
        FROM lineitem WHERE l_quantity BETWEEN 10 AND 20
      )
      SELECT l_returnflag, l_linestatus, SUM(qty) AS sum_qty
      FROM li GROUP BY 1, 2 ORDER BY 1, 2""")
    assert(df.columns.toSeq == Seq("l_returnflag", "l_linestatus", "sum_qty"))
    assert(df.count() > 0)
  }

  test("ansi=false semantics the port depends on (S1 lenient casts)") {
    // bad cast → NULL, not error (F-2)
    assert(spark.sql("SELECT CAST('not a number' AS double)").head().isNullAt(0))
    // int implicitly coerced through substring (F-1, S1:255)
    assert(spark.sql("SELECT substring(202203, 1, 4)").head().getString(0) == "2022")
    // int / int → double (F-12)
    assert(spark.sql("SELECT 7 / 2").head().getDouble(0) == 3.5)
    // string money with separators via replace (F-3)
    assert(spark.sql("SELECT CAST(replace('12,345.60', ',', '') AS double)")
      .head().getDouble(0) == 12345.6)
  }

  test("custom expressions reachable from pure SQL") {
    assert(spark.sql("SELECT size(word_shingles('a b c d', 2))").head().getInt(0) == 3)
    assert(spark.sql("SELECT array_dot(array(1.0D, 2.0D), array(3.0D, 4.0D))")
      .head().getDouble(0) == 11.0)
    // signature expressions: SQL plans the same codegen'd operator the
    // DataFrame path uses — identical values by construction
    val viaSql = spark.sql(
      "SELECT minhash_sig('a b c d e', 3, 16), simhash_sig('a b c d e')").head()
    val viaDf = spark.range(1)
      .select(
        graft.functions.MinhashSig(
          org.apache.spark.sql.functions.lit("a b c d e"), 3, 16),
        graft.functions.SimhashSig(
          org.apache.spark.sql.functions.lit("a b c d e"),
          graft.operators.Dedup.SimhashBits)).head()
    assert(viaSql.getSeq[Long](0) == viaDf.getSeq[Long](0))
    assert(viaSql.getLong(1) == viaDf.getLong(1))
    // frequency/index expressions
    val r = spark.sql("""SELECT
        size(shingle_hashes('a b c d', 2)),
        size(token_counts('x y x')),
        size(char_bigram_counts('abc')),
        hilbert_index(CAST(0 AS BIGINT), CAST(0 AS BIGINT), 4)""").head()
    assert(r.getInt(0) == 3)  // 3 distinct 2-gram hashes
    assert(r.getInt(1) == 2)  // tokens x (tf 2), y (tf 1)
    assert(r.getInt(2) == 2)  // bigrams ab, bc
    assert(r.getLong(3) == 0L) // curve origin
    // segment hashes: 2 full 2-word segments of a 5-token doc (tail kept)
    val seg = spark.sql(
      "SELECT segment_hashes('a b c d e', 2), segment_hashes('a b', 2)").head()
    assert(seg.getSeq[Long](0).length == 2)
    assert(seg.getSeq[Long](0).head == seg.getSeq[Long](1).head,
      "same segment text must hash identically across docs")
  }

  // One row per registered SQL function: an explicit-argument SQL call,
  // the DataFrame constructor it must equal, and a call with a bad literal
  // or arity that must fail analysis with the function's usage text.
  private val sqlCases: Seq[(String, String, () => org.apache.spark.sql.Column, String)] = {
    import org.apache.spark.sql.functions.{array, lit}
    import graft.functions._
    val text = "a b c d e a b"
    Seq(
      ("word_shingles", s"word_shingles('$text', 2)",
        () => WordShingles(lit(text), 2), "word_shingles('a b c', 0)"),
      ("array_dot", "array_dot(array(1.0D, 2.0D), array(3.0D, 4.0D))",
        () => ArrayDot(array(lit(1.0), lit(2.0)), array(lit(3.0), lit(4.0))),
        "array_dot(array(1.0D))"),
      ("quantize_int8", "quantize_int8(array(0.5D, -1.0D, 0.25D))",
        () => QuantizeInt8(array(lit(0.5), lit(-1.0), lit(0.25))),
        "quantize_int8()"),
      ("minhash_sig", s"minhash_sig('$text', 3, 16)",
        () => MinhashSig(lit(text), 3, 16), "minhash_sig('a b c', 3)"),
      ("token_counts", s"token_counts('$text')",
        () => TokenCounts(lit(text)), "token_counts()"),
      ("char_bigram_counts", "char_bigram_counts('abcab')",
        () => CharBigramCounts(lit("abcab")), "char_bigram_counts()"),
      ("hilbert_index", "hilbert_index(CAST(3 AS BIGINT), CAST(5 AS BIGINT), 4)",
        () => HilbertIndex(lit(3L), lit(5L), 4), "hilbert_index(CAST(3 AS BIGINT))"),
      ("shingle_hashes", s"shingle_hashes('$text', 2)",
        () => ShingleHashes(lit(text), 2), "shingle_hashes('a b c', 0)"),
      ("segment_hashes", s"segment_hashes('$text', 2)",
        () => SegmentHashes(lit(text), 2), "segment_hashes('a b c', 0)"),
      ("simhash_sig", s"simhash_sig('$text', 32)",
        () => SimhashSig(lit(text), 32), "simhash_sig('a b c', 'x')"),
      ("compression_ratio", s"compression_ratio('$text')",
        () => CompressionRatio(lit(text)), "compression_ratio()"),
      ("ngram_counts", s"ngram_counts('$text', 2)",
        () => NgramCounts(lit(text), 2), "ngram_counts('a', 0)"))
  }

  test("every registered SQL function has a surface case") {
    assert(sqlCases.map(_._1).sorted ==
      graft.core.GraftExtensions.functions.map(_.name).sorted)
  }

  for ((name, call, viaDf, bad) <- sqlCases) {
    test(s"SQL function $name: resolves, equals the DataFrame form, rejects bad arguments") {
      val usage = graft.core.GraftExtensions.functions.find(_.name == name).get.usage
      assert(spark.sql(s"SELECT $call").head().get(0) ==
        spark.range(1).select(viaDf()).head().get(0))
      val e = intercept[Exception](spark.sql(s"SELECT $bad").collect())
      assert(e.getMessage.contains(usage), s"unexpected: ${e.getMessage}")
    }
  }

  test("word_shingles rejects n < 1 at analysis time, not at runtime") {
    val e = intercept[Exception] {
      spark.sql("SELECT word_shingles('a b c', 0)").collect()
    }
    assert(e.getMessage.contains("n must be"), s"unexpected: ${e.getMessage}")
    val e2 = intercept[Exception] {
      spark.range(1).selectExpr("id")
        .select(graft.functions.WordShingles(
          org.apache.spark.sql.functions.lit("a b c"), -2)).collect()
    }
    assert(e2.getMessage.contains("n must be"), s"unexpected: ${e2.getMessage}")
  }
}
