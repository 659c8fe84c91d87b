package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.operators.{Dedup, DedupTwins}

/** The native WordShingles expression must agree with the declarative
  * built-in composition on every input (including empty strings, doubled
  * spaces, unicode, and docs shorter than n). */
class WordShinglesSpec extends SparkSpec {

  private def both(texts: Seq[String], n: Int): Unit = {
    import spark.implicits._
    val df = texts.toDF("text")
    val got = df.select(Dedup.shingles(col("text"), n)).collect().map(_.getSeq[String](0))
    val want = df.select(DedupTwins.shinglesDeclarative(col("text"), n)).collect()
      .map(_.getSeq[String](0))
    assert(got.toSeq == want.toSeq)
  }

  test("fixed edge cases match the declarative twin") {
    both(Seq(
      "a b c d e",
      "one",
      "two words",
      "exactly three words",
      "",            // empty text → one empty-string shingle
      " ",           // two empty tokens
      "a  b",        // doubled space → empty middle token
      "tab\tis one token here ok",
      "ünïcödé wörds häppen töö ünïcödé wörds",
      "trailing space ", "x " * 50), n = 3)
    both(Seq("a b c d", "q"), n = 2)
    both(Seq("a b c d", "q"), n = 5)
  }

  test("property: random token streams agree for n in 2..5") {
    val rnd = new scala.util.Random(7)
    def word() = rnd.alphanumeric.take(1 + rnd.nextInt(8)).mkString
    def text() = Seq.fill(rnd.nextInt(12))(word()).mkString(" ")
    (2 to 5).foreach { n =>
      both(Seq.fill(40)(text()), n)
    }
  }

  test("registered as a SQL function via SparkSessionExtensions") {
    import spark.implicits._
    Seq(("a b c d")).toDF("text").createOrReplaceTempView("ws_sql_t")
    val got = spark.sql("SELECT word_shingles(text, 3) AS s FROM ws_sql_t")
      .head().getSeq[String](0)
    assert(got == Seq("a b c", "b c d"))
    // default n = 3
    assert(spark.sql("SELECT word_shingles(text) FROM ws_sql_t")
      .head().getSeq[String](0) == Seq("a b c", "b c d"))
  }

  test("codegen path active: shingle count formula holds on real docs") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val diff = docs.select(
        (size(Dedup.shingles(col("text"), 3)) -
          greatest(size(split(col("text"), " ")) - 2, lit(1))).as("d"))
      .agg(sum(abs(col("d")))).head().getLong(0)
    assert(diff == 0)
  }
}
