package graft.jobs

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, TextAnalysis}

/** Corpus health report — the per-crawl-batch audit a curation team reads
  * before admitting data: one row per source with volume, quality,
  * duplication, novelty, and tokenizer-coverage metrics, plus one corpus-
  * level row (source = NULL) carrying the Zipf fit.
  *
  * Pure composition of the operator library (each metric is an operator this
  * repo already oracle-checks); every constituent is one-to-two corpus
  * passes with map-side-combining aggregates, and the per-source rollup
  * joins are id-keyed. At 100 TB the report is the cheap part — its inputs
  * are the same indexes/signatures the dedup passes build anyway, so a
  * production pipeline computes both in one job and amortizes the scans.
  */
object CorpusReport {

  final case class Config(
      shingleN: Int = 3,
      vocabK: Int = 50,
      nearDupJaccard: Double = 0.8,
      minhashBands: Int = 16)

  /** Per-source metrics:
    *  - `n_docs`, `total_tokens`
    *  - `mean_quality`  ([[TextAnalysis.qualityScore]])
    *  - `near_dup_share` (docs appearing in ≥1 minhash candidate pair at or
    *    above the jaccard floor — the upper-bound dup rate dedup would cut)
    *  - `mean_novelty`  ([[Dedup.noveltyRates]] — how much of each doc is
    *    first-seen, i.e. is this source adding content?)
    *  - `mean_oov_rate` ([[TextAnalysis.oovRate]] vs the corpus top-k vocab)
    * Corpus row (source NULL): totals plus `zipf_slope`/`zipf_intercept`
    * ([[TextAnalysis.zipfSlope]] — tokenizer/corpus drift gauge).
    */
  def run(docs: DataFrame, cfg: Config = Config()): DataFrame = {
    val base = docs.select(col("doc_id"), col("source"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
      TextAnalysis.qualityScore(col("text")).as("quality"))

    val dupIds = {
      val pairs = Dedup.minhashCandidates(docs, "doc_id", "text",
          bands = cfg.minhashBands)
        .where(col("est_jaccard") >= cfg.nearDupJaccard)
      pairs.select(col("id_a").as("doc_id"))
        .union(pairs.select(col("id_b")))
        .distinct()
        .withColumn("is_dup", lit(1L))
    }
    val novelty = Dedup.noveltyRates(docs, "doc_id", "text", cfg.shingleN)
      .select(col("id").as("doc_id"), col("novelty"))
    val oov = TextAnalysis.oovRate(docs, "doc_id", "text", cfg.vocabK)
      .select(col("id").as("doc_id"), col("oov_rate"))

    val perDoc = base
      .join(dupIds, Seq("doc_id"), "left")
      .join(novelty, Seq("doc_id"), "left")
      .join(oov, Seq("doc_id"), "left")

    // rollup(source) emits the per-source rows AND the corpus total in ONE
    // aggregate pass; grouping() separates the total from a hypothetical
    // NULL-named source
    val rolled = perDoc.rollup(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_tokens")).as("total_tokens"),
      round(avg(col("quality")), 6).as("mean_quality"),
      round(coalesce(sum(col("is_dup")), lit(0L)).cast("double") /
        count(lit(1)), 6).as("near_dup_share"),
      round(avg(col("novelty")), 6).as("mean_novelty"),
      round(avg(col("oov_rate")), 6).as("mean_oov_rate"),
      grouping(col("source")).cast("int").as("is_corpus_row"))

    // the fit is a 1-row summary — reading it on the driver and riding it as
    // a literal beats a 1×N join for plan simplicity (same precedent as
    // the reference's max-version head, S1:209-211)
    val z = TextAnalysis.zipfSlope(docs, "text", cfg.vocabK).head()
    rolled
      .withColumn("zipf_slope",
        when(col("is_corpus_row") === 1, lit(z.getDouble(1))))
      .withColumn("zipf_intercept",
        when(col("is_corpus_row") === 1, lit(z.getDouble(2))))
  }
}
