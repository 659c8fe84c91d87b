package graft.tools

import org.apache.spark.sql.functions.col
import graft.core.Parquet

/** Dev tool: the fixed-batch ingest-cost probe behind the
  * [[graft.operators.Dedup.minhashCandidatesIndexed]] scale claim. The
  * catalog row (q221) splits ONE table 75/25, so its batch grows with the
  * corpus and the row's tiers measure total scaling, not the production
  * question — "what does ONE ingest batch cost as the standing corpus
  * grows?". This probe holds the batch fixed (the sf0.1 documents with
  * doc_id % 4 == 0, ~15k docs) and grows only the corpus
  * (doc_id % 4 != 0 from the target dir — ids disjoint from the batch by
  * the mod-4 split, whatever the dir): per corpus tier it times the
  * indexed path (standing bucketed sig/band index, built once in the
  * discarded warmup exactly like a warehouse pays it once per corpus)
  * against the unindexed [[Dedup.minhashCandidatesIncremental]] (which
  * re-shingles and re-signs the corpus every call). Indexed per-batch
  * cost should stay ~flat across tiers; the unindexed path grows with
  * the corpus. Each tag is one [[ScaleAudit.measure]]: the same
  * SCALEAUDIT line (median, all reps, spill and peak memory) and the same
  * SPARK_GRAFT_SCALE_OUT JSONL row when set.
  *
  * Usage: `IngestProbe <corpusDir> [reps]` (batch dir pinned to sf0.1) */
object IngestProbe {
  def main(args: Array[String]): Unit = {
    val corpusDir = args(0)
    val reps = if (args.length > 1) args(1).toInt else 3
    val batchDir = "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.core.Sessions.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val out = sys.env.get("SPARK_GRAFT_SCALE_OUT")
    val corpus = Parquet.read(spark, s"$corpusDir/documents.parquet")
      .where(col("doc_id") % 4 =!= 0)
    val batch = Parquet.read(spark, s"$batchDir/documents.parquet")
      .where(col("doc_id") % 4 === 0)
    // one ScaleAudit measurement per tag; `op` gets the rep label ("warm",
    // "1", ...) and returns its row count
    def timed(tag: String)(op: String => Long): Unit =
      ScaleAudit.measure(spark, tag, corpusDir, reps, out)(op)
    // a probe's warmup builds the index it reads (indexed runs)
    def run(tag: String, f: () => org.apache.spark.sql.DataFrame): Unit =
      timed(tag)(_ => f().count())
    run("ingest_fixedbatch_indexed", () =>
      graft.operators.Dedup.minhashCandidatesIndexed(corpus, batch,
        "doc_id", "text", shingleSize = 3, numHashes = 32, bands = 16,
        sigTable = graft.operators.ScaleOps
          .bucketTableName("graft_probe_incsig", corpusDir),
        bandTable = graft.operators.ScaleOps
          .bucketTableName("graft_probe_incband", corpusDir)))
    run("ingest_fixedbatch_unindexed", () =>
      graft.operators.Dedup.minhashCandidatesIncremental(corpus, batch,
        "doc_id", "text", shingleSize = 3, numHashes = 32, bands = 16))
    // ---- leveled (L0/L1) evidence, round-17 verdict item 3 ----
    // Probe latency with FOUR L0 generations: main level = doc_id % 4 in
    // {1,2} of the corpus dir, and the % 4 == 3 slice as four generations
    // (doc_id % 16 in {3,7,11,15}) passed as the probe's l0Docs, which it
    // signs per call. The effective corpus (main ∪ L0) equals the plain
    // indexed run's, so the ROW COUNT must match it exactly — the probe
    // pays only the extra batch-grain L0 signing and joins, and the claim
    // to check across tiers is that this stays as flat as the no-L0 probe.
    val corpusAll = Parquet.read(spark, s"$corpusDir/documents.parquet")
    val corpusMain = corpusAll
      .where(col("doc_id") % 4 === 1 || col("doc_id") % 4 === 2)
    val l0 = Seq(3L, 7L, 11L, 15L)
      .map(r => corpusAll.where(col("doc_id") % 16 === r)).reduce(_ unionByName _)
    val lvSig = graft.operators.ScaleOps
      .bucketTableName("graft_probe_lvsig", corpusDir)
    val lvBand = graft.operators.ScaleOps
      .bucketTableName("graft_probe_lvband", corpusDir)
    run("ingest_fixedbatch_indexed_l0pending", () => {
      graft.operators.Dedup.buildDedupIndex(corpusMain, "doc_id", "text",
        shingleSize = 3, numHashes = 32, bands = 16, lvSig, lvBand)
      graft.operators.Dedup.minhashCandidatesIndexedTables(batch,
        "doc_id", "text", shingleSize = 3, numHashes = 32, bands = 16,
        lvSig, lvBand, l0Docs = Some(l0))
    })
    spark.stop()
  }
}
