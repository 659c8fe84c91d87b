package perfbench

import org.apache.spark.sql.SparkSession
import graft.core.Sessions
import graft.streaming.EventStreams

/** Known-failure case: indexed corpus ingest started from an EMPTY corpus
  * crashes on its first L0 → main fold.
  *
  * The first tick builds the dedup index over the empty corpus, so the main
  * level holds no parquet files; the fold at the `foldEvery`-th append
  * (default 8) reads it back and fails with UNABLE_TO_INFER_SCHEMA
  * (`Dedup.indexAppendLeveled` → `Dedup.foldDedupIndexL0`). The benchmark's
  * `corpus_ingest` starts from a standing corpus, which does not hit this.
  *
  * Exit 0 while the defect reproduces exactly as described; exit 1 if the
  * ingest succeeds (the defect is fixed: turn this into a passing check) or
  * fails some other way.
  *
  * Usage: `perfbench.KnownDefects <work dir>` (via `perfbench/run.py --test`).
  */
object KnownDefects {
  def main(args: Array[String]): Unit = {
    val work = args(0)
    val cores = Runtime.getRuntime.availableProcessors()
    val spark: SparkSession = Sessions.configure(
      SparkSession.builder().master(s"local[$cores]").appName("perfbench-test"), cores)
      .config("spark.local.dir", s"$work/spark-local").getOrCreate()
    spark.sparkContext.setLogLevel("OFF")
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val stream = new Gen.IngestStream(seed = 7L, corpus = 0, batch = 20, novelShare = 1.0)
    val ticks = 8 // corpusIngestSinkIndexed's default foldEvery
    var tick = 0
    val outcome = try {
      (0 until ticks).foreach { k =>
        tick = k
        in.addData(stream.tick(k): _*)
        val q = EventStreams.corpusIngestSinkIndexed(in.toDF().toDF("doc_id", "text"),
          s"$work/corpus", s"$work/ckpt")
        q.awaitTermination()
        q.exception.foreach(e => throw e)
      }
      None
    } catch { case e: Throwable => Some(e) }
    spark.stop()
    def chain(e: Throwable): Seq[Throwable] =
      if (e == null) Nil else e +: chain(e.getCause)
    val reproduced = tick == ticks - 1 && outcome.exists(e =>
      chain(e).exists(c => String.valueOf(c.getMessage).contains("UNABLE_TO_INFER_SCHEMA")))
    if (reproduced) {
      println(s"KNOWN-FAILURE reproduced: empty-corpus indexed ingest fails tick $tick " +
        "(its first fold) with UNABLE_TO_INFER_SCHEMA")
      sys.exit(0)
    }
    println(outcome match {
      case None => s"UNEXPECTED PASS: empty-corpus indexed ingest survived $ticks ticks " +
        "(defect fixed? make this a passing check)"
      case Some(e) => s"UNEXPECTED FAILURE at tick $tick: ${e.getClass.getName}: ${e.getMessage}"
    })
    sys.exit(1)
  }
}
