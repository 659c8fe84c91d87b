package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import graft.SparkSpec

/** Ingest admission properties: the one-pass drop rule
  * ([[EventStreams.droppedIds]]) equals the three drop branches it
  * replaced, restated verbatim below, and the indexed ingest sink admits
  * exactly what the unindexed sink admits on generated batches. */
class IngestAdmissionSpec extends SparkSpec {
  import IngestAdmissionSpec._

  private def params(seed: Long): Test.Parameters =
    Test.Parameters.default.withMinSuccessfulTests(4)
      .withWorkers(1).withInitialSeed(Seed(seed))

  test("droppedIds equals the three-branch drop set on generated pairs") {
    import spark.implicits._
    // per case: (pair with a corpus id_b, pair with a corpus id_a, both-new
    // pair, corpus-corpus pair, duplicate pair)
    val seen = scala.collection.mutable.ArrayBuffer
      .empty[(Boolean, Boolean, Boolean, Boolean, Boolean)]
    val prop = Prop.forAllNoShrink(pairCaseGen) { c =>
      val cand = c.pairs.toDF("id_a", "id_b")
      val corpusIds = c.corpus.toDF("doc_id")
      val got = EventStreams.droppedIds(cand, corpusIds)
      val want = reference(cand, corpusIds)
      val old = c.corpus.toSet
      seen += ((
        c.pairs.exists { case (a, b) => old(b) && !old(a) },
        c.pairs.exists { case (a, b) => old(a) && !old(b) },
        c.pairs.exists { case (a, b) => !old(a) && !old(b) },
        c.pairs.exists { case (a, b) => old(a) && old(b) },
        c.pairs.distinct.size < c.pairs.size))
      Prop(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty) :|
        s"corpus ${c.corpus}, pairs ${c.pairs}: one pass " +
        s"${got.collect().toSeq}, reference ${want.collect().toSeq}"
    }
    val res = Test.check(params(20261019L), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
    assert(seen.exists(_._1) && seen.exists(_._2) && seen.exists(_._3) &&
      seen.exists(_._4) && seen.exists(_._5),
      s"the cases missed a branch (corpus id_b, corpus id_a, both new, " +
        s"corpus-corpus, duplicate): $seen")
  }

  test("corpusIngestSinkIndexed (foldEvery = 2) admits exactly what " +
      "corpusIngestSink admits on generated batches") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    // per case: (started from an empty corpus, folds, near-dups dropped)
    val seen = scala.collection.mutable.ArrayBuffer
      .empty[(Boolean, Boolean, Boolean)]
    // the admitted ids, and whether the second tick's fold brought
    // admitted docs into the index's main level (it then holds every
    // corpus id)
    def drive(c: IngestCase, indexed: Boolean): (Set[Long], Boolean) = {
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_ingest_twin_${indexed}_").toFile
      val corpusDir = s"$dir/corpus"
      val sigT = graft.operators.ScaleOps.bucketTableName("graft_bkt_ingsig", corpusDir)
      val bandT = graft.operators.ScaleOps.bucketTableName("graft_bkt_ingband", corpusDir)
      if (c.corpus.nonEmpty)
        c.corpus.toDF("doc_id", "text").write.parquet(corpusDir)
      val in = MemoryStream[(Long, String)]
      try {
        val folded = c.batches.zipWithIndex.map { case (batch, k) =>
          in.addData(batch: _*)
          val docs = in.toDF().toDF("doc_id", "text")
          val q =
            if (indexed) EventStreams.corpusIngestSinkIndexed(docs, corpusDir,
              s"$dir/chk", buckets = 2, foldEvery = 2)
            else EventStreams.corpusIngestSink(docs, corpusDir, s"$dir/chk")
          q.awaitTermination()
          def ids(df: DataFrame, c: String) =
            df.select(c).collect().map(_.getLong(0)).toSet
          indexed && k == 1 && {
            val corpusIds = ids(spark.read.parquet(corpusDir), "doc_id")
            ids(spark.table(sigT), "id") == corpusIds &&
              (corpusIds -- c.corpus.map(_._1)).nonEmpty
          }
        }.exists(identity)
        (spark.read.parquet(corpusDir).select("doc_id")
          .collect().map(_.getLong(0)).toSet, folded)
      } finally {
        if (indexed) graft.operators.Dedup.dropDedupIndex(spark, sigT, bandT)
        java.nio.file.Files.walk(dir.toPath).sorted(java.util.Comparator.reverseOrder())
          .forEach(f => java.nio.file.Files.delete(f))
      }
    }
    val prop = Prop.forAllNoShrink(ingestCaseGen) { c =>
      val (plain, _) = drive(c, indexed = false)
      val (indexed, folded) = drive(c, indexed = true)
      val offered = c.corpus.size + c.batches.map(_.size).sum
      seen += ((c.corpus.isEmpty, folded, plain.size < offered))
      Prop(indexed == plain) :|
        s"${c.corpus.size} corpus docs, batches of ${c.batches.map(_.size)}: " +
        s"only indexed ${(indexed -- plain).toSeq.sorted}, only unindexed " +
        s"${(plain -- indexed).toSeq.sorted}"
    }
    val res = Test.check(params(20261020L), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
    assert(seen.exists(_._1) && seen.exists(!_._1) && seen.exists(_._2) &&
      seen.exists(_._3),
      s"the cases missed an empty corpus, a standing corpus, a fold or a " +
        s"dropped near-dup: $seen")
  }
}

object IngestAdmissionSpec {
  /** The three drop branches the ingest tick ran before the one-pass rule,
    * verbatim: a pair with a corpus id_b drops id_a, a pair with a corpus
    * id_a drops id_b, and a pair with neither drops id_b. */
  def reference(cand: DataFrame, corpusIds: DataFrame): DataFrame = {
    val oldIds = corpusIds.select("doc_id")
    val dropVsOldA = cand.join(
      oldIds.withColumnRenamed("doc_id", "id_b"), Seq("id_b"), "left_semi")
      .select(col("id_a").as("doc_id"))
    val dropVsOldB = cand.join(
      oldIds.withColumnRenamed("doc_id", "id_a"), Seq("id_a"), "left_semi")
      .select(col("id_b").as("doc_id"))
    val dropNewNew = cand
      .join(oldIds.withColumnRenamed("doc_id", "id_a"), Seq("id_a"), "left_anti")
      .join(oldIds.withColumnRenamed("doc_id", "id_b"), Seq("id_b"), "left_anti")
      .select(col("id_b").as("doc_id"))
    dropVsOldA.union(dropVsOldB).union(dropNewNew).distinct()
  }

  /** Corpus ids and candidate pairs over a small id space: corpus ids sit
    * both below and above the batch ids, so a corpus endpoint lands on
    * either side of a pair. */
  private final case class PairCase(corpus: Seq[Long], pairs: Seq[(Long, Long)])

  private val corpusIdSpace = Seq(1L, 2L, 3L, 4L, 20L, 21L, 22L, 23L)
  private val batchIdSpace = 10L to 15L

  private def ordered(x: Long, y: Long): Gen[(Long, Long)] =
    Gen.oneOf((x, y), (y, x))

  private def distinctPair(ids: Seq[Long]): Gen[(Long, Long)] =
    Gen.pick(2, ids).map(p => (p.min, p.max))

  private val pair: Gen[(Long, Long)] = Gen.frequency(
    4 -> (for { c <- Gen.oneOf(corpusIdSpace); b <- Gen.oneOf(batchIdSpace)
      p <- ordered(c, b) } yield p),
    3 -> distinctPair(batchIdSpace),
    1 -> distinctPair(corpusIdSpace))

  private val pairCaseGen: Gen[PairCase] = for {
    corpus <- Gen.someOf(corpusIdSpace).map(_.toSeq)
    n <- Gen.choose(6, 14); pairs <- Gen.listOfN(n, pair)
    dups <- Gen.choose(0, 3)
  } yield PairCase(corpus, pairs ++ pairs.take(dups))

  /** A standing corpus (possibly empty) and 2–3 ingest batches of
    * (doc_id, text); ids are unique across all of them. */
  private final case class IngestCase(corpus: Seq[(Long, String)],
      batches: Seq[Seq[(Long, String)]])

  private val vocab = ("lorem ipsum dolor sit amet consectetur adipiscing " +
    "elit sed do eiusmod tempor incididunt ut labore et dolore magna aliqua " +
    "enim minim veniam quis nostrud exercitation ullamco laboris nisi " +
    "aliquip ex ea commodo consequat duis aute irure").split(" ").toSeq

  private val novelText: Gen[String] =
    Gen.listOfN(12, Gen.oneOf(vocab)).map(_.mkString(" "))

  /** A copy of `text`, exact or with its last word replaced (an estimated
    * Jaccard near the 0.8 threshold). */
  private def nearDup(text: String): Gen[String] =
    Gen.oneOf(Gen.const(text),
      Gen.oneOf(vocab).map(w => text.split(" ").init.mkString(" ") + " " + w))

  /** `n` texts, each novel or a near-dup of an earlier text (standing
    * corpus, earlier batch or this one). */
  private def texts(n: Int, earlier: Seq[String]): Gen[Seq[String]] =
    (0 until n).foldLeft(Gen.const(Seq.empty[String])) { (acc, _) =>
      acc.flatMap { so => val pool = earlier ++ so
        (if (pool.isEmpty) novelText
         else Gen.frequency(3 -> novelText, 2 -> Gen.oneOf(pool).flatMap(nearDup)))
          .map(so :+ _) }
    }

  private val ingestCaseGen: Gen[IngestCase] = for {
    nCorpus <- Gen.oneOf(0, 8)
    corpusTexts <- texts(nCorpus, Nil)
    nBatches <- Gen.choose(2, 3)
    sizes <- Gen.listOfN(nBatches, Gen.choose(3, 6))
    batchTexts <- sizes.foldLeft(Gen.const(Seq.empty[Seq[String]])) { (acc, n) =>
      acc.flatMap(bs => texts(n, corpusTexts ++ bs.flatten).map(bs :+ _))
    }
    // ids in a batch are shuffled so a within-batch copy may take the
    // smaller id
    keys <- Gen.listOfN(sizes.sum, Gen.choose(0, 1 << 20))
  } yield {
    val batchIds = (nCorpus.toLong until (nCorpus + sizes.sum).toLong).zip(keys)
    val starts = sizes.scanLeft(0)(_ + _)
    val batches = sizes.indices.map { i =>
      batchIds.slice(starts(i), starts(i + 1)).sortBy(_._2).map(_._1)
        .zip(batchTexts(i))
    }
    IngestCase((0L until nCorpus.toLong).zip(corpusTexts), batches)
  }
}
