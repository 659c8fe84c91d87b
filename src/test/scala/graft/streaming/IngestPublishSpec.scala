package graft.streaming

import java.io.File
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.SparkSpec

/** How the ingest sinks publish a tick: the indexed sink appends one
  * generation file per plain tick and compacts every `foldEvery`-th tick,
  * the unindexed sink compacts every tick. The on-disk layout stays a
  * plain parquet directory, and each crash state a tick can leave on disk
  * replays to the corpus of the uninterrupted run. */
class IngestPublishSpec extends SparkSpec {
  import IngestPublishSpec._

  /** One sink over its own temp corpus (a standing corpus of two docs,
    * written as a plain parquet directory, unless `standing` is off) and
    * checkpoint, writing metrics rows unless `metered` is off. */
  private final class Sink(indexed: Boolean, standing: Boolean = true,
      metered: Boolean = true) {
    val dir: String = java.nio.file.Files
      .createTempDirectory(s"graft_publish_${indexed}_").toString
    val corpus = s"$dir/corpus"
    val metrics = s"$dir/metrics"
    import spark.implicits._
    private implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    private var in = MemoryStream[(Long, String)]
    private var chk = s"$dir/chk0"
    private var restarts = 0

    if (standing) Standing.toDF("doc_id", "text").coalesce(1).write.parquet(corpus)

    /** Feeds batch `k` of [[Feed]] and runs one AvailableNow tick. */
    def tick(k: Int): Unit = run(Feed(k))

    def run(batch: Seq[(Long, String)]): Unit = {
      in.addData(batch: _*)
      val docs = in.toDF().toDF("doc_id", "text")
      val q =
        if (indexed) EventStreams.corpusIngestSinkIndexed(docs, corpus, chk,
          metricsDir = Option.when(metered)(metrics), buckets = 2,
          foldEvery = FoldEvery)
        else EventStreams.corpusIngestSink(docs, corpus, chk,
          metricsDir = Option.when(metered)(metrics))
      q.awaitTermination()
    }

    /** A fresh source and checkpoint: the next tick is batch 0 again. */
    def restart(): Unit = {
      restarts += 1
      in = MemoryStream[(Long, String)]
      chk = s"$dir/chk$restarts"
    }

    /** The corpus ids, sorted, duplicates kept: a batch published twice
      * shows as a repeated id. */
    def ids: Seq[Long] = spark.read.parquet(corpus).select("doc_id")
      .collect().map(_.getLong(0)).toSeq.sorted

    def root: Seq[File] = new File(corpus).listFiles().toSeq

    def generations: Seq[String] =
      root.map(_.getName).filter(_.matches("part-b\\d+-.*\\.parquet"))

    def close(): Unit = graft.operators.Dedup.dropDedupIndex(spark,
      graft.operators.ScaleOps.bucketTableName("graft_bkt_ingsig", corpus),
      graft.operators.ScaleOps.bucketTableName("graft_bkt_ingband", corpus))
  }

  private def withSink[T](indexed: Boolean, standing: Boolean = true,
      metered: Boolean = true)(body: Sink => T): T = {
    val s = new Sink(indexed, standing, metered)
    try body(s) finally s.close()
  }

  /** Every parquet file under `dirs`, recursively. */
  private def parquetFiles(dirs: String*): Set[String] = dirs.flatMap { d =>
    val p = new org.apache.hadoop.fs.Path(d)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else {
      val it = fs.listFiles(p, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath)
        .filter(_.getName.endsWith(".parquet")).map(_.toUri.getPath).toList
    }
  }.toSet

  test("indexed ingest: after 2 × foldEvery + 1 ticks the corpus root " +
      "holds at most foldEvery generation files and no subdirectory, and " +
      "a plain read equals the unindexed twin") {
    val twin = withSink(indexed = false) { s =>
      Feed.indices.foreach(s.tick)
      assert(s.generations.isEmpty, "the unindexed sink compacts every tick")
      s.ids
    }
    assert(twin == Uninterrupted, s"unindexed twin: $twin")
    withSink(indexed = true) { s =>
      val sizes = Feed.indices.map { k =>
        s.tick(k)
        val gens = s.generations
        assert(gens.size <= FoldEvery, s"tick $k left generations $gens")
        assert(s.root.forall(_.isFile),
          s"tick $k left a subdirectory: ${s.root.filter(_.isDirectory)}")
        (gens.size, s.ids.size)
      }
      // plain ticks append a generation, every foldEvery-th tick compacts
      assert(sizes.map(_._1) == Seq(1, 0, 1, 0, 1), s"generations per tick: $sizes")
      assert(s.ids == twin)
      // one metrics row per tick; corpus_size = size before + admitted
      val rows = spark.read.parquet(s.metrics).collect()
        .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(4)))).toMap
      assert(rows.keySet == Feed.indices.map(_.toLong).toSet)
      Feed.indices.foreach { k =>
        val before = if (k == 0) Standing.size.toLong else sizes(k - 1)._2.toLong
        assert(rows(k.toLong) == ((sizes(k)._2 - before, sizes(k)._2.toLong)),
          s"metrics row of batch $k: ${rows(k.toLong)}")
      }
    }
  }

  test("indexed ingest: a warm plain tick reuses its generated classes, " +
      "since every query start shares one executor class loader") {
    def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    withSink(indexed = true) { s =>
      // tick 0 builds the index, tick 1 folds it, tick 2 is plain
      val perTick = (0 to 2).map { k =>
        val c0 = compiles()
        s.tick(k)
        compiles() - c0
      }
      // with a class loader per session UUID, every query start is a new
      // loader: ticks compiled 92, 85 and 44 classes; with one loader, 92,
      // 55 and 0. The bound is a tenth of 44.
      assert(perTick(2) <= 4, s"classes compiled per tick: $perTick")
    }
    assert(spark.conf.get("spark.sql.artifact.isolation.enabled") == "false")
  }

  test("indexed ingest: a plain warm tick writes exactly one parquet file, " +
      "its generation, and creates no _l0 table") {
    // the generation file is the tick's L0 append: the index's tables in
    // the session warehouse gain no file
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    withSink(indexed = true, metered = false) { s =>
      // tick 0 builds the index, tick 1 folds it, tick 2 is plain
      (0 to 1).foreach(s.tick)
      val before = parquetFiles(s.dir, warehouse)
      s.tick(2)
      val after = parquetFiles(s.dir, warehouse)
      val gen = s.generations.filter(_.startsWith("part-b2-"))
      assert(gen.size == 1, s"batch 2's generation files: ${s.generations}")
      assert(after -- before == Set(new File(s.corpus, gen.head).getPath),
        s"a plain tick wrote ${after -- before}")
      assert((before -- after).isEmpty, s"a plain tick removed ${before -- after}")
      val l0 = spark.catalog.listTables().collect().map(_.name)
        .filter(_.endsWith("_l0"))
      assert(l0.isEmpty, s"an indexed tick created ${l0.mkString(", ")}")
    }
  }

  test("corpusIngestSinkIndexed: a first tick into an empty corpus that " +
      "died before its rename replays, and an empty tick is recorded") {
    withSink(indexed = true, standing = false) { s =>
      // the corpus dir holds nothing but the dead tick's pending file
      import spark.implicits._
      Seq((999L, "a doc that only a torn tick wrote"))
        .toDF("doc_id", "text").coalesce(1)
        .write.parquet(s"${s.corpus}/_pending_b0")
      (0 until 2).foreach(s.tick)
      // from an empty corpus doc 3 is new; 5 still copies 1
      assert(s.ids == Seq(1L, 2L, 3L, 4L), s"got ${s.ids}")
      // a tick that admits nothing still records its batch id
      s.run(Seq((20L, Feed(0).head._2)))
      assert(s.generations.exists(_.startsWith("part-b2-")),
        s"batch 2 left no generation file: ${s.root.map(_.getName)}")
      assert(s.ids == Seq(1L, 2L, 3L, 4L), s"got ${s.ids}")
    }
  }

  for (indexed <- Seq(false, true)) {
    val name = if (indexed) "corpusIngestSinkIndexed" else "corpusIngestSink"

    test(s"$name: a crash before a generation's rename (leftover pending " +
        "dir) replays to the uninterrupted corpus") {
      withSink(indexed) { s =>
        (0 until 2).foreach(s.tick)
        // batch 2's tick died after writing its pending file: a parquet
        // file of a doc no tick admits, which the replay must not publish
        import spark.implicits._
        Seq((999L, "a doc that only a torn tick wrote"))
          .toDF("doc_id", "text").coalesce(1)
          .write.parquet(s"${s.corpus}/_pending_b2")
        (2 until Feed.size).foreach(s.tick)
        assert(s.ids == Uninterrupted, s"got ${s.ids}")
        assert(!s.root.exists(_.getName.startsWith("_pending")))
      }
    }

    test(s"$name: a published tick whose checkpoint commit is missing " +
        "replays to the uninterrupted corpus") {
      withSink(indexed) { s =>
        (0 to 2).foreach(s.tick)
        if (indexed) {
          assert(s.generations.exists(_.startsWith("part-b2-")),
            s"batch 2 should be a generation file: ${s.root.map(_.getName)}")
          // the tick died after its rename: its generation file is
          // already the index's L0, so no index write is lost
        }
        // the checkpoint never recorded batch 2: a fresh checkpoint whose
        // numbering lands on 0, 1, 2 again replays them against the table
        s.restart()
        (0 until Feed.size).foreach(s.tick)
        assert(s.ids == Uninterrupted, s"got ${s.ids}")
        // a replayed batch writes no second metrics row
        val batches = spark.read.parquet(s.metrics).select("batch_id")
          .collect().map(_.getLong(0)).toSeq.sorted
        assert(batches == Feed.indices.map(_.toLong), s"metrics rows: $batches")
      }
    }

    test(s"$name: a compaction that died between its swap renames (table " +
        "at _old) replays to the uninterrupted corpus") {
      withSink(indexed) { s =>
        (0 until 3).foreach(s.tick)
        // batch 3 compacts (foldEvery = 2 for the indexed sink, every
        // tick for the unindexed one); it died after moving the table
        // aside and before renaming its rewrite in
        val table = new File(s.corpus)
        val old = new File(s"${s.corpus}_old")
        assert(table.renameTo(old))
        (3 until Feed.size).foreach(s.tick)
        assert(s.ids == Uninterrupted, s"got ${s.ids}")
        assert(!old.exists())
      }
    }
  }
}

object IngestPublishSpec {
  val FoldEvery = 2

  private def words(w: String*): String = w.mkString(" ")
  private val S1 = words("north", "south", "east", "west", "up", "down",
    "left", "right", "inside", "outside")
  private val S2 = words("spring", "summer", "autumn", "winter", "dawn",
    "noon", "dusk", "night", "today", "tomorrow")
  private val A = words("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
    "eta", "theta", "iota", "kappa")
  private val B = words("one", "two", "three", "four", "five", "six",
    "seven", "eight", "nine", "ten")
  private val C = words("red", "orange", "yellow", "green", "blue", "indigo",
    "violet", "cyan", "magenta", "white")
  private val D = words("oak", "pine", "birch", "maple", "cedar", "elm",
    "ash", "willow", "spruce", "larch")
  private val E = words("iron", "copper", "silver", "gold", "zinc", "tin",
    "lead", "nickel", "cobalt", "chrome")
  private val F = words("apple", "pear", "plum", "fig", "date", "kiwi",
    "mango", "lime", "lemon", "grape")

  val Standing: Seq[(Long, String)] = Seq((100L, S1), (101L, S2))

  /** Five ticks; each drops a copy of a doc admitted before it: of the
    * standing corpus, of a generation file, of a compacted table. */
  val Feed: Seq[Seq[(Long, String)]] = Seq(
    Seq((1L, A), (2L, B), (3L, S1)),
    Seq((4L, C), (5L, A)),
    Seq((6L, D), (7L, C)),
    Seq((8L, E), (9L, D), (10L, A)),
    Seq((11L, F), (12L, E), (13L, C)))

  val Uninterrupted: Seq[Long] = Seq(1L, 2L, 4L, 6L, 8L, 11L, 100L, 101L)
}
