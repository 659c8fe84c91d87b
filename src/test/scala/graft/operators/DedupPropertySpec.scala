package graft.operators

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import graft.SparkSpec

/** Randomized brute-force twins for the inverted-index dedup operators:
  * on seeded random corpora (tiny vocabulary → dense shingle sharing, plus
  * short/empty/doubled-space edge docs), the distributed plans must equal a
  * direct Scala restatement of the semantics computed on the driver.
  * String shingles stand in for the 60-bit hashes — a collision on these
  * corpus sizes is ~2^-40, and the operators' own contract is that both
  * engines collapse collisions identically anyway. */
class DedupPropertySpec extends SparkSpec {
  import DedupPropertySpec.LeveledCase

  // mirror of WordShingles.shingle + ShingleHashes' per-doc distinct
  private def shingleSet(text: String, n: Int): Set[String] = {
    val toks = text.split(" ", -1)
    if (toks.length <= n) Set(text)
    else toks.sliding(n).map(_.mkString(" ")).toSet
  }

  private def randomCorpus(seed: Int): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h")
    val n = 8 + rnd.nextInt(12)
    (1L to n).map { id =>
      val len = rnd.nextInt(13) // 0 → empty doc
      val base = Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      // occasionally weave in a doubled space (empty-token edge)
      val text = if (len > 2 && rnd.nextInt(5) == 0) base.replaceFirst(" ", "  ") else base
      id -> text
    }
  }

  test("crossTagDupPairs == the fingerprint self-join form on random corpora") {
    import org.apache.spark.sql.functions.col
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed * 31)
      // duplicate-heavy corpus: a small text pool so fingerprints collide,
      // tags drawn from 3 values so some groups cross tags and some don't
      val pool = randomCorpus(seed).map(_._2)
      val rows = (1L to 30L).map { id =>
        (id, pool(rnd.nextInt(pool.size)), s"t${rnd.nextInt(3)}")
      }
      val df = spark.createDataFrame(rows).toDF("doc_id", "text", "lang")
      val got = Dedup.crossTagDupPairs(df, "doc_id", "lang", "text")
        .orderBy("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
      val fp = df.select(col("doc_id"), col("lang"),
        TextAnalysis.fingerprint(col("text")).as("fp"))
      val want = fp.as("a").join(fp.as("b"),
          col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id") &&
            col("a.lang") =!= col("b.lang"))
        .select(col("a.doc_id"), col("b.doc_id"), col("a.lang"), col("b.lang"))
        .orderBy("a.doc_id", "b.doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
      assert(got.toSeq == want.toSeq, s"seed=$seed")
      assert(got.nonEmpty || want.isEmpty)
    }
  }

  test("crossTagDupPairs: NULL texts, duplicate ids, single-tag mega-group") {
    import org.apache.spark.sql.functions.col
    // a 10k-copy single-tag boilerplate group (zero cross-tag output — must
    // be killed inside the aggregate, NOT expanded m² and filtered), two
    // NULL-text rows (the join form's equality key drops NULLs), a
    // duplicate doc_id carrying two tags (strict id_a < id_b excludes the
    // self-pair), and one genuine cross-tag group for signal.
    val boiler = (1L to 10000L).map(i => (i, "the same boilerplate text", "t0"))
    val rows = boiler ++ Seq(
      (20001L, null.asInstanceOf[String], "t0"),
      (20002L, null.asInstanceOf[String], "t1"),
      (20003L, "shared cross tag body", "t0"),
      (20003L, "shared cross tag body", "t1"), // duplicate id, two tags
      (20004L, "shared cross tag body", "t1"))
    val df = spark.createDataFrame(rows).toDF("doc_id", "text", "lang")
    val got = Dedup.crossTagDupPairs(df, "doc_id", "lang", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
      .toSet
    val fp = df.select(col("doc_id"), col("lang"),
      TextAnalysis.fingerprint(col("text")).as("fp"))
    val want = fp.as("a").join(fp.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id") &&
          col("a.lang") =!= col("b.lang"))
      .select(col("a.doc_id"), col("b.doc_id"), col("a.lang"), col("b.lang"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
      .toSet
    assert(got == want)
    // the cross-tag group survives; no id==id self-pair; no NULL-fp pair
    assert(got.forall { case (a, b, _, _) => a < b })
    assert(got.contains((20003L, 20004L, "t0", "t1")))
    assert(!got.exists { case (a, b, _, _) => a >= 20001L && a <= 20002L || b <= 20002L && b >= 20001L })
    // maxGroupSize skips groups above the cap (exhaustive shape otherwise)
    val capped = Dedup.crossTagDupPairs(df, "doc_id", "lang", "text",
      maxGroupSize = Some(2)).collect()
    assert(capped.isEmpty) // the surviving cross-tag group has 3 members
    assert(Dedup.crossTagDupPairs(df, "doc_id", "lang", "text",
      maxGroupSize = Some(3)).collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      want.map { case (a, b, _, _) => (a, b) })
  }

  test("containmentPairs == driver brute force on random corpora") {
    import spark.implicits._
    for (seed <- Seq(1, 2, 3, 4, 5)) {
      val corpus = randomCorpus(seed)
      val (n, minCont, minShared, maxDf) = (3, 0.5, 2L, 6L)
      val sets = corpus.map { case (id, t) => id -> shingleSet(t, n) }.toMap
      val docFreq = sets.values.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val filtered = sets.view.mapValues(_.filter(docFreq(_) <= maxDf)).toMap
      val expect = (for {
        (a, sa) <- filtered.toSeq; (b, sb) <- filtered.toSeq if a < b
        shared = (sa & sb).size.toLong if shared >= minShared
        cont = shared.toDouble / math.min(sa.size, sb.size) if cont >= minCont
      } yield (a, b) -> (shared, cont)).toMap
      val got = Dedup.containmentPairs(corpus.toDF("doc_id", "text"), "doc_id", "text",
          n = n, minContainment = minCont, minShared = minShared, maxDocFreq = maxDf)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
      assert(got.keySet == expect.keySet, s"seed $seed pair sets differ")
      expect.foreach { case (k, (sh, c)) =>
        assert(got(k)._1 == sh, s"seed $seed shared $k")
        assert(math.abs(got(k)._2 - c) < 1e-12, s"seed $seed containment $k")
      }
      graft.core.CacheScope.drain()
    }
  }

  test("repeatedSpans == driver brute force on random corpora") {
    import spark.implicits._
    // positional grams, short-doc whole-text rule included
    def grams(text: String, n: Int): Seq[String] = {
      val toks = text.split(" ", -1)
      if (toks.length <= n) Seq(text)
      else toks.sliding(n).map(_.mkString(" ")).toSeq
    }
    for (seed <- Seq(11, 12, 13, 14, 15)) {
      val corpus = randomCorpus(seed)
      val (n, minCount) = (3, 2L)
      val counts = corpus.flatMap { case (_, t) => grams(t, n) }
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val expect = corpus.flatMap { case (id, t) =>
        val hit = grams(t, n).zipWithIndex
          .collect { case (g, p) if counts(g) >= minCount => p }
        // merge adjacent positions into maximal runs
        val spans = hit.foldLeft(List.empty[(Int, Int, Long)]) {
          case ((s, e, c) :: rest, p) if p == e + 1 => (s, p, c + 1) :: rest
          case (acc, p) => (p, p, 1L) :: acc
        }.reverse
        spans.map { case (s, e, c) => (id, s.toLong, (e + n - 1).toLong, c) }
      }.toSet
      val got = Dedup.repeatedSpans(corpus.toDF("doc_id", "text"),
          "doc_id", "text", n = n, minCount = minCount)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(got == expect, s"seed $seed spans differ")
      graft.core.CacheScope.drain()
    }
  }

  test("repeatedSpans: an exact doc-level dup yields one whole-doc span each") {
    import spark.implicits._
    val text = (1 to 20).map(i => s"tok$i").mkString(" ")
    val df = Seq((1L, text), (2L, text), (3L, "unique words only here now"))
      .toDF("doc_id", "text")
    val got = Dedup.repeatedSpans(df, "doc_id", "text", n = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // 20 tokens, n=8 → windows 0..12, span end = 12 + 7 = 19 (whole doc)
    assert(got == Set((1L, 0L, 19L), (2L, 0L, 19L)))
  }

  test("cdcChunks == driver brute force on random corpora (incl. space edges)") {
    import spark.implicits._
    val P = 2147483647L
    // driver mirror of the boundary rule over Java-split tokens
    def hash31(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(d.substring(0, 15), 16) % P
    }
    def chunksOf(text: String, w: Int, div: Int): Seq[(Long, Long, Long)] = {
      val toks = text.split(" ") match { case a if a.isEmpty => Array("") case a => a }
      val hs = toks.map(hash31)
      val cuts = (w to toks.length).filter { i =>
        hs.slice(i - w, i).foldLeft(0L)((acc, h) => (acc * 257 + h) % P) % div == 0
      }
      val ends = if (cuts.nonEmpty && cuts.last == toks.length) cuts
                 else cuts :+ toks.length
      ends.zipWithIndex.map { case (e, k) =>
        val st = if (k == 0) 1 else ends(k - 1) + 1
        (st.toLong, e.toLong, hash31(toks.slice(st - 1, e).mkString(" ")))
      }
    }
    for (seed <- Seq(11, 12, 13)) {
      val corpus = randomCorpus(seed)
      val (w, div) = (3, 4)
      val expect = corpus.flatMap { case (id, t) =>
        chunksOf(t, w, div).zipWithIndex.map { case (c, k) => (id, k.toLong, c) }
      }.toSet
      val got = Dedup.cdcChunks(corpus.toDF("doc_id", "text"), "doc_id", "text",
          window = w, divisor = div)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), (r.getLong(2), r.getLong(3), r.getLong(4))))
        .toSet
      assert(got == expect, s"seed $seed: ${got.diff(expect)} vs ${expect.diff(got)}")
    }
  }

  test("bandedHammingPairs: pigeonhole recall is exact on random 64-bit signatures") {
    import spark.implicits._
    for (seed <- Seq(21, 22, 23)) {
      val rnd = new scala.util.Random(seed)
      // random base sigs + planted near-dups at controlled hamming distances
      val base = (1L to 40L).map(id => id -> rnd.nextLong())
      val planted = base.take(10).zipWithIndex.map { case ((id, sig), i) =>
        val flips = i % 4 // 0..3 bit flips, all within maxHamming = 3
        val mutated = (0 until flips).foldLeft(sig)((s, _) =>
          s ^ (1L << rnd.nextInt(64)))
        (id + 1000L) -> mutated
      }
      val all = base ++ planted
      val (maxH, bands) = (3, 8)
      val expect = (for {
        (a, sa) <- all; (b, sb) <- all if a < b
        h = java.lang.Long.bitCount(sa ^ sb) if h <= maxH
      } yield (a, b, h)).toSet
      val got = Dedup.bandedHammingPairs(all.toDF("id", "sig"), "id", "sig",
          maxHamming = maxH, bands = bands, bits = 64)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      // recall must be EXACT (maxHamming < bands pigeonholes a clean band);
      // precision is exact too — every emitted pair re-checks full hamming
      assert(got == expect, s"seed $seed: got ${got.size}, expect ${expect.size}")
      graft.core.CacheScope.drain()
    }
  }

  test("noveltyRates == driver brute force on random corpora") {
    import spark.implicits._
    for (seed <- Seq(11, 12, 13, 14, 15)) {
      val corpus = randomCorpus(seed)
      val n = 3
      val sets = corpus.map { case (id, t) => id -> shingleSet(t, n) }.toMap
      val firstSeen = sets.toSeq.flatMap { case (id, s) => s.map(_ -> id) }
        .groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
      val expect = sets.map { case (id, s) =>
        val seen = s.count(sh => firstSeen(sh) < id)
        id -> ((s.size.toLong, seen.toLong,
          BigDecimal(1.0 - seen.toDouble / s.size)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      }
      val got = Dedup.noveltyRates(corpus.toDF("doc_id", "text"), "doc_id", "text", n)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
      assert(got.keySet == expect.keySet, s"seed $seed doc sets differ")
      expect.foreach { case (id, (ns, seen, nov)) =>
        assert(got(id)._1 == ns, s"seed $seed n_shingles doc $id")
        assert(got(id)._2 == seen, s"seed $seed n_seen doc $id")
        assert(math.abs(got(id)._3 - nov) < 2e-6, s"seed $seed novelty doc $id")
      }
      graft.core.CacheScope.drain()
    }
  }

  test("minhashCandidatesBucketed == minhashCandidates on the test corpus " +
      "(fused band key changes the layout, never the candidate set)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val base = canon(Dedup.minhashCandidates(docs, "doc_id", "text",
      shingleSize = 3, numHashes = 32, bands = 16))
    graft.core.CacheScope.drain()
    val bucketed = canon(Dedup.minhashCandidatesBucketed(docs, "doc_id",
      "text", shingleSize = 3, numHashes = 32, bands = 16,
      graft.operators.ScaleOps.bucketTableName("graft_test_mhsig", sfDir),
      graft.operators.ScaleOps.bucketTableName("graft_test_mhband", sfDir)))
    assert(bucketed == base)
    assert(base.nonEmpty, "vacuous corpus: no candidate pairs at all")
  }

  test("minhashCandidatesIndexed == minhashCandidatesIncremental on the " +
      "same (corpus, batch) split (the standing index changes the read " +
      "path, never the candidate set)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val old = docs.where(col("doc_id") % 4 =!= 0)
    val neu = docs.where(col("doc_id") % 4 === 0)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val unindexed = canon(Dedup.minhashCandidatesIncremental(old, neu,
      "doc_id", "text", shingleSize = 3, numHashes = 32, bands = 16))
    graft.core.CacheScope.drain()
    val indexed = canon(Dedup.minhashCandidatesIndexed(old, neu,
      "doc_id", "text", shingleSize = 3, numHashes = 32, bands = 16,
      sigTable = graft.operators.ScaleOps
        .bucketTableName("graft_test_incsig", sfDir),
      bandTable = graft.operators.ScaleOps
        .bucketTableName("graft_test_incband", sfDir)))
    graft.core.CacheScope.drain()
    assert(indexed == unindexed)
    assert(indexed.nonEmpty, "vacuous split: no cross/batch pairs at all")
    // and strictly no old-old pair sneaks in through the index
    assert(indexed.forall { case (a, b, _) => a % 4 == 0 || b % 4 == 0 })
  }

  test("leveled index lifecycle: probe reads main ∪ L0 between folds, the " +
      "fold restores the no-L0 one-file-per-bucket shape, output identical " +
      "throughout, and a replayed folded tag stays a no-op") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val sigT = graft.operators.ScaleOps
      .bucketTableName("graft_test_lvsig", sfDir)
    val bandT = graft.operators.ScaleOps
      .bucketTableName("graft_test_lvband", sfDir)
    val batch = docs.where(col("doc_id") % 4 === 0)
    val l0 = docs.where(col("doc_id") % 4 === 2 || col("doc_id") % 4 === 3)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    def probe(sigT: String, bandT: String,
        l0Docs: Option[org.apache.spark.sql.DataFrame] = None) =
      Dedup.minhashCandidatesIndexedTables(batch, "doc_id", "text",
        shingleSize = 3, numHashes = 32, bands = 16, sigTable = sigT,
        bandTable = bandT, l0Docs = l0Docs)
    def foldSlice(slice: org.apache.spark.sql.DataFrame, sigT: String,
        bandT: String): Unit =
      Dedup.foldDedupIndexL0(slice, "doc_id", "text", shingleSize = 3,
        numHashes = 32, bands = 16, sigTable = sigT, bandTable = bandT)
    def planOf(df: org.apache.spark.sql.DataFrame): String = {
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(out) { df.explain() }
      out.toString
    }
    val want = canon(Dedup.minhashCandidatesIncremental(
      docs.where(col("doc_id") % 4 =!= 0), batch, "doc_id", "text",
      shingleSize = 3, numHashes = 32, bands = 16))
    graft.core.CacheScope.drain()
    // main level = %4==1; slices 2 and 3 wait in L0, which is the
    // caller's docs: the index writes no table for them
    Dedup.buildDedupIndex(docs.where(col("doc_id") % 4 === 1),
      "doc_id", "text", shingleSize = 3, numHashes = 32, bands = 16,
      sigTable = sigT, bandTable = bandT)
    val gotPending = canon(probe(sigT, bandT, Some(l0)))
    graft.core.CacheScope.drain()
    assert(gotPending == want,
      "probe over main ∪ L0 diverged from the recompute path")
    assert(!spark.catalog.listTables().collect().exists(_.name.endsWith("_l0")),
      "the index keeps no L0 table")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // explicit fold: main level back to one sorted file per bucket —
      // the no-L0 plan shape (corpus co-located, sort elision live; the
      // q221 pins) must come back, output unchanged
      foldSlice(l0, sigT, bandT)
      val pFolded = planOf(probe(sigT, bandT))
      assert("Exchange hashpartitioning".r.findAllIn(pFolded).size <= 4,
        s"fold must preserve the corpus-side bucket layout:\n$pFolded")
      assert("\\bSort\\b".r.findAllIn(pFolded).size <= 4,
        s"fold must restore sort-elision (one file per bucket):\n$pFolded")
      val gotFolded = canon(probe(sigT, bandT))
      graft.core.CacheScope.drain()
      assert(gotFolded == want, "fold corrupted the index")
      // a replayed fold of an already folded slice must stay a no-op:
      // neither main level is rewritten, no row is doubled
      val files = (levelFiles(sigT), levelFiles(bandT))
      foldSlice(docs.where(col("doc_id") % 4 === 2), sigT, bandT)
      assert((levelFiles(sigT), levelFiles(bandT)) == files,
        "a replayed fold rewrote a main level")
      val gotReplayed = canon(probe(sigT, bandT))
      graft.core.CacheScope.drain()
      assert(gotReplayed == want,
        "a replayed fold changed the index (idempotence broken)")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    // build → fold → probe on a fresh table pair: the q225 gate's
    // two-generation corpus
    val sigT2 = graft.operators.ScaleOps
      .bucketTableName("graft_test_lvsig2", sfDir)
    val bandT2 = graft.operators.ScaleOps
      .bucketTableName("graft_test_lvband2", sfDir)
    Dedup.buildDedupIndex(
      docs.where(col("doc_id") % 4 === 1 || col("doc_id") % 4 === 2),
      "doc_id", "text", shingleSize = 3, numHashes = 32, bands = 16,
      sigTable = sigT2, bandTable = bandT2)
    foldSlice(docs.where(col("doc_id") % 4 === 3), sigT2, bandT2)
    val gotFoldedOnce = canon(probe(sigT2, bandT2))
    graft.core.CacheScope.drain()
    assert(gotFoldedOnce == want,
      "a build → fold index diverged from the recompute path")
  }

  private def docsDf(rows: Seq[(Long, String)]) =
    spark.createDataFrame(rows).toDF("doc_id", "text")

  private def canonPairs(df: org.apache.spark.sql.DataFrame) = {
    val got = df.orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    graft.core.CacheScope.drain()
    got
  }

  /** The file names in a main level's location: a rewrite renames in new
    * files. */
  private def levelFiles(table: String): Set[String] = {
    val loc = new org.apache.hadoop.fs.Path(spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
      .location)
    loc.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(loc)
      .map(_.getPath.getName).toSet
  }

  /** A level's rows, columns in name order, rendered and sorted. */
  private def levelRows(table: String): Seq[String] = {
    val t = spark.table(table)
    t.select(t.columns.sorted.map(col).toSeq: _*).collect()
      .map(_.toSeq.map {
        case a: scala.collection.Seq[_] => a.toList
        case v => v
      }.mkString("|")).sorted.toSeq
  }

  private def fold(docs: Seq[(Long, String)], sigT: String, bandT: String): Unit =
    Dedup.foldDedupIndexL0(docsDf(docs), "doc_id", "text", shingleSize = 3,
      numHashes = 32, bands = 16, sigT, bandT)

  /** A leveled index over the generated levels, 4 buckets: main built,
    * then at every `foldEvery`-th generation the whole corpus so far is
    * folded, as the ingest sink folds its compacted table. Returns the
    * generations since the last fold: the probe's L0. */
  private def leveledIndex(main: Seq[(Long, String)],
      gens: Seq[Seq[(Long, String)]], foldEvery: Int,
      sigT: String, bandT: String): Seq[(Long, String)] = {
    Dedup.buildDedupIndex(docsDf(main), "doc_id", "text", shingleSize = 3,
      numHashes = 32, bands = 16, sigT, bandT, buckets = 4)
    gens.zipWithIndex.foldLeft(Seq.empty[(Long, String)]) {
      case (pending, (g, i)) =>
        if ((i + 1) % foldEvery != 0) pending ++ g
        else { fold(main ++ gens.take(i + 1).flatten, sigT, bandT); Nil }
    }
  }

  private def probe(batch: Seq[(Long, String)], sigT: String, bandT: String,
      l0: Seq[(Long, String)]) =
    Dedup.minhashCandidatesIndexedTables(docsDf(batch), "doc_id", "text",
      shingleSize = 3, numHashes = 32, bands = 16, sigT, bandT,
      l0Docs = Option.when(l0.nonEmpty)(docsDf(l0)))

  /** [[randomCorpus]]-style docs (8-word vocabulary, empty docs, doubled
    * spaces) with id gaps, dealt to the levels. Two docs in three copy one
    * of four base texts, exactly or with one word changed, so near-dups
    * cross levels. Every level gets at least one doc; folding an empty
    * main level is covered by IngestAdmissionSpec's empty-corpus case. */
  private val leveledCaseGen: Gen[LeveledCase] = {
    val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h")
    val fresh = for {
      len <- Gen.choose(0, 12)
      words <- Gen.listOfN(len, Gen.oneOf(vocab))
      doubled <- Gen.oneOf(false, false, false, false, true)
    } yield {
      val base = words.mkString(" ")
      if (len > 2 && doubled) base.replaceFirst(" ", "  ") else base
    }
    def text(pool: Seq[String]) = for {
      kind <- Gen.choose(0, 2)
      base <- Gen.oneOf(pool)
      other <- fresh
      at <- Gen.choose(0, 11)
      word <- Gen.oneOf(vocab)
    } yield kind match {
      case 0 => other
      case 1 => base
      case _ =>
        val toks = base.split(" ", -1)
        toks.updated(at % toks.length, word).mkString(" ")
    }
    for {
      nGens <- Gen.choose(0, 3)
      foldEvery <- Gen.oneOf(1, 2, Int.MaxValue)
      n <- Gen.choose(nGens + 2, 24)
      steps <- Gen.listOfN(n, Gen.choose(1L, 3L))
      pool <- Gen.listOfN(4, fresh)
      texts <- Gen.listOfN(n, text(pool))
      // level of each doc: 0 = main, 1..nGens = L0 generation, nGens + 1 =
      // batch; the first nGens + 2 docs seed one level each
      dealt <- Gen.listOfN(n - nGens - 2, Gen.choose(0, nGens + 1))
    } yield {
      val docs = steps.scanLeft(0L)(_ + _).tail.zip(texts)
      val level = docs.zip((0 to nGens + 1) ++ dealt).groupMap(_._2)(_._1)
      LeveledCase(level(0), (1 to nGens).map(level), level(nGens + 1),
        foldEvery)
    }
  }

  test("leveled twin: the probe over main ∪ L0 equals " +
      "minhashCandidatesIncremental over the whole corpus, for 0-3 L0 " +
      "generations and any fold cadence") {
    // per case: (candidate pairs, L0 live at the probe, a fold ran)
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Int, Boolean, Boolean)]
    val prop = Prop.forAllNoShrink(leveledCaseGen) { c =>
      val sigT = s"graft_test_twsig_${seen.size}"
      val bandT = s"graft_test_twband_${seen.size}"
      try {
        val l0 = leveledIndex(c.main, c.gens, c.foldEvery, sigT, bandT)
        val got = canonPairs(probe(c.batch, sigT, bandT, l0))
        val want = canonPairs(Dedup.minhashCandidatesIncremental(
          docsDf(c.main ++ c.gens.flatten), docsDf(c.batch), "doc_id", "text",
          shingleSize = 3, numHashes = 32, bands = 16))
        seen += ((want.size, l0.nonEmpty, c.foldEvery <= c.gens.size))
        Prop(got == want) :| s"${c.gens.size} L0 generations, foldEvery=" +
          s"${c.foldEvery}: probe ${got.size} pairs, recompute ${want.size}"
      } finally Dedup.dropDedupIndex(spark, sigT, bandT)
    }
    val params = Test.Parameters.default.withMinSuccessfulTests(4)
      .withWorkers(1).withInitialSeed(Seed(20261017L))
    val res = Test.check(params, prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
    assert(seen.exists(_._1 > 0) && seen.exists(_._2) && seen.exists(_._3),
      s"the cases missed candidate pairs, a live L0 or a fold: $seen")
  }

  test("live vs indexed twin: minhashCandidatesIncremental over base ∪ " +
      "generations equals the probe of an index built over base with the " +
      "generations as its L0") {
    // per case: (L0 generations, pairs, pairs above 0.8)
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int)]
    val prop = Prop.forAllNoShrink(leveledCaseGen) { c =>
      val (sigT, bandT) = (s"graft_test_lisig_${seen.size}",
        s"graft_test_liband_${seen.size}")
      try {
        Dedup.buildDedupIndex(docsDf(c.main), "doc_id", "text",
          shingleSize = 3, numHashes = 32, bands = 16, sigT, bandT, buckets = 4)
        val got = canonPairs(probe(c.batch, sigT, bandT, c.gens.flatten))
        val want = canonPairs(Dedup.minhashCandidatesIncremental(
          docsDf(c.main ++ c.gens.flatten), docsDf(c.batch), "doc_id", "text",
          shingleSize = 3, numHashes = 32, bands = 16))
        seen += ((c.gens.size, want.size, want.count(_._3 > 0.8)))
        Prop(got == want) :| s"${c.gens.size} L0 generations: probe " +
          s"${got.size} pairs, live ${want.size}"
      } finally Dedup.dropDedupIndex(spark, sigT, bandT)
    }
    val params = Test.Parameters.default.withMinSuccessfulTests(4)
      .withWorkers(1).withInitialSeed(Seed(20261021L))
    val res = Test.check(params, prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
    assert(seen.exists(_._1 == 0) && seen.exists(_._1 > 0) &&
      seen.exists(_._3 > 0),
      s"the cases missed zero L0 generations, some L0 generations or a " +
        s"pair above 0.8: $seen")
  }

  test("a fold whose band rewrite fails publishes nothing: the sig main " +
      "level and its L0 keep their rows, and no _folding sibling is left") {
    val corpus = randomCorpus(5)
    val (sigT, bandT) = ("graft_test_fpsig", "graft_test_fpband")
    try {
      val l0 = leveledIndex(corpus.filter(_._1 % 3 == 0),
        Seq(corpus.filter(_._1 % 3 == 1), corpus.filter(_._1 % 3 == 2)),
        foldEvery = 3, sigT, bandT)
      // a band main level without an `id` column: the band sibling's
      // unionByName fails after the sig sibling was written
      spark.sql(s"DROP TABLE $bandT")
      spark.range(3).select(col("id").as("bkey")).write.format("parquet")
        .bucketBy(4, "bkey").sortBy("bkey").saveAsTable(bandT)
      val before = (spark.table(sigT).count(), levelFiles(sigT))
      // L0 is the caller's docs, which a fold never touches
      intercept[org.apache.spark.sql.AnalysisException](fold(l0, sigT, bandT))
      assert((spark.table(sigT).count(), levelFiles(sigT)) == before,
        "a failed fold published the sig table")
      val folding = spark.catalog.listTables().collect().map(_.name)
        .filter(_.endsWith("_folding"))
      assert(folding.isEmpty, s"a failed fold left ${folding.mkString(", ")}")
    } finally Dedup.dropDedupIndex(spark, sigT, bandT)
  }

  test("a fold over 1-3 L0 generations leaves the same main levels as " +
      "buildDedupIndex over the same docs") {
    // per case: (L0 generations, L0 live before the explicit fold, a fold
    // ran at the cadence)
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Int, Boolean, Boolean)]
    val gen = leveledCaseGen.map(c =>
      if (c.gens.isEmpty) c.copy(gens = Seq(c.batch)) else c)
    val prop = Prop.forAllNoShrink(gen) { c =>
      val (sigT, bandT) = (s"graft_test_fdsig_${seen.size}",
        s"graft_test_fdband_${seen.size}")
      val (sigB, bandB) = (s"graft_test_fbsig_${seen.size}",
        s"graft_test_fbband_${seen.size}")
      try {
        val l0 = leveledIndex(c.main, c.gens, c.foldEvery, sigT, bandT)
        fold(c.main ++ c.gens.flatten, sigT, bandT)
        seen += ((c.gens.size, l0.nonEmpty, c.foldEvery <= c.gens.size))
        Dedup.buildDedupIndex(docsDf(c.main ++ c.gens.flatten), "doc_id",
          "text", shingleSize = 3, numHashes = 32, bands = 16, sigB, bandB,
          buckets = 4)
        // evaluated here: `&&` takes its right side by name, which would
        // run after the finally below dropped the tables
        val sameBands = levelRows(bandT) == levelRows(bandB)
        val sameSigs = levelRows(sigT) == levelRows(sigB)
        Prop(sameBands) :|
            s"${c.gens.size} generations: folded (bkey, id) rows differ" &&
          Prop(sameSigs) :|
            s"${c.gens.size} generations: folded (id, sig) rows differ"
      } finally {
        Dedup.dropDedupIndex(spark, sigT, bandT)
        Dedup.dropDedupIndex(spark, sigB, bandB)
      }
    }
    val params = Test.Parameters.default.withMinSuccessfulTests(4)
      .withWorkers(1).withInitialSeed(Seed(20261020L))
    val res = Test.check(params, prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
    assert(seen.forall(c => c._2 || c._3) && seen.exists(_._1 > 1),
      s"the cases missed a fold, or never folded 2+ generations: $seen")
  }

  test("a repeated fold of the same docs leaves both main levels unchanged") {
    val corpus = randomCorpus(7)
    val (sigT, bandT) = ("graft_test_rfsig", "graft_test_rfband")
    try {
      Dedup.buildDedupIndex(docsDf(corpus.filter(_._1 % 3 == 0)), "doc_id",
        "text", shingleSize = 3, numHashes = 32, bands = 16, sigT, bandT,
        buckets = 4)
      val folded = corpus.filter(_._1 % 3 != 0)
      fold(folded, sigT, bandT)
      def levels() = Seq(sigT, bandT).map(t => (levelRows(t), levelFiles(t)))
      val once = levels()
      assert(once.head._1.size == corpus.size, "the first fold lost docs")
      fold(folded, sigT, bandT)
      assert(levels() == once, "a repeated fold changed a main level")
      // and so does a fold of docs the main level held from its build
      fold(corpus, sigT, bandT)
      assert(levels() == once, "a fold of built docs changed a main level")
    } finally Dedup.dropDedupIndex(spark, sigT, bandT)
  }
}

object DedupPropertySpec {
  /** One generated leveled index: the main level, 0-3 L0 generations, the
    * probing batch and the fold cadence. */
  private final case class LeveledCase(main: Seq[(Long, String)],
      gens: Seq[Seq[(Long, String)]], batch: Seq[(Long, String)],
      foldEvery: Int)
}
