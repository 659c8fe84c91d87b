package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.functions.{Hashing, Vectors}
import graft.sources.CsvToParquet

/** Semantic unit specs per extension operator (the oracle gate checks
  * cross-engine value equality; these check the MEANING — known inputs with
  * hand-derivable outputs, recall/precision behavior, edge cases). */
class DedupSpec extends SparkSpec {
  import org.apache.spark.sql.DataFrame

  private def docs(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("exactGroups: identical texts collapse; keeper is min id") {
    val d = docs(1L -> "alpha beta", 2L -> "alpha beta", 3L -> "gamma")
    val g = Dedup.exactGroups(d, "doc_id", "text").collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(g == Set((1L, 2L), (3L, 1L))) // (keeper_id, n_copies)
  }

  test("minhash: identical docs get identical signatures; est_jaccard=1") {
    val d = docs(1L -> "w1 w2 w3 w4 w5 w6", 2L -> "w1 w2 w3 w4 w5 w6",
      3L -> "completely different words here now yes")
    val cand = Dedup.minhashCandidates(d, "doc_id", "text", 3, 32, 16).collect()
    val dup = cand.find(r => r.getLong(0) == 1L && r.getLong(1) == 2L)
    assert(dup.isDefined && dup.get.getDouble(2) == 1.0)
    // disjoint shingle sets should not band-collide
    assert(!cand.exists(r => r.getLong(1) == 3L || r.getLong(0) == 3L))
  }

  test("minhashSigs (fused expr) = explode-agg twin = higher-order twin") {
    val d = docs(1L -> "a b c d e f g", 2L -> "x", 3L -> "p q r")
    val fast = Dedup.minhashSigs(d, "doc_id", "text", 3, 16)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val agg = DedupTwins.minhashSigsAgg(d, "doc_id", "text", 3, 16)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val slow = DedupTwins.withMinhash(d.select(col("doc_id").as("id"), col("text")),
        "text", "sig", 3, 16)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](2)).toMap
    assert(fast == slow)
    assert(agg == slow)
    // and on real corpus text (multi-space/punctuation edge shapes)
    val real = spark.read.parquet(s"$sfDir/documents.parquet").limit(50)
    val fastR = Dedup.minhashSigs(real, "doc_id", "text", 3, 32)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val aggR = DedupTwins.minhashSigsAgg(real, "doc_id", "text", 3, 32)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(fastR == aggR)
  }

  test("simhash: near-identical docs have small hamming distance, disjoint docs large") {
    val d = docs(
      1L -> "the quick brown fox jumps over the lazy dog today",
      2L -> "the quick brown fox jumps over the lazy cat today",
      3L -> "zzz yyy xxx www vvv uuu ttt sss rrr qqq")
    val sigs = DedupTwins.withSimhash(d, "text", "sh").collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(1L), sigs(2L)) < ham(sigs(1L), sigs(3L)))
    assert(ham(sigs(1L), sigs(2L)) <= 8)
  }

  test("corpusDiff: added/removed/changed/unchanged classified exactly") {
    import spark.implicits._
    val old = Seq((1L, "same"), (2L, "will change"), (3L, "gone")).toDF("doc_id", "text")
    val neu = Seq((1L, "same"), (2L, "changed!"), (4L, "brand new")).toDF("doc_id", "text")
    val got = Dedup.corpusDiff(old, neu, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added"))
  }

  test("minhashCandidates maxBucketSize drops mega-bucket pairs only") {
    // 12 identical docs (degenerate bucket) + 2 near-dup docs
    val rows = (1L to 12L).map(_ -> "same same same same same") ++
      Seq(21L -> "near dup doc one two three", 22L -> "near dup doc one two four")
    val d = docs(rows: _*)
    val unlimited = Dedup.minhashCandidates(d, "doc_id", "text", 3, 32, 16)
    assert(unlimited.where(col("id_a") <= 12 && col("id_b") <= 12).count() == 66) // C(12,2)
    graft.core.CacheScope.drain() // same signature plan re-persists below
    val capped = Dedup.minhashCandidates(d, "doc_id", "text", 3, 32, 16,
      maxBucketSize = Some(8))
    assert(capped.where(col("id_a") <= 12).count() == 0) // mega-cluster skipped
    assert(capped.where(col("id_a") === 21 && col("id_b") === 22).count() == 1) // survivors intact
  }

  test("simhashSigs (fused expr) = explode-agg twin = higher-order twin") {
    val real = spark.read.parquet(s"$sfDir/documents.parquet").limit(50)
    val slow = DedupTwins.withSimhash(real, "text", "sh")
      .select("doc_id", "sh").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fast = Dedup.simhashSigs(real, "doc_id", "text", "sh")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val agg = DedupTwins.simhashSigsAgg(real, "doc_id", "text", "sh")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == slow)
    assert(agg == slow)
    // doubled-space edge: split(text, ' ') emits empty tokens — all three
    // formulations must hash them identically
    val tricky = docs(1L -> "a  b", 2L -> " lead", 3L -> "trail ")
    val f2 = Dedup.simhashSigs(tricky, "doc_id", "text", "sh")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val a2 = DedupTwins.simhashSigsAgg(tricky, "doc_id", "text", "sh")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(f2 == a2)
  }

  test("ngramJaccardPairs: exact jaccard on constructed overlap") {
    // doc1: shingles {a b c, b c d} ; doc2: {a b c, b c x} → shared 1, union 3
    val d = docs(1L -> "a b c d", 2L -> "a b c x")
    val pairs = Dedup.ngramJaccardPairs(d, "doc_id", "text", 3, 0.0, 100).collect()
    assert(pairs.length == 1)
    assert(pairs.head.getLong(2) == 1L) // shared
    assert(math.abs(pairs.head.getDouble(3) - 1.0 / 3) < 1e-12)
  }

  test("ngramJaccardPairs: maxDocFreq drops ubiquitous shingles") {
    val common = (1L to 30L).map(i => i -> s"same same same unique$i tail$i")
    val pairs = Dedup.ngramJaccardPairs(docs(common: _*), "doc_id", "text",
      3, 0.0, maxDocFreq = 10)
    // 'same same same' appears in 30 docs > df-cut 10 → no candidate pairs at all
    assert(pairs.count() == 0)
  }

  test("containmentPairs: full quote inside a longer doc scores 1.0 where jaccard is low") {
    // doc1 (4 shingles) quoted whole inside doc2 (9 shingles, 4 shared):
    // containment = 4/4 = 1.0; jaccard = 4/9 — below a 0.5 dup threshold
    val d = docs(
      1L -> "a b c d e f",
      2L -> "x1 x2 x3 a b c d e f y1 y2")
    val cont = Dedup.containmentPairs(d, "doc_id", "text", n = 3,
      minContainment = 0.9, minShared = 2, maxDocFreq = 100).collect()
    assert(cont.length == 1)
    assert(cont.head.getLong(2) == 4L) // shared shingles
    assert(cont.head.getDouble(3) == 1.0)
    // drain between the two operators: both persist the same exploded index
    // plan over `d`, and re-persisting a live plan trips CacheManager's
    // "already cached" warning (benign, but it pollutes the suite log)
    graft.core.CacheScope.drain()
    val jac = Dedup.ngramJaccardPairs(d, "doc_id", "text", n = 3,
      minJaccard = 0.5, maxDocFreq = 100)
    assert(jac.count() == 0)
  }

  test("containmentPairs: minShared prunes single-shingle coincidences") {
    val d = docs(1L -> "a b c q r s", 2L -> "a b c x y z")
    // exactly one shared shingle ("a b c"); minShared = 2 drops the pair
    // even though containment 1/4 would pass a 0.2 threshold
    assert(Dedup.containmentPairs(d, "doc_id", "text", n = 3,
      minContainment = 0.2, minShared = 2, maxDocFreq = 100).count() == 0)
    graft.core.CacheScope.drain() // same index plan re-persists below
    assert(Dedup.containmentPairs(d, "doc_id", "text", n = 3,
      minContainment = 0.2, minShared = 1, maxDocFreq = 100).count() == 1)
  }

  test("cdcChunks: fused == declarative twin on corpus text; boundaries are content-local") {
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet").limit(150)
      .select(col("doc_id"), col("text"))
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    val fused = canon(Dedup.cdcChunks(corpus, "doc_id", "text"))
    val slow = canon(DedupTwins.cdcChunksDeclarative(corpus, "doc_id", "text"))
    assert(fused == slow)
    assert(fused.nonEmpty)
    // chunks tile each doc exactly: starts = 1, prev_end + 1; final end = n
    val byDoc = fused.groupBy(_._1)
    byDoc.foreach { case (id, cs) =>
      val sorted = cs.toSeq.sortBy(_._2)
      assert(sorted.head._3 == 1L, s"doc $id first chunk must start at 1")
      sorted.sliding(2).foreach {
        case Seq(a, b) => assert(b._3 == a._4 + 1, s"doc $id gap: $a -> $b")
        case _ =>
      }
    }
    // the CDC point: the SAME passage re-chunks identically after a prefix
    // shift — its chunk hashes survive, where fixed-width segments all move
    import spark.implicits._
    val passage = ("alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima mike november oscar papa quebec romeo sierra tango " +
      "uniform victor whiskey xray yankee zulu one two three four five six " +
      "seven eight nine ten eleven twelve thirteen fourteen fifteen sixteen")
    val pair = Seq((1L, passage), (2L, s"shift $passage")).toDF("doc_id", "text")
    val hashes = Dedup.cdcChunks(pair, "doc_id", "text", window = 4, divisor = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(4))
    val h1 = hashes.collect { case (1L, h) => h }.toSet
    val h2 = hashes.collect { case (2L, h) => h }.toSet
    assert(h1.intersect(h2).nonEmpty,
      s"shifted passage must share chunk hashes: $h1 vs $h2")
    // empty + short docs: one whole-doc chunk, no crash
    val edge = Dedup.cdcChunks(Seq((9L, ""), (10L, "a b")).toDF("doc_id", "text"),
      "doc_id", "text").collect().map(r => (r.getLong(0), r.getLong(3)))
    assert(edge.toSet == Set((9L, 1L), (10L, 2L)))
  }

  test("noveltyRates: repeat of an earlier doc scores 0, fresh content 1, overlap in between") {
    val d = docs(
      1L -> "a b c d e",   // 3 distinct shingles, all first seen here → 1.0
      2L -> "a b c d e",   // identical, later id → 0.0
      3L -> "p q r s t",   // fresh → 1.0
      4L -> "a b c p p")   // shingles {a b c, b c p, c p p}: 1 of 3 seen → 2/3
    val out = Dedup.noveltyRates(d, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(out(1L) == 1.0)
    assert(out(2L) == 0.0)
    assert(out(3L) == 1.0)
    assert(math.abs(out(4L) - 0.666667) < 1e-9)
  }

  test("contaminatedIds flags exactly the docs sharing enough n-grams with the ref set") {
    import spark.implicits._
    val ref = Seq((100L, "the quick brown fox jumps over the lazy dog tonight"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "intro words the quick brown fox jumps over the lazy dog tonight indeed"), // heavy overlap
      (2L, "the quick brown cat naps under the warm sun today always"),               // < minShared
      (3L, "completely unrelated text about databases and distributed query engines")
    ).toDF("doc_id", "text")
    val got = Dedup.contaminatedIds(corpus, "doc_id", "text", ref, "text",
        n = 3, minShared = 3, maxDocFreq = 100)
      .as[(Long, Long)].collect().toMap
    assert(got.keySet == Set(1L))
    assert(got(1L) >= 3L)
  }

  test("contaminatedIds: fractional cull keeps recall where the absolute " +
      "cap deletes the evidence (duplicated-benchmark corpus)") {
    import spark.implicits._
    val leak = "the quick brown fox jumps over the lazy dog tonight"
    val ref = Seq((100L, leak)).toDF("doc_id", "text")
    // 30 exact copies of the benchmark text + 10 unrelated docs: the leak
    // shingles' df (30) crosses an absolute cap of 10, but is 75% of corpus
    val corpus = ((1L to 30L).map(i => (i, leak)) ++ (31L to 40L).map(i =>
        (i, s"doc $i standalone words nothing shared with anything here")))
      .toDF("doc_id", "text")
    // absolute cap: the hot cut removes every leak shingle → zero recall
    assert(Dedup.contaminatedIds(corpus, "doc_id", "text", ref, "text",
      n = 3, minShared = 3, maxDocFreq = 10).count() == 0L)
    // fractional cap (90% of 40 = 36 > 30): all 30 copies flagged
    val got = Dedup.contaminatedIds(corpus, "doc_id", "text", ref, "text",
        n = 3, minShared = 3, maxDocFreq = 10,
        maxDocFreqFrac = Some(0.9))
      .as[(Long, Long)].collect().toMap
    assert(got.keySet == (1L to 30L).toSet)
    // truly ubiquitous shingles still cull under the fraction
    assert(Dedup.contaminatedIds(corpus, "doc_id", "text", ref, "text",
      n = 3, minShared = 3, maxDocFreq = 10,
      maxDocFreqFrac = Some(0.5)).count() == 0L)
  }

  test("editDistancePairs: blocking isolates groups; threshold and distance exact") {
    import spark.implicits._
    val d = Seq(
      (1L, "g1", "kitten ate the food"),
      (2L, "g1", "sitten ate the food"),  // dist 1 from doc 1
      (3L, "g1", "zzzzzz qqq www eeee"),  // far from both
      (4L, "g2", "kitten ate the food")   // identical to 1 but other block
    ).toDF("doc_id", "blk", "text")
    val got = Dedup.editDistancePairs(d, "doc_id", "text",
        blockCols = Seq("blk"), prefixLen = 30, maxDist = 5)
      .select("id_a", "id_b", "dist")
      .as[(Long, Long, Int)].collect().toSet
    assert(got == Set((1L, 2L, 1)))
    // content band (prefix blocking, the linear-scaling switch): docs 1/2
    // differ at char 1, so a 6-char band separates them; a same-head pair
    // still reports with the identical distance
    val d2 = d.union(Seq((5L, "g1", "kitten ate the good")).toDF(
      "doc_id", "blk", "text"))
    val banded = Dedup.editDistancePairs(d2, "doc_id", "text",
        blockCols = Seq("blk"), prefixLen = 30, maxDist = 5, bandChars = 6)
      .select("id_a", "id_b", "dist")
      .as[(Long, Long, Int)].collect().toSet
    assert(banded == Set((1L, 5L, 1)),
      s"band must keep same-head pairs only: $banded")
  }
}

class SimilaritySpec extends SparkSpec {

  private def vecs(rows: (Long, Seq[Float])*) = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding")
  }

  test("bruteForceTopK: exact ranking on constructed geometry") {
    val v = vecs(
      0L -> Seq(1f, 0f), 1L -> Seq(0.9f, 0.1f), 2L -> Seq(0f, 1f), 3L -> Seq(-1f, 0f))
    val top = Similarity.bruteForceTopK(v, v.where(col("vec_id") === 0), k = 3)
      .collect().map(r => (r.getInt(1), r.getLong(2))).toList
    assert(top.map(_._2) == List(1L, 2L, 3L)) // by descending cosine to (1,0)
  }

  test("thresholdPairs: only pairs above minCosine, id_a < id_b") {
    val v = vecs(0L -> Seq(1f, 0f), 1L -> Seq(1f, 0.01f), 2L -> Seq(0f, 1f))
    val pairs = Similarity.thresholdPairs(v, v, minCosine = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet == Set((0L, 1L)))
  }

  test("lshTopK: recall on identical vectors is 1 (same bucket by construction)") {
    val v = vecs(0L -> Seq(1f, 2f, 3f, 4f), 1L -> Seq(1f, 2f, 3f, 4f),
      2L -> Seq(-1f, -2f, -3f, -4f))
    val res = Similarity.lshTopK(v, v.where(col("vec_id") === 0), k = 5,
      numPlanes = 8, dims = 4).collect()
    assert(res.exists(r => r.getLong(2) == 1L && math.abs(r.getDouble(3) - 1.0) < 1e-9))
    // antipodal vector flips every sign bit → different bucket, never a candidate
    assert(!res.exists(r => r.getLong(2) == 2L))
  }

  test("LshSigs = per-table lshSignBits on real embeddings (fused codegen twin)") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").limit(200)
    val (tables, planes, dims) = (4, 10, 64)
    val fused = emb.select(col("vec_id"),
        graft.functions.LshSigs(col("embedding"), tables, planes, dims).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val perTable = emb.select(col("vec_id") +: (0 until tables).map(t =>
        Vectors.lshSignBits(col("embedding"), planes, dims,
          planeOffset = t * planes).as(s"t$t")): _*)
      .collect().map(r => r.getLong(0) -> (1 to tables).map(r.getLong(_))).toMap
    assert(fused.keySet == perTable.keySet)
    fused.foreach { case (id, s) =>
      assert(s == perTable(id), s"vec $id: fused $s != declarative ${perTable(id)}")
    }
    // stays inside whole-stage codegen on a file-backed scan
    val plan = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(graft.functions.LshSigs(col("embedding"), tables, planes, dims))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), plan.take(300))
  }

  test("lshTopKMulti: recall@5 is monotone in table count and beats one table") {
    // pseudo-random directionless corpus (the hard case for sign-LSH: no
    // cluster structure to get lucky on) — recall must come from
    // OR-amplification, not data shape. In-engine stableHash generation,
    // exactly reproducible.
    def pseudo(s: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      Hashing.stableHash31(s).cast("double") / lit(Hashing.P.toDouble) - 0.5
    val emb = spark.range(3000).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(15)), d =>
        pseudo(concat_ws("_", col("id"), d)).cast("float")).as("embedding"))
    val queries = emb.where(col("vec_id") < 12)
    val truth = Similarity.bruteForceTopK(emb, queries, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    def recallAt(tables: Int): Double = {
      val got = Similarity.lshTopKMulti(emb, queries, k = 5,
          numTables = tables, numPlanes = 10, dims = 16)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      got.intersect(truth).size.toDouble / truth.size
    }
    val r = Seq(1, 2, 4, 8).map(t => t -> recallAt(t)).toMap
    assert(r(1) <= r(2) && r(2) <= r(4) && r(4) <= r(8),
      s"recall must be monotone in numTables: $r")
    assert(r(8) > r(1), s"8 tables must beat 1 (the amplification point): $r")
    // directionless random data is the LSH worst case (true neighbors are
    // barely closer than noise), so the absolute bar is modest — the claim
    // under test is amplification, not single-table quality
    assert(r(8) >= 0.35, s"8x10-plane recall unusably low: $r")
    // table 0 of the multi-table index uses plane offset 0 == the single
    // table's planes, so 1-table multi must equal plain lshTopK exactly
    val single = Similarity.lshTopK(emb, queries, k = 5,
        numPlanes = 10, dims = 16)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val multi1 = Similarity.lshTopKMulti(emb, queries, k = 5, numTables = 1,
        numPlanes = 10, dims = 16)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(single == multi1)
  }

  test("ivfTopK: probing all cells recovers the exact brute-force ranking") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val queries = emb.where(col("vec_id") < 4)
    val exact = Similarity.bruteForceTopK(emb, queries, k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // nprobe == nlist → every cell searched → must equal brute force
    val full = Similarity.ivfTopK(emb, queries, k = 3, nlist = 8, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(full == exact)
    // restricted probing returns a subset-quality result: right shape, valid ranks
    val probed = Similarity.ivfTopK(emb, queries, k = 3, nlist = 8, nprobe = 2).collect()
    assert(probed.nonEmpty)
    assert(probed.groupBy(_.getLong(0)).values.forall(_.map(_.getInt(1)).toSet
      .subsetOf(Set(1, 2, 3))))
  }

  test("pqTopK: a codebook covering the corpus reconstructs exact L2 ranking") {
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .where(col("vec_id") < 64) // small corpus so ksub can cover it
    val queries = emb.where(col("vec_id") < 4)
    // ksub = |corpus|: every subvector's nearest codeword is itself
    // (distance 0), so ADC distance == exact L2² and the ranking must
    // equal a brute-force L2 ranking with the same tie-break
    val l2sq = aggregate(
      zip_with(col("q_vec"), col("c_vec"), (x, y) =>
        (x.cast("double") - y.cast("double")) *
          (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, x) => acc + x)
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_vec"))
    val c = emb.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("c_vec"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
      .orderBy(col("d").asc, col("neighbor_id").asc)
    val exact = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("d", l2sq)
      .withColumn("rank", row_number().over(w)).where(col("rank") <= 3)
      .collect().map(r => (r.getLong(r.fieldIndex("query_id")),
        r.getInt(r.fieldIndex("rank")),
        r.getLong(r.fieldIndex("neighbor_id")))).toSet
    val pq = Similarity.pqTopK(emb, queries, k = 3, m = 8, ksub = 64)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(pq == exact)
    // a REAL compression ratio (ksub = 16 << corpus) still returns full
    // valid rankings per query — approximation changes scores, not shape
    val lossy = Similarity.pqTopK(emb, queries, k = 3, m = 8, ksub = 16)
      .collect()
    assert(lossy.groupBy(_.getLong(0)).values.forall(
      _.map(_.getInt(1)).toSet == Set(1, 2, 3)))
    assert(lossy.forall(_.getDouble(3) >= 0.0))
  }

  test("ivfPqTopK: covered candidates score exact L2; probes grow monotonically") {
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .where(col("vec_id") < 64)
    val queries = emb.where(col("vec_id") < 4)
    // all cells probed + a codebook covering every non-seed residual: each
    // covered candidate's codes reconstruct its residual exactly, so its
    // ADC distance is the true L2² (residual subtraction cancels the shared
    // cell centroid up to ulps — compare with a relative tolerance)
    val full = Similarity.ivfPqTopK(emb, queries, k = 63,
        nlist = 8, nprobe = 8, m = 8, ksub = 56)
      .where(col("neighbor_id") >= 8)
    val l2sq = aggregate(
      zip_with(col("q_vec"), col("c_vec"), (x, y) =>
        (x.cast("double") - y.cast("double")) *
          (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, x) => acc + x)
    val exact = emb.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("c_vec"))
      .join(broadcast(queries.select(col("vec_id").as("query_id"),
        col("embedding").as("q_vec"))), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), l2sq.as("l2"))
    val drift = full.join(exact, Seq("query_id", "neighbor_id"))
      .select(max(abs(col("adc_dist") - col("l2")) /
        greatest(col("l2"), lit(1.0)))).head.getDouble(0)
    assert(drift < 1e-9, s"covered-candidate ADC drifted from exact L2: $drift")
    // more probes only widen the candidate set — never change a distance
    def pairs(nprobe: Int) = Similarity.ivfPqTopK(emb, queries, k = 63,
        nlist = 8, nprobe = nprobe, m = 8, ksub = 16)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val one = pairs(1)
    assert(one.nonEmpty && one.subsetOf(pairs(8)))
    // real compression settings on the full corpus: full valid rankings,
    // nonnegative distances monotone in rank
    val lossy = Similarity.ivfPqTopK(
        spark.read.parquet(s"$sfDir/embeddings.parquet"),
        queries, k = 5, nlist = 16, nprobe = 4, m = 8, ksub = 16)
      .collect()
    assert(lossy.groupBy(_.getLong(0)).values.forall { rs =>
      val byRank = rs.sortBy(_.getInt(1))
      byRank.map(_.getInt(1)).toSeq == (1 to rs.length) &&
        byRank.map(_.getDouble(3)).toSeq.sliding(2).forall(
          s => s.length < 2 || s(0) <= s(1)) &&
        byRank.head.getDouble(3) >= 0.0
    })
  }

  test("ivfRecallCurve: monotone in nprobe, exact recall 1.0 at full probing") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val queries = emb.where(col("vec_id") < 6)
    val curve = Similarity.ivfRecallCurve(emb, queries, k = 5,
        nlist = 8, sweep = Seq(1, 2, 4, 8))
      .orderBy(col("nprobe")).collect()
    assert(curve.map(_.getInt(0)).toSeq == Seq(1, 2, 4, 8))
    // denominator is the ground-truth pair count, constant across the sweep
    assert(curve.forall(_.getLong(2) == 6L * 5))
    // more probes can only add candidates with unchanged scores
    val recalls = curve.map(_.getDouble(3)).toSeq
    assert(recalls.sliding(2).forall(s => s.length < 2 || s(0) <= s(1)),
      s"recall not monotone: $recalls")
    // nprobe == nlist probes every cell → IVF ≡ brute force → recall 1.0
    assert(recalls.last == 1.0, s"full probing must be exact: $recalls")
    assert(curve.last.getLong(1) == curve.last.getLong(2))
  }

  test("bitextMarginMine: recovers a planted translation, mutual-best is 1:1") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val src = emb.where(col("label") === 0)
    val donorId = src.agg(min(col("vec_id"))).head.getLong(0)
    // plant an exact translation: the lowest-id src vector appears on the
    // tgt side under a fresh id — cos = 1 against itself, margin >= 1 by
    // construction (denominator means are <= 1), far above random cosines
    val tgt = emb.where(col("label") === 1)
      .unionByName(src.where(col("vec_id") === donorId)
        .select(lit(100000L).as("vec_id"), col("embedding"), lit(1).as("label")))
    val mined = Similarity.bitextMarginMine(src, tgt, k = 4, minMargin = 1.0)
      .collect()
    assert(mined.exists(r => r.getLong(0) == donorId && r.getLong(1) == 100000L),
      "planted exact translation not mined")
    // mutual-best output is injective on both sides
    assert(mined.map(_.getLong(0)).distinct.length == mined.length)
    assert(mined.map(_.getLong(1)).distinct.length == mined.length)
    assert(mined.forall(r => r.getDouble(3) >= 1.0))
    assert(mined.forall(r => math.abs(r.getDouble(2)) <= 1.0 + 1e-12))
    // an unreachable margin bar empties the output, it doesn't error
    assert(Similarity.bitextMarginMine(src, tgt, k = 4, minMargin = 50.0)
      .count() == 0L)
  }

  test("bitextMarginMineLsh: planted pair survives pruning, pairs are exact-scored candidates") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val src = emb.where(col("label") === 0)
    val donorId = src.agg(min(col("vec_id"))).head.getLong(0)
    val tgt = emb.where(col("label") === 1)
      .unionByName(src.where(col("vec_id") === donorId)
        .select(lit(100000L).as("vec_id"), col("embedding"), lit(1).as("label")))
    // an identical vector collides in EVERY table (identical signatures),
    // so no amplification setting can prune the planted pair
    val lsh = Similarity.bitextMarginMineLsh(src, tgt, k = 4,
      minMargin = 1.0, numTables = 3, numPlanes = 8)
    val mined = lsh.collect()
    assert(mined.exists(r => r.getLong(0) == donorId && r.getLong(1) == 100000L),
      "planted exact translation pruned by LSH candidates")
    // mutual-best output stays injective on both sides under pruning
    assert(mined.map(_.getLong(0)).distinct.length == mined.length)
    assert(mined.map(_.getLong(1)).distinct.length == mined.length)
    assert(mined.forall(r => math.abs(r.getDouble(2)) <= 1.0 + 1e-12))
    // pruned, never re-scored: every mined pair's cosine must be BITWISE
    // equal to the exact scoring path's cosine of the same two vectors
    // (same widen-first index-order fold — graft.functions.Vectors.cosine
    // is exactly what bitextMarginMine computes per pair)
    val rescored = lsh.select(col("src_id"), col("tgt_id"), col("cosine"))
      .join(src.select(col("vec_id").as("src_id"), col("embedding").as("av")),
        Seq("src_id"))
      .join(tgt.select(col("vec_id").as("tgt_id"), col("embedding").as("bv")),
        Seq("tgt_id"))
      .select(col("cosine"),
        graft.functions.Vectors.cosine(col("av"), col("bv")).as("exact_cos"))
      .collect()
    assert(rescored.length == mined.length, "rescoring join must be 1:1")
    assert(rescored.forall(r => r.getDouble(0) == r.getDouble(1)),
      "LSH-mined cosine diverged from the exact scoring of the same pair")
    // with zero tables' collisions impossible to verify directly, check
    // the degenerate path: an unreachable margin bar empties, no error
    assert(Similarity.bitextMarginMineLsh(src, tgt, k = 4, minMargin = 50.0,
      numTables = 3, numPlanes = 8).count() == 0L)
  }

  test("lshPlanesFor: integer-exact sizing, clamps, occupancy invariant") {
    import Similarity.lshPlanesFor
    // exact-power edges — the floating log2(n)/log(2) trap this helper
    // exists to avoid (last-ulp rounding would flip these by one)
    assert(lshPlanesFor(64L, 8L) == 3)  // m = 8  -> ceil(log2 8)  = 3
    assert(lshPlanesFor(65L, 8L) == 4)  // m = 9  -> ceil(log2 9)  = 4
    assert(lshPlanesFor(512L, 8L) == 6) // m = 64 -> exactly 6
    assert(lshPlanesFor(513L, 8L) == 7)
    // clamps: tiny corpora floor at minPlanes, huge ones cap at maxPlanes
    assert(lshPlanesFor(1L, 8L) == 2)
    assert(lshPlanesFor(0L, 8L) == 2)
    assert(lshPlanesFor(Long.MaxValue, 1L) == 28)
    // overflow guard: the naive (n + tb - 1) / tb ceil wraps negative for
    // n near Long.MaxValue with tb > 1 and would silently return minPlanes
    assert(lshPlanesFor(Long.MaxValue, 64L) == 28)
    assert(lshPlanesFor(Long.MaxValue - 1L, 4096L) == 28)
    // the sizing invariant inside the clamp window: the structure holds
    // the corpus (2^p·target >= n) without a wasted doubling
    for (n <- Seq(5L, 50L, 500L, 5000L, 50000L, 1L << 20, (1L << 30) + 7L);
         tb <- Seq(4L, 64L, 512L)) {
      val p = lshPlanesFor(n, tb)
      if (p > 2 && p < 28) {
        assert((1L << p) * tb >= n, s"saturated: n=$n tb=$tb p=$p")
        assert((1L << (p - 1)) * tb < n, s"oversized: n=$n tb=$tb p=$p")
      }
    }
  }

  test("bitextMarginMineLshAuto: equals the fixed twin at the derived size") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val src = emb.where(col("label") === 0)
    val tgt = emb.where(col("label") === 1)
    val n = math.max(src.count(), tgt.count())
    val planes = Similarity.lshPlanesFor(n, targetBucket = 4L)
    assert(planes > 2 && planes < 28, s"fixture should derive mid-range: $planes")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toSet
    val auto = rows(Similarity.bitextMarginMineLshAuto(src, tgt, k = 4,
      minMargin = 1.0, numTables = 3, targetBucket = 4L))
    val fixed = rows(Similarity.bitextMarginMineLsh(src, tgt, k = 4,
      minMargin = 1.0, numTables = 3, numPlanes = planes))
    assert(auto == fixed, "auto-sized miner must be the fixed miner at the derived plane count")
    assert(auto.nonEmpty)
  }

  test("trained IVF centroids: recall at restricted nprobe >= seed centroids") {
    // clustered corpus (what IVF training exists to exploit; the parquet
    // embeddings are directionless noise, where any space partition is as
    // good as any other): 8 deterministic pseudo-random centers, 250
    // points each, ±10% jitter. All generated in-engine from stableHash31
    // so the test is exactly reproducible.
    def pseudo(s: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      Hashing.stableHash31(s).cast("double") / lit(Hashing.P.toDouble) - 0.5
    val emb = spark.range(2000).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(15)), d =>
        // contiguous 250-row blocks per cluster: the seed scheme's "first
        // nlist ids" all land in cluster 0 — the arbitrary-range failure
        // mode training exists to fix
        (pseudo(concat_ws("_", floor(col("id") / 250), lit("c"), d)) +
          pseudo(concat_ws("_", col("id"), lit("j"), d)) * lit(0.2)).cast("float"))
        .as("embedding"))
    val queries = emb.where(col("vec_id") < 16)
    val (k, nlist, nprobe) = (5, 8, 2)
    val truth = Similarity.bruteForceTopK(emb, queries, k)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    def recall(index: Similarity.IvfIndex): Double = {
      val got = Similarity.ivfSearch(index, queries, k, nprobe)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      got.intersect(truth).size.toDouble / truth.size
    }
    val seed = recall(Similarity.ivfIndex(emb, nlist))
    val trained = recall(Similarity.ivfIndex(emb, nlist,
      centroids = Some(Similarity.trainCentroids(emb, nlist, iters = 3))))
    assert(trained >= seed, s"trained recall $trained < seed recall $seed")
    assert(trained > 0.8, s"trained recall $trained not useful") // must recover the clusters
  }

  test("planeWeight matches the in-engine md5 derivation") {
    import spark.implicits._
    val fromSql = Seq("0_0", "0_1", "5_63").toDF("s")
      .select(Hashing.stableHash31(col("s")).cast("double") / lit(Hashing.P.toDouble) - 0.5)
      .collect().map(_.getDouble(0))
    val fromDriver = Seq((0, 0), (0, 1), (5, 63)).map { case (p, d) => Vectors.planeWeight(p, d) }
    assert(fromSql.toSeq == fromDriver)
  }

  test("hardNegatives: never returns the query's own label; ranking is by cosine") {
    import spark.implicits._
    // query (1,0) label 0; same-label near-twin (must be excluded even at
    // cosine 1.0), different-label candidates at decreasing cosine
    val v = Seq(
      (0L, Seq(1f, 0f), 0), (1L, Seq(1f, 0f), 0),
      (2L, Seq(0.9f, 0.1f), 1), (3L, Seq(0f, 1f), 2), (4L, Seq(-1f, 0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.hardNegatives(v, v.where(col("vec_id") === 0), k = 3)
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getInt(3))).toList
    assert(got.map(_._2) == List(2L, 3L, 4L)) // by descending cosine
    assert(got.forall(_._3 != 0)) // own label never mined
  }

  test("int8TopK: quantization is ±127 integers; top-k recall vs float is high") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val qz = emb.limit(50).select(Similarity.quantizeInt8(col("embedding")).as("q"))
      .collect().flatMap(_.getSeq[Long](0))
    assert(qz.forall(v => v >= -127 && v <= 127))
    assert(qz.exists(v => math.abs(v) == 127), "scale component must hit ±127")
    val queries = emb.where(col("vec_id") < 16)
    val exact = Similarity.bruteForceTopK(emb, queries, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val quant = Similarity.int8TopK(emb, queries, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = quant.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.85, s"int8 recall@5 too low: $recall")
  }

  test("int8IvfTopK: cell-scoped candidates track the int8 brute force; " +
      "recall@5 vs float stays high") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val queries = emb.where(col("vec_id") < 16)
    val exact = Similarity.bruteForceTopK(emb, queries, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = Similarity.int8IvfTopK(emb, queries, k = 5, nlist = 16, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    // approximate in WHICH cells are probed, exact in scoring: recall vs
    // the float exhaustive answer stays high at nprobe = nlist/2
    val recall = ivf.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.75, s"int8 IVF recall@5 too low: $recall")
    // every returned neighbor must also be a brute-force int8 candidate
    // scored identically: the IVF result is a SUBSET-ranking of int8TopK's
    // scores, never a different similarity
    val bruteScores = Similarity.int8TopK(emb, queries, k = 5)
      .collect().map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3))).toMap
    val ivfScores = Similarity.int8IvfTopK(emb, queries, k = 5,
        nlist = 16, nprobe = 8)
      .collect().map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3)))
    ivfScores.filter(p => bruteScores.contains(p._1)).foreach { case (key, s) =>
      assert(s == bruteScores(key), s"score drift at $key")
    }
  }

  test("labelOutliers: the planted off-prototype member ranks first in its label") {
    import spark.implicits._
    // label 0 clusters near (1,0); vec 3 is planted orthogonal — the
    // mislabel suspect. label 1 is a 2-member control.
    val v = Seq(
      (0L, Seq(1f, 0f), 0), (1L, Seq(0.95f, 0.05f), 0), (2L, Seq(0.9f, -0.05f), 0),
      (3L, Seq(0f, 1f), 0),
      (10L, Seq(-1f, 0f), 1), (11L, Seq(-0.9f, 0.1f), 1)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.labelOutliers(v, k = 2)
      .collect().map(r => (r.getInt(1), r.getInt(3), r.getLong(0))).toList
    val label0 = got.filter(_._1 == 0).sortBy(_._2).map(_._3)
    assert(label0.head == 3L, s"planted outlier not ranked first: $label0")
    // every label yields exactly min(k, members) rows
    assert(got.count(_._1 == 0) == 2 && got.count(_._1 == 1) == 2)
  }

  test("cellBalancedSample: per-cell cap holds, output is a subset, deterministic") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val (nlist, cap) = (8, 7)
    val s1 = Similarity.cellBalancedSample(emb, nlist, cap)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(s1.groupBy(_._2).values.forall(_.length <= cap))
    val ids = emb.select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(s1.map(_._1).toSet.subsetOf(ids))
    // every non-empty cell contributes (the balance property): cells holding
    // >= cap members must contribute exactly cap
    val cells = Similarity.ivfIndex(emb, nlist).assigned
      .groupBy(col("cid")).count().collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val byCell = s1.groupBy(_._2).map { case (c, xs) => (c, xs.length.toLong) }
    cells.foreach { case (c, n) =>
      assert(byCell.getOrElse(c, 0L) == math.min(n, cap.toLong),
        s"cell $c: ${byCell.getOrElse(c, 0L)} of $n (cap $cap)")
    }
    val s2 = Similarity.cellBalancedSample(emb, nlist, cap)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(s1.sorted.toSeq == s2.sorted.toSeq)
  }
}

class TextAnalysisSpec extends SparkSpec {
  import org.apache.spark.sql.DataFrame

  private def one(text: String): DataFrame = {
    import spark.implicits._
    Seq(text).toDF("text")
  }

  test("hashedFeatures: weight conservation, index range, collision sum") {
    import spark.implicits._
    val df = Seq((1L, "a b a c"), (2L, "a a a a")).toDF("doc_id", "text")
    val rows = TextAnalysis.hashedFeatures(df, "doc_id", "text", dim = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // every index inside [0, dim)
    assert(rows.forall { case (_, i, _) => i >= 0 && i < 8 })
    // per-doc weights conserve the token count
    val byDoc = rows.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    assert(byDoc == Map(1L -> 4L, 2L -> 4L))
    // doc 2 is one token → exactly one bucket row
    assert(rows.count(_._1 == 2L) == 1)
    // same token hashes to the same bucket in both docs
    val aBucket = rows.filter(_._1 == 2L).head._2
    assert(rows.exists { case (d, i, w) => d == 1L && i == aBucket && w >= 2L })
  }

  test("token counts and ratios on a constructed sentence") {
    val r = one("the cat, sat on 42 mats!").select(
      TextAnalysis.tokenCount(col("text")),
      TextAnalysis.punctRatio(col("text")),
      TextAnalysis.digitRatio(col("text")),
      TextAnalysis.stopwordRatio(col("text"))).head()
    assert(r.getInt(0) == 6)
    assert(math.abs(r.getDouble(1) - 2.0 / 24) < 1e-12) // ',' and '!'
    assert(math.abs(r.getDouble(2) - 2.0 / 24) < 1e-12) // '4' '2'
    // 'the' and 'on' hit the en stopword list → 2/6
    assert(math.abs(r.getDouble(3) - 2.0 / 6) < 1e-12)
  }

  test("langIdGuess picks the language with most function-word hits") {
    val df = {
      import spark.implicits._
      Seq("the cat is on the mat", "der hund ist ein tier und das ist gut",
        "el perro es un animal y es bueno", "zzz qqq www").toDF("text")
    }
    val got = df.select(TextAnalysis.langIdGuess(col("text"))).collect().map(_.getString(0))
    assert(got.toSeq == Seq("en", "de", "es", "unknown"))
  }

  test("qualityScore: clean prose beats punctuation soup") {
    val clean = one("this is a perfectly reasonable sentence about some things")
      .select(TextAnalysis.qualityScore(col("text"))).head().getDouble(0)
    val soup = one("!!! ### $$$ %%% 123 456 789 )))")
      .select(TextAnalysis.qualityScore(col("text"))).head().getDouble(0)
    assert(clean > soup)
    assert(clean >= 0.0 && clean <= 1.0 && soup >= 0.0 && soup <= 1.0)
  }

  test("chunk: window arithmetic, overlap, short-doc identity") {
    import spark.implicits._
    val words = (1 to 95).map(i => s"w$i").mkString(" ")
    val chunks = Seq(words).toDF("text")
      .select(TextAnalysis.chunk(col("text"), 50, 10)).head().getSeq[String](0)
    // 95 tokens, step 40 → ceil(85/40) = 3 chunks: [1,50], [41,90], [81,95]
    assert(chunks.length == 3)
    assert(chunks(0).startsWith("w1 ") && chunks(0).endsWith(" w50"))
    assert(chunks(1).startsWith("w41 ") && chunks(1).endsWith(" w90"))
    assert(chunks(2).startsWith("w81 ") && chunks(2).endsWith(" w95"))
    // overlap: chunk1 re-covers tokens 41-50
    assert(chunks(1).split(" ").take(10).toSeq == (41 to 50).map(i => s"w$i"))
    val short = Seq("just three words").toDF("text")
      .select(TextAnalysis.chunk(col("text"), 50, 10)).head().getSeq[String](0)
    assert(short == Seq("just three words"))
  }

  test("redactPii scrubs emails, phones, IPs; clean text passes through") {
    val r = one("mail a.b+c@x.co.uk or 555-123-4567, host 192.168.0.1 ok")
      .select(TextAnalysis.redactPii(col("text"))).head().getString(0)
    assert(r == "mail [EMAIL] or [PHONE], host [IP] ok")
    val clean = "no pii here, just words and 42 numbers"
    assert(one(clean).select(TextAnalysis.redactPii(col("text")))
      .head().getString(0) == clean)
    // phone shape must not eat IPs and vice versa
    val both = one("call 123.456.7890 from 10.0.0.7")
      .select(TextAnalysis.redactPii(col("text"))).head().getString(0)
    assert(both == "call [PHONE] from [IP]")
  }

  test("tfIdfTopK: corpus-wide tokens score zero, rare tokens rank first") {
    import spark.implicits._
    // 'common' in all 3 docs → idf = ln(1) = 0; each doc's rare token wins
    val docs = Seq(
      (1L, "common alpha alpha beta"),
      (2L, "common gamma"),
      (3L, "common delta delta delta")).toDF("doc_id", "text")
    val top = TextAnalysis.tfIdfTopK(docs, "doc_id", "text", k = 1)
      .select("id", "tok", "tfidf")
      .as[(Long, String, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(top(1L)._1 == "alpha") // tf 2 beats beta's tf 1
    assert(top(2L)._1 == "gamma")
    assert(top(3L)._1 == "delta")
    // tf=2, df=1, N=3 → 2*ln(3)
    assert(math.abs(top(1L)._2 - math.rint(2 * math.log(3.0) * 1e6) / 1e6) < 1e-12)
    // ubiquitous token would score exactly 0
    val all = TextAnalysis.tfIdfTopK(docs, "doc_id", "text", k = 10)
      .where(col("tok") === "common").select("tfidf")
      .as[Double].collect()
    assert(all.length == 3 && all.forall(_ == 0.0))
  }

  test("TokenCounts = explode+groupBy twin on real corpus text") {
    import spark.implicits._
    val real = spark.read.parquet(s"$sfDir/documents.parquet").limit(50)
    val fused = real.select(col("doc_id"),
        explode(graft.functions.TokenCounts(col("text"))).as("tc"))
      .select(col("doc_id"), col("tc.tok"), col("tc.tf"))
      .as[(Long, String, Long)].collect().toSet
    val twin = real.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      .as[(Long, String, Long)].collect().toSet
    assert(fused == twin)
    // doubled/leading/trailing spaces → empty tokens, split(text,' ') semantics
    val tricky = Seq((1L, "a  b"), (2L, " x"), (3L, "y ")).toDF("doc_id", "text")
    val f2 = tricky.select(col("doc_id"),
        explode(graft.functions.TokenCounts(col("text"))).as("tc"))
      .select(col("doc_id"), col("tc.tok"), col("tc.tf"))
      .as[(Long, String, Long)].collect().toSet
    val t2 = tricky.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      .as[(Long, String, Long)].collect().toSet
    assert(f2 == t2)
  }

  test("CharBigramCounts: char boundaries, multibyte UTF-8, short-doc empty") {
    import spark.implicits._
    val got = Seq((1L, "abab"), (2L, "x"), (3L, "ä5ä")).toDF("doc_id", "text")
      .select(col("doc_id"),
        explode(graft.functions.CharBigramCounts(col("text"))).as("bc"))
      .select(col("doc_id"), col("bc.bg"), col("bc.n"))
      .as[(Long, String, Long)].collect().toSet
    // "abab": ab×2, ba×1; "x": none (explode drops the empty array);
    // "ä5ä": 2-byte ä sliced on CHAR boundaries, not bytes
    assert(got == Set((1L, "ab", 2L), (1L, "ba", 1L),
      (3L, "ä5", 1L), (3L, "5ä", 1L)))
  }

  test("charLmScore: corpus-like text outranks character soup") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat on the mat and the dog sat on the log"),
      (2L, "the rat sat on the hat and the bat sat on the mat"),
      (3L, "zq jx qz xj zx qj jz xq zj qx jq xz")).toDF("doc_id", "text")
    val scores = TextAnalysis.charLmScore(docs, "doc_id", "text")
      .select("id", "lm_score").as[(Long, Double)].collect().toMap
    // docs 1/2 share each other's transitions; doc 3's bigrams are rare
    assert(scores(3L) < scores(1L) && scores(3L) < scores(2L))
    // avg log-prob is never positive (every P <= 1)
    assert(scores.values.forall(_ <= 0.0))
  }

  test("repetitionStats: distinct ratio and top-token share") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a a a b"), // 5 tokens, 2 distinct, top 'a' 4/5
      (2L, "w x y z")).toDF("doc_id", "text")
    val r = TextAnalysis.repetitionStats(docs, "doc_id", "text")
      .as[(Long, Long, Long, Double, Double)].collect()
      .map(t => t._1 -> t).toMap
    assert(r(1L) == ((1L, 5L, 2L, 0.4, 0.8)))
    assert(r(2L) == ((2L, 4L, 4L, 1.0, 0.25)))
  }

  test("zipfSlope: exact -1 on a perfect Zipf corpus, flat on a uniform one") {
    import spark.implicits._
    // tf = 12/rank exactly: a×12, b×6, c×4, d×3 → ln(tf) = ln 12 − 1·ln(rank),
    // so the least-squares slope is exactly −1 and the fit is residual-free
    val zipf = Seq((1L, (("a " * 12) + ("b " * 6) + ("c " * 4) + ("d " * 3)).trim))
      .toDF("doc_id", "text")
    val fit = TextAnalysis.zipfSlope(zipf, "text", k = 4).collect().head
    assert(fit.getLong(0) == 4L)
    assert(fit.getDouble(1) == -1.0)
    assert(math.abs(fit.getDouble(2) - math.log(12.0)) < 1e-6)
    // uniform frequencies → slope exactly 0
    val flat = Seq((1L, "w x y z w x y z")).toDF("doc_id", "text")
    assert(TextAnalysis.zipfSlope(flat, "text", k = 4).collect().head.getDouble(1) == 0.0)
  }

  test("NgramCounts = explode+groupBy twin on real corpus text; n=1 equals TokenCounts") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(100)
      .select(col("doc_id"), col("text"))
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val fused = canon(docs.select(col("doc_id"),
        explode(graft.functions.NgramCounts(col("text"), 2)).as("g"))
      .select(col("doc_id"), col("g.tok"), col("g.tf")))
    val slow = canon(docs.select(col("doc_id"),
        explode(graft.operators.Dedup.shingles(col("text"), 2)).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf")))
    assert(fused == slow)
    val asTok = canon(docs.select(col("doc_id"),
        explode(graft.functions.NgramCounts(col("text"), 1)).as("g"))
      .select(col("doc_id"), col("g.tok"), col("g.tf")))
    val tok = canon(docs.select(col("doc_id"),
        explode(graft.functions.TokenCounts(col("text"))).as("g"))
      .select(col("doc_id"), col("g.tok"), col("g.tf")))
    assert(asTok == tok)
    // short-doc edge: ≤ n tokens → one "gram" = the whole text
    val tiny = Seq((1L, "solo"), (2L, "a b"), (3L, "")).toDF("doc_id", "text")
    val t = canon(tiny.select(col("doc_id"),
        explode(graft.functions.NgramCounts(col("text"), 2)).as("g"))
      .select(col("doc_id"), col("g.tok"), col("g.tf")))
    assert(t == Set((1L, "solo", 1L), (2L, "a b", 1L), (3L, "", 1L)))
  }

  test("wordLmScore: natural phrase repetition outranks shuffled word soup") {
    import spark.implicits._
    // docs 1-3 share phrase structure ("the quick fox" patterns repeat →
    // high P(w|prev)); doc 4 uses the SAME words in unrepeated orders
    val docs = Seq(
      (1L, "the quick fox runs and the quick fox sleeps"),
      (2L, "the quick fox runs and the quick fox eats"),
      (3L, "the quick fox runs and the quick fox hides"),
      (4L, "fox the and quick runs sleeps eats hides the")).toDF("doc_id", "text")
    val scores = TextAnalysis.wordLmScore(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(scores(1L) > scores(4L),
      s"phrase-structured doc must outrank soup: $scores")
  }

  test("wordLmScore: modelJoinHint pins a partitioned scoring join, same values") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick fox runs and the quick fox sleeps"),
      (2L, "fox the and quick runs sleeps eats hides the")).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val default = rows(TextAnalysis.wordLmScore(docs, "doc_id", "text"))
    graft.core.CacheScope.drain() // same bigram plan re-persists below
    val pinned = TextAnalysis.wordLmScore(docs, "doc_id", "text",
      modelJoinHint = Some("shuffle_hash"))
    // identical values under either strategy (the hint is physical-only)
    assert(default == rows(pinned))
    // the pinned plan must NOT broadcast the (unbounded-vocab) model —
    // that is the whole point of the hint at web-corpus scale
    val plan = pinned.queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"), plan.take(500))
    graft.core.CacheScope.drain()
  }

  test("compressionRatio: loops compress far below prose; empty defined; SQL-reachable; codegen'd") {
    import spark.implicits._
    val spam = ("spam " * 200).trim
    val prose = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(concat_ws(" ", collect_list(col("text"))).as("text"))
      .head().getString(0).take(1000)
    val df = Seq((1L, spam), (2L, prose), (3L, "")).toDF("id", "text")
      .select(col("id"), TextAnalysis.compressionRatio(col("text")).as("r"))
    val r = df.collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r(1L) < 0.05, s"looping text must crush: ${r(1L)}")   // 'spam '×200
    assert(r(2L) > 0.3 && r(2L) < 1.0, s"prose mid-range: ${r(2L)}")
    assert(r(3L) == 0.0) // empty defined, not NaN
    assert(r(1L) < r(2L))
    // SQL face plans the same expression
    val viaSql = spark.sql(s"SELECT compression_ratio('${"ab " * 50}')")
      .head().getDouble(0)
    assert(viaSql > 0 && viaSql < 0.5)
    // stays inside whole-stage codegen on a file-backed scan
    val plan = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(TextAnalysis.compressionRatio(col("text")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), plan.take(300))
  }

  test("fingerprint is order-sensitive (anagram docs differ)") {
    val a = one("alpha beta gamma").select(TextAnalysis.fingerprint(col("text"))).head().getLong(0)
    val b = one("gamma beta alpha").select(TextAnalysis.fingerprint(col("text"))).head().getLong(0)
    val a2 = one("alpha beta gamma").select(TextAnalysis.fingerprint(col("text"))).head().getLong(0)
    assert(a != b && a == a2)
  }

  test("bpeSegment: greedy leftmost merges, chained symbols, corpus token count") {
    import spark.implicits._
    val df = Seq("lower lower aaaa go").toDF("text")
    // (l,o) then (lo,w): the second merge consumes the FIRST merge's output
    // symbol — the rank-chaining BPE is defined by
    val seg = TextAnalysis.bpeSegment(df, "text",
      Seq("l" -> "o", "lo" -> "w", "a" -> "a"))
      .collect().map(r => r.getString(0) -> ((r.getString(2), r.getLong(3), r.getLong(1)))).toMap
    assert(seg("lower") == (("low e r", 3L, 2L)))
    // documented deviation from canonical BPE: a same-pair RUN merges every
    // other occurrence (shared delimiter space), canonical would give "aa aa"
    assert(seg("aaaa") == (("aa a a", 3L, 1L)))
    assert(seg("go") == (("g o", 2L, 1L))) // untouched by any merge
    // corpus token count under the tokenizer: sum freq * n_symbols
    val total = TextAnalysis.bpeSegment(df, "text", Seq("l" -> "o", "lo" -> "w", "a" -> "a"))
      .agg(sum(col("freq") * col("n_symbols"))).head().getLong(0)
    assert(total == 2 * 3 + 3 + 2) // lower×2 → 6, aaaa → 3, go → 2
  }

  test("bpeSegmentExact: canonical run semantics, rank priority, agrees with declarative twin off-runs") {
    import spark.implicits._
    val merges = Seq("l" -> "o", "lo" -> "w", "a" -> "a", "e" -> "r")
    val df = Seq("lower aaaa ababab go").toDF("text")
    val seg = TextAnalysis.bpeSegmentExact(df, "text", merges)
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    // canonical BPE merges a same-pair run pairwise: (aa)(aa), not aa,a,a
    assert(seg("aaaa") == "aa aa")
    assert(seg("lower") == "low er") // (l,o),(lo,w) chain, then (e,r)
    assert(seg("go") == "g o")
    // rank priority + rescan: (l,o) rank 0 merges first even though (e,r)
    // appears earlier in the word; the rescan then merges (e,r) too
    val df2 = Seq("erlo").toDF("text")
    val seg2 = TextAnalysis.bpeSegmentExact(df2, "text", merges)
      .head().getString(2)
    assert(seg2 == "er lo")
    // on a run-free vocabulary the declarative twin must agree exactly
    val prose = Seq("the quick brown fox jumped over the lazy dogs").toDF("text")
    val m2 = Seq("t" -> "h", "th" -> "e", "o" -> "x", "e" -> "d")
    val a = TextAnalysis.bpeSegmentExact(prose, "text", m2)
      .select(col("tok"), col("segmented")).collect().map(r => (r.getString(0), r.getString(1))).toSet
    val b = TextAnalysis.bpeSegment(prose, "text", m2)
      .select(col("tok"), col("segmented")).collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(a == b)
  }

  test("charLmScoreAgainst: in-domain text outscores out-of-domain; OOV accounting exact") {
    import spark.implicits._
    val ref = Seq("abab abab abab", "abba baab").toDF("text")
    // scored corpus: doc 1 pure in-domain bigrams; doc 2 has 'xy'/'yz' the
    // reference never saw; doc 3 entirely out-of-model
    val docs = Seq((1L, "abab"), (2L, "abxyz"), (3L, "qq")).toDF("doc_id", "text")
    val got = TextAnalysis.charLmScoreAgainst(ref, docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double]))))
      .toMap
    val (n1, oov1, s1) = got(1L)
    assert(n1 == 3 && oov1 == 0 && s1.exists(_ > -1.5)) // 'ab','ba' dominate ref
    val (n2, oov2, s2) = got(2L)
    // bigrams ab,bx,xy,yz: only 'ab' exists in the reference model
    assert(n2 == 4 && oov2 == 3 && s2.isDefined)
    val (n3, oov3, s3) = got(3L)
    assert(n3 == 1 && oov3 == 1 && s3.isEmpty, "all-OOV doc must score NULL")
    // self-trained degenerate: scoring the reference under itself == charLmScore
    val self = TextAnalysis.charLmScoreAgainst(ref,
        ref.withColumn("doc_id", monotonically_increasing_id()), "doc_id", "text")
      .agg(sum("oov_bigrams")).head().getLong(0)
    assert(self == 0, "reference under its own model can have no OOV")
  }

  test("bpePairStats: hand-computed pair counts on a tiny vocabulary") {
    import spark.implicits._
    // vocab: "aab"×3 (docs repeat it), "ab"×1, "x"×1 (len<2 → ignored).
    // pairs: aa ← aab(3); ab ← aab(3) + ab(1) = 4 over 2 words
    val df = Seq("aab ab aab", "aab x").toDF("text")
    val got = TextAnalysis.bpePairStats(df, "text", k = 10)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got(("a", "b")) == ((4L, 2L, 1L))) // top pair, rank 1
    assert(got(("a", "a")) == ((3L, 1L, 2L)))
    assert(got.size == 2)
    // repeated pair inside ONE word counts per occurrence: "aaa" has aa twice
    val rep = TextAnalysis.bpePairStats(Seq("aaa").toDF("text"), "text", k = 5)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(rep.toList == List(("a", "a", 2L)))
  }
}

class MultimodalSpec extends SparkSpec {

  test("decode: schema, determinism, feature normalization") {
    import spark.implicits._
    val media = Seq(
      Multimodal.MediaRow(1L, "image", Array[Byte](1, 2, 3, 4, 5)),
      Multimodal.MediaRow(2L, "audio", Array.fill[Byte](1000)(7))).toDS()
    val out = Multimodal.decode(media).collect().sortBy(_.media_id)
    assert(out.map(_.n_bytes).toSeq == Seq(5L, 1000L))
    assert(out.forall(_.feature.length == 8))
    assert(out.forall(r => math.abs(r.feature.sum - 1f) < 1e-5)) // L1-normalized
    // deterministic: same payload → same decode
    val again = Multimodal.decode(media).collect().sortBy(_.media_id)
    assert(out.map(_.width).toSeq == again.map(_.width).toSeq)
  }

  test("resize: payload shrinks to target dims, deterministic, empty-safe") {
    import spark.implicits._
    val media = Seq(
      Multimodal.MediaRow(1L, "image", Array.tabulate[Byte](1000)(_.toByte)),
      Multimodal.MediaRow(2L, "image", new Array[Byte](0))).toDS()
    val out = Multimodal.resize(media, targetW = 8, targetH = 4)
      .collect().sortBy(_.media_id)
    assert(out(0).payload.length == 32 && out(1).payload.length == 0)
    val again = Multimodal.resize(media, 8, 4).collect().sortBy(_.media_id)
    assert(out(0).payload.toSeq == again(0).payload.toSeq)
  }

  test("WavCodec: real WAV decode — meta, energy envelope, perceptual dedup, resample") {
    import spark.implicits._
    // render a REAL 16-bit mono WAV in memory: `freq` Hz sine for the first
    // half, silence for the second
    def wav(freq: Double, rate: Float = 8000f, nSamples: Int = 8000): Array[Byte] = {
      val pcm = new Array[Byte](nSamples * 2)
      for (i <- 0 until nSamples) {
        val v = if (i < nSamples / 2)
          (math.sin(2 * math.Pi * freq * i / rate) * 12000).toInt else 0
        pcm(2 * i) = (v & 0xff).toByte
        pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
      }
      val fmt = new javax.sound.sampled.AudioFormat(rate, 16, 1, true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, nSamples.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val media = Seq(
      Multimodal.MediaRow(1L, "audio", wav(440)),
      Multimodal.MediaRow(2L, "audio", wav(440)),  // same tone, re-rendered
      Multimodal.MediaRow(3L, "audio", wav(261)),  // different pitch, same envelope
      Multimodal.MediaRow(4L, "audio", wav(440).reverse) // not decodable audio
    ).toDS()
    // meta through the distributed decode path: sample rate in width,
    // channels in height (the documented audio convention)
    val out = Multimodal.decode(media.where(col("media_id") <= 2), Multimodal.WavCodec)
      .collect().sortBy(_.media_id)
    assert(out.map(r => (r.width, r.height)).toSeq == Seq((8000, 1), (8000, 1)))
    // energy envelope localizes: first half (tone) carries ~all the mass
    val f = out.head.feature
    assert(f.take(4).sum > 0.95f && f.drop(4).sum < 0.05f,
      s"tone-then-silence must localize energy: ${f.toSeq}")
    // the SAME banded-aHash pipeline as images: identical tone pairs at
    // distance 0; pitch change with the same on/off envelope also pairs
    // (energy envelope is pitch-blind by design — it fingerprints shape)
    val pairs = Multimodal.perceptualDedup(media.where(col("media_id") <= 3),
        Multimodal.WavCodec, maxHamming = 4, bands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs.get((1L, 2L)).contains(0), s"re-rendered tone must pair: $pairs")
    // resample: target sample count, deterministic bytes, envelope preserved
    val r1 = Multimodal.WavCodec.resize(wav(440), 40, 50) // 2000 samples
    assert(java.util.Arrays.equals(r1, Multimodal.WavCodec.resize(wav(440), 40, 50)))
    val (meta2, f2) = (Multimodal.WavCodec.meta(r1), Multimodal.WavCodec.feature(r1, 8))
    assert(meta2.width == 8000 && meta2.height == 1)
    assert(f2.take(4).sum > 0.9f, s"resample must preserve the envelope: ${f2.toSeq}")
    // non-audio bytes fail loudly through the distributed path
    val e = intercept[org.apache.spark.SparkException] {
      Multimodal.decode(media.where(col("media_id") === 4), Multimodal.WavCodec).collect()
    }
    assert(e.getMessage != null)
  }

  test("fromDocuments: binary payload round-trips through the decode path") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(10)
    val decoded = Multimodal.decode(Multimodal.fromDocuments(spark, docs)).collect()
    assert(decoded.length == 10)
    assert(decoded.forall(_.n_bytes > 0))
  }

  test("ImageIoCodec: real generated PNGs decode through the distributed path") {
    import spark.implicits._
    // render real PNGs in memory: id 1 → 20x10 all-black, id 2 → 5x8 all-white
    def png(w: Int, h: Int, rgb: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", baos)
      baos.toByteArray
    }
    val media = Seq(
      Multimodal.MediaRow(1L, "image", png(20, 10, 0x000000)),
      Multimodal.MediaRow(2L, "image", png(5, 8, 0xffffff))).toDS()
    val out = Multimodal.decode(media, Multimodal.ImageIoCodec)
      .collect().sortBy(_.media_id)
    assert(out.map(r => (r.width, r.height)).toSeq == Seq((20, 10), (5, 8)))
    // luminance histogram: black → all mass in bucket 0, white → bucket 7
    assert(math.abs(out(0).feature(0) - 1f) < 1e-6)
    assert(math.abs(out(1).feature(7) - 1f) < 1e-6)
    assert(out.forall(r => math.abs(r.feature.sum - 1f) < 1e-5))
    // non-image bytes fail loudly instead of producing fake metadata
    val bad = Seq(Multimodal.MediaRow(3L, "image", Array[Byte](1, 2, 3))).toDS()
    val e = intercept[org.apache.spark.SparkException] {
      Multimodal.decode(bad, Multimodal.ImageIoCodec).collect()
    }
    assert(e.getMessage != null)
  }

  test("ImageIoCodec.resize: real bilinear downscale keeps dims, determinism, and aHash") {
    import spark.implicits._
    // block-structured scene (same recipe as the perceptual test): relative
    // block brightness — what aHash fingerprints — must survive a downscale
    def scenePng(seed: Int): Array[Byte] = {
      val r = new scala.util.Random(seed)
      val img = new java.awt.image.BufferedImage(
        64, 64, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val block = Array.fill(8, 8)(r.nextInt(256))
      for (y <- 0 until 64; x <- 0 until 64) {
        val v = block(y / 8)(x / 8)
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", baos)
      baos.toByteArray
    }
    val media = Seq(Multimodal.MediaRow(1L, "image", scenePng(7))).toDS()
    val resized = Multimodal.resize(media, 32, 24, Multimodal.ImageIoCodec)
    val decoded = Multimodal.decode(resized, Multimodal.ImageIoCodec)
      .collect().head
    assert((decoded.width, decoded.height) == (32, 24),
      s"real resample must land on target dims: $decoded")
    // deterministic: same payload + target → identical bytes (content-hash
    // dedup downstream depends on this)
    val b1 = resized.collect().head.payload
    val b2 = Multimodal.resize(media, 32, 24, Multimodal.ImageIoCodec)
      .collect().head.payload
    assert(java.util.Arrays.equals(b1, b2))
    // perceptual identity: the original's aHash and the downscaled aHash
    // stay within 4 bits — resizing must not move the image across the
    // near-dup threshold perceptualDedup uses
    def hash(p: Array[Byte]) =
      Multimodal.averageHash64(Multimodal.ImageIoCodec.grid8(p))
    val dist = java.lang.Long.bitCount(hash(scenePng(7)) ^ hash(b1))
    assert(dist <= 4, s"aHash moved $dist bits across a resize")
    // the stub path still drives the same plumbing on non-image bytes
    val stub = Multimodal.resize(
      Seq(Multimodal.MediaRow(2L, "raw", Array.tabulate[Byte](100)(_.toByte))).toDS(),
      8, 4).collect().head
    assert(stub.payload.length == 32)
  }

  test("perceptualDedup: re-encoded and lightly-edited images pair, distinct scenes don't") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    // a "scene": 64x64 of 8x8 blocks with seeded random brightness — block
    // structure survives the aHash downscale
    def scene(seed: Int): java.awt.image.BufferedImage = {
      val r = new scala.util.Random(seed)
      val img = new java.awt.image.BufferedImage(
        64, 64, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val block = Array.fill(8, 8)(r.nextInt(256))
      for (y <- 0 until 64; x <- 0 until 64) {
        val v = block(y / 8)(x / 8)
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      img
    }
    def toPng(img: java.awt.image.BufferedImage): Array[Byte] = {
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", baos)
      baos.toByteArray
    }
    val base = scene(1)
    // light edit: brighten ONE 8x8 block — at most a few aHash bits move
    val edited = scene(1)
    for (y <- 0 until 8; x <- 0 until 8) {
      val v = math.min(255, (edited.getRGB(x, y) & 0xff) + 40)
      edited.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val media = Seq(
      Multimodal.MediaRow(1L, "image", toPng(base)),
      Multimodal.MediaRow(2L, "image", toPng(base)),   // re-encode of the same scene
      Multimodal.MediaRow(3L, "image", toPng(edited)), // light edit
      Multimodal.MediaRow(4L, "image", toPng(scene(2))) // different scene
    ).toDS()
    val pairs = Multimodal.perceptualDedup(media, Multimodal.ImageIoCodec,
        maxHamming = 4, bands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs.contains((1L, 2L)) && pairs((1L, 2L)) == 0) // identical scene
    assert(pairs.contains((1L, 3L)) && pairs((1L, 3L)) <= 4) // light edit
    assert(!pairs.keySet.exists { case (a, b) => a == 4L || b == 4L },
      s"distinct scene paired: $pairs")
    // stub codec drives the same plumbing without image libs
    val stubPairs = Multimodal.perceptualDedup(
      Seq(Multimodal.MediaRow(1L, "image", Array.fill(256)(rnd.nextInt.toByte)),
        Multimodal.MediaRow(2L, "image", Array.fill(256)(rnd.nextInt.toByte))).toDS(),
      Multimodal.StubCodec, maxHamming = 4, bands = 8)
    assert(stubPairs.columns.toSeq == Seq("id_a", "id_b", "hamming"))
  }
}

class CsvToParquetSpec extends SparkSpec {

  test("directory of CSVs converts with inferred schema; bad path yields None") {
    val dir = java.nio.file.Files.createTempDirectory("graft_csv")
    java.nio.file.Files.writeString(dir.resolve("a.csv"), "id,name,score\n1,x,1.5\n2,y,2.5\n")
    java.nio.file.Files.writeString(dir.resolve("b.csv"), "id,name,score\n3,z,3.5\n")
    val n = CsvToParquet.convert(spark, dir.toString, s"$dir/out_parquet")
    assert(n.contains(3L))
    val back = spark.read.parquet(s"$dir/out_parquet")
    assert(back.schema("id").dataType.typeName == "integer")
    assert(back.schema("score").dataType.typeName == "double")
    assert(CsvToParquet.convert(spark, "/nonexistent/nope", s"$dir/out2").isEmpty)
  }
}

class ChannelOpsSpec extends SparkSpec {

  test("allocateByShare conserves the budget within every partition (property)") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows = for {
      m <- 1 to 12; i <- 1 to (1 + rnd.nextInt(5))
    } yield (s"2024-$m", 1000.0 * m, rnd.nextDouble() * 100 + 0.1)
    val df = rows.toDF("month", "budget", "reach")
    val out = df.withColumn("cost",
      ChannelOps.allocateByShare(col("budget"), col("reach"), col("month")))
    val check = out.groupBy("month").agg(
      (abs(sum(col("cost")) - first(col("budget"))) < 1e-6).as("ok"))
    assert(check.where(!col("ok")).count() == 0)
  }

  test("parseMoney handles separators and junk (lenient, ansi=false)") {
    import spark.implicits._
    val got = Seq("1,234.50", "999", "12,345,678.00", "n/a", null)
      .toDF("s").select(ChannelOps.parseMoney(col("s"))).collect().map(r =>
        if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(got.toSeq == Seq(Some(1234.5), Some(999.0), Some(12345678.0), None, None))
  }

  test("caseNoElse yields NULL on no match; spreadByShares emits one row per share") {
    import spark.implicits._
    val c = Seq("A", "B", "Z").toDF("x")
      .select(ChannelOps.caseNoElse(
        (col("x") === "A") -> lit(1), (col("x") === "B") -> lit(2)).as("v"))
      .collect().map(r => if (r.isNullAt(0)) -1 else r.getInt(0))
    assert(c.toSeq == Seq(1, 2, -1))

    val spread = ChannelOps.spreadByShares(
      Seq(("2024", 100.0)).toDF("month", "total"), "total",
      Seq("a" -> 0.6, "b" -> 0.3))
    val rows = spread.collect()
      .map(r => (r.getString(r.fieldIndex("channel")), r.getDouble(r.fieldIndex("cost")))).toSet
    assert(rows == Set(("a", 60.0), ("b", 30.0)))
  }
}
