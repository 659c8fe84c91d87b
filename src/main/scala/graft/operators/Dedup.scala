package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{Hashing, WordShingles}

/** Document deduplication for large-scale training-data pipelines.
  *
  * Four families, all expressed as distributed hash-partition-friendly plans
  * (no driver-side loops, no O(n²) cross joins — candidate generation always
  * goes through a bucket/blocking join that shuffles on a small key):
  *
  *  - exact:        group by content hash                  (1 shuffle)
  *  - MinHash+LSH:  shingle → per-row signature (narrow) → band-bucket join
  *  - SimHash:      per-row 64-bit signature (narrow) → bucket by signature
  *  - n-gram Jaccard: shingle-inverted-index self-join within blocks
  *
  * Hashes are [[Hashing.stableHash]]-based so the DuckDB oracle reproduces them.
  */
object Dedup {

  /** Anti-join `index` against a (small-by-construction) hot-key set.
    * `broadcastHot = true` pins the map-side-lookup plan; on a
    * boilerplate-heavy corpus where the hot set might exceed driver/broadcast
    * limits, pass false and AQE picks the strategy from the measured size. */
  private def cullHot(index: DataFrame, hot: DataFrame,
      broadcastHot: Boolean): DataFrame =
    index.join(if (broadcastHot) broadcast(hot) else hot, Seq("sh"), "left_anti")

  /** Count co-occurrences per candidate pair from a shingle-keyed self-join:
    * `(id_a, id_b, shared)` with `id_a < id_b`. The pair aggregate is the
    * dominant cost of the inverted-index pipelines (the join's output barely
    * collapses — most pairs share ~1 shingle, so partial aggregation can't
    * shrink the shuffle), and hashing/shuffling ONE packed long beats a
    * two-long composite key measurably. `packIds = true` (default) packs
    * `id_a << 32 | id_b` with a codegen'd range guard that raises instead of
    * silently corrupting — valid whenever ids fit [0, 2^31), i.e. any dense
    * doc numbering; pass false for 64-bit id spaces (content-hash ids) to
    * keep the composite-key aggregate. */
  private def sharedCounts(filtered: DataFrame,
      packIds: Boolean): DataFrame = {
    val joined = filtered.as("a").hint("shuffle_hash")
      .join(filtered.as("b").hint("shuffle_hash"), "sh")
      .where(col("a.id") < col("b.id"))
    if (packIds) {
      def guarded(c: Column): Column =
        when(c.between(0L, Int.MaxValue.toLong), c)
          .otherwise(raise_error(lit(
            "packIds pair aggregation needs ids in [0, 2^31); " +
              "pass packIds = false for wider id spaces")))
      joined
        .select(shiftleft(guarded(col("a.id")), 32)
          .bitwiseOR(guarded(col("b.id"))).as("pk"))
        .groupBy("pk").agg(count(lit(1)).as("shared"))
        .select(shiftright(col("pk"), 32).as("id_a"),
          col("pk").bitwiseAND(lit(0xFFFFFFFFL)).as("id_b"), col("shared"))
    } else {
      joined
        .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .agg(count(lit(1)).as("shared"))
    }
  }

  def tokens(text: Column): Column = split(text, " ")

  /** Word n-gram shingles (a doc shorter than n yields its full token string
    * as the single shingle). Backed by the codegen'd [[WordShingles]]
    * expression; the test-side `DedupTwins.shinglesDeclarative` is the
    * built-in-only twin it must always agree with (property-tested). */
  def shingles(text: Column, n: Int): Column = WordShingles(text, n)

  /** Exact dedup: group identical content by md5, keep the smallest id as the
    * canonical copy. One hash-shuffle; at 100 TB the md5 is computed map-side
    * next to the scan and only (hash, id) pairs move. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** LSH banding: split the signature into `bands` bands of `rowsPerBand` and
    * hash each band; docs sharing any band hash are near-dup candidates.
    * Output: one row per (doc, band) — the thing you groupBy/join on. */
  def lshBands(df: DataFrame, idCol: String, sigCol: String,
      bands: Int, rowsPerBand: Int): DataFrame = {
    val banded = df.select(
      col(idCol),
      col(sigCol),
      posexplode(transform(sequence(lit(0), lit(bands - 1)), b =>
        md5(concat_ws(",", slice(col(sigCol), b * rowsPerBand + 1, lit(rowsPerBand)))))))
      .withColumnRenamed("pos", "band_idx")
      .withColumnRenamed("col", "band_hash")
    banded
  }

  /** MinHash signatures: one fused codegen'd loop per row
    * ([[graft.functions.MinhashSig]]) — shingle, md5, and all numHashes
    * permutation-mins inside a single JIT-compiled call. A NARROW map with
    * zero shuffle: the signature step costs exactly one corpus scan at any
    * size. Values identical to the test-side twins `DedupTwins.withMinhash`
    * and `minhashSigsAgg` (property-tested). */
  def minhashSigs(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, numHashes: Int): DataFrame =
    df.select(col(idCol).as("id"),
      graft.functions.MinhashSig(col(textCol), shingleSize, numHashes).as("sig"))

  /** Candidate near-dup pairs via LSH: self-join on (band_idx, band_hash) —
    * the shuffle key is the band hash, so comparisons happen only within
    * buckets (the whole point of LSH at scale). Estimated Jaccard = fraction
    * of matching signature positions. */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numHashes: Int = 32,
      bands: Int = 8, maxBucketSize: Option[Int] = None): DataFrame = {
    val rowsPerBand = numHashes / bands
    // persist: signatures feed the banding AND the two signature joins at the
    // end. Registered with CacheScope so the session owner releases the
    // blocks after the query's action — an operator-internal bare persist
    // would pin them for the session lifetime. At warehouse scale, write
    // sigs to parquet once instead (same effect, spillable to object
    // storage).
    val sigs = graft.core.CacheScope.persist(
      minhashSigs(df, idCol, textCol, shingleSize, numHashes))
    // candidate pairs carry ONLY (id_a, id_b) through the band self-join:
    // a pair colliding in k bands appears k times pre-distinct, and dup-heavy
    // corpora make that join output enormous — 16-byte rows keep it cheap.
    // The signature arrays join back AFTER the distinct, so the per-pair
    // similarity fold runs exactly once per unique pair.
    val banded = lshBands(sigs, "id", "sig", bands, rowsPerBand)
      .select("band_idx", "band_hash", "id")
    // maxBucketSize: a bucket of m docs emits C(m,2) pairs — one giant
    // exact-dup cluster can dominate the whole job quadratically. The
    // standard cap skips mega-buckets (run exactGroups first: identical docs
    // are ITS job, and their bucket is degenerate by construction). None
    // keeps exhaustive semantics (the oracle's shape).
    val b = maxBucketSize match {
      case None => banded
      case Some(cap) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("band_idx", "band_hash")
        banded.withColumn("_bs", count(lit(1)).over(w))
          .where(col("_bs") <= cap).drop("_bs")
    }
    // shuffle_hash pins the bucket-join shape (hash-partition on the band
    // key) — AQE would broadcast the whole banded table at test scale,
    // which is slower even there and unbuildable at corpus scale.
    // maxBucketSize is what bounds a bucket partition's hash build.
    val pairs = b.as("l").hint("shuffle_hash")
      .join(b.as("r").hint("shuffle_hash"), Seq("band_idx", "band_hash"))
      .where(col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .distinct()
    pairs
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        (aggregate(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => when(x === y, 1).otherwise(0)), lit(0), _ + _)
          .cast("double") / lit(numHashes)).as("est_jaccard"))
  }

  /** [[minhashCandidates]] over BUCKETED signature + band layouts — the
    * q212/q214/q216 warehousing pattern applied to the LAST repeated
    * corpus shuffle in the dedup family (round-15 verdict item 5): every
    * minhash sweep re-shingles the corpus (narrow, cheap) and then
    * RE-SHUFFLES it twice — once on the band key for the bucket
    * self-join, once on id for the signature join-back. Here both
    * exchanges are paid ONCE at write time: the signature table lands
    * bucketed on id, the band table bucketed (and sorted) on a single
    * fused band key, so repeated sweeps over a warehoused corpus read
    * co-located buckets with no exchange below the self-join and no
    * exchange on the signature side of the join-backs (only the
    * pair-grain distinct — output-bounded, never corpus-bounded —
    * shuffles per query).
    *
    * The band key is ONE fused column, md5(band_idx | band_hash), rather
    * than the pair (band_idx, band_hash) the unbucketed form joins on:
    * Spark requires co-partitioning on ALL join keys, so a two-key join
    * over a one-column bucket layout would re-exchange both sides and
    * the layout would buy nothing. Equality of the fused key is
    * equality of both parts, so the candidate set — and therefore the
    * output — is identical to [[minhashCandidates]] (same oracle). */
  def minhashCandidatesBucketed(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, numHashes: Int, bands: Int,
      sigTable: String, bandTable: String, buckets: Int = 32): DataFrame = {
    val sigs = graft.operators.ScaleOps.ensureBucketed(
      minhashSigs(df, idCol, textCol, shingleSize, numHashes),
      sigTable, buckets, Seq("id"))
    val banded = graft.operators.ScaleOps.ensureBucketed(
      bandKeys(sigs, numHashes, bands), bandTable, buckets, Seq("bkey"))
    // bucketed + sorted on bkey: the self-join sort-merges over co-located
    // scans — zero exchange, zero sort (asserted in PlanAuditSpec). The
    // merge hint pins that shape: left alone, AQE broadcasts the whole
    // band table at test scale — unbuildable at corpus scale, and paying
    // a broadcast to dodge an exchange the layout already paid for.
    val pairs = banded.as("l").hint("merge")
      .join(banded.as("r").hint("merge"), Seq("bkey"))
      .where(col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .distinct()
    // join-backs likewise merge-hinted: the sigs side reads bucketed and
    // pre-sorted on id (no exchange, no sort); only the pair-grain side
    // exchanges — broadcasting corpus-sized signatures is the wrong
    // default at scale
    pairs
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a"))
        .hint("merge"), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b"))
        .hint("merge"), "id_b")
      .select(col("id_a"), col("id_b"),
        (aggregate(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => when(x === y, 1).otherwise(0)), lit(0), _ + _)
          .cast("double") / lit(numHashes)).as("est_jaccard"))
  }

  /** The one fused band-join key over a (band_idx, band_hash) frame,
    * shared by every bucketed band layout: built with NULL-PROPAGATING
    * concat, not concat_ws — concat_ws silently drops NULL parts, so a
    * NULL band_hash would fuse to md5(band_idx) and rows would join where
    * the two-column equi-join (NULL != NULL) would not. concat makes the
    * key itself NULL in that case and NULL keys never match — the fused
    * join's semantics equal the two-column join's by construction, not by
    * an unstated band_hash-is-never-null invariant. (Today band_hash is
    * always a non-null md5, so values are unchanged.) */
  private def fusedBandKey: Column =
    md5(concat(col("band_idx").cast("string"), lit("|"), col("band_hash")))

  /** The (bkey, id) band-key rows of an (id, sig) signature frame: the
    * layout of every band level, and what the probe and the fold derive
    * from L0 signatures. */
  private def bandKeys(sigs: DataFrame, numHashes: Int, bands: Int): DataFrame =
    lshBands(sigs, "id", "sig", bands, numHashes / bands)
      .select(fusedBandKey.as("bkey"), col("id"))

  /** Incremental LSH dedup — candidate near-dup pairs for a NEW batch of
    * documents against an existing corpus and within the batch itself,
    * WITHOUT re-pairing the existing corpus (old × old pairs were found
    * when the old snapshot was curated). This is how dedup actually runs in
    * production: each ingest batch joins against the standing index, it
    * never re-processes the corpus.
    *
    * Ids must be disjoint across the two inputs. Returns
    * (id_a, id_b, est_jaccard) with id_a < id_b — exactly the
    * [[minhashCandidates]] rows of (old ∪ new) that touch at least one new
    * doc, by construction rather than by filtering.
    *
    * Scale shape: the batch's band table is small (|new| × bands rows); the
    * corpus side ships only (band key, id) rows into the bucket join, and
    * at warehouse scale sigs/bands of the corpus are a PRE-BUILT parquet
    * index appended per batch — so per-ingest work scales with
    * |new| × collision rate, never |corpus|². This form still re-shingles
    * and re-signs the corpus per call (fine for one-shot use);
    * [[minhashCandidatesIndexed]] is the composed warehouse form that
    * reads the standing bucketed sig/band index instead. */
  def minhashCandidatesIncremental(oldDf: DataFrame, newDf: DataFrame,
      idCol: String, textCol: String,
      shingleSize: Int = 3, numHashes: Int = 32, bands: Int = 8): DataFrame = {
    val rowsPerBand = numHashes / bands
    // persist both signature tables: each feeds its band table AND the
    // est-jaccard join-back (CacheScope-registered; owner drains after use)
    val sigsOld = graft.core.CacheScope.persist(
      minhashSigs(oldDf, idCol, textCol, shingleSize, numHashes))
    val sigsNew = graft.core.CacheScope.persist(
      minhashSigs(newDf, idCol, textCol, shingleSize, numHashes))
    def bandsOf(s: DataFrame) =
      lshBands(s, "id", "sig", bands, rowsPerBand)
        .select("band_idx", "band_hash", "id")
    val bAll = bandsOf(sigsOld).withColumn("is_new", lit(false))
      .unionByName(bandsOf(sigsNew).withColumn("is_new", lit(true)))
    // new side is ALWAYS the left: new-old pairs emit regardless of id
    // order, new-new pairs emit once (l < r); old-old pairs cannot occur
    val pairs = bandsOf(sigsNew).as("l").hint("shuffle_hash")
      .join(bAll.as("r").hint("shuffle_hash"), Seq("band_idx", "band_hash"))
      .where((!col("r.is_new") && col("l.id") =!= col("r.id")) ||
        (col("r.is_new") && col("l.id") < col("r.id")))
      .select(least(col("l.id"), col("r.id")).as("id_a"),
        greatest(col("l.id"), col("r.id")).as("id_b"))
      .distinct()
    val sigsAll = sigsOld.unionByName(sigsNew)
    pairs
      .join(sigsAll.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sigsAll.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        (aggregate(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => when(x === y, 1).otherwise(0)), lit(0), _ + _)
          .cast("double") / lit(numHashes)).as("est_jaccard"))
  }

  /** [[minhashCandidatesIncremental]] against a PRE-BUILT corpus index —
    * the composed warehouse form that function's docstring names: the
    * unindexed incremental path re-shingles and re-signs the CORPUS on
    * every ingest batch, the one remaining per-batch corpus-sized cost in
    * the production ingest loop. Here the corpus signatures and band keys
    * are standing bucketed layouts (the q219 pattern,
    * [[graft.operators.ScaleOps.ensureBucketed]]): signatures
    * bucketed+sorted on id, band keys bucketed+sorted on the single fused
    * [[fusedBandKey]] — both built ONCE per corpus at write time. Per
    * ingest batch, only the BATCH is shingled and signed; its band rows
    * shuffle batch-grain into the corpus buckets (merge join: the corpus
    * side scans co-located and pre-sorted — zero corpus-side exchange,
    * zero corpus-side sort, pinned in PlanAuditSpec), and the est-jaccard
    * join-backs read the bucketed signature table the same way (corpus
    * sigs never move; only pair-grain rows exchange). Per-ingest work
    * scales with |batch| × collision rate; the corpus index is READ,
    * never recomputed and never re-shuffled. Output identical to
    * [[minhashCandidatesIncremental]] over the same (corpus, batch) split
    * — same oracle, property-tested equality.
    *
    * Ids must be disjoint across corpus and batch (the caller's identity
    * contract, as in the unindexed form). Docs admitted after the build
    * reach the probe as its `l0Docs` until [[foldDedupIndexL0]] moves them
    * into the main level, whose per-bucket rewrite keeps the
    * one-file-per-bucket sort guarantee; this function is the per-batch
    * READ path that makes that index pay. */
  def minhashCandidatesIndexed(oldDf: DataFrame, newDf: DataFrame,
      idCol: String, textCol: String,
      shingleSize: Int = 3, numHashes: Int = 32, bands: Int = 8,
      sigTable: String, bandTable: String, buckets: Int = 32): DataFrame = {
    // the standing corpus index: built once per (session, corpus), then
    // read back bucketed — repeated ingest batches in one session (and
    // every batch of a warehoused corpus) skip straight to the scans
    buildDedupIndex(oldDf, idCol, textCol, shingleSize, numHashes, bands,
      sigTable, bandTable, buckets)
    minhashCandidatesIndexedTables(newDf, idCol, textCol, shingleSize,
      numHashes, bands, sigTable, bandTable)
  }

  /** Build (once per session+tables) the standing dedup index for a
    * corpus: signatures bucketed+sorted on id, band keys bucketed+sorted
    * on the fused [[fusedBandKey]]. The write pays the corpus shuffle
    * exactly once; [[minhashCandidatesIndexedTables]] is the per-batch
    * read path, [[foldDedupIndexL0]] the maintenance path. */
  def buildDedupIndex(corpus: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, numHashes: Int, bands: Int,
      sigTable: String, bandTable: String, buckets: Int = 32): Unit = {
    val sigs = graft.operators.ScaleOps.ensureBucketed(
      minhashSigs(corpus, idCol, textCol, shingleSize, numHashes),
      sigTable, buckets, Seq("id"))
    graft.operators.ScaleOps.ensureBucketed(
      bandKeys(sigs, numHashes, bands), bandTable, buckets, Seq("bkey"))
    ()
  }

  /** The per-ingest-batch probe of [[minhashCandidatesIndexed]], reading
    * the standing index's main level TABLES directly (whatever built or
    * folded them — [[buildDedupIndex]], [[foldDedupIndexL0]], or a prior
    * [[minhashCandidatesIndexed]] call) plus the index's L0 level,
    * `l0Docs`: the corpus docs admitted since the main level was built or
    * last folded (the ingest sink passes its generation files). L0 is
    * batch-grain, so the probe signs it on every call, as it signs the
    * batch, and derives its band keys; nothing of it is stored. Same
    * output contract and scale shape as [[minhashCandidatesIndexed]] over
    * corpus = main ∪ L0. */
  def minhashCandidatesIndexedTables(newDf: DataFrame,
      idCol: String, textCol: String,
      shingleSize: Int, numHashes: Int, bands: Int,
      sigTable: String, bandTable: String,
      l0Docs: Option[DataFrame] = None): DataFrame = {
    val spark = newDf.sparkSession
    val sigsOld = spark.table(sigTable)
    val bandsOld = spark.table(bandTable)
    // The batch and L0 signatures each feed a band probe AND the
    // est-jaccard join-backs, so each is signed once and sealed
    // (`localCheckpoint`, eager), not persisted: under AQE every scan of a
    // persisted frame is its own table-cache stage, and the batch band-key
    // exchange above those scans was sometimes run twice, concurrently,
    // in one tick. A sealed frame is a plain RDD scan, so the three uses
    // of that exchange are one reused stage.
    def signed(df: DataFrame): DataFrame =
      minhashSigs(df, idCol, textCol, shingleSize, numHashes).localCheckpoint(true)
    // with no L0 (a freshly built or folded index, e.g. q221/q225) the plan
    // has no L0 branch; with one, its rows join as SEPARATE small branches
    // — the main level's exchange-free bucketed scans are never unioned
    // into (a union would re-exchange the corpus side and forfeit the
    // layout)
    val sigsL0 = l0Docs.map(signed)
    val sigsNew = signed(newDf)
    val bandsNew = bandKeys(sigsNew, numHashes, bands)
    // new × old: the batch probes the corpus buckets; merge-hinted so the
    // corpus side keeps its exchange-free bucketed-scan shape (AQE would
    // broadcast the CORPUS band table at test scale — unbuildable at
    // warehouse scale). Ids are disjoint by contract, so every bucket
    // match is a real cross pair; canonicalize to id_a < id_b.
    val newOld = bandsNew.as("l")
      .join(bandsOld.as("r").hint("merge"), Seq("bkey"))
      .select(least(col("l.id"), col("r.id")).as("id_a"),
        greatest(col("l.id"), col("r.id")).as("id_b"))
    // new × L0: both sides batch-grain (≤ foldEvery batches), so the L0
    // side is broadcast-hinted, pinned, not left to the size estimate
    val newL0 = sigsL0.map { s0 =>
      bandsNew.as("l")
        .join(bandKeys(s0, numHashes, bands).as("r").hint("broadcast"),
          Seq("bkey"))
        .select(least(col("l.id"), col("r.id")).as("id_a"),
          greatest(col("l.id"), col("r.id")).as("id_b"))
    }
    // new × new: batch-grain self-join — tiny both sides, any strategy
    val newNew = bandsNew.as("l")
      .join(bandsNew.as("r"), Seq("bkey"))
      .where(col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
    val pairs = newL0.foldLeft(newOld.unionByName(newNew))(_ unionByName _)
      .distinct()
    // est-jaccard join-backs: each pair endpoint's signature comes from
    // the bucketed corpus table (merge-hinted: sigs side pre-sorted and
    // co-located, only the pair-grain side exchanges), the L0 signatures
    // when given, OR the batch sigs (left joins + coalesce — a union of
    // the sig frames would re-exchange the corpus side and forfeit the
    // layout). Ids are disjoint across all three by the caller's contract,
    // so coalesce order cannot matter. The L0 side is broadcast-hinted,
    // like the new × L0 band join.
    def l0SigJoin(df: DataFrame, idAlias: String, out: String): DataFrame =
      sigsL0 match {
        case None => df
        case Some(s0) => df.join(
          s0.select(col("id").as(idAlias), col("sig").as(out)).hint("broadcast"),
          Seq(idAlias), "left")
      }
    def sigCoalesce(oldC: String, l0C: String, newC: String): Column =
      if (sigsL0.isDefined) coalesce(col(oldC), col(l0C), col(newC))
      else coalesce(col(oldC), col(newC))
    val withA = l0SigJoin(pairs
      .join(sigsOld.select(col("id").as("id_a"), col("sig").as("_sa_old"))
        .hint("merge"), Seq("id_a"), "left")
      .join(sigsNew.select(col("id").as("id_a"), col("sig").as("_sa_new")),
        Seq("id_a"), "left"), "id_a", "_sa_l0")
      .withColumn("sig_a", sigCoalesce("_sa_old", "_sa_l0", "_sa_new"))
    l0SigJoin(withA
      .join(sigsOld.select(col("id").as("id_b"), col("sig").as("_sb_old"))
        .hint("merge"), Seq("id_b"), "left")
      .join(sigsNew.select(col("id").as("id_b"), col("sig").as("_sb_new")),
        Seq("id_b"), "left"), "id_b", "_sb_l0")
      .withColumn("sig_b", sigCoalesce("_sb_old", "_sb_l0", "_sb_new"))
      .select(col("id_a"), col("id_b"),
        (aggregate(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => when(x === y, 1).otherwise(0)), lit(0), _ + _)
          .cast("double") / lit(numHashes)).as("est_jaccard"))
  }

  /** Fold docs into the main bucketed levels — the maintenance half of
    * the production loop whose read half is
    * [[minhashCandidatesIndexedTables]]. LEVELED (L0→L1, the LSM shape):
    * admitted docs wait in the caller's L0 (the ingest sink's generation
    * files), which the probe signs per call, and every so often the
    * caller folds them in here, at a cadence decoupled from how often
    * batches arrive. Only the `docs` whose id the main sig level lacks are
    * signed; the sig level is rewritten from its main level ∪ their
    * signatures, the band level from its main level ∪ their band keys
    * (under the caller's `(numHashes, bands)` layout, as the probe derives
    * them), each as one sorted file per bucket into a `_folding` sibling.
    * Only when BOTH siblings are written is the fold published (drop main,
    * rename sibling, per table); a failed write drops the siblings and
    * leaves the main levels as they were, and only a crash inside the
    * publish's catalog calls can still tear them. Idempotent by content:
    * folding docs the main level already holds writes nothing, so a
    * repeated fold needs no registry. O(main + docs) parquet IO; after
    * the fold the probe's no-L0 plan and full sort-elision apply to the
    * folded docs. */
  def foldDedupIndexL0(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, numHashes: Int, bands: Int,
      sigTable: String, bandTable: String): Unit = {
    val spark = docs.sparkSession
    val cat = spark.sessionState.catalog
    def meta(t: String) = cat.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(t))
    // Read each level's RAW parquet files, not the catalog table: a
    // bucketed scan reports a hash partitioning that can satisfy the
    // write-side repartition, so Spark would elide the exchange and pass
    // multi-file buckets through as several write tasks — the folded table
    // would keep 2+ files per bucket and lose sort propagation. Each level's
    // files are read with its catalog schema: an index built over an empty
    // corpus has no parquet files to infer one from.
    def raw(t: String) = {
      val m = meta(t)
      spark.read.schema(m.schema).parquet(m.location.toString)
    }
    // sealed: both siblings read the new signatures, and the emptiness
    // check below must not sign them a third time
    val fresh = minhashSigs(
      docs.join(raw(sigTable).select(col("id").as(idCol)), Seq(idCol), "left_anti"),
      idCol, textCol, shingleSize, numHashes).localCheckpoint(true)
    if (fresh.isEmpty) return
    val folds = Seq(sigTable -> fresh, bandTable -> bandKeys(fresh, numHashes, bands))
    try folds.foreach { case (t, rows) =>
      val spec = meta(t).bucketSpec.getOrElse(
        sys.error(s"foldDedupIndexL0('$t'): not a bucketed table"))
      graft.operators.ScaleOps.writeBucketed(raw(t).unionByName(rows),
        t + "_folding", spec.numBuckets, spec.bucketColumnNames)
    } catch {
      case e: Throwable =>
        folds.foreach { case (t, _) =>
          spark.sql(s"DROP TABLE IF EXISTS ${t}_folding")
        }
        throw e
    }
    folds.foreach { case (t, _) =>
      spark.sql(s"DROP TABLE $t")
      spark.sql(s"ALTER TABLE ${t}_folding RENAME TO $t")
    }
  }

  /** Drop a standing dedup index — both main levels — so the next
    * [[buildDedupIndex]] rebuilds from scratch: the repair path after a
    * crash that may have landed between a corpus compaction and the
    * matching [[foldDedupIndexL0]] (or mid-fold), where the CORPUS TABLE is
    * the source of truth and an O(corpus) rebuild on the rare replay is
    * the honest recovery. */
  def dropDedupIndex(spark: org.apache.spark.sql.SparkSession,
      sigTable: String, bandTable: String): Unit =
    Seq(sigTable, bandTable).foreach { t =>
      if (spark.catalog.tableExists(t)) spark.sql(s"DROP TABLE $t")
    }

  /** Corpus version diff: per-doc status between two snapshots of a
    * document table — the audit step of dataset versioning (pairs with
    * [[graft.sources.VersionedTable]]'s snapshot writes: "what changed
    * between v3 and v4, and how much re-tokenization does it trigger").
    * Returns (id, status ∈ added | removed | changed | unchanged).
    *
    * Scale shape: content hashed map-side next to each scan (only
    * (id, md5) pairs move), one id-keyed full outer join — co-partitioned
    * if both snapshots are bucketed by id, a plain hash shuffle otherwise. */
  def corpusDiff(oldDf: DataFrame, newDf: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val o = oldDf.select(col(idCol).as("id"), md5(col(textCol)).as("_h_old"))
    val n = newDf.select(col(idCol).as("id"), md5(col(textCol)).as("_h_new"))
    o.join(n, Seq("id"), "full_outer")
      .select(col("id"),
        when(col("_h_old").isNull, "added")
          .when(col("_h_new").isNull, "removed")
          .when(col("_h_old") =!= col("_h_new"), "changed")
          .otherwise("unchanged").as("status"))
  }

  /** SimHash bit width (stableHash provides 60 usable bits; 32 keeps the plan
    * compact while preserving near-dup recall on word unigrams). */
  val SimhashBits = 32

  /** SimHash signatures: one fused codegen'd loop per row
    * ([[graft.functions.SimhashSig]]) — tokenize, md5, per-bit ±1 counts,
    * sign-pack, all in a single JIT-compiled call. Zero shuffle. Values
    * identical to the test-side twins `DedupTwins.withSimhash` and
    * `simhashSigsAgg` (property-tested). Returns (idCol, out). */
  def simhashSigs(df: DataFrame, idCol: String, textCol: String,
      out: String = "simhash"): DataFrame =
    df.select(col(idCol),
      graft.functions.SimhashSig(col(textCol), SimhashBits).as(out))

  /** Hamming distance between two simhash signatures (near-dup if small). */
  def hammingDistance(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** True n-gram Jaccard similarity for candidate pairs that share at least one
    * shingle, via an inverted index (explode → self-join on shingle → count).
    * `minShared` prunes the long tail before the join output explodes.
    * At scale: the shuffle key is the shingle hash; hot shingles (stopword
    * n-grams) are the skew risk — mitigated by dropping shingles that appear in
    * more than `maxDocFreq` docs (standard df-cut, also improves precision). */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, minJaccard: Double = 0.5, maxDocFreq: Long = 100,
      broadcastHot: Boolean = true,
      packIds: Boolean = true): DataFrame = {
    // persist the exploded inverted index ONCE: the hot-shingle aggregate,
    // the per-doc size aggregate, and both self-join sides all read it, and
    // each would otherwise re-run the full scan+shingle explode.
    // CacheScope-registered: the session owner drains after the action.
    // (At 100 TB the cached explode is large — MEMORY_AND_DISK spills; the
    // warehouse-scale twin is writing the index to parquet once.)
    // The index carries the 8-byte shingle HASH, not the shingle string
    // ([[graft.functions.ShingleHashes]] — fused shingle+hash+distinct per
    // row): identity is all the join and the counts use, and a long key
    // shrinks the cached index, the shuffle, and the hash-join probe. The
    // oracle computes identical hashes, so results match by construction.
    val sh = graft.core.CacheScope.persist(
      df.select(col(idCol).as("id"),
        explode(graft.functions.ShingleHashes(col(textCol), n)).as("sh")))
    // df-cut via an aggregated hot-shingle set, NOT `count(*) OVER
    // (PARTITION BY sh)`: the window sorts the FULL exploded table with no
    // partial aggregation, while groupBy collapses map-side to one row per
    // distinct shingle before anything shuffles. The hot set is small by
    // construction (≤ total shingle occurrences / maxDocFreq), so the
    // anti-join broadcasts — a cheap map-side lookup each consumer repeats
    // against the cached index; on a boilerplate-heavy corpus where the hot
    // set isn't small, pass broadcastHot = false and AQE picks at runtime.
    val hot = sh.groupBy("sh").agg(count(lit(1)).as("df"))
      .where(col("df") > maxDocFreq).select("sh")
    // the culled index is persisted TOO: it feeds both self-join sides and
    // the sizes aggregate, and each would otherwise replay the hot-set
    // shuffle + the full anti-join pass over the cached explode (measured:
    // the hot aggregate ran 3× per query before this)
    val filtered = graft.core.CacheScope.persist(cullHot(sh, hot, broadcastHot))
    val sizes = filtered.groupBy("id").agg(count(lit(1)).as("n_sh"))
    // shuffle_hash, NOT broadcast: AQE sees a sub-threshold build side at
    // test scale and picks BHJ, but building+shipping the ENTIRE inverted
    // index as a broadcast relation is 3× slower even here and impossible
    // at corpus scale — the hint pins the hash-partition-on-shingle bucket
    // join. The df-cut is what bounds a bucket's in-memory hash build. The
    // pair aggregate itself goes through [[sharedCounts]] (packed
    // single-long key by default).
    val pairs = sharedCounts(filtered, packIds)
    pairs
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
      .withColumn("jaccard",
        col("shared").cast("double") / (col("n_a") + col("n_b") - col("shared")))
      .where(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "shared", "jaccard")
  }

  /** Fuzzy near-dup pairs by edit distance, with blocking: docs self-join
    * only within `blockCols` groups (never a global cross join), compare on a
    * `prefixLen`-char prefix, keep pairs within `maxDist`. Levenshtein is
    * O(len²) per pair, so at scale BOTH caps matter: blocking bounds the pair
    * count, the prefix bounds the DP table. Spark's three-arg
    * `levenshtein(l, r, threshold)` abandons a pair's DP early once the
    * distance provably exceeds the cap (returns -1, filtered here) — the
    * right primitive when most pairs are far apart.
    *
    * `bandChars > 0` adds a CONTENT band to the block key: candidates must
    * also share their first `bandChars` characters (standard prefix
    * blocking from the record-linkage literature). This is the scale
    * switch: attribute blocks like (lang, source) have bounded CARDINALITY,
    * so block SIZE grows linearly with the corpus and pair count grows
    * quadratically — measured 65× time at 10× corpus. Content bands grow
    * in NUMBER with the corpus while sizes stay bounded by true
    * near-duplicate density, restoring linear scaling (measured 10×-corpus
    * time drops to ~linear with bandChars = 16). The trade is recall at
    * the head: a pair whose first `bandChars` chars differ is not
    * reported — acceptable for the template/license/boilerplate copies
    * this operator exists to catch, which share their head verbatim. */
  def editDistancePairs(df: DataFrame, idCol: String, textCol: String,
      blockCols: Seq[String], prefixLen: Int, maxDist: Int,
      bandChars: Int = 0): DataFrame = {
    // repartition on the block key WITH an explicit partition count: the DP
    // work is compute-heavy on byte-tiny rows, and AQE's size-based
    // coalescing would happily merge a column-only repartition down to one
    // partition — serializing the whole compare loop onto a single core.
    // An explicit count is exempt from coalescing.
    val parts = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val blockKey: Seq[String] =
      if (bandChars > 0) blockCols :+ "_band" else blockCols
    val base = df.select(
      (blockCols.map(col) :+ col(idCol).as("id")) :+
        substring(col(textCol), 1, prefixLen).as("pfx"): _*)
    val banded =
      if (bandChars > 0) base.withColumn("_band",
        substring(col("pfx"), 1, bandChars))
      else base
    val narrow = banded.repartition(parts, blockKey.map(col): _*)
    val renamed = narrow.select(
      (blockKey.map(col) :+ col("id").as("id_b")) :+ col("pfx").as("pfx_b"): _*)
    // `dist >= 0` is the COMPLETE threshold filter: the three-arg
    // levenshtein returns -1 past the cap, so one conjunct means the DP
    // runs once per candidate in the join condition instead of once per
    // comparison operator (Catalyst pushes this predicate into the join).
    narrow.join(renamed, blockKey)
      .where(col("id") < col("id_b"))
      .select(col("id").as("id_a"), col("id_b"),
        levenshtein(col("pfx"), col("pfx_b"), maxDist).as("dist"))
      .where(col("dist") >= 0)
  }

  /** Benchmark decontamination: corpus documents sharing at least `minShared`
    * distinct word n-grams with ANY document of a reference (benchmark/eval)
    * set are flagged for removal — the standard guard against test-set
    * leakage into training data. Returns (id, shared_ngrams) per
    * contaminated corpus doc.
    *
    * Scale shape: inverted-index semi-join — both sides explode to
    * (shingle, id) with the shuffle keyed on the shingle; the reference side
    * keeps only DISTINCT shingles (its doc identity is irrelevant), so the
    * join output is bounded by corpus-shingle × ref-shingle-set overlap, not
    * by reference size. Ubiquitous shingles (df > maxDocFreq in the corpus)
    * are cut first — they signal boilerplate, not leakage, and they are the
    * join's skew risk. */
  def contaminatedIds(corpus: DataFrame, idCol: String, textCol: String,
      reference: DataFrame, refTextCol: String,
      n: Int = 5, minShared: Long = 5, maxDocFreq: Long = 1000,
      broadcastHot: Boolean = true,
      maxDocFreqFrac: Option[Double] = None): DataFrame = {
    // both sides of the semi-join carry the 8-byte shingle hash, not the
    // string ([[graft.functions.ShingleHashes]]) — see [[ngramJaccardPairs]]
    val corpusSh = corpus.select(col(idCol).as("id"),
      explode(graft.functions.ShingleHashes(col(textCol), n)).as("sh"))
    // same aggregated df-cut as [[ngramJaccardPairs]] — the windowed
    // count-over-shingle formulation has no map-side combine; broadcastHot
    // = false hands the anti-join strategy to AQE for unbounded hot sets.
    //
    // `maxDocFreqFrac` replaces the ABSOLUTE cap with a fraction of corpus
    // size — the scale-safe setting for large corpora. An absolute cap is
    // scale-DEPENDENT in the worst way for this operator: when a benchmark
    // doc has been duplicated across the corpus (leakage at its most
    // rampant), its shingles' df grows with the corpus, crosses any fixed
    // cap, and the cull silently deletes the evidence — measured on the
    // 2000× curation stress, decon recall DROPPED 3× vs 1000× under the
    // absolute default. A shingle in >frac of all docs is boilerplate at
    // every scale; one in 0.02% is a leak signature at every scale. The
    // cutoff rides a broadcast 1-row corpus count — no driver action.
    val hotBase = corpusSh.groupBy("sh").agg(count(lit(1)).as("df"))
    val hot = maxDocFreqFrac match {
      case None => hotBase.where(col("df") > maxDocFreq).select("sh")
      case Some(frac) =>
        hotBase
          .crossJoin(broadcast(
            corpus.agg(count(lit(1)).as("n_corpus"))))
          .where(col("df").cast("double") >
            col("n_corpus").cast("double") * frac)
          .select("sh")
    }
    val culled = cullHot(corpusSh, hot, broadcastHot)
    val refSh = reference
      .select(explode(graft.functions.ShingleHashes(col(refTextCol), n)).as("sh"))
      .distinct()
    culled.join(refSh, "sh")
      .groupBy("id").agg(count(lit(1)).as("shared_ngrams"))
      .where(col("shared_ngrams") >= minShared)
  }

  /** Contamination rate per provenance bucket: [[contaminatedIds]] rolled
    * up by source — the report that turns a flat droplist into a
    * decision ("source X is 40% benchmark-leaked: drop the source, not
    * the docs"). One row per source with corpus size, contaminated
    * count, and the truncating micro rate.
    *
    * Scale shape: the contamination semi-join is [[contaminatedIds]]
    * unchanged; the rollup joins its (id)-grain output back to the
    * (id, source) projection once and aggregates per source — bounded
    * |sources| output, map-side combined. */
  def contaminationBySource(corpus: DataFrame, idCol: String,
      textCol: String, sourceCol: String, reference: DataFrame,
      refTextCol: String, n: Int = 5, minShared: Long = 5,
      maxDocFreq: Long = 1000): DataFrame = {
    val bad = contaminatedIds(corpus, idCol, textCol, reference, refTextCol,
      n, minShared, maxDocFreq)
    val src = corpus.select(col(idCol).as("id"), col(sourceCol).as("source"))
    val perSrc = src.groupBy("source").agg(count(lit(1)).as("n_docs"))
    val badSrc = src.join(bad.select("id"), Seq("id"), "left_semi")
      .groupBy("source").agg(count(lit(1)).as("n_contaminated"))
    perSrc.join(badSrc, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"))
      .withColumn("rate_micro",
        expr("(n_contaminated * 1000000L) div n_docs"))
  }

  /** SimHash near-dup pairs via band-bucketed self-join: the signature's
    * `bands` fixed-width slices are the join keys — two docs within
    * `maxHamming` < bands differing bits MUST agree on at least one slice
    * (pigeonhole), so candidate recall is exact, and the only false
    * candidates are random slice collisions (≈ n²·bands / 2^sliceWidth —
    * negligible until n approaches 2^sliceWidth, when more/wider bands are
    * due). The exact hamming re-check runs once per distinct candidate.
    * Cheapest of the near-dup pair generators: the signature is one long,
    * so the whole pipeline shuffles (id, long) tuples only. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 1, bands: Int = 2): DataFrame =
    bandedHammingPairs(simhashSigs(df, idCol, textCol, "sig"), idCol, "sig",
      maxHamming, bands)

  /** Band-bucket candidate pairs over ANY precomputed `bits`-wide signature
    * column (32-bit simhash over text, 64-bit perceptual aHash over
    * images, …): split the signature into `bands` equal bit-bands, equi-join
    * on (band index, band value), keep pairs within `maxHamming`.
    * Pigeonhole-exact recall when `maxHamming < bands` (a pair within the
    * cap must agree on at least one whole band). `bits` must match the
    * signature's real width — banding fewer bits keeps recall (diffs in
    * unbanded bits can't hide a close pair from the banded ones) but lets
    * pairs agreeing only on the banded prefix flood the candidate set.
    * The signature frame shuffles as (id, long) only. */
  def bandedHammingPairs(sigs: DataFrame, idCol: String, sigCol: String,
      maxHamming: Int, bands: Int, bits: Int = SimhashBits): DataFrame = {
    require(bits % bands == 0, "bands must divide the signature width")
    require(maxHamming < bands,
      s"recall guarantee needs maxHamming < bands (got $maxHamming, $bands)")
    val width = bits / bands
    // width == 64 (bits=64, bands=1, maxHamming=0 — legal above): Scala's
    // shift is mod 64, so (1L << 64) - 1 would be 0 and every row would land
    // in band_val 0 — a full cross-product self-join (correct via the
    // hamming recheck, quadratically wrong as a plan)
    val mask = if (width == 64) -1L else (1L << width) - 1
    // persist: feeds both sides of the band self-join (recompute trap).
    // CacheScope-registered so a session running many queries over the same
    // corpus doesn't pin one signature cache per call forever.
    val s = graft.core.CacheScope.persist(
      sigs.select(col(idCol).as("id"), col(sigCol).as("sig")))
    val banded = s.select(col("id"), col("sig"),
        posexplode(array((0 until bands).map(b =>
          shiftright(col("sig"), b * width).bitwiseAND(lit(mask))): _*)))
      .withColumnRenamed("pos", "band_idx")
      .withColumnRenamed("col", "band_val")
    // shuffle_hash: locally neutral (the cost here is the signature agg),
    // but pins the bucket-join shape that holds when banded can't broadcast
    banded.as("l").hint("shuffle_hash")
      .join(banded.as("r").hint("shuffle_hash"), Seq("band_idx", "band_val"))
      .where(col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
        hammingDistance(col("l.sig"), col("r.sig")).as("hamming"))
      .distinct() // a pair colliding in k bands appears k times
      .where(col("hamming") <= maxHamming)
  }

  /** Corpus-level boilerplate stripping — the segment/"line"-dedup pass of
    * CCNet/RefinedWeb-lineage pipelines, adapted to single-line documents:
    * a doc's non-overlapping `segWords`-word segments are hashed per-row
    * ([[graft.functions.SegmentHashes]] — no occurrence-level token
    * shuffle), and a segment whose hash occurs in >= `maxDocFreq` DISTINCT
    * documents is boilerplate (headers, navigation chrome, license
    * blurbs) — every occurrence of it is dropped. Returns per-doc removal
    * accounting: (doc_id, n_tokens, n_segs, n_dropped, kept_tokens) with
    * kept_tokens = n_tokens − n_dropped·segWords (the trailing partial
    * segment never drops).
    *
    * Scale shape — only the (small) hot set is ever cached:
    *   - doc frequency: `array_distinct` dedups within-doc repeats PER ROW
    *     (no global (hash, doc) distinct exchange), and the hash-keyed
    *     count combines map-side, so only each partition's distinct hashes
    *     shuffle; the hot RESULT (segments in >= maxDocFreq docs) persists
    *     and materializes eagerly — see the comment in the body for why;
    *   - the verdict pass is explode_outer → LEFT join against the
    *     broadcast hot set (size-guarded; beyond ~8M hot segments it
    *     degrades to a shuffle join) → ONE id-keyed aggregate whose
    *     partials collapse map-side to one row per doc (a doc's segments
    *     are contiguous — they come from one input row), so the only
    *     exchange is doc-grain. No id-keyed join back to the corpus;
    *   - n_segs needs no aggregate: [[graft.functions.SegmentHashes]]
    *     tokenizes exactly like `split(text, ' ')` (empty tokens included)
    *     and emits floor(n_tokens / w) segments, so n_segs is per-row
    *     integer arithmetic on n_tokens. */
  def boilerplateStrip(df: DataFrame, idCol: String, textCol: String,
      segWords: Int = 8, maxDocFreq: Long = 3,
      maxBroadcastHot: Long = 8000000L): DataFrame = {
    val segArr = graft.functions.SegmentHashes(col(textCol), segWords)
    // Materialize the hot set BEFORE planning the verdict join: leaving the
    // aggregate inline in one plan measured 45x slower at 2.5M docs (290s
    // vs 6.4s) even though the printed plan was the same broadcast join —
    // the single fused plan re-derives the build side and falls off the
    // codegen fast path. The count doubles as the broadcast-size guard:
    // a broadcast HashedRelation costs ~30-50 bytes per single-long key
    // (UnsafeRow + hash-map overhead, not the raw 8 bytes), so the 8M-key
    // cap admits ~250-400 MB on the driver and per executor — sized for the
    // 100g heaps jrun.sh configures, not for a default 1g executor; an
    // adversarially boilerplate-heavy corpus beyond that degrades to a
    // shuffle join instead of blowing the driver.
    val hot = graft.core.CacheScope.persist(
      df.select(explode(array_distinct(segArr)).as("seg_hash"))
        .groupBy("seg_hash").agg(count(lit(1)).as("df_docs"))
        .where(col("df_docs") >= maxDocFreq)
        .select("seg_hash"))
    val nHot = hot.count()
    val hotTagged = hot.withColumn("is_hot", lit(1))
    // record which branch the guard took at volume (the funnel audits in
    // BASELINE.md cite it); silent below 1M so verify/bench logs stay clean
    if (nHot > 1000000L) System.err.println(
      s"[boilerplateStrip] hot segments=$nHot join=" +
        (if (nHot <= maxBroadcastHot) "broadcast" else "shuffle"))
    // maxBroadcastHot: the branch cap is a parameter so the shuffle
    // degradation path is FORCEABLE (0 = always shuffle) — replica corpora
    // can't grow distinct hot segments past the default 8M cap, so without
    // the knob the fallback would only ever run in unit tests
    val hotSide = if (nHot <= maxBroadcastHot) broadcast(hotTagged) else hotTagged
    df.select(col(idCol).as("id"),
        size(tokens(col(textCol))).cast("long").as("n_tokens"),
        // explode_outer: zero-segment and null-text docs keep their row
        // (null seg_hash never matches hot → n_dropped 0)
        explode_outer(segArr).as("seg_hash"))
      .join(hotSide, Seq("seg_hash"), "left")
      .groupBy("id")
      .agg(first(col("n_tokens")).as("n_tokens"),
        coalesce(sum(col("is_hot")), lit(0L)).cast("long").as("n_dropped"))
      .select(col("id"),
        col("n_tokens"),
        // null text mirrors the old aggregate path: 0 segments
        coalesce(expr(s"n_tokens div $segWords"), lit(0L)).as("n_segs"),
        col("n_dropped"),
        (col("n_tokens") - col("n_dropped") * segWords).as("kept_tokens"))
  }

  /** Shingle CONTAINMENT pairs: `shared / min(|A|, |B|)` instead of Jaccard's
    * `shared / |A ∪ B|` — the signal Jaccard structurally misses: a document
    * quoted whole inside a much longer one scores `|A| / |A ∪ B| ≈ 0` on
    * Jaccard but 1.0 on containment. The standard second dedup pass after
    * near-dup removal (catches quote-expansion, boilerplate-wrapped reposts,
    * chunk-of-a-longer-doc leaks into eval sets).
    *
    * Identical physical shape to [[ngramJaccardPairs]] — shared inverted
    * index, df-cut, shingle-keyed self-join, id-only pairs — so the same
    * 100 TB story holds; only the final scalar differs. `minShared` prunes
    * single-shingle coincidences before the size join. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, minContainment: Double = 0.8, minShared: Long = 2,
      maxDocFreq: Long = 100, broadcastHot: Boolean = true,
      packIds: Boolean = true): DataFrame = {
    // one persisted explode feeds the hot-set aggregate, the sizes
    // aggregate, and both self-join sides (see ngramJaccardPairs for why
    // groupBy-hot beats a count window, and why the index carries 8-byte
    // shingle hashes, not strings)
    val sh = graft.core.CacheScope.persist(
      df.select(col(idCol).as("id"),
        explode(graft.functions.ShingleHashes(col(textCol), n)).as("sh")))
    val hot = sh.groupBy("sh").agg(count(lit(1)).as("df"))
      .where(col("df") > maxDocFreq).select("sh")
    // persisted like the raw explode: three consumers (two self-join sides,
    // sizes) would otherwise each replay the hot-set shuffle + anti-join
    val filtered = graft.core.CacheScope.persist(cullHot(sh, hot, broadcastHot))
    val sizes = filtered.groupBy("id").agg(count(lit(1)).as("n_sh"))
    val pairs = sharedCounts(filtered, packIds)
      .where(col("shared") >= minShared)
    pairs
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
      .withColumn("containment",
        col("shared").cast("double") / least(col("n_a"), col("n_b")))
      .where(col("containment") >= minContainment)
      // the CONTAINED side (fewer shingles; ties → the larger id, so the
      // survivor choice stays deterministic) — what a dedup pass drops
      .withColumn("contained_id",
        when(col("n_a") < col("n_b"), col("id_a"))
          .when(col("n_b") < col("n_a"), col("id_b"))
          .otherwise(greatest(col("id_a"), col("id_b"))))
      .select("id_a", "id_b", "shared", "containment", "contained_id")
  }

  /** Content-defined chunking ([[graft.functions.CdcChunks]]): one row per
    * chunk — (id, chunk_idx, start_tok, end_tok, chunk_hash) with 1-based
    * inclusive token ranges. Boundaries come from a rolling window hash of
    * the CONTENT, so a passage shifted by an edit elsewhere re-chunks (and
    * re-hashes) identically — the shifted/embedded duplication that
    * fixed-width segmenting ([[boilerplateStrip]]'s 8-word segments)
    * structurally misses.
    *
    * Scale shape: chunking is a NARROW per-row map (one fused codegen pass,
    * zero shuffle); the explode emits tokens/expected-chunk-length rows per
    * doc carrying three longs each. Everything downstream (dup-chunk
    * detection, chunk-level decontamination) is a chunk_hash-keyed groupBy
    * with map-side combine. */
  def cdcChunks(df: DataFrame, idCol: String, textCol: String,
      window: Int = 8, divisor: Int = 16): DataFrame =
    df.select(col(idCol).as("id"),
        posexplode(graft.functions.CdcChunks(col(textCol), window, divisor)))
      .select(col("id"), col("pos").cast("long").as("chunk_idx"),
        col("col.start_tok").as("start_tok"), col("col.end_tok").as("end_tok"),
        col("col.chunk_hash").as("chunk_hash"))

  /** Chunks appearing in more than one DISTINCT document — the dup-chunk
    * report CDC exists for (embedded quotes, shifted boilerplate, licensed
    * passages): (chunk_hash, n_occurrences, n_docs, first_doc). One
    * chunk_hash-keyed aggregate over the narrow chunk table. */
  def cdcDupChunks(df: DataFrame, idCol: String, textCol: String,
      window: Int = 8, divisor: Int = 16, minDocs: Long = 2): DataFrame =
    cdcChunks(df, idCol, textCol, window, divisor)
      .groupBy("chunk_hash")
      .agg(count(lit(1)).as("n_occurrences"),
        count_distinct(col("id")).as("n_docs"),
        min("id").as("first_doc"))
      .where(col("n_docs") >= minDocs)

  /** Chunk-grain decontamination — the CDC companion of [[contaminatedIds]]:
    * corpus docs sharing at least `minShared` DISTINCT chunk hashes with ANY
    * reference (benchmark/eval) document are flagged. Where n-gram
    * decontamination scores short overlaps, chunk hashes only collide on
    * entire content-defined spans — long verbatim passages — so this pass
    * has near-zero false-positive rate on topical overlap and survives the
    * reference text being EMBEDDED at any offset (the chunk boundaries
    * travel with the content). Returns (id, shared_chunks).
    *
    * Scale shape: both sides chunk in a narrow fused pass; the reference
    * side collapses to DISTINCT hashes (its doc identity is irrelevant), so
    * the join output is bounded by corpus-chunk × ref-chunk-set overlap,
    * never by reference size; the shuffle key is the 31-bit chunk hash. */
  def contaminatedIdsByChunk(corpus: DataFrame, idCol: String, textCol: String,
      reference: DataFrame, refTextCol: String,
      window: Int = 8, divisor: Int = 16, minShared: Long = 1): DataFrame = {
    val c = cdcChunks(corpus, idCol, textCol, window, divisor)
      .select(col("id"), col("chunk_hash")).distinct()
    // the reference needs no id column — only its distinct chunk hashes
    val r = cdcChunks(reference.select(lit(0L).as("_rid"), col(refTextCol)),
        "_rid", refTextCol, window, divisor)
      .select("chunk_hash").distinct()
    c.join(r, "chunk_hash")
      .groupBy("id").agg(count(lit(1)).as("shared_chunks"))
      .where(col("shared_chunks") >= minShared)
  }

  /** Per-document n-gram NOVELTY: the fraction of a doc's distinct shingles
    * whose global first appearance (min id over the corpus) is the doc
    * itself. The crawl-health metric behind "is batch N still adding
    * content, or re-crawling what we have?" — aggregate novelty per
    * source/batch falls out of one more groupBy on the result.
    *
    * Scale shape: ONE shingle-keyed exchange — `min(id)` as an unbounded
    * window over `partitionBy(sh)` — then a doc-keyed aggregate whose
    * partials collapse map-side. No join (the round-12 100× audit caught
    * the previous groupBy + join-back shape at 12.0× in the second
    * decade: the first-seen build side crossed the per-task in-memory
    * hash threshold and spilled); the window is sort-based, so at any
    * scale it streams through disk instead of building an in-memory
    * relation, and no cache of the exploded set is held at all. A hot
    * shingle still costs rows proportional to its frequency, not
    * frequency². */
  def noveltyRates(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    val sh = df.select(col(idCol).as("id"),
      explode(graft.functions.ShingleHashes(col(textCol), n)).as("sh"))
    sh.withColumn("first_id",
        min("id").over(
          org.apache.spark.sql.expressions.Window.partitionBy("sh")))
      .groupBy("id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_id") < col("id"), 1L).otherwise(0L)).as("n_seen"))
      .withColumn("novelty",
        round(lit(1.0) - col("n_seen").cast("double") / col("n_shingles"), 6))
  }

  /** EXACT repeated-substring spans, at n-gram grain: for every document,
    * the maximal token ranges `[span_start, span_end]` in which EVERY
    * length-`n` token window occurs at least `minCount` times corpus-wide
    * (in-document repeats included). This is the exact-substring dedup cut
    * from the dedup literature — the pass that removes verbatim licenses,
    * headers, and templated passages that document-level MinHash can't see
    * because the surrounding text differs — restricted to n-token
    * resolution: a repeated substring of length L ≥ n tokens is reported
    * exactly (as the span of its L−n+1 constituent windows); repeats
    * shorter than n tokens are invisible by design.
    *
    * Scale shape (why this is NOT a suffix array): the classic construction
    * is a corpus-wide suffix sort — a global order no shuffle key
    * decomposes. At n-gram grain the same cut becomes embarrassingly
    * key-partitioned: one fused scan emits positional window hashes
    * ([[graft.functions.PositionalShingleHashes]] — 8-byte keys, no shingle
    * strings), a hash-keyed groupBy counts occurrences (map-side combine;
    * one row per DISTINCT window survives), a semi-join marks the repeated
    * positions, and the span merge is a per-document window — partitioned
    * by id, skew-free. Every stage keys on hash or id; nothing global.
    * Hot-window skew mirrors [[ngramJaccardPairs]]'s: a semi-join probe
    * costs rows ∝ frequency (not frequency²), so no df-cut is needed.
    *
    * Returns (id, span_start, span_end, n_windows): token positions,
    * 0-based, `span_end` = start of the span's LAST window + n − 1 =
    * inclusive end of the repeated text itself. */
  def repeatedSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int = 8, minCount: Long = 2,
      broadcastRepeated: Option[Boolean] = None,
      maxBroadcastHashes: Long = 4000000L): DataFrame = {
    // persisted: the occurrence count and the position mark both read it,
    // and each would otherwise re-run the scan + window-hash explode
    // (CacheScope-registered; the session owner drains after the action)
    val grams = graft.core.CacheScope.persist(
      df.select(col(idCol).as("id"),
        posexplode(graft.functions.PositionalShingleHashes(col(textCol), n))
          .as(Seq("pos", "h"))))
    // Broadcasting the repeated set spares the full grams exchange on `h`
    // (the spans below re-shuffle on id anyway, so the semi-join's hash
    // partitioning buys nothing downstream) — but the set is bounded only
    // by the count of distinct windows occurring >= minCount, which is
    // data-sized on boilerplate-heavy corpora: an UNCONDITIONAL broadcast
    // is exactly the ship-the-whole-set failure mode the near-dup paths
    // warn against. Default (None) therefore GATES on the measured size:
    // persist the aggregate, count it (one driver long — the aggregate is
    // reused by the join, so nothing recomputes), and broadcast only under
    // `maxBroadcastHashes` (4M longs ≈ 32 MB map-side); above it, the
    // pinned shuffle_hash bucket join takes over. Some(true)/Some(false)
    // force either path when the corpus shape is known a priori.
    val repeated = graft.core.CacheScope.persist(
      grams.groupBy("h").agg(count(lit(1)).as("cnt"))
        .where(col("cnt") >= minCount).select("h"))
    val doBroadcast = broadcastRepeated.getOrElse(
      repeated.count() <= maxBroadcastHashes)
    val hits =
      if (doBroadcast) grams.join(broadcast(repeated), Seq("h"), "left_semi")
      else grams.hint("shuffle_hash")
        .join(repeated.hint("shuffle_hash"), Seq("h"), "left_semi")
    // merge adjacent repeated positions into maximal spans: a gap in `pos`
    // starts a new span (standard gaps-and-islands, both windows id-local)
    val byPos = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy("pos")
    hits
      .withColumn("brk",
        when(col("pos") - lag("pos", 1, -2).over(byPos) === 1, 0L).otherwise(1L))
      .withColumn("span",
        sum("brk").over(byPos.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy("id", "span")
      .agg(min("pos").cast("long").as("span_start"),
        (max("pos") + lit(n) - 1).cast("long").as("span_end"),
        count(lit(1)).as("n_windows"))
      .drop("span")
  }

  /** Cross-tag duplicate pairs by content fingerprint, JOIN-FREE: documents
    * sharing an exact [[graft.operators.TextAnalysis.fingerprint]] but
    * carrying different `tagCol` values (language, source, license…) —
    * q159's cross-language leak detector, re-expressed as ONE aggregation
    * instead of a fingerprint self-join. The self-join form computes the
    * md5-per-token fingerprint on BOTH sides (the broadcast tier has no
    * exchange to reuse) and shuffles the corpus twice at the sort-merge
    * tier; this form fingerprints once, shuffles once on fp, and expands
    * pairs inside each duplicate group.
    *
    * Scale shape: one corpus-sized exchange keyed on fingerprint; group
    * sizes are duplicate multiplicities (corpus-sparse by construction),
    * and the pair expansion is group-local — output volume is identical
    * to the join form (both are Σ C(|group|,2)-bounded), with no
    * quadratic intermediate beyond what the answer itself contains.
    * Members sort by (id, tag) inside the group, so `i < j` implies
    * `id_i < id_j` and the output is deterministic.
    *
    * NULL fingerprints (NULL text) are dropped before grouping — the
    * equality self-join this replaces never matches NULLs, so a NULL
    * group would be pure divergence. Same-tag-only groups are killed
    * INSIDE the aggregate (`size(collect_set(tag)) > 1` — tag
    * cardinality is small: languages, sources): a mass-duplicated
    * boilerplate group whose members all share one tag would otherwise
    * expand m² in one task and then filter every pair to nothing.
    * `maxGroupSize` (None = exhaustive, the oracle's shape) additionally
    * skips genuine cross-tag mega-groups, mirroring
    * [[minhashCandidates]]'s maxBucketSize: a group of m docs emits up
    * to C(m,2) pairs, and one degenerate cluster can dominate the job.
    *
    * Returns (id_a, id_b, tag_a, tag_b) with id_a < id_b, tag_a ≠ tag_b
    * (strict: duplicate id values never pair with themselves, matching
    * the join form's `a.id < b.id`). */
  def crossTagDupPairs(df: DataFrame, idCol: String, tagCol: String,
      textCol: String, maxGroupSize: Option[Int] = None): DataFrame =
    crossTagDupPairsFromFp(
      df.select(col(idCol).as("id"), col(tagCol).as("tag"),
        graft.operators.TextAnalysis.fingerprint(col(textCol)).as("fp"))
        .where(col("fp").isNotNull),
      maxGroupSize)

  /** [[crossTagDupPairs]] over a PRE-FINGERPRINTED (id, tag, fp) relation —
    * the layout-aware entry point: feed it a table bucketed on `fp`
    * ([[graft.operators.ScaleOps.ensureBucketed]]) and the fp-keyed
    * aggregation runs exchange-free (the bucketed scan's hash partitioning
    * satisfies the aggregate's distribution), so repeated dup sweeps over
    * a warehoused corpus pay the fingerprint shuffle once at write time —
    * the q212 bucketed-fact pattern applied to the dedup family. Callers
    * own the NULL-fp precondition (ensure `fp IS NOT NULL` at write). */
  def crossTagDupPairsFromFp(fp: DataFrame,
      maxGroupSize: Option[Int] = None): DataFrame = {
    val grouped = fp.groupBy("fp")
      .agg(sort_array(collect_list(struct(col("id"), col("tag"))))
        .as("members"),
        size(collect_set(col("tag"))).as("n_tags"))
      .where(size(col("members")) > 1 && col("n_tags") > 1)
      .drop("n_tags")
    val groups = maxGroupSize match {
      case None => grouped
      case Some(cap) => grouped.where(size(col("members")) <= cap)
    }
    groups
      .select(col("members"), posexplode(col("members")).as(Seq("i", "a")))
      .select(col("i"), col("a"),
        posexplode(col("members")).as(Seq("j", "b")))
      .where(col("i") < col("j") && col("a.id") < col("b.id") &&
        col("a.tag") =!= col("b.tag"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.tag").as("tag_a"), col("b.tag").as("tag_b"))
  }
}
