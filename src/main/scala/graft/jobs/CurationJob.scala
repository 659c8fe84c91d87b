package graft.jobs

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Components, Dedup, ScaleOps, TextAnalysis}
import graft.core.Parquet

/** End-to-end training-data curation: the composition the operator library
  * exists for. documents → language/quality gate → PII scrub → exact dedup
  * → near-dup removal (MinHash+LSH) → token-window chunking → deterministic
  * sampling → sharded training read order.
  *
  * Every stage is a narrow projection or a key-shuffle over ids — no stage
  * moves payload text except the final chunk projection, and document ids
  * decide near-dup survivorship (smallest id in a candidate pair wins), so
  * the result is deterministic under any partitioning. At 100 TB each arrow
  * below is exactly one job stage boundary; checkpoints (parquet between
  * stages) drop in without changing semantics.
  */
object CurationJob {

  final case class Config(
      lang: String = "en",
      minQuality: Double = 0.5,
      // RefinedWeb-style boilerplate gate: drop docs whose corpus-hot
      // segments ([[Dedup.boilerplateStrip]], 8-word segments shared by
      // >= 3 docs) make up more than this share of their tokens. Computed
      // over the RAW input (document frequencies must see every doc,
      // including the ones later gates remove).
      maxBoilerplateShare: Option[Double] = None,
      // relative quality gate: keep the top X fraction by quality score
      // ([[TextAnalysis.qualityGate]], exact histogram path) INSTEAD of the
      // absolute minQuality floor — the right knob when the score
      // distribution shifts corpus to corpus. Applied within the
      // lang-matched subset.
      keepTopQualityFrac: Option[Double] = None,
      // Gopher-style repetition cut: drop docs whose most frequent token
      // exceeds this share (one-token spam). Per-row, no shuffle.
      maxTopTokenShare: Option[Double] = None,
      // MassiveText compressibility cut: keep docs whose deflate ratio
      // ([[TextAnalysis.compressionRatio]]) falls inside [lo, hi] — below
      // lo = templated/looping text, above hi = high-entropy noise.
      // Per-row, no shuffle.
      compressionBounds: Option[(Double, Double)] = None,
      // char-bigram LM cut: drop docs whose avg log-prob under the corpus's
      // own bigram model falls below this (mojibake/codepoint soup). One
      // broadcast-join pass (TextAnalysis.charLmScore).
      minLmScore: Option[Double] = None,
      // structured-PII scrub ([[TextAnalysis.redact]]): every match of each
      // (class, regex) rewritten to <CLASS> IN PLACE, right after the row
      // gates — so dedup hashes, chunk text, and every downstream signal
      // see the scrubbed corpus (two docs differing only in their PII
      // become exact dups, which is the desired behavior). Per-row,
      // codegen'd, no shuffle.
      redactClasses: Seq[(String, String)] = Nil,
      // C4-style blocklist gate ([[TextAnalysis.policyFilter]], fused
      // Aho–Corasick): drop docs with more than maxPolicyHits total
      // occurrences across ALL patterns (0 = drop on any hit). Per-row,
      // codegen'd scan-side, ONE text pass regardless of list size.
      blockedPatterns: Seq[String] = Nil,
      maxPolicyHits: Long = 0L,
      // scale-safe decontamination cull: when set, the benchmark-shingle
      // hot cut is this FRACTION of corpus size instead of
      // [[Dedup.contaminatedIds]]'s absolute default — REQUIRED at corpus
      // scale, where a duplicated benchmark doc's shingles outgrow any
      // absolute cap and the cull deletes the leakage evidence (measured:
      // 3× recall drop 5M→10M docs under the absolute default).
      deconMaxDocFreqFrac: Option[Double] = None,
      nearDupJaccard: Double = 0.8,
      // second dedup axis: drop docs CONTAINED in a surviving doc
      // ([[Dedup.containmentPairs]], shared/min(|A|,|B|) >= this) — catches
      // quote-expansion dups whose Jaccard sits below nearDupJaccard.
      containmentThreshold: Option[Double] = None,
      // third dedup axis, chunk-grain ([[Dedup.cdcChunks]]): drop docs whose
      // share of content-defined chunks duplicated in OTHER surviving docs
      // exceeds this — the RefinedWeb-style "mostly duplicated lines" cut,
      // shift-proof because CDC boundaries travel with content. Catches
      // heavy passage-level duplication in docs whose whole-doc Jaccard and
      // containment both sit below their thresholds.
      maxDupChunkShare: Option[Double] = None,
      // token-budget cut ([[TextAnalysis.tokenBudgetGate]]): after all
      // dedup axes, keep only the highest-quality surviving docs whose
      // cumulative token count fits the budget — "the best N tokens of
      // this corpus", applied where it's cheapest (dedup already paid for
      // docs that would have been cut anyway is avoided by running LAST).
      tokenBudget: Option[Long] = None,
      // leakage-free split ([[Components.componentSplit]]): assign each
      // surviving doc a train/val/test label hash-split at the NEAR-DUP-
      // CLUSTER grain, so no eval doc has a training-side paraphrase. Edges
      // come from a second LSH pass at `splitJaccard` — deliberately LOWER
      // than nearDupJaccard: pairs too dissimilar to dedup can still leak,
      // so they must co-locate. Chunks inherit their document's split.
      splitPermilles: Option[Seq[(String, Int)]] = None,
      splitJaccard: Double = 0.5,
      chunkTokens: Int = 50,
      chunkOverlap: Int = 10,
      samplePermille: Int = 1000, // 1000 = keep everything
      // quality-proportional sampling ([[ScaleOps.importanceSample]]):
      // replaces the uniform samplePermille cut; chunk keep-probability =
      // clamp(rate * qualityScore(chunk), 0, 1). Deterministic per
      // (doc, chunk), so re-runs agree row-for-row.
      importanceRate: Option[Double] = None,
      // deterministic output sharding ([[ScaleOps.shardShuffle]] keyed by
      // doc:chunk): the emitted table carries (shard, pos) — the
      // reproducible pseudo-random training read order, assigned as the
      // LAST stage so the permutation covers exactly the shipped rows.
      outputShards: Option[Int] = None,
      minhashBands: Int = 16,
      maxBucketSize: Option[Int] = Some(1024),
      // false: drop the larger id of each candidate pair (keeps every LOCAL
      // minimum — a chain A~B~C with A,C unpaired keeps both endpoints).
      // true: close pairs into connected components first and keep exactly
      // one doc (the min id) per duplicate CLUSTER — stricter, standard.
      transitive: Boolean = false)

  final case class Stats(input: Long, afterQuality: Long, afterExact: Long,
      afterNearDup: Long, chunks: Long, sampled: Long,
      decontaminated: Long = 0)

  /** The full pipeline. Returns (curated chunk table, per-stage row counts).
    * Input schema: (doc_id: long, text: string, lang: string).
    * `benchmark`: optional held-out set — documents leaking ≥5 trigrams into
    * it are removed right after the quality gate (cheapest point: the gate
    * already shrank the corpus, and dedup need not pay for docs that are
    * leaving anyway).
    * `outDir`: when set, the shipped table is written to parquet there
    * (partitioned by shard when `outputShards` is on) and the RE-READ frame
    * is returned — the cluster-scale contract. Without it, every stage
    * boundary below lives only as cache + lineage, and a caller action on
    * the returned frame after the internal caches drain replays the whole
    * job; worse, because most optional stages are `X gated by f(X)`
    * two-consumer shapes, the un-cut lineage DOUBLES per stage and a
    * 10-gate config makes the final plan exponentially large — the driver
    * then spends minutes just RENDERING plan strings per action (measured:
    * a full-gate 100k-doc run pinned one driver core in generateTreeString
    * before any executor did real work). Stage persists below bound the
    * EXECUTED work either way; only the parquet write bounds the PLAN for
    * post-drain consumers. */
  def run(docs: DataFrame, cfg: Config = Config(),
      benchmark: Option[DataFrame] = None,
      outDir: Option[String] = None,
      scratchDir: Option[String] = None): (DataFrame, Stats) = {
    // Every optional gate is `X filtered by a derivative of X` — two
    // consumers of X inside one action, and several X's span multiple
    // funnel-count actions, so each enabled boundary must materialize or
    // the executed work doubles per stage.
    //
    // `scratchDir` picks the materialization: a parquet checkpoint (write
    // + re-read — lineage truncated to a scan leaf) vs an in-memory
    // persist (CacheScope, drained at the end). The checkpoint is the one
    // that survives a full-gate config: persisted plans still EMBED their
    // child plans (InMemoryRelation.innerChildren), so although execution
    // reuses the cache, the plan STRING Spark renders per action
    // (SQLExecution's listener planDescription) grows 2^stages and pins
    // the driver in generateTreeString — a measured 100k-doc full-gate
    // run burned 12+ driver-minutes rendering plans against ~1 minute of
    // executor work. Parquet boundaries are also the cluster posture:
    // recompute-safe after executor loss, resumable, and each stage is
    // one job. Light configs (a few gates) are fine on the persist path.
    // Per-stage wall breakdown (checkpoint path only): on the parquet
    // path each `stage` write EXECUTES exactly the compute since the
    // previous boundary, so timing the writes + the funnel counts IS the
    // stage profile (the BASELINE.md curation table). Quiet on the
    // persist path — unit tests stay clean.
    var stageN = 0
    def profile(label: String, sec: Double, extra: String = ""): Unit =
      if (scratchDir.isDefined)
        println(f"CURATION $label%-34s $sec%8.1f s$extra")
    def stage(df: DataFrame, on: Boolean, label: String = ""): DataFrame =
      if (!on) df
      else scratchDir match {
        case None => graft.core.CacheScope.persist(df)
        case Some(sd) =>
          stageN += 1
          val p = s"$sd/stage$stageN"
          val (t, _) = graft.core.Timing.seconds(
            df.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(p))
          profile(s"stage$stageN $label", t)
          Parquet.read(docs.sparkSession, p)
      }
    def timedCount(label: String, df: DataFrame): Long = {
      val (t, n) = graft.core.Timing.seconds(df.count())
      profile(s"count $label", t, s" ($n rows)")
      n
    }
    val input = timedCount("input", docs)

    // 0. optional boilerplate gate — segment document frequencies over the
    // raw corpus, then a share threshold per doc (two id-keyed aggregates;
    // text never shuffles)
    val boilerGated = cfg.maxBoilerplateShare match {
      case None => docs
      case Some(cap) =>
        val ok = Dedup.boilerplateStrip(docs, "doc_id", "text")
          .where(col("n_dropped") * lit(8.0) /
            greatest(col("n_tokens"), lit(1L)).cast("double") <= cap)
          .select(col("id").as("doc_id"))
        docs.join(ok, Seq("doc_id"), "left_semi")
    }

    // 1. language + quality (+ optional repetition) gate — per-row,
    // codegen'd scan-side, no shuffle. With keepTopQualityFrac the absolute
    // score floor is replaced by the exact top-fraction gate (one histogram
    // pass over the lang-matched subset).
    val absFloor = cfg.keepTopQualityFrac match {
      case None => TextAnalysis.qualityScore(col("text")) >= cfg.minQuality
      case Some(_) => lit(true)
    }
    val rowGate0 = cfg.maxTopTokenShare.foldLeft(
        TextAnalysis.langIdGuess(col("text")) === cfg.lang && absFloor) {
      (acc, cap) => acc && TextAnalysis.topTokenShare(col("text")) <= cap
    }
    val rowGate1 = cfg.compressionBounds.foldLeft(rowGate0) {
      case (acc, (lo, hi)) =>
        acc && TextAnalysis.compressionRatio(col("text")).between(lo, hi)
    }
    val rowGate =
      if (cfg.blockedPatterns.isEmpty) rowGate1
      else rowGate1 &&
        graft.functions.PolicyHits(col("text"), cfg.blockedPatterns)
          .getField("n_hits") <= cfg.maxPolicyHits
    val rowGated0 = stage(boilerGated.where(rowGate),
      on = cfg.keepTopQualityFrac.isDefined, "thru row-gates (pre-topfrac)")
    val rowGated = cfg.keepTopQualityFrac match {
      case None => rowGated0
      case Some(frac) =>
        val keep = TextAnalysis.qualityGate(rowGated0, "doc_id", "text", frac)
          .where(col("keep")).select(col("id").as("doc_id"))
        rowGated0.join(keep, Seq("doc_id"), "left_semi")
    }
    // optional LM gate: one corpus pass trains the char-bigram model, one
    // broadcast join scores; keep docs at-or-above the floor
    val rowGatedS = stage(rowGated, on = cfg.minLmScore.isDefined,
      "thru boiler+quality/comp/policy")
    val qualityGated = cfg.minLmScore match {
      case None => rowGatedS
      case Some(floor) =>
        val ok = TextAnalysis.charLmScore(rowGatedS, "doc_id", "text")
          .where(col("lm_score") >= floor)
          .select(col("id").as("doc_id"))
        rowGatedS.join(ok, Seq("doc_id"), "left_semi")
    }

    // 1b. structured-PII scrub (optional) — in-place rewrite, so every later
    // stage (dedup hashes, chunk text, quality-proportional sampling) sees
    // the scrubbed corpus
    val scrubbed = stage(
      if (cfg.redactClasses.isEmpty) qualityGated
      else qualityGated.withColumn("text",
        TextAnalysis.redact(col("text"), cfg.redactClasses)),
      on = benchmark.isDefined, "thru char-LM gate + PII redact")

    // 1c. benchmark decontamination (optional)
    val (gated0, nDecon, leakyHandle) = benchmark match {
      case None => (scrubbed, 0L, None)
      case Some(ref) =>
        val leaky = Dedup.contaminatedIds(scrubbed, "doc_id", "text",
            ref, "text", n = 3, minShared = 5,
            maxDocFreqFrac = cfg.deconMaxDocFreqFrac)
          .select(col("id").as("doc_id"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val n = leaky.count()
        (scrubbed.join(leaky, Seq("doc_id"), "left_anti"), n, Some(leaky))
    }
    val gated = stage(gated0, on = true, "thru decontamination")
    val afterQuality = timedCount("afterQuality", gated)
    // gated's cache now holds the anti-joined rows; the leak list has no
    // further consumer (same release discipline as gated/exact below)
    leakyHandle.foreach(_.unpersist())

    // 2. exact dedup — keep each content group's smallest doc_id
    val keepers = Dedup.exactGroups(gated, "doc_id", "text")
      .select(col("keeper_id").as("doc_id"))
    val exact = stage(gated.join(keepers, "doc_id"), on = true,
      "exact dedup")
    val afterExact = timedCount("afterExact", exact)
    gated.unpersist() // no-op on the checkpoint path; early release otherwise

    // 3. near-dup removal over MinHash+LSH candidate pairs
    val dupPairs = Dedup.minhashCandidates(exact, "doc_id", "text",
        bands = cfg.minhashBands, maxBucketSize = cfg.maxBucketSize)
      .where(col("est_jaccard") >= cfg.nearDupJaccard)
    val losers =
      if (cfg.transitive)
        // component closure: exactly one survivor (the min id) per CLUSTER
        Components.connectedComponents(dupPairs, "id_a", "id_b")
          .where(col("id") =!= col("comp"))
          .select(col("id").as("doc_id"))
      else
        // pairwise: drop the larger id of each pair (keeps local minima; the
        // global min of a cluster never appears as the larger side)
        dupPairs.select(col("id_b").as("doc_id")).distinct()
    val unique0 = stage(exact.join(losers, Seq("doc_id"), "left_anti"),
      on = cfg.containmentThreshold.isDefined, "minhash near-dup")

    // 3b. containment pass (optional) — over the near-dup SURVIVORS (the
    // contained side of a pair the minhash stage already dropped needs no
    // second look); drops each contained doc, keeps its container
    val unique1 = stage(cfg.containmentThreshold match {
      case None => unique0
      case Some(thr) =>
        val contained = Dedup.containmentPairs(unique0, "doc_id", "text",
            minContainment = thr)
          .select(col("contained_id").as("doc_id")).distinct()
        unique0.join(contained, Seq("doc_id"), "left_anti")
    }, on = cfg.maxDupChunkShare.isDefined, "containment pass")

    // 3c. chunk-grain duplication gate (optional) — CDC chunks over the
    // surviving docs, then drop docs whose duplicated-chunk share exceeds
    // the cap. The chunk table is narrow (three longs per chunk) and feeds
    // both the dup set and the per-doc share in one persisted pass.
    val unique = stage(cfg.maxDupChunkShare match {
      case None => unique1
      case Some(cap) =>
        val ch = graft.core.CacheScope.persist(
          Dedup.cdcChunks(unique1, "doc_id", "text"))
        val dup = ch.groupBy("chunk_hash")
          .agg(count_distinct(col("id")).as("nd"))
          .where(col("nd") >= 2).select("chunk_hash")
        val heavy = ch
          .join(dup.withColumn("is_dup", lit(1)), Seq("chunk_hash"), "left")
          .groupBy("id")
          .agg(count(lit(1)).as("n_chunks"),
            coalesce(sum(col("is_dup")), lit(0L)).as("n_dup"))
          .where(col("n_dup").cast("double") / col("n_chunks") > cap)
          .select(col("id").as("doc_id"))
        unique1.join(heavy, Seq("doc_id"), "left_anti")
    }, on = true, // spans the funnel count AND every downstream stage
      "cdc-chunk dup gate")
    val afterNearDup = timedCount("afterNearDup", unique)

    // 3d. token-budget cut (optional) — the best-N-tokens subset of the
    // dedup survivors (histogram threshold, no global sort); last because
    // budget spent on docs a dedup axis would drop is budget wasted
    val budgeted = cfg.tokenBudget match {
      case None => unique
      case Some(budget) =>
        val keep = TextAnalysis.tokenBudgetGate(unique, "doc_id", "text", budget)
          .where(col("keep")).select(col("id").as("doc_id"))
        unique.join(keep, Seq("doc_id"), "left_semi")
    }

    // 3e. leakage-free split assignment (optional) — cluster-grain labels
    // over the final doc set; the edge pass reuses the minhash machinery at
    // the looser splitJaccard threshold
    val budgetedS = stage(budgeted, on = cfg.splitPermilles.isDefined,
      "token-budget cut")
    val labeled = cfg.splitPermilles match {
      case None => budgetedS
      case Some(pm) =>
        val edges = Dedup.minhashCandidates(budgetedS, "doc_id", "text",
            bands = cfg.minhashBands, maxBucketSize = cfg.maxBucketSize)
          .where(col("est_jaccard") >= cfg.splitJaccard)
        val lab = Components.componentSplit(budgetedS, "doc_id", edges,
          "id_a", "id_b", pm)
        budgetedS.join(lab.select(col("doc_id"), col("split")), Seq("doc_id"))
    }

    // 4. chunking — one row per context window (split label, when present,
    // rides the doc row into every chunk)
    val carried = cfg.splitPermilles.map(_ => col("split")).toSeq
    val chunked = stage(labeled.select(Seq(col("doc_id")) ++ carried :+
        posexplode(TextAnalysis.chunk(col("text"), cfg.chunkTokens, cfg.chunkOverlap)): _*)
      .select(Seq(col("doc_id")) ++ carried :+ col("pos").as("chunk_idx") :+
        col("col").as("chunk"): _*),
      on = true, // spans the chunk count, the sample, and the ship action
      "thru split + chunking")
    val chunks = timedCount("chunks", chunked)

    // 5. deterministic sampling to the target budget (reproducible mixing):
    // uniform by default; quality-proportional when importanceRate is set
    // (key = doc:chunk so each chunk decides independently but stably)
    val sampled = stage(cfg.importanceRate match {
      case None => ScaleOps.hashSample(chunked, "doc_id", cfg.samplePermille)
      case Some(rate) =>
        ScaleOps.importanceSample(
            chunked.withColumn("_ck",
              concat_ws(":", col("doc_id"), col("chunk_idx"))),
            "_ck", TextAnalysis.qualityScore(col("chunk")), rate)
          .drop("_ck")
    }, on = (cfg.samplePermille != 1000 || cfg.importanceRate.isDefined) &&
      cfg.outputShards.isDefined, // else a single consumer reads it once
      "importance sampling")
    val nSampled =
      if (cfg.samplePermille == 1000 && cfg.importanceRate.isEmpty) chunks
      else sampled.count()
    exact.unpersist()

    // 6. output sharding (optional) — (shard, pos) training read order over
    // exactly the shipped rows; one exchange, per-shard sort, and a
    // downstream .write.partitionBy("shard") needs no second exchange
    val out = cfg.outputShards match {
      case None => sampled
      case Some(s) =>
        ScaleOps.shardShuffle(sampled.withColumn("_sk",
            concat_ws(":", col("doc_id"), col("chunk_idx"))), "_sk", s)
          .drop("_sk")
    }

    // ship: with outDir the final table lands in parquet BEFORE the caches
    // drain (one pass over cached parents), and the caller gets the re-read
    // frame — a one-node plan no matter how many gates ran
    val shipped = outDir.map { dir =>
      val w = out.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      cfg.outputShards match {
        case Some(_) => w.partitionBy("shard").parquet(dir)
        case None => w.parquet(dir)
      }
      Parquet.read(docs.sparkSession, dir)
    }.getOrElse(out)

    // the job ran its terminal actions (the funnel counts and the optional
    // ship write), so it owns the CacheScope drain — composed operators'
    // persists release here, and a rerun re-persisting identical plans no
    // longer trips CacheManager's "already cached" plan-match. Without
    // outDir the returned frame stays valid but replays the released
    // intermediates on its next action (see the run() scaladoc).
    graft.core.CacheScope.drain()

    (shipped, Stats(input, afterQuality, afterExact, afterNearDup, chunks,
      nSampled, decontaminated = nDecon))
  }
}
