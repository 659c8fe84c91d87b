package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming over the `events` table shape (TESTDATA.md).
  *
  * Greenfield — the reference has no streaming surface at all (SURVEY §2.8);
  * this is the engine's scale-path for continuous ingestion. Every transform
  * is defined on DataFrame so the SAME code runs batch (backfill) and
  * streaming (live) — the Structured Streaming contract.
  *
  * Scale notes: watermarks bound state (no unbounded window buffers); the
  * windowed aggregate shuffles once on (window, key) with partial aggregation
  * map-side; sessionization state lives in the state store partitioned by
  * user_id — at 1000 executors that's hash-distributed, nothing driver-side.
  */
object EventStreams {

  /** events.parquet schema. `ts` arrives as TIMESTAMP(NANOS); with
    * `spark.sql.legacy.parquet.nanosAsLong` (set in Sessions) it reads as
    * LongType nanos — normalize with exact integer µs division. */
  val rawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType), // nanos-as-long
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  final case class SessionSummary(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Long, total_value: Double)

  /** Per-user live-session state (top-level visibility: the state-store
    * encoder's generated code needs a public constructor). */
  final case class SessionState(start: Long, end: Long, n: Long, total: Double)

  /** Nanos-long `ts` → TimestampType (exact integer division, see q28). */
  def withEventTime(df: DataFrame): DataFrame =
    df.withColumn("ts", timestamp_micros(expr("ts div 1000")))

  /** Continuous parquet-directory source (files appended by an ingest job). */
  def readEvents(spark: SparkSession, dir: String): DataFrame =
    withEventTime(spark.readStream.schema(rawSchema).parquet(dir))

  /** Tumbling/sliding windowed aggregate with a watermark: the streaming twin
    * of q28. Late rows beyond `watermark` are dropped; state for closed
    * windows is evicted — bounded memory at any scale. */
  def windowedAgg(events: DataFrame, watermark: String = "10 minutes",
      windowLen: String = "5 minutes", slide: Option[String] = None): DataFrame = {
    val w = slide.map(s => window(col("ts"), windowLen, s))
      .getOrElse(window(col("ts"), windowLen))
    events.withWatermark("ts", watermark)
      .groupBy(w.as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("w.start").as("window_start"), col("w.end").as("window_end"),
        col("event_type"), col("n"), col("sum_value"))
  }

  /** Session windows via the built-in gap-based session_window — merges
    * events per user whose gaps are < `gap`. Codegen-friendly; preferred
    * over custom state when "session" means simple gap semantics. */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("s"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(col("user_id"), col("s.start").as("session_start"),
        col("s.end").as("session_end"), col("n_events"), col("total_value"))

  /** Custom stateful sessionization with flatMapGroupsWithState — for
    * semantics session_window can't express (emit-on-timeout, custom merge).
    * State: one fixed-size record per live user key; event-time timeout
    * tied to the watermark evicts idle sessions. */
  def statefulSessions(events: Dataset[Event], gapMs: Long,
      watermark: String = "10 minutes"): Dataset[SessionSummary] = {
    val spark = events.sparkSession
    import spark.implicits._

    def update(userId: Long, rows: Iterator[Event],
        state: GroupState[SessionState]): Iterator[SessionSummary] = {
      def finish(st: SessionState) = SessionSummary(userId,
        new Timestamp(st.start), new Timestamp(st.end), st.n, st.total)

      if (state.hasTimedOut) {
        val out = state.getOption.map(finish)
        state.remove()
        out.iterator
      } else {
        val sorted = rows.toSeq.sortBy(_.ts.getTime)
        var closed = List.empty[SessionSummary]
        var cur = state.getOption
        sorted.foreach { e =>
          val t = e.ts.getTime
          cur match {
            case Some(st) if t - st.end <= gapMs =>
              cur = Some(st.copy(end = math.max(st.end, t), n = st.n + 1,
                total = st.total + e.value))
            case Some(st) =>
              closed ::= finish(st)
              cur = Some(SessionState(t, t, 1, e.value))
            case None =>
              cur = Some(SessionState(t, t, 1, e.value))
          }
        }
        cur.foreach { st =>
          state.update(st)
          state.setTimeoutTimestamp(st.end + gapMs)
        }
        closed.reverseIterator
      }
    }

    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** Stream-stream inner join on a key within a time interval: each left
    * event pairs with right events for the same key whose timestamps lie in
    * `[left.ts - before, left.ts + after]`. Both sides carry watermarks, so
    * the state store holds only the interval's worth of rows per side —
    * bounded memory — and emits as soon as matches are provable. The 100 TB
    * shape for click-to-conversion / impression-attribution joins. */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
      before: String = "10 minutes", after: String = "10 minutes",
      watermark: String = "10 minutes"): DataFrame = {
    val l = left.withWatermark("ts", watermark).as("l")
    val r = right.withWatermark("ts", watermark).as("r")
    l.join(r,
      col(s"l.$key") === col(s"r.$key") &&
        col("r.ts") >= col("l.ts") - expr(s"INTERVAL $before") &&
        col("r.ts") <= col("l.ts") + expr(s"INTERVAL $after"))
  }

  /** Streaming exact dedup bounded by the watermark: duplicates arriving
    * within the watermark horizon are dropped, state for older keys is
    * evicted (unbounded dedup state is the classic streaming OOM). The key
    * is a content hash, not the payload — state stays small per row.
    * Columns are null-safely encoded before hashing: concat_ws SKIPS null
    * arguments, so without the per-column encoding ("v" + value for
    * present, NUL for NULL) two rows whose NULLs sit in different columns
    * would collide onto one hash and wrongly deduplicate. */
  def dedupedByContent(events: DataFrame, hashCols: Seq[String],
      watermark: String = "10 minutes"): DataFrame = {
    val encoded = hashCols.map(c =>
      when(col(c).isNull, lit("\u0000"))
        .otherwise(concat(lit("v"), col(c).cast("string"))))
    events
      .withColumn("_content_hash", md5(concat_ws("\u0001", encoded: _*)))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("_content_hash")
      .drop("_content_hash")
  }

  /** Streaming NEAR-dup suppression: drop a document whose SimHash
    * signature matches an earlier in-watermark doc exactly (hamming 0 —
    * light reorderings and token noise hash to the same signature, unlike
    * [[dedupedByContent]]'s exact md5). The signature is the fused per-row
    * [[graft.functions.SimhashSig]] — a narrow map, so the only state is
    * the watermark-bounded signature set; at ingest scale state size is
    * (signature, timestamp) pairs only, never text.
    *
    * For hamming > 0 suppression, band the signature first
    * ([[graft.operators.Dedup.simhashPairs]] semantics) and drop on any
    * band match — that trades false-positive suppressions (band collisions)
    * for recall, the standard streaming near-dup compromise; exact
    * hamming re-checks need the pair join, which is a batch shape. */
  def dedupedBySimhash(docs: DataFrame, textCol: String, tsCol: String = "ts",
      watermark: String = "10 minutes"): DataFrame =
    docs
      .withColumn("_simhash",
        graft.functions.SimhashSig(col(textCol), graft.operators.Dedup.SimhashBits))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("_simhash")
      .drop("_simhash")

  /** Parquet sink with checkpointing (exactly-once file sink). */
  def writeParquet(df: DataFrame, outDir: String, checkpointDir: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow()) =
    df.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .outputMode(OutputMode.Append)
      .start()

  /** Stream-static enrichment join: attach dimension attributes to each
    * event. The static side is broadcast — no state store, no watermark
    * needed (unlike stream-stream joins), and Spark re-plans the static
    * side per micro-batch, so a dimension refresh (file overwrite) is
    * picked up on the next batch. The standard shape for decorating a
    * 100 TB/day event stream with a few-GB dimension. */
  def enrichWithDim(events: DataFrame, dim: DataFrame, key: String,
      dimCols: Seq[String]): DataFrame =
    events.join(
      broadcast(dim.select((key +: dimCols).map(col): _*)), Seq(key), "left")

  /** foreachBatch merge sink: maintains a keyed running-aggregate parquet
    * table (count + sum per key) across micro-batches — the "upsert into a
    * serving table" pattern for sinks with no native streaming support.
    * Each batch: aggregate the delta, full-outer-merge with the current
    * table, swap in the replacement.
    *
    * Failure semantics: foreachBatch alone is AT-LEAST-once — a batch whose
    * swap landed but whose checkpoint commit didn't is REPLAYED on restart,
    * and re-merging it would double-count. The table therefore records the
    * last merged batchId in a `_last_batch` marker (underscore-prefixed, so
    * parquet readers skip it; it travels with the swap, so table and marker
    * commit together) and replayed batchIds are skipped — that marker is
    * what upgrades the sink to effectively-once. The table and its
    * checkpoint form a unit: restarting with a fresh checkpoint against an
    * existing table restarts batch numbering and is undefined. Single
    * writer; both renames are checked, and a failed swap throws so the
    * batch retries rather than silently dropping the merge. At warehouse
    * scale the same shape targets a transactional table format; the
    * parquet-swap keeps it dependency-free here. */
  def runningAggSink(events: DataFrame, keyCol: String, valueCol: String,
      tableDir: String, checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    events.writeStream
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        mergeSwap(spark, tableDir, batchId) { current =>
          val delta = batch.groupBy(col(keyCol))
            .agg(count(lit(1)).as("n"), sum(col(valueCol)).as("total"))
          current match {
            case Some(c) =>
              c.select(col(keyCol), col("n"), col("total"))
                .unionByName(delta)
                .groupBy(col(keyCol))
                .agg(sum(col("n")).as("n"), sum(col("total")).as("total"))
            case None => delta
          }
        }
        () // lambda must be Unit; the applied flag matters only to metrics
      }
      .start()
  }

  /** Streaming distribution-drift monitor — the live twin of
    * [[graft.operators.ScaleOps.psiDrift]]: per micro-batch, fold the
    * batch's (group, bin) histogram into a standing counts table (the
    * [[runningAggSink]] merge-swap, effectively-once on replay), then
    * recompute every group's PSI against the pooled rest over the MERGED
    * counts and append one (batch_id, group, psi_micro) generation to
    * `metricsDir` — an ingest pipeline watches the latest generation and
    * gates a source the moment its cumulative distribution drifts past
    * 0.1/0.25, instead of discovering it at the nightly batch run.
    *
    * Scale shape: the only event-volume work is the batch's own partial
    * histogram; the standing table, the PSI grid, and the appended metrics
    * are all bounded |groups|·|bins| — identical arithmetic to the batch
    * operator via the shared [[graft.operators.ScaleOps.psiFromCounts]]
    * tail (integer micro-unit terms, fold-order-free). */
  def driftMonitorSink(events: DataFrame, groupCol: String, binCol: Column,
      countsDir: String, metricsDir: String, checkpointDir: String,
      smoothing: Long = 1L, crashBeforeAppendOn: Option[Long] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // one PSI generation over the CURRENT standing counts (bounded;
    // persisted because the grid consumes it three times) — shared by the
    // normal applied path and the replay-repair path below
    def appendGeneration(spark: SparkSession, batchId: Long): Unit = {
      val merged = graft.core.CacheScope.persist(
        spark.read.parquet(countsDir))
      graft.operators.ScaleOps.psiFromCounts(merged, smoothing)
        .withColumn("batch_id", lit(batchId))
        // the conventional gates, pre-derived so a consumer filters on
        // flag != 'ok' without re-encoding the thresholds
        .withColumn("flag",
          when(col("psi_micro") >= 250000L, "major")
            .when(col("psi_micro") >= 100000L, "moderate")
            .otherwise("ok"))
        .write.mode("append").parquet(metricsDir)
      graft.core.CacheScope.drain()
    }
    events.writeStream
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val applied = mergeSwap(spark, countsDir, batchId) { current =>
          val delta = batch
            .select(col(groupCol).as("g"), binCol.cast("long").as("bin"))
            .groupBy(col("g"), col("bin")).agg(count(lit(1)).as("c"))
          current match {
            case Some(cur) =>
              cur.select(col("g"), col("bin"), col("c"))
                .unionByName(delta)
                .groupBy(col("g"), col("bin")).agg(sum(col("c")).as("c"))
            case None => delta
          }
        }
        // One PSI generation per LOGICAL batch, effectively-once:
        //  - applied (first successful run of this batchId): append it.
        //  - replayed (marker says the merge already landed): a crash
        //    between the counts swap and the metrics append is the one
        //    window where the generation would otherwise be lost FOREVER
        //    (the counts can never again be "as of batch N" once N+1
        //    merges). foreachBatch replay only ever re-runs the LAST
        //    uncommitted batch, so on replay marker == batchId iff the
        //    standing counts are exactly this batch's merge state — the
        //    generation is recomputable, and appended iff absent. A
        //    replay that finds its generation already present (crash
        //    after the append, before the checkpoint commit) writes
        //    nothing, so a consumer never sees a (batch_id, group) row
        //    twice.
        if (applied) {
          // test-only fault lever for the recovery gate: die in exactly
          // the merge-landed/append-missing window (q223); the replay
          // takes the repair branch because the marker already moved
          crashBeforeAppendOn.filter(_ == batchId).foreach { b =>
            throw new IllegalStateException(
              s"injected crash after counts merge, before PSI append " +
                s"(batch $b)")
          }
          appendGeneration(spark, batchId)
        } else {
          val marker = new java.io.File(countsDir, "_last_batch")
          val countsAreThisBatch = marker.exists() &&
            java.nio.file.Files.readString(marker.toPath).trim.toLong == batchId
          val generationMissing = countsAreThisBatch && {
            val m = new java.io.File(metricsDir)
            !m.exists() || spark.read.parquet(metricsDir)
              .where(col("batch_id") === batchId).isEmpty
          }
          if (generationMissing) appendGeneration(spark, batchId)
        }
        ()
      }
      .start()
  }

  /** Streaming corpus ingestion with incremental near-dup suppression —
    * the streaming composition of [[graft.operators.Dedup
    * .minhashCandidatesIncremental]] with the effectively-once swap sink:
    * each micro-batch of (doc_id, text) pairs ONLY against the standing
    * corpus table and itself (corpus × corpus is never re-paired), drops a
    * batch doc whose estimated Jaccard reaches `minJaccard` against any
    * corpus doc or any smaller-id batch doc, and publishes corpus ∪
    * survivors atomically. Replayed batches are skipped by the in-table
    * marker, so a doc admitted once is never re-judged (and batch/corpus
    * ids must be globally unique — the dedup identity key).
    *
    * Scale shape: per-batch cost is |batch| signatures + a band join
    * against the corpus index — the warehouse form keeps the band table as
    * its own appended parquet alongside the corpus rather than re-banding
    * per batch; the swap becomes a transactional-table commit. */
  def corpusIngestSink(docs: DataFrame, tableDir: String,
      checkpointDir: String, minJaccard: Double = 0.8,
      shingleSize: Int = 3, numHashes: Int = 32, bands: Int = 16,
      metricsDir: Option[String] = None,
      minQuality: Option[Double] = None,
      blockedPatterns: Seq[String] = Nil)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    docs.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        admitBatch(batch, batchId, tableDir, minJaccard, metricsDir,
            minQuality, blockedPatterns) { (corpus, b) =>
          graft.operators.Dedup.minhashCandidatesIncremental(
            corpus, b, "doc_id", "text", shingleSize, numHashes, bands)
        }
      }
      .start()
  }

  /** [[corpusIngestSink]] with the STANDING dedup index in the loop — the
    * composed production form of the whole round-16/17 amortization
    * program: per ingest batch, the corpus is never re-shingled or
    * re-signed. The standing bucketed sig/band index
    * ([[graft.operators.Dedup.buildDedupIndex]], table names derived from
    * `tableDir`) is built once per (session, corpus); each batch
    *  1. probes it ([[graft.operators.Dedup
    *     .minhashCandidatesIndexedTables]] — batch-grain work only),
    *  2. admits survivors through the same drop semantics as
    *     [[corpusIngestSink]] (pair touches corpus → batch side drops;
    *     both-new pair → greater id drops),
    *  3. swaps the corpus table ([[mergeSwap]], effectively-once), and
    *  4. APPENDS the admitted docs' sigs/bands to the index
    *     ([[graft.operators.Dedup.indexAppend]], O(batch), tagged by
    *     batchId) so the NEXT batch dedups against them.
    * Same quality/blocklist gates, same metrics rows, same output as the
    * unindexed sink (property-gated in EventStreamsSpec and by the q226
    * driver row).
    *
    * Crash consistency: the corpus table is the source of truth. A
    * replayed batch whose merge already landed (marker == batchId) may
    * have died anywhere between the swap and the end of the index append
    * — the index could be missing the batch's generation or be torn
    * mid-append — so the replay branch DROPS the index and lets the next
    * probe rebuild it from the standing corpus
    * ([[graft.operators.Dedup.dropDedupIndex]]; O(corpus) once, on the
    * rare crash-replay path only). A whole-JVM death loses the
    * session-scoped index tables entirely and the same rebuild runs on
    * resume — consistent by construction. */
  def corpusIngestSinkIndexed(docs: DataFrame, tableDir: String,
      checkpointDir: String, minJaccard: Double = 0.8,
      shingleSize: Int = 3, numHashes: Int = 32, bands: Int = 16,
      metricsDir: Option[String] = None,
      minQuality: Option[Double] = None,
      blockedPatterns: Seq[String] = Nil, buckets: Int = 32,
      foldEvery: Int = 8)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val sigT = graft.operators.ScaleOps
      .bucketTableName("graft_bkt_ingsig", tableDir)
    val bandT = graft.operators.ScaleOps
      .bucketTableName("graft_bkt_ingband", tableDir)
    docs.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // replay repair: if THIS batch's merge already landed, the crash
        // window includes the index append — drop the index now; the
        // mergeSwap below will skip the merge (marker) and the next
        // batch's probe rebuilds the index from the post-swap corpus
        val marker = new java.io.File(tableDir, "_last_batch")
        if (marker.exists() &&
            java.nio.file.Files.readString(marker.toPath).trim.toLong
              == batchId)
          graft.operators.Dedup.dropDedupIndex(batch.sparkSession, sigT, bandT)
        admitBatch(batch, batchId, tableDir, minJaccard, metricsDir,
            minQuality, blockedPatterns,
            // LINEAGE-TRUNCATED before the swap (localCheckpoint, eager):
            // the survivors' plan reads the pre-swap corpus dir, and the
            // post-swap indexAppend below must see these exact rows — a
            // plain persist is not enough (the append's write re-analyzes
            // the plan, and a cache miss would re-derive over the
            // already-swapped table: observed as FILE_NOT_EXIST).
            // Checkpoint blocks bypass the CacheManager; ContextCleaner
            // frees them when the batch's reference drops.
            seal = _.localCheckpoint(true),
            // O(batch) index maintenance: the admitted docs join the index
            // so the NEXT batch's probe sees them; idempotent per batchId.
            // LEVELED (round-17 verdict item 3): the batch lands in plain
            // L0 side tables — no per-batch fan-out of `buckets` files per
            // table, no bucket-spec shuffle — and every foldEvery-th batch
            // folds L0 into the main bucketed level (O(corpus) IO at a
            // cadence the caller chooses, decoupled from batch cadence).
            // The probe reads main ∪ L0 automatically between folds.
            onApplied = keep => graft.operators.Dedup.indexAppendLeveled(
              keep, "doc_id", "text", shingleSize, numHashes, bands, sigT,
              bandT, batchTag = batchId.toString, foldEvery = foldEvery)) {
          (corpus, b) =>
            // once per (session, corpus): pays the index build; every
            // later batch in the session skips straight to the bucketed
            // scans
            graft.operators.Dedup.buildDedupIndex(corpus, "doc_id", "text",
              shingleSize, numHashes, bands, sigT, bandT, buckets)
            graft.operators.Dedup.minhashCandidatesIndexedTables(
              b, "doc_id", "text", shingleSize, numHashes, bands, sigT, bandT)
        }
      }
      .start()
  }

  /** One micro-batch of an ingest sink: the admission step both
    * [[corpusIngestSink]] and [[corpusIngestSinkIndexed]] run. They differ
    * only in `candidates(corpus, gated)`, which returns the batch's
    * canonical (id_a < id_b) pairs with `est_jaccard`, against the
    * standing corpus and within the batch.
    *
    *  1. Row gates first (per-row, codegen'd, no shuffle): the quality
    *     floor, then the blocklist — the same fused Aho–Corasick pass as
    *     the batch pipeline, one text scan per doc regardless of list
    *     size. Junk never reaches the dedup join, exactly like
    *     CurationJob's stage order; gated docs count as suppressed.
    *  2. The drop set: a pair that touches the corpus drops its batch
    *     side; a both-new pair drops the greater id (id_b).
    *  3. The survivors, passed through `seal`, are swapped into the corpus
    *     by [[mergeSwap]] (effectively-once). When the merge lands,
    *     `onApplied` gets the survivors, then the batch's crawl-health
    *     metrics row is appended.
    *
    * The metrics are at-MOST-once observability: a replayed batch writes
    * none (no double counting), and a crash between the swap and the
    * append loses the row; the table itself stays effectively-once. */
  private def admitBatch(batch: DataFrame, batchId: Long, tableDir: String,
      minJaccard: Double, metricsDir: Option[String],
      minQuality: Option[Double], blockedPatterns: Seq[String],
      seal: DataFrame => DataFrame = identity,
      onApplied: DataFrame => Unit = _ => ())(
      candidates: (DataFrame, DataFrame) => DataFrame): Unit = {
    val spark = batch.sparkSession
    val b0 = minQuality.foldLeft(batch.select(col("doc_id"), col("text"))) {
      (d, floor) => d.where(
        graft.operators.TextAnalysis.qualityScore(col("text")) >= floor)
    }
    val b =
      if (blockedPatterns.isEmpty) b0
      else b0.where(graft.functions.PolicyHits(col("text"), blockedPatterns)
        .getField("n_hits") === 0L)
    // mirrors mergeSwap's crash recovery: a mid-swap death leaves the
    // table in `_old`, and counting an absent dir as 0 would corrupt the
    // metrics row for the batch that restores it
    val sizeBefore = if (metricsDir.isEmpty) 0L else {
      val d = new java.io.File(tableDir)
      val bkp = new java.io.File(s"${tableDir}_old")
      if (d.exists()) spark.read.parquet(tableDir).count()
      else if (bkp.exists()) spark.read.parquet(bkp.getPath).count()
      else 0L
    }
    // survivors of THIS batch, captured from inside the merge closure
    // (runs at most once) for the post-swap `onApplied`
    var admitted: Option[DataFrame] = None
    val applied = mergeSwap(spark, tableDir, batchId) { current =>
      val corpus = current.map(_.select(col("doc_id"), col("text")))
        .getOrElse(b.limit(0))
      val cand = candidates(corpus, b).where(col("est_jaccard") >= minJaccard)
      val oldIds = corpus.select("doc_id")
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
      val dropped = dropVsOldA.union(dropVsOldB).union(dropNewNew).distinct()
      val keep = seal(b.join(dropped, Seq("doc_id"), "left_anti"))
      admitted = Some(keep)
      corpus.unionByName(keep)
    }
    if (applied) {
      admitted.foreach(onApplied)
      metricsDir.foreach { mDir =>
        val sizeAfter = spark.read.parquet(tableDir).count()
        val nBatch = batch.count() // pre-gate: gated docs count as suppressed
        val nAdmitted = sizeAfter - sizeBefore
        import spark.implicits._
        Seq((batchId, nBatch, nAdmitted, nBatch - nAdmitted, sizeAfter))
          .toDF("batch_id", "n_batch", "n_admitted", "n_suppressed",
            "corpus_size")
          .write.mode("append").parquet(mDir)
      }
    }
    // the candidate generators persist their signature tables through
    // CacheScope — the sink owns this batch's scope, release it now
    graft.core.CacheScope.drain()
  }

  /** Driver-gate harness for [[corpusIngestSinkIndexed]]: feeds the
    * documents in `nSlices` batches (doc_id % nSlices, ascending), one
    * AvailableNow query per slice against the same checkpoint — the
    * production shape: a scheduled ingest tick per crawl drop, each run
    * recovering offsets from the checkpoint, the standing dedup index
    * carried across ticks and APPENDED per admitted batch (never a corpus
    * recompute). Returns the final corpus ids; the oracle models the
    * greedy batch-sequential admission in SQL, so a wrong drop set, a
    * stale index (missing append), or a lost batch all diverge. Runs in
    * the gates' [[withGateScope]].
    *
    * `buckets` is the GATE's index width, defaulted narrow (4): what this
    * gate verifies is the lifecycle contract (build → probe → admit →
    * swap → append → next-tick probe, crash-repair on replay), and the
    * admission output is invariant to the bucket count — it is a layout
    * parameter, not a semantics one (same invariance ensureBucketed's spec
    * check enforces). At 32 buckets the gate paid 3 ticks × 2 tables ×
    * 32-file appends plus 32-task bucketed scans under shuffle
    * partitions pinned to 2 — pure harness fixed cost (18.9 s of the r17
    * driver bench, the heaviest row); production callers keep
    * [[corpusIngestSinkIndexed]]'s 32-bucket default, where the width is
    * paid once per corpus and amortized over every batch. */
  def corpusIngestReplayIndexed(spark: SparkSession, docs: DataFrame,
      nSlices: Int = 3, minJaccard: Double = 0.8,
      buckets: Int = 4): DataFrame = {
    require(nSlices >= 1, "need >= 1 slices")
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = docs.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect()
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    withGateScope(spark, "ingest_gate") { base =>
      val corpusDir = new java.io.File(base, "corpus").getAbsolutePath
      val ckptDir = new java.io.File(base, "ckpt").getAbsolutePath
      try {
        (0 until nSlices).foreach { k =>
          in.addData(rows.filter(_._1 % nSlices == k).toSeq: _*)
          val q = corpusIngestSinkIndexed(
            in.toDF().toDF("doc_id", "text"), corpusDir, ckptDir,
            minJaccard = minJaccard, buckets = buckets)
          q.awaitTermination()
        }
        val ids: Seq[Long] =
          if (!new java.io.File(corpusDir).exists()) Seq.empty
          else spark.read.parquet(corpusDir).select("doc_id")
            .collect().map(_.getLong(0)).toSeq
        ids.toDF("doc_id")
      } finally {
        // the index is a session-scoped cache over this gate's temp
        // corpus; drop it — on a failed slice too — so a repeated gate
        // run (bench passes, verify re-runs) rebuilds against ITS OWN
        // fresh temp corpus instead of probing a stale index keyed by a
        // dead temp path
        graft.operators.Dedup.dropDedupIndex(spark,
          graft.operators.ScaleOps.bucketTableName("graft_bkt_ingsig",
            corpusDir),
          graft.operators.ScaleOps.bucketTableName("graft_bkt_ingband",
            corpusDir))
      }
    }
  }

  /** Shared effectively-once parquet-swap harness for foreachBatch sinks:
    * crash-restore, replayed-batch skip via the in-table `_last_batch`
    * marker, write-new-then-swap publication. `merge` maps the current
    * table (None before the first batch) to its full replacement; the
    * helper MATERIALIZES the replacement before touching the current dir.
    *
    * Failure semantics (lifted verbatim from the original runningAggSink):
    * foreachBatch alone is AT-LEAST-once — a batch whose swap landed but
    * whose checkpoint commit didn't is REPLAYED on restart, and re-merging
    * would double-apply it. The marker is underscore-prefixed (parquet
    * readers skip it) and travels with the swap, so table and marker
    * commit together; replayed batchIds are skipped. The table and its
    * checkpoint form a unit: restarting with a fresh checkpoint against an
    * existing table restarts batch numbering and is undefined. Single
    * writer; both renames are checked, and a failed swap throws so the
    * batch retries rather than silently dropping the merge. */
  private def mergeSwap(spark: SparkSession, tableDir: String, batchId: Long)
      (merge: Option[DataFrame] => DataFrame): Boolean = {
    val dir = new java.io.File(tableDir)
    val backup = new java.io.File(s"${tableDir}_old")
    // Crash recovery FIRST: a death between the swap's two renames leaves
    // the table dir absent and `_old` holding the ENTIRE accumulated
    // history. Restore it before reading the marker — otherwise lastMerged
    // resets to -1 and the replayed batch rebuilds the table from its own
    // delta alone (and an unconditional stale-backup delete would have
    // destroyed the only surviving copy). The marker travels inside the
    // dir, so the restore brings the correct lastMerged with it.
    if (!dir.exists() && backup.exists() && !backup.renameTo(dir))
      throw new IllegalStateException(
        s"cannot restore crash backup $backup to $tableDir")
    val marker = new java.io.File(dir, "_last_batch")
    val lastMerged =
      if (marker.exists()) java.nio.file.Files.readString(marker.toPath).trim.toLong
      else -1L
    if (batchId > lastMerged) {
      val merged = merge(
        if (dir.exists()) Some(spark.read.parquet(tableDir)) else None)
      // write-new-then-swap; the marker is written into the NEW table
      // before the swap so it becomes visible atomically with the data
      val tmp = new java.io.File(s"${tableDir}_b$batchId")
      deleteRecursively(tmp)
      merged.write.mode("overwrite").parquet(tmp.getPath)
      java.nio.file.Files.writeString(
        new java.io.File(tmp, "_last_batch").toPath, batchId.toString)
      // any backup still present here is a post-swap leftover (the table
      // dir exists — the dangerous absent-table case was restored at
      // batch start), so deleting it is safe
      deleteRecursively(backup)
      if (dir.exists() && !dir.renameTo(backup))
        throw new IllegalStateException(s"cannot move $tableDir aside")
      if (!tmp.renameTo(dir)) {
        backup.renameTo(dir) // restore, then fail the batch for retry
        throw new IllegalStateException(s"cannot publish $tmp to $tableDir")
      }
      deleteRecursively(backup) // only after a fully successful swap
      true
    } else false // replayed batch: the marker says this merge already landed
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  final case class UserTotal(user_id: Long, n_events: Long, total_value: Double)

  /** Spark 4 `transformWithState` processor: per-user running totals in a
    * single ValueState cell. The new arbitrary-state API over
    * `flatMapGroupsWithState` (see [[statefulSessions]] for the classic one):
    * typed state handles, composable state variables, native TTL, and it
    * REQUIRES the RocksDB state-store provider — which is also the right
    * provider at scale (state spills off-heap instead of living on the
    * executor heap like the default HDFS-backed provider). */
  class RunningTotalProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, UserTotal] {
    @transient private var totals: org.apache.spark.sql.streaming.ValueState[UserTotal] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      totals = getHandle.getValueState[UserTotal]("totals",
        Encoders.product[UserTotal],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[UserTotal] = {
      var cur = Option(totals.get()).getOrElse(UserTotal(key, 0L, 0.0))
      rows.foreach(e => cur = UserTotal(key, cur.n_events + 1, cur.total_value + e.value))
      totals.update(cur)
      Iterator.single(cur)
    }
  }

  /** Per-user running (count, total) via `transformWithState` — one updated
    * row per user per micro-batch. Needs the RocksDB state-store provider
    * on the session (the API rejects the default provider). */
  def runningTotals(events: Dataset[Event]): Dataset[UserTotal] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RunningTotalProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  final case class UserTotalMicro(user_id: Long, n_events: Long,
      total_micro: Long)

  /** [[RunningTotalProcessor]]'s ENGINE-PORTABLE twin: the running value
    * total accumulates in integer MICRO-UNITS (`floor(v·10⁶ + 0.5)` per
    * event — the repo-wide exact-sum contract), so the cumulative total
    * is independent of fold order and a SQL oracle reproduces it
    * bit-for-bit. The double-summing original stays for dashboards; this
    * one exists so `transformWithState` can sit under the driver gate. */
  class RunningTotalMicroProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, UserTotalMicro] {
    @transient private var totals: org.apache.spark.sql.streaming.ValueState[UserTotalMicro] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      totals = getHandle.getValueState[UserTotalMicro]("totals",
        Encoders.product[UserTotalMicro],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[UserTotalMicro] = {
      var cur = Option(totals.get()).getOrElse(UserTotalMicro(key, 0L, 0L))
      rows.foreach(e => cur = UserTotalMicro(key, cur.n_events + 1,
        cur.total_micro + math.floor(e.value * 1e6 + 0.5).toLong))
      totals.update(cur)
      Iterator.single(cur)
    }
  }

  /** Micro-unit running totals via `transformWithState` (RocksDB store
    * required — set the provider on the session or use
    * [[runningTotalsReplay]], which scopes it). */
  def runningTotalsMicro(events: Dataset[Event]): Dataset[UserTotalMicro] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RunningTotalMicroProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** Driver-gate replay for `transformWithState` + the RocksDB state
    * store — the one streaming API family q202's recipe had not yet
    * covered: [[runningTotalsMicro]] through the in-order global time
    * slices, Update output mode, so the memory sink holds ONE cumulative
    * (n_events, total_micro) row per user per ACTIVE slice. Integer
    * micro-unit totals make the accumulation fold-order-free, so the
    * oracle replays it exactly: per (user, slice-with-events), the
    * running count and micro-sum in slice order — the slice assignment
    * `(ms − lo) / max(1, (hi − lo)/n + 1)` is integer arithmetic the
    * oracle reproduces verbatim. The RocksDB provider (required by the
    * API, and the right provider at scale — state off-heap) is set for
    * this query and restored after ([[replayGate]]). */
  def runningTotalsReplay(spark: SparkSession, events: DataFrame,
      nBatches: Int = 3): DataFrame =
    replayGate(spark, events, nBatches, "running_totals", rocksDb = true,
        outputMode = "update")((in, _) => runningTotalsMicro(in).toDF())
      .select(col("user_id"), col("n_events"), col("total_micro"))

  /** CRASH-RECOVERY twin of [[runningTotalsReplay]]: same per-user
    * running-total state machine, but the query is STOPPED after
    * `killAfter` of the `nBatches` time slices and a NEW query resumes
    * from the same checkpoint directory for the remaining slices — the
    * stop → restart-from-checkpoint contract the RocksDB state store and
    * the file sink's transactional metadata log exist for. If state
    * recovery were lossy, every user's running (count, micro-sum) would
    * reset mid-stream and the output would diverge from the batch oracle,
    * which models one uninterrupted replay: recovery correctness IS the
    * row's pass condition. The memory sink cannot restart from a
    * checkpoint, so this gate writes through the exactly-once parquet
    * file sink (committed batches are never re-emitted on restart) and
    * reads the result back through its metadata log. */
  def runningTotalsRestartReplay(spark: SparkSession, events: DataFrame,
      nBatches: Int = 4, killAfter: Int = 2): DataFrame =
    replayGate(spark, events, nBatches, "running_totals_restart",
        rocksDb = true, killAfter = Some(killAfter)) { (in, _) =>
      import spark.implicits._
      in.groupByKey(_.user_id)
        .transformWithState(new RunningTotalMicroProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(),
          OutputMode.Append())
        .toDF()
    }.select(col("user_id"), col("n_events"), col("total_micro"))

  /** [[funnelReplay]] across a kill-and-resume ([[replayGate]] with
    * `killAfter`): the flatMapGroupsWithState + default-state-provider
    * recovery twin of [[runningTotalsRestartReplay]] (which gates
    * transformWithState + RocksDB — a DIFFERENT state machinery under the
    * same checkpoint contract). A user mid-funnel at the restart must
    * resume from the recovered stage and a completed user must stay
    * terminal — state loss would re-walk from stage 0 and emit duplicate
    * advances; the oracle models one uninterrupted greedy walk, so any
    * divergence fails the row. */
  def funnelRestartReplay(spark: SparkSession, events: DataFrame,
      steps: Seq[String], nBatches: Int = 4, killAfter: Int = 2): DataFrame =
    replayGate(spark, events, nBatches, "funnel_restart",
        killAfter = Some(killAfter))((in, _) => funnelAdvances(in, steps).toDF())
      .select(col("user_id"), col("stage").cast("long").as("stage"),
        col("stage_name"), unix_micros(col("ts")).as("ts_us"))

  /** [[lastTouchReplayOrdered]] ACROSS A KILL-AND-RESUME — the hardest
    * recovery case of the watermark-ordered family (round-15 verdict item
    * 4): the disordered round-robin feed buffers rows in state awaiting
    * the watermark (delay = full span, so during the data slices NOTHING
    * has finalized — every fed row is in the per-user pending buffer),
    * and the query is killed exactly there. The resumed query must
    * recover the buffers, the restored watermark, AND the event-time
    * timers from the checkpoint, then replay everything in event-time
    * order when the sentinels flush — lost buffers would silently drop
    * attributions, a re-emitted batch would double them. RocksDB provider
    * (the matrix cell q215/q217 leave open: flatMapGroupsWithState +
    * EventTimeTimeout + RocksDB under restart). Oracle: the batch
    * last-touch walk — one uninterrupted replay, restart-invisible. */
  def lastTouchRestartReplayOrdered(spark: SparkSession, events: DataFrame,
      touchTypes: Seq[String], convType: String,
      nSlices: Int = 4, killAfter: Int = 2): DataFrame =
    replayGate(spark, events, nSlices, "last_touch_ordered_restart",
        disordered = true, rocksDb = true, killAfter = Some(killAfter))(
      (in, delay) => lastTouchAdvancesOrdered(in, touchTypes, convType,
        delay).toDF())
      .select(col("user_id"), col("channel"), col("value"),
        unix_micros(col("ts")).as("ts_us"))

  /** [[driftMonitorSink]] through a crash in its HARDEST window: the
    * injected kill lands on slice `crashOnSlice` AFTER the counts
    * merge-swap has been published but BEFORE the PSI generation appends —
    * the one crash point where the applied-flag alone (round-10 fix)
    * would lose the generation forever (once batch N+1 merges, the
    * standing counts can never again be "as of batch N"). The sink's
    * AvailableNow trigger makes each fed slice ([[timeSlices]]) one
    * checkpointed micro-batch — the production shape: a scheduled ingest
    * tick per arrival, each run recovering offsets from the checkpoint.
    * The resumed run replays the crashed batch, finds marker == batchId
    * with the generation absent, and repairs the append, so the metrics
    * stream stays effectively-once through the kill. Returns every
    * (batch_id, g, psi_micro, flag) generation; the oracle models the
    * uninterrupted replay — a lost generation (missing batch_id) or a
    * doubled one diverges. Runs in the gates' [[withGateScope]]. */
  def driftMonitorRestartReplay(spark: SparkSession, events: DataFrame,
      groupCol: String, binCol: Column, nSlices: Int = 4,
      crashOnSlice: Int = 2, smoothing: Long = 1L): DataFrame = {
    require(nSlices >= 2, "need >= 2 slices")
    require(crashOnSlice >= 0 && crashOnSlice < nSlices,
      "the crashed slice must be one of the fed slices")
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val slices = timeSlices(gateEvents(spark, events), nSlices)
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Event]
    val schema = StructType(Seq(StructField("batch_id", LongType),
      StructField("g", in.toDF().select(col(groupCol)).schema.head.dataType),
      StructField("psi_micro", LongType), StructField("flag", StringType)))
    withGateScope(spark, "drift_restart") { base =>
      val countsDir = new java.io.File(base, "counts").getAbsolutePath
      val metricsDir = new java.io.File(base, "metrics").getAbsolutePath
      val ckptDir = new java.io.File(base, "ckpt").getAbsolutePath
      // one AvailableNow run = one micro-batch of everything fed since
      // the last run; only the deliberately-crashed run may swallow the
      // injected failure — a genuine error elsewhere must propagate
      def runOnce(crashOn: Option[Long]): Unit = {
        val q = driftMonitorSink(in.toDF(), groupCol, binCol,
          countsDir, metricsDir, ckptDir, smoothing, crashOn)
        try q.awaitTermination()
        catch {
          case _: org.apache.spark.sql.streaming.StreamingQueryException
              if crashOn.isDefined => ()
        }
        finally if (q.isActive) q.stop()
      }
      slices.zipWithIndex.foreach { case (s, i) =>
        in.addData(s: _*)
        if (i == crashOnSlice) {
          runOnce(Some(i.toLong)) // dies merge-landed, append-missing
          runOnce(None)           // resume: replay + repair
        } else runOnce(None)
      }
      readBackEagerly(spark, metricsDir, schema)
    }
  }

  final case class FunnelAdvance(user_id: Long, stage: Int, stage_name: String,
      ts: Timestamp)

  /** Per-user funnel position (top-level for the state encoder's codegen). */
  final case class FunnelState(stage: Int)

  /** Streaming funnel tracker — the live twin of
    * `graft.operators.EventOps.funnelSteps`: per user, ONE Int of state (the
    * current stage index), advanced greedily as stage events arrive; each
    * advance emits a (user, stage, ts) record immediately, so dashboards see
    * conversions at event latency instead of at batch-recompute cadence.
    * Completed users KEEP a terminal state row (stage = |steps|): dropping
    * it would make the next batch's events restart the funnel from stage 0
    * — a repeat-conversion semantic the batch twin doesn't have (caught by
    * the q202 driver gate). State is one Int per user that ever entered the
    * funnel — bounded by users, not by event volume; add a state timeout
    * upstream if completed users must eventually evict.
    *
    * Ordering contract: rows are time-sorted WITHIN each micro-batch, so the
    * walk is exactly the batch operator's greedy time-order walk whenever
    * event disorder is bounded by the batch interval. An earlier-timestamped
    * stage event that surfaces only AFTER a later one already advanced the
    * funnel counts at arrival (the stream cannot retro-reorder committed
    * advances) — the standard at-arrival funnel semantic; run the batch twin
    * for the retrospective exact answer. */
  def funnelAdvances(events: Dataset[Event],
      steps: Seq[String]): Dataset[FunnelAdvance] = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val spark = events.sparkSession
    import spark.implicits._
    val stepArr = steps.toArray

    def update(userId: Long, rows: Iterator[Event],
        state: GroupState[FunnelState]): Iterator[FunnelAdvance] = {
      var stage = state.getOption.map(_.stage).getOrElse(0)
      val out = List.newBuilder[FunnelAdvance]
      rows.toSeq.sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id)).foreach { e =>
        if (stage < stepArr.length && e.event_type == stepArr(stage)) {
          stage += 1
          out += FunnelAdvance(userId, stage, stepArr(stage - 1), e.ts)
        }
      }
      state.update(FunnelState(stage)) // terminal stage kept: no restart
      out.result().iterator
    }

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(update)
  }

  /** Deterministic micro-batch REPLAY of [[funnelAdvances]] — the
    * driver-gate harness that turns the streaming funnel into an
    * oracle-checkable batch frame: the events are cut into `nBatches`
    * GLOBAL TIME slices (so every user's rows arrive in time order across
    * micro-batches), fed through a MemoryStream with a
    * processAllAvailable barrier per slice, and the committed advances
    * come back as (user_id, stage, stage_name, ts_us). Because the feed
    * is in-order, the at-arrival stream walk equals the batch-greedy
    * funnel walk EXACTLY, so a SQL oracle can replay it row-for-row —
    * while the run still exercises the real streaming machinery:
    * flatMapGroupsWithState, cross-batch state carry, completed-user
    * state drop.
    *
    * This is a TEST-HARNESS shape ([[replayGate]]), not a production
    * plan: MemoryStream is driver-fed by contract, so the events are
    * collected to the driver (bounded by the caller's pre-filter — the
    * catalog row feeds a fixed user slice). Production streams read
    * files/queues executor-side via [[readEvents]]. */
  def funnelReplay(spark: SparkSession, events: DataFrame,
      steps: Seq[String], nBatches: Int = 3): DataFrame =
    replayGate(spark, events, nBatches, "funnel_replay")((in, _) =>
      funnelAdvances(in, steps).toDF())
      .select(col("user_id"), col("stage").cast("long").as("stage"),
        col("stage_name"), unix_micros(col("ts")).as("ts_us"))

  /** [[funnelReplay]]'s recipe for [[lastTouchAdvances]]: global time
    * slices keep every user's rows in order across micro-batches, so the
    * at-arrival stream credits equal the retrospective batch attribution
    * exactly and a SQL oracle can replay them — for each conversion, the
    * channel of the latest touch strictly before it in (ts, event_id)
    * order, "direct" when none. Exercises cross-batch carry of the
    * one-string TouchState (a touch in batch 1 must credit a conversion
    * in batch 3). Same documented test-harness bound as funnelReplay:
    * MemoryStream is driver-fed by contract; production is [[readEvents]]. */
  def lastTouchReplay(spark: SparkSession, events: DataFrame,
      touchTypes: Seq[String], convType: String,
      nBatches: Int = 3): DataFrame =
    replayGate(spark, events, nBatches, "last_touch_replay")((in, _) =>
      lastTouchAdvances(in, touchTypes, convType).toDF())
      .select(col("user_id"), col("channel"), col("value"),
        unix_micros(col("ts")).as("ts_us"))

  /** [[funnelReplay]]'s recipe for [[linearAdvances]] — the per-batch
    * MERGE state twin (the distinct-touch SET unions across batches where
    * last-touch swaps one string): each conversion emits value/|set| per
    * participating channel, and the in-order feed makes the split sets
    * equal the batch operator's, so the oracle can re-derive every credit
    * row (channel set = distinct touches event-time-before the
    * conversion). */
  def linearReplay(spark: SparkSession, events: DataFrame,
      touchTypes: Seq[String], convType: String,
      nBatches: Int = 3): DataFrame =
    replayGate(spark, events, nBatches, "linear_replay")((in, _) =>
      linearAdvances(in, touchTypes, convType).toDF())
      .select(col("user_id"), col("channel"), col("value"),
        unix_micros(col("ts")).as("ts_us"))

  /** Driver-gate replay for the WATERMARK-ORDERED attribution family —
    * the feed [[funnelReplay]] cannot provide: instead of in-order time
    * slices, events are cut round-robin by `event_id % nSlices`
    * ([[replayGate]]'s disordered feed), so every micro-batch carries rows
    * from the WHOLE time range and the at-arrival twins would mis-credit.
    * [[lastTouchAdvancesOrdered]] buffers rows in state until the
    * watermark passes them, then replays in full event-time order — so
    * its output under this deliberately disordered feed still equals the
    * batch attribution exactly, which is precisely the parity contract
    * its scaladoc pins and what this gate proves end-to-end
    * (EventTimeTimeout wake, buffer carry, in-horizon replay). */
  def lastTouchReplayOrdered(spark: SparkSession, events: DataFrame,
      touchTypes: Seq[String], convType: String,
      nSlices: Int = 3): DataFrame =
    replayGate(spark, events, nSlices, "last_touch_ordered",
        disordered = true)(
      (in, delay) => lastTouchAdvancesOrdered(in, touchTypes, convType,
        delay).toDF())
      .select(col("user_id"), col("channel"), col("value"),
        unix_micros(col("ts")).as("ts_us"))

  /** [[lastTouchReplayOrdered]] for the linear (equal-split) ordered
    * variant: the merged distinct-touch SET must come out identical to
    * the batch walk even though the touches arrive out of order across
    * micro-batches. */
  def linearReplayOrdered(spark: SparkSession, events: DataFrame,
      touchTypes: Seq[String], convType: String,
      nSlices: Int = 3): DataFrame =
    replayGate(spark, events, nSlices, "linear_ordered", disordered = true)(
      (in, delay) => linearAdvancesOrdered(in, touchTypes, convType,
        delay).toDF())
      .select(col("user_id"), col("channel"), col("value"),
        unix_micros(col("ts")).as("ts_us"))

  /** [[lastTouchReplayOrdered]]'s recipe for
    * [[transitionAdvancesOrdered]]: the live (prev_type → next_type)
    * adjacency feed under the disordered round-robin feed — a THIRD
    * state shape under the gate (one type string + the in-horizon
    * buffer, at transition grain, where q208 swaps a channel and q209
    * merges a set). The oracle is the batch lag-window adjacency:
    * parity under bounded disorder is the variant's contract. The
    * sentinel user is fresh, so it emits no transition rows. */
  def transitionReplayOrdered(spark: SparkSession, events: DataFrame,
      nSlices: Int = 3): DataFrame =
    replayGate(spark, events, nSlices, "transition_ordered",
        disordered = true)(
      (in, delay) => transitionAdvancesOrdered(in, delay).toDF())
      .select(col("user_id"), col("prev_type"), col("next_type"),
        unix_micros(col("ts")).as("ts_us"))

  private val replaySeq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** The one driver-gate replay harness behind every `*Replay*` gate above
    * (except the ingest and drift gates, which run one AvailableNow query
    * per slice in the same [[withGateScope]]): it turns a streaming state
    * machine, `build`, into an oracle-checkable batch frame.
    *
    *  - Feed. The (pre-filtered, bounded) events are collected
    *    driver-side — MemoryStream is driver-fed by contract — and cut into
    *    `nSlices` micro-batches, each fed behind a processAllAvailable
    *    barrier. In-time ([[timeSlices]]): every user's rows arrive in time
    *    order, so an at-arrival walk equals the batch walk. Disordered
    *    (round-robin by `event_id % nSlices`): every slice spans the whole
    *    time range, and `build` gets a watermark delay of the full event
    *    span + 60 s, so nothing finalizes during the data slices. TWO
    *    far-future sentinel feeds then flush — two because micro-batch N
    *    runs with the watermark computed from batch N−1's data, so the
    *    first raises it and the second fires the timers (EventTimeTimeout
    *    wakes users with no new rows). Each sentinel has its own fresh
    *    user, so even a finalized sentinel pairs with nothing.
    *  - Restart (`killAfter = Some(k)`). After k slices the query STOPS
    *    and a fresh query — same source, checkpoint and sink path —
    *    resumes for the rest (and the sentinels), recovering offsets, the
    *    sink log, state (every pending buffer), the watermark and the
    *    event-time timers from the checkpoint.
    *  - Read-back. Without a restart, the memory sink's table, returned
    *    lazily. With one, the exactly-once parquet file sink (the memory
    *    sink rejects checkpoint recovery by design), read back through its
    *    transactional `_spark_metadata` log — a batch whose files landed
    *    but whose commit didn't never double-reads — and eagerly
    *    ([[readBackEagerly]]), before the temp tree goes. */
  private def replayGate(spark: SparkSession, events: DataFrame,
      nSlices: Int, name: String, disordered: Boolean = false,
      rocksDb: Boolean = false, killAfter: Option[Int] = None,
      outputMode: String = "append")(
      build: (Dataset[Event], String) => DataFrame): DataFrame = {
    require(nSlices >= 1, "nSlices >= 1")
    killAfter.foreach { k =>
      require(nSlices >= 2, "need >= 2 slices to restart between them")
      require(k >= 1 && k < nSlices,
        "killAfter must leave slices on both sides of the restart")
    }
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = gateEvents(spark, events)
    val delayMs = 60000L + (if (rows.isEmpty) 0L
      else rows.map(_.ts.getTime).max - rows.map(_.ts.getTime).min)
    val delay = s"$delayMs milliseconds"
    val slices =
      if (!disordered) timeSlices(rows, nSlices)
      else rows.groupBy(_.event_id % nSlices).toSeq.sortBy(_._1).map(_._2)
    val sentinels =
      if (!disordered || rows.isEmpty) Seq.empty
      else (1 to 2).map(k => Seq(Event(-1L - k,
        new Timestamp(rows.map(_.ts.getTime).max + 2L * k * delayMs),
        rows.map(_.user_id).max + k, "__sentinel__", 0.0)))
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Event]
    withGateScope(spark, name, rocksDb) { base =>
      val table = s"${name}_${replaySeq.incrementAndGet()}"
      val outDir = new java.io.File(base, "out").getAbsolutePath
      def run(feed: Seq[Seq[Event]]): Unit = {
        val w = build(in.toDS(), delay).writeStream
          .option("checkpointLocation",
            new java.io.File(base, "ckpt").getAbsolutePath)
          .outputMode(outputMode)
        val q =
          if (killAfter.isEmpty) w.format("memory").queryName(table).start()
          else w.format("parquet").option("path", outDir).start()
        try feed.foreach { s => in.addData(s: _*); q.processAllAvailable() }
        finally q.stop()
      }
      killAfter match {
        case None =>
          run(slices ++ sentinels)
          spark.table(table)
        case Some(k) =>
          run(slices.take(k))
          run(slices.drop(k) ++ sentinels)
          readBackEagerly(spark, outDir, build(in.toDS(), delay).schema)
      }
    }
  }

  /** A gate's driver-side feed: the events as [[Event]]s. The collect is
    * the documented bounded class — gate slices are hundreds of rows. */
  private def gateEvents(spark: SparkSession, events: DataFrame): Seq[Event] = {
    import spark.implicits._
    events.select(col("event_id"), col("ts"), col("user_id"),
      col("event_type"), col("value")).as[Event].collect().toSeq
  }

  /** `n` equal global time cuts over the events' [lo, hi] ms range, each
    * in (ts, nanos, event_id) order — an in-order feed. An event's slice
    * is `(ms − lo) / max(1, (hi − lo)/n + 1)`, integer arithmetic the
    * oracles reproduce verbatim; empty cuts are skipped. */
  private def timeSlices(rows: Seq[Event], n: Int): Seq[Seq[Event]] =
    if (rows.isEmpty) Seq.empty
    else {
      val sorted = rows.sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
      val (lo, hi) = (sorted.head.ts.getTime, sorted.last.ts.getTime)
      val width = math.max(1L, (hi - lo) / n + 1L)
      sorted.groupBy(e => (e.ts.getTime - lo) / width).toSeq.sortBy(_._1)
        .map(_._2)
    }

  /** Runs a gate's `body` with the gate's session conf and a fresh temp
    * tree (for checkpoints and sinks), both undone in a `finally` whether
    * `body` returns or throws: each key regains its prior value, or is
    * unset again if it had none, and the tree is deleted — a failed gate
    * leaks neither a conf override into the session nor a checkpoint +
    * sink onto disk.
    *
    * Two shuffle partitions: a gate feeds a few hundred driver-side rows,
    * but every micro-batch barrier pays a fixed per-partition state-store
    * + shuffle-task floor — at the session's 32 partitions the gate rows
    * cost 2.6–7.6 s each of pure scheduling (≈33 s across the bench,
    * swamping real regressions). Two keep the machinery distributed
    * (state keyed across >1 store) at milliseconds of floor. `rocksDb`
    * adds the RocksDB state store, which transformWithState requires and
    * which keeps state off-heap at scale. The gates are synchronous, so
    * nothing else plans under the temporary values. */
  private def withGateScope[T](spark: SparkSession, name: String,
      rocksDb: Boolean = false)(body: java.io.File => T): T =
    withConf(spark, Map("spark.sql.shuffle.partitions" -> "2") ++
        Option.when(rocksDb)("spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")) {
      val base = java.nio.file.Files.createTempDirectory(s"graft_${name}_")
        .toFile
      try body(base) finally deleteRecursively(base)
    }

  /** Runs `body` with `overrides` set on the session, then restores every
    * overridden key — to its prior value, or unset if it had none — even
    * when `body` throws. */
  private def withConf[T](spark: SparkSession,
      overrides: Map[String, String])(body: => T): T = {
    val set = spark.conf.getAll // the explicitly set keys only
    val prior = overrides.keys.toSeq.map(k => k -> set.get(k))
    overrides.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Collects a gate's file-sink output before the temp tree holding it is
    * deleted. `schema` types the read: an empty feed writes no parquet
    * files, and schema inference over a fileless dir would throw where
    * "no rows" is the correct answer. Gate outputs are hundreds of rows. */
  private def readBackEagerly(spark: SparkSession, dir: String,
      schema: StructType): DataFrame = {
    val sunk: Seq[org.apache.spark.sql.Row] =
      if (!new java.io.File(dir).exists()) Seq.empty
      else spark.read.schema(schema).parquet(dir).collect().toSeq
    spark.createDataFrame(
      spark.sparkContext.parallelize(sunk, math.max(1, sunk.size min 2)),
      schema)
  }

  /** Per-user last-touch channel (top-level for the state encoder). */
  final case class TouchState(channel: String)

  /** Per-user distinct-touch set (bounded by |touchTypes|). */
  final case class TouchSetState(channels: Seq[String])

  /** One equal-split credit from a streaming linear attribution. */
  final case class SplitCredit(user_id: Long, channel: String,
      value: Double, ts: Timestamp)

  /** Streaming linear (equal-split) attribution — the live twin of
    * `graft.operators.EventOps.linearAttribution`: per user, the state is
    * the DISTINCT touch-channel set seen so far (bounded by |touchTypes|,
    * a handful of strings); each conversion emits one credit row per
    * participating channel, value / |channels| each ("direct" for the whole
    * value when the set is empty). Same at-arrival ordering contract as
    * [[lastTouchAdvances]]. */
  def linearAdvances(events: Dataset[Event], touchTypes: Seq[String],
      convType: String): Dataset[SplitCredit] = {
    require(touchTypes.nonEmpty, "touchTypes must be non-empty")
    require(!touchTypes.contains(convType),
      "the conversion type cannot also be a touch type")
    val spark = events.sparkSession
    import spark.implicits._
    val touches = touchTypes.toSet

    def update(userId: Long, rows: Iterator[Event],
        state: GroupState[TouchSetState]): Iterator[SplitCredit] = {
      var seen = state.getOption.map(_.channels.toSet).getOrElse(Set.empty)
      val out = List.newBuilder[SplitCredit]
      rows.toSeq.sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id)).foreach { e =>
        if (touches.contains(e.event_type)) seen += e.event_type
        else if (e.event_type == convType) {
          if (seen.isEmpty) out += SplitCredit(userId, "direct", e.value, e.ts)
          else seen.toSeq.sorted.foreach(ch =>
            out += SplitCredit(userId, ch, e.value / seen.size, e.ts))
        }
      }
      if (seen.nonEmpty) state.update(TouchSetState(seen.toSeq.sorted))
      out.result().iterator
    }

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(update)
  }

  /** One attributed conversion, emitted the moment it arrives. */
  final case class Attribution(user_id: Long, channel: String,
      value: Double, ts: Timestamp)

  /** Streaming last-touch attribution — the live twin of
    * `graft.operators.EventOps.lastTouchAttribution`: per user, ONE small
    * string of state (the most recent touch channel); each conversion event
    * emits an (user, channel, value, ts) credit immediately ("direct" when
    * no touch has been seen), so spend dashboards attribute at event latency
    * while the batch op remains the retrospective exact answer.
    *
    * State is bounded by active users (one channel name each), never by
    * event volume, and is hash-distributed across the state store by
    * user_id — the identical scale shape as [[funnelAdvances]]. Ordering
    * contract is also the same: rows time-sort within each micro-batch, so
    * attribution matches the batch operator whenever event disorder is
    * bounded by the batch interval; a touch surfacing after a conversion
    * already credited cannot retro-reassign it (at-arrival semantics —
    * spec-pinned; [[lastTouchAdvancesOrdered]] is the watermark-buffered
    * variant that trades latency for exact batch parity under bounded
    * disorder). */
  def lastTouchAdvances(events: Dataset[Event], touchTypes: Seq[String],
      convType: String): Dataset[Attribution] = {
    require(touchTypes.nonEmpty, "touchTypes must be non-empty")
    require(!touchTypes.contains(convType),
      "the conversion type cannot also be a touch type")
    val spark = events.sparkSession
    import spark.implicits._
    val touches = touchTypes.toSet

    def update(userId: Long, rows: Iterator[Event],
        state: GroupState[TouchState]): Iterator[Attribution] = {
      var channel = state.getOption.map(_.channel).orNull
      val out = List.newBuilder[Attribution]
      rows.toSeq.sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id)).foreach { e =>
        if (touches.contains(e.event_type)) channel = e.event_type
        else if (e.event_type == convType)
          out += Attribution(userId,
            if (channel == null) "direct" else channel, e.value, e.ts)
      }
      if (channel != null) state.update(TouchState(channel))
      out.result().iterator
    }

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(update)
  }

  /** Watermark-ordered attribution state: the last finalized touch channel
    * plus the not-yet-finalizable event buffer (top-level for the state
    * encoder). */
  final case class OrderedTouchState(channel: String, pending: Seq[Event])

  /** Same, for the linear variant: the finalized distinct-touch set. */
  final case class OrderedTouchSetState(channels: Seq[String],
      pending: Seq[Event])

  /** Watermark-ordered last-touch attribution — the EXACT-parity twin of
    * [[lastTouchAdvances]]: events buffer in state until the watermark
    * passes their event time, then replay in full event-time order, so a
    * touch arriving LATE (after its conversion, but within `delay`) still
    * credits that conversion exactly as the batch operator would.
    * [[lastTouchAdvances]] trades this for zero latency (at-arrival
    * credits); this variant trades `delay` of latency for batch parity
    * under any disorder bounded by the watermark. Disorder BEYOND the
    * watermark is dropped by the framework on arrival — the standard
    * contract, identical to [[windowedAgg]]'s late-row drop.
    *
    * Scale shape: state per user = one channel string + the events inside
    * the watermark horizon (bounded by delay × per-user rate, NOT stream
    * history); finalized events leave state the moment the watermark
    * passes them, via EventTimeTimeout so even a user with no new events
    * flushes. Same user_id-hashed state-store distribution as the
    * at-arrival twin. */
  def lastTouchAdvancesOrdered(events: Dataset[Event],
      touchTypes: Seq[String], convType: String,
      delay: String = "10 minutes"): Dataset[Attribution] = {
    require(touchTypes.nonEmpty, "touchTypes must be non-empty")
    require(!touchTypes.contains(convType),
      "the conversion type cannot also be a touch type")
    val spark = events.sparkSession
    import spark.implicits._
    val touches = touchTypes.toSet

    def update(userId: Long, rows: Iterator[Event],
        state: GroupState[OrderedTouchState]): Iterator[Attribution] = {
      val wm = state.getCurrentWatermarkMs()
      val prev = state.getOption.getOrElse(OrderedTouchState(null, Nil))
      // finalize strictly below the watermark: a row AT the watermark can
      // still be joined by an equal-timestamp sibling in a later batch
      val (ready, defer) = (prev.pending ++ rows)
        .partition(_.ts.getTime < wm)
      var channel = prev.channel
      val out = List.newBuilder[Attribution]
      ready.sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id)).foreach { e =>
        if (touches.contains(e.event_type)) channel = e.event_type
        else if (e.event_type == convType)
          out += Attribution(userId,
            if (channel == null) "direct" else channel, e.value, e.ts)
      }
      state.update(OrderedTouchState(channel,
        defer.sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))))
      // wake this group when the watermark passes its earliest buffered
      // event, even if the user never sends another row
      if (defer.nonEmpty)
        state.setTimeoutTimestamp(defer.map(_.ts.getTime).min + 1)
      out.result().iterator
    }

    events.withWatermark("ts", delay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** Watermark-ordered linear (equal-split) attribution — the exact-parity
    * twin of [[linearAdvances]], with the same buffer-until-watermark
    * replay as [[lastTouchAdvancesOrdered]]: a late touch inside `delay`
    * joins the split set of every conversion it event-time-precedes,
    * matching the batch operator exactly under bounded disorder. */
  def linearAdvancesOrdered(events: Dataset[Event],
      touchTypes: Seq[String], convType: String,
      delay: String = "10 minutes"): Dataset[SplitCredit] = {
    require(touchTypes.nonEmpty, "touchTypes must be non-empty")
    require(!touchTypes.contains(convType),
      "the conversion type cannot also be a touch type")
    val spark = events.sparkSession
    import spark.implicits._
    val touches = touchTypes.toSet

    def update(userId: Long, rows: Iterator[Event],
        state: GroupState[OrderedTouchSetState]): Iterator[SplitCredit] = {
      val wm = state.getCurrentWatermarkMs()
      val prev = state.getOption.getOrElse(OrderedTouchSetState(Nil, Nil))
      val (ready, defer) = (prev.pending ++ rows)
        .partition(_.ts.getTime < wm)
      var seen = prev.channels.toSet
      val out = List.newBuilder[SplitCredit]
      ready.sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id)).foreach { e =>
        if (touches.contains(e.event_type)) seen += e.event_type
        else if (e.event_type == convType) {
          if (seen.isEmpty) out += SplitCredit(userId, "direct", e.value, e.ts)
          else seen.toSeq.sorted.foreach(ch =>
            out += SplitCredit(userId, ch, e.value / seen.size, e.ts))
        }
      }
      state.update(OrderedTouchSetState(seen.toSeq.sorted,
        defer.sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))))
      if (defer.nonEmpty)
        state.setTimeoutTimestamp(defer.map(_.ts.getTime).min + 1)
      out.result().iterator
    }

    events.withWatermark("ts", delay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** One (from, to) row per consecutive event pair of a user. */
  final case class TransitionAdvance(user_id: Long, prev_type: String,
      next_type: String, ts: Timestamp)

  /** Watermark-ordered transition state: the last finalized event type
    * plus the in-horizon buffer (top-level for the state encoder). */
  final case class OrderedTypeState(lastType: String, pending: Seq[Event])

  /** Live first-order transition feed — the streaming twin of
    * [[graft.operators.EventOps.eventTransitions]] (q114): one
    * TransitionAdvance row per consecutive event pair of a user, emitted
    * once the watermark finalizes the pair's order. A downstream
    * `groupBy(prev_type, next_type).count()` over the emitted rows equals
    * the batch adjacency exactly under any disorder bounded by `delay`
    * (the [[lastTouchAdvancesOrdered]] buffer-replay contract: rows
    * finalize strictly below the watermark, replay in full
    * (ts, nanos, event_id) event-time order, and EventTimeTimeout wakes
    * quiet users).
    *
    * Scale shape: state per user = ONE type string + the in-horizon
    * buffer (bounded by delay × per-user rate); emitted rows are the
    * event stream's own cardinality minus one per user — the live feed a
    * session-health monitor folds into its |types|² matrix at bounded
    * memory. */
  def transitionAdvancesOrdered(events: Dataset[Event],
      delay: String = "10 minutes"): Dataset[TransitionAdvance] = {
    val spark = events.sparkSession
    import spark.implicits._

    def update(userId: Long, rows: Iterator[Event],
        state: GroupState[OrderedTypeState]): Iterator[TransitionAdvance] = {
      val wm = state.getCurrentWatermarkMs()
      val prev = state.getOption.getOrElse(OrderedTypeState(null, Nil))
      val (ready, defer) = (prev.pending ++ rows)
        .partition(_.ts.getTime < wm)
      var last = prev.lastType
      val out = List.newBuilder[TransitionAdvance]
      ready.sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id)).foreach { e =>
        if (last != null)
          out += TransitionAdvance(userId, last, e.event_type, e.ts)
        last = e.event_type
      }
      state.update(OrderedTypeState(last,
        defer.sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))))
      if (defer.nonEmpty)
        state.setTimeoutTimestamp(defer.map(_.ts.getTime).min + 1)
      out.result().iterator
    }

    events.withWatermark("ts", delay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** Running inter-arrival moments for [[botFlagAdvances]] (top-level for
    * the state encoder): last event time (nanos) + exact gap sums. */
  final case class GapState(lastNs: Long, nGaps: Long, sumGap: Long,
      sumGapSq: Long, flagged: Boolean)

  final case class BotFlag(user_id: Long, ts: Timestamp, n_gaps: Long,
      sum_gap_s: Long, var_num: Long)

  /** Live bot-signature monitor — the streaming twin of
    * `graft.operators.EventOps.botCandidates`: per entity, the running
    * (n, Σg, Σg²) inter-arrival moments in whole seconds (THREE longs of
    * state — no event history), re-tested on every arrival with the same
    * exact-integer cv² cross-multiplication; emits one [[BotFlag]] the
    * FIRST time an entity crosses the threshold (flag transitions, not a
    * firehose — dashboards want admissions, and downstream consumers
    * treat the flag as sticky the way the batch gate does a snapshot).
    *
    * Ordering contract matches [[funnelAdvances]]: in-batch rows sort by
    * full event time, so batch parity is scoped to in-order streams (the
    * same scope [[decayAdvances]] documents) — gaps are computed between
    * ARRIVAL-adjacent events, so a late cross-batch arrival produces a
    * negative gap and moment sums that differ from the batch operator's
    * time-ordered gaps; floor-division keeps even those negative gaps on
    * the same second grid as the batch twin's SQL `div`. */
  def botFlagAdvances(events: Dataset[Event], minEvents: Long = 10,
      cvNum: Long = 1, cvDen: Long = 20): Dataset[BotFlag] = {
    require(minEvents >= 3 && cvNum >= 1 && cvDen >= 1, "bad thresholds")
    val spark = events.sparkSession
    import spark.implicits._

    def update(userId: Long, rows: Iterator[Event],
        state: GroupState[GapState]): Iterator[BotFlag] = {
      var st = state.getOption.getOrElse(GapState(Long.MinValue, 0, 0, 0,
        flagged = false))
      val out = List.newBuilder[BotFlag]
      rows.toSeq.sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
        .foreach { e =>
          val ns = e.ts.getTime * 1000000L + e.ts.getNanos % 1000000L
          if (st.lastNs != Long.MinValue) {
            val g = Math.floorDiv(ns - st.lastNs, 1000000000L)
            st = st.copy(nGaps = st.nGaps + 1, sumGap = st.sumGap + g,
              sumGapSq = st.sumGapSq + g * g)
            val varNum = st.nGaps * st.sumGapSq - st.sumGap * st.sumGap
            if (!st.flagged && st.nGaps >= minEvents - 1 && st.sumGap > 0 &&
                varNum * cvDen <= st.sumGap * st.sumGap * cvNum) {
              st = st.copy(flagged = true)
              out += BotFlag(userId, e.ts, st.nGaps, st.sumGap, varNum)
            }
          }
          st = st.copy(lastNs = ns)
        }
      state.update(st)
      out.result().iterator
    }

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(update)
  }

  /** Trailing value ring for [[decayAdvances]]: newest-first micro-unit
    * values, ≤ window entries (top-level for the state encoder). */
  final case class DecayState(recent: Seq[Long])

  final case class DecayAdvance(user_id: Long, ts: Timestamp,
      n_recent: Int, decay_value: Double)

  /** Live halving-decay activity score — the streaming twin of
    * `graft.operators.EventOps.decayScore`: per user, the trailing-`window`
    * value buffer (≤ 24 longs of state, newest first) re-scores on every
    * event and emits (user, ts, n_recent, decay_value) at event latency.
    * Same exact-integer contract as the batch operator: power-of-two
    * weights, micro-unit longs, round-half-up cent reduction — so after
    * any prefix of in-order events, the LATEST advance per user equals the
    * batch operator run over that prefix, bit for bit (spec-pinned).
    *
    * Ordering contract matches [[funnelAdvances]]: rows sort by full event
    * time within each micro-batch, so parity holds whenever disorder is
    * bounded by the batch interval; a cross-batch late event re-scores at
    * arrival position (at-arrival semantics — the watermark-buffered
    * pattern of [[lastTouchAdvancesOrdered]] drops in if exact parity
    * under bounded disorder is needed).
    *
    * Scale shape: state is `window` longs per ACTIVE user — no event
    * history, no timestamps; the state store shards on user_id like every
    * twin here. */
  def decayAdvances(events: Dataset[Event], window: Int = 24)
      : Dataset[DecayAdvance] = {
    require(window >= 1 && window <= 24, "window in [1, 24] (overflow bound)")
    val spark = events.sparkSession
    import spark.implicits._
    val denom = (1L << (window - 1)) * 10000L

    def update(userId: Long, rows: Iterator[Event],
        state: GroupState[DecayState]): Iterator[DecayAdvance] = {
      var recent = state.getOption.map(_.recent.toList).getOrElse(Nil)
      val out = List.newBuilder[DecayAdvance]
      rows.toSeq.sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
        .foreach { e =>
          recent = (math.floor(e.value * 1e6 + 0.5).toLong :: recent)
            .take(window)
          var units = 0L
          recent.zipWithIndex.foreach { case (v, k) =>
            units += v << (window - 1 - k)
          }
          out += DecayAdvance(userId, e.ts, recent.size,
            ((units + denom / 2) / denom).toDouble / 100.0)
        }
      state.update(DecayState(recent))
      out.result().iterator
    }

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(update)
  }
}
