package graft.streaming

import java.sql.Timestamp
import scala.reflect.runtime.universe.TypeTag
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._
import graft.core.Parquet

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

  /** foreachBatch merge sink: maintains a keyed running-aggregate parquet
    * table (count + sum per key) across micro-batches — the "upsert into a
    * serving table" pattern for sinks with no native streaming support.
    * Each batch: aggregate the delta, full-outer-merge with the current
    * table, swap in the replacement ([[mergeSwap]]: effectively-once by
    * batch id, crash-safe by [[graft.sources.Commit]]'s contract). At
    * warehouse scale the same shape targets a transactional table format;
    * the parquet-swap keeps it dependency-free here. */
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
        Parquet.read(spark, countsDir))
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
          val countsAreThisBatch =
            marker(fsOf(spark, countsDir), countsDir) == batchId
          val generationMissing = countsAreThisBatch && {
            !fsOf(spark, metricsDir).exists(new Path(metricsDir)) ||
              Parquet.read(spark, metricsDir)
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
    * corpus doc or any smaller-id batch doc, and swaps in corpus ∪
    * survivors as one rewritten table ([[mergeSwap]], every tick: this
    * sink compacts each time, see [[admitBatch]]). Replayed batches are
    * skipped by the in-table marker, so a doc admitted once is never
    * re-judged (and batch/corpus ids must be globally unique — the dedup
    * identity key).
    *
    * Scale shape: per-batch cost is |batch| signatures + a band join
    * against the corpus index, plus the O(corpus) rewrite — the indexed
    * twin [[corpusIngestSinkIndexed]] keeps the band table standing and
    * publishes one generation file per plain tick instead. */
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
            minQuality, blockedPatterns, compactEvery = 1) { (corpus, b) =>
          graft.operators.Dedup.minhashCandidatesIncremental(
            corpus, b, "doc_id", "text", shingleSize, numHashes, bands)
        }
      }
      .start()
  }

  /** [[corpusIngestSink]] with the STANDING dedup index in the loop — the
    * composed production form of the whole round-16/17 amortization
    * program: per ingest batch, the standing corpus is never re-shingled
    * or re-signed. The index is leveled, and both levels come from the
    * table ([[tableFiles]]): the main level is the bucketed sig/band index
    * over its base files ([[graft.operators.Dedup.buildDedupIndex]], table
    * names derived from `tableDir`, built once per (session, corpus)), and
    * L0 is its generation files themselves. Each batch
    *  1. probes both levels ([[graft.operators.Dedup
    *     .minhashCandidatesIndexedTables]] with the generation files as
    *     `l0Docs` — batch-grain work only: the batch and at most
    *     `foldEvery` - 1 generations are signed),
    *  2. admits survivors through the same drop semantics as
    *     [[corpusIngestSink]] (pair touches corpus → batch side drops;
    *     both-new pair → greater id drops), and
    *  3. publishes the survivors as one immutable generation file of the
    *     corpus table, which is also their L0 append: a plain tick writes
    *     no index data. Every `foldEvery`-th tick compacts the table
    *     instead ([[admitBatch]]; effectively-once either way) and then
    *     folds the compacted table into the main level
    *     ([[graft.operators.Dedup.foldDedupIndexL0]], which signs only the
    *     docs the main level lacks: the folded generations and the
    *     survivors), so the main level again covers every base file.
    * Same quality/blocklist gates, same metrics rows, same output as the
    * unindexed sink (gated in EventStreamsSpec, property-gated in
    * IngestAdmissionSpec, and by the q226 catalog row).
    *
    * Crash consistency: the corpus table is the source of truth. A
    * replayed batch the table already holds ([[lastApplied]] == batchId:
    * its generation file was renamed in, or its compaction swapped in)
    * may have died anywhere between a compaction and the end of its fold
    * — the main level could lack the compacted docs or be torn
    * mid-publish — so the replay branch DROPS the index and lets the next
    * probe rebuild it from the base files
    * ([[graft.operators.Dedup.dropDedupIndex]]; O(corpus) once, on the
    * rare crash-replay path only). A crash before or inside the publish is
    * [[graft.sources.Commit]]'s to repair, and the replay publishes the
    * batch again. A whole-JVM death loses the session-scoped main level
    * and the same rebuild runs on resume; L0 lives in the table and needs
    * no repair. */
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
        val spark = batch.sparkSession
        val fs = fsOf(spark, tableDir)
        // replay repair: if the table already holds THIS batch, the crash
        // window includes the fold — drop the index now; admitBatch below
        // will skip the publish and the next batch's probe rebuilds the
        // index from the published corpus
        if (lastApplied(fs, tableDir) == batchId)
          graft.operators.Dedup.dropDedupIndex(spark, sigT, bandT)
        admitBatch(batch, batchId, tableDir, minJaccard, metricsDir,
            minQuality, blockedPatterns, compactEvery = foldEvery,
            // the swap deleted the generation files: the fold reads the
            // compacted table, and signs only what the main level lacks
            onCompacted = () => graft.operators.Dedup.foldDedupIndexL0(
              Parquet.read(spark, tableDir), "doc_id", "text", shingleSize,
              numHashes, bands, sigT, bandT)) {
          (corpus, b) =>
            val (base, gens) = tableFiles(fs, tableDir)
            def read(files: Seq[Path]) = spark.read.schema(corpus.schema)
              .parquet(files.map(_.toString): _*)
            // once per (session, corpus): pays the index build; every
            // later batch in the session skips straight to the bucketed
            // scans
            graft.operators.Dedup.buildDedupIndex(
              if (base.isEmpty) corpus.limit(0) else read(base), "doc_id",
              "text", shingleSize, numHashes, bands, sigT, bandT, buckets)
            graft.operators.Dedup.minhashCandidatesIndexedTables(
              b, "doc_id", "text", shingleSize, numHashes, bands, sigT, bandT,
              l0Docs = Option.when(gens.nonEmpty)(read(gens)))
        }
      }
      .start()
  }

  /** One micro-batch of an ingest sink: the admission step both
    * [[corpusIngestSink]] and [[corpusIngestSinkIndexed]] run. They differ
    * only in `candidates(corpus, gated)`, which returns the batch's
    * canonical (id_a < id_b) pairs with `est_jaccard`, against the
    * standing corpus and within the batch, and in `compactEvery`.
    *
    *  1. Row gates first (per-row, codegen'd, no shuffle): the quality
    *     floor, then the blocklist (`TextAnalysis.policyFilter`, no hit
    *     allowed) — the same fused Aho–Corasick pass as the batch
    *     pipeline, one text scan per doc regardless of list size. Junk
    *     never reaches the dedup join, exactly like CurationJob's stage
    *     order; gated docs count as suppressed.
    *  2. The drop set, from one pass over the candidate pairs
    *     ([[droppedIds]]): a pair that touches the corpus drops its batch
    *     side; a both-new pair drops the greater id (id_b).
    *  3. The survivors are sealed (`localCheckpoint`, eager: their plan
    *     reads the pre-publish corpus, and everything after the publish
    *     must see these exact rows without re-deriving them over the
    *     changed table) and published, effectively-once by batch id
    *     ([[lastApplied]]). A plain tick writes them as ONE new
    *     generation file of the table ([[publishGeneration]], O(batch)
    *     bytes). When the table would reach `compactEvery` generations,
    *     the tick compacts instead: [[mergeSwap]] rewrites corpus ∪
    *     survivors as one table, and then runs `onCompacted`. Last, the
    *     batch's crawl-health metrics row is appended (`corpus_size` =
    *     the corpus before the tick + the survivors).
    *
    * The metrics are at-MOST-once observability: a replayed batch writes
    * none (no double counting), and a crash between the publish and the
    * append loses the row; the table itself stays effectively-once. */
  private def admitBatch(batch: DataFrame, batchId: Long, tableDir: String,
      minJaccard: Double, metricsDir: Option[String],
      minQuality: Option[Double], blockedPatterns: Seq[String],
      compactEvery: Int, onCompacted: () => Unit = () => ())(
      candidates: (DataFrame, DataFrame) => DataFrame): Unit = {
    val spark = batch.sparkSession
    val b0 = minQuality.foldLeft(batch.select(col("doc_id"), col("text"))) {
      (d, floor) => d.where(
        graft.operators.TextAnalysis.qualityScore(col("text")) >= floor)
    }
    val b =
      if (blockedPatterns.isEmpty) b0
      else graft.operators.TextAnalysis.policyFilter(b0, "text", blockedPatterns)
    // lastApplied restores a compaction's crash backup first, so the
    // corpus read below is the whole accumulated table
    val fs = fsOf(spark, tableDir)
    if (batchId > lastApplied(fs, tableDir)) {
      val current =
        if (hasTable(fs, tableDir))
          Some(Parquet.read(spark, tableDir).select(col("doc_id"), col("text")))
        else None
      val sizeBefore = if (metricsDir.isEmpty) 0L else current.fold(0L)(_.count())
      val corpus = current.getOrElse(b.limit(0))
      val cand = candidates(corpus, b).where(col("est_jaccard") >= minJaccard)
      val dropped = droppedIds(cand, corpus.select("doc_id"))
      // sealed, not persisted: a write re-analyzes the plan, and a cache
      // miss would re-derive it over the published table (observed as
      // FILE_NOT_EXIST). Checkpoint blocks bypass the CacheManager;
      // ContextCleaner frees them when the batch's reference drops.
      val keep = b.join(dropped, Seq("doc_id"), "left_anti").localCheckpoint(true)
      if (generations(fs, tableDir).size + 1 >= compactEvery) {
        mergeSwap(spark, tableDir, batchId)(_ => corpus.unionByName(keep))
        onCompacted()
      } else publishGeneration(keep, tableDir, batchId)
      metricsDir.foreach { mDir =>
        val nBatch = batch.count() // pre-gate: gated docs count as suppressed
        val nAdmitted = keep.count()
        import spark.implicits._
        Seq((batchId, nBatch, nAdmitted, nBatch - nAdmitted,
            sizeBefore + nAdmitted))
          .toDF("batch_id", "n_batch", "n_admitted", "n_suppressed",
            "corpus_size")
          .write.mode("append").parquet(mDir)
      }
    }
    // the candidate generators persist their signature tables through
    // CacheScope — the sink owns this batch's scope, release it now
    graft.core.CacheScope.drain()
  }

  /** The batch docs an ingest tick drops, from ONE pass over its
    * candidate pairs `cand` (id_a, id_b): two left joins flag the
    * endpoints that are corpus docs (`corpusIds.doc_id`), and a pair drops
    * id_a when id_b is a corpus doc, and id_b when id_a is a corpus doc or
    * neither endpoint is. That is the union of the three drop branches
    * (corpus on the id_b side, corpus on the id_a side, both new → the
    * greater id) for every input, pairs outside the disjoint-id contract
    * included, but `cand` — the whole candidate probe — is planned once
    * instead of once per branch. Returns the distinct dropped `doc_id`s. */
  private[graft] def droppedIds(cand: DataFrame,
      corpusIds: DataFrame): DataFrame = {
    def corpusFlag(id: String, flag: String): DataFrame =
      corpusIds.select(col("doc_id").as(id), lit(true).as(flag))
    val aOld = col("a_old").isNotNull
    val bOld = col("b_old").isNotNull
    cand.select(col("id_a"), col("id_b"))
      .join(corpusFlag("id_a", "a_old"), Seq("id_a"), "left")
      .join(corpusFlag("id_b", "b_old"), Seq("id_b"), "left")
      .select(explode(array(
        struct(bOld.as("drop"), col("id_a").as("doc_id")),
        struct((aOld || !bOld).as("drop"), col("id_b").as("doc_id"))))
        .as("d"))
      .where(col("d.drop"))
      .select(col("d.doc_id").as("doc_id"))
      .distinct()
  }

  /** Driver-gate harness for [[corpusIngestSinkIndexed]]: feeds the
    * documents in `nSlices` batches (doc_id % nSlices, ascending), one
    * AvailableNow query per slice against the same checkpoint — the
    * production shape: a scheduled ingest tick per crawl drop, each run
    * recovering offsets from the checkpoint, the standing dedup index
    * carried across ticks and each admitted batch's generation file read
    * as its L0 level (never a corpus recompute). Returns the final corpus
    * ids; the oracle models the greedy batch-sequential admission in SQL,
    * so a wrong drop set, a stale index (a generation the probe missed),
    * or a lost batch all diverge. Runs in the gates' [[withGateScope]].
    *
    * `buckets` is the GATE's index width, defaulted narrow (4): what this
    * gate verifies is the lifecycle contract (build → probe → admit →
    * publish → next-tick probe, crash-repair on replay), and the
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
      val corpusDir = s"$base/corpus"
      val ckptDir = s"$base/ckpt"
      try {
        (0 until nSlices).foreach { k =>
          in.addData(rows.filter(_._1 % nSlices == k).toSeq: _*)
          val q = corpusIngestSinkIndexed(
            in.toDF().toDF("doc_id", "text"), corpusDir, ckptDir,
            minJaccard = minJaccard, buckets = buckets)
          q.awaitTermination()
        }
        val ids: Seq[Long] =
          if (!fsOf(spark, corpusDir).exists(new Path(corpusDir))) Seq.empty
          else Parquet.read(spark, corpusDir).select("doc_id")
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
    * replayed-batch skip ([[lastApplied]]), then the replacement published
    * by [[graft.sources.Commit.replace]], whose crash contract covers it.
    * `merge` maps the current table (None before the first batch) to its
    * full replacement, which is written before the current table is
    * touched. The aggregate upserts ([[runningAggSink]],
    * [[driftMonitorSink]]) run it every batch; for the ingest sinks it is
    * the compaction path, which folds the table's generation files back
    * into one rewritten table ([[admitBatch]]).
    *
    * foreachBatch alone is AT-LEAST-once: a batch whose swap landed but
    * whose checkpoint commit didn't is REPLAYED on restart, and re-merging
    * would double-apply it. The batch id is written as a `_last_batch`
    * marker into the replacement before the swap (underscore-prefixed, so
    * parquet readers skip it), so table and marker commit together, and
    * replayed batch ids are skipped. The table and its checkpoint form a
    * unit: restarting with a fresh checkpoint against an existing table
    * restarts batch numbering and is undefined. Returns whether this call
    * merged the batch. */
  private def mergeSwap(spark: SparkSession, tableDir: String, batchId: Long)
      (merge: Option[DataFrame] => DataFrame): Boolean = {
    val fs = fsOf(spark, tableDir)
    if (batchId > lastApplied(fs, tableDir)) {
      val merged = merge(
        if (hasTable(fs, tableDir)) Some(Parquet.read(spark, tableDir)) else None)
      graft.sources.Commit.replace(fs, new Path(tableDir)) { tmp =>
        merged.write.parquet(tmp.toString)
        scala.util.Using.resource(fs.create(new Path(tmp, "_last_batch")))(
          _.write(batchId.toString.getBytes("UTF-8")))
      }
      true
    } else false // replayed batch: the table already holds this batch
  }

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The largest batch id the table at `tableDir` already holds: the
    * greater of its `_last_batch` marker (written by [[mergeSwap]]) and the
    * batch ids of its generation files ([[generations]]); -1 for none.
    * [[graft.sources.Commit.recover]] runs first, so a table a crashed
    * swap left at `_old` is back before the read; otherwise the batch id
    * would reset to -1 and the replayed batch would rebuild the table from
    * its own delta alone. Marker and generations travel inside the dir. */
  private def lastApplied(fs: FileSystem, tableDir: String): Long = {
    graft.sources.Commit.recover(fs, new Path(tableDir))
    (marker(fs, tableDir) +: generations(fs, tableDir)).max
  }

  /** The batch id in `tableDir`'s `_last_batch` marker; -1 for none. */
  private def marker(fs: FileSystem, tableDir: String): Long =
    try scala.util.Using.resource(fs.open(new Path(tableDir, "_last_batch")))(
      in => new String(in.readAllBytes(), "UTF-8").trim.toLong)
    catch { case _: java.io.FileNotFoundException => -1L }

  /** The names at the root of `dir`; none if it does not exist. */
  private def names(fs: FileSystem, dir: String): Seq[String] =
    try fs.listStatus(new Path(dir)).toSeq.map(_.getPath.getName)
    catch { case _: java.io.FileNotFoundException => Nil }

  /** Whether a parquet read of a directory lists its entry `name`. */
  private def visible(name: String): Boolean =
    !name.startsWith("_") && !name.startsWith(".")

  /** Whether `tableDir` holds a table yet: any entry a parquet read lists.
    * A first tick that died before its publish leaves only hidden ones. */
  private def hasTable(fs: FileSystem, tableDir: String): Boolean =
    names(fs, tableDir).exists(visible)

  /** A generation file's name at the table root: `part-b<batchId>-….parquet`. */
  private val GenerationFile = "part-b(\\d+)-.*\\.parquet".r

  /** Batch ids of the generation files at the root of `tableDir`. */
  private def generations(fs: FileSystem, tableDir: String): Seq[Long] =
    names(fs, tableDir).collect { case GenerationFile(id) => id.toLong }

  /** The entries a parquet read of `tableDir` lists, split into its base
    * files (a compaction's or the first writer's) and its generation
    * files ([[publishGeneration]]). */
  private def tableFiles(fs: FileSystem, tableDir: String): (Seq[Path], Seq[Path]) =
    names(fs, tableDir).filter(visible).map(new Path(tableDir, _))
      .partition(p => !GenerationFile.matches(p.getName))

  /** Publishes `rows` as one immutable generation of the parquet table at
    * `tableDir`, O(rows) bytes: Spark tasks write them as ONE parquet file
    * into the hidden `_pending_b<batchId>/` directory, and
    * [[graft.sources.Commit.add]] moves that file to the table root as
    * `part-b<batchId>-….parquet`. From then on a plain parquet read of
    * `tableDir` reads the file, and [[lastApplied]] reads the batch id off
    * its name. Root-level files, not subdirectories: a reader of a
    * directory with root-level parquet files skips a plain subdirectory,
    * and reads a `k=v` one as a partition column. */
  private def publishGeneration(rows: DataFrame, tableDir: String,
      batchId: Long): Unit = {
    val root = new Path(tableDir)
    val fs = fsOf(rows.sparkSession, tableDir)
    graft.sources.Commit.add(fs, new Path(root, s"_pending_b$batchId")) { pending =>
      rows.coalesce(1).write.parquet(pending.toString)
      fs.listStatus(pending).map(_.getPath)
        .find(_.getName.startsWith("part-")).getOrElse(
          throw new IllegalStateException(s"no parquet file written to $pending"))
    }(part => new Path(root, part.getName.replaceFirst("^part-\\d+", s"part-b$batchId")))
  }

  final case class UserTotalMicro(user_id: Long, n_events: Long,
      total_micro: Long)

  /** Spark 4 `transformWithState` processor: per-user running totals in a
    * single ValueState cell (typed state handles, native TTL; the API
    * REQUIRES the RocksDB state-store provider, which also spills state
    * off-heap at scale — see [[statefulSessions]] for the classic
    * `flatMapGroupsWithState` shape). The value total accumulates in
    * integer MICRO-UNITS (`floor(v·10⁶ + 0.5)` per event — the repo-wide
    * exact-sum contract), so the cumulative total is independent of fold
    * order and a SQL oracle reproduces it bit-for-bit, which lets
    * `transformWithState` sit under the driver gate. */
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
    * [[runningTotalsReplay]], which scopes it). `outputMode` is Update for
    * the memory sink, Append for the file sink
    * ([[runningTotalsRestartReplay]]); each emits one cumulative row per
    * user per batch with events. */
  def runningTotalsMicro(events: Dataset[Event],
      outputMode: OutputMode = OutputMode.Update()): Dataset[UserTotalMicro] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RunningTotalMicroProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), outputMode)
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
        rocksDb = true, killAfter = Some(killAfter))(
      (in, _) => runningTotalsMicro(in, OutputMode.Append()).toDF())
      .select(col("user_id"), col("n_events"), col("total_micro"))

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
    * order when the sentinel flushes — lost buffers would silently drop
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
      val countsDir = s"$base/counts"
      val metricsDir = s"$base/metrics"
      val ckptDir = s"$base/ckpt"
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
    * upstream if completed users must eventually evict. Walked by
    * [[atArrival]] (its ordering contract). */
  def funnelAdvances(events: Dataset[Event],
      steps: Seq[String]): Dataset[FunnelAdvance] = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val stepArr = steps.toArray
    atArrival(events, FunnelState(0)) { (user, s, e) =>
      if (s.stage < stepArr.length && e.event_type == stepArr(s.stage))
        (FunnelState(s.stage + 1),
          Seq(FunnelAdvance(user, s.stage + 1, stepArr(s.stage), e.ts)))
      else (s, Nil)
    }
  }

  /** The at-arrival driver behind [[funnelAdvances]], [[lastTouchAdvances]],
    * [[linearAdvances]], [[botFlagAdvances]] and [[decayAdvances]]: per
    * user, a walk of `step` over that user's rows from the carried state
    * (`init` for a new user), emitting each step's rows at once.
    *
    * Ordering contract: each micro-batch's rows sort by full event time
    * (ts, nanos, event_id) before the walk, so it is exactly the batch
    * operator's time-order walk whenever event disorder is bounded by the
    * batch interval. A row that surfaces only AFTER a later one was walked
    * counts at arrival (the stream cannot retro-reorder committed output) —
    * the at-arrival semantic; [[watermarkOrdered]] trades `delay` of latency
    * for exact batch parity under bounded disorder. State is `S` per user,
    * hash-distributed across the state store by user_id, never event
    * history. Everything the task closure reads is local here: a member of
    * this (non-serializable) object would drag the object into the task. */
  private def atArrival[S: TypeTag, O: TypeTag](events: Dataset[Event],
      init: S)(step: (Long, S, Event) => (S, Seq[O])): Dataset[O] = {
    implicit val stateEnc: Encoder[S] = ExpressionEncoder[S]()
    implicit val outEnc: Encoder[O] = ExpressionEncoder[O]()
    val byTime = (e: Event) => (e.ts.getTime, e.ts.getNanos, e.event_id)
    events.groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[Event], state: GroupState[S]) =>
          var s = state.getOption.getOrElse(init)
          val out = rows.toSeq.sortBy(byTime).flatMap { e =>
            val (next, emitted) = step(user, s, e)
            s = next
            emitted
          }
          state.update(s)
          out.iterator
      }
  }

  /** The watermark-ordered driver behind [[lastTouchAdvancesOrdered]],
    * [[linearAdvancesOrdered]] and [[transitionAdvancesOrdered]]: the same
    * per-user walk as [[atArrival]], but rows buffer in state until the
    * watermark passes their event time and then replay in full event-time
    * order (ts, nanos, event_id), so a row arriving LATE (after a later
    * one, but within `delay`) still walks in its batch-operator position.
    * Rows finalize strictly below the watermark — a row AT it can still be
    * joined by an equal-timestamp sibling in a later batch. The group's
    * event-time timeout is set to the earliest deferred ts + 1, so a user
    * who never sends another row still flushes. Disorder BEYOND the
    * watermark is dropped by the framework on arrival, as in
    * [[windowedAgg]]. State per user = `S` + the events inside the
    * watermark horizon (bounded by delay × per-user rate, not stream
    * history). Same closure-locality rule as [[atArrival]]. */
  private def watermarkOrdered[S: TypeTag, O: TypeTag](events: Dataset[Event],
      delay: String, init: S)(
      step: (Long, S, Event) => (S, Seq[O])): Dataset[O] = {
    implicit val stateEnc: Encoder[(S, Seq[Event])] =
      ExpressionEncoder[(S, Seq[Event])]()
    implicit val outEnc: Encoder[O] = ExpressionEncoder[O]()
    val byTime = (e: Event) => (e.ts.getTime, e.ts.getNanos, e.event_id)
    events.withWatermark("ts", delay)
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[Event], state: GroupState[(S, Seq[Event])]) =>
          val wm = state.getCurrentWatermarkMs()
          val (carried, pending) = state.getOption.getOrElse((init, Nil))
          val (ready, defer) = (pending ++ rows).partition(_.ts.getTime < wm)
          var s = carried
          val out = ready.sortBy(byTime).flatMap { e =>
            val (next, emitted) = step(user, s, e)
            s = next
            emitted
          }
          state.update((s, defer))
          if (defer.nonEmpty)
            state.setTimeoutTimestamp(defer.map(_.ts.getTime).min + 1)
          out.iterator
      }
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
    *    span + 60 s, so nothing finalizes during the data slices. ONE
    *    far-future sentinel feed then flushes: micro-batch N runs with the
    *    watermark computed from batch N−1's data, so the sentinel's batch
    *    raises it, and the no-data batch Spark runs when the watermark
    *    moves (inside the same processAllAvailable barrier) fires the
    *    timers (EventTimeTimeout wakes users with no new rows). The
    *    sentinel has its own fresh user, which stays buffered and pairs
    *    with nothing.
    *  - Restart (`killAfter = Some(k)`). After k slices the query STOPS
    *    and a fresh query — same source, checkpoint and sink path —
    *    resumes for the rest (and the sentinel), recovering offsets, the
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
    val sentinel =
      if (!disordered || rows.isEmpty) Seq.empty
      else Seq(Seq(Event(-2L,
        new Timestamp(rows.map(_.ts.getTime).max + 2L * delayMs),
        rows.map(_.user_id).max + 1, "__sentinel__", 0.0)))
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Event]
    withGateScope(spark, name, rocksDb) { base =>
      val table = s"${name}_${replaySeq.incrementAndGet()}"
      val outDir = s"$base/out"
      def run(feed: Seq[Seq[Event]]): Unit = {
        val w = build(in.toDS(), delay).writeStream
          .option("checkpointLocation", s"$base/ckpt")
          .outputMode(outputMode)
        val q =
          if (killAfter.isEmpty) w.format("memory").queryName(table).start()
          else w.format("parquet").option("path", outDir).start()
        try feed.foreach { s => in.addData(s: _*); q.processAllAvailable() }
        finally q.stop()
      }
      killAfter match {
        case None =>
          run(slices ++ sentinel)
          spark.table(table)
        case Some(k) =>
          run(slices.take(k))
          run(slices.drop(k) ++ sentinel)
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
      rocksDb: Boolean = false)(body: String => T): T =
    withConf(spark, Map("spark.sql.shuffle.partitions" -> "2") ++
        Option.when(rocksDb)("spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")) {
      val base = java.nio.file.Files.createTempDirectory(s"graft_${name}_")
        .toString
      try body(base) finally fsOf(spark, base).delete(new Path(base), true): Unit
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
      if (!fsOf(spark, dir).exists(new Path(dir))) Seq.empty
      else spark.read.schema(schema).parquet(dir).collect().toSeq
    spark.createDataFrame(
      spark.sparkContext.parallelize(sunk, math.max(1, sunk.size min 2)),
      schema)
  }

  /** Per-user last-touch channel (top-level for the state encoder; null
    * until the first touch). */
  final case class TouchState(channel: String)

  /** Per-user distinct-touch set, sorted (bounded by |touchTypes|). */
  final case class TouchSetState(channels: Seq[String])

  /** One equal-split credit from a streaming linear attribution. */
  final case class SplitCredit(user_id: Long, channel: String,
      value: Double, ts: Timestamp)

  /** The linear walk shared by [[linearAdvances]] and
    * [[linearAdvancesOrdered]]: a touch joins the distinct-channel set; a
    * conversion emits one credit per channel in the set, value / |set|
    * each, or the whole value as "direct" when the set is empty. */
  private def linearWalk(touchTypes: Seq[String], convType: String)
      : (Long, TouchSetState, Event) => (TouchSetState, Seq[SplitCredit]) = {
    require(touchTypes.nonEmpty, "touchTypes must be non-empty")
    require(!touchTypes.contains(convType),
      "the conversion type cannot also be a touch type")
    val touches = touchTypes.toSet
    (user, s, e) =>
      if (touches.contains(e.event_type)) {
        if (s.channels.contains(e.event_type)) (s, Nil)
        else (TouchSetState((s.channels :+ e.event_type).sorted), Nil)
      } else if (e.event_type != convType) (s, Nil)
      else if (s.channels.isEmpty)
        (s, Seq(SplitCredit(user, "direct", e.value, e.ts)))
      else (s, s.channels.map(ch =>
        SplitCredit(user, ch, e.value / s.channels.size, e.ts)))
  }

  /** Streaming linear (equal-split) attribution — the live twin of
    * `graft.operators.EventOps.linearAttribution`: per user, the state is
    * the DISTINCT touch-channel set seen so far (bounded by |touchTypes|,
    * a handful of strings); each conversion emits one credit row per
    * participating channel, value / |channels| each ("direct" for the whole
    * value when the set is empty). Walked by [[atArrival]]. */
  def linearAdvances(events: Dataset[Event], touchTypes: Seq[String],
      convType: String): Dataset[SplitCredit] =
    atArrival(events, TouchSetState(Nil))(linearWalk(touchTypes, convType))

  /** One attributed conversion, emitted the moment it arrives. */
  final case class Attribution(user_id: Long, channel: String,
      value: Double, ts: Timestamp)

  /** The last-touch walk shared by [[lastTouchAdvances]] and
    * [[lastTouchAdvancesOrdered]]: a touch replaces the channel; a
    * conversion emits one credit to it, "direct" before any touch. */
  private def lastTouchWalk(touchTypes: Seq[String], convType: String)
      : (Long, TouchState, Event) => (TouchState, Seq[Attribution]) = {
    require(touchTypes.nonEmpty, "touchTypes must be non-empty")
    require(!touchTypes.contains(convType),
      "the conversion type cannot also be a touch type")
    val touches = touchTypes.toSet
    (user, s, e) =>
      if (touches.contains(e.event_type)) (TouchState(e.event_type), Nil)
      else if (e.event_type != convType) (s, Nil)
      else (s, Seq(Attribution(user,
        if (s.channel == null) "direct" else s.channel, e.value, e.ts)))
  }

  /** Streaming last-touch attribution — the live twin of
    * `graft.operators.EventOps.lastTouchAttribution`: per user, ONE small
    * string of state (the most recent touch channel); each conversion event
    * emits an (user, channel, value, ts) credit immediately ("direct" when
    * no touch has been seen), so spend dashboards attribute at event latency
    * while the batch op remains the retrospective exact answer. Walked by
    * [[atArrival]]: a touch surfacing after a conversion already credited
    * cannot retro-reassign it ([[lastTouchAdvancesOrdered]] is the
    * watermark-buffered variant). */
  def lastTouchAdvances(events: Dataset[Event], touchTypes: Seq[String],
      convType: String): Dataset[Attribution] =
    atArrival(events, TouchState(null))(lastTouchWalk(touchTypes, convType))

  /** Watermark-ordered last-touch attribution — the EXACT-parity twin of
    * [[lastTouchAdvances]], the same walk under [[watermarkOrdered]]: a
    * touch arriving LATE (after its conversion, but within `delay`) still
    * credits that conversion exactly as the batch operator would. */
  def lastTouchAdvancesOrdered(events: Dataset[Event],
      touchTypes: Seq[String], convType: String,
      delay: String = "10 minutes"): Dataset[Attribution] =
    watermarkOrdered(events, delay, TouchState(null))(
      lastTouchWalk(touchTypes, convType))

  /** Watermark-ordered linear (equal-split) attribution — the exact-parity
    * twin of [[linearAdvances]] under [[watermarkOrdered]]: a late touch
    * inside `delay` joins the split set of every conversion it
    * event-time-precedes, matching the batch operator exactly. */
  def linearAdvancesOrdered(events: Dataset[Event],
      touchTypes: Seq[String], convType: String,
      delay: String = "10 minutes"): Dataset[SplitCredit] =
    watermarkOrdered(events, delay, TouchSetState(Nil))(
      linearWalk(touchTypes, convType))

  /** One (from, to) row per consecutive event pair of a user. */
  final case class TransitionAdvance(user_id: Long, prev_type: String,
      next_type: String, ts: Timestamp)

  /** Live first-order transition feed — the streaming twin of
    * [[graft.operators.EventOps.eventTransitions]] (q114): one
    * TransitionAdvance row per consecutive event pair of a user, emitted
    * once the watermark finalizes the pair's order. Under
    * [[watermarkOrdered]], a downstream `groupBy(prev_type,
    * next_type).count()` over the emitted rows equals the batch adjacency
    * exactly under any disorder bounded by `delay`. State per user = the
    * last finalized type (null before the first) + the in-horizon buffer;
    * emitted rows are the event stream's own cardinality minus one per
    * user — the live feed a session-health monitor folds into its |types|²
    * matrix at bounded memory. */
  def transitionAdvancesOrdered(events: Dataset[Event],
      delay: String = "10 minutes"): Dataset[TransitionAdvance] =
    watermarkOrdered(events, delay, null: String) { (user, last, e) =>
      (e.event_type,
        if (last == null) Nil
        else Seq(TransitionAdvance(user, last, e.event_type, e.ts)))
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
    * Walked by [[atArrival]], so batch parity is scoped to in-order
    * streams: gaps are computed between ARRIVAL-adjacent events, so a late
    * cross-batch arrival produces a negative gap and moment sums that
    * differ from the batch operator's time-ordered gaps; floor-division
    * keeps even those negative gaps on the same second grid as the batch
    * twin's SQL `div`. */
  def botFlagAdvances(events: Dataset[Event], minEvents: Long = 10,
      cvNum: Long = 1, cvDen: Long = 20): Dataset[BotFlag] = {
    require(minEvents >= 3 && cvNum >= 1 && cvDen >= 1, "bad thresholds")
    atArrival(events, GapState(Long.MinValue, 0, 0, 0, flagged = false)) {
      (user, st, e) =>
        val ns = e.ts.getTime * 1000000L + e.ts.getNanos % 1000000L
        if (st.lastNs == Long.MinValue) (st.copy(lastNs = ns), Nil)
        else {
          val g = Math.floorDiv(ns - st.lastNs, 1000000000L)
          val s = st.copy(lastNs = ns, nGaps = st.nGaps + 1,
            sumGap = st.sumGap + g, sumGapSq = st.sumGapSq + g * g)
          val varNum = s.nGaps * s.sumGapSq - s.sumGap * s.sumGap
          if (!s.flagged && s.nGaps >= minEvents - 1 && s.sumGap > 0 &&
              varNum * cvDen <= s.sumGap * s.sumGap * cvNum)
            (s.copy(flagged = true),
              Seq(BotFlag(user, e.ts, s.nGaps, s.sumGap, varNum)))
          else (s, Nil)
        }
    }
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
    * Walked by [[atArrival]]: a cross-batch late event re-scores at
    * arrival position. State is `window` longs per ACTIVE user — no event
    * history, no timestamps. */
  def decayAdvances(events: Dataset[Event], window: Int = 24)
      : Dataset[DecayAdvance] = {
    require(window >= 1 && window <= 24, "window in [1, 24] (overflow bound)")
    val denom = (1L << (window - 1)) * 10000L
    atArrival(events, DecayState(Nil)) { (user, s, e) =>
      val recent = (math.floor(e.value * 1e6 + 0.5).toLong +: s.recent)
        .take(window)
      val units = recent.zipWithIndex
        .map { case (v, k) => v << (window - 1 - k) }.sum
      (DecayState(recent), Seq(DecayAdvance(user, e.ts, recent.size,
        ((units + denom / 2) / denom).toDouble / 100.0)))
    }
  }
}
