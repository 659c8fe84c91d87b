package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkSpec
import EventStreams.{Event, SessionSummary}

/** Streaming semantics: windowed agg with watermark-driven late-row drop,
  * session windows, custom stateful sessionization, and batch/stream parity
  * (same transform, same answer). */
class EventStreamsSpec extends SparkSpec {

  private def ts(min: Int, sec: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$min%02d:$sec%02d")

  private def runToMemory(df: org.apache.spark.sql.DataFrame, name: String,
      complete: Boolean = false) = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(if (complete) "complete" else "append").start()
    q.processAllAvailable(); q.stop()
    spark.table(name)
  }

  test("windowedAgg: tumbling windows aggregate by event time; watermark drops late rows") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val in = MemoryStream[Event]
    // watermark advances only between triggers — feed each batch separately
    val q = EventStreams.windowedAgg(in.toDF(), watermark = "10 minutes")
      .writeStream.format("memory").queryName("win").outputMode("append").start()
    in.addData(
      Event(1, ts(0), 1, "click", 1.0), Event(2, ts(3), 1, "click", 2.0),
      Event(3, ts(7), 2, "view", 5.0))
    q.processAllAvailable()
    in.addData(Event(4, ts(30), 1, "click", 4.0)) // advances watermark to 10:20
    q.processAllAvailable()
    in.addData(Event(5, ts(1), 2, "click", 99.0)) // late beyond watermark → dropped
    q.processAllAvailable(); q.stop()
    val out = spark.table("win")
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(2),
        r.getLong(3), r.getDouble(4))).toSet
    // windows [10:00,10:05) click n=2 sum=3 and [10:05,10:10) view emitted on
    // watermark passing; the late 10:01 row is NOT in them
    assert(out.contains(("2024-01-01 10:00:00.0", "click", 2L, 3.0)))
    assert(out.contains(("2024-01-01 10:05:00.0", "view", 1L, 5.0)))
    assert(!out.exists(_._4 == 99.0))
  }

  test("windowedAgg batch/stream parity: same transform runs on a batch frame") {
    import spark.implicits._
    val batch = Seq(
      Event(1, ts(0), 1, "click", 1.0), Event(2, ts(3), 1, "click", 2.0),
      Event(3, ts(7), 2, "view", 5.0)).toDF()
    val rows = EventStreams.windowedAgg(batch).orderBy("window_start", "event_type")
      .collect().map(r => (r.getString(2), r.getLong(3), r.getDouble(4))).toSeq
    assert(rows == Seq(("click", 2L, 3.0), ("view", 1L, 5.0)))
  }

  test("windowedAgg sliding: overlapping windows each count the event") {
    import spark.implicits._
    val batch = Seq(Event(1, ts(7), 1, "click", 2.0)).toDF()
    val rows = EventStreams.windowedAgg(batch, windowLen = "10 minutes",
        slide = Some("5 minutes"))
      .orderBy("window_start")
      .collect().map(r => (r.getTimestamp(0).toString, r.getLong(3), r.getDouble(4)))
    // a 10:07 event lands in [10:00,10:10) and [10:05,10:15)
    assert(rows.toSeq == Seq(
      ("2024-01-01 10:00:00.0", 1L, 2.0),
      ("2024-01-01 10:05:00.0", 1L, 2.0)))
  }

  test("sessionWindows: gap-merged sessions per user") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val in = MemoryStream[Event]
    in.addData(
      Event(1, ts(0), 1, "c", 1.0), Event(2, ts(10), 1, "c", 2.0), // one session (gap 10 < 30)
      Event(3, ts(0), 2, "c", 7.0))
    in.addData(Event(4, ts(59, 59), 9, "c", 0.0)) // push watermark past session close
    val out = runToMemory(
      EventStreams.sessionWindows(in.toDF(), gap = "30 minutes"), "sess")
    val u1 = out.where(col("user_id") === 1).collect()
    assert(u1.length == 1 && u1.head.getAs[Long]("n_events") == 2
      && u1.head.getAs[Double]("total_value") == 3.0)
    assert(out.where(col("user_id") === 2).count() == 1)
  }

  test("statefulSessions: custom state splits on gap and emits on timeout") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val in = MemoryStream[Event]
    val sessions = EventStreams.statefulSessions(
      in.toDF().as[Event], gapMs = 30L * 60 * 1000)
    val q = sessions.toDF().writeStream.format("memory").queryName("statesess")
      .outputMode("append").start()
    in.addData(
      Event(1, ts(0), 1, "c", 1.0), Event(2, ts(5), 1, "c", 2.0),
      Event(3, ts(45), 1, "c", 4.0)) // gap 40min > 30 → closes first session
    q.processAllAvailable()
    in.addData(Event(9, Timestamp.valueOf("2024-01-01 12:00:00"), 9, "c", 0.0))
    q.processAllAvailable(); q.stop()
    val out = spark.table("statesess")
      .where(col("user_id") === 1)
      .orderBy("session_start")
      .as[SessionSummary].collect()
    // first session closed by the in-batch gap; second by event-time timeout
    assert(out.length == 2)
    assert(out(0).n_events == 2 && out(0).total_value == 3.0)
    assert(out(0).session_end == ts(5))
    assert(out(1).n_events == 1 && out(1).total_value == 4.0)
  }

  test("dedupedByContent drops in-watermark duplicates, keeps distinct rows") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val in = MemoryStream[Event]
    val q = EventStreams.dedupedByContent(in.toDF(),
        hashCols = Seq("user_id", "event_type", "value"))
      .writeStream.format("memory").queryName("dedup").outputMode("append").start()
    in.addData(
      Event(1, ts(0), 1, "click", 1.0),
      Event(2, ts(1), 1, "click", 1.0), // duplicate content (id differs)
      Event(3, ts(2), 1, "view", 2.0))
    q.processAllAvailable()
    in.addData(Event(4, ts(3), 1, "click", 1.0)) // still within watermark → dropped
    q.processAllAvailable(); q.stop()
    val out = spark.table("dedup").select("event_id").collect().map(_.getLong(0)).toSet
    assert(out == Set(1L, 3L))
  }

  test("intervalJoin: stream-stream join pairs events within the window only") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val clicks = MemoryStream[Event]
    val views = MemoryStream[Event]
    val joined = EventStreams.intervalJoin(
        clicks.toDF().select(col("user_id"), col("ts"), col("event_id").as("click_id")),
        views.toDF().select(col("user_id"), col("ts"), col("event_id").as("view_id")),
        key = "user_id", before = "5 minutes", after = "5 minutes")
      .select(col("click_id"), col("view_id"))
    val q = joined.writeStream.format("memory").queryName("ivj")
      .outputMode("append").start()
    clicks.addData(Event(100, ts(10), 1, "click", 0))
    views.addData(
      Event(200, ts(8), 1, "view", 0),   // within 5min before → match
      Event(201, ts(14), 1, "view", 0),  // within 5min after → match
      Event(202, ts(30), 1, "view", 0),  // outside → no match
      Event(203, ts(9), 2, "view", 0))   // other user → no match
    q.processAllAvailable()
    clicks.addData(Event(101, Timestamp.valueOf("2024-01-01 11:30:00"), 9, "c", 0))
    views.addData(Event(299, Timestamp.valueOf("2024-01-01 11:30:00"), 8, "v", 0))
    q.processAllAvailable(); q.stop()
    val got = spark.table("ivj").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((100L, 200L), (100L, 201L)))
  }

  test("readEvents/writeParquet: file-source round trip equals batch q28 shape") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    // seed the source dir with the real sf0.001 events table
    graft.core.EventTs.toNanos(spark.read.parquet(s"$sfDir/events.parquet")).write.parquet(s"$dir/in")
    val stream = EventStreams.windowedAgg(
      EventStreams.readEvents(spark, s"$dir/in"), watermark = "0 seconds")
    val q = stream.writeStream.format("parquet")
      .option("path", s"$dir/out").option("checkpointLocation", s"$dir/chk")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()

    val streamed = spark.read.parquet(s"$dir/out")
      .agg(sum("n")).head().getLong(0)
    val batch = EventStreams.windowedAgg(EventStreams.withEventTime(
        graft.core.EventTs.toNanos(spark.read.parquet(s"$sfDir/events.parquet"))))
      .agg(sum("n")).head().getLong(0)
    // append-mode windows all close once the source is drained except the last
    // open window; allow that tail difference
    assert(streamed >= batch - 100 && streamed <= batch)
  }

  test("runningAggSink: foreachBatch merge accumulates across micro-batches") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val in = MemoryStream[Event]
    def run(): Unit = {
      val q = EventStreams.runningAggSink(in.toDF(), "event_type", "value",
        s"$dir/table", s"$dir/chk")
      q.awaitTermination() // AvailableNow terminates when the source drains
    }
    in.addData(Event(1, ts(0), 1, "click", 1.0), Event(2, ts(1), 1, "click", 2.0))
    run()
    in.addData(Event(3, ts(2), 2, "click", 4.0), Event(4, ts(3), 2, "view", 8.0))
    run() // second batch merges into the existing table
    val got = spark.read.parquet(s"$dir/table").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set(("click", 3L, 7.0), ("view", 1L, 8.0)))
  }

  test("linearAdvances: live equal-split credits match the batch attribution") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val batch1 = Seq(
      Event(1, ts(0), 1, "click", 0), Event(2, ts(1), 1, "view", 0),
      Event(3, ts(2), 1, "purchase", 10.0),
      Event(4, ts(0), 2, "purchase", 6.0)) // no touch → direct
    val batch2 = Seq(
      // u1's touch SET (click+view) carries across batches into this split
      Event(5, ts(10), 1, "purchase", 4.0))
    val in = MemoryStream[Event]
    val q = EventStreams.linearAdvances(in.toDS(),
        Seq("click", "view"), "purchase").toDF()
      .writeStream.format("memory").queryName("linear")
      .outputMode("append").start()
    in.addData(batch1: _*); q.processAllAvailable()
    in.addData(batch2: _*); q.processAllAvailable(); q.stop()
    val stream = spark.table("linear").groupBy("channel")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val batchTwin = graft.operators.EventOps.linearAttribution(
        (batch1 ++ batch2).toDF(), "user_id", Seq("ts", "event_id"),
        "event_type", "value", Seq("click", "view"), "purchase")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(stream == batchTwin, s"stream=$stream batch=$batchTwin")
    // 10/2 + 4/2 = 7.0 per channel for u1; direct keeps u2's full 6.0
    assert(stream == Set(("click", 2L, 7.0), ("view", 2L, 7.0),
      ("direct", 1L, 6.0)))
  }

  test("lastTouchAdvances: sub-millisecond timestamps order by full precision, " +
      "matching the batch twin") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    // same millisecond, microseconds apart, event_ids in the OPPOSITE order
    // of time: a millisecond-granularity sort + id tiebreak would process
    // the conversion first and credit "direct"; full-precision ordering
    // (and the batch twin, which sorts by the microsecond ts) sees the
    // touch first and credits "click"
    val touch = Event(2, Timestamp.valueOf("2024-01-01 10:00:00.000100"),
      1, "click", 0)
    val conv = Event(1, Timestamp.valueOf("2024-01-01 10:00:00.000200"),
      1, "purchase", 5.0)
    val in = MemoryStream[Event]
    val q = EventStreams.lastTouchAdvances(in.toDS(),
        Seq("click"), "purchase").toDF()
      .writeStream.format("memory").queryName("subms")
      .outputMode("append").start()
    in.addData(conv, touch) // arrival order ≠ event-time order
    q.processAllAvailable(); q.stop()
    val stream = spark.table("subms")
      .select("channel", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSet
    val batchTwin = graft.operators.EventOps.lastTouchAttribution(
        Seq(conv, touch).toDF(), "user_id", Seq("ts", "event_id"),
        "event_type", "value", Seq("click"), "purchase")
      .select("channel").collect().map(_.getString(0)).toSet
    assert(stream == Set(("click", 5.0)), s"stream=$stream")
    assert(stream.map(_._1) == batchTwin, s"stream=$stream batch=$batchTwin")
  }

  test("driftMonitorSink: merged counts drive a per-batch PSI generation " +
      "that matches the batch operator") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_drift").toString
    val in = MemoryStream[Event]
    def run(): Unit = {
      val q = EventStreams.driftMonitorSink(in.toDF(), "event_type",
        floor(col("value")), s"$dir/counts", s"$dir/metrics", s"$dir/chk")
      q.awaitTermination()
    }
    val batch1 = Seq(
      Event(1, ts(0), 1, "click", 0.5), Event(2, ts(1), 1, "click", 0.7),
      Event(3, ts(2), 2, "view", 1.5))
    val batch2 = Seq(
      Event(4, ts(3), 2, "click", 1.2), Event(5, ts(4), 3, "view", 0.2))
    in.addData(batch1: _*); run()
    in.addData(batch2: _*); run()
    // standing counts = histogram of ALL events seen so far
    val counts = spark.read.parquet(s"$dir/counts").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(counts == Set(("click", 0L, 2L), ("click", 1L, 1L),
      ("view", 1L, 1L), ("view", 0L, 1L)))
    // two generations appended; the latest must equal the batch operator
    // over the full event set
    val metrics = spark.read.parquet(s"$dir/metrics")
    assert(metrics.select("batch_id").distinct().count() == 2)
    val latest = metrics.where(col("batch_id") === 1)
      .select("g", "psi_micro").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val batchTwin = graft.operators.ScaleOps.psiDrift(
        (batch1 ++ batch2).toDF(), "event_type", floor(col("value")))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(latest == batchTwin, s"stream=$latest batch=$batchTwin")
    // flags encode the conventional 0.1/0.25 gates over psi_micro
    assert(metrics.where(col("flag") === "ok" && col("psi_micro") >= 100000L)
      .isEmpty)
    assert(metrics.where(col("flag") =!= "ok" && col("psi_micro") < 100000L)
      .isEmpty)
  }

  test("lastTouchAdvances vs lastTouchAdvancesOrdered: a cross-batch late touch " +
      "deviates at-arrival (pinned) and matches batch when ordered") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    // batch 1: the conversion arrives FIRST; batch 2: its touch surfaces
    // late (event time BEFORE the conversion, within the 10-min watermark)
    val conv = Event(1, ts(5), 1, "purchase", 9.0)
    val lateTouch = Event(2, ts(2), 1, "click", 0)
    val flush = Event(3, ts(40), 2, "view", 0) // advances the watermark past ts(5)
    def feed[T](mk: => (MemoryStream[Event], org.apache.spark.sql.streaming.StreamingQuery)) = {
      val (in, q) = mk
      in.addData(conv); q.processAllAvailable()
      in.addData(lateTouch); q.processAllAvailable()
      in.addData(flush); q.processAllAvailable()
      q.processAllAvailable(); q.stop()
    }
    // at-arrival twin: the conversion was credited "direct" the moment it
    // arrived — the documented deviation this test pins
    val inA = MemoryStream[Event]
    feed((inA, EventStreams.lastTouchAdvances(inA.toDS(), Seq("click"), "purchase")
      .toDF().writeStream.format("memory").queryName("at_arrival")
      .outputMode("append").start()))
    val atArrival = spark.table("at_arrival")
      .select("channel").collect().map(_.getString(0)).toList
    assert(atArrival == List("direct"), s"at-arrival pinned deviation: $atArrival")
    // ordered twin: the conversion waits for the watermark, the late touch
    // slots in by event time, and the credit matches the batch operator
    val inO = MemoryStream[Event]
    feed((inO, EventStreams.lastTouchAdvancesOrdered(inO.toDS(), Seq("click"),
        "purchase", delay = "10 minutes")
      .toDF().writeStream.format("memory").queryName("ordered")
      .outputMode("append").start()))
    val ordered = spark.table("ordered")
      .select("channel").collect().map(_.getString(0)).toList
    val batchTwin = graft.operators.EventOps.lastTouchAttribution(
        Seq(conv, lateTouch, flush).toDF(), "user_id", Seq("ts", "event_id"),
        "event_type", "value", Seq("click"), "purchase")
      .collect().map(r => (r.getString(0), r.getDouble(2))).toSet
    assert(ordered == List("click"), s"ordered=$ordered")
    assert(batchTwin == Set(("click", 9.0)), s"batch=$batchTwin")
  }

  test("linearAdvancesOrdered: late touch joins the split set; credits match batch") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val events = Seq(
      Event(1, ts(1), 1, "view", 0),        // on-time touch
      Event(2, ts(6), 1, "purchase", 8.0),  // conversion, arrives batch 1
      Event(3, ts(3), 1, "click", 0))       // late touch, arrives batch 2
    val flush = Event(4, ts(40), 2, "view", 0)
    val in = MemoryStream[Event]
    val q = EventStreams.linearAdvancesOrdered(in.toDS(),
        Seq("click", "view"), "purchase", delay = "10 minutes").toDF()
      .writeStream.format("memory").queryName("lin_ordered")
      .outputMode("append").start()
    in.addData(events(0), events(1)); q.processAllAvailable()
    in.addData(events(2)); q.processAllAvailable()
    in.addData(flush); q.processAllAvailable(); q.processAllAvailable(); q.stop()
    val stream = spark.table("lin_ordered").groupBy("channel")
      .agg(round(sum("value"), 2).as("v"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSet
    val batchTwin = graft.operators.EventOps.linearAttribution(
        (events :+ flush).toDF(), "user_id", Seq("ts", "event_id"),
        "event_type", "value", Seq("click", "view"), "purchase")
      .collect().map(r => (r.getString(0), r.getDouble(2))).toSet
    // click arrived after the conversion but event-time-precedes it →
    // the 8.0 splits click/view 4.0 each, exactly as batch computes
    assert(stream == Set(("click", 4.0), ("view", 4.0)), s"stream=$stream")
    assert(stream == batchTwin, s"stream=$stream batch=$batchTwin")
  }

  test("decayAdvances: state survives a checkpointed stop/restart — " +
      "resumed scores equal the batch operator over the full history") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_decay_ckpt")
      .toString
    val (inDir, outDir, chk) = (s"$base/in", s"$base/out", s"$base/chk")
    def writeBatch(evs: Seq[(Long, Long, Long, String, Double, String)]): Unit =
      evs.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("append").parquet(inDir) // flat files: the source lists no subdirs
    def runOnce(): Unit = {
      val events = EventStreams.readEvents(spark, inDir).as[Event]
      val q = EventStreams.decayAdvances(events, window = 24).toDF()
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", chk).start()
      q.processAllAvailable(); q.stop()
    }
    val sec = 1000000000L
    writeBatch(Seq((1L, 0L, 1L, "view", 1.0, "{}"),
      (2L, 10 * sec, 1L, "view", 2.0, "{}")))
    runOnce()
    // the process "dies"; a NEW query resumes from the same checkpoint
    writeBatch(Seq((3L, 20 * sec, 1L, "view", 4.0, "{}")))
    runOnce()
    val out = spark.read.parquet(outDir).collect()
    assert(out.length == 3) // one advance per event, none duplicated
    val last = out.maxBy(r => r.getTimestamp(1).getTime).getDouble(3)
    // state carried across the restart: 4 + 2·½ + 1·¼ = 5.25, exactly the
    // batch operator's answer over the full history
    assert(last == 5.25)
  }

  test("driftMonitorSink: a replayed batch appends no duplicate PSI generation") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_drift_replay").toString
    val in = MemoryStream[Event]
    def run(chk: String): Unit = {
      val q = EventStreams.driftMonitorSink(in.toDF(), "event_type",
        floor(col("value")), s"$dir/counts", s"$dir/metrics", chk)
      q.awaitTermination()
    }
    val batch = Seq(
      Event(1, ts(0), 1, "click", 0.5), Event(2, ts(1), 1, "click", 1.7),
      Event(3, ts(2), 2, "view", 0.2))
    in.addData(batch: _*); run(s"$dir/chk")
    val before = spark.read.parquet(s"$dir/metrics").collect()
      .map(r => r.toSeq).toSeq
    // simulate a crash AFTER the counts swap + metrics append but BEFORE
    // the checkpoint commit: the restart replays the same data as batchId 0
    // (a fresh checkpoint restarts numbering at 0 against the standing
    // table, whose _last_batch marker already says 0 landed)
    val in2 = MemoryStream[Event]
    in2.addData(batch: _*)
    val q2 = EventStreams.driftMonitorSink(in2.toDF(), "event_type",
      floor(col("value")), s"$dir/counts", s"$dir/metrics", s"$dir/chk2")
    q2.awaitTermination()
    // counts unchanged (merge skipped) AND metrics unchanged (append
    // skipped) — one generation per logical batch, even across replays
    val counts = spark.read.parquet(s"$dir/counts").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(counts == Set(("click", 0L, 1L), ("click", 1L, 1L), ("view", 0L, 1L)))
    val after = spark.read.parquet(s"$dir/metrics").collect()
      .map(r => r.toSeq).toSeq
    assert(after.sortBy(_.toString) == before.sortBy(_.toString),
      s"replay duplicated metrics: before=${before.size} after=${after.size}")
  }

  test("driftMonitorRestartReplay: the PSI stream is restart-invisible — " +
      "output independent of where the kill lands, one generation per batch") {
    // The injected kill dies in the merge-landed/append-missing window
    // (the one crash point the applied-flag alone cannot survive); the
    // resumed run must repair the missing generation, so the full metrics
    // history equals an uninterrupted run's no matter WHICH slice crashed.
    val ev = EventStreams.withEventTime(graft.core.EventTs.toNanos(
        spark.read.parquet(s"$sfDir/events.parquet")))
      .where(col("user_id") % 5 === 0)
    def run(crashOn: Int) = EventStreams.driftMonitorRestartReplay(
        spark, ev, "event_type", floor(col("value") * 2), nSlices = 4,
        crashOnSlice = crashOn)
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    val early = run(1)
    val late = run(3)
    assert(early == late,
      s"crash position leaked into the metrics history: ${early.size} vs " +
        s"${late.size} rows")
    assert(early.nonEmpty, "vacuous gate: no PSI generations at all")
    // effectively-once: no (batch_id, g) row may appear twice
    val keys = early.map(r => (r.head, r(1)))
    assert(keys.distinct.size == keys.size,
      "a replayed batch duplicated a PSI generation")
  }

  test("runningAggSink: recovers history from a crash between the swap renames") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_sink_crash").toString
    val in = MemoryStream[Event]
    def run(): Unit = {
      val q = EventStreams.runningAggSink(in.toDF(), "event_type", "value",
        s"$dir/table", s"$dir/chk")
      q.awaitTermination()
    }
    in.addData(Event(1, ts(0), 1, "click", 1.0), Event(2, ts(1), 1, "view", 2.0))
    run()
    // simulate dying between `dir.renameTo(old)` and `tmp.renameTo(dir)`:
    // the table dir is gone and _old holds the only copy of the history
    val table = new java.io.File(s"$dir/table")
    val old = new java.io.File(s"$dir/table_old")
    assert(table.renameTo(old))
    in.addData(Event(3, ts(2), 2, "click", 4.0))
    run() // must restore _old -> table (and its marker) before merging
    val got = spark.read.parquet(s"$dir/table").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set(("click", 2L, 5.0), ("view", 1L, 2.0)))
    assert(!old.exists()) // backup deleted only after the successful swap
  }

  test("corpusIngestSink: per-batch incremental dedup against the standing corpus") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_ingest").toString
    val in = MemoryStream[(Long, String)]
    val textA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val textB = "one two three four five six seven eight nine ten eleven"
    val textC = "red orange yellow green blue indigo violet cyan magenta white"
    def run(): Unit = {
      val q = EventStreams.corpusIngestSink(
        in.toDF().toDF("doc_id", "text"), s"$dir/corpus", s"$dir/chk",
        minJaccard = 0.8, metricsDir = Some(s"$dir/metrics"),
        minQuality = Some(0.4))
      q.awaitTermination()
    }
    in.addData((1L, textA), (2L, textB))
    run()
    assert(spark.read.parquet(s"$dir/corpus").select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    // batch 2: an exact dup of a corpus doc (drops vs corpus), a new doc,
    // and an exact dup WITHIN the batch (greater id drops)
    in.addData((3L, textA), (4L, textC), (5L, textC))
    run()
    val got = spark.read.parquet(s"$dir/corpus").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got.keySet == Set(1L, 2L, 4L),
      s"expected corpus {1,2,4}, got ${got.keySet}")
    assert(got(4L) == textC)
    // batch 3: near-dup of a doc admitted in batch 2 — the standing-corpus
    // check must see batch-2 survivors, not just the initial corpus
    // batch 3: a near-dup of a batch-2 survivor AND a junk doc the quality
    // gate must stop before the dedup join
    in.addData((6L, textC),
      (7L, Seq.fill(8)("!@#$%^&*()!!##").mkString(" "))) // score ≈ 0.19
    run()
    assert(spark.read.parquet(s"$dir/corpus").select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L, 4L))
    // crawl-health metrics: one row per applied batch, admitted + suppressed
    // (dedup drops AND quality drops) re-derive the corpus trajectory exactly
    val metrics = spark.read.parquet(s"$dir/metrics").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    assert(metrics.keySet.size == 3, s"one metrics row per batch: $metrics")
    val byOrder = metrics.toSeq.sortBy(_._1).map(_._2)
    assert(byOrder(0) == ((2L, 2L, 0L, 2L))) // both admitted
    assert(byOrder(1) == ((3L, 1L, 2L, 3L))) // dup-vs-corpus + in-batch dup
    assert(byOrder(2) == ((2L, 0L, 2L, 3L))) // near-dup + quality-gated junk
  }

  test("corpusIngestSink: the streaming blocklist gate stops policy hits pre-dedup") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_ingest_pol").toString
    val in = MemoryStream[(Long, String)]
    val clean = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val hit = "one two three buy cheap pills four five six seven eight nine"
    def run(): Unit = {
      val q = EventStreams.corpusIngestSink(
        in.toDF().toDF("doc_id", "text"), s"$dir/corpus", s"$dir/chk",
        minJaccard = 0.8, blockedPatterns = Seq("buy cheap pills", "crypto"))
      q.awaitTermination()
    }
    in.addData((1L, clean), (2L, hit))
    run()
    assert(spark.read.parquet(s"$dir/corpus").select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(1L),
      "policy hit must never reach the corpus")
  }

  test("corpusIngestSinkIndexed: same admissions as the unindexed sink on " +
      "real documents, batch by batch") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    // three batches of real corpus docs, sliced by doc_id % 3 — the
    // indexed sink must admit EXACTLY the docs the unindexed sink admits,
    // including cross-batch near-dups that only exist in the standing
    // corpus via an earlier admission (the index-append path)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val slices = docs.groupBy(_._1 % 3).toSeq.sortBy(_._1).map(_._2.toSeq)
    def drive(indexed: Boolean): Set[Long] = {
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_ing_${indexed}_").toString
      val in = MemoryStream[(Long, String)]
      slices.foreach { s =>
        in.addData(s: _*)
        val q =
          if (indexed) EventStreams.corpusIngestSinkIndexed(
            in.toDF().toDF("doc_id", "text"), s"$dir/corpus", s"$dir/chk",
            minJaccard = 0.8)
          else EventStreams.corpusIngestSink(
            in.toDF().toDF("doc_id", "text"), s"$dir/corpus", s"$dir/chk",
            minJaccard = 0.8)
        q.awaitTermination()
      }
      spark.read.parquet(s"$dir/corpus").select("doc_id")
        .collect().map(_.getLong(0)).toSet
    }
    val plain = drive(indexed = false)
    val indexed = drive(indexed = true)
    assert(indexed == plain,
      s"indexed/unindexed admission diverged: only-indexed=" +
        s"${(indexed -- plain).toSeq.sorted.take(5)} only-plain=" +
        s"${(plain -- indexed).toSeq.sorted.take(5)}")
    assert(plain.size < docs.length,
      "vacuous gate: no doc was ever dropped as a near-dup")
  }

  test("corpusIngestSinkIndexed: a kill between the corpus swap and the " +
      "index append repairs the index — later batches still dedup right") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_ing_crash").toString
    val textA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val textB = "one two three four five six seven eight nine ten eleven"
    val textC = "red orange yellow green blue indigo violet cyan magenta white"
    val in = MemoryStream[(Long, String)]
    def run(): Unit = {
      val q = EventStreams.corpusIngestSinkIndexed(
        in.toDF().toDF("doc_id", "text"), s"$dir/corpus", s"$dir/chk",
        minJaccard = 0.8)
      q.awaitTermination()
    }
    in.addData((1L, textA), (2L, textB)); run()
    // simulate the post-swap/pre-append crash for batch 1: feed it, run,
    // then REWIND the index to its pre-batch state (as if the append never
    // happened) and replay the batch against a fresh checkpoint whose
    // numbering lands on the same marker value — the repair branch must
    // drop the stale index so batch 2's probe rebuilds from the corpus
    in.addData((3L, textC)); run()
    val sigT = graft.operators.ScaleOps
      .bucketTableName("graft_bkt_ingsig", s"$dir/corpus")
    val bandT = graft.operators.ScaleOps
      .bucketTableName("graft_bkt_ingband", s"$dir/corpus")
    graft.operators.Dedup.dropDedupIndex(spark, sigT, bandT)
    // index gone (crash-torn analogue); corpus still has {1,2,3}. A dup
    // of doc 3 must STILL drop: the rebuild path derives the index from
    // the swapped corpus, which includes batch 1's admission
    in.addData((4L, textC), (5L, "totally fresh words apple pear plum fig date kiwi mango")); run()
    val got = spark.read.parquet(s"$dir/corpus").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 2L, 3L, 5L),
      s"expected {1,2,3,5} (4 is a dup of 3), got ${got.toSeq.sorted}")
  }

  test("funnelAdvances: live stage counts match the batch funnel on in-order data") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val steps = Seq("signup", "view", "purchase")
    val batch1 = Seq(
      Event(1, ts(0), 1, "signup", 0), Event(2, ts(1), 1, "view", 0),
      Event(3, ts(0), 2, "view", 0),   // pre-signup view: must not count
      Event(4, ts(1), 2, "signup", 0))
    val batch2 = Seq(
      Event(5, ts(10), 1, "purchase", 0), // completes u1 across batches
      Event(6, ts(10), 2, "view", 0),
      Event(7, ts(10), 3, "signup", 0))
    val in = MemoryStream[Event]
    val q = EventStreams.funnelAdvances(in.toDS(), steps).toDF()
      .writeStream.format("memory").queryName("funnel")
      .outputMode("append").start()
    in.addData(batch1: _*); q.processAllAvailable()
    in.addData(batch2: _*); q.processAllAvailable(); q.stop()
    val stream = spark.table("funnel").groupBy("stage")
      .agg(count(lit(1)).as("users"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val batchTwin = graft.operators.EventOps.funnelSteps(
        (batch1 ++ batch2).toDF(), "user_id", Seq("ts", "event_id"),
        "event_type", steps)
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(stream == batchTwin, s"stream=$stream batch=$batchTwin")
    // u1 completed → exactly one purchase-stage advance, stamped at ts(10)
    val done = spark.table("funnel").where(col("stage") === 3).collect()
    assert(done.length == 1 && done(0).getLong(0) == 1L)
  }

  test("botFlagAdvances: one flag at the crossing, none for bursty, " +
      "flagged set matches the batch gate") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    def at(sec: Long) = new Timestamp(sec * 1000L)
    // u1: metronome every 10 s, 12 events split across two batches — the
    // crossing happens mid-batch-2; u2: alternating 1 s / 1000 s gaps
    val u1 = (0 until 12).map(i => Event(100L + i, at(i * 10L), 1, "view", 0))
    val u2 = (0 until 12).map { i =>
      val t = (0 until i).map(j => if (j % 2 == 0) 1L else 1000L).sum
      Event(200L + i, at(t), 2, "view", 0)
    }
    val (b1, b2) = (u1.take(6) ++ u2.take(6), u1.drop(6) ++ u2.drop(6))
    val in = MemoryStream[Event]
    val q = EventStreams.botFlagAdvances(in.toDS(), minEvents = 10,
        cvNum = 1, cvDen = 20).toDF()
      .writeStream.format("memory").queryName("botflags")
      .outputMode("append").start()
    in.addData(b1: _*); q.processAllAvailable()
    in.addData(b2: _*); q.processAllAvailable(); q.stop()
    val flags = spark.table("botflags").collect()
    assert(flags.length == 1 && flags(0).getLong(0) == 1L, flags.toSeq)
    assert(flags(0).getLong(4) == 0L) // metronome: zero variance numerator
    // the flagged set equals the batch operator over the full history
    val batchFlagged = graft.operators.EventOps.botCandidates(
        (u1 ++ u2).toDF().withColumn("ts", expr("CAST(ts AS LONG) * 1000000000")),
        "user_id", Seq("ts", "event_id"), minEvents = 10,
        cvNum = 1, cvDen = 20)
      .collect().map(_.getLong(0)).toSet
    assert(batchFlagged == Set(1L))
  }

  test("decayAdvances: latest live score per user equals the batch operator, " +
      "ring state carries across batches and truncates at the window") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    // u1: 3 events split across batches (state carry); u2: 30 events with
    // window 24 (truncation exercises the ring's take)
    val batch1 = Seq(Event(1, ts(0), 1, "click", 1.0),
      Event(2, ts(1), 1, "click", 2.0)) ++
      (0 until 20).map(i => Event(100L + i, ts(2, i), 2, "view", 1.0))
    val batch2 = Seq(Event(3, ts(10), 1, "click", 4.0)) ++
      (0 until 10).map(i => Event(200L + i, ts(12, i), 2, "view", 1.0))
    val in = MemoryStream[Event]
    val q = EventStreams.decayAdvances(in.toDS(), window = 24).toDF()
      .writeStream.format("memory").queryName("decay")
      .outputMode("append").start()
    in.addData(batch1: _*); q.processAllAvailable()
    in.addData(batch2: _*); q.processAllAvailable(); q.stop()
    val all = spark.table("decay").collect()
    // one advance per event
    assert(all.length == batch1.length + batch2.length)
    // latest advance per user (max ts) vs the batch operator on everything
    val latest = all.map(r => (r.getLong(0), r.getTimestamp(1),
        r.getInt(2), r.getDouble(3)))
      .groupBy(_._1).map { case (u, xs) =>
        val last = xs.maxBy(x => (x._2.getTime, x._2.getNanos))
        u -> ((last._3.toLong, last._4))
      }
    val batchTwin = graft.operators.EventOps.decayScore(
        (batch1 ++ batch2).toDF(), "user_id", Seq("ts", "event_id"),
        "value", window = 24)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    assert(latest == batchTwin, s"stream=$latest batch=$batchTwin")
    // u1's running scores are the hand-computed halving sequence
    val u1 = all.filter(_.getLong(0) == 1L)
      .sortBy(r => r.getTimestamp(1).getTime).map(_.getDouble(3)).toSeq
    assert(u1 == Seq(1.0, 2.5, 5.25)) // 1; 2+0.5; 4+1+0.25
  }

  test("lastTouchAdvances: live credits match the batch attribution on in-order data") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val batch1 = Seq(
      Event(1, ts(0), 1, "click", 0), Event(2, ts(1), 1, "purchase", 10.0),
      Event(3, ts(0), 2, "purchase", 5.0), // no prior touch → direct
      Event(4, ts(1), 3, "view", 0))
    val batch2 = Seq(
      // u3's touch state (view) carries ACROSS batches into this credit
      Event(5, ts(10), 3, "purchase", 7.0),
      // u1 re-touches then converts again inside one batch
      Event(6, ts(10), 1, "view", 0), Event(7, ts(11), 1, "purchase", 1.0))
    val in = MemoryStream[Event]
    val q = EventStreams.lastTouchAdvances(in.toDS(),
        Seq("click", "view"), "purchase").toDF()
      .writeStream.format("memory").queryName("lasttouch")
      .outputMode("append").start()
    in.addData(batch1: _*); q.processAllAvailable()
    in.addData(batch2: _*); q.processAllAvailable(); q.stop()
    val stream = spark.table("lasttouch").groupBy("channel")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val batchTwin = graft.operators.EventOps.lastTouchAttribution(
        (batch1 ++ batch2).toDF(), "user_id", Seq("ts", "event_id"),
        "event_type", "value", Seq("click", "view"), "purchase")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(stream == batchTwin, s"stream=$stream batch=$batchTwin")
    assert(stream == Set(("click", 1L, 10.0), ("direct", 1L, 5.0),
      ("view", 2L, 8.0)))
  }

  test("transitionAdvancesOrdered: adjacency counts match the batch matrix, " +
      "late row slots in by event time") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val batch1 = Seq(
      Event(1, ts(0), 1, "signup", 0), Event(2, ts(2), 1, "view", 0),
      Event(3, ts(3), 1, "purchase", 0),
      Event(4, ts(0), 2, "view", 0))
    // u1's click arrives a batch LATE but event-time sits between signup
    // and view — ordered replay must produce signup→click→view, never the
    // arrival-order signup→view→…→click
    val late = Event(5, ts(1), 1, "click", 0)
    val batch2 = Seq(Event(6, ts(10), 2, "view", 0))
    val flush = Event(7, ts(40), 3, "view", 0)
    val in = MemoryStream[Event]
    val q = EventStreams.transitionAdvancesOrdered(in.toDS(),
        delay = "10 minutes").toDF()
      .writeStream.format("memory").queryName("transitions")
      .outputMode("append").start()
    in.addData(batch1: _*); q.processAllAvailable()
    in.addData(late); in.addData(batch2: _*); q.processAllAvailable()
    in.addData(flush); q.processAllAvailable(); q.processAllAvailable(); q.stop()
    val stream = spark.table("transitions")
      .groupBy("prev_type", "next_type").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val batchTwin = graft.operators.EventOps.eventTransitions(
        (batch1 ++ Seq(late) ++ batch2 ++ Seq(flush)).toDF(),
        "user_id", Seq("ts", "event_id"), "event_type")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(stream == batchTwin, s"stream=$stream batch=$batchTwin")
    assert(stream == Set(
      ("signup", "click", 1L), ("click", "view", 1L),
      ("view", "purchase", 1L), ("view", "view", 1L)))
  }

  test("funnelReplay: micro-batch replay equals the batch-greedy walk, " +
      "including cross-batch advances") {
    import spark.implicits._
    val steps = Seq("signup", "view", "purchase")
    // u1 completes (purchase lands in a later time slice than signup/view)
    // then sees another signup in a still-later slice — a completed funnel
    // must NOT restart; u2's pre-signup view must not count; u3 never
    // advances past signup
    val ev = Seq(
      (1L, ts(0), 1L, "signup", 0.0), (2L, ts(1), 1L, "view", 0.0),
      (3L, ts(0), 2L, "view", 0.0), (4L, ts(1), 2L, "signup", 0.0),
      (5L, ts(40), 1L, "purchase", 0.0), (6L, ts(41), 2L, "view", 0.0),
      (7L, ts(42), 3L, "signup", 0.0), (8L, ts(58), 1L, "signup", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = EventStreams.funnelReplay(spark, ev, steps, nBatches = 3)
      .orderBy("user_id", "stage")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(got === Seq(
      (1L, 1L, "signup"), (1L, 2L, "view"), (1L, 3L, "purchase"),
      (2L, 1L, "signup"), (2L, 2L, "view"),
      (3L, 1L, "signup")))
    // stage counts equal the batch operator's funnel
    val batch = graft.operators.EventOps.funnelSteps(
        ev.withColumn("ts", expr("unix_micros(ts) * 1000")),
        "user_id", Seq("ts", "event_id"), "event_type", steps)
      .collect().map(r => r.getInt(0).toLong -> r.getLong(2)).toMap
    val stream = got.groupBy(_._2).map { case (k, v) => k -> v.size.toLong }
    assert(stream === batch)
  }

  test("funnelReplay: empty input yields an empty frame, schema intact") {
    import spark.implicits._
    val ev = Seq.empty[(Long, Timestamp, Long, String, Double)]
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = EventStreams.funnelReplay(spark, ev, Seq("signup"), 2)
    assert(out.count() === 0L)
    assert(out.columns.toSeq === Seq("user_id", "stage", "stage_name", "ts_us"))
  }

  test("lastTouchReplay: cross-batch channel swap credits the latest touch") {
    import spark.implicits._
    // slices at nBatches=3 over [0, 58]s: [0,19] [20,39] [40,59] — u1's
    // click lands two batches before its purchase (state carry), and the
    // view in the middle slice must SWAP the credit; u2 converts untouched
    val ev = Seq(
      (1L, ts(0), 1L, "click", 1.0), (2L, ts(21), 1L, "view", 1.0),
      (3L, ts(58), 1L, "purchase", 7.0),
      (4L, ts(1), 2L, "purchase", 3.0),
      (5L, ts(2), 3L, "view", 1.0), (6L, ts(40), 3L, "purchase", 2.0),
      (7L, ts(41), 3L, "click", 1.0), (8L, ts(57), 3L, "purchase", 4.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = EventStreams.lastTouchReplay(spark, ev, Seq("click", "view"),
        "purchase", nBatches = 3)
      .orderBy("user_id", "ts_us")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(got === Seq(
      (1L, "view", 7.0),    // click swapped out by the later view
      (2L, "direct", 3.0),  // no touch before conversion
      (3L, "view", 2.0),    // first purchase: only the view precedes
      (3L, "click", 4.0)))  // second purchase: click swapped in at 41s
  }

  test("linearReplay: distinct-touch set unions across batches; " +
      "equal splits match the batch semantics") {
    import spark.implicits._
    // u1 touches click (batch 1) and view (batch 2) then converts in
    // batch 3: the SET must have merged across batches → two 5.0 credits;
    // a second conversion reuses the same set; u2 is direct
    val ev = Seq(
      (1L, ts(0), 1L, "click", 1.0), (2L, ts(21), 1L, "view", 1.0),
      (3L, ts(40), 1L, "purchase", 10.0), (4L, ts(58), 1L, "purchase", 6.0),
      (5L, ts(1), 2L, "purchase", 3.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = EventStreams.linearReplay(spark, ev, Seq("click", "view"),
        "purchase", nBatches = 3)
      .orderBy("user_id", "ts_us", "channel")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(got === Seq(
      (1L, "click", 5.0), (1L, "view", 5.0),
      (1L, "click", 3.0), (1L, "view", 3.0),
      (2L, "direct", 3.0)))
  }

  test("lastTouchReplayOrdered: a DISORDERED feed still credits exactly " +
      "like the batch walk (watermark buffer + two-sentinel flush)") {
    import spark.implicits._
    // event_id % 3 slices: the purchase (id 3) arrives in slice 0 BEFORE
    // its earlier-in-time view touch (id 2, slice 2) — an at-arrival
    // attributor would say "click"; the ordered variant must buffer,
    // replay in event time, and say "view"
    val ev = Seq(
      (1L, ts(0), 1L, "click", 1.0), (2L, ts(10), 1L, "view", 1.0),
      (3L, ts(20), 1L, "purchase", 7.0),
      (4L, ts(1), 2L, "purchase", 3.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = EventStreams.lastTouchReplayOrdered(spark, ev,
        Seq("click", "view"), "purchase", nSlices = 3)
      .orderBy("user_id", "ts_us")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(got === Seq((1L, "view", 7.0), (2L, "direct", 3.0)))
  }

  test("lastTouchRestartReplayOrdered: a kill MID-BUFFER (nothing " +
      "finalized) recovers pending buffers, watermark, and timers") {
    import spark.implicits._
    val before = spark.conf
      .getOption("spark.sql.streaming.stateStore.providerClass")
    // slices by event_id % 4, kill after slices {0, 1}: u1's purchase
    // (id 4 → slice 0) and click (id 1 → slice 1) are fed BEFORE the kill
    // and — the watermark spanning the whole range — sit entirely in the
    // pending buffer at the restart; the view (id 3 → slice 3) that must
    // win last-touch arrives only in the RESUMED query, which then flushes
    // on the sentinels. Lost state would drop u1's purchase or credit
    // "click"; a re-emitted batch would double u2's direct credit.
    val ev = Seq(
      (1L, ts(0), 1L, "click", 1.0),
      (3L, ts(10), 1L, "view", 1.0),
      (4L, ts(20), 1L, "purchase", 7.0),
      (5L, ts(1), 2L, "purchase", 3.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = EventStreams.lastTouchRestartReplayOrdered(spark, ev,
        Seq("click", "view"), "purchase", nSlices = 4, killAfter = 2)
      .orderBy("user_id", "ts_us")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(got === Seq((1L, "view", 7.0), (2L, "direct", 3.0)))
    // provider override is scoped to the gate and restored
    assert(spark.conf
      .getOption("spark.sql.streaming.stateStore.providerClass") === before)
  }

  test("linearReplayOrdered: disordered touches still union into the " +
      "batch-exact split set; empty input keeps the schema") {
    import spark.implicits._
    // touches land in slices AFTER the conversion's slice — the buffered
    // replay must still split 10.0 across both channels
    val ev = Seq(
      (3L, ts(0), 1L, "click", 1.0), (6L, ts(10), 1L, "view", 1.0),
      (1L, ts(20), 1L, "purchase", 10.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = EventStreams.linearReplayOrdered(spark, ev,
        Seq("click", "view"), "purchase", nSlices = 3)
      .orderBy("channel")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(got === Seq((1L, "click", 5.0), (1L, "view", 5.0)))
    val empty = Seq.empty[(Long, Timestamp, Long, String, Double)]
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = EventStreams.lastTouchReplayOrdered(spark, empty,
      Seq("click"), "purchase", nSlices = 2)
    assert(out.count() === 0L)
    assert(out.columns.toSeq === Seq("user_id", "channel", "value", "ts_us"))
  }

  test("runningTotalsReplay: cumulative micro totals per active slice, " +
      "provider conf scoped and restored") {
    import spark.implicits._
    val before = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    // u1 active in slices 1 and 3 of [0, 58]s (cuts at 20/40): two
    // cumulative rows; u2 active once; micro totals exact
    val ev = Seq(
      (1L, ts(0), 1L, "click", 1.25), (2L, ts(1), 1L, "view", 2.5),
      (3L, ts(58), 1L, "purchase", 3.125),
      (4L, ts(21), 2L, "click", 0.000001))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = EventStreams.runningTotalsReplay(spark, ev, nBatches = 3)
      .orderBy("user_id", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === Seq(
      (1L, 2L, 3750000L),   // slice 1: 1.25 + 2.5
      (1L, 3L, 6875000L),   // slice 3 cumulative: + 3.125
      (2L, 1L, 1L)))        // micro-unit floor(0.000001e6 + .5) = 1
    assert(spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      === before, "provider conf must be restored")
  }

  test("transitionReplayOrdered: disordered slices yield the exact " +
      "event-time adjacency — no phantom arrival-order pairs") {
    import spark.implicits._
    // arrival order (by event_id % 3 slices): ids {3} then {1} then {2} —
    // a naive at-arrival tracker would emit (C,A) and (A,B); the ordered
    // replay must emit the event-time walk A→B→C only
    val ev = Seq(
      (1L, ts(0), 1L, "A", 0.0), (2L, ts(10), 1L, "B", 0.0),
      (3L, ts(20), 1L, "C", 0.0),
      (4L, ts(0), 2L, "solo", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = EventStreams.transitionReplayOrdered(spark, ev, nSlices = 3)
      .orderBy("ts_us")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(got === Seq((1L, "A", "B"), (1L, "B", "C")))
  }
}
