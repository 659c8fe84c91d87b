package graft.streaming

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import graft.SparkSpec
import graft.operators.EventOps

/** The per-user walks behind the streaming attribution family: the
  * watermark-ordered replays equal their batch twins on generated
  * disordered feeds, the ordered driver finalizes rows strictly below the
  * watermark, and `flatMapGroupsWithState` is called only by the two walk
  * drivers and by [[EventStreams.statefulSessions]]. */
class WalkDriverSpec extends SparkSpec {
  import WalkDriverSpec._

  private val Touches = Seq("click", "view")

  /** 16–32 events over nine milliseconds of one minute, sub-millisecond
    * `ts`, gaps in the ids and values in quarters (every equal split of
    * them by two channels is exact). Users 1–4 touch and convert; user 5
    * only signs up and converts, so it never has a touch. */
  private val caseGen: Gen[Case] = {
    val baseMs = Timestamp.valueOf("2024-01-01 10:00:00").getTime
    val event = for {
      offMs <- Gen.choose(0, 8).map(_ * 7500L)
      micros <- Gen.oneOf(0, 1, 499, 999)
      user <- Gen.choose(1L, 5L)
      kind <- if (user == 5L) Gen.oneOf("signup", "purchase")
        else Gen.oneOf("signup", "view", "click", "purchase")
      quarters <- Gen.choose(0, 400)
    } yield {
      val ts = new Timestamp(baseMs + offMs)
      ts.setNanos(ts.getNanos + micros * 1000)
      (ts, user, kind, quarters * 0.25)
    }
    for {
      n <- Gen.choose(16, 32)
      steps <- Gen.listOfN(n, Gen.choose(1L, 9L))
      body <- Gen.listOfN(n, event)
      nSlices <- Gen.choose(2, 3)
    } yield Case(steps.scanLeft(0L)(_ + _).tail.zip(body).map {
      case (id, (ts, user, kind, v)) => (id, ts, user, kind, v)
    }, nSlices)
  }

  /** (a touch fed in a later slice than the conversion it last-touch
    * credits, two events of one user in one millisecond, a user with
    * conversions but no touch) — the three shapes the property must see. */
  private def shapes(c: Case): (Boolean, Boolean, Boolean) = {
    val byUser = c.rows.groupBy(_._3).values.map(_.sortBy(r =>
      (r._2.getTime, r._2.getNanos, r._1)))
    val lateTouch = byUser.exists { rows =>
      rows.zipWithIndex.exists { case (r, i) =>
        r._4 == "purchase" && rows.take(i).reverse.find(p => Touches.contains(p._4))
          .exists(t => t._1 % c.nSlices > r._1 % c.nSlices)
      }
    }
    val sameMs = byUser.exists(rows => rows.map(_._2.getTime).distinct.size < rows.size)
    val untouched = byUser.exists(rows =>
      rows.exists(_._4 == "purchase") && !rows.exists(r => Touches.contains(r._4)))
    (lateTouch, sameMs, untouched)
  }

  private def creditsByChannel(df: DataFrame): Set[(String, Long, Double)] =
    df.groupBy("channel")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet

  private def batchCredits(df: DataFrame): Set[(String, Long, Double)] =
    df.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet

  private def transitionCounts(df: DataFrame): Set[(String, String, Long)] =
    df.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet

  test("the ordered replays equal their batch twins on generated " +
      "disordered feeds") {
    import spark.implicits._
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Boolean, Boolean, Boolean)]
    val prop = Prop.forAllNoShrink(caseGen) { c =>
      seen += shapes(c)
      val ev = c.rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      val order = Seq("ts", "event_id")
      val lastTouch = creditsByChannel(EventStreams.lastTouchReplayOrdered(
        spark, ev, Touches, "purchase", c.nSlices))
      val lastTouchBatch = batchCredits(EventOps.lastTouchAttribution(ev,
        "user_id", order, "event_type", "value", Touches, "purchase"))
      val linear = creditsByChannel(EventStreams.linearReplayOrdered(
        spark, ev, Touches, "purchase", c.nSlices))
      val linearBatch = batchCredits(EventOps.linearAttribution(ev,
        "user_id", order, "event_type", "value", Touches, "purchase"))
      val transitions = transitionCounts(EventStreams.transitionReplayOrdered(
        spark, ev, c.nSlices).groupBy("prev_type", "next_type").count())
      val transitionsBatch = transitionCounts(EventOps.eventTransitions(ev,
        "user_id", order, "event_type").select("prev_type", "next_type", "n"))
      val at = s"nSlices=${c.nSlices} on ${c.rows.size} events"
      (Prop(lastTouch == lastTouchBatch) :|
        s"last touch diverged at $at: $lastTouch vs $lastTouchBatch") &&
        (Prop(linear == linearBatch) :|
          s"linear diverged at $at: $linear vs $linearBatch") &&
        (Prop(transitions == transitionsBatch) :|
          s"transitions diverged at $at: $transitions vs $transitionsBatch")
    }
    val params = Test.Parameters.default.withMinSuccessfulTests(4)
      .withWorkers(1).withInitialSeed(Seed(20261021L))
    val res = Test.check(params, prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
    assert(seen.size == 4)
    assert(seen.exists(_._1), s"no touch fed after the conversion it credits: $seen")
    assert(seen.exists(_._2), s"no two events of one user in one millisecond: $seen")
    assert(seen.exists(_._3), s"no user converting without a touch: $seen")
  }

  test("the ordered driver defers a row AT the watermark until a " +
      "same-millisecond sibling can no longer arrive") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val t = Timestamp.valueOf("2024-01-01 10:00:00").getTime
    def at(ms: Long, micros: Int): Timestamp = {
      val ts = new Timestamp(t + ms)
      ts.setNanos(ts.getNanos + micros * 1000)
      ts
    }
    // user 9's row lifts the watermark to t (1 s delay); user 1's purchase
    // then arrives in t's millisecond, AT the watermark, and its click
    // 50 µs earlier arrives one batch later — still on time, since the
    // late-row cut is at the watermark instant itself. The purchase must
    // wait for it and credit "click"; finalizing it on arrival credits
    // "direct". Two far-future rows then lift the watermark past both and
    // fire user 1's timer (a batch runs with the previous batch's mark).
    val feed = Seq(Seq(EventStreams.Event(1, at(1000, 0), 9, "view", 0)),
      Seq(EventStreams.Event(3, at(0, 100), 1, "purchase", 5.0)),
      Seq(EventStreams.Event(5, at(0, 50), 1, "click", 0)),
      Seq(EventStreams.Event(7, at(10000, 0), 10, "view", 0)),
      Seq(EventStreams.Event(8, at(20000, 0), 11, "view", 0)))
    val in = MemoryStream[EventStreams.Event]
    val q = EventStreams.lastTouchAdvancesOrdered(in.toDS(), Touches,
        "purchase", delay = "1 second").toDF()
      .writeStream.format("memory").queryName("at_watermark")
      .outputMode("append").start()
    try feed.foreach { s => in.addData(s: _*); q.processAllAvailable() }
    finally q.stop()
    val got = spark.table("at_watermark").select("user_id", "channel")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "click")))
  }

  test("flatMapGroupsWithState is called only by the two walk drivers and " +
      "statefulSessions") {
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala")
    val comment = """(?s)/\*.*?\*/|//[^\n]*""".r
    val member = """(?m)^  (?:private(?:\[\w+\])? )?def (\w+)""".r
    val call = """\.flatMapGroupsWithState\b""".r
    val sites = scala.util.Using.resource(Files.walk(root)) { paths =>
      paths.iterator.asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
        .toList.flatMap { p =>
          val code = comment.replaceAllIn(Files.readString(p), "")
          call.findAllMatchIn(code).map { m =>
            val owner = member.findAllMatchIn(code.substring(0, m.start))
              .toList.lastOption.fold("<none>")(_.group(1))
            s"${root.relativize(p)}:$owner"
          }
        }
    }
    assert(sites.sorted == Seq("atArrival", "statefulSessions",
      "watermarkOrdered").map(d => s"graft/streaming/EventStreams.scala:$d"))
  }
}

object WalkDriverSpec {

  /** One generated gate input: (event_id, ts, user_id, event_type, value)
    * rows and the number of round-robin slices. */
  final case class Case(rows: Seq[(Long, Timestamp, Long, String, Double)],
      nSlices: Int)
}
