package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import graft.SparkSpec

/** The streaming gate harness behind the `*Replay*` gates: its scope is
  * undone when a gate fails, and a kill-and-resume is invisible in the
  * output — every restart gate equals its uninterrupted twin. */
class ReplayGateSpec extends SparkSpec {

  private val ScopedKeys = Seq("spark.sql.shuffle.partitions",
    "spark.sql.streaming.stateStore.providerClass")

  /** The keys' explicitly set values (None = unset). */
  private def scopedConf(): Map[String, Option[String]] = {
    val set = spark.conf.getAll
    ScopedKeys.map(k => k -> set.get(k)).toMap
  }

  private def gateTrees(name: String): Set[String] =
    Option(new java.io.File(System.getProperty("java.io.tmpdir")).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .map(_.getName).filter(_.startsWith(s"graft_${name}_")).toSet

  private def events(rows: Seq[(Long, Timestamp, Long, String, Double)])
      : DataFrame = {
    import spark.implicits._
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
  }

  test("a replay whose build throws restores both scoped conf keys, set " +
      "or unset, and deletes its temp tree") {
    val ev = events(Seq((1L, new Timestamp(0L), 1L, "click", 1.0)))
    val saved = scopedConf()
    try Seq(true, false).foreach { priorSet =>
      if (priorSet) {
        spark.conf.set(ScopedKeys(0), "7")
        spark.conf.set(ScopedKeys(1),
          "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
      } else ScopedKeys.foreach(spark.conf.unset)
      val before = scopedConf()
      assert(before.values.forall(_.isDefined) == priorSet)
      // restart variant (file sink, RocksDB): an empty touch list fails
      // the build, after the scope is entered
      val restartTrees = gateTrees("last_touch_ordered_restart")
      intercept[IllegalArgumentException] {
        EventStreams.lastTouchRestartReplayOrdered(spark, ev, Nil, "purchase")
      }
      assert(scopedConf() == before)
      assert(gateTrees("last_touch_ordered_restart") == restartTrees,
        "the restart gate leaked its temp tree")
      // memory-sink variant: an empty step list fails the build
      val memoryTrees = gateTrees("funnel_replay")
      intercept[IllegalArgumentException] {
        EventStreams.funnelReplay(spark, ev, Nil)
      }
      assert(scopedConf() == before)
      assert(gateTrees("funnel_replay") == memoryTrees,
        "the memory-sink gate leaked its temp tree")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** One generated gate input and a valid restart point for it. */
  private final case class Case(rows: Seq[(Long, Timestamp, Long, String, Double)],
      nSlices: Int, killAfter: Int)

  /** Event sets with timestamp ties (nine distinct milliseconds over a
    * minute), sub-millisecond `ts`, gaps in the ids, and — at size 0 —
    * the empty set; then any valid (nSlices, killAfter). */
  private val caseGen: Gen[Case] = Gen.sized { size =>
    val baseMs = Timestamp.valueOf("2024-01-01 10:00:00").getTime
    val event = for {
      offMs <- Gen.choose(0, 8).map(_ * 7500L)
      micros <- Gen.oneOf(0, 1, 499, 999)
      user <- Gen.choose(1L, 4L)
      kind <- Gen.oneOf("signup", "view", "click", "purchase")
      quarters <- Gen.choose(0, 400)
    } yield {
      val ts = new Timestamp(baseMs + offMs)
      ts.setNanos(ts.getNanos + micros * 1000)
      (ts, user, kind, quarters * 0.25)
    }
    for {
      steps <- Gen.listOfN(size, Gen.choose(1L, 9L))
      body <- Gen.listOfN(size, event)
      nSlices <- Gen.choose(2, 4)
      killAfter <- Gen.choose(1, nSlices - 1)
    } yield Case(steps.scanLeft(0L)(_ + _).tail.zip(body).map {
      case (id, (ts, user, kind, v)) => (id, ts, user, kind, v)
    }, nSlices, killAfter)
  }

  /** Checks `restarted == uninterrupted` on 4 generated cases of sizes 0,
    * 8, 16 and 24 — the empty set, then sets with ties. */
  private def checkTwins(name: String)(
      twins: Case => (DataFrame, DataFrame)): Unit = {
    val sizes = scala.collection.mutable.ArrayBuffer.empty[Int]
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSeq.sortBy(_.toString)
    val prop = Prop.forAllNoShrink(caseGen) { c =>
      sizes += c.rows.size
      val (restarted, uninterrupted) = twins(c)
      val (got, want) = (rows(restarted), rows(uninterrupted))
      Prop(got == want) :| s"$name diverged at nSlices=${c.nSlices} " +
        s"killAfter=${c.killAfter} on ${c.rows.size} events: restarted " +
        s"${got.size} rows, uninterrupted ${want.size}"
    }
    val params = Test.Parameters.default.withMinSuccessfulTests(4)
      .withMinSize(0).withMaxSize(32).withWorkers(1)
      .withInitialSeed(Seed(20261017L))
    val res = Test.check(params, prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
    assert(sizes.size == 4 && sizes.contains(0) && sizes.exists(_ > 9),
      s"$name: the generated cases missed the empty or the tied set: $sizes")
  }

  test("restart twin: funnelRestartReplay equals funnelReplay") {
    val steps = Seq("signup", "view", "purchase")
    checkTwins("funnel") { c =>
      val ev = events(c.rows)
      (EventStreams.funnelRestartReplay(spark, ev, steps, c.nSlices, c.killAfter),
        EventStreams.funnelReplay(spark, ev, steps, c.nSlices))
    }
  }

  test("restart twin: runningTotalsRestartReplay equals runningTotalsReplay") {
    checkTwins("running totals") { c =>
      val ev = events(c.rows)
      (EventStreams.runningTotalsRestartReplay(spark, ev, c.nSlices, c.killAfter),
        EventStreams.runningTotalsReplay(spark, ev, c.nSlices))
    }
  }

  test("restart twin: lastTouchRestartReplayOrdered equals " +
      "lastTouchReplayOrdered") {
    val touches = Seq("click", "view")
    checkTwins("ordered last touch") { c =>
      val ev = events(c.rows)
      (EventStreams.lastTouchRestartReplayOrdered(spark, ev, touches,
          "purchase", c.nSlices, c.killAfter),
        EventStreams.lastTouchReplayOrdered(spark, ev, touches, "purchase",
          c.nSlices))
    }
  }
}
