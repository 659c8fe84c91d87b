package graft.jobs

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import graft.SparkSpec

/** Twin property for the missing-cost probe (S1:1004-1027): on generated
  * detail and allocation frames, [[NvsPipeline.missingCostProbe]]'s FULL
  * JOIN on plain equalities returns the same rows as the reference's
  * coalesce-key FULL JOIN, restated verbatim below. */
class MissingCostProbeSpec extends SparkSpec {
  import MissingCostProbeSpec._

  private val hcpSchema = StructType(
    Seq("brand", "channel", "audience", "year", "month", "zip_code", "dma",
      "state", "country").map(StructField(_, StringType)) ++
    Seq(StructField("reach", DoubleType), StructField("engage", DoubleType)))

  private val allocSchema = StructType(
    Seq("brand", "year", "month", "channel").map(StructField(_, StringType)) :+
      StructField("cost", DoubleType))

  private def frame(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  /** The reference's probe, keys and all (S1:1004-1027). */
  private def reference(allHcp: DataFrame, monthlyReach: DataFrame,
      allocations: DataFrame): DataFrame =
    allHcp.as("d")
      .join(monthlyReach.as("mr"),
        col("d.year") === col("mr.year") && col("d.month") === col("mr.month") &&
          col("d.channel") === col("mr.channel"))
      .join(allocations.as("ca"),
        coalesce(col("d.year"), col("ca.year")) === col("ca.year") &&
          coalesce(col("d.month"), col("ca.month")) === col("ca.month") &&
          coalesce(col("d.channel"), col("ca.channel")) === col("ca.channel"),
        "full")
      .where(coalesce(col("d.year"), col("ca.year"), col("mr.year")) === "2024" &&
        col("d.reach").isNull)
      .select(
        coalesce(col("d.brand"), col("ca.brand"), col("mr.brand")).as("brand"),
        coalesce(col("d.channel"), col("ca.channel"), col("mr.channel")).as("channel"),
        coalesce(col("d.audience"), lit("HCP")).as("audience"),
        coalesce(col("d.year"), col("ca.year"), col("mr.year")).as("year"),
        coalesce(col("d.month"), col("ca.month"), col("mr.month")).as("month"),
        col("d.reach"), col("d.engage"),
        when(col("d.reach").isNotNull && col("mr.total_monthly_reach").isNotNull,
          (col("d.reach") / col("mr.total_monthly_reach")) * col("ca.cost"))
          .otherwise(col("ca.cost")).as("cost"))

  test("missingCostProbe equals the coalesce-key FULL JOIN on generated inputs") {
    // per case: (a 2024 allocation with no detail match, a keyed detail
    // row with null reach, an allocation with a null key, probe rows)
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Boolean, Boolean, Boolean, Int)]
    val prop = Prop.forAllNoShrink(probeCaseGen) { c =>
      val allHcp = frame(c.details, hcpSchema)
      val monthlyReach = allHcp.groupBy(col("brand"), col("year"), col("month"), col("channel"))
        .agg(sum(col("reach")).as("total_monthly_reach"))
      val allocations = frame(c.allocations, allocSchema)
      val got = NvsPipeline.missingCostProbe(allHcp, monthlyReach, allocations)
      val want = reference(allHcp, monthlyReach, allocations)
      val keyed = c.details.filter(r => (1 to 4).forall(i => !r.isNullAt(i)))
      val detailKeys = keyed.map(r => (r.getString(3), r.getString(4), r.getString(1))).toSet
      seen += ((
        c.allocations.exists(a => a.getString(1) == "2024" &&
          !detailKeys.contains((a.getString(1), a.getString(2), a.getString(3)))),
        keyed.exists(_.isNullAt(9)),
        c.allocations.exists(a => (1 to 3).exists(a.isNullAt)),
        want.count().toInt))
      Prop(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty) :|
        s"${c.details.size} details, ${c.allocations.size} allocations: " +
        s"probe ${got.collect().toSeq}, reference ${want.collect().toSeq}"
    }
    val params = Test.Parameters.default.withMinSuccessfulTests(4)
      .withWorkers(1).withInitialSeed(Seed(20261018L))
    val res = Test.check(params, prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
    assert(seen.exists(_._1) && seen.exists(_._2) && seen.exists(_._3) &&
      seen.exists(_._4 > 0),
      s"the cases missed an unmatched 2024 allocation, a null reach, a " +
        s"null allocation key or a probe row: $seen")
  }
}

object MissingCostProbeSpec {
  /** Detail rows in `allHcp`'s shape and allocation rows in the
    * allocations grid's shape, over a small key space so keys collide. */
  private final case class ProbeCase(details: Seq[Row], allocations: Seq[Row])

  private def orNull[A](g: Gen[A], nullPct: Int): Gen[Any] =
    Gen.frequency(nullPct -> Gen.const(null), (100 - nullPct) -> g)

  private val year = Gen.oneOf("2023", "2024")
  private val month = Gen.oneOf("1", "2", "3")
  private val channel = Gen.oneOf("Custom", "Paid Social", "Display")
  private val amount = Gen.choose(0, 50).map(_.toDouble)

  private val detail: Gen[Row] = for {
    c <- orNull(channel, 10); y <- orNull(year, 5); m <- month
    zip <- Gen.oneOf("10001", "94105"); reach <- orNull(amount, 30)
    engage <- orNull(amount, 30)
  } yield Row("XOLAIR", c, "HCP", y, m, zip, null, null, "US", reach, engage)

  private val allocation: Gen[Row] = for {
    y <- orNull(year, 10); m <- orNull(month, 10); c <- orNull(channel, 10)
    cost <- amount
  } yield Row("XOLAIR", y, m, c, cost)

  private val probeCaseGen: Gen[ProbeCase] = for {
    nd <- Gen.choose(4, 14); details <- Gen.listOfN(nd, detail)
    na <- Gen.choose(4, 12); allocations <- Gen.listOfN(na, allocation)
  } yield ProbeCase(details, allocations)
}
