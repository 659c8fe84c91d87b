package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Volume-scaled synthetic staging tables (same shapes as the test fixtures,
  * ~2.8M rows total) for stress-running the reference pipeline — all
  * generated distributed from `spark.range`, no driver-side data. Row counts
  * scale with `factor` (1.0 ≈ 2.8M staging rows). Every value of a fact
  * table derives from its row's `id`; a non-zero `seed` replaces each fact
  * table's ids by seeded 40-bit hashes of them, so each seed gives other
  * values in the same shapes. The dimension tables do not change. */
object StressGen {

  def registerAll(s: SparkSession, factor: Double = 1.0, seed: Long = 0L): Unit = {
    import s.implicits._
    def n(base: Long): Long = math.max((base * factor).toLong, 1L)
    def facts(rows: Long): DataFrame =
      if (seed == 0L) s.range(rows).toDF()
      else s.range(rows).select(pmod(xxhash64(col("id"), lit(seed)), lit(1L << 40)).as("id"))

    (0 until 200).map(i => (s"$i", s"DMA_$i", f"$i%05d"))
      .toDF("dma_code", "dma_name", "zip")
      .createOrReplaceTempView("demographics")

    def callsView(name: String, yrmoLo: Int, yrmoHi: Int, rows: Long): Unit =
      facts(rows).select(
        concat(lit("N"), (col("id") % 200000).cast("string")).as("npi_num"),
        format_string("%05d", (col("id") % 90000).cast("int")).as("zip_cd"),
        lit("NYC").as("city"), lit("NY").as("state"), lit("XOLAIR").as("brand"),
        (lit(yrmoLo) + (col("id") % (yrmoHi - yrmoLo + 1)).cast("int")).as("yrmo"),
        when(col("id") % 3 === 0, "1").otherwise("0").as("call_p1"),
        when(col("id") % 3 === 1, "1").otherwise("0").as("call_p2"),
        when(col("id") % 3 === 2, "1").otherwise("0").as("call_p3"),
        lit("1").as("calls"), lit("0").as("lunch_n_learn_calls")
      ).createOrReplaceTempView(name)
    callsView("nvs_calls_v1", 202201, 202206, n(250000))
    callsView("nvs_calls_v2", 202207, 202212, n(250000))
    callsView("nvs_calls_v3", 202301, 202312, n(250000))
    callsView("nvs_calls_v4", 202401, 202406, n(250000))

    s.range(200000).select(
      concat(lit("N"), col("id").cast("string")).as("npi_number"),
      concat(lit("M"), col("id").cast("string")).as("mdm_id")
    ).createOrReplaceTempView("mdm_profile")
    s.range(200000).select(
      concat(lit("M"), col("id").cast("string")).as("mdm_id"),
      when(col("id") % 10 === 0, array(lit("OTHER")))
        .otherwise(array(lit("XOLAIR"), lit("OTHER"))).as("product_brand_name"),
      format_string("%05d", (col("id") % 90000).cast("int")).as("mdm_zip")
    ).createOrReplaceTempView("hcp_org_map")

    def mediaView(name: String, dmaCol: String, lo: Int, hi: Int, rows: Long): Unit =
      facts(rows).select(
        (lit(lo) + (col("id") % (hi - lo + 1)).cast("int")).as("year_mth"),
        concat(lit("DMA_"), (col("id") % 200).cast("string")).as(dmaCol),
        (col("id") % 200).cast("string").as("dma_code"),
        ((col("id") % 1000) + 1).cast("string").as("impressions"),
        ((col("id") % 100) + 1).cast("string").as("clicks")
      ).createOrReplaceTempView(name)
    mediaView("dtc_display_v1", "dma_region", 202201, 202212, n(300000))
    mediaView("dtc_display_v2", "dma_region", 202301, 202312, n(300000))
    mediaView("dtc_display_v3", "dma_region", 202401, 202406, n(300000))
    mediaView("dtc_search_v1", "dma_name", 202201, 202212, n(100000))
    mediaView("dtc_search_v2", "dma_name", 202301, 202312, n(100000))
    mediaView("dtc_search_v3", "dma_name", 202401, 202406, n(100000))

    def pocView(name: String, lo: Int, hi: Int, rows: Long): Unit =
      facts(rows).select(
        (lit(lo) + (col("id") % (hi - lo + 1)).cast("int")).as("year_mth"),
        concat(lit("DMA_"), (col("id") % 200).cast("string")).as("dma"),
        (col("id") % 200).cast("string").as("dma_code"),
        ((col("id") % 500) + 1).cast("string").as("impressions")
      ).createOrReplaceTempView(name)
    pocView("poc_v1", 202201, 202212, n(100000))
    pocView("poc_v2", 202301, 202312, n(50000))
    pocView("poc_v3", 202401, 202406, n(50000))

    def socialView(name: String, lo: Int, hi: Int, rows: Long): Unit =
      facts(rows).select(
        (col("id") % 200).cast("string").as("dma_code"),
        concat(lit("DMA_"), (col("id") % 200).cast("string")).as("dma_name"),
        (lit(lo) + (col("id") % (hi - lo + 1)).cast("int")).as("year_mth"),
        ((col("id") % 800) + 1).cast("string").as("impressions"),
        ((col("id") % 80) + 1).cast("string").as("clicks")
      ).createOrReplaceTempView(name)
    socialView("social_v1", 202201, 202212, n(100000))
    socialView("social_v2", 202301, 202406, n(100000))

    facts(n(100000)).select(
      (col("id") % 200).cast("string").as("dma_code"),
      date_format(date_add(lit("2022-01-01").cast("date"),
        (col("id") % 330).cast("int")), "yyyy-MM-dd").as("activity_date"),
      ((col("id") % 600) + 1).cast("string").as("impressions"),
      ((col("id") % 60) + 1).cast("string").as("clicks")
    ).createOrReplaceTempView("hcp_search_v1")
    socialView("hcp_search_v2_base", 202301, 202312, n(100000))
    s.sql("select dma_code, year_mth, impressions, clicks from hcp_search_v2_base")
      .createOrReplaceTempView("hcp_search_v2")
    socialView("hcp_search_v3_base", 202401, 202406, n(100000))
    s.sql("select dma_code, year_mth, impressions, clicks from hcp_search_v3_base")
      .createOrReplaceTempView("hcp_search_v3")

    val months = (0 until 24).map { i =>
      val y = 2022 + i / 12; val m = i % 12 + 1; f"$y-$m%02d"
    }
    months.map(m => (m, "10,000.00", "5,000.00", "2,000.00", "1,500.00", "50,000.00"))
      .toDF("date_month_", "dtc_display_", "dtc_search", "dtc_poc", "dtc_social", "npp")
      .createOrReplaceTempView("costs_wide")
    val chans = Seq("Digital Display", "Paid Search", "POC", "Endemic Social",
      "Custom", "3rd Party Email", "EHR")
    (for { ym <- 202401 to 202406; a <- Seq("DTC", "HCP"); c <- chans }
      yield (ym, a, c, 3000.0)).toDF("year_month", "audience", "channel", "cost")
      .createOrReplaceTempView("costs_unpivot")

    facts(n(500000)).select(
      element_at(array(lit("EHR"), lit("DISPLAY"), lit("VIDEO"), lit("CUSTOM"),
        lit("ENDEMIC_SOCIAL"), lit("3RD_PARTY_EMAIL"), lit("POC")),
        ((col("id") % 7) + 1).cast("int")).as("channel"),
      (lit(202201) + (col("id") % 52).cast("int")).as("yrwk"),
      format_string("%05d", (col("id") % 90000).cast("int")).as("zip_cd"),
      when(col("id") % 4 === 0, "ENGAGEMENT").otherwise("REACH").as("metric"),
      ((col("id") % 900) + 1).cast("string").as("value")
    ).createOrReplaceTempView("hcp_all_weekly")

    facts(n(100000)).select(
      element_at(array(lit("Digital Display"), lit("EHR"), lit("Video"), lit("Custom"),
        lit("3rd Party Email")), ((col("id") % 5) + 1).cast("int")).as("ipmm_channel"),
      (col("id") % 200).cast("int").as("dma_code"),
      (lit(202401) + (col("id") % 6).cast("int")).as("year_mth"),
      ((col("id") % 700) + 1).cast("double").as("impressions"),
      ((col("id") % 70) + 1).cast("double").as("clicks")
    ).createOrReplaceTempView("hcp_all_new")
    facts(n(50000)).select(
      (col("id") % 200).cast("int").as("dma_code"),
      (lit(202401) + (col("id") % 6).cast("int")).as("year_mth"),
      ((col("id") % 400) + 1).cast("double").as("impressions")
    ).createOrReplaceTempView("hcp_poc_new")
    facts(n(50000)).select(
      (col("id") % 200).cast("int").as("dma_code"),
      (lit(202401) + (col("id") % 6).cast("int")).as("year_mth"),
      ((col("id") % 400) + 1).cast("double").as("impressions"),
      ((col("id") % 40) + 1).cast("double").as("clicks")
    ).createOrReplaceTempView("hcp_social_new")
  }
}

/** `runMain graft.jobs.StressMain [factor]` — times each pipeline stage on
  * the volume fixtures (factor 1.0 ≈ 2.8M staging rows) and the full job
  * run, one `STRESS <stage> <sec> (<rows> rows)` line each. */
object StressMain {
  def main(args: Array[String]): Unit = {
    val factor = args.headOption.fold(Option(1.0))(_.toDoubleOption).getOrElse {
      System.err.println(s"StressMain: '${args.head}' is not a volume factor; " +
        "its named modes were removed and can be recovered at commit 097ded1")
      sys.exit(2)
    }
    val s = graft.core.Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    def time(label: String)(f: => Long): Unit = {
      val (t, rows) = graft.core.Timing.seconds(f)
      println(f"STRESS $label $t%.2f s ($rows rows)")
    }

    StressGen.registerAll(s, factor)
    time("tam_ce")(NvsPipeline.tamCe(s).count())
    time("dtc_display")(NvsPipeline.dtcDisplay(s).count())
    time("hcp_all_channels")(NvsPipeline.hcpAllChannels(s).count())
    time("combined")(NvsPipeline.combined(s).count())
    val dir = java.nio.file.Files.createTempDirectory("graft_stress").toString
    time("ChannelJobs.run")(
      ChannelJobs.run(s, ChannelJobs.JobConfig(outDir = dir)).map(_.rows).sum)
    s.stop()
  }
}
