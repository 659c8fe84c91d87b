package perfbench

import java.util.SplittableRandom
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generator. The program under test only ever sees what this
  * object writes: the same seed gives byte-identical inputs.
  *
  *  - channel tables: the 27 staging tables `jobs.NvsPipeline` reads, with
  *    StressGen's names, columns and types, row counts scaled by `factor`.
  *    Values are seeded hashes of the row id instead of StressGen's fixed
  *    `id % k` patterns, and the cost tables carry seeded budgets.
  *  - documents: sf0.1-shaped text (5,000 base docs of 5-100 words over a
  *    40-word vocabulary, five languages), replicated with seed-chosen
  *    variants: exact copies, one-word edits (near duplicates) and fresh
  *    text in the stated shares.
  *  - ingest ticks: fixed-size batches mixing novel docs and near
  *    duplicates of earlier docs in a stated ratio.
  */
object Gen {

  val Vocab: Array[String] = ("a the data spark table query join group agg sort " +
    "hash scan filter window stream batch merge key value row column line part " +
    "order customer vector fast slow big small index shard fold probe band sig " +
    "cost reach month").split(" ")
  private val Langs = Array("en", "zh", "de", "fr", "es")
  private val LangWeights = Array(41, 15, 14, 15, 15)

  def text(r: SplittableRandom, minWords: Int = 5, maxWords: Int = 100): String =
    Array.fill(r.nextInt(minWords, maxWords + 1))(Vocab(r.nextInt(Vocab.length)))
      .mkString(" ")

  def lang(r: SplittableRandom): String = {
    var x = r.nextInt(LangWeights.sum); var i = 0
    while (x >= LangWeights(i)) { x -= LangWeights(i); i += 1 }
    Langs(i)
  }

  /** One-word edit: substitute a word, or append one (a near duplicate). */
  def nearDup(r: SplittableRandom, t: String): String = {
    val w = t.split(" ")
    if (r.nextBoolean() && w.length > 1) {
      w(r.nextInt(w.length)) = Vocab(r.nextInt(Vocab.length)); w.mkString(" ")
    } else t + " " + Vocab(r.nextInt(Vocab.length))
  }

  // ------------------------------------------------------------ documents

  final case class Doc(doc_id: Long, text: String, lang: String)

  val BaseDocs = 5000
  /** Shares of the replica rows (replica 0 is always the base doc). */
  val ExactShare = 0.25
  val NearShare = 0.50 // the remaining 0.25 is fresh text

  def curationDocs(seed: Long, replicas: Int): Seq[Doc] = {
    val r = new SplittableRandom(seed)
    val base = Array.tabulate(BaseDocs)(i => Doc(i.toLong, text(r), lang(r)))
    base.toSeq ++ (1 until replicas).flatMap { rep =>
      base.map { d =>
        val id = rep.toLong * BaseDocs + d.doc_id
        val u = r.nextDouble()
        if (u < ExactShare) d.copy(doc_id = id)
        else if (u < ExactShare + NearShare) d.copy(doc_id = id, text = nearDup(r, d.text))
        else Doc(id, text(r), lang(r))
      }
    }
  }

  // ---------------------------------------------------------------- ingest

  /** Standing corpus ids are 0 until `corpus`; tick k holds ids
    * corpus + k*batch until corpus + (k+1)*batch. A near duplicate copies,
    * with a one-word edit, a doc drawn from the corpus or an earlier tick. */
  final class IngestStream(seed: Long, corpus: Int, batch: Int, novelShare: Double) {
    private val r = new SplittableRandom(seed ^ 0x5DEECE66DL)
    private val all = scala.collection.mutable.ArrayBuffer.empty[String]
    val standing: Seq[(Long, String)] = {
      (0 until corpus).foreach(_ => all += text(r, 20, 100))
      all.toSeq.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    }
    private val ticks = scala.collection.mutable.ArrayBuffer.empty[Seq[(Long, String)]]
    def tick(k: Int): Seq[(Long, String)] = {
      while (ticks.size <= k) {
        val first = corpus.toLong + ticks.size.toLong * batch
        val rows = (0 until batch).map { j =>
          val t =
            if (r.nextDouble() < novelShare) text(r, 20, 100)
            else nearDup(r, all(r.nextInt(all.size)))
          (first + j, t)
        }
        all ++= rows.map(_._2)
        ticks += rows
      }
      ticks(k)
    }
  }

  // ------------------------------------------------------- channel tables

  /** StressGen's base row counts, per table. */
  private val baseRows: Map[String, Long] = Map(
    "nvs_calls" -> 250000L, "mdm" -> 200000L, "dtc_display" -> 300000L,
    "dtc_search" -> 100000L, "poc_v1" -> 100000L, "poc" -> 50000L,
    "social" -> 100000L, "hcp_search" -> 100000L, "hcp_all_weekly" -> 500000L,
    "hcp_all_new" -> 100000L, "hcp_new" -> 50000L)

  val Months: Seq[String] = (0 until 24).map { i => f"${2022 + i / 12}-${i % 12 + 1}%02d" }
  val UnpivotChannels: Seq[String] = Seq("Digital Display", "Paid Search", "POC",
    "Endemic Social", "Custom", "3rd Party Email", "EHR")

  /** Seeded budgets. `wide(month)` = (dtc_display_, dtc_search, dtc_poc,
    * dtc_social, npp); `unpivot((yyyymm, audience, channel))` = cost. */
  final case class Budgets(wide: Map[String, Seq[Double]],
      unpivot: Map[(Int, String, String), Double])

  def budgets(seed: Long): Budgets = {
    val r = new SplittableRandom(seed ^ 0x2545F491L)
    def money(lo: Int, hi: Int): Double = r.nextInt(lo, hi).toDouble + r.nextInt(100) / 100.0
    val wide = Months.map(m => m -> Seq(money(5000, 20000), money(2000, 9000),
      money(1000, 4000), money(800, 3000), money(30000, 80000))).toMap
    val unpivot = (for { ym <- 202401 to 202406; a <- Seq("DTC", "HCP"); c <- UnpivotChannels }
      yield (ym, a, c) -> money(1000, 6000)).toMap
    Budgets(wide, unpivot)
  }

  final case class Table(name: String, path: String, rows: Long)

  /** Writes every channel table as parquet under `dir`. */
  def writeChannelTables(s: SparkSession, dir: String, seed: Long,
      factor: Double): Seq[Table] = {
    import s.implicits._
    def n(key: String): Long = math.max((baseRows(key) * factor).toLong, 1L)
    // an independent seeded stream per column: non-negative 40-bit hash
    def h(k: Int): Column = pmod(xxhash64(col("id"), lit(seed), lit(k)), lit(1L << 40))
    val nNpi = n("mdm")
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, DataFrame, Long)]
    // every generated table is a projection of range(rows) or a local Seq
    var rows = 0L
    def range(r: Long): DataFrame = { rows = r; s.range(r).toDF() }
    def add(name: String, df: DataFrame): Unit = {
      out += ((name, df, rows)); rows = 0L
    }
    def month(lo: Int, hi: Int, k: Int): Column = {
      // yyyymm in [lo, hi], both inclusive, over whole months
      val span = (hi / 100 - lo / 100) * 12 + (hi % 100 - lo % 100) + 1
      val i = (lit(lo % 100 - 1) + (h(k) % span)).cast("int")
      (lit(lo / 100) + i.divide(12).cast("int")) * 100 + (i % 12) + 1
    }

    rows = 200
    add("demographics", (0 until 200).map(i => (s"$i", s"DMA_$i", f"$i%05d"))
      .toDF("dma_code", "dma_name", "zip"))

    def calls(lo: Int, hi: Int): DataFrame = range(n("nvs_calls")).select(
      concat(lit("N"), (h(1) % nNpi).cast("string")).as("npi_num"),
      format_string("%05d", (h(2) % 90000).cast("int")).as("zip_cd"),
      lit("NYC").as("city"), lit("NY").as("state"), lit("XOLAIR").as("brand"),
      month(lo, hi, 3).cast("int").as("yrmo"),
      when(h(4) % 3 === 0, "1").otherwise("0").as("call_p1"),
      when(h(4) % 3 === 1, "1").otherwise("0").as("call_p2"),
      when(h(4) % 3 === 2, "1").otherwise("0").as("call_p3"),
      lit("1").as("calls"),
      when(h(5) % 10 === 0, "1").otherwise("0").as("lunch_n_learn_calls"))
    add("nvs_calls_v1", calls(202201, 202206))
    add("nvs_calls_v2", calls(202207, 202212))
    add("nvs_calls_v3", calls(202301, 202312))
    add("nvs_calls_v4", calls(202401, 202406))

    add("mdm_profile", range(nNpi).select(
      concat(lit("N"), col("id").cast("string")).as("npi_number"),
      concat(lit("M"), col("id").cast("string")).as("mdm_id")))
    add("hcp_org_map", range(nNpi).select(
      concat(lit("M"), col("id").cast("string")).as("mdm_id"),
      when(h(6) % 10 === 0, array(lit("OTHER")))
        .otherwise(array(lit("XOLAIR"), lit("OTHER"))).as("product_brand_name"),
      format_string("%05d", (h(7) % 90000).cast("int")).as("mdm_zip")))

    def media(dmaCol: String, lo: Int, hi: Int, rows: Long): DataFrame =
      range(rows).select(
        month(lo, hi, 8).cast("int").as("year_mth"),
        concat(lit("DMA_"), (h(9) % 200).cast("string")).as(dmaCol),
        (h(9) % 200).cast("string").as("dma_code"),
        ((h(10) % 1000) + 1).cast("string").as("impressions"),
        ((h(11) % 100) + 1).cast("string").as("clicks"))
    add("dtc_display_v1", media("dma_region", 202201, 202212, n("dtc_display")))
    add("dtc_display_v2", media("dma_region", 202301, 202312, n("dtc_display")))
    add("dtc_display_v3", media("dma_region", 202401, 202406, n("dtc_display")))
    add("dtc_search_v1", media("dma_name", 202201, 202212, n("dtc_search")))
    add("dtc_search_v2", media("dma_name", 202301, 202312, n("dtc_search")))
    add("dtc_search_v3", media("dma_name", 202401, 202406, n("dtc_search")))

    def poc(lo: Int, hi: Int, rows: Long): DataFrame = range(rows).select(
      month(lo, hi, 12).cast("int").as("year_mth"),
      concat(lit("DMA_"), (h(13) % 200).cast("string")).as("dma"),
      (h(13) % 200).cast("string").as("dma_code"),
      ((h(14) % 500) + 1).cast("string").as("impressions"))
    add("poc_v1", poc(202201, 202212, n("poc_v1")))
    add("poc_v2", poc(202301, 202312, n("poc")))
    add("poc_v3", poc(202401, 202406, n("poc")))

    def social(lo: Int, hi: Int, rows: Long): DataFrame = range(rows).select(
      (h(15) % 200).cast("string").as("dma_code"),
      concat(lit("DMA_"), (h(15) % 200).cast("string")).as("dma_name"),
      month(lo, hi, 16).cast("int").as("year_mth"),
      ((h(17) % 800) + 1).cast("string").as("impressions"),
      ((h(18) % 80) + 1).cast("string").as("clicks"))
    add("social_v1", social(202201, 202212, n("social")))
    add("social_v2", social(202301, 202406, n("social")))

    add("hcp_search_v1", range(n("hcp_search")).select(
      (h(19) % 200).cast("string").as("dma_code"),
      date_format(date_add(lit("2022-01-01").cast("date"),
        (h(20) % 330).cast("int")), "yyyy-MM-dd").as("activity_date"),
      ((h(21) % 600) + 1).cast("string").as("impressions"),
      ((h(22) % 60) + 1).cast("string").as("clicks")))
    add("hcp_search_v2", social(202301, 202312, n("hcp_search"))
      .select("dma_code", "year_mth", "impressions", "clicks"))
    add("hcp_search_v3", social(202401, 202406, n("hcp_search"))
      .select("dma_code", "year_mth", "impressions", "clicks"))

    val b = budgets(seed)
    def fmt(d: Double): String = f"$d%,.2f"
    rows = Months.size
    add("costs_wide", Months.map { m =>
      val w = b.wide(m); (m, fmt(w(0)), fmt(w(1)), fmt(w(2)), fmt(w(3)), fmt(w(4)))
    }.toDF("date_month_", "dtc_display_", "dtc_search", "dtc_poc", "dtc_social", "npp"))
    rows = b.unpivot.size
    add("costs_unpivot", b.unpivot.toSeq.sortBy(_._1)
      .map { case ((ym, a, c), cost) => (ym, a, c, cost) }
      .toDF("year_month", "audience", "channel", "cost"))

    add("hcp_all_weekly", range(n("hcp_all_weekly")).select(
      element_at(array(lit("EHR"), lit("DISPLAY"), lit("VIDEO"), lit("CUSTOM"),
        lit("ENDEMIC_SOCIAL"), lit("3RD_PARTY_EMAIL"), lit("POC")),
        ((h(23) % 7) + 1).cast("int")).as("channel"),
      (lit(202201) + (h(24) % 52).cast("int")).as("yrwk"),
      format_string("%05d", (h(25) % 90000).cast("int")).as("zip_cd"),
      when(h(26) % 4 === 0, "ENGAGEMENT").otherwise("REACH").as("metric"),
      ((h(27) % 900) + 1).cast("string").as("value")))
    add("hcp_all_new", range(n("hcp_all_new")).select(
      element_at(array(lit("Digital Display"), lit("EHR"), lit("Video"), lit("Custom"),
        lit("3rd Party Email")), ((h(28) % 5) + 1).cast("int")).as("ipmm_channel"),
      (h(29) % 200).cast("int").as("dma_code"),
      (lit(202401) + (h(30) % 6).cast("int")).as("year_mth"),
      ((h(31) % 700) + 1).cast("double").as("impressions"),
      ((h(32) % 70) + 1).cast("double").as("clicks")))
    add("hcp_poc_new", range(n("hcp_new")).select(
      (h(33) % 200).cast("int").as("dma_code"),
      (lit(202401) + (h(34) % 6).cast("int")).as("year_mth"),
      ((h(35) % 400) + 1).cast("double").as("impressions")))
    add("hcp_social_new", range(n("hcp_new")).select(
      (h(36) % 200).cast("int").as("dma_code"),
      (lit(202401) + (h(37) % 6).cast("int")).as("year_mth"),
      ((h(38) % 400) + 1).cast("double").as("impressions"),
      ((h(39) % 40) + 1).cast("double").as("clicks")))

    // single-task writes: run `cores` of them at a time
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      s.sparkContext.defaultParallelism)
    try {
      val tables = out.toSeq.map { case (name, df, n) => (Table(name, s"$dir/$name", n), df) }
      tables.map { case (t, df) =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = df.coalesce(1).write.mode("overwrite").parquet(t.path)
        })
      }.foreach(_.get())
      tables.map(_._1)
    } finally pool.shutdown()
  }

  /** Expected allocation totals of `digital_nvs`: (channel, audience, year,
    * month) → budget, for the views whose window allocation re-sums to a
    * single cost-table entry (the DTC views and HCP paid search). */
  def expectedDigitalBudgets(b: Budgets): Map[(String, String, String, Int), Double] = {
    val wideCols = Seq("Display" -> 0, "Paid Search" -> 1, "Point of Care" -> 2,
      "Paid Social" -> 3)
    val unpivotDtc = Map("Display" -> "Digital Display", "Paid Search" -> "Paid Search")
    val pre2024 = for {
      m <- Months; (ch, i) <- wideCols
      if ch == "Paid Social" || m <= "2023-12"
    } yield (ch, "DTC", m.take(4), m.drop(5).toInt) -> b.wide(m)(i)
    val hcpSearchPre = Months.filter(_ <= "2023-12").map { m =>
      ("Paid Search", "HCP", m.take(4), m.drop(5).toInt) -> b.wide(m)(4) * 0.16
    }
    val y2024 = for { ym <- 202401 to 202406; (ch, src) <- unpivotDtc.toSeq }
      yield (ch, "DTC", "2024", ym % 100) -> b.unpivot((ym, "DTC", src))
    val hcpSearch2024 = (202401 to 202406).map { ym =>
      ("Paid Search", "HCP", "2024", ym % 100) -> b.unpivot((ym, "HCP", "Paid Search"))
    }
    (pre2024 ++ hcpSearchPre ++ y2024 ++ hcpSearch2024).toMap
  }

  /** `tam_nvs` allocates the fixed per-year TAM budget of `NvsPipeline.tamCe`. */
  val TamBudgets: Map[String, Double] =
    Map("2022" -> 32000000.0, "2023" -> 32000000.0, "2024" -> 36583323.0)
}
