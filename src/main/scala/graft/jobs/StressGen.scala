package graft.jobs

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Volume-scaled synthetic staging tables (same shapes as the test fixtures,
  * ~2.8M rows total) for stress-running the reference pipeline — all
  * generated distributed from `spark.range`, no driver-side data. Row counts
  * scale with `factor` (1.0 ≈ 2.8M staging rows). */
object StressGen {

  def registerAll(s: SparkSession, factor: Double = 1.0): Unit = {
    import s.implicits._
    def n(base: Long): Long = math.max((base * factor).toLong, 1L)

    (0 until 200).map(i => (s"$i", s"DMA_$i", f"$i%05d"))
      .toDF("dma_code", "dma_name", "zip")
      .createOrReplaceTempView("demographics")

    def callsView(name: String, yrmoLo: Int, yrmoHi: Int, rows: Long): Unit =
      s.range(rows).select(
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
      s.range(rows).select(
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
      s.range(rows).select(
        (lit(lo) + (col("id") % (hi - lo + 1)).cast("int")).as("year_mth"),
        concat(lit("DMA_"), (col("id") % 200).cast("string")).as("dma"),
        (col("id") % 200).cast("string").as("dma_code"),
        ((col("id") % 500) + 1).cast("string").as("impressions")
      ).createOrReplaceTempView(name)
    pocView("poc_v1", 202201, 202212, n(100000))
    pocView("poc_v2", 202301, 202312, n(50000))
    pocView("poc_v3", 202401, 202406, n(50000))

    def socialView(name: String, lo: Int, hi: Int, rows: Long): Unit =
      s.range(rows).select(
        (col("id") % 200).cast("string").as("dma_code"),
        concat(lit("DMA_"), (col("id") % 200).cast("string")).as("dma_name"),
        (lit(lo) + (col("id") % (hi - lo + 1)).cast("int")).as("year_mth"),
        ((col("id") % 800) + 1).cast("string").as("impressions"),
        ((col("id") % 80) + 1).cast("string").as("clicks")
      ).createOrReplaceTempView(name)
    socialView("social_v1", 202201, 202212, n(100000))
    socialView("social_v2", 202301, 202406, n(100000))

    s.range(n(100000)).select(
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

    s.range(n(500000)).select(
      element_at(array(lit("EHR"), lit("DISPLAY"), lit("VIDEO"), lit("CUSTOM"),
        lit("ENDEMIC_SOCIAL"), lit("3RD_PARTY_EMAIL"), lit("POC")),
        ((col("id") % 7) + 1).cast("int")).as("channel"),
      (lit(202201) + (col("id") % 52).cast("int")).as("yrwk"),
      format_string("%05d", (col("id") % 90000).cast("int")).as("zip_cd"),
      when(col("id") % 4 === 0, "ENGAGEMENT").otherwise("REACH").as("metric"),
      ((col("id") % 900) + 1).cast("string").as("value")
    ).createOrReplaceTempView("hcp_all_weekly")

    s.range(n(100000)).select(
      element_at(array(lit("Digital Display"), lit("EHR"), lit("Video"), lit("Custom"),
        lit("3rd Party Email")), ((col("id") % 5) + 1).cast("int")).as("ipmm_channel"),
      (col("id") % 200).cast("int").as("dma_code"),
      (lit(202401) + (col("id") % 6).cast("int")).as("year_mth"),
      ((col("id") % 700) + 1).cast("double").as("impressions"),
      ((col("id") % 70) + 1).cast("double").as("clicks")
    ).createOrReplaceTempView("hcp_all_new")
    s.range(n(50000)).select(
      (col("id") % 200).cast("int").as("dma_code"),
      (lit(202401) + (col("id") % 6).cast("int")).as("year_mth"),
      ((col("id") % 400) + 1).cast("double").as("impressions")
    ).createOrReplaceTempView("hcp_poc_new")
    s.range(n(50000)).select(
      (col("id") % 200).cast("int").as("dma_code"),
      (lit(202401) + (col("id") % 6).cast("int")).as("year_mth"),
      ((col("id") % 400) + 1).cast("double").as("impressions"),
      ((col("id") % 40) + 1).cast("double").as("clicks")
    ).createOrReplaceTempView("hcp_social_new")
  }
}

/** `runMain graft.jobs.StressMain [factor]` — times each pipeline stage on
  * the volume fixtures and the full job run.
  * `runMain graft.jobs.StressMain curation [replicas]` — times the composed
  * CurationJob on a duplication-heavy replica corpus of the sf0.1 documents.
  * `runMain graft.jobs.StressMain graph [nodes]` — connected components on a
  * generated chain-heavy graph (the worst case for per-hop propagation).
  * `runMain graft.jobs.StressMain asof [factor]` — as-of join on replicated
  * event volume.
  * `runMain graft.jobs.StressMain pagerank [nodes] [iters]` — fixed-iteration
  * PageRank on the same chain-heavy graph shape as `graph` mode.
  * `runMain graft.jobs.StressMain containment [replicas]` — containment
  * dedup on a designed contained/container replica corpus (df-cut under a
  * boilerplate-heavy shingle distribution).
  * `runMain graft.jobs.StressMain novelty [replicas]` — per-doc novelty +
  * per-batch rollup on a re-crawl-heavy batch corpus.
  * `runMain graft.jobs.StressMain annlsh [vectors]` — multi-table LSH
  * recall@10 vs brute-force truth at volume; asserts recall monotone in
  * table count.
  * `runMain graft.jobs.StressMain cdc [replicas]` — content-defined
  * chunking on prefix-shifted replicas; asserts chunks survive every shift
  * where fixed-width segments structurally cannot.
  * `runMain graft.jobs.StressMain spans [replicas]` — exact
  * repeated-substring spans on uniquely-wrapped replicas; asserts
  * near-universal one-span-per-doc coverage at linear cost.
  * `runMain graft.jobs.StressMain policy [_]` — Aho–Corasick policy scan at
  * 10/100/992 patterns (flat cost) vs the per-pattern declarative twin. */
object StressMain {
  def main(args: Array[String]): Unit = {
    val s = graft.core.Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    def time(label: String)(f: => Long): Unit = {
      val (t, rows) = graft.core.Timing.seconds(f)
      println(f"STRESS $label $t%.2f s ($rows rows)")
    }

    if (args.headOption.contains("curation")) {
      val replicas = args.lift(1).map(_.toInt).getOrElse(100)
      val transitive = args.lift(2).contains("transitive")
      val docs = s.read.parquet("/root/testdata/sf0.1/documents.parquet")
      val big = docs.crossJoin(s.range(replicas).select(col("id").as("rep")))
        .select(
          (col("rep") * 5000 + col("doc_id")).as("doc_id"),
          when(col("rep") % 5 === 0, col("text"))
            .otherwise(concat(col("text"), lit(" variant"),
              (col("rep") % 5).cast("string"))).as("text"),
          col("lang"))
        .repartition(32)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      time(s"materialize ${replicas}x docs")(big.count())
      var stats: CurationJob.Stats = null
      time(s"CurationJob end-to-end (transitive=$transitive)")({
        val (_, st) = CurationJob.run(big, CurationJob.Config(
          minQuality = 0.3, samplePermille = 500, transitive = transitive))
        stats = st; st.sampled
      })
      println(s"STRESS funnel: $stats")
    } else if (args.headOption.contains("curationfull")) {
      // EVERY gate of the composed pipeline on, at 5-10M docs: the
      // end-to-end volume run VERDICT r9 item 6 asks for. The replica
      // corpus mixes exact dups (rep%5==0 copies the base), near-dup
      // variants, PII-carrying rows (rep%7==0 appends an email+phone so
      // the redaction stage has real matches and PII-only variants
      // collapse to exact dups), and blocklisted rows (rep%101==0 gets a
      // banned token → the policy gate drops ~1%). Token budget and the
      // funnel scale with `replicas`, so 1x-vs-2x wall times give the
      // end-to-end scaling slope directly.
      val replicas = args.lift(1).map(_.toInt).getOrElse(1000)
      val docs = s.read.parquet("/root/testdata/sf0.1/documents.parquet")
      val big = docs.crossJoin(s.range(replicas).select(col("id").as("rep")))
        .select(
          (col("rep") * 5000 + col("doc_id")).as("doc_id"),
          concat(
            when(col("rep") % 5 === 0, col("text"))
              .otherwise(concat(col("text"), lit(" variant"),
                (col("rep") % 5).cast("string"))),
            when(col("rep") % 7 === 0,
              lit(" contact bob@example.com or 555-1234")).otherwise(lit("")),
            when(col("rep") % 101 === 0, lit(" badwordx")).otherwise(lit("")))
            .as("text"),
          col("lang"))
        .repartition(32)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      time(s"materialize ${replicas}x docs")(big.count())
      val bench = docs.where(col("doc_id") % 997 === 0)
        .select(col("text")) // held-out set: decontamination has real work
      var stats: CurationJob.Stats = null
      var outN = 0L
      // optional third arg isolates stage-1's hot gates for the BASELINE
      // profile: 'noboiler' drops the boilerplate segment-DF pass,
      // 'nodeflate' drops the per-row deflate gate — diffing walls against
      // the full run attributes stage-1's cost without new stage plumbing
      val variant = args.lift(2).getOrElse("full")
      time(s"CurationJob FULL-GATE end-to-end (${replicas}x, $variant)")({
        val (out, st) = CurationJob.run(big, CurationJob.Config(
          minQuality = 0.3,
          maxBoilerplateShare =
            if (variant == "noboiler") None else Some(0.9),
          maxTopTokenShare = Some(0.5),
          compressionBounds =
            if (variant == "nodeflate") None else Some((0.5, 50.0)),
          minLmScore = Some(-10.0),
          // fraction-of-corpus cull: decon recall must not depend on the
          // replica count (the absolute default lost 3x recall 1000->2000x)
          deconMaxDocFreqFrac = Some(0.1),
          redactClasses = Seq(
            ("EMAIL", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"),
            ("PHONE", "\\b\\d{3}-\\d{4}\\b")),
          blockedPatterns = Seq("badwordx", "spamtokenz"),
          nearDupJaccard = 0.8,
          containmentThreshold = Some(0.9),
          maxDupChunkShare = Some(0.95),
          tokenBudget = Some(12L * 5000L * replicas),
          splitPermilles = Some(Seq(("train", 900), ("val", 50), ("test", 50))),
          importanceRate = Some(1.5),
          outputShards = Some(64),
          transitive = true), benchmark = Some(bench),
          outDir = Some(s"/tmp/graft_curationfull_$replicas"),
          scratchDir = Some(s"/tmp/graft_curation_scratch_$replicas"))
        stats = st
        outN = out.count() // counts the shipped parquet, not a replay
        st.sampled
      })
      println(s"STRESS funnel: $stats shipped=$outN")
      big.unpersist()
    } else if (args.headOption.contains("graphinc")) {
      // q140's scale claim, measured: absorb a 1% edge batch into standing
      // labels vs re-closing the whole 5M-node graph. Same chain-heavy
      // shape as `graph` mode; the batch is a deterministic 1% slice, so
      // most chains are untouched and pass through the anti-join.
      val nodes = args.lift(1).map(_.toLong).getOrElse(5000000L)
      val chainLen = 1000L
      import graft.operators.Components
      val chains = s.range(nodes)
        .where(col("id") % chainLen =!= chainLen - 1)
        .select(col("id").as("a"), (col("id") + 1).as("b"))
      val cross = s.range(nodes / 10).select(
        ((col("id") * 7919L) % nodes).as("a"),
        ((col("id") * 104729L + 13L) % nodes).as("b"))
      val edges = chains.union(cross).repartition(32)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      time("materialize edges")(edges.count())
      val isBatch = (col("a") * 31L + col("b")) % 100L === 0L // ~1%
      val old = edges.where(!isBatch)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val batch = edges.where(isBatch)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      time("materialize split")(old.count() + batch.count())
      var standing: org.apache.spark.sql.DataFrame = null
      time("standing = CC(old)")({
        standing = Components.connectedComponents(old, "a", "b")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        standing.count()
      })
      graft.core.CacheScope.drain() // release CC round blocks, keep standing
      var incN = 0L
      time("incremental absorb (1% batch)")({
        val inc = Components.connectedComponentsIncremental(
          standing, batch, "a", "b")
        incN = inc.count(); incN
      })
      graft.core.CacheScope.drain()
      var fullN = 0L
      time("full recompute CC(all)")({
        fullN = Components.connectedComponents(edges, "a", "b").count(); fullN
      })
      graft.core.CacheScope.drain()
      println(s"STRESS graphinc rows: incremental=$incN full=$fullN " +
        s"match=${incN == fullN}")
    } else if (args.headOption.contains("graph")) {
      // Chain-heavy graph: diameter ~chainLen inside every cluster — per-hop
      // label propagation would need ~chainLen Spark rounds; the union-find
      // rounds depend only on how many partitions a cluster spans.
      val nodes = args.lift(1).map(_.toLong).getOrElse(5000000L)
      val chainLen = 1000L
      import graft.operators.Components
      val chains = s.range(nodes)
        .where(col("id") % chainLen =!= chainLen - 1) // no edge across chains
        .select(col("id").as("a"), (col("id") + 1).as("b"))
      val cross = s.range(nodes / 10).select( // deterministic long-range edges
        ((col("id") * 7919L) % nodes).as("a"),
        ((col("id") * 104729L + 13L) % nodes).as("b"))
      val edges = chains.union(cross).repartition(32)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      time(s"materialize edges ($nodes nodes, chains of $chainLen)")(edges.count())
      var comps: org.apache.spark.sql.DataFrame = null
      time("connectedComponents")({
        comps = Components.connectedComponents(edges, "a", "b", verbose = true)
        comps.count()
      })
      time("distinct components")(comps.select("comp").distinct().count())
    } else if (args.headOption.contains("pagerank")) {
      // same graph shape as `graph` mode, both directions (undirected)
      val nodes = args.lift(1).map(_.toLong).getOrElse(5000000L)
      val iters = args.lift(2).map(_.toInt).getOrElse(5)
      val chainLen = 1000L
      import graft.operators.Components
      val chains = s.range(nodes)
        .where(col("id") % chainLen =!= chainLen - 1)
        .select(col("id").as("a"), (col("id") + 1).as("b"))
      val cross = s.range(nodes / 10).select(
        ((col("id") * 7919L) % nodes).as("a"),
        ((col("id") * 104729L + 13L) % nodes).as("b"))
      val dir = chains.union(cross).where(col("a") =!= col("b"))
      val edges = dir.union(dir.select(col("b"), col("a"))).repartition(32)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      time(s"materialize undirected edges ($nodes nodes)")(edges.count())
      time(s"pageRank $iters iters")({
        val r = Components.pageRank(edges, "a", "b", iters = iters)
        r.count()
      })
      graft.core.CacheScope.drain()
    } else if (args.headOption.contains("boiler")) {
      // corpus-boilerplate stripping at volume: a third of the replicated
      // docs carry a shared 16-word chrome prefix (2 hot segments each)
      val replicas = args.lift(1).map(_.toInt).getOrElse(100)
      import graft.operators.Dedup
      val chrome = "subscribe to our newsletter follow us on social media " +
        "copyright twenty twenty four all rights reserved"
      val docs = s.read.parquet("/root/testdata/sf0.1/documents.parquet")
      val big = docs.crossJoin(s.range(replicas).select(col("id").as("rep")))
        .select((col("rep") * 5000 + col("doc_id")).as("doc_id"),
          when(col("rep") % 3 === 0, concat(lit(chrome + " "), col("text")))
            .otherwise(col("text")).as("text"))
        .repartition(32)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      time(s"materialize ${replicas}x docs")(big.count())
      // three timed passes in one session: the host's wall-clock noise
      // spans 4x run-to-run, so a single number is meaningless — report
      // all three and read the median
      (1 to 3).foreach { pass =>
        time(s"boilerplateStrip pass$pass")({
          val out = Dedup.boilerplateStrip(big, "doc_id", "text")
          val agg = out.agg(count(lit(1)), sum("n_dropped")).head()
          println(s"STRESS dropped segment occurrences: ${agg.getLong(1)}")
          agg.getLong(0)
        })
      }
      graft.core.CacheScope.drain()
    } else if (args.headOption.contains("bloom")) {
      // runtime-filter value at volume: FACT = lineitem replicated N× (each
      // replica shifts into its own orderkey range so dim selectivity stays
      // ~2.4%), DIM = the high-value orders of replica 0 only. The plain
      // semi-join shuffles every fact row; the bloom path cuts the fact
      // side to matches + fpp·|fact| in the scan stage first. Same result
      // set (asserted), different bytes through the exchange.
      val factor = args.lift(1).map(_.toInt).getOrElse(100)
      import graft.operators.ScaleOps
      val shift = 100000000L
      val li = s.read.parquet("/root/testdata/sf0.1/lineitem.parquet")
        .select("l_orderkey", "l_quantity")
      val fact = li.crossJoin(s.range(factor).select(col("id").as("rep")))
        .select((col("l_orderkey") + col("rep") * shift).as("l_orderkey"),
          col("l_quantity"))
        .repartition(32)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val dim = s.read.parquet("/root/testdata/sf0.1/orders.parquet")
        .where(col("o_totalprice") > 450000).select("o_orderkey")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      time(s"materialize ${factor}x fact")(fact.count())
      val nDim = dim.count()
      var plainN = 0L
      time("plain left_semi (hint: merge — the no-broadcast regime)")({
        plainN = fact.join(dim.hint("merge")
          .select(col("o_orderkey").as("l_orderkey")), Seq("l_orderkey"), "left_semi")
          .count()
        plainN
      })
      time(s"bloomSemiJoin ($nDim dim keys, fpp 0.01, residual merge)")({
        val n = ScaleOps.bloomSemiJoin(fact, "l_orderkey", dim, "o_orderkey",
          expectedDistinct = nDim, fpp = 0.01, joinHint = Some("merge")).count()
        require(n == plainN, s"bloom path diverged: $n vs $plainN")
        n
      })
      fact.unpersist(); dim.unpersist()
      graft.core.CacheScope.drain()
    } else if (args.headOption.contains("containment")) {
      // containment dedup at volume: even replica r carries the base text +
      // a replica-unique tail; odd replica r wraps replica r-1's FULL text
      // in intro/outro padding — one designed (contained, container) pair
      // per (doc, even/odd replica pair). The base text's shingles appear in
      // every replica, so the df-cut removes them (the boilerplate-heavy
      // regime the operator documents); the replica-unique shingles carry
      // the containment signal through.
      val replicas = args.lift(1).map(_.toInt).getOrElse(100)
      import graft.operators.Dedup
      val docs = s.read.parquet("/root/testdata/sf0.1/documents.parquet")
      // tails carry (replica, doc)-specific tokens: the designed pair's
      // signal shingles then have df exactly 2 and ride through the df-cut
      // (the base text's shingles, shared by every replica, get cut — that's
      // the boilerplate-heavy regime under test)
      def tag(rep: org.apache.spark.sql.Column) =
        concat(rep.cast("string"), lit("d"), col("doc_id").cast("string"))
      val big = docs.crossJoin(s.range(replicas).select(col("id").as("rep")))
        .select((col("rep") * 1000000 + col("doc_id")).as("doc_id"),
          when(col("rep") % 2 === 0,
            concat(col("text"), lit(" t"), tag(col("rep")), lit("a t"),
              tag(col("rep")), lit("b")))
          .otherwise(concat(lit("intro"), tag(col("rep")), lit(" open "),
            col("text"), lit(" t"), tag(col("rep") - 1), lit("a t"),
            tag(col("rep") - 1), lit("b"),
            lit(" close"), tag(col("rep")), lit("x pad"), tag(col("rep")),
            lit("y pad"), tag(col("rep")), lit("z")))
            .as("text"))
        .repartition(32)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      time(s"materialize ${replicas}x docs")(big.count())
      time("containmentPairs")({
        val out = Dedup.containmentPairs(big, "doc_id", "text",
          minContainment = 0.9)
        val n = out.count()
        println(s"STRESS containment pairs: $n (designed ~${replicas / 2 * 5000})")
        n
      })
      graft.core.CacheScope.drain()
    } else if (args.headOption.contains("novelty")) {
      // crawl-health novelty at volume: replica = crawl batch (ids ordered
      // by batch); 1 doc in 10 per batch gets batch-unique tagged content,
      // the rest re-crawl the base corpus. Batch 0 measures the corpus's
      // INTRINSIC novelty (the small synthetic vocabulary repeats shingles
      // across docs → ~0.11); later batches collapse to fresh-share ×
      // tagged-shingle-fraction (~0.004) — exactly the "is this crawl
      // adding anything" cliff the metric exists to expose. Exercises the
      // min-id aggregate + join-back at full volume with a heavily repeated
      // shingle distribution.
      val replicas = args.lift(1).map(_.toInt).getOrElse(100)
      import graft.operators.Dedup
      val docs = s.read.parquet("/root/testdata/sf0.1/documents.parquet")
      val r = col("rep").cast("string")
      val big = docs.crossJoin(s.range(replicas).select(col("id").as("rep")))
        .select((col("rep") * 1000000 + col("doc_id")).as("doc_id"),
          when(col("doc_id") % 10 === 0,
            concat(lit("fresh"), r, lit(" content"), r, lit(" "), col("text"),
              lit(" batchnew"), r, lit("a batchnew"), r, lit("b")))
          .otherwise(col("text")).as("text"))
        .repartition(32)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      time(s"materialize ${replicas}x docs")(big.count())
      time("noveltyRates + per-batch rollup")({
        val rates = Dedup.noveltyRates(big, "doc_id", "text")
        val byBatch = rates.groupBy((col("id") / 1000000).cast("long").as("batch"))
          .agg(round(avg(col("novelty")), 4).as("mean_novelty"))
          .orderBy(col("batch"))
        val rows = byBatch.collect()
        println(s"STRESS novelty batch0=${rows.head.getDouble(1)} " +
          s"batch${rows.length - 1}=${rows.last.getDouble(1)}")
        rows.length.toLong
      })
      graft.core.CacheScope.drain()
    } else if (args.headOption.contains("semdedup")) {
      // SemDeDup at volume: pseudo-random positive vectors (in-cell random
      // cosine ≈ 0.75, identical even/odd pairs = exact dups at 1.0, so
      // threshold 0.99 separates cleanly); nlist ~ sqrt(n) keeps cells
      // task-sized — the n^1.5 pair bound that replaces all-pairs n^2
      val n = args.lift(1).map(_.toLong).getOrElse(200000L)
      val dims = 64
      import graft.operators.Similarity
      val vec = s.range(n)
        .select(col("id").as("vec_id"), (col("id") - col("id") % 2).as("seed"))
        .withColumn("embedding",
          // per-element hash scatter (NOT linear in d — a modular-linear
          // formula collides whole vectors for seeds equal mod the modulus)
          transform(sequence(lit(0), lit(dims - 1)),
            d => (pmod(xxhash64(col("seed"), d), lit(1000))
              .cast("double") / 1000.0).cast("float")))
        .select("vec_id", "embedding")
        .repartition(32)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      time(s"materialize $n vectors x $dims")(vec.count())
      val nlist = math.max(16, math.sqrt(n.toDouble).toInt)
      // seed centroids (first nlist ids) cover a near-uniform cloud badly —
      // cell skew makes the in-cell pair count blow past the uniform
      // n²/nlist bound; `trained` swaps in k-means(‖) centroids
      // ([[Similarity.trainCentroids]]) to rebalance the cells, the exact
      // knob the operator documents for this failure mode
      val trained = args.lift(2).contains("trained")
      val cents =
        if (!trained) None
        else {
          var c: org.apache.spark.sql.DataFrame = null
          time(s"trainCentroids nlist=$nlist")({
            c = Similarity.trainCentroids(vec, nlist, iters = 2)
            c.count()
          })
          Some(c)
        }
      time(s"semanticDedup nlist=$nlist trained=$trained")({
        val out = Similarity.semanticDedup(vec, nlist, minCosine = 0.99,
          centroids = cents)
        val nDropped = out.where(!col("keep")).count()
        println(s"STRESS dropped near-dups: $nDropped (expect ~${n / 2})")
        nDropped
      })
      graft.core.CacheScope.drain()
    } else if (args.headOption.contains("cdc")) {
      // shift-invariance at volume: every replica r prepends r fresh tokens
      // to the same base doc, so NO fixed-width segment survives across
      // replicas (every 8-token frame moves) while CDC chunks re-cut from
      // content and re-hash identically. Measures the chunk pass (narrow,
      // one fused codegen scan) + the dup-chunk aggregate at volume, and
      // checks the recall story the operator exists for.
      val replicas = args.lift(1).map(_.toInt).getOrElse(100)
      import graft.operators.Dedup
      val docs = s.read.parquet("/root/testdata/sf0.1/documents.parquet")
      val pad = concat_ws(" ", transform(sequence(lit(1), col("rep")),
        i => concat(lit("pad"), col("rep"), lit("x"), i)))
      val big = docs.crossJoin(s.range(replicas).select(col("id").as("rep")))
        .select((col("rep") * 1000000 + col("doc_id")).as("doc_id"),
          when(col("rep") === 0, col("text"))
            .otherwise(concat(pad, lit(" "), col("text"))).as("text"))
        .repartition(32)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      time(s"materialize ${replicas}x shifted docs")(big.count())
      time("cdcChunks (fused rolling pass)")(
        Dedup.cdcChunks(big, "doc_id", "text").count())
      time("cdcDupChunks (chunk_hash aggregate)")({
        val dup = Dedup.cdcDupChunks(big, "doc_id", "text",
          minDocs = replicas.toLong) // chunks surviving EVERY shift
        val n = dup.count()
        println(s"STRESS chunks shared across all $replicas shifts: $n")
        require(n > 0, "CDC must carry shared chunks across shifted replicas")
        n
      })
      // the fixed-width comparison: identical segments across shifted
      // replicas (boilerplateStrip's 8-token frames) — structurally ~zero
      val seg = big.select(col("doc_id"),
          explode(graft.functions.SegmentHashes(col("text"), 8)).as("h"))
        .groupBy("h").agg(count_distinct(col("doc_id") % 1000000).as("nd"),
          count_distinct(col("doc_id")).as("docs"))
        .where(col("docs") >= replicas)
      val segN = seg.count()
      println(s"STRESS fixed segments shared across all $replicas shifts: $segN")
      graft.core.CacheScope.drain()
    } else if (args.headOption.contains("annlsh")) {
      // OR-amplified multi-table LSH at volume: recall@10 vs brute-force
      // truth must be MONOTONE in table count on a 200k-vector corpus with
      // planted near-neighbors (even/odd ids share a seed with small
      // jitter — every query has one designed close neighbor plus the
      // random-cloud tail). Cost scales linearly in tables (the dial).
      val n = args.lift(1).map(_.toLong).getOrElse(200000L)
      val dims = 64
      import graft.operators.Similarity
      val vec = s.range(n)
        .select(col("id").as("vec_id"), (col("id") - col("id") % 2).as("seed"))
        .withColumn("embedding",
          transform(sequence(lit(0), lit(dims - 1)),
            d => ((pmod(xxhash64(col("seed"), d), lit(1000))
                .cast("double") / 1000.0) +
              (pmod(xxhash64(col("vec_id"), d, lit(7)), lit(100))
                .cast("double") / 1000.0)).cast("float")))
        .select("vec_id", "embedding")
        .repartition(32)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      time(s"materialize $n vectors x $dims")(vec.count())
      val queries = vec.where(col("vec_id") < 40)
      var truth: Set[(Long, Long)] = null
      time("bruteForceTopK truth (k=10)")({
        truth = Similarity.bruteForceTopK(vec, queries, k = 10)
          .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
        truth.size.toLong
      })
      var last = -1.0
      Seq(1, 2, 4, 8).foreach { tables =>
        var rec = 0.0
        time(s"lshTopKMulti tables=$tables (12 planes)")({
          val got = Similarity.lshTopKMulti(vec, queries, k = 10,
              numTables = tables, numPlanes = 12, dims = dims)
            .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
          rec = got.intersect(truth).size.toDouble / truth.size
          got.size.toLong
        })
        println(f"STRESS recall@10 tables=$tables: $rec%.3f")
        require(rec >= last - 0.02, // monotone modulo top-k tie noise
          s"recall regressed with more tables: $rec < $last")
        last = rec
      }
      graft.core.CacheScope.drain()
    } else if (args.headOption.contains("spans")) {
      // exact repeated-substring spans at volume: replica r wraps the base
      // text in replica-unique 3-token intro/outro, so every 8-token window
      // fully inside the base text repeats across ALL replicas while the
      // boundary-crossing windows stay unique — the designed outcome is ONE
      // maximal span per (long-enough) doc per replica, and the stage costs
      // (positional-gram explode ~ one row per token, hash-keyed count,
      // per-doc span merge) must stay linear in the replica factor.
      val replicas = args.lift(1).map(_.toInt).getOrElse(50)
      import graft.operators.Dedup
      val docs = s.read.parquet("/root/testdata/sf0.1/documents.parquet")
      val r = col("rep").cast("string")
      val big = docs.crossJoin(s.range(replicas).select(col("id").as("rep")))
        .select((col("rep") * 1000000 + col("doc_id")).as("doc_id"),
          concat(lit("u"), r, lit("a u"), r, lit("b u"), r, lit("c "),
            col("text"),
            lit(" v"), r, lit("x v"), r, lit("y v"), r, lit("z")).as("text"))
        .repartition(32)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      time(s"materialize ${replicas}x wrapped docs")(big.count())
      val base = docs.count()
      time("repeatedSpans (n=8)")({
        val spans = Dedup.repeatedSpans(big, "doc_id", "text", n = 8)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val n = spans.count()
        val docsWithSpan = spans.select("id").distinct().count()
        println(s"STRESS spans: $n across $docsWithSpan docs " +
          s"(designed ~${replicas * base} one-per-doc)")
        // every replica doc whose base text is >= 8 tokens carries the
        // shared interior — near-universal coverage, linear row count
        require(docsWithSpan >= (replicas * base * 9) / 10,
          s"span coverage collapsed: $docsWithSpan of ${replicas * base}")
        spans.unpersist()
        n
      })
      graft.core.CacheScope.drain()
    } else if (args.headOption.contains("policy")) {
      // Aho–Corasick pattern-count independence at volume: the SAME corpus
      // scanned with 10 / 100 / 1000 two-token patterns must cost ~the same
      // through [[TextAnalysis.policyHits]] (one DFA walk per byte), while
      // the declarative twin (one regexp_count column per pattern) pays one
      // full text scan PER pattern — measured here at 10/100 before it gets
      // silly. Patterns are vocabulary bigrams, so plenty genuinely hit.
      val toks = Vector("the", "fast", "key", "order", "sort", "table",
        "scan", "merge", "part", "window", "small", "hash", "join", "batch",
        "stream", "spark", "dup", "group", "query", "row", "data", "slow",
        "filter", "customer", "line", "value", "agg", "column", "big",
        "vector", "dim", "fact")
      def pats(p: Int): Seq[String] = (for {
        a <- toks; b <- toks if a != b
      } yield s"$a $b").take(p)
      import graft.operators.TextAnalysis
      val docs = s.read.parquet("/root/testdata/sf0.1/documents.parquet")
        .select("doc_id", "text")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      time("materialize docs")(docs.count())
      Seq(10, 100, 992).foreach { p =>
        time(s"policyHits (automaton, $p patterns)")({
          val agg = TextAnalysis.policyHits(docs, "doc_id", "text", pats(p))
            .agg(sum("n_hits"), sum("n_patterns_hit")).head()
          println(s"STRESS hits($p): ${agg.getLong(0)} occurrences, " +
            s"${agg.getLong(1)} doc-pattern pairs")
          agg.getLong(0)
        })
      }
      Seq(10, 100).foreach { p =>
        time(s"declarative twin (regexp_count x $p)")({
          // two-token patterns of distinct words can't self-overlap, so
          // non-overlapping regexp_count == the automaton's count here
          val total = pats(p).map(q =>
              regexp_count(col("text"), lit(java.util.regex.Pattern.quote(q))))
            .reduce(_ + _)
          docs.agg(sum(total.cast("long"))).head().getLong(0)
        })
      }
      docs.unpersist()
      graft.core.CacheScope.drain()
    } else if (args.headOption.contains("asof")) {
      val factor = args.lift(1).map(_.toInt).getOrElse(100)
      import graft.operators.AsofJoin
      val ev = graft.core.EventTs.toNanos(s.read.parquet("/root/testdata/sf0.1/events.parquet"))
        .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      // replicate WIDE (new users per replica), the realistic scale axis
      val big = ev.crossJoin(s.range(factor).select(col("id").as("rep")))
        .select(col("event_id"), (col("user_id") + col("rep") * 1000000L).as("user_id"),
          col("ts"), col("event_type"), col("value"))
        .repartition(32)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      time(s"materialize ${factor}x events")(big.count())
      val clicks = big.where(col("event_type") === "click")
        .groupBy("user_id", "ts").agg(max(col("value")).as("click_value"))
      val purchases = big.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      time("asof backward join")(
        AsofJoin.backward(purchases, clicks, Seq("user_id"), "ts",
          Seq("click_value")).count())
    } else if (args.headOption.contains("rangejoin")) {
      // bucketed range join at volume: events ×factor probing a dense
      // 1000-range dimension. The naive BETWEEN join is |fact|×|dims| probe
      // work (BNLJ); the bucketed plan is |fact| + Σ(width/bucketWidth) —
      // run both at the base factor, only the bucketed one at volume.
      val factor = args.lift(1).map(_.toInt).getOrElse(10)
      val nDims = args.lift(2).map(_.toInt).getOrElse(1000)
      import graft.operators.ScaleOps
      val ev = graft.core.EventTs.toNanos(s.read.parquet("/root/testdata/sf0.1/events.parquet"))
        .select(col("event_id"), col("value"))
      val big = ev.crossJoin(s.range(factor).select(col("id").as("rep")))
        .select(col("event_id"),
          (col("value") + col("rep").cast("double") / 1000.0).as("value"))
        .repartition(32)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      time(s"materialize ${factor}x events")(big.count())
      // nDims contiguous equal-width bands over value's [0, 500] domain;
      // bucketWidth = band width → each range expands to ~1 bucket
      val width = 500.0 / nDims
      val dims = s.range(nDims).select(
        (col("id").cast("double") * width).as("lo"),
        ((col("id") + 1).cast("double") * width).as("hi"),
        concat(lit("band"), col("id")).as("band"))
      time(s"rangeBucketJoin (${factor}x fact, $nDims ranges)")(
        ScaleOps.rangeBucketJoin(big, "value", dims, "lo", "hi",
          bucketWidth = width)
          .groupBy("band").count().count())
      // the naive plan's cost axis is |dims| (BNLJ probes every range per
      // row); guarded so the quadratic side stays runnable
      if (factor.toLong * nDims <= 20_000_000L)
        time(s"naive BETWEEN join (${factor}x fact, $nDims ranges)")(
          big.join(dims, col("value") >= col("lo") && col("value") < col("hi"))
            .groupBy("band").count().count())
      graft.core.CacheScope.drain()
    } else if (args.headOption.contains("prototype")) {
      // embedding-grain round-6 ops at volume: replicate the sf0.1
      // embeddings WIDE (new vec_ids, jittered vectors so cells/labels
      // stay populated but vectors stay distinct)
      val factor = args.lift(1).map(_.toInt).getOrElse(100)
      import graft.operators.Similarity
      val emb = s.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
      val big = emb.crossJoin(s.range(factor).select(col("id").as("rep")))
        .select(
          (col("rep") * 10000000L + col("vec_id")).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            (x + (pmod(col("rep") * 31 + i * 7, lit(1000)).cast("float") -
              lit(500f)) / lit(100000f))).as("embedding"),
          col("label"))
        .repartition(32)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      time(s"materialize ${factor}x embeddings")(big.count())
      // prototype build + scoring: (label, dim)-keyed aggregate then one
      // broadcast-scored map pass; must stay ~linear in the factor
      time("labelOutliers k=10")(
        Similarity.labelOutliers(big, k = 10).count())
      // IVF assignment + per-cell cap: |corpus| × nlist scored assignment,
      // WindowGroupLimit keeps the shuffle at nlist × cap rows
      time("cellBalancedSample nlist=64 cap=1000")(
        Similarity.cellBalancedSample(big, nlist = 64, cap = 1000).count())
      graft.core.CacheScope.drain()
    } else if (args.headOption.contains("events")) {
      // behavioral ops at volume: replicate sf0.1 events with NEW users
      // (per-user history length stays fixed — the per-key bound every
      // EventOps design leans on — while total volume scales by `factor`)
      val factor = args.lift(1).map(_.toInt).getOrElse(50)
      // optional 3rd arg: comma-separated substrings selecting which ops run
      // (in-sequence runs pollute each other's timings — the round-6
      // eventTransitions lesson; isolate before quoting a number)
      val only = args.lift(2).map(_.split(",").toSeq)
      def wanted(label: String): Boolean =
        only.forall(_.exists(label.contains))
      def timeIf(label: String)(body: => Long): Unit =
        if (wanted(label)) time(label)(body)
      import graft.operators.EventOps
      val ev = graft.core.EventTs.toNanos(s.read.parquet("/root/testdata/sf0.1/events.parquet"))
      val big = ev.crossJoin(s.range(factor).select(col("id").as("rep")))
        .select(
          (col("rep") * 100000000L + col("event_id")).as("event_id"),
          // shift each replica 1h so rolling windows stay populated but
          // replicas don't collapse onto identical timestamps
          (col("ts") + col("rep") * 3600000000000L).as("ts"),
          (col("rep") * 1000000L + col("user_id")).as("user_id"),
          col("event_type"), col("value"))
        .repartition(32)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      time(s"materialize ${factor}x events")(big.count())
      // one exchange + per-user fold: linear in factor (users scale, history doesn't)
      timeIf("funnelSteps 4-stage")(
        EventOps.funnelSteps(big, "user_id", Seq("ts", "event_id"),
          "event_type", Seq("signup", "view", "click", "purchase")).count())
      // one exchange + RANGE-frame window: linear (frame size fixed by the
      // hour). Aggregate OVER the window outputs — a bare count() lets the
      // optimizer prune the Window exec and times an empty plan.
      timeIf("trailingStats 1h")({
        EventOps.trailingStats(
          big.select(col("event_id"), col("user_id"),
            expr("ts div 1000000000").as("ts_sec"), col("value")),
          "user_id", col("ts_sec"), "value", 3600L)
          .agg(max("n_trail"), sum("sum_trail")).head()
        big.count()
      })
      // lag window + bounded |types|^2 agg: linear
      timeIf("eventTransitions")(
        EventOps.eventTransitions(big, "user_id", Seq("ts", "event_id"),
          "event_type").count())
      // one shuffle, map-side distinct-day collapse: linear
      timeIf("retentionCohorts")(
        EventOps.retentionCohorts(big, "user_id",
          expr("ts div 86400000000000")).count())
      // per-day sketches + union rollup: the rollup cost is #days rows
      timeIf("sketchDistinctRollup week")(
        graft.operators.ScaleOps.sketchDistinctRollup(big,
          expr("ts div 86400000000000"), "user_id",
          d => floor(d / 7)).count())
      // ROWS-frame running last-touch + bounded |channels|+1 agg: linear
      timeIf("lastTouchAttribution")(
        EventOps.lastTouchAttribution(big, "user_id", Seq("ts", "event_id"),
          "event_type", "value", Seq("click", "view"), "purchase").count())
      // ONE (group, bin)-keyed aggregate over the raw rows; the PSI grid
      // work is |groups|·|bins| regardless of volume — must stay linear in
      // factor with a flat tail (grid cost invisible). Groups = replica id
      // so |groups| grows with factor while rows/group stays fixed.
      timeIf("psiDrift value-bins")(
        graft.operators.ScaleOps.psiDrift(
          big.withColumn("src", (col("user_id") % 1000L).cast("string")),
          "src", floor(col("value") * 10)).count())
      graft.core.CacheScope.drain()
    } else {
      val factor = args.headOption.map(_.toDouble).getOrElse(1.0)
      StressGen.registerAll(s, factor)
      time("tam_ce")(NvsPipeline.tamCe(s).count())
      time("dtc_display")(NvsPipeline.dtcDisplay(s).count())
      time("hcp_all_channels")(NvsPipeline.hcpAllChannels(s).count())
      time("combined")(NvsPipeline.combined(s).count())
      val dir = java.nio.file.Files.createTempDirectory("graft_stress").toString
      time("ChannelJobs.run")(
        ChannelJobs.run(s, ChannelJobs.JobConfig(outDir = dir)).map(_.rows).sum)
    }
    s.stop()
  }
}
