package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** ScaleOps must be RESULT-identical to the plain operators they replace —
  * they only change physical distribution. Verified on skewed inputs. */
class ScaleOpsSpec extends SparkSpec {

  private lazy val skewed = {
    import spark.implicits._
    // 90% of rows share one key (the skew), the rest spread over 50 keys
    (1 to 2000).map { i =>
      val k = if (i % 10 != 0) "hot" else s"k${i % 50}"
      (k, i.toLong, i * 1.5)
    }.toDF("k", "id", "v")
  }

  test("saltedJoin == plain inner join (row-level equality on skewed keys)") {
    import spark.implicits._
    val right = (Seq("hot") ++ (0 until 50).map(i => s"k$i"))
      .zipWithIndex.map { case (k, i) => (k, s"dim$i") }.toDF("k", "attr")
    val plain = skewed.join(right, Seq("k")).select("k", "id", "v", "attr")
    val salted = ScaleOps.saltedJoin(skewed, right, Seq("k"), salt = 8)
      .select("k", "id", "v", "attr")
    assert(plain.count() == salted.count())
    assert(plain.exceptAll(salted).isEmpty && salted.exceptAll(plain).isEmpty)
  }

  test("saltedSum == plain groupBy sum") {
    val plain = skewed.groupBy("k").agg(sum("v").as("sum_v"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val salted = ScaleOps.saltedSum(skewed, Seq("k"), "v", salt = 8)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(plain.keySet == salted.keySet)
    plain.foreach { case (k, v) => assert(math.abs(v - salted(k)) < 1e-9, k) }
  }

  test("writeSorted: range predicates prune row groups via min/max stats") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sorted").toString
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    ScaleOps.writeSorted(li, s"$dir/li", Seq("l_shipdate"), files = 8)
    val back = spark.read.parquet(s"$dir/li")
    assert(back.count() == li.count())
    // files are range-partitioned: each file's shipdate span is narrow —
    // a point-in-time predicate must read fewer rows than a full scan would
    // (observable via the metric-free proxy: per-file min/max disjointness)
    val perFile = back.groupBy(input_file_name().as("f"))
      .agg(min("l_shipdate").as("lo"), max("l_shipdate").as("hi"))
      .collect()
    assert(perFile.length == 8)
    val spans = perFile.map(r => (String.valueOf(r.get(1)), String.valueOf(r.get(2))))
      .sortBy(_._1)
    // non-overlapping (boundary touch allowed): each file's lo >= previous hi
    spans.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(lo2 >= hi1, s"$lo2 < $hi1")
      case _ =>
    }
  }

  test("writeClustered: per-file min/max stay tight on BOTH filter columns") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_hilbert").toString
    // uniform 100x100 grid — the shape where single-column sort leaves the
    // second column full-width in every file
    val grid = (0 until 100).flatMap(x => (0 until 100).map(y => (x, y)))
      .toDF("x", "y")
    ScaleOps.writeClustered(grid, s"$dir/h", "x", "y", files = 8)
    val back = spark.read.parquet(s"$dir/h")
    assert(back.count() == 10000)
    val perFile = back.groupBy(input_file_name().as("f"))
      .agg((max("x") - min("x")).as("sx"), (max("y") - min("y")).as("sy"))
      .collect().map(r => (r.getInt(1), r.getInt(2)))
    assert(perFile.length == 8)
    // Hilbert continuity: EVERY 1/8 curve segment is a local blob — both
    // dims bounded well under the full 0..99 span in every file (this is
    // exactly what Z-order can NOT promise: its quadrant-junction jump put
    // a full-width x-span 99 file in this same test)
    perFile.foreach { case (sx, sy) =>
      assert(sx <= 75 && sy <= 75, s"file spans x=$sx y=$sy — not clustered")
    }
    assert(perFile.map(_._1).sum / 8.0 <= 60.0)
    assert(perFile.map(_._2).sum / 8.0 <= 60.0)
    // contrast: x-only sort leaves y full-width in every file
    ScaleOps.writeSorted(grid, s"$dir/s", Seq("x"), files = 8)
    val sorted = spark.read.parquet(s"$dir/s")
      .groupBy(input_file_name().as("f"))
      .agg((max("y") - min("y")).as("sy")).collect().map(_.getInt(1))
    assert(sorted.forall(_ > 90), "x-sort unexpectedly clustered y")
  }

  test("HilbertIndex: bijective walk, unit steps between consecutive cells") {
    // d → (x,y) inverse on a small grid via brute force: every curve
    // position is hit exactly once, and consecutive positions are
    // grid-adjacent (|dx|+|dy| = 1) — the no-jumps property
    val bits = 4
    val n = 1 << bits
    val byD = (for (x <- 0 until n; y <- 0 until n)
      yield graft.functions.HilbertIndex.xy2d(bits, x, y) -> ((x, y))).toMap
    assert(byD.size == n * n) // bijection
    (1 until n * n).foreach { d =>
      val (x1, y1) = byD(d.toLong - 1); val (x2, y2) = byD(d.toLong)
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
        s"jump at d=$d: ($x1,$y1) -> ($x2,$y2)")
    }
  }

  test("capPerKey: at most cap rows per key, hash-deterministic survivors") {
    import spark.implicits._
    val rows = (1L to 400L).map(i => (i % 7, i)).toDF("k", "id")
    val capped = ScaleOps.capPerKey(rows, "k", "id", cap = 3)
    val perKey = capped.groupBy("k").count().as[(Long, Long)].collect().toMap
    assert(perKey.values.forall(_ <= 3) && perKey.size == 7)
    // deterministic: the same survivors on every run
    val again = ScaleOps.capPerKey(rows, "k", "id", cap = 3)
      .as[(Long, Long)].collect().toSet
    assert(again == capped.as[(Long, Long)].collect().toSet)
    // keys with fewer rows than cap keep everything
    val tiny = Seq((0L, 1L), (0L, 2L)).toDF("k", "id")
    assert(ScaleOps.capPerKey(tiny, "k", "id", 5).count() == 2)
  }

  test("splitByHash: exhaustive labels, composes exactly with hashSample") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val split = ScaleOps.splitByHash(docs, "doc_id", "split",
      Seq("train" -> 800, "val" -> 100, "test" -> 100))
    assert(split.where(col("split").isNull).count() == 0)
    val n = docs.count()
    val byLabel = split.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLabel.values.sum == n)
    assert(byLabel("train") > byLabel("val") && byLabel("train") > byLabel("test"))
    // the train split IS hashSample at the same rate — same bucket math,
    // so sampling and splitting compose without key leakage across sets
    val sampled = ScaleOps.hashSample(docs, "doc_id", 800)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val train = split.where(col("split") === "train")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(train == sampled)
  }

  test("packBins: bins respect the token budget up to one-doc overflow") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val packed = ScaleOps.packBins(docs, "doc_id", "text",
      seqTokens = 2048, shards = 8)
    assert(packed.count() == docs.count())
    val maxDoc = packed.agg(max("n_tokens")).head().getLong(0)
    val binTotals = packed.groupBy("shard", "bin")
      .agg(sum("n_tokens").as("t")).collect().map(_.getLong(2))
    // offset-based assignment: a bin holds < budget + its last (overflowing)
    // doc — never more
    assert(binTotals.forall(_ < 2048 + maxDoc))
    // bins are contiguous from 0 within every shard
    val perShard = packed.groupBy("shard")
      .agg(min("bin").as("lo"), max("bin").as("hi"),
        countDistinct("bin").as("nb")).collect()
    perShard.foreach { r =>
      assert(r.getLong(1) == 0L && r.getLong(3) == r.getLong(2) + 1)
    }
  }

  test("writeBucketed: join of two co-bucketed tables plans without a shuffle") {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
    val ord = spark.read.parquet(s"$sfDir/orders.parquet")
      .select("o_orderkey", "o_totalprice")
    ScaleOps.writeBucketed(li, "li_bkt", 4, Seq("l_orderkey"))
    ScaleOps.writeBucketed(ord, "ord_bkt", 4, Seq("o_orderkey"))
    val joined = spark.table("li_bkt")
      .join(spark.table("ord_bkt").hint("merge"),
        col("l_orderkey") === col("o_orderkey"))
    val plan = joined.queryExecution.executedPlan.toString
    // co-located: SortMergeJoin with ZERO Exchange operators in the plan
    assert(plan.contains("SortMergeJoin"))
    assert(!plan.contains("Exchange"), plan.linesIterator.take(12).mkString("\n"))
    // and the result is right
    assert(joined.count() ==
      li.join(ord, col("l_orderkey") === col("o_orderkey")).count())
  }

  test("ensureBucketed: writes once, reuses the layout on repeat calls") {
    val nation = spark.read.parquet(s"$sfDir/nation.parquet")
    val name = ScaleOps.bucketTableName("graft_test_nation", sfDir)
    assert(!spark.catalog.tableExists(name))
    val first = ScaleOps.ensureBucketed(nation, name, 2, Seq("n_nationkey"))
    assert(first.count() == nation.count())
    // second call must NOT rewrite: feed a DIFFERENT frame — if it wrote,
    // the count would change; reuse returns the original layout
    val second = ScaleOps.ensureBucketed(nation.limit(1), name, 2,
      Seq("n_nationkey"))
    assert(second.count() == nation.count())
    // distinct dirs never alias
    assert(ScaleOps.bucketTableName("p", "/tmp/x10") !=
      ScaleOps.bucketTableName("p", "/tmp/x100"))
    // reuse must be reuse of the SAME layout: a different bucket count or
    // column set under the same name fails loudly instead of silently
    // handing back the stale layout
    intercept[IllegalArgumentException] {
      ScaleOps.ensureBucketed(nation, name, 4, Seq("n_nationkey"))
    }
    intercept[IllegalArgumentException] {
      ScaleOps.ensureBucketed(nation, name, 2, Seq("n_regionkey"))
    }
  }

  test("hashSample: deterministic, composable across tables, ~proportional") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val s1 = ScaleOps.hashSample(docs, "doc_id", 100).select("doc_id").collect().map(_.getLong(0)).toSet
    val s2 = ScaleOps.hashSample(docs, "doc_id", 100).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s1 == s2) // reproducible
    val s250 = ScaleOps.hashSample(docs, "doc_id", 250).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s1.subsetOf(s250)) // permille thresholds nest
    val n = docs.count().toDouble
    assert(math.abs(s250.size / n - 0.25) < 0.08)
    assert(ScaleOps.hashSample(docs, "doc_id", 0).count() == 0)
    assert(ScaleOps.hashSample(docs, "doc_id", 1000).count() == n)
  }

  test("stratifiedHashSample: per-stratum rates, same hash as hashSample") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val rates = Map("en" -> 100, "de" -> 1000)
    val got = ScaleOps.stratifiedHashSample(docs, "lang", "doc_id", rates,
      defaultPermille = 0)
    // each stratum must equal hashSample at its own rate, restricted to it
    for ((lang, p) <- rates) {
      val want = ScaleOps.hashSample(docs.where(col("lang") === lang), "doc_id", p)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val part = got.where(col("lang") === lang)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(part == want, s"stratum $lang")
    }
    // strata not in the map follow the default rate (0 → dropped entirely)
    assert(got.where(!col("lang").isin(rates.keys.toSeq: _*)).count() == 0)
  }

  test("approxDistinct within rsd of exact count(distinct)") {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val exact = li.select(countDistinct("l_partkey")).head().getLong(0).toDouble
    val approx = ScaleOps.approxDistinct(li.withColumn("g", lit(1)), Seq("g"), "l_partkey")
      .head().getLong(1).toDouble
    assert(math.abs(approx - exact) / exact < 0.15) // 3× the 5% rsd
  }

  test("approxDistinctChecked: exact twin matches and the bound flag holds") {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val rows = ScaleOps.approxDistinctChecked(li, Seq("l_returnflag"), "l_partkey")
      .collect()
    assert(rows.nonEmpty)
    val exact = li.groupBy("l_returnflag").agg(countDistinct("l_partkey"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      assert(r.getLong(r.fieldIndex("exact_distinct_l_partkey")) ==
        exact(r.getString(0)))
      assert(r.getBoolean(r.fieldIndex("within_bound")))
    }
  }

  test("importanceSample: 0 drops all, 1 keeps all, monotone in rate, tracks E[score]") {
    import spark.implicits._
    val d = (1L to 500L).map(i => (i, i.toDouble / 500.0)).toDF("id", "score")
    assert(ScaleOps.importanceSample(d, "id", lit(0.0), rate = 1.0).count() == 0)
    assert(ScaleOps.importanceSample(d, "id", lit(1.0), rate = 1.0).count() == 500)
    // a row kept at rate r is kept at every higher rate (floor is monotone)
    val lo = ScaleOps.importanceSample(d, "id", col("score"), rate = 0.5)
      .select("id").collect().map(_.getLong(0)).toSet
    val hi = ScaleOps.importanceSample(d, "id", col("score"), rate = 1.0)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(lo.subsetOf(hi))
    // keep fraction ≈ E[p_keep] = E[score] ≈ 0.5 (hash is uniform)
    assert(hi.size > 180 && hi.size < 320, s"kept ${hi.size} of 500")
  }

  test("frequentItemsChecked == exact threshold set, even under forced sketch eviction") {
    import spark.implicits._
    // zipf-ish stream: key k_i appears 2000/i times, i in 1..80 → wide
    // enough that maxMapSize = 8 forces real Misra-Gries eviction
    val rows = (1 to 80).flatMap(i => Seq.fill(2000 / i)(s"k$i")).toDF("k")
    val exact = rows.groupBy("k").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = exact.values.sum
    // 128 forces real eviction (80 distinct keys > ~96 slots under churn)
    // while keeping the error bound below the threshold — the guarantee's
    // working regime
    for (mapSize <- Seq(1024, 128)) {
      val got = ScaleOps.frequentItemsChecked(rows, "k", None,
          minShare = 0.02, maxMapSize = mapSize)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
      val threshold = math.max(math.floor(0.02 * total).toLong, 1L)
      val want = exact.filter(_._2 >= threshold)
      assert(got.map(_._1).toSet == want.keySet, s"mapSize $mapSize")
      got.foreach { case (k, n, within) =>
        assert(n == want(k), s"mapSize $mapSize key $k")
        assert(within, s"mapSize $mapSize bound violated for $k")
      }
    }
    // an undersized sketch must refuse, not silently under-report
    val e = intercept[IllegalArgumentException] {
      ScaleOps.frequentItemsChecked(rows, "k", None,
        minShare = 0.02, maxMapSize = 8).collect()
    }
    assert(e.getMessage.contains("raise maxMapSize"))
  }

  test("bloomSemiJoin == plain left_semi join (row-level, real tables)") {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val dim = spark.read.parquet(s"$sfDir/orders.parquet")
      .where(col("o_totalprice") > 200000)
    val plain = li.join(dim.select(col("o_orderkey").as("l_orderkey")).distinct(),
      Seq("l_orderkey"), "left_semi")
    val bloomed = ScaleOps.bloomSemiJoin(li, "l_orderkey", dim, "o_orderkey",
      expectedDistinct = 10000, fpp = 0.01)
    assert(plain.count() > 0)
    assert(bloomed.exceptAll(plain).isEmpty && plain.exceptAll(bloomed).isEmpty)
  }

  test("BloomMightContain: no false negatives; probe runs codegen'd in a scan-stage filter") {
    import spark.implicits._
    val keys = (0L until 5000L).map(_ * 7L)
    val bloom = spark.sparkContext.broadcast(
      keys.toDF("k").stat.bloomFilter("k", 5000, 0.01))
    // every inserted key probes true — the property the residual-join
    // correctness argument rests on
    val probed = keys.toDF("k")
      .where(graft.functions.BloomMightContain(col("k"), bloom))
    assert(probed.count() == keys.size)
    // the probe sits in a Filter next to the scan — asserted on a
    // file-backed frame (a LocalRelation gets constant-folded on the driver)
    val scan = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .where(graft.functions.BloomMightContain(col("l_orderkey"), bloom))
    val plan = scan.queryExecution.executedPlan.toString
    // "*(1) Filter" = the probe runs inside whole-stage codegen, stage 1
    // (the scan stage) — before any exchange
    assert(plan.contains("*(1) Filter bloom_might_contain"), plan.take(500))
  }

  test("rangeBucketJoin == naive BETWEEN join, incl. overlaps and boundaries; no loop join") {
    import spark.implicits._
    val fact = Seq((1L, 0.0), (2L, 0.99), (3L, 1.0), (4L, 9.999), (5L, 10.0),
      (6L, 25.0), (7L, 54.99), (8L, 55.0), (9L, 99.9)).toDF("id", "k")
    // overlapping ranges: 20-60 and 50-100 both cover 54.99/55.0
    val dims = Seq((0.0, 1.0, "a"), (1.0, 10.0, "b"), (10.0, 20.0, "c"),
      (20.0, 60.0, "d"), (50.0, 100.0, "e")).toDF("lo", "hi", "band")
    val got = ScaleOps.rangeBucketJoin(fact, "k", dims, "lo", "hi", 7.0)
      .select(col("id"), col("band")).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val want = fact.join(dims, col("k") >= col("lo") && col("k") < col("hi"))
      .select(col("id"), col("band")).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == want)
    assert(want.count(_._2 == "d") + want.count(_._2 == "e") >= 4) // overlap exercised
    // the plan the operator exists for: a hash join, not a nested loop
    val plan = ScaleOps.rangeBucketJoin(
      graft.core.EventTs.toNanos(spark.read.parquet(s"$sfDir/events.parquet")), "value", dims, "lo", "hi", 10.0)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      plan.take(400))
  }

  test("groupQuantiles: hand-checked discrete quantiles, ties, p=1000 is the max") {
    import spark.implicits._
    // group g: values 1..10 once each → p50 = ceil(0.5·10)=5th = 5,
    // p90 = 9, p1000 = 10; group h: 2,2,2,9 → p50 = 2nd = 2, p1000 = 9
    val df = ((1 to 10).map(v => ("g", v.toDouble)) ++
      Seq(("h", 2.0), ("h", 2.0), ("h", 2.0), ("h", 9.0))).toDF("src", "v")
    val got = ScaleOps.groupQuantiles(df, "src", col("v"), Seq(500, 900, 1000))
      .collect().map(r => ((r.getString(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(got(("g", 500L)) == 5.0 && got(("g", 900L)) == 9.0 && got(("g", 1000L)) == 10.0)
    assert(got(("h", 500L)) == 2.0 && got(("h", 900L)) == 9.0 && got(("h", 1000L)) == 9.0)
    // agrees with a sort-based reference on the real corpus scores
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val score = graft.operators.TextAnalysis.qualityScore(col("text"))
    val mine = ScaleOps.groupQuantiles(docs, "source", score, Seq(500))
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    val ref = docs.select(col("source"), score.as("v"))
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("source").orderBy("v")))
      .withColumn("n", org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("source")))
      .where(col("rn") === org.apache.spark.sql.functions.ceil(col("n") * 0.5).cast("long"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(mine == ref)
  }

  test("epochPlanFromTemperature: output lands near budget at the temperature shares") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val n = docs.count()
    val budget = n * 2 // upsampling regime: every source emits >= 1 copy
    val out = ScaleOps.epochPlanFromTemperature(docs, "source", "doc_id",
      alpha = 0.5, budgetRows = budget)
    val got = out.count()
    assert(math.abs(got - budget).toDouble / budget < 0.05,
      s"E[rows]=$budget, got $got")
    // α=0.5 on a uniform corpus ≈ uniform shares; per-source output within
    // quantization + hash noise of budget/20
    val bySrc = out.groupBy("source").count().collect().map(_.getLong(1))
    assert(bySrc.length == 20)
    val target = budget.toDouble / 20
    assert(bySrc.forall(c => math.abs(c - target) / target < 0.25),
      s"per-source drift: ${bySrc.mkString(",")}")
    // determinism: second run identical
    val again = ScaleOps.epochPlanFromTemperature(docs, "source", "doc_id",
      alpha = 0.5, budgetRows = budget).count()
    assert(again == got)
  }

  test("orderedSequencePerKey: order pinned by sort keys, not arrival/partition order") {
    import spark.implicits._
    // rows deliberately out of ts order, spread across partitions
    val df = Seq((7L, 30L, 3L, "purchase"), (7L, 10L, 1L, "view"),
      (7L, 20L, 2L, "cart"), (7L, 10L, 0L, "land"), (8L, 5L, 9L, "view"))
      .toDF("user_id", "ts", "event_id", "event_type").repartition(8)
    val got = ScaleOps.orderedSequencePerKey(df, "user_id",
      Seq("ts", "event_id"), "event_type")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    // ties on ts=10 break by event_id: land(0) before view(1)
    assert(got(7L) == ((4L, "land view cart purchase")))
    assert(got(8L) == ((1L, "view")))
  }

  test("weightedCapPerKey: cap holds, dominant weights always win, deterministic") {
    import spark.implicits._
    val df = ((1L to 40L).map(i => (i, "g", 0.001)) :+ ((99L, "g", 1000.0)))
      .toDF("id", "grp", "w")
    // the 1000.0-weight row's key u^(1/1000) ≈ 1 beats every 0.001-weight
    // row's u^1000 ≈ 0 — A-Res proportionality at its extreme
    val top1 = ScaleOps.weightedCapPerKey(df, "grp", "id", col("w"), cap = 1)
      .collect().map(_.getLong(0))
    assert(top1.toSeq == Seq(99L))
    val s5a = ScaleOps.weightedCapPerKey(df, "grp", "id", col("w"), cap = 5)
      .collect().map(_.getLong(0)).sorted.toSeq
    val s5b = ScaleOps.weightedCapPerKey(df, "grp", "id", col("w"), cap = 5)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(s5a == s5b && s5a.length == 5 && s5a.contains(99L))
    // non-positive weights never survive
    val zw = df.withColumn("w", when(col("id") === 99L, 0.0).otherwise(col("w")))
    assert(!ScaleOps.weightedCapPerKey(zw, "grp", "id", col("w"), cap = 41)
      .collect().map(_.getLong(0)).contains(99L))
    // the rank limit pushes map-side like capPerKey
    val plan = ScaleOps.weightedCapPerKey(
      spark.read.parquet(s"$sfDir/documents.parquet")
        .withColumn("w", lit(1.0) + col("n_chars") / 10000.0),
      "source", "doc_id", col("w"), cap = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan.take(400))
  }

  test("microPearson: exact ±1 on linear data, matches a driver-side reference otherwise") {
    import spark.implicits._
    val df = Seq(
      ("lin", 1.0, 2.0), ("lin", 2.0, 4.0), ("lin", 3.0, 6.0),
      ("anti", 1.0, 3.0), ("anti", 2.0, 2.0), ("anti", 3.0, 1.0),
      ("mix", 1.0, 1.0), ("mix", 2.0, 3.0), ("mix", 3.0, 2.0))
      .toDF("g", "x", "y")
    val got = ScaleOps.microPearson(df, "g", col("x"), col("y"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got("lin") == ((3L, 1.0)))
    assert(got("anti") == ((3L, -1.0)))
    // driver reference on the micro-quantized values
    def ref(xs: Seq[Double], ys: Seq[Double]): Double = {
      val xm = xs.map(v => math.round(v * 1e6))
      val ym = ys.map(v => math.round(v * 1e6))
      val n = xm.size.toDouble
      val (sx, sy) = (xm.sum.toDouble, ym.sum.toDouble)
      val sxy = xm.zip(ym).map { case (a, b) => a.toDouble * b }.sum
      val (sxx, syy) = (xm.map(a => a.toDouble * a).sum, ym.map(a => a.toDouble * a).sum)
      math.rint(((n * sxy - sx * sy) /
        math.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))) * 1e6) / 1e6
    }
    assert(math.abs(got("mix")._2 - ref(Seq(1, 2, 3), Seq(1, 3, 2))) < 2e-6)
  }

  test("temperatureWeights: α=1 mirrors the corpus, α<1 upweights rare strata") {
    import spark.implicits._
    // 90/9/1 split — the skew temperature sampling exists to soften
    val df = ((1 to 90).map(i => (s"r$i", "big")) ++
      (1 to 9).map(i => (s"s$i", "mid")) ++ Seq(("t1", "rare")))
      .toDF("id", "src")
    def w(alpha: Double): Map[String, (Long, Double)] =
      ScaleOps.temperatureWeights(df, "src", alpha)
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(3)))).toMap
    val mirror = w(1.0)
    assert(mirror("big")._1 == 90L && math.abs(mirror("big")._2 - 0.9) < 1e-6)
    assert(math.abs(mirror.values.map(_._2).sum - 1.0) < 1e-5)
    val soft = w(0.5)
    // rare stratum gains share, dominant loses; ordering preserved
    assert(soft("rare")._2 > mirror("rare")._2)
    assert(soft("big")._2 < mirror("big")._2)
    assert(soft("big")._2 > soft("mid")._2 && soft("mid")._2 > soft("rare")._2)
    assert(math.abs(soft.values.map(_._2).sum - 1.0) < 1e-5)
  }

  test("sketchDistinctRollup: union-of-daily-sketches stays in error bound " +
      "and matches the direct rollup estimate") {
    import org.apache.spark.sql.functions._
    val ev = graft.core.EventTs.toNanos(spark.read.parquet(s"$sfDir/events.parquet"))
    val rolled = ScaleOps.sketchDistinctRollup(ev,
      expr("ts div 86400000000000"), "user_id", d => floor(d / 7))
    val rows = rolled.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getBoolean(2)), "every rollup within 3*rsd")
    // mergeability cross-check: the unioned weekly estimate must agree with
    // a sketch built directly over the week's raw rows (same lgConfigK) —
    // same registers up to union promotion, so within the same error bound
    val direct = ev
      .select(expr("(ts div 86400000000000) div 7").as("rollup"), col("user_id"))
      .groupBy("rollup")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"), 14)).as("est"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    exact.foreach { case (wk, ex) =>
      assert(math.abs(direct(wk) - ex).toDouble / math.max(ex, 1) < 0.05, s"week $wk")
    }
  }

  test("psiDrift: hand-computed two-group drift, symmetric and exact") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // A: 8×bin0 + 2×bin1; B is the mirror image. With add-1 smoothing over
    // the 2-bin grid: pa=(8+1)/(10+2)=0.75 vs pb=(2+1)/(10+2)=0.25 on one
    // bin and the reverse on the other, so each bin contributes
    // 0.5·ln(3) → round(549306.14) micro, PSI = 2× that for BOTH groups
    // (drift vs pooled-rest is symmetric with two groups).
    val rows = Seq.fill(8)(("A", 0L)) ++ Seq.fill(2)(("A", 1L)) ++
      Seq.fill(2)(("B", 0L)) ++ Seq.fill(8)(("B", 1L))
    val got = ScaleOps.psiDrift(rows.toDF("src", "bin"), "src", col("bin"))
      .orderBy("src").collect().map(r => (r.getString(0), r.getLong(1)))
    val perBin = math.round(0.5 * math.log(3.0) * 1e6) // 549306
    assert(got.toSeq == Seq(("A", 2 * perBin), ("B", 2 * perBin)))
    // identical distributions → zero drift (smoothing keeps pa=pb exactly)
    val flat = Seq.fill(5)(("A", 0L)) ++ Seq.fill(5)(("A", 1L)) ++
      Seq.fill(5)(("B", 0L)) ++ Seq.fill(5)(("B", 1L))
    val zeros = ScaleOps.psiDrift(flat.toDF("src", "bin"), "src", col("bin"))
      .collect().map(_.getLong(1))
    assert(zeros.forall(_ == 0L))
  }

  test("psiVsReference: hand-computed drift vs a fixed histogram; matching group scores 0") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // reference: uniform 5/5 over bins {0,1}. A drifts (8/2), B matches (5/5).
    val rows = Seq.fill(8)(("A", 0L)) ++ Seq.fill(2)(("A", 1L)) ++
      Seq.fill(5)(("B", 0L)) ++ Seq.fill(5)(("B", 1L))
    val ref = Seq((0L, 5L), (1L, 5L)).toDF("bin", "c")
    val got = ScaleOps.psiVsReference(rows.toDF("src", "bin"), "src",
        col("bin"), ref)
      .orderBy("src").collect().map(r => (r.getString(0), r.getLong(1)))
    // A bin0: pa=9/12, pb=6/12 → 0.25·ln(1.5)  → 101366 micro
    // A bin1: pa=3/12, pb=6/12 → −0.25·ln(0.5) → 173287 micro
    val expectA = math.round(0.25 * math.log(1.5) * 1e6) +
      math.round(0.25 * math.log(2.0) * 1e6)
    assert(got.toSeq == Seq(("A", expectA), ("B", 0L)))
    // a reference-only bin (never observed) still contributes finite drift
    val ref2 = Seq((0L, 5L), (1L, 5L), (2L, 5L)).toDF("bin", "c")
    val withMissing = ScaleOps.psiVsReference(rows.toDF("src", "bin"), "src",
        col("bin"), ref2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(withMissing.values.forall(v => v > 0L && v < Long.MaxValue))
  }

  test("psiDriftCategorical: string bins score identically to their numeric twin") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rows = Seq.fill(8)(("A", "en")) ++ Seq.fill(2)(("A", "de")) ++
      Seq.fill(2)(("B", "en")) ++ Seq.fill(8)(("B", "de"))
    val cat = ScaleOps.psiDriftCategorical(rows.toDF("src", "lang"),
        "src", col("lang"))
      .orderBy("src").collect().map(r => (r.getString(0), r.getLong(1)))
    // same histogram as the numeric hand-computed case → same PSI
    val perBin = math.round(0.5 * math.log(3.0) * 1e6)
    assert(cat.toSeq == Seq(("A", 2 * perBin), ("B", 2 * perBin)))
  }

  test("domainReweight: weights normalize, quality ordering drives the update") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val out = ScaleOps.domainReweight(docs, "source",
        graft.operators.TextAnalysis.tokenCount(col("text")),
        graft.operators.TextAnalysis.qualityScore(col("text")))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(out.nonEmpty)
    // both mixtures are distributions (6dp rounding tolerance per domain)
    assert(math.abs(out.map(_._4).sum - 1.0) < 1e-4)
    assert(math.abs(out.map(_._6).sum - 1.0) < 1e-4)
    assert(out.forall(r => r._4 > 0 && r._6 > 0))
    // the multiplicative update is monotone in quality: sort domains by
    // mean quality and the w1/w0 boost ratio must sort the same way
    val byQuality = out.sortBy(_._5).map(r => r._6 / r._4)
    assert(byQuality.sliding(2).forall(s => s.length < 2 || s(0) <= s(1) + 1e-6),
      s"boost ratios not monotone in quality: ${byQuality.toSeq}")

    // synthetic two-domain check: equal tokens, different quality → the
    // higher-quality domain ends above its w0 and above the other domain
    val synth = spark.range(200).select(
      when(col("id") < 100, "hi").otherwise("lo").as("source"),
      col("id").as("doc_id"))
      .withColumn("text", when(col("source") === "hi",
        lit("the cat sat on the mat and read a fine book today"))
        .otherwise(lit("zz9 !!@@ ## xx7 $$ %% qq3 && ** ((")))
    val sm = ScaleOps.domainReweight(synth, "source",
        graft.operators.TextAnalysis.tokenCount(col("text")),
        graft.operators.TextAnalysis.qualityScore(col("text")))
      .collect().map(r => r.getString(0) -> (r.getDouble(3), r.getDouble(5))).toMap
    assert(sm("hi")._2 > sm("hi")._1 && sm("hi")._2 > sm("lo")._2)
  }
}
