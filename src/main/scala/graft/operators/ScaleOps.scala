package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Operators that exist purely for the 100 TB regime — they change the
  * physical distribution of work, never the result.
  *
  * AQE's skew-join splitting (on in `Sessions`) handles most skew at runtime;
  * these are the explicit tools for when the skew is KNOWN (a null-heavy key,
  * a celebrity user_id) and you want the plan fixed at authoring time, or the
  * join is aggregate-like where AQE can't help (skewed groupBy).
  */
object ScaleOps {

  /** Deterministic salt in [0, salt): a hash over EVERY column of the row.
    * rand(seed) looks equivalent but is flagged nondeterministic — on a
    * stage retry the recomputed partition re-draws different salts, so
    * partials already shuffled under the old draw are double-counted or
    * lost: silent corruption, exactly at the cluster scale salting exists
    * for. A row-content hash re-derives the SAME salt on every replay.
    * (Identical duplicate rows share a salt — salting distributes distinct
    * row identities; a flood of bit-identical rows is a dedup problem, not
    * a skew problem.) */
  private def rowSalt(df: DataFrame, salt: Int): Column =
    pmod(xxhash64(df.columns.map(col): _*), lit(salt.toLong)).cast("int")

  /** Salted equi-join for a skewed LEFT side: the left side's hot keys spread
    * over `salt` sub-keys, the (smaller, but not broadcast-small) right side
    * replicated `salt`× via explode — each (key, salt) bucket then shuffles
    * independently, so one hot key occupies `salt` tasks instead of one.
    * Result-identical to `left.join(right, keys)` (inner). */
  def saltedJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      salt: Int): DataFrame = {
    val saltedL = left.withColumn("_salt", rowSalt(left, salt))
    val saltedR = right.withColumn("_salt",
      explode(sequence(lit(0), lit(salt - 1))))
    saltedL.join(saltedR, keys :+ "_salt").drop("_salt")
  }

  /** Skew-safe groupBy count/sum: two-phase aggregation through a salted
    * intermediate key. Phase 1 aggregates (key, salt) partials — the hot key's
    * rows split across `salt` reducers; phase 2 merges the ≤`salt` partials
    * per key. Result-identical to `df.groupBy(keys).agg(sum)`. (Spark's own
    * partial aggregation already does this when upstream partitioning is
    * random; this forces it when the input arrives PRE-partitioned by the hot
    * key — e.g. right after a join on it — where map-side combine can't help.) */
  def saltedSum(df: DataFrame, keys: Seq[String], valueCol: String,
      salt: Int): DataFrame = {
    val k = keys.map(col)
    df.withColumn("_salt", rowSalt(df, salt))
      .groupBy(k :+ col("_salt"): _*)
      .agg(sum(col(valueCol)).as("_partial"))
      .groupBy(k: _*)
      .agg(sum(col("_partial")).as(s"sum_$valueCol"))
  }

  /** Range-partitioned write: sorts files by `sortCols` so downstream range
    * predicates prune row groups via parquet min/max stats (the poor man's
    * clustering index — at 100 TB this is the difference between scanning a
    * year and scanning a day). */
  def writeSorted(df: DataFrame, path: String, sortCols: Seq[String],
      files: Int): Unit =
    df.repartitionByRange(files, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.mode("overwrite").parquet(path)

  /** Explicit AQE-independent broadcast marker for dims known to be small.
    * (Alias of functions.broadcast; exists so jobs name intent, not mechanism.) */
  def dim(df: DataFrame): DataFrame = broadcast(df)

  /** Normalize a numeric column to `[0, 2^bits)` buckets over [lo, hi]. */
  private def bucket(c: Column, lo: Double, hi: Double, bits: Int): Column = {
    val buckets = (1L << bits) - 1
    least(greatest(
      ((c.cast("double") - lo) / (if (hi > lo) hi - lo else 1.0) * buckets)
        .cast("long"), lit(0L)), lit(buckets))
  }

  /** Hilbert curve value for two numeric columns, each normalized to
    * `bits` buckets over [lo, hi] — continuous (no jumps at quadrant
    * junctions, unlike a Z-order curve), so EVERY contiguous curve range is
    * a spatially local blob: the property that makes equal-frequency file
    * cuts safe. Backed by the codegen'd [[graft.functions.HilbertIndex]]
    * expression. */
  def hilbertValue(a: Column, aLo: Double, aHi: Double,
      b: Column, bLo: Double, bHi: Double, bits: Int = 16): Column =
    graft.functions.HilbertIndex(
      bucket(a, aLo, aHi, bits), bucket(b, bLo, bHi, bits), bits)

  /** Space-filling-curve clustered write: rows sorted along the Hilbert
    * curve of TWO filter columns, so parquet row-group min/max stats are
    * tight on BOTH — range predicates on EITHER column prune files/row
    * groups. The multi-column complement to [[writeSorted]] (a plain sort
    * gives one column tight stats and leaves the other full-width in every
    * file); at 100 TB this is the difference between "fast queries by date"
    * and "fast queries by date OR by key". The min/max normalization bounds
    * come from one aggregate over the input (a 4-value driver action, not a
    * collect). */
  def writeClustered(df: DataFrame, path: String, colA: String, colB: String,
      files: Int, bits: Int = 16): Unit = {
    val r = df.agg(
      min(col(colA).cast("double")), max(col(colA).cast("double")),
      min(col(colB).cast("double")), max(col(colB).cast("double"))).head()
    val h = hilbertValue(col(colA), r.getDouble(0), r.getDouble(1),
      col(colB), r.getDouble(2), r.getDouble(3), bits)
    df.withColumn("_h", h)
      .repartitionByRange(files, col("_h"))
      .sortWithinPartitions("_h")
      .drop("_h")
      .write.mode("overwrite").parquet(path)
  }

  /** Bucketed catalog table write: pre-shuffles ONCE at write time so every
    * subsequent equi-join/aggregation on `bucketCols` runs exchange-free
    * (co-located, and with sortBy also merge-ready). The 100 TB play for
    * fact-to-fact joins repeated across jobs — pay the shuffle once, not per
    * query. Requires a catalog table (bucket metadata lives in the
    * metastore), hence saveAsTable rather than a path write. */
  def writeBucketed(df: DataFrame, table: String, buckets: Int,
      bucketCols: Seq[String]): Unit = {
    dropOrphanLocation(df.sparkSession, table)
    // repartition on the bucket columns with numPartitions = buckets: the
    // repartition hash family matches the bucket assignment, so each write
    // task holds exactly one bucket's rows → ONE file per bucket. Spark
    // only propagates a bucketed table's sortBy order to the scan when
    // every bucket is a single file; without this, downstream sort-merge
    // joins re-sort per partition (no exchange, but a spill-prone sort of
    // corpus-sized data the layout already paid for at write time). The
    // explicit exchange costs nothing extra — it replaces the write
    // fan-out of buckets-many files per input task.
    df.repartition(buckets, bucketCols.map(col): _*)
      .write
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .mode("overwrite")
      .format("parquet")
      .saveAsTable(table)
  }

  /** Deletes managed table `table`'s warehouse directory when the catalog
    * holds no such table: a crash inside the write that creates the table
    * leaves files there, and every later create of the name would fail
    * with LOCATION_ALREADY_EXISTS. */
  private[operators] def dropOrphanLocation(spark: org.apache.spark.sql.SparkSession,
      table: String): Unit = {
    val cat = spark.sessionState.catalog
    val id = org.apache.spark.sql.catalyst.TableIdentifier(table)
    if (!cat.tableExists(id)) {
      val dir = new org.apache.hadoop.fs.Path(cat.defaultTablePath(id))
      dir.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(dir, true): Unit
    }
  }

  /** [[writeBucketed]] once per (session, table name), then read back: the
    * idempotent fixture form — callers derive `table` from the source path
    * so a different corpus gets a different table, and repeated runs in one
    * session (bench warmup + timed passes, verify re-runs) reuse the
    * already-bucketed layout instead of re-shuffling. The session metastore
    * is in-memory and the warehouse a per-JVM temp dir (see
    * [[graft.core.Sessions.configure]]), so staleness across JVMs is
    * impossible by construction. */
  def ensureBucketed(df: DataFrame, table: String, buckets: Int,
      bucketCols: Seq[String]): DataFrame = {
    val s = df.sparkSession
    // exists-then-write is check-then-act; serialize concurrent callers in
    // the same session on the shared session state (cheap: held only for
    // the existence probe + at most one write), and treat a lost race that
    // still slips through as "someone else wrote it" rather than a failure.
    s.sharedState.synchronized {
      if (!s.catalog.tableExists(table)) {
        try writeBucketed(df, table, buckets, bucketCols)
        catch {
          case _: org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException => ()
        }
      }
      // Reuse must be reuse OF THE SAME LAYOUT: a second caller passing a
      // different bucket count/columns under the same table name would
      // silently get the stale layout and every exchange-free plan
      // assumption downstream would quietly break. Fail loudly instead —
      // distinct layouts belong under distinct names (bucketTableName
      // derives the name from the corpus; fold the spec in if a call site
      // genuinely needs two specs of one corpus).
      val spec = s.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
        .bucketSpec
      require(spec.exists(b => b.numBuckets == buckets &&
          b.bucketColumnNames == bucketCols),
        s"ensureBucketed('$table'): existing table has bucket spec " +
          s"${spec.map(b => s"(${b.numBuckets}, ${b.bucketColumnNames})")
            .getOrElse("<none>")} but the caller asked for " +
          s"($buckets, $bucketCols) - use a distinct table name per layout")
    }
    s.table(table)
  }

  /** [[ensureBucketed]]'s unbucketed sibling for TINY standing fixtures
    * (a 1-row corpus-stats frame next to a postings index): write once
    * per (session, table name) as a plain catalog table, read back
    * thereafter. Same check-then-act serialization and same
    * staleness-impossible reasoning (in-memory metastore, per-JVM temp
    * warehouse — see [[graft.core.Sessions.configure]]). */
  def ensureTable(df: DataFrame, table: String): DataFrame = {
    val s = df.sparkSession
    s.sharedState.synchronized {
      if (!s.catalog.tableExists(table)) {
        try df.write.mode("overwrite").format("parquet").saveAsTable(table)
        catch {
          case _: org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException => ()
        }
      }
    }
    s.table(table)
  }

  /** Deterministic catalog-table name for a per-corpus bucketed fixture:
    * `prefix` + sanitized source dir + an md5 prefix of the RAW dir string.
    * The sanitizer maps every non-alphanumeric char to '_', which is not
    * injective (/tmp/x_10 vs /tmp/x/10); the hash suffix restores
    * injectivity so distinct corpus dirs can never alias each other's
    * bucketed layouts within a session. */
  def bucketTableName(prefix: String, dir: String): String = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8"))
      .take(4).map(b => f"${b & 0xff}%02x").mkString
    prefix + "_" + dir.map(c => if (c.isLetterOrDigit) c else '_') + "_" + digest
  }

  /** Deterministic hash sampling: keep rows whose md5-derived key hash lands
    * under `permille`/1000. Unlike rand()-based sampling this is REPRODUCIBLE
    * across runs, engines, and partitionings — the right primitive for
    * training-data mixing ratios (and the per-key decision composes: the
    * same key samples consistently in every table it appears in). */
  def hashSample(df: DataFrame, keyCol: String, permille: Int): DataFrame = {
    require(permille >= 0 && permille <= 1000, "permille in [0, 1000]")
    df.where(graft.functions.Hashing.stableHash31(col(keyCol).cast("string"))
      % 1000 < permille)
  }

  /** Stratified deterministic sampling: a different [[hashSample]]-style
    * keep-rate per stratum (per-language / per-source mixing ratios — THE
    * data-mixing primitive: "10% of web crawl, 100% of books"). The rate
    * lookup compiles to a CASE chain (codegen'd, no join, no shuffle); rows
    * in strata absent from `permilleByStratum` fall back to `defaultPermille`.
    * Reproducible across runs/engines/partitionings like hashSample. */
  def stratifiedHashSample(df: DataFrame, stratumCol: String, keyCol: String,
      permilleByStratum: Map[String, Int], defaultPermille: Int = 0): DataFrame = {
    (permilleByStratum.values.toSeq :+ defaultPermille).foreach(p =>
      require(p >= 0 && p <= 1000, "permille in [0, 1000]"))
    val rate = permilleByStratum.foldLeft(lit(defaultPermille)) {
      case (acc, (stratum, p)) => when(col(stratumCol) === stratum, p).otherwise(acc)
    }
    df.where(graft.functions.Hashing.stableHash31(col(keyCol).cast("string"))
      % 1000 < rate)
  }

  /** Deterministic IMPORTANCE sampling: keep each row with probability
    * proportional to its (per-row, continuous) `scoreCol` — the
    * quality-weighted downsample between a hard quality gate (keep/drop at a
    * threshold) and uniform [[hashSample]]. p_keep = clamp(rate · score, 0, 1),
    * quantized to permille so the decision is integer arithmetic on the same
    * engine-portable hash as [[hashSample]] (same key ⇒ consistent decisions
    * across tables and engines; no RNG, so re-runs and backfills agree).
    * Shape: a scan-stage filter — no shuffle, no sort, nothing global. */
  def importanceSample(df: DataFrame, keyCol: String, scoreCol: Column,
      rate: Double): DataFrame = {
    require(rate > 0, "rate must be > 0")
    val permille = least(greatest(floor(scoreCol * rate * 1000).cast("long"),
      lit(0L)), lit(1000L))
    df.where(graft.functions.Hashing.stableHash31(col(keyCol).cast("string"))
      % 1000 < permille)
  }

  /** Epoch-weighted corpus mixing — the UP-sampling half of mixture
    * construction ([[stratifiedHashSample]] is the down-sampling half):
    * a stratum with weight 2.5 contributes every doc twice plus a
    * deterministic half of them a third time ("2.5 epochs of books, 0.6
    * epochs of web" — the standard pretraining-mix recipe). Each doc emits
    * `floor(w)` copies, plus one more iff its md5-derived hash lands under
    * `round(frac(w)·1000)` permille — same hash family as [[hashSample]],
    * so the fractional-epoch subset is reproducible across runs/engines
    * and consistent with every other hash-keyed decision on the same key.
    * Returns the input keyed rows exploded with `copy_idx` (0-based).
    *
    * Scale shape: the weight lookup is a codegen'd CASE chain and the copy
    * fan-out is a per-row explode of a tiny sequence — narrow, no shuffle,
    * no randomness; output size is Σ n_s·w_s by construction. Weights are
    * quantized to permille in the DRIVER so the plan carries integer
    * literals (engine-portable, no float-boundary ambiguity). */
  def epochMix(df: DataFrame, stratumCol: String, keyCol: String,
      weightsByStratum: Map[String, Double],
      defaultWeight: Double = 0.0): DataFrame = {
    val quantized = (weightsByStratum.toSeq :+ ("" -> defaultWeight)).map {
      case (s, w) =>
        require(w >= 0.0 && w <= 100.0, s"weight for '$s' in [0, 100]")
        val whole = math.floor(w).toLong
        (s, whole, math.round((w - whole) * 1000))
    }
    val (defWhole, defPermille) = (quantized.last._2, quantized.last._3)
    val whole = quantized.init.foldLeft(lit(defWhole)) {
      case (acc, (s, wh, _)) => when(col(stratumCol) === s, wh).otherwise(acc)
    }
    val permille = quantized.init.foldLeft(lit(defPermille)) {
      case (acc, (s, _, pm)) => when(col(stratumCol) === s, pm).otherwise(acc)
    }
    val extra = (graft.functions.Hashing.stableHash31(col(keyCol).cast("string"))
      % 1000 < permille).cast("long")
    df.withColumn("_copies", whole + extra)
      .where(col("_copies") > 0)
      .withColumn("copy_idx", explode(sequence(lit(0L), col("_copies") - 1)))
      .drop("_copies")
  }

  /** Temperature-scaled sampling weights per stratum — the multilingual /
    * multi-source mix rule `w_s ∝ (n_s/N)^α` (α=1 mirrors the corpus, α→0
    * approaches uniform; the public mBERT/XLM-R exponent-smoothing scheme)
    * that upsamples rare sources before an [[epochMix]]. Returns one row per
    * stratum: (stratum, n_rows, p_micro, weight) with `weight` the
    * normalized share rounded to 6dp.
    *
    * Engine-portable doubles: the normalizer is a sum of DOUBLES whose fold
    * order Spark does not pin, so `(n_s/N)^α` is quantized to integer
    * micro-units FIRST (p_micro) and the normalizing sum runs over longs —
    * order-free, so the final division is bit-identical in any engine.
    *
    * Scale shape: per-stratum counts aggregate with map-side combine; both
    * totals are 1-row aggregates broadcast back over the (tiny) stratum
    * table — the corpus is read once, nothing corpus-sized shuffles. */
  def temperatureWeights(df: DataFrame, stratumCol: String,
      alpha: Double): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, "alpha in (0, 1]")
    // persist: the stratum table (tiny) feeds both totals and the final
    // select — without it each consumer would re-scan the corpus
    val counts = graft.core.CacheScope.persist(
      df.groupBy(col(stratumCol)).agg(count(lit(1)).as("n_rows")))
    val total = counts.agg(sum("n_rows").as("n_total"))
    val scored = counts.join(broadcast(total), lit(true))
      .withColumn("p_micro",
        round(pow(col("n_rows").cast("double") / col("n_total"), lit(alpha))
          * 1000000.0, 0).cast("long"))
    val denom = scored.agg(sum("p_micro").as("micro_total"))
    scored.join(broadcast(denom), lit(true))
      .select(col(stratumCol), col("n_rows"), col("p_micro"),
        round(col("p_micro").cast("double") / col("micro_total"), 6)
          .as("weight"))
  }

  /** Range join without the nested loop: join facts to `[lo, hi)` range
    * dimensions (IP→geo tables, score bands, time buckets…) by expanding
    * each range to the fixed-width BUCKETS it covers, equi-joining on the
    * bucket, and applying the exact range predicate as a residual filter.
    * Naively `fact JOIN dims ON key >= lo AND key < hi` plans
    * BroadcastNestedLoopJoin — every fact row probes every range, the plan
    * that dies first at corpus scale. Bucketing turns it into a hash join:
    * cost |fact| + Σ(range width / bucketWidth), with the residual filter
    * evaluated only on same-bucket candidates.
    *
    * `bucketWidth` trades dim fan-out for candidate precision — pick it
    * near the median range width so most buckets hold one range. Ranges
    * may overlap (a fact then matches every covering range, exactly like
    * the naive join would). */
  def rangeBucketJoin(fact: DataFrame, keyCol: String, dims: DataFrame,
      loCol: String, hiCol: String, bucketWidth: Double): DataFrame = {
    require(bucketWidth > 0.0, "bucketWidth > 0")
    // empty/inverted ranges contribute nothing — without the guard Spark's
    // sequence() would walk DESCENDING from lo's bucket to hi's and
    // fabricate buckets the residual filter then has to kill
    val expanded = dims.where(col(loCol) < col(hiCol))
      .withColumn("_bucket",
        explode(sequence(floor(col(loCol) / bucketWidth).cast("long"),
          floor(col(hiCol) / bucketWidth).cast("long"))))
    fact.withColumn("_bucket", floor(col(keyCol) / bucketWidth).cast("long"))
      .join(expanded, Seq("_bucket"))
      .where(col(keyCol) >= col(loCol) && col(keyCol) < col(hiCol))
      .drop("_bucket")
  }

  /** Exact per-group discrete quantiles WITHOUT a per-group sort of the
    * raw rows: the [[graft.operators.TextAnalysis.qualityGate]] bounded-
    * histogram construction, generalized. `valueCol` must be LOW-CARDINALITY
    * by construction (e.g. a score rounded to 6dp) — the histogram
    * (group × distinct value) is then a bounded aggregate with map-side
    * combine, the cumulative window runs over histogram rows (never corpus
    * rows), and each requested permille `p` reads off the smallest value
    * whose cumulative count reaches ceil(n·p/1000) — the p-th discrete
    * quantile. Returns (group, p_permille, q) in long form. */
  def groupQuantiles(df: DataFrame, groupCol: String, valueCol: Column,
      permilles: Seq[Int]): DataFrame = {
    require(permilles.nonEmpty && permilles.forall(p => p >= 1 && p <= 1000),
      "permilles in [1, 1000]")
    val hist = df.groupBy(col(groupCol), valueCol.as("v"))
      .agg(count(lit(1)).as("c"))
    val byG = org.apache.spark.sql.expressions.Window.partitionBy(groupCol)
    val cum = hist
      .withColumn("cum", sum("c").over(byG.orderBy(col("v"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .withColumn("n", sum("c").over(byG))
    // one pass for every requested quantile: fan each histogram row out to
    // the |permilles| targets (bounded ×K on histogram rows, not corpus
    // rows), filter to reached targets, take the min value per target.
    // ceil(n·pm/1000): floor-of-double is exact here (n·pm + 999 ≪ 2^53)
    cum.withColumn("p_permille",
        explode(array(permilles.map(p => lit(p.toLong)): _*)))
      .where(col("cum") >=
        floor((col("n") * col("p_permille") + 999) / 1000).cast("long"))
      .groupBy(col(groupCol), col("p_permille"))
      .agg(min("v").as("q"))
      .select(col(groupCol), col("p_permille"), col("q"))
  }

  /** Per-group Pearson correlation between two score columns, engine-exact:
    * both scores quantize to integer micro-units, the five sufficient
    * statistics (Σx, Σy, Σxy, Σx², Σy²) accumulate as DECIMAL(38,0) —
    * order-free EXACT integer sums, no fold-order sensitivity, no long
    * overflow at corpus-scale n — and r derives from those integers in one
    * fixed-parenthesization double expression. `corr()` built-ins are NOT
    * reproducible across engines (running-covariance fold order); this is.
    * Returns (group, n, r) with r rounded to 6dp.
    *
    * Scale shape: one narrow map pass (quantize) into a group-keyed
    * aggregate with map-side combine — the classic one-pass sufficient-
    * statistics plan; nothing corpus-sized shuffles. */
  def microPearson(df: DataFrame, groupCol: String, x: Column,
      y: Column): DataFrame = {
    val xm = round(x * 1000000.0, 0).cast("long")
    val ym = round(y * 1000000.0, 0).cast("long")
    val d = (c: Column) => c.cast("double")
    val agg = df.select(col(groupCol), xm.as("xm"), ym.as("ym"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(col("xm").cast("decimal(38,0)")).as("sx"),
        sum(col("ym").cast("decimal(38,0)")).as("sy"),
        sum((col("xm") * col("ym")).cast("decimal(38,0)")).as("sxy"),
        sum((col("xm") * col("xm")).cast("decimal(38,0)")).as("sxx"),
        sum((col("ym") * col("ym")).cast("decimal(38,0)")).as("syy"))
    agg.select(col(groupCol), col("n"),
      round((d(col("n")) * d(col("sxy")) - d(col("sx")) * d(col("sy"))) /
        sqrt((d(col("n")) * d(col("sxx")) - d(col("sx")) * d(col("sx"))) *
          (d(col("n")) * d(col("syy")) - d(col("sy")) * d(col("sy")))), 6)
        .as("r"))
  }

  /** One-step multiplicative domain reweighting — the DoReMi move (Xie et
    * al. 2023) with a measurable per-domain signal standing in for excess
    * loss: starting from the natural token-share mixture w0_d = toks_d/T,
    * each domain's weight is scaled by how its mean quality compares to
    * the corpus mean and renormalized. Because the corpus-mean constants
    * cancel in the normalization, the update reduces to
    * w1_d ∝ toks_d · qsum_d / n_d over EXACT integer sufficient
    * statistics (token counts + micro-quantized quality sums) — no exp,
    * no order-sensitive double sums; the only double fold is the
    * #domains-sized normalizer, folded in domain-sorted order.
    *
    * Scale shape: ONE map-side-combined aggregate over the corpus to
    * per-domain sufficient statistics (bounded rows), then scalar
    * normalizers broadcast back — the same one-pass plan as
    * [[microPearson]]; nothing corpus-sized shuffles, and the output
    * feeds [[epochMix]] as its weights table. Returns one row per domain:
    * (domain, n_docs, tokens, w0, quality, w1), ratios rounded 6dp. */
  def domainReweight(docs: DataFrame, domainCol: String, tokens: Column,
      quality: Column): DataFrame = {
    val d = (c: Column) => c.cast("double")
    val perdoc = docs.select(col(domainCol),
      tokens.cast("long").as("n_tok"),
      round(quality * 1000000.0, 0).cast("long").as("q_micro"))
    // persisted: the totals pass and the final join would otherwise each
    // replay the corpus-sized aggregate
    val dom = graft.core.CacheScope.persist(
      perdoc.groupBy(col(domainCol))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tokens"),
          sum(col("q_micro")).as("qsum"))
        // toks and qsum are each far inside 2^53, so the double product
        // and division are one fixed-parenthesization IEEE expression
        .withColumn("v", d(col("tokens")) * d(col("qsum")) / d(col("n_docs"))))
    val tot = dom.groupBy().agg(
      sum(col("tokens")).as("t_toks"),
      aggregate(transform(
        array_sort(collect_list(struct(col(domainCol), col("v")))),
        s => s.getField("v")), lit(0.0), (a, x) => a + x).as("z"))
    dom.join(broadcast(tot), lit(true))
      .select(col(domainCol), col("n_docs"), col("tokens"),
        round(d(col("tokens")) / d(col("t_toks")), 6).as("w0"),
        round(d(col("qsum")) / (d(col("n_docs")) * lit(1000000.0)), 6)
          .as("quality"),
        round(col("v") / col("z"), 6).as("w1"))
  }

  /** The executable epoch plan from a temperature target — closes the
    * mix-design loop: [[temperatureWeights]] says WHAT share each stratum
    * deserves; this converts shares + a row budget into per-stratum copy
    * factors (permille-quantized, identical arithmetic to the SQL oracle)
    * and hands them to [[epochMix]] to materialize. E[output rows] ≈
    * `budgetRows` with each stratum at its temperature-scaled share —
    * upsampled strata emit multiple copies, downsampled ones a
    * deterministic hash subset.
    *
    * Scale shape: the plan table is one bounded row per stratum (the only
    * collect — same driver-scalar class as PageRank's N); the mix itself is
    * epochMix's shuffle-free explode + CASE chain. */
  def epochPlanFromTemperature(df: DataFrame, stratumCol: String,
      keyCol: String, alpha: Double, budgetRows: Long): DataFrame = {
    require(budgetRows > 0, "budgetRows > 0")
    val plan = temperatureWeights(df, stratumCol, alpha)
      .select(col(stratumCol),
        round(lit(1000.0) * budgetRows * col("weight") / col("n_rows"), 0)
          .cast("long").as("cp"))
      .collect()
    val weights = plan.map(r => r.getString(0) -> r.getLong(1) / 1000.0).toMap
    epochMix(df, stratumCol, keyCol, weights, defaultWeight = 0.0)
  }

  /** Per-group z-score ensemble of quality signals — the multi-signal
    * curation gate: each signal is standardized WITHIN its group (source/
    * domain/crawl — distributions shift per stratum, so absolute thresholds
    * don't transfer) and the weighted blend ranks rows on "how unusual is
    * this doc for its stratum". Emits (id, group, z_<name>…, blend).
    *
    * Engine-exact like [[microPearson]]: signals quantize to micro-units,
    * moments are exact decimal(38,0) integer sums, and every double after
    * that is the same expression over the same inputs in both engines —
    * z-scores and the blend match bit-for-bit before their 6 dp round.
    * Same headroom contract as microPearson: |signal| ≲ 3·10³ keeps the
    * squared micro-product inside int64.
    *
    * Scale shape: ONE group-keyed aggregate (map-side partial) over all
    * signals at once + a join back on the group key — the stats side is
    * #groups rows, so AQE broadcasts it; no window, no global anything.
    * A degenerate group (n = 1 or a constant signal) scores z = 0 rather
    * than NaN — those rows carry no ranking signal either way. */
  def zscoreBlend(df: DataFrame, groupCol: String, idCol: String,
      signals: Seq[(String, Column, Double)]): DataFrame = {
    require(signals.nonEmpty, "at least one (name, signal, weight)")
    val d = (c: Column) => c.cast("double")
    val base = df.select(col(idCol).as("id") +: col(groupCol).as("grp") +:
      signals.map { case (nm, c, _) =>
        round(c * 1000000.0, 0).cast("long").as(s"_m_$nm") }: _*)
    val aggs = signals.flatMap { case (nm, _, _) => Seq(
      sum(col(s"_m_$nm").cast("decimal(38,0)")).as(s"_s_$nm"),
      sum((col(s"_m_$nm") * col(s"_m_$nm")).cast("decimal(38,0)"))
        .as(s"_ss_$nm")) }
    val stats = base.groupBy(col("grp"))
      .agg(count(lit(1)).as("_n"), aggs: _*)
    val zs = signals.map { case (nm, _, _) =>
      val mean = d(col(s"_s_$nm")) / d(col("_n"))
      val varr = (d(col(s"_ss_$nm")) -
        d(col(s"_s_$nm")) * d(col(s"_s_$nm")) / d(col("_n"))) /
        (d(col("_n")) - 1.0)
      val sd = sqrt(varr)
      nm -> when(col("_n") > 1 && sd > 0,
        (d(col(s"_m_$nm")) - mean) / sd).otherwise(lit(0.0))
    }
    val blend = signals.zip(zs).map { case ((_, _, w), (_, z)) => z * w }
      .reduce(_ + _)
    base.join(stats, Seq("grp"))
      .select(col("id") +: col("grp").as("grp") +:
        zs.map { case (nm, z) => round(z, 6).as(s"z_$nm") } :+
        round(blend, 6).as("blend"): _*)
  }

  /** Population stability index per group vs the pooled rest: for each
    * group g, PSI(g) = Σ_bins (pa − pb)·ln(pa / pb) where pa is g's
    * (add-`smoothing`) bin distribution and pb is everyone-else's — the
    * standard "did this source/snapshot drift?" gate, one scalar per group,
    * flagged at the conventional 0.1 (moderate) / 0.25 (major) thresholds.
    *
    * Determinism contract: each bin's term collapses to an integer
    * micro-unit BEFORE the sum (the [[zscoreBlend]]/microPearson lesson) —
    * the engines' `ln` may differ in the last ulp, but a 1e-6 round of a
    * ~1e-2 value absorbs it, and the integer sum is fold-order-free. The
    * output is `psi_micro` (PSI × 10⁶, BIGINT) for exactly that reason.
    *
    * Scale shape: ONE group×bin-keyed aggregate over the data (map-side
    * partial; |groups|·|bins| output rows); everything downstream — the
    * dense grid, per-group/per-bin totals, the pooled-rest complement —
    * lives on that bounded frame via tiny windows. The raw rows are
    * touched exactly once. */
  def psiDrift(df: DataFrame, groupCol: String, binCol: Column,
      smoothing: Long = 1L): DataFrame =
    psiDriftBinned(df, groupCol, binCol.cast("long"), smoothing)

  /** [[psiDrift]] over CATEGORICAL bins (language, license, format, …): the
    * bin key is used as-is — the grid math never needed numeric bins, only
    * the numeric entry point canonicalizes doubles through a long cast. */
  def psiDriftCategorical(df: DataFrame, groupCol: String, binCol: Column,
      smoothing: Long = 1L): DataFrame =
    psiDriftBinned(df, groupCol, binCol, smoothing)

  private def psiDriftBinned(df: DataFrame, groupCol: String, bin: Column,
      smoothing: Long): DataFrame = {
    // persisted: the grid derives distinct groups AND distinct bins from this
    // bounded frame — unpersisted, Catalyst prunes each subtree back to its
    // own full corpus scan (3 passes over the raw rows instead of 1)
    val counts = graft.core.CacheScope.persist(df
      .select(col(groupCol).as("g"), bin.as("bin"))
      .groupBy(col("g"), col("bin")).agg(count(lit(1)).as("c")))
    psiFromCounts(counts, smoothing).withColumnRenamed("g", groupCol)
  }

  /** PSI of each group against a FIXED reference histogram — the textbook
    * population-stability form ([[psiDrift]] compares against the pooled
    * rest; this compares against an expected distribution: the vetted
    * training snapshot, last quarter's mix, a contract with a data vendor).
    * `reference` is an already-aggregated (bin, c) frame — tiny by
    * construction, broadcast into the grid joins. Bin alphabet = union of
    * observed and reference bins (a bin present on one side only is exactly
    * where drift lives — add-`smoothing` keeps its term finite). Same
    * integer micro-unit determinism contract as [[psiDrift]].
    *
    * Scale shape: ONE (group, bin) aggregate over the raw rows (persisted,
    * three grid consumers); everything else lives on |groups|·|bins|. */
  def psiVsReference(df: DataFrame, groupCol: String, binCol: Column,
      reference: DataFrame, smoothing: Long = 1L): DataFrame = {
    require(smoothing >= 1, "smoothing >= 1 (zero bins would divide by zero)")
    val counts = graft.core.CacheScope.persist(df
      .select(col(groupCol).as("g"), binCol.as("bin"))
      .groupBy(col("g"), col("bin")).agg(count(lit(1)).as("c")))
    val ref = graft.core.CacheScope.persist(
      reference.select(col("bin"), col("c").cast("long").as("rc")))
    // bin alphabet: observed ∪ reference (distinct on the bounded frames)
    val bins = counts.select("bin").union(ref.select("bin")).distinct()
    val grid = counts.select("g").distinct()
      .crossJoin(bins)
      .join(counts, Seq("g", "bin"), "left")
      .join(broadcast(ref), Seq("bin"), "left")
      .na.fill(0L, Seq("c", "rc"))
    val d = (c: Column) => c.cast("double")
    val enriched = grid
      .withColumn("nb", count(lit(1)).over(Window.partitionBy(col("g"))))
      .withColumn("tot_g", sum(col("c")).over(Window.partitionBy(col("g"))))
      .withColumn("ref_tot", sum(col("rc")).over(
        Window.partitionBy(col("g"))))
    val pa = (d(col("c")) + smoothing) /
      (d(col("tot_g")) + lit(smoothing) * d(col("nb")))
    val pb = (d(col("rc")) + smoothing) /
      (d(col("ref_tot")) + lit(smoothing) * d(col("nb")))
    enriched
      .groupBy(col("g").as(groupCol))
      .agg(sum(round((pa - pb) * log(pa / pb) * 1000000.0, 0).cast("long"))
        .as("psi_micro"))
  }

  /** The PSI grid math over an already-aggregated (g, bin, c) counts frame —
    * the shared tail of [[psiDrift]] (batch, counts from one corpus
    * aggregate) and a streaming drift monitor (counts maintained
    * incrementally by a windowed streaming aggregate). The input must be
    * bounded |groups|·|bins| — every window below is grid-local. The caller
    * owns persistence of `counts` (it is consumed three times). */
  def psiFromCounts(counts: DataFrame, smoothing: Long = 1L): DataFrame = {
    require(smoothing >= 1, "smoothing >= 1 (zero bins would divide by zero)")
    // dense grid over the observed bin alphabet — bounded |groups|×|bins|
    val grid = counts.select("g").distinct()
      .crossJoin(counts.select("bin").distinct())
      .join(counts, Seq("g", "bin"), "left")
      .na.fill(0L, Seq("c"))
    val d = (c: Column) => c.cast("double")
    val enriched = grid
      .withColumn("nb", count(lit(1)).over(Window.partitionBy(col("g"))))
      .withColumn("tot_g", sum(col("c")).over(Window.partitionBy(col("g"))))
      .withColumn("glob_bin", sum(col("c")).over(Window.partitionBy(col("bin"))))
      .withColumn("glob", sum(col("c")).over(
        // constant key (bin-type-agnostic) → one partition holding the whole
        // bounded grid; fine because the frame is |groups|·|bins|, never data
        Window.partitionBy(lit(0))))
    val pa = (d(col("c")) + smoothing) /
      (d(col("tot_g")) + lit(smoothing) * d(col("nb")))
    val pb = (d(col("glob_bin") - col("c")) + smoothing) /
      (d(col("glob") - col("tot_g")) + lit(smoothing) * d(col("nb")))
    enriched
      .groupBy(col("g"))
      .agg(sum(round((pa - pb) * log(pa / pb) * 1000000.0, 0).cast("long"))
        .as("psi_micro"))
  }

  /** Deterministic training-order shuffle + sharding — the last step before
    * a corpus ships to the trainer: every row gets a shard (`hash mod
    * numShards`) and a position within its shard (rank of the hash), so the
    * global read order `(shard, pos)` is a reproducible pseudo-random
    * permutation — breaks source/domain run-length correlation in the
    * training stream with ZERO randomness state (the md5-derived
    * [[graft.functions.Hashing.stableHash]]; same key ⇒ same slot across
    * runs, engines, partitionings). Ties (same 60-bit hash) break by the
    * key itself, so the order is total even under hash collisions.
    *
    * Scale shape: ONE hash-partition exchange on `shard` + per-shard sort —
    * each shard ranks independently (the window is shard-keyed, never
    * global), so 10⁴ shards spread over however many reducers exist and a
    * shard's rows sort within one task: pick numShards so corpus/numShards
    * fits a task (the same arithmetic as choosing output file count).
    * Writing with `.partitionBy("shard")` afterwards co-locates each output
    * file with its already-sorted shard — no second exchange. */
  def shardShuffle(df: DataFrame, keyCol: String, numShards: Int): DataFrame = {
    require(numShards >= 1, "numShards >= 1")
    val h = graft.functions.Hashing.stableHash(col(keyCol).cast("string"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("_h"), col(keyCol))
    df.withColumn("_h", h)
      .withColumn("shard", (col("_h") % numShards).cast("int"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .drop("_h")
  }

  /** Deterministic per-key row cap — the "at most N docs per domain/source"
    * quota every web-corpus mix applies. Survivors are chosen by the
    * md5-derived hash of `idCol` (reproducible across runs/engines/
    * partitionings, like [[hashSample]]), ties broken by the id itself.
    * Spark pushes the rank limit below the exchange (WindowGroupLimit), so
    * each map task forwards at most `cap` rows per key — the shuffle carries
    * the caps, not the corpus. */
  def capPerKey(df: DataFrame, keyCol: String, idCol: String, cap: Int): DataFrame = {
    require(cap >= 1, "cap >= 1")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(keyCol))
      .orderBy(graft.functions.Hashing.stableHash31(col(idCol).cast("string")),
        col(idCol))
    df.withColumn("_rn", row_number().over(w))
      .where(col("_rn") <= cap)
      .drop("_rn")
  }

  /** Ordered per-key sequence assembly — the behavioral-training-data step
    * that turns an event log into one training sequence per entity
    * ("user 7 did: view view cart purchase …"). Items are pinned to
    * (orderCols..., value) order via an in-array sort, NOT collect order
    * (Spark's collect_list is partition-order nondeterministic; the sorted
    * struct array makes assembly reproducible and engine-portable).
    * Returns (key, n_items, seq).
    *
    * Scale shape: one key-shuffle with map-side partial collect; each
    * key's sequence materializes inside ONE task — inherent to sequence
    * building, so per-key volume is the caller's contract (cap history
    * with [[capPerKey]] first; a key whose events exceed task memory needs
    * windowed assembly instead). */
  def orderedSequencePerKey(df: DataFrame, keyCol: String,
      orderCols: Seq[String], valueCol: String,
      sep: String = " "): DataFrame = {
    require(orderCols.nonEmpty, "orderCols must pin a deterministic order")
    require(!orderCols.contains(valueCol),
      "valueCol duplicated in orderCols would make the struct field lookup ambiguous")
    val item = struct((orderCols :+ valueCol).map(col): _*)
    df.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_items"),
        array_join(transform(array_sort(collect_list(item)),
          x => x.getField(valueCol)), sep).as("seq"))
  }

  /** Weighted sampling WITHOUT replacement, per key — the
    * Efraimidis–Spirakis A-Res scheme (public algorithm): each row draws
    * u ∈ (0, 1) and competes on the key u^(1/w); the top `cap` keys per
    * group are a weight-proportional without-replacement sample. Here u is
    * the md5-derived [[hashSample]] uniform, so the "random" draw is
    * deterministic, engine-portable, and stable across reruns — the
    * quality-weighted corpus subsample you can reproduce bit-for-bit.
    * Rows with non-positive weight never survive (they'd need u^∞).
    * Returns the surviving input rows.
    *
    * Scale shape: the competition key is row-local codegen; the per-group
    * rank pushes map-side (WindowGroupLimit) exactly like [[capPerKey]],
    * so the shuffle carries at most cap rows per key. */
  def weightedCapPerKey(df: DataFrame, keyCol: String, idCol: String,
      weightCol: Column, cap: Int): DataFrame = {
    require(cap >= 1, "cap >= 1")
    // (hash+1)/(P+1) ∈ (0, 1]: zero would send every weight to key 0
    val u = (graft.functions.Hashing.stableHash31(col(idCol).cast("string"))
      .cast("double") + 1.0) / (graft.functions.Hashing.P.toDouble + 1.0)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(keyCol))
      .orderBy(pow(u, lit(1.0) / weightCol).desc, col(idCol))
    df.where(weightCol > 0.0)
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") <= cap)
      .drop("_rn")
  }

  /** Deterministic train/validation/test (or any N-way) split: each key's
    * md5-derived hash lands in [0, 1000), and `permilles` carves that range
    * in order (remainder → the last label). Same hash as [[hashSample]], so
    * splits compose with sampling and are reproducible across engines; the
    * label compiles to a codegen'd CASE chain — no shuffle, no randomness.
    * Returns the input plus `splitCol`. */
  def splitByHash(df: DataFrame, keyCol: String, splitCol: String,
      permilles: Seq[(String, Int)]): DataFrame = {
    require(permilles.nonEmpty && permilles.map(_._2).sum == 1000,
      "permilles must sum to 1000")
    val bucket = graft.functions.Hashing.stableHash31(col(keyCol).cast("string")) % 1000
    val bounds = permilles.scanLeft(0) { case (acc, (_, p)) => acc + p }.tail
    // foldRight so the FIRST range's check is outermost (CASE evaluates
    // in declaration order)
    val label = permilles.zip(bounds).init
      .foldRight(lit(permilles.last._1): Column) {
        case (((name, _), hi), acc) => when(bucket < hi, name).otherwise(acc)
      }
    df.withColumn(splitCol, label)
  }

  /** Sequence packing: assign documents to fixed-token-budget training bins
    * (the pre-tokenization step that turns a curated corpus into
    * context-window-sized sequences). Docs are ordered deterministically
    * (md5 hash, then id) and binned by exclusive running token count — a
    * doc belongs to the bin its token window STARTS in, so a bin may
    * overflow by at most its last doc (the one-pass window approximation;
    * exact first-fit needs sequential state and buys little at corpus
    * scale, where downstream tokenization re-chunks anyway).
    *
    * Scale shape: packing is SHARDED — a hash shard per key-range, each
    * packed independently by a shard-partitioned window (running sum needs
    * an order, and a single global window would serialize the corpus
    * through one task). Bin ids are (shard, bin-within-shard) flattened;
    * cross-shard bins never mix, which is exactly how a distributed packer
    * runs in production. Returns (id, n_tokens, shard, bin). */
  def packBins(df: DataFrame, idCol: String, textCol: String,
      seqTokens: Int, shards: Int): DataFrame = {
    require(seqTokens >= 1 && shards >= 1, "seqTokens >= 1, shards >= 1")
    val h = graft.functions.Hashing.stableHash31(col(idCol).cast("string"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("_h"), col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    df.select(col(idCol),
        size(split(col(textCol), " ")).cast("long").as("n_tokens"),
        h.as("_h"), (h % shards).cast("int").as("shard"))
      .withColumn("bin",
        floor(coalesce(sum(col("n_tokens")).over(w), lit(0L)) / seqTokens)
          .cast("long"))
      .drop("_h")
  }

  /** Approximate distinct count per group (HyperLogLog++, mergeable sketch —
    * the 100 TB replacement for count(distinct), one pass, fixed memory).
    * `rsd` = relative standard deviation (default 5%). */
  def approxDistinct(df: DataFrame, keys: Seq[String], valueCol: String,
      rsd: Double = 0.05): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(approx_count_distinct(col(valueCol), rsd).as(s"approx_distinct_$valueCol"))

  /** [[approxDistinct]] with its error contract made checkable: each group
    * carries the exact count(distinct) twin and a flag asserting the HLL
    * estimate landed within `3 * rsd` of it (≥ 99.7% per group under the
    * sketch's normal error model). The exact twin and the flag are
    * engine-portable even though the estimate itself is sketch-specific —
    * which is what lets a cross-engine value oracle gate this operator
    * rather than settling for a rows-only check. Production use at 100 TB
    * drops the exact twin (that's the point of the sketch); this shape is
    * for acceptance gates and canary queries. */
  def approxDistinctChecked(df: DataFrame, keys: Seq[String], valueCol: String,
      rsd: Double = 0.05): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(
        approx_count_distinct(col(valueCol), rsd).as("est"),
        countDistinct(col(valueCol)).as(s"exact_distinct_$valueCol"))
      .withColumn("within_bound",
        // an all-NULL group has exact = 0; the ratio test would divide by
        // zero and yield NULL instead of the TRUE the contract promises —
        // for that group the sketch is in bound iff it also says 0
        when(col(s"exact_distinct_$valueCol") === 0, col("est") === 0)
          .otherwise(
            abs(col("est") - col(s"exact_distinct_$valueCol")).cast("double") /
              col(s"exact_distinct_$valueCol") <= 3 * rsd))
      .drop("est")

  /** Heavy-hitter keys via a mergeable Misra-Gries sketch
    * (datasketches `ItemsSketch`) — "which tokens/domains/keys exceed
    * `minShare` of the stream" WITHOUT shuffling the full key set: each
    * partition builds one bounded sketch (`maxMapSize` entries), the ≤
    * #partitions sketches merge on the driver (the mergeability that makes
    * this a 1000-executor pattern), and the sketch's NO_FALSE_NEGATIVES
    * read yields a candidate superset guaranteed to contain every truly
    * frequent item. An exact count pass over ONLY the candidates (broadcast
    * semi-join — candidate count is bounded by maxMapSize, not vocabulary
    * size) then makes the final set deterministic and engine-portable:
    * output = exactly the items with true weight ≥ floor(minShare · total),
    * each carrying its exact count and the sketch's bound check
    * (provably TRUE — which is what lets a cross-engine value oracle gate
    * a sketch-backed operator, same pattern as [[approxDistinctChecked]]).
    * At corpus scale the exact pass is the optional audit; production reads
    * the sketch's estimates directly. */
  def frequentItemsChecked(df: DataFrame, keyCol: String,
      weightCol: Option[String], minShare: Double,
      maxMapSize: Int = 1024): DataFrame = {
    import org.apache.datasketches.common.ArrayOfStringsSerDe
    import org.apache.datasketches.frequencies.{ErrorType, ItemsSketch}
    import df.sparkSession.implicits._
    val pairs = (weightCol match {
      case Some(w) => df.select(col(keyCol).cast("string"), col(w).cast("long"))
      case None => df.select(col(keyCol).cast("string"), lit(1L))
    }).as[(String, Long)]
    val partSketches = pairs.mapPartitions { it =>
      val sk = new ItemsSketch[String](maxMapSize)
      it.foreach { case (k, w) => sk.update(k, w) }
      Iterator(sk.toByteArray(new ArrayOfStringsSerDe()))
    }.collect()
    val merged = partSketches.foldLeft(new ItemsSketch[String](maxMapSize)) {
      (acc, bytes) => acc.merge(ItemsSketch.getInstance(
        org.apache.datasketches.memory.Memory.wrap(bytes),
        new ArrayOfStringsSerDe()))
    }
    // floor over DOUBLE in both engines (the q69 decimal-vs-IEEE lesson)
    val threshold = math.max(
      math.floor(minShare * merged.getStreamLength).toLong, 1L)
    // the no-false-negative guarantee only covers items above the sketch's
    // error bound (≈ streamWeight / mapCapacity): below it, a truly
    // frequent item can have been EVICTED and silently missed. Fail loudly
    // with the sizing fix instead of under-reporting — maxMapSize must
    // exceed ~1/minShare (power of 2).
    require(threshold > merged.getMaximumError,
      s"maxMapSize=$maxMapSize cannot guarantee shares down to $minShare " +
        s"(error bound ${merged.getMaximumError} >= threshold $threshold); " +
        s"raise maxMapSize above ~${math.ceil(1 / minShare).toLong * 2}")
    val cand = merged.getFrequentItems(threshold, ErrorType.NO_FALSE_NEGATIVES)
      .map(r => (r.getItem, r.getLowerBound, r.getUpperBound)).toSeq
    val candDf = cand.toDF("tok", "lb", "ub")
    pairs.toDF("tok", "w")
      .join(broadcast(candDf), Seq("tok"))
      .groupBy("tok", "lb", "ub").agg(sum("w").as("n_exact"))
      .where(col("n_exact") >= threshold)
      .select(col("tok"), col("n_exact"),
        (col("lb") <= col("n_exact") && col("n_exact") <= col("ub"))
          .as("within_bound"))
  }

  /** Bloom-filter pre-filtered semi-join: keep the `fact` rows whose
    * `factKey` appears in `dim.dimKey` — result-identical to a plain
    * `left_semi` join, physically a two-stage runtime filter:
    *
    *  1. a [[org.apache.spark.util.sketch.BloomFilter]] over the dim keys
    *     (distributed aggregate, `expectedDistinct`/`fpp` sizing) probes
    *     every fact row IN THE SCAN STAGE ([[graft.functions
    *     .BloomMightContain]], codegen'd) — no false negatives, so only
    *     `matches + fpp·|fact|` rows survive;
    *  2. the residual exact semi-join removes the false positives.
    *
    * When dim fits a broadcast, plain BHJ semi already does this better —
    * use this when dim is too big to broadcast as a hashed relation but its
    * KEY SET fits a bloom (1M keys / 1% fpp ≈ 1.2 MB, 1B keys ≈ 1.2 GB —
    * at the high end size fpp up or pre-partition): the fact side's shuffle
    * then carries percent-scale row counts instead of the full table, which
    * at 100 TB is the whole cost of the join. Spark's own
    * `runtime.bloomFilter` optimization does this automatically only when
    * one query plans both sides; this is the explicit form for
    * cross-job/cross-frame key sets (e.g. decontamination reference corpora).
    */
  def bloomSemiJoin(fact: DataFrame, factKey: String,
      dim: DataFrame, dimKey: String,
      expectedDistinct: Long, fpp: Double = 0.01): DataFrame = {
    // the "no false negatives" contract holds only if the filter build and
    // the probe see the SAME representation: stat.bloomFilter inserts the
    // dim column's native value (a string column inserts string items) while
    // the probe casts to long — a string key would probe as null, every row
    // would drop, and the operator would silently return an empty (wrong)
    // result. Fail loudly instead: require integral keys on both sides.
    def requireIntegral(df: DataFrame, key: String): Unit = {
      val dt = df.schema(key).dataType
      require(Seq("byte", "short", "integer", "long").contains(dt.typeName),
        s"bloomSemiJoin requires an integral key; '$key' is ${dt.typeName} — " +
          "pre-hash non-integral keys to 64 bits (e.g. graft.functions." +
          "Hashing.stableHash) on BOTH sides before calling")
    }
    requireIntegral(fact, factKey)
    requireIntegral(dim, dimKey)
    val bloom = fact.sparkSession.sparkContext.broadcast(
      dim.stat.bloomFilter(dimKey, expectedDistinct, fpp))
    // the residual join carries no hint: AQE chooses from measured sizes
    val dimKeys = dim.select(col(dimKey).as("_dim_key")).distinct()
    fact
      .where(graft.functions.BloomMightContain(col(factKey).cast("long"), bloom))
      .join(dimKeys, col(factKey) === col("_dim_key"), "left_semi")
  }

  /** Mergeable distinct-count rollup via HLL sketches
    * ([[approxDistinctChecked]]'s big sibling): build ONE HLL sketch per
    * fine-grain unit (e.g. per day), then roll units up (e.g. to weeks) by
    * UNIONING the sketches — never re-scanning the raw rows.
    *
    * This mergeability is THE pattern for distinct-key metrics over
    * petabyte event logs: the daily sketch table is a few KB per day
    * (2^lgConfigK registers), so weekly / monthly / all-time / sliding
    * rollups are aggregations over #units sketch rows, not over the
    * event stream — and sketches built by different executors, jobs, or
    * days merge without coordination. A plain `countDistinct` rollup
    * re-shuffles every raw event per rollup grain.
    *
    * Like [[approxDistinctChecked]], the output carries the exact twin and
    * a bound flag instead of the raw estimate (estimates are
    * sketch-implementation-specific; the CONTRACT is portable): each
    * rollup row asserts |est − exact| / exact ≤ 3·rsd where
    * rsd ≈ 1.04 / √2^lgConfigK. The exact twin is computed here for the
    * audit; production reads `hll_sketch_estimate` directly and skips the
    * raw-data pass entirely. */
  def sketchDistinctRollup(df: DataFrame, unitCol: Column, keyCol: String,
      rollupOf: Column => Column, lgConfigK: Int = 14): DataFrame = {
    require(lgConfigK >= 4 && lgConfigK <= 21, "lgConfigK in [4, 21]")
    val rsd = 1.04 / math.sqrt((1L << lgConfigK).toDouble)
    val daily = df.select(unitCol.cast("long").as("unit"), col(keyCol).as("k"))
      .groupBy(col("unit"))
      .agg(hll_sketch_agg(col("k"), lgConfigK).as("sk"))
    val rolled = daily
      .groupBy(rollupOf(col("unit")).cast("long").as("rollup"))
      .agg(hll_union_agg(col("sk")).as("sk"))
      .select(col("rollup"), hll_sketch_estimate(col("sk")).as("est"))
    // the exact audit twin re-derives the rollup key from the raw unit so
    // both paths bucket identically
    val exact = df
      .select(rollupOf(unitCol.cast("long")).cast("long").as("rollup"),
        col(keyCol).as("k"))
      .groupBy(col("rollup"))
      .agg(countDistinct(col("k")).as("exact_distinct"))
    rolled.join(exact, "rollup")
      .select(col("rollup"), col("exact_distinct"),
        when(col("exact_distinct") === 0, col("est") === 0)
          .otherwise(
            abs(col("est") - col("exact_distinct")).cast("double") /
              col("exact_distinct") <= lit(3 * rsd))
          .as("within_bound"))
  }

  /** Shard-skew audit for a [[shardShuffle]]-style hash sharding: per
    * shard, row count and a caller-chosen weight (tokens, bytes), plus the
    * signed deviation of its weight share from the uniform share in micro
    * units — the pre-flight that catches "shard 7 carries 3× the tokens"
    * before a training run stalls on its longest shard. Deviation is
    * (w·S·1e6) div W − 1e6 (exact integers; 0 = perfectly uniform).
    *
    * Scale shape: one (shard)-keyed aggregate (map-side combined to ≤ S
    * rows/partition) + a 1-row total broadcast. Output is S rows. */
  def shardSkewAudit(df: DataFrame, keyCol: String, numShards: Int,
      weight: Column): DataFrame = {
    require(numShards >= 1, "numShards >= 1")
    val h = graft.functions.Hashing.stableHash(col(keyCol).cast("string"))
    val per = df.select((h % numShards).cast("int").as("shard"),
        weight.cast("long").as("w"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_rows"), sum("w").as("weight"))
    val tot = per.agg(sum("weight").as("w_total"))
    per.crossJoin(broadcast(tot)) // 1-row total
      .select(col("shard"), col("n_rows"), col("weight"),
        expr("(weight * 1000000L) div w_total").as("share_micro"),
        expr(s"(weight * ${numShards}L * 1000000L) div w_total - 1000000L")
          .as("dev_from_uniform_micro"))
  }

  /** Join-key skew profile — the "should I salt this?" pre-flight: the
    * top-`topK` hottest keys with their corpus share, plus the key
    * distribution's entropy and distinct count riding every row. A top
    * key at share ≫ 1/parallelism means the plain hash join/agg stalls on
    * one reducer ([[saltedJoin]]/[[saltedSum]] are the fix); entropy ≪
    * ln(n_keys) quantifies how far from uniform the whole distribution
    * sits.
    *
    * Entropy is Σ −(c/N)·ln(c/N) with each key's contribution rounded to
    * micro BEFORE the sum (one canonical parenthesization, mirrored in
    * the oracle — the q128 floor convention), so the total is an exact
    * int64 sum.
    *
    * Scale shape: one key-keyed count (map-side combined), a 1-row
    * (N, n_keys, entropy) fold over the key-grain frame, and a top-k
    * TakeOrdered — never a global sort. */
  def keySkewProfile(df: DataFrame, keyCol: String, topK: Int): DataFrame = {
    require(topK >= 1, "topK >= 1")
    val counts = graft.core.CacheScope.persist(
      df.groupBy(col(keyCol).cast("string").as("key"))
        .agg(count(lit(1)).as("c")))
    // entropy needs N inside the per-key term → second pass over the
    // key-grain frame with the 1-row N broadcast
    val n = counts.agg(sum("c").as("n_rows"), count(lit(1)).as("n_keys"))
    val ent = counts.crossJoin(broadcast(n))
      .select(floor(-(col("c").cast("double") / col("n_rows")
          .cast("double")) *
        log(col("c").cast("double") / col("n_rows").cast("double")) *
        lit(1e6) + lit(0.5)).cast("long").as("h"))
      .agg(sum("h").as("entropy_micro"))
    counts.orderBy(col("c").desc, col("key")).limit(topK)
      .withColumn("rnk", row_number().over(Window.partitionBy(lit(0))
        .orderBy(col("c").desc, col("key"))).cast("long"))
      .crossJoin(broadcast(n))
      .crossJoin(broadcast(ent))
      .select(col("rnk"), col("key"), col("c").as("n_rows_key"),
        col("n_rows"), col("n_keys"),
        expr("(n_rows_key * 1000000L) div n_rows").as("share_micro"),
        col("entropy_micro"))
  }

  /** 2-criteria Pareto frontier (skyline): the rows not dominated under
    * (maximize `maxCol`, minimize `minCol`) — "shortest doc at every
    * quality level", the multi-criteria selection that single-score
    * ranking flattens away. A row is dominated iff some other row is >= on
    * the max axis AND <= on the min axis with at least one strict;
    * coincident points are mutually non-dominating and all kept.
    *
    * Scale shape — the naive NOT EXISTS is an all-pairs O(n²); the classic
    * single-machine fix (sort by min axis, keep a running max) is a global
    * sort. This runs the prefix-max DISTRIBUTED: range-bucket the min axis
    * (fixed arithmetic buckets from a 1-row min/max anchor, broadcast);
    * per-bucket prefix-max runs as a RANGE-frame window partitioned by
    * bucket (parallel across buckets, peers-by-value so tie-safe); the
    * cross-bucket carry is a prefix-max over the |buckets|-row bucket-stats
    * frame (bounded, single-partition window by design) broadcast back.
    * Dominance is then two local comparisons per row:
    * dominated ⇔ prefixMax(strictly smaller min) >= own max
    *           ∨ max among equal-min peers > own max.
    * Both criteria must be integers (micro-quantize upstream) so RANGE
    * frames and equality are exact. */
  def paretoFrontier(df: DataFrame, idCol: String, maxCol: Column,
      minCol: Column, numBuckets: Int = 64): DataFrame = {
    require(numBuckets >= 1, "numBuckets >= 1")
    val pts = df.select(col(idCol), maxCol.cast("long").as("max_v"),
        minCol.cast("long").as("min_v"))
      .where(col("max_v").isNotNull && col("min_v").isNotNull)
    val anchor = pts.agg(min("min_v").as("lo"), max("min_v").as("hi"))
    // fixed arithmetic bucketing of the min axis; width >= 1 keeps the
    // mapping monotone (bucket id never decreases as min_v grows)
    val bucketed = pts.crossJoin(broadcast(anchor)) // 1-row anchor
      .withColumn("width",
        expr(s"(hi - lo) div ${numBuckets}L") + lit(1L))
      .withColumn("bkt", expr("(min_v - lo) div width"))
      .drop("lo", "hi", "width")
    // cross-bucket carry: max over all strictly earlier buckets — the
    // bucket-stats frame is bounded (<= numBuckets rows), so its
    // single-partition window is a designed bounded frame
    val carry = bucketed.groupBy("bkt").agg(max("max_v").as("bmax"))
      .withColumn("pre_max", max(col("bmax")).over(Window
        .partitionBy(lit(0)).orderBy(col("bkt"))
        .rowsBetween(Window.unboundedPreceding, -1)))
      .select(col("bkt"), col("pre_max"))
    val wLt = Window.partitionBy(col("bkt")).orderBy(col("min_v"))
      .rangeBetween(Window.unboundedPreceding, -1)
    val wEq = Window.partitionBy(col("bkt")).orderBy(col("min_v"))
      .rangeBetween(0, 0)
    bucketed.join(broadcast(carry), Seq("bkt"))
      .withColumn("m_lt", greatest(
        coalesce(max(col("max_v")).over(wLt), lit(Long.MinValue)),
        coalesce(col("pre_max"), lit(Long.MinValue))))
      .withColumn("m_eq", max(col("max_v")).over(wEq))
      .where(col("m_lt") < col("max_v") && col("m_eq") <= col("max_v"))
      .select(col(idCol), col("max_v"), col("min_v"))
  }
}
