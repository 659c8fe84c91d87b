package graft.jobs

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Parquet

/** Deterministic N× corpus replication for scale-exponent measurement
  * (`ScaleGen <srcDir> <outDir> [factor]`): every TESTDATA table rewritten
  * at `factor`× rows with referential integrity preserved, so the FULL
  * 122-query bench runs unmodified against the output directory and
  * per-query times at 1× vs N× give the empirical scaling exponent
  * (BASELINE.md records them).
  *
  * Replication design — the point is measuring ENGINE scaling, not
  * changing the data's pair structure:
  *   - Facts replicate with key shifts (orders/lineitem share the orderkey
  *     shift; customer and orders share the custkey shift; events shift
  *     event_id AND user_id so per-user journey shapes are preserved and
  *     the user population grows 10×). Dimension tables (region, nation,
  *     part, supplier) copy unchanged — at warehouse scale facts grow,
  *     dims don't, and broadcast-ability must be preserved to test the
  *     plans honestly.
  *   - documents: replica r > 0 suffixes EVERY token with "r<r>", so
  *     replicas are totally dissimilar at shingle level — each replica
  *     reproduces the original's dup/near-dup pair structure internally
  *     and contributes ZERO cross-replica pairs. Dedup outputs therefore
  *     scale exactly linearly by construction, and any super-linear TIME
  *     is the engine's, not the generator's.
  *   - embeddings: replica r > 0 perturbs each component with a
  *     deterministic per-(replica, dim) offset, decorrelating replicas so
  *     ANN candidate structure stays cell-local instead of stacking 10
  *     cosine-identical copies of every vector.
  * Everything is a pure column transform over a crossJoin with
  * range(factor) — no driver-side data, no randomness, bit-identical
  * across runs. */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/graft_sf_x10")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    // docMode "boilerplate" (round-15 verdict item 6): replica corpora grow
    // boilerplate OCCURRENCES, never distinct segments, so the
    // boilerplateStrip hot-set guard's shuffle branch could only ever be
    // FORCED (maxBroadcastHot = 0) — the >cap regime was unreachable with
    // real data-shaped growth. This mode grows DISTINCT boilerplate with
    // the corpus: every group of 3 consecutive doc ids shares a prepended
    // block of `bpSegs` distinct 8-token segments (unique to the group), so
    // each segment occurs in exactly 3 docs (>= the default maxDocFreq 3 →
    // hot) and the hot-set size is ceil(docs / 3) * bpSegs — past the 8M
    // broadcast cap at 500k docs with bpSegs = 50. Only documents.parquet
    // is (re)written in this mode: the guard probe reads nothing else.
    val docMode = args.lift(3).getOrElse("suffix")
    val bpSegs = args.lift(4).map(_.toInt).getOrElse(50)
    val s = graft.core.Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    s.sparkContext.setLogLevel("WARN")

    def reps(df: DataFrame): DataFrame =
      df.crossJoin(s.range(factor).select(col("id").as("rep")))

    def write(name: String)(df: DataFrame): Unit = {
      val (t, _) = graft.core.Timing.seconds(
        df.write.mode(SaveMode.Overwrite).parquet(s"$out/$name.parquet"))
      println(f"SCALEGEN $name $t%.1f s")
    }

    if (docMode == "boilerplate") {
      val sfx = concat(lit("r"), col("rep").cast("string"))
      val did = col("doc_id") + col("rep") * 1000000L
      // per-group distinct boilerplate block: group = did div 3, segments
      // j in [0, bpSegs), tokens bp_<g>_<j>_<w> for w in [0, 8)
      val block = array_join(flatten(
        transform(sequence(lit(0), lit(bpSegs - 1)), j =>
          transform(sequence(lit(0), lit(7)), w =>
            concat_ws("_", lit("bp"), col("_g").cast("string"),
              j.cast("string"), w.cast("string"))))), " ")
      write("documents")(reps(Parquet.read(s, s"$src/documents.parquet"))
        .withColumn("_g", (did / 3).cast("long"))
        .select(did.as("doc_id"),
          concat(block, lit(" "),
            when(col("rep") === 0, col("text"))
              .otherwise(concat_ws(" ",
                transform(split(col("text"), " "), t => concat(t, sfx)))))
            .as("text"),
          col("lang"), col("source"))
        .withColumn("n_chars", length(col("text")).cast("long")))
      s.stop()
      return
    }

    // dims: copy unchanged (facts grow, dims don't)
    Seq("region", "nation", "part", "supplier").foreach { name =>
      write(name)(Parquet.read(s, s"$src/$name.parquet"))
    }

    val custShift = 10000000L
    val orderShift = 100000000L
    write("customer")(reps(Parquet.read(s, s"$src/customer.parquet"))
      .select((col("c_custkey") + col("rep") * custShift).as("c_custkey"),
        col("c_name"), col("c_nationkey"), col("c_acctbal"), col("c_mktsegment")))
    write("orders")(reps(Parquet.read(s, s"$src/orders.parquet"))
      .select((col("o_orderkey") + col("rep") * orderShift).as("o_orderkey"),
        (col("o_custkey") + col("rep") * custShift).as("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority")))
    write("lineitem")(reps(Parquet.read(s, s"$src/lineitem.parquet"))
      .select((col("l_orderkey") + col("rep") * orderShift).as("l_orderkey"),
        col("l_partkey"), col("l_suppkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"),
        col("l_tax"), col("l_returnflag"), col("l_linestatus"),
        col("l_shipdate")))

    // events: ts stays (N× traffic density in the same window — the real
    // growth mode); user shift keeps every journey's internal shape
    write("events")(reps(Parquet.read(s, s"$src/events.parquet"))
      .select((col("event_id") + col("rep") * 1000000000L).as("event_id"),
        col("ts"),
        (col("user_id") + col("rep") * custShift).as("user_id"),
        col("event_type"), col("value"), col("props")))

    // documents: per-token replica suffix → replicas shingle-disjoint
    val sfx = concat(lit("r"), col("rep").cast("string"))
    write("documents")(reps(Parquet.read(s, s"$src/documents.parquet"))
      .select((col("doc_id") + col("rep") * 1000000L).as("doc_id"),
        when(col("rep") === 0, col("text"))
          .otherwise(concat_ws(" ",
            transform(split(col("text"), " "), t => concat(t, sfx))))
          .as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long")))

    // embeddings: deterministic per-(rep, dim) perturbation, ±0.1
    write("embeddings")(reps(Parquet.read(s, s"$src/embeddings.parquet"))
      .select((col("vec_id") + col("rep") * 1000000L).as("vec_id"),
        when(col("rep") === 0, col("embedding"))
          .otherwise(zip_with(col("embedding"),
            sequence(lit(0), size(col("embedding")) - 1),
            (x, i) => x + (pmod(i * lit(2654435761L) + col("rep") * lit(40503L),
              lit(1000L)).cast("float") / 1000f - 0.5f) * 0.2f))
          .as("embedding"),
        col("label")))

    s.stop()
  }
}
