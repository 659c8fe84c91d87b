package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Local table catalog: name → parquet path, exposed as temp views.
  *
  * Replaces the reference's AWS Glue catalog + Athena metadata plumbing
  * (`stage_1_hcp_channel_all_hardcode.py:195-210,1097-1108,1131-1224`): instead of a
  * crawler inferring parquet schemas into a remote catalog and a 20s poll loop, we
  * register parquet directories directly as session views (schema-on-read from the
  * parquet footer, which is what the crawler reproduced remotely). [[Parquet.read]]
  * reads that one footer on the driver, so a register starts no Spark job.
  *
  * At cluster scale the same registry fronts object-store paths; views stay lazy so
  * Catalyst sees the full plan (predicate pushdown / partition pruning reach the scan).
  */
final class TableRegistry(spark: SparkSession) {
  private val paths = scala.collection.concurrent.TrieMap.empty[String, String]

  /** Register a parquet path under `name` and expose it as a temp view. */
  def register(name: String, path: String): DataFrame = {
    paths.put(name, path)
    val df = EventTs.toNanos(Parquet.read(spark, path))
    df.createOrReplaceTempView(name)
    df
  }

  /** Re-read a registered path's footer (the reference's crawler-refresh, S1:1131-1224). */
  def refresh(name: String): DataFrame =
    register(name, paths.getOrElse(name, sys.error(s"unknown table: $name")))

  def table(name: String): DataFrame = spark.table(name)

  /** Catalog listing probe (S1:195-207: Athena list_table_metadata + substring match). */
  def tablesMatching(substr: String): Seq[String] =
    paths.keys.filter(_.contains(substr)).toSeq.sorted

  def contains(name: String): Boolean = paths.contains(name)
}

object TableRegistry {
  /** The driver testdata star schema (TESTDATA.md). */
  val testTables: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Register every testdata table under `dir` and return the registry. */
  def forDir(spark: SparkSession, dir: String): TableRegistry = {
    val r = new TableRegistry(spark)
    testTables.foreach(n => r.register(n, s"$dir/$n.parquet"))
    r
  }
}
