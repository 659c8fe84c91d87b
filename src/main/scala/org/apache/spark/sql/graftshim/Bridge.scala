package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Access to the Spark internals graft needs, from a package under
  * `org.apache.spark.sql` so `private[sql]` and `private[spark]` members
  * are reachable.
  *
  * Mostly the Column ⇄ Expression bridge for graft's native expressions:
  * Spark 4 made the classic `Column(expr)` constructor and `Column.expr`
  * accessor `private[sql]` (the public surface now goes through ColumnNode).
  * Extension libraries that ship custom Catalyst expressions use a shim in a
  * `org.apache.spark.sql` subpackage to reach the sanctioned converters.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame over an already-computed RDD[InternalRow] (`internalCreateDataFrame`
    * is `private[sql]`). Used by iterative operators to truncate plan lineage
    * each round: materialize the round into a persisted RDD, then rebuild a
    * frame whose logical plan is just the RDD scan — the effect of
    * `localCheckpoint` without its unpersist-forbids-recompute semantics
    * (a plain persisted RDD can still recompute from shuffle files, and
    * releasing it doesn't log lineage-truncation warnings). */
  def internalCreateDataFrame(
      spark: org.apache.spark.sql.SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  /** Blocks until every event posted so far has reached every listener
    * (`SparkContext.listenerBus` is `private[spark]`) — read listener
    * counters after this instead of sleeping and hoping. Throws
    * `java.util.concurrent.TimeoutException` after `timeoutMs`. */
  def drainListeners(sc: org.apache.spark.SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  /** Number of plans the session's CacheManager holds (`numCachedEntries`
    * is `private[sql]`): persisted frames count from `persist()` on, before
    * any action materializes them. */
  def cachedEntries(spark: org.apache.spark.sql.SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries
}
