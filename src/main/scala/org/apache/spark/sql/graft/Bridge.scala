package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{DataFrame, Dataset, ExpressionUtils, SparkSession}

/** Minimal `private[sql]` bridge (the standard extension-library
  * technique: a nested `org.apache.spark.sql` package object grants
  * access to `Dataset.ofRows`, which is how a library turns a custom
  * [[LogicalPlan]] node into a user-facing DataFrame, and a custom
  * [[Expression]] into a Column). Nothing else from the internal
  * surface is exposed.
  */
object Bridge {
  def ofRows(spark: org.apache.spark.sql.SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[SparkSession], plan)

  /** A Column holding a Catalyst [[Expression]] as is — how the engine
    * reaches its native expressions without the session's function
    * registry — and the converse, for a builder's Column arguments. */
  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Construct Spark's own DataSourceV2 parquet [[Table]] for a path —
    * the delegation target of [[graft.catalog.GraftCatalog]]. Kept here
    * because `ParquetTable` lives in the `execution` package: the
    * catalog plugin itself stays on the public connector API and only
    * this one construction crosses the internal boundary (same
    * technique, and same single-file confinement, as `ofRows`). */
  def parquetTable(
      spark: org.apache.spark.sql.SparkSession,
      name: String,
      path: String): org.apache.spark.sql.connector.catalog.Table =
    org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable(
      name,
      spark.asInstanceOf[SparkSession],
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Collections.singletonMap("path", path)),
      Seq(path),
      None,
      classOf[org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat])

  /** String value of a connector literal expression, if it is one.
    * `LiteralValue` is `private[sql]` in its Scala signature (public
    * only at the bytecode level), so the one pattern match lives here —
    * used by the fimi row-level scan to decode runtime group-filter
    * predicates (`IN(_file, 'a','b',...)`). */
  def literalString(
      e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
    e match {
      case org.apache.spark.sql.connector.expressions.LiteralValue(v, _) =>
        Option(v).map(String.valueOf)
      case _ => None
    }

  /** Register the driver-side StateStoreCoordinator RPC endpoint if it
    * is not already up. Streaming queries create it lazily on first
    * start; BATCH execution of `transformWithState` (supported since
    * Spark 4.0) skips that path and fails executor-side with
    * `RpcEndpointNotFoundException` if no streaming query ever ran in
    * the session — so the batch entry point calls this first.
    * `forDriver` is idempotent: it catches the already-registered case
    * and returns a ref to the existing endpoint. */
  def ensureStateStoreCoordinator(spark: org.apache.spark.sql.SparkSession): Unit =
    org.apache.spark.sql.execution.streaming.state.StateStoreCoordinatorRef.forDriver(
      org.apache.spark.SparkEnv.get,
      spark.asInstanceOf[SparkSession].sessionState.conf)

  /** Runtime-operator walk for the plan-shape tests: expands AQE
    * wrappers (AdaptiveSparkPlanExec / QueryStageExec) to the plan they
    * currently hold, descends into subquery plans, and STOPS at cached
    * scans (InMemoryTableScanExec) — a memoized frame's build plan
    * executes once at cache materialization, not per query, so its
    * operators must not count as query-side work. Tree-walking replaces
    * plan-STRING scraping, which breaks whenever Spark's rendering of a
    * materialized cache changes (InMemoryRelation vs
    * TableCacheQueryStage vs an embedded "== Final Plan ==" dump with
    * reset indentation). */
  def runtimeOps(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      a +: runtimeOps(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      q +: runtimeOps(q.plan)
    case i: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
      Seq(i)
    case other =>
      other +: (other.children ++ other.subqueries).flatMap(runtimeOps)
  }
}
