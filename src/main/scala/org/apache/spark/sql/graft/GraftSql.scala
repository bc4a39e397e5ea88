package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSparkSession}

/** Package-internal bridge to session internals that are private[sql]:
  * building a DataFrame from a custom LogicalPlan (the conventional
  * extension-point shim used by Spark libraries that add logical operators)
  * and dropping a session's cached table relations. */
object GraftSql {
  def ofRows(session: SparkSession, plan: LogicalPlan): DataFrame =
    ClassicDataset.ofRows(session.asInstanceOf[ClassicSparkSession], plan)

  /** Drops every cached table relation of `session`'s catalog, so its next
    * read of a table lists the table's files again. */
  def invalidateCachedTables(session: SparkSession): Unit =
    session.asInstanceOf[ClassicSparkSession].sessionState.catalog
      .invalidateAllCachedTables()
}
