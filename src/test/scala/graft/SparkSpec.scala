package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, forked by sbt). */
object SparkSpec {
  lazy val spark: SparkSession = SparkSession.builder()
    .withExtensions(new graft.plans.GraftExtensions)
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSpec.spark
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Every FileSourceScan in an executed plan — descending through
    * adaptive wrappers, query stages, AND cached subtrees (operators
    * pin multi-consumer views via CacheScope, so load-bearing scans
    * live inside InMemoryRelation cached plans). ONE walker for every
    * suite's plan assertions: a new wrapper node type added here keeps
    * all of them descending instead of passing vacuously. */
  protected def scans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec        => scans(q.plan)
      case f: FileSourceScanExec    => Seq(f)
      case m: InMemoryTableScanExec => scans(m.relation.cachedPlan)
      case other                    => other.children.flatMap(scans)
    }
  }

  /** Data files under a table's location (0 when it does not exist). */
  protected def files(table: String): Long =
    if (!spark.catalog.tableExists(table)) 0L
    else {
      val ident = org.apache.spark.sql.catalyst.TableIdentifier(
        table.split('.').last, Some(table.split('.').head))
      val loc = java.nio.file.Paths.get(new java.net.URI(spark.sessionState
        .catalog.getTableMetadata(ident).location.toString))
      val walk = java.nio.file.Files.walk(loc)
      try walk.filter(p => p.toString.endsWith(".parquet")).count()
      finally walk.close()
    }

  /** Stop a compaction swap of `live` after the live generation was
    * renamed away: the staged copy complete, the retired one standing. */
  protected def crashMidSwap(live: String,
      partitionedBy: Option[String]): Unit =
    partitionedBy match {
      case Some(p) =>
        spark.table(live).repartition(org.apache.spark.sql.functions.col(p))
          .write.mode("overwrite").partitionBy(p).format("parquet")
          .saveAsTable(s"${live}_compacting")
        spark.sql(s"ALTER TABLE $live RENAME TO ${live}_retired")
      case None =>
        // renaming keeps the staged copy's layout (bucketing) exact
        spark.sql(s"ALTER TABLE $live RENAME TO ${live}_compacting")
        spark.sql(s"CREATE TABLE ${live}_retired AS SELECT * FROM " +
          s"${live}_compacting")
    }
}
