package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The crash-recoverable staged swaps every compaction runs — the data
  * tables of each [[StandingIndex]], the table of every [[MatView]] view
  * kind (sum and join `_mv`, distinct `_dv`, min/max `_mm`, top-k `_tk`)
  * and the [[Scd]] dimension. Spark cannot overwrite a table it is reading
  * and no atomic table-replace DDL exists, so a compaction rewrite stages
  * `{live}_compacting`, renames the live generation to `{live}_retired`
  * and the staged copy in — every intermediate catalog state is one
  * recover call away from a readable table, and delta ingest refuses to
  * bootstrap over a mid-swap catalog. Two schemes:
  *
  *  - UNPARTITIONED tables ([[stageThenSwap]] / [[recoverUnpartitioned]]:
  *    bucketed and plain layouts).
  *  - PARTITIONED tables ([[compactPartitioned]] /
  *    [[recoverPartitioned]]), which need the MSCK/locations dance and a
  *    different DROP order. */
object Swap {

  /** Stage `df` as the next generation of `live` and swap it in.
    * `write` persists the staged frame (the caller picks layout —
    * plain parquet, bucketed, …). Call [[recoverUnpartitioned]] first
    * on any path that might see a torn catalog. */
  def stageThenSwap(spark: SparkSession, live: String, df: DataFrame)(
      write: (DataFrame, String) => Unit): Unit = {
    val staged = s"${live}_compacting"
    write(df, staged)
    spark.sql(s"ALTER TABLE $live RENAME TO ${live}_retired")
    spark.sql(s"ALTER TABLE $staged RENAME TO $live")
    spark.sql(s"DROP TABLE ${live}_retired")
  }

  /** Repair an interrupted [[stageThenSwap]]: roll a complete staged
    * copy forward when the live table is missing (the only state with
    * no readable table), drop a stale staged copy or leftover retired
    * generation otherwise. Idempotent cheap DDL; returns true iff a
    * roll-forward restored a missing live table. */
  def recoverUnpartitioned(spark: SparkSession, live: String): Boolean = {
    val staged = s"${live}_compacting"
    val retired = s"${live}_retired"
    val rolledForward =
      if (!spark.catalog.tableExists(live) &&
          spark.catalog.tableExists(staged)) {
        spark.sql(s"ALTER TABLE $staged RENAME TO $live")
        true
      } else false
    if (spark.catalog.tableExists(live) && spark.catalog.tableExists(staged))
      spark.sql(s"DROP TABLE $staged")
    if (spark.catalog.tableExists(live) && spark.catalog.tableExists(retired))
      spark.sql(s"DROP TABLE $retired")
    rolledForward
  }

  /** Rewrite a partitioned table to one file per partition dir through
    * the crash-recoverable swap (`xform` is applied to the live rows on
    * the way — the tombstone fold). The partitioned-table twist: stage
    * the compacted copy, rename the live generation away, DROP it, THEN
    * rename the staged copy in. The retired generation MUST be dropped
    * while the live path is still empty: a rename keeps the catalog's
    * per-partition locations pointing at the ORIGINAL path, and DROP
    * TABLE follows those custom locations — dropping the retired table
    * after the staged copy lands at the original path would delete the
    * new live data out from under it (observed, not hypothetical). */
  def compactPartitioned(spark: SparkSession, live: String, partCol: String,
      xform: DataFrame => DataFrame = identity): Unit = {
    val staged = s"${live}_compacting"
    xform(spark.table(live))
      .repartition(col(partCol)) // one writer task per value -> one file per dir
      .write.mode("overwrite").partitionBy(partCol).format("parquet")
      .saveAsTable(staged)
    spark.sql(s"ALTER TABLE $live RENAME TO ${live}_retired")
    spark.sql(s"DROP TABLE ${live}_retired")
    spark.sql(s"ALTER TABLE $staged RENAME TO $live")
    // rename moves the data dir but the catalog's partition entries still
    // point at the staging location — re-discover them from the new path
    // (without this the renamed table reads as EMPTY)
    spark.sql(s"MSCK REPAIR TABLE $live")
  }

  /** Repair an interrupted [[compactPartitioned]] — the
    * [[recoverUnpartitioned]] scheme plus two partitioned-table twists: a
    * roll-forward rename needs the MSCK partition re-discovery, and the
    * retired generation is only ever dropped while the live path is
    * absent (its stale per-partition locations point THERE). A live
    * table whose partition entries point outside its own location (crash
    * between the rename-in and the MSCK) is re-repaired in place.
    * Idempotent cheap DDL + one dir listing; returns true iff a
    * roll-forward restored a missing live table. */
  def recoverPartitioned(spark: SparkSession, live: String): Boolean = {
    val staged = s"${live}_compacting"
    val retired = s"${live}_retired"
    val rolledForward =
      if (!spark.catalog.tableExists(live) && spark.catalog.tableExists(staged)) {
        // retired first, while the live path is still empty — its stale
        // partition locations are no-op deletes only in this state
        if (spark.catalog.tableExists(retired))
          spark.sql(s"DROP TABLE $retired")
        spark.sql(s"ALTER TABLE $staged RENAME TO $live")
        spark.sql(s"MSCK REPAIR TABLE $live")
        true
      } else false
    if (spark.catalog.tableExists(live)) {
      if (spark.catalog.tableExists(staged))
        spark.sql(s"DROP TABLE $staged") // stale restage; live wins
      // crash between rename-in and MSCK: live's partition entries still
      // point at the staging path — detectable (locations outside the
      // table location) and repairable in place
      val cat = spark.sessionState.catalog
      val ident = org.apache.spark.sql.catalyst.TableIdentifier(
        live.split('.').last,
        live.split('.').dropRight(1).lastOption)
      val loc = cat.getTableMetadata(ident).location.toString
      if (cat.listPartitions(ident).exists(
          !_.location.toString.startsWith(loc)))
        spark.sql(s"MSCK REPAIR TABLE $live")
      // live ∧ retired without a staged copy is not a state this scheme
      // produces (retired is dropped before the rename-in); a foreign
      // retired table is left untouched — dropping it would follow its
      // stale partition locations into the live data
    }
    rolledForward
  }
}
