package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deletion from the standing indexes — the tombstone sidecar every
  * LSM-shaped store grows once takedown/right-to-erasure arrives. Every
  * [[StandingIndex]] family is insert-only by design (delta appends never
  * rewrite the standing data), so at 100 TB a delete CANNOT be a rewrite
  * either. Instead a delete appends the victim ids to a tiny
  * `{table}_tombstones` sidecar; every probe anti-joins the (broadcast)
  * sidecar, and compaction — the rewrite the lifecycle already schedules —
  * folds the tombstones away physically and drops the sidecar.
  *
  * Cost model: delete is sidecar-append-sized (plus one column-pruned
  * presence pass, and for BM25 one to price the victims' negative stats
  * row); probe overhead is one broadcast hash anti-join — never a shuffle,
  * never a standing-data scan; compaction cost is unchanged (the rewrite
  * was already index-sized). The sidecar is broadcast into probe plans, so
  * the same byte-bound rationale as [[IngestGuard]] applies: fold it away
  * via compaction before it grows past broadcast scale.
  *
  * Re-ingest interplay: a deleted id stays PHYSICALLY present (and in the
  * guard bloom) until compaction, so re-inserting it before a compact is
  * refused (strict delta) or skipped (idempotent delta) — the honest
  * contract, because an append of the new rows would be shadowed by the
  * standing tombstone. After compaction the id is gone everywhere and
  * re-ingest is a plain insert. */
object Tombstones {

  /** Sidecar table name for an index family root. */
  def sidecar(table: String): String = s"${table}_tombstones"

  /** The subset of `ids` NOT already tombstoned, so a re-delete appends
    * nothing and corrects no additive sidecar twice (BM25's negative stats
    * row). Plain ids when no sidecar exists. */
  def freshOnly(spark: SparkSession, table: String, ids: DataFrame,
      idCol: String): DataFrame =
    if (spark.catalog.tableExists(sidecar(table)))
      ids.join(broadcast(spark.table(sidecar(table))), Seq(idCol),
        "left_anti")
    else ids

  /** Append `ids` (single `idCol` column, already deduped and
    * [[freshOnly]]-filtered by the caller) to the sidecar. Tiny by
    * contract — one coalesced file per delete batch. */
  def append(spark: SparkSession, table: String, ids: DataFrame,
      idCol: String): Unit =
    ids.coalesce(1).write.mode("append").format("parquet")
      .saveAsTable(sidecar(table))

  /** The probe-side filter: anti-join `df` against the broadcast
    * sidecar when one exists, identity otherwise — a deleted id can
    * never surface in a result between the delete and the compaction
    * that folds it away physically. One broadcast hash join, no
    * shuffle, no standing-data scan. */
  def filter(spark: SparkSession, table: String, df: DataFrame,
      idCol: String): DataFrame =
    if (spark.catalog.tableExists(sidecar(table)))
      df.join(broadcast(spark.table(sidecar(table)).select(col(idCol))),
        Seq(idCol), "left_anti")
    else df

  /** COMPACTION ADVICE — the physical-vs-logical gap turned into a
    * maintenance decision: count how many standing index rows the
    * sidecar still shadows and recommend `compact` once the dead
    * fraction crosses `threshold`. The dead fraction IS the probe tax
    * every query pays between a delete and its compaction (tombstoned
    * rows are scanned, then anti-joined away), and compaction pays one
    * index-sized rewrite to zero it — this row prices that trade
    * instead of leaving it folklore-scheduled. Cost: one broadcast
    * left join over a column-pruned index scan (the same price the
    * family's `indexStats` row already pays); with no sidecar the
    * answer is trivially `keep`. */
  def compactionAdvice(spark: SparkSession, table: String,
      rows: DataFrame, idCol: String,
      threshold: Double = 0.2): DataFrame = {
    val ids = rows.select(col(idCol))
    val flagged =
      if (spark.catalog.tableExists(sidecar(table)))
        ids.join(broadcast(spark.table(sidecar(table))
            .select(col(idCol), lit(1).as("_dead")).distinct()),
          Seq(idCol), "left")
      else ids.withColumn("_dead", lit(null).cast("int"))
    flagged.agg(count(lit(1)).as("n_rows"), count(col("_dead")).as("n_dead"))
      .select(col("n_rows"), col("n_dead"),
        round(col("n_dead").cast("double") / col("n_rows"), 4)
          .as("dead_frac"),
        when(col("n_dead").cast("double") / col("n_rows") >= threshold,
          "compact").otherwise("keep").as("action"))
  }

  /** Drop the sidecar — compaction's last step, AFTER the rewrite has
    * physically excluded the victims (a crash in between leaves a
    * sidecar whose anti-join is a no-op: harmless, idempotent). */
  def drop(spark: SparkSession, table: String): Unit =
    spark.sql(s"DROP TABLE IF EXISTS ${sidecar(table)}")
}
