package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The STANDING LSH index as a physical artifact: the corpus's band keys
  * materialized into a table bucketed (and sorted) by the band join key.
  *
  * Why bucketing is the point: every delta-batch candidate check is a join
  * against this table on (b, k). With the index pre-bucketed on exactly
  * those keys, the scan itself satisfies the join's clustering requirement
  * — the 100 TB corpus side is NEVER re-shuffled; only the delta (small by
  * construction) exchanges to match the bucket layout. Ingest cost is
  * thereby independent of corpus size end-to-end: map-side signatures on
  * the delta (`minhash_sigs`), a delta-sized shuffle, a co-located probe.
  * `DedupIndexSpec` asserts the plan (zero Exchange over the index scan,
  * `Bucketed: true`) and the result (== `Dedup.incrementalNearDup`'s
  * candidate set).
  *
  * The exact-Jaccard verify stays downstream on the flagged sliver
  * ([[Dedup.incrementalNearDup]]); in production its shingle table is
  * materialized alongside the bands at build time instead of re-derived.
  */
object DedupIndex {

  /** Build (or replace) the band index table. `buckets` sizes the layout:
    * at corpus scale pick shuffle-partition-sized buckets; the join works
    * unchanged at any value because the bucket count only constrains the
    * delta side's matching exchange. */
  def build(docs: DataFrame, table: String, buckets: Int = 8): Unit = {
    Dedup.lshBands(docs)
      .write.mode("overwrite")
      .bucketBy(buckets, "b", "k").sortBy("b", "k")
      .format("parquet").saveAsTable(table)
    IngestGuard.write(docs.sparkSession, docs, "doc_id", table,
      overwrite = true)
  }

  /** Incremental ingest into the standing band index — the
    * [[Search.indexDelta]] contract for LSH bands: the delta's band rows
    * derive from the DELTA ALONE and append into the bucketed layout
    * (the writer shuffles only the delta to match the bucket spec; the
    * standing corpus is never read), so ingest cost is independent of
    * index size. Band rows are purely additive with NO stored aggregate,
    * and [[candidates]] dedups pairs — a re-ingested doc_id would not
    * corrupt RESULTS, only duplicate its rows physically (cost, file
    * growth) — but the loud [[IngestGuard]] discipline applies anyway:
    * silent physical duplication is how an index doubles between
    * compactions without anyone noticing. */
  def delta(spark: SparkSession, table: String, newDocs: DataFrame,
      buckets: Int = 8): Unit = {
    if (newDocs.isEmpty) return
    Swap.recoverUnpartitioned(spark, table)
    require(spark.catalog.tableExists(table),
      s"DedupIndex.delta needs a standing index: $table not found — " +
        "run build first")
    IngestGuard.assertDisjoint(spark, table, newDocs, "doc_id",
      spark.table(table), "DedupIndex.delta")
    append(spark, table, newDocs, buckets)
  }

  /** The band rows' bucketed append and guard blob, for doc_ids already
    * known new. */
  private def append(spark: SparkSession, table: String, newDocs: DataFrame,
      buckets: Int = 8): Unit = {
    Dedup.lshBands(newDocs)
      .repartition(buckets, col("b"), col("k"))
      .write.mode("append")
      .bucketBy(buckets, "b", "k").sortBy("b", "k")
      .format("parquet").saveAsTable(table)
    IngestGuard.write(spark, newDocs, "doc_id", table, overwrite = false)
  }

  /** Candidate (delta, index) near-dup pairs from band collisions against
    * the materialized index. Tombstoned docs never surface as partners
    * ([[indexDelete]]): the broadcast anti-join sits ABOVE the bucketed
    * index scan, so the co-located (b, k) join stays shuffle-free on the
    * index side. */
  def candidates(spark: SparkSession, table: String, delta: DataFrame): DataFrame = {
    val ib = Tombstones.filter(spark, table, spark.table(table), "doc_id")
      .select(col("doc_id").as("index_id"), col("b"), col("k"))
    val db = Dedup.lshBands(delta)
      .select(col("doc_id").as("delta_id"), col("b"), col("k"))
    db.join(ib, Seq("b", "k"))
      .select(col("delta_id"), col("index_id")).distinct()
      .orderBy(col("delta_id"), col("index_id"))
  }

  /** At-least-once-safe band ingest — [[delta]]'s idempotent twin (the
    * family-wide streaming contract): a replayed micro-batch is a
    * no-op (a replayed doc would duplicate its band rows physically).
    * Replay filter: exact confirmation only for the bloom-suspect
    * SLIVER of the batch (the standing doc_id column is probed against
    * the broadcast sliver — delta-proportional); the novel set is
    * lineage-cut before the append (it derives from the table being
    * appended to) and appended without [[delta]]'s second probe (one
    * guard read and one bloom probe per batch; see
    * [[IngestGuard.novel]]). Batch 0 bootstraps an empty catalog. */
  def deltaIdempotent(spark: SparkSession, table: String,
      newDocs: DataFrame): Unit = {
    Swap.recoverUnpartitioned(spark, table)
    if (!spark.catalog.tableExists(table)) { build(newDocs, table); return }
    val novel = IngestGuard.novel(spark, table, newDocs, "doc_id",
      spark.table(table))
    if (!novel.isEmpty) append(spark, table, novel)
  }

  /** DELETE documents from the standing band index — right-to-erasure
    * includes DERIVED state: a taken-down doc's minhash signatures must
    * stop matching future deltas, or the pipeline keeps reporting the
    * erased doc as a near-dup partner. The [[Tombstones]] lifecycle,
    * 6th standing index family: sidecar append (never a band-table
    * rewrite), probe-side broadcast anti-join ([[candidates]]),
    * [[compact]] folds physically. Unknown and already-deleted ids are
    * ignored; presence is confirmed against the band rows (every
    * indexed doc with ≥1 shingle has rows; a shingle-less doc stored
    * nothing and can never collide — nothing to erase). */
  def indexDelete(spark: SparkSession, table: String, ids: DataFrame): Unit = {
    require(spark.catalog.tableExists(table),
      s"DedupIndex.indexDelete: no standing index at $table — build first")
    val victims = spark.table(table).select(col("doc_id"))
      .join(broadcast(Tombstones.freshOnly(spark, table,
        ids.select(col("doc_id").cast("long").as("doc_id")).distinct(),
        "doc_id")), Seq("doc_id"), "left_semi")
      .distinct().localCheckpoint()
    if (!victims.isEmpty) Tombstones.append(spark, table, victims, "doc_id")
  }

  /** Compact the band index: rewrite WITHOUT the tombstoned docs through
    * the crash-recoverable unpartitioned swap ([[Swap]]), preserving the
    * bucketed-sorted layout (the co-located probe join's clustering
    * contract), then retire the sidecar. Also the small-files fold for a
    * future delta-append path. */
  def compact(spark: SparkSession, table: String, buckets: Int = 8): Unit = {
    Swap.recoverUnpartitioned(spark, table)
    Swap.stageThenSwap(spark, table,
      Tombstones.filter(spark, table, spark.table(table), "doc_id")) {
      (df, staged) =>
        df.repartition(buckets, col("b"), col("k"))
          .write.mode("overwrite")
          .bucketBy(buckets, "b", "k").sortBy("b", "k")
          .format("parquet").saveAsTable(staged)
    }
    // guard refolds to one bloom over the SURVIVORS (a deleted doc_id
    // becomes re-ingestable, per-batch blobs collapse), sidecar last
    IngestGuard.write(spark,
      spark.table(table).select(col("doc_id")).distinct(), "doc_id",
      table, overwrite = true)
    Tombstones.drop(spark, table)
  }
}
