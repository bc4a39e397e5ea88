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

  /** The band index as a [[StandingIndex]] rooted at `table` itself: the
    * [[Dedup.lshBands]] rows bucketed and sorted on (b, k). A doc with no
    * shingle stores no rows — it can never collide, so there is nothing
    * to erase. `buckets` sizes the layout: at corpus scale pick
    * shuffle-partition-sized buckets; the join works unchanged at any
    * value because the bucket count only constrains the delta side's
    * matching exchange. */
  private def index(spark: SparkSession, table: String,
      buckets: Int): StandingIndex =
    StandingIndex(spark, table, "doc_id",
      Seq(StandingIndex.Table("", StandingIndex.Bucketed(buckets, "b", "k"),
        Dedup.lshBands)), Nil)

  /** Build (or replace) the band index table ([[StandingIndex.build]]). */
  def build(docs: DataFrame, table: String, buckets: Int = 8): Unit =
    index(docs.sparkSession, table, buckets).build(docs)

  /** Incremental ingest — the [[Search.indexDelta]] contract for LSH
    * bands: the delta's band rows derive from the delta alone and append
    * into the bucketed layout, so ingest cost is independent of index
    * size. Band rows carry no stored aggregate and [[candidates]] dedups
    * pairs, so a re-ingested doc_id would only duplicate rows physically —
    * the guard refuses it anyway: silent physical duplication is how an
    * index doubles between compactions ([[StandingIndex.delta]]). */
  def delta(spark: SparkSession, table: String, newDocs: DataFrame,
      buckets: Int = 8): Unit =
    index(spark, table, buckets).delta(newDocs)

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

  /** [[delta]] that skips already-indexed doc_ids — a replayed
    * micro-batch is a no-op ([[StandingIndex.deltaIdempotent]]). */
  def deltaIdempotent(spark: SparkSession, table: String,
      newDocs: DataFrame): Unit = {
    index(spark, table, 8).deltaIdempotent(newDocs); ()
  }

  /** DELETE documents from the band index — right-to-erasure includes
    * DERIVED state: a taken-down doc's minhash signatures must stop
    * matching future deltas, or the pipeline keeps reporting the erased
    * doc as a near-dup partner. Tombstones only (never a band-table
    * rewrite), anti-joined above the bucketed scan by [[candidates]]
    * ([[StandingIndex.delete]]). */
  def indexDelete(spark: SparkSession, table: String, ids: DataFrame): Unit =
    index(spark, table, 8).delete(ids)

  /** Rewrite the band index without the tombstoned docs, keeping the
    * bucketed-sorted layout the co-located probe join relies on
    * ([[StandingIndex.compact]]); also the small-files fold for deltas. */
  def compact(spark: SparkSession, table: String, buckets: Int = 8): Unit =
    index(spark, table, buckets).compact()
}
