package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Delta-proportional id-disjointness for the standing indexes: the
  * guard every [[StandingIndex]] delta runs, and the materialized views of
  * [[MatView]]. A delta's ids must be NEW — a re-ingested id silently
  * doubles additive state — and checking that by semi-joining the
  * standing id column against the delta would scan the index on every
  * ingest. Instead `{table}_guard` holds ONE serialized bloom filter row
  * per ingested batch (a build writes the first, each delta appends its
  * own), so the ingest-time probe reads k tiny blobs (k = batches so far)
  * plus the delta, never the standing data.
  *
  * Exactness: a bloom can false-positive but never false-negative, so a
  * MISS on every blob proves disjointness outright (the common case — one
  * delta-sized probe job and done). Only a HIT falls back to the exact
  * standing-column probe of the suspect sliver, i.e. the expensive path
  * runs precisely when there is a real clash or an fpp-rare false suspect
  * (per-id fpp is sized so a clean BATCH false-suspects with probability
  * ≤ ~5% regardless of batch size — see [[fppFor]]). Either way the
  * outcome is identical to the exact check.
  */
object IngestGuard {

  /** Ceiling false-suspect rate per id: a false positive costs one extra
    * (exact) sliver probe of the standing index, never a wrong outcome. */
  private val MaxFpp = 0.001

  /** Target probability that a CLEAN batch trips ANY false suspect.
    * Whole-batch suspicion is ≈ n·fpp, so a fixed per-id fpp degrades
    * with batch size (0.001 × a million-row batch = certain suspicion =
    * one standing-column probe per batch, silently re-breaking the
    * delta-proportional contract). The per-id fpp is therefore sized
    * per batch: fpp = min(MaxFpp, FalseSuspectBudget / n), floored at
    * 1e-9 (~6.5 bytes/id — a 1M-id blob is ~4.5 MB, still sidecar-
    * scale). */
  private val FalseSuspectBudget = 0.05

  private def fppFor(n: Long): Double =
    math.max(1e-9, math.min(MaxFpp, FalseSuspectBudget / n))

  private[ops] def guardTable(table: String) = s"${table}_guard"

  /** Executed-plan strings of the fast-path probes, recorded for the plan
    * guard spec: the contract "ingest never scans the standing index" is
    * asserted against these (see SearchIndexDenseSpec). */
  @volatile private[graft] var lastProbePlan: String = ""

  /** Write the guard row for a batch — a serialized bloom over the
    * batch's distinct ids (cast to string: build and probe hash the same
    * UTF8 keys). `overwrite = true` at index build (fresh sidecar),
    * `false` at delta ingest (append — additive, like the stats row).
    * Cost is one pass over the BATCH alone. An EMPTY batch writes
    * nothing: `stat.bloomFilter` has no bitmap for zero rows, and a
    * no-op blob would add probe cost for no coverage. */
  def write(spark: SparkSession, batch: DataFrame, idCol: String,
      table: String, overwrite: Boolean): Unit = {
    // r22 (VERDICT r21 item 3): the count (sizes the bloom) and the bloom
    // build used to scan the batch twice; persist the keyed projection so
    // the second pass reads the cached keys. Freed before the sidecar
    // write below (the write only reads the local bloom blob).
    val keyed = batch.select(col(idCol).cast("string").as("k")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bloom =
      try {
        val n = keyed.count()
        if (n == 0) return
        keyed.stat.bloomFilter("k", n, fppFor(n))
      } finally keyed.unpersist(false)
    save(spark, bloom, table, overwrite)
  }

  /** [[write]]'s append for a batch whose row count the caller already
    * holds (`rows` > 0): the rows bound the distinct ids from above, so a
    * bloom sized for them, at [[fppFor]]`(rows)`, is at least as sparse
    * and as strict as one sized for the distinct count — built in ONE
    * pass over the batch, with no distinct and no count. Returns the
    * blob's bytes. */
  def appendSized(spark: SparkSession, batch: DataFrame, idCol: String,
      table: String, rows: Long): Long = {
    require(rows > 0, "appendSized needs a non-empty batch")
    val bloom = batch.select(col(idCol).cast("string").as("k"))
      .stat.bloomFilter("k", rows, fppFor(rows))
    save(spark, bloom, table, overwrite = false)
  }

  /** Appends (or, with `overwrite`, replaces) the sidecar with `bloom`'s
    * blob; returns the blob's bytes. */
  private def save(spark: SparkSession,
      bloom: org.apache.spark.util.sketch.BloomFilter, table: String,
      overwrite: Boolean): Long = {
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    val blob = bos.toByteArray
    import spark.implicits._
    Seq(Tuple1(blob)).toDF("bloom").write
      .mode(if (overwrite) "overwrite" else "append")
      .format("parquet").saveAsTable(guardTable(table))
    blob.length.toLong
  }

  /** (generation count, cumulative blob bytes) of the guard sidecar —
    * the two sizes the compaction policy bounds. Every blob in the
    * sidecar is serialized into [[suspectPredicate]]'s probe plan as an
    * expression LITERAL and shipped to every task, so the BYTE total (not
    * just the row count) must stay bounded: sixteen 1M-id batches at the
    * 1e-9 fpp floor is ~72 MB of plan literals — fine rows-wise, hostile
    * bytes-wise. Reads k tiny (1-long) rows via a length-only projection;
    * never deserializes a bloom. (0, 0) when no sidecar exists. */
  def sidecarSize(spark: SparkSession, table: String): (Long, Long) = {
    if (!spark.catalog.tableExists(guardTable(table))) (0L, 0L)
    else {
      val r = spark.table(guardTable(table))
        .agg(count(lit(1)), coalesce(sum(length(col("bloom"))), lit(0L)))
        .collect()(0)
      (r.getLong(0), r.getLong(1))
    }
  }

  /** The compaction-trigger policy over a guard size: due when ingest
    * generations exceed `maxBatches` OR the cumulative blob bytes exceed
    * `maxSidecarBytes` (each blob ships into the ingest probe plan as an
    * expression literal, so the BYTE total must stay bounded regardless of
    * batch sizes). */
  def due(size: (Long, Long), maxBatches: Int, maxSidecarBytes: Long): Boolean =
    size._1 > maxBatches || size._2 > maxSidecarBytes

  /** The guard sidecar as one ingest reads it: every blob, or None when
    * no sidecar exists. Read ONCE per ingest, it serves the replay filter
    * ([[novel]]) and prices the compaction policy ([[size]]), so an
    * idempotent ingest collects `{table}_guard` once. */
  final class Sidecar private[IngestGuard] (
      blobs: Option[Array[Array[Byte]]]) {
    /** [[sidecarSize]]'s (generation count, cumulative blob bytes). */
    def size: (Long, Long) = blobs.fold((0L, 0L))(b =>
      (b.length.toLong, b.map(_.length.toLong).sum))

    /** [[suspectPredicate]] over these blobs. */
    def predicate(idCol: String): Option[org.apache.spark.sql.Column] =
      blobs.map(_
        .map(b => call_function("bloom_might_contain",
          col(idCol).cast("string"), lit(b)))
        .reduce(_ || _))
  }

  /** Collect the guard sidecar's blobs (one small job), or None without a
    * sidecar. */
  def read(spark: SparkSession, table: String): Sidecar = {
    graft.functions.BloomMightContain.register(spark)
    new Sidecar(
      if (!spark.catalog.tableExists(guardTable(table))) None
      else Some(spark.table(guardTable(table)).collect()
        .map(_.getAs[Array[Byte]]("bloom"))))
  }

  /** The OR-of-blobs suspicion predicate over `idCol` (each blob becomes
    * one codegen'd `bloom_might_contain` term), or None when the sidecar
    * doesn't exist (an index built before the guard landed) — the caller
    * must then treat EVERY id as suspect. A row where the predicate is
    * false is PROVEN absent from the standing index (blooms have no false
    * negatives); a true is a suspicion to confirm exactly — on the
    * suspect SLIVER only, which is true replays + fpp-rare misses, never
    * the whole delta. */
  def suspectPredicate(spark: SparkSession, table: String,
      idCol: String): Option[org.apache.spark.sql.Column] =
    read(spark, table).predicate(idCol)

  /** Fast-path membership suspicion: does ANY `idCol` value in `delta`
    * hit a guard bloom? Reads the sidecar + the delta only, never the
    * standing index. `false` PROVES disjointness; `true` is a suspicion
    * the caller confirms exactly. Returns `true` outright if the sidecar
    * doesn't exist, degrading to the caller's exact path — never to a
    * wrong answer. */
  def mightClash(spark: SparkSession, table: String, delta: DataFrame,
      idCol: String): Boolean =
    suspectPredicate(spark, table, idCol) match {
      case None => true
      case Some(hit) =>
        val probe = delta.select(col(idCol)).distinct().filter(hit)
        lastProbePlan = probe.queryExecution.executedPlan.toString
        probe.take(1).nonEmpty
    }

  /** Throw if any `idCol` value in `delta` already exists in the standing
    * index. Fast path: [[mightClash]]. Exact fallback (`standing`, built
    * lazily) runs only on a bloom hit. */
  def assertDisjoint(spark: SparkSession, table: String, delta: DataFrame,
      idCol: String, standing: => DataFrame, what: String): Unit = {
    if (mightClash(spark, table, delta, idCol)) {
      val clash = standing.select(col(idCol))
        .join(broadcast(delta.select(col(idCol)).distinct()),
          Seq(idCol), "left_semi")
        .take(1)
      require(clash.isEmpty,
        s"$what precondition violated: delta contains $idCol value(s) " +
          s"already in the standing index (e.g. ${clash.headOption.map(_.get(0))}); " +
          "re-ingest would silently corrupt the additive index state")
    }
  }

  /** The rows of `delta` whose `idCol` is NOT already in `standing` —
    * the replay filter every idempotent (at-least-once) ingest runs over
    * the sidecar it read once ([[read]]), so a redelivered streaming
    * micro-batch is a no-op instead of a crash loop or duplicated index
    * rows. Exact confirmation runs only for the bloom-suspect SLIVER of
    * the delta (true replays + fpp-rare false hits): the standing id
    * column is probed against the broadcast sliver, never anti-joined
    * against the whole delta, so a clean batch pays just the bloom probe.
    * An index without a sidecar treats every id as suspect. The novel
    * rows are disjoint from the standing index by construction — the
    * whole of [[assertDisjoint]]'s check — so the ingest appends them
    * without probing again. A filtered novel set is lineage-CUT (eager
    * localCheckpoint): it derives from the table the caller is about to
    * append to, and the append would otherwise invalidate the cached plan
    * mid-ingest — later writes would re-evaluate the anti-join against
    * the just-appended rows and see an empty delta (the bug a (0, null)
    * BM25 stats row once exposed). */
  def novel(guard: Sidecar, delta: DataFrame, idCol: String,
      standing: => DataFrame): DataFrame = {
    def standingIds = standing.select(col(idCol))
    guard.predicate(idCol) match {
      case Some(hit) =>
        val suspects = delta.select(col(idCol)).distinct().filter(hit)
        if (suspects.isEmpty) delta
        else {
          val present = standingIds
            .join(broadcast(suspects), Seq(idCol), "left_semi").distinct()
          delta.join(broadcast(present), Seq(idCol), "left_anti")
            .localCheckpoint()
        }
      case None =>
        delta.join(standingIds.distinct(), Seq(idCol), "left_anti")
          .localCheckpoint()
    }
  }
}
