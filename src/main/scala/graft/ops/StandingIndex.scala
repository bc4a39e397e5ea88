package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One standing index family's lifecycle, written once. A family (BM25
  * postings, positional postings, fuzzy q-grams, LSH bands, IVF lists,
  * perceptual hashes) is a value of this class: its table root, its id
  * column, its data tables — each with a layout and a derivation from a
  * batch — and the additive sidecars beside them. Build, delta, delete,
  * compaction and swap recovery run from that value, so every family
  * keeps the same rules:
  *
  *  - a delta derives its rows from the batch alone and appends them;
  *    its ids must be new ([[IngestGuard]]'s `{root}_guard` bloom
  *    sidecar), strictly (a clash throws) or idempotently (replayed ids
  *    are skipped after one guard read);
  *  - a catalog that holds part of an index is never bootstrapped over:
  *    a missing data table next to standing state rolls an interrupted
  *    swap forward, or the delta refuses;
  *  - a delete tombstones only ids the id-complete table holds
  *    ([[Tombstones]]), and every probe anti-joins the sidecar;
  *  - compaction rewrites each data table through its layout's staged
  *    swap ([[Swap]]) without the tombstoned ids, refolds the guard to one
  *    bloom and drops the tombstone sidecar last.
  *
  * `tables.head` is the id-complete table: every indexed id has a row
  * there, so it is the standing side of the replay filter, the presence
  * check of a delete and the source of the compacted guard. */
final case class StandingIndex(spark: SparkSession, root: String,
    idCol: String, tables: Seq[StandingIndex.Table],
    sidecars: Seq[StandingIndex.Additive]) {
  import StandingIndex._

  private def name(t: Table): String = root + t.suffix
  private def exists(table: String): Boolean = spark.catalog.tableExists(table)
  private def complete: DataFrame = spark.table(name(tables.head))

  /** Replace the index with one built from `batch`. The old generation's
    * tables are DROPped first, so cached plans derived from them
    * cascade-uncache (an overwrite would try to recache them mid-write
    * against the dropped table); its tombstones die with it. Not
    * crash-atomic: a crash after the DROPs leaves no standing index, and a
    * delta refuses the torn catalog. */
  def build(batch: DataFrame): Unit = {
    (tables.map(name) ++ sidecars.map(root + _.suffix))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    Tombstones.drop(spark, root)
    tables.foreach(t => write(t, t.derive(batch), name(t), "overwrite"))
    sidecars.foreach(_.build(batch))
    IngestGuard.write(spark, batch, idCol, root, overwrite = true)
  }

  /** Append `batch`, whose ids must be new: an id already indexed throws
    * (a re-ingest would silently double its rows and every additive
    * sidecar). The exact standing-table probe runs only on a guard bloom
    * hit. On a fresh catalog the first delta bootstraps the index. */
  def delta(batch: DataFrame): Unit = { ingest(batch, replay = false); () }

  /** [[delta]] that skips ids already indexed instead of throwing — the
    * at-least-once form a streaming sink needs, where a redelivered
    * micro-batch must be a no-op. The guard is read once: its blobs serve
    * the replay filter ([[IngestGuard.novel]]), and the novel rows append
    * with no second probe. Returns the guard's (generations, bytes) after
    * the ingest, for the compaction policy ([[compactIfDue]]). */
  def deltaIdempotent(batch: DataFrame): (Long, Long) =
    ingest(batch, replay = true)

  private def ingest(delta: DataFrame, replay: Boolean): (Long, Long) = {
    val stands = standing()
    val guard = if (replay && stands) Some(IngestGuard.read(spark, root)) else None
    val batch = guard.fold(delta)(IngestGuard.novel(_, delta, idCol, complete))
    val before = guard.fold((0L, 0L))(_.size)
    // one pass prices the batch: its row count is the emptiness check and
    // the guard bloom's size (an additive sidecar that aggregates the batch
    // counts it in the same pass). An empty batch writes nothing — no file
    // generation, no sidecar row, no guard blob
    val priced = sidecars.map(_.delta(batch))
    val rows = priced.flatMap(_._1).headOption.getOrElse(batch.count())
    if (rows == 0) return before
    if (!replay && stands)
      IngestGuard.assertDisjoint(spark, root, batch, idCol, complete,
        s"$root delta")
    tables.foreach(t => write(t, t.derive(batch), name(t), "append"))
    priced.foreach(_._2())
    val blob = IngestGuard.appendSized(spark, batch, idCol, root, rows)
    (before._1 + 1, before._2 + blob)
  }

  /** True when every data table stands; false on a fresh catalog, which a
    * delta bootstraps. A missing data table next to standing state (another
    * data table, a sidecar or the guard) is an interrupted compaction swap:
    * roll it forward, or refuse — a delta-only table beside full-corpus
    * state would silently drop or mis-score the standing rows. */
  private def standing(): Boolean = {
    if (!tables.forall(t => exists(name(t)))) recover()
    val missing = tables.map(name).filterNot(exists)
    val state = tables.map(name) ++ sidecars.map(root + _.suffix) :+
      IngestGuard.guardTable(root)
    require(missing.isEmpty || !state.exists(exists),
      s"$root delta refusing to bootstrap: ${missing.mkString(", ")} " +
        s"missing beside ${state.filter(exists).mkString(", ")} and no " +
        "staged copy was found to roll forward — a delta-only table " +
        "against the standing state would silently drop or mis-score the " +
        "standing rows. Rebuild the index (or drop the stale tables) " +
        "before ingesting")
    missing.isEmpty
  }

  /** Tombstone the `idCol` values of `ids` that the index holds and has
    * not already tombstoned; unknown and re-deleted ids are no-ops, so a
    * redelivered takedown changes nothing. Each sidecar then records the
    * victims' correction (BM25's negative stats row). Cost: one
    * column-pruned pass over the id-complete table plus tiny appends —
    * never a data rewrite. Re-ingesting a deleted id is refused (strict)
    * or skipped (idempotent) until compaction. */
  def delete(ids: DataFrame): Unit = {
    require(exists(name(tables.head)),
      s"$root delete: no standing index — build first")
    // lineage-cut before the appends: the victims derive from the
    // tombstone sidecar, and appending to it would invalidate their plan
    val victims = complete.select(col(idCol))
      .join(broadcast(Tombstones.freshOnly(spark, root,
        ids.select(col(idCol).cast("long").as(idCol)).distinct(), idCol)),
        Seq(idCol), "left_semi")
      .distinct().localCheckpoint()
    if (victims.isEmpty) return
    // tombstones FIRST: a crash before a sidecar correction leaves the
    // victims invisible to every probe, with the sidecar stale until a
    // rebuild
    Tombstones.append(spark, root, victims, idCol)
    sidecars.foreach(_.delete(victims))
  }

  /** Rewrite every data table to build-fresh layout without the tombstoned
    * ids, through its layout's crash-recoverable staged swap; then refold
    * the guard to one bloom over the survivors (a deleted id becomes
    * re-ingestable), fold each sidecar, and drop the tombstone sidecar
    * last, so a crash at any step leaves its anti-join a harmless no-op.
    * Queries before and after are row-identical. A family that keeps no
    * guard (the phash table) gets none. */
  def compact(): Unit = {
    recover()
    def live(df: DataFrame) = Tombstones.filter(spark, root, df, idCol)
    tables.foreach { t =>
      val n = name(t)
      t.layout match {
        case Partitioned(by) => Swap.compactPartitioned(spark, n, by, live)
        case Bucketed(buckets, cols @ _*) =>
          // the bucketing hash (Murmur3): one write task, one file per bucket
          Swap.stageThenSwap(spark, n, live(spark.table(n)))((df, staged) =>
            write(t, df.repartition(buckets, cols.map(col): _*), staged,
              "overwrite"))
        case Plain =>
          Swap.stageThenSwap(spark, n, live(spark.table(n)))((df, staged) =>
            write(t, df, staged, "overwrite"))
      }
    }
    if (exists(IngestGuard.guardTable(root)))
      IngestGuard.write(spark, complete.select(col(idCol)), idCol, root,
        overwrite = true)
    sidecars.foreach(_.compact())
    Tombstones.drop(spark, root)
  }

  /** Repair an interrupted compaction swap on every data table: roll a
    * complete staged copy forward where the live table is missing, drop
    * stale staged or retired generations otherwise. Idempotent cheap DDL;
    * true iff a roll-forward restored a missing live table. */
  def recover(): Boolean = tables.map { t =>
    t.layout match {
      case _: Partitioned => Swap.recoverPartitioned(spark, name(t))
      case _ => Swap.recoverUnpartitioned(spark, name(t))
    }
  }.contains(true)

  /** Compaction policy: compact when the guard holds more than
    * `maxBatches` generations or more than `maxSidecarBytes` of blobs
    * (each blob ships into the ingest probe plan as a literal, so the
    * byte total must stay bounded too). Reads k tiny guard rows, never
    * the index; returns whether compaction ran. */
  def compactIfNeeded(maxBatches: Int, maxSidecarBytes: Long): Boolean =
    compactIfDue(IngestGuard.sidecarSize(spark, root), maxBatches,
      maxSidecarBytes)

  /** [[compactIfNeeded]] over an already known guard size. */
  def compactIfDue(size: (Long, Long), maxBatches: Int,
      maxSidecarBytes: Long): Boolean = {
    val due = IngestGuard.due(size, maxBatches, maxSidecarBytes)
    if (due) compact()
    due
  }
}

object StandingIndex {

  /** How a data table is laid out on disk; the layout picks the write and
    * the compaction swap. */
  sealed trait Layout
  /** Bucketed and sorted on `cols`: a keyed probe prunes to its buckets. */
  final case class Bucketed(buckets: Int, cols: String*) extends Layout
  /** One directory per `by` value, one file per value per generation. */
  final case class Partitioned(by: String) extends Layout
  case object Plain extends Layout

  /** A data table `{root}{suffix}` and its rows for a batch. */
  final case class Table(suffix: String, layout: Layout,
      derive: DataFrame => DataFrame)

  /** A sidecar `{root}{suffix}` whose rows add up across generations:
    * a delta appends the batch's rows, a delete the victims' negative
    * rows, and compaction folds them (BM25's `_stats`, fuzzy's
    * `_gramdf`). */
  trait Additive {
    def suffix: String
    /** Write the sidecar for a freshly built index (after the DROP every
      * build runs). */
    def build(batch: DataFrame): Unit
    /** Price a delta batch before any write: the batch's row count when
      * this sidecar counts it in its own pass, and the append to run after
      * the data tables'. */
    def delta(batch: DataFrame): (Option[Long], () => Unit)
    /** Record the correction for `victims` (the deleted ids). */
    def delete(victims: DataFrame): Unit
    /** Fold the sidecar after the data tables' rewrite. */
    def compact(): Unit
  }

  private def write(t: Table, df: DataFrame, table: String,
      mode: String): Unit = t.layout match {
    case Bucketed(buckets, cols @ _*) =>
      df.write.mode(mode).bucketBy(buckets, cols.head, cols.tail: _*)
        .sortBy(cols.head, cols.tail: _*)
        .format("parquet").saveAsTable(table)
    case Partitioned(by) =>
      df.repartition(col(by)) // one file per touched value per generation
        .write.mode(mode).partitionBy(by).format("parquet").saveAsTable(table)
    case Plain =>
      df.write.mode(mode).format("parquet").saveAsTable(table)
  }
}
