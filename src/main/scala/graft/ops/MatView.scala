package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{sum => sumOf, _}

/** Incrementally-maintained MATERIALIZED VIEWS (IVM): standing `GROUP BY
  * keys` answers kept current under inserts AND deletes without
  * re-reading the base table — the additive `_stats` discipline of
  * [[Search]]'s n_docs/sum_dl row, generalized into user-facing views.
  *
  * Each view is a [[View]] value: its table root and group keys, the
  * storage suffix of its kind, the kind's PARTIAL for a batch (one
  * generation of rows), how a delete is recorded, and the read FOLD over
  * the stored generations. Five factories make the five kinds:
  *
  *  - [[sum]] (`_mv`): (keys…, cnt, sum_<c>…) partials; sums must be
  *    DECIMAL/integral so the fold is exact and order-independent.
  *  - [[join]] (`_mv`): [[sum]] over the batch enriched through ONE
  *    broadcast hash join with an immutable dim — Δ(R⋈S) collapses to
  *    ΔR⋈S when S never changes, so maintenance stays |delta|-sized.
  *    Unmatched fact rows drop out of the view but their ids still enter
  *    the guard, so a late dim row never resurrects them.
  *  - [[distinct]] (`_dv`): EXACT COUNT DISTINCT as a refcounted support
  *    set (keys…, value, rc) — refcounts add up under deletes where a
  *    stored ndv cannot (the sketch point on that frontier is
  *    `a10_kmv_distinct`).
  *  - [[minMax]] (`_mm`) and [[topK]] (`_tk`): insert-associative but NOT
  *    delete-additive (evicting the min or rank 1 needs the runner-up,
  *    which only the base rows know). Their rows carry a generation stamp
  *    (gen, reco); `reco` marks a full recompute of its groups, and a
  *    group's rows below its latest reco generation are superseded at
  *    read. A top-k partial is the generation's own top-k per key: any
  *    row of a union's top-k is in its own generation's top-k, so the
  *    partials are a superset of the answer and a delta appends at most
  *    k·|touched keys| rows.
  *
  * Deletes come in two forms. ADDITIVE kinds ([[Additive]]: sum, join,
  * distinct) append the victims' partial with its measure columns
  * negated, and a group whose count folds to 0 vanishes exactly as a
  * recompute would; they also fold Debezium-shaped CDC batches. RECOMPUTE
  * kinds ([[Recompute]]: min/max, top-k) rebuild the affected groups from
  * the SURVIVING base rows (a broadcast semi join on the victims' keys, so
  * a key-partitioned base prunes to the touched partitions) as one reco
  * generation, plus an empty-group marker for groups left with no rows.
  *
  * Every lifecycle operation is written once, over the value:
  * [[View.build]], [[View.delta]], the deletes, [[View.foldBatch]],
  * [[Additive.applyCdc]], [[View.read]] and [[View.compact]]. They keep
  * one set of rules:
  *
  *  - insert idempotence is the [[IngestGuard]] bloom sidecar
  *    `{root}_guard` on a caller-named unique row id. The view stores no
  *    per-row identity, so a bloom suspect cannot be confirmed and is
  *    refused conservatively; deletes trust the caller to deliver each
  *    victim row exactly once;
  *  - streaming folds are idempotent per BATCH ID through the
  *    `{root}_batches` [[Ledger]]: a redelivered bid is skipped whole.
  *    A crash between the append and the ledger row is the single-writer
  *    rebuild scenario every multi-table append shares;
  *  - every write path first rolls an interrupted compaction swap forward
  *    ([[Swap]]) and never bootstraps over a catalog that holds part of a
  *    view (its ledger or guard without the view table) — the
  *    [[StandingIndex]] rule;
  *  - a build replaces the view, its guard and its ledger, so a new
  *    stream's bids start fresh;
  *  - compaction folds the generations to one row per key (per pair for
  *    distinct) through the staged swap, so read cost stays ~|keys|
  *    between maintenance windows. The guard is left as-is: the view
  *    cannot reconstruct its id set, so deleted ids stay refused until a
  *    rebuild.
  *
  * At 100 TB: refresh cost is delta-sized (a batch's partial shuffles
  * |batch| rows at most, map-side combined to |touched keys|), read cost
  * is view-sized (Σ generations, folded by one key shuffle; distinct adds
  * a second, pair-sized one), and only a recompute delete reads the base
  * — key-pruned to the affected groups. */
object MatView {

  /** A view kind over `{root}{suffix}`; see [[MatView]]. */
  sealed abstract class View {
    /** The table root: the view, guard and ledger tables hang off it. */
    def root: String
    /** The group keys. */
    def keys: Seq[String]
    /** The base table's unique row id (the guard's key). */
    protected def idCol: String
    /** The kind's storage suffix. */
    protected def suffix: String

    /** The physical view table. */
    def table: String = root + suffix

    /** A batch's rows at generation `gen` (read only by the stamped
      * kinds; `reco` marks a full recompute of their groups). */
    protected def partial(batch: DataFrame, gen: => Long,
        reco: Boolean): DataFrame

    /** The folded answer over the stored generations. */
    def read(spark: SparkSession): DataFrame

    /** The stored rows compaction swaps in. */
    protected def compacted(spark: SparkSession): DataFrame

    /** Materialize the view over `batch`, replacing any earlier view,
      * guard and ledger. */
    def build(batch: DataFrame): Unit = {
      val spark = batch.sparkSession
      Seq(table, Ledger.table(root))
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      commit(batch, partial(batch, 0L, reco = true), "overwrite")
    }

    /** Incremental insert maintenance: append the batch's partial, whose
      * ids must be new — a replayed row would silently double its group,
      * so a guard suspect is refused. An empty batch writes nothing. */
    def delta(batch: DataFrame): Unit = {
      val spark = batch.sparkSession
      if (batch.isEmpty) return
      need(spark, "delta")
      IngestGuard.suspectPredicate(spark, root, idCol).foreach { hit =>
        require(batch.select(col(idCol)).distinct().filter(hit)
          .take(1).isEmpty,
          s"$table delta refused: the batch contains id(s) the guard has " +
            "(possibly) already seen; the view stores no row identity to " +
            "confirm, so bloom suspects are conservatively refused — " +
            "dedupe the feed or rebuild the view")
      }
      commit(batch, partial(batch, nextGen(spark), reco = false), "append")
    }

    /** Streaming maintenance: fold micro-batch `bid` once. A redelivered
      * bid is skipped; on a fresh catalog the first batch builds the
      * view. */
    def foldBatch(bid: Long, batch: DataFrame): Unit = {
      val spark = batch.sparkSession
      if (!standing(spark)) build(batch)
      else if (Ledger.has(spark, root, bid)) return
      else if (!batch.isEmpty)
        commit(batch, partial(batch, nextGen(spark), reco = false), "append")
      Ledger.write(spark, root, bid)
    }

    /** Fold the generations physically through the crash-recoverable
      * staged swap; the read answer does not move. */
    def compact(spark: SparkSession): Unit = {
      need(spark, "compact")
      Swap.stageThenSwap(spark, table, compacted(spark))(
        (df, staged) => save(df, staged, "overwrite"))
    }

    /** Append `rows` to the view. */
    protected def append(rows: DataFrame): Unit = save(rows, table, "append")

    /** Write a batch's rows, then its guard blob. */
    private def commit(batch: DataFrame, rows: DataFrame,
        mode: String): Unit = {
      save(rows, table, mode)
      IngestGuard.write(batch.sparkSession, batch, idCol, root,
        overwrite = mode == "overwrite")
    }

    /** True when the view table stands, after rolling an interrupted
      * compaction swap forward; false on a fresh catalog. A ledger or
      * guard without the view table and no staged copy is a torn catalog:
      * refuse rather than bootstrap a batch-only view over it. */
    private def standing(spark: SparkSession): Boolean = {
      Swap.recoverUnpartitioned(spark, table)
      val stands = spark.catalog.tableExists(table)
      val state = Seq(Ledger.table(root), IngestGuard.guardTable(root))
        .filter(spark.catalog.tableExists)
      require(stands || state.isEmpty,
        s"$table refusing to bootstrap: missing beside " +
          s"${state.mkString(", ")} and no staged copy was found to roll " +
          "forward — a batch-only view would silently drop the standing " +
          "groups. Rebuild the view (or drop the stale tables) first")
      stands
    }

    /** Require a standing view for a maintenance operation. */
    protected def need(spark: SparkSession, what: String): Unit =
      require(standing(spark),
        s"MatView.$what needs a standing view: $table not found — run " +
          "build first")

    /** Next generation stamp: max standing gen + 1, one column-pruned
      * aggregate over the view (never the base); single-writer. */
    protected def nextGen(spark: SparkSession): Long =
      spark.table(table).agg(coalesce(max(col("gen")), lit(0L)))
        .head().getLong(0) + 1
  }

  /** A kind whose rows add up: a generation is (cells…, counter,
    * sum_<c>…), `enrich` runs on every batch before the partial, and
    * `finish` turns the combined cells into the answer. */
  final class Additive private[MatView] (val root: String,
      protected val suffix: String, val keys: Seq[String],
      protected val idCol: String, cells: Seq[String], counter: String,
      sums: Seq[String], enrich: DataFrame => DataFrame,
      finish: DataFrame => DataFrame) extends View {
    private val measures = counter +: sums.map(c => s"sum_$c")

    protected def partial(batch: DataFrame, gen: => Long,
        reco: Boolean): DataFrame =
      enrich(batch).groupBy(cells.map(col): _*)
        .agg(count(lit(1)).as(counter),
          sums.map(c => sumOf(col(c)).as(s"sum_$c")): _*)

    private def negated(batch: DataFrame): DataFrame =
      partial(batch, 0L, reco = false).select(
        cells.map(col) ++ measures.map(m => (-col(m)).as(m)): _*)

    /** Sum each cell's generations, dropping cells whose count folds
      * to 0. */
    private def combined(spark: SparkSession): DataFrame =
      spark.table(table).groupBy(cells.map(col): _*)
        .agg(sumOf(col(counter)).as(counter),
          measures.tail.map(m => sumOf(col(m)).as(m)): _*)
        .filter(col(counter) > 0)

    def read(spark: SparkSession): DataFrame = finish(combined(spark))

    protected def compacted(spark: SparkSession): DataFrame =
      combined(spark)

    /** Incremental delete maintenance: append the victims' (the full base
      * rows, delivered once) negated partial. */
    def delete(victims: DataFrame): Unit = {
      if (victims.isEmpty) return
      need(victims.sparkSession, "delete")
      append(negated(victims))
    }

    /** CDC apply — one change-feed batch (an `op` column, 'I' inserts and
      * 'D' deletes carrying FULL row images, the producer's before-image
      * contract) folds as ONE generation, the inserts' partial plus the
      * deletes' negated partial, so a batch never half-applies across
      * ops. A redelivered bid is a no-op. */
    def applyCdc(bid: Long, changes: DataFrame): Unit = {
      val spark = changes.sparkSession
      need(spark, "applyCdc")
      if (Ledger.has(spark, root, bid)) return
      append(partial(changes.filter(col("op") === "I"), 0L, reco = false)
        .unionByName(negated(changes.filter(col("op") === "D"))))
      Ledger.write(spark, root, bid)
    }
  }

  /** A kind whose deletes recompute: `unstamped` is a batch's rows before
    * the generation stamp, and `fold` folds the current generations (at
    * or above each group's latest reco generation) into the answer. */
  final class Recompute private[MatView] (val root: String,
      protected val suffix: String, val keys: Seq[String],
      protected val idCol: String, unstamped: DataFrame => DataFrame,
      fold: DataFrame => DataFrame) extends View {

    private def stamp(rows: DataFrame, gen: Long, reco: Boolean) =
      rows.withColumn("gen", lit(gen)).withColumn("reco", lit(reco))

    protected def partial(batch: DataFrame, gen: => Long,
        reco: Boolean): DataFrame = stamp(unstamped(batch), gen, reco)

    def read(spark: SparkSession): DataFrame = {
      val rmax = max(when(col("reco"), col("gen")))
        .over(Window.partitionBy(keys.map(col): _*))
      fold(spark.table(table).withColumn("_rmax", rmax)
        .filter(col("gen") >= coalesce(col("_rmax"), lit(Long.MinValue))))
    }

    /** The answer in the stored layout, as one reco generation at 0. */
    protected def compacted(spark: SparkSession): DataFrame = {
      val layout = spark.table(table).columns.toSeq
        .filterNot(Set("gen", "reco")).map(col)
      stamp(read(spark).select(layout: _*), 0L, reco = true)
    }

    /** Incremental delete maintenance: recompute the victims' groups from
      * `survivors` (the base AFTER the delete) as one reco generation that
      * supersedes their history. A group left with no rows gets a marker
      * row (min/max's `cnt` reads 0, every other column null) that both
      * hides it and supersedes its history, so a later delta folds
      * against a clean slate. Unaffected groups are never touched. */
    def delete(victims: DataFrame, survivors: DataFrame): Unit = {
      val spark = victims.sparkSession
      if (victims.isEmpty) return
      need(spark, "delete")
      val affected = victims.select(keys.map(col): _*).distinct()
        .localCheckpoint()
      val g = nextGen(spark)
      val reco = partial(
          survivors.join(broadcast(affected), keys, "left_semi"), g,
          reco = true)
        .localCheckpoint() // lineage cut: derived pre-append, written below
      val empty = reco.schema.filterNot(f =>
          (keys ++ Seq("gen", "reco")).contains(f.name))
        .map(f => (if (f.name == "cnt") lit(0L) else lit(null).cast(f.dataType))
          .as(f.name))
      val gone = affected
        .join(reco.select(keys.map(col): _*), keys, "left_anti")
      append(reco.unionByName(
        stamp(gone.select(keys.map(col) ++ empty: _*), g, reco = true)))
    }
  }

  /** A standing sum view: per `keys`, the row count `cnt` and `sum_<c>`
    * for each of `sums` (DECIMAL or integral columns: an exact additive
    * fold). `idCol` is the base table's unique row id (the guard). */
  def sum(root: String, keys: Seq[String], sums: Seq[String],
      idCol: String): Additive =
    new Additive(root, "_mv", keys, idCol, keys, "cnt", sums, identity,
      identity)

  /** A standing `fact ⋈ dim GROUP BY keys` sum view (keys and sums from
    * either side); every fact batch enriches through the broadcast `dim`,
    * which must stay unchanged for the view's lifetime (a dim change is a
    * rebuild). The guard is keyed on the FACT's row id. */
  def join(root: String, dim: DataFrame, joinKeys: Seq[String],
      keys: Seq[String], sums: Seq[String], idCol: String): Additive =
    new Additive(root, "_mv", keys, idCol, keys, "cnt", sums,
      _.join(broadcast(dim), joinKeys), identity)

  /** A standing EXACT COUNT DISTINCT view: per `keys`, the number `ndv` of
    * distinct `valueCol` values and the row count `cnt`. Storage is
    * O(distinct (key, value) pairs) — the price of exactness under
    * deletes. */
  def distinct(root: String, keys: Seq[String], valueCol: String,
      idCol: String): Additive =
    new Additive(root, "_dv", keys, idCol, keys :+ valueCol, "rc", Nil,
      identity, _.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("ndv"), sumOf(col("rc")).as("cnt")))

  /** A standing MIN/MAX view: per `keys`, `cnt` and `min_<c>`/`max_<c>`
    * for each of `cols` (any orderable type: min/max never round). The
    * read is one per-key window plus one key shuffle. */
  def minMax(root: String, keys: Seq[String], cols: Seq[String],
      idCol: String): Recompute = {
    def aggs(cnt: Column, lo: String => Column, hi: String => Column) =
      cnt.as("cnt") +: cols.flatMap(c =>
        Seq(lo(c).as(s"min_$c"), hi(c).as(s"max_$c")))
    val part = aggs(count(lit(1)), c => min(col(c)), c => max(col(c)))
    val fold = aggs(sumOf(col("cnt")), c => min(col(s"min_$c")),
      c => max(col(s"max_$c")))
    new Recompute(root, "_mm", keys, idCol,
      _.groupBy(keys.map(col): _*).agg(part.head, part.tail: _*),
      _.groupBy(keys.map(col): _*).agg(fold.head, fold.tail: _*)
        .filter(col("cnt") > 0))
  }

  /** A standing TOP-K view: per `keys`, the `k` highest-`ord` rows (their
    * `idCol` and `ord`, id ascending on ties — deterministic under
    * replays), read with their rank `rk`. */
  def topK(root: String, keys: Seq[String], ord: String, idCol: String,
      k: Int): Recompute = {
    val rank = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(ord).desc, col(idCol).asc)
    def top(df: DataFrame) =
      df.withColumn("rk", row_number().over(rank)).filter(col("rk") <= k)
    val row = keys.map(col) :+ col(idCol) :+ col(ord)
    new Recompute(root, "_tk", keys, idCol, top(_).select(row: _*),
      df => top(df.filter(col(idCol).isNotNull)).select(row :+ col("rk"): _*))
  }

  /** The batch-id ledger `{root}_batches` of the streaming folds (the
    * views' and [[Scd.foldScd2Batch]]'s): one row per folded bid. */
  private[ops] object Ledger {
    def table(root: String): String = s"${root}_batches"

    def has(spark: SparkSession, root: String, bid: Long): Boolean =
      spark.catalog.tableExists(table(root)) &&
        spark.table(table(root)).filter(col("bid") === bid).take(1).nonEmpty

    def write(spark: SparkSession, root: String, bid: Long): Unit = {
      import spark.implicits._
      save(Seq(bid).toDF("bid").coalesce(1), table(root), "append")
    }
  }

  private def save(df: DataFrame, table: String, mode: String): Unit =
    df.write.mode(mode).format("parquet").saveAsTable(table)
}
