package graft.streaming

import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import org.apache.spark.sql.graft.GraftSql
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.graph.GraphOps
import graft.ops.EdgeRules

/** Output row of the stateful per-user counter. */
case class UserCount(user_id: Long, n: Long)

/** Output row of the incremental sequence packer. */
case class PackSlot(doc_id: Long, lang: String, shard: Long,
    n_tokens: Long, seq_id: Long, seq_offset: Long)

/** Streaming funnel state: first qualifying stage times per user. */
case class FunnelState(tView: Option[Long], tClick: Option[Long],
    tPurchase: Option[Long])

/** Output row of the streaming funnel: a user's current furthest stage. */
case class UserStage(user_id: Long, stage: String)

/** Structured Streaming surface: the reference's only "incremental" behavior
  * is per-insert edge maintenance (student_service.py:62-106) and the
  * startup backfill thread (src/main.py:25-35); here both become standard
  * Spark streaming patterns:
  *   - windowed event aggregation with a watermark (the extension surface
  *     BASELINE.json asks for, exercised on the `events` table), and
  *   - onboarding-as-stream: foreachBatch running the incremental edge
  *     join per micro-batch against the persisted students table.
  */
object Streams {

  /** RocksDB state-store provider (bundled with Spark — rocksdbjni ships in
    * the distribution). */
  val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Switch this session's NEW streaming queries to the RocksDB state
    * store with changelog checkpointing — the 100×-scale posture for the
    * stateful streams in this object (dedup keys, funnel states, packing
    * cursors, interval-join buffers). The default HDFS-backed store holds
    * every key in executor heap; RocksDB spills state to local SSD, keeps
    * the JVM heap flat, and changelog checkpointing uploads per-batch
    * deltas instead of full snapshots. Correctness is provider-independent
    * (`StatefulStreamSpec` runs the stream==batch checks under both).
    * Returns an undo closure restoring the prior conf (tests use it). */
  def useRocksDbStateStore(spark: SparkSession): () => Unit = {
    val pKey = "spark.sql.streaming.stateStore.providerClass"
    val cKey = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    val prior = Seq(pKey, cKey).map(k => k -> spark.conf.getOption(k))
    spark.conf.set(pKey, RocksDbProvider)
    spark.conf.set(cKey, "true")
    () => prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Stream/batch-shared transform: tumbling 1-hour counts per event type.
    * In streaming mode a 2-hour watermark bounds state; the same call works
    * on a batch DataFrame (watermark applies only when streaming). */
  def windowedEventCounts(events: DataFrame): DataFrame = {
    val withWm =
      if (events.isStreaming) events.withWatermark("ts", "2 hours") else events
    withWm
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"), col("n"), col("sum_value"))
  }

  /** File-source stream over an events directory → in-memory sink (complete
    * mode, suitable for tests/demos; swap format for kafka/delta in prod). */
  def startWindowedCounts(
      spark: SparkSession, dir: String, schema: StructType,
      queryName: String): StreamingQuery =
    windowedEventCounts(
      spark.readStream.schema(schema).parquet(dir))
      .writeStream.outputMode("complete")
      .format("memory").queryName(queryName)
      .start()

  /** Sliding-window counts (1 h window, 15 min slide): each event expands
    * to window/slide = 4 overlapping windows via Spark's window() generator
    * — a bounded 4× row fan-out feeding the hash aggregate, no additional
    * shuffle versus the tumbling form. Same call on stream (watermarked)
    * and batch. */
  def slidingEventCounts(events: DataFrame): DataFrame = {
    val withWm =
      if (events.isStreaming) events.withWatermark("ts", "2 hours") else events
    withWm
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("event_type"), col("n"))
  }

  /** Stream-static enrichment join: the event stream joined to a STATIC
    * customer dimension, then windowed per-nation counts. This is the
    * zero-state streaming join type — the static side needs no watermark
    * and the join buffers nothing; each micro-batch hash-joins against the
    * dimension as-of that batch (at scale: a broadcast of the dim per
    * batch, the cheapest streaming join there is). The same call on a
    * batch DataFrame is the DuckDB-oracled `stream_enrich` form;
    * stream==batch parity is spec-proven in StreamingSpec. */
  def enrichedEventCounts(events: DataFrame, customer: DataFrame): DataFrame = {
    val withWm =
      if (events.isStreaming) events.withWatermark("ts", "2 hours") else events
    val dim = customer.select(col("c_custkey").as("user_id"),
      col("c_nationkey").as("nation"))
    withWm.join(dim, "user_id")
      .groupBy(window(col("ts"), "1 hour"), col("nation"))
      .agg(count(lit(1)).as("n"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("nation"), col("n"))
  }

  /** Streaming near-dup flagging: each incoming document's LSH band keys
    * (computed map-side by the native `minhash_sigs` expression — no
    * explode-shuffle, no aggregation) semi-joined against the standing
    * index's band-key set. Completely STATELESS — the stream accumulates
    * nothing across micro-batches, so it runs forever at ingest rate; the
    * exact Jaccard verdict happens downstream on the flagged sliver
    * (Dedup.incrementalNearDup's batch verify). Emits one row per
    * colliding band: (doc_id, b, k). Same call works on batch input. */
  def nearDupCandidates(docs: DataFrame, index: DataFrame): DataFrame = {
    val indexKeys = graft.ops.Dedup.lshBands(index)
      .select(col("b"), col("k")).distinct()
    graft.ops.Dedup.lshBands(docs)
      .join(indexKeys, Seq("b", "k"), "left_semi")
      .select(col("doc_id"), col("b"), col("k"))
  }

  /** Native session windows (Spark's `session_window`): per-user sessions
    * that merge while consecutive events fall strictly inside the gap
    * (split at >= gap — the built-in's boundary convention; the
    * window-function form `Windows.sessionize` keeps the reference
    * analysis' > gap split, each oracled under its own convention). This
    * is the streaming-native sessionization: session state MERGES across
    * micro-batches and the watermark expires closed sessions; the same
    * call runs on batch input. At scale: state per user ≈ open sessions
    * only, partitioned by the grouping key. */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes"): DataFrame = {
    val withWm =
      if (events.isStreaming) events.withWatermark("ts", "2 hours") else events
    withWm
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("session_start"),
        date_format(col("session_window.end"), "yyyy-MM-dd HH:mm:ss")
          .as("session_end"),
        col("n_events"))
  }

  /** Custom streaming state via flatMapGroupsWithState: a running per-user
    * event counter (the KeyValueGroupedDataset state API the north star
    * calls for). Works on both batch and streaming inputs; in streaming
    * each micro-batch emits the updated running count per touched user. */
  def runningUserCounts(events: DataFrame): org.apache.spark.sql.Dataset[UserCount] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id")).as[Long]
      .groupByKey(identity)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Long], state: GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + rows.size
          state.update(n)
          Iterator(UserCount(uid, n))
      }
  }

  /** Streaming dedup — the training-data pipeline's exact-dedup on a live
    * feed: first event per (user_id, event_type) key. Streaming uses
    * `dropDuplicatesWithinWatermark`, which BOUNDS state by event time (a
    * plain streaming dropDuplicates keeps every key forever and OOMs on an
    * unbounded stream); batch mode is the ordinary dropDuplicates. Output
    * is projected to the key columns so stream and batch agree exactly
    * (which duplicate's payload survives is engine-dependent). */
  def dedupEvents(events: DataFrame): DataFrame = {
    val deduped =
      if (events.isStreaming)
        events.withWatermark("ts", "2 hours")
          .dropDuplicatesWithinWatermark("user_id", "event_type")
      else events.dropDuplicates("user_id", "event_type")
    deduped.select(col("user_id"), col("event_type"))
  }

  /** Stream-stream interval join: purchases within 1 hour after a click by
    * the same user. Both sides carry watermarks and the join condition has
    * the time-range bound Structured Streaming needs to expire state; the
    * same call runs on batch DataFrames (watermarks no-op). At scale this
    * is the attribution-join shape: state per side ≈ watermark horizon ×
    * arrival rate, partitioned by user_id.
    *
    * `joinType` "left_outer" gives the unattributed-clicks variant — in
    * streaming mode the null-padded row for a never-matched click emits
    * once the watermark passes its interval (so the tail of a finite test
    * stream never emits; the batch form is what the oracle checks), with
    * the same bounded state. */
  def purchasesAfterClicks(
      clicks: DataFrame, purchases: DataFrame,
      joinType: String = "inner"): DataFrame = {
    def wm(df: DataFrame) =
      if (df.isStreaming) df.withWatermark("ts", "2 hours") else df
    val c = wm(clicks).filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
    val p = wm(purchases).filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
    c.join(p,
      col("user_id") === col("p_user") &&
      col("purchase_ts") >= col("click_ts") &&
      col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"),
      joinType)
      .select(col("user_id"), col("click_id"), col("purchase_id"))
  }

  /** Incremental sequence packing: the streaming form of
    * [[graft.ops.Packing.packSequences]] for a continuously-ingesting
    * corpus. State per (lang, shard) key is ONE long — the running token
    * count — so state size is the shard count, not the corpus. As long
    * as micro-batch boundaries respect doc_id order within a shard
    * (true for an id-ordered ingest feed), the assignments are
    * bit-identical to re-running the batch packer over the full corpus —
    * spec-proven — i.e. a restart never re-slots already-packed docs.
    * Rows inside one micro-batch group are sorted by doc_id before
    * folding (the group iterator's order is not otherwise guaranteed);
    * per-group per-batch volume is bounded by the ingest rate over one
    * trigger, not the corpus. */
  def incrementalPacking(docs: DataFrame,
      budget: Int = graft.ops.Packing.SeqTokens,
      shards: Int = graft.ops.Packing.Shards)
      : org.apache.spark.sql.Dataset[PackSlot] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(
        col("doc_id"), col("lang"),
        pmod(graft.ops.Sampling.bucket256("pack", col("doc_id")), lit(shards))
          .as("shard"),
        size(graft.ops.Dedup.words(col("text"))).cast("bigint").as("n_tokens"))
      .as[(Long, String, Long, Long)]
      .groupByKey { case (_, lang, shard, _) => (lang, shard) }
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: (String, Long), rows: Iterator[(Long, String, Long, Long)],
         state: GroupState[Long]) =>
          var cum = state.getOption.getOrElse(0L)
          val out = rows.toSeq.sortBy(_._1).map { case (id, lang, shard, n) =>
            val slot = PackSlot(id, lang, shard, n,
              cum / budget, cum % budget)
            cum += n
            slot
          }
          state.update(cum)
          out.iterator
      }
  }

  /** Streaming funnel: per-user view→click→purchase progression as live
    * state — the incremental form of [[graft.ops.Windows.funnelStages]].
    * State per user is three optional epoch-millis (fixed size, corpus-
    * independent); each micro-batch folds its events in timestamp order
    * and emits the user's current furthest stage. Batch-boundary
    * invariant (spec-proven): as long as batches respect event-time
    * order per user, the final stages equal the batch funnel exactly —
    * a restart mid-stream never corrupts a conversion.
    *
    * The conversion windows mirror the batch form: a stage only counts
    * within [[graft.ops.Windows.FunnelWindow]] (1 day) of the previous
    * stage's time. */
  def funnelStages(events: DataFrame): org.apache.spark.sql.Dataset[UserStage] = {
    val spark = events.sparkSession
    import spark.implicits._
    // epoch MICROseconds: timestamps carry micros precision, and the batch
    // form compares raw timestamps — millis here would diverge on
    // sub-millisecond gaps
    val windowMs = 24L * 3600 * 1000 * 1000
    events.select(col("user_id"), col("event_type"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
      .as[(Long, String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, String, Long)],
         state: GroupState[FunnelState]) =>
          var st = state.getOption.getOrElse(FunnelState(None, None, None))
          rows.toSeq.sortBy(_._3).foreach { case (_, evType, ms) =>
            st = (evType, st) match {
              case ("view", FunnelState(None, _, _)) =>
                st.copy(tView = Some(ms))
              case ("click", FunnelState(Some(tv), None, _))
                  if ms > tv && ms <= tv + windowMs =>
                st.copy(tClick = Some(ms))
              case ("purchase", FunnelState(_, Some(tc), None))
                  if ms > tc && ms <= tc + windowMs =>
                st.copy(tPurchase = Some(ms))
              case _ => st
            }
          }
          state.update(st)
          val stage =
            if (st.tPurchase.isDefined) "3_purchase"
            else if (st.tClick.isDefined) "2_click"
            else if (st.tView.isDefined) "1_view"
            else "0_none"
          Iterator(UserStage(uid, stage))
      }
  }

  /** The one micro-batch loop: starts `feed` as an append-mode
    * `foreachBatch` query that hands each micro-batch and its id to
    * `sink`. Every job a batch runs carries the description `graft stream
    * <name>: batch <id>` ([[graft.graph.GraphOps.described]]), so an event
    * log attributes a drain's jobs to it. Sinks write from the stream's
    * cloned session, whose table relation cache is separate from the
    * caller's (`feed.sparkSession`); after each batch the caller's cached
    * relations are dropped, so a caller that read a table before the drain
    * reads what the sink wrote, not the pre-drain file listing. */
  def drain(feed: DataFrame, name: String)(
      sink: (DataFrame, Long) => Unit): StreamingQuery = {
    val caller = feed.sparkSession
    feed.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        try GraphOps.described(batch.sparkSession,
          s"graft stream $name: batch $id")(sink(batch, id))
        finally GraftSql.invalidateCachedTables(caller)
      }
      .outputMode("append")
      .start()
  }

  /** Replays `parts` as a bounded file-source stream — each part one
    * parquet file, one file per micro-batch, in order — through the query
    * `start` builds on it; drains the query, stops it (also when a batch
    * fails) and deletes the feed directory. */
  def replay(spark: SparkSession, parts: Seq[DataFrame])(
      start: DataFrame => StreamingQuery): Unit = {
    val root = Files.createTempDirectory("graft-feed")
    val feed = root.resolve("in").toString
    try {
      parts.foreach(_.repartition(1).write.mode("append").parquet(feed))
      val q = start(spark.readStream.schema(parts.head.schema)
        .option("maxFilesPerTrigger", 1).parquet(feed))
      try q.processAllAvailable() finally q.stop()
    } finally FileUtils.deleteDirectory(root.toFile)
  }

  /** Onboarding-as-stream: each micro-batch of new students is joined
    * against the existing students table with the incremental edge rules
    * (EP1 step c) and the results are handed to `sink` (in production an
    * append to the edges table — kept injectable for tests). */
  def incrementalIngest(
      spark: SparkSession, newStudents: DataFrame, existing: DataFrame,
      sink: (DataFrame, Long) => Unit): StreamingQuery =
    drain(newStudents, "incrementalIngest") { (batch, id) =>
      sink(EdgeRules.incrementalEdges(existing, batch), id)
    }

  /** Streaming maintenance of the PARTITIONED standing adjacency. Each
    * micro-batch of onboarded students is folded one student at a time in
    * id order (onboarding assigns MAX+1 ids, so arrival order IS id
    * order): the J5 one-vs-all incremental edges against the CURRENT
    * corpus table, then [[graft.graph.GraphOps.adjacencyApplyDelta]]'s
    * bucket-pruned slice rewrite, then an id-guarded append of the
    * student to the corpus table (the guard makes an at-least-once replay
    * a no-op on the corpus; the apply is replay-idempotent by
    * construction — same slices, same partitions). Per-batch cost: one
    * broadcast pass over the corpus per student + touched-bucket
    * rewrites — never a full backfill, never a full table rewrite. The
    * per-batch id collect is batch-sized, not corpus-sized. */
  def incrementalAdjacencyMaintenance(newStudents: DataFrame,
      adjTable: String, corpusTable: String): StreamingQuery =
    drain(newStudents, "incrementalAdjacencyMaintenance") { (batch, _) =>
      val spark = batch.sparkSession
      val b = batch.localCheckpoint()
      val ids = b.select(col("id")).collect().map(_.getLong(0)).sorted
      for (id <- ids) {
        val row = b.filter(col("id") === id)
        val corpus = spark.table(corpusTable)
        val edges = EdgeRules.incrementalEdges(corpus, row)
          .select(col("src"), col("dst"))
        GraphOps.adjacencyApplyDelta(spark, adjTable, edges, id)
        row.join(corpus.select(col("id")), Seq("id"), "left_anti")
          .localCheckpoint()
          .write.mode("append").saveAsTable(corpusTable)
      }
    }

  /** Streaming ingest into the standing BM25 index — the continuous form
    * of [[graft.ops.Search.indexDelta]] through
    * [[graft.ops.Search.streamedBatch]]: the IDEMPOTENT ingest variant,
    * because `foreachBatch` is at-least-once (a replayed micro-batch must
    * be a no-op), followed by the [[graft.ops.Search.compactIfNeeded]]
    * policy, ON by default (a long-running stream would otherwise accrete
    * one guard blob + one file generation per micro-batch forever; pass
    * `maxBatches = 0` to opt out). After the stream drains, the index
    * answers queries identically to a one-shot
    * [[graft.ops.Search.buildIndex]] over the same corpus — stream==batch
    * gated in StatefulStreamSpec. */
  def incrementalIndexing(newDocs: DataFrame, table: String,
      maxBatches: Int = 16): StreamingQuery =
    drain(newDocs, "incrementalIndexing") { (batch, _) =>
      graft.ops.Search.streamedBatch(table, batch, maxBatches)
    }

  /** Streaming DELETION from a standing index — the takedown feed
    * (right-to-erasure ids arriving continuously): each micro-batch
    * applies the family's tombstone delete (`delete` is the family entry
    * point — [[graft.ops.Search.indexDelete]],
    * [[graft.ops.Similarity.ivfIndexDelete]], or
    * [[graft.ops.FuzzySearch.indexDelete]], partially applied to the
    * table). At-least-once safety needs NO extra replay filter here:
    * [[graft.ops.Tombstones.freshOnly]] makes a re-delivered victim a
    * no-op, including the BM25 negative stats row and the fuzzy
    * advisory-df correction. Replay is spec-gated in `IndexDeleteSpec`
    * with a feed that delivers the same victim file twice. */
  def incrementalDeletion(victimIds: DataFrame,
      delete: DataFrame => Unit): StreamingQuery =
    drain(victimIds, "incrementalDeletion")((batch, _) => delete(batch))

  /** Streaming corpus curation — per micro-batch, keep-first exact dedup
    * WITHIN the batch (min doc_id per content hash), an anti-join against
    * the STANDING curated corpus's hashes (re-read per batch — at scale,
    * the [[graft.ops.DedupIndex]] bucketed table instead of a raw
    * re-read), then the quality gate, then append. With arrival order
    * following doc_id, the final curated set equals the batch keep-first
    * dedup ∩ quality keep — stream==batch gated in `StatefulStreamSpec`. */
  def incrementalCuration(newDocs: DataFrame,
      curatedDir: String): StreamingQuery =
    drain(newDocs, "incrementalCuration") { (batch, _) =>
      val spark = batch.sparkSession
      val hashed = batch.withColumn("h",
        md5(graft.ops.Dedup.normText(col("text")).cast("binary")))
      val firstInBatch = hashed
        .groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
      // only the batch-0 missing-directory case may fall back to an
      // empty standing set — a transient read failure must FAIL the
      // batch, or previously-curated hashes get re-admitted silently.
      // The probe goes through the Hadoop FileSystem of the path (HDFS/
      // S3/local alike): a driver-local java.io.File check is always
      // false on remote stores, which would silently re-admit every
      // previously-curated hash — a correctness bug only visible off
      // the laptop. The explicit read schema covers the other edge: a
      // first batch keeping ZERO docs writes a parquet dir with no data
      // files, which would fail schema inference on the next batch.
      val hPath = new org.apache.hadoop.fs.Path(curatedDir)
      val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val standingSchema = StructType(Seq(
        org.apache.spark.sql.types.StructField(
          "h", org.apache.spark.sql.types.StringType)))
      val standing =
        if (!fs.exists(hPath))
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            standingSchema)
        else spark.read.schema(standingSchema).parquet(curatedDir)
      val novel = hashed
        .join(firstInBatch, Seq("h", "doc_id"), "left_semi")
        .join(standing, Seq("h"), "left_anti")
      val kept = novel.join(
        graft.ops.TextAnalysis.quality(novel.drop("h"))
          .filter(col("quality") === "keep").select(col("doc_id")),
        Seq("doc_id"), "left_semi")
      kept.write.mode("append").parquet(curatedDir)
    }
}
