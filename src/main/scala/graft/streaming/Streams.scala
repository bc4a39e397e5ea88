package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

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

  /** Onboarding-as-stream: each micro-batch of new students is joined
    * against the existing students table with the incremental edge rules
    * (EP1 step c) and the results are handed to `sink` (in production an
    * append to the edges table — kept injectable for tests). */
  def incrementalIngest(
      spark: SparkSession, newStudents: DataFrame, existing: DataFrame,
      sink: (DataFrame, Long) => Unit): StreamingQuery =
    newStudents.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        sink(EdgeRules.incrementalEdges(existing, batch), id)
      }
      .outputMode("append")
      .start()

  /** Streaming maintenance of the PARTITIONED standing adjacency — the
    * graph layout's member of the streaming index-ingest family (the
    * eighth standing layout to gain a streaming twin). Each micro-batch
    * of onboarded students is folded one student at a time in id order
    * (onboarding assigns MAX+1 ids, so arrival order IS id order): the
    * J5 one-vs-all incremental edges against the CURRENT corpus table,
    * then [[graft.graph.GraphOps.adjacencyApplyDelta]]'s bucket-pruned
    * slice rewrite, then an id-guarded append of the student to the
    * corpus table (the guard makes an at-least-once replay a no-op on
    * the corpus; the apply is replay-idempotent by construction — same
    * slices, same partitions). Per-batch cost: one broadcast pass over
    * the corpus per student + touched-bucket rewrites — never a full
    * backfill, never a full table rewrite. A drained stream serves
    * walks identically to a from-scratch rebuild over the post-ingest
    * corpus (stream==batch gated by the entry row's from-scratch
    * oracle). The per-batch id collect is batch-sized (onboarding
    * control rows), not corpus-sized. */
  def incrementalAdjacencyMaintenance(newStudents: DataFrame,
      adjTable: String, corpusTable: String): StreamingQuery =
    newStudents.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val b = batch.localCheckpoint()
        val ids = b.select(col("id")).collect().map(_.getLong(0)).sorted
        for (id <- ids) {
          val row = b.filter(col("id") === id)
          val corpus = spark.table(corpusTable)
          val edges = EdgeRules.incrementalEdges(corpus, row)
            .select(col("src"), col("dst"))
          graft.graph.GraphOps.adjacencyApplyDelta(spark, adjTable,
            edges, id)
          row.join(corpus.select(col("id")), Seq("id"), "left_anti")
            .localCheckpoint()
            .write.mode("append").saveAsTable(corpusTable)
        }
        ()
      }
      .outputMode("append")
      .start()

  /** Streaming ingest into the standing BM25 index — the continuous form
    * of [[graft.ops.Search.indexDelta]]: each micro-batch's postings are
    * derived from the batch alone and appended bucketed; corpus stats and
    * the disjointness-guard bloom each gain one additive row per batch.
    * Uses the IDEMPOTENT ingest variant because foreachBatch is
    * at-least-once: a replayed micro-batch (crash between append and
    * checkpoint commit) must be a no-op, not a crash loop and not a
    * double-count. After the stream drains, the index answers queries
    * identically to a one-shot [[graft.ops.Search.buildIndex]] over the
    * same corpus — stream==batch gated in StatefulStreamSpec. At scale:
    * per-batch cost is batch-proportional (the guard's contract), and
    * [[graft.ops.Search.compactIndex]] is the scheduled companion that
    * folds the accumulated per-batch file generations back down — the
    * [[graft.ops.Search.compactIfNeeded]] policy runs after each ingest
    * ([[graft.ops.Search.streamedBatch]]: decided from the guard blobs
    * the replay filter read, so a batch reads the guard once),
    * ON by default (a long-running stream would otherwise accrete one
    * guard blob + one file generation per micro-batch forever; pass
    * `maxBatches = 0` to opt out) (single-writer assumption: the swap
    * must not race a concurrent writer; readers between micro-batches
    * see either generation, both correct). Micro-batches write from the
    * stream's cloned session, so after each one the caller's session
    * (`newDocs.sparkSession`) refreshes the index tables it may already
    * have read — otherwise it keeps serving the pre-drain listing. */
  def incrementalIndexing(newDocs: DataFrame, table: String,
      maxBatches: Int = 16): StreamingQuery = {
    val caller = newDocs.sparkSession
    newDocs.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.ops.Search.streamedBatch(table, batch, maxBatches)
        Seq(s"${table}_postings", s"${table}_stats")
          .filter(caller.catalog.tableExists)
          .foreach(caller.catalog.refreshTable)
      }
      .outputMode("append")
      .start()
  }

  /** Streaming ingest into the standing q-gram FUZZY index —
    * [[incrementalIndexing]] for gram postings: each micro-batch runs
    * [[graft.ops.FuzzySearch.indexDeltaIdempotent]] (at-least-once
    * replays are no-ops — doubled gram counts would inflate every
    * count-filter sum) and the generation/byte-bounded compaction
    * policy; batch 0 bootstraps an empty catalog. A drained stream
    * serves [[graft.ops.FuzzySearch.topKIndexed]] identically to a
    * one-shot build — gated on the same scan-path oracle. */
  def incrementalFuzzyIndexing(newStudents: DataFrame, table: String,
      maxBatches: Int = 16): StreamingQuery =
    newStudents.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.ops.FuzzySearch.indexDeltaIdempotent(table, batch)
        if (maxBatches > 0)
          graft.ops.FuzzySearch.compactIfNeeded(batch.sparkSession, table,
            maxBatches)
        ()
      }
      .outputMode("append")
      .start()

  /** Streaming ingest into the standing LSH band index —
    * [[incrementalIndexing]] for the dedup family: each micro-batch runs
    * [[graft.ops.DedupIndex.deltaIdempotent]] (at-least-once replays are
    * no-ops — a replayed doc would duplicate its band rows physically);
    * batch 0 bootstraps an empty catalog. A drained stream serves
    * [[graft.ops.DedupIndex.candidates]] identically to a one-shot
    * build. Completes streaming-safe ingest symmetry across all SIX
    * standing index families. */
  def incrementalDedupIndexing(newDocs: DataFrame,
      table: String): StreamingQuery =
    newDocs.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.ops.DedupIndex.deltaIdempotent(batch.sparkSession, table,
          batch)
        ()
      }
      .outputMode("append")
      .start()

  /** Streaming ingest into the standing POSITIONAL index
    * ([[graft.ops.Phrase]] family): each micro-batch runs
    * [[graft.ops.Phrase.positionalDeltaIdempotent]] (at-least-once
    * replays are no-ops — a replayed doc would double-count its
    * occurrences); batch 0 bootstraps an empty catalog. A drained stream
    * serves [[graft.ops.Phrase.phraseIndexedTopK]] identically to a
    * one-shot build — streaming-safe ingest symmetry now spans all SEVEN
    * standing index families. */
  def incrementalPositionalIndexing(newDocs: DataFrame,
      table: String): StreamingQuery =
    newDocs.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.ops.Phrase.positionalDeltaIdempotent(table, batch)
        ()
      }
      .outputMode("append")
      .start()

  /** Streaming MATERIALIZED-VIEW maintenance — [[graft.ops.MatView]]
    * folded per micro-batch under batch-id idempotence (`foldBatch`'s
    * ledger — the exactly-once `foreachBatch` recipe; the view keeps no
    * row identity, so idempotence lives at the batch level). A drained
    * stream reads identically to a one-shot build over the same rows. */
  def incrementalViewMaintenance(newRows: DataFrame, table: String,
      keys: Seq[String], sums: Seq[String], idCol: String): StreamingQuery =
    newRows.writeStream
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        graft.ops.MatView.foldBatch(table, bid, batch, keys, sums, idCol)
        ()
      }
      .outputMode("append")
      .start()

  /** Streaming maintenance of the DISTINCT view — the feed as a
    * `foreachBatch` sink over [[graft.ops.MatView.foldBatchDistinct]]:
    * each micro-batch appends its refcounted support partials once
    * under the batch-id ledger. Exact ndv stays fresh at feed cost. */
  def incrementalDistinctMaintenance(newRows: DataFrame, table: String,
      keys: Seq[String], valueCol: String, idCol: String): StreamingQuery =
    newRows.writeStream
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        graft.ops.MatView.foldBatchDistinct(table, bid, batch, keys,
          valueCol, idCol)
        ()
      }
      .outputMode("append")
      .start()

  /** Streaming maintenance of the MIN/MAX view — insert generations
    * under the batch-id ledger ([[graft.ops.MatView.foldBatchMinMax]]);
    * deletes stay a takedown-feed concern (they need the surviving
    * base — see the fold's scaladoc). */
  def incrementalMinMaxMaintenance(newRows: DataFrame, table: String,
      keys: Seq[String], cols: Seq[String], idCol: String): StreamingQuery =
    newRows.writeStream
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        graft.ops.MatView.foldBatchMinMax(table, bid, batch, keys, cols,
          idCol)
        ()
      }
      .outputMode("append")
      .start()

  /** Streaming SCD2 dimension maintenance — the observation feed as a
    * `foreachBatch` sink over [[graft.ops.Scd.foldScd2Batch]]: batch 0
    * bootstraps the dimension, each later micro-batch applies as an
    * affected-keys-only incremental fold under the batch-id ledger
    * (redelivery no-ops BEFORE the monotone-feed refusal can see the
    * replayed observations — see the fold's scaladoc for why the two
    * guards must be ordered that way). The production shape: an entity-
    * attribute event topic keeps a billions-of-entities versioned
    * dimension fresh at feed cost, never re-window-the-history cost. */
  def incrementalScd2Maintenance(obs: DataFrame, table: String,
      key: String, date: String, obsId: String,
      value: String): StreamingQuery =
    obs.writeStream
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        graft.ops.Scd.foldScd2Batch(table, bid, batch, key, date,
          obsId, value)
        ()
      }
      .outputMode("append")
      .start()

  /** Streaming CDC apply — the change feed (op = I/D, full row images)
    * as a `foreachBatch` sink over [[graft.ops.MatView.applyCdc]]: each
    * micro-batch folds as one generation under the batch-id ledger, so
    * crash redelivery is a strict no-op and a batch never half-applies
    * across its inserts and deletes. The production IVM shape: a
    * Debezium topic keeps a 100 TB-base aggregate fresh at change-feed
    * cost, never base-scan cost. */
  def incrementalCdcMaintenance(changes: DataFrame, table: String,
      keys: Seq[String], sums: Seq[String]): StreamingQuery =
    changes.writeStream
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        graft.ops.MatView.applyCdc(table, bid, batch, keys, sums)
        ()
      }
      .outputMode("append")
      .start()

  /** Streaming DELETION from a standing index — the takedown feed
    * (right-to-erasure ids arriving continuously) as a `foreachBatch`
    * sink: each micro-batch applies the family's tombstone delete
    * (`delete` is the family entry point — [[graft.ops.Search
    * .indexDelete]], [[graft.ops.Similarity.ivfIndexDelete]], or
    * [[graft.ops.FuzzySearch.indexDelete]], partially applied to the
    * table). At-least-once safety needs NO extra replay filter here:
    * the delete lifecycle is idempotent by construction —
    * [[graft.ops.Tombstones.freshOnly]] makes a re-delivered victim a
    * no-op, including the BM25 negative stats row and the fuzzy
    * advisory-df correction (a replayed batch must not double-subtract
    * either) — so the redelivery window every ingest twin closes with
    * sliver-confirm logic is closed for free on the delete side.
    * Replay is spec-gated in `IndexDeleteSpec` with a feed that
    * delivers the same victim file twice. */
  def incrementalDeletion(victimIds: DataFrame,
      delete: DataFrame => Unit): StreamingQuery =
    victimIds.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) => delete(batch); () }
      .outputMode("append")
      .start()

  /** Streaming HLL maintenance — the mergeable-register property doing
    * its job: each micro-batch appends its PARTIAL register table
    * (delta-sized — at most groups × 256 rows regardless of batch size),
    * and the read-side max-merge of all generations equals the one-shot
    * sketch EXACTLY (max is associative/commutative/idempotent — even a
    * redelivered batch is a physical no-op after the merge, so this twin
    * needs no batch-id ledger). This is the sketch a 100 TB ingest keeps
    * fresh at register-table cost, never rescanning the corpus. */
  def incrementalHllIngest(newRows: DataFrame, regDir: String,
      groupCol: String, valueCol: String): StreamingQuery =
    newRows.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.ops.Sketches.hllRegisters(batch, groupCol, valueCol)
          .write.mode("append").parquet(regDir)
      }
      .outputMode("append")
      .start()

  /** Streaming decontamination — score each arriving micro-batch of
    * training docs against the STANDING benchmark shingle set (the eval
    * suite is fixed; at 100 TB it is MBs against a continuous TB-scale
    * ingest). Per-doc scoring is stateless given the bench set, so
    * incremental == batch by construction: each batch pays one
    * batch-sized shingle explode + one join against the bench side, and
    * the appended union equals [[graft.ops.Decontam.overlap]] over the
    * drained corpus (same oracle row). */
  def incrementalDecontam(newDocs: DataFrame, benchSh: DataFrame,
      scoredDir: String): StreamingQuery =
    newDocs.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.ops.Decontam.score(batch, benchSh)
          .write.mode("append").parquet(scoredDir)
      }
      .outputMode("append")
      .start()

  /** Streaming corpus curation — the continuous-ingest capstone: per
    * micro-batch, keep-first exact dedup WITHIN the batch (min doc_id
    * per content hash), an anti-join against the STANDING curated
    * corpus's hashes (re-read per batch — at scale, the [[graft.ops
    * .DedupIndex]] bucketed table instead of a raw re-read), then the
    * quality gate, then append. With arrival order following doc_id, the
    * final curated set equals the batch keep-first dedup ∩ quality keep
    * — stream==batch gated in `StatefulStreamSpec`. */
  def incrementalCuration(newDocs: DataFrame,
      curatedDir: String): StreamingQuery =
    newDocs.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
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
        val standingSchema = org.apache.spark.sql.types.StructType(Seq(
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
      .outputMode("append")
      .start()
}
