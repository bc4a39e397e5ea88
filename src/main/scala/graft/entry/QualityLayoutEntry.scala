package graft.entry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.IndelRatio
import graft.model.Tables
import graft.ops._
import graft.streaming.Streams

/** Data-quality gate, layout/partitioning ops, SCD2, profiling, centroid/PQ diagnostics.
  * Rows split verbatim from SparkEntry (round 17); composed back in
  * [[graft.SparkEntry.queries]] / [[graft.SparkEntry.oracleSql]]. */
object QualityLayoutEntry {
  import EntryFixtures._
  import OracleCtes._

  /** The drift fixture's positive case: every third doc's text doubled
    * — shared by the batch row and its streaming twin. */
  private def lengthenedDocs(docs: DataFrame): DataFrame =
    docs.withColumn("text",
      when(col("doc_id") % 3 === 0,
        concat(col("text"), lit(" "), col("text"))).otherwise(col("text")))

  private val driftTh = graft.ops.Quality.DriftThreshold

  /** Shared drift-oracle CTE chain: T/T2 = token counts of the corpus
    * and its lengthened version; pair 1 (halves) folds to C1/N1, pair 2
    * (corpus vs lengthened) to C2/N2 — all scaled-integer, mirroring
    * Quality.chiFromHists exactly. */
  private val driftOracleCtes: String = {
    val sc = graft.ops.Quality.DriftScale
    val normD = docNorm.replace("trim(text)", "trim(text || ' ' || text)")
    val binOf = "least(CAST(15 AS BIGINT), nt // 16)"
    s"WITH T AS (SELECT doc_id, CAST(len(string_split($docNorm, ' ')) AS BIGINT) AS nt FROM documents), " +
    "T2 AS (SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN " +
    s"CAST(len(string_split($normD, ' ')) AS BIGINT) ELSE " +
    s"CAST(len(string_split($docNorm, ' ')) AS BIGINT) END AS nt FROM documents), " +
    s"HA1 AS (SELECT $binOf AS bin, CAST(count(*) AS BIGINT) AS ca FROM T WHERE doc_id % 2 = 0 GROUP BY 1), " +
    s"HB1 AS (SELECT $binOf AS bin, CAST(count(*) AS BIGINT) AS cb FROM T WHERE doc_id % 2 = 1 GROUP BY 1), " +
    "N1 AS (SELECT CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na, " +
    "CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb FROM T), " +
    s"P1 AS (SELECT (coalesce(ca, CAST(0 AS BIGINT)) * $sc) // na AS pa, " +
    s"(coalesce(cb, CAST(0 AS BIGINT)) * $sc) // nb AS pb " +
    "FROM HA1 FULL OUTER JOIN HB1 USING (bin), N1), " +
    "C1 AS (SELECT CAST(sum(CASE WHEN pa + pb = 0 THEN 0 ELSE " +
    "((pa - pb) * (pa - pb)) // (pa + pb) END) AS BIGINT) AS chi2 FROM P1), " +
    s"HA2 AS (SELECT $binOf AS bin, CAST(count(*) AS BIGINT) AS ca FROM T GROUP BY 1), " +
    s"HB2 AS (SELECT $binOf AS bin, CAST(count(*) AS BIGINT) AS cb FROM T2 GROUP BY 1), " +
    "N2 AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM T) AS na, " +
    "(SELECT CAST(count(*) AS BIGINT) FROM T2) AS nb), " +
    s"P2 AS (SELECT (coalesce(ca, CAST(0 AS BIGINT)) * $sc) // na AS pa, " +
    s"(coalesce(cb, CAST(0 AS BIGINT)) * $sc) // nb AS pb " +
    "FROM HA2 FULL OUTER JOIN HB2 USING (bin), N2), " +
    "C2 AS (SELECT CAST(sum(CASE WHEN pa + pb = 0 THEN 0 ELSE " +
    "((pa - pb) * (pa - pb)) // (pa + pb) END) AS BIGINT) AS chi2 FROM P2) "
  }

  private val driftLengthenedRowSql: String =
    s"SELECT 'lengthened' AS pair, c2.chi2 AS chi2_scaled, n2.na AS n_a, " +
    s"n2.nb AS n_b, c2.chi2 > $driftTh AS drifted FROM C2 c2, N2 n2"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_keywords" -> ((s, d) => Search.keywords(Tables.documents(s, d))),
    // corpus-trained bigram LM fluency score (quantized logprobs ->
    // exact integer sums, the order-free mean discipline)
    "text_lm_score" -> ((s, d) => TextAnalysis.lmScore(Tables.documents(s, d))),
    // ordered funnel: per-user strictly-increasing view->click->purchase
    // stage times via shrinking min-agg joins, no sequence explode
    "w8_funnel" -> ((s, d) => Windows.funnel(Tables.events(s, d))),
    // retention triangle: first-day cohorts x activity-day offsets
    "w9_retention" -> ((s, d) => Windows.retentionCohorts(Tables.events(s, d))),
    // SCD2 dimension build: effective-dated customer-priority versions,
    // run-length-merged, all windows sharing one o_custkey exchange
    "scd2_priority" -> ((s, d) => Scd.customerPriorityScd2(Tables.orders(s, d))),
    // SCD2 consumption: point-in-time lookup (custkey equi-join, interval
    // residual) — the no-future-leakage attribute resolution
    "scd2_asof_lookup" -> ((s, d) => Scd.asOfLookup(Tables.orders(s, d))),
    // SCD2 INCREMENTAL maintenance: build the dimension from history up
    // to a cutoff, then APPLY the rest as a delta feed — only affected
    // keys re-windowed (current rows + delta; closed history and
    // unaffected keys pass through verbatim), result row-identical to
    // the full rebuild (the scd2_priority oracle, verbatim)
    "scd2_apply" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val cut = to_date(lit("1996-01-01"))
      // the standing dim is materialized (in real use it IS a table;
      // an unmaterialized build would re-run its windows per consumer)
      val dim = Scd.scd2Build(o.filter(col("o_orderdate") <= cut),
        "o_custkey", "o_orderdate", "o_orderkey", "o_orderpriority")
        .localCheckpoint()
      Scd.scd2Apply(dim, o.filter(col("o_orderdate") > cut),
        "o_custkey", "o_orderdate", "o_orderkey", "o_orderpriority")
        .select(col("o_custkey"), col("version"), col("valid_from"),
          col("valid_to"), col("o_orderpriority").as("priority"),
          col("is_current"))
        .orderBy(col("o_custkey"), col("version"))
    }),
    // ANALYZE-style profiling: all columns in one scan, long-form stats
    "profile_orders" -> ((s, d) => Profile.ordersProfile(Tables.orders(s, d))),
    // equi-depth histogram: exact ntile deciles, but distributed — global
    // rank from a range-partitioned sort + per-partition offsets instead
    // of the single-task global window (see Histograms.equiDepth)
    "a12_equidepth" -> ((s, d) =>
      Histograms.equiDepth(Tables.orders(s, d),
        col("o_totalprice"), col("o_orderkey"))),
    // 3-sigma outlier counts: exact integer moments (cents), identically-
    // spelled IEEE mean/std in both engines
    "a13_outliers" -> ((s, d) => Histograms.outliers(Tables.events(s, d))),
    // equi-width histogram: global [min,max] edges as a 1-row broadcast,
    // bucket index per-row in the scan, one small groupBy — the
    // distribution profile behind skew diagnosis and range layout
    "a11_histogram" -> ((s, d) =>
      Histograms.equiWidth(Tables.orders(s, d), col("o_totalprice"))),
    // IVF-training building block: per-label quantized centroids via the
    // typed vector-sum Aggregator (fixed-size partial buffers, exact
    // integer sums — layout-independent, hence oracle-able)
    "sim_centroids" -> ((s, d) => Centroids.labelCentroids(Tables.embeddings(s, d))),
    // one k-means assignment step vs those centroids: broadcast k·dims
    // literals, integer-space distances (exact, order-free), argmin with
    // label tie-break
    "sim_kmeans_assign" -> ((s, d) => Centroids.kmeansAssign(Tables.embeddings(s, d))),
    // embedding-quality audit: own-label centroid distance outliers
    // (exact bigint distances, integer-div downscale, a13's moment
    // discipline at the audit's 2-sigma threshold)
    "sim_embedding_outliers" -> ((s, d) =>
      Centroids.embeddingOutliers(Tables.embeddings(s, d))),
    // PQ encode: 8 codes per vector from subspace-restricted codebooks —
    // the 32x compression step of the ANN ladder, exact integer argmins
    "sim_pq_codes" -> ((s, d) => Centroids.pqCodes(Tables.embeddings(s, d))),
    // PQ quality gate: recall@3 of LUT-based ADC search vs exact L2 —
    // prices the compression the way sim_ann_recall prices the pruning
    "sim_pq_recall" -> ((s, d) => Centroids.pqRecall(Tables.embeddings(s, d))),
    // full IVF-PQ ladder: sign-sketch bucket pruning + ADC compression,
    // recall priced together
    "sim_ivfpq_recall" -> ((s, d) =>
      Centroids.pqRecall(Tables.embeddings(s, d), bucketPrune = true)),
    // relative quality gate: per-source p25 stopword-ratio threshold
    // (broadcast dim of |sources| rows), not a global constant
    "text_quality_gate" -> ((s, d) =>
      TextAnalysis.qualityGate(Tables.documents(s, d))),
    // per-source quality CALIBRATION: the whole distribution as ranks
    // (comparable across sources), not just one fixed percentile cut
    "text_quality_rank" -> ((s, d) =>
      TextAnalysis.qualityRank(Tables.documents(s, d))),
    // SymSpell fuzzy join: deletion-neighborhood blocking (bounded len+1
    // fan-out, hash-equi join) -> exact levenshtein verify on candidates
    "fuzzy_join_sym" -> ((s, d) => FuzzyJoin.matchTokens(Tables.documents(s, d))),
    // snapshot diff: |Δ|-sized changelog between two corpus versions via
    // full-outer id join on content fingerprints
    "snapshot_diff" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Snapshot.diff(Snapshot.oldSnapshot(docs), Snapshot.newSnapshot(docs))
    }),
    // changelog apply: roll the old snapshot forward (anti-join + union);
    // diff∘apply == identity, oracled against the new snapshot itself
    "snapshot_apply" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val old = Snapshot.oldSnapshot(docs)
      Snapshot.applyChangelog(old,
        Snapshot.diff(old, Snapshot.newSnapshot(docs)))
    }),
    // write-layout key: the 62-bit Z-curve interleave of (user_id, day) —
    // the sort key Layout.writeZOrdered files by (native codegen expr)
    "layout_zvalue" -> ((s, d) => {
      graft.functions.ZValue.register(s)
      Tables.events(s, d).select(col("event_id"), col("user_id"),
          datediff(to_date(col("ts")), lit("1970-01-01")).cast("long").as("day"))
        .withColumn("z", call_function("z_value", col("user_id"), col("day")))
        .orderBy(col("z"), col("event_id"))
    }),
    // directory partition pruning: write date-partitioned, read one week
    // back — the scan lists only the 7 matching event_date=… directories
    // (plan-guarded in LayoutSpec)
    "layout_datepart" -> ((s, d) => {
      val dir = sys.props("java.io.tmpdir") + "/graft_datepart_" +
        d.replaceAll("[^A-Za-z0-9]", "_")
      graft.sources.Layout.writeDatePartitioned(Tables.events(s, d), dir)
      s.read.parquet(dir)
        .filter(col("event_date").between("2024-01-08", "2024-01-14"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("event_type"))
    }),
    // DATA-QUALITY GATE: a deterministically-corrupted orders load
    // (dup keys, negated prices, orphan custkeys) through the
    // constraint report — all row rules in ONE scan, uniqueness one
    // aggregate, FK one broadcast anti join
    "quality_report" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val corrupted = o
        .unionByName(o.filter(col("o_orderkey") % 1000 === 1))
        .unionByName(o.filter(col("o_orderkey") % 500 === 2)
          .withColumn("o_totalprice", -col("o_totalprice"))
          .withColumn("o_orderkey", col("o_orderkey") + 50000000L))
        .unionByName(o.filter(col("o_orderkey") % 700 === 3)
          .withColumn("o_custkey", col("o_custkey") + 1000000000L)
          .withColumn("o_orderkey", col("o_orderkey") + 60000000L))
      Quality.checkRows(corrupted, Seq(
          Quality.RowRule("positive(o_totalprice)",
            col("o_totalprice") <= 0),
          Quality.notNull("o_orderdate")))
        .unionByName(Quality.checkUnique(corrupted, Seq("o_orderkey")))
        .unionByName(Quality.checkFk(corrupted, "o_custkey",
          Tables.customer(s, d), "c_custkey"))
        .orderBy(col("rule"))
    }),
    // PER-GROUP QUALITY TRIAGE: which stratum produces the bad rows —
    // the same single scan as the global gate, stratified by key
    "quality_by_group" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val corrupted = o.unionByName(o.filter(col("o_orderkey") % 500 === 2)
        .withColumn("o_totalprice", -col("o_totalprice"))
        .withColumn("o_orderkey", col("o_orderkey") + 50000000L))
      Quality.checkRowsBy(corrupted, Seq("o_orderpriority"), Seq(
          Quality.RowRule("positive(o_totalprice)",
            col("o_totalprice") <= 0),
          Quality.notNull("o_orderdate")))
        .orderBy(col("o_orderpriority"), col("rule"))
    }),
    // FRESHNESS: newest landed partition vs the expected watermark —
    // metadata only ("is the table stale" must not read the table)
    "quality_freshness" -> ((s, d) => {
      val wh = java.nio.file.Files.createTempDirectory("graft-qf")
        .toFile.getAbsolutePath
      s.sql(s"CREATE DATABASE IF NOT EXISTS graft_idx LOCATION '$wh'")
      graft.sources.Layout.writeDatePartitionedTable(
        Tables.events(s, d), "graft_idx.events_fresh")
      Quality.checkFreshness(s, "graft_idx.events_fresh", "2024-01-30")
    }),
    // VOLUME ANOMALY: each day's count vs the trailing-7-day median —
    // catches the half-empty load freshness and gap checks both pass.
    // Deterministic corruption: day 25 cut to its user_id%10==0 slice
    // (the >2x drop), day 28 tripled (the >2x spike); the trailing
    // median shrugs both off as history for later days
    // DISTRIBUTION drift (token-length histograms, symmetric chi-square
    // in scaled integers): the even/odd halves are the same distribution
    // (negative case); lengthening every third doc's text is a real
    // shift (positive case) — one row each, verdicts included
    "quality_dist_drift" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val halves = Quality.distDrift(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1))
        .select(lit("halves").as("pair"), col("chi2_scaled"), col("n_a"),
          col("n_b"), col("drifted"))
      val shifted = Quality.distDrift(docs, lengthenedDocs(docs))
        .select(lit("lengthened").as("pair"), col("chi2_scaled"), col("n_a"),
          col("n_b"), col("drifted"))
      halves.unionByName(shifted).orderBy(col("pair"))
    }),
    // STREAMING drift twin: the lengthened corpus arrives as a real
    // bounded stream; its 16-bin histogram is maintained incrementally
    // (bins are additive — MatView fold keyed on bin, batch-id ledger);
    // the SAME chi-square judgment reads the view against the static
    // side — same oracle row as the batch 'lengthened' pair:
    // maintenance must not move the verdict
    "stream_dist_drift" -> ((s, d) => {
      val wh = java.nio.file.Files.createTempDirectory("graft-sdd")
        .toFile.getAbsolutePath
      s.sql(s"CREATE DATABASE IF NOT EXISTS graft_idx LOCATION '$wh'")
      Seq("graft_idx.sdd_mv", "graft_idx.sdd_batches", "graft_idx.sdd_guard")
        .foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
      val docs = Tables.documents(s, d)
      val binned = Quality.driftBin(lengthenedDocs(docs))
        .select(col("bin"), col("doc_id"))
      val hist = MatView.sum("graft_idx.sdd", Seq("bin"), Seq(), "doc_id")
      Streams.replay(s, Seq(binned.filter(col("doc_id") % 2 === 0),
          binned.filter(col("doc_id") % 2 === 1)))(
        Streams.drain(_, "stream_dist_drift") { (batch, bid) =>
          hist.foldBatch(bid, batch)
        })
      val hb = hist.read(s)
        .select(col("bin"), col("cnt").as("cb"))
      val nb = hb.agg(sum(col("cb"))).collect()(0).getLong(0)
      val ha = Quality.driftBin(docs).groupBy(col("bin"))
        .agg(count(lit(1)).as("ca"))
      Quality.chiFromHists(ha, hb, docs.count(), nb)
        .select(lit("lengthened").as("pair"), col("chi2_scaled"),
          col("n_a"), col("n_b"), col("drifted"))
    }),
    "quality_volume_trend" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val corrupted = ev
        .filter(!(to_date(col("ts")) === "2024-01-25" && col("user_id") % 10 =!= 0))
        .unionByName(ev.filter(to_date(col("ts")) === "2024-01-28"))
        .unionByName(ev.filter(to_date(col("ts")) === "2024-01-28"))
      Quality.checkVolumeTrend(corrupted, to_date(col("ts")))
    }),
    // STREAMING volume monitor: the same corrupted feed arrives as a
    // real bounded stream (two day-split files), daily counts maintained
    // incrementally (MatView additive fold keyed on the day, batch-id
    // ledger), the SAME trailing-median judgment reads the view — same
    // oracle as the batch row: maintenance must not move the verdict
    "stream_volume_trend" -> ((s, d) => {
      val wh = java.nio.file.Files.createTempDirectory("graft-vts")
        .toFile.getAbsolutePath
      s.sql(s"CREATE DATABASE IF NOT EXISTS graft_idx LOCATION '$wh'")
      val ev = Tables.events(s, d)
      val corrupted = ev
        .filter(!(to_date(col("ts")) === "2024-01-25" && col("user_id") % 10 =!= 0))
        .unionByName(ev.filter(to_date(col("ts")) === "2024-01-28"))
        .unionByName(ev.filter(to_date(col("ts")) === "2024-01-28"))
        .select(to_date(col("ts")).as("obs_date"), col("event_id"))
      val daily = MatView.sum("graft_idx.vts", Seq("obs_date"), Seq(),
        "event_id")
      Streams.replay(s, Seq(corrupted.filter(col("obs_date") <= "2024-01-15"),
          corrupted.filter(col("obs_date") > "2024-01-15")))(
        Streams.drain(_, "stream_volume_trend") { (batch, bid) =>
          daily.foldBatch(bid, batch)
        })
      Quality.volumeTrendFrom(
        daily.read(s).select(col("obs_date"), col("cnt").as("n")))
    }),
    // PARTITION COMPLETENESS: gap detection on a date-partitioned fact
    // as a metadata operation (catalog listing vs the continuous day
    // range — "did yesterday land" without reading yesterday)
    "quality_partitions" -> ((s, d) => {
      val wh = java.nio.file.Files.createTempDirectory("graft-qp")
        .toFile.getAbsolutePath
      s.sql(s"CREATE DATABASE IF NOT EXISTS graft_idx LOCATION '$wh'")
      val ev = Tables.events(s, d).filter(
        !to_date(col("ts")).isin("2024-01-10", "2024-01-20"))
      graft.sources.Layout.writeDatePartitionedTable(
        ev, "graft_idx.events_gap")
      Quality.checkPartitionGaps(s, "graft_idx.events_gap")
    }),
    // RETENTION via partition drop: expiring data on a date-partitioned
    // fact is |expired partitions| catalog calls — METADATA ONLY (zero
    // scans, zero rewrites; spec-gates zero Spark jobs); the read
    // answers the survivors-only aggregate
    "layout_retention" -> ((s, d) => {
      val wh = java.nio.file.Files.createTempDirectory("graft-ret")
        .toFile.getAbsolutePath
      s.sql(s"CREATE DATABASE IF NOT EXISTS graft_idx LOCATION '$wh'")
      graft.sources.Layout.writeDatePartitionedTable(
        Tables.events(s, d), "graft_idx.events_ret")
      graft.sources.Layout.enforceRetention(
        s, "graft_idx.events_ret", "event_date", "2024-01-08")
      s.table("graft_idx.events_ret")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("event_type"))
    }),
    // IDEMPOTENT DAILY BACKFILL: one day's partition replaced with a
    // corrected load under dynamic partition overwrite (every other
    // day's files untouched); the SAME backfill re-runs inside the
    // priced row — re-running a daily job converges, never duplicates
    "layout_backfill_day" -> ((s, d) => {
      val wh = java.nio.file.Files.createTempDirectory("graft-bf")
        .toFile.getAbsolutePath
      s.sql(s"CREATE DATABASE IF NOT EXISTS graft_idx LOCATION '$wh'")
      val ev = Tables.events(s, d)
      graft.sources.Layout.writeDatePartitionedTable(
        ev, "graft_idx.events_bf")
      val corrected = ev.filter(
        to_date(col("ts")) === to_date(lit("2024-01-15")) &&
          col("user_id") % 10 =!= 7)
      graft.sources.Layout.backfillDay(s, "graft_idx.events_bf", corrected)
      graft.sources.Layout.backfillDay(s, "graft_idx.events_bf", corrected)
      s.table("graft_idx.events_bf")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("event_type"))
    }),
    // CO-LOCATED fact-fact join: both facts written bucketed on the
    // join key -> the SortMergeJoin consumes the bucketed scans with
    // ZERO exchange and zero sort on either side (plan-asserted in
    // BucketedJoinSpec) — at 100 TB the single biggest shuffle in the
    // q-series moved to write time, paid once
    "layout_bucketed_join" -> ((s, d) => {
      val wh = java.nio.file.Files.createTempDirectory("graft-buck")
        .toFile.getAbsolutePath
      s.sql(s"CREATE DATABASE IF NOT EXISTS graft_idx LOCATION '$wh'")
      graft.sources.Layout.writeBucketed(Tables.orders(s, d),
        "graft_idx.bko", "o_orderkey")
      graft.sources.Layout.writeBucketed(Tables.lineitem(s, d),
        "graft_idx.bkl", "l_orderkey")
      s.table("graft_idx.bko")
        .join(s.table("graft_idx.bkl"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          sum(expr("CAST(l_extendedprice AS DECIMAL(18,2)) * " +
            "(1 - CAST(l_discount AS DECIMAL(18,2)))"))
            .cast("double").as("revenue"))
        .orderBy(col("o_orderpriority"))
    }),
    // DYNAMIC partition pruning: the filter lives on a joined date dim,
    // not the fact — Spark pushes the dim's surviving keys into the
    // fact scan's partition filters at runtime (star-schema shape;
    // plan-guarded in LayoutSpec)
    "layout_dpp" -> ((s, d) => {
      // own directory: sharing layout_datepart's would let this builder's
      // overwrite invalidate a previously-constructed DataFrame's pinned
      // file listing if both queries are built before either executes
      val dir = sys.props("java.io.tmpdir") + "/graft_dpp_" +
        d.replaceAll("[^A-Za-z0-9]", "_")
      graft.sources.Layout.writeDatePartitioned(Tables.events(s, d), dir)
      s.read.parquet(dir)
        .join(broadcast(graft.sources.Layout.dateDim(Tables.events(s, d))
          .filter(col("is_weekend"))), Seq("event_date"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("event_type"))
    }),
  )

  def oracleSql: Map[String, String] = Map(
    "layout_datepart" ->
      ("SELECT event_type, CAST(count(*) AS BIGINT) AS n, " +
       "CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM events " +
       "WHERE CAST(ts AS DATE) BETWEEN '2024-01-08' AND '2024-01-14' " +
       "GROUP BY event_type ORDER BY event_type"),
    // quality gate: each corruption family's count derives from the
    // deterministic construction (dups %1000=1, negated %500=2 under
    // fresh keys, orphaned %700=3 under fresh keys; dates never null)
    "quality_report" ->
      ("SELECT 'fk(o_custkey -> c_custkey)' AS rule, " +
       "CAST(count(*) AS BIGINT) AS n_violations FROM orders " +
       "WHERE o_orderkey % 700 = 3 " +
       "UNION ALL SELECT 'not_null(o_orderdate)', CAST(0 AS BIGINT) " +
       "UNION ALL SELECT 'positive(o_totalprice)', " +
       "CAST(count(*) AS BIGINT) FROM orders WHERE o_orderkey % 500 = 2 " +
       "UNION ALL SELECT 'unique(o_orderkey)', " +
       "CAST(count(*) AS BIGINT) FROM orders WHERE o_orderkey % 1000 = 1 " +
       "ORDER BY rule"),
    // per-group triage: the negated-price corruption is the only
    // violating family; not_null never fires (dates complete)
    "quality_by_group" ->
      ("SELECT o_orderpriority, 'not_null(o_orderdate)' AS rule, " +
       "CAST(0 AS BIGINT) AS n_violations FROM orders " +
       "GROUP BY o_orderpriority " +
       "UNION ALL SELECT o_orderpriority, 'positive(o_totalprice)', " +
       "CAST(sum(CASE WHEN o_orderkey % 500 = 2 THEN 1 ELSE 0 END) AS BIGINT) " +
       "FROM orders GROUP BY o_orderpriority " +
       "ORDER BY o_orderpriority, rule"),
    // freshness: latest landed day vs the expected watermark
    "quality_freshness" ->
      ("SELECT max(CAST(ts AS DATE)) AS latest_date, " +
       "DATE '2024-01-30' AS expected_from, " +
       "max(CAST(ts AS DATE)) >= DATE '2024-01-30' AS fresh FROM events"),
    "quality_dist_drift" ->
      (driftOracleCtes +
      "SELECT * FROM (" +
      s"SELECT 'halves' AS pair, c1.chi2 AS chi2_scaled, n1.na AS n_a, n1.nb AS n_b, c1.chi2 > $driftTh AS drifted FROM C1 c1, N1 n1 " +
      "UNION ALL " + driftLengthenedRowSql +
      ") ORDER BY pair"),
    // stream twin: identical from-scratch semantics — the maintained
    // histogram must reach the same chi-square and verdict
    "stream_dist_drift" ->
      (driftOracleCtes + driftLengthenedRowSql),
    // volume trend: trailing-7 median (the exact 4th order statistic of
    // 7 bigint counts — no interpolation) over the same corrupted frame
    "quality_volume_trend" ->
      ("WITH E0 AS (SELECT CAST(ts AS DATE) AS d, user_id FROM events), " +
       "E AS (SELECT d FROM E0 WHERE NOT (d = DATE '2024-01-25' AND user_id % 10 <> 0) " +
       "UNION ALL SELECT d FROM E0 WHERE d = DATE '2024-01-28' " +
       "UNION ALL SELECT d FROM E0 WHERE d = DATE '2024-01-28'), " +
       "DAILY AS (SELECT d, CAST(count(*) AS BIGINT) AS n FROM E GROUP BY d), " +
       "H AS (SELECT d, n, count(*) OVER w AS hcnt, " +
       "CAST(median(n) OVER w AS BIGINT) AS baseline FROM DAILY " +
       "WINDOW w AS (ORDER BY d ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)) " +
       "SELECT d AS obs_date, n, baseline, " +
       "CASE WHEN n * 2 < baseline THEN 'drop' " +
       "WHEN n > baseline * 2 THEN 'spike' END AS anomaly " +
       "FROM H WHERE hcnt = 7 AND (n * 2 < baseline OR n > baseline * 2) " +
       "ORDER BY obs_date"),
    // streaming twin: identical oracle — incremental maintenance of the
    // daily counts must not move the anomaly verdict
    "stream_volume_trend" ->
      ("WITH E0 AS (SELECT CAST(ts AS DATE) AS d, user_id FROM events), " +
       "E AS (SELECT d FROM E0 WHERE NOT (d = DATE '2024-01-25' AND user_id % 10 <> 0) " +
       "UNION ALL SELECT d FROM E0 WHERE d = DATE '2024-01-28' " +
       "UNION ALL SELECT d FROM E0 WHERE d = DATE '2024-01-28'), " +
       "DAILY AS (SELECT d, CAST(count(*) AS BIGINT) AS n FROM E GROUP BY d), " +
       "H AS (SELECT d, n, count(*) OVER w AS hcnt, " +
       "CAST(median(n) OVER w AS BIGINT) AS baseline FROM DAILY " +
       "WINDOW w AS (ORDER BY d ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)) " +
       "SELECT d AS obs_date, n, baseline, " +
       "CASE WHEN n * 2 < baseline THEN 'drop' " +
       "WHEN n > baseline * 2 THEN 'spike' END AS anomaly " +
       "FROM H WHERE hcnt = 7 AND (n * 2 < baseline OR n > baseline * 2) " +
       "ORDER BY obs_date"),
    // partition gaps: days inside [min, max] of the remaining dates
    // that are not present (the two excluded days, derived not assumed)
    "quality_partitions" ->
      ("WITH RECURSIVE P AS (SELECT DISTINCT CAST(ts AS DATE) AS d " +
       "FROM events WHERE CAST(ts AS DATE) NOT IN " +
       "(DATE '2024-01-10', DATE '2024-01-20')), " +
       "B AS (SELECT min(d) AS lo, max(d) AS hi FROM P), " +
       "G AS (SELECT lo AS expected_date, hi FROM B UNION ALL " +
       "SELECT CAST(expected_date + INTERVAL 1 DAY AS DATE), hi " +
       "FROM G WHERE expected_date < hi) " +
       "SELECT expected_date FROM G WHERE expected_date NOT IN " +
       "(SELECT d FROM P) ORDER BY expected_date"),
    // retention: survivors = dates at/after the horizon
    "layout_retention" ->
      ("SELECT event_type, CAST(count(*) AS BIGINT) AS n, " +
       "CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM events " +
       "WHERE CAST(ts AS DATE) >= '2024-01-08' " +
       "GROUP BY event_type ORDER BY event_type"),
    // backfill: day 15 replaced by its corrected load (user_id%10=7
    // rows dropped), every other day intact; re-run converges
    "layout_backfill_day" ->
      ("SELECT event_type, CAST(count(*) AS BIGINT) AS n, " +
       "CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM events " +
       "WHERE NOT (CAST(ts AS DATE) = '2024-01-15' AND user_id % 10 = 7) " +
       "GROUP BY event_type ORDER BY event_type"),
    // the dim-filtered star join reduces to the weekend-day filter
    // (isodow >= 6 == Spark's dayofweek IN (1, 7))
    "layout_dpp" ->
      ("SELECT event_type, CAST(count(*) AS BIGINT) AS n, " +
       "CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM events " +
       "WHERE isodow(CAST(ts AS DATE)) >= 6 " +
       "GROUP BY event_type ORDER BY event_type"),
    "layout_zvalue" ->
      ("SELECT event_id, user_id, " +
       "CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS day, " +
       "CAST(list_sum(list_transform(range(31), b -> " +
       "((user_id >> b) & 1) * (CAST(1 AS BIGINT) << (2*b)) + " +
       "((day >> b) & 1) * (CAST(1 AS BIGINT) << (2*b+1)))) AS BIGINT) AS z " +
       "FROM events ORDER BY z, event_id"),
    // Delta-vs-index: band collisions across the mod-5 split, Jaccard
    // verified on the collided candidates only.
    "dedup_incremental" ->
      (s"WITH $shingleCtes, " +
       "DB AS (SELECT doc_id AS delta_id, b, k FROM BANDS WHERE doc_id % 5 = 0), " +
       "IB AS (SELECT doc_id AS index_id, b, k FROM BANDS WHERE doc_id % 5 <> 0), " +
       "CAND AS (SELECT DISTINCT d.delta_id, i.index_id FROM DB d " +
       "JOIN IB i ON d.b = i.b AND d.k = i.k), " +
       "SIZES AS (SELECT doc_id, count(*) AS nsh FROM SH GROUP BY doc_id), " +
       "COMMONS AS (SELECT c.delta_id, c.index_id, count(*) AS ncommon FROM CAND c " +
       "JOIN SH a ON a.doc_id = c.delta_id " +
       "JOIN SH b2 ON b2.doc_id = c.index_id AND b2.sh = a.sh " +
       "GROUP BY c.delta_id, c.index_id) " +
       "SELECT c.delta_id, c.index_id, " +
       "round(CAST(ncommon AS DOUBLE) / CAST(sa.nsh + sb.nsh - ncommon AS DOUBLE), 4) AS jaccard " +
       "FROM COMMONS c JOIN SIZES sa ON sa.doc_id = c.delta_id " +
       "JOIN SIZES sb ON sb.doc_id = c.index_id " +
       "WHERE round(CAST(ncommon AS DOUBLE) / CAST(sa.nsh + sb.nsh - ncommon AS DOUBLE), 4) >= 0.5 " +
       "ORDER BY delta_id, index_id"),
    // co-located join result == the plain join over the base tables
    "layout_bucketed_join" ->
      ("SELECT o_orderpriority, count(*) AS n_items, " +
       "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
       "(1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue " +
       "FROM orders JOIN lineitem ON l_orderkey = o_orderkey " +
       "GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    // the folded view == a from-scratch GROUP BY, bit-exact decimal sums
  ) ++ Map(
    "text_keywords" ->
      (s"WITH W AS (SELECT doc_id, string_split($docNorm, ' ') AS w FROM documents), " +
       "T AS (SELECT doc_id, unnest(w) AS term FROM W), " +
       "TF AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf FROM T GROUP BY doc_id, term), " +
       "N AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents), " +
       "DF AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM TF GROUP BY term HAVING count(*) >= 2), " +
       "S AS (SELECT tf.doc_id, tf.term, round(tf.tf * ln(n.n_docs / d.df), 4) AS tfidf " +
       "FROM TF tf JOIN DF d USING (term) CROSS JOIN N n), " +
       "R AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank " +
       "FROM S WHERE tfidf > 0) " +
       "SELECT doc_id, CAST(rank AS INT) AS rank, term, tfidf FROM R WHERE rank <= 3 " +
       "ORDER BY doc_id, rank"),
    // bigram LM: successor pairs via ranged indexing, MLE ratios of exact
    // counts, per-bigram logprob quantized to bigint before the doc sum
    "text_lm_score" ->
      (s"WITH W AS (SELECT doc_id, string_split($docNorm, ' ') AS w FROM documents), " +
       "AB AS (SELECT doc_id, w[i + 1] AS a, w[i + 2] AS b FROM " +
       "(SELECT doc_id, w, unnest(range(len(w) - 1)) AS i FROM W WHERE len(w) >= 2)), " +
       "CAB AS (SELECT a, b, count(*) AS c_ab FROM AB GROUP BY a, b), " +
       "CA AS (SELECT a, count(*) AS c_a FROM AB GROUP BY a), " +
       "LP AS (SELECT cab.a, cab.b, CAST(round(ln(CAST(c_ab AS DOUBLE) / CAST(c_a AS DOUBLE)) * 1000000.0) AS BIGINT) AS lp6 " +
       "FROM CAB cab JOIN CA USING (a)) " +
       "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams, " +
       "round(CAST(sum(lp6) AS DOUBLE) / (1000000.0 * count(*)), 4) AS mean_logprob " +
       "FROM AB JOIN LP USING (a, b) GROUP BY doc_id ORDER BY doc_id"),
    // funnel: the same shrinking first-after chain; frac = n/total
    "w8_funnel" ->
      ("WITH V AS (SELECT user_id, min(ts) AS t_view FROM events WHERE event_type = 'view' GROUP BY user_id), " +
       "C AS (SELECT e.user_id, min(e.ts) AS t_click FROM events e JOIN V USING (user_id) " +
       "WHERE e.event_type = 'click' AND e.ts > V.t_view AND e.ts <= V.t_view + INTERVAL 1 DAY GROUP BY e.user_id), " +
       "P AS (SELECT e.user_id, min(e.ts) AS t_purchase FROM events e JOIN C USING (user_id) " +
       "WHERE e.event_type = 'purchase' AND e.ts > C.t_click AND e.ts <= C.t_click + INTERVAL 1 DAY GROUP BY e.user_id), " +
       "U AS (SELECT DISTINCT user_id FROM events), " +
       "S AS (SELECT u.user_id, CASE WHEN p.user_id IS NOT NULL THEN '3_purchase' " +
       "WHEN c.user_id IS NOT NULL THEN '2_click' WHEN v.user_id IS NOT NULL THEN '1_view' " +
       "ELSE '0_none' END AS stage FROM U u LEFT JOIN V v ON u.user_id = v.user_id " +
       "LEFT JOIN C c ON u.user_id = c.user_id LEFT JOIN P p ON u.user_id = p.user_id) " +
       "SELECT stage, CAST(count(*) AS BIGINT) AS n_users, " +
       "round(CAST(count(*) AS DOUBLE) / (SELECT count(*) FROM U), 4) AS frac " +
       "FROM S GROUP BY stage ORDER BY stage"),
    // retention: distinct (user, day) joined to per-user first day
    "w9_retention" ->
      ("WITH F AS (SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day FROM events GROUP BY user_id), " +
       "A AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events) " +
       "SELECT strftime(f.cohort_day, '%Y-%m-%d') AS cohort_day, " +
       "CAST(a.day - f.cohort_day AS INT) AS day_offset, CAST(count(*) AS BIGINT) AS n_users " +
       "FROM A a JOIN F f USING (user_id) GROUP BY f.cohort_day, a.day - f.cohort_day " +
       "ORDER BY cohort_day, day_offset"),
    // incremental SCD2 apply: the engine builds to a cutoff then folds
    // the rest as a delta — the oracle is the FULL REBUILD, verbatim
    // scd2_priority SQL (row-identity is the whole claim)
    "scd2_apply" ->
      ("WITH DAILY AS (SELECT o_custkey, o_orderdate AS valid_from, o_orderpriority AS priority " +
       "FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey, o_orderdate ORDER BY o_orderkey DESC) AS rn " +
       "FROM orders) WHERE rn = 1), " +
       "R AS (SELECT *, lag(priority) OVER (PARTITION BY o_custkey ORDER BY valid_from) AS prev FROM DAILY), " +
       "F AS (SELECT o_custkey, valid_from, priority FROM R WHERE prev IS NULL OR prev <> priority), " +
       "V AS (SELECT o_custkey, valid_from, priority, " +
       "lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY valid_from) AS valid_to, " +
       "CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY valid_from) AS BIGINT) AS version FROM F) " +
       "SELECT o_custkey, version, valid_from, valid_to, priority, (valid_to IS NULL) AS is_current " +
       "FROM V ORDER BY o_custkey, version"),
    // streaming SCD2: drained dimension == the full rebuild, verbatim
    "stream_scd2_apply" ->
      ("WITH DAILY AS (SELECT o_custkey, o_orderdate AS valid_from, o_orderpriority AS priority " +
       "FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey, o_orderdate ORDER BY o_orderkey DESC) AS rn " +
       "FROM orders) WHERE rn = 1), " +
       "R AS (SELECT *, lag(priority) OVER (PARTITION BY o_custkey ORDER BY valid_from) AS prev FROM DAILY), " +
       "F AS (SELECT o_custkey, valid_from, priority FROM R WHERE prev IS NULL OR prev <> priority), " +
       "V AS (SELECT o_custkey, valid_from, priority, " +
       "lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY valid_from) AS valid_to, " +
       "CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY valid_from) AS BIGINT) AS version FROM F) " +
       "SELECT o_custkey, version, valid_from, valid_to, priority, (valid_to IS NULL) AS is_current " +
       "FROM V ORDER BY o_custkey, version"),
    // SCD2: dedup-within-day by max orderkey, run-starts via lag, close
    // versions via lead — same three-window chain as the Spark side
    "scd2_priority" ->
      ("WITH DAILY AS (SELECT o_custkey, o_orderdate AS valid_from, o_orderpriority AS priority " +
       "FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey, o_orderdate ORDER BY o_orderkey DESC) AS rn " +
       "FROM orders) WHERE rn = 1), " +
       "R AS (SELECT *, lag(priority) OVER (PARTITION BY o_custkey ORDER BY valid_from) AS prev FROM DAILY), " +
       "F AS (SELECT o_custkey, valid_from, priority FROM R WHERE prev IS NULL OR prev <> priority), " +
       "V AS (SELECT o_custkey, valid_from, priority, " +
       "lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY valid_from) AS valid_to, " +
       "CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY valid_from) AS BIGINT) AS version FROM F) " +
       "SELECT o_custkey, version, valid_from, valid_to, priority, (valid_to IS NULL) AS is_current " +
       "FROM V ORDER BY o_custkey, version"),
    // point-in-time lookup: same V chain, probes = last order minus one
    // day, interval containment with the null-open tail
    "scd2_asof_lookup" ->
      ("WITH DAILY AS (SELECT o_custkey, o_orderdate AS valid_from, o_orderpriority AS priority " +
       "FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey, o_orderdate ORDER BY o_orderkey DESC) AS rn " +
       "FROM orders) WHERE rn = 1), " +
       "R AS (SELECT *, lag(priority) OVER (PARTITION BY o_custkey ORDER BY valid_from) AS prev FROM DAILY), " +
       "F AS (SELECT o_custkey, valid_from, priority FROM R WHERE prev IS NULL OR prev <> priority), " +
       "V AS (SELECT o_custkey, valid_from, priority, " +
       "lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY valid_from) AS valid_to, " +
       "CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY valid_from) AS BIGINT) AS version FROM F), " +
       "P AS (SELECT o_custkey AS p_custkey, max(o_orderdate) - INTERVAL 1 DAY AS probe_ts " +
       "FROM orders GROUP BY o_custkey) " +
       "SELECT p.p_custkey AS o_custkey, p.probe_ts, v.version, v.priority, " +
       "(v.valid_to IS NULL) AS is_current FROM P p JOIN V v ON p.p_custkey = v.o_custkey " +
       "AND v.valid_from <= p.probe_ts AND (v.valid_to IS NULL OR v.valid_to > p.probe_ts) " +
       "ORDER BY o_custkey"),
    // equi-depth: ntile semantics match exactly (floor-division bucket
    // sizes, larger buckets first) given the same total order
    // outliers: integer-cents moments, one identically-spelled IEEE
    // expression per engine (no accumulation-order drift)
    "a13_outliers" ->
      ("WITH C AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS vc FROM events), " +
       "S AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n, CAST(sum(vc) AS BIGINT) AS s1, " +
       "CAST(sum(vc * vc) AS BIGINT) AS s2 FROM C GROUP BY event_type), " +
       "T AS (SELECT event_type, n, CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean_c, " +
       "CASE WHEN n <= 1 THEN 0.0 ELSE " +
       "sqrt((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) / " +
       "(CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))) END AS std_c FROM S) " +
       "SELECT c.event_type, t.n, round(t.mean_c / 100.0, 4) AS mean_value, " +
       "round(t.std_c / 100.0, 4) AS std_value, " +
       "CAST(sum(CASE WHEN abs(CAST(c.vc AS DOUBLE) - t.mean_c) > 3.0 * t.std_c THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers " +
       "FROM C c JOIN T t USING (event_type) " +
       "GROUP BY c.event_type, t.n, t.mean_c, t.std_c ORDER BY c.event_type"),
    "a12_equidepth" ->
      ("WITH B AS (SELECT o_totalprice, ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket " +
       "FROM orders) SELECT bucket, min(o_totalprice) AS lo, max(o_totalprice) AS hi, " +
       "CAST(count(*) AS BIGINT) AS n FROM B GROUP BY bucket ORDER BY bucket"),
    // histogram: identical IEEE expression chain for the bucket index —
    // (x-lo)/((hi-lo)/10) floor, clamped — so edges/counts hash-match;
    // the hi = lo CASE pins the zero-width degenerate range to bucket 0
    // on both sides (division by zero diverges between engines otherwise)
    "a11_histogram" ->
      ("WITH E AS (SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi FROM orders), " +
       "B AS (SELECT CAST(CASE WHEN hi = lo THEN 0 ELSE least(floor((o_totalprice - lo) / ((hi - lo) / 10)), 9) END AS INT) AS bucket, lo, hi " +
       "FROM orders CROSS JOIN E) " +
       "SELECT bucket, round(lo + bucket * (hi - lo) / 10, 4) AS lo_edge, " +
       "round(lo + (bucket + 1) * (hi - lo) / 10, 4) AS hi_edge, " +
       "CAST(count(*) AS BIGINT) AS n FROM B GROUP BY bucket, lo, hi ORDER BY bucket"),
    // profiling: one SELECT per column UNION ALLed (DuckDB has no stack);
    // means sum in decimal then divide as double — exact and order-free
    "profile_orders" -> {
      def one(c: String, num: Boolean) =
        s"SELECT '$c' AS \"column\", CAST(count(*) AS BIGINT) AS n_rows, " +
        s"CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls, " +
        s"CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct, " +
        s"CAST(min($c) AS VARCHAR) AS \"min\", CAST(max($c) AS VARCHAR) AS \"max\", " +
        (if (num)
          s"CAST(round(CAST(sum(CAST($c AS DECIMAL(27,4))) AS DOUBLE) / count($c), 4) AS VARCHAR)"
         else "CAST(NULL AS VARCHAR)") +
        " AS mean FROM orders"
      Seq("o_orderkey" -> true, "o_custkey" -> true, "o_orderstatus" -> false,
        "o_totalprice" -> true, "o_orderpriority" -> false)
        .map { case (c, n) => one(c, n) }
        .mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY \"column\"")
    },
    // centroids: replay the quantization (float->double widen, one double
    // multiply, half-away round — bit-identical per element), exact
    // integer sums, then one double division rounded to 6dp
    "sim_centroids" ->
      ("WITH D AS (SELECT label, unnest(range(len(embedding))) AS dim, embedding FROM embeddings), " +
       "Q AS (SELECT label, dim, CAST(round(CAST(embedding[dim + 1] AS DOUBLE) * 1000) AS BIGINT) AS q FROM D) " +
       "SELECT label, CAST(dim AS INT) AS dim, " +
       "round(CAST(sum(q) AS DOUBLE) / (1000.0 * count(*)), 6) AS centroid, " +
       "count(*) AS n FROM Q GROUP BY label, dim ORDER BY label, dim"),
    // assignment step: same centroid derivation, then exact bigint
    // distances (x_q·10^3 − c·10^6)² summed per (vec, centroid), argmin
    // via row_number with the label tie-break
    "sim_kmeans_assign" ->
      ("WITH Q0 AS (SELECT vec_id, label, unnest(range(len(embedding))) AS dim, embedding FROM embeddings), " +
       "Q AS (SELECT vec_id, label, dim, CAST(round(CAST(embedding[dim + 1] AS DOUBLE) * 1000) AS BIGINT) AS q FROM Q0), " +
       "C AS (SELECT label AS c_label, dim, " +
       "CAST(round(round(CAST(sum(q) AS DOUBLE) / (1000.0 * count(*)), 6) * 1000000.0) AS BIGINT) AS c6 " +
       "FROM Q GROUP BY label, dim), " +
       "DIST AS (SELECT x.vec_id, x.label, c.c_label, " +
       "sum((x.q * 1000 - c.c6) * (x.q * 1000 - c.c6)) AS d2 " +
       "FROM Q x JOIN C c ON x.dim = c.dim GROUP BY x.vec_id, x.label, c.c_label), " +
       "R AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, c_label) AS rk FROM DIST) " +
       "SELECT vec_id, label, c_label AS assigned, (c_label <> label) AS moved " +
       "FROM R WHERE rk = 1 ORDER BY vec_id"),
    // embedding outliers: the kmeans distance chain restricted to the
    // OWN label centroid, integer-div downscaled, a13's moment formula
    "sim_embedding_outliers" ->
      ("WITH Q0 AS (SELECT vec_id, label, unnest(range(len(embedding))) AS dim, embedding FROM embeddings), " +
       "Q AS (SELECT vec_id, label, dim, CAST(round(CAST(embedding[dim + 1] AS DOUBLE) * 1000) AS BIGINT) AS q FROM Q0), " +
       "C AS (SELECT label AS c_label, dim, " +
       "CAST(round(round(CAST(sum(q) AS DOUBLE) / (1000.0 * count(*)), 6) * 1000000.0) AS BIGINT) AS c6 " +
       "FROM Q GROUP BY label, dim), " +
       "DIST AS (SELECT x.vec_id, x.label, " +
       "sum((x.q * 1000 - c.c6) * (x.q * 1000 - c.c6)) AS d2 " +
       "FROM Q x JOIN C c ON x.dim = c.dim AND c.c_label = x.label GROUP BY x.vec_id, x.label), " +
       "DQ AS (SELECT vec_id, label, d2 // 100000000 AS d FROM DIST), " +
       "S AS (SELECT label, CAST(count(*) AS BIGINT) AS n, CAST(sum(d) AS BIGINT) AS s1, " +
       "CAST(sum(d * d) AS BIGINT) AS s2 FROM DQ GROUP BY label), " +
       "T AS (SELECT label, n, CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean_d, " +
       "CASE WHEN n <= 1 THEN 0.0 ELSE " +
       "sqrt((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) / " +
       "(CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))) END AS std_d FROM S) " +
       "SELECT q.label, t.n, round(t.mean_d, 4) AS mean_dist, " +
       "round(t.std_d, 4) AS std_dist, " +
       "CAST(sum(CASE WHEN abs(CAST(q.d AS DOUBLE) - t.mean_d) > 2.0 * t.std_d THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers " +
       "FROM DQ q JOIN T t USING (label) " +
       "GROUP BY q.label, t.n, t.mean_d, t.std_d ORDER BY q.label"),
    // PQ encode: kmeans CTEs restricted per subspace (dim // 8), argmin
    // per (vec, subspace) over the same exact bigint distances
    "sim_pq_codes" ->
      ("WITH Q0 AS (SELECT vec_id, label, unnest(range(len(embedding))) AS dim, embedding FROM embeddings), " +
       "Q AS (SELECT vec_id, label, dim, CAST(round(CAST(embedding[dim + 1] AS DOUBLE) * 1000) AS BIGINT) AS q FROM Q0), " +
       "C AS (SELECT label AS c_label, dim, " +
       "CAST(round(round(CAST(sum(q) AS DOUBLE) / (1000.0 * count(*)), 6) * 1000000.0) AS BIGINT) AS c6 " +
       "FROM Q GROUP BY label, dim), " +
       "DIST AS (SELECT x.vec_id, CAST(x.dim // 8 AS INT) AS sub, c.c_label, " +
       "sum((x.q * 1000 - c.c6) * (x.q * 1000 - c.c6)) AS d2 " +
       "FROM Q x JOIN C c ON x.dim = c.dim GROUP BY x.vec_id, x.dim // 8, c.c_label), " +
       "R AS (SELECT *, row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, c_label) AS rk FROM DIST) " +
       "SELECT vec_id, sub, c_label AS code FROM R WHERE rk = 1 ORDER BY vec_id, sub"),
    // PQ recall gate: codes chain + per-query ADC lookup table (exact
    // bigint distances), both sides ranked (d2, vec_id), overlap / k
    "sim_pq_recall" ->
      ("WITH Q0 AS (SELECT vec_id, label, unnest(range(len(embedding))) AS dim, embedding FROM embeddings), " +
       "Q AS (SELECT vec_id, label, dim, CAST(round(CAST(embedding[dim + 1] AS DOUBLE) * 1000) AS BIGINT) AS q FROM Q0), " +
       "C AS (SELECT label AS c_label, dim, " +
       "CAST(round(round(CAST(sum(q) AS DOUBLE) / (1000.0 * count(*)), 6) * 1000000.0) AS BIGINT) AS c6 " +
       "FROM Q GROUP BY label, dim), " +
       "PDIST AS (SELECT x.vec_id, CAST(x.dim // 8 AS INT) AS sub, c.c_label, " +
       "sum((x.q * 1000 - c.c6) * (x.q * 1000 - c.c6)) AS d2 " +
       "FROM Q x JOIN C c ON x.dim = c.dim GROUP BY x.vec_id, x.dim // 8, c.c_label), " +
       "PR AS (SELECT *, row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, c_label) AS rk FROM PDIST), " +
       "CODES AS (SELECT vec_id, sub, c_label AS code FROM PR WHERE rk = 1), " +
       "QV AS (SELECT vec_id AS qid, dim, q * 1000 AS qv FROM Q WHERE vec_id < 8), " +
       "EX AS (SELECT v.qid, x.vec_id, sum((v.qv - x.q * 1000) * (v.qv - x.q * 1000)) AS d2 " +
       "FROM QV v JOIN Q x ON v.dim = x.dim AND x.vec_id <> v.qid GROUP BY v.qid, x.vec_id), " +
       "EXR AS (SELECT qid, vec_id FROM (SELECT *, row_number() OVER " +
       "(PARTITION BY qid ORDER BY d2, vec_id) AS rk FROM EX) WHERE rk <= 3), " +
       "LUT AS (SELECT v.qid, CAST(v.dim // 8 AS INT) AS sub, c.c_label AS code, " +
       "sum((v.qv - c.c6) * (v.qv - c.c6)) AS sd2 " +
       "FROM QV v JOIN C c ON v.dim = c.dim GROUP BY v.qid, v.dim // 8, c.c_label), " +
       "ADC AS (SELECT l.qid, cd.vec_id, sum(l.sd2) AS d2 FROM CODES cd " +
       "JOIN LUT l ON l.sub = cd.sub AND l.code = cd.code " +
       "WHERE cd.vec_id <> l.qid GROUP BY l.qid, cd.vec_id), " +
       "ADCR AS (SELECT qid, vec_id FROM (SELECT *, row_number() OVER " +
       "(PARTITION BY qid ORDER BY d2, vec_id) AS rk FROM ADC) WHERE rk <= 10) " +
       "SELECT e.qid, round(CAST(count(a.vec_id) AS DOUBLE) / count(*), 4) AS recall " +
       "FROM EXR e LEFT JOIN ADCR a ON e.qid = a.qid AND e.vec_id = a.vec_id " +
       "GROUP BY e.qid ORDER BY e.qid"),
    // IVF-PQ: the pq_recall chain with the ADC join additionally
    // restricted to the query's sign-sketch bucket (annBucketCtes)
    "sim_ivfpq_recall" ->
      (s"WITH $annBucketCtes, " +
       "QB AS (SELECT vec_id AS qid, bucket FROM E WHERE vec_id < 8), " +
       "Q0 AS (SELECT vec_id, label, unnest(range(len(embedding))) AS dim, embedding FROM embeddings), " +
       "Q AS (SELECT vec_id, label, dim, CAST(round(CAST(embedding[dim + 1] AS DOUBLE) * 1000) AS BIGINT) AS q FROM Q0), " +
       "C AS (SELECT label AS c_label, dim, " +
       "CAST(round(round(CAST(sum(q) AS DOUBLE) / (1000.0 * count(*)), 6) * 1000000.0) AS BIGINT) AS c6 " +
       "FROM Q GROUP BY label, dim), " +
       "PDIST AS (SELECT x.vec_id, CAST(x.dim // 8 AS INT) AS sub, c.c_label, " +
       "sum((x.q * 1000 - c.c6) * (x.q * 1000 - c.c6)) AS d2 " +
       "FROM Q x JOIN C c ON x.dim = c.dim GROUP BY x.vec_id, x.dim // 8, c.c_label), " +
       "PR AS (SELECT *, row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, c_label) AS rk FROM PDIST), " +
       "CODES AS (SELECT vec_id, sub, c_label AS code FROM PR WHERE rk = 1), " +
       "QV AS (SELECT vec_id AS qid, dim, q * 1000 AS qv FROM Q WHERE vec_id < 8), " +
       "EX AS (SELECT v.qid, x.vec_id, sum((v.qv - x.q * 1000) * (v.qv - x.q * 1000)) AS d2 " +
       "FROM QV v JOIN Q x ON v.dim = x.dim AND x.vec_id <> v.qid GROUP BY v.qid, x.vec_id), " +
       "EXR AS (SELECT qid, vec_id FROM (SELECT *, row_number() OVER " +
       "(PARTITION BY qid ORDER BY d2, vec_id) AS rk FROM EX) WHERE rk <= 3), " +
       "LUT AS (SELECT v.qid, CAST(v.dim // 8 AS INT) AS sub, c.c_label AS code, " +
       "sum((v.qv - c.c6) * (v.qv - c.c6)) AS sd2 " +
       "FROM QV v JOIN C c ON v.dim = c.dim GROUP BY v.qid, v.dim // 8, c.c_label), " +
       "ADC AS (SELECT l.qid, cd.vec_id, sum(l.sd2) AS d2 FROM CODES cd " +
       "JOIN LUT l ON l.sub = cd.sub AND l.code = cd.code " +
       "JOIN E e ON e.vec_id = cd.vec_id JOIN QB qb ON qb.qid = l.qid AND qb.bucket = e.bucket " +
       "WHERE cd.vec_id <> l.qid GROUP BY l.qid, cd.vec_id), " +
       "ADCR AS (SELECT qid, vec_id FROM (SELECT *, row_number() OVER " +
       "(PARTITION BY qid ORDER BY d2, vec_id) AS rk FROM ADC) WHERE rk <= 10) " +
       "SELECT e.qid, round(CAST(count(a.vec_id) AS DOUBLE) / count(*), 4) AS recall " +
       "FROM EXR e LEFT JOIN ADCR a ON e.qid = a.qid AND e.vec_id = a.vec_id " +
       "GROUP BY e.qid ORDER BY e.qid"),
    // SymSpell join: same deletion-key expansion on both sides, exact
    // levenshtein verify, argmin via (dist, token) row_number
    "fuzzy_join_sym" -> {
      def delKeys(t: String) =
        s"unnest(list_append(list_transform(range(length($t)), " +
        s"i -> substr($t, 1, i) || substr($t, i + 2, length($t))), $t))"
      s"WITH W AS (SELECT doc_id, string_split($docNorm, ' ') AS w FROM documents), " +
      "V AS (SELECT DISTINCT unnest(w) AS token FROM W), " +
      "V4 AS (SELECT token FROM V WHERE length(token) >= 4), " +
      s"VK AS (SELECT token, ${delKeys("token")} AS k FROM V4), " +
      "P0 AS (SELECT doc_id, list_filter(w, x -> length(x) >= 4)[1] AS orig FROM W WHERE doc_id % 29 = 0), " +
      "P1 AS (SELECT doc_id, orig, (doc_id // 29) % length(orig) AS pos FROM P0 WHERE orig IS NOT NULL), " +
      "P AS (SELECT doc_id, substr(orig, 1, CAST(pos AS INT)) || substr(orig, CAST(pos AS INT) + 2, length(orig)) AS corrupted FROM P1), " +
      s"PK AS (SELECT doc_id, corrupted, ${delKeys("corrupted")} AS k FROM P), " +
      "C AS (SELECT pk.doc_id, pk.corrupted, vk.token, " +
      "CAST(levenshtein(pk.corrupted, vk.token) AS INT) AS dist " +
      "FROM PK pk JOIN VK vk ON pk.k = vk.k WHERE levenshtein(pk.corrupted, vk.token) <= 1), " +
      "R AS (SELECT *, row_number() OVER (PARTITION BY doc_id, corrupted ORDER BY dist, token) AS rk FROM C) " +
      "SELECT doc_id, corrupted, token AS matched, dist FROM R WHERE rk = 1 ORDER BY doc_id"
    },
    // per-source percentile gate: ratios rounded before quantile_cont so
    // both engines interpolate identical inputs (same pairing as a9)
    "text_quality_gate" ->
      (s"WITH R AS (SELECT doc_id, source, round(CAST(len(list_filter(string_split($docNorm, ' '), " +
       "x -> list_contains(['the','a','and','of','to','in','is'], x))) AS DOUBLE) / " +
       s"CAST(len(string_split($docNorm, ' ')) AS DOUBLE), 4) AS stop_ratio FROM documents), " +
       "T AS (SELECT source, round(quantile_cont(stop_ratio, 0.25), 4) AS thr FROM R GROUP BY source) " +
       "SELECT r.doc_id, r.source, r.stop_ratio, t.thr FROM R r JOIN T t ON r.source = t.source " +
       "WHERE r.stop_ratio >= t.thr ORDER BY r.doc_id"),
    // the full-distribution form of the gate: per-source percent_rank of
    // the (pre-rounded) ratio; (rank-1)/(n-1) tie semantics match Spark
    "text_quality_rank" ->
      (s"WITH R AS (SELECT doc_id, source, round(CAST(len(list_filter(string_split($docNorm, ' '), " +
       "x -> list_contains(['the','a','and','of','to','in','is'], x))) AS DOUBLE) / " +
       s"CAST(len(string_split($docNorm, ' ')) AS DOUBLE), 4) AS stopword_ratio FROM documents) " +
       "SELECT doc_id, source, stopword_ratio, " +
       "round(percent_rank() OVER (PARTITION BY source ORDER BY stopword_ratio), 4) AS q_rank " +
       "FROM R ORDER BY doc_id"),
    // snapshot diff/apply: the old/new snapshot derivations are part of
    // the contract (11th absent-in-old, 13th perturbed-in-old, 17th
    // deleted-in-new) — replayed here verbatim
    "snapshot_diff" ->
      (s"WITH OLD AS (SELECT doc_id, CASE WHEN doc_id % 13 = 0 " +
       s"THEN md5('old|' || $docNorm) ELSE md5($docNorm) END AS old_fp " +
       "FROM documents WHERE doc_id % 11 <> 0), " +
       s"NEW AS (SELECT doc_id, md5($docNorm) AS new_fp FROM documents WHERE doc_id % 17 <> 0), " +
       "D AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id, o.old_fp, n.new_fp, " +
       "CASE WHEN o.doc_id IS NULL THEN 'added' WHEN n.doc_id IS NULL THEN 'removed' " +
       "WHEN o.old_fp <> n.new_fp THEN 'changed' END AS change " +
       "FROM OLD o FULL OUTER JOIN NEW n ON o.doc_id = n.doc_id) " +
       "SELECT doc_id, change, old_fp, new_fp FROM D WHERE change IS NOT NULL ORDER BY doc_id"),
    // apply rolls old forward through the changelog; the result must be
    // row-identical to the new snapshot — the oracle replays the
    // anti-join + union rather than shortcutting to NEW, proving the
    // changelog plumbing (not just the end state)
    "snapshot_apply" ->
      (s"WITH OLD AS (SELECT doc_id, CASE WHEN doc_id % 13 = 0 " +
       s"THEN md5('old|' || $docNorm) ELSE md5($docNorm) END AS fp " +
       "FROM documents WHERE doc_id % 11 <> 0), " +
       s"NEW AS (SELECT doc_id, md5($docNorm) AS fp FROM documents WHERE doc_id % 17 <> 0), " +
       "D AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id, o.fp AS old_fp, n.fp AS new_fp, " +
       "CASE WHEN o.doc_id IS NULL THEN 'added' WHEN n.doc_id IS NULL THEN 'removed' " +
       "WHEN o.fp <> n.fp THEN 'changed' END AS change " +
       "FROM OLD o FULL OUTER JOIN NEW n ON o.doc_id = n.doc_id), " +
       "C AS (SELECT * FROM D WHERE change IS NOT NULL) " +
       "SELECT doc_id, fp FROM OLD WHERE doc_id NOT IN " +
       "(SELECT doc_id FROM C WHERE change IN ('removed', 'changed')) " +
       "UNION ALL SELECT doc_id, new_fp AS fp FROM C WHERE change IN ('added', 'changed') " +
       "ORDER BY doc_id"),
  )
}
