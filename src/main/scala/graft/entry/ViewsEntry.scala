package graft.entry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.IndelRatio
import graft.model.Tables
import graft.ops._
import graft.streaming.Streams

/** IVM / materialized views + CDC + streaming twins + dedup index lifecycle.
  * Rows split verbatim from SparkEntry (round 17); composed back in
  * [[graft.SparkEntry.queries]] / [[graft.SparkEntry.oracleSql]]. */
object ViewsEntry {
  import EntryFixtures._
  import OracleCtes._

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mv_orders_build" -> ((s, d) => {
      val wh = java.nio.file.Files.createTempDirectory("graft-mv")
        .toFile.getAbsolutePath
      s.sql(s"CREATE DATABASE IF NOT EXISTS graft_idx LOCATION '$wh'")
      val o = Tables.orders(s, d)
        .withColumn("price", col("o_totalprice").cast("decimal(18,2)"))
      val v = MatView.sum("graft_idx.mvo", Seq("o_custkey"), Seq("price"),
        "o_orderkey")
      v.build(o)
      v.read(s)
        .select(col("o_custkey"), col("cnt").as("n_orders"),
          col("sum_price").cast("double").as("sum_price"))
        .orderBy(col("o_custkey"))
    }),
    // the IVM lifecycle: build 80% -> delta 20% (delta-sized refresh,
    // base never re-read) -> delete every 7th order (negated partials)
    // -> compact (fold to one row per key) -> read == GROUP BY over the
    // survivors, bit-exact
    "mv_orders_lifecycle" -> ((s, d) => {
      val wh = java.nio.file.Files.createTempDirectory("graft-mvl")
        .toFile.getAbsolutePath
      s.sql(s"CREATE DATABASE IF NOT EXISTS graft_idx LOCATION '$wh'")
      val o = Tables.orders(s, d)
        .withColumn("price", col("o_totalprice").cast("decimal(18,2)"))
      val v = MatView.sum("graft_idx.mvol", Seq("o_custkey"), Seq("price"),
        "o_orderkey")
      v.build(o.filter(col("o_orderkey") % 5 =!= 0))
      v.delta(o.filter(col("o_orderkey") % 5 === 0))
      v.delete(o.filter(col("o_orderkey") % 7 === 3))
      v.compact(s)
      v.read(s)
        .select(col("o_custkey"), col("cnt").as("n_orders"),
          col("sum_price").cast("double").as("sum_price"))
        .orderBy(col("o_custkey"))
    }),
    // MIN/MAX IVM (the `_mm` structure): inserts stay delta-sized
    // (min/max ARE insert-associative partials), deletes RECOMPUTE the
    // affected groups from the surviving base (broadcast-semi-join
    // key-pruned — the honest non-additive cost model the additive
    // view's scaladoc names); read folds generations under the
    // latest-recompute-wins window, UNCOMPACTED here so the novel fold
    // path is what the oracle checks
    "mv_minmax_lifecycle" -> ((s, d) => {
      val wh = java.nio.file.Files.createTempDirectory("graft-mvmm")
        .toFile.getAbsolutePath
      s.sql(s"CREATE DATABASE IF NOT EXISTS graft_idx LOCATION '$wh'")
      val o = Tables.orders(s, d)
        .withColumn("price", col("o_totalprice").cast("decimal(18,2)"))
      val v = MatView.minMax("graft_idx.mvmm", Seq("o_custkey"),
        Seq("price"), "o_orderkey")
      v.build(o.filter(col("o_orderkey") % 5 =!= 0))
      v.delta(o.filter(col("o_orderkey") % 5 === 0))
      v.delete(o.filter(col("o_orderkey") % 7 === 3),
        o.filter(col("o_orderkey") % 7 =!= 3))
      v.read(s)
        .select(col("o_custkey"), col("cnt").as("n_orders"),
          col("min_price").cast("double").as("min_price"),
          col("max_price").cast("double").as("max_price"))
        .orderBy(col("o_custkey"))
    }),
    // TOP-K IVM (the `_tk` structure): min/max generalized from k=1 —
    // per-generation top-k partials are a guaranteed superset of the
    // folded top-k (any union-top-k row is in its own generation's
    // top-k), so inserts append ≤ k rows per touched key; deletes
    // recompute affected groups (evicting rank 1 must surface rank k+1,
    // which only the base knows); UNCOMPACTED read
    "mv_topk_lifecycle" -> ((s, d) => {
      val wh = java.nio.file.Files.createTempDirectory("graft-mvtk")
        .toFile.getAbsolutePath
      s.sql(s"CREATE DATABASE IF NOT EXISTS graft_idx LOCATION '$wh'")
      val o = Tables.orders(s, d)
        .withColumn("price", col("o_totalprice").cast("decimal(18,2)"))
      val v = MatView.topK("graft_idx.mvtk", Seq("o_orderpriority"),
        "price", "o_orderkey", 3)
      v.build(o.filter(col("o_orderkey") % 5 =!= 0))
      v.delta(o.filter(col("o_orderkey") % 5 === 0))
      v.delete(o.filter(col("o_orderkey") % 7 === 3),
        o.filter(col("o_orderkey") % 7 =!= 3))
      v.read(s)
        .select(col("o_orderpriority"), col("o_orderkey"),
          col("price").cast("double").as("price"), col("rk"))
        .orderBy(col("o_orderpriority"), col("rk"))
    }),
    // JOIN-VIEW IVM: the additive view pushed through a broadcast
    // fact⋈dim join — revenue per nation maintained under fact inserts
    // (delta probes the broadcast dim, |delta|-sized) and deletes
    // (negated joined partials), the standing fact and dim never
    // re-read; storage/read/compact are the plain `_mv` machinery
    "mv_join_lifecycle" -> ((s, d) => {
      val wh = java.nio.file.Files.createTempDirectory("graft-mvj")
        .toFile.getAbsolutePath
      s.sql(s"CREATE DATABASE IF NOT EXISTS graft_idx LOCATION '$wh'")
      val o = Tables.orders(s, d)
        .withColumn("price", col("o_totalprice").cast("decimal(18,2)"))
        .withColumnRenamed("o_custkey", "c_custkey")
      val dim = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey"))
      val v = MatView.join("graft_idx.mvj", dim, Seq("c_custkey"),
        Seq("c_nationkey"), Seq("price"), "o_orderkey")
      v.build(o.filter(col("o_orderkey") % 5 =!= 0))
      v.delta(o.filter(col("o_orderkey") % 5 === 0))
      v.delete(o.filter(col("o_orderkey") % 7 === 3))
      v.compact(s)
      v.read(s)
        .select(col("c_nationkey"), col("cnt").as("n_orders"),
          col("sum_price").cast("double").as("sum_price"))
        .orderBy(col("c_nationkey"))
    }),
    // EXACT COUNT DISTINCT IVM (the `_dv` refcounted support set):
    // distinct customers per order priority maintained under inserts
    // AND deletes — refcounts are additive where naive ndv storage is
    // not (a delete can't know whether its value still has supporters;
    // the refcount can); UNCOMPACTED read so the two-stage fold is what
    // the oracle checks
    "mv_distinct_lifecycle" -> ((s, d) => {
      val wh = java.nio.file.Files.createTempDirectory("graft-mvd")
        .toFile.getAbsolutePath
      s.sql(s"CREATE DATABASE IF NOT EXISTS graft_idx LOCATION '$wh'")
      val o = Tables.orders(s, d)
      val v = MatView.distinct("graft_idx.mvd", Seq("o_orderpriority"),
        "o_custkey", "o_orderkey")
      v.build(o.filter(col("o_orderkey") % 5 =!= 0))
      v.delta(o.filter(col("o_orderkey") % 5 === 0))
      v.delete(o.filter(col("o_orderkey") % 7 === 3))
      v.read(s)
        .select(col("o_orderpriority"), col("ndv"), col("cnt"))
        .orderBy(col("o_orderpriority"))
    }),
    // CDC through the JOIN VIEW: the change batch's fact images enrich
    // through the broadcast dim and fold as one applyCdc generation —
    // the dim probe commutes with the I/D split under immutability
    "mv_join_cdc" -> ((s, d) => {
      val wh = java.nio.file.Files.createTempDirectory("graft-mvjcdc")
        .toFile.getAbsolutePath
      s.sql(s"CREATE DATABASE IF NOT EXISTS graft_idx LOCATION '$wh'")
      val o = Tables.orders(s, d)
        .withColumn("price", col("o_totalprice").cast("decimal(18,2)"))
        .withColumnRenamed("o_custkey", "c_custkey")
      val dim = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey"))
      val v = MatView.join("graft_idx.mvjcdc", dim, Seq("c_custkey"),
        Seq("c_nationkey"), Seq("price"), "o_orderkey")
      v.build(o.filter(col("o_orderkey") % 5 =!= 0))
      val changes = o.filter(col("o_orderkey") % 5 === 0)
        .withColumn("op", lit("I"))
        .unionByName(o.filter(col("o_orderkey") % 5 =!= 0 &&
          col("o_orderkey") % 7 === 3).withColumn("op", lit("D")))
      v.applyCdc(0L, changes)
      v.read(s)
        .select(col("c_nationkey"), col("cnt").as("n_orders"),
          col("sum_price").cast("double").as("sum_price"))
        .orderBy(col("c_nationkey"))
    }),
    // STREAMING distinct-view maintenance: exact ndv kept fresh from a
    // real bounded feed (refcount partials per micro-batch, ledgered)
    "stream_mv_distinct" -> ((s, d) => {
      val wh = java.nio.file.Files.createTempDirectory("graft-mvds")
        .toFile.getAbsolutePath
      s.sql(s"CREATE DATABASE IF NOT EXISTS graft_idx LOCATION '$wh'")
      val o = Tables.orders(s, d)
      val v = MatView.distinct("graft_idx.mvds", Seq("o_orderpriority"),
        "o_custkey", "o_orderkey")
      Streams.replay(s, Seq(o.filter(col("o_orderkey") % 2 === 1),
          o.filter(col("o_orderkey") % 2 === 0)))(
        Streams.drain(_, "stream_mv_distinct") { (batch, bid) =>
          v.foldBatch(bid, batch)
        })
      v.read(s)
        .select(col("o_orderpriority"), col("ndv"), col("cnt"))
        .orderBy(col("o_orderpriority"))
    }),
    // STREAMING min/max-view maintenance: insert generations per
    // micro-batch (the insert-associative half; deletes are the
    // takedown-feed recompute, not a streaming fold)
    "stream_mv_minmax" -> ((s, d) => {
      val wh = java.nio.file.Files.createTempDirectory("graft-mvms")
        .toFile.getAbsolutePath
      s.sql(s"CREATE DATABASE IF NOT EXISTS graft_idx LOCATION '$wh'")
      val o = Tables.orders(s, d)
        .withColumn("price", col("o_totalprice").cast("decimal(18,2)"))
      val v = MatView.minMax("graft_idx.mvms", Seq("o_custkey"),
        Seq("price"), "o_orderkey")
      Streams.replay(s, Seq(o.filter(col("o_orderkey") % 2 === 1),
          o.filter(col("o_orderkey") % 2 === 0)))(
        Streams.drain(_, "stream_mv_minmax") { (batch, bid) =>
          v.foldBatch(bid, batch)
        })
      v.read(s)
        .select(col("o_custkey"), col("cnt").as("n_orders"),
          col("min_price").cast("double").as("min_price"),
          col("max_price").cast("double").as("max_price"))
        .orderBy(col("o_custkey"))
    }),
    // CDC-APPLIED view: one Debezium-shaped change batch (op = I/D with
    // full row images) folds as ONE appended generation — inserts'
    // partials + deletes' negated partials, batch-id idempotent; read
    // == GROUP BY over (base + inserts − deletes), bit-exact
    "mv_orders_cdc" -> ((s, d) => {
      val wh = java.nio.file.Files.createTempDirectory("graft-mvcdc")
        .toFile.getAbsolutePath
      s.sql(s"CREATE DATABASE IF NOT EXISTS graft_idx LOCATION '$wh'")
      val o = Tables.orders(s, d)
        .withColumn("price", col("o_totalprice").cast("decimal(18,2)"))
      val v = MatView.sum("graft_idx.mvcdc", Seq("o_custkey"), Seq("price"),
        "o_orderkey")
      v.build(o.filter(col("o_orderkey") % 5 =!= 0))
      val changes = o.filter(col("o_orderkey") % 5 === 0)
        .withColumn("op", lit("I"))
        .unionByName(o.filter(col("o_orderkey") % 5 =!= 0 &&
          col("o_orderkey") % 7 === 3).withColumn("op", lit("D")))
      v.applyCdc(0L, changes)
      v.read(s)
        .select(col("o_custkey"), col("cnt").as("n_orders"),
          col("sum_price").cast("double").as("sum_price"))
        .orderBy(col("o_custkey"))
    }),
    // STREAMING CDC: the change feed arrives as a real bounded stream —
    // an insert batch, then a mixed insert+delete batch; the drained
    // view answers the survivors' GROUP BY
    "stream_mv_cdc" -> ((s, d) => {
      val wh = java.nio.file.Files.createTempDirectory("graft-mvscdc")
        .toFile.getAbsolutePath
      s.sql(s"CREATE DATABASE IF NOT EXISTS graft_idx LOCATION '$wh'")
      val o = Tables.orders(s, d)
        .withColumn("price", col("o_totalprice").cast("decimal(18,2)"))
      val v = MatView.sum("graft_idx.mvscdc", Seq("o_custkey"),
        Seq("price"), "o_orderkey")
      v.build(o.filter(col("o_orderkey") % 5 =!= 0))
      Streams.replay(s, Seq(
          o.filter(col("o_orderkey") % 5 === 0 && col("o_orderkey") % 2 === 1)
            .withColumn("op", lit("I")),
          o.filter(col("o_orderkey") % 5 === 0 && col("o_orderkey") % 2 === 0)
            .withColumn("op", lit("I"))
            .unionByName(o.filter(col("o_orderkey") % 5 =!= 0 &&
              col("o_orderkey") % 7 === 3).withColumn("op", lit("D")))))(
        Streams.drain(_, "stream_mv_cdc") { (batch, bid) =>
          v.applyCdc(bid, batch)
        })
      v.read(s)
        .select(col("o_custkey"), col("cnt").as("n_orders"),
          col("sum_price").cast("double").as("sum_price"))
        .orderBy(col("o_custkey"))
    }),
    // STREAMING view maintenance: order rows arrive as a real bounded
    // stream, each micro-batch folds its delta-sized partials under the
    // batch-id ledger (same-bid crash redelivery is a no-op — spec-gated
    // directly, since a file feed can't replay a committed batch id);
    // the drained view answers the one-shot GROUP BY oracle
    "stream_mv_ingest" -> ((s, d) => {
      val wh = java.nio.file.Files.createTempDirectory("graft-mvs")
        .toFile.getAbsolutePath
      s.sql(s"CREATE DATABASE IF NOT EXISTS graft_idx LOCATION '$wh'")
      val o = Tables.orders(s, d)
        .withColumn("price", col("o_totalprice").cast("decimal(18,2)"))
      val v = MatView.sum("graft_idx.mvs", Seq("o_custkey"), Seq("price"),
        "o_orderkey")
      Streams.replay(s, Seq(o.filter(col("o_orderkey") % 2 === 1),
          o.filter(col("o_orderkey") % 2 === 0)))(
        Streams.drain(_, "stream_mv_ingest") { (batch, bid) =>
          v.foldBatch(bid, batch)
        })
      v.read(s)
        .select(col("o_custkey"), col("cnt").as("n_orders"),
          col("sum_price").cast("double").as("sum_price"))
        .orderBy(col("o_custkey"))
    }),
    // STREAMING SCD2 maintenance: the observation feed arrives as a
    // real bounded stream (two date-split files — batch 0 bootstraps
    // the dimension, batch 1 folds as an affected-keys-only apply);
    // the drained dimension answers the full-rebuild oracle verbatim
    "stream_scd2_apply" -> ((s, d) => {
      val wh = java.nio.file.Files.createTempDirectory("graft-scd2s")
        .toFile.getAbsolutePath
      s.sql(s"CREATE DATABASE IF NOT EXISTS graft_idx LOCATION '$wh'")
      val o = Tables.orders(s, d)
      val cut = to_date(lit("1996-01-01"))
      Streams.replay(s, Seq(o.filter(col("o_orderdate") <= cut),
          o.filter(col("o_orderdate") > cut)))(
        Streams.drain(_, "stream_scd2_apply") { (batch, bid) =>
          Scd.foldScd2Batch("graft_idx.scd2s", bid, batch, "o_custkey",
            "o_orderdate", "o_orderkey", "o_orderpriority")
        })
      s.table("graft_idx.scd2s_scd2")
        .select(col("o_custkey"), col("version"), col("valid_from"),
          col("valid_to"), col("o_orderpriority").as("priority"),
          col("is_current"))
        .orderBy(col("o_custkey"), col("version"))
    }),
    // streaming band-index ingest: index docs arrive as a REAL bounded
    // stream (two files, the second overlapping the first — replay in
    // the benched row); after the drain, candidates must equal the
    // build-at-once collisions
    "stream_dedup_ingest" -> ((s, d) => {
      val wh = java.nio.file.Files.createTempDirectory("graft-lsh-stream")
        .toFile.getAbsolutePath
      s.sql(s"CREATE DATABASE IF NOT EXISTS graft_idx LOCATION '$wh'")
      val docs = Tables.documents(s, d)
      val idx = docs.filter(col("doc_id") % 5 =!= 0)
      Streams.replay(s, Seq(idx.filter(col("doc_id") % 2 === 1), idx))(
        Streams.drain(_, "stream_dedup_ingest") { (batch, _) =>
          DedupIndex.deltaIdempotent(batch.sparkSession, "graft_idx.lshstream",
            batch)
        })
      DedupIndex.candidates(s, "graft_idx.lshstream",
        docs.filter(col("doc_id") % 5 === 0))
    }),
  )

  def oracleSql: Map[String, String] = Map(
    "mv_orders_build" ->
      ("SELECT o_custkey, count(*) AS n_orders, " +
       "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price " +
       "FROM orders GROUP BY o_custkey ORDER BY o_custkey"),
    // after delta + delete + compact: the survivors' GROUP BY exactly
    "mv_orders_lifecycle" ->
      ("SELECT o_custkey, count(*) AS n_orders, " +
       "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price " +
       "FROM orders WHERE o_orderkey % 7 <> 3 " +
       "GROUP BY o_custkey ORDER BY o_custkey"),
    // top-k view after build 80% -> delta 20% -> delete every 7th: the
    // survivors' per-priority top-3 by price (orderkey tie-break)
    "mv_topk_lifecycle" ->
      ("WITH R AS (SELECT o_orderpriority, o_orderkey, " +
       "CAST(o_totalprice AS DECIMAL(18,2)) AS p, " +
       "row_number() OVER (PARTITION BY o_orderpriority " +
       "ORDER BY CAST(o_totalprice AS DECIMAL(18,2)) DESC, o_orderkey) AS rk " +
       "FROM orders WHERE o_orderkey % 7 <> 3) " +
       "SELECT o_orderpriority, o_orderkey, CAST(p AS DOUBLE) AS price, " +
       "CAST(rk AS INT) AS rk FROM R WHERE rk <= 3 " +
       "ORDER BY o_orderpriority, rk"),
    // join view after build 80% -> delta 20% -> delete every 7th: the
    // survivors' fact⋈dim GROUP BY exactly (decimal-exact sums)
    "mv_join_lifecycle" ->
      ("SELECT c_nationkey, count(*) AS n_orders, " +
       "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price " +
       "FROM orders JOIN customer ON o_custkey = c_custkey " +
       "WHERE o_orderkey % 7 <> 3 " +
       "GROUP BY c_nationkey ORDER BY c_nationkey"),
    // distinct view after build 80% -> delta 20% -> delete every 7th:
    // the survivors' COUNT(DISTINCT) exactly — refcounts are exact
    "mv_distinct_lifecycle" ->
      ("SELECT o_orderpriority, count(DISTINCT o_custkey) AS ndv, " +
       "count(*) AS cnt FROM orders WHERE o_orderkey % 7 <> 3 " +
       "GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    // min/max view after build 80% -> delta 20% -> delete every 7th:
    // the survivors' min/max GROUP BY exactly (order-based, no rounding)
    "mv_minmax_lifecycle" ->
      ("SELECT o_custkey, count(*) AS n_orders, " +
       "CAST(min(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS min_price, " +
       "CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS max_price " +
       "FROM orders WHERE o_orderkey % 7 <> 3 " +
       "GROUP BY o_custkey ORDER BY o_custkey"),
    // version diff: the same deterministic v2, statuses by text compare
    "corpus_diff" ->
      ("WITH V2 AS (SELECT doc_id, CASE WHEN doc_id % 7 = 3 " +
       "THEN text || ' v2' ELSE text END AS text " +
       "FROM documents WHERE doc_id % 11 <> 5 " +
       "UNION ALL SELECT doc_id + 1000000 AS doc_id, text " +
       "FROM documents WHERE doc_id % 13 = 1) " +
       "SELECT status, count(*) AS n FROM (" +
       "SELECT CASE WHEN a.doc_id IS NULL THEN 'added' " +
       "WHEN b.doc_id IS NULL THEN 'removed' " +
       "WHEN a.text <> b.text THEN 'changed' " +
       "ELSE 'unchanged' END AS status " +
       "FROM documents a FULL OUTER JOIN V2 b ON a.doc_id = b.doc_id) " +
       "GROUP BY status ORDER BY status"),
    // a drained CDC stream: same survivors' GROUP BY as the batch row
    "stream_mv_cdc" ->
      ("SELECT o_custkey, count(*) AS n_orders, " +
       "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price " +
       "FROM orders WHERE NOT (o_orderkey % 5 <> 0 AND o_orderkey % 7 = 3) " +
       "GROUP BY o_custkey ORDER BY o_custkey"),
    // CDC batch applied: base + inserts − deletes, the survivors' GROUP BY
    "mv_orders_cdc" ->
      ("SELECT o_custkey, count(*) AS n_orders, " +
       "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price " +
       "FROM orders WHERE NOT (o_orderkey % 5 <> 0 AND o_orderkey % 7 = 3) " +
       "GROUP BY o_custkey ORDER BY o_custkey"),
    // the same CDC survivors, through the fact⋈dim join view
    "mv_join_cdc" ->
      ("SELECT c_nationkey, count(*) AS n_orders, " +
       "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price " +
       "FROM orders JOIN customer ON o_custkey = c_custkey " +
       "WHERE NOT (o_orderkey % 5 <> 0 AND o_orderkey % 7 = 3) " +
       "GROUP BY c_nationkey ORDER BY c_nationkey"),
    // a drained distinct-view stream == the one-shot COUNT(DISTINCT)
    "stream_mv_distinct" ->
      ("SELECT o_orderpriority, count(DISTINCT o_custkey) AS ndv, " +
       "count(*) AS cnt FROM orders " +
       "GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    // a drained min/max-view stream == the one-shot min/max GROUP BY
    "stream_mv_minmax" ->
      ("SELECT o_custkey, count(*) AS n_orders, " +
       "CAST(min(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS min_price, " +
       "CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS max_price " +
       "FROM orders GROUP BY o_custkey ORDER BY o_custkey"),
    // a drained view-maintenance stream == the one-shot GROUP BY
    "stream_mv_ingest" ->
      ("SELECT o_custkey, count(*) AS n_orders, " +
       "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price " +
       "FROM orders GROUP BY o_custkey ORDER BY o_custkey"),
    // a drained (replay-overlapped) band-ingest stream converges to the
    // build-at-once collisions
    "stream_dedup_ingest" ->
      (s"WITH $shingleCtes, " +
       "DB AS (SELECT doc_id AS delta_id, b, k FROM BANDS WHERE doc_id % 5 = 0), " +
       "IB AS (SELECT doc_id AS index_id, b, k FROM BANDS WHERE doc_id % 5 <> 0) " +
       "SELECT DISTINCT d.delta_id, i.index_id FROM DB d " +
       "JOIN IB i ON d.b = i.b AND d.k = i.k ORDER BY delta_id, index_id"),
    // capstone: base+delta invisible in the final state — survivors only
    "dedup_index_lifecycle" ->
      (s"WITH $shingleCtes, " +
       "DB AS (SELECT doc_id AS delta_id, b, k FROM BANDS WHERE doc_id % 5 = 0), " +
       "IB AS (SELECT doc_id AS index_id, b, k FROM BANDS " +
       "WHERE doc_id % 5 <> 0 AND doc_id % 7 <> 3) " +
       "SELECT DISTINCT d.delta_id, i.index_id FROM DB d " +
       "JOIN IB i ON d.b = i.b AND d.k = i.k ORDER BY delta_id, index_id"),
    // band collisions recomputed over the SURVIVING index docs only
    "dedup_index_delete" ->
      (s"WITH $shingleCtes, " +
       "DB AS (SELECT doc_id AS delta_id, b, k FROM BANDS WHERE doc_id % 5 = 0), " +
       "IB AS (SELECT doc_id AS index_id, b, k FROM BANDS " +
       "WHERE doc_id % 5 <> 0 AND doc_id % 7 <> 3) " +
       "SELECT DISTINCT d.delta_id, i.index_id FROM DB d " +
       "JOIN IB i ON d.b = i.b AND d.k = i.k ORDER BY delta_id, index_id"),
  )
}
