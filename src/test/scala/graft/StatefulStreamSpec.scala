package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.model.Tables
import graft.streaming.Streams

/** flatMapGroupsWithState running counters: streamed final state must equal
  * the batch group-by counts. */
class StatefulStreamSpec extends SparkSpec {

  test("stateful running user counts: final stream state == batch counts") {
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val expected = events.groupBy("user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    val dir = Files.createTempDirectory("events-state").toFile
    // two chunks → two micro-batches → state genuinely accumulates
    events.filter(col("event_id") % 2 === 0).write.parquet(dir + "/p1")
    val q = Streams.runningUserCounts(
      spark.readStream.schema(events.schema).parquet(dir + "/p1"))
      .writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("ruc").start()
    q.processAllAvailable()
    events.filter(col("event_id") % 2 === 1).write.mode("append").parquet(dir + "/p1")
    q.processAllAvailable()
    q.stop()

    // latest emitted count per user across micro-batches
    val got = spark.table("ruc").groupBy("user_id").agg(max("n").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expected)
  }

  test("streaming curation: final curated corpus == batch keep-first ∩ quality") {
    import graft.ops.{Dedup, TextAnalysis}
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val expected = docs
      .withColumn("h", md5(Dedup.normText(col("text")).cast("binary")))
      .groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
      .join(TextAnalysis.quality(docs).filter(col("quality") === "keep")
        .select(col("doc_id")), Seq("doc_id"), "left_semi")
      .collect().map(_.getLong(0)).toSet

    val in = Files.createTempDirectory("cur-in").toFile
    val out = Files.createTempDirectory("cur-out").toFile.getAbsolutePath + "/curated"
    // arrival order follows doc_id, so stream keep-first == batch min-id
    docs.filter(col("doc_id") < 250).write.parquet(in + "/p1")
    val q = Streams.incrementalCuration(
      spark.readStream.schema(docs.schema).parquet(in + "/p1"), out)
    q.processAllAvailable()
    docs.filter(col("doc_id") >= 250).write.mode("append").parquet(in + "/p1")
    q.processAllAvailable()
    q.stop()

    val got = spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(got === expected, "curated stream diverged from the batch keep set")
  }

  test("streaming index ingest: drained stream == one-shot build; replay is a no-op") {
    import graft.ops.Search
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val wh = Files.createTempDirectory("bm25-stream-wh").toFile.getAbsolutePath
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_bm25_stream_test LOCATION '$wh'")

    val feed = Files.createTempDirectory("bm25-stream-in").toFile.getAbsolutePath + "/in"
    docs.filter(col("doc_id") % 2 === 0).repartition(1).write.parquet(feed)
    docs.filter(col("doc_id") % 2 === 1).repartition(1)
      .write.mode("append").parquet(feed)
    // one file per trigger -> several micro-batches; batch 0 bootstraps
    // the index into an empty catalog
    val q = Streams.incrementalIndexing(
      spark.readStream.schema(docs.schema).option("maxFilesPerTrigger", 1)
        .parquet(feed),
      "graft_bm25_stream_test.idx")
    q.processAllAvailable(); q.stop()

    val got = Search.bm25Indexed(spark, "graft_bm25_stream_test.idx")
      .collect().map(_.toSeq)
    val want = Search.bm25TopK(docs).collect().map(_.toSeq)
    assert(got.nonEmpty)
    assert(got.toSeq === want.toSeq,
      "streamed index diverged from the one-shot build")

    // at-least-once replay: re-ingesting an already-processed batch must
    // change NOTHING (no new stats/guard rows, identical answers)
    val statsRows = spark.table("graft_bm25_stream_test.idx_stats").count()
    Search.indexDeltaIdempotent("graft_bm25_stream_test.idx",
      docs.filter(col("doc_id") % 2 === 0))
    assert(spark.table("graft_bm25_stream_test.idx_stats").count() === statsRows,
      "replayed batch added stats rows")
    assert(Search.bm25Indexed(spark, "graft_bm25_stream_test.idx")
      .collect().map(_.toSeq).toSeq === want.toSeq,
      "replayed batch changed the index answers")

    CacheScope.unpersistAll()
  }

  test("streaming index ingest: the calling session reads the drained index") {
    import graft.ops.Search
    import spark.implicits._
    val docs = Seq(
      (1L, "graph databases store students as nodes", "en", "synthetic", 39L),
      (2L, "spark runs the graph analytics in batch", "en", "synthetic", 39L),
      (3L, "students share a college and a board", "en", "synthetic", 36L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val wh = Files.createTempDirectory("bm25-fresh-wh").toFile.getAbsolutePath
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_bm25_fresh_test LOCATION '$wh'")
    val table = "graft_bm25_fresh_test.idx"
    Search.buildIndex(docs, table)
    val term = "quuxwort"
    // this session has now read the index: its relation cache holds it
    assert(Search.bm25Indexed(spark, table, Seq(term)).isEmpty)
    val newDoc = Seq((1000000L, s"$term $term arrives with the feed", "en",
      "synthetic", 35L)).toDF("doc_id", "text", "lang", "source", "n_chars")
    val feed = Files.createTempDirectory("bm25-fresh-in").toFile.getAbsolutePath + "/in"
    newDoc.repartition(1).write.parquet(feed)
    val q = Streams.incrementalIndexing(
      spark.readStream.schema(docs.schema).parquet(feed), table)
    try q.processAllAvailable() finally q.stop()
    val got = Search.bm25Indexed(spark, table, Seq(term)).collect()
      .map(_.getAs[Long]("doc_id")).toSeq
    assert(got === Seq(1000000L), "the drained document is not visible")
    spark.sql("DROP DATABASE graft_bm25_fresh_test CASCADE")
  }

  test("streaming curation: zero-keep first batch doesn't poison later batches") {
    import graft.ops.{Dedup, TextAnalysis}
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    // batch 1 is all rejects (n_tokens < 5 → "too_short"): the curated dir
    // is created with NO data files, which used to fail the next batch's
    // schema inference; the explicit-schema standing read must shrug it off
    val junk = spark.createDataFrame(Seq(
      (100000L, "x y", "en", "synthetic", 3L),
      (100001L, "p q", "en", "synthetic", 3L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val expected = docs
      .withColumn("h", md5(Dedup.normText(col("text")).cast("binary")))
      .groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
      .join(TextAnalysis.quality(docs).filter(col("quality") === "keep")
        .select(col("doc_id")), Seq("doc_id"), "left_semi")
      .collect().map(_.getLong(0)).toSet

    val in = Files.createTempDirectory("cur0-in").toFile
    val out = Files.createTempDirectory("cur0-out").toFile.getAbsolutePath + "/curated"
    junk.write.parquet(in + "/p1")
    val q = Streams.incrementalCuration(
      spark.readStream.schema(junk.schema).parquet(in + "/p1"), out)
    q.processAllAvailable()
    docs.write.mode("append").parquet(in + "/p1")
    q.processAllAvailable()
    q.stop()

    val got = spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(got === expected, "zero-keep first batch broke the standing corpus")
  }

  test("stream-static SCD2 as-of enrichment == the batch lookup") {
    import graft.ops.Scd
    val orders = Tables.orders(spark, "/root/testdata/sf0.001")
    val dim = Scd.customerPriorityScd2(orders)
    val probes = orders.groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("last_order"))
      .select(col("o_custkey").as("p_custkey"),
        (col("last_order") - expr("INTERVAL 1 DAY")).as("probe_ts"))
    val expected = Scd.asOfResolve(probes, dim).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getString(3))).toMap

    val dir = Files.createTempDirectory("scd-probes").toFile
    probes.filter(col("p_custkey") % 2 === 0).write.parquet(dir + "/p1")
    // the SAME resolve join, probe side streaming: the static dim is
    // re-read per micro-batch, no watermark, no state store
    val q = Scd.asOfResolve(
        spark.readStream.schema(probes.schema).parquet(dir + "/p1"), dim)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("scd_stream").start()
    q.processAllAvailable()
    probes.filter(col("p_custkey") % 2 === 1).write.mode("append").parquet(dir + "/p1")
    q.processAllAvailable()
    q.stop()

    val got = spark.table("scd_stream").collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getString(3))).toMap
    assert(got === expected, "streamed as-of resolution diverged from batch")
  }

  test("streaming CMS: the batch sketch builder runs unchanged on a stream") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val expected = graft.ops.Sketches.cmsSketch(docs).collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap

    val dir = Files.createTempDirectory("docs-cms").toFile
    docs.filter(col("doc_id") % 2 === 0).write.parquet(dir + "/p1")
    // the SAME builder: its groupBy-sum is mergeable, so streaming state
    // is the bounded depth x width sketch itself, never the term set
    val q = graft.ops.Sketches.cmsSketch(
      spark.readStream.schema(docs.schema).parquet(dir + "/p1"))
      .writeStream.outputMode(OutputMode.Complete)
      .format("memory").queryName("cms_stream").start()
    q.processAllAvailable()
    docs.filter(col("doc_id") % 2 === 1).write.mode("append").parquet(dir + "/p1")
    q.processAllAvailable()
    q.stop()

    val got = spark.table("cms_stream").collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got === expected, "streamed CMS diverged from the batch sketch")
  }

  test("rocksdb state store: stateful stream == batch under the scale-posture provider") {
    val restore = Streams.useRocksDbStateStore(spark)
    try {
      assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass")
        === Streams.RocksDbProvider)
      val events = Tables.events(spark, "/root/testdata/sf0.001")
      val expected = events.groupBy("user_id").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

      val dir = Files.createTempDirectory("events-state-rocksdb").toFile
      events.filter(col("event_id") % 2 === 0).write.parquet(dir + "/p1")
      val q = Streams.runningUserCounts(
        spark.readStream.schema(events.schema).parquet(dir + "/p1"))
        .writeStream.outputMode(OutputMode.Update)
        .format("memory").queryName("ruc_rocks").start()
      q.processAllAvailable()
      events.filter(col("event_id") % 2 === 1).write.mode("append").parquet(dir + "/p1")
      q.processAllAvailable()
      q.stop()

      val got = spark.table("ruc_rocks").groupBy("user_id").agg(max("n").as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === expected)
    } finally restore()
  }

  test("incremental packing across micro-batches == batch packSequences") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val expected = graft.ops.Packing.packSequences(docs)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(4), r.getLong(5))).toMap

    val dir = Files.createTempDirectory("docs-pack").toFile
    // id-ordered chunks → micro-batch boundaries respect shard order, so
    // the carried state must reproduce the batch prefix sums exactly
    docs.filter(col("doc_id") < 250).write.parquet(dir + "/p1")
    val q = Streams.incrementalPacking(
      spark.readStream.schema(docs.schema).parquet(dir + "/p1"))
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("ipack").start()
    q.processAllAvailable()
    docs.filter(col("doc_id") >= 250).write.mode("append").parquet(dir + "/p1")
    q.processAllAvailable()
    q.stop()

    val got = spark.table("ipack").collect().map(r => r.getLong(0) ->
      (r.getLong(2), r.getLong(4), r.getLong(5))).toMap
    assert(got.size === expected.size)
    assert(got === expected, "stream state diverged from batch prefix sums")
  }

  test("rocksdb state store: incremental packing (flatMapGroupsWithState) == batch") {
    val restore = Streams.useRocksDbStateStore(spark)
    try {
      val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      val expected = graft.ops.Packing.packSequences(docs)
        .collect().map(r => r.getLong(0) ->
          (r.getLong(2), r.getLong(4), r.getLong(5))).toMap

      val dir = Files.createTempDirectory("docs-pack-rocksdb").toFile
      docs.filter(col("doc_id") < 250).write.parquet(dir + "/p1")
      val q = Streams.incrementalPacking(
        spark.readStream.schema(docs.schema).parquet(dir + "/p1"))
        .writeStream.outputMode(OutputMode.Append)
        .format("memory").queryName("ipack_rocks").start()
      q.processAllAvailable()
      docs.filter(col("doc_id") >= 250).write.mode("append").parquet(dir + "/p1")
      q.processAllAvailable()
      q.stop()

      val got = spark.table("ipack_rocks").collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(4), r.getLong(5))).toMap
      assert(got === expected, "rocksdb-backed state diverged from batch prefix sums")
    } finally restore()
  }

  test("streaming funnel final stages == batch funnelStages") {
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val expected = graft.ops.Windows.funnelStages(events)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

    val mid = events.agg(expr("percentile(unix_micros(ts), 0.5)")).head().getDouble(0)
    val dir = Files.createTempDirectory("events-funnel").toFile
    // time-ordered chunks → batch boundaries respect event order, so the
    // carried state must land every user on the batch stage exactly
    events.filter(unix_micros(col("ts")) <= mid).write.parquet(dir + "/p1")
    val q = Streams.funnelStages(
      spark.readStream.schema(events.schema).parquet(dir + "/p1"))
      .writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("sfunnel").start()
    q.processAllAvailable()
    events.filter(unix_micros(col("ts")) > mid).write.mode("append").parquet(dir + "/p1")
    q.processAllAvailable()
    q.stop()

    // the LAST emitted stage per user (stages only ever advance)
    val rank = Map("0_none" -> 0, "1_view" -> 1, "2_click" -> 2, "3_purchase" -> 3)
    val got = spark.table("sfunnel").collect()
      .map(r => r.getLong(0) -> r.getString(1))
      .groupBy(_._1).map { case (u, ss) => u -> ss.map(_._2).maxBy(rank) }
    assert(got.size === expected.size)
    assert(got.toMap === expected, "stream funnel diverged from batch")
  }
}
