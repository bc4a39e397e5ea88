package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.model.Tables
import graft.streaming.Streams

/** Structured Streaming: the shared windowed transform must produce the same
  * result streamed as in batch, and the foreachBatch incremental-ingest hook
  * must compute the per-batch edge delta. */
class StreamingSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("windowed event counts: stream == batch") {
    val batchEvents = Tables.events(spark, sfDir)
    val expected = Streams.windowedEventCounts(batchEvents)
      .orderBy("hour", "event_type").collect().toSeq

    // File stream source needs a directory of just this table's files.
    val dir = Files.createTempDirectory("events-stream").toFile
    batchEvents.write.mode("overwrite").parquet(dir.getAbsolutePath)
    val q = Streams.startWindowedCounts(
      spark, dir.getAbsolutePath, batchEvents.schema, "wc_test")
    q.processAllAvailable()
    q.stop()
    val got = spark.table("wc_test").orderBy("hour", "event_type").collect().toSeq
    assert(got === expected)
  }

  test("session windows: stream == batch (native session_window state)") {
    val batchEvents = Tables.events(spark, sfDir)
    val expected = Streams.sessionWindows(batchEvents)
      .orderBy("user_id", "session_start").collect().toSeq
    val dir = Files.createTempDirectory("events-session-stream").toFile
    batchEvents.write.mode("overwrite").parquet(dir.getAbsolutePath)
    val q = Streams.sessionWindows(
        spark.readStream.schema(batchEvents.schema).parquet(dir.getAbsolutePath))
      .writeStream.outputMode("complete").format("memory")
      .queryName("sw_test").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sw_test")
      .orderBy("user_id", "session_start").collect().toSeq
    assert(got === expected)
  }

  test("stream-static enrichment join: stream == batch") {
    val batchEvents = Tables.events(spark, sfDir)
    val customer = Tables.customer(spark, sfDir)
    val expected = Streams.enrichedEventCounts(batchEvents, customer)
      .orderBy("hour", "nation").collect().toSeq
    assert(expected.nonEmpty)
    val dir = Files.createTempDirectory("events-enrich-stream").toFile
    batchEvents.write.mode("overwrite").parquet(dir.getAbsolutePath)
    val q = Streams.enrichedEventCounts(
        spark.readStream.schema(batchEvents.schema).parquet(dir.getAbsolutePath),
        customer)
      .writeStream.outputMode("complete").format("memory")
      .queryName("enrich_test").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("enrich_test").orderBy("hour", "nation").collect().toSeq
    assert(got === expected)
  }

  test("incremental ingest computes per-batch edge deltas via foreachBatch") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType, false), StructField("name", StringType),
      StructField("address", StringType), StructField("college", StringType),
      StructField("board", StringType), StructField("stream", StringType)))
    val existing = spark.createDataFrame(Seq(
      Row(1L, "a", "x", "c1", "b1", "s1"),
      Row(2L, "b", "y", "c2", "b1", "s2")).asJava, schema)

    val dir = Files.createTempDirectory("students-stream").toFile
    spark.createDataFrame(Seq(
      Row(3L, "c", "x", "c1", "b2", "s2")).asJava, schema)
      .write.mode("overwrite").parquet(dir.getAbsolutePath)

    var edges = Seq.empty[(Long, Long, String)]
    val q = Streams.incrementalIngest(
      spark,
      spark.readStream.schema(schema).parquet(dir.getAbsolutePath),
      existing,
      (delta, _) => edges = delta.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq)
    q.processAllAvailable()
    q.stop()
    assert(edges.toSet === Set(
      (1L, 3L, "SAME_COLLEGE"), (1L, 3L, "NEARBY"), (2L, 3L, "SAME_STREAM")))
  }

  test("drain labels every micro-batch job and keeps the caller's " +
      "description; replay leaves no feed behind and stops a failed query") {
    val sc = spark.sparkContext
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def feeds = tmp.list().filter(_.startsWith("graft-feed")).toSet
    val feedsBefore = feeds
    // description of every job the drain's query runs, by query id
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).foreach(p => jobs.add(
          (p.getProperty("sql.streaming.queryId"),
            p.getProperty("spark.job.description"))))
    }
    val events = Tables.events(spark, sfDir)
    val parts = Seq(events.filter(col("user_id") % 2 === 0),
      events.filter(col("user_id") % 2 === 1))
    var counts = Seq.empty[Long]
    var queryId = ""
    sc.addSparkListener(l)
    sc.setJobDescription("caller")
    try {
      Streams.replay(spark, parts) { feed =>
        val q = Streams.drain(feed, "spec") { (batch, _) =>
          counts :+= batch.count()
          batch.groupBy("event_type").count().collect()
        }
        queryId = q.id.toString
        q
      }
      assert(sc.getLocalProperty("spark.job.description") === "caller")
      Thread.sleep(1000) // listener delivery is async
      assert(counts === parts.map(_.count()))
      val drained = jobs.asScala.filter(_._1 == queryId).map(_._2).toSet
      assert(drained === Set("graft stream spec: batch 0",
        "graft stream spec: batch 1"))
    } finally {
      sc.removeSparkListener(l)
      sc.setJobDescription(null)
    }

    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      Streams.replay(spark, parts)(Streams.drain(_, "spec_failing") {
        (_, _) => throw new IllegalStateException("sink failed")
      })
    }
    assert(e.getMessage.contains("sink failed"))
    assert(spark.streams.active.isEmpty, "a failed drain left its query up")
    assert(feeds === feedsBefore, "replay left a feed directory behind")
  }

  test("streaming dedup (dropDuplicatesWithinWatermark): stream keys == batch keys") {
    val batchEvents = Tables.events(spark, sfDir)
    val expected = Streams.dedupEvents(batchEvents)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet

    val dir = Files.createTempDirectory("events-dedup").toFile
    batchEvents.write.mode("overwrite").parquet(dir.getAbsolutePath)
    val q = Streams.dedupEvents(
      spark.readStream.schema(batchEvents.schema).parquet(dir.getAbsolutePath))
      .writeStream.outputMode("append").format("memory").queryName("dedup_test")
      .start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("dedup_test")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got === expected)
  }

  test("streaming near-dup flags: stream == batch, and the plan is stateless") {
    val docs = Tables.documents(spark, sfDir)
    val delta = docs.filter(col("doc_id") % 5 === 0)
    val index = docs.filter(col("doc_id") % 5 =!= 0)
    val expected = Streams.nearDupCandidates(delta, index)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(expected.nonEmpty)
    // the flagged docs must cover every verified incremental near-dup
    val verified = graft.ops.Dedup.incrementalNearDup(index, delta)
      .collect().map(_.getAs[Long]("delta_id")).toSet
    assert(verified.subsetOf(expected.map(_._1)))

    val dir = Files.createTempDirectory("docs-delta-stream").toFile
    delta.write.mode("overwrite").parquet(dir.getAbsolutePath)
    val q = Streams.nearDupCandidates(
        spark.readStream.schema(delta.schema).parquet(dir.getAbsolutePath), index)
      .writeStream.outputMode("append").format("memory").queryName("neardup_test")
      .start()
    q.processAllAvailable()
    val stateOps = Option(q.lastProgress)
      .map(_.stateOperators.length).getOrElse(0)
    q.stop()
    val got = spark.table("neardup_test")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(got === expected)
    assert(stateOps === 0, "the flagging stream must hold no state")
  }

  test("stream-stream interval join: purchases within 1h of a click, stream == batch") {
    val batchEvents = Tables.events(spark, sfDir)
    val expected = Streams.purchasesAfterClicks(batchEvents, batchEvents)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    val dir = Files.createTempDirectory("events-ssjoin").toFile
    batchEvents.write.mode("overwrite").parquet(dir.getAbsolutePath)
    def stream = spark.readStream.schema(batchEvents.schema)
      .parquet(dir.getAbsolutePath)
    val q = Streams.purchasesAfterClicks(stream, stream)
      .writeStream.outputMode("append").format("memory").queryName("ssjoin_test")
      .start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ssjoin_test")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(expected.nonEmpty && got === expected)
  }
}
