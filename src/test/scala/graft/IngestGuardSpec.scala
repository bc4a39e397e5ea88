package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.model.Tables
import graft.ops.{DedupIndex, FuzzySearch, Phrase, Search, Similarity}

/** The idempotent (at-least-once) deltas of the five guarded index
  * families read the guard sidecar ONCE per clean batch: the replay
  * filter's read serves the append, which then needs no second
  * disjointness probe. A replayed batch stays a physical no-op. */
class IngestGuardSpec extends SparkSpec {
  private val sfDir = "/root/testdata/sf0.001"
  private val Marker = "guard_spec_marker"

  /** Scans of `{table}_guard` by the queries `body` runs in this session.
    * Listener delivery is asynchronous but ordered, so a marker query run
    * after `body` arrives after every query of `body`. */
  private def guardScans(table: String)(body: => Unit): Int = {
    val guard = table.split('.').last + "_guard"
    val seen = new ConcurrentLinkedQueue[Int]
    val done = new CountDownLatch(1)
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        if (qe.analyzed.output.exists(_.name == Marker)) done.countDown()
        else seen.add(scans(qe.executedPlan)
          .count(_.tableIdentifier.exists(_.table == guard)))
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      body
      spark.range(1).select(lit(1).as(Marker)).collect()
      assert(done.await(60, TimeUnit.SECONDS), "listener never saw the marker")
    } finally spark.listenerManager.unregister(l)
    seen.asScala.sum
  }

  private def database(name: String): Unit = {
    val wh = java.nio.file.Files.createTempDirectory(name)
      .toFile.getAbsolutePath
    spark.sql(s"DROP DATABASE IF EXISTS $name CASCADE")
    spark.sql(s"CREATE DATABASE $name LOCATION '$wh'")
  }

  /** One clean idempotent delta scans the guard once; replaying it leaves
    * every listed table's row count as it was. */
  private def oneReadThenNoOp(table: String, tables: Seq[String],
      delta: DataFrame)(ingest: DataFrame => Unit): Unit = {
    assert(guardScans(table)(ingest(delta)) === 1,
      s"$table: a clean idempotent delta read the guard more than once")
    val before = tables.map(spark.table(_).count())
    ingest(delta)
    assert(tables.map(spark.table(_).count()) === before,
      s"$table: a replayed batch changed the index")
  }

  test("bm25: one guard read per idempotent delta and per streamed batch; " +
      "replay is a no-op") {
    database("graft_guard_bm25")
    val t = "graft_guard_bm25.idx"
    val docs = Tables.documents(spark, sfDir)
    Search.buildIndex(docs.filter(col("doc_id") % 3 =!= 0), t)
    oneReadThenNoOp(t, Seq(s"${t}_postings", s"${t}_stats", s"${t}_guard"),
      docs.filter(col("doc_id") % 3 === 0 && col("doc_id") % 2 === 0))(
      Search.indexDeltaIdempotent(t, _))
    // the streaming sink's step: the compaction decision reuses the read
    assert(guardScans(t)(Search.streamedBatch(t,
        docs.filter(col("doc_id") % 3 === 0 && col("doc_id") % 2 === 1),
        maxBatches = 16)) === 1,
      "a streamed micro-batch read the guard more than once")
    val expected = Search.bm25Indexed(spark, t).collect().toSeq
    Search.buildIndex(docs, "graft_guard_bm25.full")
    assert(Search.bm25Indexed(spark, "graft_guard_bm25.full").collect().toSeq ===
      expected, "delta-grown index diverged from the one-shot build")
  }

  test("positional, fuzzy, dedup and IVF: one guard read per idempotent " +
      "delta; replay is a no-op") {
    database("graft_guard_fam")
    val docs = Tables.documents(spark, sfDir)
    val students = Tables.students(spark, sfDir)
    val emb = Tables.embeddings(spark, sfDir)

    Phrase.buildPositional(docs.filter(col("doc_id") % 5 =!= 0),
      "graft_guard_fam.pos")
    oneReadThenNoOp("graft_guard_fam.pos", Seq("graft_guard_fam.pos_pos"),
      docs.filter(col("doc_id") % 5 === 0))(
      Phrase.positionalDeltaIdempotent("graft_guard_fam.pos", _))

    FuzzySearch.buildIndex(students.filter(col("id") % 5 =!= 0),
      "graft_guard_fam.fz")
    oneReadThenNoOp("graft_guard_fam.fz",
      Seq("graft_guard_fam.fz_names", "graft_guard_fam.fz_grams"),
      students.filter(col("id") % 5 === 0))(
      FuzzySearch.indexDeltaIdempotent("graft_guard_fam.fz", _))

    DedupIndex.build(docs.filter(col("doc_id") % 5 =!= 0),
      "graft_guard_fam.lsh")
    oneReadThenNoOp("graft_guard_fam.lsh", Seq("graft_guard_fam.lsh"),
      docs.filter(col("doc_id") % 5 === 0))(
      DedupIndex.deltaIdempotent(spark, "graft_guard_fam.lsh", _))

    Similarity.buildIvfIndex(emb.filter(col("vec_id") % 5 =!= 0),
      "graft_guard_fam.ivf")
    oneReadThenNoOp("graft_guard_fam.ivf", Seq("graft_guard_fam.ivf_ivf"),
      emb.filter(col("vec_id") % 5 === 0))(
      Similarity.ivfIndexDeltaIdempotent("graft_guard_fam.ivf", _))
    assert(spark.table("graft_guard_fam.ivf_ivf").count() === emb.count())
  }
}
