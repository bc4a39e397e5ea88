package graft

import org.apache.spark.sql.functions._

import graft.model.Tables
import graft.ops.{Dedup, FuzzySearch, Search, Similarity, Tombstones}
import graft.ops.Similarity.Codec

/** The tombstone deletion lifecycle ([[graft.ops.Tombstones]]) — the one
  * CRUD edge the insert-only index families lacked: delete must be
  * sidecar-append-sized (never a standing-data rewrite), probes must
  * exclude victims exactly (BM25: row-identical to a from-scratch
  * rebuild without them, negative stats rows included), the probe plan
  * must stay broadcast-anti-join + DPP-pruned, re-deletes must be
  * idempotent (no double-subtracted stats), and compaction must fold the
  * tombstones away physically without moving a single result. */
class IndexDeleteSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSeq

  private def freshDb(tag: String): String = {
    val wh = java.nio.file.Files.createTempDirectory(s"graft-$tag")
      .toFile.getAbsolutePath
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_${tag}_test LOCATION '$wh'")
    s"graft_${tag}_test"
  }

  test("bm25 indexDelete == from-scratch rebuild without the victims; " +
      "re-delete idempotent; compact folds the tombstones away") {
    val db = freshDb("bmdel")
    val docs = Tables.documents(spark, sfDir)
    val victims = docs.filter(col("doc_id") % 7 === 3).select(col("doc_id"))

    // the rebuild-score identity below is exact only when every victim
    // has postings rows — a zero-term doc is invisible to the presence
    // probe (documented caveat on indexDelete); assert the fixture has
    // none so the identity this spec gates is the exact one
    assert(docs.filter(size(Dedup.words(col("text"))) === 0).count() === 0,
      "fixture rot: zero-term docs present — the rebuild identity would " +
        "carry the documented phantom-doc caveat")

    Search.buildIndex(docs, s"$db.full")
    // teeth: the delete set must actually intersect the pre-delete top-k,
    // otherwise this spec would pass with a no-op filter
    val before = Search.bm25Indexed(spark, s"$db.full")
    assert(before.filter(col("doc_id") % 7 === 3).count() > 0,
      "fixture rot: no deleted doc in the pre-delete top-k — the spec " +
        "would not exercise the tombstone filter")

    Search.indexDelete(s"$db.full", victims)
    val got = Search.bm25Indexed(spark, s"$db.full")

    Search.buildIndex(docs.filter(col("doc_id") % 7 =!= 3), s"$db.wiped")
    val want = Search.bm25Indexed(spark, s"$db.wiped")
    assert(rows(got) === rows(want),
      "post-delete scores diverged from the rebuild-without-victims " +
        "scores (df/n_docs/avgdl must all reflect the surviving corpus)")

    // the batch frontend reads through the same filter
    import spark.implicits._
    val q = Seq((1L, "signal marker")).toDF("qid", "q")
    assert(rows(Search.bm25TopKBatch(spark, s"$db.full", q, 10))
        === rows(Search.bm25TopKBatch(spark, s"$db.wiped", q, 10)),
      "batch probe diverged from the rebuild-without-victims scores")

    // probe plan: the sidecar is BROADCAST (anti-join above the postings
    // scan), never shuffled or scanned as a fact side
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"tombstone filter is not a broadcast anti-join:\n$plan")

    // idempotent re-delete: the negative stats row must not double-count
    val statsBefore = rows(spark.table(s"$db.full_stats")
      .agg(sum("n_docs"), sum("sum_dl")))
    Search.indexDelete(s"$db.full", victims)
    assert(rows(spark.table(s"$db.full_stats")
        .agg(sum("n_docs"), sum("sum_dl"))) === statsBefore,
      "re-delete double-subtracted the additive stats")
    // unknown ids are ignored entirely
    Search.indexDelete(s"$db.full", Seq(999999999L).toDF("doc_id"))
    assert(rows(spark.table(s"$db.full_stats")
        .agg(sum("n_docs"), sum("sum_dl"))) === statsBefore,
      "deleting an unknown id perturbed the stats")

    // compaction folds: victims physically gone, sidecar dropped, stats
    // one corrected row, results unmoved
    Search.compactIndex(spark, s"$db.full")
    assert(!spark.catalog.tableExists(s"$db.full_tombstones"),
      "compaction left the tombstone sidecar standing")
    assert(spark.table(s"$db.full_postings")
        .filter(col("doc_id") % 7 === 3).count() === 0,
      "compaction left tombstoned postings physically present")
    assert(rows(Search.bm25Indexed(spark, s"$db.full")) === rows(want),
      "compaction moved the post-delete results")
    assert(spark.table(s"$db.full_stats").count() === 1,
      "compaction did not fold the stats rows")

    // after the fold, a deleted doc_id is re-ingestable as a plain insert
    Search.indexDelta(s"$db.full",
      docs.filter(col("doc_id") % 7 === 3).limit(1))
  }

  test("ivf ivfIndexDelete: victims never surface, plan keeps DPP + " +
      "broadcast anti-join, compact folds, fused layouts filtered too") {
    val db = freshDb("ivfdel")
    val emb = Tables.embeddings(spark, sfDir)
    val t = s"$db.ivf"
    Similarity.buildIvfIndex(emb, t)

    val before = Similarity.annIvfIndexedTopK(spark, t)
    // delete exactly the vectors the fixture queries retrieved (minus
    // the query anchors themselves) — maximal teeth: every query's
    // top-k must change
    val victimIds = before.filter(col("vec_id") >= 8)
      .select(col("vec_id")).distinct()
    val nVictims = victimIds.count()
    assert(nVictims > 0, "fixture rot: no non-anchor results to delete")
    Similarity.ivfIndexDelete(t, victimIds)

    val got = Similarity.annIvfIndexedTopK(spark, t)
    val gotRows = rows(got)
    val victimSet = victimIds.collect().map(_.getLong(0)).toSet
    assert(!gotRows.exists(r => victimSet(r(1).asInstanceOf[Long])),
      "a deleted vector surfaced as a candidate")
    // ranks must REFILL from the surviving corpus, not just drop rows
    assert(got.count() === before.count(),
      "post-delete top-k did not refill to k from survivors")

    // plan: DPP on the cell-partitioned scan survives the anti-join
    val plan = got.queryExecution.executedPlan
    val planStr = plan.toString
    assert(scans(plan).filter(_.relation.partitionSchema.nonEmpty)
        .exists(_.partitionFilters.exists(
          _.toString.toLowerCase.contains("dynamicpruning"))),
      s"tombstone filter broke DPP on the index scan:\n$planStr")
    assert(planStr.contains("BroadcastHashJoin") &&
        planStr.contains("LeftAnti"),
      s"tombstone filter is not a broadcast anti-join:\n$planStr")

    // idempotent re-delete: sidecar row count unchanged
    val sidecarRows = spark.table(s"${t}_tombstones").count()
    Similarity.ivfIndexDelete(t, victimIds)
    assert(spark.table(s"${t}_tombstones").count() === sidecarRows,
      "re-delete appended duplicate tombstones")

    // compaction folds: physical exclusion, sidecar dropped, results
    // unmoved, guard allows re-insert
    Similarity.compactIvfIndex(spark, t)
    assert(!spark.catalog.tableExists(s"${t}_tombstones"),
      "compaction left the tombstone sidecar standing")
    assert(spark.table(s"${t}_ivf")
        .filter(col("vec_id").isin(victimSet.toSeq: _*)).count() === 0,
      "compaction left tombstoned vectors physically present")
    assert(rows(Similarity.annIvfIndexedTopK(spark, t)) === gotRows,
      "compaction moved the post-delete results")
    Similarity.ivfIndexDelta(t,
      emb.filter(col("vec_id") === lit(victimSet.head)))

    // the FUSED layouts share the lists: a delete must filter the ADC
    // candidates too (same sidecar, same anti-join)
    val tf = s"$db.ivfpq"
    Similarity.buildIvfIndex(emb, tf, Codec.Pq)
    val pqBefore = Similarity.annIvfPqIndexedTopK(spark, tf)
    val pqVictims = pqBefore.filter(col("vec_id") >= 8)
      .select(col("vec_id")).distinct()
    assert(pqVictims.count() > 0, "fixture rot: no fused victims")
    Similarity.ivfIndexDelete(tf, pqVictims)
    val pqSet = pqVictims.collect().map(_.getLong(0)).toSet
    assert(!rows(Similarity.annIvfPqIndexedTopK(spark, tf))
        .exists(r => pqSet(r(1).asInstanceOf[Long])),
      "a deleted vector surfaced through the fused ADC probe")
  }

  test("fuzzy indexDelete == rebuild without the victims (single + batch " +
      "probes, advisory gramdf included); re-delete idempotent; compact " +
      "folds names AND grams physically") {
    import spark.implicits._
    val db = freshDb("fzdel")
    val students = Tables.students(spark, sfDir)
    val t = s"$db.fz"
    val q = "customer#000000012"

    FuzzySearch.buildIndex(students, t)
    FuzzySearch.writeGramDf(spark, t) // opt into the advisory sidecar
    val before = FuzzySearch.topKIndexed(spark, t, q)
    // maximal teeth: delete every pre-delete hit except the exact match —
    // the post-delete top-k must refill entirely from survivors
    val victims = before.filter(lower(col("name")) =!= q)
      .select(col("id")).distinct().localCheckpoint()
    assert(victims.count() > 0, "fixture rot: nothing to delete")
    FuzzySearch.indexDelete(t, victims)

    val got = FuzzySearch.topKIndexed(spark, t, q)
    val victimSet = victims.collect().map(_.getLong(0)).toSet
    val wiped = students.filter(!col("id").isin(victimSet.toSeq: _*))
    val tw = s"$db.fzw"
    FuzzySearch.buildIndex(wiped, tw)
    FuzzySearch.writeGramDf(spark, tw)
    val want = FuzzySearch.topKIndexed(spark, tw, q)
    assert(rows(got) === rows(want),
      "post-delete fuzzy top-k diverged from the rebuild-without-victims " +
        "rows (both candidate arms must read through the tombstone filter)")
    assert(got.count() === before.count(),
      "post-delete top-k did not refill to k from survivors")

    // the batch frontend reads through the same filter
    val bq = Seq((1L, q), (2L, "custoner#000000011")).toDF("qid", "q")
    assert(rows(FuzzySearch.topKIndexedBatch(spark, t, bq, 70.0, 5,
        positional = false, prefixSkip = true))
        === rows(FuzzySearch.topKIndexedBatch(spark, tw, bq, 70.0, 5,
        positional = false, prefixSkip = true)),
      "batch probe diverged from the rebuild-without-victims rows")

    // advisory gramdf: the negative correction must make per-gram sums
    // exactly the rebuild's df values (zero-sum grams = fully-deleted)
    def dfMap(tbl: String) = spark.table(s"${tbl}_gramdf")
      .groupBy(col("bucket"), col("gram")).agg(sum(col("df")).as("df"))
      .filter(col("df") =!= 0L).collect()
      .map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(dfMap(t) === dfMap(tw),
      "gramdf negative correction diverged from the rebuild's df values")

    // probe plan: broadcast anti-join above the names read, and the
    // postings scan KEEPS its static bucket pruning (the tombstone
    // filter sits on the names side — the gram probe must be untouched)
    val gotPlan = got.queryExecution.executedPlan
    val plan = gotPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"tombstone filter is not a broadcast anti-join:\n$plan")
    assert(scans(gotPlan).filter(_.relation.partitionSchema.nonEmpty)
        .exists(_.partitionFilters.nonEmpty),
      s"tombstone filter broke bucket pruning on the gram scan:\n$plan")

    // idempotent re-delete: sidecar AND advisory correction unchanged
    val sidecarRows = spark.table(s"${t}_tombstones").count()
    val dfBefore = dfMap(t)
    FuzzySearch.indexDelete(t, victims)
    assert(spark.table(s"${t}_tombstones").count() === sidecarRows,
      "re-delete appended duplicate tombstones")
    assert(dfMap(t) === dfBefore,
      "re-delete double-subtracted the advisory gramdf")
    // unknown ids are ignored entirely
    FuzzySearch.indexDelete(t, Seq(999999999L).toDF("id"))
    assert(spark.table(s"${t}_tombstones").count() === sidecarRows,
      "deleting an unknown id appended a tombstone")

    // compaction folds: names and grams physically purged, sidecar
    // dropped, results unmoved, deleted id re-ingestable again
    FuzzySearch.compactIndex(spark, t)
    assert(!spark.catalog.tableExists(s"${t}_tombstones"),
      "compaction left the tombstone sidecar standing")
    assert(spark.table(s"${t}_names")
        .filter(col("id").isin(victimSet.toSeq: _*)).count() === 0,
      "compaction left tombstoned name rows physically present")
    assert(spark.table(s"${t}_grams")
        .filter(col("id").isin(victimSet.toSeq: _*)).count() === 0,
      "compaction left tombstoned gram postings physically present")
    assert(rows(FuzzySearch.topKIndexed(spark, t, q)) === rows(want),
      "compaction moved the post-delete results")
    FuzzySearch.indexDelta(t,
      students.filter(col("id") === lit(victimSet.head)))
  }

  test("interrupted names-swap states are recoverable: mid-swap rolls " +
      "forward, stale staged copy is dropped, ingest preambles repair") {
    val db = freshDb("nswap")
    val students = Tables.students(spark, sfDir)
    val t = s"$db.fz"
    val q = "customer#000000012"
    FuzzySearch.buildIndex(students, t)
    val want = rows(FuzzySearch.topKIndexed(spark, t, q))

    // state: crash AFTER the staged copy completed and the live table
    // was renamed away, BEFORE the rename-in (the only state with no
    // readable live table) — recovery must roll the staged copy forward
    spark.sql(s"CREATE TABLE ${t}_names_compacting AS SELECT * FROM ${t}_names")
    spark.sql(s"ALTER TABLE ${t}_names RENAME TO ${t}_names_retired")
    assert(!spark.catalog.tableExists(s"${t}_names"))
    assert(FuzzySearch.recoverNamesSwap(spark, t),
      "mid-swap state did not roll forward")
    assert(spark.catalog.tableExists(s"${t}_names") &&
      !spark.catalog.tableExists(s"${t}_names_compacting") &&
      !spark.catalog.tableExists(s"${t}_names_retired"),
      "roll-forward left swap debris")
    assert(rows(FuzzySearch.topKIndexed(spark, t, q)) === want,
      "roll-forward changed the standing names")

    // state: crash DURING staging (staged partial/complete, live intact)
    // — the live table is authoritative; the stale staged copy drops.
    // The ingest preamble runs the same repair, so a delta ingests
    // cleanly over the torn state
    spark.sql(s"CREATE TABLE ${t}_names_compacting AS " +
      s"SELECT * FROM ${t}_names LIMIT 1")
    assert(!FuzzySearch.recoverNamesSwap(spark, t),
      "a stale staged copy must not roll forward over a live table")
    assert(!spark.catalog.tableExists(s"${t}_names_compacting"),
      "stale staged copy not dropped")
    assert(rows(FuzzySearch.topKIndexed(spark, t, q)) === want,
      "stale-staged repair changed the standing names")

    // state: crash after rename-in, before the retired drop — leftover
    // retired generation is dropped on the next recovery
    spark.sql(s"CREATE TABLE ${t}_names_retired AS " +
      s"SELECT * FROM ${t}_names LIMIT 1")
    FuzzySearch.recoverNamesSwap(spark, t)
    assert(!spark.catalog.tableExists(s"${t}_names_retired"),
      "leftover retired generation not dropped")
  }

  test("streaming delete feed with overlapping redelivery: replayed " +
      "victims are no-ops (no double-subtracted stats), drained stream " +
      "== batch delete") {
    val db = freshDb("sdel")
    val docs = Tables.documents(spark, sfDir)
    val t = s"$db.bm"
    Search.buildIndex(docs, t)
    val victims = docs.filter(col("doc_id") % 7 === 3).select(col("doc_id"))

    // batch reference on a second index
    Search.buildIndex(docs, s"$db.ref")
    Search.indexDelete(s"$db.ref", victims)
    val want = rows(Search.bm25Indexed(spark, s"$db.ref"))

    // the feed delivers HALF the victims, then ALL of them — the second
    // micro-batch REDELIVERS every id of the first (the at-least-once
    // crash-between-ingest-and-checkpoint shape, made deterministic)
    val feed = java.nio.file.Files.createTempDirectory("graft-sdel-feed")
      .toFile.getAbsolutePath + "/in"
    victims.filter(col("doc_id") % 2 === 1).repartition(1)
      .write.parquet(feed)
    victims.repartition(1).write.mode("append").parquet(feed)
    val q = graft.streaming.Streams.incrementalDeletion(
      spark.readStream.schema(victims.schema)
        .option("maxFilesPerTrigger", 1).parquet(feed),
      Search.indexDelete(t, _))
    q.processAllAvailable(); q.stop()

    assert(rows(Search.bm25Indexed(spark, t)) === want,
      "drained delete stream diverged from the batch delete")
    // the replayed half must not have double-subtracted the stats: the
    // additive fold must equal the reference index's fold exactly
    assert(rows(spark.table(s"${t}_stats").agg(sum("n_docs"), sum("sum_dl")))
        === rows(spark.table(s"$db.ref_stats")
          .agg(sum("n_docs"), sum("sum_dl"))),
      "overlapping redelivery double-subtracted the additive stats")
    // and the sidecar holds each victim exactly once
    assert(spark.table(s"${t}_tombstones").count() ===
        spark.table(s"${t}_tombstones").select("doc_id").distinct().count(),
      "redelivery appended duplicate tombstones")
  }

  test("streaming delete feed: a caller that read the index before the " +
      "drain reads the post-delete index, _stats fold included") {
    val db = freshDb("sdelcaller")
    val docs = Tables.documents(spark, sfDir)
    val t = s"$db.bm"
    Search.buildIndex(docs, t)
    val victims = docs.filter(col("doc_id") % 7 === 3).select(col("doc_id"))
    Search.buildIndex(docs.join(victims, Seq("doc_id"), "left_anti"),
      s"$db.ref")

    // the read primes this session's cached relations of the index tables;
    // the deletes then run in the stream's own session
    Search.bm25Indexed(spark, t).collect()
    graft.streaming.Streams.replay(spark, Seq(victims))(
      graft.streaming.Streams.incrementalDeletion(_, Search.indexDelete(t, _)))

    assert(rows(Search.bm25Indexed(spark, t)) ===
        rows(Search.bm25Indexed(spark, s"$db.ref")),
      "the caller read the pre-drain index")
    assert(rows(spark.table(s"${t}_stats").agg(sum("n_docs"), sum("sum_dl")))
        === rows(spark.table(s"$db.ref_stats")
          .agg(sum("n_docs"), sum("sum_dl"))),
      "the caller's _stats fold missed the deletion's negative row")
  }

  test("tombstoned id is refused by strict delta and skipped by " +
      "idempotent delta until compaction") {
    val db = freshDb("delguard")
    val docs = Tables.documents(spark, sfDir)
    val t = s"$db.bm"
    Search.buildIndex(docs, t)
    val victim = docs.filter(col("doc_id") === 0).select(col("doc_id"))
    Search.indexDelete(t, victim)
    // strict delta: still refused — the rows are physically present and
    // an append would be shadowed by the standing tombstone
    intercept[IllegalArgumentException] {
      Search.indexDelta(t, docs.filter(col("doc_id") === 0))
    }
    // idempotent delta: skipped, not duplicated
    val postings = spark.table(s"${t}_postings")
      .filter(col("doc_id") === 0).count()
    Search.indexDeltaIdempotent(t, docs.filter(col("doc_id") === 0))
    assert(spark.table(s"${t}_postings")
        .filter(col("doc_id") === 0).count() === postings,
      "idempotent delta re-ingested a tombstoned id")
  }

  test("compactionAdvice: no sidecar -> keep with zero dead; below the " +
      "threshold -> keep; crossing it -> compact; exact dead count") {
    val db = freshDb("adv")
    val docs = graft.model.Tables.documents(spark, sfDir)
    Search.buildIndex(docs, s"$db.idx")
    val postings = spark.table(s"$db.idx_postings")

    val clean = Tombstones.compactionAdvice(spark, s"$db.idx",
      postings, "doc_id").collect()(0)
    assert(clean.getLong(1) === 0L && clean.getString(3) === "keep",
      "an undeleted index must advise keep with zero dead rows")

    // delete ~1/7 of docs: dead postings fraction < 0.2 -> keep
    Search.indexDelete(s"$db.idx",
      docs.filter(col("doc_id") % 7 === 3).select(col("doc_id")))
    val below = Tombstones.compactionAdvice(spark, s"$db.idx",
      postings, "doc_id").collect()(0)
    val wantDead = postings.filter(col("doc_id") % 7 === 3).count()
    assert(below.getLong(1) === wantDead,
      s"dead count ${below.getLong(1)} != shadowed postings $wantDead")
    assert(below.getString(3) === "keep",
      s"~1/7 dead must stay below the 0.2 threshold: $below")

    // widen the delete past the threshold -> compact
    Search.indexDelete(s"$db.idx",
      docs.filter(col("doc_id") % 5 === 0).select(col("doc_id")))
    val above = Tombstones.compactionAdvice(spark, s"$db.idx",
      postings, "doc_id").collect()(0)
    assert(above.getString(3) === "compact",
      s"~31% dead must advise compact: $above")
    assert(above.getDouble(2) > 0.2 && above.getDouble(2) < 0.45)
  }
}
