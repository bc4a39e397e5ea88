package graft

import org.apache.spark.sql.functions._

import graft.model.Tables
import graft.ops.Phrase

/** Phrase/proximity search ([[Phrase]]): the positional-index probe must
  * equal the scan-time predicate row-for-row (they index the same token
  * space), the probe's `term IN (…)` must reach the postings scan as a
  * data filter (the pruning that makes probe cost df-bounded instead of
  * corpus-bounded), and the token-offset arithmetic must survive the
  * edges (short docs, overlapping matches, repeated phrase terms). */
class PhraseSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private lazy val posTable: String = {
    val wh = java.nio.file.Files.createTempDirectory("graft-phrase-wh")
      .toFile.getAbsolutePath
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_phrase_test LOCATION '$wh'")
    Phrase.buildPositional(Tables.documents(spark, sfDir), "graft_phrase_test.d")
    "graft_phrase_test.d"
  }

  test("indexed phrase probe == scan-time phrase (2-term and 3-term)") {
    for (p <- Seq(Phrase.DefaultPhrase, Phrase.Phrase3)) {
      val scan = Phrase.phraseTopK(Tables.documents(spark, sfDir), p)
        .collect().toSeq
      val idx = Phrase.phraseIndexedTopK(spark, posTable, p).collect().toSeq
      assert(scan.nonEmpty, s"fixture phrase $p matched nothing — fixture rot")
      assert(idx === scan, s"indexed phrase $p diverged from scan-time")
    }
  }

  test("probe plan: term IN (...) reaches the postings scan as a data filter") {
    val df = Phrase.phraseIndexedTopK(spark, posTable, Phrase.DefaultPhrase)
    df.collect()
    val posScans = scans(df.queryExecution.executedPlan)
      .filter(_.output.exists(_.name == "positions"))
    assert(posScans.nonEmpty, "no positional-postings scan in the probe plan")
    assert(posScans.exists(_.dataFilters.exists {
      case in: org.apache.spark.sql.catalyst.expressions.In =>
        in.references.exists(_.name == "term")
      case inset: org.apache.spark.sql.catalyst.expressions.InSet =>
        inset.references.exists(_.name == "term")
      case _ => false
    }), "term IN (...) was not pushed into the postings scan")
  }

  test("edges: short docs, overlapping matches, repeated phrase terms") {
    import spark.implicits._
    val docs = Seq(
      (1L, "table"),                 // shorter than the phrase: no match
      (2L, "table scan"),            // exact: one match at offset 0
      (3L, "x table scan y table scan"), // two matches
      (4L, "scan scan scan"),        // overlap fixture for ["scan","scan"]
      (5L, "")                       // empty text
    ).toDF("doc_id", "text")

    val ts = Phrase.phraseTopK(docs, Seq("table", "scan")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(ts === Seq((3L, 2L, 1), (2L, 1L, 0)))

    // overlapping starts both count (positional semantics; the DuckDB
    // oracle's start-offset filter counts them identically)
    val ov = Phrase.phraseTopK(docs, Seq("scan", "scan")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(ov === Seq((4L, 2L, 0)))

    // repeated-term phrase through the INDEX path too (one map entry
    // serves both phrase offsets)
    val wh = java.nio.file.Files.createTempDirectory("graft-phrase-tiny")
      .toFile.getAbsolutePath
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_phrase_tiny LOCATION '$wh'")
    Phrase.buildPositional(docs, "graft_phrase_tiny.d")
    val ovIdx = Phrase.phraseIndexedTopK(spark, "graft_phrase_tiny.d",
      Seq("scan", "scan")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(ovIdx === ov, "indexed overlap semantics diverged from scan-time")
  }

  test("proximity: pair distances, window cut, deterministic order") {
    import spark.implicits._
    val docs = Seq(
      (1L, "join a filter"),           // dist 2: in (window 3)
      (2L, "join x x x filter"),       // dist 4: out
      (3L, "filter join"),             // dist 1 either order: in
      (4L, "join join filter filter"), // n_a=2 n_b=2, min dist 1
      (5L, "join only"),               // missing b: out
      (6L, "filter only")              // missing a: out
    ).toDF("doc_id", "text")
    val got = Phrase.proximityTopK(docs, "join", "filter", window = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getInt(3))).toSeq
    assert(got === Seq((3L, 1L, 1L, 1), (4L, 2L, 2L, 1), (1L, 1L, 1L, 2)))
  }

  test("fixture proximity row is non-empty at sf0.001") {
    val got = Phrase.proximityTopK(Tables.documents(spark, sfDir))
    assert(got.count() > 0, "proximity fixture matched nothing — fixture rot")
  }

  test("lifecycle: guarded delta, delete == rebuild-without-victims, " +
      "re-delete idempotent, compact folds physically") {
    val wh = java.nio.file.Files.createTempDirectory("graft-phrase-lc")
      .toFile.getAbsolutePath
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_phrase_lc LOCATION '$wh'")
    val docs = Tables.documents(spark, sfDir)
    Phrase.buildPositional(docs.filter(col("doc_id") % 2 === 0),
      "graft_phrase_lc.d")
    Phrase.positionalDelta("graft_phrase_lc.d",
      docs.filter(col("doc_id") % 2 === 1))
    // strict guard: re-ingesting an already-indexed id must throw, not
    // silently double-count occurrences
    intercept[Exception] {
      Phrase.positionalDelta("graft_phrase_lc.d", docs.limit(1))
    }
    val victims = docs.filter(col("doc_id") % 7 === 3).select(col("doc_id"))
    Phrase.positionalDelete("graft_phrase_lc.d", victims)

    // row identity: probe after delete == probe of a rebuild without them
    Phrase.buildPositional(docs.filter(col("doc_id") % 7 =!= 3),
      "graft_phrase_lc.r")
    val want = Phrase.phraseIndexedTopK(spark, "graft_phrase_lc.r")
      .collect().toSeq
    assert(want.nonEmpty, "victim set swallowed every phrase hit — fixture rot")
    val probe = Phrase.phraseIndexedTopK(spark, "graft_phrase_lc.d")
    assert(probe.collect().toSeq === want,
      "post-delete probe diverged from rebuild-without-victims")

    // the term IN (...) pruning survives the tombstone anti-join
    val posScans = scans(probe.queryExecution.executedPlan)
      .filter(_.output.exists(_.name == "positions"))
    assert(posScans.exists(_.dataFilters.exists(
      _.references.exists(_.name == "term"))),
      "tombstone anti-join displaced the term pruning filter")

    // re-delete is a no-op (freshOnly): sidecar row count unchanged
    val before = spark.table("graft_phrase_lc.d_tombstones").count()
    Phrase.positionalDelete("graft_phrase_lc.d", victims)
    assert(spark.table("graft_phrase_lc.d_tombstones").count() === before,
      "re-delete appended duplicate tombstones")

    // compact: victims physically gone, sidecar retired, probe identical
    Phrase.positionalCompact(spark, "graft_phrase_lc.d")
    assert(!spark.catalog.tableExists("graft_phrase_lc.d_tombstones"))
    assert(spark.table("graft_phrase_lc.d_pos")
      .join(victims, Seq("doc_id"), "left_semi").count() === 0,
      "compaction left victim postings physically present")
    assert(Phrase.phraseIndexedTopK(spark, "graft_phrase_lc.d")
      .collect().toSeq === want, "post-compact probe diverged")
  }

  test("batch probe == per-phrase single probes, per qid") {
    val batch = Phrase.phraseIndexedBatch(spark, posTable).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    val singles = Phrase.BatchPhrases.flatMap { case (qid, p) =>
      Phrase.phraseIndexedTopK(spark, posTable, p).collect()
        .map(r => (qid, r.getLong(0), r.getLong(1), r.getInt(2)))
    }.sortBy { case (q, d, occ, _) => (q, -occ, d) }
    assert(batch.nonEmpty, "batch fixture matched nothing — fixture rot")
    assert(batch === singles, "batch probe diverged from single probes")
  }

  test("idempotent delta: full replay is a physical no-op, mixed batch " +
      "ingests only the novel rows") {
    val wh = java.nio.file.Files.createTempDirectory("graft-phrase-st")
      .toFile.getAbsolutePath
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_phrase_st LOCATION '$wh'")
    val docs = Tables.documents(spark, sfDir)
    val half0 = docs.filter(col("doc_id") % 2 === 0)
    Phrase.positionalDeltaIdempotent("graft_phrase_st.d", half0) // bootstrap
    val n0 = spark.table("graft_phrase_st.d_pos").count()
    Phrase.positionalDeltaIdempotent("graft_phrase_st.d", half0) // replay
    assert(spark.table("graft_phrase_st.d_pos").count() === n0,
      "full replay appended postings — double-counted occurrences")
    Phrase.positionalDeltaIdempotent("graft_phrase_st.d", docs) // mixed
    Phrase.buildPositional(docs, "graft_phrase_st.r")
    assert(spark.table("graft_phrase_st.d_pos").count() ===
      spark.table("graft_phrase_st.r_pos").count(),
      "mixed batch did not converge to the one-shot build's postings")
    assert(Phrase.phraseIndexedTopK(spark, "graft_phrase_st.d")
      .collect().toSeq ===
      Phrase.phraseIndexedTopK(spark, "graft_phrase_st.r").collect().toSeq)
  }

  test("interrupted compact swap rolls forward to a readable index") {
    val wh = java.nio.file.Files.createTempDirectory("graft-phrase-rec")
      .toFile.getAbsolutePath
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_phrase_rec LOCATION '$wh'")
    val docs = Tables.documents(spark, sfDir)
    Phrase.buildPositional(docs, "graft_phrase_rec.d")
    val want = Phrase.phraseIndexedTopK(spark, "graft_phrase_rec.d")
      .collect().toSeq
    // simulate a crash mid-swap: staged copy complete, live renamed away
    spark.sql("ALTER TABLE graft_phrase_rec.d_pos RENAME TO " +
      "graft_phrase_rec.d_pos_compacting")
    assert(Phrase.recoverPositionalSwap(spark, "graft_phrase_rec.d"),
      "recover did not roll the staged copy forward")
    assert(Phrase.phraseIndexedTopK(spark, "graft_phrase_rec.d")
      .collect().toSeq === want, "rolled-forward index diverged")
  }

  test("delete of an id the index never held tombstones nothing: a later " +
      "delta of that id stays visible and survives compaction") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-phrase-unk")
      .toFile.getAbsolutePath
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_phrase_unk LOCATION '$wh'")
    val docs = Tables.documents(spark, sfDir)
    val id = Phrase.phraseTopK(docs).collect().head.getLong(0)
    val newcomer = docs.filter(col("doc_id") === id)
    Phrase.buildPositional(docs, "graft_phrase_unk.r")
    Phrase.buildPositional(docs.filter(col("doc_id") =!= id),
      "graft_phrase_unk.d")
    Phrase.positionalDelete("graft_phrase_unk.d", Seq(id).toDF("doc_id"))
    Phrase.positionalDelta("graft_phrase_unk.d", newcomer)
    val want = Phrase.phraseIndexedTopK(spark, "graft_phrase_unk.r")
      .collect().toSeq
    assert(Phrase.phraseIndexedTopK(spark, "graft_phrase_unk.d")
      .collect().toSeq === want, "the newcomer stayed hidden")
    Phrase.positionalCompact(spark, "graft_phrase_unk.d")
    def postings(t: String) =
      spark.table(s"${t}_pos").filter(col("doc_id") === id).count()
    assert(postings("graft_phrase_unk.d") === postings("graft_phrase_unk.r"),
      "compaction removed the newcomer's postings")
    assert(Phrase.phraseIndexedTopK(spark, "graft_phrase_unk.d")
      .collect().toSeq === want)
  }

  test("idempotent delta over a catalog stopped mid-swap rolls the staged " +
      "copy forward: every standing doc survives") {
    val wh = java.nio.file.Files.createTempDirectory("graft-phrase-mid")
      .toFile.getAbsolutePath
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_phrase_mid LOCATION '$wh'")
    val docs = Tables.documents(spark, sfDir)
    val t = "graft_phrase_mid.d"
    Phrase.buildPositional(docs.filter(col("doc_id") % 5 =!= 0), t)
    Phrase.buildPositional(docs, "graft_phrase_mid.r")
    // positionalCompact stopped after the rename-away: staged copy
    // complete, live generation renamed to _retired
    spark.table(s"${t}_pos").repartition(8, col("term"))
      .write.mode("overwrite").bucketBy(8, "term").sortBy("term")
      .format("parquet").saveAsTable(s"${t}_pos_compacting")
    spark.sql(s"ALTER TABLE ${t}_pos RENAME TO ${t}_pos_retired")
    Phrase.positionalDeltaIdempotent(t, docs.filter(col("doc_id") % 5 === 0))
    def ids(x: String) =
      spark.table(s"${x}_pos").select(col("doc_id")).distinct().count()
    assert(ids(t) === ids("graft_phrase_mid.r"),
      "standing docs were lost to a delta-only bootstrap")
    assert(Phrase.phraseIndexedTopK(spark, t).collect().toSeq ===
      Phrase.phraseIndexedTopK(spark, "graft_phrase_mid.r").collect().toSeq)
  }
}
