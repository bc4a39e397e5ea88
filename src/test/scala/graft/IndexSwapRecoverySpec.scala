package graft

import org.apache.spark.sql.functions._

import graft.model.Tables
import graft.ops.{Search, Similarity}

/** Round-12 durability hardening of the compaction swap
  * ([[Search.compactIndex]] / [[Similarity.compactIvfIndex]]): Spark has no
  * atomic table-replace DDL, so the swap is made CRASH-RECOVERABLE instead —
  * every intermediate catalog state rolls forward to a readable index, and
  * the ingest paths refuse to bootstrap over a mid-swap catalog (the
  * delta-only-postings-against-full-corpus-stats silent-mis-score hazard).
  * Each test SIMULATES the crash by executing the swap's steps up to a
  * chosen point and stopping. */
class IndexSwapRecoverySpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("bm25 swap crash mid-rename: roll-forward restores identical answers") {
    import java.nio.file.Files
    val docs = Tables.documents(spark, sfDir)
    val wh = Files.createTempDirectory("graft-swapcrash-wh").toFile.getAbsolutePath
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_swapcrash LOCATION '$wh'")
    val t = "graft_swapcrash.idx"
    Search.buildIndex(docs.filter(col("doc_id") % 5 =!= 0), t)
    Search.indexDelta(t, docs.filter(col("doc_id") % 5 === 0))
    val want = Search.bm25Indexed(spark, t).collect().map(_.toSeq)

    // simulate compactIndex crashing BETWEEN the rename-away and the
    // rename-in: stage the rewrite, rename the live table away, stop.
    spark.table(s"${t}_postings")
      .repartition(8, col("term"))
      .write.mode("overwrite").bucketBy(8, "term").sortBy("term")
      .format("parquet").saveAsTable(s"${t}_postings_compacting")
    spark.sql(s"ALTER TABLE ${t}_postings RENAME TO ${t}_postings_retired")
    assert(!spark.catalog.tableExists(s"${t}_postings"))

    // recovery rolls the staged (complete) copy forward and cleans up
    assert(Search.recoverIndexSwap(spark, t), "roll-forward did not fire")
    assert(spark.catalog.tableExists(s"${t}_postings"))
    assert(!spark.catalog.tableExists(s"${t}_postings_compacting"))
    assert(!spark.catalog.tableExists(s"${t}_postings_retired"))
    assert(Search.bm25Indexed(spark, t).collect().map(_.toSeq).toSeq === want.toSeq,
      "recovered index diverged")

    // a leftover staged copy NEXT TO a live table (crash before the
    // rename-away) is dropped, not rolled forward — the live index wins
    spark.table(s"${t}_postings").limit(1)
      .write.mode("overwrite").format("parquet")
      .saveAsTable(s"${t}_postings_compacting")
    assert(!Search.recoverIndexSwap(spark, t))
    assert(!spark.catalog.tableExists(s"${t}_postings_compacting"))

    // and a real compaction over the recovered index still lands clean
    Search.compactIndex(spark, t)
    assert(Search.bm25Indexed(spark, t).collect().map(_.toSeq).toSeq === want.toSeq)
  }

  test("indexDelta refuses to bootstrap over a mid-swap catalog; ingest resumes after roll-forward") {
    import java.nio.file.Files
    val docs = Tables.documents(spark, sfDir)
    val wh = Files.createTempDirectory("graft-swapref-wh").toFile.getAbsolutePath
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_swapref LOCATION '$wh'")
    val t = "graft_swapref.idx"
    Search.buildIndex(docs.filter(col("doc_id") % 5 < 3), t)

    // postings gone, stats+guard standing, NO staged copy to roll forward:
    // bootstrap must refuse loudly (silently creating a delta-only postings
    // table against the full-corpus additive stats mis-scores every query)
    spark.sql(s"DROP TABLE ${t}_postings")
    val ex = intercept[IllegalArgumentException] {
      Search.indexDelta(t, docs.filter(col("doc_id") % 5 === 3))
    }
    assert(ex.getMessage.contains("refusing to bootstrap"), ex.getMessage)

    // same state WITH a staged copy: ingest recovers implicitly and lands
    spark.sql(s"DROP TABLE ${t}_stats")
    spark.sql(s"DROP TABLE ${t}_guard")
    Search.buildIndex(docs.filter(col("doc_id") % 5 < 3), t)
    val want = Search.bm25TopK(docs.filter(col("doc_id") % 5 < 4))
      .collect().map(_.toSeq)
    spark.table(s"${t}_postings")
      .repartition(8, col("term"))
      .write.mode("overwrite").bucketBy(8, "term").sortBy("term")
      .format("parquet").saveAsTable(s"${t}_postings_compacting")
    spark.sql(s"ALTER TABLE ${t}_postings RENAME TO ${t}_postings_retired")
    Search.indexDelta(t, docs.filter(col("doc_id") % 5 === 3))
    assert(Search.bm25Indexed(spark, t).collect().map(_.toSeq).toSeq === want.toSeq,
      "post-recovery ingest diverged from the scan path")
  }

  test("IVF swap crash mid-rename: roll-forward restores identical ANN answers; delta refuses without a staged copy") {
    import java.nio.file.Files
    val emb = Tables.embeddings(spark, sfDir)
    val wh = Files.createTempDirectory("graft-ivfswap-wh").toFile.getAbsolutePath
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_ivfswap LOCATION '$wh'")
    // every codec shares the cell-partitioned lists and so the swap:
    // table-driven over all four, each probed through its own codec
    for (codec <- Similarity.Codec.all) withClue(codec.name) {
      val t = s"graft_ivfswap.${codec.name}"
      Similarity.buildIvfIndex(emb, t, codec)
      val want = Similarity.annIvfProbeTopK(spark, t).collect().map(_.toSeq)

      // crash between rename-away and rename-in (partitioned table: the
      // roll-forward must also re-discover partitions via MSCK)
      spark.table(s"${t}_ivf")
        .repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell").format("parquet")
        .saveAsTable(s"${t}_ivf_compacting")
      spark.sql(s"ALTER TABLE ${t}_ivf RENAME TO ${t}_ivf_retired")
      assert(Similarity.recoverIvfSwap(spark, t), "ivf roll-forward did not fire")
      assert(!spark.catalog.tableExists(s"${t}_ivf_compacting"))
      assert(!spark.catalog.tableExists(s"${t}_ivf_retired"))
      assert(Similarity.annIvfProbeTopK(spark, t).collect().map(_.toSeq).toSeq
        === want.toSeq, "recovered IVF index diverged")

      // crash AFTER the rename-in but BEFORE the MSCK: live exists but its
      // partition entries still point at the staging path — recovery must
      // detect the out-of-location entries and repair in place
      spark.table(s"${t}_ivf")
        .repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell").format("parquet")
        .saveAsTable(s"${t}_ivf_compacting")
      spark.sql(s"ALTER TABLE ${t}_ivf RENAME TO ${t}_ivf_retired")
      spark.sql(s"DROP TABLE ${t}_ivf_retired")
      spark.sql(s"ALTER TABLE ${t}_ivf_compacting RENAME TO ${t}_ivf")
      assert(spark.table(s"${t}_ivf").count() === 0, // the stale-entry symptom
        "precondition: un-MSCKed rename should read empty")
      Similarity.recoverIvfSwap(spark, t)
      assert(Similarity.annIvfProbeTopK(spark, t).collect().map(_.toSeq).toSeq
        === want.toSeq, "in-place MSCK repair diverged")

      // lists gone, guard standing, no staged copy: delta ingest must refuse
      // (delta-only lists under a full-corpus guard silently drop the
      // standing vectors from every probe)
      spark.sql(s"DROP TABLE ${t}_ivf")
      val ex = intercept[IllegalArgumentException] {
        Similarity.ivfIndexDelta(t, emb.limit(5))
      }
      assert(ex.getMessage.contains("refusing to bootstrap"), ex.getMessage)
    }
  }

  test("indexDelta/ivfIndexDelta: empty delta is a no-op (no generation, no stats row)") {
    import java.nio.file.Files
    val docs = Tables.documents(spark, sfDir)
    val emb = Tables.embeddings(spark, sfDir)
    val wh = Files.createTempDirectory("graft-emptyd-wh").toFile.getAbsolutePath
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_emptyd LOCATION '$wh'")
    Search.buildIndex(docs, "graft_emptyd.idx")
    Similarity.buildIvfIndex(emb, "graft_emptyd.ann")
    val statsBefore = spark.table("graft_emptyd.idx_stats").count()
    val guardBefore = spark.table("graft_emptyd.idx_guard").count()
    val ivfGuardBefore = spark.table("graft_emptyd.ann_guard").count()

    Search.indexDelta("graft_emptyd.idx", docs.filter(lit(false)))
    Similarity.ivfIndexDelta("graft_emptyd.ann", emb.filter(lit(false)))

    assert(spark.table("graft_emptyd.idx_stats").count() === statsBefore,
      "empty delta appended a stats row")
    assert(spark.table("graft_emptyd.idx_guard").count() === guardBefore,
      "empty delta appended a guard blob")
    assert(spark.table("graft_emptyd.ann_guard").count() === ivfGuardBefore)
    // the all-empty-corpus NPE corner: compaction after empty deltas is fine
    Search.compactIndex(spark, "graft_emptyd.idx")
    assert(spark.table("graft_emptyd.idx_stats").count() === 1)
  }
}
