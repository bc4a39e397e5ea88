package graft

import org.apache.spark.sql.functions._

import graft.model.Tables
import graft.ops.Similarity
import graft.ops.Similarity.Codec

/** Attribute-filtered ANN ([[Similarity.annIvfFilteredTopK]]): the
  * predicate must reach the DPP-pruned list scan as a pushed data filter
  * (not a post-scan residual over the full probed cells), pre-filter
  * must equal post-filter-with-unbounded-widen (the two modes agree when
  * nothing is starved — isolating the widen cut as the ONLY semantic
  * difference), and the measured adjudication must come out the way the
  * defaults assume: pre-filter recall ≥ post-filter recall. */
class AnnFilteredSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSeq

  private lazy val t: String = {
    val wh = java.nio.file.Files.createTempDirectory("graft-annfilt")
      .toFile.getAbsolutePath
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_annfilt_test LOCATION '$wh'")
    Similarity.buildIvfIndex(Tables.embeddings(spark, sfDir),
      "graft_annfilt_test.idx")
    "graft_annfilt_test.idx"
  }

  test("pre-filter == post-filter with unbounded widen; teeth vs unfiltered") {
    val emb = Tables.embeddings(spark, sfDir)
    val q = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"),
        col("embedding").cast("array<double>").as("v"))
    val pre = Similarity.annIvfFilteredTopK(spark, t, q,
      col("label") === 3, 3, 2)
    // unbounded widen: nothing starved out of the cut, so the two modes
    // must agree row-for-row — the widen cut is the ONLY difference
    val postAll = Similarity.annIvfFilteredPostTopK(spark, t, q,
      col("label") === 3, 3, 2, widen = 1000000)
    assert(rows(pre) === rows(postAll),
      "pre-filter diverged from unbounded post-filter: the modes differ " +
        "beyond the widen cut")
    // teeth: the predicate must actually change the result
    assert(rows(pre) !== rows(Similarity.annIvfIndexedTopK(spark, t)),
      "fixture rot: the label predicate did not change the top-k")
    val labels = Tables.embeddings(spark, sfDir)
      .filter(col("label") === 3).select(col("vec_id"))
      .collect().map(_.getLong(0)).toSet
    assert(rows(pre).forall(r => labels(r(1).asInstanceOf[Long])),
      "a candidate outside the predicate surfaced")
  }

  test("plan: predicate pushed into the list scan, DPP retained") {
    val pre = Similarity.annIvfFilteredTopK(spark, t, col("label") === 3)
    pre.collect()
    val plan = pre.queryExecution.executedPlan
    val idxScans = scans(plan).filter(_.relation.partitionSchema.nonEmpty)
    assert(idxScans.exists(_.partitionFilters.exists(
        _.toString.toLowerCase.contains("dynamicpruning"))),
      s"predicate filter broke DPP on the list scan:\n$plan")
    // the label predicate must reach the parquet scan as a pushed data
    // filter (row-group pruning), not evaluate post-scan only
    assert(idxScans.exists(_.dataFilters.exists(
        _.toString.contains("label"))),
      s"label predicate not pushed into the list scan:\n$plan")
  }

  test("measured adjudication: pre-filter recall >= post-filter recall") {
    val emb = Tables.embeddings(spark, sfDir)
    val rec = Similarity.annFilteredRecall(spark, t, emb,
        col("label") === 3)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rec("pre") >= rec("post"),
      s"post-filter out-recalled pre-filter: $rec — the default is wrong")
    assert(rec("pre") > 0.0, "pre-filter recall is zero: fixture rot")
  }

  test("FUSED rungs: predicate before the ADC cut on PQ and SQ8 — " +
      "filtered results stay within the predicate, plan keeps the " +
      "pushed filter + DPP on the codes scan, pre >= post recall") {
    val emb = Tables.embeddings(spark, sfDir)
    val wh = java.nio.file.Files.createTempDirectory("graft-fusedfilt")
      .toFile.getAbsolutePath
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_ff_test LOCATION '$wh'")
    val labels = emb.filter(col("label") === 3).select(col("vec_id"))
      .collect().map(_.getLong(0)).toSet

    for ((tag, build, query) <- Seq[(String, String => Unit,
        String => org.apache.spark.sql.DataFrame)](
      ("pq", tb => Similarity.buildIvfIndex(emb, tb, Codec.Pq),
        tb => Similarity.annIvfPqFilteredTopK(spark, tb,
          col("label") === 3)),
      ("sq", tb => Similarity.buildIvfIndex(emb, tb, Codec.Sq8),
        tb => Similarity.annIvfSqFilteredTopK(spark, tb,
          col("label") === 3)),
      ("pqr", tb => Similarity.buildIvfIndex(emb, tb, Codec.PqResidual),
        tb => Similarity.annIvfPqResidualFilteredTopK(spark, tb,
          col("label") === 3)))) {
      val tb = s"graft_ff_test.$tag"
      build(tb)
      val got = query(tb)
      val gotRows = rows(got)
      assert(gotRows.nonEmpty, s"$tag filtered probe returned nothing")
      assert(gotRows.forall(r => labels(r(1).asInstanceOf[Long])),
        s"$tag: a candidate outside the predicate surfaced through ADC")
      // plan: the label predicate reaches the codes scan as a pushed
      // data filter and DPP cell pruning survives above it
      got.collect()
      val plan = got.queryExecution.executedPlan
      val idxScans = scans(plan).filter(_.relation.partitionSchema.nonEmpty)
      assert(idxScans.exists(_.partitionFilters.exists(
          _.toString.toLowerCase.contains("dynamicpruning"))),
        s"$tag: predicate filter broke DPP on the codes scan:\n$plan")
      assert(idxScans.exists(_.dataFilters.exists(
          _.toString.contains("label"))),
        s"$tag: label predicate not pushed into the codes scan:\n$plan")
    }

    // the fused adjudication has REAL teeth (unlike the raw rung, both
    // lossy cuts precede the predicate in post mode): pre must win
    val rec = Similarity.annFusedFilteredRecall(spark,
        "graft_ff_test.pq", emb, col("label") === 3)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rec("pre") >= rec("post"),
      s"fused post-filter out-recalled pre-filter: $rec")
    assert(rec("pre") > 0.0, "fused pre-filter recall is zero: fixture rot")

    // the selectivity sweep: pre >= post at EVERY selectivity (the
    // post-mode collapse is monotone in practice but tiny-sf recall
    // quantization makes strict monotonicity brittle — the invariant
    // worth pinning is that pre never loses)
    val sweep = Similarity.annFusedFilteredSelectivitySweep(spark,
        "graft_ff_test.pq", emb,
        Seq(("s10", col("label") === 3),
          ("s03", col("label") === 3 && col("vec_id") % 3 === 0)))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2))
      .toMap
    for (tag <- Seq("s10", "s03"))
      assert(sweep((tag, "pre")) >= sweep((tag, "post")),
        s"$tag: post out-recalled pre in the sweep: $sweep")
  }

  test("nprobePick: smallest nprobe meeting the target per rung; widest " +
      "with met=false when none does") {
    import spark.implicits._
    val sweep = Seq(
      ("a", 1, 0.30), ("a", 2, 0.75), ("a", 4, 0.90),
      ("b", 1, 0.10), ("b", 2, 0.40), ("b", 4, 0.60))
      .toDF("rung", "nprobe", "recall")
    val out = Similarity.nprobePick(sweep, target = 0.7)
      .as[(String, Int, Double, Boolean)].collect().toList
    assert(out === List(("a", 2, 0.75, true), ("b", 4, 0.60, false)))
  }

  test("paramPick: base-rule pick beats escalation; escalation only when " +
      "the widest probe misses at the base shortlist; widest grid point " +
      "with met=false when nothing meets") {
    import spark.implicits._
    val grid = Seq(
      // rung a: meets on the base rule at nprobe 2 — escalated legs
      // (cheaper-looking recall notwithstanding) must NOT win
      ("a", 1, 5, 0.30), ("a", 2, 5, 0.75), ("a", 4, 5, 0.90), ("a", 8, 5, 0.95),
      ("a", 8, 10, 0.99),
      // rung b: base rule tops out at 0.58; slpp 10 at the widest probe
      // meets — the raw-PQ shape
      ("b", 1, 5, 0.10), ("b", 2, 5, 0.30), ("b", 4, 5, 0.45), ("b", 8, 5, 0.58),
      ("b", 8, 10, 0.75), ("b", 8, 20, 0.83), ("b", 8, 40, 0.92),
      // rung c: nothing meets — widest grid point, met=false
      ("c", 1, 5, 0.05), ("c", 8, 5, 0.20), ("c", 8, 10, 0.25), ("c", 8, 40, 0.40))
      .toDF("rung", "nprobe", "shortlist_per_probe", "recall")
    val out = Similarity.paramPick(grid, target = 0.7)
      .as[(String, Int, Int, Double, Boolean)].collect().toList
    assert(out === List(
      ("a", 2, 5, 0.75, true),
      ("b", 8, 10, 0.75, true),
      ("c", 8, 40, 0.40, false)))
  }
}
