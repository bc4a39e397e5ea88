package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.graph.GraphOps

/** The graph fixpoint loops' plan choice at its threshold: a loop whose
  * derived shuffle width is 1 runs in one task, a wider one runs the
  * per-round dataflow. Both sides must return the same rows and the same
  * round count, on fixtures with the cases where the two plans could
  * drift: a missing anchor, a dst that is never a src, an isolated node,
  * duplicate edge rows, few rounds and a `k` above every degree. The
  * fixed-round PPR walk is pinned the same way: at width 1 it runs as the
  * converged walk bounded to its round count. */
class FixpointPlanSpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq.sortBy(_.mkString(","))

  /** Directed (src, dst): 5 is a dst but never a src, (1, 2) and (3, 1)
    * are duplicated, 8 -> 7 sits outside the other nodes' reach. */
  private def edges: DataFrame = {
    import spark.implicits._
    Seq((1L, 2L), (1L, 2L), (1L, 3L), (2L, 1L), (2L, 3L), (3L, 1L),
      (3L, 1L), (3L, 4L), (4L, 3L), (4L, 5L), (8L, 7L)).toDF("src", "dst")
      .localCheckpoint()
  }

  /** Weighted (src, dst, w), made undirected by the SSSP loops: duplicate
    * (1, 2) rows with different weights, a parallel route to 4, and a
    * component {6, 7} the anchor cannot reach. */
  private def weighted: DataFrame = {
    import spark.implicits._
    Seq((1L, 2L, 5L), (1L, 2L, 3L), (2L, 3L, 1L), (3L, 4L, 2L), (1L, 4L, 10L),
      (4L, 5L, 1L), (4L, 5L, 1L), (6L, 7L, 1L)).toDF("src", "dst", "w")
  }

  private def atBothWidths[T](name: String)(run: Int => T): Unit = {
    val one = run(1)
    val wide = run(2)
    assert(one === wide, s"$name: one-task and width-2 plans differ")
  }

  test("converged PPR: one task == width 2 (rows and rounds), " +
      "batch with a missing and a duplicated anchor") {
    for (anchors <- Seq(Seq(1L), Seq(1L, 4L, 999L), Seq(2L, 2L, 5L));
         maxRounds <- Seq(1, 3, GraphOps.PprConvMaxRounds))
      atBothWidths(s"ppr $anchors x $maxRounds") { w =>
        val (df, rounds) = GraphOps.pprConvergedBatchWithRounds(
          edges, anchors, maxRounds, Some(w))
        (rows(df), rounds)
      }
    // the single-anchor entry rides the same seam
    atBothWidths("ppr single") { w =>
      val (df, rounds) =
        GraphOps.pprConvergedWithRounds(edges, 3L, width = Some(w))
      (rows(df), rounds)
    }
    // an empty graph: every anchor is missing
    atBothWidths("ppr empty graph") { w =>
      val (df, rounds) = GraphOps.pprConvergedBatchWithRounds(
        edges.filter(lit(false)), Seq(1L, 2L), width = Some(w))
      (rows(df), rounds)
    }
  }

  test("fixed-round PPR walk: one task == width 2 for 0, 1 and 3 rounds, " +
      "with a missing and a duplicated anchor") {
    for (anchors <- Seq(Seq(1L), Seq(1L, 4L, 999L), Seq(2L, 2L, 5L));
         iters <- Seq(0, 1, 3))
      atBothWidths(s"walk $anchors x $iters") { w =>
        rows(GraphOps.pprWalk(edges, anchors, iters, Some(w)))
      }
    for (iters <- Seq(0, 1, 3))
      atBothWidths(s"walk empty graph x $iters") { w =>
        rows(GraphOps.pprWalk(edges.filter(lit(false)), Seq(1L, 2L), iters,
          Some(w)))
      }
  }

  test("one-task jobs carry the loop's description; the caller's is restored") {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          s: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(s.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).foreach(seen.add)
    }
    sc.addSparkListener(l)
    sc.setJobDescription("caller")
    try {
      GraphOps.pprWalk(edges, Seq(1L), 3, Some(1)).collect()
      assert(sc.getLocalProperty("spark.job.description") === "caller")
      Thread.sleep(1000) // listener delivery is async
      assert(seen.contains("graft fixpoint pprWalk: one task"), seen)
    } finally {
      sc.removeSparkListener(l)
      sc.setJobDescription(null)
    }
  }

  test("SSSP: converged and bounded, one task == width 2") {
    for (anchor <- Seq(1L, 99L); maxRounds <- Seq(1, 3, 64)) {
      atBothWidths(s"sssp converged $anchor x $maxRounds") { w =>
        val (df, rounds) = GraphOps.shortestPathsConvergedWithRounds(
          weighted, anchor, maxRounds, Some(w))
        (rows(df), rounds)
      }
      atBothWidths(s"sssp bounded $anchor x $maxRounds") { w =>
        rows(GraphOps.shortestPathsBoundedAt(weighted, anchor, maxRounds, Some(w)))
      }
    }
  }

  test("LPA: one task == width 2, with an isolated node, a duplicated node " +
      "row, a src outside the label frame and a dst outside it") {
    import spark.implicits._
    // 9 is isolated, 5 is listed twice, 8 is a src missing from the frame
    // and its only dst 7 is missing too
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 5L, 9L).toDF("node")
    for (iters <- Seq(1, 3))
      atBothWidths(s"lpa x $iters") { w =>
        rows(GraphOps.lpaLoop(edges, nodes, iters, Some(w)))
      }
    val customer = (0L to 29L).toDF("c_custkey")
    atBothWidths("lpa chain fixture") { w =>
      rows(GraphOps.lpaLoop(GraphOps.chainAdjacency(customer),
        customer.select(col("c_custkey").as("node")), 3, Some(w)))
    }
  }

  test("k-core: one task == width 2, including k above every degree") {
    import spark.implicits._
    val customer = (0L to 29L).toDF("c_custkey")
    for (k <- Seq(1, 2, 3, 100); rounds <- Seq(1, 3)) {
      atBothWidths(s"kcore k=$k x $rounds") { w =>
        rows(GraphOps.kCoreLoop(edges, k, rounds, Some(w)))
      }
      atBothWidths(s"kcore chain k=$k x $rounds") { w =>
        rows(GraphOps.kCoreLoop(GraphOps.chainAdjacency(customer), k, rounds,
          Some(w)))
      }
    }
  }

  /** Students whose rule keys hold every case the one-task adjacency
    * could read differently from the dataflow: null, "", space-only and
    * mixed-case keys; a college group of 36 (larger than cap+1 for caps
    * 1, 2 and 32), a singleton college, a student with no non-empty key,
    * duplicated student rows (one of them at the edge of the group's
    * top list) and a null id. */
  private def ruleKeyed: DataFrame = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType, true),
      StructField("address", StringType, true),
      StructField("college", StringType, true),
      StructField("board", StringType, true),
      StructField("stream", StringType, true)))
    val spelled = Seq("Alpha", "ALPHA", "  alpha ", "alpha")
    val rows = (1L to 36L).map(i => Row(i,
        if (i % 4 == 0) null else if (i % 4 == 1) "  " else s"A${i % 2}",
        spelled((i % 4).toInt),
        Seq("b0", "B1 ", "", null)((i % 4).toInt),
        if (i % 3 == 0) s"Sci" else "")) ++ Seq(
      Row(37L, null, "Solo", "b0", null),
      Row(38L, null, null, null, null),
      Row(39L, "", "", "   ", ""),
      Row(null, "a1", "alpha", "b1", "sci"),
      Row(1L, "  ", "Alpha", "B1 ", ""),
      Row(3L, "a1", "alpha", "b0", "sci"),
      Row(3L, "a1", "alpha", "b0", "sci"),
      Row(37L, null, "Solo", "b0", null))
    spark.createDataFrame(rows.asJava, schema)
  }

  test("capped adjacency build: one task == width 2 for caps 1, 2 and 32 " +
      "(null, blank, mixed-case and duplicated keys and rows)") {
    val wh = java.nio.file.Files.createTempDirectory("graft-adjplan")
      .toFile.getAbsolutePath
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_adjplan LOCATION '$wh'")
    val width = spark.conf.get("spark.sql.shuffle.partitions")
    for (cap <- Seq(1, 2, 32))
      atBothWidths(s"adjacency cap=$cap") { w =>
        val t = s"graft_adjplan.adj_${cap}_$w"
        GraphOps.buildAdjacencyTableAt(ruleKeyed, t, cap, Some(w))
        rows(spark.table(t))
      }
    // the fixture reaches the cap: some node keeps exactly cap neighbors
    val kept = spark.table("graft_adjplan.adj_2_1").groupBy("src").count()
      .agg(max("count")).first().getLong(0)
    assert(kept === 2)
    assert(spark.conf.get("spark.sql.shuffle.partitions") === width)
  }

  test("connected components: one task == GraphX, with singleton groups, " +
      "a null group key and duplicated custkeys") {
    import spark.implicits._
    // 7 is alone in its group, 8 has a null nation; 3 is listed twice in
    // one group and 5 in two groups, joining them
    val customer = Seq((1L, Some(1L), "A"), (2L, Some(1L), "A"),
      (3L, Some(1L), "A"), (3L, Some(1L), "A"), (4L, Some(2L), "A"),
      (5L, Some(2L), "A"), (5L, Some(3L), "B"), (6L, Some(3L), "B"),
      (7L, Some(4L), "B"), (8L, None, "B"), (9L, Some(5L), "C"),
      (10L, Some(5L), "C"))
      .toDF("c_custkey", "c_nationkey", "c_mktsegment")
    atBothWidths("connected components") { w =>
      rows(GraphOps.connectedComponentsAt(spark, customer, Some(w)))
    }
    assert(GraphOps.connectedComponentsAt(spark, customer, Some(1))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq ===
      Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 4L,
        7L -> 7L, 8L -> 8L, 9L -> 9L, 10L -> 9L))
  }

  /** 40 students over the four equi rules, one interest token each. */
  private def students40: DataFrame = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType, false),
      StructField("name", StringType, false),
      StructField("address", StringType, true),
      StructField("college", StringType, true),
      StructField("board", StringType, true),
      StructField("stream", StringType, true),
      StructField("interests", ArrayType(StringType), true)))
    spark.createDataFrame((0L until 40L).map(i =>
      Row(i, s"s$i", s"a${i % 5}", s"c${i % 4}", s"b${i % 3}", s"st${i % 7}",
        Seq(s"i${i % 6}"))).asJava, schema)
  }

  /** `a` and `b` on two driver threads == `a` then `b` on this one, and
    * the session's shuffle width is unchanged afterwards. */
  private def concurrentEqualsSequential[A, B](a: => A, b: => B): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val width = spark.conf.get("spark.sql.shuffle.partitions")
    val sequential = (a, b)
    val fa = Future(a)
    val fb = Future(b)
    val concurrent = (Await.result(fa, 5.minutes), Await.result(fb, 5.minutes))
    assert(concurrent === sequential)
    assert(spark.conf.get("spark.sql.shuffle.partitions") === width)
  }

  test("backfill's shape: converged batch PPR beside LPA + k-core on two " +
      "driver threads == sequential runs; shuffle width unchanged") {
    val students = students40
    spark.sql("DROP TABLE IF EXISTS fixpoint_concurrent_adj")
    GraphOps.buildAdjacencyTable(students, "fixpoint_concurrent_adj")
    val table = "fixpoint_concurrent_adj"
    def ppr() = rows(GraphOps.personalizedPageRankConvergedBatch(
      spark, table, Seq(1L, 17L, 999L)))
    def lpaThenKCore() = (
      rows(GraphOps.labelPropagationStudentsIndexed(spark, table, students)),
      rows(GraphOps.kCoreStudentsIndexed(spark, table, k = 10)))
    try concurrentEqualsSequential(ppr(), lpaThenKCore())
    finally spark.sql("DROP TABLE IF EXISTS fixpoint_concurrent_adj")
  }

  test("serve's shape: PPR recommend beside the pair relationship on two " +
      "driver threads == sequential runs; shuffle width unchanged") {
    val students = students40
    spark.sql("DROP TABLE IF EXISTS fixpoint_serve_adj")
    GraphOps.buildAdjacencyTable(students, "fixpoint_serve_adj")
    def recommend() = rows(GraphOps.personalizedPageRankRecommendIndexed(
      spark, "fixpoint_serve_adj", students, 7L))
    def pair() = {
      val stPair = students.filter(col("name").isin("s3", "s15"))
      val edges = graft.ops.EdgeRules.backfill(stPair)
        .withColumn("common", lit(null).cast("array<string>"))
        .unionByName(graft.ops.EdgeRules.interestRule(
          stPair.select(col("id"), col("interests"))))
      rows(graft.ops.StudentQueries.pairRelationship(students, edges, "s3", "s15"))
    }
    try concurrentEqualsSequential(recommend(), pair())
    finally spark.sql("DROP TABLE IF EXISTS fixpoint_serve_adj")
  }
}
