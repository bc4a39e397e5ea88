package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.graph.GraphOps

/** The graph fixpoint loops' plan choice at its threshold: a loop whose
  * derived shuffle width is 1 runs in one task, a wider one runs the
  * per-round dataflow. Both sides must return the same rows and the same
  * round count, on fixtures with the cases where the two plans could
  * drift: a missing anchor, a dst that is never a src, an isolated node,
  * duplicate edge rows, few rounds and a `k` above every degree. */
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

  test("backfill's shape: converged batch PPR beside LPA + k-core on two " +
      "driver threads == sequential runs; shuffle width unchanged") {
    val students = {
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
          Seq.empty[String])).asJava, schema)
    }
    spark.sql("DROP TABLE IF EXISTS fixpoint_concurrent_adj")
    GraphOps.buildAdjacencyTable(students, "fixpoint_concurrent_adj")
    val table = "fixpoint_concurrent_adj"
    def ppr() = rows(GraphOps.personalizedPageRankConvergedBatch(
      spark, table, Seq(1L, 17L, 999L)))
    def lpaThenKCore() = (
      rows(GraphOps.labelPropagationStudentsIndexed(spark, table, students)),
      rows(GraphOps.kCoreStudentsIndexed(spark, table, k = 10)))
    try {
      val width = spark.conf.get("spark.sql.shuffle.partitions")
      val sequential = (ppr(), lpaThenKCore())
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration._
      val a = Future(ppr())
      val b = Future(lpaThenKCore())
      val concurrent = (Await.result(a, 5.minutes), Await.result(b, 5.minutes))
      assert(concurrent === sequential)
      assert(spark.conf.get("spark.sql.shuffle.partitions") === width)
    } finally spark.sql("DROP TABLE IF EXISTS fixpoint_concurrent_adj")
  }
}
