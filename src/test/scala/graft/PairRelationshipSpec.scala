package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.ops.StudentQueries.pairRelationship

/** The J4 two-name template served as bind-then-probe: one scan binds both
  * names, the two ids probe the edge table as a pushed-down (src, dst)
  * filter, and the left-outer answer is rebuilt on the driver. Expected
  * rows are written out by hand from the template (llm_cypher.py:86-96). */
class PairRelationshipSpec extends SparkSpec {

  private val withInterests = StructType(Seq(
    StructField("id", LongType, false),
    StructField("name", StringType, false),
    StructField("address", StringType, true),
    StructField("college", StringType, true),
    StructField("board", StringType, true),
    StructField("stream", StringType, true),
    StructField("interests", ArrayType(StringType), true)))

  /** 1 Ann and 2 Bob share college and board; 3 Cy has no college, board or
    * stream; 4 and 5 are both named "Dup" (4 comes first); 6 Eve has no
    * edges. One partition, so "first" is row order. */
  private def students: DataFrame = spark.createDataFrame(Seq(
    Row(1L, "Ann", "x", "c1", "b1", "s1", Seq("chess", "go", "art")),
    Row(2L, "Bob", "y", "c1", "b1", "s2", Seq("art", "chess")),
    Row(3L, "Cy", "z", null, null, null, Seq("go")),
    Row(4L, "Dup", "p", "c2", "b2", "s2", Seq.empty[String]),
    Row(5L, "dup", "q", "c1", "b1", "s1", Seq("art")),
    Row(6L, "Eve", "r", "c1", "b2", "s1", null)).asJava, withInterests)

  private def plainStudents: DataFrame = students.drop("interests")

  /** (1, 2) stored twice (src < dst) with two rel_types, (3, 1) stored
    * src > dst, (4, 2) a single edge; `common` is an edge property. */
  private def edges: DataFrame = {
    import spark.implicits._
    Seq((1L, 2L, "SAME_COLLEGE", null: Seq[String]),
      (1L, 2L, "SHARES_INTEREST", Seq("art", "chess")),
      (3L, 1L, "SHARES_INTEREST", Seq("go")),
      (4L, 2L, "SAME_STREAM", null: Seq[String]),
      (2L, 5L, "SAME_COLLEGE", null: Seq[String])).toDF("src", "dst", "rel_type", "common")
  }

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq.map {
      case s: scala.collection.Seq[_] => s.toList
      case v => v
    }).toSeq

  test("two rel_types on one pair: one row each, ordered by rel_type, " +
      "with the edge property and the raw interest overlap in a's order") {
    val q = pairRelationship(students, edges, "ann", "BOB")
    assert(q.columns.toSeq === Seq("a_id", "a_name", "b_id", "b_name", "rel_type",
      "common", "same_college", "same_board", "same_stream", "common_interests"))
    assert(rows(q) === Seq(
      Seq(1L, "Ann", 2L, "Bob", "SAME_COLLEGE", null, 1, 1, 0, List("chess", "art")),
      Seq(1L, "Ann", 2L, "Bob", "SHARES_INTEREST", List("art", "chess"), 1, 1, 0,
        List("chess", "art"))))
  }

  test("an edge stored as src > dst matches in either name order; null " +
      "college, board and stream make the same_* flags null") {
    assert(rows(pairRelationship(students, edges, "Ann", "Cy")) === Seq(
      Seq(1L, "Ann", 3L, "Cy", "SHARES_INTEREST", List("go"), null, null, null,
        List("go"))))
    assert(rows(pairRelationship(students, edges, "Cy", "Ann")) === Seq(
      Seq(3L, "Cy", 1L, "Ann", "SHARES_INTEREST", List("go"), null, null, null,
        List("go"))))
  }

  test("no edge: one row with a null rel_type; a null interests side " +
      "gives null common_interests") {
    assert(rows(pairRelationship(students, edges, "Eve", "Ann")) === Seq(
      Seq(6L, "Eve", 1L, "Ann", null, null, 1, 0, 1, null)))
  }

  test("either name missing, or both: no rows") {
    for ((a, b) <- Seq(("Ann", "Zed"), ("Zed", "Ann"), ("Zed", "Yan")))
      assert(rows(pairRelationship(students, edges, a, b)) === Nil, s"$a, $b")
  }

  test("n1 == n2: the student paired with itself, no self-loop edge") {
    assert(rows(pairRelationship(students, edges, "Bob", "bob")) === Seq(
      Seq(2L, "Bob", 2L, "Bob", null, null, 1, 1, 1, List("art", "chess"))))
  }

  test("one name held by two students: the first row wins on both sides") {
    assert(rows(pairRelationship(students, edges, "DUP", "Bob")) === Seq(
      Seq(4L, "Dup", 2L, "Bob", "SAME_STREAM", null, 0, 0, 1, Nil)))
    assert(rows(pairRelationship(students, edges, "Bob", "dup")) === Seq(
      Seq(2L, "Bob", 4L, "Dup", "SAME_STREAM", null, 0, 0, 1, Nil)))
  }

  test("students without interests: no common_interests column") {
    val q = pairRelationship(plainStudents, edges.drop("common"), "Bob", "Ann")
    assert(q.columns.toSeq === Seq("a_id", "a_name", "b_id", "b_name", "rel_type",
      "same_college", "same_board", "same_stream"))
    assert(rows(q) === Seq(
      Seq(2L, "Bob", 1L, "Ann", "SAME_COLLEGE", 1, 1, 0),
      Seq(2L, "Bob", 1L, "Ann", "SHARES_INTEREST", 1, 1, 0)))
  }

  test("more than 25 matches: the first 25 by rel_type") {
    import spark.implicits._
    val many = (0 until 30).reverse.map(i => (1L, 2L, f"R$i%02d")).toDF("src", "dst", "rel_type")
    val got = pairRelationship(plainStudents, many, "Ann", "Bob")
      .collect().map(_.getAs[String]("rel_type")).toSeq
    assert(got === (0 until 25).map(i => f"R$i%02d"))
  }

  /** Stored tables: a parquet edge table and plain students. */
  private def stored(name: String)(body: (DataFrame, DataFrame) => Unit): Unit = {
    val (st, ed) = (s"${name}_students", s"${name}_edges")
    try {
      plainStudents.write.mode("overwrite").format("parquet").saveAsTable(st)
      edges.drop("common").write.mode("overwrite").format("parquet").saveAsTable(ed)
      body(spark.table(st), spark.table(ed))
    } finally Seq(st, ed).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("over stored tables the whole request runs at most 2 Spark jobs") {
    stored("pair_jobs") { (st, ed) =>
      pairRelationship(st, ed, "Ann", "Bob").collect() // warm the listings
      var jobs = 0
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            s: org.apache.spark.scheduler.SparkListenerJobStart): Unit = jobs += 1
      }
      spark.sparkContext.addSparkListener(l)
      val got = try {
        val r = pairRelationship(st, ed, "Ann", "Bob").collect()
        Thread.sleep(1000) // listener delivery is async
        r
      } finally spark.sparkContext.removeSparkListener(l)
      assert(got.length === 2)
      assert(jobs <= 2, s"pairRelationship ran $jobs Spark jobs")
    }
  }

  /** Physical plans of the queries `body` runs in this session. Listener
    * delivery is asynchronous but ordered, so a marker query run after
    * `body` arrives after every query of `body`. */
  private def plansOf(body: => Unit): Seq[SparkPlan] = {
    val marker = "pair_spec_marker"
    val seen = new ConcurrentLinkedQueue[SparkPlan]
    val done = new CountDownLatch(1)
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        if (qe.analyzed.output.exists(_.name == marker)) done.countDown()
        else seen.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      body
      spark.range(1).select(lit(1).as(marker)).collect()
      assert(done.await(60, TimeUnit.SECONDS), "listener never saw the marker")
    } finally spark.listenerManager.unregister(l)
    seen.asScala.toSeq
  }

  private def joins(p: SparkPlan): Seq[BaseJoinExec] = p match {
    case a: AdaptiveSparkPlanExec => joins(a.executedPlan)
    case q: QueryStageExec => joins(q.plan)
    case j: BaseJoinExec => j +: j.children.flatMap(joins)
    case other => other.children.flatMap(joins)
  }

  test("the probe pushes the bound (src, dst) equalities into the edge " +
      "scan, and no join reads the edge table") {
    stored("pair_pushdown") { (st, ed) =>
      val plans = plansOf(pairRelationship(st, ed, "Bob", "Ann").collect())
      def readsEdges(p: SparkPlan) =
        scans(p).filter(_.tableIdentifier.exists(_.table == "pair_pushdown_edges"))
      val probes = plans.flatMap(readsEdges)
      assert(probes.size === 1, "the edge table is scanned once")
      val pushed = probes.head.metadata("PushedFilters")
      for (f <- Seq("EqualTo(src,2)", "EqualTo(dst,1)", "EqualTo(src,1)", "EqualTo(dst,2)"))
        assert(pushed.contains(f), s"$f not pushed: $pushed")
      for (p <- plans if readsEdges(p).nonEmpty)
        assert(joins(p).isEmpty, s"a join reads the edge table:\n$p")
    }
  }
}
