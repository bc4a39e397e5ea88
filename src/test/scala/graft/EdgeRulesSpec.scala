package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.ops.EdgeRules

/** The equi rules run as one self-join keyed by (rel_type, key, salt), and
  * the one-vs-all delta as one pass. Both must give the rows of the
  * per-rule joins, on a fixture where the plans could drift: a key string
  * shared by two rules (college "x" and board "x"), null attributes, empty
  * and blank attributes, mixed case and padding. */
class EdgeRulesSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._
  import org.apache.spark.sql.types._

  private val schema = StructType(Seq(
    StructField("id", LongType, false),
    StructField("name", StringType, false),
    StructField("address", StringType, true),
    StructField("college", StringType, true),
    StructField("board", StringType, true),
    StructField("stream", StringType, true)))

  private def students: DataFrame = spark.createDataFrame(Seq(
    Row(1L, "a", "Pune", "x", "x", "Sci"),
    Row(2L, "b", "  ", "X ", null, "sci"),
    Row(3L, "c", "Patan", null, "x", ""),
    Row(4L, "d", "Delhi", "x", " X", null),
    Row(5L, "e", null, "  ", "", "SCI "),
    Row(6L, "f", null, null, null, null),
    Row(7L, "g", "delhi", "y", "x", "sci")
  ).asJava, schema)

  private def rows(df: DataFrame): Seq[(Long, Long, String)] =
    df.select("src", "dst", "rel_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq.sorted

  private val subsets: Seq[Set[String]] = Seq(
    EdgeRules.AllEquiRules.map(_._2).toSet,
    Set("SAME_COLLEGE", "SAME_BOARD"),
    Set("NEARBY"))

  /** The rules by hand: `lower(trim(coalesce(attr, '')))`, non-empty and
    * equal, one row per connecting rule. */
  private def expected(enabled: Set[String]): Seq[(Long, Long, String)] = {
    val st = students.collect().toSeq
    def norm(r: Row, attr: String): String =
      Option(r.getAs[String](attr)).getOrElse("").trim.toLowerCase
    (for {
      (attr, t) <- EdgeRules.AllEquiRules if enabled(t)
      a <- st; b <- st
      if a.getLong(0) < b.getLong(0) && norm(a, attr).nonEmpty &&
        norm(a, attr) == norm(b, attr)
    } yield (a.getLong(0), b.getLong(0), t)).sorted
  }

  test("one-join backfill == the union of per-rule joins, for every enabled " +
      "subset") {
    for (enabled <- subsets) {
      val perRule = EdgeRules.AllEquiRules.filter(r => enabled(r._2))
        .map { case (attr, t) => EdgeRules.equiRule(students, attr, t) }
        .reduce(_.unionByName(_))
      val got = rows(EdgeRules.backfill(students, enabled))
      assert(got === rows(perRule), s"$enabled: one join != per-rule union")
      assert(got === expected(enabled), s"$enabled: differs from the rules")
    }
    // the shared key string connects 1-3 on board only, 1-4 on both
    val all = rows(EdgeRules.backfill(students))
    assert(all.filter(e => e._1 == 1L && e._2 == 3L) ===
      Seq((1L, 3L, "SAME_BOARD")))
    assert(all.filter(e => e._1 == 1L && e._2 == 4L) ===
      Seq((1L, 4L, "SAME_BOARD"), (1L, 4L, "SAME_COLLEGE")))
  }

  test("incrementalEdges == backfill restricted to the new node") {
    val full = rows(EdgeRules.backfill(students))
    for (a <- 1L to 7L) {
      val inc = rows(EdgeRules.incrementalEdges(students,
        students.filter(col("id") === a)))
      assert(inc === full.filter(e => e._1 == a || e._2 == a),
        s"delta diverged from the backfill at node $a")
    }
  }
}
