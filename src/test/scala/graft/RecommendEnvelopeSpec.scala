package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.types._

import graft.ops.Recommend

/** EP2's envelope orders the names itself, so it reads past the global
  * sort `recommend` ends in; any other top node (a `limit`) is kept. */
class RecommendEnvelopeSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType, false),
    StructField("name", StringType, false),
    StructField("address", StringType, true),
    StructField("college", StringType, true),
    StructField("board", StringType, true),
    StructField("stream", StringType, true),
    StructField("interests", ArrayType(StringType), true)))

  /** Scores against anchor 1: n2 3, n5 3, n3 2, n7 2, n4 1, n6 0 — two
    * ties, broken by id. */
  private def students: DataFrame = spark.createDataFrame(Seq(
    Row(1L, "n1", "a1", "c1", "b1", "s1", Seq("x", "y")),
    Row(7L, "n7", "a3", "c2", "b2", "s1", Seq("x")),
    Row(2L, "n2", "a2", "c1", "b1", "s2", Seq("x")),
    Row(6L, "n6", "a2", "c2", "b2", "s2", null),
    Row(3L, "n3", "a2", "c1", "b2", "s2", Seq("y")),
    Row(5L, "n5", "a2", "c1", "b1", "s1", Seq.empty[String]),
    Row(4L, "n4", "a2", "c2", "b1", "s2", Seq.empty[String])).asJava, schema)

  private def message(recs: DataFrame): (String, Long) = {
    val r = Recommend.responseMessage(recs).collect().head
    (r.getString(0), r.getLong(1))
  }

  private def sorts(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case s: Sort => s }.size

  test("stripping recommend's sort changes neither message nor total_matches") {
    val recs = Recommend.recommend(students, 1L)
    val expected = ("n2, n5, n3, n7, and n4 are also in this platform.", 5L)
    assert(message(recs) === expected)
    // a Project on top keeps the sort under the envelope
    assert(message(recs.select("*")) === expected)
    assert(sorts(Recommend.responseMessage(recs)) === 0)
    assert(sorts(Recommend.responseMessage(recs.select("*"))) === 1)
  }

  test("a limited recommend keeps its sort: the top k by (score desc, id)") {
    val recs = Recommend.recommend(students, 1L)
    assert(message(recs.limit(2)) === ("n2 and n5 are also in this platform.", 2L))
    assert(message(recs.limit(3)) === ("n2, n5, and n3 are also in this platform.", 3L))
    assert(sorts(Recommend.responseMessage(recs.limit(3))) === 1)
  }
}
