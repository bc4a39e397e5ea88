package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.{EdgeRules, Ingest}

/** EP1 write path on the golden fixture: id assignment, normalization,
  * incremental edges with MERGE semantics. */
class IngestSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType, false),
    StructField("name", StringType, false),
    StructField("address", StringType, true),
    StructField("college", StringType, true),
    StructField("board", StringType, true),
    StructField("stream", StringType, true),
    StructField("interests", ArrayType(StringType), true)))

  private def fixture = spark.createDataFrame(
    Seq(
      Row(1L, "aayush", "lalitpur", "st. xavier college", "nepal board", "science", Seq("math", "programming")),
      Row(2L, "dikshanta", "kathmandu", "st. xavier college", "nepal board", "science", Seq("programming", "music")),
      Row(3L, "rohan", "lalitpur", "trinity college", "nepal board", "management", Seq("music", "football")),
      Row(4L, "umesh", "pokhara", "trinity college", null, "science", Seq.empty[String]),
      Row(5L, "sita", null, null, null, null, Seq("math"))
    ).asJava, schema)

  test("onboard assigns MAX+1, normalizes, and emits the incremental edge delta") {
    val existingEdges = EdgeRules.backfill(fixture)
      .withColumn("common", graft.functions.Norm.emptyStrArray)
      .unionByName(EdgeRules.interestRule(fixture.select("id", "interests"))
        .select(col("src"), col("dst"), col("rel_type"), col("common")))
    val newbie = spark.createDataFrame(Seq(
      Row(0L, "KESHAV", "Lalitpur", "Trinity College", "Nepal Board", null, Seq("Math", "cricket"))
    ).asJava, schema).drop("id").withColumn("id", lit(0L)).drop("id")

    val (students2, id, delta) = Ingest.onboard(fixture, existingEdges, newbie)
    assert(id === 6L)
    assert(students2.count() === 6)
    assert(students2.filter(col("id") === 6).select("name").first().getString(0) === "keshav")

    val got = delta.select("src", "dst", "rel_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(got === Set(
      (3L, 6L, "SAME_COLLEGE"), (4L, 6L, "SAME_COLLEGE"),
      (1L, 6L, "SAME_BOARD"), (2L, 6L, "SAME_BOARD"), (3L, 6L, "SAME_BOARD"),
      (1L, 6L, "NEARBY"), (3L, 6L, "NEARBY"),
      (1L, 6L, "SHARES_INTEREST"), (5L, 6L, "SHARES_INTEREST")))
    // interest edge carries the intersection
    val common = delta.filter(col("rel_type") === "SHARES_INTEREST" && col("src") === 1)
      .select("common").first().getSeq[String](0)
    assert(common === Seq("math"))
    // MERGE: re-onboarding produces no duplicate edges against the new state
    val merged = EdgeRules.mergeNew(delta, existingEdges.unionByName(delta))
    assert(merged.count() === 0)
  }

  test("incremental onboarding equals a from-scratch backfill (delta consistency)") {
    def fullEdges(students: org.apache.spark.sql.DataFrame) =
      EdgeRules.backfill(students)
        .withColumn("common", graft.functions.Norm.emptyStrArray)
        .unionByName(EdgeRules.interestRule(students.select("id", "interests"))
          .select(col("src"), col("dst"), col("rel_type"), col("common")))
    def edgeSet(df: org.apache.spark.sql.DataFrame) =
      df.select(col("src"), col("dst"), col("rel_type"),
          array_join(col("common"), "|").as("c"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3))).toSet

    val existing = fullEdges(fixture)
    val newbie = spark.createDataFrame(Seq(
      Row(0L, "KESHAV", "Lalitpur", "Trinity College", "Nepal Board", null, Seq("Math", "cricket"))
    ).asJava, schema).drop("id")
    val (students2, _, delta) = Ingest.onboard(fixture, existing, newbie)
    // the write path's core guarantee: old edges + the incremental delta is
    // bit-identical to recomputing the whole backfill over the new table
    assert(edgeSet(existing.unionByName(delta)) === edgeSet(fullEdges(students2)))
  }

  test("onboarding's MERGE reads only the newcomer's edges: same delta as " +
      "the unpruned anti-join, and the build side carries the filter") {
    val wh = java.nio.file.Files.createTempDirectory("graft-ingest-merge")
      .toFile.getAbsolutePath
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_ingest_merge LOCATION '$wh'")
    val newbie = spark.createDataFrame(Seq(
      Row(0L, "KESHAV", "Lalitpur", "Trinity College", "Nepal Board", null, Seq("Math", "cricket"))
    ).asJava, schema).drop("id")
    // the full backfill (unrelated to the newcomer, id 6) plus three of
    // its edges already present: two its onboarding derives again, one
    // (6, 9) it never derives
    val backfilled = EdgeRules.backfill(fixture)
      .withColumn("common", graft.functions.Norm.emptyStrArray)
      .unionByName(EdgeRules.interestRule(fixture.select("id", "interests"))
        .select(col("src"), col("dst"), col("rel_type"), col("common")))
    import spark.implicits._
    val present = Seq((3L, 6L, "SAME_COLLEGE", Seq.empty[String]),
        (1L, 6L, "SHARES_INTEREST", Seq("math")),
        (6L, 9L, "NEARBY", Seq.empty[String]))
      .toDF("src", "dst", "rel_type", "common")
    backfilled.unionByName(present).write.mode("overwrite")
      .saveAsTable("graft_ingest_merge.edges")
    val edges = spark.table("graft_ingest_merge.edges")
    val (_, id, delta) = Ingest.onboard(fixture, edges, newbie)
    // every candidate, with no existing edge to merge against
    val (_, _, candidates) =
      Ingest.onboard(fixture, edges.filter(lit(false)), newbie)
    val unpruned = EdgeRules.mergeNew(candidates, edges)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("src"), col("dst"), col("rel_type"),
          array_join(col("common"), "|"))
        .collect().map(_.toSeq.mkString(",")).toSeq.sorted
    assert(rows(delta) === rows(unpruned))
    assert(rows(delta).size === rows(candidates).size - 2)
    assert(!rows(delta).exists(_.startsWith("3,6,SAME_COLLEGE")))
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join}
    // the optimizer may push the anti-join below the candidates' union:
    // every copy's build side must be pruned
    val builds = delta.queryExecution.optimizedPlan.collect {
      case j: Join if j.joinType == LeftAnti => j.right
    }
    assert(builds.nonEmpty)
    import org.apache.spark.sql.catalyst.expressions.{Attribute, EqualTo,
      Literal, Or}
    for (build <- builds) {
      val conds = build.collect { case f: Filter => f.condition }
      assert(conds.exists(_.exists {
        case Or(EqualTo(a: Attribute, Literal(x, _)),
            EqualTo(b: Attribute, Literal(y, _))) =>
          Set(a.name, b.name) == Set("src", "dst") && x == id && y == id
        case _ => false
      }), conds)
    }
  }

  test("syncLowercase rewrites all string attrs and reports the count") {
    val uppered = fixture.withColumn("name", upper(col("name")))
    val (updated, n) = Ingest.syncLowercase(uppered)
    assert(n === 5)
    assert(updated.filter(col("name") =!= lower(col("name"))).count() === 0)
  }

  test("onboardUser assigns MAX+1 and preserves case (User ingest has no normalization)") {
    import spark.implicits._
    val users = Seq((1L, "Grace Hopper", 85L), (7L, "Alan Turing", 41L))
      .toDF("id", "name", "age")
    val (users2, id) = Ingest.onboardUser(users, Seq(("Ada Lovelace", 36L)).toDF("name", "age"))
    assert(id === 8L)
    assert(users2.count() === 3)
    val row = users2.filter(col("id") === 8L).select("name", "age").first()
    // verbatim mixed case — graphdb.py:32-40 creates the node as given;
    // the Student route's lowercasing must NOT leak onto the User label
    assert(row.getString(0) === "Ada Lovelace")
    assert(row.getLong(1) === 36L)
    // empty table: the same null→0 coalesce as the Student path
    val (_, firstId) = Ingest.onboardUser(
      users.filter(lit(false)), Seq(("Solo", 1L)).toDF("name", "age"))
    assert(firstId === 1L)
  }

  test("backfill toggles: disabled rules' edges are absent and the default is all four") {
    val partial = EdgeRules.backfill(fixture, Set("SAME_COLLEGE", "SAME_STREAM"))
    val types = partial.select("rel_type").distinct().collect().map(_.getString(0)).toSet
    assert(types === Set("SAME_COLLEGE", "SAME_STREAM"))
    // partial == full backfill restricted to the enabled types, row-for-row
    val full = EdgeRules.backfill(fixture)
    val expected = full.filter(col("rel_type").isin("SAME_COLLEGE", "SAME_STREAM"))
    assert(partial.exceptAll(expected).count() === 0)
    assert(expected.exceptAll(partial).count() === 0)
    // a disabled rule never enters the plan (no post-filter): the enabled
    // rules share one join, and only their rel types appear in the plan
    def nJoins(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }.size
    def relTypes(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
        case org.apache.spark.sql.catalyst.expressions.Literal(v, _)
            if v != null => v.toString
      })).toSet.intersect(EdgeRules.AllEquiRules.map(_._2).toSet)
    assert(nJoins(partial) === 1)
    assert(nJoins(full) === 1)
    assert(relTypes(partial) === Set("SAME_COLLEGE", "SAME_STREAM"))
    assert(relTypes(full) === EdgeRules.AllEquiRules.map(_._2).toSet)
    intercept[IllegalArgumentException](EdgeRules.backfill(fixture, Set("NOPE")))
  }
}
