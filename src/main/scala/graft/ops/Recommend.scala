package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftSql

import graft.functions.Norm

/** EP2 — the reference's flagship read query `recommend_people`
  * (fastapi/services/student_service.py:134-190): anchor student × all
  * others, four null-safe normalized-equality match flags, additive score,
  * `WHERE score > 0`, `ORDER BY score DESC`.
  *
  * Physical shape: the anchor side is ONE row, so this is a broadcast
  * nested-loop join (SURVEY.md §2.3 J3) — the students scan streams once,
  * no shuffle. At 100 TB the plan is a single pass over `students` with the
  * anchor in every executor's memory; the final order-by is a
  * TakeOrderedAndProject when a limit is applied, or a 1-column range sort
  * otherwise.
  */
object Recommend {

  private def flag(c: Column): Column = when(c, 1).otherwise(0)

  /** The match-flag/scoring core. Reproduces the coalesce-to-'' semantics of
    * student_service.py:151-154 exactly: two NULL (or empty) fields count as
    * a match — the "''=''" quirk of SURVEY.md §7.4. Includes interest
    * intersection when an `interests` column is present (kept with the
    * OTHER student's casing, student_service.py:155). */
  def recommend(students: DataFrame, anchorId: Long): DataFrame = {
    val hasInterests = students.columns.contains("interests")
    val anchorCols = Seq("college", "board", "stream", "address") ++
      (if (hasInterests) Seq("interests") else Nil)
    val anchor = students
      .filter(col("id") === lit(anchorId))
      .select(anchorCols.map(c => col(c).as(s"s_$c")): _*)

    val base = students
      .filter(col("id") =!= lit(anchorId))
      .crossJoin(broadcast(anchor))
      .withColumn("bm", flag(Norm.normEq(col("board"), col("s_board"))))
      .withColumn("sm", flag(Norm.normEq(col("stream"), col("s_stream"))))
      .withColumn("cm", flag(Norm.normEq(col("college"), col("s_college"))))
      .withColumn("am", flag(Norm.normEq(col("address"), col("s_address"))))

    val withInterests =
      if (hasInterests)
        base.withColumn("matching_interests",
          Norm.intersectKeepLeft(col("interests"), col("s_interests")))
      else
        base.withColumn("matching_interests", Norm.emptyStrArray)

    withInterests
      .withColumn("score",
        col("bm") + col("sm") + col("cm") + col("am") + size(col("matching_interests")))
      .filter(col("score") > 0)
      // matched_on list assembled engine-side (the reference does this in
      // Python post-processing, student_service.py:165-190); order follows
      // the reference's flag order: board, stream, college, address, interests.
      .withColumn("matched_on",
        filter(
          array(
            when(col("bm") === 1, "board"),
            when(col("sm") === 1, "stream"),
            when(col("cm") === 1, "college"),
            when(col("am") === 1, "address"),
            when(size(col("matching_interests")) > 0, "interests")),
          x => x.isNotNull))
      // Response parity with the reference's StudentResponse
      // (student_service.py:158-160, models/student.py:14-21): the OTHER
      // student's address and interests ride along; `am` is same_address.
      .select(col("id"), col("name"), col("address"),
        (if (hasInterests) col("interests")
         else lit(null).cast("array<string>")).as("interests"),
        col("bm"), col("sm"), col("cm"),
        col("am"), col("matching_interests"), col("matched_on"), col("score"))
      // score DESC per the reference; id tiebreak for deterministic output.
      .orderBy(desc("score"), col("id"))
  }

  /** EP2's response envelope (student_routes.py:46-62): the recommended
    * names in response order (score DESC, id) rendered with the reference's
    * 1/2/n-name grammar, plus total_matches. Ordering survives distribution
    * because the names are collected as (-score, id, name) structs and
    * sort_array'd — a deterministic ordered aggregation, not a
    * single-partition trick. The reduce to one row is inherent to the
    * endpoint (one message per call), and the row is bounded by the
    * recommendation count, not the table size.
    *
    * Because the envelope orders by itself, a global sort on top of `recs`
    * (the one `recommend` ends in) is dead work — its range-partition
    * sampling and exchange alone are two Spark jobs — so the aggregate
    * reads the sort's child. Any other top node (a `limit`) stays. */
  def responseMessage(recs: DataFrame): DataFrame =
    (recs.queryExecution.logical match {
      case Sort(_, true, child, _) => GraftSql.ofRows(recs.sparkSession, child)
      case _ => recs
    }).select(col("score"), col("id"), col("name"))
      .agg(sort_array(collect_list(
        struct((-col("score")).as("ns"), col("id"), col("name")))).as("arr"))
      .select(transform(col("arr"), x => x("name")).as("names"))
      .select(
        when(size(col("names")) === 0,
          lit("Sorry, no matches found for this platform."))
        .when(size(col("names")) === 1,
          concat(element_at(col("names"), 1), lit(" is also in this platform.")))
        .when(size(col("names")) === 2,
          concat(element_at(col("names"), 1), lit(" and "),
            element_at(col("names"), 2), lit(" are also in this platform.")))
        .otherwise(
          concat(array_join(slice(col("names"), lit(1), size(col("names")) - 1), ", "),
            lit(", and "), element_at(col("names"), -1),
            lit(" are also in this platform."))).as("message"),
        size(col("names")).cast("bigint").as("total_matches"))
}
