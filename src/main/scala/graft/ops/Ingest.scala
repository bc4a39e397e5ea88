package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Norm

/** EP1 — the reference's onboarding write path (fastapi/services/
  * student_service.py:21-108): assign id = MAX(id)+1, create the node,
  * then materialize the five incremental similarity edges against all
  * existing students, with MERGE (create-iff-absent) semantics.
  *
  * Persistence model: students/edges are parquet tables with append /
  * copy-on-write semantics under a single-writer assumption — the
  * documented substitute for Neo4j's transactional MERGE (SURVEY.md §4).
  * The MAX(id)+1 read-modify-write is an inherently serial OLTP idiom; we
  * reproduce it faithfully and note that a distributed writer would use
  * monotonically_increasing_id or an external sequence instead.
  */
object Ingest {

  /** Next id: MAX(s.id)+1 with the reference's null→0 coalesce
    * (student_service.py:34-38). Single-row action. */
  def nextId(students: DataFrame): Long = {
    val row = students.agg(coalesce(max(col("id")), lit(0L)).as("m")).first()
    row.getLong(0) + 1L
  }

  /** Ingest-normalization: every string field lowercased
    * (student_routes.py:26-33), interests elements normalized. */
  def normalizeNew(newStudent: DataFrame): DataFrame = {
    val strCols = Seq("name", "address", "college", "board", "stream")
    val lowered = strCols.foldLeft(newStudent) { (df, c) =>
      if (df.columns.contains(c)) df.withColumn(c, lower(col(c))) else df
    }
    if (lowered.columns.contains("interests"))
      lowered.withColumn("interests", Norm.normArr(col("interests")))
    else lowered
  }

  /** One onboarding step, in-memory form: returns (students', edges') after
    * appending the new student (with assigned id) and the MERGE-deduped
    * incremental edges (equi rules + interest rule when present). */
  def onboard(
      students: DataFrame, edges: DataFrame,
      newStudent: DataFrame): (DataFrame, Long, DataFrame) = {
    val id = nextId(students)
    val withId = normalizeNew(newStudent).withColumn("id", lit(id))
    val appended = students.unionByName(withId, allowMissingColumns = true)

    val equiDelta = EdgeRules.incrementalEdges(students, withId)
    val interestDelta =
      if (withId.columns.contains("interests") && students.columns.contains("interests"))
        EdgeRules.incrementalInterestEdges(students, withId)
      else null
    val delta0 = Option(interestDelta)
      .map(d => equiDelta.withColumn("common", Norm.emptyStrArray).unionByName(d))
      .getOrElse(equiDelta.withColumn("common", Norm.emptyStrArray))
    // every candidate is (least(o, id), greatest(o, id), …), so only an
    // existing edge touching `id` can match one: the anti-join's build
    // side is the newcomer's edges, not the whole edge table
    val delta = EdgeRules.mergeNew(delta0,
      edges.filter(col("src") === id || col("dst") === id))
    (appended, id, delta)
  }

  /** Persisted form: append the new student + edge delta to parquet tables
    * (single-writer; copy-on-write for updates per SURVEY.md S6). */
  def onboardAndWrite(
      spark: SparkSession, studentsPath: String, edgesPath: String,
      newStudent: DataFrame): Long = {
    val students = spark.read.parquet(studentsPath)
    val edges = spark.read.parquet(edgesPath)
    val (appended, id, delta) = onboard(students, edges, newStudent)
    // persist exactly the row onboard appended (no re-derivation drift)
    appended.filter(col("id") === lit(id)).write.mode(SaveMode.Append).parquet(studentsPath)
    delta.write.mode(SaveMode.Append).parquet(edgesPath)
    id
  }

  /** S4b — the reference's SECOND node label: `CREATE (u:User {name: $name,
    * age: $age}) RETURN u` (src/graphdb.py:32-40). Two deliberate contrasts
    * with the Student path: (1) NO ingest normalization — create_user passes
    * name/age through verbatim; the lowercasing lives only in
    * student_routes.py:26-33 — and (2) no edge rules fire (no relationship
    * type in the reference touches User). Same MAX+1 substitute for Neo4j's
    * internal node id as [[onboard]] (single-writer OLTP idiom, see the
    * object scaladoc). Returns (users', assigned id) — the RETURN u row is
    * the appended row filtered to that id. */
  def onboardUser(users: DataFrame, newUser: DataFrame): (DataFrame, Long) = {
    val id = nextId(users)
    val withId = newUser.withColumn("id", lit(id))
    (users.unionByName(withId, allowMissingColumns = true), id)
  }

  /** S6 — batch property update with copy-on-write semantics: the
    * reference's `sync_lowercase_students` (student_service.py:201-220)
    * SET s.name = toLower(s.name) over all rows. Returns the updated table
    * and the processed count (the reference RETURNs count(s)). */
  def syncLowercase(students: DataFrame): (DataFrame, Long) = {
    val updated = students
      .withColumn("name", lower(col("name")))
      .withColumn("college", lower(col("college")))
      .withColumn("board", lower(col("board")))
      .withColumn("stream", lower(col("stream")))
    (updated, updated.count())
  }

  /** DETACH DELETE — Neo4j's node-removal semantics (`DETACH DELETE s`
    * drops the node AND every incident relationship atomically), which
    * the reference's CRUD surface omits entirely (no delete endpoint
    * exists); this is the beyond-reference completion of the S-series
    * write path, the node-graph sibling of the index families'
    * [[Tombstones]] lifecycle. Copy-on-write like [[syncLowercase]]:
    * returns the filtered (students, edges) frames — at scale both are
    * pushed-predicate scans writing a new generation, never in-place
    * mutations, and the edge filter is ONE pass over the edge table
    * (src ≠ id ∧ dst ≠ id), not a per-rule rebuild. */
  def detachDelete(students: DataFrame, edges: DataFrame,
      id: Long): (DataFrame, DataFrame) =
    (students.filter(col("id") =!= id),
      edges.filter(col("src") =!= id && col("dst") =!= id))
}
