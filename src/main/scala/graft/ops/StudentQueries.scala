package graft.ops

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/** Point lookups and the two "authoritative template" queries the
  * reference's NL front-end compiles to (src/llm_cypher.py:85-102):
  * single-student detail and two-name pair relationship.
  */
object StudentQueries {

  /** S2 — `MATCH (s:Student {id: $id})` point lookup
    * (student_service.py:110-132). Parquet predicate pushdown makes this a
    * row-group-pruned scan, not a full read. */
  def byId(students: DataFrame, id: Long): DataFrame =
    students.filter(col("id") === lit(id))

  /** P2 — case-insensitive name equality (the sanitizer's canonical form,
    * llm_cypher.py:165-183): `WHERE toLower(s.name) = toLower($name)`. */
  def byName(students: DataFrame, name: String): DataFrame =
    students.filter(lower(col("name")) === lit(name.toLowerCase)).limit(1)

  /** J6 — existence guard before recommending (student_service.py:139-144),
    * generalized to a semi-join when used in a pipeline. */
  def existing(students: DataFrame, ids: DataFrame): DataFrame =
    students.join(ids, Seq("id"), "left_semi")

  /** U4's deterministic renderer (`explain_result`, llm_cypher.py:248-289 —
    * the non-LLM fallback): per-student "Name/Address/College/Board/Stream"
    * field blocks joined under the header, or the sorry-string when empty.
    * A null field's line is skipped, matching the reference exactly: Neo4j
    * omits null properties from `record.data()`, so its `if "address" in
    * student` guard drops the line — here `concat` nulls the line and
    * `concat_ws` drops it. Ordered by id via the same sort_array technique
    * as the response envelope; one row out, bounded by the result size. */
  def explainStudents(students: DataFrame): DataFrame = {
    val hasInterests = students.columns.contains("interests")
    val detail = concat_ws("\n",
      (Seq(
        concat(lit("Name: "), col("name")),
        concat(lit("Address: "), col("address")),
        concat(lit("College: "), col("college")),
        concat(lit("Board: "), col("board")),
        concat(lit("Stream: "), col("stream"))) ++
       (if (hasInterests)
          Seq(concat(lit("Interests: "), array_join(col("interests"), ", ")))
        else Nil)): _*)
    students.select(col("id"), detail.as("d"))
      .agg(sort_array(collect_list(struct(col("id"), col("d")))).as("arr"))
      .select(
        when(size(col("arr")) === 0,
          lit("I'm sorry, but I couldn't find any students matching your query in the database."))
        .otherwise(concat(
          lit("I found the following students matching your query:\n\n"),
          array_join(transform(col("arr"), x => x("d")), "\n\n")))
        .as("response"))
  }

  /** J4 — the two-name relationship template (llm_cypher.py:86-96):
    *   MATCH (a {name: $n1}), (b {name: $n2})
    *   OPTIONAL MATCH p = (a)-[r]-(b)
    *   RETURN a.*, b.*, type(r), properties(r), a.college = b.college AS ...
    * Pair details survive even when no edge exists (left outer), and the
    * undirected `-[r]-` pattern matches BOTH orientations of the directed
    * edge table (edges stored with src < dst, create_relationships.py:19).
    *
    * `properties(r)` parity (llm_cypher.py:91): every edge column beyond the
    * (src, dst, rel_type) key is an edge property and passes through the
    * projection — e.g. a SHARES_INTEREST edge's `common` array
    * (create_relationships.py:85) surfaces next to `rel_type`.
    *
    * Physical shape: bind, then probe — Neo4j's two index seeks and one
    * adjacency probe. This runs two small queries EAGERLY and returns a
    * local relation:
    *   1. one scan, `lower(name) IN (n1, n2)`, collects both sides (the
    *      first row per lowered name, as the template's `limit(1)`);
    *   2. the two ids, bound as literals, probe the edge table with
    *      `(src = a AND dst = b) OR (src = b AND dst = a)` — a pushed-down
    *      filter on a stored table, no join and one scan of `edges`;
    *   3. the driver rebuilds the left-outer result: one row per matched
    *      orientation, one null-edge row when nothing matched, no rows when
    *      either name is missing.
    * The template's projection runs over that relation in Spark, so its null
    * rules for `same_*` and `common_interests` hold. The `ORDER BY type(r)`
    * runs on the driver with Spark's string order (nulls first): a sort over
    * a local relation would still plan Spark jobs (3 at local[4]).
    * The pair is bound rather than joined because a broadcast hash join
    * cannot build the preserved side of a left outer join: the edge table
    * would be the built or sorted side, read in full.
    */
  def pairRelationship(
      students: DataFrame, edges: DataFrame,
      name1: String, name2: String): DataFrame = {
    // When the student table carries interests, the template's
    // `[x IN a.interests WHERE x IN b.interests] AS common_interests`
    // (llm_cypher.py:99) is projected too — RAW membership, a's order,
    // exactly as written (the template does not normalize here).
    val hasInterests = students.columns.contains("interests")
    val sideCols = Seq("id", "name", "college", "board", "stream") ++
      (if (hasInterests) Seq("interests") else Nil)
    val (key1, key2) = (name1.toLowerCase, name2.toLowerCase)
    val found = students.filter(lower(col("name")).isin(key1, key2))
      .select(lower(col("name")) +: sideCols.map(col): _*).collect()
    def side(key: String) =
      found.find(_.getString(0) == key).map(r => Row.fromSeq(r.toSeq.tail))
    val propCols = edges.columns.filterNot(Set("src", "dst", "rel_type")).toSeq
    val edgeCols = "rel_type" +: propCols
    val rows = (side(key1), side(key2)) match {
      case (Some(a), Some(b)) =>
        val (aId, bId) = (a.get(0), b.get(0))
        val matched = edges
          .filter((col("src") === lit(aId) && col("dst") === lit(bId)) ||
                  (col("src") === lit(bId) && col("dst") === lit(aId)))
          .select((Seq("src", "dst") ++ edgeCols).map(col): _*).collect()
          // a self-pair's loop edge matches in both orientations
          .flatMap(e => Seq((aId, bId), (bId, aId))
            .filter { case (s, d) => e.get(0) == s && e.get(1) == d }
            .map(_ => e.toSeq.drop(2)))
        val relType = (e: Seq[Any]) =>
          Option(e.head).map(v => UTF8String.fromString(v.toString))
        val ordered = matched.sortBy(relType)(Ordering.Option(
          Ordering.fromLessThan[UTF8String](_.binaryCompare(_) < 0)))
        (if (ordered.isEmpty) Seq(Seq.fill(edgeCols.size)(null)) else ordered.toSeq)
          .map(e => Row.fromSeq(a.toSeq ++ b.toSeq ++ e))
      case _ => Nil
    }
    def prefixed(p: String) = sideCols.map(c =>
      students.schema(c).copy(name = s"${p}_$c", nullable = true))
    val schema = StructType(prefixed("a") ++ prefixed("b") ++
      edgeCols.map(c => edges.schema(c).copy(nullable = true)))
    val interestCols =
      if (hasInterests)
        Seq(filter(col("a_interests"),
          x => array_contains(col("b_interests"), x)).as("common_interests"))
      else Nil
    students.sparkSession.createDataFrame(rows.asJava, schema)
      .select(
        Seq(col("a_id"), col("a_name"), col("b_id"), col("b_name"),
          col("rel_type")) ++
        propCols.map(col) ++ Seq(
          (col("a_college") === col("b_college")).cast("int").as("same_college"),
          (col("a_board") === col("b_board")).cast("int").as("same_board"),
          (col("a_stream") === col("b_stream")).cast("int").as("same_stream")) ++
        interestCols: _*)
      .limit(25) // the template's LIMIT 25 (llm_cypher.py:96)
  }
}
