package graft.entry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.IndelRatio
import graft.model.Tables
import graft.ops._
import graft.streaming.Streams

/** Student/graph CRUD, edge rules, ingest, range/as-of joins (SURVEY §2.1/§2.3).
  * Rows split verbatim from SparkEntry (round 17); composed back in
  * [[graft.SparkEntry.queries]] / [[graft.SparkEntry.oracleSql]]. */
object StudentEntry {
  import EntryFixtures._
  import OracleCtes._

  /** J5 incremental-edge CTE body (one new student `n` vs all existing) —
    * shared by `ingest_onboard_delta` and the adjacency-delta oracle. */
  private val onboardDeltaSql: String =
    Seq("college" -> "SAME_COLLEGE", "board" -> "SAME_BOARD",
        "stream" -> "SAME_STREAM", "address" -> "NEARBY")
      .map { case (a, t) =>
        s"SELECT least(s.id, n.id) AS src, greatest(s.id, n.id) AS dst, '$t' AS rel_type " +
        s"FROM students s, n WHERE s.id <> n.id " +
        s"AND s.$a IS NOT NULL AND n.$a IS NOT NULL " +
        s"AND lower(trim(coalesce(s.$a,''))) <> '' " +
        s"AND lower(trim(coalesce(s.$a,''))) = lower(trim(coalesce(n.$a,'')))"
      }.mkString(" UNION ALL ")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.1 scans
    "s1_students_scan" -> ((s, d) =>
      Tables.students(s, d).orderBy(col("id"))),
    "s2_point_lookup" -> ((s, d) =>
      StudentQueries.byId(Tables.students(s, d), 42L)),
    "p2_ci_name_eq" -> ((s, d) =>
      Tables.students(s, d)
        .filter(lower(col("name")) === lit("Customer#000000013".toLowerCase))),
    // §2.4 aggregations
    "a1_next_id" -> ((s, d) =>
      Tables.students(s, d)
        .agg(coalesce(max(col("id")), lit(0L)).cast("long").as("max_id"))
        .select((col("max_id") + 1).as("next_id"))),
    "a2_count" -> ((s, d) =>
      Tables.customer(s, d).agg(count(lit(1)).as("n"))),
    // §2.5 top-k
    "o3_topk_acctbal" -> ((s, d) =>
      Tables.customer(s, d)
        .select(col("c_custkey").as("id"), col("c_acctbal"))
        .orderBy(desc("c_acctbal"), col("id")).limit(10)),
    // §2.3 joins
    // ARRAY outputs are serialized to '|'-joined strings for the driver's
    // oracle gate (pandas sort_values can't hash numpy arrays); the array
    // forms stay covered by GoldenFixtureSpec.
    "j3_recommend" -> ((s, d) =>
      Recommend.recommend(Tables.students(s, d), 1L)
        .withColumn("matched_on", array_join(col("matched_on"), "|"))
        .withColumn("interests", array_join(col("interests"), "|"))
        .drop("matching_interests")),
    // The endpoint's response envelope (student_routes.py:46-62),
    // assembled engine-side; the 0/1/2-name grammar branches (vacuous at
    // oracle SF) are golden-tested on the fixture in GoldenFixtureSpec.
    "recommend_message" -> ((s, d) =>
      Recommend.responseMessage(Recommend.recommend(Tables.students(s, d), 1L))),
    // U4's deterministic renderer over a small detail result, and its
    // single-count fast-path (llm_cypher.py:258-261) — the non-LLM half of
    // result-to-text, engine-side.
    "u4_explain_students" -> ((s, d) =>
      StudentQueries.explainStudents(Tables.students(s, d).filter(col("id") < 5))),
    "u4_explain_count" -> ((s, d) =>
      Tables.students(s, d).agg(count(lit(1)).as("n"))
        .select(concat(lit("There are "), col("n"),
          lit(" students matching your query in the database.")).as("response"))),
    "j6_exists" -> ((s, d) =>
      StudentQueries.existing(
        Tables.students(s, d),
        Tables.orders(s, d).select(col("o_custkey").as("id")))
        .select(col("id")).orderBy(col("id"))),
    // No final orderBy on the pair-explosion queries: the driver's gate
    // canonicalizes row order itself (its pandas sort_values is what crashed
    // on arrays in round 1), and a global total-order over tens of millions
    // of edge rows is pure overhead nobody would run at 100 TB.
    "edges_backfill" -> ((s, d) => EdgeRules.backfill(Tables.students(s, d))),
    // run_all's per-edge-type toggles (create_relationships.py:96-106):
    // a partial backfill — college + stream only — whose oracle hash
    // PROVES the disabled SAME_BOARD/NEARBY rules are absent, not merely
    // filtered out (each disabled rule's self-join never enters the plan).
    "edges_backfill_partial" -> ((s, d) => EdgeRules.backfill(
      Tables.students(s, d), Set("SAME_COLLEGE", "SAME_STREAM"))),
    // Personalized PageRank from the flagship anchor over the backfilled
    // student graph (the graph-native "recommend people" scorer the EP2
    // one-vs-all query feeds into) — 3 power-iteration rounds in exact
    // scaled-integer arithmetic; every rank is a bit-reproducible long.
    "graph_ppr" -> ((s, d) =>
      graft.graph.GraphOps.personalizedPageRank(Tables.students(s, d), 1L)),
    // rule-count-WEIGHTED walk: transition mass follows the reference's
    // own EP2 scoring (a college+board pair pulls 2x a single-rule pair)
    "graph_ppr_weighted" -> ((s, d) =>
      graft.graph.GraphOps.personalizedPageRankWeighted(
        Tables.students(s, d), 1L)),
    // the walk served from the STANDING adjacency table (WarmIndex —
    // build priced once per suite): k relax rounds and nothing else
    "graph_ppr_query" -> ((s, d) =>
      graft.graph.GraphOps.personalizedPageRankIndexed(
        s, WarmIndex.graphAdjacency(s, d), 1L)),
    // the batch frontend off the standing adjacency: all anchors advance
    // through the SAME k folds keyed by (qid, node) — the whole batch
    // costs k shuffle rounds regardless of |anchors|; a missing anchor
    // degenerates to its teleport row (negative case rides along)
    "graph_ppr_batch" -> ((s, d) =>
      graft.graph.GraphOps.personalizedPageRankBatchIndexed(
        s, WarmIndex.graphAdjacency(s, d), pprBatchAnchors)),
    // the EP2 output shape: top-10 PPR-ranked NEW people (anchor and its
    // true 1-hop neighbors excluded — never recommend an existing edge)
    "graph_ppr_recommend" -> ((s, d) =>
      graft.graph.GraphOps.personalizedPageRankRecommend(
        Tables.students(s, d), 1L)),
    // the recommend shape SERVED from the standing adjacency — the
    // production read path (walk off the warm layout + the J5 broadcast
    // neighbor probe); same oracle as the inline build-pricing form
    "graph_ppr_recommend_query" -> ((s, d) =>
      graft.graph.GraphOps.personalizedPageRankRecommendIndexed(
        s, WarmIndex.graphAdjacency(s, d), Tables.students(s, d), 1L)),
    // convergence-DETECTED walk off the standing adjacency: relax rounds
    // stop at the exact scaled-integer fixpoint (one change-set isEmpty
    // per round); the oracle unrolls the PprConvMaxRounds bound — a
    // no-op past the fixpoint, so engine and oracle agree at any halt
    "graph_ppr_converged" -> ((s, d) =>
      graft.graph.GraphOps.personalizedPageRankConverged(
        s, WarmIndex.graphAdjacency(s, d), 1L)),
    // the fixpoint walk's BATCH frontend (graph_ppr_batch's discipline
    // applied to the converged twin): all anchors relax through ONE
    // round sequence keyed by (qid, node), halting when the whole
    // batch's change set is empty — N anchors cost the slowest anchor's
    // fixpoint, not N × rounds; early convergers ride along as exact
    // no-ops and the missing anchor stays at its teleport row
    "graph_ppr_converged_batch" -> ((s, d) =>
      graft.graph.GraphOps.personalizedPageRankConvergedBatch(
        s, WarmIndex.graphAdjacency(s, d), pprBatchAnchors)),
    // community detection on the REFERENCE'S OWN graph (which student
    // cohorts exist): k sync LPA rounds over the capped equi-rule
    // adjacency — exercises the near-clique cap discipline the chain-
    // fixture LPA row avoids. Served from the STANDING adjacency (the
    // graph_ppr_query separation: the rule-join build is priced once by
    // warm_index_build; the spec pins indexed == inline)
    "graph_label_prop_students" -> ((s, d) =>
      graft.graph.GraphOps.labelPropagationStudentsIndexed(
        s, WarmIndex.graphAdjacency(s, d), Tables.students(s, d))),
    // k-core peeling on the same capped student view (cohort cores vs
    // peripheral members); k = 30 peels against the 32-cap's upper range
    // where the near-clique graph actually thins
    "graph_kcore_students" -> ((s, d) =>
      graft.graph.GraphOps.kCoreStudentsIndexed(
        s, WarmIndex.graphAdjacency(s, d))),
    // the adjacency layout's LIFECYCLE member: onboard one student (J5
    // incremental edges) and emit the post-insert capped slices of every
    // affected key — old slice ∪ {newId} re-capped, never a corpus rescan;
    // the oracle recomputes post-insert slices FROM SCRATCH (the hash
    // match proves the maintenance identity)
    "graph_adj_delta" -> ((s, d) => {
      val (_, id, delta) =
        Ingest.onboard(Tables.students(s, d), emptyEdges(s), newStudentDf(s))
      graft.graph.GraphOps.adjacencyDelta(
        s, WarmIndex.graphAdjacency(s, d),
        delta.select(col("src"), col("dst")), id)
    }),
    // the DELETE side (detach-delete student 3, the ingest_detach_delete
    // victim): eviction makes slices non-reconstructible, so affected keys
    // re-derive from one rule-join pass — the delete-time affected-group
    // recompute cost model, priced here
    "graph_adj_delete" -> ((s, d) =>
      graft.graph.GraphOps.adjacencyDelete(
        s, WarmIndex.graphAdjacency(s, d), Tables.students(s, d), 3L)),
    // GraphSAGE-style neighborhood feature aggregation off the standing
    // adjacency: two exact floor-division mean folds (self + capped
    // slice), so h2 mixes 2-hop structure in 2 joins — never 2-hop pairs
    "graph_feature_agg" -> ((s, d) =>
      graft.graph.GraphOps.featureAggregate(
        s, WarmIndex.graphAdjacency(s, d), Tables.students(s, d))),
    // STREAMING maintenance of the PARTITIONED standing adjacency (the
    // 8th standing layout to gain a streaming twin): two onboarded
    // students arrive as file-source micro-batches; each folds its J5
    // one-vs-all edges into the adjacency via the bucket-pruned dynamic-
    // partition-overwrite apply and grows the corpus table. n1's only
    // edge is to n2 (fixture-unique college), so the n1–n2 slice rows
    // exist iff batch 2 really saw batch 1's corpus growth; the oracle
    // recomputes the post-ingest slices FROM SCRATCH.
    "stream_adj_ingest" -> ((s, d) => {
      val wh = java.nio.file.Files.createTempDirectory("graft-adj-stream")
        .toFile.getAbsolutePath
      s.sql(s"CREATE DATABASE IF NOT EXISTS graft_idx LOCATION '$wh'")
      Seq("graft_idx.adjstream", "graft_idx.adjstream_corpus")
        .foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
      val students = Tables.students(s, d)
      students.coalesce(4).write.saveAsTable("graft_idx.adjstream_corpus")
      // seed the maintainable layout from the WARM flat adjacency — the
      // build is priced once by warm_index_build; this row prices the
      // STREAMING maintenance, not a second rule-join backfill
      graft.graph.GraphOps.partitionAdjacencyFrom(
        s, WarmIndex.graphAdjacency(s, d), "graft_idx.adjstream")
      val maxId = students.agg(max(col("id"))).collect()(0).getLong(0)
      val (n1, n2) = (maxId + 1, maxId + 2)
      val newRows = newStreamStudents(s, n1, n2)
      Streams.replay(s, Seq(newRows.filter(col("id") === n1),
          newRows.filter(col("id") === n2)))(
        Streams.incrementalAdjacencyMaintenance(_,
          "graft_idx.adjstream", "graft_idx.adjstream_corpus"))
      val adj = s.table("graft_idx.adjstream")
      val gained = adj.filter(col("dst").isin(n1, n2))
        .select(col("src")).distinct()
      adj.join(broadcast(gained), Seq("src"), "left_semi")
        .select(col("src"), col("dst"))
        .unionByName(adj.filter(col("src").isin(n1, n2))
          .select(col("src"), col("dst")))
        .distinct().orderBy(col("src"), col("dst"))
    }),
    // DETACH DELETE (beyond-reference: the reference has no delete
    // endpoint) — node removal takes every incident edge with it in one
    // pushed-predicate pass over the edge table; output = the surviving
    // edges, the part a dangling-edge bug would corrupt
    "ingest_detach_delete" -> ((s, d) => {
      val st = Tables.students(s, d)
      val (_, edges) = Ingest.detachDelete(st, EdgeRules.backfill(st), 3L)
      edges.orderBy(col("rel_type"), col("src"), col("dst"))
    }),
    // Skew-resilience evidence (round-4 verdict item 8): the same salted
    // pair join driven by a deliberately Zipfian 3-value key (80/10/10 over
    // a FIXED 12k-student slice — a controlled workload, identical at every
    // SF, so salted vs salt=1 is an apples-to-apples recorded number in the
    // bench). Output is a 1-row count+checksum: the ~46M-pair explosion is
    // fully produced and map-side-aggregated, while the oracle compare
    // stays one row.
    "edges_skew_salted" -> ((s, d) => skewPairsChecksum(s, d)),
    "edges_skew_unsalted" -> ((s, d) => {
      // salt=1 is read at plan-construction time (the salt is baked into
      // literals), so the conf can be restored before returning.
      val prev = s.conf.getOption(EdgeRules.PairSaltConf)
      s.conf.set(EdgeRules.PairSaltConf, "1")
      try skewPairsChecksum(s, d)
      finally prev.fold(s.conf.unset(EdgeRules.PairSaltConf))(v =>
        s.conf.set(EdgeRules.PairSaltConf, v))
    }),
    // third skew variant: NO structural salt (salt=1, the control), but
    // AQE's skew-join allowed to split the hot partition — forced SMJ
    // (broadcast off) because skew split only applies to shuffle joins,
    // thresholds lowered to sf0.1 byte sizes (the 256MB defaults are
    // cluster-scale). Execution-time confs ride scopedConf: restored at
    // the driver's query boundary, AFTER the plan actually runs.
    "edges_skew_aqe" -> ((s, d) => {
      graft.CacheScope.scopedConf(s,
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.skewJoin.enabled" -> "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4KB")
      // both are plan-construction confs (baked into the returned plan as
      // literals/shape), so restoring them immediately is safe
      val prevSalt = s.conf.getOption(EdgeRules.PairSaltConf)
      val prevMan = s.conf.getOption(EdgeRules.PairManualShuffleConf)
      s.conf.set(EdgeRules.PairSaltConf, "1")
      s.conf.set(EdgeRules.PairManualShuffleConf, "false")
      // round-robin the input across 32 mappers first: AQE splits a skewed
      // reduce partition at MAP-OUTPUT-BLOCK granularity, and this
      // fixture's single 300KB parquet scans as ONE map task — an
      // unsplittable single block. A real cluster has thousands of
      // mappers; the pre-shuffle stands in for that.
      try skewPairsChecksumFrom(skewStudents(s, d).repartition(32))
      finally {
        prevSalt.fold(s.conf.unset(EdgeRules.PairSaltConf))(v =>
          s.conf.set(EdgeRules.PairSaltConf, v))
        prevMan.fold(s.conf.unset(EdgeRules.PairManualShuffleConf))(v =>
          s.conf.set(EdgeRules.PairManualShuffleConf, v))
      }
    }),
    "j2_shares_interest" -> ((s, d) =>
      EdgeRules.interestRule(Tables.partInterests(s, d))
        .withColumn("common", array_join(col("common"), "|"))), // see j3 note
    // Scale-bounded J2 variant (the one benched at sf0.1): df-capped token
    // pairs over documents words. The uncapped all-pairs form above keeps
    // the reference's exact semantics for the sf0.01 oracle.
    "j2_rare_token_pairs" -> ((s, d) =>
      EdgeRules.interestRuleCapped(
        Tables.documents(s, d)
          .select(col("doc_id").as("id"), Dedup.words(col("text")).as("interests")),
        maxDf = 250L)
        .withColumn("common", array_join(col("common"), "|"))),
    "j7_merge_anti" -> ((s, d) => {
      val st = Tables.students(s, d)
      EdgeRules.mergeNew(
        EdgeRules.equiRule(st.filter(col("id") < 200), "board", "SAME_BOARD"),
        EdgeRules.equiRule(st.filter(col("id") < 100), "board", "SAME_BOARD"))
        .orderBy(col("src"), col("dst"))
    }),
    "j4_pair_relationship" -> ((s, d) => {
      val st = Tables.students(s, d)
      // Edge table carries SHARES_INTEREST edges (with their `common`
      // property) alongside the 4-rule backfill, so properties(rel)
      // parity is non-trivially exercised (F9): the named pair (ids 0, 1)
      // shares the synthetic interest token p0. The student side carries
      // interests too, so the template's common_interests projection
      // (llm_cypher.py:99) is exercised as well.
      //
      // Pushdown: a point template only needs edges INCIDENT TO THE TWO
      // NAMED STUDENTS, and every edge rule is pairwise-local (attr
      // equality / interest overlap read nothing but the two rows), so
      // running the rules on the name-filtered 2-row subset yields
      // byte-identical edges to filtering the full backfill — without
      // materializing the corpus-wide pair explosion per probe (a stored
      // graph's index lookup, expressed as rule-input pruning; the full
      // backfill keeps its own bench rows). Oracle unchanged: it still
      // derives the edge from the full SQL backfill.
      val names = Seq("Customer#000000000", "Customer#000000001")
      val stPair = st.filter(lower(col("name")).isin(names.map(_.toLowerCase): _*))
      // the pair-explosion machinery (salt fan-out + manual repartition)
      // is pure stage overhead on a 2-row rule input — plan-construction
      // confs, baked into the built plan, restored before returning
      val prevSalt = s.conf.getOption(EdgeRules.PairSaltConf)
      val prevMan = s.conf.getOption(EdgeRules.PairManualShuffleConf)
      s.conf.set(EdgeRules.PairSaltConf, "1")
      s.conf.set(EdgeRules.PairManualShuffleConf, "false")
      val edges =
        try EdgeRules.backfill(stPair)
          .withColumn("common", lit(null).cast("array<string>"))
          .unionByName(EdgeRules.interestRule(
            Tables.studentInterests(s, d).join(
              broadcast(stPair.select(col("id"))), Seq("id"), "left_semi")))
        finally {
          prevSalt.fold(s.conf.unset(EdgeRules.PairSaltConf))(v =>
            s.conf.set(EdgeRules.PairSaltConf, v))
          prevMan.fold(s.conf.unset(EdgeRules.PairManualShuffleConf))(v =>
            s.conf.set(EdgeRules.PairManualShuffleConf, v))
        }
      StudentQueries.pairRelationship(
        st.join(Tables.studentInterests(s, d), Seq("id")),
        edges, names.head, names(1))
        .withColumn("common", array_join(col("common"), "|"))
        .withColumn("common_interests", array_join(col("common_interests"), "|"))
    }),
    // EP1 onboarding (S4 node create + F10 ingest lowercasing + J5
    // incremental edges + J7 MERGE) exercised through Ingest.onboard as pure
    // read queries — the write path's exact outputs under the oracle gate.
    "ingest_onboard_row" -> ((s, d) => {
      val (appended, id, _) =
        Ingest.onboard(Tables.students(s, d), emptyEdges(s), newStudentDf(s))
      appended.filter(col("id") === lit(id))
    }),
    "ingest_onboard_delta" -> ((s, d) => {
      val (_, _, delta) =
        Ingest.onboard(Tables.students(s, d), emptyEdges(s), newStudentDf(s))
      delta.drop("common").orderBy(col("rel_type"), col("src"), col("dst"))
    }),
    // J5's interest variant under the oracle: one new member's interests
    // (mixed case + an unknown token, exercising normArr) broadcast against
    // the existing token table — never an all-pairs join.
    // S4b — the reference's second node label (CREATE (u:User {name, age})
    // RETURN u, graphdb.py:32-40): MAX+1 id, NO lowercasing (the mixed-case
    // literal survives verbatim — the contrast with ingest_onboard_row).
    "ingest_user_row" -> ((s, d) => {
      val (appended, id) = Ingest.onboardUser(Tables.users(s, d), newUserDf(s))
      appended.filter(col("id") === lit(id)).select("id", "name", "age")
    }),
    "ingest_interest_delta" -> ((s, d) => {
      import s.implicits._
      val newcomer = Seq((10000000L, Seq("Burnished ", "GIZMO", "red", "unobtainium")))
        .toDF("id", "interests")
      EdgeRules.incrementalInterestEdges(Tables.partInterests(s, d), newcomer)
        .withColumn("common", array_join(col("common"), "|"))
        .orderBy(col("src"), col("dst"))
    }),
    "j9_range_join" -> ((s, d) =>
      RangeJoin.eventPairsWithin(Tables.events(s, d), 600L)),
    "j8_asof_join" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max(col("o_orderkey")).as("o_orderkey"))
        .select(col("o_custkey").as("user_id"), col("o_orderdate"), col("o_orderkey"))
      AsOfJoin.asofLeft(
          Tables.events(s, d).select(col("event_id"), col("user_id"), col("ts")),
          o, key = "user_id", leftTime = "ts", rightTime = "o_orderdate",
          payload = Seq("o_orderkey"))
        .select(col("event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"), col("o_orderkey"))
        .orderBy(col("event_id"))
    }),
    // §2.9 fuzzy search
  )

  /** Adamic-Adar oracle tail — ONE literal shared by the inline
    * build-pricing form and the warm-served `_query` twin (they answer
    * identically: the standing adjacency IS the capped view). */
  private val adamicAdarOracleTail: String =
    s", e AS ($edgesSql), P AS (SELECT DISTINCT src, dst FROM e), " +
    "U0 AS (SELECT src, dst FROM P UNION ALL SELECT dst AS src, src AS dst FROM P), " +
    "U AS (SELECT src, dst FROM (SELECT src, dst, " +
    "row_number() OVER (PARTITION BY src ORDER BY dst) AS rn FROM U0) WHERE rn <= 32), " +
    "D AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM U GROUP BY src), " +
    "IV AS (SELECT src AS c, CAST(round(1000000.0 / ln(CAST(deg AS DOUBLE))) AS BIGINT) AS inv6 " +
    "FROM D WHERE deg >= 2), " +
    "C AS (SELECT x.src AS a, x.dst AS b, u1.dst AS c " +
    "FROM (SELECT src, dst FROM U WHERE src % 200 = 0) x " +
    "JOIN U u1 ON u1.src = x.src JOIN U u2 ON u2.src = x.dst AND u2.dst = u1.dst), " +
    "W AS (SELECT c.a, c.b, CAST(count(*) AS BIGINT) AS common, " +
    "CAST(sum(iv.inv6) AS BIGINT) AS s6 FROM C c JOIN IV iv ON iv.c = c.c GROUP BY 1, 2), " +
    "R AS (SELECT a, b, common, round(CAST(s6 AS DOUBLE) / 1000000.0, 4) AS aa_score, " +
    "row_number() OVER (PARTITION BY a ORDER BY s6 DESC, b) AS rk FROM W) " +
    "SELECT a, b, common, aa_score, CAST(rk AS INT) AS rank FROM R WHERE rk <= 3 " +
    "ORDER BY a, rank"

  /** Clustering-coefficient oracle tail — shared by the inline and
    * `_query` forms (the [[adamicAdarOracleTail]] rationale). */
  private val clusteringOracleTail: String =
    s", e AS ($edgesSql), P AS (SELECT DISTINCT src, dst FROM e), " +
    "U0 AS (SELECT src, dst FROM P UNION ALL SELECT dst AS src, src AS dst FROM P), " +
    "U AS (SELECT src, dst FROM (SELECT src, dst, " +
    "row_number() OVER (PARTITION BY src ORDER BY dst) AS rn FROM U0) WHERE rn <= 32), " +
    "A AS (SELECT src AS v, dst FROM U WHERE src % 200 = 0), " +
    "NP AS (SELECT a1.v, a1.dst AS b, a2.dst AS c FROM A a1 " +
    "JOIN A a2 ON a1.v = a2.v AND a1.dst < a2.dst), " +
    "TRI AS (SELECT v, CAST(count(*) AS BIGINT) AS triangles FROM NP " +
    "SEMI JOIN U ON U.src = NP.b AND U.dst = NP.c GROUP BY v), " +
    "D AS (SELECT src AS v, CAST(count(*) AS BIGINT) AS deg FROM U GROUP BY src) " +
    "SELECT d.v, d.deg, CAST(coalesce(t.triangles, 0) AS BIGINT) AS triangles, " +
    "round(2.0 * coalesce(t.triangles, 0) / CAST(d.deg * (d.deg - 1) AS DOUBLE), 4) AS cc " +
    "FROM D d LEFT JOIN TRI t ON t.v = d.v " +
    "WHERE d.v % 200 = 0 AND d.deg >= 2 ORDER BY d.v"

  def oracleSql: Map[String, String] = Map(
    "s1_students_scan" -> withStudents("SELECT * FROM students ORDER BY id"),
    "s2_point_lookup" -> withStudents("SELECT * FROM students WHERE id = 42"),
    "p2_ci_name_eq" -> withStudents(
      "SELECT * FROM students WHERE lower(name) = lower('Customer#000000013')"),
    "a1_next_id" -> withStudents(
      "SELECT CAST(coalesce(max(id), 0) AS BIGINT) + 1 AS next_id FROM students"),
    "a2_count" -> "SELECT count(*) AS n FROM customer",
    "o3_topk_acctbal" ->
      ("SELECT c_custkey AS id, c_acctbal FROM customer " +
       "ORDER BY c_acctbal DESC, id LIMIT 10"),
    "j3_recommend" -> withStudents(
      ", s AS (SELECT * FROM students WHERE id = 1), scored AS (" +
      "SELECT o.id, o.name, o.address, " +
      "CASE WHEN lower(trim(coalesce(o.board,''))) = lower(trim(coalesce(s.board,''))) THEN 1 ELSE 0 END AS bm, " +
      "CASE WHEN lower(trim(coalesce(o.stream,''))) = lower(trim(coalesce(s.stream,''))) THEN 1 ELSE 0 END AS sm, " +
      "CASE WHEN lower(trim(coalesce(o.college,''))) = lower(trim(coalesce(s.college,''))) THEN 1 ELSE 0 END AS cm, " +
      "CASE WHEN lower(trim(coalesce(o.address,''))) = lower(trim(coalesce(s.address,''))) THEN 1 ELSE 0 END AS am " +
      "FROM students o, s WHERE o.id <> 1) " +
      "SELECT id, name, address, CAST(NULL AS VARCHAR) AS interests, bm, sm, cm, am, " +
      "array_to_string(list_filter([CASE WHEN bm = 1 THEN 'board' END, CASE WHEN sm = 1 THEN 'stream' END, " +
      "CASE WHEN cm = 1 THEN 'college' END, CASE WHEN am = 1 THEN 'address' END], " +
      "x -> x IS NOT NULL), '|') AS matched_on, " +
      "bm + sm + cm + am AS score FROM scored WHERE bm + sm + cm + am > 0 " +
      "ORDER BY score DESC, id"),
    "recommend_message" -> withStudents(
      ", s AS (SELECT * FROM students WHERE id = 1), scored AS (" +
      "SELECT o.id, o.name, " +
      "(CASE WHEN lower(trim(coalesce(o.board,''))) = lower(trim(coalesce(s.board,''))) THEN 1 ELSE 0 END) + " +
      "(CASE WHEN lower(trim(coalesce(o.stream,''))) = lower(trim(coalesce(s.stream,''))) THEN 1 ELSE 0 END) + " +
      "(CASE WHEN lower(trim(coalesce(o.college,''))) = lower(trim(coalesce(s.college,''))) THEN 1 ELSE 0 END) + " +
      "(CASE WHEN lower(trim(coalesce(o.address,''))) = lower(trim(coalesce(s.address,''))) THEN 1 ELSE 0 END) AS score " +
      "FROM students o, s WHERE o.id <> 1), " +
      "m AS (SELECT list(name ORDER BY score DESC, id) AS names FROM scored WHERE score > 0) " +
      "SELECT CASE WHEN len(names) = 0 THEN 'Sorry, no matches found for this platform.' " +
      "WHEN len(names) = 1 THEN names[1] || ' is also in this platform.' " +
      "WHEN len(names) = 2 THEN names[1] || ' and ' || names[2] || ' are also in this platform.' " +
      "ELSE array_to_string(names[1:len(names)-1], ', ') || ', and ' || names[-1] || " +
      "' are also in this platform.' END AS message, " +
      "CAST(len(names) AS BIGINT) AS total_matches FROM m"),
    "u4_explain_students" -> withStudents(
      ", D AS (SELECT id, concat_ws(chr(10), 'Name: ' || name, " +
      "'Address: ' || address, 'College: ' || college, 'Board: ' || board, " +
      "'Stream: ' || stream) AS d FROM students WHERE id < 5) " +
      "SELECT CASE WHEN count(*) = 0 THEN " +
      "'I''m sorry, but I couldn''t find any students matching your query in the database.' " +
      "ELSE 'I found the following students matching your query:' || chr(10) || chr(10) || " +
      "string_agg(d, chr(10) || chr(10) ORDER BY id) END AS response FROM D"),
    "u4_explain_count" -> withStudents(
      "SELECT 'There are ' || count(*) || " +
      "' students matching your query in the database.' AS response FROM students"),
    "ingest_onboard_row" -> withStudents(
      s"$newStudentSql SELECT id, name, college, board, stream, address FROM n"),
    "ingest_onboard_delta" -> withStudents(
      newStudentSql + s", delta AS ($onboardDeltaSql) " +
      "SELECT * FROM delta ORDER BY rel_type, src, dst"),
    // standing-adjacency delta: post-insert capped slices of the affected
    // keys recomputed FROM SCRATCH (U0 ∪ the new edges, re-windowed) — the
    // engine's old-slice ∪ {newId} shortcut must hash-match this exactly
    "graph_adj_delta" -> withStudents(
      newStudentSql + s", delta AS ($onboardDeltaSql), " +
      "DD AS (SELECT DISTINCT src, dst FROM delta), " +
      s"e AS ($edgesSql), P AS (SELECT DISTINCT src, dst FROM e), " +
      "U0 AS (SELECT src, dst FROM P UNION ALL SELECT dst AS src, src AS dst FROM P), " +
      "POST AS (SELECT src, dst FROM U0 UNION ALL SELECT src, dst FROM DD " +
      "UNION ALL SELECT dst AS src, src AS dst FROM DD), " +
      "AFF AS (SELECT DISTINCT src FROM DD), " +
      "SL AS (SELECT src, dst FROM (SELECT src, dst, " +
      "row_number() OVER (PARTITION BY src ORDER BY dst) AS rn FROM POST) WHERE rn <= 32) " +
      "SELECT s.src, s.dst FROM SL s JOIN AFF a ON a.src = s.src " +
      "UNION ALL SELECT s.src, s.dst FROM SL s, n WHERE s.src = n.id " +
      "ORDER BY src, dst"),
    // delete side: post-delete slices of the keys whose PRE-delete slice
    // contained victim 3, recomputed from scratch over the victim-free
    // edge view — the engine's rule-join re-derivation must match exactly
    "graph_adj_delete" -> withStudents(
      s", e AS ($edgesSql), P AS (SELECT DISTINCT src, dst FROM e), " +
      "U0 AS (SELECT src, dst FROM P UNION ALL SELECT dst AS src, src AS dst FROM P), " +
      "U AS (SELECT src, dst FROM (SELECT src, dst, " +
      "row_number() OVER (PARTITION BY src ORDER BY dst) AS rn FROM U0) WHERE rn <= 32), " +
      "AFF AS (SELECT src FROM U WHERE dst = 3), " +
      "REM AS (SELECT src, dst FROM U0 WHERE src <> 3 AND dst <> 3), " +
      "SL AS (SELECT src, dst FROM (SELECT src, dst, " +
      "row_number() OVER (PARTITION BY src ORDER BY dst) AS rn FROM REM) WHERE rn <= 32) " +
      "SELECT s.src, s.dst FROM SL s JOIN AFF a ON a.src = s.src " +
      "ORDER BY s.src, s.dst"),
    "j6_exists" -> withStudents(
      "SELECT id FROM students st WHERE EXISTS " +
      "(SELECT 1 FROM orders o WHERE o.o_custkey = st.id) ORDER BY id"),
    "edges_backfill" -> withStudents(
      s", e AS ($edgesSql) SELECT * FROM e ORDER BY rel_type, src, dst"),
    // partial backfill: ONLY the college+stream rules in the oracle view —
    // a hash match proves the disabled rules' edges are absent
    "edges_backfill_partial" -> withStudents(
      s", e AS (${edgesSqlFrom(Seq("college" -> "SAME_COLLEGE", "stream" -> "SAME_STREAM"))}) " +
      "SELECT * FROM e ORDER BY rel_type, src, dst"),
    "ingest_user_row" -> withUsers(
      s"$newUserSql SELECT id, name, age FROM n"),
    // DETACH DELETE: the backfilled edge view minus every edge incident
    // to the victim (node removal is the trivial id filter)
    "ingest_detach_delete" -> withStudents(
      s", e AS ($edgesSql) SELECT * FROM e WHERE src <> 3 AND dst <> 3 " +
      "ORDER BY rel_type, src, dst"),
    // neighbor-set jaccard: undirected 4-rule edge view TRUNCATED to the
    // 32 smallest neighbor ids per node (the bounded-state GDS-style
    // slice), wedge join for common neighbors, inner (>=1 shared
    // neighbor) like the Spark side
    "graph_node_similarity" -> withStudents(
      s", e AS ($edgesSql), P AS (SELECT DISTINCT src, dst FROM e), " +
      "U0 AS (SELECT src, dst FROM P UNION ALL SELECT dst AS src, src AS dst FROM P), " +
      "U AS (SELECT src, dst FROM (SELECT src, dst, " +
      "row_number() OVER (PARTITION BY src ORDER BY dst) AS rn FROM U0) WHERE rn <= 32), " +
      "D AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM U GROUP BY src), " +
      "C AS (SELECT x.src AS a, x.dst AS b, CAST(count(*) AS BIGINT) AS common " +
      "FROM (SELECT src, dst FROM U WHERE src % 200 = 0) x " +
      "JOIN U u1 ON u1.src = x.src JOIN U u2 ON u2.src = x.dst AND u2.dst = u1.dst " +
      "GROUP BY x.src, x.dst), " +
      "J AS (SELECT c.a, c.b, c.common, round(CAST(c.common AS DOUBLE) / " +
      "CAST(da.deg + db.deg - c.common AS DOUBLE), 4) AS jaccard " +
      "FROM C c JOIN D da ON da.src = c.a JOIN D db ON db.src = c.b), " +
      "R AS (SELECT *, row_number() OVER (PARTITION BY a ORDER BY jaccard DESC, b) AS rk FROM J) " +
      "SELECT a, b, common, jaccard, CAST(rk AS INT) AS rank FROM R WHERE rk <= 3 " +
      "ORDER BY a, rank"),
    // Adamic-Adar: same capped wedge join, shared neighbors weighted by
    // 1/ln(deg) quantized to scaled longs on the degree table (deg >= 2);
    // rank ties break on the exact integer s6, never the rounded double
    "graph_adamic_adar" -> withStudents(adamicAdarOracleTail),
    // the warm-served twin reaches the identical scores: the standing
    // adjacency IS the capped view the inline form rebuilds — one shared
    // oracle literal, the hash match proving the separation
    "graph_adamic_adar_query" -> withStudents(adamicAdarOracleTail),
    // local clustering coefficient: same capped view; tri(v) = capped
    // directional edge tests over v's neighbor pairs (b < c)
    "graph_clustering_coeff" -> withStudents(clusteringOracleTail),
    // warm-served clustering twin: same identity as adamic_adar_query
    "graph_clustering_query" -> withStudents(clusteringOracleTail),
    // personalized PageRank: the 3 power-iteration rounds UNROLLED (DuckDB
    // recursive CTEs forbid aggregation in the recursive term) — each
    // round mirrors the engine exactly: contribution ((r // deg) * 85) //
    // 100 per undirected neighbor, plus the scaled 0.15 teleport on the
    // anchor; all BIGINT floor-division, so the hash match is bit-exact
    "graph_ppr" -> withStudents(pprOracleTail),
    "graph_ppr_weighted" -> withStudents(pprWeightedOracleTail),
    // the standing-adjacency twin reaches the identical walk (the warm
    // table IS cappedAdjacency materialized — hash match proves it)
    "graph_ppr_query" -> withStudents(pprOracleTail),
    "graph_ppr_batch" -> withStudents(pprBatchOracleTail),
    "graph_ppr_recommend" -> withStudents(pprRecommendOracleTail),
    // the warm-served recommend twin reaches the identical output (same
    // walk off the standing adjacency + same exclusion probe)
    "graph_ppr_recommend_query" -> withStudents(pprRecommendOracleTail),
    // converged walk: the chain unrolled to the PprConvMaxRounds bound —
    // rounds past the exact fixpoint are no-ops, so this equals the
    // engine's halt state at whatever round it detected convergence
    "graph_ppr_converged" -> withStudents(pprConvergedOracleTail),
    // batch fixpoint: the same qid-keyed chain unrolled to the bound for
    // all four anchors — per qid, rounds past that anchor's fixpoint are
    // no-ops, so oracle and engine agree wherever the batch halted
    "graph_ppr_converged_batch" -> withStudents(pprConvergedBatchOracleTail),
    // cohort detection over the real equi-rule graph (capped adjacency)
    "graph_label_prop_students" -> withStudents(lpaStudentsOracleTail),
    "graph_kcore_students" -> withStudents(kcoreStudentsOracleTail),
    "graph_feature_agg" -> withStudents(featureAggOracleTail),
    // post-ingest slices recomputed from scratch over students + the two
    // streamed rows — stream==batch is the hash match
    "stream_adj_ingest" -> withStudents(streamAdjOracleTail),
    "edges_skew_salted" -> withStudents(skewOracleSql),
    "edges_skew_unsalted" -> withStudents(skewOracleSql),
    // same checksum: AQE splitting is an execution-plan change only
    "edges_skew_aqe" -> withStudents(skewOracleSql),
    "j2_rare_token_pairs" ->
      (s"WITH toks AS (SELECT doc_id AS id, unnest(list_distinct(string_split($docNorm, ' '))) AS tok FROM documents), " +
       "rare AS (SELECT tok FROM (SELECT tok, count(*) AS df FROM toks GROUP BY tok) WHERE df <= 250), " +
       "rt AS (SELECT id, tok FROM toks JOIN rare USING (tok)) " +
       "SELECT a.id AS src, b.id AS dst, 'SHARES_RARE_TOKEN' AS rel_type, " +
       "array_to_string(list_sort(list(a.tok)), '|') AS common " +
       "FROM rt a JOIN rt b ON a.tok = b.tok AND a.id < b.id " +
       "GROUP BY a.id, b.id ORDER BY src, dst"),
    "j2_shares_interest" ->
      ("WITH toks AS (SELECT DISTINCT p_partkey AS id, " +
       "unnest(string_split(lower(p_name), ' ')) AS tok FROM part) " +
       "SELECT a.id AS src, b.id AS dst, 'SHARES_INTEREST' AS rel_type, " +
       "array_to_string(list_sort(list(a.tok)), '|') AS common " +
       "FROM toks a JOIN toks b ON a.tok = b.tok AND a.id < b.id " +
       "GROUP BY a.id, b.id ORDER BY src, dst"),
    "ingest_interest_delta" ->
      ("WITH toks AS (SELECT DISTINCT p_partkey AS id, " +
       "unnest(string_split(lower(p_name), ' ')) AS tok FROM part), " +
       "n AS (SELECT unnest(['burnished','gizmo','red','unobtainium']) AS tok), " +
       "c AS (SELECT t.id, list_sort(list(t.tok)) AS common FROM toks t JOIN n USING (tok) GROUP BY t.id) " +
       "SELECT least(id, 10000000) AS src, greatest(id, 10000000) AS dst, " +
       "'SHARES_INTEREST' AS rel_type, array_to_string(common, '|') AS common " +
       "FROM c ORDER BY src, dst"),
    "j7_merge_anti" -> withStudents(
      ", cand AS (SELECT a.id AS src, b.id AS dst, 'SAME_BOARD' AS rel_type " +
      "FROM students a JOIN students b ON a.board = b.board AND a.id < b.id " +
      "WHERE a.id < 200 AND b.id < 200) " +
      "SELECT * FROM cand c WHERE NOT EXISTS (SELECT 1 FROM cand e " +
      "WHERE e.src = c.src AND e.dst = c.dst AND e.src < 100 AND e.dst < 100) " +
      "ORDER BY src, dst"),
    "j4_pair_relationship" -> withStudents(
      s", eq AS ($edgesSql), " +
      "si_toks AS (SELECT id, unnest(['p' || CAST(id // 2 AS VARCHAR), " +
      "'r' || CAST(id AS VARCHAR)]) AS tok FROM students), " +
      "si AS (SELECT a.id AS src, b.id AS dst, 'SHARES_INTEREST' AS rel_type, " +
      "list_sort(list(a.tok)) AS common FROM si_toks a JOIN si_toks b " +
      "ON a.tok = b.tok AND a.id < b.id GROUP BY a.id, b.id), " +
      "e AS (SELECT src, dst, rel_type, CAST(NULL AS VARCHAR[]) AS common FROM eq " +
      "UNION ALL SELECT * FROM si), " +
      "a AS (SELECT id AS a_id, name AS a_name, college AS a_college, " +
      "board AS a_board, stream AS a_stream, " +
      "['p' || CAST(id // 2 AS VARCHAR), 'r' || CAST(id AS VARCHAR)] AS a_arr " +
      "FROM students WHERE lower(name) = lower('Customer#000000000')), " +
      "b AS (SELECT id AS b_id, name AS b_name, college AS b_college, " +
      "board AS b_board, stream AS b_stream, " +
      "['p' || CAST(id // 2 AS VARCHAR), 'r' || CAST(id AS VARCHAR)] AS b_arr " +
      "FROM students WHERE lower(name) = lower('Customer#000000001')) " +
      "SELECT a_id, a_name, b_id, b_name, e.rel_type, " +
      "array_to_string(e.common, '|') AS common, " +
      "CAST(a_college = b_college AS INT) AS same_college, " +
      "CAST(a_board = b_board AS INT) AS same_board, " +
      "CAST(a_stream = b_stream AS INT) AS same_stream, " +
      "array_to_string(list_filter(a_arr, x -> list_contains(b_arr, x)), '|') " +
      "AS common_interests " +
      "FROM a CROSS JOIN b LEFT JOIN e ON (e.src = a_id AND e.dst = b_id) " +
      "OR (e.src = b_id AND e.dst = a_id) ORDER BY rel_type LIMIT 25"),
    "j9_range_join" ->
      ("WITH E AS (SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events) " +
       "SELECT a.user_id AS user_id, a.event_id AS src, b.event_id AS dst, b.sec - a.sec AS dt_sec " +
       "FROM E a JOIN E b ON a.user_id = b.user_id AND b.sec >= a.sec " +
       "AND b.sec - a.sec <= 600 " +
       "AND (a.sec < b.sec OR (a.sec = b.sec AND a.event_id < b.event_id)) " +
       "ORDER BY a.user_id, src, dst"),
    "j8_asof_join" ->
      ("WITH O AS (SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey " +
       "FROM orders GROUP BY o_custkey, o_orderdate) " +
       "SELECT e.event_id, e.user_id, strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS ts_s, " +
       "o.o_orderkey FROM events e ASOF LEFT JOIN O o " +
       "ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate ORDER BY e.event_id"),
  )
}
