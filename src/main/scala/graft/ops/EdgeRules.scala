package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Norm

/** The reference's batch relationship-backfill pipeline
  * (fastapi/services/create_relationships.py:16-93): materialize typed
  * similarity edges between all student pairs.
  *
  * Physical shape (SURVEY.md §2.3 J1/J2, §4):
  *  - The attribute rules run as ONE EQUI self-join: each student becomes
  *    one `(rel_type, norm(attr))` row per rule with a non-empty key, and
  *    the pairs come from joining those rows on `(rel_type, key, salt)` —
  *    Catalyst plans a shuffled hash / sort-merge join, NOT a cartesian
  *    product (the Cypher `MATCH (a),(b)` all-pairs pattern must never
  *    become a cross join at scale). `rel_type` is part of the key because
  *    two rules can share a key string (college "x", board "x"). One join
  *    instead of a union of per-rule joins matters on small inputs: each
  *    join broadcasts its own build side, and each broadcast is a Spark
  *    job of its own. The price is one build side holding every rule's
  *    rows: at sf0.1 a warm backfill runs about 1.3× the per-rule union's
  *    time (a cold one runs faster, with three jobs instead of nine).
  *  - The one-vs-all delta ([[incrementalEdges]]) is likewise one pass:
  *    one broadcast of the new row, one row per matching rule.
  *  - The interest rule's `arrays_overlap` predicate has no equi key, so we
  *    rewrite it as explode → equi-join on token → group back — all shuffles
  *    on token/pair keys that scale linearly with data × token frequency.
  *  - `a.id < b.id` dedupes unordered pairs (create_relationships.py:19).
  *  - MERGE's create-if-absent semantics = left_anti join + union (J7).
  */
object EdgeRules {

  /** One equi-rule: pairs with equal non-null normalized `attr`
    * (create_relationships.py:16-77 — SAME_COLLEGE / SAME_BOARD /
    * SAME_STREAM / NEARBY are all this shape). */
  def equiRule(students: DataFrame, attr: String, relType: String): DataFrame =
    equiRules(students, Seq(attr -> relType))

  /** The `(attr, relType)` rules as one salted self-join: pairs with equal
    * non-empty normalized `attr` under the same `relType`, one row per
    * connecting rule. */
  private def equiRules(students: DataFrame,
      rules: Seq[(String, String)]): DataFrame = {
    val salt = pairSalt(students)
    // one (rel_type, k) row per student per rule; norm maps null to "", so
    // the non-empty filter also drops null attributes
    val keyed = students
      .select(col("id"), explode(array(rules.map { case (attr, t) =>
        struct(lit(t).as("rel_type"), Norm.norm(col(attr)).as("k")) }: _*)).as("r"))
      .select(col("id"), col("r.rel_type").as("rel_type"), col("r.k").as("k"))
      .filter(col("k") =!= "")
    val a = keyed.select(col("id").as("src"), col("rel_type"), col("k"))
      .withColumn("salt", pmod(col("src"), lit(salt)).cast("int"))
      // Low-cardinality join key (a handful of colleges/boards): without the
      // salt the join has ≤|distinct k| parallel units and the pair
      // explosion serializes into a few tasks. Salting left by src and
      // replicating right PairSalt× spreads each key's quadratic output.
      // The repartition also fixes probe-side parallelism when the input is
      // a single small file (1 scan partition would otherwise produce the
      // entire join output in 1 task under a broadcast join). NOTE: this
      // user shuffle is REPARTITION_BY_COL, which AQE's OptimizeSkewedJoin
      // refuses to split — the `edges_skew_aqe` experiment turns it off
      // (manualShuffle=false) to hand the exchange to ENSURE_REQUIREMENTS.
      // The width scales with the rule count: the join emits every rule's
      // pairs, as the per-rule joins it replaces did with pairParallelism
      // tasks each (at sf0.1 the unscaled width ran about 2× the union's
      // time).
      .transform(df =>
        if (manualShuffle(students))
          df.repartition(pairParallelism(students) * rules.size,
            col("rel_type"), col("k"), col("salt"))
        else df)
    val b = keyed.select(col("id").as("dst"), col("rel_type"), col("k"))
      .withColumn("salt", explode(sequence(lit(0), lit(salt - 1))))
    a.join(b, Seq("rel_type", "k", "salt"))  // equi-join on (rule, key, salt)
      .filter(col("src") < col("dst"))       // unordered-pair dedupe
      .select(col("src"), col("dst"), col("rel_type"))
  }

  /** SHARES_INTEREST (create_relationships.py:80-93): pairs whose normalized
    * interest arrays overlap, with the intersection as the edge property
    * `common`. Explode-join rewrite: token-level equi-join, then group the
    * matched tokens back into the `common` array (sorted for determinism).
    *
    * Input: (id, interests array<string>). At scale, hot tokens are the skew
    * risk — AQE skew-join handles moderate skew; stopword-like tokens should
    * be filtered upstream by the caller if the token frequency distribution
    * is Zipfian.
    */
  /** Salt fan-out for pair-producing self-joins: join keys (token / college /
    * board...) are low-cardinality and Zipfian, so a bare equi-join has
    * ≤|vocab| distinct keys — the hottest key's quadratic pair production
    * serializes into one task. Salting the left side by `src % SALT` and
    * replicating the right side SALT× spreads it (classic skew salting).
    *
    * Tunable per session (`spark.graft.pairSalt`): the right value grows
    * with per-key group size — at 1000 executors on skewed keys you want
    * salt ≈ a small multiple of cores-per-hot-key. Any value yields
    * identical results (SaltEquivalenceSpec proves it under forced SMJ). */
  val PairSaltConf = "spark.graft.pairSalt"

  /** When false, [[equiRule]] omits its explicit probe-side repartition so
    * the join's exchange is planner-inserted (ENSURE_REQUIREMENTS) — the
    * only origin AQE's skew-join splitting will touch. Exists for the
    * `edges_skew_aqe` measured comparison; the default (true) keeps the
    * structural layout. */
  val PairManualShuffleConf = "spark.graft.pairManualShuffle"
  private def manualShuffle(df: DataFrame): Boolean =
    df.sparkSession.conf.get(PairManualShuffleConf, "true").toBoolean
  private def pairSalt(df: DataFrame): Int = {
    val v = df.sparkSession.conf.get(PairSaltConf, "16").toInt
    // A non-positive salt would make pmod(src, 0) yield null on the probe
    // side while sequence(0, salt-1) explodes to nothing on the build side —
    // the join would silently emit zero pairs. Fail fast instead.
    require(v >= 1, s"$PairSaltConf must be >= 1, got $v")
    v
  }

  /** Pair-producing stages get 4× the session's shuffle partitions: their
    * cost is in join OUTPUT rows (quadratic per key), not input bytes, so
    * finer tasks give the scheduler stragglers/work-stealing room — input
    * rows are tiny, so the extra shuffle overhead is negligible. */
  private def pairParallelism(df: DataFrame): Int =
    df.sparkSession.sessionState.conf.numShufflePartitions * 4

  def interestRule(withInterests: DataFrame): DataFrame = {
    val norm = withInterests
      .select(col("id"), array_distinct(Norm.normArr(col("interests"))).as("arr"))
    pairJoinOnTokens(norm, "SHARES_INTEREST")
  }

  /** The explode → salted equi-join → min-token-dedupe core shared by
    * [[interestRule]] and [[interestRuleCapped]]. Input: (id, arr) with
    * `arr` already normalized + distinct. */
  private def pairJoinOnTokens(norm: DataFrame, relType: String): DataFrame = {
    val salt = pairSalt(norm)
    val toks = norm.select(col("id"), col("arr"), explode(col("arr")).as("tok"))
    val a = toks.select(col("id").as("src"), col("arr").as("a_arr"), col("tok"))
      .withColumn("salt", pmod(col("src"), lit(salt)).cast("int"))
      .transform(df =>
        if (manualShuffle(norm))
          df.repartition(pairParallelism(norm), col("tok"), col("salt"))
        else df) // see equiRules
    val b = toks.select(col("id").as("dst"), col("arr").as("b_arr"), col("tok"))
      .withColumn("salt", explode(sequence(lit(0), lit(salt - 1))))
    // A pair sharing k tokens appears k times in the token join; emitting it
    // only on its MINIMUM shared token dedupes without any post-join shuffle
    // (no groupBy/distinct over the pair explosion). The intersection uses
    // filter+array_contains, NOT array_intersect: array_intersect builds a
    // hash set per evaluated row (~50× slower on short arrays, measured at
    // sf0.1), while the nested-loop filter is codegen-cheap.
    a.join(b, Seq("tok", "salt"))
      .withColumn("common", sort_array(filter(col("a_arr"), x => array_contains(col("b_arr"), x))))
      .filter(col("src") < col("dst") && col("tok") === element_at(col("common"), 1))
      .select(col("src"), col("dst"), lit(relType).as("rel_type"), col("common"))
  }

  /** Scale-bounded SHARES_INTEREST: only tokens whose global document
    * frequency is ≤ `maxDf` participate, and `common` is the shared RARE
    * tokens. High-DF tokens carry near-zero similarity signal but ALL of the
    * quadratic cost (a token shared by d docs yields d(d-1)/2 pairs), so
    * capping df bounds total output by Σ_{df≤cap} df² ≤ cap · Σdf — LINEAR
    * in data for a fixed cap. This is the standard stopword/high-frequency
    * prune of set-similarity joins (cf. prefix-filtering, PPJoin) and the
    * variant to run at 100 TB; the uncapped [[interestRule]] keeps the
    * reference's exact semantics (create_relationships.py:80-93) for the
    * oracle at small SF, where its Θ(n²) output is affordable. */
  def interestRuleCapped(withInterests: DataFrame, maxDf: Long): DataFrame = {
    val norm = withInterests
      .select(col("id"), array_distinct(Norm.normArr(col("interests"))).as("arr"))
    val toks = norm.select(col("id"), explode(col("arr")).as("tok"))
    // df table is an aggregate over tokens — small vs the data; plain
    // equi-join (AQE broadcasts it when it fits, shuffles when the long
    // tail of a real vocabulary makes it big).
    val rare = toks.join(
      toks.groupBy("tok").agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxDf).select("tok"),
      Seq("tok"))
    val rarr = rare.groupBy("id").agg(sort_array(collect_set(col("tok"))).as("arr"))
    pairJoinOnTokens(rarr, "SHARES_RARE_TOKEN")
  }

  /** The four equi rules in the reference's run_all order: attribute →
    * relationship type (create_relationships.py:96-106; the fifth,
    * SHARES_INTEREST, lives on the interest-token table and is exposed
    * separately as [[interestRule]]). */
  val AllEquiRules: Seq[(String, String)] = Seq(
    "college" -> "SAME_COLLEGE",
    "board" -> "SAME_BOARD",
    "stream" -> "SAME_STREAM",
    "address" -> "NEARBY")

  /** Full backfill over the students view: the enabled equi rules in one
    * self-join ([[equiRules]]).
    * `enabled` mirrors run_all's per-edge-type booleans
    * (create_relationships.py:96-106, `run_all(create_board=..., ...)` and
    * the --no-* CLI flags below it) as the set of relationship types to
    * build; defaults to all four. A disabled rule contributes no keyed
    * rows to the join — not a post-filter — so a partial backfill costs
    * only the rules it runs. */
  def backfill(
      students: DataFrame,
      enabled: Set[String] = AllEquiRules.map(_._2).toSet): DataFrame = {
    val rules = AllEquiRules.filter { case (_, t) => enabled.contains(t) }
    require(rules.nonEmpty,
      s"backfill: no known edge type in $enabled (known: ${AllEquiRules.map(_._2)})")
    equiRules(students, rules)
  }

  /** MERGE-as-anti-join (J7): edges in `candidates` not already present in
    * `existing` on the (src, dst, rel_type) key —
    * `MERGE (s)-[:T]->(o)` creates the edge iff absent
    * (create_relationships.py:22,38,54,70,85). */
  def mergeNew(candidates: DataFrame, existing: DataFrame): DataFrame =
    candidates.join(
      existing.select("src", "dst", "rel_type"),
      Seq("src", "dst", "rel_type"), "left_anti")

  /** One-vs-all interest delta (J5 for SHARES_INTEREST): the new student's
    * few tokens are broadcast against the existing token table — a pass
    * proportional to matching-token rows, never the all-pairs token
    * self-join. Same min-token dedupe + filter/contains intersection as
    * [[interestRule]], so deltas are bit-identical to a full re-backfill.
    *
    * Note the reference's own two code paths disagree here: the batch rule
    * compares tokens normalized (`toLower(trim(...))`,
    * create_relationships.py:84-86) while the per-insert rule compares RAW
    * (`x IN s.interests WHERE x IN o.interests`,
    * student_service.py:98-106), so its deltas can diverge from its own
    * backfill on mixed-case data. This engine follows the batch (normalized)
    * form on both paths — delta == re-backfill is the invariant kept. */
  def incrementalInterestEdges(existing: DataFrame, newStudent: DataFrame): DataFrame = {
    val exToks = existing
      .select(col("id"), array_distinct(Norm.normArr(col("interests"))).as("arr"))
      .select(col("id"), col("arr"), explode(col("arr")).as("tok"))
    val nb = broadcast(newStudent
      .select(col("id").as("n_id"), array_distinct(Norm.normArr(col("interests"))).as("n_arr"))
      .select(col("n_id"), col("n_arr"), explode(col("n_arr")).as("tok")))
    exToks.join(nb, Seq("tok"))
      .filter(col("id") =!= col("n_id"))
      .withColumn("common",
        sort_array(filter(col("arr"), x => array_contains(col("n_arr"), x))))
      .filter(col("tok") === element_at(col("common"), 1))
      .select(
        least(col("id"), col("n_id")).as("src"),
        greatest(col("id"), col("n_id")).as("dst"),
        lit("SHARES_INTEREST").as("rel_type"), col("common"))
  }

  /** Incremental variant (J5, EP1 step c — student_service.py:62-106): edges
    * between ONE new student and all existing ones. The new side is a single
    * row → broadcast it; one streaming pass over `existing` emits a row per
    * rule that connects the pair. */
  def incrementalEdges(existing: DataFrame, newStudent: DataFrame): DataFrame = {
    val n = broadcast(newStudent.select(col("id").as("n_id") +:
      AllEquiRules.map { case (attr, _) => col(attr).as(s"n_$attr") }: _*))
    // the rel types of the rules matching this pair, null where one does not
    val matching = array(AllEquiRules.map { case (attr, t) =>
      when(Norm.norm(col(attr)) =!= "" &&
        Norm.normEq(col(attr), col(s"n_$attr")), lit(t)) }: _*)
    existing.crossJoin(n).filter(col("id") =!= col("n_id"))
      .select(
        least(col("id"), col("n_id")).as("src"),
        greatest(col("id"), col("n_id")).as("dst"),
        explode(filter(matching, _.isNotNull)).as("rel_type"))
  }
}
