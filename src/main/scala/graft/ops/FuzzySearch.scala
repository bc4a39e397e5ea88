package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's fuzzy name search (fastapi/services/student_service.py:222-266
  * and src/llm_cypher.py:25-38): score every name against a query string,
  * threshold, return top-k. The reference collects ALL names to the client
  * and scores with rapidfuzz; here scoring runs inside the engine and top-k
  * plans as TakeOrderedAndProject — no full sort, no driver collect
  * (SURVEY.md §2.9 U1).
  */
object FuzzySearch {

  /** Levenshtein-normalized similarity 0–100 — built-in, codegen'd, and
    * exactly reproducible in DuckDB (`levenshtein`) for the oracle. */
  def levRatio(a: Column, b: Column): Column =
    round(
      (lit(1.0) -
        levenshtein(a, b).cast("double") /
          greatest(length(a), length(b)).cast("double")) * 100.0,
      4)

  /** The reference's question stop-list (src/llm_cypher.py:44). */
  val StopWords: Seq[String] = Seq("the", "a", "an", "of", "and", "who",
    "what", "is", "are", "in", "on", "with", "find", "show")

  /** U2 — the chatbot's fuzzy question-preprocessing (src/llm_cypher.py:41-57):
    * tokenize the question, and for each non-stopword token of ≥3 chars find
    * the best-matching student name above a threshold. The reference loops
    * tokens client-side over a collected name list; here it's one vectorized
    * plan: explode(tokens) × names → score → per-token top-1 as an
    * AGGREGATE (`min_by` over the (-score, name) ordering key = max score,
    * min name on ties — identical to the previous row_number ordering),
    * not a window: a `row_number().over(partitionBy(token))` funnels every
    * score for a token through ONE task, while min_by keeps map-side
    * partial aggregation — each task reduces to one candidate per token
    * before the shuffle. */
  def correctTokens(
      students: DataFrame, question: String,
      threshold: Double = 75.0): DataFrame = {
    val tokens = students.sparkSession.range(1)
      .select(explode(split(lower(lit(question)), " ")).as("token"))
      .filter(length(col("token")) >= 3 && !col("token").isin(StopWords: _*))
    tokens.crossJoin(students.select(col("name")))
      .withColumn("score", levRatio(col("name"), col("token")))
      .groupBy(col("token"))
      .agg(min_by(struct(col("name"), col("score")),
        struct(negate(col("score")), col("name"))).as("best"))
      .filter(col("best.score") >= threshold)
      .select(col("token"), col("best.name").as("corrected"),
        col("best.score").as("score"))
      .orderBy(col("token"))
  }

  /** q-gram size of the fuzzy index (positional bag of 2-grams). */
  val GramQ = 2
  val GramBuckets = 16

  /** The q-gram FUZZY index as a [[StandingIndex]] — the scale path
    * [[topK]]'s full scan lacks (a 100 TB name corpus cannot be
    * levenshtein-scanned per query). `{t}_names` carries the full student
    * projection + name length for the rescore and the per-candidate
    * bound; it is id-complete (a name shorter than [[GramQ]] stores no
    * grams but still has its names row), so a delete confirms presence
    * there. `{t}_grams` holds one row per 2-gram OCCURRENCE per name WITH
    * its 0-based position and the name length (positional bag — the
    * count-filtering bound below is a bag bound, distinct-set counts would
    * over-prune, and Gravano's position filter needs `pos` and the
    * per-pair window needs `len`), partitioned by crc32(gram) %
    * [[GramBuckets]] so a probe's literal gram set prunes partitions at
    * scan time. Beside them the opt-in advisory `{t}_gramdf`
    * ([[gramDfSidecar]]). */
  private def lifecycle(spark: org.apache.spark.sql.SparkSession,
      table: String): StandingIndex =
    StandingIndex(spark, table, "id",
      Seq(StandingIndex.Table("_names", StandingIndex.Plain, named),
        StandingIndex.Table("_grams", StandingIndex.Partitioned("bucket"),
          df => gramPostings(named(df)))),
      Seq(gramDfSidecar(spark, table)))

  private def named(students: DataFrame): DataFrame =
    students.withColumn("len", length(col("name")))

  /** The ADVISORY per-gram posting-list-length sidecar `{t}_gramdf`
    * ([[writeGramDf]]), kept fresh once a deployment opted into it: gram
    * df is additive (the probe folds rows by sum), so a delta appends its
    * own gram counts and a delete the victims' negative counts, each one
    * tiny file — never a postings re-scan; compaction recounts it from the
    * purged grams in one file. A build drops it. Correctness never depends
    * on it: df only orders WHICH hot lists the prefix filter skips. */
  private def gramDfSidecar(spark: org.apache.spark.sql.SparkSession,
      table: String): StandingIndex.Additive = new StandingIndex.Additive {
    val suffix = "_gramdf"
    private def kept = spark.catalog.tableExists(s"${table}_gramdf")
    private def append(grams: DataFrame, sign: Int): Unit =
      if (kept) grams.groupBy(col("bucket"), col("gram"))
        .agg((count(lit(1)) * sign).as("df"))
        .coalesce(1)
        .write.mode("append").format("parquet")
        .saveAsTable(s"${table}_gramdf")
    def build(batch: DataFrame): Unit = ()
    def delta(batch: DataFrame): (Option[Long], () => Unit) =
      (None, () => append(gramPostings(named(batch)), 1))
    def delete(victims: DataFrame): Unit =
      append(spark.table(s"${table}_grams")
        .join(broadcast(victims), Seq("id"), "left_semi"), -1)
    def compact(): Unit = if (kept) writeGramDf(spark, table)
  }

  /** Materialize the fuzzy index ([[StandingIndex.build]]). */
  def buildIndex(students: DataFrame, table: String): Unit =
    lifecycle(students.sparkSession, table).build(students)

  /** Append a delta of NEW ids: names and gram postings derive from the
    * delta alone, one file per touched bucket per generation
    * ([[StandingIndex.delta]]; a re-ingested id would double its gram
    * counts and inflate [[topKIndexed]]'s shared sums, so it throws). */
  def indexDelta(table: String, delta: DataFrame): Unit =
    lifecycle(delta.sparkSession, table).delta(delta)

  /** [[indexDelta]] that skips already-indexed ids
    * ([[StandingIndex.deltaIdempotent]]). It closes the redelivery window
    * of an at-least-once stream; a crash INSIDE the multi-table append
    * leaves a torn generation no append-only scheme can self-heal — rebuild
    * from source, as for every family. */
  def indexDeltaIdempotent(table: String, delta: DataFrame): Unit = {
    lifecycle(delta.sparkSession, table).deltaIdempotent(delta); ()
  }

  /** Tombstone names the index holds ([[StandingIndex.delete]]); every
    * candidate path ([[indexedCandidates]], [[batchCandidates]]) anti-joins
    * the sidecar on the `_names` side, above both the probed arm and the
    * vacuous-bound fallback arm, and the advisory gramdf gets the victims'
    * negative counts. */
  def indexDelete(table: String, ids: DataFrame): Unit =
    lifecycle(ids.sparkSession, table).delete(ids)

  /** Compact the delta-grown fuzzy index: grams one file per bucket, names
    * and grams without the tombstoned ids, one guard bloom, a recounted
    * gramdf ([[StandingIndex.compact]]). Queries before/after are
    * row-identical. */
  def compactIndex(spark: org.apache.spark.sql.SparkSession,
      table: String): Unit =
    lifecycle(spark, table).compact()

  /** Repair an interrupted compaction swap of `_names` or `_grams`
    * ([[StandingIndex.recover]]). */
  def recoverNamesSwap(
      spark: org.apache.spark.sql.SparkSession, table: String): Boolean =
    lifecycle(spark, table).recover()

  /** [[StandingIndex.compactIfNeeded]] for the fuzzy index. */
  def compactIfNeeded(spark: org.apache.spark.sql.SparkSession,
      table: String, maxBatches: Int = 16,
      maxSidecarBytes: Long = 64L << 20): Boolean =
    lifecycle(spark, table).compactIfNeeded(maxBatches, maxSidecarBytes)

  /** The gram-posting rows of a (id, name, len) frame — postings keep
    * the 0-based gram POSITION (Gravano's position filter needs it at
    * probe time) and denormalize the name length (the per-pair window
    * width d_max depends on it, and the windowed filter runs BEFORE any
    * join against `_names`). ONE derivation site shared by the index
    * write and the sidecar's delta refresh, so the stored grams and the
    * df accounting cannot disagree. */
  private def gramPostings(named: DataFrame): DataFrame =
    named.filter(col("len") >= GramQ)
      .select(col("id"), col("len"), posexplode(
        transform(sequence(lit(1), col("len") - (GramQ - 1)),
          i => col("name").substr(i, lit(GramQ)))).as(Seq("pos", "gram")))
      .withColumn("bucket",
        pmod(crc32(col("gram").cast("binary")), lit(GramBuckets)).cast("int"))
      .select(col("id"), col("gram"), col("pos"), col("len"), col("bucket"))

  /** CRC32-derived posting bucket of one gram — the driver-side twin of
    * the `pmod(crc32(...))` expression [[gramPostings]] stores. */
  private def bucketOf(g: String): Int = {
    val c = new java.util.zip.CRC32
    c.update(g.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    (c.getValue % GramBuckets).toInt
  }

  /** The count-filter bound at maxlen = m, in the same exact integer
    * arithmetic every call site must use — ONE implementation, so the
    * lossless-fallback guarantee cannot desynchronize between the
    * single-query and batch paths. */
  private def intBound(distPct: Int, m: Int): Int =
    m - (GramQ - 1) - GramQ * (distPct * m / 100)

  /** The largest name length at which the count-filter bound can be
    * vacuous (≤ 0) at this distance budget — a PURE function of the
    * threshold, so the batch fallback arm's names scan carries a static
    * pushed-down `len <=` predicate instead of reading the corpus.
    * Int.MaxValue when threshold ≤ 50 (the bound never prunes). Never
    * below 1 at GramQ = 2: intBound(distPct, 1) = 0 for every distPct,
    * so the fallback arm always ships — but pruned to the (usually
    * empty) `len <= cap` sliver. */
  private def maxFallbackLen(distPct: Int): Int =
    if (distPct >= 50) Int.MaxValue
    else {
      // bound(m) grows ~linearly with slope 1 − GramQ·distPct/100 > 0
      // past the floor() wiggles; 20000 is far beyond the last dip for
      // every distPct ≤ 49
      (1 to 20000).filter(m => intBound(distPct, m) <= 0).max
    }

  /** Can ANY stored name give this query a vacuous (≤ 0) bound? False
    * skips the single-query fallback arm entirely; derived from the
    * same [[intBound]]/[[maxFallbackLen]] arithmetic as the batch arm's
    * length cap (m ranges over max(qLen, len), so only m ≥ qLen and
    * ≤ the cap can qualify). */
  private def fallbackReachableAt(distPct: Int, qLen: Int): Boolean =
    distPct >= 50 || {
      val cap = maxFallbackLen(distPct)
      cap >= qLen && (math.max(qLen, 1) to cap)
        .exists(m => intBound(distPct, m) <= 0)
    }

  /** The smallest POSITIVE count-filter bound any stored name can see
    * for this query (maxlen = max(qLen, len) ranges over [qLen, ∞);
    * past the floor() wiggles the bound grows linearly with slope
    * 1 − GramQ·distPct/100 > 0 for distPct < 50, so the minimum is
    * attained by m ≤ 20000 — the [[maxFallbackLen]] horizon). 1 when no
    * positive bound exists (distPct ≥ 50: every bound is vacuous and
    * prefix skipping has no occurrences to spare). Governs how many
    * query-gram occurrences the prefix filter may skip: a name passing
    * its own bound b ≥ 1 shares ≥ b gram occurrences with the query, so
    * after removing s ≤ minPositiveBound − 1 ≤ b − 1 occurrences from
    * the query bag it still shares ≥ b − s ≥ 1 probed occurrences. */
  private def minPositiveBound(distPct: Int, qLen: Int): Int =
    if (distPct >= 50 || qLen > 20000) 1
    else {
      // scan 200 PAST the 20000 horizon: at a floor step intBound(m+1)
      // = intBound(m) − 1, so for qLen within ~100 of the horizon the
      // true minimum positive bound can sit just beyond it — stopping
      // at 20000 would overshoot the safe skip by 1 and the "lossless"
      // prefix filter could drop a true match (theoretical: ≈20000-
      // code-point queries only, but the guarantee must be airtight).
      // 200 covers the last floor-wiggle window for every distPct ≤ 49.
      val vs = (math.max(qLen, 1) to 20200)
        .map(intBound(distPct, _)).filter(_ >= 1)
      if (vs.isEmpty) 1 else vs.min
    }

  /** Materialize the ADVISORY per-gram posting-list-length sidecar
    * `{t}_gramdf` the prefix filter reads ([[topKIndexed]]
    * `prefixSkip`): (bucket, gram, df) with df = OCCURRENCE count = the
    * posting list length a probe of that gram would scan — the exact
    * cost the skip avoids. Opt-in maintenance (run after build;
    * [[indexDelta]] keeps it fresh with additive delta-count appends
    * and [[compactIndex]] rewrites it when present): the sidecar only
    * ORDERS the choice of which gram occurrences to skip, so a stale,
    * missing, or even wrong df can never lose a result. Tiny by
    * construction (≤ alphabet^[[GramQ]] distinct grams), coalesced to
    * one file per generation. */
  def writeGramDf(spark: org.apache.spark.sql.SparkSession,
      table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS ${table}_gramdf")
    spark.table(s"${table}_grams")
      .groupBy(col("bucket"), col("gram"))
      .agg(count(lit(1)).as("df"))
      .coalesce(1)
      .write.mode("overwrite").format("parquet")
      .saveAsTable(s"${table}_gramdf")
  }

  /** [[topK]] served from the materialized q-gram index — SAME RESULT
    * row-for-row (the oracle gates both): candidates are generated by
    * COUNT FILTERING (Gravano et al., VLDB 2001, "Approximate String
    * Joins in a Database (Almost) for Free"): a pair within edit
    * distance d shares at least maxlen − q + 1 − d·q q-grams (each edit
    * destroys ≤ q grams), so with the threshold t bounding
    * d_max = ⌊(100−t)·maxlen / 100⌋ (exact integer arithmetic — a
    * float 0.3·maxlen can land one ulp under an exact boundary and
    * silently over-prune), only names sharing ≥ that many grams with
    * the query can pass — everything else never leaves the postings
    * scan. Shared counts are bag-min sums (Σ min(cnt_q, cnt_name) per
    * gram); names too short for a positive bound (only possible when
    * the QUERY is short) are admitted through a length-predicate
    * fallback so the filter is provably lossless. Survivors are exact
    * [[levRatio]]-rescored — identical doubles to the scan path.
    *
    * Shape at 100 TB: the probe reads only the query grams' posting
    * buckets (static partition pruning — gram and bucket values are
    * literals), the shared-count aggregate is map-side combinable, and
    * the rescore touches candidate names only. On THIS fixture the
    * names are deliberately adversarial for gram selectivity (every
    * name shares the `customer#0…` prefix — the measured worst case,
    * like the near-uniform corpus is for PQ); on a real name corpus the
    * bucket probe is the 1000× pruning lever.
    *
    * `prefixSkip` defaults ON (round-15 adjudication): with no `_gramdf`
    * sidecar the probe is byte-identical to the plain path (one catalog
    * existence check), and with one it prices ≈ the plain probe at
    * fixture scale (0.36 vs 0.33 quiet — the aligned-prefix fixture's
    * rescore dominates) while cutting posting mass 16× on a hot-prefix
    * corpus (spec-measured) — at 100 TB the plain probe is ∝ the hottest
    * gram's df, the skip probe ∝ the rare lists. The sidecar itself
    * stays opt-in maintenance; ingest keeps it fresh once built
    * ([[indexDelta]]). `positional` stays OFF by measurement (0% pruning
    * at real cost on aligned corpora — see [[indexedCandidates]]). */
  def topKIndexed(spark: org.apache.spark.sql.SparkSession, table: String,
      query: String, threshold: Double = 70.0, k: Int = 10,
      positional: Boolean = false, prefixSkip: Boolean = true): DataFrame =
    indexedCandidates(spark, table, query, threshold, positional, prefixSkip)
      .withColumn("score", levRatio(col("name"), lit(query)))
      .filter(col("score") >= threshold)
      .drop("len")
      .orderBy(desc("score"), col("id"))
      .limit(k)

  /** The count-filtered candidate set behind [[topKIndexed]], with
    * Gravano's position filter TOGGLEABLE — and adjudicated OFF by
    * default, by measurement (`FuzzyIndexSpec` prices both):
    *
    *   - On the fixture's shared-prefix names (the recorded bag-filter
    *     worst case) the position filter prunes 0%: the shared prefix
    *     grams sit at IDENTICAL positions, and aligned matches are
    *     exactly what the window cannot cut. The windowed counts cost a
    *     real ~1.3-1.4× on every fuzzy row (extra aggregate + broadcast
    *     array probe), so the default pays it only when it buys
    *     something.
    *   - On MISALIGNED gram matches (a query embedded past the window
    *     width — substring-at-distance corpora) the filter is the
    *     decisive lever: 21 → 1 candidates on the spec's constructed
    *     fixture. `positional = true` is the knob for such corpora.
    *
    * Both filters are lossless (see the bound notes below) and
    * positional ⊆ bag is spec-asserted; the exact rescore in
    * [[topKIndexed]] makes results identical either way. */
  private[graft] def indexedCandidates(
      spark: org.apache.spark.sql.SparkSession, table: String,
      query: String, threshold: Double, positional: Boolean,
      prefixSkip: Boolean = false): DataFrame = {
    require(threshold == math.floor(threshold) && threshold > 0,
      "count-filter bound uses exact integer arithmetic — whole-number " +
        s"thresholds only, got $threshold")
    val distPct = 100 - threshold.toInt
    // the query's gram OCCURRENCES (0-based positions, matching the
    // stored posexplode) + its posting buckets, computed driver-side
    // (the query is a literal): gram and bucket sets push into the scan
    // as STATIC literals. CODE POINTS, not UTF-16 units — Spark's
    // length()/substr() count code points, so a surrogate-pair query
    // sliced with String.sliding would disagree with the stored
    // postings and silently over-prune
    val qCps = query.codePoints.toArray
    val qLen = qCps.length
    val qOcc: Seq[(Int, String)] = qCps.sliding(GramQ).zipWithIndex.toSeq
      .filter(_._1.length == GramQ)
      .map { case (a, i) => (i, new String(a, 0, a.length)) }
    val qGramKeys = qOcc.map(_._2).distinct
    val buckets = qGramKeys.map(bucketOf).distinct
    // tombstoned names never surface ([[indexDelete]]): one broadcast
    // anti-join on the names side covers the probed arm, the fallback
    // arm, and the gram-less short-query branch alike
    val names = Tombstones.filter(spark, table,
      spark.table(s"${table}_names"), "id")
    // per-candidate count-filter bound from the stored name length
    val maxlen = greatest(lit(qLen), col("len"))
    // d_max = (distPct·maxlen) div 100 — correctly-rounded IEEE division
    // of integers is exact at integer quotients, so floor(x/100.0) ==
    // the integer div (no one-ulp over-prune at exact boundaries)
    val dMax = floor((lit(distPct) * maxlen) / lit(100.0))
    val bound = maxlen - (GramQ - 1) - lit(GramQ) * dMax
    // is the bound <= 0 fallback REACHABLE for THIS query? bound depends
    // only on maxlen = max(qLen, len) — when no length can make it
    // vacuous, the fallback branch (a second names scan) is skipped
    // entirely instead of shipping a provably-empty union arm
    val fallbackReachable = fallbackReachableAt(distPct, qLen)
    if (qOcc.isEmpty) names
    else {
      import spark.implicits._
      // PREFIX FILTERING (Chaudhuri/Ganti/Kaushik, ICDE 2006, "A
      // Primitive Operator for Similarity Joins in Data Cleaning",
      // composed with Gravano's count bound): a name passing its bound
      // b ≥ 1 shares ≥ b gram occurrences with the query, so skipping
      // the s ≤ min-positive-bound − 1 HOTTEST query-gram occurrences
      // (by posting-list length, from the advisory `{t}_gramdf`
      // sidecar) leaves it ≥ b − s ≥ 1 probed occurrences — the probe
      // never reads the hottest posting lists at all, and the count
      // filter weakens to `shared ≥ bound − s` (still ≥ 1 exactly where
      // the original bound was ≥ 1; vacuous exactly where it was
      // vacuous, so the bound ≤ 0 fallback arm is untouched). The df
      // ordering is ADVISORY — a stale or missing sidecar only changes
      // WHICH occurrences are skipped (or skips none), never the
      // losslessness; the sidecar read is a plain row filter over the
      // tiny coalesced sidecar file(s) — NOT partition pruning — and
      // collects ≤ |query grams| folded rows driver-side (bounded by
      // the query length, like the gram bag itself). Positional composes:
      // a true match's ≥ b in-window 1-1 matching restricted to probed
      // occurrences still has ≥ b − s pairs.
      val skipN: Int =
        if (!prefixSkip) 0
        else if (!spark.catalog.tableExists(s"${table}_gramdf")) 0
        else math.max(0, math.min(minPositiveBound(distPct, qLen) - 1,
          qOcc.size - 1))
      val qOccP: Seq[(Int, String)] =
        if (skipN == 0) qOcc
        else {
          val dfByGram = spark.table(s"${table}_gramdf")
            .filter(col("bucket").isin(buckets: _*) &&
              col("gram").isin(qGramKeys: _*))
            .groupBy(col("gram")).agg(sum(col("df")).as("df"))
            .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
          // deterministic: hottest list first; gram then position break ties
          qOcc.sortBy { case (p, g0) =>
            (-dfByGram.getOrElse(g0, 0L), g0, p) }.drop(skipN)
        }
      val probeKeys = qOccP.map(_._2).distinct
      val probeBuckets = probeKeys.map(bucketOf).distinct
      val g = spark.table(s"${table}_grams")
        .filter(col("bucket").isin(probeBuckets: _*) &&
          col("gram").isin(probeKeys: _*))
      val shared0 =
        if (positional) {
          // POSITIONAL count filter (Gravano et al., VLDB 2001): strings
          // within edit distance d share ≥ bound positional q-grams in a
          // 1-1 matching whose matched positions differ by ≤ d. Per
          // (name, gram), least(#query-occurrences-with-an-in-window
          // partner, #name-occurrences-with-an-in-window partner) is an
          // upper bound on that matching's per-gram size (each side of a
          // matched pair is in-window by definition) and ≤ the bag-min
          // count (each side's count ≤ its occurrence count) — lossless,
          // and uniformly at least as strong as bag-min. The per-pair
          // window d_max reads the DENORMALIZED len on the posting row,
          // so the filter runs before any join to `_names`.
          //
          // Plan shape: name positions aggregate to ONE array row per
          // (id, gram) — the same row count as the bag path — and the
          // windowed counts are codegen'd array expressions against the
          // broadcast per-gram query-position arrays. (The first cut
          // joined occurrence PAIRS and counted distincts — a row
          // blowup ∝ cq·cn on hot grams plus a two-distinct Expand,
          // measured 1.9× on the shared-prefix fixture whose repeated
          // `00` grams are exactly that hot case.)
          val qg = qOccP.groupBy(_._2)
            .map { case (g0, o) => (g0, o.map(_._1).sorted) }.toSeq
            .toDF("gram", "qpos")
          val d = floor((lit(distPct) * greatest(lit(qLen), col("len")))
            / lit(100.0))
          val mq = size(filter(col("qpos"),
            p => exists(col("npos"), n => abs(n - p) <= d)))
          val mn = size(filter(col("npos"),
            n => exists(col("qpos"), p => abs(n - p) <= d)))
          g.groupBy(col("id"), col("gram"))
            .agg(collect_list(col("pos")).as("npos"),
              first(col("len")).as("len"))
            .join(broadcast(qg), "gram")
            .select(col("id"), least(mq, mn).as("m"))
            .groupBy(col("id")).agg(sum(col("m")).as("shared"))
        } else {
          // bag-min baseline: Σ_gram min(cnt_query, cnt_name)
          val qg = qOccP.groupBy(_._2)
            .map { case (g0, o) => (g0, o.size.toLong) }.toSeq
            .toDF("gram", "cq")
          g.groupBy(col("id"), col("gram")).agg(count(lit(1)).as("cn"))
            .join(broadcast(qg), "gram")
            .groupBy(col("id"))
            .agg(sum(least(col("cn"), col("cq"))).as("shared"))
        }
      // the fallback arm consumes `shared` a second time (left_anti);
      // pin ONE evaluation instead of trusting exchange reuse
      val shared = if (fallbackReachable) graft.CacheScope.track(shared0)
        else shared0
      // gram-probed survivors (a bound <= 0 name with ANY shared gram
      // lands here too — shared >= bound is then vacuous) + the
      // zero-shared-gram sliver of bound <= 0 names (len-predicate
      // pushdown; non-empty only for short queries) — disjoint by
      // construction, so no dedup pass
      val probed = names.join(shared, "id")
        .filter(col("shared") >= bound - lit(skipN))
        .drop("shared")
      if (!fallbackReachable) probed
      else probed.unionByName(
        names.filter(bound <= 0).join(shared, Seq("id"), "left_anti"))
    }
  }

  /** BATCH fuzzy search off the q-gram index — many query strings served
    * in ONE postings probe, the bulk spell-correction shape
    * ([[correctTokens]]'s regime at corpus scale: correcting a token
    * stream against a 100 TB name table cannot scan per token). The
    * probe reads the UNION of all queries' gram buckets once; windowed
    * positional counts group per (qid, name); each pair's count-filter
    * bound uses ITS query's length; survivors rescore with the exact
    * [[levRatio]] against their own query string (broadcast dim), and
    * the per-query top-k is the bounded [[graft.plans.TopK]] heap —
    * never a per-query scan. Same lossless-fallback discipline as
    * [[topKIndexed]], evaluated per query. Output: (qid, id, name,
    * score, rank), rank 1..k per qid by (score DESC, id).
    *
    * Convenience wrapper over the DataFrame form below — the Seq is
    * lifted into a (qid, q) frame and every per-query computation runs
    * in-engine. */
  def topKIndexedBatch(spark: org.apache.spark.sql.SparkSession,
      table: String, queries: Seq[(Long, String)],
      threshold: Double = 70.0, k: Int = 10,
      positional: Boolean = false, prefixSkip: Boolean = true): DataFrame = {
    import spark.implicits._
    topKIndexedBatch(spark, table, queries.toDF("qid", "q"), threshold, k,
      positional, prefixSkip)
  }

  /** DataFrame-native batch form — the bulk regime's real entry point
    * (the [[Similarity]] external-query-vector precedent applied to the
    * lexical family): `queries` is a caller-supplied broadcast-sized
    * (qid, q) frame, and EVERYTHING per-query runs in-engine — gram
    * occurrences via the same sequence/substr/posexplode expressions the
    * index build stores, posting buckets via the same crc32 expression,
    * candidates via an equi-join of the broadcast query grams against
    * the postings on (bucket, gram) so DPP prunes posting buckets at run
    * time (spec-asserted). The driver does O(1) work per query — no gram
    * bags, no `isin` literal lists whose plan size grows with the batch.
    * A 1M-token spell-correction batch is one job, not 1M plan literals.
    *
    * The fallback arm (names whose count-filter bound is vacuous — only
    * possible at small max(qlen, len)) is a names scan under a STATIC
    * `len <=` pushdown derived from the threshold alone
    * ([[maxFallbackLen]]) crossed with the broadcast query dim — at
    * GramQ = 2 length-1 names always qualify, so the arm always ships,
    * pruned to that (usually empty) sliver. */
  def topKIndexedBatch(spark: org.apache.spark.sql.SparkSession,
      table: String, queries: DataFrame, threshold: Double,
      k: Int, positional: Boolean, prefixSkip: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qDim = queries.select(col("qid").cast("long").as("qid"),
        col("q").cast("string").as("q"))
      .withColumn("qlen", length(col("q")))
    val scored = batchCandidates(spark, table, qDim, threshold, positional,
        prefixSkip)
      .withColumn("score", levRatio(col("name"), col("q")))
      .filter(col("score") >= threshold)
      .select(col("qid"), col("id"), col("name"), col("score"))
    graft.plans.TopK.perKey(scored, Seq("qid"), "score", "id", k)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(desc("score"), col("id"))))
      .orderBy(col("qid"), col("rank"))
  }

  /** The shared DataFrame-native batch candidate core: `qDim` is a
    * (qid, q, qlen) frame — qid of ANY groupable type (the public batch
    * API uses longs; [[correctTokensIndexed]] keys by the token string
    * itself) — and the result is the lossless count-filtered candidate
    * set with every qDim column plus the name projection, ready for the
    * exact rescore. */
  private def batchCandidates(spark: org.apache.spark.sql.SparkSession,
      table: String, qDim: DataFrame, threshold: Double,
      positional: Boolean, prefixSkip: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(threshold == math.floor(threshold) && threshold > 0,
      "count-filter bound uses exact integer arithmetic — whole-number " +
        s"thresholds only, got $threshold")
    val distPct = 100 - threshold.toInt
    // query gram OCCURRENCES, in-engine: the exact expressions
    // gramPostings stores (code-point substr, 0-based posexplode, crc32
    // bucket) — external and stored grams agree by construction
    val qo = qDim.filter(col("qlen") >= GramQ)
      .select(col("qid"), col("qlen"), posexplode(
        transform(sequence(lit(1), col("qlen") - (GramQ - 1)),
          i => col("q").substr(i, lit(GramQ)))).as(Seq("posq", "gram")))
      // semantically a no-op (every generated gram has exactly GramQ code
      // points), but load-bearing for the plan: a queries frame passed as
      // a LOCAL relation has its filters constant-folded away, and DPP
      // only prunes when the broadcast side retains a selective
      // predicate — this one survives above the posexplode, so the
      // postings scan is runtime-pruned for local and table-backed
      // query frames alike (spec-asserted)
      .filter(length(col("gram")) === GramQ)
      .withColumn("bucket",
        pmod(crc32(col("gram").cast("binary")), lit(GramBuckets)).cast("int"))
    // DF-NATIVE prefix skip (the [[indexedCandidates]] hot-gram filter,
    // batch form): rank each query's gram OCCURRENCES by stored df from
    // the advisory `_gramdf` sidecar (hottest first — broadcast join, no
    // driver collect) and drop its skipN hottest, where skipN =
    // minPositiveBound − 1 is computed IN-ENGINE per query: the bound's
    // minimum over m ∈ [qlen, qlen+400] (a transform/array_min over a
    // generated sequence — the slope ≥ 0.02 at distPct ≤ 49 bounds the
    // last floor wiggle well inside 400, the same horizon argument as
    // the driver-side twin). The count filter weakens to
    // `shared ≥ bound − skipN` for probed pairs; the vacuous-bound
    // fallback arm is untouched (bound ≤ 0 admits regardless of skipN) —
    // lossless by the single-query path's argument, applied per qid.
    // All of it is query-side work on the broadcast-sized frame: the
    // windows rank ≤ qlen rows per query, and the postings scan's DPP
    // subquery sees FEWER (bucket, gram) keys — the hottest lists are
    // never read. A missing sidecar skips nothing and costs one catalog
    // check.
    val skipOn = prefixSkip && distPct < 50 &&
      spark.catalog.tableExists(s"${table}_gramdf")
    val (qoS, qSkip) =
      if (!skipOn) (qo, null)
      else {
        val dfg = spark.table(s"${table}_gramdf")
          .groupBy(col("bucket"), col("gram")).agg(sum(col("df")).as("gdf"))
        val mBounds = transform(
          sequence(col("qlen"), least(col("qlen") + lit(400), lit(20400))),
          m => m - lit(GramQ - 1) -
            lit(GramQ) * (lit(distPct) * m / lit(100)).cast("int"))
        val posB = filter(mBounds, b => b >= 1)
        val minPosB = when(col("qlen") > 20000, lit(1))
          .otherwise(when(size(posB) > 0, array_min(posB)).otherwise(lit(1)))
        val w = Window.partitionBy(col("qid"))
        val ranked = qo
          .join(broadcast(dfg), Seq("bucket", "gram"), "left")
          .withColumn("gdf", coalesce(col("gdf"), lit(0L)))
          .withColumn("rk", row_number().over(
            w.orderBy(desc("gdf"), col("gram"), col("posq"))))
          .withColumn("skipn", greatest(lit(0),
            least(minPosB - 1, count(lit(1)).over(w) - 1)))
        (ranked.filter(col("rk") > col("skipn"))
           .drop("gdf", "rk", "skipn"),
         ranked.select(col("qid"), col("skipn")).distinct())
      }
    // tombstoned names never surface ([[indexDelete]]) — both arms read
    // through the broadcast anti-join
    val names = Tombstones.filter(spark, table,
      spark.table(s"${table}_names"), "id")
    val maxlen = greatest(col("qlen"), col("len"))
    val dMax = floor((lit(distPct) * maxlen) / lit(100.0))
    val bound = maxlen - (GramQ - 1) - lit(GramQ) * dMax
    // shared counts per (query, name) — the same lossless filters
    // [[indexedCandidates]] documents (bag-min by default; Gravano's
    // position filter behind the measured-trade toggle), grouped by qid
    // and computed on one aggregated row per (qid, id, gram); consumed
    // twice (probed + fallback anti), so pinned once
    val qgArr = qoS.groupBy(col("qid"), col("qlen"), col("bucket"),
        col("gram"))
      .agg(sort_array(collect_list(col("posq"))).as("qpos"))
    val hits = spark.table(s"${table}_grams")
      .join(broadcast(qgArr), Seq("bucket", "gram"))
      .groupBy(col("qid"), col("qlen"), col("id"), col("gram"))
    val perGram =
      if (positional) {
        val d = floor((lit(distPct) * greatest(col("qlen"), col("len")))
          / lit(100.0))
        val mq = size(filter(col("qpos"),
          p => exists(col("npos"), n => abs(n - p) <= d)))
        val mn = size(filter(col("npos"),
          n => exists(col("qpos"), p => abs(n - p) <= d)))
        hits.agg(collect_list(col("pos")).as("npos"),
            first(col("len")).as("len"), first(col("qpos")).as("qpos"))
          .select(col("qid"), col("id"), least(mq, mn).as("m"))
      } else
        hits.agg(count(lit(1)).as("cn"), first(col("qpos")).as("qpos"))
          .select(col("qid"), col("id"),
            least(size(col("qpos")).cast("long"), col("cn")).as("m"))
    val shared = graft.CacheScope.track(
      perGram.groupBy(col("qid"), col("id")).agg(sum(col("m")).as("shared")))
    val qDimS =
      if (!skipOn) qDim.withColumn("skipn", lit(0L))
      else qDim.join(qSkip, Seq("qid"), "left")
        .withColumn("skipn", coalesce(col("skipn"), lit(0L)))
    val probed = names.join(shared, "id").join(broadcast(qDimS), "qid")
      .filter(col("shared") >= bound - col("skipn"))
      .drop("shared", "skipn")
    val cap = maxFallbackLen(distPct)
    val fbNames = if (cap == Int.MaxValue) names
      else names.filter(col("len") <= cap)
    probed.unionByName(
      fbNames.crossJoin(broadcast(qDim))
        .filter(bound <= 0)
        .join(shared.select(col("qid"), col("id")),
          Seq("qid", "id"), "left_anti"))
  }

  /** [[correctTokens]] served from the standing q-gram index — U2's
    * scale path (src/llm_cypher.py:41-57 corrects question tokens
    * against the student names; at a 100 TB name corpus that cannot be
    * a per-token levenshtein scan). Tokenization is the SAME in-engine
    * expression chain as the scan form (lowercase split, ≥3 chars,
    * stopword drop); distinct tokens become the batch query frame KEYED
    * BY THE TOKEN STRING, candidates come from the one shared
    * DPP-pruned postings probe, and the per-token best is the same
    * min_by aggregate over (−score, name) — so rows are identical to
    * the scan path (one oracle gates both). The threshold-prefilter
    * commutes with the aggregate: the scan form picks the max-score
    * name then drops it if below threshold; every candidate the filter
    * admits at ≥ threshold is present losslessly, and any name tying
    * the best is admitted too, so the argmin over the filtered set is
    * the same row. */
  def correctTokensIndexed(spark: org.apache.spark.sql.SparkSession,
      table: String, question: String,
      threshold: Double = 75.0): DataFrame = {
    val qDim = spark.range(1)
      .select(explode(split(lower(lit(question)), " ")).as("q"))
      .filter(length(col("q")) >= 3 && !col("q").isin(StopWords: _*))
      .distinct()
      .select(col("q").as("qid"), col("q"), length(col("q")).as("qlen"))
    batchCandidates(spark, table, qDim, threshold, positional = false)
      .withColumn("score", levRatio(col("name"), col("q")))
      .filter(col("score") >= threshold)
      .groupBy(col("qid"))
      .agg(min_by(struct(col("name"), col("score")),
        struct(negate(col("score")), col("name"))).as("best"))
      .select(col("qid").as("token"), col("best.name").as("corrected"),
        col("best.score").as("score"))
      .orderBy(col("token"))
  }

  /** Standing-index maintenance stats for the gram postings — the
    * [[Similarity.annIvfIndexStats]] shape for the fuzzy family: the
    * per-GRAM posting-list size distribution (bag counts — one row per
    * occurrence) and the max/avg imbalance factor. A probe reads its
    * query grams' posting lists, so the hottest gram is the probe-skew
    * predictor (on this fixture the shared `customer#0` prefix grams ARE
    * the hot lists — the measured worst case). One slim scan of the gram
    * column, one tiny aggregate.
    *
    * PHYSICAL stats by design: between an [[indexDelete]] and its
    * compaction the aggregate includes tombstoned rows — probe cost IS
    * the physical posting list until the fold rewrites it, and these
    * stats price probes/compaction, not the logical corpus. */
  def indexStats(spark: org.apache.spark.sql.SparkSession,
      table: String): DataFrame = {
    val sizes = spark.table(s"${table}_grams")
      .groupBy(col("gram")).agg(count(lit(1)).as("n"))
    sizes.agg(
        count(lit(1)).as("n_grams"),
        sum(col("n")).as("n_postings"),
        min(col("n")).as("min_gram"),
        max(col("n")).as("max_gram"),
        round(avg(col("n")), 4).as("avg_gram"))
      .withColumn("imbalance",
        round(col("max_gram").cast("double") / col("avg_gram"), 4))
  }

  /** Top-k fuzzy search with the reference's defaults (threshold 70, limit 10,
    * student_service.py:230). `scoreCol` lets callers pick the scorer:
    * [[levRatio]] (oracle-checkable) or the exact rapidfuzz-parity
    * `indel_ratio` expression (graft.functions.IndelRatio).
    *
    * Projection parity: the reference returns the FULL StudentDetail per hit
    * (student_service.py:244-266), so every student column rides along with
    * the score (the score itself is kept — it orders the cut and the
    * reference sorts by it before dropping it). */
  def topK(
      students: DataFrame, query: String,
      scoreOf: Column => Column,
      threshold: Double = 70.0, k: Int = 10): DataFrame =
    students
      .withColumn("score", scoreOf(col("name")))
      .filter(col("score") >= threshold)
      .orderBy(desc("score"), col("id")) // id tiebreak → deterministic top-k
      .limit(k)
}
