package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Phrase and proximity search over `documents` — the POSITIONAL half of
  * the lexical-retrieval family ([[Search]] is the bag-of-words half; its
  * BM25 postings carry term frequencies but not offsets, so neither
  * "exact phrase" nor "terms within k tokens" is answerable there).
  *
  * Shape at 100 TB, scan-time form: a phrase of n terms is a per-document
  * predicate over the token array — `filter(sequence(0, |w|-n), i ->
  * w[i]=t0 AND … AND w[i+n-1]=t(n-1))` — evaluated IN the scan with no
  * explode and no per-token row blow-up (the [[Search.bm25TopK]]
  * discipline), followed by a `TakeOrderedAndProject` cut. Nothing
  * corpus-sized shuffles; the only exchange is the top-k's singlePartition
  * gather of ≤ k rows per input partition.
  *
  * Index-backed form: a POSITIONAL postings table (term, doc_id,
  * positions[]) bucketed on `term`, so a phrase probe's `term IN (…)`
  * predicate prunes to the phrase's buckets at scan time — probe cost is
  * proportional to the phrase terms' document frequencies, NEVER the
  * corpus. Candidates group once on doc_id (the one probe shuffle, df-
  * bounded), and the adjacency test is a per-doc sorted-array
  * intersection of shifted position lists — the classic positional-
  * index phrase algorithm (Manning/Raghavan/Schütze IIR §2.4), expressed
  * as codegen-friendly Spark array functions rather than a posting-list
  * cursor walk.
  *
  * Both forms return the IDENTICAL frame (occurrence count + first
  * offset, deterministic (n_occ DESC, doc_id) order), spec-gated equal in
  * `PhraseSpec`, so the driver oracle covers each independently.
  *
  * Reference scope note: the reference app (student graph, fuzzy name
  * lookup) has no phrase search; this is a beyond-reference operator of
  * the training-data-pipeline family (substring/decontam-adjacent —
  * exact-phrase hits are how contaminated eval passages are located in a
  * pretraining corpus at scale).
  */
object Phrase {

  /** Fixture phrase the driver oracle exercises (2 terms, ~7% of docs). */
  val DefaultPhrase: Seq[String] = Seq("table", "scan")

  /** 3-term fixture (spec-only): exercises the n-way intersection chain. */
  val Phrase3: Seq[String] = Seq("part", "filter", "scan")

  /** Proximity fixture: terms and token window for `bm25_proximity`. */
  val ProxA = "join"
  val ProxB = "filter"
  val ProxWindow = 3

  val TopK = 20

  private def w: Column = Dedup.words(col("text"))

  /** 0-based start offsets at which `phrase` matches the token array
    * `words` — `filter` keeps ascending order, so element 1 is the first
    * occurrence. Docs shorter than the phrase produce the empty array
    * (guarded: a bare `sequence(0, negative)` would DESCEND). */
  private def matchStarts(words: Column, phrase: Seq[String]): Column = {
    val n = phrase.length
    val starts = when(size(words) >= n, sequence(lit(0), size(words) - n))
      .otherwise(array().cast("array<int>"))
    filter(starts, i =>
      phrase.zipWithIndex.map { case (t, off) =>
        element_at(words, i + off + 1) === lit(t) // element_at is 1-based
      }.reduce(_ && _))
  }

  /** Scan-time exact-phrase top-k: documents containing `phrase` as
    * consecutive tokens (under [[Dedup.normText]] normalization), ranked
    * by occurrence count. Output: (doc_id, n_occ, first_pos). */
  def phraseTopK(docs: DataFrame, phrase: Seq[String] = DefaultPhrase,
      k: Int = TopK): DataFrame = {
    // tokenize ONCE into a bound column first: element_at inside a
    // higher-order-function lambda re-evaluates its argument subtree per
    // element, so indexing the raw `split(...)` expression would re-split
    // the text O(len) times per row (measured 4× on the fixture corpus)
    // no pre-limit row filter: Catalyst pushes a Filter THROUGH a Project
    // (substituting aliases), which would duplicate the whole match tree
    // below — instead zero-occurrence rows sort last (n_occ DESC), the
    // top-k cut drops them whenever ≥ k docs match, and the residual
    // filter sits ABOVE the Limit (never pushed through), touching ≤ k rows
    docs.select(col("doc_id"), w.as("toks"))
      .select(col("doc_id"), matchStarts(col("toks"), phrase).as("hits"))
      .select(col("doc_id"),
        size(col("hits")).cast("bigint").as("n_occ"),
        when(size(col("hits")) > 0, element_at(col("hits"), 1))
          .cast("int").as("first_pos"))
      .orderBy(desc("n_occ"), col("doc_id"))
      .limit(k)
      .filter(col("n_occ") > 0)
  }

  /** Scan-time proximity search: documents where `a` and `b` co-occur
    * within `window` tokens, ranked by the closest pair.
    *
    * NOT the O(n_a · n_b) pair-distance matrix (for common terms that is
    * hundreds of per-row array allocations — measured 6.4× the
    * bm25_search sibling): only distances ≤ `window` can surface, so the
    * exact minimum is the SMALLEST gap d ∈ [1, window] at which an
    * adjacent (a, b) or (b, a) pair exists — `window` short-circuiting
    * `exists` passes over the token array, O(len · window), zero
    * allocation, and the CaseWhen stops at the first hit. Output:
    * (doc_id, n_a, n_b, min_dist), (min_dist ASC, doc_id) order. */
  def proximityTopK(docs: DataFrame, a: String = ProxA, b: String = ProxB,
      window: Int = ProxWindow, k: Int = TopK): DataFrame = {
    val toks = col("toks") // bound ONCE — see phraseTopK's tokenize note
    def cnt(t: String): Column =
      size(filter(toks, x => x === lit(t))).cast("bigint")
    def hitAt(d: Int): Column =
      when(size(toks) > d,
        exists(sequence(lit(0), size(toks) - 1 - d), i =>
          (element_at(toks, i + 1) === lit(a) &&
            element_at(toks, i + d + 1) === lit(b)) ||
          (element_at(toks, i + 1) === lit(b) &&
            element_at(toks, i + d + 1) === lit(a))))
        .otherwise(lit(false))
    val minDist = (1 to window).foldLeft(lit(null).cast("int")) {
      (acc, d) => coalesce(acc, when(hitAt(d), lit(d)))
    }
    // nulls-last sort + post-Limit filter, NOT a pre-limit filter: a
    // Filter pushed through the Project would re-evaluate the whole
    // min_dist CaseWhen chain (with `toks` re-inlined as split(...) per
    // reference) a second time per row — measured 2× the query
    docs.select(col("doc_id"), w.as("toks"))
      .select(col("doc_id"), cnt(a).as("n_a"), cnt(b).as("n_b"),
        minDist.as("min_dist"))
      .orderBy(col("min_dist").asc_nulls_last, col("doc_id"))
      .limit(k)
      .filter(col("min_dist").isNotNull)
  }

  // ------------------------------------------------ positional index

  /** The positional index as a [[StandingIndex]]: `{table}_pos` (term,
    * doc_id, positions: sorted 0-based int[]) bucketed and sorted on
    * `term` — the [[Search.buildIndex]] layout, one array row per
    * (term, doc) instead of a tf scalar. `positions` are [[Dedup.words]]
    * offsets, so the index-backed probe and the scan-time predicate index
    * the SAME token space. No additive sidecar: a delta is the bucketed
    * append plus its guard blob, and a delete is the tombstone append. */
  private def lifecycle(spark: SparkSession, table: String,
      buckets: Int): StandingIndex =
    StandingIndex(spark, table, "doc_id",
      Seq(StandingIndex.Table("_pos",
        StandingIndex.Bucketed(buckets, "term"), posPostings)), Nil)

  /** Materialize the positional index ([[StandingIndex.build]]). */
  def buildPositional(docs: DataFrame, table: String, buckets: Int = 8): Unit =
    lifecycle(docs.sparkSession, table, buckets).build(docs)

  /** (term, doc_id, positions) rows for a document frame. collect_list
    * order is partition-nondeterministic; the probe's shifted-
    * intersection inherits the FIRST array's order, so sort once at
    * build time and every probe's hit list is ascending for free. */
  private def posPostings(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), posexplode(w).as(Seq("pos", "term")))
      .groupBy(col("term"), col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("positions"))

  /** Append a delta of NEW doc_ids ([[StandingIndex.delta]]: a re-ingested
    * id would duplicate its rows and double-count every occurrence). */
  def positionalDelta(table: String, delta: DataFrame, buckets: Int = 8): Unit =
    lifecycle(delta.sparkSession, table, buckets).delta(delta)

  /** [[positionalDelta]] that skips already-indexed doc_ids
    * ([[StandingIndex.deltaIdempotent]]); a mid-swap catalog rolls
    * forward first. */
  def positionalDeltaIdempotent(table: String, delta: DataFrame,
      buckets: Int = 8): Unit = {
    lifecycle(delta.sparkSession, table, buckets).deltaIdempotent(delta); ()
  }

  /** Tombstone documents the index holds ([[StandingIndex.delete]]);
    * unknown and re-deleted ids are no-ops. */
  def positionalDelete(table: String, ids: DataFrame): Unit =
    lifecycle(ids.sparkSession, table, 8).delete(ids)

  /** Fold deltas and tombstones back to build-fresh layout
    * ([[StandingIndex.compact]]). */
  def positionalCompact(spark: SparkSession, table: String, buckets: Int = 8): Unit =
    lifecycle(spark, table, buckets).compact()

  /** Fixture batch for the batch probe: (qid, phrase). */
  val BatchPhrases: Seq[(Int, Seq[String])] = Seq(
    1 -> Seq("table", "scan"),
    2 -> Seq("key", "order"),
    3 -> Seq("group", "query"),
    4 -> Seq("part", "filter", "scan"))

  /** BATCH phrase probe — many phrases in ONE index pass (the family's
    * batch-frontend discipline: bm25/fuzzy/ANN all have one): the
    * postings scan is pruned once by the UNION of all phrases' terms,
    * one df-bounded groupBy pivots to the shared term→positions map
    * (pinned — each phrase's cut re-reads the ≤candidates-sized map, not
    * the index), and each phrase evaluates its own presence guard +
    * shifted-containment filter over that map. Per-phrase top-k cuts,
    * result ordered (qid, n_occ DESC, doc_id). Row-identical per qid to
    * the single-phrase probe (spec-gated). */
  def phraseIndexedBatch(spark: SparkSession, table: String,
      phrases: Seq[(Int, Seq[String])] = BatchPhrases,
      k: Int = TopK): DataFrame = {
    val unionTerms = phrases.flatMap(_._2).distinct
    val cand = Tombstones.filter(spark, table,
        spark.table(s"${table}_pos")
          .filter(col("term").isin(unionTerms: _*)),
        "doc_id")
      .groupBy(col("doc_id"))
      .agg(map_from_entries(collect_list(
        struct(col("term"), col("positions")))).as("m"))
    val pinned = graft.CacheScope.track(cand)
    val cuts = phrases.map { case (qid, p) =>
      // presence guard FIRST (a row missing any term never evaluates the
      // map lookups — ANSI element_at throws on an absent key)
      val present = p.distinct
        .map(t => map_contains_key(col("m"), lit(t))).reduce(_ && _)
      val hits = filter(element_at(col("m"), lit(p.head)), x =>
        p.zipWithIndex.drop(1).map { case (t, off) =>
          array_contains(element_at(col("m"), lit(t)), x + off)
        }.reduceOption(_ && _).getOrElse(lit(true)))
      pinned.filter(present)
        .select(col("doc_id"), hits.as("hits"))
        .select(lit(qid).as("qid"), col("doc_id"),
          size(col("hits")).cast("bigint").as("n_occ"),
          when(size(col("hits")) > 0, element_at(col("hits"), 1))
            .cast("int").as("first_pos"))
        .orderBy(desc("n_occ"), col("doc_id"))
        .limit(k)
        .filter(col("n_occ") > 0)
    }
    cuts.reduce(_ unionAll _)
      .orderBy(col("qid"), desc("n_occ"), col("doc_id"))
  }

  /** Posting-skew stats for the positional index ([[Search.indexStats]]
    * shape + the positions dimension): per-term df distribution plus
    * occurrence totals and the largest single position list — the probe-
    * cost predictors a maintenance job reads (a hot term's phrase probe
    * scans df rows; the in-row intersection cost scales with the
    * position-list length). PHYSICAL stats — reads the raw postings, so
    * between a delete and its compaction the numbers include tombstoned
    * rows (probe cost IS the physical list until the fold; the
    * [[Search.indexStats]] adjudication). */
  def positionalStats(spark: SparkSession, table: String): DataFrame = {
    val perTerm = spark.table(s"${table}_pos")
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"),
        sum(size(col("positions"))).as("occs"),
        max(size(col("positions"))).as("maxp"))
    perTerm.agg(
        count(lit(1)).as("n_terms"),
        sum(col("df")).as("n_postings"),
        sum(col("occs")).as("n_occurrences"),
        min(col("df")).as("min_df"),
        max(col("df")).as("max_df"),
        round(avg(col("df")), 4).as("avg_df"),
        max(col("maxp")).cast("bigint").as("max_positions"))
      .withColumn("imbalance",
        round(col("max_df").cast("double") / col("avg_df"), 4))
  }

  /** Repair an interrupted [[positionalCompact]] swap
    * ([[StandingIndex.recover]]). */
  def recoverPositionalSwap(spark: SparkSession, table: String): Boolean =
    lifecycle(spark, table, 8).recover()

  /** Index-backed exact-phrase top-k — identical frame to [[phraseTopK]].
    *
    * Probe shape: `term IN (phrase)` prunes the bucketed postings scan to
    * the phrase's terms (pushed to the parquet scan — plan-asserted in
    * `PhraseSpec`); one groupBy(doc_id) over those df-bounded slivers
    * pivots to a term→positions map; docs missing any distinct term drop
    * on map size; the adjacency test intersects each term's positions
    * shifted left by its phrase offset — the intersection of n sorted
    * sets, whose survivors ARE the match start offsets. */
  def phraseIndexedTopK(spark: SparkSession, table: String,
      phrase: Seq[String] = DefaultPhrase, k: Int = TopK): DataFrame = {
    val terms = phrase.distinct
    // tombstone anti-join sits ABOVE the term-pruned scan (broadcast
    // hash, no shuffle) — deleted docs can't surface, pruning untouched
    val cand = Tombstones.filter(spark, table,
        spark.table(s"${table}_pos").filter(col("term").isin(terms: _*)),
        "doc_id")
      .groupBy(col("doc_id"))
      .agg(map_from_entries(collect_list(
        struct(col("term"), col("positions")))).as("m"))
      .filter(size(col("m")) === terms.size)
    // filter+array_contains, NOT a chained array_intersect: measured
    // ~50× faster on short position arrays (array_intersect allocates an
    // intermediate set per pair of terms; the lambda probe is one pass)
    // and it keeps the first term's ascending position order for free
    val hits = filter(element_at(col("m"), lit(phrase.head)), x =>
      phrase.zipWithIndex.drop(1).map { case (t, off) =>
        array_contains(element_at(col("m"), lit(t)), x + off)
      }.reduceOption(_ && _).getOrElse(lit(true)))
    // same post-Limit residual-filter shape as phraseTopK (a pre-limit
    // filter would push through the Project and evaluate `hits` twice)
    cand.select(col("doc_id"), hits.as("hits"))
      .select(col("doc_id"),
        size(col("hits")).cast("bigint").as("n_occ"),
        when(size(col("hits")) > 0, element_at(col("hits"), 1))
          .cast("int").as("first_pos"))
      .orderBy(desc("n_occ"), col("doc_id"))
      .limit(k)
      .filter(col("n_occ") > 0)
  }
}
