package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** BM25 keyword search over `documents` — the lexical retrieval half of a
  * corpus-curation stack (the dense half is [[Similarity]]'s ANN family).
  *
  * Shape at 100 TB: for a bounded query-term set, per-document term
  * frequencies are computed IN THE SCAN (a `filter(words, ...)` count per
  * term — codegen'd, no explode, no per-token row blow-up), the corpus
  * statistics BM25 needs (N, avgdl, per-term document frequencies) reduce
  * to ONE summary row (map-side partial aggregation), and that row is
  * broadcast back for scoring. Total cost: two scans of the text column,
  * one 1-row exchange, one top-k (`TakeOrderedAndProject`) — nothing
  * proportional to corpus size ever shuffles. An inverted index (the
  * [[DedupIndex]]-style materialized variant) only wins once the query
  * load is repeated; this is the scan-time form.
  *
  * Scores are rounded to 4 decimals and tie-broken by doc_id so ranking
  * is reproducible across engines (`ln`/division are IEEE-double but
  * last-ulp-sensitive; the rounding makes the oracle compare exact).
  */
object Search {

  /** The fixed query-term set the driver oracle exercises. */
  val QueryTerms: Seq[String] = Seq("spark", "shuffle", "hash")

  /** Okapi BM25 parameters (the standard defaults). */
  val K1 = 1.2
  val B = 0.75

  val TopK = 20

  private def tf(term: String): Column =
    size(filter(Dedup.words(col("text")), x => x === lit(term)))
      .cast("double")

  /** Lucene/ATIRE idf: ln((N - df + 0.5) / (df + 0.5) + 1) — strictly
    * positive, so a term in >half the corpus can't flip signs. Reads the
    * `n_docs`/`df_t` columns of the broadcast stats row. */
  private def idf(t: String): Column =
    log((col("n_docs") - col(s"df_$t") + lit(0.5)) /
      (col(s"df_$t") + lit(0.5)) + lit(1.0))

  /** One term's BM25 contribution. The same expression tree is used by the
    * scan-time, hybrid, and index-backed variants, so their score doubles
    * are bit-identical (a tf of 0.0 contributes exactly 0.0). */
  private def bmPart(t: String): Column =
    idf(t) * (col(s"tf_$t") * (K1 + 1)) /
      (col(s"tf_$t") + lit(K1) * (lit(1.0 - B) + lit(B) * col("dl") / col("avgdl")))

  /** BM25 top-k: score every document against [[QueryTerms]], keep the
    * best [[TopK]]. Output: doc_id, per-term tf, doc length, score. */
  def bm25TopK(docs: DataFrame, terms: Seq[String] = QueryTerms,
      k: Int = TopK): DataFrame = {
    val perDoc = docs.select(
      (col("doc_id") +:
        size(Dedup.words(col("text"))).cast("double").as("dl") +:
        terms.map(t => tf(t).as(s"tf_$t"))): _*)
    // one summary row: corpus size, average doc length, per-term df
    val statCols = count(lit(1)).cast("double").as("n_docs") +:
      avg(col("dl")).as("avgdl") +:
      terms.map(t =>
        sum(when(col(s"tf_$t") > 0, 1).otherwise(0)).cast("double")
          .as(s"df_$t"))
    val stats = perDoc.agg(statCols.head, statCols.tail: _*)
    val score = round(terms.map(bmPart).reduce(_ + _), 4)
    perDoc.crossJoin(broadcast(stats))
      .select(
        (col("doc_id") +: col("dl").cast("bigint").as("dl") +:
          terms.map(t => col(s"tf_$t").cast("bigint").as(s"tf_$t"))) :+
          score.as("score"): _*)
      .filter(col("score") > 0)
      .orderBy(desc("score"), col("doc_id"))
      .limit(k)
  }

  /** Reciprocal-rank-fusion constant (Cormack et al.'s standard 60). */
  val RrfK = 60

  /** rank = 1 + position in the (-score, doc_id)-sorted ≤ k-element list —
    * a top-k cut (`TakeOrderedAndProject`) followed by a SINGLE-ROW
    * sorted-list aggregate. No global rank window (no WindowExec moving
    * everything to one partition) and no rank-by-self-join (which would
    * recompute the scored subtree on its build side). */
  private def rankTopK(scored: DataFrame, scoreCol: String, rankName: String,
      k: Int): DataFrame =
    scored.orderBy(desc(scoreCol), col("doc_id")).limit(k)
      .agg(sort_array(collect_list(struct(
        negate(col(scoreCol)).as("ns"), col("doc_id").as("doc_id")))).as("arr"))
      .select(posexplode(col("arr")).as(Seq("i", "e")))
      .select(col("e.doc_id").as("doc_id"),
        (col("i") + 1).cast("int").as(rankName))

  /** Hybrid retrieval: fuse TWO rankings of the same query over the same
    * corpus — BM25 and a plain tf-idf (VSM-dot) scorer — by reciprocal
    * rank: rrf(d) = Σ_lists 1/(RrfK + rank_list(d)), absent-from-list
    * contributing 0. RRF is the standard score-scale-free fusion step of
    * lexical+X retrieval stacks; here both halves are lexical-over-
    * `documents` because the dense half ([[Similarity]]) ranks a different
    * entity table (`embeddings.vec_id`), and fusing rankings of different
    * id spaces would be semantically fake.
    *
    * Shape at 100 TB: BOTH scores come off ONE shared (doc_id, dl, tf_t…)
    * projection crossed with the ONE broadcast stats row — the two top-k
    * cuts are `TakeOrderedAndProject` over that narrow projection (no
    * sort, no shuffle), ranks come from one ≤ k-element
    * collect_list → sort_array → posexplode per cut (a single-row
    * aggregate — no global rank window, so no WindowExec, and no
    * rank-by-self-join, which would RECOMPUTE the corpus scan on its
    * build side), and the fusion is a ≤ 2k-row full-outer join. Nothing
    * corpus-sized moves beyond the two scans of the projection. */
  def hybridRrf(docs: DataFrame, terms: Seq[String] = QueryTerms,
      k: Int = TopK): DataFrame = {
    val perDoc = docs.select(
      (col("doc_id") +:
        size(Dedup.words(col("text"))).cast("double").as("dl") +:
        terms.map(t => tf(t).as(s"tf_$t"))): _*)
    val statCols = count(lit(1)).cast("double").as("n_docs") +:
      avg(col("dl")).as("avgdl") +:
      terms.map(t =>
        sum(when(col(s"tf_$t") > 0, 1).otherwise(0)).cast("double")
          .as(s"df_$t"))
    val stats = perDoc.agg(statCols.head, statCols.tail: _*)
    def vsmPart(t: String): Column =
      when(col(s"df_$t") > 0,
        col(s"tf_$t") * log(col("n_docs") / col(s"df_$t"))).otherwise(lit(0.0))
    val scored = perDoc.crossJoin(broadcast(stats))
      .select(col("doc_id"),
        round(terms.map(bmPart).reduce(_ + _), 4).as("s_bm25"),
        round(terms.map(vsmPart).reduce(_ + _), 4).as("s_vsm"))
    def ranked(scoreCol: String, rankName: String): DataFrame =
      rankTopK(scored.filter(col(scoreCol) > 0), scoreCol, rankName, k)
    ranked("s_bm25", "r_bm25")
      .join(ranked("s_vsm", "r_vsm"), Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("r_bm25"), col("r_vsm"),
        round(
          coalesce(lit(1.0) / (lit(RrfK) + col("r_bm25")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfK) + col("r_vsm")), lit(0.0)), 6).as("rrf"))
      .orderBy(desc("rrf"), col("doc_id"))
  }

  /** Per-document keyword extraction: top-`k` terms by tf-idf over the
    * FULL vocabulary — the explode-based complement to [[bm25TopK]]'s
    * fixed-term scan (when the term set isn't known up front, the token
    * table has to exist).
    *
    * Shape at 100 TB: one explode to (doc, term, tf) — the unavoidable
    * corpus-sized shuffle, grouped on the high-cardinality (doc, term);
    * document frequencies aggregate that same table down to vocabulary
    * size with min-df pruning BEFORE the join back (rare-term tail
    * dropped early, the largest skew source gone); per-doc top-k runs
    * through [[graft.plans.TopK.perKeyMin]]'s bounded heaps, not a
    * full-sort window. Ranking uses the ROUNDED score with a term
    * tie-break — deterministic across engines. */
  def keywords(docs: DataFrame, k: Int = 3, minDf: Int = 2): DataFrame = {
    // linear tf: one token explode + count, O(tokens) work and shuffle —
    // NOT the per-distinct-term list_filter form, whose per-doc cost is
    // quadratic (distinct terms × tokens) and which drags the full word
    // array through the explode
    val tf = docs.select(col("doc_id"),
        explode(Dedup.words(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val nDocs = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).cast("double").as("df"))
      .filter(col("df") >= minDf)
    val scored = tf.join(df, "term").crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("term"),
        round(col("tf") * log(col("n_docs") / col("df")), 4).as("tfidf"))
      .filter(col("tfidf") > 0)
    // bounded per-key heaps (highest tfidf, term tie-break) — top-k
    // without a full per-doc sort; the rank window runs over ≤ k·docs
    // rows AFTER selection
    graft.plans.TopK.perKey(scored, Seq("doc_id"), "tfidf", "term", k)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
          .orderBy(desc("tfidf"), col("term"))).cast("int"))
      .select(col("doc_id"), col("rank"), col("term"), col("tfidf"))
      .orderBy(col("doc_id"), col("rank"))
  }

  // ------------------------------------------------------ dense hybrid

  /** Affine vec_id → doc_id bridge constants (37 is coprime to the fixture
    * cardinalities, so the mapping scrambles without clustering; any
    * multiplicity is absorbed by the pooling below). */
  val BridgeMul = 37L
  val BridgeAdd = 11L

  /** The fixed dense-query anchor: doc 0's pooled vector stands in for
    * "the embedded query string" (the fixture has no text encoder). */
  val DenseQueryDoc = 0L

  /** The BM25 rank cut shared by the dense-hybrid variants: the
    * [[bm25TopK]] scoring chain reduced to (doc_id, r_bm25). */
  private def bm25Ranks(docs: DataFrame, terms: Seq[String], k: Int): DataFrame = {
    val perDoc = docs.select(
      (col("doc_id") +:
        size(Dedup.words(col("text"))).cast("double").as("dl") +:
        terms.map(t => tf(t).as(s"tf_$t"))): _*)
    val statCols = count(lit(1)).cast("double").as("n_docs") +:
      avg(col("dl")).as("avgdl") +:
      terms.map(t =>
        sum(when(col(s"tf_$t") > 0, 1).otherwise(0)).cast("double")
          .as(s"df_$t"))
    val stats = perDoc.agg(statCols.head, statCols.tail: _*)
    val bScored = perDoc.crossJoin(broadcast(stats))
      .select(col("doc_id"),
        round(terms.map(bmPart).reduce(_ + _), 4).as("s_bm25"))
    rankTopK(bScored.filter(col("s_bm25") > 0), "s_bm25", "r_bm25", k)
  }

  /** RRF fuse of the two ≤k-row rank lists: ≤2k-row full-outer join. */
  private def fuseRrf(bRank: DataFrame, dRank: DataFrame): DataFrame =
    bRank.join(dRank, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("r_bm25"), col("r_dense"),
        round(
          coalesce(lit(1.0) / (lit(RrfK) + col("r_bm25")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfK) + col("r_dense")), lit(0.0)), 6).as("rrf"))
      .orderBy(desc("rrf"), col("doc_id"))

  /** Pooled per-document embeddings over the vec_id → doc_id bridge:
    * `doc_id = (vec_id·37 + 11) mod N_docs`, vectors element-wise SUMMED in
    * quantized-integer space (round(x·1000) as long — [[Centroids]]' exact,
    * order-independent discipline; sum-pooling ≡ mean-pooling under cosine,
    * which is scale-invariant). Output: (doc_id, v: array<double> of exact
    * integer values, nrm).
    *
    * Shape at 100 TB: the bridge is one arithmetic column against a 1-row
    * broadcast count; pooling is ONE shuffle of fixed-size
    * [[graft.functions.VecSumAggregator]] buffers on doc_id (never a
    * dims× posexplode); the result is |docs|-sized. This is the standing
    * doc-embedding table a production stack materializes once per corpus
    * version. */
  def docVectors(docs: DataFrame, embeddings: DataFrame): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    graft.functions.DotProduct.register(spark)
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val mapped = embeddings.crossJoin(broadcast(nDocs))
      .select(
        ((col("vec_id") * BridgeMul + BridgeAdd) % col("n_docs")).as("doc_id"),
        transform(col("embedding"),
          x => round(x.cast("double") * Centroids.Scale).cast("long")).as("q"))
      .as[(Long, Array[Long])]
    mapped.groupByKey(_._1).mapValues(_._2)
      .agg(graft.functions.VecSumAggregator.toColumn.name("acc"))
      .toDF("doc_id", "acc")
      // integer-valued doubles: the fold-dot below sums exact integers, so
      // the dot product is order-free and engine-reproducible
      .select(col("doc_id"),
        transform(col("acc._2"), x => x.cast("double")).as("v"))
      .withColumn("nrm", sqrt(Similarity.dot(col("v"), col("v"))))
  }

  /** TRUE hybrid retrieval: BM25 (lexical) fused with the DENSE cosine
    * ranking over [[docVectors]]' bridged doc embeddings — the production
    * shape of hybrid search ([[hybridRrf]]'s two-lexical fusion exists
    * because the raw `embeddings.vec_id` is a different id space; the
    * bridge closes that gap). Dense ranks docs by cosine to the
    * [[DenseQueryDoc]] anchor (itself excluded); lexical is [[bm25TopK]]'s
    * scoring; fusion is reciprocal rank, absent-from-list contributing 0.
    *
    * Shape at 100 TB: the lexical half is [[bm25TopK]]'s two scans + 1-row
    * broadcast stats; the dense half is ONE pooling shuffle, then a scan of
    * the |docs|-sized vector table against a 1-row broadcast query. Both
    * cuts are `TakeOrderedAndProject` + the ≤ k-row sorted-list rank
    * aggregate ([[rankTopK]]); the fuse is a ≤ 2k-row full-outer join.
    * Nothing corpus-sized moves except the two text scans and the one
    * pooling exchange. */
  def hybridRrfDense(docs: DataFrame, embeddings: DataFrame,
      terms: Seq[String] = QueryTerms, k: Int = TopK,
      queryDoc: Long = DenseQueryDoc): DataFrame = {
    // dense: pooled vectors consumed twice (query row + corpus side) —
    // cache once, freed at the driver's query boundary
    val dv = graft.CacheScope.track(docVectors(docs, embeddings))
    val q = dv.filter(col("doc_id") === queryDoc)
      .select(col("v").as("qv"), col("nrm").as("qnrm"))
    val dcos = dv.filter(col("doc_id") =!= queryDoc)
      .crossJoin(broadcast(q))
      .select(col("doc_id"),
        round(Similarity.dot(col("v"), col("qv")) / (col("nrm") * col("qnrm")), 6)
          .as("cos"))
    // negative cosines still rank (dense lists have no natural zero cut)
    fuseRrf(bm25Ranks(docs, terms, k), rankTopK(dcos, "cos", "r_dense", k))
  }

  /** The SCALE-PATH dense half: same fusion as [[hybridRrfDense]], but the
    * dense cut probes only the query's sign-sketch LSH bucket and its
    * Hamming-1 neighbors ([[Similarity]]'s multi-probe scheme applied to
    * the pooled doc vectors) instead of scanning every doc vector —
    * candidates ≈ (1+planes)/2^planes of the corpus, reached by a bucket
    * equi-join against a ≤(1+planes)-row broadcast probe list. Recall of
    * the dense list is partial by construction (the ANN trade measured by
    * `sim_ann_recall` on the raw vectors); the fusion shape is unchanged:
    * two bounded cuts + a ≤2k full-outer fuse. */
  def hybridRrfDenseAnn(docs: DataFrame, embeddings: DataFrame,
      terms: Seq[String] = QueryTerms, k: Int = TopK,
      queryDoc: Long = DenseQueryDoc): DataFrame = {
    val dv = graft.CacheScope.track(
      docVectors(docs, embeddings)
        .withColumn("bucket", Similarity.bucketCol(col("v"))))
    val probes = (0 until Similarity.NumPlanes).map { p =>
      concat(
        substring(col("bucket"), 1, p),
        when(substring(col("bucket"), p + 1, 1) === "1", "0").otherwise("1"),
        substring(col("bucket"), p + 2, Similarity.NumPlanes - p - 1))
    }
    val q = dv.filter(col("doc_id") === queryDoc)
      .select(col("v").as("qv"), col("nrm").as("qnrm"),
        explode(array(col("bucket") +: probes: _*)).as("bucket"))
    val dcos = dv.filter(col("doc_id") =!= queryDoc)
      .join(broadcast(q), Seq("bucket"))
      .select(col("doc_id"),
        round(Similarity.dot(col("v"), col("qv")) / (col("nrm") * col("qnrm")), 6)
          .as("cos"))
    fuseRrf(bm25Ranks(docs, terms, k), rankTopK(dcos, "cos", "r_dense", k))
  }

  /** BATCH hybrid retrieval off the STANDING indexes — the composition
    * the two batch frontends exist for: one caller-supplied
    * broadcast-sized (qid, q, v) frame (text query + its embedding, the
    * shape a production query service actually sends) served by ONE
    * shared bucketed-postings pass ([[bm25TopKBatch]]) for the lexical
    * leg and one DPP-pruned probed-cell read
    * ([[Similarity.annIvfIndexedTopK]] external form) for the dense leg,
    * fused per query by reciprocal rank. The dense hits rank in VECTOR
    * space and bridge to doc space ([[BridgeMul]] affine map — the
    * fixture's stand-in for a vec→doc metadata join), collapsing
    * multi-vector docs to their best cosine before the dense re-rank;
    * n_docs for the bridge folds from the 1-row BM25 stats table, so
    * NOTHING corpus-sized is read by either leg. Both cuts are bounded
    * heaps; the fuse is a per-qid ≤2k-row full-outer join. */
  def hybridRrfBatch(spark: SparkSession, bmTable: String,
      ivfTable: String, queries: DataFrame, k: Int = TopK,
      nprobe: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lex = bm25TopKBatch(spark, bmTable,
        queries.select(col("qid"), col("q")), k)
      .select(col("qid"), col("doc_id"),
        col("rank").cast("long").as("r_bm25"))
    val nDocs = spark.table(s"${bmTable}_stats")
      .agg(sum(col("n_docs")).cast("long").as("n_docs"))
    val bridged = Similarity.annIvfIndexedTopK(spark, ivfTable,
        queries.select(col("qid"), col("v")), k, nprobe)
      .crossJoin(broadcast(nDocs))
      .select(col("qid"),
        ((col("vec_id") * BridgeMul + BridgeAdd) % col("n_docs"))
          .as("doc_id"),
        col("cos"))
      .groupBy(col("qid"), col("doc_id")).agg(max(col("cos")).as("cos"))
    // ≤ k rows per qid by construction (the vec-space cut already
    // happened) — this window re-ranks a bounded sliver, never a funnel
    val dense = bridged.withColumn("r_dense", row_number().over(
        Window.partitionBy(col("qid")).orderBy(desc("cos"), col("doc_id"))))
      .select(col("qid"), col("doc_id"),
        col("r_dense").cast("long").as("r_dense"))
    lex.join(dense, Seq("qid", "doc_id"), "full_outer")
      .select(col("qid"), col("doc_id"), col("r_bm25"), col("r_dense"),
        round(
          coalesce(lit(1.0) / (lit(RrfK) + col("r_bm25")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfK) + col("r_dense")), lit(0.0)), 6)
          .as("rrf"))
      .orderBy(col("qid"), desc("rrf"), col("doc_id"))
  }

  // --------------------------------------------------- inverted index

  /** The BM25 index as a [[StandingIndex]]: `{table}_postings` (term,
    * doc_id, dl, tf) bucketed and sorted on `term`, so a point query's
    * `term IN (...)` prunes to its buckets and a term-keyed join reads the
    * index pre-clustered; beside it the additive `{table}_stats` rows
    * ([[statsSidecar]]). The postings are the id-complete table: a doc
    * whose text tokenizes to nothing stores no postings rows, so a delete
    * cannot find it — such a doc can never surface in a result, but it
    * stays counted in n_docs/avgdl until a rebuild (`IndexDeleteSpec`
    * asserts the fixture corpus has none). */
  private def lifecycle(spark: SparkSession, table: String,
      buckets: Int): StandingIndex =
    StandingIndex(spark, table, "doc_id",
      Seq(StandingIndex.Table("_postings",
        StandingIndex.Bucketed(buckets, "term"), postings)),
      Seq(statsSidecar(spark, table)))

  private def postings(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), Dedup.words(col("text")).as("w"))
      .select(col("doc_id"), size(col("w")).cast("double").as("dl"),
        explode(col("w")).as("term"))
      .groupBy(col("term"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).cast("double").as("tf"))

  private def statsRow(docs: DataFrame): DataFrame =
    docs.select(size(Dedup.words(col("text"))).cast("double").as("dl"))
      .agg(count(lit(1)).cast("double").as("n_docs"),
        sum(col("dl")).as("sum_dl"))

  /** `{table}_stats`: one ADDITIVE (n_docs, sum_dl) row per build or
    * delta, summed at query time — sums of integer-valued doubles are
    * exact and sum/count is the division `avg` performs, so the derived
    * avgdl is bit-identical to the scan path's. A delta's row is one
    * aggregate over the batch that also counts it; a delete appends the
    * victims' NEGATIVE row, priced from their standing (doc_id, dl)
    * postings, so scores equal a rebuild without them; compaction folds
    * the rows to one (an all-empty corpus folds to (0, 0), not a null). */
  private def statsSidecar(spark: SparkSession,
      table: String): StandingIndex.Additive = new StandingIndex.Additive {
    val suffix = "_stats"
    private def save(df: DataFrame, mode: String): Unit =
      df.write.mode(mode).format("parquet").saveAsTable(s"${table}_stats")
    def build(batch: DataFrame): Unit = save(statsRow(batch), "overwrite")
    def delta(batch: DataFrame): (Option[Long], () => Unit) = {
      val row = statsRow(batch).collect()(0)
      (Some(row.getDouble(0).toLong), () =>
        save(spark.createDataFrame(java.util.List.of(row), row.schema),
          "append"))
    }
    def delete(victims: DataFrame): Unit =
      save(spark.table(s"${table}_postings")
        .join(broadcast(victims), Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("dl")).distinct()
        .agg((-count(lit(1))).cast("double").as("n_docs"),
          (-sum(col("dl"))).as("sum_dl")), "append")
    def compact(): Unit = {
      val s = spark.table(s"${table}_stats")
        .agg(coalesce(sum(col("n_docs")), lit(0.0)).as("n_docs"),
          coalesce(sum(col("sum_dl")), lit(0.0)).as("sum_dl"))
        .collect()(0)
      import spark.implicits._
      save(Seq((s.getDouble(0), s.getDouble(1))).toDF("n_docs", "sum_dl"),
        "overwrite")
    }
  }

  /** Materialize the inverted index once per corpus version; every later
    * query is a postings lookup, never a corpus scan — the repeated-query
    * regime [[bm25TopK]] defers to ([[StandingIndex.build]]). */
  def buildIndex(docs: DataFrame, table: String, buckets: Int = 8): Unit =
    lifecycle(docs.sparkSession, table, buckets).build(docs)

  /** Append a delta of NEW doc_ids: its postings and stats row derive from
    * the delta alone, so ingest cost is independent of index size
    * ([[StandingIndex.delta]]; a re-ingested doc_id throws). */
  def indexDelta(table: String, delta: DataFrame, buckets: Int = 8): Unit =
    lifecycle(delta.sparkSession, table, buckets).delta(delta)

  /** [[indexDelta]] that skips already-indexed doc_ids
    * ([[StandingIndex.deltaIdempotent]]). */
  def indexDeltaIdempotent(table: String, delta: DataFrame,
      buckets: Int = 8): Unit = {
    lifecycle(delta.sparkSession, table, buckets).deltaIdempotent(delta); ()
  }

  /** A streaming micro-batch ([[graft.streaming.Streams.incrementalIndexing]]):
    * [[indexDeltaIdempotent]], then — when `maxBatches` > 0 — the
    * compaction policy, decided from the guard size the replay filter read
    * plus this batch's blob, so the batch reads `{table}_guard` once. */
  private[graft] def streamedBatch(table: String, batch: DataFrame,
      maxBatches: Int, buckets: Int = 8,
      maxSidecarBytes: Long = 64L << 20): Unit = {
    val index = lifecycle(batch.sparkSession, table, buckets)
    val after = index.deltaIdempotent(batch)
    if (maxBatches > 0) index.compactIfDue(after, maxBatches, maxSidecarBytes)
  }

  /** Tombstone documents ([[StandingIndex.delete]]); the negative stats
    * row keeps [[bm25Indexed]]'s scores equal to a rebuild without them. */
  def indexDelete(table: String, ids: DataFrame): Unit =
    lifecycle(ids.sparkSession, table, 8).delete(ids)

  /** Fold a delta-grown index back to `buckets` files, one stats row and
    * one guard bloom ([[StandingIndex.compact]]). */
  def compactIndex(spark: SparkSession, table: String, buckets: Int = 8): Unit =
    lifecycle(spark, table, buckets).compact()

  /** Repair an interrupted [[compactIndex]] swap ([[StandingIndex.recover]]). */
  def recoverIndexSwap(spark: SparkSession, table: String): Boolean =
    lifecycle(spark, table, 8).recover()

  /** [[StandingIndex.compactIfNeeded]]: compact past `maxBatches` ingest
    * generations or `maxSidecarBytes` of guard blobs. */
  def compactIfNeeded(spark: SparkSession, table: String,
      maxBatches: Int = 16, buckets: Int = 8,
      maxSidecarBytes: Long = 64L << 20): Boolean =
    lifecycle(spark, table, buckets).compactIfNeeded(maxBatches,
      maxSidecarBytes)

  /** BM25 top-k from the materialized index — SAME RESULT as [[bm25TopK]]
    * (the oracle and `SearchIndexSpec` both gate it): tf/dl come from the
    * postings rows, df is the per-term postings count, n_docs/avgdl from
    * the 1-row stats table, and the score is the SAME [[bmPart]] expression
    * tree over the same doubles (a missing term's tf coalesces to 0.0,
    * which contributes exactly 0.0, just as the scan path's zero-tf terms
    * do).
    *
    * Shape at 100 TB: the query touches only the postings of its terms
    * (bucket-pruned scan), pivots that sliver per doc (one tiny shuffle),
    * and crosses with two broadcast 1-row frames. Cost is proportional to
    * the query terms' document frequency — NOT to corpus size. */
  def bm25Indexed(spark: SparkSession, table: String,
      terms: Seq[String] = QueryTerms, k: Int = TopK): DataFrame = {
    // deleted docs drop out BEFORE the df aggregate (broadcast anti-join
    // against the tiny tombstone sidecar — no shuffle, no extra scan), so
    // df/tf/dl all reflect the surviving corpus exactly
    val p = Tombstones.filter(spark, table,
        spark.table(s"${table}_postings"), "doc_id")
      .filter(col("term").isin(terms: _*))
    // additive stats rows (one per ingest) fold to the scan path's exact
    // doubles: integer-valued sums are exact, sum/count is avg's division
    val stats = spark.table(s"${table}_stats")
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl"))
      .select(col("n_docs"), (col("sum_dl") / col("n_docs")).as("avgdl"))
    val dfCols = terms.map(t =>
      coalesce(max(when(col("term") === t, col("df"))), lit(0.0)).as(s"df_$t"))
    val dfRow = p.groupBy(col("term"))
      .agg(count(lit(1)).cast("double").as("df"))
      .agg(dfCols.head, dfCols.tail: _*)
    val tfCols = terms.map(t =>
      coalesce(max(when(col("term") === t, col("tf"))), lit(0.0)).as(s"tf_$t"))
    val wide = p.groupBy(col("doc_id"), col("dl"))
      .agg(tfCols.head, tfCols.tail: _*)
    val score = round(terms.map(bmPart).reduce(_ + _), 4)
    wide.crossJoin(broadcast(stats)).crossJoin(broadcast(dfRow))
      .select(
        (col("doc_id") +: col("dl").cast("bigint").as("dl") +:
          terms.map(t => col(s"tf_$t").cast("bigint").as(s"tf_$t"))) :+
          score.as("score"): _*)
      .filter(col("score") > 0)
      .orderBy(desc("score"), col("doc_id"))
      .limit(k)
  }

  /** BATCH BM25 off the materialized index — many queries served from ONE
    * postings pass (the [[graft.ops.FuzzySearch.topKIndexedBatch]]
    * DataFrame-native contract for the BM25 family): `queries` is a
    * caller-supplied broadcast-sized (qid, q) frame; tokenization runs
    * in-engine with the SAME [[Dedup.words]] normalization the build
    * used (per-query duplicate terms collapse — each term scores once,
    * the [[bm25TopK]] fixed-term-set semantics); candidates come from an
    * equi-join of the postings against the broadcast query-term frame,
    * so the driver does O(1) work per query and the plan carries no
    * per-query literal lists. Per-term document frequencies derive from
    * the SAME joined pass (distinct (term, doc) count — the postings are
    * scanned once, [[graft.CacheScope]]-pinned); n_docs/avgdl fold from
    * the additive stats rows exactly as [[bm25Indexed]] does.
    *
    * Score parity discipline: per-(query, doc) contributions are summed
    * by an ORDERED fold (term-sorted `sort_array` → `aggregate`), not a
    * commutative SQL sum — float addition is order-sensitive and the
    * terms per query vary, so a deterministic order is the only way the
    * oracle (which folds in the same term order) reproduces the doubles
    * bit-for-bit. Zero-tf terms are absent rather than adding 0.0 —
    * IEEE-identical for the strictly-positive parts BM25 produces.
    *
    * Shape at 100 TB: a LARGE batch's union of query terms approaches
    * the vocabulary, where per-term pruning is impossible BY DEFINITION
    * and one shared bucketed-postings pass amortized over every query is
    * the right plan (this entry point). A small term set is the regime
    * [[bm25Indexed]] already serves with static `isin` pushdown + bucket
    * pruning — both are kept, and the trade is exactly the fuzzy
    * family's static-vs-DPP split. Output: (qid, doc_id, dl, score,
    * rank), rank 1..k per qid by (score DESC, doc_id). */
  def bm25TopKBatch(spark: SparkSession, table: String,
      queries: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qDim = queries.select(col("qid").cast("long").as("qid"),
      col("q").cast("string").as("q"))
    val qterms = qDim
      .select(col("qid"),
        explode(array_distinct(Dedup.words(col("q")))).as("term"))
      .filter(length(col("term")) > 0)
    // ONE postings pass feeds both the df aggregate and the scoring —
    // pinned (the broadcast query-term join is the only filter; at batch
    // scale the term union approaches the vocabulary, see scaladoc)
    val hits = graft.CacheScope.track(
      Tombstones.filter(spark, table, spark.table(s"${table}_postings"),
          "doc_id")
        .join(broadcast(qterms), Seq("term")))
    val dfRow = hits.select(col("term"), col("doc_id")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).cast("double").as("df"))
    val stats = spark.table(s"${table}_stats")
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl"))
      .select(col("n_docs"), (col("sum_dl") / col("n_docs")).as("avgdl"))
    // one term's contribution from the posting row's tf/dl — the same
    // expression tree as bmPart over the per-row df/stats columns
    val part = log((col("n_docs") - col("df") + lit(0.5))
        / (col("df") + lit(0.5)) + lit(1.0)) *
      (col("tf") * (K1 + 1)) /
      (col("tf") + lit(K1) * (lit(1.0 - B) + lit(B) * col("dl") / col("avgdl")))
    val scored = hits.join(broadcast(dfRow), "term")
      .crossJoin(broadcast(stats))
      .select(col("qid"), col("doc_id"), col("dl"), col("term"),
        part.as("part"))
      .groupBy(col("qid"), col("doc_id"), col("dl"))
      .agg(round(aggregate(
        transform(sort_array(collect_list(struct(col("term"), col("part")))),
          s => s("part")),
        lit(0.0), (acc, x) => acc + x), 4).as("score"))
      .filter(col("score") > 0)
      .select(col("qid"), col("doc_id"), col("dl").cast("bigint").as("dl"),
        col("score"))
    graft.plans.TopK.perKey(scored, Seq("qid"), "score", "doc_id", k)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(desc("score"), col("doc_id"))))
      .orderBy(col("qid"), col("rank"))
  }

  /** Seq convenience wrapper over the DataFrame batch form. */
  def bm25TopKBatch(spark: SparkSession, table: String,
      queries: Seq[(Long, String)], k: Int = TopK): DataFrame = {
    import spark.implicits._
    bm25TopKBatch(spark, table, queries.toDF("qid", "q"), k)
  }

  /** Standing-index maintenance stats for the BM25 postings — the
    * [[Similarity.annIvfIndexStats]] shape for the lexical family: the
    * per-TERM posting-list size distribution and the max/avg imbalance
    * factor. A probe's cost is the df of its terms, so the hottest term
    * IS the probe-skew predictor (the bucketed layout hashes terms into
    * files, and a hot term concentrates its bucket's read). One slim
    * scan of the term column, one tiny aggregate.
    *
    * PHYSICAL stats by design: between an [[indexDelete]] and its
    * compaction the df distribution includes tombstoned rows — a probe's
    * scan cost IS the physical posting list until compaction rewrites
    * it, and these stats exist to price probes and schedule maintenance,
    * not to describe the logical corpus (the 1-row `_stats` fold already
    * carries the logical n_docs/avgdl). */
  def indexStats(spark: SparkSession, table: String): DataFrame = {
    val sizes = spark.table(s"${table}_postings")
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    sizes.agg(
        count(lit(1)).as("n_terms"),
        sum(col("df")).as("n_postings"),
        min(col("df")).as("min_df"),
        max(col("df")).as("max_df"),
        round(avg(col("df")), 4).as("avg_df"))
      .withColumn("imbalance",
        round(col("max_df").cast("double") / col("avg_df"), 4))
  }
}
