package graft.entry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.IndelRatio
import graft.model.Tables
import graft.ops._
import graft.streaming.Streams

/** Lexical retrieval: BM25 scan + index family, phrase/positional, hybrid fusion, streaming ingest.
  * Rows split verbatim from SparkEntry (round 17); composed back in
  * [[graft.SparkEntry.queries]] / [[graft.SparkEntry.oracleSql]]. */
object RetrievalEntry {
  import EntryFixtures._
  import OracleCtes._

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "bm25_search" -> ((s, d) => Search.bm25TopK(Tables.documents(s, d))),
    // positional lexical retrieval: exact-phrase match computed IN the
    // scan (filter over token-start offsets — no explode, no per-token
    // rows) ranked by occurrence count, and proximity search ranked by
    // the closest (a, b) pair within the token window
    "bm25_phrase" -> ((s, d) => Phrase.phraseTopK(Tables.documents(s, d))),
    "bm25_proximity" -> ((s, d) =>
      Phrase.proximityTopK(Tables.documents(s, d))),
    // phrase probe off the MATERIALIZED positional index (term-bucketed
    // (term, doc_id, positions[]) rows): `term IN (phrase)` prunes the
    // scan to the phrase's postings, one df-bounded groupBy pivots to a
    // term->positions map, shifted sorted-array intersection yields the
    // match starts — must equal bm25_phrase row-for-row (PhraseSpec)
    "bm25_phrase_indexed" -> ((s, d) => {
      val wh = java.nio.file.Files.createTempDirectory("graft-pos-idx")
        .toFile.getAbsolutePath
      s.sql(s"CREATE DATABASE IF NOT EXISTS graft_idx LOCATION '$wh'")
      Phrase.buildPositional(Tables.documents(s, d), "graft_idx.pos")
      Phrase.phraseIndexedTopK(s, "graft_idx.pos")
    }),
    // QUERY-ONLY twin off the session-prebuilt positional index: times
    // the pruned-probe + intersection path alone (the repeated-query
    // regime the positional index exists for)
    "bm25_phrase_query" -> ((s, d) =>
      Phrase.phraseIndexedTopK(s, WarmIndex.positional(s, d))),
    // BATCH phrase probe off the warm index: union-of-terms pruned scan,
    // one shared term->positions pivot, per-phrase guarded cuts
    "bm25_phrase_batch" -> ((s, d) =>
      Phrase.phraseIndexedBatch(s, WarmIndex.positional(s, d))),
    // tombstone deletion for the positional family: delete IS the
    // sidecar append (no corpus-stats sidecar to correct), the probe's
    // broadcast anti-join hides victims immediately — same rebuild-
    // without-victims oracle discipline as bm25_index_delete
    "bm25_phrase_delete" -> ((s, d) => {
      val wh = java.nio.file.Files.createTempDirectory("graft-pos-del")
        .toFile.getAbsolutePath
      s.sql(s"CREATE DATABASE IF NOT EXISTS graft_idx LOCATION '$wh'")
      val docs = Tables.documents(s, d)
      Phrase.buildPositional(docs, "graft_idx.posdel")
      Phrase.positionalDelete("graft_idx.posdel",
        docs.filter(col("doc_id") % 7 === 3).select(col("doc_id")))
      Phrase.phraseIndexedTopK(s, "graft_idx.posdel")
    }),
    // FULL-CRUD lifecycle for the positional family: build 80% ->
    // delta-ingest 20% (guarded) -> delete every 7th doc (victims span
    // both generations) -> compact (folds generations + tombstones,
    // one guard bloom) -> query
    "bm25_phrase_lifecycle" -> ((s, d) => {
      val wh = java.nio.file.Files.createTempDirectory("graft-pos-life")
        .toFile.getAbsolutePath
      s.sql(s"CREATE DATABASE IF NOT EXISTS graft_idx LOCATION '$wh'")
      val docs = Tables.documents(s, d)
      Phrase.buildPositional(docs.filter(col("doc_id") % 5 =!= 0),
        "graft_idx.poslife")
      Phrase.positionalDelta("graft_idx.poslife",
        docs.filter(col("doc_id") % 5 === 0))
      Phrase.positionalDelete("graft_idx.poslife",
        docs.filter(col("doc_id") % 7 === 3).select(col("doc_id")))
      Phrase.positionalCompact(s, "graft_idx.poslife")
      Phrase.phraseIndexedTopK(s, "graft_idx.poslife")
    }),
    // hybrid retrieval: BM25 + tf-idf rankings off ONE shared projection,
    // fused by reciprocal rank (RRF) — bounded top-k cuts, 2k-row fusion
    "search_hybrid_rrf" -> ((s, d) => Search.hybridRrf(Tables.documents(s, d))),
    // TRUE lexical+dense hybrid: BM25 fused (RRF) with the cosine ranking
    // over bridge-pooled doc embeddings (vec_id -> doc_id, integer-sum
    // pooling) — two bounded cuts, <=2k-row full-outer fuse
    "search_hybrid_dense" -> ((s, d) =>
      Search.hybridRrfDense(Tables.documents(s, d), Tables.embeddings(s, d))),
    // scale-path dense half: the query probes its sign-sketch bucket +
    // Hamming-1 neighbors over the pooled doc vectors instead of scanning
    // them all — candidates ~(1+planes)/2^planes of the corpus
    "search_hybrid_dense_ann" -> ((s, d) =>
      Search.hybridRrfDenseAnn(Tables.documents(s, d), Tables.embeddings(s, d))),
    // BATCH hybrid off the STANDING indexes: one (qid, q, v) frame — text
    // + its embedding, the production query-service shape — through the
    // shared-postings batch BM25 leg and the DPP-pruned external ANN leg,
    // bridged to doc space and RRF-fused per qid. Both warm indexes are
    // session-prebuilt, so the row prices the two query paths + fuse
    "search_hybrid_batch" -> ((s, d) => {
      import s.implicits._
      val qv = Tables.embeddings(s, d).filter(col("vec_id") < 4)
        .select(col("vec_id").as("qid"),
          col("embedding").cast("array<double>").as("v"))
      Search.hybridRrfBatch(s, WarmIndex.bm25(s, d), WarmIndex.ivf(s, d),
        batchBm25Queries.toDF("qid", "q").join(qv, "qid"))
    }),
    // BM25 off the MATERIALIZED inverted index (term-bucketed postings +
    // 1-row stats): build once, query without a corpus scan — must equal
    // bm25_search row-for-row (same score expression, same doubles)
    "bm25_indexed" -> ((s, d) => {
      // fresh temp location per session: a stale warehouse dir from an
      // earlier JVM would otherwise collide with the fresh catalog
      // (locationAlreadyExists); within a session IF NOT EXISTS + the
      // known table make rebuilds plain overwrites
      val wh = java.nio.file.Files.createTempDirectory("graft-bm25-idx")
        .toFile.getAbsolutePath
      s.sql(s"CREATE DATABASE IF NOT EXISTS graft_idx LOCATION '$wh'")
      Search.buildIndex(Tables.documents(s, d), "graft_idx.bm25")
      Search.bm25Indexed(s, "graft_idx.bm25")
    }),
    // QUERY-ONLY twin off the session-prebuilt index (WarmIndex): times
    // the postings probe + score alone — bm25_indexed prices build +
    // query together, so a query-path regression could hide in build
    // noise. Same oracle as the scan-time and build+query rows
    "bm25_query" -> ((s, d) => Search.bm25Indexed(s, WarmIndex.bm25(s, d))),
    // BATCH BM25 off the standing index: a (qid, q) DataFrame served in
    // ONE shared postings pass — tokenization, df, and scoring all
    // in-engine (the DataFrame-native batch contract shared with
    // fuzzy_search_batch); per-(query, doc) scores fold in sorted term
    // order so the doubles are engine-reproducible. Covers an exact-term
    // anchor, a disjoint term set, a no-hit query, and a duplicate-term
    // query (dedup semantics)
    "bm25_search_batch" -> ((s, d) => {
      import s.implicits._
      Search.bm25TopKBatch(s, WarmIndex.bm25(s, d),
        batchBm25Queries.toDF("qid", "q"), 10)
    }),
    // per-TERM posting-list skew stats off the standing index — the
    // probe-skew predictor for the lexical family (a query's cost is
    // the df of its terms), the annIvfIndexStats shape
    "bm25_index_stats" -> ((s, d) => Search.indexStats(s, WarmIndex.bm25(s, d))),
    // positional-family twin of bm25_index_stats, + the positions
    // dimension (largest single position list = in-row intersection cost)
    "phrase_index_stats" -> ((s, d) =>
      Phrase.positionalStats(s, WarmIndex.positional(s, d))),
    // incremental maintenance of the standing index: base build on 80% of
    // the corpus, delta-ingest the rest (postings derived from the DELTA
    // ALONE, appended bucketed; stats merge additively), then query — must
    // STILL equal the full-corpus scan-time bm25 row-for-row
    "bm25_index_delta" -> ((s, d) => {
      val wh = java.nio.file.Files.createTempDirectory("graft-bm25-delta")
        .toFile.getAbsolutePath
      s.sql(s"CREATE DATABASE IF NOT EXISTS graft_idx LOCATION '$wh'")
      val docs = Tables.documents(s, d)
      Search.buildIndex(docs.filter(col("doc_id") % 5 =!= 0), "graft_idx.bm25d")
      Search.indexDelta("graft_idx.bm25d", docs.filter(col("doc_id") % 5 === 0))
      Search.bm25Indexed(s, "graft_idx.bm25d")
    }),
    // index-lifecycle capstone: build -> delta ingest -> COMPACT (postings
    // rewritten to build-fresh bucket layout, additive stats folded to one
    // row, one guard bloom) -> query. Same oracle as the delta row:
    // compaction is layout-only and must not move a single result
    "bm25_index_compact" -> ((s, d) => {
      val wh = java.nio.file.Files.createTempDirectory("graft-bm25-compact")
        .toFile.getAbsolutePath
      s.sql(s"CREATE DATABASE IF NOT EXISTS graft_idx LOCATION '$wh'")
      val docs = Tables.documents(s, d)
      Search.buildIndex(docs.filter(col("doc_id") % 5 =!= 0), "graft_idx.bm25c")
      Search.indexDelta("graft_idx.bm25c", docs.filter(col("doc_id") % 5 === 0))
      Search.compactIndex(s, "graft_idx.bm25c")
      Search.bm25Indexed(s, "graft_idx.bm25c")
    }),
    // DELETION from the standing postings — the tombstone lifecycle for
    // the lexical family: delete = sidecar append + ONE negative additive
    // stats row (never a postings rewrite); the probe anti-joins the
    // broadcast sidecar BEFORE the df aggregate, so the scores are
    // EXACTLY the rebuild-without-victims scores (df, n_docs, avgdl all
    // reflect the surviving corpus — spec-gated row identity, and this
    // oracle recomputes the whole chain over the surviving docs)
    "bm25_index_delete" -> ((s, d) => {
      val wh = java.nio.file.Files.createTempDirectory("graft-bm25-del")
        .toFile.getAbsolutePath
      s.sql(s"CREATE DATABASE IF NOT EXISTS graft_idx LOCATION '$wh'")
      val docs = Tables.documents(s, d)
      Search.buildIndex(docs, "graft_idx.bm25del")
      Search.indexDelete("graft_idx.bm25del",
        docs.filter(col("doc_id") % 7 === 3).select(col("doc_id")))
      Search.bm25Indexed(s, "graft_idx.bm25del")
    }),
    // COMPACTION ADVICE: the tombstone dead-fraction (the probe tax
    // every query pays until the rewrite) turned into a maintenance
    // decision — the fixture's ~31% dead postings cross the threshold
    "bm25_compaction_advice" -> ((s, d) => {
      val wh = java.nio.file.Files.createTempDirectory("graft-bm25-adv")
        .toFile.getAbsolutePath
      s.sql(s"CREATE DATABASE IF NOT EXISTS graft_idx LOCATION '$wh'")
      val docs = Tables.documents(s, d)
      Search.buildIndex(docs, "graft_idx.bm25adv")
      Search.indexDelete("graft_idx.bm25adv",
        docs.filter(col("doc_id") % 7 === 3 || col("doc_id") % 5 === 0)
          .select(col("doc_id")))
      Tombstones.compactionAdvice(s, "graft_idx.bm25adv",
        s.table("graft_idx.bm25adv_postings"), "doc_id", CompactThreshold)
    }),
    // FULL-CRUD lifecycle capstone: build 80% -> delta-ingest 20% ->
    // delete every 7th doc (victims span BOTH generations) -> compact
    // (folds the delta generations AND the tombstones physically, stats
    // to one row, guard to one bloom) -> query. The one row that prices
    // the whole maintenance story end-to-end; same rebuild-without-
    // victims oracle as the delete rows
    "bm25_index_lifecycle" -> ((s, d) => {
      val wh = java.nio.file.Files.createTempDirectory("graft-bm25-life")
        .toFile.getAbsolutePath
      s.sql(s"CREATE DATABASE IF NOT EXISTS graft_idx LOCATION '$wh'")
      val docs = Tables.documents(s, d)
      Search.buildIndex(docs.filter(col("doc_id") % 5 =!= 0),
        "graft_idx.bm25life")
      Search.indexDelta("graft_idx.bm25life",
        docs.filter(col("doc_id") % 5 === 0))
      Search.indexDelete("graft_idx.bm25life",
        docs.filter(col("doc_id") % 7 === 3).select(col("doc_id")))
      Search.compactIndex(s, "graft_idx.bm25life")
      Search.bm25Indexed(s, "graft_idx.bm25life")
    }),
    // STREAMING deletion: the takedown feed as a real bounded stream —
    // two micro-batches whose victim sets OVERLAP (the second file
    // redelivers every id of the first plus the rest), so the benched
    // row itself proves at-least-once replay safety: freshOnly makes
    // the re-delivered ids no-ops (no double-subtracted stats). After
    // the drain, probes answer the same rebuild-without-victims oracle
    // as the batch delete row
    "stream_index_delete" -> ((s, d) => {
      val wh = java.nio.file.Files.createTempDirectory("graft-bm25-sdel")
        .toFile.getAbsolutePath
      s.sql(s"CREATE DATABASE IF NOT EXISTS graft_idx LOCATION '$wh'")
      val docs = Tables.documents(s, d)
      Search.buildIndex(docs, "graft_idx.bm25sdel")
      val victims = docs.filter(col("doc_id") % 7 === 3)
        .select(col("doc_id"))
      Streams.replay(s, Seq(victims.filter(col("doc_id") % 2 === 1), victims))(
        Streams.incrementalDeletion(_,
          Search.indexDelete("graft_idx.bm25sdel", _)))
      Search.bm25Indexed(s, "graft_idx.bm25sdel")
    }),
    // streaming ANN ingest: base-built IVF index (frozen quantizer),
    // the remaining vectors arrive as a REAL bounded stream ingested via
    // the idempotent guard path — after the drain, index-served ANN must
    // answer the same oracle as the batch delta/compact rows
    "stream_ann_ingest" -> ((s, d) => {
      val wh = java.nio.file.Files.createTempDirectory("graft-ivf-stream")
        .toFile.getAbsolutePath
      s.sql(s"CREATE DATABASE IF NOT EXISTS graft_idx LOCATION '$wh'")
      val emb = Tables.embeddings(s, d)
      Similarity.buildIvfIndex(emb.filter(col("vec_id") % 5 =!= 0), "graft_idx.ivfs")
      val delta = emb.filter(col("vec_id") % 5 === 0)
      Streams.replay(s, Seq(delta.filter(col("vec_id") % 2 === 0),
          delta.filter(col("vec_id") % 2 === 1)))(
        Streams.drain(_, "stream_ann_ingest") { (batch, _) =>
          Similarity.ivfIndexDeltaIdempotent("graft_idx.ivfs", batch)
          // scheduled maintenance, default bounds (generations + sidecar
          // bytes) — a no-op at this scale, wired so the streaming path
          // exercises the same policy the bm25 ingest runs
          Similarity.compactIvfIfNeeded(s, "graft_idx.ivfs")
        })
      Similarity.annIvfIndexedTopK(s, "graft_idx.ivfs")
    }),
    // streaming ingest into the PQ-FUSED index: base build freezes BOTH
    // quantizers, the remaining vectors stream through the idempotent
    // fused path (assigned + PQ-encoded per micro-batch against the
    // stored artifacts). After the drain, the ADC-shortlist-rescore
    // query must answer the same oracle as the batch fused-delta row —
    // the full 100 TB ANN lifecycle (build → stream → maintain → query)
    // now exists for the compressed-domain index too
    "stream_ivfpq_ingest" -> ((s, d) => {
      val wh = java.nio.file.Files.createTempDirectory("graft-ivfpq-stream")
        .toFile.getAbsolutePath
      s.sql(s"CREATE DATABASE IF NOT EXISTS graft_idx LOCATION '$wh'")
      val emb = Tables.embeddings(s, d)
      Similarity.buildIvfIndex(emb.filter(col("vec_id") % 5 =!= 0),
        "graft_idx.ivfpqs", Similarity.Codec.Pq)
      val delta = emb.filter(col("vec_id") % 5 === 0)
      Streams.replay(s, Seq(delta.filter(col("vec_id") % 2 === 0),
          delta.filter(col("vec_id") % 2 === 1)))(
        Streams.drain(_, "stream_ivfpq_ingest") { (batch, _) =>
          Similarity.ivfIndexDeltaIdempotent("graft_idx.ivfpqs", batch)
          Similarity.compactIvfIfNeeded(s, "graft_idx.ivfpqs")
        })
      Similarity.annIvfPqIndexedTopK(s, "graft_idx.ivfpqs")
    }),
    // streaming ingest into the standing index — a REAL bounded stream
    // (file source, one file per micro-batch, foreachBatch -> idempotent
    // delta ingest; batch 0 bootstraps the empty catalog). After the
    // stream drains, the index must answer the full-corpus BM25 oracle —
    // the same SQL every other bm25 path is gated on.
    "stream_index_ingest" -> ((s, d) => {
      val wh = java.nio.file.Files.createTempDirectory("graft-bm25-stream")
        .toFile.getAbsolutePath
      s.sql(s"CREATE DATABASE IF NOT EXISTS graft_idx LOCATION '$wh'")
      val docs = Tables.documents(s, d)
      Streams.replay(s, Seq(docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1)))(
        Streams.incrementalIndexing(_, "graft_idx.bm25s"))
      Search.bm25Indexed(s, "graft_idx.bm25s")
    }),
    // streaming ingest into the standing FUZZY index: file-source
    // micro-batches through the idempotent gram-posting path (batch 0
    // bootstraps the empty catalog; compaction policy runs per batch);
    // the drained index must answer the scan-path fuzzy oracle
    // streaming ingest into the positional index: two micro-batches
    // through the idempotent delta; a drained stream answers the same
    // phrase oracle as a one-shot build (7th-family streaming symmetry)
    "stream_phrase_ingest" -> ((s, d) => {
      val wh = java.nio.file.Files.createTempDirectory("graft-pos-stream")
        .toFile.getAbsolutePath
      s.sql(s"CREATE DATABASE IF NOT EXISTS graft_idx LOCATION '$wh'")
      val docs = Tables.documents(s, d)
      Streams.replay(s, Seq(docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1)))(
        Streams.drain(_, "stream_phrase_ingest") { (batch, _) =>
          Phrase.positionalDeltaIdempotent("graft_idx.poss", batch)
        })
      Phrase.phraseIndexedTopK(s, "graft_idx.poss")
    }),
    "stream_fuzzy_ingest" -> ((s, d) => {
      val wh = java.nio.file.Files.createTempDirectory("graft-fuzzy-stream")
        .toFile.getAbsolutePath
      s.sql(s"CREATE DATABASE IF NOT EXISTS graft_idx LOCATION '$wh'")
      val st = Tables.students(s, d)
      Streams.replay(s, Seq(st.filter(col("id") % 2 === 0),
          st.filter(col("id") % 2 === 1)))(
        Streams.drain(_, "stream_fuzzy_ingest") { (batch, _) =>
          FuzzySearch.indexDeltaIdempotent("graft_idx.fuzzys", batch)
          FuzzySearch.compactIfNeeded(batch.sparkSession, "graft_idx.fuzzys")
        })
      FuzzySearch.topKIndexed(s, "graft_idx.fuzzys", fuzzyQuery)
    }),
    // keyword extraction: full-vocab tf-idf, min-df pruned before the
    // join back, per-doc top-3 through the bounded TopKPerKey heaps
  )

  def oracleSql: Map[String, String] = Map(
    "bm25_search" -> bm25OracleSql,
    "bm25_phrase" -> phraseOracleSql,
    "bm25_phrase_indexed" -> phraseOracleSql,
    "bm25_phrase_query" -> phraseOracleSql,
    "stream_phrase_ingest" -> phraseOracleSql,
    "bm25_phrase_batch" -> phraseBatchOracleSql,
    "bm25_phrase_delete" -> phraseOracleSqlFrom("doc_id % 7 <> 3"),
    "bm25_phrase_lifecycle" -> phraseOracleSqlFrom("doc_id % 7 <> 3"),
    "bm25_proximity" -> proximityOracleSql,
    // the index-backed variant must reproduce the scan-time result
    // row-for-row — same oracle, so any drift between the two paths fails
    "bm25_indexed" -> bm25OracleSql,
    "bm25_query" -> bm25OracleSql,
    // batch form: per-query Okapi chains with term-sorted score folds
    "bm25_search_batch" -> bm25BatchOracleSql,
    // per-term posting-list skew: df distribution + max/avg imbalance,
    // recomputed from the corpus (postings = distinct (term, doc) pairs)
    "bm25_index_stats" ->
      (s"WITH W AS (SELECT doc_id, string_split($docNorm, ' ') AS w FROM documents), " +
       "T AS (SELECT DISTINCT doc_id, term FROM (SELECT doc_id, unnest(w) AS term FROM W)), " +
       "DF AS (SELECT term, count(*) AS df FROM T GROUP BY term) " +
       "SELECT CAST(count(*) AS BIGINT) AS n_terms, " +
       "CAST(sum(df) AS BIGINT) AS n_postings, " +
       "CAST(min(df) AS BIGINT) AS min_df, " +
       "CAST(max(df) AS BIGINT) AS max_df, " +
       "round(avg(df), 4) AS avg_df, " +
       "round(CAST(max(df) AS DOUBLE) / round(avg(df), 4), 4) AS imbalance " +
       "FROM DF"),
    "phrase_index_stats" ->
      (s"WITH W AS (SELECT doc_id, string_split($docNorm, ' ') AS w FROM documents), " +
       "O AS (SELECT doc_id, unnest(w) AS term FROM W), " +
       "P AS (SELECT term, doc_id, count(*) AS occ FROM O GROUP BY term, doc_id), " +
       "DF AS (SELECT term, count(*) AS df, sum(occ) AS occs, max(occ) AS maxp FROM P GROUP BY term) " +
       "SELECT CAST(count(*) AS BIGINT) AS n_terms, " +
       "CAST(sum(df) AS BIGINT) AS n_postings, " +
       "CAST(sum(occs) AS BIGINT) AS n_occurrences, " +
       "CAST(min(df) AS BIGINT) AS min_df, " +
       "CAST(max(df) AS BIGINT) AS max_df, " +
       "round(avg(df), 4) AS avg_df, " +
       "CAST(max(maxp) AS BIGINT) AS max_positions, " +
       "round(CAST(max(df) AS DOUBLE) / round(avg(df), 4), 4) AS imbalance " +
       "FROM DF"),
    // delta-maintained index must converge to the full-corpus result
    "bm25_index_delta" -> bm25OracleSql,
    // tombstone deletion: the same chain over the SURVIVING corpus —
    // df, n_docs, avgdl all recomputed without the victims
    "bm25_index_delete" -> bm25OracleSqlFrom("doc_id % 7 <> 3"),
    // compaction advice: dead postings fraction over the same distinct
    // (doc_id, term) posting set the stats oracle derives
    "bm25_compaction_advice" ->
      (s"WITH W AS (SELECT doc_id, string_split($docNorm, ' ') AS w FROM documents), " +
       "T AS (SELECT DISTINCT doc_id, term FROM (SELECT doc_id, unnest(w) AS term FROM W)), " +
       "A AS (SELECT CAST(count(*) AS BIGINT) AS n_rows, " +
       "CAST(sum(CASE WHEN doc_id % 7 = 3 OR doc_id % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_dead FROM T) " +
       "SELECT n_rows, n_dead, " +
       "round(CAST(n_dead AS DOUBLE) / n_rows, 4) AS dead_frac, " +
       s"CASE WHEN CAST(n_dead AS DOUBLE) / n_rows >= $CompactThreshold " +
       "THEN 'compact' ELSE 'keep' END AS action FROM A"),
    // a drained delete stream (with overlapping redelivery) converges to
    // the batch delete's rebuild-without-victims scores
    "stream_index_delete" -> bm25OracleSqlFrom("doc_id % 7 <> 3"),
    // the full-CRUD capstone: every doc ingested (base + delta), victims
    // deleted, compacted — the surviving corpus is the same set
    "bm25_index_lifecycle" -> bm25OracleSqlFrom("doc_id % 7 <> 3"),
    // compaction is layout-only: the compacted index must STILL equal the
    // full-corpus scan-time result row-for-row
    "bm25_index_compact" -> bm25OracleSql,
    // a drained ingest stream must converge to the same full-corpus result
    "stream_index_ingest" -> bm25OracleSql,
    "search_hybrid_dense" -> hybridDenseOracle(ann = false),
    "search_hybrid_dense_ann" -> hybridDenseOracle(ann = true),
    "search_hybrid_batch" -> hybridBatchOracleSql,
    // hybrid RRF: same BM25 CTE chain + a tf-idf scorer off the same D/S,
    // both cut to top-k, ranks fused as 1/(60+r) — double-cast divisions
    // so DuckDB's decimal literals can't diverge from Spark's doubles
    "search_hybrid_rrf" -> {
      import graft.ops.Search.{K1, B => B25, TopK, QueryTerms, RrfK}
      val tfs = QueryTerms.map(t =>
        s"CAST(len(list_filter(w, x -> x = '$t')) AS DOUBLE) AS tf_$t").mkString(", ")
      val dfs = QueryTerms.map(t =>
        s"CAST(sum(CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_$t").mkString(", ")
      val bmParts = QueryTerms.map(t =>
        s"ln((n_docs - df_$t + 0.5) / (df_$t + 0.5) + 1) * (tf_$t * ${K1 + 1}) / " +
        s"(tf_$t + $K1 * (${1 - B25} + $B25 * dl / avgdl))").mkString(" + ")
      val vsmParts = QueryTerms.map(t =>
        s"CASE WHEN df_$t > 0 THEN tf_$t * ln(n_docs / df_$t) ELSE 0.0 END")
        .mkString(" + ")
      s"WITH W AS (SELECT doc_id, string_split($docNorm, ' ') AS w FROM documents), " +
      s"D AS (SELECT doc_id, CAST(len(w) AS DOUBLE) AS dl, $tfs FROM W), " +
      s"S AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl, $dfs FROM D), " +
      s"X AS (SELECT doc_id, round($bmParts, 4) AS s_bm25, round($vsmParts, 4) AS s_vsm " +
      "FROM D CROSS JOIN S), " +
      s"BM AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY s_bm25 DESC, doc_id) AS INT) AS r_bm25 " +
      s"FROM (SELECT doc_id, s_bm25 FROM X WHERE s_bm25 > 0 ORDER BY s_bm25 DESC, doc_id LIMIT $TopK)), " +
      s"VR AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY s_vsm DESC, doc_id) AS INT) AS r_vsm " +
      s"FROM (SELECT doc_id, s_vsm FROM X WHERE s_vsm > 0 ORDER BY s_vsm DESC, doc_id LIMIT $TopK)) " +
      "SELECT coalesce(b.doc_id, v.doc_id) AS doc_id, b.r_bm25, v.r_vsm, " +
      s"round(coalesce(CAST(1 AS DOUBLE) / ($RrfK + b.r_bm25), 0) + " +
      s"coalesce(CAST(1 AS DOUBLE) / ($RrfK + v.r_vsm), 0), 6) AS rrf " +
      "FROM BM b FULL OUTER JOIN VR v ON b.doc_id = v.doc_id " +
      "ORDER BY rrf DESC, doc_id"
    },
    // keywords: full-vocab tf-idf with min-df pruning; rank on the
    // rounded score with term tie-break (same ulp discipline as bm25)
  )
}
