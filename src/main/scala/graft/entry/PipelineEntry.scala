package graft.entry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.IndelRatio
import graft.model.Tables
import graft.ops._
import graft.streaming.Streams

/** Training-data pipeline: multimodal, sampling/mixture, quantiles, sketches, packing, decontamination.
  * Rows split verbatim from SparkEntry (round 17); composed back in
  * [[graft.SparkEntry.queries]] / [[graft.SparkEntry.oracleSql]]. */
object PipelineEntry {
  import EntryFixtures._
  import OracleCtes._

  /** CDC chunk table as SQL (doc_id, chunk_idx, n_words, chunk_hash) —
    * shared by the chunking row and the chunk-dedup row. */
  private val cdcChunksSql: String = {
    val m = graft.ops.TextAnalysis.CdcModulus
    s"WITH W AS (SELECT doc_id, string_split($docNorm, ' ') AS w FROM documents), " +
    "P AS (SELECT doc_id, i - 1 AS pos, w[i] AS wd FROM W, " +
    "unnest(range(1, len(w) + 1)) AS t(i)), " +
    s"B AS (SELECT doc_id, pos, wd, CASE WHEN (${graft.ops.Sketches.hexToLongSql("md5(wd)")}) % $m = 0 " +
    "THEN 1 ELSE 0 END AS isb FROM P), " +
    "A AS (SELECT doc_id, pos, wd, CAST(coalesce(sum(isb) OVER " +
    "(PARTITION BY doc_id ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS chunk_idx FROM B) " +
    "SELECT doc_id, chunk_idx, CAST(count(*) AS BIGINT) AS n_words, " +
    "md5(string_agg(wd, ' ' ORDER BY pos)) AS chunk_hash FROM A " +
    "GROUP BY doc_id, chunk_idx ORDER BY doc_id, chunk_idx"
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_features" -> ((s, d) =>
      Multimodal.extractFeatures(s, Multimodal.mediaTable(Tables.documents(s, d)))),
    "mm_frames" -> ((s, d) =>
      Multimodal.frameSample(Multimodal.mediaTable(Tables.documents(s, d)))),
    // audio analog: PCM frame windows with integer-exact features
    // (energy/peak/zero-crossings); decode stubbed, plumbing real
    "mm_audio_frames" -> ((s, d) =>
      Multimodal.audioFrames(Multimodal.mediaTable(Tables.documents(s, d)))),
    // REAL decode -> nearest-neighbor resample; the resized corner pixel
    // value-checks the pipeline against closed-form md5 arithmetic
    "mm_resize" -> ((s, d) =>
      Multimodal.resizeImages(s, Multimodal.mediaTable(Tables.documents(s, d)))),
    // perceptual image fingerprint: 8x8 average-hash over the REAL
    // ImageIO decode (integer grayscale + integer mean threshold)
    "mm_phash" -> ((s, d) =>
      Multimodal.perceptualHash(s, Multimodal.mediaTable(Tables.documents(s, d)))),
    // perceptual near-dup pairs: the image table plus a re-keyed mirror
    // slice (the re-uploaded-copy fixture, dedup_canonical's derivation
    // contract) -> banded bucket join -> exact hamming verify
    "mm_phash_pairs" -> ((s, d) => {
      // cached: the decode feeds the mirror projection and both join
      // sides of the band bucket self-join
      val ph = graft.CacheScope.track(Multimodal.perceptualHash(
        s, Multimodal.mediaTable(Tables.documents(s, d))))
      val mirror = ph.select((col("doc_id") + 1000000L).as("doc_id"),
        col("width"), col("height"), col("ahash"))
      Multimodal.phashPairs(ph.unionByName(mirror))
    }),
    // STREAMING maintenance of the standing perceptual-hash table: the
    // re-uploaded copies (same bytes, re-keyed ids — mm_phash_pairs's
    // mirror fixture) arrive as file-source micro-batches, each hashed
    // and folded in through the idempotent anti-join guard (batch 2
    // re-delivers batch 1's rows — the at-least-once replay must be a
    // no-op or doubled hash rows would band-join into phantom pairs);
    // after the drain, banded pairs over the standing table must answer
    // the same oracle as the batch mm_phash_pairs row
    // TAKEDOWN reaches the standing hash table (the last standing layout
    // without a delete path — and the corpus where DMCA/hash-list
    // takedowns actually arrive): build originals + re-uploaded mirror
    // copies, tombstone the mirror's even half, probe pairs through the
    // live (sidecar-anti-joined) view — every pair touching a deleted
    // image must vanish while the standing table stays byte-identical
    "mm_phash_delete" -> ((s, d) => {
      val wh = java.nio.file.Files.createTempDirectory("graft-phashdel")
        .toFile.getAbsolutePath
      s.sql(s"CREATE DATABASE IF NOT EXISTS graft_idx LOCATION '$wh'")
      s.sql("DROP TABLE IF EXISTS graft_idx.phashdel")
      s.sql(s"DROP TABLE IF EXISTS ${Tombstones.sidecar("graft_idx.phashdel")}")
      // unordered hash for the BUILD: a presentation sort before a table
      // write is a useless range exchange whose sampling pass would run
      // the decode twice (the cache then stores one clean pass)
      val ph = graft.CacheScope.track(Multimodal.phashOf(
        s, Multimodal.mediaTable(Tables.documents(s, d))))
      val mirror = ph.select((col("doc_id") + 1000000L).as("doc_id"),
        col("width"), col("height"), col("ahash"))
      ph.unionByName(mirror).write.saveAsTable("graft_idx.phashdel")
      Multimodal.phashDelete(s, "graft_idx.phashdel",
        s.table("graft_idx.phashdel")
          .filter(col("doc_id") >= 1000000L && col("doc_id") % 2 === 0)
          .select(col("doc_id")))
      Multimodal.phashPairs(Multimodal.phashLive(s, "graft_idx.phashdel"))
    }),
    // full-CRUD hash-table capstone (the dedup_index_lifecycle shape for
    // the multimodal layout): build originals -> ingest the mirror
    // copies as a media delta through the idempotent guard -> tombstone
    // the mirror's even half -> compact (swap rewrite + sidecar retire)
    // -> probe; must answer the delete row's oracle VERBATIM (compaction
    // is physical only — spec-gated row-identical)
    "mm_phash_lifecycle" -> ((s, d) => {
      val wh = java.nio.file.Files.createTempDirectory("graft-phashlife")
        .toFile.getAbsolutePath
      s.sql(s"CREATE DATABASE IF NOT EXISTS graft_idx LOCATION '$wh'")
      s.sql("DROP TABLE IF EXISTS graft_idx.phashlife")
      s.sql(s"DROP TABLE IF EXISTS ${Tombstones.sidecar("graft_idx.phashlife")}")
      val media = Multimodal.mediaTable(Tables.documents(s, d))
      Multimodal.phashOf(s, media)
        .write.saveAsTable("graft_idx.phashlife")
      Multimodal.phashIngest(s, "graft_idx.phashlife",
        media.filter(col("kind") === "image")
          .select((col("doc_id") + 1000000L).as("doc_id"), col("kind"),
            col("bytes")))
      Multimodal.phashDelete(s, "graft_idx.phashlife",
        s.table("graft_idx.phashlife")
          .filter(col("doc_id") >= 1000000L && col("doc_id") % 2 === 0)
          .select(col("doc_id")))
      Multimodal.phashCompact(s, "graft_idx.phashlife")
      Multimodal.phashPairs(Multimodal.phashLive(s, "graft_idx.phashlife"))
    }),
    "stream_phash_ingest" -> ((s, d) => {
      val wh = java.nio.file.Files.createTempDirectory("graft-phash-stream")
        .toFile.getAbsolutePath
      s.sql(s"CREATE DATABASE IF NOT EXISTS graft_idx LOCATION '$wh'")
      s.sql("DROP TABLE IF EXISTS graft_idx.phashs")
      val media = Multimodal.mediaTable(Tables.documents(s, d))
      Multimodal.phashOf(s, media)
        .write.saveAsTable("graft_idx.phashs")
      val mirror = media.filter(col("kind") === "image")
        .select((col("doc_id") + 1000000L).as("doc_id"), col("kind"),
          col("bytes"))
      // batch 2 = the odd half PLUS a replay of the full mirror set —
      // the idempotency probe rides the real stream
      Streams.replay(s, Seq(mirror.filter(col("doc_id") % 2 === 0), mirror))(
        Streams.drain(_, "stream_phash_ingest") { (batch, _) =>
          Multimodal.phashIngest(s, "graft_idx.phashs", batch)
        })
      Multimodal.phashPairs(s.table("graft_idx.phashs"))
    }),
    // training-data pipeline: text cleaning (markup/URL strip + ws collapse;
    // the corpus is synthetic-clean, so the gate wraps docs in deterministic
    // markup first — see TextAnalysis.withMarkup)
    "text_clean" -> ((s, d) => TextAnalysis.textClean(Tables.documents(s, d))),
    // training-data pipeline: stateless reproducible train/val/test split
    // (hash-keyed, no RNG — the only split semantics that survive retries
    // and repartitioning at 100 TB)
    "sample_split" -> ((s, d) => Sampling.hashSplit(Tables.documents(s, d))),
    // leakage-safe split: near-dup COMPONENTS are the split unit (a
    // near-copy of a test doc can never land in train); singletons keep
    // their hashSplit assignment exactly
    "sample_split_safe" -> ((s, d) =>
      Sampling.leakageSafeSplit(Tables.documents(s, d))),
    // grouped exact percentiles (sort-based agg next to a5's global form)
    "a9_percentiles" -> ((s, d) =>
      Tables.lineitem(s, d).groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_quantity, 0.25)"), 4).as("p25_qty"),
          round(expr("percentile(l_quantity, 0.5)"), 4).as("p50_qty"),
          round(expr("percentile(l_quantity, 0.75)"), 4).as("p75_qty"),
          round(expr("percentile(l_extendedprice, 0.95)"), 4).as("p95_price"))
        .orderBy(col("l_returnflag"))),
    // EXACT quantiles by histogram bisection — the scale path the exact
    // `percentile` aggregate (a9) lacks: log_B(domain) map-side-combined
    // count passes with O(B) driver state, vs a value->count map per agg
    // buffer (memory ∝ distinct values — the thing that OOMs at 100 TB)
    "a14_exact_quantile" -> ((s, d) =>
      Quantiles.priceQuantiles(Tables.lineitem(s, d))),
    // per-group lockstep: one (lo, hi, k) cell per (group, q), the join
    // gains a group-equality conjunct — still ONE scan per pass total
    "a15_quantile_grouped" -> ((s, d) =>
      Quantiles.priceQuantilesByFlag(Tables.lineitem(s, d))),
    // time-series gap-fill: dense per-user daily counts, zero-filled
    "w6_gapfill" -> ((s, d) => Windows.gapfillDaily(Tables.events(s, d))),
    // JSON path extraction over event props (the parse direction of F13's
    // to_json shaping) + per-type aggregate
    "f14_json_extract" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy(col("event_type"))),
    // training-data pipeline: Gopher-style per-doc repetition signals
    // (dup-word / top-word / top-bigram fractions + flag)
    "text_repetition" -> ((s, d) => TextAnalysis.repetition(Tables.documents(s, d))),
    // training-data pipeline: benchmark decontamination — 3-shingle overlap
    // of every training doc against the held-out src0 eval slice
    "decontam_overlap" -> ((s, d) => Decontam.overlap(Tables.documents(s, d))),
    // decontamination, sketch-pruned: eval side compressed to a broadcast
    // bloom filter probed at scan time (native expression), exact verify
    // on the collided sliver only — same result, ~20x smaller exchange
    "decontam_bloom" -> ((s, d) => Decontam.overlapBloom(Tables.documents(s, d))),
    // span-level (surgical) decontamination: positional 3-gram hits merged
    // into maximal contiguous word spans per doc — remove the passage,
    // keep the doc; one corpus scan, doc-partitioned windows
    "decontam_spans" -> ((s, d) => Decontam.spans(Tables.documents(s, d))),
    // streaming decontam twin: training docs arrive as a REAL bounded
    // stream (two disjoint files); each micro-batch scores against the
    // STANDING bench shingle set (stateless per doc — incremental ==
    // batch by construction, gated by sharing decontam_overlap's oracle)
    "stream_decontam" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val corpus = docs.filter(col("source") =!= "src0")
      val out = java.nio.file.Files.createTempDirectory("graft-decon-out")
        .toFile.getAbsolutePath + "/scored"
      // the fixed eval-suite side, cached once and probed by every batch
      val benchSh = graft.CacheScope.track(Decontam.benchSet(docs))
      Streams.replay(s, Seq(corpus.filter(col("doc_id") % 2 === 1),
          corpus.filter(col("doc_id") % 2 === 0)))(
        Streams.drain(_, "stream_decontam") { (batch, _) =>
          Decontam.score(batch, benchSh).write.mode("append").parquet(out)
        })
      s.read.parquet(out).orderBy(col("doc_id"))
    }),
    // training-data pipeline: PII redaction (emails/IPv4/phones) with a
    // zero-residual certificate; corpus is synthetic-clean so the gate
    // injects deterministic PII first — see TextAnalysis.withPii
    "text_pii" -> ((s, d) => TextAnalysis.piiRedact(Tables.documents(s, d))),
    // training-data pipeline: per-source hash quota sample through the
    // custom TopKPerKey operator (bounded map-side heaps, no per-source
    // single-reducer window)
    "sample_stratified" -> ((s, d) => Sampling.stratifiedQuota(Tables.documents(s, d))),
    // training-data pipeline: context-window chunking (32-token sequences,
    // ragged tail; chunks reassemble to the normalized doc — spec-certified)
    "text_chunks" -> ((s, d) => TextAnalysis.chunks(Tables.documents(s, d))),
    // content-defined chunking: boundaries from local word hashes, so an
    // edit reshapes one chunk and every later chunk hash survives
    "text_chunks_cdc" -> ((s, d) =>
      TextAnalysis.chunksCdc(Tables.documents(s, d))),
    // chunk-level exact dedup off the CDC hashes: a shared passage lands
    // as the SAME chunk in every doc, so passage dedup = one groupBy
    "dedup_cdc_chunks" -> ((s, d) =>
      TextAnalysis.cdcChunkDups(Tables.documents(s, d))),
    // overlapping sliding-window chunking (32-token windows every 24) —
    // the retrieval-embedding prep twin; boundary-spanning facts stay
    // inside at least one chunk
    "text_chunks_overlap" -> ((s, d) =>
      TextAnalysis.chunksOverlap(Tables.documents(s, d))),
    // training-data pipeline: weighted source mixing (per-domain hash
    // thresholds against a broadcast weights dim — the mixture recipe step)
    "sample_mix" -> ((s, d) => Sampling.weightedMix(Tables.documents(s, d))),
    // the data-REPETITION half of mixture weighting: epoch targets >1
    // repeat a source, fractional targets add a deterministic
    // hash-selected extra copy, 0 drops it, unlisted sources pass at 1
    "sample_epochs" -> ((s, d) =>
      Sampling.epochMix(Tables.documents(s, d), epochFixture)),
    // temperature-scaled mixture (α = 0.5 — the sqrt special case,
    // chosen because IEEE sqrt is correctly rounded and pow is not):
    // source share ∝ √n_s, exact-integer targets, md5-ranked keep prefix
    "sample_mix_temperature" -> ((s, d) =>
      Sampling.temperatureMix(Tables.documents(s, d))),
    // weighted sampling without replacement (A-ES keys, hash-uniform u,
    // TakeOrderedAndProject cut)
    "sample_weighted" -> ((s, d) => Sampling.weightedSample(Tables.documents(s, d))),
    // token-budgeted mixture: per-source TOKEN quotas (recipes are
    // specified in tokens), admission by source-local running sum
    "sample_token_budget" -> ((s, d) => Sampling.tokenBudget(Tables.documents(s, d))),
    // DSIR importance scoring: hashed-unigram log-ratio of target (src0)
    // vs raw distribution, scaled-long quantized before the per-doc sum;
    // keep = mean log-ratio positive (stateless, no global sort)
    "sample_dsir" -> ((s, d) => Sampling.dsirScores(Tables.documents(s, d))),
    // the recipe COMPOSER capstone: quality gate → temperature share →
    // epoch repetition → token-budget truncation in ONE DAG over ONE
    // corpus scan, emitting the per-source audited manifest
    "sample_recipe" -> ((s, d) =>
      Sampling.recipe(Tables.documents(s, d), epochFixture)),
    // curriculum staging: exact global difficulty quartiles (histogram
    // bisection — no global sort) -> per-(stage, source) manifest
    "sample_curriculum" -> ((s, d) =>
      Sampling.curriculum(Tables.documents(s, d))),
    // curriculum-STAGED packing: fixed-token sequences within (stage,
    // shard) — the physical layout a curriculum schedule trains on
    "pack_curriculum" -> ((s, d) =>
      Packing.packCurriculum(Tables.documents(s, d))),
    // KMV cardinality sketch (the oracle-able approx-distinct; estimate is
    // a pure function of the k-th smallest md5, maintained by TopKPerKey's
    // bounded heaps) with the exact count alongside
    "a10_kmv_distinct" -> ((s, d) =>
      Sketches.kmvDistinct(Tables.lineitem(s, d), "l_returnflag", "l_orderkey")),
    // HyperLogLog on the SAME fixture as a10 so the two distinct sketches
    // (mergeable registers vs bounded-heap order statistics) are directly
    // comparable recorded numbers
    "sketch_hll_distinct" -> ((s, d) =>
      Sketches.hllDistinct(Tables.lineitem(s, d), "l_returnflag", "l_orderkey")),
    // streaming HLL twin: per-batch PARTIAL register tables appended
    // (delta-sized), read-side max-merge == the one-shot sketch exactly
    // (max is idempotent — redelivery is a physical no-op, no ledger
    // needed); shares the batch row's oracle
    "stream_hll_ingest" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val regDir = java.nio.file.Files.createTempDirectory("graft-hll-regs")
        .toFile.getAbsolutePath + "/regs"
      Streams.replay(s, Seq(li.filter(col("l_orderkey") % 2 === 1),
          li.filter(col("l_orderkey") % 2 === 0)))(
        Streams.drain(_, "stream_hll_ingest") { (batch, _) =>
          Sketches.hllRegisters(batch, "l_returnflag", "l_orderkey")
            .write.mode("append").parquet(regDir)
        })
      val merged = s.read.parquet(regDir)
        .groupBy(col("g"), col("b")).agg(max(col("mb")).as("mb"))
      Sketches.hllEstimate(merged, li, "l_returnflag", "l_orderkey")
    }),
    // Count-Min heavy-hitter audit: exact top-20 terms vs their CMS
    // estimate; map-side partial agg IS the sketch merge
    // EXACT heavy hitters (every term with freq > n/(k+1)) in two passes:
    // per-partition Misra-Gries summaries (O(k) task state — no
    // vocabulary-sized agg state) -> broadcast candidate superset ->
    // exact counts of candidates only; the threshold applies to EXACT
    // counts, so MG internals never touch the result
    "sketch_mg_heavy" -> ((s, d) =>
      Sketches.mgHeavyHitters(Tables.documents(s, d))),
    "sketch_cms_topterms" -> ((s, d) =>
      Sketches.cmsHeavyHitters(Tables.documents(s, d))),
    // KMV intersection estimate between two sources' vocabularies (one
    // bounded-heap pass over the union; exact columns ride along so the
    // estimate's error is recorded)
    "sketch_kmv_intersect" -> ((s, d) =>
      Sketches.kmvIntersect(Tables.documents(s, d))),
    // self-join size (F2) from the count sketch — the planner's join-
    // cardinality question answered in ≤ depth×width state; exact F2
    // rides along (CMS inner product only overestimates)
    "sketch_f2_selfjoin" -> ((s, d) =>
      Sketches.f2SelfJoin(Tables.events(s, d))),
    // the general two-relation form: |views ⋈ purchases on user_id|
    // from two sketches' row inner product
    "sketch_join_card" -> ((s, d) =>
      Sketches.joinCardinality(Tables.events(s, d))),
    // near-dup clustering: GraphX connected components over the verified
    // Jaccard pairs; oracle = recursive-CTE reachability closure
    "dedup_components" -> ((s, d) =>
      Dedup.nearDupComponents(Tables.documents(s, d))),
    // near-dup cluster density: per-doc triangle counts (clique vs chain)
    "graph_triangles" -> ((s, d) =>
      Dedup.nearDupTriangles(Tables.documents(s, d))),
    // link prediction: neighbor-set jaccard per anchor edge (wedge join,
    // never all-pairs), top-3 partners per anchor
    "graph_node_similarity" -> ((s, d) =>
      graft.graph.GraphOps.nodeSimilarity(Tables.students(s, d))),
    // link prediction, hub-discounted: Adamic-Adar (Σ 1/ln deg over shared
    // neighbors, scaled-long quantized on the degree table) — same capped
    // wedge join as node similarity, integer-exact rank tiebreaks
    "graph_adamic_adar" -> ((s, d) =>
      graft.graph.GraphOps.adamicAdar(Tables.students(s, d))),
    // the graph_ppr_query separation applied to AA: the wedge scorer
    // served from the STANDING adjacency (the rule-join rebuild+persist
    // is priced once by warm_index_build; this prices the wedge work
    // alone — the amortized repeated-audit regime); same oracle as the
    // inline build-pricing form, the hash match proving the standing
    // table IS the capped view
    "graph_adamic_adar_query" -> ((s, d) =>
      graft.graph.GraphOps.adamicAdarIndexed(
        s, graft.ops.WarmIndex.graphAdjacency(s, d))),
    // local clustering coefficient: neighbor-pair edge tests bounded by
    // cap² per anchor; community cores vs bridge nodes
    "graph_clustering_coeff" -> ((s, d) =>
      graft.graph.GraphOps.clusteringCoeff(Tables.students(s, d))),
    // the warm-served clustering twin (the adamic_adar_query rationale)
    "graph_clustering_query" -> ((s, d) =>
      graft.graph.GraphOps.clusteringCoeffIndexed(
        s, graft.ops.WarmIndex.graphAdjacency(s, d))),
    // training-data pipeline: sequence packing — concat-then-chunk slot
    // assignment over (lang, shard) prefix sums; shard = portable md5
    // bucket so the only shuffle's cardinality is a config knob
    "pack_sequences" -> ((s, d) => Packing.packSequences(Tables.documents(s, d))),
    // packing-efficiency inventory: sequences + pad tokens per shard
    "pack_stats" -> ((s, d) => Packing.packingStats(Tables.documents(s, d))),
    // lexical retrieval: BM25 top-k for a fixed term set — per-doc tfs in
    // the scan, corpus stats as one broadcast row, TakeOrderedAndProject
  )

  /** Shared by decontam_overlap, decontam_bloom (the sketch's false
    * positives die in the exact verify join — result identical) and
    * stream_decontam (per-batch scoring is stateless — drained union ==
    * batch): one oracle, three engine paths gated against it. */
  private val decontamOverlapOracle: String =
    s"WITH W AS (SELECT doc_id, source, string_split($docNorm, ' ') AS w FROM documents), " +
    "SH AS (SELECT doc_id, source, unnest(list_distinct(CASE WHEN len(w) >= 3 THEN " +
    "list_transform(range(len(w)-2), i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]) " +
    "ELSE [array_to_string(w, ' ')] END)) AS sh FROM W), " +
    "BENCH AS (SELECT DISTINCT sh FROM SH WHERE source = 'src0'), " +
    "CORP AS (SELECT doc_id, sh FROM SH WHERE source <> 'src0'), " +
    "CNT AS (SELECT doc_id, count(*) AS n_sh FROM CORP GROUP BY 1), " +
    "HIT AS (SELECT doc_id, count(*) AS n_hit FROM CORP SEMI JOIN BENCH USING (sh) GROUP BY 1), " +
    "J AS (SELECT c.doc_id, c.n_sh, CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit, " +
    "round(CAST(coalesce(h.n_hit, 0) AS DOUBLE) / CAST(c.n_sh AS DOUBLE), 4) AS overlap_frac " +
    "FROM CNT c LEFT JOIN HIT h ON c.doc_id = h.doc_id) " +
    s"SELECT doc_id, n_sh, n_hit, overlap_frac, " +
    s"CAST(overlap_frac >= ${graft.ops.Decontam.ContaminatedFrac} AS INT) AS contaminated " +
    "FROM J ORDER BY doc_id"

  /** HLL oracle — shared by the batch row and the streaming twin (the
    * per-batch partial registers max-merge to the one-shot sketch
    * exactly; max is associative/commutative/idempotent). */
  private val hllDistinctOracle: String = {
    val m = graft.ops.Sketches.HllRegisters
    val a1 = graft.ops.Sketches.HllAlpha * m.toDouble * m
    s"WITH H AS (SELECT l_returnflag AS g, md5(CAST(l_orderkey AS VARCHAR)) AS h FROM lineitem), " +
    "B AS (SELECT g, (instr('0123456789abcdef', substr(h, 1, 1)) - 1) * 16 + " +
    "instr('0123456789abcdef', substr(h, 2, 1)) - 1 AS b, " +
    s"(${graft.ops.Sketches.hex14ToLongSql("h")}) AS v FROM H), " +
    s"R AS (SELECT g, b, 57 - (${graft.ops.Sketches.bitLenSql("v")}) AS rho FROM B), " +
    "M AS (SELECT g, b, max(rho) AS mb FROM R GROUP BY g, b), " +
    "S AS (SELECT g, CAST(count(*) AS BIGINT) AS n_regs, " +
    "sum(CAST((CAST(1 AS BIGINT) << (57 - mb)) AS HUGEINT)) AS s0 FROM M GROUP BY g), " +
    s"T AS (SELECT g, n_regs, $m - n_regs AS zeros, " +
    s"CAST(s0 + CAST($m - n_regs AS HUGEINT) * CAST(${1L << 57} AS HUGEINT) AS DOUBLE) AS sd FROM S), " +
    s"E AS (SELECT g, n_regs, CASE WHEN ($a1 * ${(1L << 57).toDouble}) / sd <= ${2.5 * m} AND zeros > 0 " +
    s"THEN $m.0 * ln($m.0 / zeros) ELSE ($a1 * ${(1L << 57).toDouble}) / sd END AS est FROM T), " +
    "X AS (SELECT l_returnflag AS g, CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_distinct FROM lineitem GROUP BY 1) " +
    "SELECT e.g AS l_returnflag, e.n_regs, round(e.est, 4) AS est_distinct, " +
    "x.exact_distinct FROM E e JOIN X x ON e.g = x.g ORDER BY l_returnflag"
  }

  /** The banded phash near-dup pairs oracle — ONE literal shared by the
    * batch row and its streaming-ingest twin (they answer identically by
    * the stream==batch contract; a shared body makes a future banding or
    * threshold change atomically consistent across both). 8 × 8-bit
    * bands: pigeonhole-exact recall to hamming 7 ≥ the verify threshold
    * 6, mirroring [[graft.ops.Multimodal.phashPairs]]. */
  private val phashPairsOracle: String = phashPairsOracleWhere("TRUE")

  /** The pairs oracle with a LIVE-view predicate over the standing rows
    * (originals ∪ re-keyed mirror): the delete/lifecycle rows pass the
    * tombstone set's complement, the plain rows pass TRUE — one body, so
    * a banding or threshold change stays atomically consistent across
    * the whole phash family. */
  private def phashPairsOracleWhere(live: String): String =
    s"WITH $mmPhashCtes, " +
    "U0 AS (SELECT doc_id, ahash FROM PH WHERE width * height >= " +
    s"${graft.ops.Multimodal.MinPhashPixels}), " +
    "U AS (SELECT doc_id, ahash FROM (SELECT doc_id, ahash FROM U0 " +
    "UNION ALL SELECT doc_id + 1000000, ahash FROM U0) " +
    s"WHERE $live), " +
    "BD AS (SELECT doc_id, ahash, unnest([0, 1, 2, 3, 4, 5, 6, 7]) AS j, " +
    "unnest([substr(ahash, 1, 8), substr(ahash, 9, 8), substr(ahash, 17, 8), " +
    "substr(ahash, 25, 8), substr(ahash, 33, 8), substr(ahash, 41, 8), " +
    "substr(ahash, 49, 8), substr(ahash, 57, 8)]) AS k FROM U), " +
    "C AS (SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst, a.ahash AS ha, b.ahash AS hb " +
    "FROM BD a JOIN BD b ON a.j = b.j AND a.k = b.k AND a.doc_id < b.doc_id), " +
    s"HM AS (SELECT src, dst, CAST(${OracleCtes.hammingSql("ha", "hb")} AS INT) AS hamming FROM C) " +
    "SELECT src, dst, hamming FROM HM WHERE hamming <= 6 ORDER BY src, dst"

  def oracleSql: Map[String, String] = Map(
    "stream_decontam" -> decontamOverlapOracle,
    "mm_features" ->
      ("WITH M AS (SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN 'image' " +
       "WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind, md5(text) AS h, " +
       "CAST(doc_id % 7 + 1 AS INT) AS bw, CAST(doc_id % 5 + 1 AS INT) AS bh FROM documents) " +
       "SELECT doc_id, kind, " +
       "CAST(CASE WHEN kind = 'image' THEN 54 + ((bw * 3 + 3) // 4 * 4) * bh " +
       "ELSE octet_length(from_hex(h)) END AS INT) AS byte_len, " +
       "CAST(CASE WHEN kind = 'image' THEN bw ELSE " +
       "16 * (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) + " +
       "strpos('0123456789abcdef', substr(h, 2, 1)) - 1 END AS INT) AS width, " +
       "CAST(CASE WHEN kind = 'image' THEN bh ELSE " +
       "16 * (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) + " +
       "strpos('0123456789abcdef', substr(h, 4, 1)) - 1 END AS INT) AS height, " +
       "CAST(CASE WHEN doc_id % 3 = 1 THEN 1 ELSE 3 END AS INT) AS channels " +
       "FROM M ORDER BY doc_id"),
    // aHash from BMP first principles; the engine decodes the REAL image
    // via ImageIO and must land on the same 64 bits
    "mm_phash" ->
      (s"WITH $mmPhashCtes SELECT doc_id, width, height, ahash FROM PH ORDER BY doc_id"),
    // pairs: re-keyed mirror slice union, 8 x 8-bit band bucket join
    // (pigeonhole-exact recall to hamming 7 >= the threshold 6),
    // exact 64-position hamming verify at threshold 6
    "mm_phash_pairs" -> phashPairsOracle,
    // takedown: pairs over the live view — the mirror's even half (the
    // tombstoned ids; MinPhashPixels-filtered like the standing table)
    // must contribute NO pairs, everything else is untouched
    "mm_phash_delete" -> phashPairsOracleWhere(
      "NOT (doc_id >= 1000000 AND doc_id % 2 = 0)"),
    // compaction is physical only: the lifecycle capstone answers the
    // delete row's oracle verbatim (delta-ingested mirror == built-in
    // mirror by the stream==batch contract; post-compact live == table)
    "mm_phash_lifecycle" -> phashPairsOracleWhere(
      "NOT (doc_id >= 1000000 AND doc_id % 2 = 0)"),
    // stream==batch: after the drain the standing hash table holds
    // exactly the originals + the mirror copies, so the banded pairs
    // answer the batch row's ORACLE VERBATIM — one shared literal, so a
    // banding/threshold change cannot desynchronize the twins
    "stream_phash_ingest" -> phashPairsOracle,
    // the resized top-left pixel: NN (0,0) maps to source (0,0), which in
    // the bottom-up 24-bit BMP sits at byte offset (h-1)*rowlen (B,G,R) of
    // the md5-cycled pixel data
    "mm_resize" ->
      ("WITH I AS (SELECT doc_id, md5(text) AS m, CAST(doc_id % 7 + 1 AS INT) AS w, " +
       "CAST(doc_id % 5 + 1 AS INT) AS h FROM documents WHERE doc_id % 3 = 0), " +
       "D AS (SELECT doc_id, m, w, h, (3 * w + 3) // 4 * 4 AS rowlen, " +
       "least(greatest(w, h), 4) AS t FROM I), " +
       "E AS (SELECT doc_id, m, w, h, " +
       "greatest((w * t) // greatest(w, h), 1) AS rw, " +
       "greatest((h * t) // greatest(w, h), 1) AS rh, " +
       "(h - 1) * rowlen AS off FROM D), " +
       "P AS (SELECT doc_id, w, h, rw, rh, " +
       "(instr('0123456789abcdef', substr(m, 2 * (off % 16) + 1, 1)) - 1) * 16 + " +
       "instr('0123456789abcdef', substr(m, 2 * (off % 16) + 2, 1)) - 1 AS cb, " +
       "(instr('0123456789abcdef', substr(m, 2 * ((off + 1) % 16) + 1, 1)) - 1) * 16 + " +
       "instr('0123456789abcdef', substr(m, 2 * ((off + 1) % 16) + 2, 1)) - 1 AS cg, " +
       "(instr('0123456789abcdef', substr(m, 2 * ((off + 2) % 16) + 1, 1)) - 1) * 16 + " +
       "instr('0123456789abcdef', substr(m, 2 * ((off + 2) % 16) + 2, 1)) - 1 AS cr FROM E) " +
       "SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height, " +
       "CAST(rw AS INT) AS rw, CAST(rh AS INT) AS rh, " +
       "CAST(cr * 65536 + cg * 256 + cb AS INT) AS corner_rgb, " +
       "CAST(rw * rh * 3 AS BIGINT) AS out_px_bytes FROM P ORDER BY doc_id"),
    "mm_frames" ->
      ("WITH M AS (SELECT doc_id, md5(text) AS hx FROM documents WHERE doc_id % 3 = 2), " +
       "D AS (SELECT doc_id, " +
       "greatest(16*(strpos('0123456789abcdef', substr(hx,1,1))-1) + strpos('0123456789abcdef', substr(hx,2,1))-1, 1) AS w, " +
       "greatest(16*(strpos('0123456789abcdef', substr(hx,3,1))-1) + strpos('0123456789abcdef', substr(hx,4,1))-1, 1) AS h, " +
       "16*(strpos('0123456789abcdef', substr(hx,5,1))-1) + strpos('0123456789abcdef', substr(hx,6,1))-1 + 1 AS n_frames FROM M), " +
       "F AS (SELECT doc_id, w, h, n_frames, unnest(range(0, n_frames, 8)) AS frame_idx FROM D) " +
       "SELECT doc_id, CAST(n_frames AS INT) AS n_frames, CAST(frame_idx AS INT) AS frame_idx, " +
       "md5(CAST(doc_id AS VARCHAR) || '_' || CAST(frame_idx AS VARCHAR)) AS frame_hash, " +
       "CAST(least(w, 64) AS INT) AS rw, " +
       "CAST(greatest((h * least(w, 64)) // w, 1) AS INT) AS rh " +
       "FROM F ORDER BY doc_id, frame_idx"),
    // audio frames: the payload IS unhex(md5(text)), so the oracle reads
    // byte k straight from the md5 hex; sample j mixes the cycled pair
    // with Knuth's constant — exact integer math on both engines
    "mm_audio_frames" ->
      ("WITH M AS (SELECT doc_id, md5(text) AS hx FROM documents WHERE doc_id % 3 = 1), " +
       "B AS (SELECT doc_id, hx, " +
       "16*(strpos('0123456789abcdef', substr(hx, 1, 1))-1) + strpos('0123456789abcdef', substr(hx, 2, 1))-1 AS b0 FROM M), " +
       "N AS (SELECT doc_id, hx, CAST(256 + (b0 % 8) * 128 AS INT) AS n_samples FROM B), " +
       "F AS (SELECT doc_id, hx, n_samples, unnest(range(0, n_samples - 256 + 1, 128)) AS start FROM N), " +
       "S AS (SELECT doc_id, n_samples, start, list_transform(range(start, start + 256), j -> " +
       "((16*(strpos('0123456789abcdef', substr(hx, ((j*2) % 16)*2 + 1, 1))-1) + strpos('0123456789abcdef', substr(hx, ((j*2) % 16)*2 + 2, 1))-1) * 256 " +
       "+ (16*(strpos('0123456789abcdef', substr(hx, ((j*2+1) % 16)*2 + 1, 1))-1) + strpos('0123456789abcdef', substr(hx, ((j*2+1) % 16)*2 + 2, 1))-1) " +
       "+ j * 2654435761) % 65536 - 32768) AS s FROM F) " +
       "SELECT doc_id, n_samples, CAST(start // 128 AS INT) AS frame_idx, " +
       "CAST(list_sum(list_transform(s, x -> x * x)) AS BIGINT) AS energy, " +
       "CAST(list_max(list_transform(s, x -> abs(x))) AS INT) AS peak, " +
       "CAST(len(list_filter(range(1, 256), i -> (s[i] < 0) <> (s[i+1] < 0))) AS INT) AS crossings " +
       "FROM S ORDER BY doc_id, frame_idx"),
  ) ++ Map(
    "text_clean" ->
      ("WITH R AS (SELECT doc_id, text, concat('<doc id=\"', CAST(doc_id AS VARCHAR), " +
       "'\" src=\"', source, '\">  http://', source, '.example.com/', " +
       "CAST(doc_id AS VARCHAR), ' \n', text, '  <br/>\t</doc>') AS raw FROM documents), " +
       "C AS (SELECT doc_id, text, raw, trim(regexp_replace(regexp_replace(regexp_replace(" +
       "raw, '<[^>]*>', ' ', 'g'), 'https?://[^ \t\n]+', ' ', 'g'), " +
       "'[ \t\n\f\r]+', ' ', 'g')) AS cleaned FROM R) " +
       "SELECT doc_id, length(raw) AS n_raw, length(cleaned) AS n_clean, " +
       "CAST(cleaned = trim(regexp_replace(text, '[ \t\n\f\r]+', ' ', 'g')) AS INT) AS roundtrip_ok, " +
       "md5(cleaned) AS clean_fp FROM C ORDER BY doc_id"),
    "sample_split" ->
      (s"WITH B AS (SELECT doc_id, md5(concat('split|', CAST(doc_id AS VARCHAR))) AS h FROM documents), " +
       "K AS (SELECT doc_id, (instr('0123456789abcdef', substr(h, 1, 1)) - 1) * 16 + " +
       "instr('0123456789abcdef', substr(h, 2, 1)) - 1 AS bucket FROM B) " +
       "SELECT doc_id, CAST(bucket AS BIGINT) AS bucket, " +
       s"CASE WHEN bucket < ${graft.ops.Sampling.TrainUpper} THEN 'train' " +
       s"WHEN bucket < ${graft.ops.Sampling.ValUpper} THEN 'val' ELSE 'test' END AS split " +
       "FROM K ORDER BY doc_id"),
    // the components chain (dedup_components' recursive CTE) + the same
    // two-hex-digit bucket keyed on the component id
    "sample_split_safe" ->
      (s"WITH RECURSIVE $shingleCtes, " +
       "SIZES AS (SELECT doc_id, count(*) AS nsh FROM SH GROUP BY doc_id), " +
       "COMMONS AS (SELECT p.src, p.dst, count(*) AS ncommon FROM PAIRS p " +
       "JOIN SH a ON a.doc_id = p.src JOIN SH b ON b.doc_id = p.dst AND b.sh = a.sh " +
       "GROUP BY p.src, p.dst), " +
       "NEAR AS (SELECT c.src, c.dst FROM COMMONS c " +
       "JOIN SIZES sa ON sa.doc_id = c.src JOIN SIZES sb ON sb.doc_id = c.dst " +
       "WHERE round(CAST(ncommon AS DOUBLE) / CAST(sa.nsh + sb.nsh - ncommon AS DOUBLE), 4) >= 0.5), " +
       "UND AS (SELECT src AS a, dst AS b FROM NEAR UNION ALL SELECT dst, src FROM NEAR), " +
       "REACH(a, b) AS (SELECT doc_id, doc_id FROM documents " +
       "UNION SELECT r.a, u.b FROM REACH r JOIN UND u ON u.a = r.b), " +
       "COMP AS (SELECT a AS doc_id, min(b) AS component FROM REACH GROUP BY a), " +
       "B AS (SELECT doc_id, component, " +
       "md5(concat('split|', CAST(component AS VARCHAR))) AS h FROM COMP), " +
       "K AS (SELECT doc_id, component, " +
       "(instr('0123456789abcdef', substr(h, 1, 1)) - 1) * 16 + " +
       "instr('0123456789abcdef', substr(h, 2, 1)) - 1 AS bucket FROM B) " +
       "SELECT doc_id, component, CAST(bucket AS BIGINT) AS bucket, " +
       s"CASE WHEN bucket < ${graft.ops.Sampling.TrainUpper} THEN 'train' " +
       s"WHEN bucket < ${graft.ops.Sampling.ValUpper} THEN 'val' ELSE 'test' END AS split " +
       "FROM K ORDER BY doc_id"),
    "a9_percentiles" ->
      ("SELECT l_returnflag, " +
       "round(quantile_cont(l_quantity, 0.25), 4) AS p25_qty, " +
       "round(quantile_cont(l_quantity, 0.5), 4) AS p50_qty, " +
       "round(quantile_cont(l_quantity, 0.75), 4) AS p75_qty, " +
       "round(quantile_cont(l_extendedprice, 0.95), 4) AS p95_price " +
       "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    // k-th-smallest (duplicates counted, k = ceil(q*n)) — the engine's
    // bisection must land on EXACTLY this element; q literals generated
    // from the same Quantiles.Qs constant the engine uses
    "a14_exact_quantile" ->
      (s"WITH S AS (SELECT CAST(l_extendedprice AS DOUBLE) AS v, " +
       "row_number() OVER (ORDER BY l_extendedprice) AS rn, " +
       "count(*) OVER () AS n FROM lineitem), " +
       "Q(q) AS (VALUES " +
       graft.ops.Quantiles.Qs.map(q => s"(CAST($q AS DOUBLE))").mkString(", ") +
       ") SELECT q, min(v) AS value FROM Q, S WHERE rn >= ceil(q*n) " +
       "GROUP BY q ORDER BY q"),
    "a15_quantile_grouped" ->
      (s"WITH S AS (SELECT l_returnflag, CAST(l_extendedprice AS DOUBLE) AS v, " +
       "row_number() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rn, " +
       "count(*) OVER (PARTITION BY l_returnflag) AS n FROM lineitem), " +
       "Q(q) AS (VALUES " +
       graft.ops.Quantiles.Qs.map(q => s"(CAST($q AS DOUBLE))").mkString(", ") +
       ") SELECT l_returnflag, q, min(v) AS value FROM Q, S " +
       "WHERE rn >= ceil(q*n) GROUP BY l_returnflag, q ORDER BY l_returnflag, q"),
    // generate_series can't take lateral column args in DuckDB — the list
    // form under unnest can, hence the one-row SPAN CTE exploded directly.
    "w6_gapfill" ->
      ("WITH SPAN AS (SELECT CAST(min(ts) AS DATE) AS d0, CAST(max(ts) AS DATE) AS d1 FROM events), " +
       "DAYS AS (SELECT CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP), " +
       "CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day FROM SPAN), " +
       "U AS (SELECT DISTINCT user_id FROM events), " +
       "D AS (SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS n FROM events GROUP BY 1, 2) " +
       "SELECT u.user_id, strftime(d.day, '%Y-%m-%d') AS day, " +
       "CAST(coalesce(n.n, 0) AS BIGINT) AS n_events " +
       "FROM U u CROSS JOIN DAYS d LEFT JOIN D n ON n.user_id = u.user_id AND n.day = d.day " +
       "ORDER BY u.user_id, d.day"),
    "f14_json_extract" ->
      ("SELECT event_type, count(*) AS n, " +
       "CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k, " +
       "CAST(min(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k, " +
       "CAST(max(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k " +
       "FROM events GROUP BY event_type ORDER BY event_type"),
    // DuckDB lists are 1-based (w[i]/w[i+1] over generate_series(1, n-1))
    // vs Spark's 0-based transform(sequence(0, n-2)) — same bigrams. All
    // divisions CAST AS DOUBLE on both sides so round(·, 4) sees the same
    // IEEE value; flags compare the ROUNDED fractions.
    "text_repetition" ->
      (s"WITH W AS (SELECT doc_id, string_split($docNorm, ' ') AS w FROM documents), " +
       "WD AS (SELECT doc_id, unnest(w) AS wd FROM W), " +
       "WG AS (SELECT doc_id, wd, count(*) AS c FROM WD GROUP BY 1, 2), " +
       "WA AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS nw, count(*) AS nd, max(c) AS mw FROM WG GROUP BY 1), " +
       "BG AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(w)-1), " +
       "i -> w[i] || ' ' || w[i+1])) AS bg FROM W WHERE len(w) >= 2), " +
       "BGG AS (SELECT doc_id, bg, count(*) AS c FROM BG GROUP BY 1, 2), " +
       "BA AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS nb, max(c) AS mb FROM BGG GROUP BY 1), " +
       "J AS (SELECT a.doc_id, nw AS n_words, " +
       "round(1 - CAST(nd AS DOUBLE) / CAST(nw AS DOUBLE), 4) AS dup_word_frac, " +
       "round(CAST(mw AS DOUBLE) / CAST(nw AS DOUBLE), 4) AS top_word_frac, " +
       "round(coalesce(CAST(mb AS DOUBLE) / CAST(nb AS DOUBLE), 0), 4) AS top_bigram_frac " +
       "FROM WA a LEFT JOIN BA b ON a.doc_id = b.doc_id) " +
       "SELECT doc_id, n_words, dup_word_frac, top_word_frac, top_bigram_frac, " +
       "CAST(dup_word_frac >= 0.65 OR top_bigram_frac >= 0.15 AS INT) AS repetitive " +
       "FROM J ORDER BY doc_id"),
    "decontam_overlap" -> decontamOverlapOracle,
    // bloom-pruned decontam returns the IDENTICAL result (the exact verify
    // join kills the sketch's false positives), so it shares the exact
    // path's oracle — that equality is precisely what's being gated
    "decontam_bloom" -> decontamOverlapOracle,
    // span-level decontam: positional grams via DuckDB's zipped multi-unnest
    // (pos list + gram list in one SELECT), islands = lag + running-sum —
    // the same gaps-and-islands the engine runs, recomputed independently
    "decontam_spans" ->
      (s"WITH W AS (SELECT doc_id, source, string_split($docNorm, ' ') AS w FROM documents), " +
       "BENCH AS (SELECT DISTINCT unnest(list_distinct(CASE WHEN len(w) >= 3 THEN " +
       "list_transform(range(len(w)-2), i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]) " +
       "ELSE [array_to_string(w, ' ')] END)) AS sh FROM W WHERE source = 'src0'), " +
       "C AS (SELECT doc_id, w, len(w) AS n_words FROM W WHERE source <> 'src0' AND len(w) >= 3), " +
       "G AS (SELECT doc_id, n_words, unnest(range(len(w)-2)) AS pos, " +
       "unnest(list_transform(range(len(w)-2), i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS sh FROM C), " +
       "H AS (SELECT doc_id, n_words, pos FROM G SEMI JOIN BENCH USING (sh)), " +
       "I AS (SELECT doc_id, n_words, pos, CASE WHEN lag(pos) OVER dw IS NULL " +
       "OR pos - lag(pos) OVER dw > 3 THEN 1 ELSE 0 END AS brk FROM H " +
       "WINDOW dw AS (PARTITION BY doc_id ORDER BY pos)), " +
       "S AS (SELECT doc_id, n_words, pos, sum(brk) OVER " +
       "(PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island FROM I), " +
       "E AS (SELECT doc_id, island, max(n_words) AS n_words, " +
       "max(pos) + 3 - min(pos) AS covered FROM S GROUP BY 1, 2) " +
       "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans, " +
       "CAST(sum(covered) AS BIGINT) AS covered_words, " +
       "CAST(max(n_words) AS BIGINT) AS n_words, " +
       "round(CAST(sum(covered) AS DOUBLE) / max(n_words), 4) AS cover_frac " +
       "FROM E GROUP BY doc_id ORDER BY doc_id"),
    // PII construction mirrored verbatim; regexes are shared constants from
    // TextAnalysis (RE2∩Java subset) interpolated into both engines.
    "text_pii" -> {
      val (em, ip, ph) = (TextAnalysis.EmailRe, TextAnalysis.IpRe, TextAnalysis.PhoneRe)
      s"WITH R AS (SELECT doc_id, concat(text, ' contact user', CAST(doc_id AS VARCHAR), " +
      "'@mail.example.com or call 555-', lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'), " +
      "' from 10.', CAST(doc_id % 256 AS VARCHAR), '.0.1') AS raw FROM documents), " +
      s"D AS (SELECT doc_id, raw, regexp_replace(regexp_replace(regexp_replace(raw, " +
      s"'$em', '<EMAIL>', 'g'), '$ip', '<IP>', 'g'), '$ph', '<PHONE>', 'g') AS red FROM R) " +
      "SELECT doc_id, " +
      s"CAST(len(regexp_extract_all(raw, '$em')) AS INT) AS n_emails, " +
      s"CAST(len(regexp_extract_all(raw, '$ip')) AS INT) AS n_ips, " +
      s"CAST(len(regexp_extract_all(raw, '$ph')) AS INT) AS n_phones, " +
      s"CAST(len(regexp_extract_all(red, '$em')) + len(regexp_extract_all(red, '$ip')) + " +
      s"len(regexp_extract_all(red, '$ph')) AS INT) AS residual_pii, " +
      "md5(red) AS redacted_fp FROM D ORDER BY doc_id"
    },
    "sample_stratified" ->
      ("WITH H AS (SELECT doc_id, source, md5('strat|' || CAST(doc_id AS VARCHAR)) AS h FROM documents), " +
       "R AS (SELECT doc_id, source, row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rk FROM H) " +
       "SELECT doc_id, source, CAST(rk AS BIGINT) AS rk FROM R WHERE rk <= 10 " +
       "ORDER BY source, rk"),
    // DuckDB list slicing w[a:b] is 1-based inclusive = Spark slice(w, a, k);
    // unnest(generate_series(...)) repeats the carried columns per element.
    // CDC chunking: the same md5-bucket boundary rule + prefix-sum chunk
    // assignment, per-chunk hash via ordered string_agg
    "text_chunks_cdc" -> cdcChunksSql,
    // chunk-level dedup: ONE hash groupBy over the CDC chunk table
    "dedup_cdc_chunks" ->
      (s"WITH CH AS ($cdcChunksSql) " +
      "SELECT chunk_hash, n_words, CAST(count(*) AS BIGINT) AS n_copies, " +
      "CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs, " +
      "min(doc_id) AS keeper_doc, " +
      "CAST((count(*) - 1) * n_words AS BIGINT) AS dup_words " +
      "FROM CH GROUP BY chunk_hash, n_words HAVING count(*) > 1 " +
      "ORDER BY n_copies DESC, chunk_hash"),
    "text_chunks" -> {
      val k = TextAnalysis.ChunkTokens
      s"WITH W AS (SELECT doc_id, string_split($docNorm, ' ') AS w FROM documents), " +
      s"C AS (SELECT doc_id, unnest(generate_series(0, CAST(ceil(len(w) / $k.0) AS INT) - 1)) AS i, w FROM W) " +
      s"SELECT doc_id, CAST(i AS INT) AS chunk_idx, " +
      s"array_to_string(w[i * $k + 1 : i * $k + $k], ' ') AS chunk, " +
      s"CAST(len(w[i * $k + 1 : i * $k + $k]) AS INT) AS n_tokens " +
      "FROM C ORDER BY doc_id, chunk_idx"
    },
    // overlap twin: window starts every ChunkStride, last covering start
    // = ceil((len-k)/stride) (clamped at 0 so short docs emit one chunk)
    "text_chunks_overlap" -> {
      val k = TextAnalysis.ChunkTokens
      val st = TextAnalysis.ChunkStride
      s"WITH W AS (SELECT doc_id, string_split($docNorm, ' ') AS w FROM documents), " +
      s"C AS (SELECT doc_id, unnest(generate_series(0, " +
      s"CAST(greatest(0, ceil((len(w) - $k) / $st.0)) AS INT))) AS i, w FROM W) " +
      s"SELECT doc_id, CAST(i AS INT) AS chunk_idx, " +
      s"array_to_string(w[i * $st + 1 : i * $st + $k], ' ') AS chunk, " +
      s"CAST(len(w[i * $st + 1 : i * $st + $k]) AS INT) AS n_tokens " +
      "FROM C ORDER BY doc_id, chunk_idx"
    },
    // epoch mixture: same two-hex-digit bucket parse as sample_mix; the
    // (whole, extra256) dim rows interpolate from epochFixture (one
    // derivation site); copies via a recursive CTE (DuckDB
    // generate_series rejects subquery bounds)
    "sample_epochs" -> {
      val maxCopyIdx = epochFixture.map { case (_, e) =>
        math.floor(e).toLong + (if (e % 1 > 0) 1L else 0L)
      }.max.max(1L) - 1L
      "WITH RECURSIVE B AS (SELECT doc_id, source, " +
      "md5(concat('epoch|', CAST(doc_id AS VARCHAR))) AS h FROM documents), " +
      "K AS (SELECT doc_id, source, (instr('0123456789abcdef', substr(h, 1, 1)) - 1) * 16 + " +
      "instr('0123456789abcdef', substr(h, 2, 1)) - 1 AS bucket FROM B), " +
      "D AS (SELECT k.doc_id, k.source, CAST(coalesce(W.whole, 1) + " +
      "CASE WHEN k.bucket < coalesce(W.extra256, 0) THEN 1 ELSE 0 END AS BIGINT) AS n_copies " +
      s"FROM K k LEFT JOIN $epochDimSql ON k.source = W.source), " +
      "C AS (SELECT CAST(0 AS BIGINT) AS copy_idx UNION ALL " +
      s"SELECT copy_idx + 1 FROM C WHERE copy_idx < $maxCopyIdx) " +
      "SELECT d.doc_id, d.source, c.copy_idx, d.n_copies " +
      "FROM D d JOIN C c ON c.copy_idx < d.n_copies " +
      "ORDER BY d.doc_id, c.copy_idx"
    },
    "sample_mix" ->
      ("WITH B AS (SELECT doc_id, source, md5(concat('mix|', CAST(doc_id AS VARCHAR))) AS h FROM documents), " +
       "K AS (SELECT doc_id, source, (instr('0123456789abcdef', substr(h, 1, 1)) - 1) * 16 + " +
       "instr('0123456789abcdef', substr(h, 2, 1)) - 1 AS bucket FROM B), " +
       "W AS (SELECT DISTINCT source, 64 * (1 + CAST(substr(source, 4) AS INT) % 4) AS keep_below FROM documents) " +
       "SELECT doc_id, k.source, CAST(w.keep_below AS INT) AS keep_below " +
       "FROM K k JOIN W w ON k.source = w.source WHERE k.bucket < w.keep_below " +
       "ORDER BY doc_id"),
    // temperature-scaled mixture: √n weights quantized to w6 longs,
    // exact-integer floor((w6·B) // Σw6) targets, md5-ranked keep prefix
    // per source — sqrt/round/div all bit-identical cross-engine
    "sample_mix_temperature" ->
      ("WITH C AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY source), " +
       "W AS (SELECT source, n_docs, CAST(round(sqrt(CAST(n_docs AS DOUBLE)) * 1000000.0) AS BIGINT) AS w6 FROM C), " +
       "T AS (SELECT CAST(sum(w6) AS BIGINT) AS wtot, CAST(sum(n_docs) AS BIGINT) AS ntot FROM W), " +
       "D AS (SELECT w.source, w.n_docs, w.w6, " +
       "CAST((CAST(w.w6 AS HUGEINT) * CAST(floor(t.ntot * 0.5) AS BIGINT)) // t.wtot AS BIGINT) AS target " +
       "FROM W w CROSS JOIN T t), " +
       "R AS (SELECT doc_id, source, md5(concat('tmix|', CAST(doc_id AS VARCHAR))) AS h FROM documents), " +
       "K AS (SELECT r.source, CAST(count(*) AS BIGINT) AS kept_docs FROM " +
       "(SELECT *, row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rk FROM R) r " +
       "JOIN D d ON d.source = r.source WHERE r.rk <= d.target GROUP BY r.source) " +
       "SELECT d.source, d.n_docs, d.w6, d.target, " +
       "CAST(coalesce(k.kept_docs, 0) AS BIGINT) AS kept_docs, " +
       "round(CAST(d.target AS DOUBLE) / d.n_docs, 4) AS rate " +
       "FROM D d LEFT JOIN K k ON k.source = d.source ORDER BY d.source"),
    // DSIR importance scores: the same 256-bucket md5 feature hash (instr
    // arithmetic), Laplace-smoothed ratio with IDENTICAL parenthesization,
    // ln quantized to a scaled long before the per-doc integer sum
    "sample_dsir" ->
      (s"WITH W AS (SELECT doc_id, source, string_split($docNorm, ' ') AS w FROM documents), " +
       "TK AS (SELECT doc_id, source, unnest(w) AS tok FROM W), " +
       "B AS (SELECT doc_id, source, (instr('0123456789abcdef', substr(md5(tok), 1, 1)) - 1) * 16 + " +
       "instr('0123456789abcdef', substr(md5(tok), 2, 1)) - 1 AS b FROM TK), " +
       "T AS (SELECT b, count(*) AS t_cnt FROM B WHERE source = 'src0' GROUP BY b), " +
       "R AS (SELECT b, count(*) AS r_cnt FROM B WHERE source <> 'src0' GROUP BY b), " +
       "NT AS (SELECT coalesce(sum(t_cnt), 0) AS nt FROM T), " +
       "NR AS (SELECT sum(r_cnt) AS nr FROM R), " +
       "LR AS (SELECT r.b, CAST(round(ln(" +
       "((coalesce(t.t_cnt, 0) + 1.0) / (nt + 256.0)) / " +
       "((r.r_cnt + 1.0) / (nr + 256.0))) * 1000000.0) AS BIGINT) AS lr6 " +
       "FROM R r LEFT JOIN T t ON r.b = t.b CROSS JOIN NT CROSS JOIN NR), " +
       "D AS (SELECT x.doc_id, count(*) AS n_tokens, sum(lr.lr6) AS s6 " +
       "FROM (SELECT doc_id, b FROM B WHERE source <> 'src0') x " +
       "JOIN LR lr ON x.b = lr.b GROUP BY 1) " +
       "SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, " +
       "round(CAST(s6 AS DOUBLE) / (1000000.0 * n_tokens), 4) AS dsir_score, " +
       "CAST(round(CAST(s6 AS DOUBLE) / (1000000.0 * n_tokens), 4) > 0.0 AS INT) AS keep " +
       "FROM D ORDER BY doc_id"),
    // token-budgeted mixture: integer quota arithmetic (div 256), source-
    // local running sums, crossing doc admitted
    "sample_token_budget" ->
      (s"WITH T AS (SELECT doc_id, source, CAST(len(string_split($docNorm, ' ')) AS BIGINT) AS n_tokens FROM documents), " +
       "S AS (SELECT source, sum(n_tokens) AS src_tokens FROM T GROUP BY source), " +
       "W AS (SELECT DISTINCT source, 64 * (1 + CAST(substr(source, 4) AS INT) % 4) AS keep_below FROM documents), " +
       "Q AS (SELECT s.source, CAST((w.keep_below * s.src_tokens) // 256 AS BIGINT) AS quota " +
       "FROM S s JOIN W w ON s.source = w.source), " +
       "C AS (SELECT t.doc_id, t.source, t.n_tokens, " +
       "sum(t.n_tokens) OVER (PARTITION BY t.source ORDER BY t.doc_id ROWS UNBOUNDED PRECEDING) AS cum_tokens, " +
       "q.quota FROM T t JOIN Q q ON t.source = q.source) " +
       "SELECT doc_id, source, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens, quota " +
       "FROM C WHERE cum_tokens - n_tokens < quota ORDER BY doc_id"),
    // the recipe composer: each stage's CTE mirrors its standalone row's
    // oracle verbatim (gate = text_quality_gate's quantile_cont pairing,
    // temperature = sample_mix_temperature's HUGEINT targets, epochs =
    // sample_epochs' (whole, extra256) interpolation + recursive copy_idx,
    // budget = sample_token_budget's integer quota / running sum) — the
    // composition is recomputed INDEPENDENTLY end-to-end
    // curriculum manifest: quartile cuts = k-th smallest difficulty
    // (duplicates counted, k = ceil(q*n) — the a14 convention the
    // engine's bisection lands on), stage = 1 + |{cuts < d}|
    "sample_curriculum" ->
      (s"WITH T AS (SELECT doc_id, source, " +
       s"CAST(len(string_split($docNorm, ' ')) AS BIGINT) AS n_tokens FROM documents), " +
       "R AS (SELECT n_tokens AS v, row_number() OVER (ORDER BY n_tokens) AS rn, " +
       "count(*) OVER () AS n FROM T), " +
       "C AS (SELECT " +
       "(SELECT min(v) FROM R WHERE rn >= ceil(0.25*n)) AS c1, " +
       "(SELECT min(v) FROM R WHERE rn >= ceil(0.5*n)) AS c2, " +
       "(SELECT min(v) FROM R WHERE rn >= ceil(0.75*n)) AS c3), " +
       "S AS (SELECT t.source, t.n_tokens, 1 + CAST(t.n_tokens > c.c1 AS INT) + " +
       "CAST(t.n_tokens > c.c2 AS INT) + CAST(t.n_tokens > c.c3 AS INT) AS stage " +
       "FROM T t, C c) " +
       "SELECT CAST(stage AS INT) AS stage, source, count(*) AS n_docs, " +
       "CAST(sum(n_tokens) AS BIGINT) AS sum_tokens, min(n_tokens) AS min_tokens, " +
       "max(n_tokens) AS max_tokens FROM S GROUP BY stage, source " +
       "ORDER BY stage, source"),
    "sample_recipe" -> {
      val maxCopyIdx = epochFixture.map { case (_, e) =>
        math.floor(e).toLong + (if (e % 1 > 0) 1L else 0L)
      }.max.max(1L) - 1L
      s"WITH RECURSIVE R AS (SELECT doc_id, source, " +
      s"round(CAST(len(list_filter(string_split($docNorm, ' '), " +
      "x -> list_contains(['the','a','and','of','to','in','is'], x))) AS DOUBLE) / " +
      s"CAST(len(string_split($docNorm, ' ')) AS DOUBLE), 4) AS stop_ratio, " +
      s"CAST(len(string_split($docNorm, ' ')) AS BIGINT) AS n_tokens, " +
      "md5(concat('tmix|', CAST(doc_id AS VARCHAR))) AS th, " +
      "(instr('0123456789abcdef', substr(md5(concat('epoch|', CAST(doc_id AS VARCHAR))), 1, 1)) - 1) * 16 + " +
      "instr('0123456789abcdef', substr(md5(concat('epoch|', CAST(doc_id AS VARCHAR))), 2, 1)) - 1 AS ebucket " +
      "FROM documents), " +
      "T AS (SELECT source, round(quantile_cont(stop_ratio, 0.25), 4) AS thr FROM R GROUP BY source), " +
      "G AS (SELECT r.* FROM R r JOIN T t USING (source) WHERE r.stop_ratio >= t.thr), " +
      "C AS (SELECT source, CAST(count(*) AS BIGINT) AS n_gated FROM G GROUP BY source), " +
      "WT AS (SELECT source, n_gated, CAST(round(sqrt(CAST(n_gated AS DOUBLE)) * 1000000.0) AS BIGINT) AS w6 FROM C), " +
      "TT AS (SELECT CAST(sum(w6) AS BIGINT) AS wtot, CAST(sum(n_gated) AS BIGINT) AS ntot FROM WT), " +
      "D AS (SELECT w.source, w.n_gated, w.w6, " +
      "CAST((CAST(w.w6 AS HUGEINT) * CAST(floor(t.ntot * 0.5) AS BIGINT)) // t.wtot AS BIGINT) AS target " +
      "FROM WT w CROSS JOIN TT t), " +
      "K AS (SELECT g.*, row_number() OVER (PARTITION BY g.source ORDER BY g.th, g.doc_id) AS rk FROM G g), " +
      "A AS (SELECT k.* FROM K k JOIN D d USING (source) WHERE k.rk <= d.target), " +
      s"E AS (SELECT a.*, CAST(coalesce(W.whole, 1) + " +
      "CASE WHEN a.ebucket < coalesce(W.extra256, 0) THEN 1 ELSE 0 END AS BIGINT) AS n_copies " +
      s"FROM A a LEFT JOIN $epochDimSql ON a.source = W.source), " +
      "CI AS (SELECT CAST(0 AS BIGINT) AS copy_idx UNION ALL " +
      s"SELECT copy_idx + 1 FROM CI WHERE copy_idx < $maxCopyIdx), " +
      "CP AS (SELECT e.doc_id, e.source, e.n_tokens, c.copy_idx " +
      "FROM E e JOIN CI c ON c.copy_idx < e.n_copies WHERE e.n_copies > 0), " +
      "KB AS (SELECT DISTINCT source, 64 * (1 + CAST(substr(source, 4) AS INT) % 4) AS keep_below FROM documents), " +
      "Q AS (SELECT s.source, CAST((kb.keep_below * s.src_tokens) // 256 AS BIGINT) AS quota " +
      "FROM (SELECT source, sum(n_tokens) AS src_tokens FROM CP GROUP BY source) s " +
      "JOIN KB kb USING (source)), " +
      "CU AS (SELECT cp.*, sum(cp.n_tokens) OVER (PARTITION BY cp.source " +
      "ORDER BY cp.doc_id, cp.copy_idx ROWS UNBOUNDED PRECEDING) AS cum FROM CP cp), " +
      "AD AS (SELECT cu.source, CAST(count(*) AS BIGINT) AS copies_admitted, " +
      "CAST(sum(cu.n_tokens) AS BIGINT) AS tokens_admitted " +
      "FROM CU cu JOIN Q q USING (source) WHERE cu.cum - cu.n_tokens < q.quota GROUP BY cu.source), " +
      "RAW AS (SELECT source, CAST(count(*) AS BIGINT) AS n_raw FROM R GROUP BY source), " +
      "KEPT AS (SELECT source, CAST(count(*) AS BIGINT) AS n_temp_kept FROM A GROUP BY source), " +
      "CPA AS (SELECT source, CAST(count(*) AS BIGINT) AS copies_total, " +
      "CAST(sum(n_tokens) AS BIGINT) AS tokens_pre_budget FROM CP GROUP BY source) " +
      "SELECT raw.source, raw.n_raw, t.thr, " +
      "CAST(coalesce(d.n_gated, 0) AS BIGINT) AS n_gated, " +
      "CAST(coalesce(d.w6, 0) AS BIGINT) AS w6, " +
      "CAST(coalesce(d.target, 0) AS BIGINT) AS target, " +
      "CAST(coalesce(kept.n_temp_kept, 0) AS BIGINT) AS n_temp_kept, " +
      "CAST(coalesce(W.whole, 1) AS BIGINT) AS epoch_whole, " +
      "CAST(coalesce(W.extra256, 0) AS INT) AS epoch_extra256, " +
      "CAST(coalesce(cpa.copies_total, 0) AS BIGINT) AS copies_total, " +
      "CAST(coalesce(cpa.tokens_pre_budget, 0) AS BIGINT) AS tokens_pre_budget, " +
      "CAST(kb.keep_below AS INT) AS keep_below, " +
      "CAST(coalesce(q.quota, 0) AS BIGINT) AS quota, " +
      "CAST(coalesce(ad.copies_admitted, 0) AS BIGINT) AS copies_admitted, " +
      "CAST(coalesce(ad.tokens_admitted, 0) AS BIGINT) AS tokens_admitted " +
      "FROM RAW raw JOIN T t USING (source) JOIN KB kb USING (source) " +
      "LEFT JOIN D d USING (source) LEFT JOIN KEPT kept USING (source) " +
      s"LEFT JOIN $epochDimSql ON raw.source = W.source " +
      "LEFT JOIN CPA cpa ON cpa.source = raw.source " +
      "LEFT JOIN Q q ON q.source = raw.source " +
      "LEFT JOIN AD ad ON ad.source = raw.source " +
      "ORDER BY raw.source"
    },
    // A-ES: same 13-hex-digit uniform, same rounded-key ranking
    "sample_weighted" -> {
      val denom = java.lang.Math.pow(16.0, 13)
      "WITH H AS (SELECT doc_id, source, md5(concat('wsample|', CAST(doc_id AS VARCHAR))) AS h FROM documents), " +
      "W AS (SELECT DISTINCT source, 64 * (1 + CAST(substr(source, 4) AS INT) % 4) AS keep_below FROM documents), " +
      "U AS (SELECT doc_id, h.source, CAST(w.keep_below AS DOUBLE) AS w, " +
      s"(${(1 to 13).map(i =>
        s"(instr('0123456789abcdef', substr(h.h, $i, 1)) - 1) * CAST(${java.lang.Math.pow(16.0, 13 - i).toLong} AS BIGINT)")
        .mkString(" + ")} + 0.5) / $denom AS u " +
      "FROM H h JOIN W w ON h.source = w.source) " +
      "SELECT doc_id, source, w, round(pow(u, 1.0 / w), 6) AS \"key\" FROM U " +
      "ORDER BY \"key\" DESC, doc_id LIMIT 50"
    },
    "a10_kmv_distinct" -> {
      val k = graft.ops.Sketches.DefaultK
      s"WITH H AS (SELECT DISTINCT l_returnflag AS g, md5(CAST(l_orderkey AS VARCHAR)) AS h FROM lineitem), " +
      "R AS (SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rk FROM H), " +
      s"K AS (SELECT g, max(h) AS kth, count(*) AS k_actual FROM R WHERE rk <= $k GROUP BY g), " +
      s"V AS (SELECT g, k_actual, (${graft.ops.Sketches.hexToLongSql("kth")}) AS v FROM K), " +
      "X AS (SELECT g, count(*) AS exact_distinct FROM H GROUP BY g) " +
      "SELECT v.g AS l_returnflag, CAST(v.k_actual AS BIGINT) AS k_actual, " +
      s"round(CASE WHEN v.k_actual < $k THEN CAST(v.k_actual AS DOUBLE) " +
      s"ELSE ${(k - 1).toDouble} / (CAST(v.v AS DOUBLE) / 4294967296.0) END, 4) AS est_distinct, " +
      "CAST(x.exact_distinct AS BIGINT) AS exact_distinct " +
      "FROM V v JOIN X x ON v.g = x.g ORDER BY l_returnflag"
    },
    // HLL: integer bit-length ladder for rho, register terms 2^(57-mb)
    // summed as HUGEINT (exact — a 256-term double sum would be
    // addition-order-dependent), one double division + the small-range
    // linear-counting branch, identically spelled
    "sketch_hll_distinct" -> hllDistinctOracle,
    // max-merge of per-batch partials == the one-shot sketch (max is
    // associative/idempotent) — the streaming twin shares the oracle
    "stream_hll_ingest" -> hllDistinctOracle,
    // KMV intersection: k smallest union hashes -> est(∪) = (k-1)/v_k,
    // est(∩) = (n_both/k)·est(∪) — pure md5-order functions, exact match
    "sketch_kmv_intersect" -> {
      val k = graft.ops.Sketches.DefaultK
      val frac = s"(CAST(${graft.ops.Sketches.hexToLongSql("s.kth")} AS DOUBLE) / 4294967296.0)"
      s"WITH W AS MATERIALIZED (SELECT source, string_split($docNorm, ' ') AS w " +
      "FROM documents WHERE source IN ('src1', 'src2')), " +
      "T AS MATERIALIZED (SELECT DISTINCT source, unnest(list_distinct(CASE WHEN len(w) >= 3 THEN " +
      "list_transform(range(len(w)-2), i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]) " +
      "ELSE [array_to_string(w, ' ')] END)) AS tok FROM W), " +
      "F AS MATERIALIZED (SELECT tok, max(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS in_a, " +
      "max(CASE WHEN source = 'src2' THEN 1 ELSE 0 END) AS in_b, md5(tok) AS h FROM T GROUP BY tok), " +
      s"K AS MATERIALIZED (SELECT * FROM F ORDER BY h LIMIT $k), " +
      "S AS (SELECT CAST(count(*) AS BIGINT) AS k_actual, max(h) AS kth, " +
      "CAST(sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_both FROM K), " +
      "X AS (SELECT CAST(count(*) AS BIGINT) AS exact_union, " +
      "CAST(sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS exact_intersect FROM F) " +
      "SELECT s.k_actual, s.n_both, " +
      s"round(CASE WHEN s.k_actual < $k THEN CAST(s.k_actual AS DOUBLE) " +
      s"ELSE ${(k - 1).toDouble} / $frac END, 4) AS est_union, " +
      s"round(CASE WHEN s.k_actual < $k THEN CAST(s.n_both AS DOUBLE) " +
      s"ELSE CAST(s.n_both AS DOUBLE) / ${k.toDouble} * (${(k - 1).toDouble} / $frac) END, 4) AS est_intersect, " +
      "x.exact_union, x.exact_intersect FROM S s, X x"
    },
    // F2 self-join size: CMS row inner products, min over depths; all
    // integer, so the match is exact
    "sketch_f2_selfjoin" -> {
      import graft.ops.Sketches.{CmsDepth, CmsWidth}
      "WITH C AS (SELECT CAST(user_id AS VARCHAR) AS term, " +
      "CAST(count(*) AS BIGINT) AS c FROM events GROUP BY term), " +
      s"E AS (SELECT term, c, unnest(range($CmsDepth)) AS d FROM C), " +
      "M AS (SELECT term, c, d, md5(CAST(d AS VARCHAR) || '|' || term) AS m FROM E), " +
      s"B AS (SELECT c, d, (${graft.ops.Sketches.hexToLongSql("m")}) % $CmsWidth AS bucket FROM M), " +
      "SK AS (SELECT d, bucket, CAST(sum(c) AS BIGINT) AS bcnt FROM B GROUP BY d, bucket), " +
      "EST AS (SELECT min(s2) AS est_f2 FROM " +
      "(SELECT d, sum(bcnt * bcnt) AS s2 FROM SK GROUP BY d)), " +
      "EX AS (SELECT CAST(sum(c * c) AS BIGINT) AS exact_f2 FROM C) " +
      "SELECT CAST(est_f2 AS BIGINT) AS est_f2, exact_f2, " +
      "CAST(est_f2 - exact_f2 AS BIGINT) AS overcount FROM EST, EX"
    },
    // two-relation join cardinality: inner product of the two sketches'
    // rows, min over depths; all integer
    "sketch_join_card" -> {
      import graft.ops.Sketches.{CmsDepth, CmsWidth}
      "WITH CA AS (SELECT CAST(user_id AS VARCHAR) AS term, CAST(count(*) AS BIGINT) AS c " +
      "FROM events WHERE event_type = 'view' GROUP BY term), " +
      "CB AS (SELECT CAST(user_id AS VARCHAR) AS term, CAST(count(*) AS BIGINT) AS c " +
      "FROM events WHERE event_type = 'purchase' GROUP BY term), " +
      s"EA AS (SELECT term, c, unnest(range($CmsDepth)) AS d FROM CA), " +
      "MA AS (SELECT term, c, d, md5(CAST(d AS VARCHAR) || '|' || term) AS m FROM EA), " +
      s"BA AS (SELECT c, d, (${graft.ops.Sketches.hexToLongSql("m")}) % $CmsWidth AS bucket FROM MA), " +
      "SKA AS (SELECT d, bucket, CAST(sum(c) AS BIGINT) AS bcnt FROM BA GROUP BY d, bucket), " +
      s"EB AS (SELECT term, c, unnest(range($CmsDepth)) AS d FROM CB), " +
      "MB AS (SELECT term, c, d, md5(CAST(d AS VARCHAR) || '|' || term) AS m FROM EB), " +
      s"BB AS (SELECT c, d, (${graft.ops.Sketches.hexToLongSql("m")}) % $CmsWidth AS bucket FROM MB), " +
      "SKB AS (SELECT d, bucket, CAST(sum(c) AS BIGINT) AS bcnt FROM BB GROUP BY d, bucket), " +
      "J AS (SELECT a.d, sum(a.bcnt * b.bcnt) AS e FROM SKA a " +
      "JOIN SKB b ON a.d = b.d AND a.bucket = b.bucket GROUP BY a.d), " +
      "EST AS (SELECT min(e) AS est_join FROM J), " +
      "EX AS (SELECT CAST(coalesce(sum(a.c * b.c), 0) AS BIGINT) AS exact_join " +
      "FROM CA a JOIN CB b ON a.term = b.term) " +
      "SELECT CAST(est_join AS BIGINT) AS est_join, exact_join, " +
      "CAST(est_join - exact_join AS BIGINT) AS overcount FROM EST, EX"
    },
    // CMS heavy-hitter audit: sketch built from term counts (identical to
    // the occurrence-built sketch), est = min over depth rows
    // integer threshold: DuckDB // is floor division on integers, matching
    // the engine's Long division n/(k+1)
    "sketch_mg_heavy" ->
      (s"WITH T AS (SELECT unnest(string_split($docNorm, ' ')) AS term FROM documents), " +
       "C AS (SELECT term, CAST(count(*) AS BIGINT) AS n_exact FROM T WHERE term <> '' GROUP BY term), " +
       "N AS (SELECT CAST(sum(n_exact) AS BIGINT) AS n FROM C) " +
       s"SELECT term, n_exact FROM C, N WHERE n_exact > n // ${graft.ops.Sketches.MgK + 1} " +
       "ORDER BY n_exact DESC, term"),
    "sketch_cms_topterms" -> {
      import graft.ops.Sketches.{CmsDepth, CmsWidth}
      s"WITH WD AS (SELECT unnest(string_split($docNorm, ' ')) AS term FROM documents), " +
      "TC AS (SELECT term, CAST(count(*) AS BIGINT) AS n_exact FROM WD WHERE term <> '' GROUP BY term), " +
      s"E AS (SELECT term, n_exact, unnest(range($CmsDepth)) AS d FROM TC), " +
      "M AS (SELECT term, n_exact, d, md5(CAST(d AS VARCHAR) || '|' || term) AS m FROM E), " +
      s"B AS (SELECT term, n_exact, d, (${graft.ops.Sketches.hexToLongSql("m")}) % $CmsWidth AS bucket FROM M), " +
      "SK AS (SELECT d, bucket, CAST(sum(n_exact) AS BIGINT) AS bcnt FROM B GROUP BY d, bucket), " +
      "TOP AS (SELECT term FROM TC ORDER BY n_exact DESC, term LIMIT 20), " +
      "J AS (SELECT b.term, b.n_exact, min(s.bcnt) AS n_est FROM B b " +
      "SEMI JOIN TOP USING (term) " +
      "JOIN SK s ON b.d = s.d AND b.bucket = s.bucket GROUP BY b.term, b.n_exact) " +
      "SELECT term, n_exact, CAST(n_est AS BIGINT) AS n_est, " +
      "CAST(n_est - n_exact AS BIGINT) AS overcount FROM J ORDER BY n_exact DESC, term"
    },
    // sequence packing: md5-bucket shard (same instr arithmetic as
    // sample_split), per-(lang,shard) prefix sums, floor/mod slotting
    "pack_sequences" -> {
      val b = graft.ops.Packing.SeqTokens
      val sh = graft.ops.Packing.Shards
      s"WITH H AS (SELECT doc_id, lang, md5(concat('pack|', CAST(doc_id AS VARCHAR))) AS h, " +
      s"CAST(len(string_split($docNorm, ' ')) AS BIGINT) AS n_tokens FROM documents), " +
      "T AS (SELECT doc_id, lang, n_tokens, ((instr('0123456789abcdef', substr(h, 1, 1)) - 1) * 16 + " +
      s"instr('0123456789abcdef', substr(h, 2, 1)) - 1) % $sh AS shard FROM H), " +
      "C AS (SELECT *, coalesce(sum(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before FROM T) " +
      "SELECT doc_id, lang, CAST(shard AS BIGINT) AS shard, n_tokens, " +
      s"CAST(floor(cum_before / $b.0) AS BIGINT) AS seq_id, " +
      s"CAST(cum_before % $b AS BIGINT) AS seq_offset FROM C ORDER BY doc_id"
    },
    // staged pack: the curriculum quartile cuts (a14 k = ceil(q*n)
    // convention) + the pack prefix sum keyed (stage, shard)
    "pack_curriculum" -> {
      val b = graft.ops.Packing.SeqTokens
      val sh = graft.ops.Packing.Shards
      s"WITH H AS (SELECT doc_id, md5(concat('pack|', CAST(doc_id AS VARCHAR))) AS h, " +
      s"CAST(len(string_split($docNorm, ' ')) AS BIGINT) AS n_tokens FROM documents), " +
      "T AS (SELECT doc_id, n_tokens, ((instr('0123456789abcdef', substr(h, 1, 1)) - 1) * 16 + " +
      s"instr('0123456789abcdef', substr(h, 2, 1)) - 1) % $sh AS shard FROM H), " +
      "RS AS (SELECT n_tokens AS v, row_number() OVER (ORDER BY n_tokens) AS rn, " +
      "count(*) OVER () AS n FROM T), " +
      "CU AS (SELECT (SELECT min(v) FROM RS WHERE rn >= ceil(0.25*n)) AS c1, " +
      "(SELECT min(v) FROM RS WHERE rn >= ceil(0.5*n)) AS c2, " +
      "(SELECT min(v) FROM RS WHERE rn >= ceil(0.75*n)) AS c3), " +
      "S AS (SELECT t.doc_id, t.n_tokens, t.shard, 1 + CAST(t.n_tokens > c.c1 AS INT) + " +
      "CAST(t.n_tokens > c.c2 AS INT) + CAST(t.n_tokens > c.c3 AS INT) AS stage FROM T t, CU c), " +
      "C AS (SELECT *, coalesce(sum(n_tokens) OVER (PARTITION BY stage, shard ORDER BY doc_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before FROM S) " +
      "SELECT doc_id, CAST(stage AS INT) AS stage, CAST(shard AS BIGINT) AS shard, n_tokens, " +
      s"CAST(floor(cum_before / $b.0) AS BIGINT) AS seq_id, " +
      s"CAST(cum_before % $b AS BIGINT) AS seq_offset FROM C ORDER BY doc_id"
    },
    "pack_stats" -> {
      val b = graft.ops.Packing.SeqTokens
      val sh = graft.ops.Packing.Shards
      s"WITH H AS (SELECT doc_id, lang, md5(concat('pack|', CAST(doc_id AS VARCHAR))) AS h, " +
      s"CAST(len(string_split($docNorm, ' ')) AS BIGINT) AS n_tokens FROM documents), " +
      "T AS (SELECT doc_id, lang, n_tokens, ((instr('0123456789abcdef', substr(h, 1, 1)) - 1) * 16 + " +
      s"instr('0123456789abcdef', substr(h, 2, 1)) - 1) % $sh AS shard FROM H), " +
      "G AS (SELECT lang, CAST(shard AS BIGINT) AS shard, CAST(count(*) AS BIGINT) AS n_docs, " +
      "CAST(sum(n_tokens) AS BIGINT) AS total_tokens, " +
      s"CAST(ceil(sum(n_tokens) / $b.0) AS BIGINT) AS n_sequences FROM T GROUP BY lang, shard) " +
      s"SELECT lang, shard, n_docs, total_tokens, n_sequences, " +
      s"CAST(n_sequences * $b - total_tokens AS BIGINT) AS pad_tokens FROM G ORDER BY lang, shard"
    },
    // BM25: tf per query term from the normalized word list, corpus stats
    // in one row, Lucene-form idf; round(…,4) + doc_id tie-break makes the
    // ln/division ulp-stable across engines
  )
}
