package graft.entry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.IndelRatio
import graft.model.Tables
import graft.ops._

/** ANN / similarity search: brute-force, LSH, IVF ladder (flat/PQ/residual/SQ8), filtered ANN, lifecycle.
  * Rows split verbatim from SparkEntry (round 17); composed back in
  * [[graft.SparkEntry.queries]] / [[graft.SparkEntry.oracleSql]]. */
object AnnEntry {
  import EntryFixtures._
  import OracleCtes._

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_topk_bruteforce" -> ((s, d) => Similarity.bruteForceTopK(Tables.embeddings(s, d))),
    // MMR diversified top-k: corpus-sized work is ONE shortlist ranking;
    // the greedy runs on the candidate-capped (30² pair-sim) frame with
    // every comparison on 6-decimal-rounded cosines — the oracle unrolls
    // the same greedy step by step
    "sim_mmr_rerank" -> ((s, d) => Similarity.mmrRerank(Tables.embeddings(s, d))),
    "sim_near_dup" -> ((s, d) => Similarity.nearDupPairs(Tables.embeddings(s, d))),
    "sim_ann_lsh" -> ((s, d) => Similarity.annTopK(Tables.embeddings(s, d))),
    // contrastive-training curation: per-query top-k in-bucket NEAR
    // MISSES (below the positive threshold) — hard negatives
    "sim_hard_negatives" -> ((s, d) => Similarity.hardNegatives(Tables.embeddings(s, d))),
    "sim_ann_multiprobe" -> ((s, d) => Similarity.annMultiProbeTopK(Tables.embeddings(s, d))),
    "sim_ann_ivf" -> ((s, d) => Similarity.annIvfTopK(Tables.embeddings(s, d))),
    // IVF with a TRAINED coarse quantizer (label-seeded integer-space
    // centroids), nprobe=2 — the production tuning lever the fixed
    // lattice lacks; cells + probes + cut all engine-reproducible
    "sim_ann_ivf_trained" -> ((s, d) => Similarity.annIvfTrainedTopK(Tables.embeddings(s, d))),
    // recall@k of the trained-IVF path vs brute force — prices nprobe
    // pruning the way sim_ann_recall prices bucket pruning
    "sim_ann_ivf_trained_recall" -> ((s, d) => Similarity.annIvfTrainedRecall(Tables.embeddings(s, d))),
    // the materialized inverted lists: cell-partitioned index built once,
    // probes DPP-prune the candidate read to the probed cells — same
    // result as sim_ann_ivf_trained, corpus never re-assigned at query
    "sim_ann_ivf_indexed" -> ((s, d) => {
      val wh = java.nio.file.Files.createTempDirectory("graft-ivf-idx")
        .toFile.getAbsolutePath
      s.sql(s"CREATE DATABASE IF NOT EXISTS graft_idx LOCATION '$wh'")
      Similarity.buildIvfIndex(Tables.embeddings(s, d), "graft_idx.ivf")
      Similarity.annIvfIndexedTopK(s, "graft_idx.ivf")
    }),
    // frozen-quantizer incremental ingest: base build on 80%, the rest
    // delta-ingested against the STORED centroids (corpus never re-read),
    // then the same index-served query — the bm25_index_delta discipline
    // for ANN
    "sim_ann_ivf_index_delta" -> ((s, d) => {
      val wh = java.nio.file.Files.createTempDirectory("graft-ivf-delta")
        .toFile.getAbsolutePath
      s.sql(s"CREATE DATABASE IF NOT EXISTS graft_idx LOCATION '$wh'")
      val emb = Tables.embeddings(s, d)
      Similarity.buildIvfIndex(emb.filter(col("vec_id") % 5 =!= 0), "graft_idx.ivfd")
      Similarity.ivfIndexDelta("graft_idx.ivfd", emb.filter(col("vec_id") % 5 === 0))
      Similarity.annIvfIndexedTopK(s, "graft_idx.ivfd")
    }),
    // index-lifecycle capstone: build -> delta ingest -> COMPACT (cell
    // partitions rewritten to one file each, guard bloom collapsed; the
    // frozen quantizer untouched) -> query. Same oracle as the delta row:
    // compaction is layout-only and must not move a single result
    "sim_ann_ivf_index_compact" -> ((s, d) => {
      val wh = java.nio.file.Files.createTempDirectory("graft-ivf-compact")
        .toFile.getAbsolutePath
      s.sql(s"CREATE DATABASE IF NOT EXISTS graft_idx LOCATION '$wh'")
      val emb = Tables.embeddings(s, d)
      Similarity.buildIvfIndex(emb.filter(col("vec_id") % 5 =!= 0), "graft_idx.ivfc")
      Similarity.ivfIndexDelta("graft_idx.ivfc", emb.filter(col("vec_id") % 5 === 0))
      Similarity.compactIvfIndex(s, "graft_idx.ivfc")
      Similarity.annIvfIndexedTopK(s, "graft_idx.ivfc")
    }),
    // DELETION from the standing lists — the tombstone lifecycle
    // (takedown/right-to-erasure at 100 TB cannot be a rebuild): delete
    // appends the victim vec_ids to a broadcast-sized sidecar, the probe
    // anti-joins it (DPP cell pruning untouched), and compaction folds
    // the victims away physically. Victims = every 7th vector outside
    // the fixture query anchors; the quantizer stays frozen on the FULL
    // corpus (build-then-delete), so the oracle trains C on everything
    // and excludes the victims from candidates only
    "sim_ann_ivf_index_delete" -> ((s, d) => {
      val wh = java.nio.file.Files.createTempDirectory("graft-ivf-del")
        .toFile.getAbsolutePath
      s.sql(s"CREATE DATABASE IF NOT EXISTS graft_idx LOCATION '$wh'")
      val emb = Tables.embeddings(s, d)
      Similarity.buildIvfIndex(emb, "graft_idx.ivfdel")
      Similarity.ivfIndexDelete("graft_idx.ivfdel",
        emb.filter(col("vec_id") % 7 === 3 && col("vec_id") >= 8)
          .select(col("vec_id")))
      Similarity.annIvfIndexedTopK(s, "graft_idx.ivfdel")
    }),
    // full-CRUD IVF capstone: frozen-quantizer build on 80% -> delta
    // 20% -> delete every 7th non-anchor vector (victims span both
    // generations) -> compact (folds delta files AND tombstones, guard
    // to one bloom) -> query; the quantizer stays frozen on the base
    // split throughout, so the oracle trains C on the base and excludes
    // victims from candidates only
    "sim_ann_ivf_lifecycle" -> ((s, d) => {
      val wh = java.nio.file.Files.createTempDirectory("graft-ivf-life")
        .toFile.getAbsolutePath
      s.sql(s"CREATE DATABASE IF NOT EXISTS graft_idx LOCATION '$wh'")
      val emb = Tables.embeddings(s, d)
      Similarity.buildIvfIndex(emb.filter(col("vec_id") % 5 =!= 0),
        "graft_idx.ivflife")
      Similarity.ivfIndexDelta("graft_idx.ivflife",
        emb.filter(col("vec_id") % 5 === 0))
      Similarity.ivfIndexDelete("graft_idx.ivflife",
        emb.filter(col("vec_id") % 7 === 3 && col("vec_id") >= 8)
          .select(col("vec_id")))
      Similarity.compactIvfIndex(s, "graft_idx.ivflife")
      Similarity.annIvfIndexedTopK(s, "graft_idx.ivflife")
    }),
    // ATTRIBUTE-FILTERED ANN — the production retrieval shape ("nearest
    // within label = 3"): the lists carry the attribute column, the
    // predicate is PUSHED into the DPP-pruned candidate scan
    // (pre-filter), and within the probed cells the result is exact
    // under the predicate. ~10% selectivity at the fixture's 10 labels
    "sim_ann_filtered" -> ((s, d) => {
      val wh = java.nio.file.Files.createTempDirectory("graft-ivf-filt")
        .toFile.getAbsolutePath
      s.sql(s"CREATE DATABASE IF NOT EXISTS graft_idx LOCATION '$wh'")
      Similarity.buildIvfIndex(Tables.embeddings(s, d), "graft_idx.ivff")
      Similarity.annIvfFilteredTopK(s, "graft_idx.ivff", col("label") === 3,
        FiltNQ, FiltK, FiltNprobe)
    }),
    // the pre-vs-post adjudication, measured: recall@k of BOTH filtered
    // probe modes against the exact filtered brute force — pre-filter
    // ranks the predicate's survivors, post-filter cuts a widened
    // UNFILTERED shortlist first and loses whatever the cut starved out
    // (the recorded reason pre-filter is the default; BASELINE.md r15)
    // served from the warm standing IVF index (r17): the adjudication is
    // read-only and the flat build is already priced by sim_ann_ivf_indexed
    "sim_ann_filtered_recall" -> ((s, d) =>
      Similarity.annFilteredRecall(s, WarmIndex.ivf(s, d),
        Tables.embeddings(s, d),
        col("label") === 3, FiltNQ, FiltK, FiltNprobe, FiltWiden)),
    // ATTRIBUTE-FILTERED FUSED (IVF-PQ) ANN — the 100 TB filtered query
    // actually runs against the compressed rungs: the predicate applies
    // to the codes-only DPP-pruned scan BEFORE the lossy ADC shortlist
    // cut, so the shortlist competes among survivors only and needs no
    // 1/selectivity correction (the post-filter trade the fused recall
    // row measures)
    // warm standing PQ index (r17): read-only probe, build priced by
    // sim_ann_ivfpq_indexed
    "sim_ann_filtered_fused" -> ((s, d) =>
      Similarity.annIvfPqFilteredTopK(s, WarmIndex.ivfPq(s, d),
        col("label") === 3, FiltNQ, FiltK, FiltNprobe)),
    // the SQ8 rung's filtered probe — same contract at 8× compression
    // warm standing SQ8 index (r17): build priced by sim_ann_ivfsq_indexed
    "sim_ann_filtered_sq" -> ((s, d) =>
      Similarity.annIvfSqFilteredTopK(s, WarmIndex.ivfSq(s, d),
        col("label") === 3, FiltNQ, FiltK, FiltNprobe)),
    // PER-QUERY label-matched ANN — the multi-tenant shape a global
    // predicate can't express: each fixture query retrieves within its
    // OWN label, the constraint a broadcast join condition above the
    // DPP-pruned scan (no shuffle, no per-query scan)
    // warm standing IVF index (r17): build priced by sim_ann_ivf_indexed
    "sim_ann_label_matched" -> ((s, d) =>
      Similarity.annIvfLabelMatchedTopK(s, WarmIndex.ivf(s, d),
        FiltNQ, FiltK, FiltNprobe)),
    // query-only filtered twin off the warm standing IVF index: the
    // benched number is the filtered DPP-pruned probe + rescore alone
    // (the bm25_query regime separation for the filtered family — a
    // filtered-probe plan regression can't hide in build noise). Same
    // oracle as the build+query filtered row
    "sim_ann_filtered_query" -> ((s, d) =>
      Similarity.annIvfFilteredTopK(s, WarmIndex.ivf(s, d),
        col("label") === 3, FiltNQ, FiltK, FiltNprobe)),
    // the residual (IVFADC) rung's filtered probe — completes the
    // filtered contract across the WHOLE compression ladder (raw / SQ8
    // / PQ / residual-PQ): predicate before the per-cell-rebased ADC
    // shortlist cut
    // warm standing residual index (r17): build priced by
    // sim_ann_ivfpq_residual
    "sim_ann_filtered_residual" -> ((s, d) =>
      Similarity.annIvfPqResidualFilteredTopK(s, WarmIndex.ivfPqResidual(s, d),
        col("label") === 3, FiltNQ, FiltK, FiltNprobe)),
    // the measured recall-vs-SELECTIVITY sweep on the fused rung (the
    // nprobe-sweep methodology applied to the filtered knob): pre/post
    // recall at ~10% and ~3.3% selectivity — the number that prices the
    // post-mode's 1/selectivity widen requirement instead of asserting it
    // served from the standing warm PQ index (read-only, like the other
    // sweep/autotune rows): the sweep is a per-generation tuning
    // diagnostic, not a build capstone — build cost is already priced by
    // sim_ann_ivfpq_indexed, and rebuilding a private index per call
    // tripled the row for no added coverage (r17)
    "sim_ann_filtered_selectivity" -> ((s, d) =>
      Similarity.annFusedFilteredSelectivitySweep(s, WarmIndex.ivfPq(s, d),
        Tables.embeddings(s, d), filtSweep.map { case (tag, p, _) => (tag, p) },
        FiltNQ, FiltK, FiltNprobe, FiltWiden)),
    // the fused pre-vs-post adjudication, measured: on the compressed
    // rung BOTH lossy cuts (ADC shortlist + widened rank cut) precede
    // the predicate in post mode, so its recall collapses with
    // selectivity unless widen and shortlist scale by ~1/selectivity —
    // pre mode filters before the cut and needs neither
    // warm standing PQ index (r17): the adjudication is read-only, build
    // priced by sim_ann_ivfpq_indexed
    "sim_ann_filtered_fused_recall" -> ((s, d) =>
      Similarity.annFusedFilteredRecall(s, WarmIndex.ivfPq(s, d),
        Tables.embeddings(s, d),
        col("label") === 3, FiltNQ, FiltK, FiltNprobe, FiltWiden)),
    // the PQ-FUSED index: inverted lists carry per-vector PQ codes, the
    // probe scores candidates in the compressed domain (ADC lookup table
    // + 8 code lookups per candidate, v never read in the scan) and only
    // the shortlist survivors are rescored on raw vectors — the
    // composition that makes 100 TB ANN IO-feasible
    "sim_ann_ivfpq_indexed" -> ((s, d) => {
      val wh = java.nio.file.Files.createTempDirectory("graft-ivfpq-idx")
        .toFile.getAbsolutePath
      s.sql(s"CREATE DATABASE IF NOT EXISTS graft_idx LOCATION '$wh'")
      Similarity.buildIvfIndex(Tables.embeddings(s, d), "graft_idx.ivfpq",
        Similarity.Codec.Pq)
      Similarity.annIvfPqIndexedTopK(s, "graft_idx.ivfpq")
    }),
    // fused-index incremental ingest: base build freezes BOTH quantizers
    // (coarse cells + PQ codebook); the delta is assigned AND encoded
    // against the stored artifacts, appended into the cell partitions,
    // then the same ADC-shortlist-rescore query serves the merged lists
    "sim_ann_ivfpq_index_delta" -> ((s, d) => {
      val wh = java.nio.file.Files.createTempDirectory("graft-ivfpq-delta")
        .toFile.getAbsolutePath
      s.sql(s"CREATE DATABASE IF NOT EXISTS graft_idx LOCATION '$wh'")
      val emb = Tables.embeddings(s, d)
      Similarity.buildIvfIndex(emb.filter(col("vec_id") % 5 =!= 0),
        "graft_idx.ivfpqd", Similarity.Codec.Pq)
      Similarity.ivfIndexDelta("graft_idx.ivfpqd",
        emb.filter(col("vec_id") % 5 === 0))
      Similarity.annIvfPqIndexedTopK(s, "graft_idx.ivfpqd")
    }),
    // SCALAR-quantized (SQ8) IVF index — the middle rung of the ANN
    // compression ladder (raw 1× / SQ8 8× / PQ 32×): every dim
    // compresses to a byte-range code against a per-dim trained
    // [min, max]; candidates are scored on exact-integer dequantized
    // codes (sq read instead of v), shortlist rescored on raw vectors
    "sim_ann_ivfsq_indexed" -> ((s, d) => {
      val wh = java.nio.file.Files.createTempDirectory("graft-ivfsq-idx")
        .toFile.getAbsolutePath
      s.sql(s"CREATE DATABASE IF NOT EXISTS graft_idx LOCATION '$wh'")
      Similarity.buildIvfIndex(Tables.embeddings(s, d), "graft_idx.ivfsq",
        Similarity.Codec.Sq8)
      Similarity.annIvfSqIndexedTopK(s, "graft_idx.ivfsq")
    }),
    // SQ8 incremental ingest: delta assigned against the stored
    // centroids and coded against the stored [min, max] trainer
    // (out-of-range delta values saturate to the byte boundaries).
    // Oracle-only: cost shape already priced by the indexed row
    "sim_ann_ivfsq_index_delta" -> ((s, d) => {
      val wh = java.nio.file.Files.createTempDirectory("graft-ivfsq-delta")
        .toFile.getAbsolutePath
      s.sql(s"CREATE DATABASE IF NOT EXISTS graft_idx LOCATION '$wh'")
      val emb = Tables.embeddings(s, d)
      Similarity.buildIvfIndex(emb.filter(col("vec_id") % 5 =!= 0),
        "graft_idx.ivfsqd", Similarity.Codec.Sq8)
      Similarity.ivfIndexDelta("graft_idx.ivfsqd",
        emb.filter(col("vec_id") % 5 === 0))
      Similarity.annIvfSqIndexedTopK(s, "graft_idx.ivfsqd")
    }),
    // RESIDUAL-encoded fused index (IVFADC, Jégou et al. TPAMI 2011):
    // PQ encodes r = x − centroid(cell(x)) instead of x — the coarse
    // quantizer already explains cell geometry, so the same 8 codes
    // describe the tighter residual distribution; the ADC lookup table
    // rebases per probed cell (qid, cell, sub, code). Same table
    // layout, same codes-only candidate scan
    "sim_ann_ivfpq_residual" -> ((s, d) => {
      val wh = java.nio.file.Files.createTempDirectory("graft-ivfpqr-idx")
        .toFile.getAbsolutePath
      s.sql(s"CREATE DATABASE IF NOT EXISTS graft_idx LOCATION '$wh'")
      Similarity.buildIvfIndex(Tables.embeddings(s, d),
        "graft_idx.ivfpqr", Similarity.Codec.PqResidual)
      Similarity.annIvfPqResidualTopK(s, "graft_idx.ivfpqr")
    }),
    // residual-index incremental ingest: the delta is assigned AND
    // residual-encoded against the stored artifacts (ivfIndexDelta
    // encodes under the stored codec's provenance — mixing encodings
    // would silently mis-score every ADC candidate). Oracle-only (not
    // benched): its cost shape is already priced by the
    // sim_ann_ivfpq_index_delta and sim_ann_ivfpq_residual rows
    "sim_ann_ivfpq_residual_delta" -> ((s, d) => {
      val wh = java.nio.file.Files.createTempDirectory("graft-ivfpqr-delta")
        .toFile.getAbsolutePath
      s.sql(s"CREATE DATABASE IF NOT EXISTS graft_idx LOCATION '$wh'")
      val emb = Tables.embeddings(s, d)
      Similarity.buildIvfIndex(emb.filter(col("vec_id") % 5 =!= 0),
        "graft_idx.ivfpqrd", Similarity.Codec.PqResidual)
      Similarity.ivfIndexDelta("graft_idx.ivfpqrd",
        emb.filter(col("vec_id") % 5 === 0))
      Similarity.annIvfPqResidualTopK(s, "graft_idx.ivfpqrd")
    }),
    // QUERY-ONLY twins: the same index-served queries off a
    // session-prebuilt standing index (WarmIndex, the q15 warm-view
    // precedent) — the build runs once per JVM, so these rows time
    // probe + ADC + rescore alone; a query-path plan regression can no
    // longer hide inside build-cost noise. Same oracles as the
    // build+query rows (the result must not depend on who built)
    "sim_ann_ivf_query" -> ((s, d) =>
      Similarity.annIvfIndexedTopK(s, WarmIndex.ivf(s, d))),
    // MMR served from the STANDING index: shortlist = DPP-pruned probed
    // cells (the 100 TB form — never a corpus-wide ranking), greedy
    // byte-identical to the scan form's
    "sim_mmr_query" -> ((s, d) =>
      Similarity.mmrRerankIndexed(s, WarmIndex.ivf(s, d))),
    "sim_ann_ivfpq_query" -> ((s, d) =>
      Similarity.annIvfPqIndexedTopK(s, WarmIndex.ivfPq(s, d))),
    "sim_ann_ivfsq_query" -> ((s, d) =>
      Similarity.annIvfSqIndexedTopK(s, WarmIndex.ivfSq(s, d))),
    "sim_ann_ivfpqr_query" -> ((s, d) =>
      Similarity.annIvfPqResidualTopK(s, WarmIndex.ivfPqResidual(s, d))),
    // probe-bounded cosine RANGE search off the standing index: every
    // probed-cell candidate at exact cos >= t survives (no heap cut, no
    // lossy ADC prefilter — a range query can't tolerate silent drops);
    // the indexed counterpart of sim_near_dup's blocked pair listing
    "sim_ann_range_search" -> ((s, d) =>
      Similarity.annIvfRangeSearch(s, WarmIndex.ivf(s, d))),
    // standing-index maintenance stats: inverted-list size distribution
    // + the max/avg imbalance factor (the probe-skew predictor a
    // maintenance job reads before scheduling retrain/splits)
    "sim_ann_index_stats" -> ((s, d) =>
      Similarity.annIvfIndexStats(s, WarmIndex.ivf(s, d))),
    // nprobe/recall sensitivity sweep across the compression ladder
    // (the dedup_threshold_sweep pattern): recall@3 vs the brute-force
    // truth for nprobe in {1,2,4,8} x {pq, residual, sq8}, all served
    // from the session-prebuilt standing indexes at the DERIVED
    // shortlist = ShortlistPerProbe x nprobe defaults — recall is
    // monotone in nprobe on every rung (the r13 fixed-shortlist
    // dilution is codified away; spec-asserted). Oracle-only: 12 ADC
    // query plans; the per-rung cost shape is already priced by the
    // *_indexed and *_query rows
    "sim_ann_nprobe_sweep" -> ((s, d) =>
      Similarity.annNprobeSweep(s, Tables.embeddings(s, d),
        WarmIndex.ivfPq(s, d), WarmIndex.ivfPqResidual(s, d),
        WarmIndex.ivfSq(s, d))),
    // the sweep turned into a DECISION: per rung the cheapest
    // (shortlist, nprobe) grid point meeting the recall target — base
    // nprobe sweep first, then shortlist escalation at the widest probe
    // (r17: raw PQ met=false at the fixed rule became nprobe 8 × slpp
    // 10, recall 0.75 — every rung now meets the target; sq8 still wins
    // at nprobe 4 on the base rule, residual at nprobe 8)
    "sim_ann_nprobe_autotune" -> ((s, d) =>
      Similarity.annNprobeAutoTune(s, Tables.embeddings(s, d),
        WarmIndex.ivfPq(s, d), WarmIndex.ivfPqResidual(s, d),
        WarmIndex.ivfSq(s, d), target = NprobeTarget)),
    // EXTERNAL-query-vector entry points: query vectors arrive as a
    // caller-supplied (qid, v) frame — the 100 TB shape — instead of the
    // fixture's point-scan of the standing index; rows must be identical
    // to the fixture form for identical vectors (same oracle)
    "sim_ann_ivf_external" -> ((s, d) =>
      Similarity.annIvfIndexedTopK(s, WarmIndex.ivf(s, d),
        Tables.embeddings(s, d).filter(col("vec_id") < 8)
          .select(col("vec_id").as("qid"), col("embedding").as("v")),
        3, 2)),
    "sim_ann_ivfpq_external" -> ((s, d) =>
      Similarity.annIvfPqIndexedTopK(s, WarmIndex.ivfPq(s, d),
        Tables.embeddings(s, d).filter(col("vec_id") < 8)
          .select(col("vec_id").as("qid"), col("embedding").as("v")),
        3, 2, 10)),
    // quantizer-drift audit: vectors whose cell differs between the
    // frozen base-trained quantizer and full retraining — the number
    // that schedules re-training in the ingest-vs-retrain trade
    "sim_ann_ivf_drift" -> ((s, d) => Similarity.annIvfDrift(Tables.embeddings(s, d))),
    // the drift-triggered RETRAIN policy: base-built index + delta ingest
    // (frozen quantizer), then two decisions against the live index —
    // threshold 1.0 (no-op; the frozen quantizer survives) and 0.0
    // (fires; quantizer retrained on the full corpus, lists rebuilt).
    // Both decision rows carry the SAME pre-retrain drift (measured
    // before any rebuild), so the pair is oracle-reproducible
    "sim_ann_ivf_retrain" -> ((s, d) => {
      val wh = java.nio.file.Files.createTempDirectory("graft-ivf-retrain")
        .toFile.getAbsolutePath
      s.sql(s"CREATE DATABASE IF NOT EXISTS graft_idx LOCATION '$wh'")
      val emb = Tables.embeddings(s, d)
      Similarity.buildIvfIndex(emb.filter(col("vec_id") % 5 =!= 0), "graft_idx.ivfr")
      Similarity.ivfIndexDelta("graft_idx.ivfr", emb.filter(col("vec_id") % 5 === 0))
      val below = Similarity.retrainIfNeeded(s, "graft_idx.ivfr", emb, 1.0)
      val above = Similarity.retrainIfNeeded(s, "graft_idx.ivfr", emb, 0.0)
      below.unionByName(above).orderBy(col("threshold"))
    }),
    // SemDeDup semantic dedup: trained-quantizer cells, within-cell
    // cosine, keep the lowest-centroid-similarity member of each
    // duplicate group (arXiv:2303.09540's keep rule, vec_id-tiebroken)
    "dedup_semantic" -> ((s, d) => Similarity.semanticDedup(Tables.embeddings(s, d))),
    // ANN quality gate: recall@3 of the multi-probe ANN vs brute force —
    // the price of the candidate pruning, per query id.
    "sim_ann_recall" -> ((s, d) => Similarity.annRecall(Tables.embeddings(s, d))),
    // custom TopKPerKey physical operator (partial/final heap split); same
    // semantics as the window form, k rows shuffled per key per partition
    "sim_topk_custom" -> ((s, d) => {
      graft.functions.DotProduct.register(s) // cosine's native kernel
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      val scored = e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          round(Similarity.cosine(col("v"), col("qv")), 6).as("cos"))
      graft.plans.TopK.perKey(scored, Seq("qid"), "cos", "vec_id", 5)
        .select(col("qid"), col("vec_id"), round(col("cos"), 4).as("cos"))
        .orderBy(col("qid"), desc("cos"), col("vec_id"))
    }),
    // misc surface: ping (S7), JSON shaping (F13)
    // F5's exact quirk under the gate: case-insensitive intersection that
    // KEEPS the left argument's original casing (student_service.py:155) —
    // raw-cased document words vs a mixed-case probe list.
  )

  /** Unrolled MMR greedy tail, appended to a chain that defines
    * `MC(vec_id, v, rel)` (the candidate set — brute-force top-30 for
    * the scan row, IVF-probed top-30 for the index-served twin): MS1 =
    * argmax rel; each later step picks argmax of
    * round(0.7·rel − 0.3·max-sim-to-selected, 6) with the vec_id
    * tiebreak — k−1 steps unrolled as CTE triples (DuckDB recursive
    * CTEs forbid the per-step aggregate); MATERIALIZED stops the
    * MS-chain from inlining exponentially. */
  private def mmrGreedyTailSql(k: Int = 8): String = {
    val steps = (2 to k).map { i =>
      s"MM$i AS MATERIALIZED (SELECT c.vec_id, c.rel, max(s.sim) AS ms FROM MC c JOIN MSM s " +
      s"ON ((s.a = c.vec_id AND s.b IN (SELECT vec_id FROM MS${i - 1})) " +
      s"OR (s.b = c.vec_id AND s.a IN (SELECT vec_id FROM MS${i - 1}))) " +
      s"WHERE c.vec_id NOT IN (SELECT vec_id FROM MS${i - 1}) GROUP BY c.vec_id, c.rel), " +
      s"MP$i AS MATERIALIZED (SELECT vec_id FROM MM$i ORDER BY round(0.7 * rel - 0.3 * ms, 6) DESC, vec_id LIMIT 1), " +
      s"MS$i AS MATERIALIZED (SELECT vec_id FROM MS${i - 1} UNION ALL SELECT vec_id FROM MP$i)"
    }.mkString(", ")
    val sel = (2 to k).map(i => s"SELECT $i AS rank, vec_id FROM MP$i")
      .mkString(" UNION ALL ")
    s", MSM AS MATERIALIZED (SELECT a.vec_id AS a, b.vec_id AS b, round(${cosSql("a.v", "b.v")}, 6) AS sim " +
    "FROM MC a JOIN MC b ON a.vec_id < b.vec_id), " +
    "MS1 AS MATERIALIZED (SELECT vec_id FROM MC ORDER BY rel DESC, vec_id LIMIT 1), " +
    steps + ", " +
    s"MSEL AS (SELECT 1 AS rank, vec_id FROM MS1 UNION ALL $sel) " +
    "SELECT CAST(s.rank AS INT) AS rank, s.vec_id, c.rel " +
    "FROM MSEL s JOIN MC c ON c.vec_id = s.vec_id ORDER BY rank"
  }

  /** Scan-form MMR oracle: brute-force top-30 candidates. */
  private def mmrOracleSql(k: Int = 8): String =
    s"WITH $embCtes, " +
    "MQV AS (SELECT v AS qv FROM E WHERE vec_id = 0), " +
    s"MC AS MATERIALIZED (SELECT e.vec_id, e.v, round(${cosSql("e.v", "q.qv")}, 6) AS rel " +
    "FROM E e, MQV q WHERE e.vec_id <> 0 ORDER BY rel DESC, vec_id LIMIT 30)" +
    mmrGreedyTailSql(k)

  /** Index-served MMR oracle: candidates = the trained-IVF chain's
    * probed top-30 for anchor 0 (the same R every `sim_ann_ivf_*` row
    * is gated on), rel recomputed on the raw vectors. */
  private def mmrIndexedOracleSql(k: Int = 8): String =
    s"WITH $ivfTrainedCtes, " +
    "MIDS AS MATERIALIZED (SELECT vec_id FROM R WHERE qid = 0 AND rank <= 30), " +
    "MQV AS (SELECT v AS qv FROM E0 WHERE vec_id = 0), " +
    s"MC AS MATERIALIZED (SELECT e.vec_id, e.v, round(${cosSql("e.v", "q.qv")}, 6) AS rel " +
    "FROM E0 e JOIN MIDS USING (vec_id), MQV q)" +
    mmrGreedyTailSql(k)

  def oracleSql: Map[String, String] = Map(
    "sim_mmr_rerank" -> mmrOracleSql(),
    "sim_mmr_query" -> mmrIndexedOracleSql(),
    "sim_topk_bruteforce" ->
      (s"WITH $embCtes, " +
       "Q AS (SELECT vec_id AS qid, v AS qv FROM E WHERE vec_id < 8), " +
       s"J AS (SELECT Q.qid, E.vec_id, round(${cosSql("E.v", "Q.qv")}, 6) AS cos " +
       "FROM E CROSS JOIN Q WHERE E.vec_id <> Q.qid), " +
       "R AS (SELECT qid, vec_id, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank FROM J) " +
       "SELECT qid, vec_id, CAST(rank AS INT) AS rank, round(cos, 4) AS cos " +
       "FROM R WHERE rank <= 5 ORDER BY qid, rank"),
    "sim_near_dup" ->
      (s"WITH $embCtes, " +
       "A AS (SELECT vec_id AS src, label, v AS av FROM E WHERE vec_id % 100 = 0), " +
       s"J AS (SELECT A.src, E.vec_id AS dst, round(${cosSql("A.av", "E.v")}, 4) AS cos " +
       "FROM A JOIN E ON A.label = E.label AND A.src <> E.vec_id) " +
       "SELECT src, dst, cos FROM J WHERE cos >= 0.25 ORDER BY src, dst"),
    "sim_topk_custom" ->
      (s"WITH $embCtes, " +
       "Q AS (SELECT vec_id AS qid, v AS qv FROM E WHERE vec_id < 8), " +
       s"J AS (SELECT Q.qid, E.vec_id, round(${cosSql("E.v", "Q.qv")}, 6) AS cos " +
       "FROM E CROSS JOIN Q WHERE E.vec_id <> Q.qid), " +
       "R AS (SELECT qid, vec_id, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank FROM J) " +
       "SELECT qid, vec_id, round(cos, 4) AS cos FROM R WHERE rank <= 5 " +
       "ORDER BY qid, round(cos, 4) DESC, vec_id"),
    "sim_ann_lsh" ->
      (s"WITH $annBucketCtes, " +
       "Q AS (SELECT vec_id AS qid, v AS qv, bucket FROM E WHERE vec_id < 8), " +
       s"J AS (SELECT Q.qid, E.vec_id, E.bucket, round(${cosSql("E.v", "Q.qv")}, 6) AS cos " +
       "FROM E JOIN Q ON E.bucket = Q.bucket AND E.vec_id <> Q.qid), " +
       "R AS (SELECT qid, vec_id, bucket, cos, row_number() OVER " +
       "(PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank FROM J) " +
       "SELECT qid, vec_id, CAST(rank AS INT) AS rank, round(cos, 4) AS cos, bucket " +
       "FROM R WHERE rank <= 3 ORDER BY qid, rank"),
    // hard negatives: same bucket join as sim_ann_lsh, positives (cos >=
    // 0.25, the sim_near_dup threshold) cut before ranking
    "sim_hard_negatives" ->
      (s"WITH $annBucketCtes, " +
       "Q AS (SELECT vec_id AS qid, v AS qv, bucket FROM E WHERE vec_id < 8), " +
       s"J AS (SELECT Q.qid, E.vec_id, round(${cosSql("E.v", "Q.qv")}, 6) AS cos " +
       "FROM E JOIN Q ON E.bucket = Q.bucket AND E.vec_id <> Q.qid), " +
       "R AS (SELECT qid, vec_id, cos, row_number() OVER " +
       "(PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank FROM J WHERE cos < 0.25) " +
       "SELECT qid, vec_id, CAST(rank AS INT) AS rank, round(cos, 4) AS cos " +
       "FROM R WHERE rank <= 3 ORDER BY qid, rank"),
    "sim_ann_multiprobe" ->
      (s"WITH $annBucketCtes, $annMultiProbeQCte, " +
       s"J AS (SELECT Q.qid, E.vec_id, round(${cosSql("E.v", "Q.qv")}, 6) AS cos " +
       "FROM E JOIN Q ON E.bucket = Q.bucket AND E.vec_id <> Q.qid), " +
       "R AS (SELECT qid, vec_id, cos, row_number() OVER " +
       "(PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank FROM J) " +
       "SELECT qid, vec_id, CAST(rank AS INT) AS rank, round(cos, 4) AS cos " +
       "FROM R WHERE rank <= 3 ORDER BY qid, rank"),
    // recall@3 of the multi-probe ANN vs the brute-force truth: the two
    // already-oracled chains composed, LEFT JOIN so misses count as 0.
    "sim_ann_recall" ->
      (s"WITH $annBucketCtes, $annMultiProbeQCte, " +
       s"JM AS (SELECT Q.qid, E.vec_id, round(${cosSql("E.v", "Q.qv")}, 6) AS cos " +
       "FROM E JOIN Q ON E.bucket = Q.bucket AND E.vec_id <> Q.qid), " +
       "RM AS (SELECT qid, vec_id, row_number() OVER " +
       "(PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank FROM JM), " +
       "ANN AS (SELECT qid, vec_id FROM RM WHERE rank <= 3), " +
       "QB AS (SELECT vec_id AS qid, v AS qv FROM E0 WHERE vec_id < 8), " +
       s"JB AS (SELECT QB.qid, E0.vec_id, round(${cosSql("E0.v", "QB.qv")}, 6) AS cos " +
       "FROM E0 CROSS JOIN QB WHERE E0.vec_id <> QB.qid), " +
       "RB AS (SELECT qid, vec_id, row_number() OVER " +
       "(PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank FROM JB), " +
       "BF AS (SELECT qid, vec_id FROM RB WHERE rank <= 3) " +
       "SELECT b.qid, round(CAST(count(a.vec_id) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4) AS recall " +
       "FROM BF b LEFT JOIN ANN a ON a.qid = b.qid AND a.vec_id = b.vec_id " +
       "GROUP BY b.qid ORDER BY b.qid"),
  ) ++ Map(
    "sim_ann_ivf" ->
      ("WITH E0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
       "E AS (SELECT vec_id, v, concat_ws('_', " +
       "CAST(CAST(floor(v[1]/0.2) AS BIGINT) AS VARCHAR), " +
       "CAST(CAST(floor(v[2]/0.2) AS BIGINT) AS VARCHAR), " +
       "CAST(CAST(floor(v[3]/0.2) AS BIGINT) AS VARCHAR)) AS cell FROM E0), " +
       "Q AS (SELECT vec_id AS qid, v AS qv, cell FROM E WHERE vec_id < 8), " +
       s"J AS (SELECT Q.qid, E.vec_id, E.cell, round(${cosSql("E.v", "Q.qv")}, 6) AS cos " +
       "FROM E JOIN Q ON E.cell = Q.cell AND E.vec_id <> Q.qid), " +
       "R AS (SELECT qid, vec_id, cell, cos, row_number() OVER " +
       "(PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank FROM J) " +
       "SELECT qid, vec_id, CAST(rank AS INT) AS rank, round(cos, 4) AS cos, cell " +
       "FROM R WHERE rank <= 3 ORDER BY qid, rank"),
    // trained-IVF: sim_kmeans_assign's centroid/distance CTEs feed cell
    // assignment (rk = 1) and the per-query nprobe=2 probe set (rk <= 2);
    // candidates are an equi-join on cell, ranked by the exact cosine
    "sim_ann_ivf_trained" ->
      (s"WITH $ivfTrainedCtes " +
       "SELECT qid, vec_id, CAST(rank AS INT) AS rank, round(cos, 4) AS cos, cell " +
       "FROM R WHERE rank <= 3 ORDER BY qid, rank"),
    // the index-served path must return byte-identical rows to the
    // in-query trained IVF — same oracle chain
    "sim_ann_ivf_indexed" ->
      (s"WITH $ivfTrainedCtes " +
       "SELECT qid, vec_id, CAST(rank AS INT) AS rank, round(cos, 4) AS cos, cell " +
       "FROM R WHERE rank <= 3 ORDER BY qid, rank"),
    // query-only twin + external-query form: same rows, same oracle
    "sim_ann_ivf_query" ->
      (s"WITH $ivfTrainedCtes " +
       "SELECT qid, vec_id, CAST(rank AS INT) AS rank, round(cos, 4) AS cos, cell " +
       "FROM R WHERE rank <= 3 ORDER BY qid, rank"),
    "sim_ann_ivf_external" ->
      (s"WITH $ivfTrainedCtes " +
       "SELECT qid, vec_id, CAST(rank AS INT) AS rank, round(cos, 4) AS cos, cell " +
       "FROM R WHERE rank <= 3 ORDER BY qid, rank"),
    // delta ingest with a FROZEN quantizer: centroids train on the 80%
    // base only; every vector (base + delta) is assigned and probed
    // against those — the same chain with C restricted to the base split
    "sim_ann_ivf_index_delta" ->
      (s"WITH ${ivfTrainedCtesFrom("vec_id % 5 <> 0")} " +
       "SELECT qid, vec_id, CAST(rank AS INT) AS rank, round(cos, 4) AS cos, cell " +
       "FROM R WHERE rank <= 3 ORDER BY qid, rank"),
    // compaction is layout-only: identical oracle to the delta row
    "sim_ann_ivf_index_compact" ->
      (s"WITH ${ivfTrainedCtesFrom("vec_id % 5 <> 0")} " +
       "SELECT qid, vec_id, CAST(rank AS INT) AS rank, round(cos, 4) AS cos, cell " +
       "FROM R WHERE rank <= 3 ORDER BY qid, rank"),
    // tombstone deletion: the quantizer stays FROZEN on the full corpus
    // (build-then-delete), so C trains on everything and only the
    // CANDIDATE set excludes the victims — the engine's broadcast
    // anti-join semantics exactly
    "sim_ann_ivf_index_delete" ->
      (s"WITH ${ivfTrainedCtesFrom("TRUE", 2,
         "NOT (ec.vec_id % 7 = 3 AND ec.vec_id >= 8)")} " +
       "SELECT qid, vec_id, CAST(rank AS INT) AS rank, round(cos, 4) AS cos, cell " +
       "FROM R WHERE rank <= 3 ORDER BY qid, rank"),
    // full-CRUD capstone: C frozen on the base split, every vector
    // assigned/probed against it, victims excluded from candidates only
    "sim_ann_ivf_lifecycle" ->
      (s"WITH ${ivfTrainedCtesFrom("vec_id % 5 <> 0", FiltNprobe,
         "NOT (ec.vec_id % 7 = 3 AND ec.vec_id >= 8)")} " +
       "SELECT qid, vec_id, CAST(rank AS INT) AS rank, round(cos, 4) AS cos, cell " +
       "FROM R WHERE rank <= 3 ORDER BY qid, rank"),
    // attribute-filtered probe: the same chain with the predicate on the
    // CANDIDATE set (pre-filter semantics — rank among the survivors)
    "sim_ann_filtered" ->
      (s"WITH ${ivfTrainedCtesFrom("TRUE", FiltNprobe, filtPredSql)} " +
       "SELECT qid, vec_id, CAST(rank AS INT) AS rank, round(cos, 4) AS cos, cell " +
       s"FROM R WHERE rank <= $FiltK ORDER BY qid, rank"),
    // per-query label matching: J re-derived with each query's OWN label
    // from the shared trained-chain CTEs
    "sim_ann_label_matched" ->
      (s"WITH ${ivfTrainedCtesFrom("TRUE", FiltNprobe, "TRUE")}, " +
       s"QL AS (SELECT vec_id AS qid, label AS qlabel FROM E0 WHERE vec_id < $FiltNQ), " +
       s"JM AS (SELECT p.qid, ec.vec_id, ec.cell, round(${cosSql("ec.v", "QV.qv")}, 6) AS cos " +
       "FROM PROBE p JOIN EC ec ON ec.cell = p.cell JOIN QV ON QV.qid = p.qid " +
       "JOIN QL ON QL.qid = p.qid WHERE ec.vec_id <> p.qid AND ec.label = QL.qlabel), " +
       "RM AS (SELECT qid, vec_id, cell, cos, row_number() OVER " +
       "(PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank FROM JM) " +
       "SELECT qid, vec_id, CAST(rank AS INT) AS rank, round(cos, 4) AS cos, cell " +
       s"FROM RM WHERE rank <= $FiltK ORDER BY qid, rank"),
    // the warm query-only twin serves the same rows — one oracle chain
    "sim_ann_filtered_query" ->
      (s"WITH ${ivfTrainedCtesFrom("TRUE", FiltNprobe, filtPredSql)} " +
       "SELECT qid, vec_id, CAST(rank AS INT) AS rank, round(cos, 4) AS cos, cell " +
       s"FROM R WHERE rank <= $FiltK ORDER BY qid, rank"),
    // pre-vs-post recall adjudication: PRE ranks J's survivors under the
    // predicate; POST takes the UNFILTERED rank <= widen*k cut, filters,
    // re-ranks; truth is the exact filtered brute force over E0 — both
    // recalls are ratios of counts over nQueries*k (every knob
    // interpolated from the SAME constants the query entry passes)
    "sim_ann_filtered_recall" ->
      (s"WITH ${ivfTrainedCtesFrom("TRUE", FiltNprobe, "TRUE")}, " +
       "PREC AS (SELECT j.qid, j.vec_id, row_number() OVER " +
       "(PARTITION BY j.qid ORDER BY j.cos DESC, j.vec_id) AS rk " +
       s"FROM J j JOIN E0 ec ON ec.vec_id = j.vec_id WHERE $filtPredSql), " +
       s"PRE AS (SELECT qid, vec_id FROM PREC WHERE rk <= $FiltK), " +
       "POSTC AS (SELECT r.qid, r.vec_id, row_number() OVER " +
       "(PARTITION BY r.qid ORDER BY r.cos DESC, r.vec_id) AS rk2 " +
       "FROM R r JOIN E0 ec ON ec.vec_id = r.vec_id " +
       s"WHERE r.rank <= ${FiltWiden * FiltK} AND $filtPredSql), " +
       s"POST AS (SELECT qid, vec_id FROM POSTC WHERE rk2 <= $FiltK), " +
       s"TC AS (SELECT QV.qid, ec.vec_id, row_number() OVER " +
       s"(PARTITION BY QV.qid ORDER BY round(${cosSql("ec.v", "QV.qv")}, 6) DESC, ec.vec_id) AS rk " +
       s"FROM E0 ec CROSS JOIN QV WHERE $filtPredSql AND ec.vec_id <> QV.qid), " +
       s"T AS (SELECT qid, vec_id FROM TC WHERE rk <= $FiltK) " +
       "SELECT 'pre' AS mode, round(CAST((SELECT count(*) FROM PRE JOIN T " +
       s"ON PRE.qid = T.qid AND PRE.vec_id = T.vec_id) AS DOUBLE) / ${FiltNQ * FiltK}.0, 4) AS recall " +
       "UNION ALL " +
       "SELECT 'post' AS mode, round(CAST((SELECT count(*) FROM POST JOIN T " +
       s"ON POST.qid = T.qid AND POST.vec_id = T.vec_id) AS DOUBLE) / ${FiltNQ * FiltK}.0, 4) AS recall " +
       "ORDER BY mode DESC"),
    // fused (IVF-PQ) filtered probe: the PQ chain with the predicate on
    // the ADC candidate set — filter BEFORE the lossy shortlist cut,
    // mirroring the engine's codes-scan pushdown
    "sim_ann_filtered_fused" ->
      (s"WITH ${ivfPqChain("TRUE", FiltNprobe, -1, filtPredSql)} " +
       annTopkSelect),
    // SQ8 filtered probe: same contract on the 8× rung
    "sim_ann_filtered_sq" ->
      (s"WITH ${ivfSqChain("TRUE", FiltNprobe, -1, filtPredSql)} " +
       annTopkSelect),
    // residual (IVFADC) filtered probe: same contract, LUT per cell
    "sim_ann_filtered_residual" ->
      (s"WITH ${ivfPqResidualChain("TRUE", FiltNprobe, -1, filtPredSql)} " +
       annTopkSelect),
    // the selectivity sweep: one shared unfiltered fused chain, one
    // suffixed pre/post/truth block per predicate (same CTE shapes as
    // the single-pred fused recall oracle), unioned with sel tags
    "sim_ann_filtered_selectivity" -> fusedSelectivitySweepSql,
    // fused pre-vs-post: PRE = the ADC set filtered BEFORE the shortlist
    // cut (ADC rows are per-candidate sums, so filtering them equals
    // filtering the scan), re-ranked by the exact cosine; POST = the
    // unfiltered fused pipeline's final ranks widened to widen*k,
    // filtered, re-ranked on the published 4dp cosine; truth = exact
    // filtered brute force
    "sim_ann_filtered_fused_recall" ->
      (s"WITH ${ivfPqChain("TRUE", FiltNprobe)}, " +
       s"ADCF AS (SELECT a.* FROM ADC a JOIN E0 ec ON ec.vec_id = a.vec_id WHERE $filtPredSql), " +
       "SLP AS (SELECT qid, vec_id FROM (SELECT *, row_number() OVER " +
       "(PARTITION BY qid ORDER BY d2, vec_id) AS rk FROM ADCF) " +
       s"WHERE rk <= ${slShortlist(FiltNprobe, -1)}), " +
       "PREC AS (SELECT j.qid, j.vec_id, row_number() OVER " +
       "(PARTITION BY j.qid ORDER BY j.cos DESC, j.vec_id) AS rk " +
       "FROM J j JOIN SLP s ON s.qid = j.qid AND s.vec_id = j.vec_id), " +
       s"PRE AS (SELECT qid, vec_id FROM PREC WHERE rk <= $FiltK), " +
       "POSTC AS (SELECT r.qid, r.vec_id, row_number() OVER " +
       "(PARTITION BY r.qid ORDER BY round(r.cos, 4) DESC, r.vec_id) AS rk2 " +
       "FROM RR r JOIN E0 ec ON ec.vec_id = r.vec_id " +
       s"WHERE r.rank <= ${FiltWiden * FiltK} AND $filtPredSql), " +
       s"POST AS (SELECT qid, vec_id FROM POSTC WHERE rk2 <= $FiltK), " +
       s"TC AS (SELECT QV.qid, ec.vec_id, row_number() OVER " +
       s"(PARTITION BY QV.qid ORDER BY round(${cosSql("ec.v", "QV.qv")}, 6) DESC, ec.vec_id) AS rk " +
       s"FROM E0 ec CROSS JOIN QV WHERE $filtPredSql AND ec.vec_id <> QV.qid), " +
       s"T AS (SELECT qid, vec_id FROM TC WHERE rk <= $FiltK) " +
       "SELECT 'pre' AS mode, round(CAST((SELECT count(*) FROM PRE JOIN T " +
       s"ON PRE.qid = T.qid AND PRE.vec_id = T.vec_id) AS DOUBLE) / ${FiltNQ * FiltK}.0, 4) AS recall " +
       "UNION ALL " +
       "SELECT 'post' AS mode, round(CAST((SELECT count(*) FROM POST JOIN T " +
       s"ON POST.qid = T.qid AND POST.vec_id = T.vec_id) AS DOUBLE) / ${FiltNQ * FiltK}.0, 4) AS recall " +
       "ORDER BY mode DESC"),
    // a drained ANN ingest stream converges to the batch delta result
    "stream_ann_ingest" ->
      (s"WITH ${ivfTrainedCtesFrom("vec_id % 5 <> 0")} " +
       "SELECT qid, vec_id, CAST(rank AS INT) AS rank, round(cos, 4) AS cos, cell " +
       "FROM R WHERE rank <= 3 ORDER BY qid, rank"),
    // the PQ-fused index: trained-IVF chain + PQ codes (sim_pq_codes'
    // per-subspace argmin over the SAME C), per-query ADC lookup table,
    // candidates restricted to the probed cells and scored by 8 exact
    // integer LUT sums, shortlist rk <= 10 by (d2, vec_id), then the
    // survivors re-ranked by the exact rounded cosine — every stage
    // engine-reproducible, including which candidates the lossy ADC keeps
    "sim_ann_ivfpq_indexed" -> ivfPqSqlFrom("TRUE"),
    // query-only twin (session-prebuilt index) and the external-query
    // form both serve the SAME rows as the build+query fixture — one
    // oracle chain gates all three paths
    "sim_ann_ivfpq_query" -> ivfPqSqlFrom("TRUE"),
    "sim_ann_ivfpq_external" -> ivfPqSqlFrom("TRUE"),
    // fused-index delta ingest: BOTH quantizers (coarse cells + PQ
    // codebook) trained on the base split only; every vector assigned,
    // encoded, probed, and ADC-scored against those frozen artifacts
    "sim_ann_ivfpq_index_delta" -> ivfPqSqlFrom("vec_id % 5 <> 0"),
    // a drained fused-ingest stream converges to the batch fused-delta
    // result: same frozen-artifact oracle
    "stream_ivfpq_ingest" -> ivfPqSqlFrom("vec_id % 5 <> 0"),
    // SQ8: byte-range codes per dim, ADC on the exact-integer
    // dequantization — the 8× rung of the compression ladder
    "sim_ann_ivfsq_indexed" -> ivfSqSqlFrom("TRUE"),
    "sim_ann_ivfsq_query" -> ivfSqSqlFrom("TRUE"),
    "sim_ann_ivfpqr_query" -> ivfPqResidualSqlFrom("TRUE"),
    // SQ8 delta ingest: trainer + coarse quantizer frozen on the base
    // split; out-of-range delta values saturate (greatest/least)
    "sim_ann_ivfsq_index_delta" -> ivfSqSqlFrom("vec_id % 5 <> 0"),
    // residual encoding (IVFADC): codes argmin over the RESIDUAL
    // codebook, LUT rebased per probed cell — every stage still exact
    // integer math, so even the lossy shortlist is reproducible
    "sim_ann_ivfpq_residual" -> ivfPqResidualSqlFrom("TRUE"),
    // the nprobe/recall sweep across all three rungs
    "sim_ann_nprobe_sweep" -> nprobeSweepSql,
    "sim_ann_nprobe_autotune" -> nprobeAutotuneSql,
    // probe-bounded range search: the trained-IVF chain's scored
    // candidates (J) thresholded instead of rank-cut
    "sim_ann_range_search" ->
      (s"WITH $ivfTrainedCtes " +
       "SELECT qid, vec_id, round(cos, 4) AS cos, cell FROM J " +
       "WHERE cos >= 0.25 ORDER BY qid, vec_id"),
    // index stats: list-size distribution + imbalance over the chain's
    // argmin cell assignment (identical to the stored lists)
    "sim_ann_index_stats" ->
      (s"WITH $ivfTrainedCtes, " +
       "CS AS (SELECT cell, count(*) AS n FROM CELL GROUP BY cell) " +
       "SELECT CAST(count(*) AS BIGINT) AS n_cells, " +
       "CAST(sum(n) AS BIGINT) AS n_vectors, " +
       "CAST(min(n) AS BIGINT) AS min_list, " +
       "CAST(max(n) AS BIGINT) AS max_list, " +
       "round(avg(n), 4) AS avg_list, " +
       "round(CAST(max(n) AS DOUBLE) / round(avg(n), 4), 4) AS imbalance " +
       "FROM CS"),
    // residual-index delta ingest: both residual artifacts (coarse
    // centroids + residual codebook) trained on the base split only
    "sim_ann_ivfpq_residual_delta" -> ivfPqResidualSqlFrom("vec_id % 5 <> 0"),
    // drift audit: base-trained vs full-trained argmin cells compared
    // per vector, both exact integer-space assignments
    "sim_ann_ivf_drift" ->
      ("WITH Q0 AS (SELECT vec_id, label, unnest(range(len(embedding))) AS dim, embedding FROM embeddings), " +
       "QQ AS (SELECT vec_id, label, dim, CAST(round(CAST(embedding[dim + 1] AS DOUBLE) * 1000) AS BIGINT) AS q FROM Q0), " +
       "CB AS (SELECT label AS c_label, dim, " +
       "CAST(round(round(CAST(sum(q) AS DOUBLE) / (1000.0 * count(*)), 6) * 1000000.0) AS BIGINT) AS c6 " +
       "FROM QQ WHERE vec_id % 5 <> 0 GROUP BY label, dim), " +
       "CF AS (SELECT label AS c_label, dim, " +
       "CAST(round(round(CAST(sum(q) AS DOUBLE) / (1000.0 * count(*)), 6) * 1000000.0) AS BIGINT) AS c6 " +
       "FROM QQ GROUP BY label, dim), " +
       "DB AS (SELECT x.vec_id, c.c_label, sum((x.q * 1000 - c.c6) * (x.q * 1000 - c.c6)) AS d2 " +
       "FROM QQ x JOIN CB c ON x.dim = c.dim GROUP BY x.vec_id, c.c_label), " +
       "DF AS (SELECT x.vec_id, c.c_label, sum((x.q * 1000 - c.c6) * (x.q * 1000 - c.c6)) AS d2 " +
       "FROM QQ x JOIN CF c ON x.dim = c.dim GROUP BY x.vec_id, c.c_label), " +
       "AB AS (SELECT vec_id, c_label AS base_cell FROM " +
       "(SELECT vec_id, c_label, row_number() OVER (PARTITION BY vec_id ORDER BY d2, c_label) AS rk FROM DB) WHERE rk = 1), " +
       "AF AS (SELECT vec_id, c_label AS full_cell FROM " +
       "(SELECT vec_id, c_label, row_number() OVER (PARTITION BY vec_id ORDER BY d2, c_label) AS rk FROM DF) WHERE rk = 1) " +
       "SELECT count(*) AS n_vectors, " +
       "CAST(sum(CASE WHEN base_cell <> full_cell THEN 1 ELSE 0 END) AS BIGINT) AS n_moved, " +
       "round(CAST(sum(CASE WHEN base_cell <> full_cell THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4) AS drift " +
       "FROM AB JOIN AF ON AB.vec_id = AF.vec_id"),
    // retrain policy: the drift chain (base-trained CB = the stored
    // frozen quantizer vs CF = full-corpus retrain) crossed with the two
    // thresholds the query runs; retrained = rounded drift >= threshold.
    // Both rows carry the same pre-retrain drift by construction
    "sim_ann_ivf_retrain" ->
      ("WITH Q0 AS (SELECT vec_id, label, unnest(range(len(embedding))) AS dim, embedding FROM embeddings), " +
       "QQ AS (SELECT vec_id, label, dim, CAST(round(CAST(embedding[dim + 1] AS DOUBLE) * 1000) AS BIGINT) AS q FROM Q0), " +
       "CB AS (SELECT label AS c_label, dim, " +
       "CAST(round(round(CAST(sum(q) AS DOUBLE) / (1000.0 * count(*)), 6) * 1000000.0) AS BIGINT) AS c6 " +
       "FROM QQ WHERE vec_id % 5 <> 0 GROUP BY label, dim), " +
       "CF AS (SELECT label AS c_label, dim, " +
       "CAST(round(round(CAST(sum(q) AS DOUBLE) / (1000.0 * count(*)), 6) * 1000000.0) AS BIGINT) AS c6 " +
       "FROM QQ GROUP BY label, dim), " +
       "DB AS (SELECT x.vec_id, c.c_label, sum((x.q * 1000 - c.c6) * (x.q * 1000 - c.c6)) AS d2 " +
       "FROM QQ x JOIN CB c ON x.dim = c.dim GROUP BY x.vec_id, c.c_label), " +
       "DF AS (SELECT x.vec_id, c.c_label, sum((x.q * 1000 - c.c6) * (x.q * 1000 - c.c6)) AS d2 " +
       "FROM QQ x JOIN CF c ON x.dim = c.dim GROUP BY x.vec_id, c.c_label), " +
       "AB AS (SELECT vec_id, c_label AS stored_cell FROM " +
       "(SELECT vec_id, c_label, row_number() OVER (PARTITION BY vec_id ORDER BY d2, c_label) AS rk FROM DB) WHERE rk = 1), " +
       "AF AS (SELECT vec_id, c_label AS fresh_cell FROM " +
       "(SELECT vec_id, c_label, row_number() OVER (PARTITION BY vec_id ORDER BY d2, c_label) AS rk FROM DF) WHERE rk = 1), " +
       "D AS (SELECT count(*) AS n_vectors, " +
       "CAST(sum(CASE WHEN stored_cell <> fresh_cell THEN 1 ELSE 0 END) AS BIGINT) AS n_moved, " +
       "round(CAST(sum(CASE WHEN stored_cell <> fresh_cell THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4) AS drift " +
       "FROM AB JOIN AF ON AB.vec_id = AF.vec_id) " +
       "SELECT n_vectors, n_moved, drift, CAST(t.threshold AS DOUBLE) AS threshold, " +
       "(drift >= t.threshold) AS retrained FROM D CROSS JOIN " +
       "(SELECT 1.0 AS threshold UNION ALL SELECT 0.0) t ORDER BY threshold"),
    // SemDeDup: the trained-IVF CELL chain feeds the within-cell pair
    // join; canonical order = (ccos to own centroid, vec_id); a vector is
    // dropped iff a strictly-more-canonical same-cell neighbor sits at
    // cosine >= 0.35 (rounded to 6 before the compare, both engines)
    "dedup_semantic" ->
      (s"WITH $ivfTrainedCtes, " +
       "CV AS (SELECT c_label, list(c6 / 1000000.0 ORDER BY dim) AS cv FROM C GROUP BY c_label), " +
       s"X AS (SELECT e.vec_id, e.v, CELL.cell, round(${cosSql("e.v", "CV.cv")}, 6) AS ccos " +
       "FROM E0 e JOIN CELL ON CELL.vec_id = e.vec_id JOIN CV ON CV.c_label = CELL.cell), " +
       "D AS (SELECT DISTINCT r.vec_id FROM X r JOIN X l ON l.cell = r.cell " +
       "AND (l.ccos < r.ccos OR (l.ccos = r.ccos AND l.vec_id < r.vec_id)) " +
       s"WHERE round(${cosSql("l.v", "r.v")}, 6) >= 0.35) " +
       "SELECT x.vec_id, x.cell, round(x.ccos, 4) AS ccos, (d.vec_id IS NULL) AS kept " +
       "FROM X x LEFT JOIN D d ON d.vec_id = x.vec_id ORDER BY x.vec_id"),
    // recall@3 of the trained-IVF vs brute force: the two oracled chains
    // composed, LEFT JOIN so misses count as 0
    "sim_ann_ivf_trained_recall" ->
      (s"WITH $ivfTrainedCtes, " +
       "ANN AS (SELECT qid, vec_id FROM R WHERE rank <= 3), " +
       "QB AS (SELECT vec_id AS qid, v AS qv FROM E0 WHERE vec_id < 8), " +
       s"JB AS (SELECT QB.qid, E0.vec_id, round(${cosSql("E0.v", "QB.qv")}, 6) AS cos " +
       "FROM E0 CROSS JOIN QB WHERE E0.vec_id <> QB.qid), " +
       "RB AS (SELECT qid, vec_id, row_number() OVER " +
       "(PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank FROM JB), " +
       "BF AS (SELECT qid, vec_id FROM RB WHERE rank <= 3) " +
       "SELECT b.qid, round(CAST(count(a.vec_id) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4) AS recall " +
       "FROM BF b LEFT JOIN ANN a ON a.qid = b.qid AND a.vec_id = b.vec_id " +
       "GROUP BY b.qid ORDER BY b.qid"),
    // coalesce(text,'') mirrors intersectKeepLeft's null→[] semantics
    // (the reference treats null lists as [], student_service.py:131).
  )
}
