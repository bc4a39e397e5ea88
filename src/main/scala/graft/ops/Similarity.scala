package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Embedding similarity search over the `embeddings` table
  * (vec_id, embedding ARRAY<FLOAT>, label).
  *
  * Dot products run on `array<double>` through the native
  * [[graft.functions.DotProduct]] codegen expression — a sequential
  * left-to-right fold, deterministic summation order, so results are
  * reproducible across engines (the DuckDB oracle computes the same
  * doubles; final values are rounded to absorb any last-ulp divergence).
  * Norms are computed once per VECTOR, not per pair — the pair row does one
  * dot product and one multiply.
  *
  * Scale path: brute-force top-k is the correctness baseline (fine when the
  * query set is small — broadcast queries × one pass over vectors). For
  * corpus×corpus similarity the label/LSH-blocked, sign-sketch (ANN),
  * lattice-IVF, and multi-probe variants bound candidates — all bucket
  * equi-joins.
  */
object Similarity {

  /** Sequential-fold dot product (deterministic): native codegen expression
    * (one loop, no per-row intermediate array). Bit-identical to
    * [[dotDataflow]] — same summation order. Callers with a session in
    * reach must ensure [[graft.functions.DotProduct.register]] ran (all
    * entry points in this object do). */
  def dot(a: Column, b: Column): Column = call_function("dot_product", a, b)

  /** The built-ins-only dataflow form, kept as the portability baseline and
    * for the equivalence spec. */
  def dotDataflow(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Pair-side cosine from PRE-COMPUTED norms: one dot product per pair
    * instead of three. sqrt(dot(v,v)) is computed once per VECTOR and
    * multiplied in the pair row — the same doubles in the same order as
    * [[cosine]], so results are bit-identical (the oracle rows prove it);
    * only the redundant per-pair recomputation is gone. */
  private def cosFromNorms(v: Column, qv: Column, nrm: Column, qnrm: Column): Column =
    dot(v, qv) / (nrm * qnrm)

  /** The exact pair score every query path ranks on: candidate `v`
    * against query `qv` from their stored norms, rounded to 6 decimals —
    * the cross-engine cut key. */
  private def cos6: Column =
    round(cosFromNorms(col("v"), col("qv"), col("nrm"), col("qnrm")), 6)

  private def withNorm(df: DataFrame): DataFrame =
    df.withColumn("nrm", sqrt(dot(col("v"), col("v"))))

  /** Per-query top-k over a scored candidate set WITHOUT a per-query window
    * funnel: the cut is [[graft.plans.TopKPerKey]]'s partial/final bounded
    * heaps (at most k rows per query per input partition cross the
    * exchange), proved hash-equal to the window form by `sim_topk_custom`.
    * The rank window that follows materializes 1..k over the ALREADY-CUT
    * sliver — its input is ≤ k rows per query by construction, so it can
    * never become the one-task-per-query funnel the raw window was at
    * corpus scale. Ranking and heap use the same (rounded cos DESC, vec_id
    * ASC) key, so the cut and the rank agree deterministically. */
  private def rankedTopKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.plans.TopK.perKey(scored, Seq("qid"), "cos", "vec_id", k)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(desc("cos"), col("vec_id"))))
  }

  private def vecs(embeddings: DataFrame): DataFrame = {
    graft.functions.DotProduct.register(embeddings.sparkSession)
    embeddings.select(col("vec_id"), col("label"),
      col("embedding").cast("array<double>").as("v"))
  }

  /** Brute-force cosine top-k: queries (small) broadcast against every
    * vector; per-query top-k via a rank window partitioned by query —
    * ranking on the ROUNDED cosine with vec_id tiebreak keeps the cut
    * deterministic across engines. */
  def bruteForceTopK(embeddings: DataFrame, nQueries: Int = 8, k: Int = 5): DataFrame = {
    val e = withNorm(vecs(embeddings))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qnrm"))
    import org.apache.spark.sql.expressions.Window
    e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos", cos6)
      .withColumn("rank",
        row_number().over(Window.partitionBy(col("qid"))
          .orderBy(desc("cos"), col("vec_id"))))
      .filter(col("rank") <= k)
      .select(col("qid"), col("vec_id"), col("rank"), round(col("cos"), 4).as("cos"))
      .orderBy(col("qid"), col("rank"))
  }

  val NumPlanes = 6
  val Dim = 64

  /** Deterministic random-hyperplane signs: sign(p,d) = parity of the first
    * md5 hex digit of "p_d" — reproducible in any engine with md5 (the
    * DuckDB oracle recomputes the same planes in SQL). */
  private lazy val planeSigns: Array[Array[Double]] =
    Array.tabulate(NumPlanes, Dim) { (p, d) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"${p}_$d".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      if (Integer.parseInt(hex.substring(0, 1), 16) % 2 == 1) 1.0 else -1.0
    }

  /** Sign-sketch bucket: one bit per hyperplane (sign of the projection). */
  def bucketCol(v: Column): Column =
    concat((0 until NumPlanes).map { p =>
      val s = array(planeSigns(p).toIndexedSeq.map(lit): _*)
      when(dot(v, s) > 0, "1").otherwise("0")
    }: _*)

  /** LSH-bucketed ANN — the scale path for similarity search: vectors are
    * sketched into 2^NumPlanes sign buckets; queries probe ONLY their own
    * bucket (candidates ≈ N/2^planes instead of N). Same equi-join shape an
    * IVF index would use with a coarse-quantizer cell id. Recall is partial
    * by construction (single-probe); multi-probe = also joining neighboring
    * buckets at Hamming distance 1. */
  def annTopK(embeddings: DataFrame, nQueries: Int = 8, k: Int = 3): DataFrame = {
    val e = withNorm(vecs(embeddings)).withColumn("bucket", bucketCol(col("v")))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qnrm"), col("bucket"))
    val scored = e.join(broadcast(q), Seq("bucket"))
      .filter(col("vec_id") =!= col("qid"))
      // slim to scalar columns BEFORE the cut — the heap exchange should
      // carry (qid, vec_id, cos, bucket), not 64-dim vectors
      .select(col("qid"), col("vec_id"), col("bucket"), cos6.as("cos"))
    rankedTopKPerQuery(scored, k)
      .select(col("qid"), col("vec_id"), col("rank"),
        round(col("cos"), 4).as("cos"), col("bucket"))
      .orderBy(col("qid"), col("rank"))
  }

  /** Multi-probe ANN: queries probe their own bucket AND every bucket at
    * Hamming distance 1 (one sign bit flipped) — the standard recall lever
    * for sign-sketch LSH. Candidates ≈ (1+planes)·N/2^planes; still an
    * equi-join on bucket. */
  def annMultiProbeTopK(embeddings: DataFrame, nQueries: Int = 8, k: Int = 3): DataFrame = {
    val e = withNorm(vecs(embeddings)).withColumn("bucket", bucketCol(col("v")))
    val flips = (0 until NumPlanes).map { p =>
      concat(
        substring(col("bucket"), 1, p),
        when(substring(col("bucket"), p + 1, 1) === "1", "0").otherwise("1"),
        substring(col("bucket"), p + 2, NumPlanes - p - 1))
    }
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qnrm"),
        explode(array(col("bucket") +: flips: _*)).as("bucket"))
    val scored = e.join(broadcast(q), Seq("bucket"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), cos6.as("cos"))
    rankedTopKPerQuery(scored, k)
      .select(col("qid"), col("vec_id"), col("rank"), round(col("cos"), 4).as("cos"))
      .orderBy(col("qid"), col("rank"))
  }

  val IvfDims = 3
  val IvfCell = 0.2

  /** IVF-style ANN with a DETERMINISTIC coarse quantizer: the centroid set
    * is a fixed lattice (cell width [[IvfCell]] over the first [[IvfDims]]
    * dimensions) — grid-cell assignment IS nearest-centroid assignment for
    * a lattice, the inverted lists are the cell groups, and probing is an
    * equi-join on cell id (nprobe=1). A production IVF trains centroids
    * with k-means; a lattice is used so the oracle can recompute cells in
    * SQL (trained centroids aren't reproducible across engines). Recall
    * rises with wider cells or neighbor-cell probes, exactly like
    * [[annMultiProbeTopK]]'s Hamming-1 expansion. */
  def annIvfTopK(embeddings: DataFrame, nQueries: Int = 8, k: Int = 3): DataFrame = {
    val cellExpr = concat_ws("_", (0 until IvfDims).map(d =>
      floor(col("v")(d) / IvfCell).cast("long").cast("string")): _*)
    val e = withNorm(vecs(embeddings)).withColumn("cell", cellExpr)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qnrm"), col("cell"))
    val scored = e.join(broadcast(q), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      // slim to scalar columns BEFORE the cut — the heap exchange carries
      // (qid, vec_id, cell, cos), not 64-dim vectors
      .select(col("qid"), col("vec_id"), col("cell"), cos6.as("cos"))
    rankedCells(scored, k)
  }

  /** IVF with a TRAINED coarse quantizer: cells are the label-seeded
    * integer-space centroids ([[Centroids.labelCentroids]] — exactly one
    * deterministic k-means round), every vector lives in its argmin cell
    * (the inverted lists), and each query probes its `nprobe` nearest
    * cells — the recall lever [[annIvfTopK]]'s fixed lattice gets from
    * wider cells, here from more probes, which is how production IVF
    * actually tunes. Cell assignment and probe choice compare distances
    * in EXACT integer space (the [[Centroids.kmeansAssign]] contract), so
    * both are engine-reproducible; candidate scoring is the exact rounded
    * cosine and the per-query cut is the bounded-heap
    * [[graft.plans.TopKPerKey]].
    *
    * Shape at 100 TB: centroids are k·dims values — a broadcast; cell
    * assignment is a broadcast cross + partial min-struct agg, so the one
    * corpus exchange carries a single slim row per vector; probing is an
    * equi-join on cell id against nprobe·queries broadcast rows; the heap
    * cut bounds what crosses the final exchange. Production materializes
    * the inverted lists once ([[buildIvfIndex]]); here they derive
    * in-query so the DuckDB oracle can replay the whole chain. */
  def annIvfTrainedTopK(embeddings: DataFrame, nQueries: Int = 8, k: Int = 3,
      nprobe: Int = 2): DataFrame = {
    // two consumers (vector assignment, query probes) of the corpus-sized
    // centroid aggregation — materialize it once (CacheScope; the cached
    // set is k·dims values, label-count rows)
    val cent = graft.CacheScope.track(Centroids.centroidVectors(embeddings))
    val q0 = withNorm(vecs(embeddings)).filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qnrm"), quantized(col("v")).as("xq"))
    rankedCells(exactScored(assignedCells(embeddings, cent), q0, cent, nprobe),
      k)
  }

  /** The exact integer space every cell assignment, probe and residual
    * compares in: x·10³ rounded HALF_UP, scaled to the centroids' 10⁶
    * `cvec` scale — engine-reproducible, so the oracle replays it. */
  private def quantized(v: Column): Column =
    transform(v, x => round(x * 1000).cast("long") * lit(1000L))

  /** Exact integer squared L2 distance between two array<long> columns. */
  private def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, c) => (x - c) * (x - c)),
      lit(0L), (acc, d) => acc + d)

  /** The IVF result frame: [[rankedTopKPerQuery]]'s cut as (qid, vec_id,
    * rank, cos at 4 decimals, cell), ordered. */
  private def rankedCells(scored: DataFrame, k: Int): DataFrame =
    rankedTopKPerQuery(scored, k)
      .select(col("qid"), col("vec_id"), col("rank"),
        round(col("cos"), 4).as("cos"), col("cell"))
      .orderBy(col("qid"), col("rank"))

  /** (vec_id, v, nrm, label, cell) — every vector of `df` assigned to its
    * argmin cell over the GIVEN centroids (broadcast cross + partial
    * min-struct agg; one slim row per vector crosses the exchange). The
    * coarse-assignment step of the index build, the frozen-quantizer
    * delta, the trained in-query IVF and semantic dedup. */
  private def assignedCells(df: DataFrame, cent: DataFrame): DataFrame =
    withNorm(vecs(df)).withColumn("xq", quantized(col("v")))
      .join(broadcast(cent))
      .select(col("vec_id"), col("v"), col("nrm"), col("label"),
        col("c_label"), sqDist(col("xq"), col("cvec")).as("d2"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d2"), col("c_label"))).as("best"),
        first(col("v")).as("v"), first(col("nrm")).as("nrm"),
        // filterable ATTRIBUTES ride along into the inverted lists:
        // columnar storage makes them free for every probe that doesn't
        // read them, and the attribute-filtered probe pushes its
        // predicate into the pruned list scan instead of joining back
        // to the corpus (annIvfFilteredTopK)
        first(col("label")).as("label"))
      .select(col("vec_id"), col("v"), col("nrm"), col("label"),
        col("best.c_label").as("cell"))

  /** How the inverted lists store each vector beside its raw `v` — the
    * only part of the IVF index that varies (IVFADC, Jégou et al., TPAMI
    * 2011: one inverted file, a pluggable code). Coarse assignment, list
    * write, probe selection, candidate scan and rank are shared; a codec
    * supplies its trained artifact table, how it encodes assigned rows,
    * and its ADC scorer. [[Codec.stored]] is the one place that reads
    * which codec a table stores.
    *
    * The compression ladder (FAISS terms): [[Codec.Flat]] keeps raw
    * vectors only and scores every probed candidate with the exact
    * cosine; [[Codec.Sq8]] adds one byte per dim (8× smaller candidate
    * IO, near-exact); [[Codec.Pq]] 8 PQ codes per vector (32×, lossy);
    * [[Codec.PqResidual]] PQ over the coarse-cell residual (32×, tighter
    * codes). A lossy codec's probe reads ONLY (vec_id, cell, code) from
    * the probed cells, cuts a (d2, vec_id) shortlist on its exact-integer
    * ADC distance and rescores the survivors on raw vectors. Every
    * trained artifact is FROZEN at build time (the production IVF
    * contract): deltas assign and encode against the stored tables, and
    * only a retrain replaces them. */
  sealed abstract class Codec(val name: String,
      private[ops] val artifact: Option[String]) {

    /** `rows` — the assigned rows (vec_id, v, nrm, label, cell) of the
      * raw vectors `src` — plus this codec's code column, encoded against
      * the STORED artifact table; `train` (a build) first trains that
      * table on `src` and writes it. */
    private[ops] def encode(src: DataFrame, rows: DataFrame,
        cent: DataFrame, table: String, train: Boolean): DataFrame = rows

    /** (qid, vec_id, cell, d2): the exact-integer ADC distance of every
      * probed candidate in `cand`, read from the code column — never
      * `v`. [[Codec.Flat]] has no ADC step: it ranks the exact cosine. */
    private[ops] def adc(table: String, cand: DataFrame, q0: DataFrame,
        probes: DataFrame, cent: DataFrame): DataFrame =
      throw new IllegalStateException(s"the $name codec has no ADC step")

    private[ops] def stores(table: String): String =
      artifact.fold(s"$name lists (raw vectors only)")(a =>
        s"$name codes against ${table}_$a")
  }

  object Codec {
    case object Flat extends Codec("flat", None)

    /** Raw-vector PQ ([[Centroids.pqCodes]]: 8 small ints for 64 floats)
      * against the per-subspace label-centroid codebook `{t}_pqbook`; one
      * ADC lookup table per query. */
    case object Pq extends Codec("pq", Some("pqbook")) {
      override private[ops] def encode(src: DataFrame, rows: DataFrame,
          cent: DataFrame, table: String, train: Boolean): DataFrame = {
        if (train) writeCodebook(Centroids.pqCodebook(src), "raw", table)
        rows.join(packCodes(Centroids.pqCodes(src,
          src.sparkSession.table(s"${table}_pqbook"))), "vec_id")
      }
      override private[ops] def adc(table: String, cand: DataFrame,
          q0: DataFrame, probes: DataFrame, cent: DataFrame): DataFrame =
        pqAdc(table, cand, q0, probes, cent, perCell = false)
    }

    /** The IVFADC refinement (§III): PQ encodes the coarse-cell RESIDUAL
      * r = x − centroid(cell(x)) instead of x. The coarse quantizer
      * already explains the centroid component of every vector, so
      * residuals concentrate around zero and the same 8 codes buy more
      * precision. The residual is exact integer subtraction at scale 10⁶
      * against a sample-seeded residual codebook
      * ([[Centroids.residualCodebook]]); an ADC distance against a
      * residual code is only meaningful relative to that candidate's
      * cell, so the LUT is keyed per (query, probed cell) — nprobe×
      * larger, still a few thousand broadcast rows. */
    case object PqResidual extends Codec("pqresidual", Some("pqbook")) {
      override private[ops] def encode(src: DataFrame, rows: DataFrame,
          cent: DataFrame, table: String, train: Boolean): DataFrame = {
        // consumed twice (codebook training + encode) — tracked
        val res = graft.CacheScope.track(rows
          .withColumn("xq", quantized(col("v")))
          .join(broadcast(cent), col("cell") === col("c_label"))
          .select(col("vec_id"), col("v"), col("nrm"), col("label"),
            col("cell"),
            zip_with(col("xq"), col("cvec"), (x, c) => x - c).as("rvec")))
        if (train) writeCodebook(Centroids.residualCodebook(
          res.select(col("vec_id"), col("rvec"))), "residual", table)
        res.drop("rvec")
          .join(packCodes(Centroids.pqCodesFromInt(
            res.select(col("vec_id"), col("rvec").as("xq")),
            src.sparkSession.table(s"${table}_pqbook"))), "vec_id")
      }
      override private[ops] def adc(table: String, cand: DataFrame,
          q0: DataFrame, probes: DataFrame, cent: DataFrame): DataFrame =
        pqAdc(table, cand, q0, probes, cent, perCell = true)
    }

    /** Scalar quantization (FAISS `IndexIVFScalarQuantizer`): each dim
      * compresses to one byte-range code against a per-dim [min, max]
      * trained over the corpus (`{t}_sqrange`: dim, minq, maxq) — code =
      * round((q − min)·255 / (max − min)) on the exact scale-10³ integer
      * q, so codes are engine-reproducible ([[sqCodes]]; a delta value
      * outside the frozen range saturates). ADC is 64 integer mult-adds
      * per candidate on the dequantized codes ([[sqDecode255]]) — no
      * lookup table. */
    case object Sq8 extends Codec("sq8", Some("sqrange")) {
      override private[ops] def encode(src: DataFrame, rows: DataFrame,
          cent: DataFrame, table: String, train: Boolean): DataFrame = {
        // per-dim min/max of the scale-1e3 integer q: map-side combine
        // collapses the 64× explode before the 64-group exchange
        if (train) vecs(src)
          .select(posexplode(transform(col("v"),
            x => round(x * 1000).cast("long"))).as(Seq("dim", "q")))
          .groupBy(col("dim"))
          .agg(min(col("q")).as("minq"), max(col("q")).as("maxq"))
          .write.mode("overwrite").format("parquet")
          .saveAsTable(s"${table}_sqrange")
        rows.crossJoin(broadcast(sqRangeArrays(src.sparkSession, table)))
          .select(col("vec_id"), col("v"), col("nrm"), col("label"),
            col("cell"),
            sqCodes(transform(col("v"), x => round(x * 1000).cast("long")))
              .as("sq"))
      }
      override private[ops] def adc(table: String, cand: DataFrame,
          q0: DataFrame, probes: DataFrame, cent: DataFrame): DataFrame = {
        // the query side at scale q·255, matching sqDecode255's scale
        val qs = q0.select(col("qid"), transform(col("qv"),
          x => round(x * 1000).cast("long") * lit(255L)).as("qs"))
        // dequantize BEFORE the probes fan-out: a candidate probed by m
        // queries decodes once, not m times
        cand.select(col("vec_id"), col("cell"), col("sq"))
          .crossJoin(broadcast(sqRangeArrays(cand.sparkSession, table)))
          .withColumn("dec", sqDecode255(col("sq")))
          .join(broadcast(probes), Seq("cell"))
          .filter(col("vec_id") =!= col("qid"))
          .join(broadcast(qs), Seq("qid"))
          .select(col("qid"), col("vec_id"), col("cell"),
            sqDist(col("qs"), col("dec")).as("d2"))
      }
    }

    val all: Seq[Codec] = Seq(Flat, Pq, PqResidual, Sq8)

    /** Write a PQ codebook with its code provenance (`enc`). */
    private def writeCodebook(book: DataFrame, enc: String,
        table: String): Unit =
      book.withColumn("enc", lit(enc))
        .write.mode("overwrite").format("parquet")
        .saveAsTable(s"${table}_pqbook")

    /** PQ asymmetric distance ([[Codec.Pq]], [[Codec.PqResidual]]): a LUT
      * of exact integer subvector distances — query side × stored
      * codebook — then each candidate sums its 8 code lookups over the
      * codes-only scan. The residual codec keys the LUT per (query, probed
      * cell), its query side being the query residual xq − cvec(cell);
      * raw PQ keys it per query. */
    private def pqAdc(table: String, cand: DataFrame, q0: DataFrame,
        probes: DataFrame, cent: DataFrame, perCell: Boolean): DataFrame = {
      val subDims = Dim / Centroids.SubSpaces
      val keys = if (perCell) Seq("qid", "cell") else Seq("qid")
      val qside =
        if (!perCell) q0.select(col("qid"), col("xq").as("qr"))
        else probes.join(q0.select(col("qid"), col("xq")), "qid")
          .join(broadcast(cent), col("cell") === col("c_label"))
          .select(col("qid"), col("cell"),
            zip_with(col("xq"), col("cvec"), (x, c) => x - c).as("qr"))
      // nQueries (× nprobe) × SubSpaces × |codebook| rows — a broadcast
      val lut = qside.select(keys.map(col) :+ posexplode(
          transform(sequence(lit(0), lit(Centroids.SubSpaces - 1)),
            s => slice(col("qr"), s * subDims + 1, lit(subDims))))
          .as(Seq("sub", "qs")): _*)
        .join(broadcast(cand.sparkSession.table(s"${table}_pqbook")), "sub")
        .select(keys.map(col) ++ Seq(col("sub"), col("c_label").as("code"),
          sqDist(col("qs"), col("cvec")).as("sd2")): _*)
      cand.select(col("vec_id"), col("cell"), col("codes"))
        .join(broadcast(probes), Seq("cell"))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"), col("cell"),
          posexplode(col("codes")).as(Seq("sub", "code")))
        .join(broadcast(lut), keys ++ Seq("sub", "code"))
        .groupBy(col("qid"), col("vec_id"), col("cell"))
        .agg(sum(col("sd2")).as("d2"))
    }

    /** (vec_id, codes) — per-subspace codes packed sub-ordered into one
      * array column, the inverted-list storage form. */
    private def packCodes(c: DataFrame): DataFrame = c
      .groupBy(col("vec_id"))
      .agg(array_sort(collect_list(struct(col("sub"), col("code")))).as("sc"))
      .select(col("vec_id"), transform(col("sc"), s => s("code")).as("codes"))

    /** The 64-entry SQ trainer as one broadcastable row (minv, rng arrays
      * in dim order) — the form [[sqCodes]]/[[sqDecode255]] zip against. */
    private def sqRangeArrays(spark: SparkSession,
        table: String): DataFrame =
      spark.table(s"${table}_sqrange")
        .agg(array_sort(collect_list(struct(col("dim"), col("minq"),
          (col("maxq") - col("minq")).as("rng")))).as("md"))
        .select(transform(col("md"), s => s("minq")).as("minv"),
          transform(col("md"), s => s("rng")).as("rng"))

    /** code_d = round((q_d − min_d)·255 / range_d) clamped to [0, 255]
      * (a DELTA value outside the frozen trained range must still fit the
      * byte code — the standard SQ saturation), 0 on a degenerate
      * (zero-range) dim — exact-integer numerator, one IEEE divide, the
      * same HALF_UP round both engines implement. */
    private def sqCodes(q: Column): Column =
      zip_with(q, arrays_zip(col("minv"), col("rng")), (qd, s) =>
        when(s("rng") === 0L, 0L).otherwise(
          greatest(lit(0L), least(lit(255L),
            round((qd - s("minv")).cast("double") * 255.0
              / s("rng").cast("double")).cast("long")))))

    /** Dequantized candidate at scale q·255: min_d·255 + code_d·range_d —
      * exact integer, so ADC distances against qs = q·255 are exact. */
    private def sqDecode255(sq: Column): Column =
      zip_with(sq, arrays_zip(col("minv"), col("rng")),
        (c, s) => s("minv") * 255L + c * s("rng"))

    /** The codec `table` stores — the ONE reader of the stored code
      * format (every delta, probe and retrain that cares asks here): no
      * trained artifact means [[Flat]]; `{t}_sqrange` means [[Sq8]];
      * `{t}_pqbook` carries its code provenance in `enc` ('raw' |
      * 'residual') — a PQ code is only comparable to an ADC table built
      * the same way. One metadata-sized read, and only for a PQ table. */
    def stored(spark: SparkSession, table: String): Codec = {
      val pq = spark.catalog.tableExists(s"${table}_pqbook")
      val sq = spark.catalog.tableExists(s"${table}_sqrange")
      require(!(pq && sq),
        s"$table carries BOTH ${table}_pqbook and ${table}_sqrange — a " +
          "stale artifact from a pre-provenance build; re-run the intended " +
          "codec's build (builds drop the other codecs' artifacts) before " +
          "ingesting, probing or retraining")
      if (sq) Sq8
      else if (!pq) Flat
      else {
        val book = spark.table(s"${table}_pqbook")
        // a codebook persisted before provenance landed carries no enc
        // column — every such index stored raw codes
        if (!book.columns.contains("enc")) Pq
        else book.select(col("enc")).limit(1).collect().headOption
          .map(r => if (r.getString(0) == "residual") PqResidual else Pq)
          .getOrElse(throw new IllegalStateException(
            s"${table}_pqbook exists but is EMPTY — the fused index was " +
              "built over an empty corpus (or the codebook write was " +
              "lost); every query/ingest/retrain path needs the stored " +
              "encoding provenance. Rebuild the index over a non-empty " +
              "corpus"))
      }
    }
  }

  /** The IVF index of any codec as a [[StandingIndex]]: `{table}_ivf`
    * holds (vec_id, v, nrm, label, cell[, code]) PARTITIONED BY cell, so
    * the inverted lists are partition directories and a probe's cell
    * equi-join prunes at SCAN time via dynamic partition pruning. A batch's
    * rows are its vectors assigned against `cent` and encoded by `codec`
    * — trained first when `train` (a build), else against the stored,
    * FROZEN artifacts (as in production IVF: the standing corpus is never
    * re-read or re-assigned, and drift is retrain's business —
    * [[retrainIfNeeded]]). No additive sidecar: per-cell statistics are
    * computed from the lists at read time. */
  private def ivfIndex(spark: SparkSession, table: String,
      cent: => DataFrame, codec: => Codec, train: Boolean): StandingIndex =
    StandingIndex(spark, table, "vec_id",
      Seq(StandingIndex.Table("_ivf", StandingIndex.Partitioned("cell"),
        batch => codec.encode(batch, assignedCells(batch, cent), cent,
          table, train))), Nil)

  /** [[ivfIndex]] over the stored quantizers, for every operation after
    * the build. The codec is read only when a delta has rows to encode. */
  private def ivfIndex(spark: SparkSession, table: String): StandingIndex =
    ivfIndex(spark, table, spark.table(s"${table}_centroids"),
      trainedCodec(spark, table), train = false)

  /** Materialize the IVF index under `codec` — the "production builds
    * the inverted lists once" promise of [[annIvfTrainedTopK]] made
    * real: `{table}_centroids` holds the trained coarse quantizer and the
    * codec's artifact table its trained code quantizer. Build cost = the
    * centroid aggregation + one corpus argmin pass + the codec's training
    * and encode; every query after reads only its probed cells — never
    * the corpus. The OTHER codecs' artifacts are dropped: [[Codec.stored]]
    * decides by which artifact tables exist, so a stale `_pqbook` would
    * silently retrain or ingest the wrong codec. */
  def buildIvfIndex(embeddings: DataFrame, table: String,
      codec: Codec): Unit = {
    val spark = embeddings.sparkSession
    Codec.all.flatMap(_.artifact).distinct
      .filterNot(codec.artifact.contains)
      .foreach(a => spark.sql(s"DROP TABLE IF EXISTS ${table}_$a"))
    val cent = graft.CacheScope.track(Centroids.centroidVectors(embeddings))
    cent.write.mode("overwrite").format("parquet")
      .saveAsTable(s"${table}_centroids")
    ivfIndex(spark, table, cent, codec, train = true).build(embeddings)
  }

  def buildIvfIndex(embeddings: DataFrame, table: String): Unit =
    buildIvfIndex(embeddings, table, Codec.Flat)

  /** Append a delta of NEW vec_ids to a standing IVF index of any codec,
    * assigned and encoded against the stored quantizers
    * ([[StandingIndex.delta]]; a re-ingested vector would silently
    * duplicate inside its list, so it throws). A first delta against a
    * trained but listless catalog bootstraps the lists. */
  def ivfIndexDelta(table: String, delta: DataFrame): Unit =
    ivfIndex(delta.sparkSession, table).delta(delta)

  /** The stored codec, whose frozen artifacts a delta assigns and encodes
    * against — a prerequisite, so fail with intent, not a bare
    * table-not-found five calls deep. */
  private def trainedCodec(spark: SparkSession, table: String): Codec = {
    val codec = Codec.stored(spark, table)
    val names = ("centroids" +: codec.artifact.toSeq).map(a => s"${table}_$a")
    require(names.forall(spark.catalog.tableExists),
      s"ivfIndexDelta needs the trained artifacts: ${names.mkString(" and ")} — " +
        "run the matching build first (an IVF-family index cannot " +
        "bootstrap from an empty catalog; assignment/encoding require " +
        "the stored quantizers)")
    codec
  }

  /** [[ivfIndexDelta]] that skips already-indexed vec_ids
    * ([[StandingIndex.deltaIdempotent]]), every codec. */
  def ivfIndexDeltaIdempotent(table: String, delta: DataFrame): Unit = {
    ivfIndex(delta.sparkSession, table).deltaIdempotent(delta); ()
  }

  /** Compact a delta-grown IVF index: one file per cell again, without
    * the tombstoned vectors, one guard bloom ([[StandingIndex.compact]]).
    * The trained artifacts are NOT touched: compaction is a layout
    * operation, never a retrain (drift stays measurable via
    * `sim_ann_ivf_drift`). Queries before/after are row-identical. */
  def compactIvfIndex(spark: SparkSession, table: String): Unit =
    ivfIndex(spark, table).compact()

  /** Repair an interrupted [[compactIvfIndex]] swap on the
    * cell-partitioned lists ([[StandingIndex.recover]]). */
  def recoverIvfSwap(spark: SparkSession, table: String): Boolean =
    ivfIndex(spark, table).recover()

  /** [[StandingIndex.compactIfNeeded]] for the IVF lists. Per-cell FILE
    * COUNT — the DPP-probed-read latency killer under a high ingest
    * cadence — is subsumed by the generation bound: one generation appends
    * at most ONE file per touched cell, so a probed cell reads ≤
    * `maxBatches` + build files between compactions (spec-gated in
    * AnnLifecycleSpec's small-delta cadence test). */
  def compactIvfIfNeeded(spark: SparkSession,
      table: String, maxBatches: Int = 16,
      maxSidecarBytes: Long = 64L << 20): Boolean =
    ivfIndex(spark, table).compactIfNeeded(maxBatches, maxSidecarBytes)

  /** The exact probe-and-score every raw-vector probe shares: each query
    * of `q0` (qid, qv, qnrm, xq, + any columns `matches` reads) probes its
    * `nprobe` nearest cells ([[probesFor]]), the candidate read of `idx`
    * (the lists — or a predicate-filtered view of them) joins the
    * broadcast probed queries on cell, so DPP prunes the scan to the
    * probed lists, and every candidate gets the exact rounded cosine:
    * (qid, vec_id, cell, + `keep`, cos). */
  private def exactScored(idx: DataFrame, q0: DataFrame, cent: DataFrame,
      nprobe: Int, matches: Option[Column] = None,
      keep: Seq[String] = Nil): DataFrame = {
    val q = q0.drop("xq").join(probesFor(q0, cent, nprobe), "qid")
    val pairs = idx.join(broadcast(q), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
    matches.fold(pairs)(pairs.filter)
      .select((Seq("qid", "vec_id", "cell") ++ keep).map(col) :+
        cos6.as("cos"): _*)
  }

  /** Query the materialized IVF index: SAME RESULT as
    * [[annIvfTrainedTopK]] (both oracled against the same SQL), but the
    * corpus is never re-trained or re-assigned — probes resolve against
    * the stored centroids, and the candidate read is the cell-partitioned
    * index pruned to the probed cells by dynamic partition pruning. Query
    * cost is proportional to the probed lists' size, not the corpus.
    * Every codec's lists carry `v`, so this exact probe serves any of
    * them. */
  def annIvfIndexedTopK(spark: SparkSession,
      table: String, nQueries: Int = 8, k: Int = 3,
      nprobe: Int = 2): DataFrame =
    annIvfIndexedTopK(spark, table, fixtureQueries(spark, table, nQueries),
      k, nprobe)

  /** External-query-vector form of [[annIvfIndexedTopK]]: `queries` is a
    * caller-supplied broadcast-sized (qid, v) frame — the shape a 100 TB
    * deployment actually has (query vectors arrive from the caller, they
    * are not rows of the index), where the fixture form's `vec_id <
    * nQueries` filter is a full-index point-scan per query batch. The
    * standing index is read ONLY through the DPP-pruned probed cells. */
  def annIvfIndexedTopK(spark: SparkSession,
      table: String, queries: DataFrame, k: Int, nprobe: Int): DataFrame =
    rankedCells(exactScored(lists(spark, table), externalQ0(queries),
      spark.table(s"${table}_centroids"), nprobe), k)

  /** ATTRIBUTE-FILTERED ANN — the production retrieval shape ("nearest
    * within source = X / lang = Y"): vector top-k under a row predicate
    * over attribute columns the lists carry ([[assignedCells]] rides
    * them along; columnar storage makes them free for unfiltered
    * probes). PRE-FILTER semantics: the predicate is applied to the
    * DPP-pruned candidate read ITSELF — it reaches the list scan as a
    * pushed data filter (spec-asserted), so a 1%-selective probe reads
    * its probed cells but scores only the 1% (row-group pruning cuts
    * even the read when the attribute clusters). Within the probed
    * cells the result is EXACT under the predicate — pre-filtering a
    * plain (raw-vector) list loses nothing, unlike the ADC path where a
    * shortlist cut before the predicate can starve the result set (the
    * post-filter trade [[annFilteredRecall]] measures; see BASELINE.md
    * round-15 for the recorded adjudication). Recall vs a FILTERED brute
    * force is the usual IVF story: the predicate thins every probed
    * cell, so matching unfiltered recall needs nprobe scaled by
    * ~1/selectivity (measured in `AnnFilteredSpec`). */
  def annIvfFilteredTopK(spark: SparkSession,
      table: String, pred: Column, nQueries: Int = 8, k: Int = 3,
      nprobe: Int = 2): DataFrame =
    annIvfFilteredTopK(spark, table,
      fixtureQueries(spark, table, nQueries), pred, k, nprobe)

  /** External-query form of [[annIvfFilteredTopK]] — same contract as
    * the unfiltered external probe, now with `pred` pushed into the
    * DPP-pruned probed-cell scan. */
  def annIvfFilteredTopK(spark: SparkSession,
      table: String, queries: DataFrame, pred: Column, k: Int,
      nprobe: Int): DataFrame =
    rankedCells(exactScored(lists(spark, table).filter(pred),
      externalQ0(queries), spark.table(s"${table}_centroids"), nprobe), k)

  /** The POST-FILTER alternative the industry adjudicates against:
    * probe UNFILTERED, cut a widened top-(widen·k) shortlist, THEN
    * apply the predicate and keep k. Exists to be measured, not
    * preferred: on plain (raw-vector) lists it reads and scores the
    * same probed cells WITHOUT the predicate's scan savings, and any
    * query whose true filtered neighbors rank below the widened cut
    * loses them — recall degrades as selectivity tightens
    * ([[annFilteredRecall]] prices exactly this against pre-filter).
    * Post-filter only wins where a filter cannot be pushed into the
    * candidate scan (opaque scorers, encrypted attributes) — not this
    * engine's lists. */
  def annIvfFilteredPostTopK(spark: SparkSession,
      table: String, queries: DataFrame, pred: Column, k: Int,
      nprobe: Int, widen: Int = 3): DataFrame = {
    val scored = exactScored(lists(spark, table), externalQ0(queries),
      spark.table(s"${table}_centroids"), nprobe, keep = Seq("label"))
    // widened UNFILTERED cut first (the post-filter mistake being
    // priced), predicate second, final rank over the survivors
    import org.apache.spark.sql.expressions.Window
    graft.plans.TopK.perKey(scored, Seq("qid"), "cos", "vec_id", widen * k)
      .filter(pred)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(desc("cos"), col("vec_id"))))
      .filter(col("rank") <= k)
      .select(col("qid"), col("vec_id"), col("rank"),
        round(col("cos"), 4).as("cos"), col("cell"))
      .orderBy(col("qid"), col("rank"))
  }

  /** Measured pre-vs-post adjudication: recall@k of both filtered-probe
    * modes against the FILTERED brute force (the exact top-k among the
    * predicate's survivors), averaged over the fixture queries — one
    * row per mode. The deterministic ratio-of-counts shape every other
    * recall row uses, so the DuckDB oracle reproduces it exactly. */
  def annFilteredRecall(spark: SparkSession,
      table: String, embeddings: DataFrame, pred: Column,
      nQueries: Int = 8, k: Int = 3, nprobe: Int = 2,
      widen: Int = 3): DataFrame = {
    val q = fixtureQueries(spark, table, nQueries)
    preVsPostRecall(filteredTruth(embeddings, pred, nQueries, k),
      nQueries, k,
      annIvfFilteredTopK(spark, table, q, pred, k, nprobe),
      annIvfFilteredPostTopK(spark, table, q, pred, k, nprobe, widen))
  }

  /** Exact filtered ground truth: brute-force cosine top-k over the
    * predicate's survivors (query anchors need not satisfy it) — the
    * shared denominator of every filtered-recall adjudication. */
  private def filteredTruth(embeddings: DataFrame, pred: Column,
      nQueries: Int, k: Int): DataFrame = {
    val e = withNorm(vecs(embeddings))
    val qv = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qnrm"))
    rankedTopKPerQuery(
      e.filter(pred).crossJoin(broadcast(qv))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"), cos6.as("cos")), k)
      .select(col("qid"), col("vec_id"))
  }

  /** Two-row (mode, recall) frame — the deterministic ratio-of-counts
    * shape every recall row uses, pre before post. The truth set is
    * nQueries×k rows but its lineage is the brute-force cross join over
    * the corpus; both mode legs consume it, so it is cached here once
    * per adjudication (r17: halves the brute-force work of every
    * pre-vs-post row — the 5-predicate selectivity sweep was paying the
    * corpus scan 10× for 5 distinct truth sets). */
  private def preVsPostRecall(truth0: DataFrame, nQueries: Int, k: Int,
      pre: DataFrame, post: DataFrame): DataFrame = {
    val truth = graft.CacheScope.track(truth0)
    def recallOf(hits: DataFrame, mode: String): DataFrame =
      hits.select(col("qid"), col("vec_id"))
        .join(truth, Seq("qid", "vec_id"), "left_semi")
        .groupBy(col("qid")).agg(count(lit(1)).as("n"))
        .agg(round(coalesce(sum(col("n")), lit(0L)) /
          lit(nQueries.toDouble * k), 4).as("recall"))
        .select(lit(mode).as("mode"), col("recall"))
    recallOf(pre, "pre").unionAll(recallOf(post, "post"))
      .orderBy(desc("mode")) // pre before post
  }

  /** The FUSED-rung pre-vs-post adjudication ([[annFilteredRecall]] on
    * the PQ codec): pre = predicate before the ADC shortlist cut
    * ([[annIvfPqFilteredTopK]]); post = the unfiltered fused pipeline's
    * widened top-(widen·k) cut filtered after the fact
    * ([[annIvfPqFilteredPostTopK]]) — the mode whose recall collapses
    * with selectivity unless widen AND shortlist scale by
    * ~1/selectivity. Same exact filtered brute-force truth, same
    * ratio-of-counts rows, so the DuckDB oracle reproduces it. */
  def annFusedFilteredRecall(spark: SparkSession,
      table: String, embeddings: DataFrame, pred: Column,
      nQueries: Int = 8, k: Int = 3, nprobe: Int = 2,
      widen: Int = 3): DataFrame = {
    val q = fixtureQueries(spark, table, nQueries)
    preVsPostRecall(filteredTruth(embeddings, pred, nQueries, k),
      nQueries, k,
      probe(spark, table, Some(Codec.Pq), q, k, nprobe, -1, Some(pred)),
      annIvfPqFilteredPostTopK(spark, table, q, pred, k, nprobe, widen))
  }

  /** PER-QUERY label-matched ANN — the multi-tenant retrieval shape
    * ("each query retrieves within ITS OWN tenant/class"), which a
    * global predicate ([[annIvfFilteredTopK]]) cannot express: the
    * query frame carries (qid, v, qlabel) and the candidate constraint
    * `label = qlabel` is a JOIN condition against the broadcast query
    * dim — evaluated right above the DPP-pruned cell scan, before the
    * cosine, so a probe scans its probed cells once and scores only
    * its own label's rows. Per-query values cannot push as a static
    * scan filter (they differ per query), but the filter is codegen'd
    * against the broadcast side — no shuffle, no per-query scan. Exact
    * within probed cells under each query's own constraint. */
  def annIvfLabelMatchedTopK(spark: SparkSession,
      table: String, nQueries: Int = 8, k: Int = 3,
      nprobe: Int = 2): DataFrame =
    annIvfLabelMatchedTopK(spark, table,
      lists(spark, table).filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("qid"), col("v"),
          col("label").as("qlabel")), k, nprobe)

  /** External-query form of [[annIvfLabelMatchedTopK]]: `queries` is a
    * broadcast-sized (qid, v, qlabel) frame. */
  def annIvfLabelMatchedTopK(spark: SparkSession,
      table: String, queries: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val q0 = externalQ0(queries.select(col("qid"), col("v")))
      .join(queries.select(col("qid").cast("long").as("qid"),
        col("qlabel")), "qid")
    rankedCells(exactScored(lists(spark, table), q0,
      spark.table(s"${table}_centroids"), nprobe,
      matches = Some(col("label") === col("qlabel"))), k)
  }

  /** Selectivity SWEEP of the fused pre-vs-post adjudication — the
    * measured form of the claim the post-filter scaladoc makes ("recall
    * collapses as selectivity tightens unless widen/shortlist scale by
    * ~1/selectivity"): [[annFusedFilteredRecall]]'s adjudication at each
    * labeled predicate, one (sel, mode, recall) row per (predicate,
    * mode). The nprobe-sweep methodology applied to the filtered knob:
    * tune by measurement, not folklore.
    *
    * The predicate-INDEPENDENT subtrees are computed once and cached
    * across every predicate (r17, roughly halves the row): the post
    * mode's widened unfiltered probe+rescore (identical for all legs —
    * post-filtering is by definition blind to the predicate until the
    * cut) and the truth side's scored query×corpus cross join (the
    * predicate commutes with scoring: it filters candidate attributes,
    * so filter-then-rank over the shared scored frame equals
    * [[filteredTruth]]'s filter-then-score row-for-row). Only the pre
    * legs — where the predicate lives INSIDE the probe, the mode's whole
    * point — stay per-predicate plans. */
  def annFusedFilteredSelectivitySweep(
      spark: SparkSession, table: String,
      embeddings: DataFrame, preds: Seq[(String, Column)],
      nQueries: Int = 8, k: Int = 3, nprobe: Int = 2,
      widen: Int = 3): DataFrame = {
    val q = fixtureQueries(spark, table, nQueries)
    // eager localCheckpoint, NOT persist: the frame's lineage reads the
    // catalog tables `${table}_ivf`/`_centroids`, and a persist would
    // outlive this query into a caller's NEXT index rebuild (bench
    // iteration 2) — whose DROP re-resolves every live cached plan
    // against the mid-rebuild catalog and throws TABLE_OR_VIEW_NOT_FOUND
    // (the drop-side twin of the INSERT-invalidation gotcha the replay
    // filter of the idempotent deltas cuts). The checkpoint cuts the catalog
    // lineage to an in-memory RDD: widen·k×nQueries rows + labels.
    val wideLabeled =
      annIvfPqIndexedTopK(spark, table, q, widen * k, nprobe, -1)
        .join(lists(spark, table).select(col("vec_id"), col("label")),
          Seq("vec_id"))
        .localCheckpoint()
    val e = withNorm(vecs(embeddings))
    val qv = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qnrm"))
    val scoredAll = graft.CacheScope.track(
      e.crossJoin(broadcast(qv))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"), col("label"), cos6.as("cos")))
    preds.map { case (tag, p) =>
      val truth = rankedTopKPerQuery(scoredAll.filter(p), k)
        .select(col("qid"), col("vec_id"))
      preVsPostRecall(truth, nQueries, k,
          probe(spark, table, Some(Codec.Pq), q, k, nprobe, -1, Some(p)),
          postFilterCut(wideLabeled, p, k))
        .select(lit(tag).as("sel"), col("mode"), col("recall"))
    }.reduce(_.unionAll(_))
      .orderBy(col("sel"), desc("mode"))
  }

  /** The ONE indexed probe over a standing IVF index of any codec: the
    * DPP-pruned read of each query's `nprobe` probed cells (`pred`, when
    * given, filters that candidate scan BEFORE any cut — pre-filter
    * semantics, so a lossy shortlist competes among the predicate's
    * survivors only and needs no 1/selectivity correction), then the
    * stored codec's scoring — [[Codec.Flat]] ranks the exact cosine of
    * every candidate; a lossy codec cuts the (d2, vec_id) ADC shortlist
    * over its codes ([[Codec.adc]]; columnar storage keeps `v` out of
    * that scan) and rescores the survivors on raw vectors
    * ([[shortlistRescore]]). Every stage is exact integer math or the
    * rounded cosine, so the whole chain (including which candidates the
    * lossy shortlist keeps) is engine-reproducible and oracled.
    * `expected` is the codec a codec-named entry point serves; a table
    * storing another is refused — an ADC table built for one code format
    * mis-scores every candidate of another. */
  private def probe(spark: SparkSession, table: String,
      expected: Option[Codec], queries: DataFrame, k: Int, nprobe: Int,
      shortlist: Int, pred: Option[Column] = None): DataFrame = {
    val codec = Codec.stored(spark, table)
    expected.foreach(e => require(e == codec,
      s"$table stores ${codec.stores(table)}, not ${e.stores(table)} — " +
        "query it through the entry point for its stored codec (an ADC " +
        "table built for one code format mis-scores every candidate of " +
        "another)"))
    val cent = spark.table(s"${table}_centroids")
    val idx = lists(spark, table)
    val cand = pred.fold(idx)(idx.filter)
    val q0 = externalQ0(queries)
    if (codec == Codec.Flat) rankedCells(exactScored(cand, q0, cent, nprobe), k)
    else shortlistRescore(idx, q0,
      codec.adc(table, cand, q0, probesFor(q0, cent, nprobe), cent), k,
      resolveShortlist(shortlist, nprobe))
  }

  /** [[probe]] under the codec the catalog says `table` stores — one
    * entry point for every codec. `queries` is a caller-supplied
    * broadcast-sized (qid, v) frame; the standing index is read ONLY
    * through the DPP-pruned probed cells. */
  def annIvfProbeTopK(spark: SparkSession, table: String,
      queries: DataFrame, k: Int, nprobe: Int, shortlist: Int): DataFrame =
    probe(spark, table, None, queries, k, nprobe, shortlist)

  /** Fixture-query form of [[annIvfProbeTopK]] (see [[fixtureQueries]]). */
  def annIvfProbeTopK(spark: SparkSession, table: String,
      nQueries: Int = 8, k: Int = 3, nprobe: Int = 2,
      shortlist: Int = -1): DataFrame =
    annIvfProbeTopK(spark, table, fixtureQueries(spark, table, nQueries), k,
      nprobe, shortlist)

  // Codec-named probes: [[probe]] refusing any other stored codec.

  def annIvfPqIndexedTopK(spark: SparkSession,
      table: String, nQueries: Int = 8, k: Int = 3, nprobe: Int = 2,
      shortlist: Int = -1): DataFrame =
    annIvfPqIndexedTopK(spark, table, fixtureQueries(spark, table, nQueries),
      k, nprobe, shortlist)

  def annIvfPqIndexedTopK(spark: SparkSession,
      table: String, queries: DataFrame, k: Int, nprobe: Int,
      shortlist: Int): DataFrame =
    probe(spark, table, Some(Codec.Pq), queries, k, nprobe, shortlist)

  def annIvfPqResidualTopK(spark: SparkSession,
      table: String, nQueries: Int = 8, k: Int = 3, nprobe: Int = 2,
      shortlist: Int = -1): DataFrame =
    probe(spark, table, Some(Codec.PqResidual),
      fixtureQueries(spark, table, nQueries), k, nprobe, shortlist)

  def annIvfSqIndexedTopK(spark: SparkSession,
      table: String, nQueries: Int = 8, k: Int = 3, nprobe: Int = 2,
      shortlist: Int = -1): DataFrame =
    probe(spark, table, Some(Codec.Sq8),
      fixtureQueries(spark, table, nQueries), k, nprobe, shortlist)

  def annIvfPqFilteredTopK(spark: SparkSession,
      table: String, pred: Column, nQueries: Int = 8, k: Int = 3,
      nprobe: Int = 2, shortlist: Int = -1): DataFrame =
    probe(spark, table, Some(Codec.Pq),
      fixtureQueries(spark, table, nQueries), k, nprobe, shortlist,
      Some(pred))

  def annIvfPqResidualFilteredTopK(spark: SparkSession,
      table: String, pred: Column, nQueries: Int = 8, k: Int = 3,
      nprobe: Int = 2, shortlist: Int = -1): DataFrame =
    probe(spark, table, Some(Codec.PqResidual),
      fixtureQueries(spark, table, nQueries), k, nprobe, shortlist,
      Some(pred))

  def annIvfSqFilteredTopK(spark: SparkSession,
      table: String, pred: Column, nQueries: Int = 8, k: Int = 3,
      nprobe: Int = 2, shortlist: Int = -1): DataFrame =
    probe(spark, table, Some(Codec.Sq8),
      fixtureQueries(spark, table, nQueries), k, nprobe, shortlist,
      Some(pred))

  /** The POST-FILTER fused alternative, existing to be measured (the
    * [[annIvfFilteredPostTopK]] adjudication on the compressed rung):
    * run the UNFILTERED fused pipeline (ADC shortlist + rescore), take
    * the widened top-(widen·k), then apply the predicate and keep k.
    * Both lossy cuts (the ADC shortlist AND the widened rank cut)
    * happen before the predicate, so every slot they spend on
    * non-matching candidates is recall lost — matching the pre-filter
    * mode needs widen AND shortlist scaled by ~1/selectivity
    * ([[annFusedFilteredRecall]] prices exactly this). */
  def annIvfPqFilteredPostTopK(spark: SparkSession,
      table: String, queries: DataFrame, pred: Column, k: Int,
      nprobe: Int, widen: Int = 3, shortlist: Int = -1): DataFrame =
    postFilterCut(
      annIvfPqIndexedTopK(spark, table, queries, widen * k, nprobe,
          shortlist)
        .join(lists(spark, table).select(col("vec_id"), col("label")),
          Seq("vec_id")),
      pred, k)

  /** The predicate-DEPENDENT tail of the post-filter mode, split out so
    * the selectivity sweep can share one cached widened+labeled frame
    * across every predicate (the widened unfiltered probe is predicate-
    * independent by definition — that is the post-filter mode's whole
    * mistake): filter the widened candidates, re-rank, keep k. */
  private def postFilterCut(wideLabeled: DataFrame, pred: Column,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    wideLabeled
      .filter(pred)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(desc("cos"), col("vec_id"))))
      .filter(col("rank") <= k)
      .select(col("qid"), col("vec_id"), col("rank"), col("cos"),
        col("cell"))
      .orderBy(col("qid"), col("rank"))
  }

  /** Default ADC shortlist width PER PROBED CELL. The round-13 sweep
    * measured fixed-shortlist DILUTION: widening nprobe under a constant
    * shortlist can DROP recall (raw PQ 0.167 → 0.125 at nprobe 2 → 8 with
    * shortlist pinned at 10), because more probed candidates compete for
    * the same lossy ADC cut. The real tuning rule is shortlist ∝ nprobe,
    * so every lossy probe derives `shortlist = ShortlistPerProbe ×
    * nprobe` unless the caller overrides — at the default nprobe = 2
    * that is the historical 10, so single-point rows are unchanged. */
  val ShortlistPerProbe = 5

  /** Resolve the shortlist sentinel: a non-positive value means "derive
    * from nprobe" (the [[ShortlistPerProbe]] rule); positive values are
    * explicit caller overrides, honored as-is. private[graft]: the
    * oracle-SQL generators resolve through the SAME function, so the
    * engine and its oracles cannot derive different shortlists. */
  private[graft] def resolveShortlist(shortlist: Int, nprobe: Int): Int =
    if (shortlist > 0) shortlist else ShortlistPerProbe * nprobe

  /** The ORACLE-PARITY fixture convention: query vectors are the lowest
    * `nQueries` vec_ids, fetched by a point lookup from the lists. This
    * is the one read of the standing index outside the DPP-pruned probed
    * cells — at 100 TB a full-index (column-pruned, not cell-pruned)
    * scan per query batch for data the caller should supply, which is
    * why every indexed entry point also takes an external `queries`
    * DataFrame and this form is just its wrapper. */
  private def fixtureQueries(spark: SparkSession,
      table: String, nQueries: Int): DataFrame =
    lists(spark, table).filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("v"))

  /** The standing inverted lists as every PROBE sees them: the raw
    * cell-partitioned table anti-joined against the broadcast tombstone
    * sidecar when one exists ([[ivfIndexDelete]]) — a deleted vector can
    * never surface as a candidate (or fixture query anchor) between the
    * delete and the compaction that folds it away physically. Identity
    * when nothing was deleted; the anti-join is a broadcast hash join
    * above the scan, so the DPP cell pruning below it is untouched
    * (spec-asserted in `IndexDeleteSpec`). Ingest-side readers
    * (replay-skip, guard checks) deliberately read the RAW table — a
    * tombstoned id is still physically present and re-inserting it
    * before a compact must be refused, not shadowed. */
  private def lists(spark: SparkSession,
      table: String): DataFrame =
    graft.ops.Tombstones.filter(spark, table,
      spark.table(s"${table}_ivf"), "vec_id")

  /** DELETE vectors from the standing IVF index, every codec (all share
    * the `_ivf` lists): tombstones only, anti-joined by every probe,
    * folded by [[compactIvfIndex]] and filtered out of the corpus
    * [[retrainIfNeeded]] rebuilds from ([[StandingIndex.delete]]). */
  def ivfIndexDelete(table: String, ids: DataFrame): Unit =
    ivfIndex(ids.sparkSession, table).delete(ids)

  /** Normalize a caller-supplied (qid, v) query frame into the q0 form
    * every indexed entry point consumes (qid, qv, qnrm, xq). qnrm and xq
    * derive from v through the SAME expressions the index build stored
    * ([[withNorm]] / [[quantized]]), so external and fixture forms
    * return identical rows for identical vectors. */
  private def externalQ0(queries: DataFrame): DataFrame = {
    graft.functions.DotProduct.register(queries.sparkSession)
    queries.select(col("qid").cast("long").as("qid"),
        col("v").cast("array<double>").as("qv"))
      .withColumn("qnrm", sqrt(dot(col("qv"), col("qv"))))
      .withColumn("xq", quantized(col("qv")))
  }

  /** The nprobe nearest stored cells per query by exact integer distance
    * — ONE site for probe semantics, so a tie-break change cannot
    * diverge between codecs. */
  private def probesFor(q0: DataFrame, cent: DataFrame,
      nprobe: Int): DataFrame =
    graft.plans.TopK.perKeyMin(
        q0.join(broadcast(cent)).select(col("qid"),
          col("c_label").as("cell"), sqDist(col("xq"), col("cvec")).as("d2")),
        Seq("qid"), "d2", "cell", nprobe)
      .select(col("qid"), col("cell"))

  /** The ADC→exact tail shared by every lossy probe: the (d2, vec_id)
    * shortlist cut over ADC scores, then the raw-vector rescore — v is
    * read for the nQueries·shortlist survivors only, pruned to the
    * probed cells. */
  private def shortlistRescore(idx: DataFrame, q0: DataFrame,
      adc: DataFrame, k: Int, shortlist: Int): DataFrame = {
    val sl = graft.plans.TopK.perKeyMin(adc, Seq("qid"), "d2", "vec_id",
        shortlist)
      .select(col("qid"), col("vec_id"), col("cell"))
    val q = q0.select(col("qid"), col("qv"), col("qnrm"))
    val scored = idx.select(col("vec_id"), col("cell"), col("v"), col("nrm"))
      .join(broadcast(sl), Seq("cell", "vec_id"))
      .join(broadcast(q), Seq("qid"))
      .select(col("qid"), col("vec_id"), col("cell"), cos6.as("cos"))
    rankedCells(scored, k)
  }

  /** (vec_id, cell) only — the assignment exchange without the index
    * payload, for audits that never store the vectors. */
  private def cellsOnly(df: DataFrame, cent: DataFrame): DataFrame =
    vecs(df).withColumn("xq", quantized(col("v")))
      .join(broadcast(cent))
      .select(col("vec_id"), col("c_label"),
        sqDist(col("xq"), col("cvec")).as("d2"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d2"), col("c_label"))).as("best"))
      .select(col("vec_id"), col("best.c_label").as("cell"))

  /** Quantizer-drift audit: how many vectors sit in a different cell
    * under the base-trained (frozen) quantizer than full retraining
    * would put them — THE number that schedules re-training in the
    * ingest-vs-retrain trade [[ivfIndexDelta]] documents (drift near 0:
    * keep ingesting; rising drift: probed lists no longer match the data
    * distribution and recall decays). One row (n_vectors, n_moved,
    * drift); both assignments are exact integer-space argmins, so the
    * audit is engine-reproducible like everything else in the chain. */
  def annIvfDrift(embeddings: DataFrame, baseMod: Int = 5): DataFrame = {
    val baseCent = Centroids.centroidVectors(
      embeddings.filter(col("vec_id") % baseMod =!= 0))
    val fullCent = Centroids.centroidVectors(embeddings)
    val a = cellsOnly(embeddings, baseCent)
      .select(col("vec_id"), col("cell").as("base_cell"))
    val b = cellsOnly(embeddings, fullCent)
      .select(col("vec_id"), col("cell").as("full_cell"))
    a.join(b, "vec_id")
      .agg(count(lit(1)).as("n_vectors"),
        sum(when(col("base_cell") =!= col("full_cell"), 1L).otherwise(0L))
          .as("n_moved"))
      .select(col("n_vectors"), col("n_moved"),
        round(col("n_moved").cast("double") / col("n_vectors").cast("double"), 4)
          .as("drift"))
  }

  /** Drift-triggered RETRAIN policy — the [[compactIvfIfNeeded]] analog
    * for QUANTIZER decay, closing the ingest-vs-retrain trade
    * [[ivfIndexDelta]] documents: measure drift (fraction of corpus
    * vectors whose exact integer-space argmin cell under the STORED
    * frozen quantizer differs from one trained on the CURRENT corpus —
    * the [[annIvfDrift]] audit against the live index), and when it
    * reaches `minDrift`, retrain the quantizers and rebuild the lists
    * ([[buildIvfIndex]] over the current corpus, under the codec that
    * stands — a PQ index comes back PQ with the same code provenance, a
    * flat one flat). Unlike compaction this IS a retrain — cells move by
    * design; recall is restored at the price of one corpus re-read +
    * rebuild, which is why it runs behind a threshold instead of every
    * ingest. Provenance is recorded in `{table}_quantizer_log` (one row
    * per decision: corpus size, drift, threshold, fired) so index
    * lineage stays auditable. Returns the decision row (n_vectors,
    * n_moved, drift, threshold, retrained) — drift measured BEFORE any
    * rebuild, so the row is reproducible from the pre-decision state.
    * `corpus` is the source-of-truth embedding table (a retrain trains
    * on the corpus by definition). Vectors deleted through
    * [[ivfIndexDelete]] since the last compaction are filtered out of it
    * through the standing tombstones before both the decision and the
    * rebuild, so a retrain never resurrects them. */
  def retrainIfNeeded(spark: SparkSession,
      table: String, corpus: DataFrame, minDrift: Double): DataFrame = {
    val codec = Codec.stored(spark, table)
    // eager lineage cut: the rebuild drops the sidecar this filter reads
    val live =
      if (!spark.catalog.tableExists(graft.ops.Tombstones.sidecar(table)))
        corpus
      else graft.ops.Tombstones.filter(spark, table, corpus, "vec_id")
        .localCheckpoint()
    val stored = spark.table(s"${table}_centroids")
    val fresh = graft.CacheScope.track(Centroids.centroidVectors(live))
    // both assignment frames are cached BY LOGICAL PLAN: a second decision
    // in the same scope (the fires/no-op pair the oracle row runs) reuses
    // them instead of re-aggregating the corpus twice; a rebuild refreshes
    // the {table}_centroids relation, so a post-retrain decision
    // recomputes against the new quantizer (spec-gated: third decision
    // measures drift 0)
    val a = graft.CacheScope.track(cellsOnly(live, stored)
      .select(col("vec_id"), col("cell").as("stored_cell")))
    val b = graft.CacheScope.track(cellsOnly(live, fresh)
      .select(col("vec_id"), col("cell").as("fresh_cell")))
    val decision = a.join(b, "vec_id")
      .agg(count(lit(1)).as("n_vectors"),
        sum(when(col("stored_cell") =!= col("fresh_cell"), 1L).otherwise(0L))
          .as("n_moved"))
      .select(col("n_vectors"), col("n_moved"),
        round(col("n_moved").cast("double") / col("n_vectors").cast("double"), 4)
          .as("drift"))
      .withColumn("threshold", lit(minDrift))
      .withColumn("retrained", col("drift") >= col("threshold"))
      .localCheckpoint() // pin the decision before any rebuild mutates state
    if (decision.select(col("retrained")).collect()(0).getBoolean(0))
      buildIvfIndex(live, table, codec)
    decision.write.mode("append").format("parquet")
      .saveAsTable(s"${table}_quantizer_log")
    decision
  }

  /** Probe-bounded cosine RANGE search from a standing IVF index of any
    * codec — the indexed counterpart of [[nearDupPairs]] and the query
    * shape dedup/link-discovery actually runs at scale ("everything
    * within cosine t of these vectors", not top-k): candidates are the
    * DPP-pruned probed cells, scored with the exact rounded cosine, and
    * every row at or above `threshold` survives — no heap cut, so the
    * output is bounded by the true match count in the probed cells.
    * Recall is probe-bounded exactly like the top-k entry points
    * (nprobe is the knob); within the probed cells the result is EXACT
    * (no ADC prefilter — a lossy filter could silently drop true
    * matches, which a range query, unlike top-k, cannot tolerate). */
  def annIvfRangeSearch(spark: SparkSession,
      table: String, queries: DataFrame, threshold: Double,
      nprobe: Int): DataFrame =
    exactScored(lists(spark, table), externalQ0(queries),
        spark.table(s"${table}_centroids"), nprobe)
      .filter(col("cos") >= threshold)
      .select(col("qid"), col("vec_id"), round(col("cos"), 4).as("cos"),
        col("cell"))
      .orderBy(col("qid"), col("vec_id"))

  def annIvfRangeSearch(spark: SparkSession,
      table: String, nQueries: Int = 8, threshold: Double = 0.25,
      nprobe: Int = 2): DataFrame =
    annIvfRangeSearch(spark, table, fixtureQueries(spark, table, nQueries),
      threshold, nprobe)

  /** Standing-index maintenance stats — the 1-row introspection a
    * scheduled maintenance job reads before anything else: inverted-list
    * size distribution and the imbalance factor max/avg, the number that
    * predicts probe skew (a probe landing on the hottest cell reads
    * imbalance× the average list) and motivates re-training or cell
    * splitting long before recall decays. One slim scan of the cell
    * column (never v), one tiny aggregate.
    *
    * PHYSICAL stats by design: between an [[ivfIndexDelete]] and its
    * compaction the list sizes include tombstoned vectors — a probe's
    * scan cost IS the physical list until compaction rewrites it, and
    * maintenance decisions (compact, split, retrain) price the physical
    * layout, not the logical corpus. */
  def annIvfIndexStats(spark: SparkSession,
      table: String): DataFrame = {
    val sizes = spark.table(s"${table}_ivf")
      .groupBy(col("cell")).agg(count(lit(1)).as("n"))
    sizes.agg(
        count(lit(1)).as("n_cells"),
        sum(col("n")).as("n_vectors"),
        min(col("n")).as("min_list"),
        max(col("n")).as("max_list"),
        round(avg(col("n")), 4).as("avg_list"))
      .withColumn("imbalance",
        round(col("max_list").cast("double") / col("avg_list"), 4))
  }

  /** nprobe/recall sensitivity sweep across the compression ladder —
    * the `dedup_threshold_sweep` pattern applied to ANN tuning: one row
    * per (rung, nprobe) with recall@k against the brute-force truth,
    * pricing the recall/IO trade the single-point ladder numbers can't.
    * The round-13 sweep ran a FIXED shortlist and measured the dilution
    * effect (raw PQ recall DROPPING 0.167 → 0.125 at nprobe 8 — more
    * probed candidates under the same lossy ADC cut); since round 14 the
    * sweep runs the entry points' own derived default,
    * `shortlist = ShortlistPerProbe × nprobe` (override via
    * `shortlistPerProbe`), so the row now prices the tuning rule a
    * deployment actually uses — and recall is monotone in nprobe at
    * defaults (spec-asserted for all three rungs). All three rungs
    * serve from standing indexes over the same corpus; the truth side is
    * the already-oracled brute-force chain, so every recall value is
    * engine-reproducible. */
  def annNprobeSweep(spark: SparkSession,
      embeddings: DataFrame, tPq: String, tRes: String, tSq: String,
      nQueries: Int = 8, k: Int = 3,
      shortlistPerProbe: Int = ShortlistPerProbe,
      nprobes: Seq[Int] = Seq(1, 2, 4, 8)): DataFrame = {
    val truth = graft.CacheScope.track(
      bruteForceTopK(embeddings, nQueries, k)
        .select(col("qid"), col("vec_id")))
    val rows = for (np <- nprobes; (rung, res) <- Seq(
        "pq" -> (() => annIvfPqIndexedTopK(spark, tPq, nQueries, k, np,
          shortlistPerProbe * np)),
        "residual" -> (() => annIvfPqResidualTopK(spark, tRes, nQueries, k,
          np, shortlistPerProbe * np)),
        "sq8" -> (() => annIvfSqIndexedTopK(spark, tSq, nQueries, k, np,
          shortlistPerProbe * np)))) yield {
      val ann = res().select(col("qid").as("aqid"), col("vec_id").as("avid"))
      truth.join(ann,
          col("qid") === col("aqid") && col("vec_id") === col("avid"),
          "left_outer")
        .agg(round(count(col("avid")).cast("double")
          / count(lit(1)).cast("double"), 4).as("recall"))
        .select(lit(rung).as("rung"), lit(np).as("nprobe"), col("recall"))
    }
    rows.reduce(_.unionAll(_)).orderBy(col("rung"), col("nprobe"))
  }

  /** The sweep turned into a DECISION: per rung, the smallest swept
    * nprobe whose measured recall meets `target` — or the widest swept
    * one with `met = false` when none does (the honest answer: this
    * rung cannot reach the target at this shortlist scaling; move up
    * the compression ladder or widen the shortlist, both measured
    * trades recorded in BASELINE). Pure view-sized fold over the sweep
    * rows, factored out so the picking rule is testable without
    * standing indexes. */
  def nprobePick(sweep: DataFrame, target: Double): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("rung"))
    sweep
      .withColumn("_pick", coalesce(
        min(when(col("recall") >= target, col("nprobe"))).over(w),
        max(col("nprobe")).over(w)))
      .filter(col("nprobe") === col("_pick"))
      .select(col("rung"), col("nprobe"), col("recall"),
        (col("recall") >= target).as("met"))
      .orderBy(col("rung"))
  }

  /** Two-knob tuning grid: the base nprobe sweep at the default
    * shortlist rule (shortlist = [[ShortlistPerProbe]] × nprobe), PLUS
    * shortlist-escalation legs — each escalation multiplier re-measured
    * at the WIDEST swept nprobe only. Rationale: probe width drives
    * candidate IO (each probe reads a whole inverted list), so nprobe is
    * exhausted first; the shortlist only widens the raw-vector rescore
    * join over already-read candidates, so it is the cheap second knob —
    * escalated exactly when the widest probe still misses the target
    * (measured here: raw PQ, whose ADC distortion under-ranks true
    * neighbors below the default cut — recall 0.58 → 0.75 from slpp 5 →
    * 10 at nprobe 8 while residual/SQ8 never need the second knob).
    * Output: (rung, nprobe, shortlist_per_probe, recall). */
  def annParamSweep(spark: SparkSession,
      embeddings: DataFrame, tPq: String, tRes: String, tSq: String,
      nQueries: Int = 8, k: Int = 3,
      nprobes: Seq[Int] = Seq(1, 2, 4, 8),
      escalateMults: Seq[Int] = Seq(2, 4, 8)): DataFrame = {
    val base = annNprobeSweep(spark, embeddings, tPq, tRes, tSq,
        nQueries, k, ShortlistPerProbe, nprobes)
      .withColumn("shortlist_per_probe", lit(ShortlistPerProbe))
    val esc = escalateMults.map { m =>
      annNprobeSweep(spark, embeddings, tPq, tRes, tSq, nQueries, k,
          ShortlistPerProbe * m, Seq(nprobes.max))
        .withColumn("shortlist_per_probe", lit(ShortlistPerProbe * m))
    }
    (base +: esc).reduce(_.unionByName(_))
      .select(col("rung"), col("nprobe"), col("shortlist_per_probe"),
        col("recall"))
  }

  /** The grid pick: per rung the CHEAPEST (shortlist_per_probe, nprobe)
    * meeting `target` — lexicographic, shortlist first, because a wider
    * shortlist leg only exists at the widest nprobe and a base-rule pick
    * at ANY nprobe is cheaper than escalating the rescore width; the
    * widest grid point with met=false when nothing meets. Same
    * view-sized testable fold shape as [[nprobePick]]. */
  def paramPick(sweep: DataFrame, target: Double): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("rung"))
    val key = col("shortlist_per_probe") * lit(100000) + col("nprobe")
    sweep
      .withColumn("_key", key)
      .withColumn("_pick", coalesce(
        min(when(col("recall") >= target, col("_key"))).over(w),
        max(col("_key")).over(w)))
      .filter(col("_key") === col("_pick"))
      .select(col("rung"), col("nprobe"), col("shortlist_per_probe"),
        col("recall"), (col("recall") >= target).as("met"))
      .orderBy(col("rung"))
  }

  /** AUTO-TUNED probe width AND shortlist width across the compression
    * ladder: run the measured two-knob grid ([[annParamSweep]]) on the
    * warm indexes and pick per rung with [[paramPick]]. Since round 17
    * the tuner escalates the shortlist when the widest probe misses the
    * target, so every rung that CAN meet it reports its cheapest
    * meeting config (raw PQ: nprobe 8 × slpp 10) instead of a dead-end
    * met=false at the fixed rule. At 100 TB the grid runs on a sampled
    * validation slice once per index generation; the chosen config then
    * serves every query — tuning cost amortized, recall target explicit
    * instead of folklore. */
  def annNprobeAutoTune(spark: SparkSession,
      embeddings: DataFrame, tPq: String, tRes: String, tSq: String,
      target: Double = 0.7): DataFrame =
    paramPick(annParamSweep(spark, embeddings, tPq, tRes, tSq), target)

  /** Recall@k of the trained-IVF path against the brute-force truth —
    * the companion of [[annRecall]]: that row prices sign-sketch bucket
    * pruning, this one prices nprobe-bounded probing of TRAINED cells.
    * Both sides are oracled chains; the join is nQueries·k rows. */
  def annIvfTrainedRecall(embeddings: DataFrame, nQueries: Int = 8,
      k: Int = 3, nprobe: Int = 2): DataFrame = {
    val bf = bruteForceTopK(embeddings, nQueries, k)
      .select(col("qid"), col("vec_id"))
    val ann = annIvfTrainedTopK(embeddings, nQueries, k, nprobe)
      .select(col("qid").as("aqid"), col("vec_id").as("avid"))
    bf.join(ann, col("qid") === col("aqid") && col("vec_id") === col("avid"),
        "left_outer")
      .groupBy(col("qid"))
      .agg(round(count(col("avid")).cast("double") / count(lit(1)).cast("double"), 4)
        .as("recall"))
      .orderBy(col("qid"))
  }

  /** Recall@k of the multi-probe ANN against the brute-force ground truth —
    * the number that prices the ANN's candidate pruning: "the structure
    * scales" is only half the story; this measures what the pruning costs
    * in quality (per query id, the fraction of the true top-k the ANN
    * recovered). Both sides are the already-oracled queries, so the join is
    * tiny (nQueries·k rows each); recall ∈ [0, 1] with 1 = lossless. */
  def annRecall(embeddings: DataFrame, nQueries: Int = 8, k: Int = 3): DataFrame = {
    val bf = bruteForceTopK(embeddings, nQueries, k)
      .select(col("qid"), col("vec_id"))
    val ann = annMultiProbeTopK(embeddings, nQueries, k)
      .select(col("qid").as("aqid"), col("vec_id").as("avid"))
    bf.join(ann, col("qid") === col("aqid") && col("vec_id") === col("avid"),
        "left_outer")
      .groupBy(col("qid"))
      .agg(round(count(col("avid")).cast("double") / count(lit(1)).cast("double"), 4)
        .as("recall"))
      .orderBy(col("qid"))
  }

  /** Hard-negative mining for contrastive training: per query, the top-k
    * most-similar in-bucket vectors BELOW the positive threshold — near
    * misses, not duplicates; the negatives that actually teach an
    * embedding model. Same bucket equi-join + broadcast probe shape as
    * [[annTopK]]; the positive cut (the [[nearDupPairs]] threshold)
    * drops would-be positives before ranking, so the window ranks only
    * the negative sliver. */
  def hardNegatives(embeddings: DataFrame, nQueries: Int = 8, k: Int = 3,
      posThreshold: Double = 0.25): DataFrame = {
    val e = withNorm(vecs(embeddings)).withColumn("bucket", bucketCol(col("v")))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qnrm"), col("bucket"))
    val scored = e.join(broadcast(q), Seq("bucket"))
      .filter(col("vec_id") =!= col("qid"))
      // the positive cut drops would-be positives BEFORE the heap cut, so
      // the bounded heaps (and the rank window over their output) see only
      // the negative sliver, slimmed to scalar columns
      .select(col("qid"), col("vec_id"), cos6.as("cos"))
      .filter(col("cos") < posThreshold)
    rankedTopKPerQuery(scored, k)
      .select(col("qid"), col("vec_id"), col("rank"),
        round(col("cos"), 4).as("cos"))
      .orderBy(col("qid"), col("rank"))
  }

  /** Blocked near-duplicate pairs: sampled anchors joined only against
    * vectors in the same `label` block (the IVF/LSH-bucket join shape),
    * keeping pairs above a cosine threshold. */
  def nearDupPairs(embeddings: DataFrame, anchorMod: Int = 100,
      threshold: Double = 0.25): DataFrame = {
    val e = withNorm(vecs(embeddings))
    val anchors = e.filter(col("vec_id") % anchorMod === 0)
      .select(col("vec_id").as("src"), col("label"),
        col("v").as("av"), col("nrm").as("anrm"))
    anchors.join(
        e.withColumnRenamed("vec_id", "dst"), Seq("label"))
      .filter(col("src") =!= col("dst"))
      .withColumn("cos",
        round(cosFromNorms(col("av"), col("v"), col("anrm"), col("nrm")), 4))
      .filter(col("cos") >= threshold)
      .select(col("src"), col("dst"), col("cos"))
      .orderBy(col("src"), col("dst"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space with the trained
    * coarse quantizer (the [[Centroids.kmeansAssign]] argmin cells — the
    * paper's k-means step), then inside each cell drop every vector that
    * has a MORE-CANONICAL semantic duplicate at cosine >= `threshold`.
    * Canonical follows the paper's keep rule — LOWER cosine to the own
    * cell centroid survives ("we keep the one with the lowest similarity
    * to the centroid") — made a strict total order by a vec_id tiebreak,
    * so the keep set is deterministic and within a duplicate clique
    * exactly the minimal (ccos, vec_id) element survives.
    *
    * Unlike [[nearDupPairs]] (a pair LISTING over sampled anchors), this
    * produces the per-vector keep/drop DECISION over the whole corpus —
    * the thing a curation pipeline actually consumes.
    *
    * Shape at 100 TB: centroids are a broadcast; assignment is one slim
    * row per vector; the only quadratic piece is the within-cell pair
    * join, and the paper's own scale knob applies directly — cluster
    * count grows with the corpus (SemDeDup uses 50k clusters on LAION),
    * holding cell population and the per-cell candidate set flat. The
    * cell equi-join is the shape that survives; k = |labels| here only
    * because the quantizer is label-seeded (one deterministic k-means
    * round, the [[annIvfTrainedTopK]] contract). */
  def semanticDedup(embeddings: DataFrame, threshold: Double = 0.35): DataFrame = {
    val cent = graft.CacheScope.track(Centroids.centroidVectors(embeddings))
    // ccos = cosine to the OWN cell's centroid (the canonical order), on
    // the integer-trained centroids decoded to doubles — both engines
    // decode c6/1e6 the same way, and the 6-decimal rounding absorbs
    // last-ulp divergence before ccos is COMPARED (not just displayed)
    val cv = transform(col("cvec"), c => c.cast("double") / lit(1000000.0))
    val celled = graft.CacheScope.track(
      assignedCells(embeddings, cent)
        .join(broadcast(cent), col("cell") === col("c_label"))
        .withColumn("ccos",
          round(cosFromNorms(col("v"), cv, col("nrm"), sqrt(dot(cv, cv))), 6))
        .select(col("vec_id"), col("v"), col("nrm"), col("cell"), col("ccos")))
    val lhs = celled.select(col("vec_id").as("src"), col("cell"),
      col("v").as("av"), col("nrm").as("anrm"), col("ccos").as("accos"))
    // dropped ⇔ ∃ same-cell neighbor strictly more canonical at cos >= t;
    // equi-join on cell (never all-pairs), DISTINCT collapses witnesses
    // to one slim row per dropped vector before the flag join
    val dropped = celled.join(lhs, Seq("cell"))
      .filter(col("accos") < col("ccos") ||
        (col("accos") === col("ccos") && col("src") < col("vec_id")))
      .filter(round(cosFromNorms(col("av"), col("v"), col("anrm"), col("nrm")), 6)
        >= threshold)
      .select(col("vec_id")).distinct()
      .withColumn("kept", lit(false))
    celled.select(col("vec_id"), col("cell"), round(col("ccos"), 4).as("ccos"))
      .join(dropped, Seq("vec_id"), "left_outer")
      .withColumn("kept", coalesce(col("kept"), lit(true)))
      .orderBy(col("vec_id"))
  }

  /** Round-half-up at 6 decimals — mirrors Spark SQL `round(x, 6)` and
    * DuckDB `round(x, 6)` (both ties-away-from-zero on decimal digits),
    * so the driver-side greedy compares the same numbers the oracle
    * does. */
  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** MMR (Maximal Marginal Relevance, Carbonell & Goldstein SIGIR'98)
    * diversified top-k — the diversity-selection shape a training-data
    * pipeline uses to avoid filling a retrieval budget with near-copies:
    * greedily pick argmax of `λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s)`.
    *
    * Scale shape: the corpus-sized work is ONE shortlist ranking (here
    * the brute-force broadcast pass every `sim_*` baseline uses; the
    * warm IVF index serves the same shortlist at scale) cut to
    * `shortlist` rows, plus the shortlist's own pair-sim self-join
    * (shortlist² = 900 rows — candidate-capped, corpus-independent).
    * The greedy itself is O(k·shortlist) on that bounded frame and runs
    * driver-side over collected METADATA (ids + rounded sims — never
    * embeddings, never corpus-sized; the same bounded-decision class as
    * the autotune pick). Determinism: every comparison happens on
    * 6-decimal-rounded cosines with vec_id tiebreaks, the cross-engine
    * contract all ANN rows share, so the DuckDB oracle's unrolled greedy
    * reproduces the selection bit-for-bit. */
  def mmrRerank(embeddings: DataFrame, anchorId: Long = 0L,
      shortlist: Int = 30, k: Int = 8, lambda: Double = 0.7): DataFrame = {
    val e = withNorm(vecs(embeddings))
    val q = e.filter(col("vec_id") === anchorId)
      .select(col("v").as("qv"), col("nrm").as("qnrm"))
    val cands = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= anchorId)
      .withColumn("rel", cos6)
      .orderBy(desc("rel"), col("vec_id")).limit(shortlist)
      .select(col("vec_id"), col("v"), col("nrm"), col("rel"))
    mmrGreedy(cands, k, lambda)
  }

  /** [[mmrRerank]] served from the STANDING IVF index — the form a
    * 100 TB deployment runs: the shortlist comes from the DPP-pruned
    * probed cells (never a corpus-wide ranking), candidate vectors come
    * back from the lists via one broadcast-semi probe, and the greedy is
    * byte-identical to the scan form's. The oracle mirrors the probe
    * (same trained-IVF chain as every `sim_ann_ivf_*` row) and the same
    * unrolled greedy. */
  def mmrRerankIndexed(spark: SparkSession,
      table: String, anchorId: Long = 0L, shortlist: Int = 30, k: Int = 8,
      lambda: Double = 0.7, nprobe: Int = 2): DataFrame = {
    val ids = annIvfIndexedTopK(spark, table, 1, shortlist, nprobe)
      .filter(col("qid") === anchorId).select(col("vec_id"))
    val lst = lists(spark, table)
    val anchor = lst.filter(col("vec_id") === anchorId)
      .select(col("v").as("qv"), col("nrm").as("qnrm"))
    val cands = lst.join(broadcast(ids), "vec_id")
      .crossJoin(broadcast(anchor))
      .select(col("vec_id"), col("v"), col("nrm"), cos6.as("rel"))
    mmrGreedy(cands, k, lambda)
  }

  /** The greedy core shared by the scan and index-served MMR forms —
    * runs over an already-built candidate frame (vec_id, v, nrm, rel);
    * collects only ids + rounded sims (bounded by the shortlist cap). */
  private def mmrGreedy(cands0: DataFrame, k: Int,
      lambda: Double): DataFrame = {
    val spark = cands0.sparkSession
    val cands = graft.CacheScope.track(cands0)
    val rels = cands.select(col("vec_id"), col("rel"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
      .sortBy(_._1)
    val sims = cands.select(col("vec_id").as("a"), col("v").as("av"),
        col("nrm").as("an"))
      .join(cands.select(col("vec_id").as("b"), col("v").as("bv"),
        col("nrm").as("bn")), col("a") < col("b"))
      .select(col("a"), col("b"),
        round(cosFromNorms(col("av"), col("bv"), col("an"), col("bn")), 6)
          .as("sim"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    def sim(x: Long, y: Long): Double =
      if (x < y) sims((x, y)) else sims((y, x))
    val relOf = rels.toMap
    // (1 − λ) in binary is NOT the double the oracle's decimal literal
    // parses to (1−0.7 = 0.30000000000000004 ≠ nearest(0.3)) — snap it
    val mu = round6(1 - lambda)
    var selected = Vector.empty[Long]
    var remaining = rels.map(_._1).toVector
    for (_ <- 1 to math.min(k, rels.length)) {
      val pick =
        if (selected.isEmpty) remaining.maxBy(c => (relOf(c), -c))
        else remaining.maxBy { c =>
          val ms = selected.map(s => sim(c, s)).max
          (round6(lambda * relOf(c) - mu * ms), -c)
        }
      selected = selected :+ pick
      remaining = remaining.filterNot(_ == pick)
    }
    import spark.implicits._
    selected.zipWithIndex
      .map { case (id, i) => (i + 1, id, relOf(id)) }
      .toDF("rank", "vec_id", "rel")
      .orderBy(col("rank"))
  }
}
