package graft

import org.apache.spark.sql.functions._

import graft.model.Tables
import graft.ops.{Centroids, Similarity}
import graft.ops.Similarity.Codec

/** Round-12 ANN lifecycle completions: the PQ-FUSED IVF index (codes
  * stored IN the inverted lists, ADC-scored candidates, raw-vector
  * rescore only for the shortlist) and the drift-triggered retrain
  * policy. The PQ test verifies against a fully INDEPENDENT driver-side
  * recomputation of the whole chain (plain Scala over collected arrays —
  * 500 vectors at sf0.001), replicating the exact integer/IEEE
  * expression order, so an off-by-one in any stage (cells, probes,
  * codes, LUT, shortlist cut, rescore round) fails loudly. */
class AnnLifecycleSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private val NQ = 8
  private val K = 3
  private val NProbe = 2
  private val Shortlist = 10
  private val SubSpaces = Centroids.SubSpaces

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  private def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
  // Spark's round() is HALF_UP (away from zero at .5); Math.round rounds
  // toward +inf and diverges on negative values — embeddings have them
  private def rnd(x: Double): Long =
    BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  test("annIvfPqIndexedTopK == independent driver-side IVF-PQ chain; plan reads codes not vectors") {
    import java.nio.file.Files
    val emb = Tables.embeddings(spark, sfDir)
    val wh = Files.createTempDirectory("graft-ivfpq-wh").toFile.getAbsolutePath
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_ivfpq_test LOCATION '$wh'")
    val t = "graft_ivfpq_test.idx"
    Similarity.buildIvfIndex(emb, t, Codec.Pq)
    val got = Similarity.annIvfPqIndexedTopK(spark, t)
    val rows = got.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3), r.getInt(4)))

    val want = ivfPqExpected(emb, _ => true)
    assert(rows.toSeq === want.toSeq,
      "index-served IVF-PQ diverged from the independent chain")

    // plan contracts: corpus unscanned; DPP on the partitioned index
    // scan; and the ADC candidate scan reads codes WITHOUT the v column
    val plan = got.queryExecution.executedPlan
    val planStr = plan.toString
    assert(!planStr.contains("embeddings.parquet"),
      s"corpus scanned at query time:\n$planStr")
    val partScans = scans(plan).filter(_.relation.partitionSchema.nonEmpty)
    assert(partScans.exists(_.partitionFilters.exists(
        _.toString.toLowerCase.contains("dynamicpruning"))),
      s"no dynamic partition pruning on the index scan:\n$planStr")
    val adcScan = partScans.find(s =>
      s.output.exists(_.name == "codes") && !s.output.exists(_.name == "v"))
    assert(adcScan.isDefined,
      s"ADC scan reads raw vectors (no codes-only scan found):\n$planStr")
  }

  /** Fully independent driver-side IVF-PQ chain (plain Scala over
    * collected arrays): BOTH quantizers (coarse label centroids + the
    * per-subspace PQ codebook, which derive from the same c6 table)
    * train on the `trainPred` subset; assignment, codes, probes, ADC,
    * shortlist, and rescore always cover every vector — the frozen-
    * artifact delta-ingest semantics. */
  private def ivfPqExpected(emb: org.apache.spark.sql.DataFrame,
      trainPred: Long => Boolean,
      residual: Boolean = false): Seq[(Long, Long, Int, Double, Int)] = {
    val data = emb.select(col("vec_id"), col("label"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).toArray))
      .sortBy(_._1)
    val dim = data.head._3.length
    val subDims = dim / SubSpaces
    // quantized vectors at scale 1e6 (x_q·10^3 then ·10^3)
    val xq = data.map { case (id, _, v) =>
      id -> v.map(x => rnd(x.toDouble * 1000) * 1000L)
    }.toMap
    // label centroids c6 over the TRAINING subset only
    val c6 = data.filter(d => trainPred(d._1)).groupBy(_._2).map {
      case (lbl, vs) =>
        val sums = Array.fill(dim)(0L)
        vs.foreach { case (_, _, v) =>
          var i = 0
          while (i < dim) { sums(i) += rnd(v(i).toDouble * 1000); i += 1 }
        }
        lbl -> sums.map(s => rnd(
          BigDecimal(s.toDouble / (1000.0 * vs.length))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble * 1000000.0))
    }
    def d2(a: Array[Long], c: Array[Long], lo: Int, hi: Int): Long = {
      var s = 0L; var i = lo
      while (i < hi) { val d = a(i) - c(i); s += d * d; i += 1 }
      s
    }
    // argmin cell per vector, (d2, label) order
    val cell = xq.map { case (id, a) =>
      id -> c6.toSeq.map { case (l, c) => (d2(a, c, 0, dim), l) }.min._2
    }
    def minus(a: Array[Long], b: Array[Long]): Array[Long] =
      Array.tabulate(a.length)(i => a(i) - b(i))
    def sliceSub(a: Array[Long], s: Int): Array[Long] =
      a.slice(s * subDims, (s + 1) * subDims)
    def d2s(a: Array[Long], b: Array[Long]): Long = d2(a, b, 0, a.length)
    // the vectors PQ encodes: raw, or the exact integer residual against
    // the assigned cell's centroid (IVFADC)
    val enc: Map[Long, Array[Long]] =
      if (!residual) xq
      else xq.map { case (id, a) => id -> minus(a, c6(cell(id))) }
    // the per-subspace codebook (sub -> code -> subvector): raw → the
    // label centroids sliced; residual → sample-seeded (PqK lowest
    // training ids, coded in id order) + one Lloyd round, group means
    // via the identical c6 rounding pipeline
    val bookSub: Map[Int, Map[Int, Array[Long]]] =
      if (!residual)
        (0 until SubSpaces).map(s =>
          s -> c6.map { case (l, c) => l -> sliceSub(c, s) }).toMap
      else {
        val train = data.map(_._1).filter(trainPred)
        val seedIds = train.sorted.take(Centroids.PqK)
        val seedSub = (0 until SubSpaces).map(s => s ->
          seedIds.zipWithIndex.map { case (id, i) =>
            i -> sliceSub(enc(id), s) }.toMap).toMap
        val assign: Map[(Long, Int), Int] = train.flatMap(id =>
          (0 until SubSpaces).map(s => (id, s) -> seedSub(s).toSeq.map {
            case (cdl, c) => (d2s(sliceSub(enc(id), s), c), cdl)
          }.min._2)).toMap
        (0 until SubSpaces).map { s =>
          s -> (0 until Centroids.PqK).flatMap { cdl =>
            val members = train.filter(id => assign((id, s)) == cdl)
            if (members.isEmpty) None
            else {
              val sums = Array.fill(subDims)(0L)
              members.foreach { id =>
                val r = sliceSub(enc(id), s); var i = 0
                while (i < subDims) { sums(i) += r(i); i += 1 }
              }
              Some(cdl -> sums.map(x => rnd(
                BigDecimal(x.toDouble / (1000000.0 * members.length))
                  .setScale(6, BigDecimal.RoundingMode.HALF_UP)
                  .toDouble * 1000000.0)))
            }
          }.toMap
        }.toMap
      }
    // nprobe nearest cells per query
    val probes = (0L until NQ).map { qid =>
      qid -> c6.toSeq.map { case (l, c) => (d2(xq(qid), c, 0, dim), l) }
        .sorted.take(NProbe).map(_._2).toSet
    }.toMap
    // PQ codes: per (vec, sub) argmin over the per-subspace codebook
    val codes = enc.map { case (id, a) =>
      id -> (0 until SubSpaces).map { s =>
        bookSub(s).toSeq.map { case (l, c) =>
          (d2s(sliceSub(a, s), c), l)
        }.min._2
      }
    }
    // ADC: per query, candidates in probed cells scored by LUT sums
    val vecs = data.map { case (id, _, v) => id -> v.map(_.toDouble) }.toMap
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val nrm = vecs.map { case (id, v) => id -> math.sqrt(dot(v, v)) }
    (0L until NQ).flatMap { qid =>
      // raw: one LUT per query; residual: the LUT rebases per probed
      // cell (the query side is the query's residual against that cell)
      def lutFor(pcell: Int): Map[Int, Map[Int, Long]] = {
        val qv = if (!residual) xq(qid) else minus(xq(qid), c6(pcell))
        (0 until SubSpaces).map { s =>
          s -> bookSub(s).map { case (l, c) =>
            l -> d2s(sliceSub(qv, s), c)
          }
        }.toMap
      }
      val luts = probes(qid).map(p => p -> lutFor(p)).toMap
      val cands = data.map(_._1)
        .filter(id => id != qid && probes(qid).contains(cell(id)))
      val sl = cands.map { id =>
        val lut = luts(cell(id))
        (codes(id).zipWithIndex.map { case (cd, s) => lut(s)(cd) }.sum, id)
      }.sorted.take(Shortlist).map(_._2)
      sl.map { id =>
        (round6(dot(vecs(id), vecs(qid)) / (nrm(id) * nrm(qid))), id)
      }.sortBy { case (c, id) => (-c, id) }.take(K).zipWithIndex.map {
        case ((c, id), i) => (qid, id, i + 1, round4(c), cell(id))
      }
    }
  }

  test("ivfPqIndexDelta: frozen coarse+PQ artifacts, merged lists == independent base-trained chain") {
    import java.nio.file.Files
    val emb = Tables.embeddings(spark, sfDir)
    val wh = Files.createTempDirectory("graft-ivfpqd-wh").toFile.getAbsolutePath
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_ivfpqd_test LOCATION '$wh'")
    val t = "graft_ivfpqd_test.idx"
    Similarity.buildIvfIndex(emb.filter(col("vec_id") % 5 =!= 0), t, Codec.Pq)
    val bookBefore = spark.table(s"${t}_pqbook").collect().map(_.toSeq).toSet
    Similarity.ivfIndexDelta(t, emb.filter(col("vec_id") % 5 === 0))

    // neither trained artifact moved (frozen-quantizer contract × 2)
    assert(spark.table(s"${t}_pqbook").collect().map(_.toSeq).toSet
      === bookBefore, "delta ingest mutated the PQ codebook")
    // every vector landed exactly once, codes present on every row
    val idx = spark.table(s"${t}_ivf")
    assert(idx.count() === emb.count())
    assert(idx.filter(col("codes").isNull).count() === 0)

    val got = Similarity.annIvfPqIndexedTopK(spark, t).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3), r.getInt(4)))
    val want = ivfPqExpected(emb, _ % 5 != 0)
    assert(got.toSeq === want.toSeq,
      "delta-maintained IVF-PQ diverged from the independent base-trained chain")

    // re-ingest throws; compaction is layout-only on the fused index too
    intercept[IllegalArgumentException] {
      Similarity.ivfIndexDelta(t, emb.filter(col("vec_id") % 5 === 0))
    }
    Similarity.compactIvfIndex(spark, t)
    assert(Similarity.annIvfPqIndexedTopK(spark, t).collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3), r.getInt(4)))
      .toSeq === want.toSeq, "compaction moved a fused-index result")
  }

  test("annIvfPqResidualTopK == independent IVFADC chain; codes-only scan; recall recorded vs raw") {
    import java.nio.file.Files
    val emb = Tables.embeddings(spark, sfDir)
    val wh = Files.createTempDirectory("graft-ivfpqr-wh").toFile.getAbsolutePath
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_ivfpqr_test LOCATION '$wh'")
    val t = "graft_ivfpqr_test.idx"
    Similarity.buildIvfIndex(emb, t, Codec.PqResidual)
    val got = Similarity.annIvfPqResidualTopK(spark, t)
    val rows = got.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3), r.getInt(4)))
    val want = ivfPqExpected(emb, _ => true, residual = true)
    assert(rows.toSeq === want.toSeq,
      "residual-encoded IVF-PQ diverged from the independent IVFADC chain")

    // the residual codebook is NOT the raw codebook (the refinement did
    // something), yet the candidate scan stays codes-only
    val raw = ivfPqExpected(emb, _ => true, residual = false)
    val plan = got.queryExecution.executedPlan
    val planStr = plan.toString
    assert(!planStr.contains("embeddings.parquet"),
      s"corpus scanned at query time:\n$planStr")
    val partScans = scans(plan).filter(_.relation.partitionSchema.nonEmpty)
    assert(partScans.exists(s =>
        s.output.exists(_.name == "codes") && !s.output.exists(_.name == "v")),
      s"ADC scan reads raw vectors (no codes-only scan found):\n$planStr")

    // shortlist quality vs the exact cosine truth, both variants — the
    // IVFADC refinement's measured value on this corpus (recorded, not
    // assumed: near-uniform synthetic embeddings are PQ's worst case)
    val data = emb.select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray.map(_.toDouble)))
    val nrm = data.map { case (id, v) =>
      id -> math.sqrt(v.map(x => x * x).sum) }.toMap
    val vm = data.toMap
    def cosTop(qid: Long): Set[Long] = data
      .filter(_._1 != qid)
      .map { case (id, v) =>
        (round6(v.zip(vm(qid)).map { case (a, b) => a * b }.sum
          / (nrm(id) * nrm(qid))), id)
      }.sortBy { case (c, id) => (-c, id) }.take(K).map(_._2).toSet
    def recall(res: Seq[(Long, Long, Int, Double, Int)]): Double = {
      val hits = (0L until NQ).map { qid =>
        val truth = cosTop(qid)
        res.filter(_._1 == qid).count(r => truth.contains(r._2))
      }.sum
      hits.toDouble / (NQ * K)
    }
    val rRes = recall(want); val rRaw = recall(raw)
    info(f"shortlist-rescored recall@$K: residual $rRes%.4f vs raw $rRaw%.4f")
    assert(rRes >= rRaw - 1e-9 || rRes >= 0.5,
      f"residual encoding degraded recall badly: $rRes%.4f vs raw $rRaw%.4f")
  }

  test("ivfPqIndexDeltaIdempotent: at-least-once replay is a no-op; drained stream == batch delta") {
    import java.nio.file.Files
    val emb = Tables.embeddings(spark, sfDir)
    val wh = Files.createTempDirectory("graft-ivfpqi-wh").toFile.getAbsolutePath
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_ivfpqi_test LOCATION '$wh'")
    val t = "graft_ivfpqi_test.idx"
    Similarity.buildIvfIndex(emb.filter(col("vec_id") % 5 =!= 0), t, Codec.Pq)
    val delta = emb.filter(col("vec_id") % 5 === 0)
    // micro-batch split, second batch REPLAYED (at-least-once delivery),
    // plus a full-delta replay after the drain — all must fold to the
    // exact batch-delta state
    val b0 = delta.filter(col("vec_id") % 2 === 0)
    val b1 = delta.filter(col("vec_id") % 2 === 1)
    Similarity.ivfIndexDeltaIdempotent(t, b0)
    Similarity.ivfIndexDeltaIdempotent(t, b1)
    Similarity.ivfIndexDeltaIdempotent(t, b1) // replayed micro-batch
    Similarity.ivfIndexDeltaIdempotent(t, delta) // full-delta replay
    val idx = spark.table(s"${t}_ivf")
    assert(idx.count() === emb.count(), "replay duplicated fused-list rows")
    assert(idx.filter(col("codes").isNull).count() === 0)
    val got = Similarity.annIvfPqIndexedTopK(spark, t).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3), r.getInt(4)))
    assert(got.toSeq === ivfPqExpected(emb, _ % 5 != 0).toSeq,
      "streamed fused ingest diverged from the independent base-trained chain")
  }

  test("annIvfSqIndexedTopK == independent SQ8 chain; sq-only scan; ladder recall recorded") {
    import java.nio.file.Files
    val emb = Tables.embeddings(spark, sfDir)
    val wh = Files.createTempDirectory("graft-ivfsq-wh").toFile.getAbsolutePath
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_ivfsq_test LOCATION '$wh'")
    val t = "graft_ivfsq_test.idx"
    Similarity.buildIvfIndex(emb, t, Codec.Sq8)
    val got = Similarity.annIvfSqIndexedTopK(spark, t)
    val rows = got.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3), r.getInt(4)))
    val want = ivfSqExpected(emb)
    assert(rows.toSeq === want.toSeq,
      "SQ8 index diverged from the independent chain")

    // plan: corpus unscanned, DPP on the index scan, candidates read sq
    // (the 8×-compressed codes) and never v
    val plan = got.queryExecution.executedPlan
    val planStr = plan.toString
    assert(!planStr.contains("embeddings.parquet"),
      s"corpus scanned at query time:\n$planStr")
    val partScans = scans(plan).filter(_.relation.partitionSchema.nonEmpty)
    assert(partScans.exists(_.partitionFilters.exists(
        _.toString.toLowerCase.contains("dynamicpruning"))),
      s"no dynamic partition pruning on the index scan:\n$planStr")
    assert(partScans.exists(s =>
        s.output.exists(_.name == "sq") && !s.output.exists(_.name == "v")),
      s"ADC scan reads raw vectors (no sq-only scan found):\n$planStr")

    // the compression-ladder recall bracket on this corpus (all three
    // rungs shortlist by integer L2, rescore by exact cosine — recorded,
    // not assumed)
    val data = emb.select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray.map(_.toDouble)))
    val nrm = data.map { case (id, v) =>
      id -> math.sqrt(v.map(x => x * x).sum) }.toMap
    val vm = data.toMap
    def cosTop(qid: Long): Set[Long] = data
      .filter(_._1 != qid)
      .map { case (id, v) =>
        (round6(v.zip(vm(qid)).map { case (a, b) => a * b }.sum
          / (nrm(id) * nrm(qid))), id)
      }.sortBy { case (c, id) => (-c, id) }.take(K).map(_._2).toSet
    def recall(res: Seq[(Long, Long, Int, Double, Int)]): Double =
      (0L until NQ).map { qid =>
        val truth = cosTop(qid)
        res.filter(_._1 == qid).count(r => truth.contains(r._2))
      }.sum.toDouble / (NQ * K)
    val rSq = recall(want)
    val rPq = recall(ivfPqExpected(emb, _ => true))
    info(f"ladder recall@$K: SQ8 $rSq%.4f vs PQ-raw $rPq%.4f")
    assert(rSq >= rPq - 1e-9,
      f"SQ8 (8x, near-exact codes) lost to PQ (32x, lossy): $rSq%.4f < $rPq%.4f")
  }

  /** Independent driver-side SQ8 chain: scale-10³ q, per-dim [min, max]
    * trained on the `trainPred` subset, byte-range codes via the
    * HALF_UP round saturated to [0, 255], ADC on the exact-integer
    * dequantization at scale q·255, shortlist, exact-cosine rescore. */
  private def ivfSqExpected(emb: org.apache.spark.sql.DataFrame,
      trainPred: Long => Boolean = _ => true)
      : Seq[(Long, Long, Int, Double, Int)] = {
    val data = emb.select(col("vec_id"), col("label"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).toArray))
      .sortBy(_._1)
    val dim = data.head._3.length
    val q1k = data.map { case (id, _, v) =>
      id -> v.map(x => rnd(x.toDouble * 1000)) }.toMap
    val xq = q1k.map { case (id, a) => id -> a.map(_ * 1000L) }
    val c6 = data.filter(d => trainPred(d._1)).groupBy(_._2).map {
      case (lbl, vs) =>
        val sums = Array.fill(dim)(0L)
        vs.foreach { case (_, _, v) =>
          var i = 0
          while (i < dim) { sums(i) += rnd(v(i).toDouble * 1000); i += 1 }
        }
        lbl -> sums.map(s => rnd(
          BigDecimal(s.toDouble / (1000.0 * vs.length))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble * 1000000.0))
    }
    def d2(a: Array[Long], c: Array[Long]): Long = {
      var s = 0L; var i = 0
      while (i < a.length) { val d = a(i) - c(i); s += d * d; i += 1 }
      s
    }
    val cell = xq.map { case (id, a) =>
      id -> c6.toSeq.map { case (l, c) => (d2(a, c), l) }.min._2 }
    val probes = (0L until NQ).map { qid =>
      qid -> c6.toSeq.map { case (l, c) => (d2(xq(qid), c), l) }
        .sorted.take(NProbe).map(_._2).toSet
    }.toMap
    val trainQ = data.filter(d => trainPred(d._1)).map(d => q1k(d._1))
    val minq = Array.tabulate(dim)(d => trainQ.map(_(d)).min)
    val maxq = Array.tabulate(dim)(d => trainQ.map(_(d)).max)
    val rng = Array.tabulate(dim)(d => maxq(d) - minq(d))
    val dec255 = q1k.map { case (id, a) =>
      id -> Array.tabulate(dim) { d =>
        val code = if (rng(d) == 0L) 0L
          else math.max(0L, math.min(255L,
            rnd((a(d) - minq(d)).toDouble * 255.0 / rng(d).toDouble)))
        minq(d) * 255L + code * rng(d)
      }
    }
    val vecs = data.map { case (id, _, v) => id -> v.map(_.toDouble) }.toMap
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val nrm = vecs.map { case (id, v) => id -> math.sqrt(dot(v, v)) }
    (0L until NQ).flatMap { qid =>
      val qs = q1k(qid).map(_ * 255L)
      val sl = data.map(_._1)
        .filter(id => id != qid && probes(qid).contains(cell(id)))
        .map(id => (d2(qs, dec255(id)), id))
        .sorted.take(Shortlist).map(_._2)
      sl.map { id =>
        (round6(dot(vecs(id), vecs(qid)) / (nrm(id) * nrm(qid))), id)
      }.sortBy { case (c, id) => (-c, id) }.take(K).zipWithIndex.map {
        case ((c, id), i) => (qid, id, i + 1, round4(c), cell(id))
      }
    }
  }

  test("ivfSqIndexDelta: frozen [min,max] trainer, saturating codes, merged == base-trained chain") {
    import java.nio.file.Files
    val emb = Tables.embeddings(spark, sfDir)
    val wh = Files.createTempDirectory("graft-ivfsqd-wh").toFile.getAbsolutePath
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_ivfsqd_test LOCATION '$wh'")
    val t = "graft_ivfsqd_test.idx"
    Similarity.buildIvfIndex(emb.filter(col("vec_id") % 5 =!= 0), t, Codec.Sq8)
    val rangeBefore = spark.table(s"${t}_sqrange").collect().map(_.toSeq).toSet
    Similarity.ivfIndexDelta(t, emb.filter(col("vec_id") % 5 === 0))
    assert(spark.table(s"${t}_sqrange").collect().map(_.toSeq).toSet
      === rangeBefore, "delta ingest mutated the SQ trainer")
    val idx = spark.table(s"${t}_ivf")
    assert(idx.count() === emb.count())
    // codes stay in the byte range even for delta values outside the
    // base-trained [min, max] (saturation, not overflow)
    assert(idx.select(explode(col("sq")).as("c"))
      .filter(col("c") < 0 || col("c") > 255).count() === 0)
    val got = Similarity.annIvfSqIndexedTopK(spark, t).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3), r.getInt(4)))
    assert(got.toSeq === ivfSqExpected(emb, _ % 5 != 0).toSeq,
      "delta-maintained SQ8 index diverged from the independent base-trained chain")
    intercept[IllegalArgumentException] {
      Similarity.ivfIndexDelta(t, emb.filter(col("vec_id") % 5 === 0))
    }
    // at-least-once replay via the idempotent twin is a no-op (the
    // streaming contract for the SQ rung)
    Similarity.ivfIndexDeltaIdempotent(t, emb.filter(col("vec_id") % 5 === 0))
    assert(spark.table(s"${t}_ivf").count() === emb.count(),
      "idempotent SQ replay duplicated list rows")
    // retrain on an SQ index rebuilds SQ (trainer refreshed on the full
    // corpus, sq column survives) — the layout-that-stands contract
    val fired = Similarity.retrainIfNeeded(spark, t, emb, 0.0).collect()(0)
    assert(fired.getAs[Boolean]("retrained"))
    val idx2 = spark.table(s"${t}_ivf")
    assert(idx2.filter(col("sq").isNull).count() === 0,
      "retrain dropped the sq codes from the SQ index")
    assert(Similarity.annIvfSqIndexedTopK(spark, t).collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3), r.getInt(4)))
      .toSeq === ivfSqExpected(emb).toSeq,
      "post-retrain SQ index diverged from the full-trained chain")
  }

  test("residual delta ingest: enc-provenance branches + guards, merged lists == base-trained IVFADC chain") {
    import java.nio.file.Files
    val emb = Tables.embeddings(spark, sfDir)
    val wh = Files.createTempDirectory("graft-ivfpqrd-wh").toFile.getAbsolutePath
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_ivfpqrd_test LOCATION '$wh'")
    val t = "graft_ivfpqrd_test.idx"
    Similarity.buildIvfIndex(emb.filter(col("vec_id") % 5 =!= 0), t,
      Codec.PqResidual)
    // the raw-ADC query refuses a residual index (mixed encodings would
    // silently mis-score, so the mismatch must be loud)
    intercept[IllegalArgumentException] {
      Similarity.annIvfPqIndexedTopK(spark, t)
    }
    // delta encodes RESIDUALS against the stored codebook (the stored
    // codec ivfIndexDelta reads) — merged result matches the
    // independent base-trained IVFADC chain exactly
    Similarity.ivfIndexDelta(t, emb.filter(col("vec_id") % 5 === 0))
    val got = Similarity.annIvfPqResidualTopK(spark, t).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3), r.getInt(4)))
    assert(got.toSeq === ivfPqExpected(emb, _ % 5 != 0, residual = true).toSeq,
      "residual delta ingest diverged from the independent base-trained chain")
  }

  test("rebuilding under a different rung drops stale artifacts; retrain keeps the NEW layout") {
    import java.nio.file.Files
    val emb = Tables.embeddings(spark, sfDir)
    val wh = Files.createTempDirectory("graft-rung-wh").toFile.getAbsolutePath
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_rung_test LOCATION '$wh'")
    val t = "graft_rung_test.idx"
    // fused build first, then the same table name switches to SQ8 — the
    // stale _pqbook must go, or layout dispatch (retrain, delta ingest)
    // would silently rebuild the OLD rung
    Similarity.buildIvfIndex(emb, t, Codec.Pq)
    assert(spark.catalog.tableExists(s"${t}_pqbook"))
    Similarity.buildIvfIndex(emb, t, Codec.Sq8)
    assert(!spark.catalog.tableExists(s"${t}_pqbook"),
      "layout switch left the stale PQ codebook standing")
    val fired = Similarity.retrainIfNeeded(spark, t, emb, 0.0).collect()(0)
    assert(fired.getAs[Boolean]("retrained") ||
      fired.getAs[Long]("n_moved") == 0L)
    assert(spark.table(s"${t}_ivf").filter(col("sq").isNull).count() === 0,
      "retrain after the layout switch lost the sq codes")
    assert(Similarity.annIvfSqIndexedTopK(spark, t).collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3), r.getInt(4)))
      .toSeq === ivfSqExpected(emb).toSeq)
  }

  test("retrainIfNeeded on a fused index rebuilds FUSED: codes survive, provenance kept") {
    import java.nio.file.Files
    val emb = Tables.embeddings(spark, sfDir)
    val wh = Files.createTempDirectory("graft-fret-wh").toFile.getAbsolutePath
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_fret_test LOCATION '$wh'")
    val t = "graft_fret_test.idx"
    Similarity.buildIvfIndex(emb.filter(col("vec_id") % 5 =!= 0), t, Codec.Pq)
    Similarity.ivfIndexDelta(t, emb.filter(col("vec_id") % 5 === 0))
    val fired = Similarity.retrainIfNeeded(spark, t, emb, 0.0).collect()(0)
    assert(fired.getAs[Boolean]("retrained"))
    // the rebuild came back FUSED on the full corpus: codes on every
    // row, raw provenance intact, ADC query == the full-trained chain
    val idx = spark.table(s"${t}_ivf")
    assert(idx.count() === emb.count())
    assert(idx.filter(col("codes").isNull).count() === 0,
      "retrain dropped the PQ codes from the fused lists")
    val got = Similarity.annIvfPqIndexedTopK(spark, t).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3), r.getInt(4)))
    assert(got.toSeq === ivfPqExpected(emb, _ => true).toSeq,
      "post-retrain fused index diverged from the full-trained chain")
  }

  test("retrainIfNeeded: no-op below threshold, retrain + rebuild at threshold, provenance logged") {
    import java.nio.file.Files
    val emb = Tables.embeddings(spark, sfDir)
    val wh = Files.createTempDirectory("graft-retrain-wh").toFile.getAbsolutePath
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_retrain_test LOCATION '$wh'")
    val t = "graft_retrain_test.idx"
    Similarity.buildIvfIndex(emb.filter(col("vec_id") % 5 =!= 0), t)
    Similarity.ivfIndexDelta(t, emb.filter(col("vec_id") % 5 === 0))
    val centBase = spark.table(s"${t}_centroids").collect().map(_.toSeq).toSet

    // threshold 1.0: decision row says no, frozen quantizer survives
    val below = Similarity.retrainIfNeeded(spark, t, emb, 1.0).collect()(0)
    assert(!below.getAs[Boolean]("retrained"))
    assert(below.getAs[Long]("n_vectors") === emb.count())
    assert(spark.table(s"${t}_centroids").collect().map(_.toSeq).toSet
      === centBase, "no-op decision mutated the quantizer")
    assert(spark.table(s"${t}_quantizer_log").count() === 1)

    // threshold 0.0: fires — quantizer == full-corpus retrain, lists
    // rebuilt, index-served ANN == the in-query trained IVF on the full
    // corpus (the post-retrain ground truth)
    val above = Similarity.retrainIfNeeded(spark, t, emb, 0.0).collect()(0)
    assert(above.getAs[Boolean]("retrained"))
    assert(above.getAs[Long]("n_moved") === below.getAs[Long]("n_moved"),
      "pre-retrain drift changed between decisions")
    val centAfter = spark.table(s"${t}_centroids").collect().map(_.toSeq).toSet
    assert((centAfter != centBase) || above.getAs[Long]("n_moved") == 0L,
      "retrain did not touch the quantizer despite moved vectors")
    assert(Similarity.annIvfIndexedTopK(spark, t).collect().map(_.toSeq).toSeq
      === Similarity.annIvfTrainedTopK(emb).collect().map(_.toSeq).toSeq,
      "rebuilt index diverged from full-corpus trained IVF")
    assert(spark.table(s"${t}_quantizer_log").count() === 2)
    // post-retrain drift is zero: a third decision at any threshold > 0
    // is a no-op — the policy converges instead of thrashing
    val third = Similarity.retrainIfNeeded(spark, t, emb, 0.05).collect()(0)
    assert(third.getAs[Long]("n_moved") === 0L)
    assert(!third.getAs[Boolean]("retrained"))
  }

  test("nprobe sweep: ladder ordering holds per probe width (sq8 >= pq at every nprobe)") {
    import java.nio.file.Files
    val emb = Tables.embeddings(spark, sfDir)
    val wh = Files.createTempDirectory("graft-sweep-wh").toFile.getAbsolutePath
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_sweep_test LOCATION '$wh'")
    Similarity.buildIvfIndex(emb, "graft_sweep_test.pq", Codec.Pq)
    Similarity.buildIvfIndex(emb, "graft_sweep_test.res", Codec.PqResidual)
    Similarity.buildIvfIndex(emb, "graft_sweep_test.sq", Codec.Sq8)
    val rows = Similarity.annNprobeSweep(spark, emb, "graft_sweep_test.pq",
        "graft_sweep_test.res", "graft_sweep_test.sq").collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val byNp = Seq(1, 2, 4, 8).map(np =>
      np -> (rows(("pq", np)), rows(("residual", np)), rows(("sq8", np))))
    byNp.foreach { case (np, (pq, res, sq)) =>
      info(f"nprobe=$np%d recall@3: sq8 $sq%.4f residual $res%.4f pq $pq%.4f")
      // SQ8's near-exact codes must not lose to PQ's lossy ones under
      // the SAME probe set and shortlist — the ladder ordering, now
      // asserted at every probe width instead of the single nprobe=2
      // point
      assert(sq >= pq - 1e-9,
        f"SQ8 lost to raw PQ at nprobe=$np: $sq%.4f < $pq%.4f")
    }
    // widening probes must never hurt ANY rung at the derived defaults:
    // the sweep now runs shortlist = ShortlistPerProbe × nprobe, so the
    // fixed-shortlist dilution round 13 measured (raw PQ 0.167 → 0.125
    // at nprobe 8 under shortlist 10) cannot recur — recall is monotone
    // non-decreasing in nprobe for sq8 AND the lossy rungs
    for ((rung, ix) <- Seq("pq" -> 0, "residual" -> 1, "sq8" -> 2)) {
      val byRung = byNp.map { case (_, t) => t.productElement(ix)
        .asInstanceOf[Double] }
      assert(byRung == byRung.sorted,
        s"$rung recall not monotone in nprobe at derived shortlists: $byRung")
    }
  }

  test("external-query ANN: caller-supplied (qid, v) == fixture rows; every index read is DPP-pruned") {
    import java.nio.file.Files
    val emb = Tables.embeddings(spark, sfDir)
    val wh = Files.createTempDirectory("graft-ext-wh").toFile.getAbsolutePath
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_ext_test LOCATION '$wh'")
    val t = "graft_ext_test.idx"
    Similarity.buildIvfIndex(emb, t, Codec.Pq)
    // query vectors from the CORPUS (the caller's side), not the index
    val q = emb.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("qid"), col("embedding").as("v"))
    val got = Similarity.annIvfPqIndexedTopK(spark, t, q, K, NProbe, Shortlist)
    val fixture = Similarity.annIvfPqIndexedTopK(spark, t)
    assert(got.collect().map(_.toSeq).toSeq
      === fixture.collect().map(_.toSeq).toSeq,
      "external-query form diverged from the fixture form on the same vectors")

    // the contract the fixture form cannot make: with queries supplied
    // externally there is NO read of the standing index outside the
    // DPP-pruned probed cells — every cell-partitioned scan in the plan
    // (ADC candidates + shortlist rescore) carries a dynamic partition
    // pruning filter; the fixture's un-pruned vec_id point-scan is gone
    val partScans = scans(got.queryExecution.executedPlan)
      .filter(_.relation.partitionSchema.nonEmpty)
    assert(partScans.nonEmpty)
    val unpruned = partScans.filterNot(_.partitionFilters.exists(
      _.toString.toLowerCase.contains("dynamicpruning")))
    assert(unpruned.isEmpty,
      s"index scanned outside the DPP-pruned probed cells:\n" +
        unpruned.map(_.toString).mkString("\n"))

    // same contract for the plain-IVF external form
    Similarity.buildIvfIndex(emb, "graft_ext_test.plain")
    val gotP = Similarity.annIvfIndexedTopK(spark, "graft_ext_test.plain",
      q, K, NProbe)
    assert(gotP.collect().map(_.toSeq).toSeq
      === Similarity.annIvfIndexedTopK(spark, "graft_ext_test.plain")
        .collect().map(_.toSeq).toSeq)
    val unprunedP = scans(gotP.queryExecution.executedPlan)
      .filter(_.relation.partitionSchema.nonEmpty)
      .filterNot(_.partitionFilters.exists(
        _.toString.toLowerCase.contains("dynamicpruning")))
    assert(unprunedP.isEmpty,
      s"plain-IVF external query scanned the index un-pruned:\n" +
        unprunedP.map(_.toString).mkString("\n"))
  }

  test("range search + index stats: exact within probed cells, external == fixture, stats invariants") {
    import java.nio.file.Files
    val emb = Tables.embeddings(spark, sfDir)
    val wh = Files.createTempDirectory("graft-range-wh").toFile.getAbsolutePath
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_range_test LOCATION '$wh'")
    val t = "graft_range_test.idx"
    Similarity.buildIvfIndex(emb, t)
    val threshold = 0.25

    // independent driver-side recompute: integer-space cells + probes
    // (the ivfSqExpected head), then EVERY probed-cell pair at exact
    // rounded cos >= t — no cut of any kind
    val data = emb.select(col("vec_id"), col("label"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).toArray))
      .sortBy(_._1)
    val dim = data.head._3.length
    val xq = data.map { case (id, _, v) =>
      id -> v.map(x => rnd(x.toDouble * 1000) * 1000L) }.toMap
    val c6 = data.groupBy(_._2).map { case (lbl, vs) =>
      val sums = Array.fill(dim)(0L)
      vs.foreach { case (_, _, v) =>
        var i = 0
        while (i < dim) { sums(i) += rnd(v(i).toDouble * 1000); i += 1 }
      }
      lbl -> sums.map(s => rnd(
        BigDecimal(s.toDouble / (1000.0 * vs.length))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble * 1000000.0))
    }
    def d2(a: Array[Long], c: Array[Long]): Long = {
      var s = 0L; var i = 0
      while (i < a.length) { val d = a(i) - c(i); s += d * d; i += 1 }
      s
    }
    val cell = xq.map { case (id, a) =>
      id -> c6.toSeq.map { case (l, c) => (d2(a, c), l) }.min._2 }
    val probes = (0L until NQ).map { qid =>
      qid -> c6.toSeq.map { case (l, c) => (d2(xq(qid), c), l) }
        .sorted.take(NProbe).map(_._2).toSet
    }.toMap
    val vecs = data.map { case (id, _, v) => id -> v.map(_.toDouble) }.toMap
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val nrm = vecs.map { case (id, v) => id -> math.sqrt(dot(v, v)) }
    val want = (0L until NQ).flatMap { qid =>
      data.map(_._1)
        .filter(id => id != qid && probes(qid).contains(cell(id)))
        .map(id => (qid, id,
          round6(dot(vecs(id), vecs(qid)) / (nrm(id) * nrm(qid)))))
        .filter(_._3 >= threshold)
        .map { case (q, id, c) => (q, id, round4(c), cell(id)) }
    }.sortBy(r => (r._1, r._2))

    val got = Similarity.annIvfRangeSearch(spark, t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(got.toSeq === want,
      "range search diverged from the independent probed-cell recompute")

    // external form: identical rows; every index scan DPP-pruned
    val q = emb.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("qid"), col("embedding").as("v"))
    val ext = Similarity.annIvfRangeSearch(spark, t, q, threshold, NProbe)
    assert(ext.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
      === want, "external-query range search diverged from the fixture")
    val unpruned = scans(ext.queryExecution.executedPlan)
      .filter(_.relation.partitionSchema.nonEmpty)
      .filterNot(_.partitionFilters.exists(
        _.toString.toLowerCase.contains("dynamicpruning")))
    assert(unpruned.isEmpty,
      s"range search scanned the index un-pruned:\n${unpruned.mkString("\n")}")

    // index stats invariants against the same driver-side assignment
    val st = Similarity.annIvfIndexStats(spark, t).collect()(0)
    val sizes = cell.groupBy(_._2).map(_._2.size)
    assert(st.getAs[Long]("n_vectors") === data.length.toLong)
    assert(st.getAs[Long]("n_cells") === sizes.size.toLong)
    assert(st.getAs[Long]("max_list") === sizes.max.toLong)
    assert(st.getAs[Long]("min_list") === sizes.min.toLong)
    assert(st.getAs[Double]("imbalance") >= 1.0)
  }

  test("layout guards: SQ entry point refuses non-SQ tables; retrain refuses dual artifacts; empty codebook is loud") {
    import java.nio.file.Files
    val emb = Tables.embeddings(spark, sfDir)
    val wh = Files.createTempDirectory("graft-guard-wh").toFile.getAbsolutePath
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_guard_test LOCATION '$wh'")
    val t = "graft_guard_test.idx"
    Similarity.buildIvfIndex(emb, t, Codec.Pq)
    // SQ query on a fused table: contract message, not a missing-column
    // failure five calls deep
    val e1 = intercept[IllegalArgumentException] {
      Similarity.annIvfSqIndexedTopK(spark, t)
    }
    assert(e1.getMessage.contains("_sqrange"))
    // a pre-provenance catalog carrying BOTH rungs' artifacts: retrain
    // must refuse instead of letting the PQ branch silently win
    spark.table(s"${t}_pqbook").limit(0)
      .select(col("sub").as("dim"), col("c_label").cast("long").as("minq"),
        col("c_label").cast("long").as("maxq"))
      .write.format("parquet").saveAsTable(s"${t}_sqrange")
    val e2 = intercept[IllegalArgumentException] {
      Similarity.retrainIfNeeded(spark, t, emb, 1.0)
    }
    assert(e2.getMessage.contains("BOTH"))
    spark.sql(s"DROP TABLE ${t}_sqrange")
    // an EMPTY codebook table (index built over an empty corpus / lost
    // write) fails with a message naming the table, not an index error
    spark.table(s"${t}_pqbook").limit(0).write.mode("overwrite")
      .format("parquet").saveAsTable(s"${t}_pqbook_empty")
    spark.sql(s"DROP TABLE ${t}_pqbook")
    spark.sql(s"ALTER TABLE ${t}_pqbook_empty RENAME TO ${t}_pqbook")
    val e3 = intercept[IllegalStateException] {
      Similarity.annIvfPqIndexedTopK(spark, t)
    }
    assert(e3.getMessage.contains("EMPTY"))
  }

  test("delta cadence: one file per cell per generation; compactIfNeeded's batch bound caps probed-read file counts") {
    import java.nio.file.Files
    val emb = Tables.embeddings(spark, sfDir)
    val wh = Files.createTempDirectory("graft-files-wh").toFile.getAbsolutePath
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_files_test LOCATION '$wh'")
    val t = "graft_files_test.idx"
    Similarity.buildIvfIndex(emb.filter(col("vec_id") % 5 === 1), t)
    for (m <- Seq(2, 3, 4)) // three small-delta generations
      Similarity.ivfIndexDelta(t, emb.filter(col("vec_id") % 5 === m % 5))
    def maxFilesPerCell(): Int = {
      val loc = new java.io.File(new java.net.URI(
        spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier("idx_ivf",
            Some("graft_files_test"))).location.toString))
      loc.listFiles().filter(_.isDirectory).map(
        _.listFiles().count(_.getName.endsWith(".parquet"))).max
    }
    // each generation — INCLUDING the base build, which repartitions by
    // cell exactly like the deltas — wrote at most ONE file per touched
    // cell, so the generation bound IS the per-cell file-count bound
    // between compactions, independent of layout parallelism
    val beforeCompact = maxFilesPerCell()
    assert(beforeCompact <= 4,
      s"a cell dir holds $beforeCompact files after build + 3 deltas — " +
        "delta writes are no longer one-file-per-cell")
    // the guard sidecar has 4 generations > maxBatches=3 -> due; after
    // compaction every cell folds to one file
    assert(Similarity.compactIvfIfNeeded(spark, t, maxBatches = 3),
      "4 ingest generations did not trigger the batch-bound compaction")
    assert(maxFilesPerCell() === 1,
      "compaction left more than one file in a cell dir")
  }


  /** Independent plain-Scala FLAT IVF chain: label centroids over the
    * `trainPred` subset, argmin cells for every vector, the NProbe
    * nearest cells per query, and the exact rounded cosine over every
    * probed candidate — no code, no shortlist. */
  private def ivfFlatExpected(emb: org.apache.spark.sql.DataFrame,
      trainPred: Long => Boolean): Seq[(Long, Long, Int, Double, Int)] = {
    val data = emb.select(col("vec_id"), col("label"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).toArray))
      .sortBy(_._1)
    val dim = data.head._3.length
    val xq = data.map { case (id, _, v) =>
      id -> v.map(x => rnd(x.toDouble * 1000) * 1000L) }.toMap
    val c6 = data.filter(d => trainPred(d._1)).groupBy(_._2).map {
      case (lbl, vs) =>
        val sums = Array.fill(dim)(0L)
        vs.foreach { case (_, _, v) =>
          var i = 0
          while (i < dim) { sums(i) += rnd(v(i).toDouble * 1000); i += 1 }
        }
        lbl -> sums.map(s => rnd(
          BigDecimal(s.toDouble / (1000.0 * vs.length))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble * 1000000.0))
    }
    def d2(a: Array[Long], c: Array[Long]): Long =
      a.indices.map { i => val d = a(i) - c(i); d * d }.sum
    val cell = xq.map { case (id, a) =>
      id -> c6.toSeq.map { case (l, c) => (d2(a, c), l) }.min._2 }
    val probes = (0L until NQ).map { qid =>
      qid -> c6.toSeq.map { case (l, c) => (d2(xq(qid), c), l) }
        .sorted.take(NProbe).map(_._2).toSet
    }.toMap
    val vecs = data.map { case (id, _, v) => id -> v.map(_.toDouble) }.toMap
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val nrm = vecs.map { case (id, v) => id -> math.sqrt(dot(v, v)) }
    (0L until NQ).flatMap { qid =>
      data.map(_._1)
        .filter(id => id != qid && probes(qid).contains(cell(id)))
        .map(id => (round6(dot(vecs(id), vecs(qid)) / (nrm(id) * nrm(qid))), id))
        .sortBy { case (c, id) => (-c, id) }.take(K).zipWithIndex.map {
          case ((c, id), i) => (qid, id, i + 1, round4(c), cell(id))
        }
    }
  }

  test("generic delta + idempotent replay over every codec: merged lists == the independent base-trained chains") {
    import java.nio.file.Files
    val emb = Tables.embeddings(spark, sfDir)
    val wh = Files.createTempDirectory("graft-codec-wh").toFile.getAbsolutePath
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_codec_test LOCATION '$wh'")
    val delta = emb.filter(col("vec_id") % 5 === 0)
    val base: Long => Boolean = _ % 5 != 0
    for ((codec, want) <- Seq[(Codec, () => Seq[(Long, Long, Int, Double, Int)])](
        Codec.Flat -> (() => ivfFlatExpected(emb, base)),
        Codec.Pq -> (() => ivfPqExpected(emb, base)),
        Codec.PqResidual -> (() => ivfPqExpected(emb, base, residual = true)),
        Codec.Sq8 -> (() => ivfSqExpected(emb, base)))) withClue(codec.name) {
      val t = s"graft_codec_test.${codec.name}"
      Similarity.buildIvfIndex(emb.filter(col("vec_id") % 5 =!= 0), t, codec)
      Similarity.ivfIndexDelta(t, delta)
      assert(Codec.stored(spark, t) === codec)
      val n = spark.table(s"${t}_ivf").count()
      val guards = spark.table(s"${t}_guard").count()
      assert(n === emb.count(), "the delta did not land exactly once")
      // the replayed batch is a no-op: no list rows, no guard generation
      Similarity.ivfIndexDeltaIdempotent(t, delta)
      assert(spark.table(s"${t}_ivf").count() === n,
        "idempotent replay duplicated list rows")
      assert(spark.table(s"${t}_guard").count() === guards,
        "idempotent replay appended a guard generation")
      val got = Similarity.annIvfProbeTopK(spark, t).collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3), r.getInt(4)))
      assert(got.toSeq === want().toSeq,
        "delta-maintained index diverged from the independent base-trained chain")
    }
  }

  test("retrainIfNeeded never resurrects vectors deleted since the last compaction") {
    import java.nio.file.Files
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir)
    val wh = Files.createTempDirectory("graft-retdel-wh").toFile.getAbsolutePath
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_retdel_test LOCATION '$wh'")
    val t = "graft_retdel_test.idx"
    Similarity.buildIvfIndex(emb, t)
    // victims: vectors the fixture probe answers with (not the anchors)
    val victims = Similarity.annIvfIndexedTopK(spark, t)
      .filter(col("vec_id") >= NQ).select(col("vec_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(victims.nonEmpty, "fixture rot: no non-anchor answers to delete")
    Similarity.ivfIndexDelete(t, victims.toSeq.toDF("vec_id"))

    val fired = Similarity.retrainIfNeeded(spark, t, emb, 0.0).collect()(0)
    assert(fired.getAs[Boolean]("retrained"))
    assert(fired.getAs[Long]("n_vectors") === emb.count() - victims.size,
      "the drift decision counted deleted vectors")
    assert(spark.table(s"${t}_ivf")
        .filter(col("vec_id").isin(victims.toSeq: _*)).count() === 0,
      "retrain rebuilt deleted vectors into the lists")
    for (answer <- Seq(Similarity.annIvfIndexedTopK(spark, t),
        Similarity.annIvfIndexedTopK(spark, t, NQ, K, 8),
        Similarity.annIvfRangeSearch(spark, t, NQ, 0.0, 8)))
      assert(!answer.collect().exists(r => victims(r.getAs[Long]("vec_id"))),
        "a deleted vector surfaced in a probe answer after the retrain")
    // the rebuilt guard no longer carries the victims: re-ingest is a
    // plain insert, as after a compaction
    Similarity.ivfIndexDelta(t, emb.filter(col("vec_id") === victims.min))
  }

}
