package graft

import org.apache.spark.sql.functions._

import graft.model.Tables
import graft.ops.Multimodal
import graft.graph.GraphOps
import graft.streaming.Streams

/** Multimodal plumbing + GraphX structural checks. */
class MultimodalGraphSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("media table synthesizes binary payloads with typed kinds") {
    val media = Multimodal.mediaTable(Tables.documents(spark, sfDir))
    assert(media.schema("bytes").dataType.typeName === "binary")
    val kinds = media.select("kind").distinct().collect().map(_.getString(0)).toSet
    assert(kinds === Set("image", "audio", "video"))
    // audio/video payloads are the raw 16 md5 bytes; image payloads are
    // real BMPs (54-byte header + padded pixel rows, so always > 54)
    assert(media.filter(col("kind") =!= "image" &&
      octet_length(col("bytes")) =!= 16).count() === 0)
    assert(media.filter(col("kind") === "image" &&
      octet_length(col("bytes")) <= 54).count() === 0)
  }

  test("feature extraction decodes real BMPs via ImageIO, stubs the rest, deterministically") {
    val media = Multimodal.mediaTable(Tables.documents(spark, sfDir))
    val f1 = Multimodal.extractFeatures(spark, media).collect()
    val f2 = Multimodal.extractFeatures(spark, media.repartition(7)).collect()
    assert(f1.toSeq === f2.toSeq) // partitioning/batch boundaries don't change results
    // image rows: ImageIO-decoded dims must equal the synthesized ones
    f1.filter(_.getAs[String]("kind") == "image").foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Int]("width") === (id % 7 + 1).toInt)
      assert(r.getAs[Int]("height") === (id % 5 + 1).toInt)
      assert(r.getAs[Int]("channels") === 3)
    }
    // non-image rows: stub path on the opaque 16-byte payloads
    val stub = f1.filter(_.getAs[String]("kind") != "image")
    assert(stub.nonEmpty)
    stub.foreach { r =>
      assert(r.getAs[Int]("byte_len") === 16)
      assert(r.getAs[Int]("width") >= 0 && r.getAs[Int]("width") <= 255)
    }
  }

  test("audio frames: window count follows the header byte; features are bounded and partition-stable") {
    val media = Multimodal.mediaTable(Tables.documents(spark, sfDir))
    val f1 = Multimodal.audioFrames(media).collect()
    val f2 = Multimodal.audioFrames(media.repartition(7)).collect()
    assert(f1.toSeq === f2.toSeq)
    assert(f1.nonEmpty)
    // every audio doc appears, each with (n_samples - 256)/128 + 1 frames,
    // frame_idx dense from 0
    val audioDocs = media.filter(col("kind") === "audio").count()
    val byDoc = f1.groupBy(_.getAs[Long]("doc_id"))
    assert(byDoc.size.toLong === audioDocs)
    byDoc.foreach { case (id, frames) =>
      val n = frames.head.getAs[Int]("n_samples")
      assert((256 to 1152).contains(n) && (n - 256) % 128 === 0)
      assert(frames.length === (n - 256) / 128 + 1)
      assert(frames.map(_.getAs[Int]("frame_idx")).sorted.toSeq ===
        (0 until frames.length), s"doc $id frame indexes not dense")
    }
    // 16-bit sample bounds: energy ≤ 256·32768², peak ≤ 32768, crossings
    // ≤ 255; the Knuth mixing makes all-silent frames implausible
    f1.foreach { r =>
      val e = r.getAs[Long]("energy")
      assert(e > 0L && e <= 256L * 32768L * 32768L)
      assert(r.getAs[Int]("peak") <= 32768)
      val c = r.getAs[Int]("crossings")
      assert(c >= 0 && c <= 255)
    }
  }

  test("graphx components equal their closed form and pagerank favors hubs") {
    val customer = Tables.customer(spark, sfDir)
    val cc = GraphOps.connectedComponents(spark, customer)
    val expected = customer
      .select(col("c_custkey").as("id"),
        min(col("c_custkey")).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("c_nationkey", "c_mktsegment")).as("component"))
    assert(cc.except(expected).count() === 0 && expected.except(cc).count() === 0)

    val pr = GraphOps.pageRank(spark, customer)
    // hubs (component ids with degree > 1) should outrank leaves on average
    val hubRank = pr.join(cc, "id").filter(col("id") === col("component"))
      .agg(avg("rank")).first().getDouble(0)
    val leafRank = pr.join(cc, "id").filter(col("id") =!= col("component"))
      .agg(avg("rank")).first().getDouble(0)
    assert(hubRank > leafRank)
  }

  test("chain k-hop genuinely iterates: distances follow |id - anchor| in-block") {
    val customer = Tables.customer(spark, sfDir)
    val d = GraphOps.kHopChain(spark, customer, 7L).collect()
    // anchor 7 in block [0, 10): reaches exactly its block, dist = |id - 7|
    assert(d.length === GraphOps.ChainBlock)
    d.foreach(r => assert(r.getInt(1) === math.abs(r.getLong(0) - 7L).toInt))
    // the whole point of the fixture: Pregel ran past the star's 0/1/2 form
    assert(d.map(_.getInt(1)).max >= 3)
  }

  test("nodeSimilarity on K4: every partner of the anchor scores 2/(3+3-2)") {
    import spark.implicits._
    // four students sharing a college => complete graph K4; anchor 0's
    // partners each share the other two vertices: jaccard = 2/4
    val students = Seq(0L, 1L, 2L, 3L)
      .map(id => (id, s"s$id", "addr" + id, "c1", "b" + id, "st" + id,
        Seq.empty[String]))
      .toDF("id", "name", "address", "college", "board", "stream", "interests")
    val out = graft.graph.GraphOps.nodeSimilarity(students).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getInt(4)))
    assert(out === Seq((0L, 1L, 2L, 0.5, 1), (0L, 2L, 2L, 0.5, 2), (0L, 3L, 2L, 0.5, 3)))
    CacheScope.unpersistAll()
  }

  test("adamicAdar on K4: 2 shared deg-3 neighbors => score 2/ln(3), ties on b") {
    import spark.implicits._
    val students = Seq(0L, 1L, 2L, 3L)
      .map(id => (id, s"s$id", "addr" + id, "c1", "b" + id, "st" + id,
        Seq.empty[String]))
      .toDF("id", "name", "address", "college", "board", "stream", "interests")
    val out = graft.graph.GraphOps.adamicAdar(students).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getInt(4)))
    // every node has deg 3; each anchor-partner pair shares the other two
    // vertices: s6 = 2 * round(1e6 / ln 3); score quantizes to 1.8205
    val expected = math.round(2 * math.round(1000000.0 / math.log(3.0)) / 100.0) / 10000.0
    assert(out === Seq((0L, 1L, 2L, expected, 1), (0L, 2L, 2L, expected, 2),
      (0L, 3L, 2L, expected, 3)))
    CacheScope.unpersistAll()
  }

  test("perceptualHash: 64 bits, deterministic, and mirror copies pair at 0") {
    import graft.ops.Multimodal
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val media = Multimodal.mediaTable(docs)
    val ph = Multimodal.perceptualHash(spark, media)
    val rows = ph.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[String]("ahash").length == 64))
    assert(rows.forall(r => r.getAs[String]("ahash").forall(c => c == '0' || c == '1')))
    // layout-stable: a repartitioned input hashes identically
    val re = Multimodal.perceptualHash(spark, media.repartition(7)).collect()
    assert(re.map(r => (r.getLong(0), r.getString(3))).sorted.toSeq ===
      rows.map(r => (r.getLong(0), r.getString(3))).sorted.toSeq)
    // every re-keyed mirror copy must pair with its original at hamming 0
    val mirror = ph.select((org.apache.spark.sql.functions.col("doc_id") + 1000000L).as("doc_id"),
      org.apache.spark.sql.functions.col("width"),
      org.apache.spark.sql.functions.col("height"),
      org.apache.spark.sql.functions.col("ahash"))
    val pairs = Multimodal.phashPairs(ph.unionByName(mirror)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // only images above the information floor participate in pairing
    val ids = rows.filter(r => r.getInt(1) * r.getInt(2) >=
      Multimodal.MinPhashPixels).map(_.getLong(0)).toSet
    assert(ids.nonEmpty)
    ids.foreach { id =>
      assert(pairs.exists(p => p._1 == id && p._2 == id + 1000000L && p._3 == 0),
        s"mirror pair missing for $id")
    }
    // below-floor images never pair (their patterns are degenerate)
    val small = rows.filter(r => r.getInt(1) * r.getInt(2) <
      Multimodal.MinPhashPixels).map(_.getLong(0)).toSet
    assert(pairs.forall(p => !small.contains(p._1) && !small.contains(p._2 % 1000000L)))
  }

  test("phashPairs recall: differing bits spread across all four old " +
      "16-bit quadrants still pair (the 8-band pigeonhole)") {
    import spark.implicits._
    import graft.ops.Multimodal
    val base = "0" * 64
    // hamming-4 partner with one flipped bit in EACH 16-bit quadrant —
    // under the old 4 x 16 banding these shared no band and were dropped
    def flip(s: String, idxs: Seq[Int]): String =
      s.zipWithIndex.map { case (c, i) =>
        if (idxs.contains(i)) (if (c == '0') '1' else '0') else c
      }.mkString
    val other = flip(base, Seq(3, 19, 35, 51))
    // and a hamming-6 pair spanning six DIFFERENT 8-bit bands
    val six = flip(base, Seq(1, 9, 17, 25, 33, 41))
    val ph = Seq(
      (1L, 8, 8, base), (2L, 8, 8, other), (3L, 8, 8, six))
      .toDF("doc_id", "width", "height", "ahash")
    val pairs = Multimodal.phashPairs(ph).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs.contains((1L, 2L, 4)), s"hamming-4 cross-quadrant pair lost: $pairs")
    assert(pairs.contains((1L, 3L, 6)), s"hamming-6 six-band pair lost: $pairs")
    // threshold above the 8-band guarantee is refused, not silently lossy
    intercept[IllegalArgumentException] {
      Multimodal.phashPairs(ph, maxHamming = 8)
    }
  }

  test("streaming phash ingest == batch pairs; replayed micro-batch is a no-op") {
    import graft.ops.Multimodal
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val media = Multimodal.mediaTable(docs)
    // temp-located DB — see the lifecycle test's stale-warehouse note
    val wh = java.nio.file.Files.createTempDirectory("graft-phash-spec-db")
      .toFile.getAbsolutePath
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_spec LOCATION '$wh'")
    spark.sql("DROP TABLE IF EXISTS graft_spec.phash_stream_spec")
    Multimodal.perceptualHash(spark, media)
      .write.saveAsTable("graft_spec.phash_stream_spec")
    val mirror = media.filter(col("kind") === "image")
      .select((col("doc_id") + 1000000L).as("doc_id"), col("kind"),
        col("bytes"))
    try {
      // batch 2 replays batch 1's rows alongside the odd half
      Streams.replay(spark, Seq(mirror.filter(col("doc_id") % 2 === 0),
          mirror))(
        Streams.drain(_, "phash_stream_spec") { (batch, _) =>
          Multimodal.phashIngest(spark, "graft_spec.phash_stream_spec", batch)
        })
      // no duplicate hash rows despite the replay
      val dups = spark.table("graft_spec.phash_stream_spec")
        .groupBy(col("doc_id")).count().filter(col("count") > 1).count()
      assert(dups === 0, "replayed micro-batch duplicated hash rows")
      val streamed = Multimodal.phashPairs(spark.table("graft_spec.phash_stream_spec"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
      // batch reference: the same union computed in one shot
      val ph = Multimodal.perceptualHash(spark, media)
      val batchPairs = Multimodal.phashPairs(ph.unionByName(
          ph.select((col("doc_id") + 1000000L).as("doc_id"), col("width"),
            col("height"), col("ahash"))))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
      assert(streamed === batchPairs, "stream != batch pairs")
      assert(streamed.nonEmpty)
      // WITHIN-batch duplicates must also collapse: a batch carrying the
      // same doc twice (at-least-once redelivery packed into one trigger)
      // only ever lands one hash row — the standing-table anti-join alone
      // cannot catch this half of the replay contract. Fresh ids (not yet
      // in the table) so the anti-join can't mask it.
      val twice = mirror.limit(3)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("kind"),
          col("bytes"))
      Multimodal.phashIngest(spark, "graft_spec.phash_stream_spec",
        twice.unionByName(twice))
      val dups2 = spark.table("graft_spec.phash_stream_spec")
        .groupBy(col("doc_id")).count().filter(col("count") > 1).count()
      assert(dups2 === 0, "within-batch duplicate produced doubled hash rows")
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_spec.phash_stream_spec")
      CacheScope.unpersistAll()
    }
  }

  test("embeddingOutliers flags the far vector, not the cluster body") {
    import spark.implicits._
    // label 0: nine vectors at the origin + one at all-ones (z ≈ 2.85);
    // label 1: four identical vectors (std 0 -> zero outliers)
    val rows =
      (0L to 8L).map(i => (i, Array.fill(8)(0.0f), 0)) ++
      Seq((9L, Array.fill(8)(1.0f), 0)) ++
      (10L to 13L).map(i => (i, Array.fill(8)(0.5f), 1))
    val emb = rows.toDF("vec_id", "embedding", "label")
    val out = graft.ops.Centroids.embeddingOutliers(emb).collect()
      .map(r => r.getInt(0) -> r).toMap
    assert(out(0).getAs[Long]("n") == 10L)
    assert(out(0).getAs[Long]("n_outliers") == 1L)
    assert(out(1).getAs[Long]("n") == 4L)
    assert(out(1).getAs[Double]("std_dist") == 0.0)
    assert(out(1).getAs[Long]("n_outliers") == 0L)
    CacheScope.unpersistAll()
  }

  test("clusteringCoeff: K4 anchor reads cc=1.0; a star center reads 0") {
    import spark.implicits._
    // college c1 -> K4 on {0,1,2,3}: every neighbor pair is an edge
    val k4 = Seq(0L, 1L, 2L, 3L)
      .map(id => (id, s"s$id", "addr" + id, "c1", "b" + id, "st" + id,
        Seq.empty[String]))
    // node 200 bridges two otherwise-unconnected colleges via boards:
    // board x1 pairs it with 201, board... a star: 200-201 (b1), 200-202
    // (via college c2 with 202 only) — neighbors 201, 202 share no edge
    val star = Seq(
      (200L, "s200", "a200", "c2", "bX", "stA", Seq.empty[String]),
      (201L, "s201", "a201", "c2", "bY", "stB", Seq.empty[String]),
      (202L, "s202", "a202", "c3", "bX", "stC", Seq.empty[String]))
    val students = (k4 ++ star)
      .toDF("id", "name", "address", "college", "board", "stream", "interests")
    val out = graft.graph.GraphOps.clusteringCoeff(students).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(0L).getAs[Long]("deg") == 3L)
    assert(out(0L).getAs[Long]("triangles") == 3L)
    assert(out(0L).getAs[Double]("cc") == 1.0)
    // 200's neighbors (201 via college, 202 via board) share no edge
    assert(out(200L).getAs[Long]("deg") == 2L)
    assert(out(200L).getAs[Long]("triangles") == 0L)
    assert(out(200L).getAs[Double]("cc") == 0.0)
    CacheScope.unpersistAll()
  }

  test("ann recall is within (0, 1] and 1 exactly when ANN's top-k equals brute force") {
    val emb = Tables.embeddings(spark, sfDir)
    val recall = graft.ops.Similarity.annRecall(emb).collect()
    assert(recall.length === 8)
    recall.foreach { r =>
      val v = r.getDouble(1)
      assert(v >= 0.0 && v <= 1.0, s"recall out of range: $v")
    }
    // multi-probe must beat the single-probe information floor somewhere:
    // average recall over the 8 queries is strictly positive
    assert(recall.map(_.getDouble(1)).sum > 0.0)
  }

  test("resize really resamples: corner replays from first principles, dims shrink") {
    import graft.ops.Multimodal
    val docs = Tables.documents(spark, sfDir)
    val media = Multimodal.mediaTable(docs)
    val out = Multimodal.resizeImages(spark, media).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out.nonEmpty)
    val texts = docs.collect().map(r => r.getLong(0) -> r.getAs[String]("text")).toMap
    out.foreach { case (id, r) =>
      val (w, h) = ((id % 7 + 1).toInt, (id % 5 + 1).toInt)
      assert(r.getInt(1) === w && r.getInt(2) === h)
      val m = math.max(w, h); val t = math.min(m, 4)
      val rw = math.max(w * t / m, 1); val rh = math.max(h * t / m, 1)
      assert(r.getInt(3) === rw && r.getInt(4) === rh)
      assert(rw <= 4 && rh <= 4) // fit WITHIN the box, both dimensions
      // independent corner derivation: md5 pixel bytes, bottom-up rows, BGR
      val seed = java.security.MessageDigest.getInstance("MD5")
        .digest(texts(id).getBytes("UTF-8"))
      val rowLen = (w * 3 + 3) / 4 * 4
      val off = (h - 1) * rowLen
      def sb(i: Int) = seed(i % 16) & 0xff
      assert(r.getInt(5) === (sb(off + 2) << 16 | sb(off + 1) << 8 | sb(off)))
      assert(r.getLong(6) === rw.toLong * rh * 3)
    }
    // the downsample is real somewhere: at least one image shrank
    assert(out.values.exists(r => r.getInt(3) < r.getInt(1)))
  }

  test("hard negatives sit strictly below the positive threshold, ranked desc") {
    val emb = Tables.embeddings(spark, sfDir)
    val hn = graft.ops.Similarity.hardNegatives(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    assert(hn.nonEmpty)
    hn.foreach { case (_, _, _, cos) => assert(cos < 0.25) }
    // per query: ranks are 1..n and cosines non-increasing (the BEST
    // sub-threshold candidates — near misses, not random negatives)
    hn.groupBy(_._1).values.foreach { rows =>
      val sorted = rows.sortBy(_._3)
      assert(sorted.map(_._3).toSeq === (1 to sorted.length))
      assert(sorted.map(_._4).toSeq === sorted.map(_._4).sortBy(-(_: Double)))
    }
    // disjoint from the ANN top-k positives ABOVE the threshold: no vec
    // appears both as a clear positive and a hard negative of one query.
    // annTopK's cos is rounded to 4 digits while hardNegatives cuts on 6
    // digits, so compare at 0.2501 — a 4-digit 0.2500 could round up from
    // a sub-threshold 0.24996 and is not a CLEAR positive
    val pos = graft.ops.Similarity.annTopK(emb, k = Int.MaxValue).collect()
      .filter(_.getDouble(3) >= 0.2501).map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hn.forall { case (q, v, _, _) => !pos.contains((q, v)) })
  }

  test("phash takedown lifecycle: delete anti-joins pairs, compaction is " +
      "row-identical and retires the sidecar") {
    import graft.ops.{Multimodal, Tombstones}
    import spark.implicits._
    val media = Multimodal.mediaTable(Tables.documents(spark, sfDir))
    // temp-LOCATED database (the entry-row pattern): the default
    // warehouse dir survives the JVM while the in-memory catalog does
    // not, so a default-DB managed table left by a previous test run
    // makes the next run's CTAS die with LOCATION_ALREADY_EXISTS even
    // after DROP TABLE IF EXISTS (observed on this very test)
    val wh = java.nio.file.Files.createTempDirectory("graft-phash-spec-db")
      .toFile.getAbsolutePath
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_spec LOCATION '$wh'")
    val table = "graft_spec.phash_life_spec"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"DROP TABLE IF EXISTS ${Tombstones.sidecar(table)}")
    val ph = Multimodal.perceptualHash(spark, media)
    val mirror = ph.select((col("doc_id") + 1000000L).as("doc_id"),
      col("width"), col("height"), col("ahash"))
    ph.unionByName(mirror).write.saveAsTable(table)
    val preCount = spark.table(table).count()
    def victims = spark.table(table)
      .filter(col("doc_id") >= 1000000L && col("doc_id") % 2 === 0)
      .select(col("doc_id"))
    Multimodal.phashDelete(spark, table, victims)
    // sidecar append only — the standing table itself is untouched
    assert(spark.table(table).count() === preCount)
    assert(spark.catalog.tableExists(Tombstones.sidecar(table)))
    val tombCount = spark.table(Tombstones.sidecar(table)).count()
    assert(tombCount > 0)
    // a deleted image never surfaces as a pair partner
    val pairs = Multimodal.phashPairs(Multimodal.phashLive(spark, table))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(pairs.nonEmpty)
    def deleted(id: Long) = id >= 1000000L && id % 2 == 0
    assert(pairs.forall { case (a, b, _) => !deleted(a) && !deleted(b) })
    // and the delete really removed pairs the full table had
    val fullPairs = Multimodal.phashPairs(spark.table(table)).count()
    assert(pairs.length < fullPairs)
    // re-delete (redelivered takedown) and unknown ids are no-ops
    Multimodal.phashDelete(spark, table, victims)
    Multimodal.phashDelete(spark, table, Seq(987654321L).toDF("doc_id"))
    assert(spark.table(Tombstones.sidecar(table)).count() === tombCount)
    // compaction is PHYSICAL only: post-compact rows == pre-compact live
    // view rows, and the sidecar is retired
    val liveRows = Multimodal.phashLive(spark, table).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
      .sorted.toSeq
    Multimodal.phashCompact(spark, table)
    val postRows = spark.table(table).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
      .sorted.toSeq
    assert(postRows === liveRows)
    assert(!spark.catalog.tableExists(Tombstones.sidecar(table)))
    // pairs unchanged by compaction; live view == table with no sidecar
    val postPairs = Multimodal.phashPairs(
        Multimodal.phashLive(spark, table))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(postPairs === pairs)
    // a compacted-away doc is re-ingestable: its physical key row is
    // gone, so the ingest guard re-admits it
    val back = media.filter(col("kind") === "image")
      .select((col("doc_id") + 1000000L).as("doc_id"), col("kind"),
        col("bytes"))
      .filter(col("doc_id") % 2 === 0).limit(1)
    if (!back.isEmpty) {
      Multimodal.phashIngest(spark, table, back)
      assert(spark.table(table).count() === liveRows.length + 1)
    }
  }
}
