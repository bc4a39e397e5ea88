package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One decoded media row (binary payload + typed metadata). */
case class MediaRow(doc_id: Long, kind: String, bytes: Array[Byte])

/** Features extracted by the (stubbed) decoder. */
case class MediaFeatures(doc_id: Long, kind: String, byte_len: Int,
    width: Int, height: Int, channels: Int)

/** A real nearest-neighbor resize result (corner pixel value-checks the
  * decode→resample path against the closed-form oracle). */
case class MediaPhash(doc_id: Long, width: Int, height: Int, ahash: String)

case class MediaResize(doc_id: Long, width: Int, height: Int,
    rw: Int, rh: Int, corner_rgb: Int, out_px_bytes: Long)

/** Multimodal-column plumbing: image/audio/video payloads as opaque BINARY
  * columns with typed metadata, decoded/feature-extracted in BATCHES via
  * mapPartitions (the Scala analog of `mapInPandas`: fixed-size batches so
  * a real decoder amortizes model/library setup per batch, not per row).
  *
  * The IMAGE path decodes for real: payloads are valid 24-bit BMPs
  * (synthesized deterministically — no media fixtures in this container)
  * and [[extractFeatures]] reads width/height/bands with the JDK's
  * `javax.imageio.ImageIO`, no external libraries. Audio/video payloads
  * stay opaque (the JDK ships no audio/video frame decoder) and fall back
  * to the clearly-marked deterministic stub, which also catches corrupt
  * image bytes (`ImageIO.read` → null → stub, never a task failure).
  */
object Multimodal {

  val BatchSize = 64

  /** ImageIO's default stream cache (`useCache=true`) wraps EVERY read in a
    * `FileCacheImageInputStream` — a temp file on disk per image. At 32
    * concurrent tasks that is disk churn scaling with row count (measured:
    * `mm_features` 7× over band). Disabling switches to the in-memory
    * `MemoryCacheImageInputStream`; decode semantics unchanged. Lazy so it
    * runs once per JVM (driver or executor), on first decode. */
  private lazy val imageIoInMemory: Unit =
    javax.imageio.ImageIO.setUseCache(false)

  /** Deterministic 24-bit BMP: 54-byte header + rows padded to 4 bytes,
    * pixel data cycled from `seed`. Byte length is the closed form
    * 54 + ((3w+3)/4·4)·h — the oracle recomputes it in SQL. */
  private[ops] def bmpBytes(w: Int, h: Int, seed: Array[Byte]): Array[Byte] = {
    val rowLen = (w * 3 + 3) / 4 * 4
    val dataLen = rowLen * h
    val b = new Array[Byte](54 + dataLen)
    def putInt(off: Int, v: Int): Unit = {
      b(off) = v.toByte; b(off + 1) = (v >> 8).toByte
      b(off + 2) = (v >> 16).toByte; b(off + 3) = (v >> 24).toByte
    }
    b(0) = 'B'; b(1) = 'M'
    putInt(2, b.length); putInt(10, 54)
    putInt(14, 40); putInt(18, w); putInt(22, h)
    b(26) = 1; b(28) = 24
    putInt(34, dataLen)
    var i = 0
    while (i < dataLen) { b(54 + i) = seed(i % seed.length); i += 1 }
    b
  }

  /** Synthesize a deterministic binary media table from `documents`: image
    * rows carry a REAL (decodable) BMP whose dims derive from doc_id
    * (w = id%7+1, h = id%5+1) and whose pixels cycle the text's md5 bytes;
    * audio/video rows carry the raw 16 md5 bytes (opaque, as a real
    * container blob would be to this stage). Kind cycles image/audio/video.
    * (Stands in for reading real blobs; at scale this column would come
    * from parquet BINARY or a blob-store path column.) */
  def mediaTable(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(
        col("doc_id"),
        when(pmod(col("doc_id"), lit(3)) === 0, "image")
          .when(pmod(col("doc_id"), lit(3)) === 1, "audio")
          .otherwise("video").as("kind"),
        unhex(md5(col("text").cast("binary"))).as("seed"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions(_.map { case (id, kind, seed) =>
        val bytes =
          if (kind == "image")
            bmpBytes((id % 7 + 1).toInt, (id % 5 + 1).toInt, seed)
          else seed
        MediaRow(id, kind, bytes)
      })
      .toDF()
  }

  /** STUB decoder — the fallback for payloads the JDK cannot decode
    * (audio/video containers, corrupt image bytes). Deterministic fake:
    * dimensions from leading bytes. */
  private def decodeStub(m: MediaRow): MediaFeatures =
    MediaFeatures(
      doc_id = m.doc_id,
      kind = m.kind,
      byte_len = m.bytes.length,
      width = m.bytes(0) & 0xff,
      height = m.bytes(1) & 0xff,
      channels = if (m.kind == "audio") 1 else 3)

  /** REAL image decode via the JDK's ImageIO (BMP/PNG/JPEG/GIF readers ship
    * with java.desktop — no external libraries): width/height/bands come
    * from the actual decoded raster. Non-image bytes return null from
    * `ImageIO.read` and fall back to [[decodeStub]] — corrupt blobs can
    * never fail the task, the standard posture for TB-scale media scans. */
  private def decode(m: MediaRow): MediaFeatures = {
    imageIoInMemory
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(m.bytes))
      catch { case _: Exception => null }
    if (img == null) decodeStub(m)
    else MediaFeatures(
      doc_id = m.doc_id,
      kind = m.kind,
      byte_len = m.bytes.length,
      width = img.getWidth,
      height = img.getHeight,
      channels = img.getRaster.getNumBands)
  }

  /** Frame sampling + resize planning for video rows — the third multimodal
    * plumbing shape (per-row EXPLODE into sampled frames, then per-frame
    * arithmetic), all Spark built-ins inside whole-stage codegen. The
    * "container header" (frame count, source dims) is the same deterministic
    * stub as [[decodeStub]] (leading payload bytes); frame extraction itself
    * would replace the md5 frame-hash stub with a real decoder call inside
    * [[extractFeatures]]'s batching. Resize preserves aspect ratio with
    * integer math (engine-portable, no float rounding). */
  /** Spread a small-but-CPU-heavy media frame across the session's shuffle
    * parallelism before an EXPLODE-heavy chain (r21, guide §2.5
    * input-skew form): these tables arrive as one or two BYTE-sized input
    * splits, so the per-ROW decode work under-parallelizes — measured:
    * `mm_audio_frames` ran its whole sample-explode chain in ONE task,
    * twice (the trailing orderBy's range sampler re-evaluates the chain).
    * The round-robin exchange moves slim pre-decode rows once and is
    * scale-adaptive (the session's shuffle-partition count, never a local
    * core constant).
    *
    * GATED to the fan-out chains only (r22, VERDICT r21 item 4): the
    * frame/window ops multiply per-row work ~8–64× past what the scan's
    * byte-sized splits provision for, so the slim exchange pays for
    * itself (audio ×5 measured). The decode-ONLY image ops do work
    * proportional to the bytes the splits are already sized by — there
    * the exchange moves the whole payload to buy parallelism a
    * multi-split scan provides anyway, and it measured as a pure
    * regression at low SF (mm_phash 0.23→0.54 s); those call sites run
    * unspread. */
  private def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions)

  def frameSample(media: DataFrame, stride: Int = 8, maxDim: Int = 64): DataFrame = {
    def hexPair(pos: Int) =
      conv(substring(lower(hex(col("bytes"))), pos, 2), 16, 10).cast("int")
    spread(media.filter(col("kind") === "video"))
      .withColumn("w", greatest(hexPair(1), lit(1)))
      .withColumn("h", greatest(hexPair(3), lit(1)))
      .withColumn("n_frames", hexPair(5) + 1)
      .withColumn("frame_idx",
        explode(sequence(lit(0), col("n_frames") - 1, lit(stride))))
      .withColumn("rw", least(col("w"), lit(maxDim)))
      .withColumn("rh", greatest(expr("(h * rw) div w"), lit(1L)).cast("int"))
      .select(col("doc_id"), col("n_frames"), col("frame_idx"),
        md5(concat_ws("_", col("doc_id"), col("frame_idx")).cast("binary")).as("frame_hash"),
        col("rw"), col("rh"))
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  /** Audio frame windowing + per-frame features — the audio analog of
    * [[frameSample]]: the payload "decodes" to a 16-bit PCM stream, frames
    * are hop-strided windows, and each frame reports integer-EXACT
    * features (sum-of-squares energy, peak amplitude, zero crossings) so
    * results hash-match across engines — no float summation anywhere.
    *
    * The decode is the clearly-marked deterministic stub this container
    * forces (no audio codec in the JDK): sample j mixes the cycled seed
    * bytes with a Knuth multiplicative hash of j, giving per-frame
    * variation the cyclic seed alone would not. A real build replaces
    * `sampleAt` with the codec call inside [[extractFeatures]]'s
    * batching; everything downstream — the window explode, the per-frame
    * aggregation, the schema — is the real Spark plumbing and stays.
    *
    * All built-ins inside whole-stage codegen: the window explode is
    * `sequence`+`explode`, the frame is one `transform` array, features
    * fold over it with `aggregate`/`filter`. One scan, no shuffle, no
    * UDF. */
  def audioFrames(media: DataFrame, frameLen: Int = 256,
      hop: Int = 128): DataFrame = {
    // decode the 16 payload bytes ONCE per doc into an integer array —
    // the per-sample loop then only indexes it (hex parsing per sample
    // measured 2× the whole query)
    def hexByteAt(k: Column): Column =
      conv(substring(col("hx"), (k * 2 + 1).cast("int"), lit(2)), 16, 10).cast("long")
    // 16-bit sample j: cycled seed pair mixed with Knuth's multiplicative
    // constant — exact integer math, identical in any engine
    def sampleAt(j: Column): Column =
      (element_at(col("bs"), pmod(j * 2, lit(16)).cast("int") + 1) * 256
        + element_at(col("bs"), pmod(j * 2 + 1, lit(16)).cast("int") + 1)
        + j.cast("long") * lit(2654435761L)) % 65536 - 32768
    spread(media.filter(col("kind") === "audio"))
      .withColumn("hx", lower(hex(col("bytes"))))
      .withColumn("bs", transform(sequence(lit(0), lit(15)), k => hexByteAt(k)))
      // stream length from the header byte: 256..1152 samples → 1..8 frames
      .withColumn("n_samples",
        (lit(frameLen) + (element_at(col("bs"), 1) % 8).cast("int") * hop).cast("int"))
      .withColumn("start", explode(
        sequence(lit(0), col("n_samples") - frameLen, lit(hop))))
      .withColumn("s", transform(
        sequence(col("start"), col("start") + frameLen - 1),
        j => sampleAt(j)))
      // three tight array passes beat a fused struct-accumulator fold
      // here (measured 2.7s vs 3.2s — per-step named_struct allocation
      // costs more than the extra traversals of a 256-element array)
      .select(
        col("doc_id"), col("n_samples"),
        (col("start") / hop).cast("int").as("frame_idx"),
        aggregate(col("s"), lit(0L), (acc, x) => acc + x * x).as("energy"),
        array_max(transform(col("s"), abs(_))).cast("int").as("peak"),
        // sign-change count as a single packed-long fold (count*2 | cur
        // sign; -1 = no previous sample): long arithmetic only, no
        // struct allocation, no per-pair element_at bounds checks
        shiftright(aggregate(col("s"), lit(-1L), (acc, x) => {
          val cur = when(x < 0, 1L).otherwise(0L)
          when(acc < 0, cur).otherwise(
            shiftleft(shiftright(acc, 1) +
              when(pmod(acc, lit(2)) =!= cur, 1L).otherwise(0L), 1) + cur)
        }), 1).cast("int").as("crossings"))
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  /** Batched feature extraction: partitions stream through the stub decoder
    * in [[BatchSize]] chunks. Runs fully parallel per input partition with
    * no shuffle — decode work is byte-proportional, so the scan's splits
    * already provision parallelism (see [[spread]]'s gate note). */
  def extractFeatures(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.as[MediaRow]
      .mapPartitions { it =>
        it.grouped(BatchSize).flatMap { batch =>
          // batch boundary = where a heavier decoder would run vectorized
          batch.map(decode)
        }
      }
      .toDF()
      .orderBy(col("doc_id"))
  }

  /** REAL pixel resize: decode the BMP, nearest-neighbor downsample to
    * `maxDim` (floor source mapping, aspect preserved with the same
    * integer math as [[frameSample]]), and report the RESIZED image's
    * top-left pixel. NN's (0,0) maps to the source's (0,0), whose BGR
    * bytes sit at a closed-form offset in the synthesized payload — so
    * the DuckDB oracle recomputes the corner from md5 arithmetic and the
    * real decode→resample path is value-checked end to end, not just
    * shape-checked. Undecodable bytes report corner −1 (stub posture as
    * [[decode]]). */
  /** 8×8 average-hash (aHash — the classic perceptual image fingerprint):
    * REAL ImageIO decode, nearest-neighbor sample of an 8×8 grid
    * (sx = x·w/8, the [[resizeImages]] NN formula), integer grayscale
    * (r+g+b)/3 — channel-order invariant, so BMP's BGR layout can't
    * bite — and a mean threshold compared in integers (64·g ≥ Σg; a
    * float mean could straddle a ulp). 64 bits out as a '0'/'1' string.
    * The image/near-dup analogue of SimHash: re-encoded or
    * slightly-retouched copies land within a few bits. */
  def perceptualHash(spark: SparkSession, media: DataFrame): DataFrame =
    phashOf(spark, media).orderBy(col("doc_id"))

  /** The hash computation WITHOUT the presentation sort — what the
    * ingest path consumes: a trailing global orderBy is not just a
    * useless exchange before an append, its range-boundary sampling
    * pass evaluates the decode-heavy mapPartitions TWICE (the
    * repartitionByRange double-eval trap). */
  private[graft] def phashOf(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.filter(col("kind") === "image").as[MediaRow]
      .mapPartitions { it =>
        it.grouped(BatchSize).flatMap(_.map { m =>
          imageIoInMemory
          val img =
            try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(m.bytes))
            catch { case _: Exception => null }
          if (img == null) MediaPhash(m.doc_id, 0, 0, "")
          else {
            val (w, h) = (img.getWidth, img.getHeight)
            val grays = new Array[Int](64)
            var k = 0
            while (k < 64) {
              val rgb = img.getRGB((k % 8) * w / 8, (k / 8) * h / 8)
              grays(k) =
                (((rgb >> 16) & 255) + ((rgb >> 8) & 255) + (rgb & 255)) / 3
              k += 1
            }
            val sum = grays.sum
            MediaPhash(m.doc_id, w, h,
              grays.map(g => if (64 * g >= sum) '1' else '0').mkString)
          }
        })
      }
      .toDF()
  }

  /** aHash carries information only above a pixel floor: a 1-pixel image
    * hashes to all-ones REGARDLESS of color (the mean equals the only
    * gray), and 2–8-pixel images collapse into a handful of grid
    * patterns — "similarity" between them is vacuous and the pattern
    * clusters pair quadratically (measured: 42k junk pairs at sf0.1
    * without the floor). Real-world aHash assumes ≥8×8 (64-pixel)
    * sources; this fixture corpus tops out at 7×5, so the floor is a
    * fixture-scaled stand-in for that assumption — what it actually
    * filters here is the pattern-degenerate sub-16-pixel grid images. */
  val MinPhashPixels = 16

  /** Perceptual near-dup pairs over an aHash table: the 64-bit hash is
    * banded into 8 × 8-bit keys — by pigeonhole, a pair within hamming
    * 7 of 64 bits MUST agree on ≥1 whole band (≤7 differing bits can
    * touch at most 7 of the 8 bands), so recall at `maxHamming` ≤ 7 is
    * exact, not probabilistic (4 × 16-bit bands only guaranteed ≤ 3 —
    * a 4–6-bit pair spread across all four bands was silently dropped).
    * Candidates bucket-join on the band; an exact 64-position hamming
    * verify keeps pairs ≤ `maxHamming`. Pairing applies only above the
    * [[MinPhashPixels]] information floor. Never all-pairs: the join is
    * keyed on (band, value). */
  def phashPairs(phash: DataFrame, maxHamming: Int = 6): DataFrame = {
    require(maxHamming <= 7,
      s"phashPairs: 8-band pigeonhole guarantees recall only to hamming 7, " +
        s"got maxHamming=$maxHamming")
    val informative = phash
      .filter(col("width") * col("height") >= MinPhashPixels)
    val bands = informative.select(col("doc_id"), col("ahash"),
        explode(expr(
          "transform(sequence(0, 7), j -> struct(j AS j, substring(ahash, j * 8 + 1, 8) AS k))"))
          .as("b"))
      .select(col("doc_id"), col("ahash"), col("b.j").as("j"), col("b.k").as("k"))
    val hamming = (0 until 64)
      .map(i => when(substring(col("a_hash"), i + 1, 1) =!=
        substring(col("b_hash"), i + 1, 1), 1).otherwise(0))
      .reduce(_ + _)
    bands.select(col("doc_id").as("src"), col("ahash").as("a_hash"),
        col("j"), col("k"))
      .join(bands.select(col("doc_id").as("dst"), col("ahash").as("b_hash"),
        col("j"), col("k")), Seq("j", "k"))
      .filter(col("src") < col("dst"))
      .select(col("src"), col("dst"), col("a_hash"), col("b_hash")).distinct()
      .withColumn("hamming", hamming)
      .filter(col("hamming") <= maxHamming)
      .select(col("src"), col("dst"), col("hamming"))
      .orderBy(col("src"), col("dst"))
  }

  /** IDEMPOTENT per-micro-batch aHash ingest into a standing hash table
    * — the multimodal near-dup family's streaming maintenance twin (the
    * `stream_ann_ingest` pattern): decode + hash ONLY the arriving media
    * batch, anti-join the standing table's keys so a replayed micro-batch
    * is a no-op (at-least-once delivery must not duplicate hash rows —
    * a doubled row would band-join itself into a phantom pair), append
    * the survivors. The novel set is lineage-cut before the write (it
    * derives from the table being appended to — the insert-time
    * cache-invalidation trap the other ingest twins document). Work per
    * batch ∝ batch size; the standing table is touched only through its
    * key projection. A streaming caller drains through
    * [[graft.streaming.Streams.drain]], which drops the caller session's
    * cached relations after each batch, so the next batch's anti-join
    * lists what this one appended. */
  def phashIngest(spark: SparkSession, table: String,
      mediaBatch: DataFrame): Unit = {
    // dropDuplicates BEFORE the guard: the anti-join only sees the
    // standing table, so two copies of a doc WITHIN one micro-batch (an
    // at-least-once source that packed the redelivery into the same
    // trigger) would both survive it — the within-batch half of the
    // replay contract; hash rows are deterministic, so keeping either
    // copy is exact
    val ph = phashOf(spark, mediaBatch).dropDuplicates("doc_id")
    val fresh = ph.join(spark.table(table).select(col("doc_id")),
        Seq("doc_id"), "left_anti")
      .localCheckpoint()
    if (!fresh.isEmpty) fresh.write.mode("append").saveAsTable(table)
  }

  /** The hash table as a [[StandingIndex]] rooted at `table` itself, for
    * takedown: a plain table keyed by doc_id and keeping no guard (its
    * ingest is [[phashIngest]]'s anti-join). */
  private def phashIndex(spark: SparkSession, table: String): StandingIndex =
    StandingIndex(spark, table, "doc_id",
      Seq(StandingIndex.Table("", StandingIndex.Plain, phashOf(spark, _))),
      Nil)

  /** DELETE images from the standing hash table — takedown reaches
    * DERIVED state (the [[DedupIndex.indexDelete]] contract for the
    * multimodal layout): a taken-down image's hash must stop surfacing as
    * a near-dup partner, and image corpora are where takedown requests
    * (DMCA, hash-list hits) actually arrive. Tombstones only, anti-joined
    * by [[phashLive]] ([[StandingIndex.delete]]); unknown and
    * already-deleted ids are ignored, so the op is idempotent under
    * redelivery. */
  def phashDelete(spark: SparkSession, table: String,
      ids: DataFrame): Unit =
    phashIndex(spark, table).delete(ids)

  /** The LIVE (tombstone-filtered) view of a standing hash table — what
    * [[phashPairs]] probes between a delete and its compaction. The
    * anti-join's build side is the metadata-sized sidecar (broadcast);
    * the standing scan itself is untouched. */
  def phashLive(spark: SparkSession, table: String): DataFrame =
    Tombstones.filter(spark, table, spark.table(table), "doc_id")

  /** Compact the standing hash table without the tombstoned rows
    * ([[StandingIndex.compact]]) — row-identical to the pre-compact
    * [[phashLive]] view (spec-gated), and a compacted-away doc becomes
    * re-ingestable through [[phashIngest]]'s anti-join (its physical key
    * row is gone). */
  def phashCompact(spark: SparkSession, table: String): Unit =
    phashIndex(spark, table).compact()

  def resizeImages(spark: SparkSession, media: DataFrame,
      maxDim: Int = 4): DataFrame = {
    import spark.implicits._
    media.filter(col("kind") === "image").as[MediaRow]
      .mapPartitions { it =>
        it.grouped(BatchSize).flatMap(_.map { m =>
          imageIoInMemory
          val img =
            try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(m.bytes))
            catch { case _: Exception => null }
          if (img == null)
            MediaResize(m.doc_id, m.bytes(0) & 0xff, m.bytes(1) & 0xff,
              0, 0, -1, 0L)
          else {
            val (w, h) = (img.getWidth, img.getHeight)
            // fit WITHIN maxDim×maxDim: scale by the longer side, so tall
            // images downsample too (not a width-only cap)
            val longSide = math.max(w, h)
            val t = math.min(longSide, maxDim)
            val rw = math.max(w * t / longSide, 1)
            val rh = math.max(h * t / longSide, 1)
            val out = new java.awt.image.BufferedImage(rw, rh,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            var y = 0
            while (y < rh) {
              var x = 0
              while (x < rw) {
                out.setRGB(x, y, img.getRGB(x * w / rw, y * h / rh))
                x += 1
              }
              y += 1
            }
            MediaResize(m.doc_id, w, h, rw, rh,
              out.getRGB(0, 0) & 0xffffff, rw.toLong * rh * 3)
          }
        })
      }
      .toDF()
      .orderBy(col("doc_id"))
  }
}
