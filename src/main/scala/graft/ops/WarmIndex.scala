package graft.ops

import org.apache.spark.sql.SparkSession

import graft.model.Tables

/** Session-prebuilt standing indexes for the QUERY-ONLY rows (the q15
  * warm-view precedent applied to index-backed retrieval): every
  * `*_indexed` row prices build + query together, so a plan regression
  * in the QUERY path — the amortized repeated-query regime the index
  * exists for — can hide inside build-cost noise. Each build here runs
  * once per (layout, sfDir) per JVM; the `*_query` twins then time
  * probe + ADC + rescore (or postings probe + score) ONLY. Under the
  * bench harness's best-of-2, iteration 1 pays the one-time build and
  * iteration 2 is the pure query — the recorded number.
  *
  * The external-query oracle rows reuse the same standing indexes, so
  * correctness coverage costs no extra builds. */
object WarmIndex {

  private val built =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Memoized build: one table per (kind, sfDir) per JVM, in a
    * temp-located `graft_warm` database (fresh location per JVM — a
    * stale warehouse dir from an earlier run must not collide).
    * `computeIfAbsent` runs the build AT MOST ONCE per key even under
    * concurrent first callers (a lock-free getOrElseUpdate would let two
    * racers both build into the same table name). */
  /** Database creation is the one catalog-global step — serialized so
    * concurrent first-builders ([[prebuildAll]]'s pool) cannot race the
    * IF-NOT-EXISTS check-then-create. The temp LOCATION is minted ONCE
    * per JVM (a location per kind would orphan 8 empty dirs per run),
    * but the idempotent CREATE itself runs on EVERY ensure(): the
    * database lives in a SESSION catalog, so a JVM-lifetime "created"
    * boolean would skip the CREATE for a second SparkSession with a
    * fresh metastore (or after anything dropped graft_warm) and every
    * later build would die with NoSuchDatabase — the per-call CREATE is
    * self-healing. */
  private var dbLocation: Option[String] = None
  private def ensureDb(spark: SparkSession): Unit =
    WarmIndex.synchronized {
      val wh = dbLocation.getOrElse {
        val w = java.nio.file.Files.createTempDirectory("graft-warm")
          .toFile.getAbsolutePath
        dbLocation = Some(w)
        w
      }
      spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_warm LOCATION '$wh'")
    }

  /** How many builds have actually RUN in this JVM (memoized hits don't
    * count) — lets WarmIndexSpec pin the bench pricing regime: after
    * [[prebuildAll]], no benched `*_query` row may trigger an inline
    * build (a failed prebuild silently shifting build cost into query
    * rows would make every graph band meaningless). */
  private[graft] val buildCount =
    new java.util.concurrent.atomic.AtomicInteger(0)

  private def ensure(spark: SparkSession, sfDir: String, kind: String)(
      build: String => Unit): String =
    built.computeIfAbsent(s"$kind|$sfDir", { _ =>
      ensureDb(spark)
      // table name = SANITIZED path (readable) + a digest of the RAW
      // path (collision-free): sanitization alone can collide (e.g.
      // `/data/sf0.001` and `/data/sf0_001` both sanitize to `sf0_001`),
      // which would silently serve one corpus's warm index for the other
      val digest = java.security.MessageDigest.getInstance("SHA-256")
        .digest(sfDir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .take(8).map("%02x".format(_)).mkString
      val t = s"graft_warm.${kind}_" +
        s"${sfDir.replaceAll("[^A-Za-z0-9]", "_")}_$digest"
      buildCount.incrementAndGet()
      build(t)
      t
    })

  def ivf(spark: SparkSession, sfDir: String): String =
    ensure(spark, sfDir, "ivf")(t =>
      Similarity.buildIvfIndex(Tables.embeddings(spark, sfDir), t))

  def ivfPq(spark: SparkSession, sfDir: String): String =
    ensure(spark, sfDir, "ivfpq")(t =>
      Similarity.buildIvfIndex(Tables.embeddings(spark, sfDir), t,
        Similarity.Codec.Pq))

  def ivfPqResidual(spark: SparkSession, sfDir: String): String =
    ensure(spark, sfDir, "ivfpqr")(t =>
      Similarity.buildIvfIndex(Tables.embeddings(spark, sfDir), t,
        Similarity.Codec.PqResidual))

  def ivfSq(spark: SparkSession, sfDir: String): String =
    ensure(spark, sfDir, "ivfsq")(t =>
      Similarity.buildIvfIndex(Tables.embeddings(spark, sfDir), t,
        Similarity.Codec.Sq8))

  def bm25(spark: SparkSession, sfDir: String): String =
    ensure(spark, sfDir, "bm25")(t =>
      Search.buildIndex(Tables.documents(spark, sfDir), t))

  /** Positional postings for the phrase probes ([[Phrase]] family). */
  def positional(spark: SparkSession, sfDir: String): String =
    ensure(spark, sfDir, "pos")(t =>
      Phrase.buildPositional(Tables.documents(spark, sfDir), t))

  def fuzzy(spark: SparkSession, sfDir: String): String =
    ensure(spark, sfDir, "fuzzy")(t =>
      FuzzySearch.buildIndex(Tables.students(spark, sfDir), t))

  /** Fuzzy index WITH the advisory gram-df sidecar — the standing
    * layout the prefix-filtered (`prefixSkip`) probe reads. A separate
    * kind from [[fuzzy]]: the plain query-only rows keep pricing the
    * sidecar-less layout, and the skip twin's number prices the skip
    * PROBE alone, not the sidecar build. */
  def fuzzySkip(spark: SparkSession, sfDir: String): String =
    ensure(spark, sfDir, "fuzzyskip") { t =>
      FuzzySearch.buildIndex(Tables.students(spark, sfDir), t)
      FuzzySearch.writeGramDf(spark, t)
    }

  /** Standing capped student-graph adjacency (the walk family's layout —
    * [[graft.graph.GraphOps.buildAdjacencyTable]]); serves the
    * `graph_ppr_query` query-only twin. */
  def graphAdjacency(spark: SparkSession, sfDir: String): String =
    ensure(spark, sfDir, "graphadj")(t =>
      graft.graph.GraphOps.buildAdjacencyTable(Tables.students(spark, sfDir), t))

  /** Force-build every standing index for `sfDir`. Bench calls this ONCE
    * before the timed loop (priced as its own `warm_index_build` number),
    * so no query row's recorded time depends on whether it happened to be
    * the suite's first toucher of a shared index — the round-17 verdict's
    * order-dependent-pricing finding (`sim_ann_filtered_fused` read 6.6×
    * its band purely because it ran first). Idempotent: each build is
    * memoized per (kind, sfDir) per JVM. */
  def prebuildAll(spark: SparkSession, sfDir: String): Unit = {
    // The nine layouts are INDEPENDENT (distinct tables, distinct source
    // frames) — build them as concurrent driver jobs instead of a serial
    // chain: each build is a sequence of small stages that leaves most of
    // the cluster idle between them, so overlapping builds fills the gaps
    // (the standard multi-job Spark driver pattern; scheduling stays
    // correct because Spark sessions are thread-safe for concurrent
    // actions). ALL NINE in flight (r22): the four ANN builds are the
    // long poles (each a driver-gap-bound chain of small stages, ~4×
    // the text/graph builds' length) and a pool of 4 made the five
    // short builds WAIT for the ANN quartet to drain — a pure serial
    // tail. Measured r22 (DebugWarm, interleaved on one host): pool 9
    // beat pool 4 on both repeats (15.9 vs 25.5 s, 13.0 vs 16.4 s).
    // Tasks, not threads, are the scheduled unit, so nine driver jobs
    // cannot oversubscribe executors — FIFO scheduling backfills the
    // long builds' stage gaps with the short builds' tasks (the guide's
    // overlap-independent-jobs pattern). Memoization is untouched —
    // each build still runs at most once per (kind, sfDir).
    //
    // INVARIANT for this seq: builds run on POOL threads concurrently, so
    // no build (or its Tables loader) may MUTATE shared session conf —
    // today both loader sets (session.timeZone, parquet.nanosAsLong) are
    // same-value idempotent, which is why this is safe. A build that needs
    // a set/restore conf pair (the partitionOverwriteMode pattern in
    // GraphOps.writePartitioned) or CacheScope.scopedConf would race the
    // other three builds' reads and must NOT join this pool — run it
    // serially before or after instead.
    val builds: Seq[() => String] = Seq(
      () => ivf(spark, sfDir), () => ivfPq(spark, sfDir),
      () => ivfPqResidual(spark, sfDir), () => ivfSq(spark, sfDir),
      () => bm25(spark, sfDir), () => positional(spark, sfDir),
      () => fuzzy(spark, sfDir), () => fuzzySkip(spark, sfDir),
      () => graphAdjacency(spark, sfDir))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(builds.size)
    try {
      val futs = builds.map(b =>
        pool.submit(new java.util.concurrent.Callable[String] {
          def call(): String = b()
        }))
      // surface the FIRST build failure with its real cause, not the
      // ExecutionException wrapper — and cancel everything still queued
      // or in flight first: shutdown() alone would keep running builds
      // (and START the queued ones) on non-daemon threads after the
      // caller has already seen the throw
      futs.foreach { f =>
        try f.get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            futs.foreach(_.cancel(true))
            pool.shutdownNow()
            throw e.getCause
        }
      }
    } finally pool.shutdown()
  }
}
