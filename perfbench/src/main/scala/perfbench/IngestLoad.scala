package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Norm
import graft.graph.GraphOps
import graft.model.Tables
import graft.ops._
import graft.streaming.Streams

/** `ingest`: writes beside reads, one closed-loop client. A write is timed
  * from its start until every layout it touches has applied it; the
  * read-your-write probes after it are timed apart (reported in the
  * details, not in the write latency).
  *
  * Each cycle runs, in this order: onboard, document feed, onboard,
  * detach-delete, onboard, document feed, onboard, takedown. Onboarding
  * dominates because it is the reference's only write endpoint. A document
  * pairs text (BM25) with an embedding (IVF) under one id. */
final class IngestLoad(ctx: Ctx) extends Workload {
  import Workloads._

  private val spark = ctx.spark
  import spark.implicits._
  private val tr = ctx.tr
  private val baseStudents = Tables.students(spark, ctx.dataDir)
  private val baseDocs = Tables.documents(spark, ctx.dataDir)
  private val baseEmb = Tables.embeddings(spark, ctx.dataDir)
  /** Compaction policy threshold passed to every family's compactIfNeeded:
    * ingest generations beyond this many trigger a compaction, so the
    * policy fires several times within one run. */
  val CompactAfter = 3
  val Cycle = Seq("onboard", "docs", "onboard", "delete", "onboard", "docs", "onboard", "takedown")
  override def cycle: Int = Cycle.size

  private var db = ""
  private var gen = 0
  private def studentsT = s"$db.students_g$gen"
  private def edgesT = s"$db.edges_g$gen"

  /** Driver-side model of the live rows: the expected answers. */
  private val live = mutable.LinkedHashMap[Long, Row]()
  private val liveDocs = mutable.LinkedHashMap[Long, (String, Array[Double])]()
  private val fedDocs = mutable.LinkedHashMap[Long, String]()
  private val takenDown = mutable.Set[Long]()
  private var nextDoc = 0L
  private var feeds = 0
  private val probeMs = mutable.ArrayBuffer[Double]()
  private val probeNames = mutable.ArrayBuffer[String]()

  def setup(db: String): Unit = {
    baseStudents.write.saveAsTable(s"$db.students_g0")
    val students = spark.table(s"$db.students_g0")
    parallel(
      () => tr("EdgeRules.backfill")(EdgeRules.backfill(students)
        .withColumn("common", Norm.emptyStrArray).write.saveAsTable(s"$db.edges_g0")),
      () => tr("FuzzySearch.buildIndex")(FuzzySearch.buildIndex(students, s"$db.fz")),
      () => tr("Search.buildIndex")(Search.buildIndex(baseDocs, s"$db.bm25")),
      () => tr("Similarity.buildIvfIndex")(Similarity.buildIvfIndex(baseEmb, s"$db.ivf")))
    // the partitioned write sets and restores a session conf, so it stays
    // off the pool (the engine's warm-build rule)
    tr("GraphOps.buildAdjacencyTablePartitioned")(
      GraphOps.buildAdjacencyTablePartitioned(students, s"$db.adj"))
  }

  def prepare(db: String): Unit = {
    this.db = db
    spark.table(studentsT).collect().foreach(r => live(r.getAs[Long]("id")) = r)
    baseDocs.join(baseEmb, col("doc_id") === col("vec_id")).collect().foreach { r =>
      liveDocs(r.getAs[Long]("doc_id")) =
        r.getAs[String]("text") -> r.getAs[Seq[Float]]("embedding").map(_.toDouble).toArray
    }
    nextDoc = math.max(baseDocs.count(), baseEmb.count())
  }

  def op(i: Int): (String, Double) = {
    val kind = Cycle(i % Cycle.size)
    val ms = kind match {
      case "onboard" => onboard(i)
      case "docs" => feedDocs()
      case "delete" => detachDelete()
      case "takedown" => takedown()
    }
    kind -> ms
  }

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    r -> (System.nanoTime() - t0) / 1e6
  }

  private def probe(what: String)(body: => Boolean): Unit = {
    attempted += 1
    val (ok, ms) = timed(try body catch { case e: Exception => ctx.fail(s"$what: $e"); true })
    probeMs += ms
    ctx.check(ok, s"read-your-write probe failed: $what")
  }

  /** The reference's recommend count for `id` over the live rows: other
    * students matching on board, stream, college or address, null-safe. */
  private def expectedMatches(id: Long): Long = {
    def n(r: Row, c: String) = Option(r.getAs[String](c)).getOrElse("").trim.toLowerCase
    val a = live(id)
    live.valuesIterator.count { r =>
      r.getAs[Long]("id") != id &&
        Seq("board", "stream", "college", "address").exists(c => n(r, c) == n(a, c))
    }.toLong
  }

  private def onboard(i: Int): Double = {
    val name = Data.customerName(900000000L + ctx.seed % 1000 * 10000 + i)
    val r = ctx.rng
    val fresh = Seq((name, (r.nextInt(12) - 1).toString,
      ctx.data.segments(r.nextInt(ctx.data.segments.size)), r.nextInt(25).toString,
      r.nextInt(7).toString)).toDF("name", "address", "college", "board", "stream")
    val (id, ms) = timed {
      val (id, delta) = tr("Ingest.onboard") {
        val (appended, id, delta) =
          Ingest.onboard(spark.table(studentsT), spark.table(edgesT), fresh)
        // the delta reads the edge table it is appended to: cut its lineage first
        val d = delta.localCheckpoint()
        appended.filter(col("id") === id).localCheckpoint()
          .write.mode("append").saveAsTable(studentsT)
        d.write.mode("append").saveAsTable(edgesT)
        id -> d
      }
      val row = spark.table(studentsT).filter(col("id") === id).localCheckpoint()
      tr("FuzzySearch.indexDeltaIdempotent")(FuzzySearch.indexDeltaIdempotent(s"$db.fz", row))
      tr("GraphOps.adjacencyApplyDelta")(GraphOps.adjacencyApplyDelta(spark, s"$db.adj", delta, id))
      tr("FuzzySearch.compactIfNeeded")(
        FuzzySearch.compactIfNeeded(spark, s"$db.fz", maxBatches = CompactAfter))
      id
    }
    live(id) = spark.table(studentsT).filter(col("id") === id).collect().head
    probeNames += name.toLowerCase
    probe(s"byId $id")(tr("StudentQueries.byId")(
      StudentQueries.byId(spark.table(studentsT), id).collect()).map(_.getAs[String]("name"))
      .toSeq == Seq(name.toLowerCase))
    probe(s"recommend $id")(tr("Recommend.recommend")(Recommend.responseMessage(
      Recommend.recommend(spark.table(studentsT), id)).collect().head.getLong(1)) ==
      expectedMatches(id))
    probe(s"fuzzy $name")(tr("FuzzySearch.topKIndexed")(
      FuzzySearch.topKIndexed(spark, s"$db.fz", name.toLowerCase).collect())
      .headOption.map(_.getAs[Long]("id")).contains(id))
    ms
  }

  private def detachDelete(): Double = {
    val victim = live.keys.toSeq(ctx.rng.nextInt(live.size))
    val ms = timed {
      val (oldS, oldE) = (studentsT, edgesT)
      tr("Ingest.detachDelete") {
        val (s2, e2) = Ingest.detachDelete(spark.table(oldS), spark.table(oldE), victim)
        gen += 1
        s2.write.saveAsTable(studentsT)
        e2.write.saveAsTable(edgesT)
      }
      spark.sql(s"DROP TABLE $oldS")
      spark.sql(s"DROP TABLE $oldE")
      tr("FuzzySearch.indexDelete")(FuzzySearch.indexDelete(s"$db.fz", Seq(victim).toDF("id")))
      tr("GraphOps.adjacencyDelete")(applyAdjacencyDelete(victim))
      tr("FuzzySearch.compactIfNeeded")(
        FuzzySearch.compactIfNeeded(spark, s"$db.fz", maxBatches = CompactAfter))
    }._2
    val name = live(victim).getAs[String]("name")
    live.remove(victim)
    probe(s"byId deleted $victim")(tr("StudentQueries.byId")(
      StudentQueries.byId(spark.table(studentsT), victim).collect()).isEmpty)
    probe(s"fuzzy deleted $name")(!tr("FuzzySearch.topKIndexed")(
      FuzzySearch.topKIndexed(spark, s"$db.fz", name).collect()).exists(_.getAs[Long]("id") == victim))
    ms
  }

  /** Applies the engine's post-delete slices to the partitioned standing
    * adjacency: affected keys get their new slice, the victim's own slice
    * and every edge into it go, untouched buckets are not rewritten. */
  private def applyAdjacencyDelete(victim: Long): Unit = {
    val adj = s"$db.adj"
    val buckets = GraphOps.AdjBuckets
    val slices = GraphOps.adjacencyDelete(spark, adj, spark.table(studentsT), victim)
      .withColumn("bucket", pmod(col("src"), lit(buckets)).cast("int"))
      .localCheckpoint()
    val affected = spark.table(adj).filter(col("dst") === victim).select(col("src"))
    val keys = affected.union(Seq(victim).toDF("src")).distinct().localCheckpoint()
    val touched = keys.select(pmod(col("src"), lit(buckets)).cast("int")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val out = spark.table(adj).filter(col("bucket").isin(touched: _*))
      .join(broadcast(keys), Seq("src"), "left_anti")
      .select(col("src"), col("dst"), col("bucket"))
      .unionByName(slices.select(col("src"), col("dst"), col("bucket")))
      .localCheckpoint()
    val conf = spark.conf
    val prev = conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try out.repartition(col("bucket")).write.mode("overwrite").insertInto(adj)
    finally conf.set("spark.sql.sources.partitionOverwriteMode", prev)
  }

  private def feedDir(): String = {
    feeds += 1
    ctx.root.resolve("feeds").resolve(s"f$feeds").toString
  }

  private def feedDocs(): Double = {
    val r = ctx.rng
    val ids = Seq(nextDoc, nextDoc + 1)
    nextDoc += 2
    val docs = ids.map(id => (id, ctx.data.docText(r, Seq(s"zq$id")), ctx.data.nearVector(r)))
    val dir = feedDir()
    // the feed file is the write's arrival; it lands before the clock starts
    docs.map { case (id, text, _) => (id, text, "en", "feed", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars").coalesce(1).write.parquet(dir)
    val vecs = docs.map { case (id, _, v) => (id, v.map(_.toFloat).toSeq, -1) }
      .toDF("vec_id", "embedding", "label")
    val ms = timed {
      tr("Streams.incrementalIndexing") {
        val q = Streams.incrementalIndexing(
          spark.readStream.schema(Tables.documents(spark, ctx.dataDir).schema).parquet(dir),
          s"$db.bm25", maxBatches = CompactAfter)
        try q.processAllAvailable() finally q.stop()
      }
      tr("Similarity.ivfIndexDeltaIdempotent")(Similarity.ivfIndexDeltaIdempotent(s"$db.ivf", vecs))
      tr("Similarity.compactIvfIfNeeded")(
        Similarity.compactIvfIfNeeded(spark, s"$db.ivf", maxBatches = CompactAfter))
    }._2
    docs.foreach { case (id, text, v) => liveDocs(id) = text -> v; fedDocs(id) = text }
    ids.foreach(id => probe(s"bm25 new doc $id")(tr("Search.bm25Indexed")(
      Search.bm25Indexed(spark, s"$db.bm25", Seq(s"zq$id")).collect())
      .map(_.getAs[Long]("doc_id")).toSeq == Seq(id)))
    ms
  }

  /** Takes down the oldest document this run fed (its unique term makes the
    * probe exact), or a seeded base document when none is live. */
  private def takedown(): Double = {
    val victim = fedDocs.keys.find(liveDocs.contains)
      .getOrElse(liveDocs.keys.toSeq(ctx.rng.nextInt(liveDocs.size)))
    val dir = feedDir()
    Seq(victim).toDF("doc_id").coalesce(1).write.parquet(dir)
    val ms = timed {
      tr("Streams.incrementalDeletion") {
        val q = Streams.incrementalDeletion(
          spark.readStream.schema(StructType(Seq(StructField("doc_id", LongType)))).parquet(dir),
          Search.indexDelete(s"$db.bm25", _))
        try q.processAllAvailable() finally q.stop()
      }
      tr("Similarity.ivfIndexDelete")(Similarity.ivfIndexDelete(s"$db.ivf", Seq(victim).toDF("vec_id")))
      tr("Similarity.compactIvfIfNeeded")(
        Similarity.compactIvfIfNeeded(spark, s"$db.ivf", maxBatches = CompactAfter))
    }._2
    liveDocs.remove(victim)
    takenDown += victim
    if (fedDocs.contains(victim))
      probe(s"bm25 taken down $victim")(tr("Search.bm25Indexed")(
        Search.bm25Indexed(spark, s"$db.bm25", Seq(s"zq$victim")).collect()).isEmpty)
    ms
  }

  private def finalDocs: DataFrame =
    baseDocs.filter(!col("doc_id").isin(takenDown.toSeq: _*)).unionByName(
      fedDocs.toSeq.filterNot(d => takenDown(d._1))
        .map { case (id, text) => (id, text, "en", "feed", text.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars"))

  private def finalVectors: DataFrame =
    liveDocs.toSeq.map { case (id, (_, v)) => (id, v.map(_.toFloat).toSeq, 0) }
      .toDF("vec_id", "embedding", "label")

  /** The final state against a from-scratch rebuild over the final live rows
    * (built into bench_fresh, which spaceAmp then measures). */
  def finish(): Unit = {
    val fresh = ctx.database("bench_fresh")
    val students = spark.table(studentsT)
    EdgeRules.backfill(students).withColumn("common", Norm.emptyStrArray)
      .write.saveAsTable(s"$fresh.edges")
    FuzzySearch.buildIndex(students, s"$fresh.fz")
    GraphOps.buildAdjacencyTablePartitioned(students, s"$fresh.adj")
    Search.buildIndex(finalDocs, s"$fresh.bm25")
    Similarity.buildIvfIndex(finalVectors, s"$fresh.ivf")

    def sameRows(what: String, a: DataFrame, b: DataFrame): Unit =
      ctx.check(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, s"final $what differs from rebuild")
    ctx.check(students.count() == live.size, s"final students: ${students.count()} != ${live.size}")
    sameRows("edges", spark.table(edgesT).select("src", "dst", "rel_type"),
      spark.table(s"$fresh.edges").select("src", "dst", "rel_type"))
    sameRows("adjacency", spark.table(s"$db.adj").select("src", "dst"),
      spark.table(s"$fresh.adj").select("src", "dst"))
    val queries = probeNames.toSeq ++ Seq.fill(3)(
      typo(live.values.toSeq(ctx.rng.nextInt(live.size)).getAs[String]("name"), ctx.rng))
    queries.foreach { q =>
      val got = FuzzySearch.topKIndexed(spark, s"$db.fz", q).select("id", "score").collect().toSeq
      val want = FuzzySearch.topK(students, q, c => FuzzySearch.levRatio(c, lit(q)))
        .select("id", "score").collect().toSeq
      ctx.check(got == want, s"final fuzzy '$q': $got != $want")
    }
    Seq(Seq("spark"), Seq("hash", "join"), Seq("stream", "vector", "window")).foreach { terms =>
      val got = Search.bm25Indexed(spark, s"$db.bm25", terms).select("doc_id", "score").collect().toSeq
      val want = Search.bm25TopK(finalDocs, terms).select("doc_id", "score").collect().toSeq
      ctx.check(got == want, s"final bm25 $terms: $got != $want")
    }
    val ivfLive = Tombstones.filter(spark, s"$db.ivf", spark.table(s"$db.ivf_ivf"), "vec_id")
      .select("vec_id").as[Long].collect().toSet
    ctx.check(ivfLive == liveDocs.keySet.toSet,
      s"final IVF lists hold ${ivfLive.size} live ids, expected ${liveDocs.size}")
    ctx.details("probe_p50_ms") = Stats.median(probeMs.toSeq)
    ctx.details("probe_p90_ms") = Stats.quantile(probeMs.toSeq, Stats.TailQ)
    ctx.details("probes") = probeMs.size
    ctx.details("final_rows") = Map("students" -> live.size, "documents" -> liveDocs.size)
  }

  /** Edge table and the four layouts as maintained, against the same rebuilt
    * from scratch over the final live rows. */
  def spaceAmp(): Double = {
    def bytes(d: String) = Main.databaseBytes(spark, d) -
      spark.catalog.listTables(d).collect().map(_.name).filter(_.startsWith("students"))
        .map(t => Main.tableBytes(spark, s"$d.$t")).sum
    bytes(db).toDouble / bytes("bench_fresh")
  }
}
