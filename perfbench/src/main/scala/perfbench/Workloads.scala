package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.entry.EntryFixtures
import graft.graph.GraphOps
import graft.model.Tables
import graft.ops._
import graft.streaming.Streams

object Workloads {
  def make(name: String, ctx: Ctx): Workload = name match {
    case "serve" => new Serve(ctx)
    case "ingest" => new IngestLoad(ctx)
    case "backfill" => new Backfill(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** The spans of the gated workloads (`serve`, `backfill`), in the order
    * the per-layer output lists them; a workload reports 0 for spans it
    * never calls. */
  val Spans: Seq[String] = Seq(
    "StudentQueries.byId", "StudentQueries.byName", "Recommend.recommend",
    "FuzzySearch.topKIndexed", "StudentQueries.pairRelationship",
    "GraphOps.personalizedPageRankRecommendIndexed", "Search.bm25Indexed",
    "Similarity.annIvfIndexedTopK",
    "FuzzySearch.buildIndex", "GraphOps.buildAdjacencyTable",
    "Search.buildIndex", "Similarity.buildIvfIndex",
    "EdgeRules.backfill", "Ingest.onboard", "Streams.incrementalIndexing",
    "GraphOps.personalizedPageRankConvergedBatch",
    "GraphOps.labelPropagationStudentsIndexed", "GraphOps.kCoreStudentsIndexed",
    "GraphOps.connectedComponents")

  /** The write and maintenance spans only `ingest` calls. */
  val IngestSpans: Seq[String] = Seq(
    "FuzzySearch.indexDeltaIdempotent", "GraphOps.adjacencyApplyDelta",
    "Ingest.detachDelete", "FuzzySearch.indexDelete", "GraphOps.adjacencyDelete",
    "Streams.incrementalDeletion", "Similarity.ivfIndexDeltaIdempotent",
    "Similarity.ivfIndexDelete", "GraphOps.buildAdjacencyTablePartitioned",
    "FuzzySearch.compactIfNeeded", "Similarity.compactIvfIfNeeded")

  def spans(workload: String): Seq[String] =
    if (workload == "ingest") Spans ++ IngestSpans else Spans

  /** A result row as plain values for a check record (arrays joined by |). */
  def values(r: Row): Seq[Any] = r.toSeq.map {
    case s: scala.collection.Seq[_] => s.mkString("|")
    case v => v
  }

  /** Replaces 1–2 characters of `s` (a seeded typo). */
  def typo(s: String, r: SplittableRandom): String = {
    val alphabet = "abcdefghijklmnopqrstuvwxyz0123456789#"
    val b = new StringBuilder(s)
    (1 to 1 + r.nextInt(2)).foreach { _ =>
      b.setCharAt(r.nextInt(b.length), alphabet(r.nextInt(alphabet.length)))
    }
    b.toString
  }

  def seededOrder[T](xs: Seq[T], r: SplittableRandom): Seq[T] =
    xs.map(x => (r.nextDouble(), x)).sortBy(_._1).map(_._2)

  /** The j4_pair_relationship form: the rules run on the two named rows
    * only (rule-input pruning), as the engine's own entry does. */
  def pairRelationship(ctx: Ctx, students: DataFrame, n1: String, n2: String): DataFrame = {
    val s = ctx.spark
    val names = Seq(n1, n2)
    val stPair = students.filter(lower(col("name")).isin(names.map(_.toLowerCase): _*))
    val interests = Tables.studentInterests(s, ctx.dataDir)
    val prevSalt = s.conf.getOption(EdgeRules.PairSaltConf)
    val prevMan = s.conf.getOption(EdgeRules.PairManualShuffleConf)
    s.conf.set(EdgeRules.PairSaltConf, "1")
    s.conf.set(EdgeRules.PairManualShuffleConf, "false")
    val edges =
      try EdgeRules.backfill(stPair)
        .withColumn("common", lit(null).cast("array<string>"))
        .unionByName(EdgeRules.interestRule(
          interests.join(broadcast(stPair.select(col("id"))), Seq("id"), "left_semi")))
      finally {
        prevSalt.fold(s.conf.unset(EdgeRules.PairSaltConf))(v => s.conf.set(EdgeRules.PairSaltConf, v))
        prevMan.fold(s.conf.unset(EdgeRules.PairManualShuffleConf))(v =>
          s.conf.set(EdgeRules.PairManualShuffleConf, v))
      }
    StudentQueries.pairRelationship(students.join(interests, Seq("id")), edges, n1, n2)
  }

  /** Exact cosine top-k over the generated corpus (the IVF recall base). */
  final class ExactCosine(vecs: Array[(Long, Array[Double])]) {
    def topK(q: Array[Double], k: Int): Seq[Long] = {
      val qn = math.sqrt(q.map(x => x * x).sum)
      vecs.map { case (id, v) =>
        var d = 0.0; var n = 0.0; var i = 0
        while (i < v.length) { d += v(i) * q(i); n += v(i) * v(i); i += 1 }
        (id, d / (math.sqrt(n) * qn))
      }.sortBy(x => (-x._2, x._1)).take(k).map(_._1).toSeq
    }
  }

  /** Runs `jobs` on up to nproc driver threads and waits for all. */
  def parallel(jobs: (() => Unit)*): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(jobs.size, Runtime.getRuntime.availableProcessors))
    try jobs.map(j => pool.submit(new java.util.concurrent.Callable[Unit] {
      def call(): Unit = j()
    })).foreach(_.get())
    finally pool.shutdown()
  }

  def loadVectors(emb: DataFrame): Array[(Long, Array[Double])] =
    emb.select(col("vec_id"), col("embedding")).collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
}

import Workloads._

/** `serve`: the reference's read endpoints against warm standing state,
  * one closed-loop client. Each cycle calls every request type once, in a
  * seeded order, so every run has the same mix; anchors are drawn
  * uniformly. */
final class Serve(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val tr = ctx.tr
  private val students = Tables.students(spark, ctx.dataDir)
  private val docs = Tables.documents(spark, ctx.dataDir)
  private val emb = Tables.embeddings(spark, ctx.dataDir)
  private val n = students.count()
  private var db = ""
  val Kinds = Seq("byId", "byName", "recommend", "fuzzy", "pair", "ppr", "bm25", "ann")
  val AnnK = 10
  val AnnNprobe = 2
  /** Mean IVF recall@10 against exact cosine must reach this. */
  val AnnRecallFloor = 0.8

  private val annDone = mutable.ArrayBuffer[(Array[Double], Seq[Long])]()
  private var order: Seq[String] = Nil

  override def cycle: Int = Kinds.size
  /** One cold set-up, then the one the timed loop uses: the run's time goes
    * to timed requests rather than to more set-ups. */
  override def setupReps: Int = 2

  /** The four standing layouts, built concurrently: the engine's own warm
    * build runs these same builds as concurrent driver jobs. */
  def setup(db: String): Unit = parallel(
    () => tr("FuzzySearch.buildIndex")(FuzzySearch.buildIndex(students, s"$db.fz")),
    () => tr("GraphOps.buildAdjacencyTable")(GraphOps.buildAdjacencyTable(students, s"$db.adj")),
    () => tr("Search.buildIndex")(Search.buildIndex(docs, s"$db.bm25")),
    () => tr("Similarity.buildIvfIndex")(Similarity.buildIvfIndex(emb, s"$db.ivf")))

  /** One untimed, untraced call of every request type warms codegen and
    * readers (a first call costs about twice a warm one); the calls are
    * independent reads, so they run concurrently. */
  def prepare(db: String): Unit = {
    this.db = db
    parallel(Kinds.zipWithIndex.map { case (k, i) =>
      () => request(k, new SplittableRandom(ctx.seed + i), record = false)
    }: _*)
  }

  private def anchor(r: SplittableRandom): Long = r.nextLong(n)

  def op(i: Int): (String, Double) = {
    if (i % Kinds.size == 0) order = seededOrder(Kinds, ctx.rng)
    val kind = order(i % Kinds.size)
    val t0 = System.nanoTime()
    request(kind, ctx.rng, record = true)
    kind -> (System.nanoTime() - t0) / 1e6
  }

  private def request(kind: String, r: SplittableRandom, record: Boolean): Unit = {
    def span[T](name: String)(body: => T): T = if (record) tr(name)(body) else body
    kind match {
      case "byId" =>
        val id = anchor(r)
        val rows = span("StudentQueries.byId")(StudentQueries.byId(students, id).collect())
        if (record) ctx.record("kind" -> "byId", "id" -> id, "rows" -> rows.map(values))
      case "byName" =>
        val name = Data.customerName(anchor(r))
        val rows = span("StudentQueries.byName")(StudentQueries.byName(students, name).collect())
        if (record) ctx.record("kind" -> "byName", "name" -> name, "rows" -> rows.map(values))
      case "recommend" =>
        val id = anchor(r)
        val msg = span("Recommend.recommend")(
          Recommend.responseMessage(Recommend.recommend(students, id)).collect().head)
        if (record) ctx.record("kind" -> "recommend", "id" -> id, "message" -> msg.getString(0),
          "total" -> msg.getLong(1))
      case "fuzzy" =>
        val q = typo(Data.customerName(anchor(r)).toLowerCase, r)
        val rows = span("FuzzySearch.topKIndexed")(
          FuzzySearch.topKIndexed(spark, s"$db.fz", q).collect())
        if (record) ctx.record("kind" -> "fuzzy", "q" -> q,
          "rows" -> rows.map(row => Seq(row.getAs[Long]("id"), row.getAs[Double]("score"))))
      case "pair" =>
        val (a, b) = (Data.customerName(anchor(r)), Data.customerName(anchor(r)))
        val rows = span("StudentQueries.pairRelationship")(
          pairRelationship(ctx, students, a, b).collect())
        if (record) ctx.record("kind" -> "pair", "a" -> a, "b" -> b, "rows" -> rows.map(values))
      case "ppr" =>
        val id = anchor(r)
        val rows = span("GraphOps.personalizedPageRankRecommendIndexed")(
          GraphOps.personalizedPageRankRecommendIndexed(spark, s"$db.adj", students, id).collect())
        if (record) ctx.record("kind" -> "oracle", "name" -> s"ppr $id",
          "sql" -> pprRecommendSql(id), "rows" -> rows.map(values))
      case "bm25" =>
        val terms = seededOrder(ctx.data.vocab, r).take(1 + r.nextInt(3)).sorted
        val rows = span("Search.bm25Indexed")(Search.bm25Indexed(spark, s"$db.bm25", terms).collect())
        if (record) ctx.record("kind" -> "bm25", "terms" -> terms,
          "rows" -> rows.map(row => Seq(row.getAs[Long]("doc_id"), row.getAs[Double]("score"))))
      case "ann" =>
        val q = ctx.data.nearVector(r)
        import spark.implicits._
        val qdf = Seq((-1L, q.toSeq)).toDF("qid", "v")
        val rows = span("Similarity.annIvfIndexedTopK")(
          Similarity.annIvfIndexedTopK(spark, s"$db.ivf", qdf, AnnK, AnnNprobe).collect())
        if (record) annDone += q -> rows.map(_.getAs[Long]("vec_id")).toSeq
    }
  }

  /** The engine's own PPR-recommend oracle SQL (fixed to anchor 1), re-aimed
    * at `anchor`: the walk chain with the anchor swapped, plus the
    * recommend tail (drop the anchor and its true 1-hop neighbours). */
  private def pprRecommendSql(anchor: Long): String = {
    val sql = EntryFixtures.withStudents(EntryFixtures.pprRecommendOracleTail)
    val chain = sql.substring(0, sql.indexOf(" SELECT node, r AS rank_scaled FROM R3"))
    require(chain.contains("unnest([1])"), "PPR oracle chain changed shape")
    chain.replace("unnest([1])", s"unnest([$anchor])") +
      s" SELECT node, r AS rank_scaled FROM R3 WHERE r > 0 AND node <> $anchor " +
      s"AND node NOT IN (SELECT dst FROM e WHERE src = $anchor " +
      s"UNION SELECT src FROM e WHERE dst = $anchor) " +
      "ORDER BY rank_scaled DESC, node LIMIT 10"
  }

  def finish(): Unit = {
    if (annDone.nonEmpty) {
      val exact = new ExactCosine(loadVectors(emb))
      val recalls = annDone.map { case (q, got) =>
        got.toSet.intersect(exact.topK(q, AnnK).toSet).size.toDouble / AnnK
      }
      val mean = recalls.sum / recalls.size
      ctx.details("ann_recall_at_10") = mean
      ctx.details("ann_recall_floor") = AnnRecallFloor
      ctx.check(mean >= AnnRecallFloor, s"ann recall $mean < $AnnRecallFloor")
    }
  }

  /** Serving never writes: the live layouts against another from-scratch
    * build of the same rows (this run's first set-up); reads about 1.0. */
  def spaceAmp(): Double =
    Main.dirBytes(ctx.root.resolve("warehouse").resolve(db)).toDouble /
      Main.dirBytes(ctx.root.resolve("warehouse").resolve("bench_s1"))
}

/** `backfill`: the reference's startup job plus the graph analytics, one
  * batch job per run. The job materialises the edge table, onboards the
  * student who signed up while it ran (the API's write path, MERGE'd
  * against the fresh edge table) and builds the standing adjacency; then,
  * on two driver threads, runs the fixpoint analytics over it and drains
  * the document feed into a fresh BM25 index through the streaming path. */
final class Backfill(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  import spark.implicits._
  private val tr = ctx.tr
  private var db = ""
  private val n = Tables.students(spark, ctx.dataDir).count()
  /** Seeded anchors for the batch PPR, plus one id that does not exist. */
  private val anchors = Seq.fill(3)(ctx.rng.nextLong(n)).distinct :+ 9999999L
  /** The newcomer, as a customer row (the students view's source). Its
    * id is MAX+1 = n, so the view's `stream` (id % 7) and `address`
    * (balance band) come out as onboarding stores them. */
  private val newcomer = (n, Data.customerName(n), ctx.rng.nextInt(25),
    ctx.rng.nextInt(11) * 1000.0 + 500.0, ctx.data.segments(ctx.rng.nextInt(ctx.data.segments.size)))
  private var last: Map[String, Seq[Seq[Any]]] = Map.empty
  private val docs = Tables.documents(spark, ctx.dataDir)
  /** The document feed: the corpus in two files, one micro-batch each, as
    * the engine's own streaming-ingest entry feeds it. */
  private val feed = ctx.root.resolve("feeds").resolve("docs").toString

  private def students = spark.table(s"$db.students")

  /** The batch cannot run twice in one database: one per run. */
  override def fixedOps: Int = 1

  def setup(db: String): Unit = {
    Tables.students(spark, ctx.dataDir).write.saveAsTable(s"$db.students")
    spark.table(s"$db.students").count()
  }

  def prepare(db: String): Unit = {
    this.db = db
    docs.filter(col("doc_id") % 2 === 0).repartition(1).write.parquet(feed)
    docs.filter(col("doc_id") % 2 === 1).repartition(1).write.mode("append").parquet(feed)
  }

  def op(i: Int): (String, Double) = {
    val (id, name, board, bal, segment) = newcomer
    val fresh = Seq((name, (bal / 1000).toInt.toString, segment, board.toString,
      (id % 7).toString)).toDF("name", "address", "college", "board", "stream")
    val t0 = System.nanoTime()
    val edges = s"$db.edges"
    tr("EdgeRules.backfill")(EdgeRules.backfill(students).write.saveAsTable(edges))
    tr("Ingest.onboard") {
      val (appended, newId, delta) = Ingest.onboard(students, spark.table(edges), fresh)
      ctx.check(newId == id, s"onboarding assigned id $newId, expected $id")
      // the delta reads the edge table it is appended to: cut its lineage first
      val d = delta.select("src", "dst", "rel_type").localCheckpoint()
      appended.filter(col("id") === newId).localCheckpoint()
        .write.mode("append").saveAsTable(s"$db.students")
      d.write.mode("append").saveAsTable(edges)
    }
    tr("GraphOps.buildAdjacencyTable")(GraphOps.buildAdjacencyTable(students, s"$db.adj"))
    val customers = Tables.customer(spark, ctx.dataDir).unionByName(
      Seq(newcomer).toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"))
    val out = new java.util.concurrent.ConcurrentHashMap[String, Array[Row]]()
    // Two branches on two driver threads. PPR's rounds are driver-bound and
    // leave executor slots idle; the rest of the job runs in them.
    parallel(
      () => out.put("ppr", tr("GraphOps.personalizedPageRankConvergedBatch")(
        GraphOps.personalizedPageRankConvergedBatch(spark, s"$db.adj", anchors).collect())),
      () => {
        out.put("lpa", tr("GraphOps.labelPropagationStudentsIndexed")(
          GraphOps.labelPropagationStudentsIndexed(spark, s"$db.adj", students).collect()))
        out.put("kcore", tr("GraphOps.kCoreStudentsIndexed")(
          GraphOps.kCoreStudentsIndexed(spark, s"$db.adj").collect()))
        out.put("cc", tr("GraphOps.connectedComponents")(
          GraphOps.connectedComponents(spark, customers).collect()))
        // batch 0 bootstraps the index into the empty catalog, batch 1 is
        // an idempotent delta; this session has not read the index before
        tr("Streams.incrementalIndexing") {
          val q = Streams.incrementalIndexing(
            spark.readStream.schema(docs.schema).option("maxFilesPerTrigger", 1).parquet(feed),
            s"$db.bm25")
          try q.processAllAvailable() finally q.stop()
        }
      })
    val ms = (System.nanoTime() - t0) / 1e6
    last = Seq("ppr", "lpa", "kcore", "cc").map(k => k -> out.get(k).toSeq.map(values)).toMap
    "batch" -> ms
  }

  /** Records the edge counts and graph outputs for the DuckDB checks: the
    * closed-form edge counts and the engine's own oracle SQL, run over the
    * generated customers plus the newcomer. */
  def finish(): Unit = {
    val counts = spark.table(s"$db.edges").groupBy("rel_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val (id, name, board, bal, segment) = newcomer
    ctx.record("kind" -> "newcomer", "row" -> Seq(id, name, board, bal, segment))
    ctx.record("kind" -> "edge_counts", "counts" -> counts)
    val anchorList = anchors.mkString(", ")
    val pprSql = EntryFixtures.withStudents(EntryFixtures.pprConvergedBatchOracleTail)
      .replace(EntryFixtures.pprBatchAnchors.mkString("[", ", ", "]"), s"[$anchorList]")
    ctx.check(pprSql.contains(s"[$anchorList]"), "ppr oracle: anchor list not found")
    val oracles = Map(
      "ppr" -> pprSql,
      "lpa" -> EntryFixtures.withStudents(EntryFixtures.lpaStudentsOracleTail),
      "kcore" -> EntryFixtures.withStudents(EntryFixtures.kcoreStudentsOracleTail),
      "cc" -> ("SELECT c_custkey AS id, min(c_custkey) OVER " +
        "(PARTITION BY c_nationkey, c_mktsegment) AS component FROM customer ORDER BY id"))
    oracles.foreach { case (k, sql) =>
      ctx.record("kind" -> "oracle", "name" -> k, "sql" -> sql, "rows" -> last(k))
    }
    // the drained index against the BM25 oracle over the whole corpus
    (1 to 3).foreach { _ =>
      val terms = seededOrder(ctx.data.vocab, ctx.rng).take(1 + ctx.rng.nextInt(3)).sorted
      val rows = Search.bm25Indexed(spark, s"$db.bm25", terms).collect()
      ctx.record("kind" -> "bm25", "terms" -> terms,
        "rows" -> rows.map(row => Seq(row.getAs[Long]("doc_id"), row.getAs[Double]("score"))))
    }
  }

  /** Edge table and adjacency as written, against the same rows written
    * once more in one file each. */
  def spaceAmp(): Double = {
    val fresh = ctx.database("bench_fresh")
    Seq("edges", "adj").foreach(t =>
      spark.table(s"$db.$t").coalesce(1).write.saveAsTable(s"$fresh.$t"))
    Seq("edges", "adj").map(t => Main.tableBytes(spark, s"$db.$t")).sum.toDouble /
      Seq("edges", "adj").map(t => Main.tableBytes(spark, s"$fresh.$t")).sum
  }
}
