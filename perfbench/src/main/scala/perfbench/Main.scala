package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Shared state of one benchmark run. */
final class Ctx(val spark: SparkSession, val tr: Tracer, val root: Path,
    val dataDir: String, val seed: Long) {
  val data = new Data(dataDir)
  val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 1)
  /** Records for the DuckDB-side checks (one JSON object per line). */
  val checks = mutable.ArrayBuffer[String]()
  def record(fields: (String, Any)*): Unit = checks += Json(fields.toMap)
  /** Failed or wrong operations, with what was wrong. */
  val failures = mutable.ArrayBuffer[String]()
  val details = mutable.LinkedHashMap[String, Any]()

  def fail(what: String): Unit = failures.synchronized { failures += what }

  def check(cond: Boolean, what: => String): Boolean = {
    if (!cond) fail(what)
    cond
  }

  def database(name: String): String = {
    val loc = root.resolve("warehouse").resolve(name).toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $name LOCATION '$loc'")
    name
  }
}

/** What a workload reports: timed operation latencies plus how many
  * operations were attempted (every op, read-your-write probes too). */
trait Workload {
  /** Builds the standing state from scratch in `db`; called several times. */
  def setup(db: String): Unit
  /** Makes `db` the state the timed loop uses, and warms each path once. */
  def prepare(db: String): Unit
  /** One operation; returns its kind and the milliseconds that count as
    * its latency (a write excludes the read-your-write probes after it). */
  def op(i: Int): (String, Double)
  /** Checks answers and end state after the timed loop. */
  def finish(): Unit
  /** Bytes of the live state / bytes of the same state rebuilt from scratch. */
  def spaceAmp(): Double
  /** Operations per cycle; the timed loop runs whole cycles. */
  def cycle: Int = 1
  /** Operations per run for a workload whose operation cannot repeat (a
    * batch job); 0 runs whole cycles until the run's seconds have passed. */
  def fixedOps: Int = 0
  /** From-scratch set-ups per run; setup_s is their median. */
  def setupReps: Int = 3
  var attempted = 0L
}

object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val root = Paths.get(a("root")).toAbsolutePath
    val cpus = Runtime.getRuntime.availableProcessors

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", root.resolve("local").toString)
      .config("spark.sql.warehouse.dir", root.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation",
        root.resolve("checkpoints").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val dataDir = root.resolve("data").toString
    val tr = new Tracer(spark.sparkContext, trace)
    val ctx = new Ctx(spark, tr, root, dataDir, seed)
    val i0 = System.nanoTime()
    val w = Workloads.make(workload, ctx)
    ctx.details("init_s") = (System.nanoTime() - i0) / 1e9

    // set-up: built from scratch several times; the last build is live
    val setupTimes = (1 to w.setupReps).map { k =>
      val db = ctx.database(s"bench_s$k")
      val s0 = System.nanoTime()
      w.setup(db)
      (System.nanoTime() - s0) / 1e9
    }
    val p0 = System.nanoTime()
    w.prepare(s"bench_s${w.setupReps}")
    val prepareS = (System.nanoTime() - p0) / 1e9

    val lat = mutable.ArrayBuffer[(String, Double)]()
    val loop0 = System.nanoTime()
    var i = 0
    // whole cycles only, so every run times the same mix of operations
    def more = if (w.fixedOps > 0) i < w.fixedOps
      else (System.nanoTime() - loop0) / 1e9 < seconds || i % w.cycle != 0
    while (more) {
      val o0 = System.nanoTime()
      lat += (try w.op(i) catch {
        case e: Exception =>
          ctx.fail(s"op $i: $e")
          "error" -> (System.nanoTime() - o0) / 1e6
      })
      i += 1
    }
    val loopS = (System.nanoTime() - loop0) / 1e9

    val f0 = System.nanoTime()
    try w.finish() catch { case e: Exception => ctx.fail(s"checks: $e") }
    val finishS = (System.nanoTime() - f0) / 1e9
    val amp = w.spaceAmp()
    val ampS = (System.nanoTime() - f0) / 1e9 - finishS

    val ms = lat.map(_._2).toSeq
    val metrics = mutable.LinkedHashMap[String, Double](
      "setup_s" -> Stats.median(setupTimes),
      "p50_ms" -> Stats.median(ms),
      "tail_ms" -> Stats.quantile(ms, Stats.TailQ),
      "ops_per_s" -> ms.size / loopS,
      "space_amp" -> amp)
    val (layer, spanStats) =
      if (tr.enabled) tr.metrics(Workloads.spans(workload)) else (Map.empty[String, Double], Nil)
    val byKind = lat.groupBy(_._1).toSeq.sortBy(_._1).map { case (k, xs) =>
      k -> Map("n" -> xs.size, "p50_ms" -> Stats.median(xs.map(_._2).toSeq))
    }.toMap
    val dbs = spark.catalog.listDatabases().collect().map(_.name)
    val e0 = System.nanoTime()
    spark.stop()
    ctx.details("stop_s") = (System.nanoTime() - e0) / 1e9

    // leaks: what the engine left in the temp dir, or in the warehouse
    // outside the benchmark's own databases, once the session has stopped
    val warehouse = root.resolve("warehouse")
    val leakedMb = (dirBytes(root.resolve("tmp")) + dirBytes(warehouse) -
      dbs.filter(_.startsWith("bench_")).map(d => dirBytes(warehouse.resolve(d))).sum) / Tracer.MB
    ctx.details ++= Seq(
      "workload" -> workload, "seed" -> seed,
      "local" -> s"local[$cpus]", "session_s" -> sessionS,
      "prepare_s" -> prepareS, "finish_s" -> finishS, "space_amp_s" -> ampS,
      "setup_runs_s" -> setupTimes, "timed_s" -> loopS,
      "ops" -> ms.size, "tail_percentile" -> 100 * Stats.TailQ,
      "by_kind" -> byKind, "leaked_mb" -> leakedMb,
      "leftover_databases" -> dbs.filterNot(d => d == "default" || d.startsWith("bench_")).toSeq)
    if (tr.enabled) ctx.details("top_driver_gap") = spanStats.take(10).map(s =>
      Map("span" -> s.name, "calls" -> s.calls, "self_ms" -> s.selfMs,
        "driver_gap_ms" -> s.gapMs, "jobs" -> s.jobs))
    val result = Map(
      "attempted" -> (ms.size + w.attempted),
      "failed_jvm" -> ctx.failures.size,
      "failures" -> ctx.failures.take(20).toSeq,
      "metrics" -> metrics.toMap,
      "per_layer" -> (if (tr.enabled) layer + ("run.leaked_mb" -> leakedMb) else layer),
      "details" -> ctx.details.toMap)
    Files.write(root.resolve("checks.jsonl"),
      ctx.checks.mkString("\n").getBytes(StandardCharsets.UTF_8))
    Files.write(root.resolve("result.json"),
      Json(result).getBytes(StandardCharsets.UTF_8))
  }

  def dirBytes(p: Path): Long = {
    val f = p.toFile
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).toSeq.flatten.map(c => dirBytes(c.toPath)).sum
  }

  def tableBytes(spark: SparkSession, table: String): Long = {
    val loc = spark.sql(s"DESCRIBE TABLE EXTENDED $table")
      .filter("col_name = 'Location'").collect().head.getString(1)
    dirBytes(Paths.get(new java.net.URI(loc)))
  }

  /** Bytes of every table in `db`. */
  def databaseBytes(spark: SparkSession, db: String): Long =
    spark.catalog.listTables(db).collect().map(t => tableBytes(spark, s"$db.${t.name}")).sum
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The tail percentile. A run holds tens of operations, so fewer than
    * ten samples lie beyond it; the details give the sample count (`ops`). */
  val TailQ = 0.9
}

/** JSON for the result and check files (Spark's Jackson, with Scala types). */
object Json {
  val mapper: com.fasterxml.jackson.databind.ObjectMapper =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def apply(v: Any): String = mapper.writeValueAsString(v)
}
