package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans around calls into the engine's layers, with the Spark jobs each
  * call ran. A span sets a thread-local job property before the call; the
  * listener reads it from every job it sees, so jobs (and their stages)
  * are attributed to the span that caused them. Streaming queries inherit
  * the property from the thread that starts them.
  *
  * Per call: self time is the span's wall time (spans do not nest), and
  * the driver gap is that wall time minus the union of its jobs'
  * intervals — planning, driver-side work and scheduling between jobs.
  * When tracing is off, `apply` just runs the body. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Tracer._

  private val ids = new AtomicLong
  private val calls = new ConcurrentHashMap[Long, Call]
  private val listener = new JobListener
  if (enabled) sc.addSparkListener(listener)

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val prev = sc.getLocalProperty(SpanKey)
      sc.setLocalProperty(SpanKey, id.toString)
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val wallMs = (System.nanoTime() - t0) / 1e6
        calls.put(id, Call(name, startMs, startMs + math.ceil(wallMs).toLong, wallMs))
        sc.setLocalProperty(SpanKey, prev)
      }
    }

  /** Per-layer metrics: for each of `names`, the per-call means of self
    * time, driver gap, jobs and shuffle bytes (0 for a span the workload
    * never calls), plus run totals over every traced call. */
  def metrics(names: Seq[String]): (Map[String, Double], Seq[SpanStat]) = {
    org.apache.spark.PerfbenchAccess.drainListenerBus(sc)
    val jobsByCall = listener.jobs.values.asScala.groupBy(_.call)
    val perCall = calls.asScala.toSeq.map { case (id, c) =>
      val js = jobsByCall.getOrElse(id, Nil).toSeq
      val busy = unionMs(js.map(j => (math.max(j.start, c.startMs),
        math.min(if (j.end > 0) j.end else c.endMs, c.endMs))))
      val shuffle = js.flatMap(_.stages).map(s => listener.stageShuffle.getOrDefault(s, 0L)).sum
      (c, js.size, busy, shuffle)
    }
    val stats = perCall.groupBy(_._1.name).map { case (name, cs) =>
      val n = cs.size.toDouble
      SpanStat(name, cs.size,
        cs.map(_._1.wallMs).sum / n,
        cs.map(x => math.max(0.0, x._1.wallMs - x._3)).sum / n,
        cs.map(_._2).sum / n,
        cs.map(_._4).sum / n / MB)
    }.toSeq.sortBy(-_.gapMs)
    val byName = stats.map(s => s.name -> s).toMap
    val m = mutable.LinkedHashMap[String, Double]()
    names.foreach { n =>
      val s = byName.get(n)
      m(s"$n.self_ms") = s.map(_.selfMs).getOrElse(0.0)
      m(s"$n.driver_gap_ms") = s.map(_.gapMs).getOrElse(0.0)
      m(s"$n.jobs") = s.map(_.jobs).getOrElse(0.0)
      m(s"$n.shuffle_mb") = s.map(_.shuffleMb).getOrElse(0.0)
    }
    val tracedStages = listener.jobs.values.asScala.filter(j => calls.containsKey(j.call))
      .flatMap(_.stages).toSet
    m("spark.job_busy_ms") = perCall.map(_._3).sum
    m("spark.driver_gap_ms") = perCall.map(x => math.max(0.0, x._1.wallMs - x._3)).sum
    m("spark.gc_ms") = tracedStages.toSeq.map(s => listener.stageGc.getOrDefault(s, 0L)).sum.toDouble
    m("spark.spill_mb") = tracedStages.toSeq.map(s => listener.stageSpill.getOrDefault(s, 0L)).sum / MB
    (m.toMap, stats)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val MB = 1024.0 * 1024.0

  final case class Call(name: String, startMs: Long, endMs: Long, wallMs: Double)
  final case class SpanStat(name: String, calls: Int, selfMs: Double,
      gapMs: Double, jobs: Double, shuffleMb: Double)

  final class Job(val call: Long, val start: Long, val stages: Seq[Int]) {
    @volatile var end: Long = -1L
  }

  /** Length of the union of [start, end] intervals, in ms. */
  def unionMs(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }

  private final class JobListener extends SparkListener {
    val jobs = new ConcurrentHashMap[Int, Job]
    val stageShuffle = new ConcurrentHashMap[Int, Long]
    val stageGc = new ConcurrentHashMap[Int, Long]
    val stageSpill = new ConcurrentHashMap[Int, Long]

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      span.foreach(s => jobs.put(e.jobId, new Job(s.toLong, e.time, e.stageIds)))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val tm = e.stageInfo.taskMetrics
      if (tm != null) {
        val id = e.stageInfo.stageId
        stageShuffle.merge(id, tm.shuffleWriteMetrics.bytesWritten, _ + _)
        stageGc.merge(id, tm.jvmGCTime, _ + _)
        stageSpill.merge(id, tm.memoryBytesSpilled + tm.diskBytesSpilled, _ + _)
      }
    }
  }
}
