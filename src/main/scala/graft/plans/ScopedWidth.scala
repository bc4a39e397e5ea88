package graft.plans

import org.apache.spark.sql.SparkSession

/** Scale-adaptive shuffle width for operators whose exchanges move
  * node/manifest-scale frames through a session parallelism sized for
  * corpus-scale scans (guide §2: derive partitioning from input size, not
  * a constant). [[width]] is `min(session width, workRows /
  * RowsPerPartition + 1)`; `scoped` runs `body` with
  * `spark.sql.shuffle.partitions` set to it and restores the prior value
  * in a `finally`, so no query can leak the setting. At cluster scale the
  * derived width saturates at the session setting — the local-mode
  * collapse to few-task stages is the scale-adaptive behavior, not a
  * tuned constant.
  *
  * Only actions that RUN inside `body` (checkpoints, counts, probes,
  * eager materializations) see the scoped width: Spark reads the conf at
  * planning time, so a lazily returned frame consumed after the scope
  * plans at the restored session width. Loop bodies qualify naturally
  * (per-round checkpoint/probe actions); one-shot DAGs must materialize
  * their (small) result inside the scope.
  *
  * NOT thread-safe across concurrent driver jobs: the set/restore pair
  * mutates SHARED session conf, so a scoped operator must never run on
  * a concurrent-build pool (see WarmIndex.prebuildAll's invariant) or
  * beside other driver work. The graph fixpoint loops — the fixed-round
  * PPR walk included — read [[width]] without scoping when it is 1: they
  * then run in one task and never touch conf, which is what lets the
  * backfill batch run PPR beside LPA and k-core on two driver threads,
  * and serve run the PPR recommend beside other requests, at bench
  * scale. Their wide path (width > 1) and the recipe composer still
  * scope, so concurrent wide loops would race on the shared setting
  * until conf moves to child sessions.
  *
  * Gate by WORK SHAPE, not just size: the width prices SHUFFLE volume.
  * A loop whose per-row cost is not byte-proportional (bfsPaths' path
  * building — arrays that grow with hop depth) gets SLOWER when
  * narrowed, because the narrow width serializes compute that the
  * session width parallelized (measured r22, paired A/B). */
object ScopedWidth {
  /** Row budget per shuffle partition — ≈2M rows ≈ 64–128 MB, the guide
    * §2.2 "fewer, larger reduce partitions" sweet spot. */
  val RowsPerPartition: Long = 2L * 1024 * 1024

  /** The shuffle width `workRows` rows need under the session's width. */
  def width(spark: SparkSession, workRows: Long): Int =
    math.max(1L, math.min(spark.sessionState.conf.numShufflePartitions.toLong,
      workRows / RowsPerPartition + 1)).toInt

  def scoped[T](spark: SparkSession, workRows: Long)(body: => T): T =
    at(spark, width(spark, workRows))(body)

  /** Run `body` at an already derived `width`. */
  private[graft] def at[T](spark: SparkSession, width: Int)(body: => T): T = {
    val prior = spark.sessionState.conf.numShufflePartitions
    spark.conf.set("spark.sql.shuffle.partitions", width.toString)
    try body
    finally spark.conf.set("spark.sql.shuffle.partitions", prior.toString)
  }
}
