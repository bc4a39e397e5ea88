package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed cardinality sketching via K-Minimum-Values (KMV; Bar-Yossef
  * et al. 2002) — the north-star "approx distinct" slot (SURVEY §2.9).
  *
  * Why KMV and not HyperLogLog here: HLL registers are engine-specific, so
  * an HLL estimate can never hash-match a DuckDB oracle. KMV's estimate is
  * a pure function of the k-th smallest DISTINCT md5 of the values —
  * deterministic in any engine — so this sketch keeps the bit-exact
  * cross-engine oracle the rest of the repo enjoys while still being a
  * real mergeable sketch: the k-smallest set is exactly the bounded
  * per-key heap [[graft.plans.TopKPerKey]] maintains map-side, i.e. the
  * shuffle carries at most k hashes per group per partition no matter the
  * input size. Estimator: n̂ = (k−1) / h_(k) with h normalized to [0,1);
  * groups with fewer than k distinct values report their exact count (the
  * heap holds ALL their hashes).
  */
object Sketches {

  val DefaultK = 64

  /** First 8 md5 hex digits as a fraction of 2^32 — the [0,1) uniform
    * position of the hash, computed identically by the oracle via
    * per-digit instr arithmetic. */
  private def hexFrac(h: Column): Column =
    conv(substring(h, 1, 8), 16, 10).cast("bigint").cast("double") /
      lit(4294967296.0)

  /** Per-group KMV distinct estimate of `valueCol`, with the exact count
    * alongside so the estimate's quality is a recorded number (same
    * measure-don't-assume policy as `sim_ann_recall`). */
  def kmvDistinct(df: DataFrame, groupCol: String, valueCol: String,
      k: Int = DefaultK): DataFrame = {
    val hashed = df.select(col(groupCol),
      md5(col(valueCol).cast("string").cast("binary")).as("h")).distinct()
    val kmin = graft.plans.TopK.perKeyMin(hashed, Seq(groupCol), "h", "h", k)
      .groupBy(col(groupCol))
      .agg(max(col("h")).as("kth"), count(lit(1)).as("k_actual"))
    val exact = hashed.groupBy(col(groupCol)).agg(count(lit(1)).as("exact_distinct"))
    kmin.join(exact, groupCol)
      .select(col(groupCol), col("k_actual"),
        round(when(col("k_actual") < k, col("k_actual").cast("double"))
          .otherwise(lit((k - 1).toDouble) / hexFrac(col("kth"))), 4)
          .as("est_distinct"),
        col("exact_distinct"))
      .orderBy(col(groupCol))
  }

  /** KMV INTERSECTION estimate between two sources' token vocabularies —
    * the cross-corpus overlap question ("how much does corpus A share
    * with corpus B") that at 100 TB must be answered from sketches, not
    * a distinct-join (Beyer et al., "On synopses for distinct-value
    * estimation under multiset operations", SIGMOD'07): take the k
    * smallest hashes of the UNION (one bounded-heap pass — KMV
    * signatures are union-mergeable), estimate |∪| = (k−1)/v_k, and
    * scale by ρ = the fraction of those k that belong to BOTH sets:
    * est(∩) = ρ·est(∪). Every number is a pure function of md5 order,
    * so the DuckDB oracle reproduces the estimate EXACTLY; the exact
    * union/intersection ride along so the estimate's error is a
    * recorded number (the a10/sim_ann_recall measure-don't-assume
    * policy — at scale the exact columns are the thing you stop
    * computing). */
  def kmvIntersect(docs: DataFrame, srcA: String = "src1",
      srcB: String = "src2", k: Int = DefaultK): DataFrame = {
    // sets = each source's distinct 3-gram SHINGLES (the dedup family's
    // unit — high-cardinality, unlike the fixture's ~31-word vocabulary,
    // so the k-th-smallest estimator genuinely fires at k = 64)
    val sub = docs.filter(col("source").isin(srcA, srcB))
    val toks = Dedup.shingles(sub)
      .join(sub.select(col("doc_id"), col("source")), "doc_id")
      .select(col("source"), col("sh").as("tok"))
      .distinct()
    val flags = graft.CacheScope.track(toks.groupBy(col("tok")).agg(
        max(when(col("source") === srcA, 1).otherwise(0)).as("in_a"),
        max(when(col("source") === srcB, 1).otherwise(0)).as("in_b"))
      .withColumn("h", md5(col("tok").cast("binary")))
      .withColumn("g", lit(1)))
    val kmin = graft.plans.TopK.perKeyMin(flags, Seq("g"), "h", "h", k)
    val stats = kmin.agg(
      count(lit(1)).as("k_actual"),
      max(col("h")).as("kth"),
      sum(when(col("in_a") === 1 && col("in_b") === 1, 1L).otherwise(0L))
        .as("n_both"))
    val exact = flags.agg(
      count(lit(1)).as("exact_union"),
      sum(when(col("in_a") === 1 && col("in_b") === 1, 1L).otherwise(0L))
        .as("exact_intersect"))
    stats.crossJoin(exact)
      .withColumn("est_union",
        round(when(col("k_actual") < k, col("k_actual").cast("double"))
          .otherwise(lit((k - 1).toDouble) / hexFrac(col("kth"))), 4))
      .withColumn("est_intersect",
        round(when(col("k_actual") < k, col("n_both").cast("double"))
          .otherwise(col("n_both").cast("double") / lit(k.toDouble) *
            (lit((k - 1).toDouble) / hexFrac(col("kth")))), 4))
      .select(col("k_actual"), col("n_both"), col("est_union"),
        col("est_intersect"), col("exact_union"), col("exact_intersect"))
  }

  // ------------------------------------------------------ HyperLogLog

  /** HLL register count (2-hex-digit bucket) and its bias constant
    * (Flajolet et al. 2007, α_256 = 0.7213/(1 + 1.079/m)). */
  val HllRegisters = 256
  val HllAlpha: Double = 0.7213 / (1.0 + 1.079 / 256.0)
  private val TwoPow57 = 1L << 57

  /** Per-group HyperLogLog distinct estimate — the MERGEABLE distinct
    * sketch (registers combine by max, so partial aggregation IS the
    * sketch union — the property that makes HLL the streaming/shardable
    * complement to [[kmvDistinct]]'s bounded-heap order statistics;
    * m longs of state vs KMV's k hashes).
    *
    * Exactness contract: bucket = first 2 md5 hex digits; ρ = leading-
    * zero count of the next 56 bits + 1, computed by an INTEGER
    * comparison ladder (never float log2 — exact at power-of-two
    * boundaries); the indicator sum Σ 2^{−M_b} scales by 2^57 into exact
    * integer register terms summed as DECIMAL(38) (a 256-term double sum
    * would be addition-order-dependent), with one double division + the
    * standard small-range linear-counting correction at the end —
    * identically spelled in both engines, so the ESTIMATE itself is
    * oracle-exact. Exact distinct rides along (the a10 policy). */
  def hllDistinct(df: DataFrame, groupCol: String, valueCol: String): DataFrame =
    hllEstimate(hllRegisters(df, groupCol, valueCol), df, groupCol, valueCol)

  /** The (g, b, mb) register table — the sketch itself. Registers merge
    * by MAX, so any partition of the input (shards, micro-batches)
    * yields partial register tables whose max-merge equals the one-shot
    * table: the property the streaming twin (`stream_hll_ingest`, one
    * append of partial registers per micro-batch) folds on. A redelivered
    * batch is a physical no-op after the max-merge, so that feed needs no
    * batch-id ledger. */
  private[graft] def hllRegisters(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val hashed = df.select(col(groupCol).as("g"),
      md5(col(valueCol).cast("string").cast("binary")).as("h"))
    hashed.select(col("g"),
      conv(substring(col("h"), 1, 2), 16, 10).cast("bigint").as("b"),
      conv(substring(col("h"), 3, 14), 16, 10).cast("bigint").as("v"))
      .withColumn("bitlen", (0 until 56)
        .map(i => when(col("v") >= lit(1L << i), 1).otherwise(0))
        .reduce(_ + _))
      .select(col("g"), col("b"), (lit(57) - col("bitlen")).as("rho"))
      .groupBy(col("g"), col("b"))
      .agg(max(col("rho")).as("mb"))
  }

  /** The estimate tail over a register table (possibly max-merged from
    * partials), with the exact count from `exactSrc` alongside. */
  private[graft] def hllEstimate(regs: DataFrame, exactSrc: DataFrame,
      groupCol: String, valueCol: String): DataFrame = {
    val sums = regs.groupBy(col("g"))
      .agg(count(lit(1)).as("n_regs"),
        sum(expr("CAST(shiftleft(CAST(1 AS BIGINT), 57 - mb) AS DECIMAL(38,0))"))
          .as("s0"))
      .withColumn("zeros", lit(HllRegisters) - col("n_regs"))
      .withColumn("sd",
        (col("s0") + col("zeros").cast("decimal(38,0)") *
          lit(TwoPow57).cast("decimal(38,0)")).cast("double"))
      .withColumn("est_raw",
        lit(HllAlpha * HllRegisters.toDouble * HllRegisters) *
          lit(TwoPow57.toDouble) / col("sd"))
      .withColumn("est",
        when(col("est_raw") <= lit(2.5 * HllRegisters) && col("zeros") > 0,
          lit(HllRegisters.toDouble) *
            log(lit(HllRegisters.toDouble) / col("zeros")))
          .otherwise(col("est_raw")))
    val exact = exactSrc.groupBy(col(groupCol).as("g"))
      .agg(countDistinct(col(valueCol)).as("exact_distinct"))
    sums.join(exact, "g")
      .select(col("g").as(groupCol), col("n_regs"),
        round(col("est"), 4).as("est_distinct"), col("exact_distinct"))
      .orderBy(col(groupCol))
  }

  /** DuckDB spelling of the HLL 56-bit suffix parse (hex digits 3..16
    * of column `c`). */
  def hex14ToLongSql(c: String): String =
    (0 until 14).map(j =>
      s"(instr('0123456789abcdef', substr($c, ${3 + j}, 1)) - 1) * " +
        s"CAST(${1L << (4 * (13 - j))} AS BIGINT)")
      .mkString(" + ")

  /** DuckDB integer bit-length ladder for a 56-bit column — never float
    * log2 (inexact at power-of-two boundaries). */
  def bitLenSql(c: String): String =
    (0 until 56).map(i =>
      s"(CASE WHEN $c >= CAST(${1L << i} AS BIGINT) THEN 1 ELSE 0 END)")
      .mkString(" + ")

  /** The DuckDB spelling of [[hexFrac]]'s hex parse (no conv() there):
    * Σ digit_i · 16^(8−i) over the first 8 hex chars of column `c`. */
  def hexToLongSql(c: String): String =
    (1 to 8).map(i =>
      s"(instr('0123456789abcdef', substr($c, $i, 1)) - 1) * " +
        s"CAST(${1L << (4 * (8 - i))} AS BIGINT)")
      .mkString(" + ")

  // ------------------------------------------------------ Count-Min Sketch

  /** CMS geometry (Cormode & Muthukrishnan 2005). Width is deliberately
    * small at test scale so collisions actually happen and the overcount
    * column records real CMS behavior; at 100 TB width would be ~2^20 —
    * the sketch stays ≤ depth×width rows REGARDLESS of corpus size. */
  val CmsDepth = 4
  val CmsWidth = 64

  /** Row-d bucket of a term: first 8 md5 hex digits of "d|term" mod
    * width — the same per-digit arithmetic the oracle replays. */
  private def cmsBucket(d: Column, term: Column): Column =
    pmod(conv(substring(md5(concat(d.cast("string"), lit("|"), term)
      .cast("binary")), 1, 8), 16, 10).cast("bigint"), lit(CmsWidth.toLong))

  /** The CMS as a (d, bucket, cnt) table, built straight from term
    * OCCURRENCES: explode ×depth, then one groupBy — map-side partial
    * aggregation collapses each partition to ≤ depth×width rows before
    * the shuffle, i.e. Spark's partial-agg IS the sketch merge. No
    * vocabulary-sized state anywhere on this path — which also makes the
    * builder streaming-native: the identical dataflow runs as a
    * complete-mode streaming aggregation whose state is the bounded
    * sketch itself (stream==batch gated in `StatefulStreamSpec`). */
  def cmsSketch(docs: DataFrame): DataFrame =
    docs.select(explode(Dedup.words(col("text"))).as("term"))
      .filter(col("term") =!= "")
      .select(col("term"),
        explode(sequence(lit(0), lit(CmsDepth - 1))).as("d"))
      .groupBy(col("d"), cmsBucket(col("d"), col("term")).as("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** Self-join SIZE estimation from the count sketch — the F2 (second
    * frequency moment) question a planner answers BEFORE running a
    * 100 TB key join: |R ⋈_k R| = Σ_k cnt(k)², estimated as
    * min over depths of Σ_b row_d[b]² (the CMS inner-product estimator,
    * Cormode & Muthukrishnan 2005 §4.2 — an upper bound, collisions only
    * ADD). Sketch rows are the only state (≤ depth×width regardless of
    * corpus); the exact F2 rides along so the overestimate is a recorded
    * number. All-integer arithmetic — the oracle matches exactly. Keyed
    * on the events stream's user_id (Zipf-ish — self-join size is what
    * a user-interaction join explodes by). */
  def f2SelfJoin(events: DataFrame, keyCol: String = "user_id"): DataFrame = {
    val cms = events.select(col(keyCol).cast("string").as("term"))
      .select(col("term"),
        explode(sequence(lit(0), lit(CmsDepth - 1))).as("d"))
      .groupBy(col("d"), cmsBucket(col("d"), col("term")).as("bucket"))
      .agg(count(lit(1)).as("cnt"))
    val est = cms.groupBy(col("d"))
      .agg(sum(col("cnt") * col("cnt")).as("est_f2"))
      .agg(min(col("est_f2")).as("est_f2"))
    val exact = events.groupBy(col(keyCol)).agg(count(lit(1)).as("c"))
      .agg(sum(col("c") * col("c")).as("exact_f2"))
    est.crossJoin(exact)
      .select(col("est_f2").cast("long").as("est_f2"),
        col("exact_f2").cast("long").as("exact_f2"),
        (col("est_f2") - col("exact_f2")).cast("long").as("overcount"))
  }

  /** JOIN-cardinality estimation between two relations from their count
    * sketches — the general form of [[f2SelfJoin]] (Cormode &
    * Muthukrishnan §4.2: |R ⋈_k S| = Σ_k cntR(k)·cntS(k), estimated as
    * min over depths of the CMS row inner product; collisions only
    * ADD). The planner question before joining two 100 TB streams —
    * here "view events ⋈ purchase events on user_id", the
    * pre-aggregation sizing of a user-interaction join — answered in
    * 2·depth×width state. Exact join size rides along; all-integer, so
    * the oracle matches exactly. */
  def joinCardinality(events: DataFrame, keyCol: String = "user_id",
      typeCol: String = "event_type", typeA: String = "view",
      typeB: String = "purchase"): DataFrame = {
    def cms(pred: Column) = events.filter(pred)
      .select(col(keyCol).cast("string").as("term"))
      .select(col("term"),
        explode(sequence(lit(0), lit(CmsDepth - 1))).as("d"))
      .groupBy(col("d"), cmsBucket(col("d"), col("term")).as("bucket"))
      .agg(count(lit(1)).as("cnt"))
    val est = cms(col(typeCol) === typeA)
      .join(cms(col(typeCol) === typeB)
        .withColumnRenamed("cnt", "cnt_b"), Seq("d", "bucket"))
      .groupBy(col("d")).agg(sum(col("cnt") * col("cnt_b")).as("e"))
      .agg(min(col("e")).as("est_join"))
    def counts(pred: Column) = events.filter(pred)
      .groupBy(col(keyCol)).agg(count(lit(1)).as("c"))
    val exact = counts(col(typeCol) === typeA)
      .join(counts(col(typeCol) === typeB)
        .withColumnRenamed("c", "cb"), Seq(keyCol))
      .agg(coalesce(sum(col("c") * col("cb")), lit(0L)).as("exact_join"))
    est.crossJoin(exact)
      .select(col("est_join").cast("long").as("est_join"),
        col("exact_join").cast("long").as("exact_join"),
        (col("est_join") - col("exact_join")).cast("long").as("overcount"))
  }

  /** Heavy-hitter estimate audit: the exact top-`topK` terms with their
    * CMS estimates (min over depth rows) and the overcount — CMS
    * guarantees est ≥ exact, and the recorded overcount prices the
    * 64-bucket collision rate. The sketch and the exact top-k both
    * derive from one cached vocabulary-sized term-count table
    * (count-built and occurrence-built sketches are identical — gated
    * in `SketchesSpec`); the tiny sketch broadcasts into the probe
    * join. */
  // ------------------------------------------------------ Misra-Gries

  /** MG counter budget for the fixture row: threshold = n/(K+1). The
    * synthetic corpus's 31-term near-uniform vocabulary makes the
    * candidate superset the whole vocabulary (the measured degenerate
    * case — recorded, not hidden); `SketchesSpec` proves the candidate
    * bounding on a skewed fixture, where it is the entire point. */
  val MgK = 30

  /** Pass 1 of exact heavy hitters: per-partition Misra-Gries(k)
    * summaries — k counters of imperative state per partition (the
    * genuine mapPartitions case), emitting each partition's SURVIVOR
    * terms plus one null-term row carrying the partition's token count
    * (so the total n needs no second scan). Soundness (Misra-Gries 1982):
    * any term with global frequency > n/(k+1) exceeds n_p/(k+1) in at
    * least one partition (averaging) and therefore survives that
    * partition's summary — the union is a guaranteed superset of the
    * true heavy hitters, of size ≤ partitions·k. */
  private[graft] def mgSummaries(terms: DataFrame, k: Int): DataFrame = {
    import terms.sparkSession.implicits._
    terms.select(col("term")).as[String].mapPartitions { it =>
      val counters = scala.collection.mutable.HashMap.empty[String, Long]
      var np = 0L
      it.foreach { t =>
        np += 1
        counters.get(t) match {
          case Some(c) => counters(t) = c + 1
          case None if counters.size < k => counters(t) = 1L
          case None => // decrement-all step; drop zeroed counters
            val dead = scala.collection.mutable.ArrayBuffer.empty[String]
            counters.keysIterator.foreach { key =>
              val c = counters(key) - 1
              if (c == 0) dead += key else counters(key) = c
            }
            dead.foreach(counters.remove)
        }
      }
      counters.keysIterator.map(t => (t, 0L)) ++ Iterator((null: String, np))
    }.toDF("term", "np")
  }

  /** EXACT heavy hitters in two passes — every term with true frequency
    * > n/(k+1), no approximation in the OUTPUT: pass 1's MG summaries
    * yield a ≤ partitions·k candidate superset with O(k) state per task
    * (no vocabulary-sized aggregation state anywhere — the guarantee a
    * plain groupBy can't give when the key space is unbounded at 100 TB);
    * pass 2 exact-counts ONLY the broadcast candidates (aggregation state
    * = candidate count, not vocabulary) and applies the threshold to the
    * exact counts. Deterministic: MG internals affect only the superset,
    * never the result. Output: (term, n_exact), count-desc. */
  def mgHeavyHitters(docs: DataFrame, k: Int = MgK): DataFrame = {
    val terms = graft.CacheScope.track(
      docs.select(explode(Dedup.words(col("text"))).as("term"))
        .filter(col("term") =!= ""))
    val summ = mgSummaries(terms, k).localCheckpoint()
    val n = summ.agg(sum(col("np"))).collect()(0).getLong(0)
    val candidates = summ.filter(col("term").isNotNull)
      .select(col("term")).distinct()
    terms.join(broadcast(candidates), Seq("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("n_exact"))
      .filter(col("n_exact") > n / (k + 1))
      .orderBy(col("n_exact").desc, col("term"))
  }

  def cmsHeavyHitters(docs: DataFrame, topK: Int = 20): DataFrame = {
    val tc = graft.CacheScope.track(
      docs.select(explode(Dedup.words(col("text"))).as("term"))
        .filter(col("term") =!= "")
        .groupBy(col("term")).agg(count(lit(1)).as("n_exact")))
    val sketch = tc
      .select(col("term"), col("n_exact"),
        explode(sequence(lit(0), lit(CmsDepth - 1))).as("d"))
      .groupBy(col("d"), cmsBucket(col("d"), col("term")).as("bucket"))
      .agg(sum(col("n_exact")).as("bcnt"))
    val top = tc.orderBy(col("n_exact").desc, col("term")).limit(topK)
    top.select(col("term"), col("n_exact"),
        explode(sequence(lit(0), lit(CmsDepth - 1))).as("d"))
      .withColumn("bucket", cmsBucket(col("d"), col("term")))
      .join(broadcast(sketch), Seq("d", "bucket"))
      .groupBy(col("term"), col("n_exact"))
      .agg(min(col("bcnt")).as("n_est"))
      .select(col("term"), col("n_exact"), col("n_est"),
        (col("n_est") - col("n_exact")).as("overcount"))
      .orderBy(col("n_exact").desc, col("term"))
  }
}
