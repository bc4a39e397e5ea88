package graft

import org.apache.spark.sql.functions._

import graft.graph.GraphOps

/** Unit coverage for the BFS-paths core on a NON-chain graph: the oracle
  * exercises it on chains only (graph_khop_paths), where same-round
  * collisions and cycles cannot occur. A diamond with a back-edge has both.
  *
  *   1 → 2 → 4 → 1 (cycle)
  *   1 → 3 → 4     (second equal-length route into 4)
  */
class GraphPathsSpec extends SparkSpec {

  private def diamond = {
    import spark.implicits._
    Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
  }

  private def pathOf(rows: Array[org.apache.spark.sql.Row], id: Long): Seq[(Long, Long)] =
    rows.find(_.getLong(0) == id).get.getSeq[org.apache.spark.sql.Row](2)
      .map(r => (r.getLong(0), r.getLong(1)))

  test("diamond: same-round collision resolves to the lexicographically smallest path") {
    val rows = GraphOps.bfsPaths(diamond, 1L, maxHops = 5).collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L, 4L))
    assert(rows.map(r => r.getLong(0) -> r.getInt(1)).toMap ===
      Map(1L -> 0, 2L -> 1, 3L -> 1, 4L -> 2))
    // 4 is reached from 2 and 3 in the same round; "1-2|2-4" < "1-3|3-4".
    assert(pathOf(rows, 4L) === Seq((1L, 2L), (2L, 4L)))
    // The 4→1 back-edge must not resurrect the visited anchor (termination).
    assert(pathOf(rows, 1L) === Seq.empty)
  }

  test("hop bound cuts the frontier exactly at maxHops") {
    val rows = GraphOps.bfsPaths(diamond, 1L, maxHops = 1).collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
  }

  // runs BEFORE the reliable-mode test below: the guard is only reachable
  // while no checkpoint dir has been set on the shared context
  test("reliable mode without a checkpoint dir fails fast with guidance") {
    assume(spark.sparkContext.getCheckpointDir.isEmpty)
    spark.conf.set("spark.graft.pathCheckpoint", "reliable")
    try {
      val ex = intercept[IllegalArgumentException] {
        GraphOps.bfsPaths(diamond, 1L, maxHops = 2).collect()
      }
      assert(ex.getMessage.contains("setCheckpointDir"))
    } finally spark.conf.unset("spark.graft.pathCheckpoint")
  }

  test("reliable-checkpoint mode returns identical paths to local mode") {
    val local = GraphOps.bfsPaths(diamond, 1L, maxHops = 5).collect()
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toFile
    spark.sparkContext.setCheckpointDir(dir.getAbsolutePath)
    spark.conf.set("spark.graft.pathCheckpoint", "reliable")
    val reliable =
      try GraphOps.bfsPaths(diamond, 1L, maxHops = 5).collect()
      finally spark.conf.unset("spark.graft.pathCheckpoint")
    assert(reliable.map(_.toSeq).toSeq === local.map(_.toSeq).toSeq,
      "reliable checkpointing changed the BFS result")
    // checkpoint files actually landed in the reliable dir
    assert(dir.listFiles() != null && dir.listFiles().nonEmpty,
      "reliable mode wrote no checkpoint data")
  }

  // after the test above: the checkpoint dir is set from here on
  test("one-task converged PPR: reliable checkpoints == local checkpoints") {
    import spark.implicits._
    val und = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("src", "dst")
    def walk() = {
      val (df, rounds) = GraphOps.pprConvergedBatchWithRounds(
        und, Seq(1L, 999L), width = Some(1))
      (df.collect().map(_.toSeq).toSet, rounds)
    }
    val local = walk()
    spark.conf.set("spark.graft.pathCheckpoint", "reliable")
    val reliable = try walk() finally spark.conf.unset("spark.graft.pathCheckpoint")
    assert(reliable === local)
  }

  test("chain wrapper is unchanged by the core extraction") {
    import spark.implicits._
    val customers = (0L to 24L).toDF("c_custkey")
    val got = GraphOps.kHopChainPaths(spark, customers, 7L)
      .select(col("id"), col("dist")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // block 0-9 around anchor 7: dist = |id - 7| inside the block, nothing
    // beyond the block boundary.
    assert(got === (0L to 9L).map(i => i -> math.abs(i - 7).toInt).toMap)
  }

  test("weighted SSSP: bounded Bellman-Ford picks the cheapest mixed routes") {
    import spark.implicits._
    val customers = (1L to 25L).toDF("c_custkey")
    val got = GraphOps.shortestPathsBounded(
        GraphOps.weightedChainEdges(customers), 1L, 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // block 1..9: locals w=2, skips (+3) w=5 — hand-checked shortest:
    // the skip beats three locals (5 < 6), long stretches chain skips,
    // and node 9's best route needs all 4 allowed hops (1->4->7->8->9)
    assert(got === Map(
      1L -> 0L, 2L -> 2L, 3L -> 4L, 4L -> 5L, 5L -> 7L,
      6L -> 9L, 7L -> 10L, 8L -> 12L, 9L -> 14L))
    // one fewer round drops the 4-edge node entirely (its minimum EDGE
    // count is 4: 1->4->7->8->9) but everything else stays exact — the
    // bounded-k contract (exact for paths of <= k edges)
    val k3 = GraphOps.shortestPathsBounded(
        GraphOps.weightedChainEdges(customers), 1L, 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(k3(8L) === 12L)
    assert(!k3.contains(9L), s"node 9 needs 4 edges, k=3 must not reach it: $k3")
  }

  test("converged SSSP: reaches the unbounded fixpoint, halts at tree depth + 1") {
    import spark.implicits._
    val customers = (1L to 25L).toDF("c_custkey")
    val edges = GraphOps.weightedChainEdges(customers)
    val (df, rounds) = GraphOps.shortestPathsConvergedWithRounds(edges, 1L, 64)
    val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the fixpoint includes node 9 (4 edges — beyond what a k=3 bound
    // reaches) and matches the hand-checked distances exactly
    assert(got === Map(
      1L -> 0L, 2L -> 2L, 3L -> 4L, 4L -> 5L, 5L -> 7L,
      6L -> 9L, 7L -> 10L, 8L -> 12L, 9L -> 14L))
    // the deepest shortest-path tree edge count is 4 (1->4->7->8->9); the
    // halt costs exactly ONE extra (empty) round — the priced isEmpty check
    assert(rounds === 5, s"expected 4 improving rounds + 1 empty, got $rounds")
  }

  test("personalized PageRank: exact scaled-integer parity with a local reference") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType, false),
      StructField("name", StringType, false),
      StructField("address", StringType, true),
      StructField("college", StringType, true),
      StructField("board", StringType, true),
      StructField("stream", StringType, true),
      StructField("interests", ArrayType(StringType), true)))
    val students = spark.createDataFrame(Seq(
      Row(1L, "aayush", "lalitpur", "st. xavier college", "nepal board", "science", Seq("math")),
      Row(2L, "dikshanta", "kathmandu", "st. xavier college", "nepal board", "science", Seq("music")),
      Row(3L, "rohan", "lalitpur", "trinity college", "nepal board", "management", Seq("music")),
      Row(4L, "umesh", "pokhara", "trinity college", null, "science", Seq.empty[String]),
      Row(5L, "sita", null, null, null, null, Seq("math"))
    ).asJava, schema)
    val got = GraphOps.personalizedPageRank(students, 1L, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // plain-Scala mirror of the exact integer recurrence over the same
    // collapsed undirected edge set — long division == `div` on non-negatives
    val pairs = graft.ops.EdgeRules.backfill(students)
      .select("src", "dst").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // same 32-smallest-dst capped adjacency as the engine (inert on this
    // 5-node fixture — degrees < 32 — but part of the contract)
    val und = pairs.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).toSeq.flatMap { case (s, ds) =>
        ds.map(_._2).sorted.take(32).map(s -> _) }
    val deg = und.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val scale = GraphOps.PprScale
    var r = Map(1L -> scale)
    for (_ <- 1 to 3)
      r = (und.flatMap { case (u, v) =>
          r.get(u).map(ru => v -> ru / deg(u) * 85 / 100)
        } :+ (1L -> scale * 15 / 100))
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
        .filter(_._2 > 0)
    assert(got === r, s"engine PPR diverged from the exact-integer reference")
    // the anchor keeps the maximum rank (teleport mass dominates at α=0.15)
    assert(got.maxBy(_._2)._1 === 1L)
  }

  test("PPR recommend excludes anchor + true neighbors; indexed twin is identical") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType, false),
      StructField("name", StringType, false),
      StructField("address", StringType, true),
      StructField("college", StringType, true),
      StructField("board", StringType, true),
      StructField("stream", StringType, true),
      StructField("interests", ArrayType(StringType), true)))
    // a 4-chain: 1-2 (college), 2-3 (board), 3-4 (stream) — anchor 1's only
    // true neighbor is 2, so the walk's 2- and 3-hop mass is recommendable
    val students = spark.createDataFrame(Seq(
      Row(1L, "a", null, "ca", null, null, Seq.empty[String]),
      Row(2L, "b", null, "ca", "bb", null, Seq.empty[String]),
      Row(3L, "c", null, null, "bb", "sc", Seq.empty[String]),
      Row(4L, "d", null, null, null, "sc", Seq.empty[String])
    ).asJava, schema)
    val full = GraphOps.personalizedPageRank(students, 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // standing-table twin reaches the identical walk
    spark.sql("DROP TABLE IF EXISTS ppr_adj_spec")
    GraphOps.buildAdjacencyTable(students, "ppr_adj_spec")
    try {
      val ix = GraphOps.personalizedPageRankIndexed(spark, "ppr_adj_spec", 1L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(ix === full, "indexed PPR diverged from the inline walk")
    } finally spark.sql("DROP TABLE IF EXISTS ppr_adj_spec")
    // hand-computed 3-round flooring: r3(4) = 153_531_250_000 beats
    // r3(3) = 54_187_500_000 (node 3 drains forward in round 3), so the
    // recommendation order is 4 then 3 — anchor 1 and neighbor 2 excluded
    val rec = GraphOps.personalizedPageRankRecommend(students, 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rec === Seq(4L -> 153531250000L, 3L -> 54187500000L), s"got $rec")

    // cost linearity: each extra iteration adds exactly ONE relax-and-fold
    // round (a constant, bounded number of jobs — join + agg + checkpoint;
    // everything before the loop is checkpoint-severed, so rounds can't
    // smuggle in re-derivation of the adjacency)
    spark.sql("DROP TABLE IF EXISTS ppr_adj_spec2")
    GraphOps.buildAdjacencyTable(students, "ppr_adj_spec2")
    def jobsFor(iters: Int): Int = {
      var jobs = 0
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            s: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs += 1
      }
      spark.sparkContext.addSparkListener(l)
      try {
        // the 4-node fixture derives width 1; this pins the width-2 dataflow
        GraphOps.pprWalk(spark.table("ppr_adj_spec2"), Seq(1L), iters, Some(2))
          .collect()
        Thread.sleep(1000) // listener delivery is async
      } finally spark.sparkContext.removeSparkListener(l)
      jobs
    }
    try {
      val j1 = jobsFor(1)
      val j3 = jobsFor(3)
      val perRound = (j3 - j1) / 2.0
      assert(j3 > j1 && perRound == perRound.floor && perRound <= 4,
        s"expected a constant <=4 jobs per extra round, got j1=$j1 j3=$j3")
    } finally spark.sql("DROP TABLE IF EXISTS ppr_adj_spec2")
  }

  private def studentsOf(rows: Seq[org.apache.spark.sql.Row]) = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType, false),
      StructField("name", StringType, false),
      StructField("address", StringType, true),
      StructField("college", StringType, true),
      StructField("board", StringType, true),
      StructField("stream", StringType, true),
      StructField("interests", ArrayType(StringType), true)))
    spark.createDataFrame(rows.asJava, schema)
  }

  test("converged PPR: the probe stride clamps at maxRounds — an odd " +
      "bound runs exactly maxRounds relax rounds, matching the mirror") {
    import org.apache.spark.sql.Row
    val students = studentsOf(Seq(
      Row(1L, "a", "lalitpur", "xc", "nb", "sci", Seq("math")),
      Row(2L, "b", "kathmandu", "xc", "nb", "sci", Seq("music")),
      Row(3L, "c", "lalitpur", "tc", "nb", "mgmt", Seq("music")),
      Row(4L, "d", "pokhara", "tc", null, "sci", Seq.empty[String]),
      Row(5L, "e", null, null, null, null, Seq("math"))))
    spark.sql("DROP TABLE IF EXISTS ppr_clamp_spec")
    GraphOps.buildAdjacencyTable(students, "ppr_clamp_spec")
    try {
      val (df, rounds) = GraphOps.pprConvergedWithRounds(
        spark.table("ppr_clamp_spec"), 1L, maxRounds = 3)
      assert(rounds <= 3, s"stride overran the bound: $rounds")
      val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // plain-Scala mirror run for exactly the engine's relax count
      val und = spark.table("ppr_clamp_spec").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      val deg = und.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
      val scale = GraphOps.PprConvScale
      var r = Map(1L -> scale)
      for (_ <- 1 to rounds)
        r = (und.flatMap { case (u, v) =>
            r.get(u).map(ru => v -> ru / deg(u) * 85 / 100)
          } :+ (1L -> scale * 15 / 100))
          .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
          .filter(_._2 > 0)
      assert(got === r,
        s"bound-clamped run diverged from the $rounds-round mirror")
    } finally spark.sql("DROP TABLE IF EXISTS ppr_clamp_spec")
  }

  test("converged PPR: halts at the exact fixpoint before the bound; " +
      "equals a plain-Scala fixpoint reference") {
    import org.apache.spark.sql.Row
    val students = studentsOf(Seq(
      Row(1L, "a", "lalitpur", "xc", "nb", "sci", Seq("math")),
      Row(2L, "b", "kathmandu", "xc", "nb", "sci", Seq("music")),
      Row(3L, "c", "lalitpur", "tc", "nb", "mgmt", Seq("music")),
      Row(4L, "d", "pokhara", "tc", null, "sci", Seq.empty[String]),
      Row(5L, "e", null, null, null, null, Seq("math"))))
    spark.sql("DROP TABLE IF EXISTS ppr_conv_spec")
    GraphOps.buildAdjacencyTable(students, "ppr_conv_spec")
    try {
      val (df, rounds) = GraphOps.pprConvergedWithRounds(
        spark.table("ppr_conv_spec"), 1L)
      val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // plain-Scala mirror at PprConvScale, iterated to ITS fixpoint with
      // the same halt rule (the confirming round counts)
      val und = spark.table("ppr_conv_spec").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      val deg = und.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
      val scale = GraphOps.PprConvScale
      var r = Map(1L -> scale)
      var refRounds = 0
      var fixed = false
      while (!fixed && refRounds < GraphOps.PprConvMaxRounds) {
        val next = (und.flatMap { case (u, v) =>
            r.get(u).map(ru => v -> ru / deg(u) * 85 / 100)
          } :+ (1L -> scale * 15 / 100))
          .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
          .filter(_._2 > 0)
        fixed = next == r
        r = next
        refRounds += 1
      }
      assert(fixed, "reference never converged — raise PprConvMaxRounds")
      assert(rounds === refRounds,
        s"engine halted at round $rounds, reference at $refRounds")
      assert(rounds < GraphOps.PprConvMaxRounds,
        "no early stop — the detector never fired")
      assert(got === r, "converged ranks diverged from the fixpoint reference")
    } finally spark.sql("DROP TABLE IF EXISTS ppr_conv_spec")
  }

  test("batch converged walk == per-anchor single walks; missing anchor " +
      "keeps its teleport row") {
    import org.apache.spark.sql.Row
    val students = studentsOf(Seq(
      Row(1L, "a", "lalitpur", "xc", "nb", "sci", Seq("math")),
      Row(2L, "b", "kathmandu", "xc", "nb", "sci", Seq("music")),
      Row(3L, "c", "lalitpur", "tc", "nb", "mgmt", Seq("music")),
      Row(4L, "d", "pokhara", "tc", null, "sci", Seq.empty[String]),
      Row(5L, "e", null, null, null, null, Seq("math"))))
    spark.sql("DROP TABLE IF EXISTS ppr_convb_spec")
    GraphOps.buildAdjacencyTable(students, "ppr_convb_spec")
    try {
      val batch = GraphOps.personalizedPageRankConvergedBatch(
          spark, "ppr_convb_spec", Seq(1L, 3L, 999L))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      // per-qid results equal N independent single-anchor fixpoints: an
      // anchor that converged before the batch's slowest one rides the
      // remaining rounds as exact no-ops (the idempotent-at-fixpoint
      // identity the operator's contract rests on)
      val singles = Seq(1L, 3L).flatMap { a =>
        GraphOps.pprConvergedWithRounds(spark.table("ppr_convb_spec"), a)._1
          .collect().map(r => (a, r.getLong(0), r.getLong(1)))
      }
      assert(batch.filterNot(_._1 == 999L).toSet === singles.toSet,
        "batch fixpoint diverged from the single-anchor walks")
      // the negative case: a missing anchor stabilizes at its bare
      // teleport row and must not leak mass anywhere else
      assert(batch.filter(_._1 == 999L).toSeq ===
        Seq((999L, 999L, GraphOps.PprConvScale * 15 / 100)))
    } finally spark.sql("DROP TABLE IF EXISTS ppr_convb_spec")
  }

  test("recommend served from the standing adjacency == the inline form") {
    import org.apache.spark.sql.Row
    val students = studentsOf(Seq(
      Row(1L, "a", null, "ca", null, null, Seq.empty[String]),
      Row(2L, "b", null, "ca", "bb", null, Seq.empty[String]),
      Row(3L, "c", null, null, "bb", "sc", Seq.empty[String]),
      Row(4L, "d", null, null, null, "sc", Seq.empty[String])))
    spark.sql("DROP TABLE IF EXISTS ppr_rec_spec")
    GraphOps.buildAdjacencyTable(students, "ppr_rec_spec")
    try {
      val inline = GraphOps.personalizedPageRankRecommend(students, 1L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val warm = GraphOps.personalizedPageRankRecommendIndexed(
          spark, "ppr_rec_spec", students, 1L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(warm === inline, "warm-served recommend diverged from inline")
    } finally spark.sql("DROP TABLE IF EXISTS ppr_rec_spec")
  }

  test("labelPropagationStudents: clique folds to its min label; " +
      "isolated node keeps its own") {
    import org.apache.spark.sql.Row
    // K4 via shared college; node 9 connects to nobody
    val students = studentsOf(
      (0L to 3L).map(i =>
        Row(i, s"s$i", s"a$i", "c1", s"b$i", s"st$i", Seq.empty[String])) :+
      Row(9L, "s9", "a9", "c9", "b9", "st9", Seq.empty[String]))
    val got = GraphOps.labelPropagationStudents(students)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // hand-folded: round 1 — node 0 takes 1 (smallest neighbor label),
    // everyone else takes 0; round 2 — everyone sees a 0-majority; stable
    assert(got === Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L, 9L -> 9L))
    // the standing-adjacency form reaches the identical fold
    spark.sql("DROP TABLE IF EXISTS lpa_adj_spec")
    GraphOps.buildAdjacencyTable(students, "lpa_adj_spec")
    try {
      val ix = GraphOps.labelPropagationStudentsIndexed(
          spark, "lpa_adj_spec", students)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(ix === got, "indexed LPA diverged from the inline fold")
    } finally spark.sql("DROP TABLE IF EXISTS lpa_adj_spec")
  }

  test("kCoreStudents: pendant peels, clique core survives at k=3") {
    import org.apache.spark.sql.Row
    // K4 via college c1; node 4 hangs off node 0 alone via board bx
    val students = studentsOf(Seq(
      Row(0L, "s0", "a0", "c1", "bx", "st0", Seq.empty[String]),
      Row(1L, "s1", "a1", "c1", "b1", "st1", Seq.empty[String]),
      Row(2L, "s2", "a2", "c1", "b2", "st2", Seq.empty[String]),
      Row(3L, "s3", "a3", "c1", "b3", "st3", Seq.empty[String]),
      Row(4L, "s4", "a4", "c4", "bx", "st4", Seq.empty[String])))
    val got = GraphOps.kCoreStudents(students, k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L),
      "expected the K4 core at residual degree 3 with the pendant peeled")
    spark.sql("DROP TABLE IF EXISTS kcore_adj_spec")
    GraphOps.buildAdjacencyTable(students, "kcore_adj_spec")
    try {
      val ix = GraphOps.kCoreStudentsIndexed(spark, "kcore_adj_spec", k = 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(ix === got, "indexed k-core diverged from the inline peel")
    } finally spark.sql("DROP TABLE IF EXISTS kcore_adj_spec")
  }

  test("adjacencyDelta == from-scratch post-insert slices (cap=2 exercised)") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType, false),
      StructField("name", StringType, false),
      StructField("address", StringType, true),
      StructField("college", StringType, true),
      StructField("board", StringType, true),
      StructField("stream", StringType, true),
      StructField("interests", ArrayType(StringType), true)))
    def df(rows: Row*) = spark.createDataFrame(rows.asJava, schema)
    // 1-2-3 a full 'b'-board clique (slices saturated at cap=2); 9 isolated
    val students = df(
      Row(1L, "a", null, null, "b", null, Seq.empty[String]),
      Row(2L, "b", null, null, "b", null, Seq.empty[String]),
      Row(3L, "c", null, null, "b", null, Seq.empty[String]),
      Row(9L, "i", null, "x", null, null, Seq.empty[String]))
    // newcomer 10 joins BOTH groups: saturated slices must not change,
    // 9's empty slice gains it, 10's own slice is the cap-2 smallest
    val newcomer = df(Row(10L, "z", null, "x", "b", null, Seq.empty[String]))
    spark.sql("DROP TABLE IF EXISTS ppr_adj_delta_spec")
    GraphOps.buildAdjacencyTable(students, "ppr_adj_delta_spec", neighborCap = 2)
    try {
      val newEdges = graft.ops.EdgeRules.incrementalEdges(students, newcomer)
        .select(col("src"), col("dst"))
      val got = GraphOps.adjacencyDelta(spark, "ppr_adj_delta_spec",
          newEdges, 10L, neighborCap = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val affected = newEdges.select("src").distinct()
        .collect().map(_.getLong(0)).toSet + 10L
      val post = GraphOps.cappedAdjacency(students.unionByName(newcomer), 2)
        .filter(col("src").isin(affected.toSeq: _*))
        .orderBy(col("src"), col("dst"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got === post, s"shortcut $got != recompute $post")
      // the hand-checked shape: saturated slices untouched, slack filled
      assert(got === Seq(1L -> 2L, 1L -> 3L, 2L -> 1L, 2L -> 3L,
        3L -> 1L, 3L -> 2L, 9L -> 10L, 10L -> 1L, 10L -> 2L))
    } finally spark.sql("DROP TABLE IF EXISTS ppr_adj_delta_spec")
  }

  test("batch PPR == per-anchor singles; missing anchor = its teleport row") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType, false),
      StructField("name", StringType, false),
      StructField("address", StringType, true),
      StructField("college", StringType, true),
      StructField("board", StringType, true),
      StructField("stream", StringType, true),
      StructField("interests", ArrayType(StringType), true)))
    val students = spark.createDataFrame(Seq(
      Row(1L, "a", null, "ca", null, null, Seq.empty[String]),
      Row(2L, "b", null, "ca", "bb", null, Seq.empty[String]),
      Row(3L, "c", null, null, "bb", "sc", Seq.empty[String]),
      Row(4L, "d", null, null, null, "sc", Seq.empty[String])
    ).asJava, schema)
    spark.sql("DROP TABLE IF EXISTS ppr_adj_batch_spec")
    GraphOps.buildAdjacencyTable(students, "ppr_adj_batch_spec")
    try {
      val batch = GraphOps.personalizedPageRankBatchIndexed(
          spark, "ppr_adj_batch_spec", Seq(1L, 3L, 99L))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .groupBy(_._1).map { case (q, rows) => q -> rows.map(t => t._2 -> t._3).toSeq }
      for (anchor <- Seq(1L, 3L)) {
        val single = GraphOps.personalizedPageRankIndexed(
            spark, "ppr_adj_batch_spec", anchor)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
        assert(batch(anchor) === single, s"anchor $anchor diverged in batch")
      }
      // 99 is not in the graph: three rounds of teleport-only
      assert(batch(99L) === Seq(99L -> GraphOps.PprScale * 15 / 100))
    } finally spark.sql("DROP TABLE IF EXISTS ppr_adj_batch_spec")
  }

  test("recommend's one-vs-all neighbor probe == full backfill restricted to the anchor") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType, false),
      StructField("name", StringType, false),
      StructField("address", StringType, true),
      StructField("college", StringType, true),
      StructField("board", StringType, true),
      StructField("stream", StringType, true),
      StructField("interests", ArrayType(StringType), true)))
    // mixed case + multi-rule overlaps + nulls + an isolated node
    val students = spark.createDataFrame(Seq(
      Row(1L, "a", "Pune", "MIT ", null, "sci", Seq.empty[String]),
      Row(2L, "b", "pune", null, "cbse", "SCI", Seq.empty[String]),
      Row(3L, "c", null, "mit", "CBSE", null, Seq.empty[String]),
      Row(4L, "d", "Delhi", "mit", null, "sci", Seq.empty[String]),
      Row(5L, "e", null, null, null, null, Seq.empty[String])
    ).asJava, schema)
    val full = graft.ops.EdgeRules.backfill(students)
      .select(col("src"), col("dst")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    for (a <- 1L to 5L) {
      val expected = full.collect {
        case (s, d) if s == a => d
        case (s, d) if d == a => s
      }
      val inc = graft.ops.EdgeRules
        .incrementalEdges(students, students.filter(col("id") === a))
        .select(col("src"), col("dst")).collect()
        .map(r => if (r.getLong(0) == a) r.getLong(1) else r.getLong(0)).toSet
      assert(inc === expected, s"probe diverged from backfill at anchor $a")
    }
  }

  test("delta-MAINTAINED adjacency serves the same walk as a from-scratch rebuild") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType, false),
      StructField("name", StringType, false),
      StructField("address", StringType, true),
      StructField("college", StringType, true),
      StructField("board", StringType, true),
      StructField("stream", StringType, true),
      StructField("interests", ArrayType(StringType), true)))
    def df(rows: Row*) = spark.createDataFrame(rows.asJava, schema)
    val students = df(
      Row(1L, "a", null, null, "b", null, Seq.empty[String]),
      Row(2L, "b", null, null, "b", null, Seq.empty[String]),
      Row(3L, "c", null, null, "b", null, Seq.empty[String]),
      Row(9L, "i", null, "x", null, null, Seq.empty[String]))
    // newcomer 10 bridges the components: the maintained walk from
    // anchor 1 must reach 9 through it, exactly like a full rebuild
    val newcomer = df(Row(10L, "z", null, "x", "b", null, Seq.empty[String]))
    Seq("adj_m_base", "adj_m_maint", "adj_m_rebuild")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    GraphOps.buildAdjacencyTable(students, "adj_m_base")
    try {
      val newEdges = graft.ops.EdgeRules.incrementalEdges(students, newcomer)
        .select(col("src"), col("dst"))
      val deltaRows = GraphOps.adjacencyDelta(spark, "adj_m_base",
        newEdges, 10L)
      // APPLY: replace the affected keys' slices, append the new node's
      val affected = deltaRows.select(col("src")).distinct()
      spark.table("adj_m_base")
        .join(affected, Seq("src"), "left_anti")
        .unionByName(deltaRows)
        .write.saveAsTable("adj_m_maint")
      GraphOps.buildAdjacencyTable(students.unionByName(newcomer), "adj_m_rebuild")
      val maintained = GraphOps.personalizedPageRankIndexed(spark, "adj_m_maint", 1L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val rebuilt = GraphOps.personalizedPageRankIndexed(spark, "adj_m_rebuild", 1L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(maintained === rebuilt,
        "maintenance moved the walk verdict — delta apply is not equivalent to rebuild")
      // the walk really crossed the new bridge (10 and 9 both ranked)
      assert(maintained.map(_._1).toSet.intersect(Set(9L, 10L)) === Set(9L, 10L))
    } finally Seq("adj_m_base", "adj_m_maint", "adj_m_rebuild")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("weighted PPR: rule-count mass splits exactly (hand-computed 3 rounds)") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType, false),
      StructField("name", StringType, false),
      StructField("address", StringType, true),
      StructField("college", StringType, true),
      StructField("board", StringType, true),
      StructField("stream", StringType, true),
      StructField("interests", ArrayType(StringType), true)))
    // 1-2 share college AND board (w=2); 1-3 share stream (w=1):
    // node 2 pulls exactly 2x node 3's mass through every round
    val students = spark.createDataFrame(Seq(
      Row(1L, "a", null, "ca", "bb", "ss", Seq.empty[String]),
      Row(2L, "b", null, "ca", "bb", null, Seq.empty[String]),
      Row(3L, "c", null, null, null, "ss", Seq.empty[String])
    ).asJava, schema)
    val got = GraphOps.personalizedPageRankWeighted(students, 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === Map(
      1L -> 258375000000L, 2L -> 494416666666L, 3L -> 247208333333L),
      s"got $got")
    // the weighted walk really uses w: the UNWEIGHTED walk ties 2 and 3
    val un = GraphOps.personalizedPageRank(students, 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(un(2L) === un(3L), "control: unweighted walk should tie 2 and 3")
    assert(got(2L) === 2 * got(3L),
      "w=2 edge must pull exactly twice the w=1 edge's mass")
  }

  test("labelPropagation: hand-computed mode folds (count branch fires in round 2)") {
    import spark.implicits._
    // one 5-node block 0..4: chain 0-1-2-3-4 plus skips 0-3, 1-4.
    // L1 = (1,0,1,0,1); round 2 exercises the REAL mode (n0 sees label 0
    // twice), L2 = (0,1,0,1,0); L3 = (1,0,1,0,1).
    val customer = (0L to 4L).toDF("c_custkey")
    val got = GraphOps.labelPropagation(spark, customer)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === Seq(0L -> 1L, 1L -> 0L, 2L -> 1L, 3L -> 0L, 4L -> 1L))
  }

  test("kCore: 3 peeling rounds on one block leave the hand-computed 2-core") {
    import spark.implicits._
    // block 0..9: chain i-(i+1), skips i-(i+3). Degrees 2,3,3,4,4,4,4,
    // 3,3,2 -> peel {0,9}; then {1,8}; then {2,7}; survivors {3,4,5,6}
    // each keeping exactly 2 edges (3-4, 4-5, 5-6, 3-6).
    val customer = (0L to 9L).toDF("c_custkey")
    val got = GraphOps.kCore(spark, customer)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === Seq(3L -> 2L, 4L -> 2L, 5L -> 2L, 6L -> 2L))
  }

  test("kCore: peeling is monotone — more rounds never add nodes") {
    import spark.implicits._
    val customer = (0L to 29L).toDF("c_custkey")
    def surv(rounds: Int): Set[Long] =
      GraphOps.kCore(spark, customer, rounds = rounds)
        .collect().map(_.getLong(0)).toSet
    val s1 = surv(1); val s2 = surv(2); val s3 = surv(3)
    assert(s2.subsetOf(s1) && s3.subsetOf(s2))
  }

  /** Spark jobs one call of `body` starts. */
  private def jobsOf(body: => Unit): Int = {
    var jobs = 0
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          s: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      Thread.sleep(1000) // listener delivery is async
    } finally spark.sparkContext.removeSparkListener(l)
    jobs
  }

  // the 30-node fixture derives width 1, so this pins the width-2 dataflow
  test("labelPropagation: each extra round adds a bounded constant number of jobs") {
    import spark.implicits._
    val customer = (0L to 29L).toDF("c_custkey")
    def jobsFor(iters: Int): Int = jobsOf {
      GraphOps.lpaLoop(GraphOps.chainAdjacency(customer),
        customer.select(col("c_custkey").as("node")), iters, Some(2)).collect()
    }
    val j1 = jobsFor(1)
    val j3 = jobsFor(3)
    val perRound = (j3 - j1) / 2.0
    assert(j3 > j1 && perRound == perRound.floor && perRound <= 6,
      s"expected a constant <=6 jobs per extra LPA round, got j1=$j1 j3=$j3")
  }

  test("PPR walk at width 1: the rounds run in one task, so extra rounds " +
      "add no jobs") {
    // 30 students in three colleges
    val none = lit(null).cast("string")
    val students = spark.range(30).select(col("id"),
      concat(lit("s"), col("id")).as("name"), none.as("address"),
      concat(lit("c"), col("id") % 3).as("college"), none.as("board"),
      none.as("stream"))
    spark.sql("DROP TABLE IF EXISTS ppr_adj_spec3")
    GraphOps.buildAdjacencyTable(students, "ppr_adj_spec3")
    def jobsFor(iters: Int): Int = jobsOf(GraphOps
      .personalizedPageRankIndexed(spark, "ppr_adj_spec3", 1L, iters).collect())
    try {
      val j1 = jobsFor(1)
      val j3 = jobsFor(3)
      assert(j1 === j3, s"expected equal job counts, got j1=$j1 j3=$j3")
    } finally spark.sql("DROP TABLE IF EXISTS ppr_adj_spec3")
  }

  test("labelPropagation at width 1: the rounds run in one task, so extra " +
      "rounds add no jobs") {
    import spark.implicits._
    val customer = (0L to 29L).toDF("c_custkey")
    def jobsFor(iters: Int): Int =
      jobsOf(GraphOps.labelPropagation(spark, customer, iters).collect())
    val j1 = jobsFor(1)
    val j3 = jobsFor(3)
    assert(j1 === j3, s"expected equal job counts, got j1=$j1 j3=$j3")
  }

  test("featureAggregate: hand-computed floor-mean folds; isolated node keeps its feature") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType, false),
      StructField("name", StringType, false),
      StructField("address", StringType, true),
      StructField("college", StringType, true),
      StructField("board", StringType, true),
      StructField("stream", StringType, true),
      StructField("interests", ArrayType(StringType), true)))
    // 4-chain (1-2 college, 2-3 board, 3-4 stream) + isolated 5; name
    // lengths 1..5 give distinct base features f0 = len * 10^6
    val students = spark.createDataFrame(Seq(
      Row(1L, "a", null, "ca", null, null, Seq.empty[String]),
      Row(2L, "bb", null, "ca", "bo", null, Seq.empty[String]),
      Row(3L, "ccc", null, null, "bo", "sc", Seq.empty[String]),
      Row(4L, "dddd", null, null, null, "sc", Seq.empty[String]),
      Row(5L, "eeeee", null, null, null, null, Seq.empty[String])
    ).asJava, schema)
    spark.sql("DROP TABLE IF EXISTS feat_adj_spec")
    GraphOps.buildAdjacencyTable(students, "feat_adj_spec")
    try {
      val got = GraphOps.featureAggregate(spark, "feat_adj_spec", students)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val M = 1000000L
      assert(got.toSeq === Seq(
        (1L, 1 * M, 1500000L, 1750000L),
        (2L, 2 * M, 2000000L, 2166666L), // floor(6.5M/3)
        (3L, 3 * M, 3000000L, 2833333L), // floor(8.5M/3)
        (4L, 4 * M, 3500000L, 3250000L),
        (5L, 5 * M, 5 * M, 5 * M)))     // isolated: mean over {v} alone
    } finally spark.sql("DROP TABLE IF EXISTS feat_adj_spec")
  }

  test("adjacencyApplyDelta: == rebuild; full smaller-id slices and their buckets untouched") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType, false),
      StructField("name", StringType, false),
      StructField("address", StringType, true),
      StructField("college", StringType, true),
      StructField("board", StringType, true),
      StructField("stream", StringType, true),
      StructField("interests", ArrayType(StringType), true)))
    def df(rows: Row*) = spark.createDataFrame(rows.asJava, schema)
    // 1,2,3 form a board clique (cap-2 slices all FULL of smaller ids);
    // 9 is edgeless pre-insert; newcomer 10 shares board (can't enter any
    // full slice) and college with 9 (creates 9's first slice)
    val students = df(
      Row(1L, "a", null, null, "b", null, Seq.empty[String]),
      Row(2L, "b", null, null, "b", null, Seq.empty[String]),
      Row(3L, "c", null, null, "b", null, Seq.empty[String]),
      Row(9L, "i", null, "x", null, null, Seq.empty[String]))
    val newcomer = df(Row(10L, "z", null, "x", "b", null, Seq.empty[String]))
    Seq("adj_ap_t", "adj_ap_ref")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    GraphOps.buildAdjacencyTablePartitioned(students, "adj_ap_t", neighborCap = 2)
    try {
      val loc = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier("adj_ap_t")).location.getPath
      def bucketFiles(): Map[String, Set[String]] = {
        val root = new java.io.File(loc)
        root.listFiles().filter(f => f.isDirectory && f.getName.startsWith("bucket="))
          .map(d => d.getName -> d.listFiles().map(_.getName).toSet).toMap
      }
      val before = bucketFiles()
      val newEdges = graft.ops.EdgeRules.incrementalEdges(students, newcomer)
        .select(col("src"), col("dst"))
      GraphOps.adjacencyApplyDelta(spark, "adj_ap_t", newEdges, 10L,
        neighborCap = 2)
      val after = bucketFiles()
      // the clique's buckets (1,2,3 — full slices of smaller ids) keep
      // their files byte-identical; only 9's and 10's buckets are written
      for (b <- Seq("bucket=1", "bucket=2", "bucket=3"))
        assert(after(b) === before(b), s"$b was rewritten needlessly")
      assert(after.keySet.contains("bucket=10") && after.keySet.contains("bucket=9"))
      // table state == a from-scratch partitioned rebuild
      GraphOps.buildAdjacencyTablePartitioned(
        students.unionByName(newcomer), "adj_ap_ref", neighborCap = 2)
      val got = spark.table("adj_ap_t").select(col("src"), col("dst"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val ref = spark.table("adj_ap_ref").select(col("src"), col("dst"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(got === ref, "apply diverged from rebuild")
      // replay: re-applying the same delta changes nothing
      GraphOps.adjacencyApplyDelta(spark, "adj_ap_t", newEdges, 10L,
        neighborCap = 2)
      val replayed = spark.table("adj_ap_t").select(col("src"), col("dst"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(replayed === ref, "replayed apply is not a no-op")
    } finally Seq("adj_ap_t", "adj_ap_ref")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("streaming adjacency maintenance == from-scratch rebuild over the grown corpus") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType, false),
      StructField("name", StringType, false),
      StructField("address", StringType, true),
      StructField("college", StringType, true),
      StructField("board", StringType, true),
      StructField("stream", StringType, true),
      StructField("interests", ArrayType(StringType), true)))
    val students = spark.createDataFrame(Seq(
      Row(1L, "a", null, null, "b", null, Seq.empty[String]),
      Row(2L, "b", null, null, "b", null, Seq.empty[String]),
      Row(3L, "c", null, "y", null, null, Seq.empty[String])
    ).asJava, schema)
    // n1 (10) introduces a college seen nowhere; n2 (11) shares it — the
    // 10–11 edge exists only if batch 2 saw batch 1's corpus append
    val feedSchema = StructType(Seq(
      StructField("id", LongType, false),
      StructField("name", StringType, false),
      StructField("college", StringType, true),
      StructField("board", StringType, true),
      StructField("stream", StringType, true),
      StructField("address", StringType, true)))
    val n1 = spark.createDataFrame(
      Seq(Row(10L, "n1", "zz", null, null, null)).asJava, feedSchema)
    val n2 = spark.createDataFrame(
      Seq(Row(11L, "n2", "zz", "b", null, null)).asJava, feedSchema)
    Seq("adj_st_t", "adj_st_corpus", "adj_st_ref", "adj_st_flat")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    students.select(col("id"), col("name"), col("college"), col("board"),
        col("stream"), col("address"))
      .write.saveAsTable("adj_st_corpus")
    // seed path: re-bucketing the flat standing adjacency == building
    // the partitioned layout from the rules
    GraphOps.buildAdjacencyTable(students, "adj_st_flat")
    GraphOps.partitionAdjacencyFrom(spark, "adj_st_flat", "adj_st_t")
    try {
      val seeded = spark.table("adj_st_t").select(col("src"), col("dst"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val flat = spark.table("adj_st_flat").select(col("src"), col("dst"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(seeded === flat, "seed path lost or duplicated slices")
      val feed = java.nio.file.Files.createTempDirectory("adj-st-feed")
        .toFile.getAbsolutePath + "/in"
      n1.repartition(1).write.parquet(feed)
      n2.repartition(1).write.mode("append").parquet(feed)
      val q = graft.streaming.Streams.incrementalAdjacencyMaintenance(
        spark.readStream.schema(feedSchema).option("maxFilesPerTrigger", 1)
          .parquet(feed),
        "adj_st_t", "adj_st_corpus")
      q.processAllAvailable(); q.stop()
      // the stream's writes ran in the cloned micro-batch session; THIS
      // session's relation cache (primed by the pre-stream reads above)
      // still lists the overwritten files — refresh before reading
      spark.catalog.refreshTable("adj_st_t")
      spark.catalog.refreshTable("adj_st_corpus")
      val grown = students.select(
        col("id"), col("name"), col("college"), col("board"),
        col("stream"), col("address"))
        .unionByName(n1).unionByName(n2)
        .withColumn("interests", lit(null).cast("array<string>"))
      GraphOps.buildAdjacencyTablePartitioned(grown, "adj_st_ref")
      val got = spark.table("adj_st_t").select(col("src"), col("dst"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val ref = spark.table("adj_st_ref").select(col("src"), col("dst"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(got === ref, "streamed maintenance diverged from rebuild")
      // the cross-batch edge really exists (10-11 via the streamed college)
      assert(got.contains((10L, 11L)) && got.contains((11L, 10L)),
        "batch 2 did not see batch 1's corpus growth")
      // and the corpus table holds both streamed students exactly once
      assert(spark.table("adj_st_corpus").filter(col("id") >= 10L).count() === 2L)
    } finally Seq("adj_st_t", "adj_st_corpus", "adj_st_ref", "adj_st_flat")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("adjacencyDelete: eviction replaced from the rules, untouched keys absent") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType, false),
      StructField("name", StringType, false),
      StructField("address", StringType, true),
      StructField("college", StringType, true),
      StructField("board", StringType, true),
      StructField("stream", StringType, true),
      StructField("interests", ArrayType(StringType), true)))
    // clique 1,2,3,4 on one board; at cap=2 the slices are 1:{2,3},
    // 2:{1,3}, 3:{1,2}, 4:{1,2} — deleting 3 affects ONLY 1 and 2 (4 held
    // 3 beyond its cap), and their evicted slot refills with 4, which no
    // slice-only shortcut could know
    val students = spark.createDataFrame(Seq(
      Row(1L, "a", null, null, "b", null, Seq.empty[String]),
      Row(2L, "b", null, null, "b", null, Seq.empty[String]),
      Row(3L, "c", null, null, "b", null, Seq.empty[String]),
      Row(4L, "d", null, null, "b", null, Seq.empty[String])
    ).asJava, schema)
    spark.sql("DROP TABLE IF EXISTS ppr_adj_del_spec")
    GraphOps.buildAdjacencyTable(students, "ppr_adj_del_spec", neighborCap = 2)
    try {
      val got = GraphOps.adjacencyDelete(spark, "ppr_adj_del_spec",
          students, 3L, neighborCap = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got === Seq(1L -> 2L, 1L -> 4L, 2L -> 1L, 2L -> 4L),
        s"got $got")
      // equals the from-scratch post-delete slices of the affected keys
      val post = GraphOps.cappedAdjacency(
          students.filter(col("id") =!= 3L), 2)
        .filter(col("src").isin(1L, 2L))
        .orderBy(col("src"), col("dst"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got === post)
    } finally spark.sql("DROP TABLE IF EXISTS ppr_adj_del_spec")
  }

  test("adjacencyDelete: popular victim, group top-list truncation covers every slice") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType, false),
      StructField("name", StringType, false),
      StructField("address", StringType, true),
      StructField("college", StringType, true),
      StructField("board", StringType, true),
      StructField("stream", StringType, true),
      StructField("interests", ArrayType(StringType), true)))
    // r22 recompute (group-top-(cap+1) candidates): a 6-clique on one
    // board at cap=2, victim 1 — the victim sits in EVERY slice, so
    // affected = {2..6}, and the remaining group {2..6} is larger than
    // cap+1=3, so the top-list truncates (5 and 6 never appear in it)
    // while still covering every post-delete slice: 2:{3,4}, 3:{2,4},
    // 4..6:{2,3} ⊆ tops {2,3,4} — the covering-lemma boundary the
    // eviction fixture (remaining group of 3, no truncation) misses.
    val students = spark.createDataFrame((1L to 6L).map(i =>
      Row(i, s"s$i", null, null, "b", null, Seq.empty[String])).asJava, schema)
    spark.sql("DROP TABLE IF EXISTS ppr_adj_del_pop_spec")
    GraphOps.buildAdjacencyTable(students, "ppr_adj_del_pop_spec",
      neighborCap = 2)
    try {
      val got = GraphOps.adjacencyDelete(spark, "ppr_adj_del_pop_spec",
          students, 1L, neighborCap = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got === Seq(2L -> 3L, 2L -> 4L, 3L -> 2L, 3L -> 4L,
        4L -> 2L, 4L -> 3L, 5L -> 2L, 5L -> 3L, 6L -> 2L, 6L -> 3L),
        s"got $got")
      // equals the from-scratch post-delete slices of the affected keys
      val post = GraphOps.cappedAdjacency(
          students.filter(col("id") =!= 1L), 2)
        .orderBy(col("src"), col("dst"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got === post)
    } finally spark.sql("DROP TABLE IF EXISTS ppr_adj_del_pop_spec")
  }
}
