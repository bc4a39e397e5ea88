package graft

import org.apache.spark.sql.functions._

import graft.model.Tables
import graft.ops.MatView

/** The incrementally-maintained materialized aggregate ([[graft.ops
  * .MatView]]): after ANY build/delta/delete sequence the folded read
  * must be bit-identical to a from-scratch GROUP BY over the surviving
  * base rows (exact additive DECIMAL fold), replays must be refused
  * loudly (an admitted replay silently doubles a group), compaction must
  * fold to one row per key without moving the result, and a
  * fully-deleted group must vanish exactly as a recompute would. */
class MatViewSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.orderBy(col("o_custkey")).collect().map(_.toSeq).toSeq

  private def recompute(base: org.apache.spark.sql.DataFrame) =
    base.groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("cnt"), sum(col("price")).as("sum_price"))

  test("read == recompute after build, delta, delete; replay refused; " +
      "compact folds to one row per key; emptied groups vanish") {
    val wh = java.nio.file.Files.createTempDirectory("graft-mv-wh")
      .toFile.getAbsolutePath
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_mv_test LOCATION '$wh'")
    val t = "graft_mv_test.mvo"
    val o = Tables.orders(spark, sfDir)
      .withColumn("price", col("o_totalprice").cast("decimal(18,2)"))
    val keys = Seq("o_custkey"); val sums = Seq("price")
    def read() = MatView.sum(t, keys, sums, "o_orderkey").read(spark)
      .select(col("o_custkey"), col("cnt"), col("sum_price"))

    val base = o.filter(col("o_orderkey") % 5 =!= 0)
    MatView.sum(t, keys, sums, "o_orderkey").build(base)
    assert(rows(read()) === rows(recompute(base)),
      "post-build read diverged from the GROUP BY recompute")

    val delta = o.filter(col("o_orderkey") % 5 === 0)
    MatView.sum(t, keys, sums, "o_orderkey").delta(delta)
    assert(rows(read()) === rows(recompute(o)),
      "post-delta read diverged (delta partials mis-folded)")

    // replay refused loudly — an admitted replay doubles its groups
    intercept[IllegalArgumentException] {
      MatView.sum(t, keys, sums, "o_orderkey").delta(delta.limit(1))
    }

    // delete one customer's ENTIRE order set + a spread of others: the
    // emptied group must vanish, the others must shrink exactly
    val victimCust = o.select(col("o_custkey")).limit(1)
      .collect()(0).getLong(0)
    val victims = o.filter(col("o_custkey") === victimCust ||
      col("o_orderkey") % 7 === 3)
    MatView.sum(t, keys, sums, "o_orderkey").delete(victims)
    val surviving = o.filter(col("o_custkey") =!= victimCust &&
      col("o_orderkey") % 7 =!= 3)
    assert(rows(read()) === rows(recompute(surviving)),
      "post-delete read diverged from the survivors' recompute")
    assert(read().filter(col("o_custkey") === victimCust).count() === 0,
      "a fully-deleted group survived the fold")

    // compact: one physical row per key, result unmoved
    val want = rows(read())
    MatView.sum(t, keys, sums, "o_orderkey").compact(spark)
    assert(rows(read()) === want, "compaction moved the view")
    val perKey = spark.table(s"${t}_mv").groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n")).agg(max(col("n"))).collect()(0).getLong(0)
    assert(perKey === 1L, s"compaction left $perKey rows for some key")
  }

  test("foldBatch: same-bid redelivery is a no-op (batch-id ledger); " +
      "distinct bids fold; drained == one-shot") {
    val wh = java.nio.file.Files.createTempDirectory("graft-mvs-wh")
      .toFile.getAbsolutePath
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_mvs_test LOCATION '$wh'")
    val t = "graft_mvs_test.mv"
    val o = Tables.orders(spark, sfDir)
      .withColumn("price", col("o_totalprice").cast("decimal(18,2)"))
    val keys = Seq("o_custkey"); val sums = Seq("price")
    def read() = MatView.sum(t, keys, sums, "o_orderkey").read(spark)
      .select(col("o_custkey"), col("cnt"), col("sum_price"))

    val b0 = o.filter(col("o_orderkey") % 2 === 1)
    val b1 = o.filter(col("o_orderkey") % 2 === 0)
    MatView.sum(t, keys, sums, "o_orderkey").foldBatch(0L, b0)
    MatView.sum(t, keys, sums, "o_orderkey").foldBatch(1L, b1)
    assert(rows(read()) === rows(recompute(o)),
      "drained folds diverged from the one-shot GROUP BY")

    // the crash-redelivery case: SAME bid again, content identical —
    // must be skipped entirely (no doubled groups, no new generation)
    val gens = spark.table(s"${t}_mv").count()
    MatView.sum(t, keys, sums, "o_orderkey").foldBatch(1L, b1)
    assert(spark.table(s"${t}_mv").count() === gens,
      "redelivered batch id re-folded (ledger miss)")
    assert(rows(read()) === rows(recompute(o)),
      "redelivery changed the view")

    // CDC: a mixed I/D batch applies as one generation; a redelivered
    // bid is a strict no-op; read == base + inserts − deletes
    val t2 = "graft_mvs_test.cdc"
    MatView.sum(t2, keys, sums, "o_orderkey").build(b0)
    val changes = b1.withColumn("op", lit("I")).unionByName(
      b0.filter(col("o_orderkey") % 7 === 3).withColumn("op", lit("D")))
    MatView.sum(t2, keys, sums, "o_orderkey").applyCdc(0L, changes)
    val surviving = o.filter(!(col("o_orderkey") % 2 === 1 &&
      col("o_orderkey") % 7 === 3))
    def read2() = MatView.sum(t2, keys, sums, "o_orderkey").read(spark)
      .select(col("o_custkey"), col("cnt"), col("sum_price"))
    assert(rows(read2()) === rows(recompute(surviving)),
      "CDC apply diverged from base + inserts − deletes")
    MatView.sum(t2, keys, sums, "o_orderkey").applyCdc(0L, changes)
    assert(rows(read2()) === rows(recompute(surviving)),
      "redelivered CDC bid re-applied")
  }

  test("join view: read == recompute after buildJoin/deltaJoin/" +
      "deleteJoinRows; unmatched fact rows invisible but guard-refused; " +
      "delta enriches through a broadcast join (no fact shuffle)") {
    val wh = java.nio.file.Files.createTempDirectory("graft-mvj-wh")
      .toFile.getAbsolutePath
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_mvj_test LOCATION '$wh'")
    val t = "graft_mvj_test.mvj"
    val o = Tables.orders(spark, sfDir)
      .withColumn("price", col("o_totalprice").cast("decimal(18,2)"))
      .withColumnRenamed("o_custkey", "c_custkey")
    val dim = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_nationkey"))
    val keys = Seq("c_nationkey"); val sums = Seq("price")
    def read() = MatView.join(t, dim, Seq("c_custkey"), keys, sums,
      "o_orderkey").read(spark)
      .select(col("c_nationkey").as("o_custkey"), // reuse the sorter
        col("cnt"), col("sum_price"))
    def recomputeJ(fact: org.apache.spark.sql.DataFrame) =
      fact.join(dim, Seq("c_custkey"))
        .groupBy(col("c_nationkey").as("o_custkey"))
        .agg(count(lit(1)).as("cnt"), sum(col("price")).as("sum_price"))

    val base = o.filter(col("o_orderkey") % 5 =!= 0)
    MatView.join(t, dim, Seq("c_custkey"), keys, sums,
      "o_orderkey").build(base)
    assert(rows(read()) === rows(recomputeJ(base)),
      "post-buildJoin read diverged from the join recompute")

    val delta = o.filter(col("o_orderkey") % 5 === 0)
    MatView.join(t, dim, Seq("c_custkey"), keys, sums,
      "o_orderkey").delta(delta)
    assert(rows(read()) === rows(recomputeJ(o)),
      "post-deltaJoin read diverged")

    // an UNMATCHED fact row: invisible to the view (inner join), but its
    // id still enters the guard — a replay of it is refused, so a
    // late-arriving dim row can never resurrect it unnoticed
    val orphan = o.limit(1)
      .withColumn("o_orderkey", lit(77000001L))
      .withColumn("c_custkey", lit(-1L)).localCheckpoint()
    MatView.join(t, dim, Seq("c_custkey"), keys, sums,
      "o_orderkey").delta(orphan)
    assert(rows(read()) === rows(recomputeJ(o)),
      "an unmatched fact row changed the view")
    intercept[IllegalArgumentException] {
      MatView.join(t, dim, Seq("c_custkey"), keys, sums,
        "o_orderkey").delta(orphan)
    }

    // delete through the same dim: exact inverse of the insert path
    val victims = o.filter(col("o_orderkey") % 7 === 3)
    MatView.join(t, dim, Seq("c_custkey"), keys, sums, "o_orderkey")
      .delete(victims)
    assert(rows(read()) === rows(recomputeJ(
      o.filter(col("o_orderkey") % 7 =!= 3))),
      "post-deleteJoinRows read diverged")

    // scale shape: the maintenance join is a BroadcastHashJoin — the
    // fact delta is never shuffled on the join key
    val plan = delta.join(broadcast(dim), Seq("c_custkey"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"join-view maintenance join did not broadcast:\n$plan")
  }

  test("distinct view: ndv/cnt == recompute after build/delta/delete; " +
      "a value with surviving supporters stays; one without leaves; " +
      "emptied group vanishes; compact folds to one row per pair; " +
      "replay refused") {
    val wh = java.nio.file.Files.createTempDirectory("graft-mvd-wh")
      .toFile.getAbsolutePath
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_mvd_test LOCATION '$wh'")
    val t = "graft_mvd_test.mvd"
    val o = Tables.orders(spark, sfDir)
    val keys = Seq("o_orderpriority"); val v = "o_custkey"
    def read() = MatView.distinct(t, keys, v, "o_orderkey").read(spark)
      .select(col("o_orderpriority").as("o_custkey"), // reuse the sorter
        col("ndv"), col("cnt"))
    def recomputeD(base: org.apache.spark.sql.DataFrame) =
      base.groupBy(col("o_orderpriority").as("o_custkey"))
        .agg(countDistinct(col(v)).as("ndv"), count(lit(1)).as("cnt"))

    val base = o.filter(col("o_orderkey") % 5 =!= 0)
    MatView.distinct(t, keys, v, "o_orderkey").build(base)
    assert(rows(read()) === rows(recomputeD(base)),
      "post-buildDistinct read diverged from COUNT DISTINCT recompute")

    val delta = o.filter(col("o_orderkey") % 5 === 0)
    MatView.distinct(t, keys, v, "o_orderkey").delta(delta)
    assert(rows(read()) === rows(recomputeD(o)),
      "post-deltaDistinct read diverged")
    intercept[IllegalArgumentException] {
      MatView.distinct(t, keys, v, "o_orderkey").delta(delta.limit(1))
    }

    // TEETH: delete ONE order of a multi-order (priority, customer) pair
    // — ndv must NOT move (survivors support the value); then delete the
    // rest of that customer's orders in the priority — ndv drops by
    // exactly 1. Additive ndv storage cannot make this distinction; the
    // refcount can.
    val pair = o.groupBy(col("o_orderpriority"), col(v))
      .agg(count(lit(1)).as("n")).filter(col("n") >= 2)
      .limit(1).collect()(0)
    val (pr, ck) = (pair.getString(0), pair.getLong(1))
    val pairRows = o.filter(col("o_orderpriority") === pr &&
      col(v) === ck).localCheckpoint()
    val first = pairRows.orderBy(col("o_orderkey")).limit(1)
      .localCheckpoint()
    MatView.distinct(t, keys, v, "o_orderkey").delete(first)
    val afterOne = o.join(first.select(col("o_orderkey")),
      Seq("o_orderkey"), "left_anti")
    assert(rows(read()) === rows(recomputeD(afterOne)),
      "deleting one supporter of a 2+-supporter pair moved ndv")
    MatView.distinct(t, keys, v, "o_orderkey").delete(
      pairRows.join(first.select(col("o_orderkey")),
        Seq("o_orderkey"), "left_anti"))
    val afterAll = o.join(pairRows.select(col("o_orderkey")),
      Seq("o_orderkey"), "left_anti")
    assert(rows(read()) === rows(recomputeD(afterAll)),
      "deleting the last supporter did not retire the value")

    // empty a whole group: delete every row of one priority
    val gonePr = "1-URGENT"
    MatView.distinct(t, keys, v, "o_orderkey").delete(
      afterAll.filter(col("o_orderpriority") === gonePr))
    val surviving = afterAll.filter(col("o_orderpriority") =!= gonePr)
    assert(rows(read()) === rows(recomputeD(surviving)),
      "post-group-delete read diverged")
    assert(read().filter(col("o_custkey") === gonePr).count() === 0,
      "a fully-deleted group survived the distinct fold")

    // compact: one physical row per surviving pair, result unmoved
    val want = rows(read())
    MatView.distinct(t, keys, v, "o_orderkey").compact(spark)
    assert(rows(read()) === want, "distinct compaction moved the view")
    val perPair = spark.table(s"${t}_dv")
      .groupBy(col("o_orderpriority"), col(v))
      .agg(count(lit(1)).as("n")).agg(max(col("n")))
      .collect()(0).getLong(0)
    assert(perPair === 1L,
      s"distinct compaction left $perPair rows for a pair")
  }

  test("foldBatchDistinct / foldBatchMinMax: drained == one-shot; " +
      "same-bid redelivery is a physical no-op; applyCdcJoin == " +
      "survivors' join GROUP BY") {
    val wh = java.nio.file.Files.createTempDirectory("graft-mvx-wh")
      .toFile.getAbsolutePath
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_mvx_test LOCATION '$wh'")
    val o = Tables.orders(spark, sfDir)
      .withColumn("price", col("o_totalprice").cast("decimal(18,2)"))
    val b0 = o.filter(col("o_orderkey") % 2 === 1)
    val b1 = o.filter(col("o_orderkey") % 2 === 0)

    // distinct: bootstrap + fold, redelivery leaves the pair rows alone
    val td = "graft_mvx_test.dv"
    MatView.distinct(td,
      Seq("o_orderpriority"), "o_custkey", "o_orderkey").foldBatch(0L, b0)
    MatView.distinct(td,
      Seq("o_orderpriority"), "o_custkey", "o_orderkey").foldBatch(1L, b1)
    def readD() = MatView.distinct(td,
      Seq("o_orderpriority"), "o_custkey", "o_orderkey").read(spark)
      .select(col("o_orderpriority").as("o_custkey"), col("ndv"), col("cnt"))
    val wantD = rows(o.groupBy(col("o_orderpriority").as("o_custkey"))
      .agg(countDistinct(col("o_custkey")).as("ndv"),
        count(lit(1)).as("cnt")))
    assert(rows(readD()) === wantD, "drained distinct stream diverged")
    val nD = spark.table(s"${td}_dv").count()
    MatView.distinct(td,
      Seq("o_orderpriority"), "o_custkey", "o_orderkey").foldBatch(1L, b1)
    assert(spark.table(s"${td}_dv").count() === nD &&
      rows(readD()) === wantD, "redelivered distinct batch re-folded")

    // minmax: bootstrap + fold, redelivery adds no generation
    val tm = "graft_mvx_test.mm"
    MatView.minMax(tm,
      Seq("o_custkey"), Seq("price"), "o_orderkey").foldBatch(0L, b0)
    MatView.minMax(tm,
      Seq("o_custkey"), Seq("price"), "o_orderkey").foldBatch(1L, b1)
    def readM() = MatView.minMax(tm,
      Seq("o_custkey"), Seq("price"), "o_orderkey").read(spark)
      .select(col("o_custkey"), col("cnt"),
        col("min_price"), col("max_price"))
    assert(rows(readM()) === rows(recomputeMM(o)),
      "drained minmax stream diverged")
    val nM = spark.table(s"${tm}_mm").count()
    MatView.minMax(tm,
      Seq("o_custkey"), Seq("price"), "o_orderkey").foldBatch(1L, b1)
    assert(spark.table(s"${tm}_mm").count() === nM &&
      rows(readM()) === rows(recomputeMM(o)),
      "redelivered minmax batch re-folded")

    // CDC through the join view: I/D fact images enrich through the dim
    val tj = "graft_mvx_test.jcdc"
    val oj = o.withColumnRenamed("o_custkey", "c_custkey")
    val dim = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_nationkey"))
    MatView.join(tj, dim, Seq("c_custkey"), Seq("c_nationkey"), Seq("price"),
      "o_orderkey").build(oj.filter(col("o_orderkey") % 2 === 1))
    val changes = oj.filter(col("o_orderkey") % 2 === 0)
      .withColumn("op", lit("I"))
      .unionByName(oj.filter(col("o_orderkey") % 2 === 1 &&
        col("o_orderkey") % 7 === 3).withColumn("op", lit("D")))
    MatView.join(tj, dim, Seq("c_custkey"), Seq("c_nationkey"), Seq("price"),
      "o_orderkey").applyCdc(0L, changes)
    val surviving = oj.filter(!(col("o_orderkey") % 2 === 1 &&
      col("o_orderkey") % 7 === 3))
    val wantJ = rows(surviving.join(dim, Seq("c_custkey"))
      .groupBy(col("c_nationkey").as("o_custkey"))
      .agg(count(lit(1)).as("cnt"), sum(col("price")).as("sum_price")))
    assert(rows(MatView.join(tj, dim, Seq("c_custkey"), Seq("c_nationkey"),
      Seq("price"), "o_orderkey").read(spark)
      .select(col("c_nationkey").as("o_custkey"), col("cnt"),
        col("sum_price"))) === wantJ,
      "join-view CDC diverged from the survivors' join GROUP BY")
    MatView.join(tj, dim, Seq("c_custkey"), Seq("c_nationkey"), Seq("price"),
      "o_orderkey").applyCdc(0L, changes)
    assert(rows(MatView.join(tj, dim, Seq("c_custkey"), Seq("c_nationkey"),
      Seq("price"), "o_orderkey").read(spark)
      .select(col("c_nationkey").as("o_custkey"), col("cnt"),
        col("sum_price"))) === wantJ, "redelivered CDC bid re-applied")
  }

  test("topk view: read == recompute after build/delta/delete; evicting " +
      "rank 1 surfaces rank k+1; emptied group vanishes and a later " +
      "delta folds against a clean slate; compact bounds standing rows") {
    val wh = java.nio.file.Files.createTempDirectory("graft-mvtk-wh")
      .toFile.getAbsolutePath
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_tk_test LOCATION '$wh'")
    val t = "graft_tk_test.tk"
    val o = Tables.orders(spark, sfDir)
      .withColumn("price", col("o_totalprice").cast("decimal(18,2)"))
    val keys = Seq("o_orderpriority"); val k = 3
    val wr = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_orderpriority"))
      .orderBy(col("price").desc, col("o_orderkey"))
    def recomputeTK(base: org.apache.spark.sql.DataFrame) =
      base.withColumn("rk", row_number().over(wr)).filter(col("rk") <= k)
        .select(col("o_orderpriority"), col("o_orderkey"),
          col("price"), col("rk"))
    def rowsTK(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("o_orderpriority", "rk").collect().map(_.toSeq).toSeq
    def read() = MatView.topK(t, keys, "price", "o_orderkey", k).read(spark)

    val base = o.filter(col("o_orderkey") % 5 =!= 0)
    MatView.topK(t, keys, "price", "o_orderkey", k).build(base)
    assert(rowsTK(read()) === rowsTK(recomputeTK(base)),
      "post-build topk diverged from the window recompute")

    val delta = o.filter(col("o_orderkey") % 5 === 0)
    MatView.topK(t, keys, "price", "o_orderkey", k).delta(delta)
    assert(rowsTK(read()) === rowsTK(recomputeTK(o)),
      "post-delta topk diverged (generation supersets mis-folded)")
    intercept[IllegalArgumentException] {
      MatView.topK(t, keys, "price", "o_orderkey", k).delta(delta.limit(1))
    }

    // TEETH: delete every key's CURRENT RANK-1 row — the fold must
    // surface the old rank k+1, which no stored partial contains
    val rank1 = o.withColumn("rk", row_number().over(wr))
      .filter(col("rk") === 1).drop("rk").localCheckpoint()
    val survivors = o.join(rank1.select(col("o_orderkey")),
      Seq("o_orderkey"), "left_anti")
    MatView.topK(t, keys, "price",
      "o_orderkey", k).delete(rank1, survivors)
    assert(rowsTK(read()) === rowsTK(recomputeTK(survivors)),
      "evicting rank 1 did not surface the runner-up ladder")

    // emptied group + clean-slate re-feed
    val gonePr = "1-URGENT"
    val vic = survivors.filter(col("o_orderpriority") === gonePr)
      .localCheckpoint()
    val surv2 = survivors.filter(col("o_orderpriority") =!= gonePr)
    MatView.topK(t, keys, "price", "o_orderkey", k).delete(vic, surv2)
    assert(read().filter(col("o_orderpriority") === gonePr).count() === 0,
      "a fully-deleted group survived the topk fold")
    val back = vic.limit(5)
      .withColumn("o_orderkey", col("o_orderkey") + 91000000L)
      .localCheckpoint()
    MatView.topK(t, keys, "price", "o_orderkey", k).delta(back)
    assert(rowsTK(read()) === rowsTK(recomputeTK(surv2.unionByName(back))),
      "delta after a full-group delete folded against stale history")

    // compact: ≤ k standing physical rows per key, result unmoved
    val want = rowsTK(read())
    MatView.topK(t, keys, "price", "o_orderkey", k).compact(spark)
    assert(rowsTK(read()) === want, "topk compaction moved the view")
    val perKey = spark.table(s"${t}_tk").groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n")).agg(max(col("n"))).collect()(0).getLong(0)
    assert(perKey <= k, s"topk compaction left $perKey rows for a key")
  }

  test("plan shape: readMinMax and readTopK fold in ONE key exchange " +
      "(window + agg share it); readDistinct in two (pair fold, then " +
      "key fold)") {
    val wh = java.nio.file.Files.createTempDirectory("graft-mvp-wh")
      .toFile.getAbsolutePath
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_mvp_test LOCATION '$wh'")
    val o = Tables.orders(spark, sfDir)
      .withColumn("price", col("o_totalprice").cast("decimal(18,2)"))
    MatView.minMax("graft_mvp_test.mm",
      Seq("o_custkey"), Seq("price"), "o_orderkey").build(o)
    MatView.topK("graft_mvp_test.tk",
      Seq("o_orderpriority"), "price", "o_orderkey", 3).build(o)
    MatView.distinct("graft_mvp_test.dv",
      Seq("o_orderpriority"), "o_custkey", "o_orderkey").build(o)
    def exchanges(df: org.apache.spark.sql.DataFrame) =
      "Exchange hashpartitioning".r
        .findAllIn(df.queryExecution.executedPlan.toString).length
    assert(exchanges(MatView.minMax("graft_mvp_test.mm",
      Seq("o_custkey"), Seq("price"), "o_orderkey").read(spark)) === 1,
      "readMinMax: window and fold must share one key exchange")
    assert(exchanges(MatView.topK("graft_mvp_test.tk",
      Seq("o_orderpriority"), "price", "o_orderkey", 3).read(spark)) === 1,
      "readTopK: rmax window and rank window must share one exchange")
    assert(exchanges(MatView.distinct("graft_mvp_test.dv",
      Seq("o_orderpriority"), "o_custkey", "o_orderkey").read(spark)) === 2,
      "readDistinct: pair fold + key fold, nothing more")
  }

  private def recomputeMM(base: org.apache.spark.sql.DataFrame) =
    base.groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("cnt"), min(col("price")).as("min_price"),
        max(col("price")).as("max_price"))

  test("minmax view: read == recompute after build/delta/delete; " +
      "delete recompute supersedes history (runner-up surfaces); " +
      "emptied group vanishes and a later delta folds against a clean " +
      "slate; compact preserves; replay refused; affected keys broadcast") {
    val wh = java.nio.file.Files.createTempDirectory("graft-mm-wh")
      .toFile.getAbsolutePath
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_mm_test LOCATION '$wh'")
    val t = "graft_mm_test.mm"
    val o = Tables.orders(spark, sfDir)
      .withColumn("price", col("o_totalprice").cast("decimal(18,2)"))
    val keys = Seq("o_custkey"); val cols = Seq("price")
    def read() = MatView.minMax(t, keys, cols, "o_orderkey").read(spark)
      .select(col("o_custkey"), col("cnt"),
        col("min_price"), col("max_price"))

    val base = o.filter(col("o_orderkey") % 5 =!= 0)
    MatView.minMax(t, keys, cols, "o_orderkey").build(base)
    assert(rows(read()) === rows(recomputeMM(base)),
      "post-build minmax read diverged from the GROUP BY recompute")

    val delta = o.filter(col("o_orderkey") % 5 === 0)
    MatView.minMax(t, keys, cols, "o_orderkey").delta(delta)
    assert(rows(read()) === rows(recomputeMM(o)),
      "post-delta minmax read diverged (insert partials mis-folded)")

    // replay refused loudly — the same no-row-identity stance as delta
    intercept[IllegalArgumentException] {
      MatView.minMax(t, keys, cols, "o_orderkey").delta(delta.limit(1))
    }

    // TEETH for the recompute: delete every group's CURRENT MAX row —
    // additive math cannot answer this (the runner-up only exists in
    // the base); the read must surface exactly the runner-up maxes
    val wmax = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey"))
      .orderBy(col("price").desc, col("o_orderkey"))
    val ranked = o.withColumn("rk", row_number().over(wmax))
    val victims = ranked.filter(col("rk") === 1).drop("rk")
      .localCheckpoint()
    val survivors = ranked.filter(col("rk") =!= 1).drop("rk")
    MatView.minMax(t, keys, cols, "o_orderkey").delete(victims, survivors)
    assert(rows(read()) === rows(recomputeMM(survivors)),
      "post-delete minmax read diverged — the runner-up max did not " +
        "surface (recompute generation mis-folded)")
    // single-order customers vanished with their only row
    val single = o.groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
      .filter(col("n") === 1).select(col("o_custkey"))
      .collect().map(_.getLong(0)).toSet
    if (single.nonEmpty) {
      val hit = read().filter(col("o_custkey").isin(single.toSeq: _*))
      assert(hit.count() === 0, "a fully-deleted group survived the fold")
    }

    // the recompute generation must SUPERSEDE history even for a key
    // later re-fed by a delta: re-add one vanished customer's rows
    if (single.nonEmpty) {
      val back = o.filter(col("o_custkey") === single.head)
        .withColumn("o_orderkey", col("o_orderkey") + 90000000L)
      MatView.minMax(t, keys, cols, "o_orderkey").delta(back)
      val want = recomputeMM(survivors.unionByName(back))
      assert(rows(read()) === rows(want),
        "delta after a full-group delete folded against stale history")
      // restore the frame the remaining assertions expect
      MatView.minMax(t, keys, cols, "o_orderkey").delete(back, survivors)
      assert(rows(read()) === rows(recomputeMM(survivors)),
        "second delete (undo) diverged")
    }

    // compact: one physical row per key, result unmoved
    val want = rows(read())
    MatView.minMax(t, keys, cols, "o_orderkey").compact(spark)
    assert(rows(read()) === want, "minmax compaction moved the view")
    val perKey = spark.table(s"${t}_mm").groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n")).agg(max(col("n"))).collect()(0).getLong(0)
    assert(perKey === 1L, s"minmax compaction left $perKey rows for a key")

    // scale shape: the delete-time recompute reaches the base through a
    // BROADCAST semi join on the affected keys (key-pruned, never a
    // repartition of the base)
    val plan = survivors
      .join(org.apache.spark.sql.functions.broadcast(
        victims.select(col("o_custkey")).distinct()),
        keys, "left_semi")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"),
      s"affected-key semi join did not broadcast:\n$plan")
  }
}
