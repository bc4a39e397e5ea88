package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model.Tables
import graft.ops.MatView

/** The [[graft.ops.MatView]] lifecycle, table-driven over the five view
  * kinds: a streamed fold (and, for the additive kinds, a CDC batch) over
  * a catalog stopped in the middle of a compaction swap rolls the swap
  * forward and returns the one-shot answer; a rebuild starts a new
  * stream, so its bid 0 applies; a replayed bid is a no-op; an empty
  * delta writes nothing; and a view table missing beside its ledger with
  * no staged copy makes the fold refuse instead of bootstrapping. */
class ViewLifecycleSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** One kind: its view over a table root, and its base orders. */
  private case class Kind(view: String => MatView.View, orders: DataFrame)

  private def kind(name: String): Kind = {
    val o = Tables.orders(spark, sfDir)
      .withColumn("price", col("o_totalprice").cast("decimal(18,2)"))
    name match {
      case "sum" =>
        Kind(MatView.sum(_, Seq("o_custkey"), Seq("price"), "o_orderkey"), o)
      case "join" =>
        val dim = Tables.customer(spark, sfDir)
          .select(col("c_custkey"), col("c_nationkey"))
        Kind(MatView.join(_, dim, Seq("c_custkey"), Seq("c_nationkey"),
          Seq("price"), "o_orderkey"), o.withColumnRenamed("o_custkey",
          "c_custkey"))
      case "distinct" =>
        Kind(MatView.distinct(_, Seq("o_orderpriority"), "o_custkey",
          "o_orderkey"), o)
      case "min/max" =>
        Kind(MatView.minMax(_, Seq("o_custkey"), Seq("price"),
          "o_orderkey"), o)
      case "top-k" =>
        Kind(MatView.topK(_, Seq("o_orderpriority"), "price", "o_orderkey",
          3), o)
    }
  }

  private val kinds = Seq("sum", "join", "distinct", "min/max", "top-k")
  private val additive = Set("sum", "join", "distinct")

  private def database(name: String, test: String): String = {
    val db = s"graft_vl_${name.replace("/", "")}_$test".replace('-', '_')
    val wh = java.nio.file.Files.createTempDirectory(db).toFile.getAbsolutePath
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    spark.sql(s"CREATE DATABASE $db LOCATION '$wh'")
    db
  }

  private def exists(table: String) = spark.catalog.tableExists(table)

  private def answer(v: MatView.View): Seq[Seq[Any]] = {
    val df = v.read(spark)
    df.orderBy(df.columns.map(col): _*).collect().map(_.toSeq).toSeq
  }

  /** The answer of a view built in one shot over `rows`. */
  private def oneShot(k: Kind, db: String, rows: DataFrame): Seq[Seq[Any]] = {
    val v = k.view(s"$db.once")
    v.build(rows)
    answer(v)
  }

  private def odd(df: DataFrame) = df.filter(col("o_orderkey") % 2 === 1)
  private def even(df: DataFrame) = df.filter(col("o_orderkey") % 2 === 0)

  for (name <- kinds) {
    test(s"$name: a fold over a mid-swap catalog rolls the swap forward " +
        "and equals the one-shot answer") {
      val k = kind(name)
      val db = database(name, "fold")
      val v = k.view(s"$db.swap")
      v.foldBatch(0L, odd(k.orders))
      crashMidSwap(v.table, None)
      assert(!exists(v.table))
      v.foldBatch(1L, even(k.orders))
      assert(answer(v) === oneShot(k, db, k.orders),
        "the fold over a mid-swap catalog lost the standing groups")
      assert(!exists(s"${v.table}_compacting") &&
        !exists(s"${v.table}_retired"), "swap debris left behind")
      v.compact(spark)
      assert(answer(v) === oneShot(k, db, k.orders),
        "compaction after the rolled-forward fold moved the view")
    }

    if (additive(name))
      test(s"$name: a CDC batch over a mid-swap catalog rolls the swap " +
          "forward and equals the one-shot answer") {
        val k = kind(name)
        val db = database(name, "cdc")
        val v = k.view(s"$db.swap").asInstanceOf[MatView.Additive]
        val gone = odd(k.orders).filter(col("o_orderkey") % 7 === 3)
        v.build(odd(k.orders))
        crashMidSwap(v.table, None)
        v.applyCdc(0L, even(k.orders).withColumn("op", lit("I"))
          .unionByName(gone.withColumn("op", lit("D"))))
        assert(answer(v) === oneShot(k, db,
          k.orders.join(gone.select(col("o_orderkey")), Seq("o_orderkey"),
            "left_anti")),
          "the CDC batch over a mid-swap catalog diverged")
      }

    test(s"$name: a rebuild starts a new stream — its bid 0 applies") {
      val k = kind(name)
      val db = database(name, "rebuild")
      val v = k.view(s"$db.re")
      val want = oneShot(k, db, k.orders)
      for (run <- 1 to 2) withClue(s"run $run: ") {
        v.build(odd(k.orders))
        v.foldBatch(0L, even(k.orders))
        assert(answer(v) === want, "bid 0 after a rebuild was skipped")
      }
    }

    test(s"$name: a replayed bid is a no-op") {
      val k = kind(name)
      val db = database(name, "replay")
      val v = k.view(s"$db.rp")
      v.foldBatch(0L, odd(k.orders))
      v.foldBatch(1L, even(k.orders))
      val stored = (files(v.table), spark.table(v.table).count())
      val want = answer(v)
      v.foldBatch(1L, even(k.orders))
      assert((files(v.table), spark.table(v.table).count()) === stored,
        "a replayed bid wrote to the view")
      assert(answer(v) === want, "a replayed bid moved the view")
      v match {
        case a: MatView.Additive =>
          val cdc = odd(k.orders).filter(col("o_orderkey") % 7 === 3)
            .withColumn("op", lit("D"))
          a.applyCdc(2L, cdc)
          val after = answer(a)
          a.applyCdc(2L, cdc)
          assert(answer(a) === after, "a replayed CDC bid re-applied")
        case _: MatView.Recompute =>
      }
    }

    test(s"$name: an empty delta or delete writes no file and no guard " +
        "row") {
      val k = kind(name)
      val db = database(name, "empty")
      val v = k.view(s"$db.em")
      v.build(odd(k.orders))
      val tracked = Seq(v.table, s"$db.em_guard")
      def snapshot = tracked.map(t => (files(t), spark.table(t).count()))
      val before = snapshot
      val none = even(k.orders).filter(lit(false))
      v.delta(none)
      v match {
        case a: MatView.Additive => a.delete(none)
        case r: MatView.Recompute => r.delete(none, odd(k.orders))
      }
      assert(snapshot === before, "an empty batch wrote a file or a row")
    }

    test(s"$name: a view table missing beside its ledger, with no staged " +
        "copy, makes the fold refuse") {
      val k = kind(name)
      val db = database(name, "torn")
      val v = k.view(s"$db.torn")
      v.foldBatch(0L, odd(k.orders))
      spark.sql(s"DROP TABLE ${v.table}")
      val ex = intercept[IllegalArgumentException](
        v.foldBatch(1L, even(k.orders)))
      assert(ex.getMessage.contains("refusing to bootstrap"), ex.getMessage)
      assert(!exists(v.table), "the refused fold created the view")
    }
  }
}
