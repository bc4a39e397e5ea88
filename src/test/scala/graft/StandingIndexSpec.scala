package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model.Tables
import graft.ops.{DedupIndex, FuzzySearch, Multimodal, Phrase, Search, Similarity, Tombstones}

/** The [[graft.ops.StandingIndex]] lifecycle, table-driven over the
  * standing index families through their public entry points: an empty
  * delta writes nothing, a replayed idempotent batch is a no-op, deleting
  * an unknown id tombstones nothing, and on a catalog stopped in the middle
  * of a compaction swap an idempotent delta returns the pre-crash answer
  * plus the delta while a strict delta with no staged copy refuses. Each
  * crash state is built by running the swap's own steps up to the rename
  * of the live table and stopping. */
class StandingIndexSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** One family: its id column, its data tables (suffix and partition
    * column, id-complete first), its additive sidecars, a base corpus and a
    * delta of new ids, its entry points and a deterministic answer. */
  private case class Family(idCol: String,
      data: Seq[(String, Option[String])], sidecars: Seq[String],
      base: DataFrame, delta: DataFrame,
      build: (DataFrame, String) => Unit,
      strict: (String, DataFrame) => Unit,
      idempotent: (String, DataFrame) => Unit,
      delete: (String, DataFrame) => Unit,
      answer: String => Seq[Seq[Any]])

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq

  private def family(name: String): Family = {
    val docs = Tables.documents(spark, sfDir)
    val students = Tables.students(spark, sfDir)
    val emb = Tables.embeddings(spark, sfDir)
    def split(df: DataFrame, id: String) =
      (df.filter(col(id) % 5 =!= 0), df.filter(col(id) % 5 === 0))
    def ivf(codec: Similarity.Codec) = {
      val (b, d) = split(emb, "vec_id")
      Family("vec_id", Seq("_ivf" -> Some("cell")), Nil, b, d,
        Similarity.buildIvfIndex(_, _, codec), Similarity.ivfIndexDelta,
        Similarity.ivfIndexDeltaIdempotent, Similarity.ivfIndexDelete,
        t => rows(Similarity.annIvfProbeTopK(spark, t)))
    }
    name match {
      case "bm25" =>
        val (b, d) = split(docs, "doc_id")
        Family("doc_id", Seq("_postings" -> None), Seq("_stats"), b, d,
          Search.buildIndex(_, _), Search.indexDelta(_, _),
          Search.indexDeltaIdempotent(_, _), Search.indexDelete,
          t => rows(Search.bm25Indexed(spark, t)))
      case "positional" =>
        val (b, d) = split(docs, "doc_id")
        Family("doc_id", Seq("_pos" -> None), Nil, b, d,
          Phrase.buildPositional(_, _), Phrase.positionalDelta(_, _),
          Phrase.positionalDeltaIdempotent(_, _), Phrase.positionalDelete,
          t => rows(Phrase.phraseIndexedTopK(spark, t)))
      case "fuzzy" =>
        val (b, d) = split(students, "id")
        Family("id", Seq("_names" -> None, "_grams" -> Some("bucket")),
          Seq("_gramdf"), b, d,
          (df, t) => {
            FuzzySearch.buildIndex(df, t); FuzzySearch.writeGramDf(spark, t)
          },
          FuzzySearch.indexDelta, FuzzySearch.indexDeltaIdempotent,
          FuzzySearch.indexDelete,
          t => rows(FuzzySearch.topKIndexed(spark, t, "customer#000000012")))
      case "dedup" =>
        val (b, d) = split(docs, "doc_id")
        Family("doc_id", Seq("" -> None), Nil, b, d,
          DedupIndex.build(_, _), DedupIndex.delta(spark, _, _),
          DedupIndex.deltaIdempotent(spark, _, _),
          DedupIndex.indexDelete(spark, _, _),
          t => rows(DedupIndex.candidates(spark, t, docs)))
      case "ivf flat" => ivf(Similarity.Codec.Flat)
      case "ivf pq" => ivf(Similarity.Codec.Pq)
    }
  }

  private val families =
    Seq("bm25", "positional", "fuzzy", "dedup", "ivf flat", "ivf pq")

  private def database(name: String): String = {
    val db = s"graft_si_${name.replace(' ', '_')}"
    val wh = java.nio.file.Files.createTempDirectory(db).toFile.getAbsolutePath
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    spark.sql(s"CREATE DATABASE $db LOCATION '$wh'")
    db
  }

  private def exists(table: String) = spark.catalog.tableExists(table)

  for (name <- families) {
    test(s"$name: empty delta writes nothing, unknown-id delete tombstones " +
        "nothing, replayed idempotent batch is a no-op") {
      val f = family(name)
      val t = s"${database(name)}.idx"
      f.build(f.base, t)
      val tracked = (f.data.map(_._1) ++ f.sidecars :+ "_guard").map(t + _)
      def snapshot = tracked.map(x => (x, files(x), spark.table(x).count()))
      val before = snapshot
      f.strict(t, f.delta.filter(lit(false)))
      f.idempotent(t, f.delta.filter(lit(false)))
      assert(snapshot === before, "an empty delta wrote a file or a row")

      import spark.implicits._
      f.delete(t, Seq(987654321L).toDF(f.idCol))
      assert(!exists(Tombstones.sidecar(t)),
        "deleting an id the index never held appended a tombstone")

      f.idempotent(t, f.delta)
      val grown = snapshot
      f.idempotent(t, f.delta)
      assert(snapshot.map(s => (s._1, s._3)) === grown.map(s => (s._1, s._3)),
        "a replayed idempotent batch changed a table")
    }

    test(s"$name: mid-swap catalog — idempotent delta rolls forward to the " +
        "pre-crash answer plus the delta; strict delta without a staged " +
        "copy refuses") {
      val f = family(name)
      val db = database(name)
      val ref = s"$db.ref"
      f.build(f.base, ref)
      f.idempotent(ref, f.delta)
      val want = f.answer(ref)
      assert(want.nonEmpty, "fixture answer is empty")
      for ((suffix, partitionedBy) <- f.data) withClue(suffix) {
        val t = s"$db.swap${suffix.replace("_", "")}"
        f.build(f.base, t)
        crashMidSwap(t + suffix, partitionedBy)
        assert(!exists(t + suffix))
        f.idempotent(t, f.delta)
        assert(f.answer(t) === want,
          "idempotent delta over a mid-swap catalog lost standing rows")
        assert(!exists(s"$t${suffix}_compacting") &&
          !exists(s"$t${suffix}_retired"), "swap debris left behind")

        val u = s"$db.lost${suffix.replace("_", "")}"
        f.build(f.base, u)
        spark.sql(s"DROP TABLE $u$suffix")
        val ex = intercept[IllegalArgumentException](f.strict(u, f.delta))
        assert(ex.getMessage.contains("refusing to bootstrap"), ex.getMessage)
        assert(!exists(u + suffix), "the refused delta created the table")
      }
    }
  }

  test("phash: unknown-id delete tombstones nothing; compaction folds " +
      "deletes to the live view") {
    import spark.implicits._
    val t = s"${database("phash")}.ph"
    val media = Multimodal.mediaTable(Tables.documents(spark, sfDir))
    Multimodal.perceptualHash(spark, media).write.saveAsTable(t)
    Multimodal.phashDelete(spark, t, Seq(987654321L).toDF("doc_id"))
    assert(!exists(Tombstones.sidecar(t)),
      "deleting an id the table never held appended a tombstone")
    Multimodal.phashDelete(spark, t,
      spark.table(t).select(col("doc_id")).filter(col("doc_id") % 3 === 0))
    assert(exists(Tombstones.sidecar(t)))
    val live = rows(Multimodal.phashLive(spark, t).orderBy(col("doc_id")))
    Multimodal.phashCompact(spark, t)
    assert(!exists(Tombstones.sidecar(t)))
    assert(rows(spark.table(t).orderBy(col("doc_id"))) === live)
  }
}
