package graft

import org.apache.spark.sql.functions._

/** The pipeline front door (round-11, verdict #7): import-then-query
  * must behave exactly like the verified query keys over the same
  * data — the facade adds routing and validation, never semantics. */
class PipelineDBSpec extends SparkSpec {

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("pipelinedb").toString

  test("imported tables round-trip: facade answers equal the keys over the source dir") {
    val root = freshRoot()
    val db = new PipelineDB(spark, root)
    db.importDocuments(Tables.documents(spark, sfDir))
    db.importEmbeddings(Tables.embeddings(spark, sfDir))
    // the facade runs the SAME operator over the imported copy
    val viaDb = db.dedup("exact").collect().map(_.toSeq).toSet
    val direct = SparkEntry.queries("d_exact")(spark, sfDir).collect().map(_.toSeq).toSet
    assert(viaDb === direct)
    val knnDb = db.knn("brute").collect().map(_.toSeq).toSet
    val knnDirect = SparkEntry.queries("s_knn_brute")(spark, sfDir).collect().map(_.toSeq).toSet
    assert(knnDb === knnDirect)
    assert(db.textSignals("langid").collect().map(_.toSeq).toSet ===
      SparkEntry.queries("t_langid")(spark, sfDir).collect().map(_.toSeq).toSet)
  }

  test("a re-import in the same session is seen: dedup equals a fresh session's answer") {
    val root = freshRoot()
    val db = new PipelineDB(spark, root)
    val docs = Tables.documents(spark, sfDir).orderBy(col("doc_id"))
    db.importDocuments(docs.limit(50))
    val small = db.dedup("minhash").count()
    db.importDocuments(docs.limit(500))
    val again = db.dedup("minhash").count()
    val fresh = new PipelineDB(spark.newSession(), root).dedup("minhash").count()
    assert(again === fresh)
    assert(again !== small, "the two corpora must dedup differently for this test to bite")
  }

  test("run() exposes every shipped key; unknown keys and strategies fail loudly") {
    val db = new PipelineDB(spark, freshRoot())
    assert(db.keys.size === SparkEntry.queries.size)
    assert(db.keys.contains("q1_pricing") && db.keys.contains("e_stream_window"))
    val e = intercept[IllegalArgumentException](db.run("no_such_key"))
    assert(e.getMessage.contains("unknown query key"))
    val e2 = intercept[IllegalArgumentException](db.dedup("fuzzy"))
    assert(e2.getMessage.contains("unknown dedup strategy"))
    val e3 = intercept[IllegalArgumentException](db.knn("faiss"))
    assert(e3.getMessage.contains("unknown knn method"))
  }

  test("import validates table names and required columns before anything is written") {
    import spark.implicits._
    val db = new PipelineDB(spark, freshRoot())
    val e = intercept[IllegalArgumentException](
      db.importTable("corpus", Seq((1L, "x")).toDF("doc_id", "text")))
    assert(e.getMessage.contains("unknown table"))
    val e2 = intercept[IllegalArgumentException](
      db.importDocuments(Seq((1L, "x")).toDF("doc_id", "text")))
    assert(e2.getMessage.contains("missing required column"))
  }

  test("sql() serves ANSI SQL over the imported tables") {
    val root = freshRoot()
    val db = new PipelineDB(spark, root)
    db.importDocuments(Tables.documents(spark, sfDir))
    val n = db.sql("SELECT COUNT(*) AS n FROM documents").head().getLong(0)
    assert(n === Tables.documents(spark, sfDir).count())
  }

  test("stream() replays a verified streaming surface over the imported events") {
    val root = freshRoot()
    val db = new PipelineDB(spark, root)
    db.importEvents(Tables.events(spark, sfDir))
    // facade answer ≡ the oracled key over the same rows (the replay
    // harness is deterministic: sorted-contiguous chunks, run to
    // completion)
    val viaDb = db.stream("window").collect().map(_.toSeq).toSet
    val direct = SparkEntry.queries("e_stream_window")(spark, sfDir).collect().map(_.toSeq).toSet
    assert(viaDb === direct)
    val e = intercept[IllegalArgumentException](db.stream("tumble"))
    assert(e.getMessage.contains("unknown stream surface"))
    // the facade's routing map covers EXACTLY the replay registry —
    // a round-13 replay surface cannot land without a stream() name,
    // and stream() cannot route to a non-replay key
    assert(PipelineDB.streamRoutedKeys === SparkEntry.replayBackedKeys)
    // every replay-backed key is routable through run() too
    assert(SparkEntry.replayBackedKeys.subsetOf(db.keys.toSet))
    // and every dedup/knn/text verb route lands on a real registry
    // key — a typo'd map value must fail HERE, not at user runtime
    assert(PipelineDB.verbRoutedKeys.subsetOf(SparkEntry.queries.keySet),
      s"unroutable verb keys: ${PipelineDB.verbRoutedKeys -- SparkEntry.queries.keySet}")
  }

  test("store() runs the A36 versioned lifecycle with the key's semantics") {
    import spark.implicits._
    val db = new PipelineDB(spark, freshRoot())
    val st = db.store()
    assert(st.latestVersion === 0)
    // the same write → upsert(ignore-existing) → reset-write ladder
    // g_store_diff pins against DuckDB, on a toy edge set
    def edges(rows: (Long, Long)*) = rows.toDF("src", "dst")
    val v1 = st.write(edges(1L -> 2L, 2L -> 3L, 1L -> 2L)) // dup collapses
    assert(v1 === 1 && st.readVersion(v1).count() === 2)
    val v2 = st.upsert(edges(2L -> 3L, 3L -> 4L)) // (2,3) ignored
    assert(st.readVersion(v2).count() === 3)
    val v3 = st.write(edges(3L -> 4L)) // reset semantics
    assert(st.read().count() === 1 && st.latestVersion === v3)
    val d12 = st.diff(v1, v2).collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(d12 === Set((3L, 4L, "added")))
    val d23 = st.diff(v2, v3).collect().map(r => (r.getString(2))).toList
    assert(d23.sorted === List("removed", "removed"))
  }

  test("media features need no import: the G2 seam takes any (id, payload) dataset") {
    import spark.implicits._
    val db = new PipelineDB(spark, freshRoot())
    val out = db.features(Seq(1L -> "hello world".getBytes("UTF-8")).toDS())
    assert(out.select(size(col("features"))).head().getInt(0) ===
      graft.multimodal.Decode.DIM)
  }

  /** `rows` in the shipped table's column types, `cols` only. */
  private def like(table: String, cols: Seq[String], df: org.apache.spark.sql.DataFrame) = {
    val shipped = Tables.load(spark, sfDir, table).schema
    df.toDF(cols: _*).select(cols.map(c => col(c).cast(shipped(c).dataType).as(c)): _*)
  }

  private val lineitemCols =
    Seq("l_orderkey", "l_partkey", "l_linenumber", "l_quantity", "l_extendedprice")

  test("q_upsert_dedup: a row outside the packed key's domain raises a named error") {
    import spark.implicits._
    val db = new PipelineDB(spark, freshRoot())
    db.importTable("lineitem", like("lineitem", lineitemCols,
      Seq((1L, 7L, 1, 90.0, 900.0), (1L, 7L, 2, 5.0, 50.0)).toDF()))
    val e = expectTaskFailures(intercept[Exception](db.run("q_upsert_dedup").collect()))
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
    assert(chain.exists(m => m != null && m.contains("l_quantity*100 is outside the packed key's domain")),
      e.toString)
  }

  test("q_upsert_dedup: in-range rows equal the first row by (linenumber, quantity, price)") {
    import spark.implicits._
    val rows = Seq((1L, 7L, 2, 5.0, 50.0), (1L, 7L, 1, 30.0, 300.0), (1L, 7L, 1, 20.0, 999.5),
      (2L, 3L, 4, 1.0, 10.25), (2L, 3L, 4, 1.0, 10.0), (3L, 1L, 7, 50.0, 104999.91),
      (3L, 1L, 7, 50.0, 104999.9))
    val db = new PipelineDB(spark, freshRoot())
    db.importTable("lineitem", like("lineitem", lineitemCols, rows.toDF()))
    val got = db.run("q_upsert_dedup").collect()
      .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue,
        r.getAs[Number](2).intValue, r.getAs[Number](3).doubleValue)).toSet
    val oracle = rows.groupBy(r => (r._1, r._2)).values
      .map(_.minBy(r => (r._3, r._4, r._5))).map(r => (r._1, r._2, r._3, r._4)).toSet
    assert(got === oracle)
  }

  test("t_fingerprint: duplicate doc_ids give distinct (doc_id, fp) rows through one exchange") {
    import spark.implicits._
    val t = "Winnowing keeps the minimum hash of every window of character grams, " +
      "so two copies of one document share every fingerprint."
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    def corpus(docs: Seq[(Long, String)]) = like("documents", cols,
      docs.map { case (id, x) => (id, x, "en", "web", x.length) }.toDF())
    val dup = new PipelineDB(spark, freshRoot())
    dup.importDocuments(corpus(Seq((1L, t), (1L, t), (2L, t + " dup"))))
    val unique = new PipelineDB(spark, freshRoot())
    unique.importDocuments(corpus(Seq((1L, t), (2L, t + " dup"))))
    val out = dup.textSignals("fingerprint")
    // the plan as planned, before adaptive execution re-plans it
    val plan = out.queryExecution.executedPlan.toString
    val got = out.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got.distinct.size === got.size, "duplicate (doc_id, fp) rows")
    assert(got.toSet ===
      unique.textSignals("fingerprint").collect().map(r => (r.getLong(0), r.getString(1))).toSet)
    assert(plan.linesIterator.count(l => l.contains("Exchange") && !l.contains("ReusedExchange")) === 1,
      plan)
  }
}
