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
}
