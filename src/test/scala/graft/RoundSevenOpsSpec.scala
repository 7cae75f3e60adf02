package graft

import org.apache.spark.sql.functions._

/** Round-7 additions: the versioned-store diff key (A36). */
class RoundSevenOpsSpec extends SparkSpec {

  test("g_store_diff: diff steps replay the set algebra of the snapshot lifecycle") {
    import spark.implicits._
    // independent expected sets, straight from the part table (no
    // GraphStore involvement): e1 = band [1,30], merged = e1 ∪ band
    // [20,45] (upsert on a src/dst-only schema is a set union),
    // e3 = band [10,50] (reset-write)
    def band(lo: Int, hi: Int): Set[(Long, Long)] = {
      val p = Tables.part(spark, sfDir)
        .select($"p_partkey".cast("long").as("k"), $"p_brand", $"p_size")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
        .filter(t => t._3 >= lo && t._3 <= hi)
      val bySize = p.toSeq.groupBy(t => (t._2, t._3))
      val up = for {
        (key, as) <- bySize.toSeq
        bs <- bySize.get((key._1, key._2 + 1)).toSeq
        a <- as; b <- bs
      } yield (a._1, b._1)
      (up ++ up.map(_.swap)).toSet
    }
    val e1 = band(1, 30)
    val merged = e1 ++ band(20, 45)
    val e3 = band(10, 50)
    val rows = SparkEntry.queries("g_store_diff")(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)), r.getString(3)))
    val step1 = rows.filter(_._1 == 1L)
    val step2 = rows.filter(_._1 == 2L)
    assert(step1.map(_._2).toSet === (merged -- e1), "step-1 added set")
    assert(step1.forall(_._3 == "added"), "an upsert can only add")
    assert(step2.filter(_._3 == "added").map(_._2).toSet === (e3 -- merged))
    assert(step2.filter(_._3 == "removed").map(_._2).toSet === (merged -- e3))
    assert(step2.exists(_._3 == "removed"), "reset must drop edges (non-vacuous)")
    assert(rows.length === step1.length + step2.length)
  }

  test("KTruss: the quotient fast path is identical to the distributed incremental peel") {
    // the class blow-up argument, checked bit-for-bit at sf0.01 (the
    // sf0.001 graph is triangle-starved: k=4 already peels to empty,
    // which would make the check vacuous) for k values that genuinely
    // peel — the peel DYNAMICS, not just the initial supports, must
    // agree: at this scale k=4/5/6 keep 3073/811/56 of 5230 edges
    def asSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val d01 = "/root/testdata/sf0.01"
    val edges = graph.GraphBuilder.partEdgesWide(spark, d01)
    val mTotal = graph.KTruss.run(spark, edges, k = 3).count()
    var sawPartialPeel = false
    for (k <- Seq(4, 5, 6)) {
      val dist = asSet(graph.KTruss.run(spark, edges, k = k))
      val fast = asSet(graph.Dispatch.ktruss(spark,
        graph.Dispatch.partVertices(spark, d01), k = k))
      assert(fast === dist, s"quotient diverges from the distributed peel at k=$k")
      if (dist.nonEmpty && dist.size < mTotal) sawPartialPeel = true
    }
    assert(sawPartialPeel,
      "no tested k produced a non-trivial peel - the equivalence check is vacuous")
  }
}
