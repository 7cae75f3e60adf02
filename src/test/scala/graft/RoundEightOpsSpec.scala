package graft

import org.apache.spark.sql.functions._

/** Round-8 additions: the Luby-MIS quotient fast path (A29) and the
  * real image-header decoder branch (G2). */
class RoundEightOpsSpec extends SparkSpec {

  test("MIS: the quotient fast path is identical to the edge-set Luby loop (mis_round included)") {
    import spark.implicits._
    // bit-identity on BOTH shipped scales — the whole (node, in_mis,
    // mis_round) row set, not just the member set: the quotient path
    // must replay every round, not merely land on some valid MIS
    def asSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Boolean, Option[Long])] =
      df.collect().map(r => (r.getLong(0), r.getBoolean(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    for (d <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val dist = asSet(graph.Mis.run(spark,
        Tables.part(spark, d).select($"p_partkey".as("id")),
        graph.GraphBuilder.partEdgesWide(spark, d)))
      val fast = asSet(graph.Dispatch.mis(spark, graph.Dispatch.partVertices(spark, d)))
      assert(fast === dist, s"quotient diverges from the edge-set loop at $d")
      // non-vacuous: a real MIS on this graph has members AND
      // non-members, and takes more than one round
      assert(fast.exists(_._2) && fast.exists(!_._2), s"degenerate MIS at $d")
      assert(fast.flatMap(_._3).max > 1L, s"single-round MIS at $d — dynamics unexercised")
    }
  }

  test("node-Jaccard: the quotient stamp is identical to the positional-block engine") {
    def asSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    for (d <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val dist = asSet(graph.NodeSimilarity.jaccard(spark,
        graph.GraphBuilder.partEdgesWide(spark, d)))
      val fast = asSet(graph.Dispatch.jaccard(spark, graph.Dispatch.partVertices(spark, d)))
      assert(fast === dist, s"quotient diverges from the block engine at $d")
      assert(fast.exists(_._4 < 1.0) && fast.exists(_._4 == 1.0),
        s"degenerate Jaccard spectrum at $d — equivalence under-exercised")
    }
  }

  test("PPR: the refined quotient is identical to the distributed loop") {
    import spark.implicits._
    def asMap(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
      df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    for (d <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val seeds = Tables.part(spark, d).filter($"p_partkey" % 100 === 0)
        .select($"p_partkey".as("node"))
      val dist = asMap(graph.PersonalizedPageRank.run(spark,
        graph.GraphBuilder.partEdges(spark, d), seeds, 6))
      val fast = asMap(graph.Dispatch.ppr(spark, graph.Dispatch.partVertices(spark, d)
        .withColumn("is_seed", $"node" % 100 === 0), 6))
      assert(fast.keySet === dist.keySet, s"node sets diverge at $d")
      fast.foreach { case (n, r) => assert(dist(n) === r, s"rank of $n at $d") }
      // non-vacuity lives at sf0.01: at sf0.001 no seed class touches
      // an edge (45 sources, all ranks exactly 0 on BOTH paths — the
      // data, not the engines), so the rich-spectrum check there
      // would assert on the corpus, not the code
      if (d.endsWith("sf0.01"))
        assert(fast.values.toSet.size > 100 && fast.values.exists(_ > 0),
          s"degenerate rank spectrum at $d")
    }
  }

  test("ANF: the class-ball quotient is identical to propagation + exact wedge ball") {
    import spark.implicits._
    // the (node, ball2, EST, anf_ok) row set — est is a pure function
    // of the HLL registers, so est equality pins the claimed
    // bit-identical register merge, not just the anf_ok booleans;
    // both sides come from the single-sourced compositions in Anf
    def asSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double, Boolean)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3))).toSet
    for (d <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val ref = asSet(graph.Anf.propagationReference(spark,
        graph.GraphBuilder.partEdges(spark, d),
        graph.GraphPack.ANF_SAMPLE, graph.GraphPack.ANF_TOL))
      val parts = graph.Dispatch.partVertices(spark, d)
      val fast = asSet(graph.Anf.quotientBlowup(spark, graph.Dispatch.probe(parts).get,
        parts, graph.GraphPack.ANF_SAMPLE, graph.GraphPack.ANF_TOL))
      assert(fast === ref, s"ANF quotient diverges at $d (est compared bit-for-bit)")
      assert(fast.nonEmpty && fast.forall(_._4), s"anf_ok must hold everywhere at $d")
      // non-vacuous register check at the richer SF: estimates take
      // many distinct values (sf0.001's %16 sample has just one)
      if (d.endsWith("sf0.01"))
        assert(fast.map(_._3).size > 5, s"degenerate est spectrum at $d")
    }
  }
}
