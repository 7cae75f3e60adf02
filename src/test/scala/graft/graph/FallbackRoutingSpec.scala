package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Round-10 routing contract for the operators that still
  * `require()`-THREW past their domain bound after round 9's Dispatch
  * work: the all-pairs BFS spine (A10/A22), betweenness σ (A23), DAG
  * depth (A29) and bridge detection (A33). The DispatchSpec discipline
  * applied to each:
  *
  *   1. ROUTING AGREEMENT — on the same in-contract graph, the
  *      default-bound route (in-process fast path) and a
  *      forced-fallback route (injected bound of 1 → distributed
  *      general engine) produce BIT-IDENTICAL result multisets.
  *      This subsumes "the fallback still answers".
  *   2. SEMANTIC ANCHOR — the fallback's answer is checked against
  *      hand-derivable structure, so the two routes can't agree by
  *      both being wrong in the same way.
  */
class FallbackRoutingSpec extends SparkSpec {

  /** MULTISET of rows — DispatchSpec's comparator. */
  private def asRows(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap

  private def assertRoutesAgree(fast: DataFrame, fallback: DataFrame,
                                what: String): Unit = {
    assert(fast.schema.fieldNames.toSeq === fallback.schema.fieldNames.toSeq,
      s"$what: route schemas diverge")
    assert(asRows(fast) === asRows(fallback), s"$what: routes diverge")
  }

  /** Two components: a 5-cycle (1..5) and a 3-path (10-11-12), plus a
    * parallel edge on (1,2) to exercise the set-semantics contract.
    * Bidirectional. */
  private def testEdges: DataFrame = {
    import spark.implicits._
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 1L))
    val path = Seq((10L, 11L), (11L, 12L))
    val dup = Seq((1L, 2L))
    (cyc ++ path ++ dup).flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .toDF("src", "dst")
  }

  test("bfsAuto: in-process and distributed routes emit identical wave multisets") {
    import spark.implicits._
    val edges = testEdges
    val seeds = edges.select($"src".as("node")).distinct()
      .select($"node".as("root"), $"node")
    val fast = Bfs.bfsAuto(edges, seeds)
    val fallback = Bfs.bfsAuto(edges, seeds, bound = 1)
    assertRoutesAgree(fast, fallback, "bfsAuto")
    // anchor: within the 5-cycle every pair is ≤ 2 hops (wave ≤ 3);
    // components never mix; the path's far pair is wave 3
    val waves = fallback.as[(Long, Long, Long)].collect()
    assert(waves.count(w => w._1 <= 5 && w._2 <= 5) === 25)
    assert(waves.filter(w => w._1 <= 5).forall(w => w._2 <= 5 && w._3 <= 3L))
    assert(waves.find(w => w._1 == 10L && w._2 == 12L).map(_._3) === Some(3L))
  }

  test("betweenness: σ routes agree and the composed centrality is route-invariant") {
    val edges = testEdges
    assertRoutesAgree(
      Betweenness.sigma(edges),
      Betweenness.sigmaDistributed(edges),
      "sigma")
    val fast = Betweenness.run(spark, edges)
    val fallback = Betweenness.run(spark, edges, bound = 1)
    assertRoutesAgree(fast, fallback, "betweenness")
    // anchor: a 5-cycle is vertex-transitive (all btw equal); the
    // 3-path's middle node carries its only dependency
    val btw = fallback.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert((1L to 5L).map(btw).distinct.length === 1)
    assert(btw(11L) === 1.0)
    assert(btw(10L) === 0.0 && btw(12L) === 0.0)
  }

  test("dag depth: driver DP and distributed relaxation agree, unstructured domain answers") {
    import spark.implicits._
    // brand A: sizes 1,2,4,7 → 1→2 (+1), 2→4 (+2), 4 and 7 unlinked
    //   depths: 1:0, 2:1, 4:2, 7:0
    // brand B: sizes 3,4,5 → chain by +1 AND +2 chords
    //   depths: 3:0, 4:1, 5:2
    val parts = Seq(
      (1L, "A", 1), (2L, "A", 2), (3L, "A", 4), (4L, "A", 7),
      (5L, "B", 3), (6L, "B", 4), (7L, "B", 5), (8L, "B", 5)
    ).toDF("part", "brand", "size")
    val fast = DagDepth.depthOf(spark, parts)
    val fallback = DagDepth.depthOf(spark, parts, bound = 1)
    assertRoutesAgree(fast, fallback, "dagDepth")
    val d = fallback.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 0L,
      5L -> 0L, 6L -> 1L, 7L -> 2L, 8L -> 2L))
  }

  test("dag depth: both routes refuse a chain past the declared bound, loudly") {
    import spark.implicits._
    // a +1 chain of 61 classes → depth 60 > 59 on both routes
    val deep = (1 to 61).map(i => (i.toLong, "Z", i)).toDF("part", "brand", "size")
    val e1 = intercept[IllegalArgumentException] {
      DagDepth.depthOf(spark, deep).collect()
    }
    assert(e1.getMessage.contains("declared bound"))
    val e2 = intercept[Exception] {
      DagDepth.depthOf(spark, deep, bound = 1).collect()
    }
    assert(e2.getMessage.contains("declared bound") ||
      e2.getMessage.contains("did not converge"))
  }

  test("bridges: Tarjan and the distributed deletion-flood agree") {
    import spark.implicits._
    // brand A sizes 1,2,3: triangle (1-2, 2-3, 1-3) → no bridges
    // brand B sizes 1,2,4,5: path 1-2, 2-4, 4-5 → all three bridges
    // brand C sizes 1..4: edges (1,2),(2,3),(3,4),(1,3),(2,4) →
    //   2-edge-connected core {1,2,3,4} minus... every edge on a cycle
    val classes = (Seq((("A": String), 1L), ("A", 2L), ("A", 3L)) ++
      Seq(("B", 1L), ("B", 2L), ("B", 4L), ("B", 5L)) ++
      Seq(("C", 1L), ("C", 2L), ("C", 3L), ("C", 4L)))
      .toDF("brand", "size")
    val fast = Bridges.classBridgesOf(spark, classes)
    val fallback = Bridges.classBridgesOf(spark, classes, bound = 1)
    assertRoutesAgree(fast, fallback, "bridges")
    val br = fallback.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)) -> r.getBoolean(3)).toMap
    assert(br(("A", 1L, 2L)) === false && br(("A", 2L, 3L)) === false &&
      br(("A", 1L, 3L)) === false)
    assert(br(("B", 1L, 2L)) === true && br(("B", 2L, 4L)) === true &&
      br(("B", 4L, 5L)) === true)
    assert(br.filterKeys(_._1 == "C").values.forall(_ === false))
  }

  test("eccentricity shape survives the fallback route (A22 rides bfsAuto)") {
    import spark.implicits._
    val edges = testEdges
    val seeds = edges.select($"src".as("node")).distinct()
      .select($"node".as("root"), $"node")
    def ecc(bound: Int) = Bfs.bfsAuto(edges, seeds, bound = bound)
      .groupBy($"root".as("node"))
      .agg((max($"wave") - 1L).as("ecc"), count(lit(1)).as("n_reachable"))
    assertRoutesAgree(ecc(1 << 20), ecc(1), "eccentricity")
    val e = ecc(1).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 5L).forall(n => e(n) === 2L)) // 5-cycle ecc = 2
    assert(e(11L) === 1L && e(10L) === 2L && e(12L) === 2L)
  }

  test("pagerank: past a conf bound of 1 equals the in-process route") {
    val edges = testEdges
    val fast = PageRank.run(edges, 5, bidirectional = true)
    spark.conf.set(Quotient.PROBE_BOUND_KEY, "1")
    val fallback =
      try PageRank.run(edges, 5, bidirectional = true).localCheckpoint()
      finally spark.conf.unset(Quotient.PROBE_BOUND_KEY)
    assertRoutesAgree(fast, fallback, "pagerank")
    // anchor: the 3-path's ends are symmetric and rank below its middle
    val pr = fallback.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pr.size === 8)
    assert(pr(10L) === pr(12L) && pr(11L) > pr(10L))
  }
}
