package graft.graph

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** A31 Resource-Allocation link prediction: closed-form examples +
  * sf0.001 invariants. */
class LinkPredictionSpec extends SparkSpec {

  private def sym(pairs: (Long, Long)*) = {
    import spark.implicits._
    val up = pairs.toDF("src", "dst")
    up.union(up.select($"dst".as("src"), $"src".as("dst")))
  }

  private def scores(edges: org.apache.spark.sql.DataFrame, k: Int = 100) =
    LinkPrediction.resourceAllocation(edges, k).collect()
      .map(r => (r.getLong(1), r.getLong(2)) -> (r.getLong(3), r.getDouble(4))).toMap

  test("path 1-2-3: the single non-adjacent pair scores 1/deg(middle)") {
    val out = scores(sym((1L, 2L), (2L, 3L)))
    assert(out === Map((1L, 3L) -> (1L, 0.5)))
  }

  test("4-cycle: both diagonals share two degree-2 witnesses, score 1.0") {
    val out = scores(sym((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)))
    assert(out === Map((1L, 3L) -> (2L, 1.0), (2L, 4L) -> (2L, 1.0)))
  }

  test("high-degree witnesses contribute less than low-degree ones") {
    // u=1,v=2 share witness 10 (deg 2: only to u,v); u=3,v=4 share
    // witness 20 which ALSO touches 5,6 (deg 4) → 1/2 > 1/4.
    val out = scores(sym((1L, 10L), (2L, 10L), (3L, 20L), (4L, 20L),
      (5L, 20L), (6L, 20L)))
    assert(out((1L, 2L))._2 === 0.5)
    assert(out((3L, 4L))._2 === 0.25)
    assert(out((1L, 2L))._2 > out((3L, 4L))._2)
  }

  test("adjacent pairs are excluded even when they share witnesses (triangle)") {
    // triangle 1-2-3: every pair is adjacent → no candidates at all
    val out = scores(sym((1L, 2L), (2L, 3L), (1L, 3L)))
    assert(out.isEmpty)
  }

  test("quotient fast path is bit-identical to the fact-level operator on the edit graph") {
    val facts = LinkPrediction.resourceAllocation(
      GraphBuilder.partEdgesWide(spark, sfDir), 100).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    val quot = Dispatch.resourceAllocation(spark,
      Dispatch.partVertices(spark, sfDir), 100).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(quot.toSeq === facts.toSeq)
  }

  test("positional-block decomposition is tau-invariant (hot path ≡ cold path) on a hot-hub graph") {
    // one celebrity witness of degree 60 (past tau=8: within-block AND
    // cross-block pairs exercise), plus low-degree structure so scores
    // differ across pairs; tau=1000 keeps every witness single-block.
    val hub = (1L to 60L).map(i => (100L + i, 1L))
    val extra = Seq((101L, 102L), (103L, 104L), (103L, 105L), (200L, 101L), (200L, 103L))
    val e = sym(hub ++ extra: _*)
    val coarse = LinkPrediction.resourceAllocation(e, 500, tau = 1000).collect().toSeq
    val fine = LinkPrediction.resourceAllocation(e, 500, tau = 8).collect().toSeq
    assert(coarse.nonEmpty)
    assert(fine === coarse, "hot-path block split must be bit-identical to the single-block path")
  }

  test("parallel edges weight wedges like the wedge join (duplicate edge = duplicate witness slot)") {
    // witness 10 connects u=1 twice (parallel) and v=2 once: the pair
    // (1,2) gets TWO wedges through deg-3 witness 10 → n_common 2.
    val out = scores(sym((1L, 10L), (1L, 10L), (2L, 10L)))
    assert(out((1L, 2L))._1 === 2L)
  }

  test("topK truncates by (score DESC, u, v) with contiguous ranks") {
    val e = GraphBuilder.partEdgesWide(spark, sfDir)
    val rows = LinkPrediction.resourceAllocation(e, 12).collect()
    assert(rows.length === 12)
    assert(rows.map(_.getLong(0)).toSeq === (1L to 12L))
    val ordered = rows.map(r => (-r.getDouble(4), r.getLong(1), r.getLong(2)))
    assert(ordered.toSeq === ordered.sorted.toSeq, "rank order must follow the total order")
    // every emitted pair is genuinely non-adjacent in the input
    import spark.implicits._
    val pairs = rows.map(r => (r.getLong(1), r.getLong(2))).toSeq.toDF("u", "v")
    val adj = e.select($"src".as("u"), $"dst".as("v"))
    assert(pairs.join(adj, Seq("u", "v"), "left_semi").count() === 0)
  }
}
