package graft.graph

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** A12 k-core peeling: hand-computed examples + the sf0.001 cascade. */
class KCoreSpec extends SparkSpec {

  private def edgesOf(pairs: (Long, Long)*) = {
    import spark.implicits._
    val up = pairs.toDF("src", "dst")
    up.union(up.select($"dst".as("src"), $"src".as("dst")))
  }

  test("2-core of a triangle with a pendant chain keeps exactly the triangle") {
    // 1-2-3 triangle; chain 3-4-5 hangs off it. Peeling k=2 removes 5
    // (deg 1), then 4 (deg 1 after 5 left) — a 2-round cascade.
    val e = edgesOf((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
    val core = KCore.run(spark, e, k = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core === Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("2-core of a pure path is empty (full cascade)") {
    val e = edgesOf((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    assert(KCore.run(spark, e, k = 2).count() === 0)
  }

  test("k-core of a clique is the whole clique at k = n-1") {
    val nodes = (1L to 5L)
    val pairs = for (a <- nodes; b <- nodes if a < b) yield (a, b)
    val core = KCore.run(spark, edgesOf(pairs.toSeq: _*), k = 4)
    assert(core.count() === 5)
    assert(core.filter(col("core_degree") =!= 4L).count() === 0)
  }

  test("directed input: pure-sink edges are pruned regardless of bulk/delta scheduling") {
    import spark.implicits._
    // 5-clique (every vertex out-degree 4 ≥ k) plus one directed edge
    // from vertex 1 to a pure sink 99 (never appears as src). The
    // sink carries no degree row, so no doomed set can ever name it —
    // a delta-only schedule used to keep deg(1) at 5 forever (review
    // pass: round 1 now subtracts sink losses once). Here nothing is
    // doomed in round 1, exactly the schedule that used to skip the
    // prune: the result must still report deg(1) = 4, the clique
    // degree, not 5.
    val nodes = (1L to 5L)
    val clique = for (a <- nodes; b <- nodes if a < b) yield (a, b)
    val e = edgesOf(clique.toSeq: _*).union(Seq((1L, 99L)).toDF("src", "dst"))
    val core = KCore.run(spark, e, k = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core === Map(1L -> 4L, 2L -> 4L, 3L -> 4L, 4L -> 4L, 5L -> 4L))
    // and with k above the clique degree the whole graph cascades out
    assert(KCore.run(spark, e, k = 5).count() === 0)
  }

  test("directed input: a sink CREATED by a bulk rewrite still cascades (true core empty)") {
    import spark.implicits._
    // Second review pass's repro: d1<->d2 (both doomed at k=2, so
    // round 1 is a BULK rewrite), v->d1, v->d2 (v loses every
    // out-edge in that rewrite and becomes a NEW sink while x->v and
    // a->v survive), x->a, a->x, x->v, a->v. If the bulk round
    // silently dropped v from the degree table, deg(x)=deg(a)=2
    // would hold forever and the loop would converge on a WRONG
    // non-empty core; keeping v as an explicit deg=0 row dooms it
    // next round, its in-edges are subtracted, and the whole graph
    // cascades out — the true 2-core is empty.
    val e = Seq(
      (10L, 20L), (20L, 10L), // d1 <-> d2
      (1L, 10L), (1L, 20L), // v -> d1, v -> d2
      (2L, 3L), (3L, 2L), // x <-> a
      (2L, 1L), (3L, 1L) // x -> v, a -> v
    ).toDF("src", "dst")
    assert(KCore.run(spark, e, k = 2).count() === 0)
    val e2 = intercept[IllegalArgumentException](KCore.run(spark, e, k = 0))
    assert(e2.getMessage.contains("k >= 1"))
  }

  test("plan-level instability (Sample, un-ordered limit) is pinned eagerly (round-15 advice)") {
    import spark.implicits._
    // a limit without a total order may legally return DIFFERENT rows
    // per evaluation — the lazy-pin path would evaluate the edge plan
    // up to three times and could build a degree table inconsistent
    // with later scans. Both inputs must be checkpointed up front
    // (observable: the analyzed plan of a pinned run starts from a
    // LogicalRDD scan, and the result is a valid fixpoint core).
    val nodes = (1L to 6L)
    val pairs = for (a <- nodes; b <- nodes if a < b) yield (a, b)
    val base = edgesOf(pairs.toSeq: _*)
    // at the default bound the pinned edges are peeled in-process; at
    // bound 1 by the distributed rounds
    for (bound <- Seq(None, Some("1"));
         unstable <- Seq(base.limit(30), base.sample(withReplacement = false, 0.9, seed = 7))) {
      bound.foreach(spark.conf.set(Quotient.PROBE_BOUND_KEY, _))
      val core = try KCore.run(spark, unstable, k = 1).cache()
        finally spark.conf.unset(Quotient.PROBE_BOUND_KEY)
      // whatever rows the ONE pinned evaluation drew, the output must
      // be an internally consistent core: non-empty here (k=1 on a
      // dense clique subset) with every reported degree ≥ k — an
      // unpinned run mixing rows from different draws can violate this
      assert(core.filter(col("core_degree") < 1L).count() === 0)
      assert(core.count() > 0)
    }
  }

  test("core degrees never fall below k and the core is an induced-subgraph fixpoint") {
    val core = KCore.run(spark, GraphBuilder.partEdgesWide(spark, sfDir), k = 2).cache()
    assert(core.filter(col("core_degree") < 2L).count() === 0)
    // re-peeling the core's induced subgraph changes nothing
    val coreNodes = core.select(col("node"))
    val induced = GraphBuilder.partEdgesWide(spark, sfDir)
      .join(coreNodes.select(col("node").as("src")), Seq("src"), "left_semi")
      .join(coreNodes.select(col("node").as("dst")), Seq("dst"), "left_semi")
    val again = KCore.run(spark, induced, k = 2)
    assert(again.exceptAll(core).count() === 0)
    assert(core.exceptAll(again).count() === 0)
  }
}
