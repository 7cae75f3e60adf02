package graft.graph

import graft.SparkSpec

/** Specs for the Borůvka minimum spanning forest (A24). The trade-
  * graph values are cross-engine-verified by the g_mst oracle's
  * cycle-property formulation; these pin the algorithm on closed-form
  * graphs and against an independent in-JVM Kruskal on random graphs
  * (including weight ties, where the (w, a, b) total order must make
  * the forest unique).
  */
class MstSpec extends SparkSpec {
  import spark.implicits._

  /** Both routes (round 16): default bound = the in-process Kruskal
    * fast path on these tiny graphs; bound = 0 forces the distributed
    * Borůvka engine. Every closed-form/property test asserts BOTH, so
    * the routed rewrite cannot silently drop engine coverage. */
  private def mst(edges: Seq[(Long, Long, Double)]): Set[(Long, Long, Double)] = {
    val local = Mst.run(spark, edges.toDF("a", "b", "w"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val engine = Mst.run(spark, edges.toDF("a", "b", "w"), bound = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(local === engine, s"local-Kruskal route diverged from Borůvka engine on $edges")
    local
  }

  /** Reference Kruskal with the same (w, a, b) total order. */
  private def kruskal(edges: Seq[(Long, Long, Double)]): Set[(Long, Long, Double)] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      r
    }
    edges.sortBy(e => (e._3, e._1, e._2)).flatMap { case e @ (a, b, _) =>
      val (ra, rb) = (find(a), find(b))
      if (ra == rb) None else { parent(math.max(ra, rb)) = math.min(ra, rb); Some(e) }
    }.toSet
  }

  test("maxRounds counts Borůvka contractions: a two-contraction path passes at 2, throws at 1") {
    // weights alternate 1, 2, 1, …: the first contraction only merges
    // pairs, the second closes the path
    val path = (0L until 9L).map(i => (i, i + 1, if (i % 2 == 0) 1.0 else 2.0))
    val forest = Mst.run(spark, path.toDF("a", "b", "w"), maxRounds = 2, bound = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(forest === kruskal(path))
    val e = intercept[IllegalStateException](
      Mst.run(spark, path.toDF("a", "b", "w"), maxRounds = 1, bound = 0).collect())
    assert(e.getMessage === "Borůvka (4 crossing edges) did not converge within 1 rounds")
  }

  test("triangle keeps its two lightest edges") {
    val e = Seq((1L, 2L, 1.0), (2L, 3L, 2.0), (1L, 3L, 5.0))
    assert(mst(e) === Set((1L, 2L, 1.0), (2L, 3L, 2.0)))
  }

  test("disconnected input yields a spanning forest (one tree per component)") {
    val e = Seq((1L, 2L, 3.0), (2L, 3L, 1.0), (1L, 3L, 2.0), (10L, 11L, 7.0))
    assert(mst(e) === Set((2L, 3L, 1.0), (1L, 3L, 2.0), (10L, 11L, 7.0)))
  }

  test("weight ties resolve deterministically via the (w, a, b) order") {
    // square with all-equal weights: the total order keeps (1,2), (1,4), (2,3)
    val e = Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (3L, 4L, 1.0), (1L, 4L, 1.0))
    assert(mst(e) === Set((1L, 2L, 1.0), (1L, 4L, 1.0), (2L, 3L, 1.0)))
  }

  test("matches independent Kruskal on random graphs with duplicate weights") {
    val rnd = new scala.util.Random(7)
    (1 to 5).foreach { _ =>
      val n = 12
      val all = for { a <- 0L until n; b <- a + 1 until n } yield (a, b)
      val edges = rnd.shuffle(all).take(24)
        .map { case (a, b) => (a, b, (rnd.nextInt(5) + 1).toDouble) }
      val got = mst(edges)
      val want = kruskal(edges)
      assert(got === want, s"edges=$edges")
    }
  }
}
