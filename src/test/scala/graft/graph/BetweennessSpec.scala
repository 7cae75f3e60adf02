package graft.graph

import graft.SparkSpec

/** Hand-computed betweenness examples (A23). The trade-graph values
  * are verified cross-engine by the g_betweenness DuckDB oracle;
  * these pin the algorithm itself on graphs where the answer is
  * known in closed form, including the σ path-counting the oracle
  * shares.
  */
class BetweennessSpec extends SparkSpec {
  import spark.implicits._

  private def bidir(pairs: Seq[(Long, Long)]) =
    (pairs ++ pairs.map(p => (p._2, p._1))).toDF("src", "dst")

  private def btwMap(pairs: Seq[(Long, Long)]): Map[Long, Double] =
    Betweenness.run(spark, bidir(pairs))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  test("path graph P4: inner nodes carry 2.0, endpoints 0") {
    val b = btwMap(Seq((1L, 2L), (2L, 3L), (3L, 4L)))
    assert(b === Map(1L -> 0.0, 2L -> 2.0, 3L -> 2.0, 4L -> 0.0))
  }

  test("star K1,3: center carries every pair, leaves none") {
    val b = btwMap(Seq((0L, 1L), (0L, 2L), (0L, 3L)))
    assert(b === Map(0L -> 3.0, 1L -> 0.0, 2L -> 0.0, 3L -> 0.0))
  }

  test("4-cycle: two equal shortest paths split the dependency 0.5 each") {
    val b = btwMap(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)))
    assert(b === Map(1L -> 0.5, 2L -> 0.5, 3L -> 0.5, 4L -> 0.5))
  }

  test("disconnected components contribute nothing across the cut") {
    val b = btwMap(Seq((1L, 2L), (2L, 3L), (10L, 11L)))
    assert(b === Map(1L -> 0.0, 2L -> 1.0, 3L -> 0.0, 10L -> 0.0, 11L -> 0.0))
  }

  test("σ counts shortest paths exactly (diamond)") {
    // 1-2, 1-3, 2-4, 3-4: two shortest 1→4 paths
    val sig = Betweenness.sigma(bidir(Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L))))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(sig((1L, 4L)) === ((3L, 2L))) // wave 3, two paths
    assert(sig((1L, 2L)) === ((2L, 1L)))
    assert(sig((1L, 1L)) === ((1L, 1L)))
  }
}
