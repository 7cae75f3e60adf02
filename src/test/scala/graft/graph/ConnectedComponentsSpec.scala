package graft.graph

import graft.SparkSpec

import scala.util.Random

/** Star-contraction CC vs GraphX's Pregel CC on seeded random graphs
  * (the two implementations share only the min-id labeling contract),
  * plus the shapes Pregel is worst at: long chains and singletons. */
class ConnectedComponentsSpec extends SparkSpec {

  /** Labels at the default probe bound (the union-find local finish),
    * or with `distributed` at a conf bound of 1 (the star-contraction
    * rounds down to a single pair). */
  private def cc(nodes: Seq[Long], edges: Seq[(Long, Long)],
                 distributed: Boolean = false): Map[Long, Long] = {
    import spark.implicits._
    val v = nodes.toDF("id")
    val e =
      if (edges.isEmpty) Seq.empty[(Long, Long)].toDF("src", "dst")
      else edges.toDF("src", "dst")
    if (distributed) spark.conf.set(Quotient.PROBE_BOUND_KEY, "1")
    try ConnectedComponents.run(spark, v, e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    finally spark.conf.unset(Quotient.PROBE_BOUND_KEY)
  }

  test("matches GraphX min-id labeling on 20 seeded random graphs (both finish paths)") {
    import spark.implicits._
    val rng = new Random(4242)
    for (_ <- 1 to 20) {
      val n = 2 + rng.nextInt(30)
      val nodes = (0L until n.toLong).toVector
      val edges = nodes.combinations(2)
        .filter(_ => rng.nextInt(10) < 2)
        .map(p => (p(0), p(1))).toVector
      if (edges.nonEmpty) {
        val want = GraphXAlgos
          .connectedComponents(spark, nodes.toDF("id"), edges.toDF("src", "dst"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        // Default bound: the union-find local finish. Bound 1: the
        // distributed star-contraction rounds. Same labels.
        assert(cc(nodes, edges) === want, s"local-finish path, edges=$edges")
        assert(cc(nodes, edges, distributed = true) === want,
          s"distributed path, edges=$edges")
      }
    }
  }

  test("a 60-node chain collapses to one component rooted at 0") {
    val nodes = (0L until 60L).toVector
    val edges = nodes.sliding(2).map(p => (p(0), p(1))).toVector
    val got = cc(nodes, edges)
    assert(got.values.toSet === Set(0L))
    assert(got.keySet === nodes.toSet)
  }

  test("singletons and an empty edge set label themselves") {
    assert(cc(Seq(5L, 7L, 9L), Nil) === Map(5L -> 5L, 7L -> 7L, 9L -> 9L))
    assert(cc(Seq(1L, 2L, 3L), Seq((2L, 3L))) === Map(1L -> 1L, 2L -> 2L, 3L -> 2L))
  }
}
