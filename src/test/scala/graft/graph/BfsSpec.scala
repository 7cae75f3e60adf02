package graft.graph

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Wave semantics of the frontier-join BFS / expansion against the
  * reference's contract (query(): source found at wave 1, target wave
  * = BFS layer + 1, main.py:272-305; add_relations: depth-bounded,
  * first-seen wins, main.py:212-242). */
class BfsSpec extends SparkSpec {

  private def edgesDf(pairs: (Long, Long)*) = {
    import spark.implicits._
    val both = pairs ++ pairs.map(p => (p._2, p._1))
    both.toDF("src", "dst")
  }

  test("bfs waves on a path: source=1, each hop +1") {
    import spark.implicits._
    val e = edgesDf((1L, 2L), (2L, 3L), (3L, 4L))
    val seeds = Seq((1L, 1L)).toDF("root", "node")
    val got = Bfs.bfs(e, seeds).as[(Long, Long, Long)].collect().toSet
    assert(got === Set((1L, 1L, 1L), (1L, 2L, 2L), (1L, 3L, 3L), (1L, 4L, 4L)))
  }

  test("bfs takes the shortest of multiple paths") {
    import spark.implicits._
    // 1-2-3-4 plus shortcut 1-4
    val e = edgesDf((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L))
    val seeds = Seq((1L, 1L)).toDF("root", "node")
    val got = Bfs.bfs(e, seeds).as[(Long, Long, Long)].collect()
      .map { case (_, n, w) => n -> w }.toMap
    assert(got(4L) === 2L)
    assert(got(3L) === 3L)
  }

  test("unreachable nodes are absent from bfs output") {
    import spark.implicits._
    val e = edgesDf((1L, 2L), (5L, 6L))
    val seeds = Seq((1L, 1L)).toDF("root", "node")
    val got = Bfs.bfs(e, seeds).select("node").as[Long].collect().toSet
    assert(got === Set(1L, 2L))
  }

  test("bfsAuto matches distributed bfs on seeded random multi-root graphs") {
    import spark.implicits._
    val rng = new scala.util.Random(1717)
    for (_ <- 1 to 10) {
      val n = 3 + rng.nextInt(20)
      val pairs = (0L until n.toLong).combinations(2)
        .filter(_ => rng.nextInt(10) < 3).map(p => (p(0), p(1))).toSeq
      if (pairs.nonEmpty) {
        val e = edgesDf(pairs: _*)
        val roots = (0L until n.toLong).filter(_ => rng.nextBoolean())
        if (roots.nonEmpty) {
          val seeds = roots.map(r => (r, r)).toDF("root", "node")
          val want = Bfs.bfs(e, seeds).as[(Long, Long, Long)].collect().toSet
          // the in-process sweep (default bound) and the distributed
          // route (bound 1)
          for (bound <- Seq(-1, 1)) {
            val got = Bfs.bfsAuto(e, seeds, bound = bound).as[(Long, Long, Long)].collect().toSet
            assert(got === want, s"bound=$bound pairs=$pairs roots=$roots")
          }
        }
      }
    }
  }

  test("duplicate seed rows yield one wave row in both bfs paths") {
    import spark.implicits._
    val e = edgesDf((1L, 2L))
    val seeds = Seq((1L, 1L), (1L, 1L)).toDF("root", "node")
    val want = Set((1L, 1L, 1L), (1L, 2L, 2L))
    assert(Bfs.bfs(e, seeds).as[(Long, Long, Long)].collect().toSeq.sorted
      === want.toSeq.sorted)
    for (bound <- Seq(-1, 1))
      assert(Bfs.bfsAuto(e, seeds, bound = bound).as[(Long, Long, Long)].collect().toSeq.sorted
        === want.toSeq.sorted, s"bound=$bound")
  }

  test("wavePairs matches sequential wavePair on every probe class") {
    // two components: 1-2-3-4-5 and 10-11; probes cover src==dst,
    // adjacent, multi-hop, cross-component unreachable, off-graph,
    // and two probes sharing one root
    val e = edgesDf((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
    val probes = Seq((1L, 1L), (1L, 2L), (1L, 5L), (1L, 10L), (99L, 1L),
      (3L, 5L), (3L, 10L))
    val sequential = probes.map { case (a, b) => Bfs.wavePair(e, a, b, bound = 1) }
    // both routes of the batch: in-process (default bound) and the
    // shared distributed traversal (bound 1)
    for (bound <- Seq(-1, 1)) {
      val batched = Bfs.wavePairs(e, probes, bound = bound)
      probes.zip(batched).zip(sequential).foreach { case (((a, b), (ga, gb, wave)), want) =>
        assert((ga, gb) === ((a, b)))
        assert(wave === want, s"bound=$bound probe ($a, $b)")
        assert(Bfs.wavePair(e, a, b) === want, s"in-process probe ($a, $b)")
      }
    }
  }

  test("wavePairs preserves input order including duplicate probes") {
    val e = edgesDf((1L, 2L))
    val probes = Seq((1L, 2L), (1L, 2L), (2L, 1L))
    for (bound <- Seq(-1, 1))
      assert(Bfs.wavePairs(e, probes, bound = bound) ===
        Seq((1L, 2L, 2L), (1L, 2L, 2L), (2L, 1L, 2L)), s"bound=$bound")
  }

  test("expand is depth-bounded and first-seen wins") {
    import spark.implicits._
    val e = edgesDf((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val seeds = Seq(1L).toDF("node")
    val got = Bfs.expand(e, seeds, depth = 2).as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
  }
}
