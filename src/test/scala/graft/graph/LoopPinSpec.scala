package graft.graph

import org.apache.spark.sql.{DataFrame, Dataset}
import graft.SparkSpec
import graft.TestMetrics.persistent

/** Pin lifetimes of the graph loops that return a lazy chain or a
  * driver value: label propagation, connected components, the Borůvka
  * forest, the multi-root BFS and the early-exit pair queries. Once a
  * call's result is collected, the session keeps at most that result's
  * own pin — every per-round checkpoint and cached edge table is gone,
  * on both sides of the probe bound and when a round cap throws. */
class LoopPinSpec extends SparkSpec {

  private def atBound1[T](body: => T): T = {
    spark.conf.set(Quotient.PROBE_BOUND_KEY, "1")
    try body
    finally spark.conf.unset(Quotient.PROBE_BOUND_KEY)
  }

  /** A 6-cycle (0..5) and a 4-path (10..13), both orientations. */
  private def edges: DataFrame = {
    import spark.implicits._
    val und = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 0L),
      (10L, 11L), (11L, 12L), (12L, 13L))
    und.flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")
  }

  /** A 10-node path whose weights alternate 1, 2, 1, …: the first
    * Borůvka round only merges pairs, so the forest takes two rounds. */
  private def alternatingPath: DataFrame = {
    import spark.implicits._
    (0L until 9L).map(i => (i, i + 1, if (i % 2 == 0) 1L else 2L)).toDF("a", "b", "w")
  }

  /** Runs `call` and reads its result (collecting a Dataset), then
    * checks the session kept at most the result's own pin: one for a
    * Dataset, none for a driver value. Returns the result rows. */
  private def keepsOnlyResult(what: String)(call: => Any): Seq[String] = {
    val before = persistent(spark)
    val (out, allowed) = call match {
      case ds: Dataset[_] => (ds.toDF().collect().map(_.toString).sorted.toSeq, 1)
      case v => (Seq(v.toString), 0)
    }
    val grown = persistent(spark) -- before
    assert(grown.size <= allowed, s"$what kept ${grown.size} persisted RDDs")
    out
  }

  test("each moved loop keeps at most its result's pin, at the default bound and at bound 1") {
    import spark.implicits._
    val verts = (0L to 13L).toDF("id")
    val seeds = Seq((0L, 0L), (10L, 10L), (3L, 3L)).toDF("root", "node")
    val pairs = Seq((0L, 3L), (10L, 13L), (0L, 10L), (2L, 2L))
    val runs: Seq[(String, () => Any)] = Seq(
      "LabelPropagation" -> (() => LabelPropagation.run(spark, verts, edges, iters = 3)),
      "ConnectedComponents" -> (() => ConnectedComponents.run(spark, verts, edges)),
      "Mst" -> (() => Mst.run(spark, alternatingPath)),
      "Bfs.bfs" -> (() => Bfs.bfs(edges, seeds)),
      "wavePair" -> (() => Bfs.wavePair(edges, 0L, 3L)),
      "wavePairs" -> (() => Bfs.wavePairs(edges, pairs)))
    runs.foreach { case (name, run) =>
      val default = keepsOnlyResult(name)(run())
      val bound1 = atBound1(keepsOnlyResult(s"$name at bound 1")(run()))
      assert(default === bound1, s"$name answers differ across the bound")
    }
  }

  test("a round-cap throw keeps no pin (connected components and the Borůvka forest)") {
    import spark.implicits._
    val chain = (0L until 20L).map(i => (i, i + 1)).toDF("src", "dst")
    val chainVerts = (0L to 20L).toDF("id")
    val runs: Seq[(String, () => DataFrame)] = Seq(
      "ConnectedComponents" -> (() => ConnectedComponents.run(spark, chainVerts, chain, maxRounds = 1)),
      "Mst" -> (() => Mst.run(spark, alternatingPath, maxRounds = 1)))
    runs.foreach { case (name, run) =>
      val before = persistent(spark)
      val e = atBound1(intercept[IllegalStateException](run().collect()))
      assert(e.getMessage.contains("did not converge"), name)
      assert(persistent(spark) -- before === Set.empty, s"$name leaked checkpoints")
    }
  }
}
