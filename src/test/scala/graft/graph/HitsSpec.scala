package graft.graph

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** A30 HITS hubs & authorities: closed-form examples + invariants on
  * the sf0.001 directed size-up part graph. */
class HitsSpec extends SparkSpec {

  private def directed(pairs: (Long, Long)*) = {
    import spark.implicits._
    pairs.toDF("src", "dst")
  }

  test("a single directed edge gives one pure hub and one pure authority") {
    val out = Hits.run(directed((1L, 2L)), iters = 3).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(out === Map(1L -> (1.0, 0.0), 2L -> (0.0, 1.0)))
  }

  test("a star of k spokes pointing at one hub center: center is the only hub, spokes split authority") {
    // 1→2, 1→3, 1→4: node 1 is the sole hub; 2,3,4 are equal authorities.
    val out = Hits.run(directed((1L, 2L), (1L, 3L), (1L, 4L)), iters = 4)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(out(1L)._1 === 1.0 && out(1L)._2 === 0.0)
    Seq(2L, 3L, 4L).foreach { s =>
      assert(out(s)._1 === 0.0)
      assert(math.abs(out(s)._2 - 1.0 / 3) < 1e-9, s"spoke $s authority ${out(s)._2}")
    }
  }

  test("asymmetric fan: the better-connected hub dominates after iteration") {
    // 1→{3,4,5}, 2→{3}: hub(1) > hub(2); authority(3) > authority(4)=authority(5)
    val out = Hits.run(directed((1L, 3L), (1L, 4L), (1L, 5L), (2L, 3L)), iters = 8)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(out(1L)._1 > out(2L)._1)
    assert(out(3L)._2 > out(4L)._2)
    assert(out(4L)._2 === out(5L)._2)
  }

  test("sf0.001 part graph: L1 invariants, support zeros, and multi-edge monotonicity") {
    val e = GraphBuilder.partEdgesUp(spark, sfDir).cache()
    val out = Hits.run(e, iters = 4).cache()
    // every node appearing in the edge list is present exactly once
    val n = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().count()
    assert(out.count() === n)
    assert(out.select(col("node")).distinct().count() === n)
    // both score vectors are L1-normalized (each sums to 1 ± quantization)
    val sums = out.agg(sum("hub"), sum("authority")).head()
    assert(math.abs(sums.getDouble(0) - 1.0) < 1e-6)
    assert(math.abs(sums.getDouble(1) - 1.0) < 1e-6)
    // scores live in [0,1]; sinks have zero hub, sources zero authority
    assert(out.filter(col("hub") < 0 || col("hub") > 1
      || col("authority") < 0 || col("authority") > 1).count() === 0)
    val sinks = out.join(e.select(col("src").as("node")).distinct(), Seq("node"), "left_anti")
    assert(sinks.filter(col("hub") =!= 0.0).count() === 0)
    val sources = out.join(e.select(col("dst").as("node")).distinct(), Seq("node"), "left_anti")
    assert(sources.filter(col("authority") =!= 0.0).count() === 0)
  }

  test("quotient fast path is bit-identical to the distributed loop on the size-up graph") {
    val dist = Hits.run(GraphBuilder.partEdgesUp(spark, sfDir), iters = 4)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val fast = Dispatch.hits(spark, Dispatch.partVertices(spark, sfDir), iters = 4)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(fast.keySet === dist.keySet)
    fast.foreach { case (n, (hub, auth)) =>
      assert(dist(n)._1 === hub, s"hub of $n")
      assert(dist(n)._2 === auth, s"authority of $n")
    }
  }

  test("multi-edges count multiply: doubling an edge shifts weight toward its endpoints") {
    val once = Hits.run(directed((1L, 3L), (2L, 4L)), iters = 3).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val dup = Hits.run(directed((1L, 3L), (1L, 3L), (2L, 4L)), iters = 3).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(once(1L) === once(2L)) // symmetric graph → equal hubs
    assert(dup(1L) > dup(2L)) // doubled edge → node 1 out-hubs node 2
  }
}
