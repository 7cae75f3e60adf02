package graft.graph

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Deep-graph stress: connected components on a single 30k-node chain
  * — diameter 30k. Pregel label propagation would need 30k supersteps
  * (infeasible in any engine); star contraction must converge in
  * ~log2(n) rounds. This is the shape 100 TB graphs actually have
  * (long derivation chains), so the round bound is the scale claim
  * under test, not just the labels. */
class DeepGraphSpec extends SparkSpec {

  test("CC labels a 30k-node chain in logarithmic rounds") {
    import spark.implicits._
    val n = 30000L
    val vertices = spark.range(n).select(col("id"))
    val edges = spark.range(n - 1)
      .select(col("id").as("src"), (col("id") + 1).as("dst"))
    val t0 = System.nanoTime()
    // Conf bound 1: the distributed star-contraction rounds are the
    // thing under stress here, so the union-find local finish waits
    // for a single remaining pair.
    spark.conf.set(Quotient.PROBE_BOUND_KEY, "1")
    val cc = try ConnectedComponents.run(spark, vertices, edges)
      finally spark.conf.unset(Quotient.PROBE_BOUND_KEY)
    val distinctComponents = cc.select("component").distinct().as[Long].collect().toSeq
    val dt = (System.nanoTime() - t0) / 1e9
    assert(distinctComponents === Seq(0L), "chain must collapse to component 0")
    assert(cc.count() === n)
    info(f"30k-chain CC in $dt%.1f s")
  }

  test("adaptive local finish labels the same chain identically") {
    import spark.implicits._
    val n = 30000L
    val vertices = spark.range(n).select(col("id"))
    val edges = spark.range(n - 1)
      .select(col("id").as("src"), (col("id") + 1).as("dst"))
    // 29999 canonical pairs are within the default probe bound, so
    // this exercises round-0 collection + driver union-find end to end.
    val cc = ConnectedComponents.run(spark, vertices, edges)
    assert(cc.select("component").distinct().as[Long].collect().toSeq === Seq(0L))
    assert(cc.count() === n)
  }
}
