package graft

import org.apache.spark.sql.functions._

/** Invariant specs for the round-4 operators (A19 label propagation,
  * H8 spike detection, F14 bigram-LM scoring). Exact values are
  * verified by the DuckDB oracles; these assert the semantic
  * invariants a refactor could silently break, plus a hand-computed
  * LPA example. */
class RoundFourOpsSpec extends SparkSpec {
  import spark.implicits._

  test("LabelPropagation: hand-computed two-triangle example") {
    // two triangles {1,2,3} and {10,11,12} bridged by edge 3-10:
    // min-label mode propagation settles each triangle on its minimum
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L), (3L, 10L))
    val edges = (pairs ++ pairs.map(p => (p._2, p._1))).toDF("src", "dst")
    val vertices = (Seq(1L, 2L, 3L, 10L, 11L, 12L) :+ 99L).toDF("id") // 99 isolated
    val out = graft.graph.LabelPropagation.run(spark, vertices, edges, iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // triangle one: everyone can reach label 1 via mode/min dynamics
    assert(out(1L) === 1L && out(2L) === 1L && out(3L) === 1L)
    // triangle two: 10's neighbors {11, 12, 3} tie at one vote each in
    // round 1 → min label wins locally; by round 4 the community is
    // uniform on a label from within {1, 2, 3, 10, 11, 12}
    assert(Set(out(10L), out(11L), out(12L)).size === 1)
    // the isolated vertex keeps its own label
    assert(out(99L) === 99L)
  }

  test("LabelPropagation: a round joins by two shuffled hash joins that build the label side") {
    // the run returns its eager result pin, so PlanShapeSpec's all-keys
    // sweep sees g_labelprop and g_modularity as one checkpoint scan;
    // the plan of a round is asserted here
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 10L))
    val edges = (pairs ++ pairs.map(p => (p._2, p._1))).toDF("src", "dst")
    val vertices = Seq(1L, 2L, 3L, 10L).toDF("id")
    graft.graph.Superstep.run { sc =>
      val (e, labels0) = graft.graph.LabelPropagation.inputs(sc, vertices, edges)
      val plan = graft.graph.LabelPropagation.round(e, labels0)
        .queryExecution.executedPlan.toString
      // the shuffle_hash hints: the edges stream unsorted past the
      // vertex-sized labels, and the update joins back the same way
      assert("ShuffledHashJoin".r.findAllIn(plan).size === 2, plan)
      assert("BuildRight".r.findAllIn(plan).size === 2, plan)
      assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"), plan)
    }
  }

  test("g_labelprop: total vertex coverage; labels are existing vertex ids") {
    val lp = graft.graph.GraphPack.queries("g_labelprop")(spark, sfDir).cache()
    val parts = Tables.part(spark, sfDir).select(col("p_partkey").cast("long").as("id"))
    assert(lp.count() === parts.count())
    // every label is itself a vertex id (labels only ever copy ids)
    assert(lp.join(parts.withColumnRenamed("id", "label"), Seq("label"), "left_anti")
      .count() === 0)
    // propagation did merge communities (fewer labels than vertices)
    assert(lp.select("label").distinct().count() < lp.count())
  }

  test("PersonalizedPageRank: mass flows from seeds only; unreachable component stays 0") {
    // two disjoint triangles; seed in the first only
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L))
    val edges = (pairs ++ pairs.map(p => (p._2, p._1))).toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    val out = graft.graph.PersonalizedPageRank.run(spark, edges, seeds, iters = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out.size === 6)
    // unreachable-from-seed component gets exactly zero
    assert(out(10L) === 0.0 && out(11L) === 0.0 && out(12L) === 0.0)
    // the seed dominates its own neighborhood
    assert(out(1L) > out(2L) && out(1L) > out(3L))
    assert(out(2L) > 0.0 && out(3L) > 0.0)
    // mass conservation on a bidirectional graph with total teleport
    // 0.15: sum_i = 0.15 + 0.85 * sum_{i-1}, from sum_0 = 0.15
    val expected = (1 to 5).foldLeft(0.15)((s, _) => 0.15 + 0.85 * s)
    assert(math.abs(out.values.sum - expected) < 1e-9)
  }

  test("e_spike: per-type counts sum to event totals; flag matches the cross-multiplication") {
    val sp = graft.streaming.EventsPack.queries("e_spike")(spark, sfDir).cache()
    val evTotals = Tables.events(spark, sfDir)
      .groupBy(col("event_type")).agg(count(lit(1)).as("total"))
    val spTotals = sp.groupBy(col("event_type"))
      .agg(sum(col("n")).as("total2"), count(lit(1)).as("n_buckets"))
    assert(evTotals.join(spTotals, "event_type")
      .filter(col("total") =!= col("total2")).count() === 0)
    // flag is exactly n * n_buckets > 2 * total for the row's type
    val bad = sp.join(spTotals, "event_type")
      .filter(col("spike") =!= (col("n") * col("n_buckets") > col("total2") * 2))
    assert(bad.count() === 0)
  }

  test("t_bigram_lm: every bigram counts itself, so avg frequency >= 1; totals consistent") {
    val lm = graft.text.TextPack.queries("t_bigram_lm")(spark, sfDir).cache()
    assert(lm.count() > 0)
    assert(lm.filter(col("avg_bigram_freq") < 1.0).count() === 0)
    assert(lm.filter(col("sum_freq") < col("n_bigrams")).count() === 0)
    // avg is exactly sum/count
    assert(lm.filter(col("avg_bigram_freq") =!=
      col("sum_freq").cast("double") / col("n_bigrams").cast("double")).count() === 0)
    // docs with >= 2 tokens all appear
    val expected = Tables.documents(spark, sfDir)
      .filter(size(split(graft.text.TextOps.norm(col("text")), " ")) >= 2).count()
    assert(lm.count() === expected)
  }
}
