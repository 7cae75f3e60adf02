package graft.graph

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, StructField, StructType}

/** Exact betweenness centrality (Brandes-style shortest-path
  * counting) for DIMENSION-BOUNDED graphs.
  *
  * Reference anchor: the reference's query surface is shortest-path
  * waves between node pairs (main.py:272-305); betweenness is the
  * standard centrality built from exactly those shortest paths —
  * which nodes the molecule-edit routes run through.
  *
  * Two stages with different execution homes:
  *
  *  1. The σ stage — per-root BFS distances AND shortest-path
  *     counts σ(root, node). ROUTED on a bounded probe (round-10,
  *     the Dispatch discipline): within the 2²⁰ bound the probe's
  *     collected edge list feeds an in-process integer sweep — at
  *     100 TB the analytics graph this runs on is a dimension
  *     (nations, categories); the fact tables only ever DERIVE its
  *     edges. Past the bound, [[sigmaDistributed]]'s root-tagged
  *     frontier loop computes the same rows distributed instead of
  *     throwing ([[sigma]]).
  *
  *  2. The pair-dependency aggregation δ_st(v) = σ_sv·σ_vt / σ_st
  *     summed over all (s, t) pairs — executed IN SPARK SQL as two
  *     self-joins over the (root, node) σ table with the engine's
  *     DECIMAL(28,12) quantize-then-exact-sum contract (the same
  *     cast class the PageRank messages use), so the doubles are
  *     bit-identical to the oracle's however the sum is ordered.
  *
  * Undirected convention: the input edge set carries both
  * orientations (the engine's graph contract); the ordered-pair sum
  * counts every unordered pair twice, so the result is halved.
  */
object Betweenness {

  /** (root, node, wave, sigma): BFS wave (root = wave 1) and number
    * of distinct shortest paths from root, for every reachable pair —
    * [[run]]'s σ stage. Within `bound` rows (the caller's, else
    * [[Quotient.probeBound]]) the probe's collected edge rows feed the
    * in-process sweep (the probe IS the collect — no second job); past
    * it, [[sigmaDistributed]] runs instead of throwing. */
  private[graph] def sigma(edges: DataFrame, bound: Int = -1): DataFrame = {
    val spark = edges.sparkSession
    Quotient.probeRows(normEdges(edges), Quotient.resolve(bound, spark, Quotient.probeBound))
      .map(sigmaSweep(spark, _))
      .getOrElse(sigmaDistributed(edges))
  }

  private def normEdges(edges: DataFrame): DataFrame =
    edges.select(col("src").cast("long"), col("dst").cast("long"))
      .filter(col("src").isNotNull && col("dst").isNotNull)

  /** The in-process σ sweep over probed edge rows. */
  private def sigmaSweep(spark: SparkSession,
                         e: Array[Row]): DataFrame = {
    import scala.collection.mutable
    import scala.jdk.CollectionConverters._
    val adj = mutable.HashMap.empty[Long, mutable.LinkedHashSet[Long]]
    e.foreach(r => adj.getOrElseUpdate(r.getLong(0), mutable.LinkedHashSet.empty) += r.getLong(1))
    val nodes = adj.keySet.toSeq.sorted
    val out = mutable.ArrayBuffer.empty[Row]
    nodes.foreach { root =>
      val wave = mutable.HashMap[Long, Long](root -> 1L)
      val sigma = mutable.HashMap[Long, Long](root -> 1L)
      var frontier = Seq(root)
      var w = 1L
      while (frontier.nonEmpty) {
        w += 1
        val next = mutable.LinkedHashSet.empty[Long]
        frontier.foreach { u =>
          adj.getOrElse(u, Nil).foreach { v =>
            // v unseen in waves < w: it joins wave w, and EVERY wave-
            // (w-1) predecessor's σ accumulates (wave is only stamped
            // after the sweep, so all same-wave discoveries land here)
            if (!wave.contains(v)) {
              next += v
              sigma.update(v, sigma.getOrElse(v, 0L) + sigma(u))
            }
          }
        }
        next.foreach(v => wave.update(v, w))
        frontier = next.toSeq
      }
      wave.foreach { case (n, wv) => out += Row(root, n, wv, sigma(n)) }
    }
    val schema = StructType(Seq(
      StructField("root", LongType), StructField("node", LongType),
      StructField("wave", LongType), StructField("sigma", LongType)))
    spark.createDataFrame(
      out.sortBy(r => (r.getLong(0), r.getLong(1))).asJava, schema)
  }

  /** DISTRIBUTED σ — the general engine behind [[run]]'s fallback
    * route (round-10: the Dispatch discipline applied to the σ stage).
    * Root-tagged frontier BFS where each newly-reached node's σ is the
    * SUM of its wave-(w−1) predecessors' σ — one co-partitioned join +
    * one partial-aggregable sum + one anti-join per wave, the [[Bfs]]
    * loop with path counting riding the aggregation. State is
    * all-pairs-sized, so the per-wave checkpoints live on DISK; the
    * [[Superstep]] driver frees each wave's predecessor.
    * Emits the same (root, node, wave, sigma) rows as the in-process
    * sweep (FallbackRoutingSpec pins the multiset). */
  private[graph] def sigmaDistributed(edges: DataFrame): DataFrame = Superstep.run { sc =>
    val lvl = Superstep.Disk
    // distinct: the in-process sweep's adjacency is a SET (a parallel
    // edge contributes one path, not two) — σ must count the same
    val e = sc.pin(normEdges(edges).distinct().repartition(col("src")), lvl, eager = false)
    val (frontier0, n0) = sc.count(e.select(col("src").as("root")).distinct()
      .select(col("root"), col("root").as("node"),
        lit(1L).as("wave"), lit(1L).as("sigma")), lvl)
    // (frontier, visited, frontier rows); waves end when no node is
    // newly reached, at most one wave per node
    val (_, visited, _) = sc.loop((frontier0, frontier0, n0), Int.MaxValue,
        (_: (DataFrame, DataFrame, Long)) => "σ frontier")(st => Seq(st._1, st._2))(
        (st, _) => st._3 == 0L) { case ((frontier, visited, _), done) =>
      val (next, n) = sc.count(frontier.join(e, frontier("node") === e("src"))
        .groupBy(frontier("root"), e("dst").as("node"))
        .agg(sum(frontier("sigma")).as("sigma"))
        .join(visited.select("root", "node"), Seq("root", "node"), "left_anti")
        .select(col("root"), col("node"), lit(done + 2L).as("wave"), col("sigma")), lvl)
      (next, sc.pin(visited.union(next), lvl), n)
    }
    visited
  }

  /** Per-node exact betweenness over a bidirectional edge set:
    * (node, btw) with zero-centrality nodes included. The σ stage is
    * ROUTED ([[sigma]]): an unstructured fact-sized graph gets the
    * measured distributed engine, not an exception. The
    * pair-dependency SQL stage downstream is shared by both routes. */
  def run(spark: SparkSession, edges: DataFrame,
          bound: Int = -1): DataFrame = {
    import spark.implicits._
    val sig = sigma(edges, bound).localCheckpoint(false)
    val sv = sig.select($"root".as("s"), $"node".as("v"),
      $"wave".as("wsv"), $"sigma".as("ssv"))
    val vt = sig.select($"root".as("t"), $"node".as("v"),
      $"wave".as("wvt"), $"sigma".as("svt"))
    val st = sig.select($"root".as("s"), $"node".as("t"),
      $"wave".as("wst"), $"sigma".as("sst"))
    val tri = sv.join(vt, "v").join(st, Seq("s", "t"))
      .filter($"s" =!= $"t" && $"v" =!= $"s" && $"v" =!= $"t" &&
        ($"wsv" - 1) + ($"wvt" - 1) === ($"wst" - 1))
      .select($"v",
        (($"ssv" * $"svt").cast("double") / $"sst".cast("double"))
          .cast(DecimalType(28, 12)).as("contrib"))
    sig.select($"root".as("node")).distinct()
      .join(tri.groupBy($"v".as("node")).agg(sum($"contrib").as("c")), Seq("node"), "left")
      .select($"node",
        round(coalesce($"c", lit(0)).cast("double") / 2.0, 6).as("btw"))
  }
}
