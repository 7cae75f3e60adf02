package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed minimum spanning forest — Borůvka rounds over
  * DataFrames.
  *
  * Reference anchor: the reference's edit-graph is weighted by edit
  * deltas (main.py:109-114); the MSF is the cheapest edit skeleton
  * connecting the node set — the backbone analytics ask of a
  * weighted relation graph.
  *
  * Why Borůvka (and not Prim/Kruskal): both classical algorithms are
  * inherently sequential (a global ordered scan / one growing
  * frontier), while Borůvka does O(log n) FULLY PARALLEL rounds —
  * each round every component picks its minimum outgoing edge
  * (one partial-aggregable min per component — a groupBy, no sort),
  * and chosen edges contract via the engine's star-contraction
  * connected components. All shuffles carry (edge, component) rows;
  * nothing is ever globally sorted, nothing is collected.
  *
  * Determinism: edges are totally ordered by (w, a, b), which makes
  * effective weights distinct, the MSF unique, and the per-component
  * argmin a struct-min. The same total order drives the oracle's
  * independent cycle-property characterization (edge ∈ MSF iff its
  * endpoints are NOT connected by strictly-lighter edges), so the
  * two formulations must agree edge-for-edge.
  *
  * Input: canonical undirected weighted edges (a < b, one row per
  * edge, any orderable weight type). Output: the forest's (a, b, w).
  */
object Mst {

  /** Routed entry (round 16 — the Dispatch discipline applied to the
    * forest): the weighted edge set is
    * probed ONCE with the limit inside the collect; within the bound
    * the unique MSF closes in-process with Kruskal under the same
    * (w, a, b) total order (distinct effective weights ⇒ the MSF is
    * unique, so Kruskal and Borůvka agree edge-for-edge —
    * MstRouteSpec pins it); past the bound the distributed Borůvka
    * rounds run unchanged. The g_mst graph is nation-pair-bounded at
    * ANY fact scale, so its Borůvka tail — O(log n) rounds of joins +
    * star-contraction over ≤ |nations|² rows — was pure scheduler
    * overhead; the fact-scale work (the weighted-edge aggregation) is
    * exactly what the probe's collect executes. A null weight routes
    * to the engine (SQL min/struct-ordering semantics stay
    * authoritative for that corner). `maxRounds` caps the Borůvka
    * contraction rounds: a forest that needs R contractions runs at
    * `maxRounds = R`. */
  def run(s: SparkSession, wedges: DataFrame, maxRounds: Int = 25,
          bound: Int = -1): DataFrame = {
    val edges0 = wedges
      .select(col("a").cast("long").as("a"), col("b").cast("long").as("b"), col("w"))
    val eff = Quotient.resolve(bound, s, Quotient.probeBound)
    Quotient.probeRows(edges0, eff) match {
      case Some(rows) if rows.forall(!_.isNullAt(2)) =>
        localKruskal(s, rows, edges0.schema)
      case _ => distributed(s, edges0, maxRounds)
    }
  }

  /** In-process Kruskal over the probed rows — (w, a, b) ascending,
    * union-find, keep an edge iff it bridges two components. Output
    * schema identical to the engine's (a, b, w) projection. */
  private def localKruskal(s: SparkSession,
      rows: Array[org.apache.spark.sql.Row],
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    import scala.jdk.CollectionConverters._
    def cmpW(x: Any, y: Any): Int =
      x.asInstanceOf[Comparable[Any]].compareTo(y)
    val sorted = rows.sortWith { (r1, r2) =>
      val c = cmpW(r1.get(2), r2.get(2))
      if (c != 0) c < 0
      else if (r1.getLong(0) != r2.getLong(0)) r1.getLong(0) < r2.getLong(0)
      else r1.getLong(1) < r2.getLong(1)
    }
    val uf = new ConnectedComponents.UnionFind
    val kept = sorted.filter(r => uf.union(r.getLong(0), r.getLong(1)))
    s.createDataFrame(kept.toIndexedSeq.asJava, schema)
  }

  /** The Borůvka rounds on one [[Superstep]]. The state is the edge
    * set still crossing two components, each edge tagged with its
    * endpoints' current components (ca, cb): a contraction relabels
    * both tags and drops the edges it closed, so no per-vertex
    * component table is carried. Each round's crossing set is one
    * eager pin whose job also counts it (the halt statistic); the
    * contraction's own pins (the nested [[ConnectedComponents]] run)
    * die with the round. */
  private def distributed(s: SparkSession, edges0: DataFrame, maxRounds: Int): DataFrame =
    Superstep.run { sc =>
      import s.implicits._
      val (ec0, n0) = sc.count(edges0.filter($"a" =!= $"b")
        .select($"a", $"b", $"w", $"a".as("ca"), $"b".as("cb")))
      // (crossing edges, their count, the forest's per-round pins)
      val (_, _, forest) = sc.loop((ec0, n0, Vector.empty[DataFrame]),
          maxRounds, (st: (DataFrame, Long, Vector[DataFrame])) => s"Borůvka (${st._2} crossing edges)")(
          st => st._1 +: st._3)((st, _) => st._2 == 0L) { case ((ec, _, forest), _) =>
        // every component nominates its minimum outgoing edge under
        // the (w, a, b) total order; a component pair may nominate the
        // same edge from both sides → distinct. Unique minima under a
        // total order cannot close a cycle (a cycle of per-component
        // minima would be strictly decreasing around itself).
        val e = struct($"w", $"a", $"b", $"ca", $"cb")
        val chosen = sc.pin(ec.select($"ca".as("c"), e.as("e"))
          .union(ec.select($"cb".as("c"), e.as("e")))
          .groupBy($"c").agg(min($"e").as("e"))
          .select($"e.w".as("w"), $"e.a".as("a"), $"e.b".as("b"),
            $"e.ca".as("ca"), $"e.cb".as("cb"))
          .distinct())
        // contract: connected components of the chosen component
        // graph; every component still crossing nominated an edge, so
        // the labels cover every tag in ec
        val labels = ConnectedComponents.run(sc, s,
          chosen.select($"ca".as("id")).union(chosen.select($"cb".as("id"))).distinct(),
          chosen.select($"ca".as("src"), $"cb".as("dst")), ConnectedComponents.MaxRounds)
        val (next, n) = sc.count(ec
          .join(labels.select($"id".as("ca"), $"component".as("na")), "ca")
          .join(labels.select($"id".as("cb"), $"component".as("nb")), "cb")
          .filter($"na" =!= $"nb")
          .select($"a", $"b", $"w", $"na".as("ca"), $"nb".as("cb")))
        (next, n, forest :+ chosen)
      }
      sc.pin(forest.map(_.select($"a", $"b", $"w")).reduceOption(_ union _)
        .getOrElse(edges0.filter(lit(false)).select($"a", $"b", $"w")))
    }
}
