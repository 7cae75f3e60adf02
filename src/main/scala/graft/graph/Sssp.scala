package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Bounded Bellman-Ford: minimum path weight from any seed over paths
  * of at most `maxHops` edges (the weighted companion of
  * [[Bfs.expand]] — same depth-bounded loop, accumulating exact
  * DECIMAL path weights instead of wave numbers).
  *
  * Scale shape (round 15): FRONTIER-based relaxation — each round
  * joins only the vertices whose distance IMPROVED in the previous
  * round against the (pre-partitioned, reused) edge table, then folds
  * candidates into the distance table with one partial-aggregable
  * min. The classic all-vertex round re-relaxed every settled vertex
  * every round, shuffling V+E rows per round; the frontier round
  * shuffles V + (edges out of improved vertices) — the relaxation
  * wave's own size (guide §1.2: don't recompute what cannot change).
  * Equality with the all-vertex unroll is the standard Bellman-Ford
  * invariant: a vertex whose distance did not improve in round r
  * contributes exactly the candidates it already contributed when it
  * last improved, so dropping it changes no minimum — per-round
  * distance tables are IDENTICAL, not just the fixpoint (pinned by
  * SsspFrontierSpec against the all-vertex reference).
  *
  * The improved flag rides the same aggregate as two plain decimal
  * mins (overall and incumbent-only) — `improved` is true only for a
  * STRICT improvement (or a first reach), so the frontier empties at
  * the fixpoint and later rounds are empty-input-fast, mirroring
  * Bfs.expand.
  *
  * Determinism: weights stay DECIMAL(28,2) end to end — exact,
  * order-free addition and min — so the result is bit-identical to
  * the oracle's unrolled relaxation whatever the partitioning.
  */
object Sssp {

  private val D = DecimalType(28, 2)

  /** Line-metric relaxation over the size-edit blow-up (round 16):
    * when the edge set IS the (brand, size ± δ) rule with
    * w(u, v) = |price(u) − price(v)| — [[GraphBuilder.partEdgeDeltas]]
    * by construction — a relaxation round never needs the edge set at
    * all. For a target v, min over frontier u of
    * (dist(u) + |p_u − p_v|) splits on the price order:
    *
    *   min( min_{p_u ≤ p_v}(dist_u − p_u) + p_v,
    *        min_{p_u ≥ p_v}(dist_u + p_u) − p_v )
    *
    * and both inner mins are running mins over the price-sorted
    * (brand, target-size) group — one window partition holding the
    * frontier rows (re-keyed to the sizes they relax INTO) and the
    * target vertices together. Equal prices may land in either branch
    * (both give dist_u exactly); a strict crossing never happens
    * because the frame boundary IS the price order. So a round costs
    * O(V + F) rows through one exchange + two sorts instead of the
    * O(edges out of F) join+aggregate — the guide §8 move (decide
    * with small rows): at any scale the complete-bipartite blow-up
    * edges (Σ |class|²) are never materialized, while the general
    * frontier engine shuffles them every round.
    *
    * Exactness: all arithmetic is DECIMAL — (dist − p_u) + p_v is
    * exactly dist + (p_v − p_u), the general engine's candidate — so
    * per-round distance tables are bit-identical to [[run]] over the
    * materialized rule (pinned by QuotientPropertySpec on random
    * priced class graphs, and by construction for g_sssp's inputs).
    *
    * @param parts (node, brand, size, price) — price a DECIMAL whose
    *              pairwise |Δ| is the edge weight
    * @param seeds (node) — distance-0 sources, ⊆ parts.node
    * @param deltas the size-edit rule offsets (±each), e.g. Seq(1) */
  def blowupRun(s: SparkSession, parts: DataFrame, seeds: DataFrame,
                maxHops: Int, deltas: Seq[Long] = Seq(1L)): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val P = DecimalType(18, 2)
    Superstep.run { sc =>
      val v = sc.pin(parts
        .select(col("node").cast("long").as("node"), col("brand"),
          col("size").cast("long").as("size"), col("price").cast(P).as("price")), eager = false)
      val state0 = sc.pin(v
        .join(seeds.select(col("node").cast("long").as("node")), Seq("node"), "left_semi")
        .select($"node", $"brand", $"size", $"price",
          lit(0).cast(D).as("dist"), lit(true).as("improved")), eager = false)
      val offsets = deltas.flatMap(d => Seq(d, -d)).distinct
      val state = sc.rounds(state0, maxHops)(Seq(_)) { (state, _) =>
        val front = state.filter($"improved")
        // frontier rows re-keyed to every size they relax INTO; kind 0
        // sorts sources before targets at equal price so both running
        // mins see the boundary-price sources
        val sources = offsets.map { d =>
          front.select($"brand", ($"size" + d).as("tsize"), $"price",
            lit(null).cast("long").as("node"),
            ($"dist" - $"price").as("a"), ($"dist" + $"price").as("b"),
            lit(0).as("kind"))
        }.reduce(_ union _)
        val targets = v.select($"brand", $"size".as("tsize"), $"price", $"node",
          lit(null).cast(DecimalType(29, 2)).as("a"),
          lit(null).cast(DecimalType(29, 2)).as("b"), lit(1).as("kind"))
        val wAsc = Window.partitionBy($"brand", $"tsize")
          .orderBy($"price".asc, $"kind".asc)
          .rowsBetween(Window.unboundedPreceding, 0)
        val wDesc = Window.partitionBy($"brand", $"tsize")
          .orderBy($"price".desc, $"kind".asc)
          .rowsBetween(Window.unboundedPreceding, 0)
        val cand = sources.union(targets)
          .withColumn("mUp", min($"a").over(wAsc))
          .withColumn("mDn", min($"b").over(wDesc))
          .filter($"kind" === 1)
          .select($"node", $"brand".as("cb"), $"tsize".as("cs"), $"price".as("cp"),
            least($"mUp" + $"price", $"mDn" - $"price").cast(D).as("cdist"))
          .filter($"cdist".isNotNull)
        // vertex-scale merge: both sides keyed uniquely by node, so the
        // fold is a join, not an aggregate — no string min/max buffers
        // to demote anything to SortAggregate
        sc.pin(state.select($"node", $"brand", $"size", $"price", $"dist")
          .join(cand, Seq("node"), "full_outer")
          .select($"node",
            coalesce($"brand", $"cb").as("brand"),
            coalesce($"size", $"cs").as("size"),
            coalesce($"price", $"cp").as("price"),
            least($"dist", $"cdist").cast(D).as("ndist"),
            ($"dist".isNull || ($"cdist".isNotNull && $"cdist" < $"dist")).as("improved"))
          .withColumnRenamed("ndist", "dist"), eager = false)
      }
      sc.pin(state.select($"node", $"dist".cast("double").as("dist")))
    }
  }

  /** @param edges (src, dst, w) with w a non-negative DECIMAL weight
    * @param seeds (node) — distance 0 sources */
  def run(s: SparkSession, edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    import s.implicits._
    Superstep.run { sc =>
      val e = sc.persist(edges
        .select(col("src"), col("dst"), col("w").cast(D).as("w"))
        .repartition(col("src")), Superstep.Memory)
      val dist0 = sc.pin(seeds.select(col("node"), lit(0).cast(D).as("dist")), eager = false)
      // (dist, frontier): both read one lazy checkpoint per hop
      val (dist, _) = sc.rounds((dist0, dist0), maxHops)(st => Seq(st._1, st._2)) {
        case ((dist, frontier), _) =>
          // Lazy checkpoints: the loop runs no actions, so all rounds
          // execute inside the final pin's job with lineage still
          // severed per round (the frontier side is left for AQE to
          // broadcast at runtime). The non-eager checkpoint also makes
          // the two consumers of `merged` (dist chain + frontier chain)
          // share one evaluation via its cached blocks.
          val relaxed = frontier.join(e, frontier("node") === e("src"))
            .select(e("dst").as("node"),
              (frontier("dist") + e("w")).cast(D).as("dist"), lit(0).as("tag"))
          // two plain decimal mins (both hash-aggregable — a min over a
          // (dist, tag) STRUCT has an immutable buffer and would demote
          // the whole merge to SortAggregate): `dist` is the new minimum
          // over incumbent+candidates, `incumbent` the old one; improved
          // = strictly better than the incumbent, or first reach.
          val merged = sc.pin(dist.withColumn("tag", lit(1)).union(relaxed)
            .groupBy($"node").agg(min($"dist").as("dist"),
              min(when($"tag" === 1, $"dist")).as("incumbent"))
            .select($"node", $"dist",
              ($"incumbent".isNull || $"dist" < $"incumbent").as("improved")), eager = false)
          (merged.select($"node", $"dist"), merged.filter($"improved").select($"node", $"dist"))
      }
      sc.pin(dist.select($"node", $"dist".cast("double").as("dist")))
    }
  }
}
