package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bridge (cut-edge) detection over the DIMENSION-BOUNDED class
  * graph — A29's quotient pattern applied to 2-edge-connectivity:
  * whether an edit-graph edge is a single point of failure is a pure
  * function of the (brand, size) CLASS graph, whose node count is
  * bounded by the attribute domain (|brands| × |sizes|) regardless
  * of how many fact parts populate each class. So the plan is one
  * bounded class probe over the fact table ([[Dispatch.probe]]), an
  * in-process Tarjan bridge pass over the probed class graph, and
  * the bounded per-class-edge result — never a fact-scaled
  * connectivity iteration (past the class bound, the distributed
  * definitional engine answers instead). A naive distributed
  * per-edge BFS would be |edges| full traversals of a graph that
  * fits in one task.
  *
  * The oracle replays 2-edge-connectivity definitionally: for every
  * class edge, a recursive reachability CTE that avoids (both
  * directions of) that edge — bridge ⟺ the far endpoint is
  * unreachable. Two entirely different algorithms (Tarjan low-link
  * vs per-edge deletion BFS) agreeing on the hash checks the
  * SEMANTICS, not the implementation. */
object Bridges {

  /** Classic iterative Tarjan bridge-finding on an undirected
    * adjacency (node → neighbors with edge ids); returns bridge edge
    * ids. Multi-edges share an id only if identical (src,dst); a
    * parallel edge pair is never a bridge and carries distinct ids,
    * handled by the edge-id (not node) parent check. */
  private def tarjanBridges(adj: Map[Long, Seq[(Long, Long)]]): Set[Long] = {
    val disc = scala.collection.mutable.Map.empty[Long, Int]
    val low = scala.collection.mutable.Map.empty[Long, Int]
    val bridges = scala.collection.mutable.Set.empty[Long]
    var timer = 0
    // explicit stack: (node, incoming edge id, child iterator)
    for (root <- adj.keys.toSeq.sorted if !disc.contains(root)) {
      val stack = scala.collection.mutable.Stack[(Long, Long, Iterator[(Long, Long)])]()
      disc(root) = timer; low(root) = timer; timer += 1
      stack.push((root, -1L, adj(root).iterator))
      while (stack.nonEmpty) {
        val (u, inEdge, it) = stack.top
        if (it.hasNext) {
          val (v, eid) = it.next()
          if (eid != inEdge) {
            if (!disc.contains(v)) {
              disc(v) = timer; low(v) = timer; timer += 1
              stack.push((v, eid, adj(v).iterator))
            } else low(u) = math.min(low(u), disc(v))
          }
        } else {
          stack.pop()
          if (stack.nonEmpty) {
            val (p, _, _) = stack.top
            low(p) = math.min(low(p), low(u))
            if (low(u) > disc(p)) bridges += inEdge
          }
        }
      }
    }
    bridges.toSet
  }

  /** In-process bridge classification of a grouped edge list: one
    * output tuple per input edge, flagged. Components are keyed by
    * `group` (edges never cross groups). */
  private[graph] def bridgesOf(edges: Seq[(String, Long, Long)]): Seq[(String, Long, Long, Boolean)] = {
    val withIds = edges.sorted.zipWithIndex
      .map { case ((g, lo, hi), i) => (g, lo, hi, i.toLong) }
    withIds.groupBy(_._1).toSeq.flatMap { case (group, es) =>
      val adj = es.flatMap { case (_, lo, hi, eid) =>
        Seq(lo -> (hi, eid), hi -> (lo, eid)) }
        .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      val br = tarjanBridges(adj)
      es.map { case (_, lo, hi, eid) => (group, lo, hi, br.contains(eid)) }
    }
  }

  /** Bridge classification of the widened (±1, ±2) part edit rule's
    * class graph: one row per canonical class edge
    * (brand, size_lo, size_hi, is_bridge). ROUTED by
    * [[Dispatch.probe]]: within the class bound the probed classes
    * feed the in-process Tarjan pass; past it, the distributed
    * definitional engine ([[edgeBridgesDistributed]]) answers
    * instead. */
  def classEdgeBridges(s: SparkSession, d: String,
                       bound: Int = -1): DataFrame = {
    import s.implicits._
    classBridgesOf(s, graft.Tables.part(s, d)
      .select($"p_brand".as("brand"), $"p_size".cast("long").as("size")), bound)
  }

  /** The routed engine over any `(brand, size)` class-source table —
    * factored out so the routing spec can drive synthetic tables. */
  private[graph] def classBridgesOf(s: SparkSession, classSrc: DataFrame,
                                    bound: Int = -1): DataFrame = {
    Dispatch.probe(classSrc, bound) match {
      case Some(classes) =>
        val bySize = classes.keys.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
        // canonical up-edges under the widened rule
        val edges = for {
          (brand, sizes) <- bySize.toSeq
          a <- sizes.toSeq
          delta <- Seq(1L, 2L)
          if sizes.contains(a + delta)
        } yield (brand, a, a + delta)
        s.createDataFrame(bridgesOf(edges))
          .toDF("brand", "size_lo", "size_hi", "is_bridge")
      case None => edgeBridgesDistributed(s,
        classSrc.select(col("brand"), col("size").cast("long").as("size")).distinct())
    }
  }

  /** The general engine: the DEFINITION of 2-edge-connectivity run
    * distributed — for every class edge, a reachability flood from
    * its low endpoint that avoids (both directions of) that edge;
    * bridge ⟺ the far endpoint is never reached. This is the same
    * characterization the DuckDB oracle replays (per-edge deletion
    * CTE), expressed as ONE edge-tagged frontier loop: every open
    * edge's flood shares each wave's join + distinct + anti-join, an
    * edge stops flooding the moment its far endpoint is reached
    * (non-bridge, the common case), and per-wave state lives on DISK
    * under the [[Superstep]] driver. Work is Σ_e |component(e)| —
    * the definitional engine for the out-of-contract route, not the
    * per-key fast path (the shipped graphs probe into the Tarjan
    * pass; two different algorithms pinned equal by
    * FallbackRoutingSpec where both run). */
  private[graph] def edgeBridgesDistributed(s: SparkSession,
                                            classes: DataFrame): DataFrame = {
    // constraint propagation OFF for the flood's scope: the loop-
    // carried checkpoints (LogicalRDD) bake the anti-join conditions
    // into their origin constraints, and a later Union's constraint
    // rewrite then dereferences attributes no child outputs
    // (key-not-found at optimization). The loop is equi-joins over
    // synthetic non-null keys — inferred filters add nothing here.
    // The result materializes INSIDE the flood (eager checkpoint), so
    // no constraint from these plans escapes to caller analysis.
    // The override lives on a CLONED session (own SessionState, shared
    // SparkContext), so concurrent queries on `s` keep constraint
    // propagation and no restore race exists.
    val flood = s.newSession()
    // newSession() initializes SQLConf from the context conf, not the
    // caller's runtime settings — carry those over (static/immutable
    // entries just refuse; that's fine, they're shared anyway)
    s.conf.getAll.foreach { case (k, v) =>
      scala.util.Try(flood.conf.set(k, v))
    }
    flood.conf.set("spark.sql.constraintPropagation.enabled", "false")
    Superstep.run { sc =>
      // hand the input across sessions as a materialized RDD — plans
      // must not mix SessionStates
      val cls0 = sc.pin(classes, Superstep.Disk)
      val res = edgeBridgesFlood(sc, flood, flood.createDataFrame(cls0.rdd, cls0.schema))
      // res is eagerly checkpointed inside the flood; re-root it on the
      // caller's session so downstream analysis uses s's conf
      sc.pin(s.createDataFrame(res.rdd, res.schema), Superstep.Disk)
    }
  }

  private def edgeBridgesFlood(sc: Superstep, s: SparkSession,
                               classes: DataFrame): DataFrame = {
    val lvl = Superstep.Disk
    val cls = sc.pin(classes, lvl, eager = false)
    val edges = sc.pin(cls.select(col("brand"), col("size").as("lo"))
      .join(cls.select(col("brand"), col("size").as("hi")), Seq("brand"))
      .filter(col("hi") - col("lo") === 1 || col("hi") - col("lo") === 2), lvl, eager = false)
    val adj = sc.pin(edges.select(col("brand"), col("lo").as("u"), col("hi").as("v"))
      .union(edges.select(col("brand"), col("hi").as("u"), col("lo").as("v"))), lvl,
      eager = false)
    val (frontier0, n0) = sc.count(edges.select(col("brand"), col("lo"), col("hi"),
        col("lo").as("node")), lvl)
    // explicit empty frame (not a checkpointed limit(0) of edges —
    // whose inherited constraints trip Union's constraint rewrite)
    val reached0 = s.createDataFrame(
      s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("brand", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("lo", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("hi", org.apache.spark.sql.types.LongType))))
    // (frontier, visited, reached, frontier rows); each wave reaches a
    // node not visited before for its edge, so the flood ends
    val (_, _, reached, _) = sc.loop((frontier0, frontier0, reached0, n0), Int.MaxValue,
        (_: (DataFrame, DataFrame, DataFrame, Long)) => "bridge flood")(
        st => Seq(st._1, st._2, st._3))((st, _) => st._4 == 0L) {
        case ((frontier, visited, reached, _), _) =>
      // qualified aliases: the loop-carried frontier inherits adj's
      // attribute ids through the checkpoints (localCheckpoint
      // preserves exprIds), so an unqualified self-join is ambiguous
      val next = sc.pin(frontier.as("f")
        .join(adj.as("g"), col("f.brand") === col("g.brand") && col("f.node") === col("g.u"))
        // skip the excluded edge in either direction
        .filter(!(col("f.node") === col("f.lo") && col("g.v") === col("f.hi")) &&
          !(col("f.node") === col("f.hi") && col("g.v") === col("f.lo")))
        .select(col("f.brand").as("brand"), col("f.lo").as("lo"),
          col("f.hi").as("hi"), col("g.v").as("node"))
        .distinct()
        .join(visited, Seq("brand", "lo", "hi", "node"), "left_anti"), lvl)
      val newReached = sc.pin(reached.union(
          next.filter(col("node") === col("hi")).select(col("brand"), col("lo"), col("hi"))),
        lvl)
      // resolved edges stop flooding (their remaining frontier is dead
      // work); earlier-resolved edges cannot re-enter — their frontier
      // rows were dropped the wave they resolved
      val (nextFrontier, n) =
        sc.count(next.join(newReached, Seq("brand", "lo", "hi"), "left_anti"), lvl)
      (nextFrontier, sc.pin(visited.union(next), lvl), newReached, n)
    }
    sc.pin(edges
      .join(reached.withColumn("hit", lit(true)), Seq("brand", "lo", "hi"), "left")
      .select(col("brand"), col("lo").as("size_lo"), col("hi").as("size_hi"),
        col("hit").isNull.as("is_bridge")), lvl)
  }
}
