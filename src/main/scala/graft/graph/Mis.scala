package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Maximal independent set via Luby's algorithm (SURVEY §2 A28) —
  * THE textbook parallel-graph symmetry breaker (Luby 1986), and the
  * scheduling/conflict-resolution primitive (pick a maximal
  * non-conflicting subset: ad slots, co-scheduled jobs, seed docs no
  * two of which are near-dups when run over a dup graph).
  *
  * Deterministic variant: round r's priority for node v is
  * md5(r + "_" + v) — behaves like Luby's fresh random draw per
  * round (so the O(log n) expected-rounds argument applies; measured
  * 3 rounds at sf0.01, 4 at sf0.1) but is a pure function of (round,
  * node), so the oracle replays every round bit-for-bit and the
  * result is schedule-independent. A node joins the MIS when its
  * priority is strictly below every UNDECIDED neighbor's (md5
  * collisions on distinct inputs being vanishingly rare, strictness
  * cannot deadlock); winners and their neighbors leave the game and
  * the edge set prunes to both-ends-undecided.
  *
  * Scale shape per round: one partial-aggregable min-hash groupBy
  * over the live edge set, one anti-join removal, two semi-join edge
  * prunes — co-partitioned equi-joins only, checkpointed by the
  * [[Superstep]] driver so lineage stays one round deep; the
  * undecided count rides the checkpoint's own job, and
  * non-convergence throws.
  */
object Mis {

  /** Round-loop checkpoints live on DISK, each generation freed by
    * the [[Superstep]] driver once the next exists: the loop's working
    * state is edge-sized, two generations coexist at every round
    * boundary, and each is read at most twice per round — in-memory
    * copies starved the unified pool at the 52M-edge sf1x rung on a
    * 16g driver (SCALING.md footnote ³); on disk the loop is
    * memory-bounded at any edge count. */
  private val ROUND_LEVEL = org.apache.spark.storage.StorageLevel.DISK_ONLY

  /** `vertices(id)`, `edges(src, dst)` bidirectional; returns every
    * vertex with its membership flag and joining round (null for
    * non-members). */
  def run(s: SparkSession, vertices: DataFrame, edges: DataFrame,
          maxIter: Int = 25): DataFrame = {
    import s.implicits._
    Superstep.run { sc =>
      val verts = sc.pin(vertices.select(col("id").cast("long").as("node")).distinct(),
        eager = false)
      val (u0, nU0) = sc.count(verts, ROUND_LEVEL)
      val e0 = sc.pin(edges
        .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
        .filter($"src" =!= $"dst")
        .distinct(), ROUND_LEVEL)
      // the state carries every round's winners checkpoint with its
      // round number: they underlie the result
      val (_, _, _, members) = sc.loop((u0, e0, nU0, Seq.empty[(DataFrame, Long)]), maxIter,
          (st: (DataFrame, DataFrame, Long, Seq[(DataFrame, Long)])) =>
            s"Luby MIS (${st._3} nodes undecided)")(
          st => Seq(st._1, st._2) ++ st._4.map(_._1))((st, _) => st._3 == 0L) {
          case ((u, e, _, members), done) =>
        val r = done + 1
        // min undecided-neighbor priority; e is already pruned to
        // both-ends-undecided, so no membership join is needed here
        val minNbr = e
          .select($"src", md5(concat(lit(s"${r}_"), $"dst".cast("string"))).as("h"))
          .groupBy($"src").agg(min($"h").as("mh"))
        val winners = sc.pin(u.join(minNbr.select($"src".as("node"), $"mh"), Seq("node"), "left")
          .filter(md5(concat(lit(s"${r}_"), $"node".cast("string"))) <
            coalesce($"mh", lit("g"))) // 'g' sorts above every hex digest
          .select($"node"), ROUND_LEVEL)
        val removed = winners
          .union(e.join(winners.select($"node".as("src")), Seq("src"), "left_semi")
            .select($"dst".as("node")))
          .distinct()
        val (nextU, nU) = sc.count(u.join(removed, Seq("node"), "left_anti"), ROUND_LEVEL)
        val nextE = sc.pin(e.join(nextU.select($"node".as("src")), Seq("src"), "left_semi")
          .join(nextU.select($"node".as("dst")), Seq("dst"), "left_semi")
          .select($"src", $"dst"), ROUND_LEVEL)
        (nextU, nextE, nU, members :+ ((winners, r.toLong)))
      }
      val mis = members.map { case (w, r) => w.withColumn("mis_round", lit(r)) }
        .reduceOption(_ union _)
        .getOrElse(verts.limit(0).withColumn("mis_round", lit(0L)))
      verts.join(mis, Seq("node"), "left")
        .select($"node", $"mis_round".isNotNull.as("in_mis"), $"mis_round")
    }
  }

  /** QUOTIENT fast path: Luby over any pure (brand, size ± 1-or-2)
    * blow-up vertex table `(node, brand, size)` with its probed class
    * map. Unlike the truss (where support is a pure class function),
    * Luby's per-node md5 priorities BREAK within-class symmetry, so
    * the MIS itself is not a class function — but the blow-up
    * structure still collapses every edge-set computation in [[run]]
    * to a class-level one:
    *
    *   - the graph is a pure class blow-up (every node of class
    *     c = (brand, size) is adjacent to EVERY node of every
    *     adjacent class, and no within-class edges exist), so the
    *     min-undecided-neighbor priority in round r is the SAME for
    *     all nodes of c:  M_r(c) = min over adjacent classes c' with
    *     undecided nodes of (min over undecided u ∈ c' of h_r(u));
    *   - node v ∈ c wins round r  iff  h_r(v) < M_r(c)  — exactly
    *     [[run]]'s winner predicate, with the same 'g' sentinel when
    *     no adjacent class has undecided nodes;
    *   - winner classes are automatically independent in the class
    *     graph: c has a winner iff classMin_r(c) < M_r(c), i.e.
    *     classMin_r(c) is strictly below every adjacent classMin — two
    *     adjacent classes cannot both satisfy that;
    *   - removal is class-level: a winner's neighbors are ALL
    *     undecided nodes of the adjacent classes, so the survivors of
    *     class c are {v undecided : h_r(v) ≥ M_r(c)} if no adjacent
    *     class had a winner, ∅ otherwise.
    *
    * So each round is ONE partial-aggregable (brand, size) groupBy
    * over the UNDECIDED VERTEX SET (min-hash per class), one bounded
    * collect (the undecided classes are a subset of the probed ones,
    * so `classes.size` bounds it), driver-side threshold/removal
    * computation over the dimension-bounded class graph, and one
    * broadcast-join filter — the quadratic blown-up edge set (the
    * thing [[run]] groupBys and semi-join-prunes every round) is
    * NEVER materialized. Round-faithful and hash-faithful, hence
    * bit-identical to [[run]] on the same graph including
    * `mis_round` (QuotientPropertySpec, RoundEightOpsSpec). The
    * convergence probe rides the same collect; non-convergence throws
    * ([[run]]'s contract). */
  private[graph] def quotientBlowup(s: SparkSession,
      classes: Map[(String, Long), Long], parts: DataFrame,
      maxIter: Int): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.Row
    def h(r: Int) = md5(concat(lit(s"${r}_"), $"node".cast("string")))
    // class state of an undecided set: min round-r hash per class. The
    // limit sits INSIDE the collect — never more than the probed class
    // count + 1 rows on the driver.
    def classMins(u: DataFrame, r: Int): Array[Row] = {
      val cls = u.groupBy($"brand", $"size").agg(min(h(r)).as("mh"))
        .limit(classes.size + 1).collect()
      if (cls.length > classes.size) throw new IllegalStateException(
        s"undecided vertices span more than the ${classes.size} probed classes")
      cls
    }
    Superstep.run { sc =>
      val verts = sc.pin(parts, eager = false)
      val u0 = sc.pin(verts)
      // state: undecided set, its round-(done+1) class minima, and the
      // RAW winners checkpoints + round number. The loop halts when no
      // class is undecided; like [[run]], work rounds 1..maxIter may
      // run, so a game needing exactly maxIter rounds converges.
      val (_, _, members) = sc.loop((u0, classMins(u0, 1), Seq.empty[(DataFrame, Long)]),
          maxIter, (_: (DataFrame, Array[Row], Seq[(DataFrame, Long)])) =>
            "Luby MIS (quotient)")(
          st => st._1 +: st._3.map(_._1))((st, _) => st._2.isEmpty) {
          case ((u, cls, members), done) =>
        val r = done + 1
        val mh: Map[(String, Long), String] =
          cls.map(row => (row.getString(0), row.getLong(1)) -> row.getString(2)).toMap
        def adjacent(c: (String, Long)): Seq[(String, Long)] =
          Seq(-2L, -1L, 1L, 2L).map(d => (c._1, c._2 + d)).filter(mh.contains)
        // 'g' sorts above every hex digest — run's no-undecided-
        // neighbor sentinel
        val thr: Map[(String, Long), String] = mh.keys.map { c =>
          c -> adjacent(c).map(mh).minOption.getOrElse("g")
        }.toMap
        val winnersC = mh.keySet.filter(c => mh(c) < thr(c))
        val removedC = mh.keySet.filter(c => adjacent(c).exists(winnersC))
        val stateRows = mh.keys.toSeq.map { c =>
          Row(c._1, c._2, thr(c), removedC(c))
        }
        import org.apache.spark.sql.types._
        import scala.jdk.CollectionConverters._
        val state = s.createDataFrame(stateRows.asJava,
          StructType(Seq(StructField("brand", StringType),
            StructField("size", LongType), StructField("thr", StringType),
            StructField("removed", BooleanType))))
        val staged = u.join(broadcast(state), Seq("brand", "size"))
        val winners = sc.pin(staged.filter(h(r) < $"thr").select($"node"))
        val nextU = sc.pin(staged.filter(!$"removed" && h(r) >= $"thr")
          .select($"node", $"brand", $"size"))
        (nextU, classMins(nextU, r + 1), members :+ ((winners, r.toLong)))
      }
      val mis = members.map { case (w, r) => w.withColumn("mis_round", lit(r)) }
        .reduceOption(_ union _)
        .getOrElse(verts.limit(0).select($"node").withColumn("mis_round", lit(0L)))
      verts.select($"node").join(mis, Seq("node"), "left")
        .select($"node", $"mis_round".isNotNull.as("in_mis"), $"mis_round")
    }
  }
}
