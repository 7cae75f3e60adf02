package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/** Approximate Neighborhood Function (HyperANF, Boldi–Vigna) — per
  * node, an estimate of |ball(v, r)|: how many vertices lie within r
  * hops. The reference's reachability surface answers "is b within r
  * of a" per pair (mcs.py's expansion queries); the neighborhood
  * function is its aggregate form — per-node reach counts, the
  * primitive behind effective-diameter and centrality estimates.
  *
  * Engine shape: each vertex carries a fixed 256-byte HLL counter
  * ([[graft.functions.Hll]]); round r replaces every counter with the
  * register-max of its neighbors' round-(r−1) counters and its own.
  * That is one equi-join (edges ⋈ counters on src) and one
  * partial-aggregable merge per round — the shuffle carries
  * O(V × 256 B) whatever the ball sizes are, where the EXACT
  * computation's per-round state is the materialized neighbor SETS
  * (O(Σ|ball|), quadratic on dense graphs, the thing that does not
  * survive 100 TB). Register max is commutative, associative and
  * idempotent, so retries/re-sends can't corrupt counters, and the
  * estimate is a pure function of the registers — deterministic for
  * a given graph.
  */
object Anf {

  /** Round-loop storage: counters checkpoint EAGERLY on DISK each
    * round and the [[Superstep]] driver frees the previous round's
    * blocks as soon as the successor materializes. The
    * per-node 256-byte registers make the counter table the heaviest
    * vertex state of any iterative engine here — non-eager in-memory
    * checkpoints piled every round's generation into the unified pool
    * at the final action, the sf1x 48g-driver failure (SCALING.md
    * footnote ³). */
  private val ROUND_LEVEL = org.apache.spark.storage.StorageLevel.DISK_ONLY

  /** Per-node counters after `rounds` propagation steps over the
    * bidirectional edge list: (node, regs binary, est double). */
  def run(s: SparkSession, edges: DataFrame, rounds: Int): DataFrame = {
    import s.implicits._
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    GraftFunctions.register(s)
    Superstep.run { sc =>
      // the slim 2-column edge list, checkpointed once hash-partitioned
      // on the join key (the other iterative vertex programs' contract)
      val e = sc.pin(edges.select($"src", $"dst").repartition($"src"), ROUND_LEVEL,
        eager = false)
      val counters0 = sc.pin(e.select($"src".as("node")).distinct()
        .select($"node", GraftFunctions.hllUnit(xxhash64($"node")).as("regs")), ROUND_LEVEL)
      val counters = sc.rounds(counters0, rounds)(Seq(_)) { (counters, _) =>
        // shuffle_hash: build the vertex-sized counter table, STREAM
        // the edges — no per-round sort of the edge list, no exchange
        // on the already-partitioned edge side; the one shuffle per
        // round is the register-max aggregation, whose map-side
        // combine caps it at O(V × 256 B) per partition
        val msgs = e.join(counters.hint("shuffle_hash"), e("src") === counters("node"))
          .select(e("dst").as("node"), $"regs")
        sc.pin(msgs.union(counters)
          .groupBy($"node")
          .agg(GraftFunctions.hllMerge($"regs").as("regs")), ROUND_LEVEL)
      }
      // materialized eagerly, so the run frees every loop-long
      // checkpoint — the edge list AND the last counters generation —
      // now instead of leaving them for the session
      sc.pin(counters
        .select($"node", $"regs", GraftFunctions.hllCard($"regs").as("est")), ROUND_LEVEL)
    }
  }

  /** QUOTIENT fast path for the 2-round ANF over the bidirectional
    * (brand, size ± 1) blow-up of a `(node, brand, size)` vertex
    * table with its probed class map. In the class blow-up, the
    * standard ball-union induction M_v^(t) = ∪_{d(u,v) ≤ t} unit(u)
    * collapses class-level at t = 2:
    * B(v, 2) = {v} ∪ members(adj(c)) ∪ members(adj(adj(c))), and
    * since every node in [[run]]'s counter table has ≥ 1 neighbor,
    * c ∈ adj(adj(c)) — so B(v, 2) is exactly the member set of the
    * class 2-ball {c} ∪ adj(c) ∪ adj(adj(c)): a pure class function,
    * v's own unit included. Register max-merge is associative,
    * commutative and idempotent, so merging per class FIRST (the one
    * fact-scale pass: a single V-sized groupBy of unit registers) and
    * then merging the ≤ 5 class registers of each ball yields
    * BIT-IDENTICAL register arrays to the 2-round propagation —
    * hence identical estimates (est is a pure function of regs).
    * The exact `ball2` verification anchor is the same class
    * function (Σ member counts over the ball), so the |E|·deg wedge
    * join the exact 2-ball needed — the 27×-growth term the SCALING
    * ladder flagged — disappears with it.
    *
    * Emits (node, ball2, est, anf_ok) for sampled nodes, where
    * anf_ok = |est − ball2| ≤ tol·ball2 — [[propagationReference]]'s
    * shape, so the equivalence specs compare est bit-for-bit
    * (QuotientPropertySpec, RoundEightOpsSpec); [[Dispatch.anf]] drops
    * est for the g_anf surface. */
  private[graft] def quotientBlowup(s: SparkSession,
      classes: Map[(String, Long), Long], parts: DataFrame,
      sampleMod: Int, tol: Double): DataFrame = {
    import s.implicits._
    GraftFunctions.register(s)
    val present = classes.keySet
    def adj(c: (String, Long)): Seq[(String, Long)] =
      Seq(-1L, 1L).map(d => (c._1, c._2 + d)).filter(present)
    // connected classes = the counter domain of [[run]] (nodes with
    // ≥1 neighbor); their 2-balls only contain connected classes
    val connected = present.filter(c => adj(c).nonEmpty)
    val ballPairs = connected.toSeq.flatMap { c =>
      val ball = (Seq(c) ++ adj(c) ++ adj(c).flatMap(adj)).distinct
      ball.map(b => (c._1, c._2, b._1, b._2, classes(b)))
    }
    val pairDF = ballPairs.toDF("brand", "size", "bbrand", "bsize", "bcnt")
    // THE fact-scale pass: per-class register merge of member units
    val classRegs = parts
      .join(broadcast(connected.toSeq.toDF("brand", "size")), Seq("brand", "size"), "left_semi")
      .groupBy($"brand", $"size")
      .agg(GraftFunctions.hllMerge(GraftFunctions.hllUnit(xxhash64($"node"))).as("regs"))
    // class-ball registers + exact ball sizes: bounded-size agg
    val ballStats = pairDF
      .join(classRegs.select($"brand".as("bbrand"), $"size".as("bsize"), $"regs"),
        Seq("bbrand", "bsize"))
      .groupBy($"brand", $"size")
      .agg(GraftFunctions.hllMerge($"regs").as("regs"), sum($"bcnt").as("ball2"))
      .select($"brand", $"size", GraftFunctions.hllCard($"regs").as("est"), $"ball2")
    parts.filter($"node" % sampleMod === 0)
      .join(broadcast(ballStats), Seq("brand", "size"))
      .select($"node", $"ball2", $"est",
        (abs($"est" - $"ball2".cast("double")) <= lit(tol) * $"ball2".cast("double"))
          .as("anf_ok"))
  }

  /** The g_anf REFERENCE composition — 2-round register propagation
    * ([[run]]) + the exact wedge-join 2-ball anchor over the same
    * edge list, emitting (node, ball2, est, anf_ok) for every
    * sampleMod-th node. Single-sourced here so EngineLadder measures
    * and the equivalence specs (RoundEightOpsSpec,
    * QuotientPropertySpec) verify EXACTLY the composition the
    * quotient replaces — a sample or tolerance change propagates to
    * all three by construction. */
  private[graft] def propagationReference(s: SparkSession, edges: DataFrame,
                                          sampleMod: Int, tol: Double): DataFrame = {
    import s.implicits._
    // DISK: read by the propagation AND the 3-way exact-ball wedge
    // join — an in-memory copy competed with the wedge shuffle for
    // the pool at the 52M-edge rung
    val e = edges.localCheckpoint(false, ROUND_LEVEL)
    val est = run(s, e, rounds = 2).filter($"node" % sampleMod === 0)
    val seeds = e.select($"src").distinct().filter($"src" % sampleMod === 0)
    val hop1 = seeds.join(e, "src").select($"src", $"dst".as("member"))
    val hop2 = hop1.join(e.select($"src".as("member"), $"dst".as("far")), "member")
      .select($"src", $"far".as("member"))
    val ball = hop1.union(hop2)
      .union(seeds.select($"src", $"src".as("member"))).distinct()
      .groupBy($"src".as("node")).agg(count(lit(1)).as("ball2"))
    est.join(ball, "node")
      .select($"node", $"ball2", $"est",
        (abs($"est" - $"ball2".cast("double")) <= lit(tol) * $"ball2".cast("double"))
          .as("anf_ok"))
  }
}
