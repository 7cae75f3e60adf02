package graft.graph

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** One-level Louvain modularity ascent (Blondel et al. 2008, the
  * local-move phase) — the community family's OPTIMIZER next to
  * [[LabelPropagation]] (which detects by vote) and the A35
  * modularity fold (which evaluates Q): each sweep, every vertex
  * greedily joins the neighbor community with the largest modularity
  * gain, and the sweep count is FIXED so the result is a
  * deterministic, cross-engine-checkable function of the graph
  * (classic Louvain's vertex-order-sequential moves are not).
  *
  * EXACT INTEGER gain algebra: for a symmetric directed edge list
  * with T directed edges, moving v (degree k) from community A to B
  * changes Q by
  *
  *   ΔQ = 2(e_vB − e_vA)/T + 2k(D_A − D_B − k)/T²
  *
  * (e_vC = directed edges v→C\{v}, D_C = Σ degrees of C's members, v
  * still counted in A). Scaling by the positive constant T²/2 gives
  *
  *   gain = (e_vB − e_vA)·T + k·(D_A − D_B − k)
  *
  * — pure BIGINT arithmetic, so the move decision (gain > 0, argmax
  * by (gain DESC, community ASC)) needs NO floating point and NO
  * decimal quantization at all: both engines compare the same exact
  * integers. Overflow headroom: |gain| ≤ k·T + k·T ≤ 2·k_max·T,
  * inside int64 for any graph with k_max·T < 2^62 (the 52M-edge rung
  * sits at ~2^31).
  *
  * Synchronous sweeps can oscillate three ways; all are closed
  * deterministically:
  *   - strict gain (> 0) kills zero-gain label churn;
  *   - the SINGLETON-SWAP guard (Grappolo's rule — Lu & Halappanavar
  *     2015): when a singleton vertex targets another singleton
  *     community, only the move toward the SMALLER label is allowed,
  *     so two mutually-best singletons merge instead of swapping
  *     labels forever;
  *   - ODD-EVEN sub-sweeps (the distributed-Louvain coloring
  *     mitigation, cheapest form): sweep i only moves vertices with
  *     id parity i % 2, so the community-swap oscillation a
  *     synchronous all-vertex update exhibits on bipartite structure
  *     (a 4-cycle flips between its two bipartition labelings
  *     forever) cannot form — each sub-sweep's movers see a frozen
  *     other half. A full pass is two sweeps; the parity filter also
  *     halves each sweep's edge-scale work.
  *
  * No parallel local-move scheme can GUARANTEE per-sweep Q
  * non-decrease (two movers sharing a target community each price
  * D_C without the other's arrival), so monotonicity is an empirical
  * property pinned by the spec on the shipped graphs, not a claimed
  * law — the same honesty line as LPA's fixed-round contract.
  *
  * Scale shape per sweep (the LPA discipline): one edges⋈labels join
  * streaming the pre-partitioned edge set (shuffle_hash, no per-sweep
  * edge exchange), one map-side-combinable (src, community) count,
  * then community-count-sized joins and one partial-aggregable
  * argmax — nothing fact-scale is ever collected, and lineage is
  * truncated per sweep by a [[Superstep]] checkpoint (eager on the
  * broadcast path; lazy on the shuffle path, whose final labels get
  * one eager pin so every dead sweep is freed).
  *
  * The class-quotient twin [[quotientBlowup]] has two routes of its
  * own: in-process sweeps within [[Quotient.probeBound]], and
  * distributed sweeps past it. */
object Louvain {

  /** @param vertices (id) — every vertex, including isolated ones
    *        (they keep their own label; Louvain never moves them).
    * @param edges symmetric (src, dst) directed edge list.
    * @param sweeps fixed synchronous sweep count.
    * @param degHint the edge list's out-degree table (node, deg), if
    *        the caller already has one (e.g. GraphPack's session
    *        degree cache) — otherwise derived here with one edge-scan
    *        aggregate.
    * @param broadcastState caller's assertion that the VERTEX domain
    *        is broadcast-sized (GraphPack gates on the part count ≤
    *        its 4M cap): the per-sweep vertex/community state tables
    *        (labels, degrees, community mass) then ride broadcast
    *        hash joins, so the edge-scale candidate build is ONE
    *        map-side pass per sweep instead of four edge-sized
    *        exchanges — the A32/A34 degree-stamp lesson; measured
    *        192 → single-digit seconds at the 52M-edge rung. False =
    *        plain shuffle joins, the arbitrary-scale path.
    * @return (id, label) final community labeling. */
  def run(s: SparkSession, vertices: DataFrame, edges: DataFrame, sweeps: Int,
          degHint: Option[DataFrame] = None,
          broadcastState: Boolean = false): DataFrame = {
    import s.implicits._
    require(sweeps >= 1, s"sweeps must be >= 1, got $sweeps")
    // The edge list is deliberately NOT checkpointed on the broadcast
    // path: it is re-evaluated once per sweep. Measured at the
    // 52M-edge rung, a repartition + DISK checkpoint of the edge set
    // cost 40+ s before the first sweep ran, while re-running the
    // (join-built, blow-up) edge plan costs ~2 s per evaluation — the
    // KCore lazy-pin lesson in reverse. Re-evaluation is only sound
    // when every evaluation yields the same rows, so plan-level
    // instability ([[PlanStability]]'s shared probe) pins ONE disk
    // copy up front;
    // leaf determinism on re-scan is the caller's contract, as for
    // KCore. The shuffle-join path keeps the dst-partitioned disk
    // checkpoint (it re-reads the edge set per sweep through a
    // shuffle join, LPA's shape).
    Superstep.run { sc =>
      val e0 = edges.select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      val e =
        if (!broadcastState) sc.pin(e0.repartition(col("dst")), Superstep.Disk, eager = false)
        else if (PlanStability.isUnstable(edges)) sc.pin(e0, Superstep.Disk)
        else e0
      val deg = sc.pin(degHint
        .map(_.select(col("node").cast("long").as("node"), col("deg").cast("long").as("k")))
        .getOrElse(e.groupBy($"src".as("node")).agg(count(lit(1)).as("k"))), eager = false)
      // T is one vertex-scale fold over the degree table (= |directed
      // edges|), collected once — a scalar, not fact-scale data
      val t = deg.agg(coalesce(sum($"k"), lit(0L))).as[Long].head()
      val labels0 = sc.pin(vertices.select(col("id").cast("long").as("id"))
        .withColumn("label", $"id")
        .repartition(col("id")), eager = false)
      val labels = sc.rounds(labels0, sweeps)(Seq(_)) { (labels, done) =>
        // this sub-sweep's mover parity (see the odd-even note above)
        val p = (done + 1) % 2
        // per-vertex state (id, label, k, D_label, S_label): two
        // vertex-scale joins + one community-scale aggregate, all tiny
        // next to the edge pass. Eager-checkpointed per sweep on the
        // broadcast path so the broadcast build and the src-side join
        // read blocks (and the previous sweep's broadcast becomes
        // collectable — one lazy mega-plan held every sweep's broadcast
        // live at once and starved the aggregation out of the unified
        // pool at the 52M-edge rung).
        val lsBase = labels.join(deg.select($"node".as("id"), $"k"), Seq("id"), "left")
          .select($"id", $"label", coalesce($"k", lit(0L)).as("k"))
        val cm = lsBase.groupBy($"label")
          .agg(sum($"k").as("dsum"), count(lit(1)).as("csize"))
        val lsState = lsBase.join(cm, Seq("label"))
          .select($"id", $"label", $"k", $"dsum".as("da"), $"csize".as("sa"))
        val ls = sc.pin(lsState, eager = broadcastState)
        // e_vC: directed edge count from each MOVER vertex into each
        // current community — THE edge-scale step of the sweep
        // (map-side combinable; the parity filter halves the edge plan
        // before the join). On the broadcast path the half-edge stream
        // pays exactly ONE exchange per sweep: the explicit src
        // repartition after the map-side label join — HashPartitioning
        // (src) then satisfies BOTH downstream clusterings ((src, c)
        // count and per-src argmax), so neither aggregate exchanges
        // again, and the mover-state join is a map-side broadcast too.
        // Round 16 (§2.3, shuffle fewer bytes): that exchange used to
        // carry the target community's (D_c, S_c) on EVERY edge row;
        // the per-c constants now re-attach AFTER the (src, c) count,
        // on candidate-scale rows, via a second community-sized
        // broadcast — the edge-scale exchange carries exactly (src, c).
        // The arbitrary-scale path keeps the single shuffle_hash join
        // carrying dc/sc through (a candidate-scale re-join would be a
        // second shuffle there, the opposite trade).
        val half = e.filter($"src" % 2 === lit(p.toLong))
        // community state (c, D_c, S_c): community-scale, derived from
        // the same lsBase/cm plan the checkpointed ls was built from —
        // a vertex-scale aggregate, tiny next to the edge pass
        val cstate = cm.select($"label".as("c"), $"dsum".as("dc"), $"csize".as("sc"))
        val evc =
          if (broadcastState) {
            val lsDst = ls.select($"id".as("dst"), $"label".as("c"))
            half.join(broadcast(lsDst), "dst").repartition(col("src"))
              .groupBy($"src", $"c")
              .agg(count(lit(1)).as("cnt"))
              .join(broadcast(cstate), "c")
          } else {
            val lsDst = ls.select($"id".as("dst"), $"label".as("c"),
              $"da".as("dc"), $"sa".as("sc"))
            half.join(lsDst.hint("shuffle_hash"), "dst")
              .groupBy($"src", $"c")
              .agg(count(lit(1)).as("cnt"), max($"dc").as("dc"), max($"sc").as("sc"))
          }
        // candidate rows annotated with the mover's own community state
        val lsSrc = ls.select($"id".as("src"), $"label".as("a"), $"k", $"da", $"sa")
        val x = evc
          .join(if (broadcastState) broadcast(lsSrc) else lsSrc.hint("shuffle_hash"), "src")
        // TWO hash-aggregable passes pick the move (round 16 — the
        // q_profile lesson applied to the argmax: min over a
        // (−rawgain, c) STRUCT has an immutable buffer, demoting the
        // whole merge to SortAggregate — a SORT of the full candidate
        // set per sweep, spilling at the 52M-edge rung). The e_vA term
        // (−e_vA·T) is a per-src CONSTANT, so it shifts every
        // candidate's gain equally and the argmax only needs the raw
        // per-candidate part, rawgain = cnt·T + k·(D_A − D_C − k); e_vA
        // rides pass 1 (the x row where c = a, at most one per src) and
        // enters only the final gain > 0 threshold. The singleton-swap
        // guard excludes a candidate BEFORE the argmax — the next-best
        // allowed candidate wins, exactly like the sequential rule.
        // Pass 1: per src, minimum negated gain over allowed candidates
        // + e_vA — plain LONG min/max, pure HashAggregate — then the
        // gain > 0 gate shrinks it to the actual movers (vertex-scale).
        // Pass 2: re-expand x, keep allowed rows hitting that minimum,
        // take min(c) — the (rawgain DESC, c ASC) tie order of the old
        // struct-min, bit-identical. x's exchange is reused across the
        // passes (ReusedExchange); labels are non-negative ids and
        // |rawgain| ≤ 2·k_max·T, so the negation never hits
        // Long.MinValue.
        val rawgain = $"cnt" * lit(t) + $"k" * ($"da" - $"dc" - $"k")
        val ng = -rawgain
        val allowed = $"c" =!= $"a" && !($"sa" === 1L && $"sc" === 1L && $"c" > $"a")
        val pass1 = x
          .groupBy($"src")
          .agg(min(when(allowed, ng)).as("mn"),
            max(when($"c" === $"a", $"cnt")).as("eva"))
          .filter($"mn".isNotNull &&
            (-$"mn") - coalesce($"eva", lit(0L)) * lit(t) > 0)
          .select($"src", $"mn")
        val moves = x
          .join(if (broadcastState) broadcast(pass1) else pass1.hint("shuffle_hash"),
            "src")
          .filter(allowed && ng === $"mn")
          .groupBy($"src").agg(min($"c").as("new_label"))
          .select($"src".as("id"), $"new_label")
        // EAGER sweep boundary on the broadcast path: one lazy mega-plan
        // would hold every sweep's broadcast relations live at once and
        // starve the per-sweep aggregation out of the unified pool
        // (AGGREGATE_OUT_OF_MEMORY at the 52M-edge rung — the KCore
        // crowding lesson); an eager vertex-sized checkpoint per sweep
        // lets the ContextCleaner reclaim the previous sweep's
        // broadcasts. The arbitrary-scale path stays lazy (no
        // broadcasts to bound, and plan-building stays job-free).
        sc.pin(labels
          .join(if (broadcastState) broadcast(moves) else moves.hint("shuffle_hash"),
            Seq("id"), "left")
          .select($"id", coalesce($"new_label", $"label").as("label")), eager = broadcastState)
      }
      // the shuffle path's labels are lazy: one eager pin of the final
      // labels lets the run free every sweep's generation
      if (broadcastState) labels else sc.pin(labels)
    }
  }

  /** QUOTIENT sweep engine for the (brand, size ± deltas) class
    * blow-up (round 16 — guide §1.2, fix the algorithm first): on the
    * blow-up, BOTH per-vertex inputs of the move rule are pure class
    * functions — deg(v) = Σ_{q' adj class(v)} |q'| and e_vC =
    * Σ_{q' adj class(v)} m(q', C) where m(q, C) = members of class q
    * currently labeled C — because every member of a class has the
    * IDENTICAL neighbor multiset (all members of the adjacent
    * classes, never itself: sizes differ). So a sweep never needs the
    * blown-up edge list at all:
    *
    *   - m(q, C): one vertex-scale (q, label) count;
    *   - e(q, C): m joined through the in-process class adjacency
    *     (broadcast, dimension-bounded) + one ≤|deltas|·2·V-row sum;
    *   - community state (D_C, S_C): one vertex-scale label count;
    *   - candidates x = movers ⋈ broadcast(e ⋈ state): the expansion
    *     happens INSIDE the movers' stage, id-partitioned, so the
    *     per-src argmax aggregates WITHOUT any exchange.
    *
    * Per sweep the shuffle volume is a few VERTEX-scale aggregates
    * (vs. one edge-scale generation + exchange per sweep in [[run]]);
    * the gain algebra, guard, argmax tie order, parity schedule and
    * label update are the IDENTICAL expressions, so the labeling is
    * bit-identical to [[run]] on any dimension-bounded blow-up
    * (QuotientPropertySpec discipline; the A37 oracle replays the
    * same unrolled sweeps either way).
    *
    * Broadcast budget: the candidate table is ≤ 2·|deltas|·V rows
    * (exactly V·(distinct labels per adjacent class-set) ≤ Σ adjacent
    * member counts), the same vertex-scale class as [[run]]'s
    * broadcast-path state tables — the caller's class-count probe +
    * part-count gate covers both routes.
    *
    * Two routes for the sweeps, chosen by [[Quotient.probeBound]]
    * (`spark.graft.dispatch.probeBound`) against the part count, which
    * the probed class map already holds: within the bound the
    * `(node, brand, size)` rows are collected once and the sweeps run
    * in-process ([[localSweeps]]); past it, or when a node id is null
    * or repeats, the distributed sweeps below run. A part with a null
    * brand has no blow-up edge, so it keeps its own label on both. */
  private[graph] def quotientBlowup(s: SparkSession,
      classes: Map[(String, Long), Long], parts: DataFrame, sweeps: Int,
      deltas: Seq[Long] = Seq(1L, 2L)): DataFrame = {
    require(sweeps >= 1, s"sweeps must be >= 1, got $sweeps")
    // deterministic dense class index (sorted by (brand, size), a null
    // brand first)
    val keys = classes.keys.toSeq.sortBy { case (b, sz) => (Option(b), sz) }
    val idx: Map[(String, Long), Int] = keys.zipWithIndex.toMap
    val cnt: Array[Long] = keys.map(classes).toArray
    // symmetric adjacency over existing classes: (brand, size ± delta);
    // a null brand matches no blow-up edge, so its class is isolated
    val adj: Array[Seq[Int]] = keys.map { case (b, sz) =>
      if (b == null) Seq.empty[Int]
      else deltas.flatMap(d => Seq(sz + d, sz - d)).distinct
        .flatMap(s2 => idx.get((b, s2)))
    }.toArray
    // k(q) = Σ adjacent members (every member of q has exactly that
    // degree); T = Σ_q |q|·k(q) — in-process integers, no jobs
    val kArr: Array[Long] = adj.map(_.map(q2 => cnt(q2)).sum)
    val t: Long = kArr.zip(cnt).map { case (k, c) => k * c }.sum
    // the vertex table is |parts| = Σ class counts rows: within the
    // probe bound it is collected and the sweeps run in-process
    val local =
      if (cnt.sum > Quotient.probeBound(s)) None
      else localVertices(parts, idx, cnt.sum)
    local.fold(distributedSweeps(s, parts, keys, kArr, adj, t, sweeps)) {
      case (ids, q) => localSweeps(s, ids, q, kArr, adj, t, sweeps)
    }
  }

  /** [[quotientBlowup]]'s distributed route: each sweep a few
    * vertex-scale aggregates over checkpointed frames. */
  private def distributedSweeps(s: SparkSession, parts: DataFrame,
      keys: Seq[(String, Long)], kArr: Array[Long], adj: Array[Seq[Int]], t: Long,
      sweeps: Int): DataFrame = {
    import s.implicits._
    val clsDf = keys.zipWithIndex
      .map { case ((b, sz), i) => (b, sz, i.toLong, kArr(i)) }
      .toDF("brand", "size", "q", "k")
    val adjDf = adj.zipWithIndex
      .flatMap { case (as, i) => as.map(a => (i.toLong, a.toLong)) }
      .toSeq.toDF("q", "qa") // qa adjacent to q: e(q, ·) sums m(qa, ·)
    // vertex state (id, q, k, label): the class stamp is a broadcast
    // join (the KTruss/Hits stamp pattern); initial label = own id
    Superstep.run { sc =>
      val st0 = sc.pin(parts
        .select(col("node").cast("long").as("id"), col("brand").as("pb"),
          col("size").cast("long").as("ps"))
        .join(broadcast(clsDf), $"pb" <=> $"brand" && $"ps" === $"size")
        .select($"id", $"q", $"k", $"id".as("label"))
        .repartition(col("id")), eager = false)
      val st = sc.rounds(st0, sweeps)(Seq(_)) { (st, done) =>
        val p = (done + 1) % 2
        // community state — one vertex-scale aggregate, eager so both
        // consumers below read blocks (and last sweep's broadcasts die)
        val cm = sc.pin(st.groupBy($"label")
          .agg(sum($"k").as("dsum"), count(lit(1)).as("csize")))
        // m(q, C) -> e(q, C) through the class adjacency
        val m = st.groupBy($"q", $"label").agg(count(lit(1)).as("mc"))
        val evc = m.select($"q".as("qa"), $"label".as("c"), $"mc")
          .join(broadcast(adjDf), "qa")
          .groupBy($"q", $"c").agg(sum($"mc").as("cnt"))
        val cand = evc.join(
          broadcast(cm.select($"label".as("c"), $"dsum".as("dc"), $"csize".as("sc"))),
          "c")
        // movers annotated with own-community state (broadcast joins
        // keep the id partitioning, so the argmax below never exchanges)
        val x = st.filter($"id" % 2 === lit(p.toLong))
          .join(broadcast(cm.select($"label", $"dsum".as("da"), $"csize".as("sa"))),
            "label")
          .join(broadcast(cand), "q")
        // IDENTICAL move rule as [[run]], in the same two hash-
        // aggregable passes (a struct-min argmax would SortAggregate
        // the full expansion — the q_profile lesson): pass 1 takes the
        // minimum negated gain + e_vA per mover and applies the
        // gain > 0 gate; pass 2 re-expands and takes min(c) among the
        // rows hitting that minimum — the (rawgain DESC, c ASC) order.
        val rawgain = $"cnt" * lit(t) + $"k" * ($"da" - $"dc" - $"k")
        val ng = -rawgain
        val allowed =
          $"c" =!= $"label" && !($"sa" === 1L && $"sc" === 1L && $"c" > $"label")
        val pass1 = x
          .groupBy($"id")
          .agg(min(when(allowed, ng)).as("mn"),
            max(when($"c" === $"label", $"cnt")).as("eva"))
          .filter($"mn".isNotNull &&
            (-$"mn") - coalesce($"eva", lit(0L)) * lit(t) > 0)
          .select($"id", $"mn")
        val moves = x
          .join(broadcast(pass1), "id")
          .filter(allowed && ng === $"mn")
          .groupBy($"id").agg(min($"c").as("new_label"))
        sc.pin(st
          .join(moves, Seq("id"), "left")
          .select($"id", $"q", $"k", coalesce($"new_label", $"label").as("label")))
      }
      st.select($"id", $"label")
    }
  }

  /** The vertex rows of [[quotientBlowup]]'s local route: each part's
    * id and class index, collected in one job. None — the distributed
    * route — when a node id is null or repeats, or when the rows no
    * longer match the probed class map. */
  private def localVertices(parts: DataFrame, idx: Map[(String, Long), Int],
      rows: Long): Option[(Array[Long], Array[Int])] = {
    val got = parts.select(col("node").cast("long"), col("brand"), col("size").cast("long"))
      .collect()
    val ids = got.map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    val q = got.map(r => idx.get((r.getString(1), r.getLong(2))))
    if (got.length != rows || ids.contains(None) || q.contains(None) ||
      ids.distinct.length != ids.length) None
    else Some((ids.map(_.get), q.map(_.get)))
  }

  /** [[quotientBlowup]]'s local route: the same sweeps over arrays.
    * Per sweep it builds the community state (D_C, S_C) and the class
    * counts m(q, C), sums e(q, C) over each mover's adjacent classes,
    * and applies the same gain algebra, singleton-swap guard, parity
    * schedule and (gain DESC, c ASC) tie order to every mover at once.
    * The arithmetic is exact (`Math.*Exact`), so an overflow throws as
    * it does under ANSI Spark, and the labels equal the distributed
    * sweeps' bit for bit. */
  private def localSweeps(s: SparkSession, ids: Array[Long], q: Array[Int],
      kArr: Array[Long], adj: Array[Seq[Int]], t: Long, sweeps: Int): DataFrame = {
    import scala.collection.mutable
    val n = ids.length
    val label = ids.clone()
    for (sweep <- 1 to sweeps) {
      val p = sweep % 2
      val dsum = mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
      val csize = mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
      val m = Array.fill(adj.length)(mutable.HashMap.empty[Long, Long].withDefaultValue(0L))
      for (i <- 0 until n) {
        dsum(label(i)) = Math.addExact(dsum(label(i)), kArr(q(i)))
        csize(label(i)) += 1
        m(q(i))(label(i)) += 1
      }
      // e(q, C), built once per class that has a mover this sweep
      val evc = mutable.HashMap.empty[Int, mutable.Map[Long, Long]]
      def e(cls: Int) = evc.getOrElseUpdate(cls, {
        val acc = mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
        for (qa <- adj(cls); (c, mc) <- m(qa)) acc(c) = Math.addExact(acc(c), mc)
        acc
      })
      val next = label.clone()
      for (i <- 0 until n if ids(i) % 2 == p) {
        val (a, k) = (label(i), kArr(q(i)))
        val (da, sa) = (dsum(a), csize(a))
        var best = Long.MaxValue
        var bestC = Long.MaxValue
        var found = false
        for ((c, cnt) <- e(q(i)) if c != a && !(sa == 1L && csize(c) == 1L && c > a)) {
          val gain = Math.addExact(Math.multiplyExact(cnt, t),
            Math.multiplyExact(k, Math.subtractExact(Math.subtractExact(da, dsum(c)), k)))
          val ng = Math.negateExact(gain)
          if (!found || ng < best || (ng == best && c < bestC)) {
            best = ng; bestC = c; found = true
          }
        }
        val eva = e(q(i)).getOrElse(a, 0L)
        if (found && Math.subtractExact(Math.negateExact(best), Math.multiplyExact(eva, t)) > 0)
          next(i) = bestC
      }
      System.arraycopy(next, 0, label, 0, n)
    }
    import scala.jdk.CollectionConverters._
    s.createDataFrame(ids.indices.map(i => Row(ids(i), label(i))).asJava,
      StructType(Seq(StructField("id", LongType), StructField("label", LongType))))
  }
}
