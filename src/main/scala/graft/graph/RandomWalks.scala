package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic random-walk sampling (SURVEY §2 A25) — the corpus
  * generator for skip-gram graph embeddings (DeepWalk/node2vec
  * style): from each seed, walk `steps` hops, choosing the next hop
  * pseudo-randomly but REPRODUCIBLY from the current node's sorted
  * neighbor list. Cross-engine determinism comes from an explicit
  * LCG-style index formula instead of an engine RNG:
  *
  *   idx(node, t) = (((node mod 2^31−1) * 1103515245 + t * 12345) mod 2^31−1) mod deg(node)
  *
  * (all exact BIGINT arithmetic: the node id is pre-reduced mod
  * 2^31−1 BEFORE the multiply, bounding the product at ~2^61 — no
  * overflow for ANY long node id, where the unreduced product would
  * wrap negative past ~8.4e9 and a sign-preserving % would then make
  * the positional join silently match nothing. Every intermediate is
  * non-negative (pmod), so DuckDB reproduces every hop bit-for-bit;
  * the walk is a pure function of the graph, not of partitioning or
  * schedule).
  *
  * Scale shape (round-13 rework — the KCore.scala pay-once
  * discipline applied to walks): the hop choice idx(node, t) depends
  * only on (node, t), NOT on which walk is standing on the node — so
  * the picked neighbor for every (node, t) pair is precomputed in a
  * SINGLE pass over the adjacency and the per-hop work never touches
  * the edge set again. Adjacency is ranked POSITIONALLY as (src, pos,
  * dst, deg) — pos = rank of dst in the node's sorted distinct
  * neighbor list, deg from the SAME window pass (one sort, sort-based
  * and spilling; never a collect_list neighbor array, whose
  * degree-sized aggregation buffer under a single key is exactly the
  * celebrity-hub failure the capped dedup posting lists avoid) — and
  * each edge row keeps the hop numbers t ∈ [1, steps] whose LCG index
  * lands on its pos: a codegen'd `filter(sequence(1, steps), …)`
  * residual, ≤ steps survivors per NODE. The surviving (node, t,
  * next) PICK TABLE is ≤ steps·|V| rows — vertex-scale, not
  * edge-scale — and is the only thing checkpointed and the only thing
  * the hop loop reads. Each hop is one broadcast-frontier equi-join
  * against the pick table's step-t slice; total cost is O(E log E)
  * once (the ranking window) + O(steps·V) for all hops combined,
  * where the previous shape paid an E-sized checkpoint write plus a
  * full E-scan join per hop (O(steps·E)). The former shape read
  * 62.8 s at the 52M-edge sf1x rung with steps = 3; the E-scans it
  * paid per hop are exactly what this removes. Each wave is still
  * checkpointed (seed-sized): hop t+1 and the final union read
  * materialized blocks, so an unbroken lineage can never re-execute
  * hop k in every wave ≥ k of the union. Walks that reach a sink node
  * simply end (inner join), same as the reference BFS treating
  * missing adjacency as absence (main.py:272-305's neighbor lookups).
  */
object RandomWalks {

  /** Walk `steps` hops from every seed. `edges(src, dst)` directed
    * (pass a bidirectional edge set for undirected semantics);
    * `seeds(seed)` one row per walk start. Returns
    * (seed, step, node) for step 0..steps, one walk per seed. */
  def run(s: SparkSession, edges: DataFrame, seeds: DataFrame, steps: Int): DataFrame = {
    require(steps >= 0, s"steps must be >= 0, got $steps")
    Superstep.run { sc =>
      val cur = sc.pin(seeds.select(col("seed").cast("long").as("seed"),
        col("seed").cast("long").as("node"), lit(0L).as("step")))
      // sequence(1, 0) would DESCEND ([1, 0]) — never build it
      if (steps == 0) cur else walkWithPicks(sc, sc.pin(runPicks(edges, steps)), cur, steps)
    }
  }

  /** The general-edge pick table: one window ranking pass over the
    * edge set (see the object comment — this is the round-14 shape,
    * unchanged, now shared with the quotient route's hop loop). Its
    * ≤ steps·|V| rows are vertex-scale, so the caller pins them in
    * eager in-memory blocks (the round-12 DISK_ONLY note applies to
    * the EDGE-scale checkpoint this table replaces). */
  private def runPicks(edges: DataFrame, steps: Int): DataFrame = {
    // pick table: for each node and hop t, THE one neighbor the LCG
    // selects — one pass over the positionally-ranked adjacency. pos
    // is the 0-based rank of dst among the node's distinct neighbors
    // sorted ascending (element pos of the sorted neighbor list,
    // without ever materializing the list), deg from the same window
    // spec (full-frame count shares the one partition sort). The
    // residual keeps an edge row iff SOME t ∈ [1, steps] picks its
    // pos; lambda arithmetic matches the documented formula exactly
    // (src is BIGINT so the product is BIGINT; t·12345 ≤ steps·12345
    // never overflows INT for any sane steps).
    // ONE exchange + ONE sort for the whole ranking (round 14): the
    // old shape paid distinct()'s (src, dst) hash exchange AND the
    // window's src exchange + sort back to back — but inside the
    // window's own (src, dst) sort, a duplicate edge is simply a row
    // equal to its predecessor, so the null-safe lag comparison
    // dedups in the same pass (bit-identical to distinct, including
    // equal-null collapsing) and the rank/degree windows reuse the
    // sort the dedup rode in on. The lag wraps dst in a STRUCT for
    // the first-row guard (round-15, advice): a bare lag yields null
    // at the partition head, and null <=> a null dst is TRUE — the
    // one surviving copy of a (src, null) edge would be dropped. A
    // lagged one-field struct is null ONLY when there is no previous
    // row (a struct whose field is null is itself non-null), and
    // struct comparison treats equal-null FIELDS as equal — exactly
    // distinct()'s grouping — so one null-safe struct comparison is
    // both the guard and the dedup.
    val byNode = Window.partitionBy(col("src")).orderBy(col("dst"))
    edges
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .withColumn("__dup",
        lag(struct(col("dst")), 1).over(byNode) <=> struct(col("dst")))
      .where(!col("__dup"))
      .withColumn("pos", row_number().over(byNode) - 1)
      .withColumn("deg", count(lit(1)).over(
        byNode.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("ts", expr(
        s"filter(sequence(CAST(1 AS BIGINT), CAST($steps AS BIGINT)), t -> pmod(pmod(src, 2147483647) * 1103515245 + t * 12345, 2147483647) % deg = CAST(pos AS BIGINT))"))
      .where(size(col("ts")) > 0)
      // uniquely-named projection: the loop joins cur (whose lineage
      // contains picks from earlier hops) back against it, so shared
      // column names would be ambiguous self-join references
      .select(col("src").as("__pk_src"), explode(col("ts")).as("__pk_t"),
        col("dst").as("__pk_dst"))
  }

  /** The shared hop loop: `picks(__pk_src, __pk_t, __pk_dst)` — THE
    * neighbor node `__pk_src` hops to at step `__pk_t` — drives every
    * wave; `cur` is the checkpointed step-0 wave. */
  private def walkWithPicks(sc: Superstep, picks: DataFrame, wave0: DataFrame,
                            steps: Int): DataFrame =
    sc.rounds(Seq(wave0), steps)(identity) { (waves, _) =>
      val t = waves.length.toLong
      // broadcast-frontier equi-join against the step-t slice of the
      // vertex-scale pick table — the edge set is never re-read
      waves :+ sc.pin(waves.last.join(picks,
          col("node") === col("__pk_src") && col("__pk_t") === lit(t))
        // seed-sized; makes hop t+1 AND the final union read blocks —
        // an unbroken lineage would re-execute hop k in every wave
        // ≥ k of the union
        .select(col("seed"), col("__pk_dst").as("node"), lit(t).as("step")))
    }.reduce(_ union _)

  /** Blow-up walk (round 16): when the edge set IS the
    * (brand, size ± δ) rule — [[GraphBuilder.partEdgesWide]] by
    * construction — the pick table never needs the edge set either.
    * A node's sorted distinct neighbor list is the id-sorted union of
    * its adjacent classes' member sets (disjoint: a member has ONE
    * size), so the positional rank every pick needs comes from a
    * VERTEX-scale window: each member m of class (b, s) is re-keyed
    * once per offset to the (b, s ∓ δ) classes it is a neighbor OF,
    * and row_number over (brand, target size | member id) is exactly
    * the engine's pos — 2·|deltas|·V rows sorted instead of the
    * E = Σ|class|·|adjacent classes| edge ranking (52M rows at sf1x).
    * deg(n) is the target-class group count from the same pass. The
    * LCG index formula and the hop loop are byte-identical to the
    * engine's ([[walkWithPicks]] is shared); equality is pinned by
    * QuotientPropertySpec on random class graphs.
    *
    * @param parts (node, brand, size) — the blow-up vertex table
    * @param deltas size-edit offsets (±each), e.g. Seq(1, 2) */
  def blowupRun(s: SparkSession, parts: DataFrame, seeds: DataFrame,
                steps: Int, deltas: Seq[Long]): DataFrame = {
    require(steps >= 0, s"steps must be >= 0, got $steps")
    Superstep.run { sc =>
      val cur = sc.pin(seeds.select(col("seed").cast("long").as("seed"),
        col("seed").cast("long").as("node"), lit(0L).as("step")))
      if (steps == 0) cur else {
        val v = parts.select(col("node").cast("long").as("node"), col("brand"),
          col("size").cast("long").as("size"))
        // membership rows: m ∈ (b, s) is in the neighbor union of classes
        // (b, s ∓ δ) — one row per (member, offset), vertex-scale
        val offsets = deltas.flatMap(d => Seq(d, -d)).distinct
        val unionRows = offsets.map { d =>
          v.select(col("brand"), (col("size") + lit(d)).as("tsize"),
            col("node").as("member"))
        }.reduce(_ union _)
        val byTgt = org.apache.spark.sql.expressions.Window
          .partitionBy(col("brand"), col("tsize")).orderBy(col("member"))
        val pos = unionRows.withColumn("pos", row_number().over(byTgt) - 1)
        // deg is a CLASS function (|neighbor union| of the target class)
        // — a class-scale aggregate stamped onto the node side first, so
        // the LCG index is a pure node-side column and the pick lookup
        // below stays a real equi-join on (brand, size, idx), never a
        // class-keyed join with a both-sides residual
        val degs = unionRows.groupBy(col("brand"), col("tsize"))
          .agg(count(lit(1)).as("deg"))
          .select(col("brand").as("db"), col("tsize").as("ds"), col("deg"))
        val nodeT = v
          .join(degs, col("brand") === col("db") && col("size") === col("ds"))
          .select(col("node"), col("brand"), col("size"),
            explode(expr(s"sequence(CAST(1 AS BIGINT), CAST($steps AS BIGINT))")).as("t"),
            col("deg"))
          .withColumn("idx",
            expr("pmod(pmod(node, 2147483647) * 1103515245 + t * 12345, 2147483647) % deg"))
        val picks = nodeT.join(pos,
            nodeT("brand") === pos("brand") && nodeT("size") === pos("tsize") &&
              nodeT("idx") === pos("pos"))
          .select(nodeT("node").as("__pk_src"), col("t").as("__pk_t"),
            col("member").as("__pk_dst"))
        walkWithPicks(sc, sc.pin(picks), cur, steps)
      }
    }
  }
}
