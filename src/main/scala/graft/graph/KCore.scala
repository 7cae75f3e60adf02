package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** k-core decomposition by iterative peeling: repeatedly drop every
  * vertex whose degree (within the surviving subgraph) is below k
  * until the vertex set is stable; return each core vertex with its
  * in-core degree.
  *
  * Scale shape (round-12 rework — delta peeling; round-14 rework —
  * lazy edge pinning): the loop maintains a VERTEX-sized degree
  * table instead of rewriting the edge set every round, and the edge
  * set is checkpointed AT MOST once — lazily, the first time the
  * cascade tail proves it will keep re-scanning it (see the
  * materialization note in [[run]]); a shallow cascade never pays the
  * edge-sized disk write at all. Each round
  * classifies the doomed vertices (deg < k) from the checkpointed
  * degree table, then either
  *   - BULK round (doomed is a large fraction of the survivors, i.e.
  *     the first cascade wave): induce the edge set on the survivors
  *     with two semi-joins, re-checkpoint it, and recompute degrees —
  *     the one edge-sized rewrite per cascade wave worth paying,
  *     because it shrinks every later scan; or
  *   - DELTA round (the long cascade tail, where each round removes
  *     a handful of vertices): join the edges against the broadcast
  *     doomed set on dst, count per-src losses, and subtract them
  *     from the degree table. Per-round work is one scan of the
  *     (already-pruned, disk-resident) edge set filtered map-side by
  *     a broadcast hash set plus a vertex-sized state update — no
  *     edge shuffle, no edge checkpoint, no edge-sized write.
  *
  * This cuts the cascade-tail round cost from (edge scan + edge
  * shuffle + edge-sized disk checkpoint write + read) to (edge scan +
  * tiny aggregation): the round-11 board's biggest sf1x absolute
  * (g_kcore, 84.5 s) was exactly the tail rounds paying full-edge
  * rewrites to remove single-digit vertex counts.
  *
  * Rounds are bounded by the peeling depth of the graph (≤ the
  * longest degeneracy cascade); every round strictly shrinks the
  * survivor set or terminates. Degree counts treat the input as a
  * bag (duplicate edges count twice), matching the original
  * groupBy-count semantics.
  *
  * DIRECTED input (the shipped keys feed symmetric edges, but the
  * API accepts any bag): degrees count only src occurrences, so a
  * vertex appearing ONLY as dst carries no degree row and can never
  * enter a doomed set — its incoming edges are invisible to delta
  * rounds. Round 1 therefore subtracts these SINK losses once (a
  * broadcast anti-join of the edge set against the degree table —
  * one extra edge scan, not an edge rewrite; bulk rounds handle
  * sinks for free via the alive semi-join, and round 1 is forced
  * bulk when the degree table is too big to broadcast). Without
  * this, results would depend on REWRITE_FRACTION scheduling
  * instead of the graph.
  */
object KCore {

  /** Edge checkpoints live on DISK: the edge set is the only
    * edge-sized state and at a bulk-round boundary two copies
    * coexist — at the 52M-edge sf1x rung in-memory copies
    * crowded the unified pool's protected storage region and starved
    * the degree aggregation (UNABLE_TO_ACQUIRE_MEMORY). The degree
    * table is VERTEX-sized (orders of magnitude smaller), so it
    * rides the default memory-first level. */
  private val EDGE_LEVEL = org.apache.spark.storage.StorageLevel.DISK_ONLY

  /** A round whose doomed set exceeds this fraction of the surviving
    * vertices runs as a bulk rewrite; below it, as a delta round. 1/8
    * keeps the edge set within ~2× of its induced size between
    * rewrites while letting the whole cascade tail run rewrite-free. */
  private val REWRITE_FRACTION = 8L

  /** Doomed sets above this row count are joined instead of broadcast
    * (a 4M-long broadcast is ~32 MB raw — fine; past that, let the
    * shuffle join handle it). In practice the REWRITE_FRACTION gate
    * fires long before this one at any realistic vertex count. */
  private[graph] val BROADCAST_CAP = 4L * 1000 * 1000

  /** One peel generation: the edge set (a lazy plan until `onDisk`),
    * the checkpointed degree table, its row count and how many of its
    * rows are doomed (deg < k) — both counted by the checkpoint's own
    * job. */
  private final case class Peel(edges: DataFrame, onDisk: Boolean, deg: DataFrame,
                                alive: Long, doomed: Long)

  def run(s: SparkSession, edges0: DataFrame, k: Int, maxIter: Int = 100): DataFrame = {
    import s.implicits._
    // k = 0 would make the bulk rounds' explicit deg=0 rows (see
    // below) permanent members of a "0-core" the original semantics
    // never defined — refuse the degenerate parameter loudly
    require(k >= 1, s"k-core needs k >= 1, got $k")
    Superstep.run { sc =>
      // the degree table's checkpoint job also counts its rows and its
      // doomed rows — the next round's bulk/delta decision and the halt
      def degTable(df: DataFrame): (DataFrame, Long, Long) = {
        val (cp, r) = sc.observe(df, Superstep.Memory,
          count(lit(1)), count(when($"deg" < k, lit(1))))
        (cp, r.getLong(0), r.getLong(1))
      }
      // LAZY edge materialization (round 14): the up-front edge-sized
      // DISK checkpoint is pure overhead when the cascade is shallow —
      // at the sf1x rung the widened part graph converges in ONE round,
      // so the old eager checkpoint wrote ~52M rows to disk that were
      // scanned back exactly once. The edge set stays a lazy plan until
      // a round proves repeated scans are coming: a bulk rewrite
      // checkpoints its PRUNED set (as before), and a delta round in
      // the cascade tail (round >= 1) checkpoints before scanning.
      // Until then each scan re-evaluates the (cheap, join-built) edge
      // plan — at most two extra evaluations, traded against an
      // edge-sized write + read-back.
      val plan = edges0
        .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      // lazy evaluation re-reads the edge PLAN up to three times
      // (degree build, round-0 delta scan, tail pin) — only sound when
      // every evaluation yields the same rows. An unstable input plan
      // is pinned eagerly instead (probe single-sourced in
      // [[PlanStability]] — see there for what it can and cannot see;
      // the residual contract on edges0 is leaf determinism on
      // re-scan, and every in-repo caller feeds parquet scans or
      // checkpointed frames).
      val unstable = PlanStability.isUnstable(edges0)
      val edges = if (unstable) sc.pin(plan, EDGE_LEVEL) else plan
      val (deg0, alive0, doomed0) =
        degTable(edges.groupBy($"src".as("node")).agg(count(lit(1)).as("deg")))
      val last = sc.loop(Peel(edges, unstable, deg0, alive0, doomed0), maxIter,
          (p: Peel) => s"k-core peeling (${p.alive} vertices still cascading)")(
          p => Seq(p.edges, p.deg))(
          // round 0 always runs: it subtracts the sink losses
          (p, done) => p.alive == 0L || (done > 0 && p.doomed == 0L)) { (p, done) =>
        val doomed = p.deg.filter($"deg" < k).select($"node")
        if ((done == 0 && p.alive > BROADCAST_CAP) ||
          p.doomed * REWRITE_FRACTION > p.alive || p.doomed > BROADCAST_CAP) {
          // bulk wave: induce the edge set on the survivors and restart
          // the degree table from it. Survivors whose induced
          // OUT-degree hits 0 must keep an EXPLICIT deg=0 row (left
          // join, not the bare groupBy): on directed input such a
          // vertex can still carry surviving IN-edges, and if it
          // silently left the table no doomed set could ever name it —
          // its in-edges would inflate other survivors' degrees forever
          // and the loop could converge on a wrong core (symmetric
          // input cannot create one-sided sinks, so the shipped keys
          // never hit this). With the row kept, the vertex is doomed
          // next round and the delta machinery subtracts its in-edges
          // like any other casualty.
          val alive = p.deg.filter($"deg" >= k).select($"node")
          val pruned = sc.pin(p.edges
            .join(alive.select($"node".as("src")), Seq("src"), "left_semi")
            .join(alive.select($"node".as("dst")), Seq("dst"), "left_semi"), EDGE_LEVEL)
          val (deg2, n, d) = degTable(alive
            .join(pruned.groupBy($"src".as("node")).agg(count(lit(1)).as("deg")),
              Seq("node"), "left")
            .select($"node", coalesce($"deg", lit(0L)).as("deg")))
          Peel(pruned, onDisk = true, deg2, n, d)
        } else {
          // delta round: per-survivor losses = edges into the doomed
          // set (inner join keeps bag multiplicity; the doomed set is
          // distinct by construction — it comes out of a groupBy).
          // A tail delta round (round >= 1) is the signal that the
          // cascade will keep re-scanning the same edge set — pin it
          // to disk now if it is still a lazy plan.
          val pinNow = done >= 1 && !p.onDisk
          val edges = if (pinNow) sc.pin(p.edges, EDGE_LEVEL) else p.edges
          val lostEdges =
            if (done > 0)
              edges.join(broadcast(doomed.select($"node".as("dst"))), Seq("dst"))
            else
              // round 1 only: edges are lost to the doomed set OR to
              // PURE SINKS (dst with no degree row — see object doc).
              // Both lookups are broadcast hash joins pipelined into
              // ONE whole-stage-codegen pass over the edge set
              // (broadcastability of deg is guarded by the
              // bulk-forcing condition above).
              edges
                .join(broadcast(doomed.select($"node".as("dst"), lit(true).as("__doomed"))),
                  Seq("dst"), "left")
                .join(broadcast(p.deg.select($"node".as("dst"), lit(true).as("__hasdeg"))),
                  Seq("dst"), "left")
                .filter(coalesce($"__doomed", lit(false)) || $"__hasdeg".isNull)
          val deltas = lostEdges
            .groupBy($"src".as("node")).agg(count(lit(1)).as("lost"))
          val (deg2, n, d) = degTable(p.deg
            .join(broadcast(doomed), Seq("node"), "left_anti")
            .join(deltas, Seq("node"), "left")
            .select($"node", ($"deg" - coalesce($"lost", lit(0L))).as("deg")))
          Peel(edges, p.onDisk || pinNow, deg2, n, d)
        }
      }
      // the result reads the degree table alone — the run frees any
      // edge blocks as it returns
      last.deg.select($"node", $"deg".as("core_degree"))
    }
  }
}
