package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** HITS (hubs & authorities, Kleinberg 1999) as a fixed-iteration
  * DataFrame program over a DIRECTED edge list, L1-normalized every
  * round so scores stay in [0,1] at ANY graph size (an unnormalized
  * power iteration would overflow any fixed-precision carrier once
  * per-node degrees grow — the 100 TB failure mode).
  *
  * Determinism contract (PageRank's, applied twice per round): each
  * message is quantized to DECIMAL(28,12) BEFORE the per-vertex sum
  * (exact, order-independent), the L1 total is the exact decimal sum
  * of those per-vertex sums, and the normalized score is ONE IEEE
  * division of two deterministic decimal→double casts:
  *
  *   a_i(v) = dbl(Σ_{u→v} Dec(h_{i−1}(u))) / dbl(Σ_v Σ_{u→v} Dec(h_{i−1}(u)))
  *   h_i(u) = dbl(Σ_{u→v} Dec(a_i(v)))    / dbl(Σ_u Σ_{u→v} Dec(a_i(v)))
  *
  * The DuckDB oracle unrolls the same K rounds and matches by hash.
  *
  * Scale shape: two key-partitioned shuffles per round (a-sum on dst,
  * h-sum on src) plus two ONE-ROW total broadcasts; the edge list is
  * computed once and persisted; scores are localCheckpoint-ed per
  * round to truncate lineage. Nodes outside the iteration's support
  * (sinks for hub, sources for authority) re-enter at the end with
  * exact-zero scores via the node-set left join.
  */
object Hits {
  private val M = org.apache.spark.sql.types.DecimalType(28, 12)
  private val S = org.apache.spark.sql.types.DecimalType(38, 12)

  import Quotient.q12

  /** QUOTIENT fast path over the directed size-up (+1) blow-up of a
    * `(node, brand, size)` vertex table with its probed class map:
    * size-up class edges, [[quotientScores]], one broadcast-join
    * stamp onto `parts`. */
  private[graph] def quotientBlowup(s: org.apache.spark.sql.SparkSession,
      sizes: Map[(String, Long), Long], parts: DataFrame, iters: Int): DataFrame = {
    val edges = sizes.keys.toSeq
      .filter { case (b, sz) => sizes.contains((b, sz + 1)) }
      .map { case (b, sz) => ((b, sz), (b, sz + 1)) }
    val scores = quotientScores(sizes, edges, iters)
    val rows = scores.toSeq.map { case ((b, sz), (hub, auth)) => (b, sz, hub, auth) }
    val classDF = s.createDataFrame(rows).toDF("brand", "size", "hub", "authority")
    parts
      .join(broadcast(classDF), Seq("brand", "size"))
      .select(col("node"), col("hub"), col("authority"))
  }

  /** CLASS-level HITS — the quotient fast path for graphs whose
    * edges are all-pairs between attribute classes (the size-up rule:
    * every part in (brand, s) points at every part in (brand, s+1)).
    * On such graphs hub/authority are pure functions of the CLASS, so
    * the K rounds run in-process over the dimension-bounded class
    * graph with multiplicity weights; [[run]]'s arithmetic is
    * replicated EXACTLY — summing size(c) copies of one quantized
    * decimal is multiplication by an integer, the L1 totals weight by
    * class size the same way, and each normalization is the same one
    * IEEE division of two correctly-rounded decimal→double casts —
    * so the stamped per-node scores are bit-identical to the
    * distributed loop's (spec-pinned).
    *
    * @param classSizes class → member count (every class, ≥ 1).
    * @param edges      directed CLASS edges (each class pair once;
    *                    part-level multiplicity = size(src)·size(dst)).
    * @return class → (hub, authority); classes with no outgoing edge
    *         have hub 0.0, with no incoming authority 0.0. Only
    *         classes touching an edge appear (isolated classes are
    *         not graph nodes). */
  def quotientScores[C](classSizes: Map[C, Long], edges: Seq[(C, C)],
      iters: Int): Map[C, (Double, Double)] = {
    val bySrc = edges.groupBy(_._1)
    val byDst = edges.groupBy(_._2)
    val sources = bySrc.keySet
    val sinks = byDst.keySet
    var h: Map[C, Double] = sources.map(_ -> 1.0).toMap
    var a: Map[C, Double] = Map.empty
    for (_ <- 1 to iters) {
      val araw: Map[C, BigDecimal] = byDst.map { case (c, es) =>
        c -> es.map { case (c1, _) => q12(h(c1)) * BigDecimal(classSizes(c1)) }.sum
      }
      val atot = araw.iterator.map { case (c, v) => v * BigDecimal(classSizes(c)) }.sum
      a = araw.map { case (c, v) => c -> v.doubleValue / atot.doubleValue }
      val hraw: Map[C, BigDecimal] = bySrc.map { case (c, es) =>
        c -> es.map { case (_, c2) => q12(a(c2)) * BigDecimal(classSizes(c2)) }.sum
      }
      val htot = hraw.iterator.map { case (c, v) => v * BigDecimal(classSizes(c)) }.sum
      h = hraw.map { case (c, v) => c -> v.doubleValue / htot.doubleValue }
    }
    (sources ++ sinks).iterator.map { c =>
      c -> (h.getOrElse(c, 0.0), a.getOrElse(c, 0.0))
    }.toMap
  }

  /** Round-loop storage: per-round score checkpoints are EAGER on
    * DISK and the [[Superstep]] driver frees the previous round's
    * blocks as soon as the successor materializes.
    * Non-eager in-memory checkpoints deferred every round's
    * materialization to the final action, at which point iters
    * generations of vertex-sized blocks coexisted in the unified pool
    * — the sf1x 48g-driver failure (SCALING.md footnote ³). The
    * eager checkpoint costs one job per half-round; the loop is now
    * memory-bounded at any graph size. */
  private val ROUND_LEVEL = org.apache.spark.storage.StorageLevel.DISK_ONLY

  /** @param edges directed (src, dst); duplicates allowed (multi-edges
    *              count multiply, same as the oracle).
    * @param iters full hub+authority update rounds (K).
    * @return (node, hub, authority) — every node appearing as src or
    *         dst; sinks have hub 0.0, sources authority 0.0. */
  def run(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"HITS needs at least one round, got $iters")
    Superstep.run { sc =>
      val e = sc.persist(edges.select(col("src"), col("dst")), ROUND_LEVEL)
      val nodes = sc.pin(e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct(), eager = false)
      // h lives only on potential hubs (sources), a only on potential
      // authorities (sinks) during the loop — the zero rows would never
      // contribute a message, so they join back once at the end.
      val h0 = sc.pin(e.select(col("src").as("node")).distinct()
        .select(col("node"), lit(1.0).as("h")), ROUND_LEVEL)
      // one L1-normalized half-round: raw = Σ_dec over `msgs`' (key, c)
      // rows, score = dbl(raw) / dbl(Σ raw). The raw table checkpoints
      // lazily (its blocks are written while the eager score below
      // materializes, which reads it once more through the broadcast
      // total); the driver frees it with the round.
      def normalized(msgs: DataFrame, score: String): DataFrame = {
        val raw = sc.pin(msgs.groupBy(col("key")).agg(sum(col("c")).cast(S).as("raw")),
          ROUND_LEVEL, eager = false)
        val tot = raw.agg(sum(col("raw")).cast(S).as("tot"))
        sc.pin(raw.crossJoin(broadcast(tot))
          .select(col("key").as("node"),
            (col("raw").cast("double") / col("tot").cast("double")).as(score)), ROUND_LEVEL)
      }
      val (a, h) = sc.rounds((Option.empty[DataFrame], h0), iters)(st => st._1.toSeq :+ st._2) {
        case ((_, h), _) =>
          val a = normalized(e.join(h, e("src") === h("node"))
            .select(e("dst").as("key"), col("h").cast(M).as("c")), "a")
          (Some(a), normalized(e.join(a, e("dst") === a("node"))
            .select(e("src").as("key"), col("a").cast(M).as("c")), "h"))
      }
      sc.pin(nodes
        .join(h, Seq("node"), "left")
        .join(a.get, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("h"), lit(0.0)).as("hub"),
          coalesce(col("a"), lit(0.0)).as("authority")))
    }
  }
}
