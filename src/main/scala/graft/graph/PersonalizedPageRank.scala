package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Fixed-iteration PERSONALIZED PageRank: random walk with restart to
  * a seed set — r(v) = (1−α)·p(v) + α·Σ_{u→v} r(u)/outdeg(u), where
  * the teleport vector p is uniform over the seeds (1/|S|) and zero
  * elsewhere (α = 0.85, the [[PageRank]] damping). The relevance /
  * recommendation primitive: "rank everything by proximity to THESE
  * entities" — nodes unreachable from the seed set get rank exactly 0.
  *
  * Determinism contract (mirrored by the unrolled DuckDB oracle): the
  * update is computed as r(v) = α · Σ_dec(contribs), where the
  * per-edge contributions r(u)/outdeg(u) AND a static per-node
  * teleport row p(v)/α each quantize to DECIMAL(28,12) before the
  * exact, order-free decimal sum — algebraically identical to
  * (1−α)p + αΣ, and it lets the teleport ride the SAME aggregation as
  * the messages: each round is one co-partitioned join + one
  * partial-aggregable decimal sum, nothing else. A separate
  * teleport join per round cost a full extra stage chain.
  *
  * Scale shape: the (src, dst, outdeg) message graph is derived once,
  * cached partitioned-and-sorted on src (so the per-round sort-merge
  * join neither exchanges nor re-sorts the edge side); the rank
  * vector exits each round hash-partitioned on the vertex key, so the
  * next round's join is again exchange-free; localCheckpoint per
  * round truncates lineage. The rank vector stays distributed (seed
  * sets are small; the RANKED set is the whole graph).
  *
  * Node domain: nodes appearing as an edge source (every node of a
  * bidirectional graph). Seeds outside the graph still divide the
  * teleport mass but receive no rank row — callers wanting them must
  * union isolated vertices in.
  */
object PersonalizedPageRank {
  private val M = DecimalType(28, 12)

  /** Round-loop storage: the per-round rank checkpoint is EAGER on
    * DISK and the [[Superstep]] driver frees the previous round's
    * blocks as soon as the successor materializes —
    * non-eager in-memory checkpoints let iters generations of
    * vertex-sized blocks (plus the edge checkpoint) pile into the
    * unified pool at the final action, the sf1x 48g-driver failure
    * (SCALING.md footnote ³). The loop-long tables (edges, teleport
    * rows) sit on DISK too: each is streamed once per round, so disk
    * I/O trades for pool headroom at any edge count. */
  private val ROUND_LEVEL = org.apache.spark.storage.StorageLevel.DISK_ONLY

  /** @param seeds single column "node"; deduplicated here. */
  def run(s: SparkSession, edges: DataFrame, seeds: DataFrame, iters: Int): DataFrame = {
    // The SLIM 2-column edge list is the only big table, checkpointed
    // once hash-partitioned on src. outdeg does NOT ride the edges
    // (that tripled the cached bytes and forced a second edge-wide
    // materialization) — it rides the VERTEX-sized rank vector and is
    // re-derived each round by the same aggregation that sums the
    // messages (max over the teleport rows, which carry it).
    Superstep.run { sc =>
      val e = sc.pin(edges.select(col("src"), col("dst")).repartition(col("src")),
        ROUND_LEVEL, eager = false)
      val deg = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("outdeg"))
      val sd = sc.pin(seeds.select(col("node").cast("long").as("node")).distinct(),
        eager = false)
      val nSeeds = sd.count()
      require(nSeeds > 0, "personalized PageRank needs at least one seed")
      val base = 0.15 / nSeeds.toDouble
      val vstate = sc.pin(deg
        .join(sd.withColumn("__seed", lit(1)), Seq("node"), "left")
        .select(col("node"), col("outdeg"),
          when(col("__seed").isNotNull, lit(base)).otherwise(lit(0.0)).as("teleport"))
        .repartition(col("node")), ROUND_LEVEL, eager = false)
      // static teleport contribution rows (p(v)/α, quantized like any
      // other contribution), carrying each node's outdeg through the
      // round aggregation
      val tpRows = sc.pin(vstate.select(col("node").as("dst"),
          (col("teleport") / lit(0.85)).cast(M).as("contrib"), col("outdeg")),
        ROUND_LEVEL, eager = false)
      val ranks0 = sc.pin(vstate.select(col("node"), col("outdeg"), col("teleport").as("rank")),
        ROUND_LEVEL)
      val ranks = sc.rounds(ranks0, iters)(Seq(_)) { (ranks, _) =>
        // shuffle_hash: build the vertex-sized side, STREAM the edges —
        // no per-round sort of the edge table (sort-merge re-sorted it
        // every round); both sides exit hash-partitioned on the join
        // key (checkpoint preserves partitioning), so there is no
        // exchange either. The single shuffle per round is the message
        // aggregation, and the union makes it compute teleport + rank
        // + outdeg in one pass.
        sc.pin(e.join(ranks.hint("shuffle_hash"), e("src") === ranks("node"))
          .select(e("dst"), (ranks("rank") / ranks("outdeg")).cast(M).as("contrib"),
            lit(null).cast("long").as("outdeg"))
          .union(tpRows)
          .groupBy(col("dst"))
          .agg(sum(col("contrib")).as("ms"), max(col("outdeg")).as("outdeg"))
          .select(col("dst").as("node"), col("outdeg"),
            (lit(0.85) * col("ms").cast("double")).as("rank")), ROUND_LEVEL)
      }
      sc.pin(ranks.select(col("node"), col("rank")))
    }
  }

  /** REFINED-QUOTIENT fast path for the bidirectional (brand,
    * size ± 1) blow-up of a `(node, brand, size, is_seed)` vertex
    * table with its probed class map. The seed set breaks plain class
    * symmetry (two nodes of one class can differ in teleport), but
    * REFINING each class by the seed flag restores it. Within a
    * refined class c = (brand, size, is_seed):
    *
    *   - teleport is constant (base if is_seed else 0);
    *   - outdeg is constant — Σ |(brand, size ± 1)|, a function of
    *     the UNREFINED class (the flag doesn't change neighbors);
    *   - the in-neighbor multiset is constant — ALL members of the
    *     adjacent classes, both flavors.
    *
    * By induction every round's rank is a refined-class function, and
    * the distributed loop's per-edge quantized message sum collapses
    * exactly: n identical DECIMAL(28,12) contributions sum to
    * contribution × n (integer BigDecimal multiply — exact). The
    * whole iteration runs in-process over ≤ 2·|classes| entries off
    * ONE bounded groupBy collect (the seed COUNTS ride the groupBy;
    * seed IDS are never collected — at fact scale the seed set is
    * fact-sized, only its per-class histogram is domain-bounded), and
    * one broadcast stamp join emits (node, rank). Bit-identical to
    * [[run]]'s distributed loop: same Decimal double→(28,12) HALF_UP
    * per contribution, same once-quantized teleport/α row, same
    * exact decimal sums, same final 0.85 · sum.doubleValue
    * (QuotientPropertySpec on random class graphs with RANDOM seed
    * flags + RoundEightOpsSpec on both shipped SFs). */
  private[graph] def quotientRefined(s: SparkSession,
      classes: Map[(String, Long), Long], parts: DataFrame,
      iters: Int): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{BooleanType, Decimal, DoubleType, LongType, StringType, StructField, StructType}
    import scala.collection.mutable
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.functions.{broadcast, col, count, lit}
    // each probed class splits into at most two refined ones
    val bound = 2 * classes.size
    val cls: Map[(String, Long, Boolean), Long] = {
      val rows = parts.groupBy(col("brand"), col("size"), col("is_seed"))
        .agg(count(lit(1)).as("cnt"))
        .limit(bound + 1).collect()
      require(rows.length <= bound,
        s"refined class graph exceeds twice the ${classes.size} probed classes")
      rows.map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)) -> r.getLong(3)).toMap
    }
    val cnt = cls.withDefaultValue(0L)
    val nSeeds = cls.collect { case ((_, _, true), n) => n }.sum
    require(nSeeds > 0, "personalized PageRank needs at least one seed")
    val base = 0.15 / nSeeds.toDouble
    def outdeg(b: String, sz: Long): Long =
      Seq(-1L, 1L).map(d => cnt((b, sz + d, true)) + cnt((b, sz + d, false))).sum
    // sources = refined classes with ≥1 neighbor member (the deg-node
    // domain of the distributed loop; the graph is bidirectional, so
    // sources and receivers coincide and the domain is round-stable)
    val sources = cls.keys.filter { case (b, sz, _) => outdeg(b, sz) > 0 }.toSeq
    val q12 = (x: Double) => {
      val d = Decimal(x); d.changePrecision(28, 12); d.toJavaBigDecimal
    }
    val tp: Map[(String, Long, Boolean), java.math.BigDecimal] =
      sources.map { case c @ (_, _, f) =>
        c -> q12((if (f) base else 0.0) / 0.85)
      }.toMap
    var rank: mutable.HashMap[(String, Long, Boolean), Double] =
      mutable.HashMap(sources.map { case c @ (_, _, f) =>
        c -> (if (f) base else 0.0)
      }: _*)
    for (_ <- 1 to iters) {
      val msg = mutable.HashMap.empty[(String, Long, Boolean), java.math.BigDecimal]
      tp.foreach { case (c, v) => msg.update(c, v) }
      rank.foreach { case (c @ (b, sz, _), rk) =>
        val contrib = q12(rk / outdeg(b, sz))
        val total = contrib.multiply(java.math.BigDecimal.valueOf(cnt(c)))
        for (d <- Seq(-1L, 1L); f2 <- Seq(true, false)) {
          val tgt = (b, sz + d, f2)
          if (cnt(tgt) > 0L)
            msg.update(tgt,
              msg.getOrElse(tgt, java.math.BigDecimal.ZERO).add(total))
        }
      }
      val next = mutable.HashMap.empty[(String, Long, Boolean), Double]
      msg.foreach { case (c, m) => next.update(c, 0.85 * m.doubleValue) }
      rank = next
    }
    val rows = rank.toSeq.map { case ((b, sz, f), r) => Row(b, sz, f, r) }
    val schema = StructType(Seq(StructField("brand", StringType),
      StructField("size", LongType), StructField("is_seed", BooleanType),
      StructField("rank", DoubleType)))
    parts.join(broadcast(s.createDataFrame(rows.asJava, schema)),
        Seq("brand", "size", "is_seed"))
      .select(col("node"), col("rank"))
  }
}
