package graft.graph

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** k-truss decomposition by INCREMENTAL edge peeling: enumerate every
  * triangle ONCE, then repeatedly drop edges whose support (number of
  * still-alive triangles through them) is below k−2, subtracting the
  * supports lost with each newly-dead triangle — never re-enumerating.
  * Returns each surviving canonical edge with its in-truss support.
  * The truss is the edge-analog of the k-core (cohesive-subgraph
  * mining; KCore peels vertices by degree, this peels edges by
  * triangle membership) — a strictly stronger cohesion filter, since
  * every k-truss edge lies in a (k−1)-core but not vice versa.
  *
  * Scale shape:
  *   1. Triangle enumeration (once) uses the degree-ordering
  *      orientation — each canonical edge is directed from its
  *      lower-(deg, id) endpoint, making the graph a DAG where every
  *      triangle has exactly ONE out-degree-2 apex (counted once, no
  *      /3 fixups) and wedge fan-out at any node is bounded by its
  *      OUT-degree ≤ O(√m) — the celebrity-node d² blowup the plain
  *      wedge join suffers cannot happen (same orientation trick as
  *      the GraphX/Cohen triangle-count literature).
  *   2. Each peel round does NO triangle re-enumeration (the round-5
  *      design re-ran the wedge join every round — ~60% of g_ktruss
  *      time): dead-triangle detection is one equi-join of the
  *      3-rows-per-triangle edge list against the (usually tiny,
  *      AQE-broadcastable) newly-dropped edge set, support repair is
  *      one partial-aggregable count over the dead triangles'
  *      surviving edges, and everything is shuffle-partitioned
  *      equi-join work — no driver state, no disjunctive join.
  *   3. The alive edge set and cumulative dropped set are
  *      checkpointed every round by the [[Superstep]] driver (lineage
  *      stays one round deep); the count of edges the next round
  *      drops rides the alive checkpoint's own job.
  *
  * Correctness of the decrement: a triangle dies in exactly the round
  * its FIRST edge(s) drop (triangles with a previously-dropped edge
  * are filtered out), and in that round it decrements each of its
  * edges that did not itself just drop — so after every round,
  * support(e) = #triangles whose three edges are all still alive,
  * exactly what full re-enumeration would compute. Like KCore, a
  * mid-peel edge set is NOT the k-truss: non-converged loops throw
  * rather than return quietly-wrong rows (the SQL oracle's bounded
  * unroll emits a poison sentinel for the same case).
  */
object KTruss {

  /** All triangles of the canonical edge set `e(a, b), a < b` as
    * sorted vertex triples (x < y < z) — each triangle's three edges
    * are then exactly (x,y), (x,z), (y,z). Runs ONCE per call.
    * (`private[graph]`: [[GraphletCensus]] reuses the enumeration.) */
  private[graph] def triangles(s: SparkSession, e: DataFrame): DataFrame = {
    import s.implicits._
    val deg = e.select($"a".as("n")).union(e.select($"b".as("n")))
      .groupBy($"n").agg(count(lit(1)).as("deg"))
    // orient each edge from the smaller (deg, id) endpoint: total
    // order => DAG => one apex per triangle
    val o = e
      .join(deg.select($"n".as("a"), $"deg".as("da")), "a")
      .join(deg.select($"n".as("b"), $"deg".as("db")), "b")
      .select(
        when($"da" < $"db" || ($"da" === $"db" && $"a" < $"b"), $"a").otherwise($"b").as("u"),
        when($"da" < $"db" || ($"da" === $"db" && $"a" < $"b"), $"b").otherwise($"a").as("v"))
    o.as("x").join(o.as("y"),
        col("x.u") === col("y.u") && col("x.v") < col("y.v"))
      .select(col("x.u").as("t1"), col("x.v").as("t2"), col("y.v").as("t3"))
      .join(e, least($"t2", $"t3") === $"a" && greatest($"t2", $"t3") === $"b",
        "left_semi")
      .select(least($"t1", $"t2", $"t3").as("x"),
        greatest(least($"t1", $"t2"), least($"t1", $"t3"), least($"t2", $"t3")).as("y"),
        greatest($"t1", $"t2", $"t3").as("z"))
  }

  /** The 3-rows-per-triangle edge expansion of a (x, y, z) triple
    * table: (x, y, z, ea, eb) with (ea, eb) canonical. Narrow (one
    * bounded explode), derived on demand — never materialized. */
  private def triEdges(tri: DataFrame): DataFrame =
    tri.select(col("x"), col("y"), col("z"), explode(array(
        struct(col("x").as("a"), col("y").as("b")),
        struct(col("x").as("a"), col("z").as("b")),
        struct(col("y").as("a"), col("z").as("b")))).as("e"))
      .select(col("x"), col("y"), col("z"),
        col("e.a").as("ea"), col("e.b").as("eb"))

  private def onEdge(l: DataFrame, r: DataFrame): Column =
    l("ea") === r("a") && l("eb") === r("b")

  /** `edges0(src, dst)` in any orientation (parallel/bidirectional
    * duplicates collapse); returns canonical `(a, b, support)` rows
    * of the k-truss, a < b. */
  def run(s: SparkSession, edges0: DataFrame, k: Int, maxIter: Int = 30): DataFrame = {
    import s.implicits._
    require(k >= 3, s"k-truss needs k >= 3, got $k")
    val edges = edges0
      .select(least(col("src"), col("dst")).cast("long").as("a"),
        greatest(col("src"), col("dst")).cast("long").as("b"))
      .filter($"a" =!= $"b")
      .distinct()
    Superstep.run { sc =>
      // The triangle table is the one WEDGE-LAW-sized artifact of the
      // peel (≈135M rows at the 4.7M-edge ladder rung, vs edge-sized
      // alive/dropped): checkpoint it DISK_ONLY so its storage never
      // squeezes the unified pool's execution side — at default 16g
      // the MEMORY_AND_DISK blocks pinned ~half the pool and the wedge
      // join's 32 concurrent tasks died UNABLE_TO_ACQUIRE_MEMORY.
      // Each peel round reads it once, sequentially — disk-friendly.
      val tri = sc.pin(triangles(s, edges), Superstep.Disk)
      // the alive table's checkpoint job also counts the edges the
      // next round drops — the halt statistic
      def supports(df: DataFrame): (DataFrame, Long) = {
        val (cp, r) = sc.observe(df, Superstep.Memory, count(when($"support" < k - 2, lit(1))))
        (cp, r.getLong(0))
      }
      // initial supports; edges in no triangle have support 0 < k−2
      // and cannot affect any other edge's support, so they are peeled
      // at initialization by never entering the alive set
      val (alive0, drop0) = supports(triEdges(tri)
        .groupBy($"ea".as("a"), $"eb".as("b")).agg(count(lit(1)).as("support")))
      val dropped0 = sc.pin(alive0.limit(0).select($"a", $"b"))
      val (alive, _, _) = sc.loop((alive0, dropped0, drop0), maxIter,
          (_: (DataFrame, DataFrame, Long)) => "k-truss peeling (edges still dropping)")(
          st => Seq(st._1, st._2))((st, _) => st._3 == 0L) { case ((alive, dropped, _), _) =>
        // lazy: first materialized by the alive checkpoint below
        val newDrop = sc.pin(alive.filter($"support" < k - 2).select($"a", $"b"),
          eager = false)
        val te = triEdges(tri)
        // triangles touching a just-dropped edge…
        val cand = te.join(newDrop, onEdge(te, newDrop), "left_semi")
          .select($"x", $"y", $"z").distinct()
        val candEdges = triEdges(cand)
        // …that were still fully alive (no previously-dropped edge):
        // these die NOW and are decremented exactly once, ever
        val newDead = cand.join(
            candEdges.join(dropped, onEdge(candEdges, dropped), "left_semi")
              .select($"x", $"y", $"z").distinct(),
            Seq("x", "y", "z"), "left_anti")
        val dec = candEdges.join(newDead, Seq("x", "y", "z"), "left_semi")
          .join(newDrop, onEdge(candEdges, newDrop), "left_anti")
          .groupBy($"ea".as("a"), $"eb".as("b")).agg(count(lit(1)).as("lost"))
        val (nextAlive, nDrop) = supports(alive
          .join(newDrop, Seq("a", "b"), "left_anti")
          .join(dec, Seq("a", "b"), "left")
          .select($"a", $"b",
            ($"support" - coalesce($"lost", lit(0L))).as("support")))
        (nextAlive, sc.pin(dropped.union(newDrop)), nDrop)
      }
      alive.select($"a", $"b", $"support")
    }
  }

  /** QUOTIENT fast path: the in-process weighted peel + stamp over a
    * probed class map and its matching `(node, brand, size)` vertex
    * table. The widened (brand, size ± 1-or-2) edit-graph is a pure
    * class BLOW-UP (every node of class c = (brand, size) has the
    * identical class neighborhood, and no within-class edges exist),
    * so the support of a fact edge u ∈ c₁, v ∈ c₂ is a pure class
    * function — Σ_{c₃ adjacent to both} |c₃| (u, v themselves never
    * lie in a qualifying c₃: |Δsize| = 0 is not an edit rule) — and
    * all fact edges of one class-pair peel TOGETHER. The whole
    * decomposition therefore runs in-process over the
    * dimension-bounded class graph (weighted support peel,
    * ≤ |classes|·4 / 2 class edges), and ONE broadcast join + one
    * (brand, size)-keyed equi-join stamp the surviving class-pair
    * supports onto fact pairs. What the fact-scale path spends on
    * wedge enumeration + 3-per-triangle support aggregation (≈5M
    * triangles at sf0.1) becomes a driver loop over a few thousand
    * class edges; bit-identical to [[run]] on the same graph
    * (QuotientPropertySpec, RoundSevenOpsSpec). */
  private[graph] def quotientBlowup(s: SparkSession,
      classes: Map[(String, Long), Long], parts: DataFrame, k: Int): DataFrame = {
    import s.implicits._
    require(k >= 3, s"k-truss needs k >= 3, got $k")
    val present = classes.keySet
    // class edges: same brand, size differing by exactly 1 or 2
    var alive: Set[(String, Long, Long)] = present.flatMap { case (b, sz) =>
      Seq(1L, 2L).collect { case d if present((b, sz + d)) => (b, sz, sz + d) }
    }
    def support(e: (String, Long, Long), live: Set[(String, Long, Long)]): Long = {
      val (b, lo, hi) = e
      // a common class-neighbor is within edit distance of BOTH ends
      val cand = Set(lo - 2, lo - 1, lo + 1, lo + 2)
        .intersect(Set(hi - 2, hi - 1, hi + 1, hi + 2))
      cand.toSeq
        .filter(s3 => present((b, s3)) &&
          live((b, math.min(s3, lo), math.max(s3, lo))) &&
          live((b, math.min(s3, hi), math.max(s3, hi))))
        .map(s3 => classes((b, s3))).sum
    }
    // weighted peel to fixpoint: drops are monotone, so ≤ |edges|
    // rounds; the class graph is domain-bounded, so this terminates
    var sup = Map.empty[(String, Long, Long), Long]
    var stable = false
    while (!stable) {
      sup = alive.iterator.map(e => e -> support(e, alive)).toMap
      val next = alive.filter(e => sup(e) >= k - 2)
      stable = next.size == alive.size
      alive = next
    }
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types._
    val rows = alive.toSeq.map { case e @ (b, lo, hi) =>
      org.apache.spark.sql.Row(b, lo, hi, sup(e))
    }
    val schema = StructType(Seq(StructField("brand", StringType),
      StructField("slo", LongType), StructField("shi", LongType),
      StructField("tsup", LongType)))
    val classEdges = s.createDataFrame(rows.asJava, schema)
    val p = parts
      .select($"node".as("uid"), $"brand".as("ubrand"), $"size".as("usize"))
    val q = parts
      .select($"node".as("vid"), $"brand".as("vbrand"), $"size".as("vsize"))
    // stamp: u ranges over the lo class, v over the hi class — the
    // classes are disjoint, so each unordered fact pair appears once
    p.join(broadcast(classEdges), $"ubrand" === $"brand" && $"usize" === $"slo")
      .join(q, $"brand" === $"vbrand" && $"vsize" === $"shi")
      .select(least($"uid", $"vid").as("a"), greatest($"uid", $"vid").as("b"),
        $"tsup".as("support"))
  }
}
