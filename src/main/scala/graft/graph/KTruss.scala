package graft.graph

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

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
  * Two routes, chosen by [[Quotient.probeBound]]
  * (`spark.graft.dispatch.probeBound`): within the bound the edge set
  * is collected once into a [[Bfs.Adjacency]] and peeled in-process by
  * sorted-array intersection (see `localPeel`); past it, or with a null
  * endpoint or a non-integral `src`/`dst`, the distributed rounds
  * below run. [[run]] decides by a bounded row count, so nothing is
  * collected past the bound; [[GraphDB.ktruss]] reads its per-version
  * edge handle instead. Both routes give the same rows, the same
  * round count and the same round-cap error.
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
  def run(s: SparkSession, edges0: DataFrame, k: Int, maxIter: Int = MaxRounds): DataFrame =
    run(s, edges0, k, maxIter, Bfs.countedAdjacency(edges0))

  /** [[run]]'s default round cap. */
  private[graph] val MaxRounds = 30

  private val What = "k-truss peeling (edges still dropping)"

  /** [[run]] on a route already chosen: `local` is the edge set's
    * adjacency within the probe bound (the caller's probe, or
    * [[GraphDB]]'s per-version handle), None past it. */
  private[graph] def run(s: SparkSession, edges0: DataFrame, k: Int, maxIter: Int,
                         local: Option[Bfs.Adjacency]): DataFrame = {
    require(k >= 3, s"k-truss needs k >= 3, got $k")
    local.filter(_.allLinked)
      .fold(distributed(s, edges0, k, maxIter))(localPeel(s, _, k, maxIter))
  }

  /** The distributed route: triangles enumerated once by joins, then
    * the decrement rounds over checkpointed DataFrames. */
  private def distributed(s: SparkSession, edges0: DataFrame, k: Int, maxIter: Int): DataFrame = {
    import s.implicits._
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
          (_: (DataFrame, DataFrame, Long)) => What)(
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

  /** The local route: [[run]]'s peel over a collected
    * [[Bfs.Adjacency]]. Each edge is put in canonical form (a < b,
    * self-loops and repeats dropped), each vertex's neighbour run is
    * sorted, and an edge's support is the size of its endpoints'
    * sorted-array intersection (the worst-case-optimal join's
    * intersection step, SIGMOD 2024). A round then drops every alive
    * edge of support < k − 2 at once and decrements the other edges
    * of each triangle that dies with it — counted once, from the
    * triangle's lowest dropped edge — so supports, survivors, the
    * round count and the round-cap throw equal the distributed
    * route's. */
  private def localPeel(s: SparkSession, adj: Bfs.Adjacency, k: Int, maxIter: Int): DataFrame = {
    val n = adj.ids.length
    // canonical edges (lo, hi) by node index, which is id order
    val canon = {
      val b = Array.newBuilder[Long]
      for (i <- 0 until n; e <- adj.off(i) until adj.off(i + 1); j = adj.tgt(e) if i != j)
        b += (math.min(i, j).toLong << 32) | math.max(i, j)
      val a = b.result()
      java.util.Arrays.sort(a)
      a.distinct
    }
    val m = canon.length
    def lo(e: Int) = (canon(e) >>> 32).toInt
    def hi(e: Int) = canon(e).toInt
    // undirected neighbour runs, each (neighbour << 32 | edge) sorted
    val nOff = new Array[Int](n + 1)
    for (e <- 0 until m) { nOff(lo(e) + 1) += 1; nOff(hi(e) + 1) += 1 }
    for (i <- 1 to n) nOff(i) += nOff(i - 1)
    val nbr = new Array[Long](2 * m)
    val fill = nOff.clone()
    for (e <- 0 until m) {
      nbr(fill(lo(e))) = (hi(e).toLong << 32) | e; fill(lo(e)) += 1
      nbr(fill(hi(e))) = (lo(e).toLong << 32) | e; fill(hi(e)) += 1
    }
    for (i <- 0 until n) java.util.Arrays.sort(nbr, nOff(i), nOff(i + 1))
    // visits (edge a–w, edge b–w) for every common neighbour w of
    // edge e's endpoints whose two edges pass `live`
    def common(e: Int, live: Int => Boolean)(f: (Int, Int) => Unit): Unit = {
      var x = nOff(lo(e)); var y = nOff(hi(e))
      while (x < nOff(lo(e) + 1) && y < nOff(hi(e) + 1)) {
        val (u, v) = (nbr(x) >>> 32, nbr(y) >>> 32)
        if (u < v) x += 1
        else if (v < u) y += 1
        else {
          val (f1, f2) = (nbr(x).toInt, nbr(y).toInt)
          if (live(f1) && live(f2)) f(f1, f2)
          x += 1; y += 1
        }
      }
    }
    val sup = new Array[Long](m)
    for (e <- 0 until m) common(e, _ => true)((_, _) => sup(e) += 1)
    // an edge in no triangle never enters the alive set
    val alive = new java.util.BitSet(m)
    for (e <- 0 until m if sup(e) > 0) alive.set(e)
    def dropping(): Long = (0 until m).count(e => alive.get(e) && sup(e) < k - 2).toLong
    Superstep.run { sc =>
      sc.loop(dropping(), maxIter, (_: Long) => What)(_ => Nil)((d, _) => d == 0L) { (_, _) =>
        val drop = new java.util.BitSet(m)
        for (e <- 0 until m if alive.get(e) && sup(e) < k - 2) drop.set(e)
        drop.stream().forEach { e =>
          common(e, alive.get(_)) { (f1, f2) =>
            // the triangle dies now; its lowest dropped edge counts it
            if (!(drop.get(f1) && f1 < e) && !(drop.get(f2) && f2 < e)) {
              if (!drop.get(f1)) sup(f1) -= 1
              if (!drop.get(f2)) sup(f2) -= 1
            }
          }
        }
        alive.andNot(drop)
        dropping()
      }
      import scala.jdk.CollectionConverters._
      val rows = (0 until m).filter(alive.get)
        .map(e => Row(adj.ids(lo(e)), adj.ids(hi(e)), sup(e)))
      s.createDataFrame(rows.asJava, StructType(Seq(StructField("a", LongType),
        StructField("b", LongType), StructField("support", LongType, nullable = false))))
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
