package graft.graph

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StructField, StructType}

/** Iterative frontier-join BFS and wavefront expansion over an edge
  * DataFrame (src, dst).
  *
  * Spark-first re-expression of the reference's in-memory traversal:
  * `query()` keeps previous/current/next wavefront *sets* on one
  * machine (main.py:272-305) and `add_relations` expands a frontier
  * depth-bounded (main.py:212-242). The routed traversals
  * ([[bfsAuto]], [[wavePair]], [[wavePairs]]) make one bounded row
  * probe ([[Quotient.probeRows]] at [[Quotient.probeBound]]): within
  * the bound the probed rows become one in-process [[Adjacency]] and
  * the reference's own BFS runs over it; past the bound, as in [[bfs]]
  * and [[expand]], the frontier and the visited set are DataFrames —
  * one hash join per wave, nothing collected to the driver.
  *
  * Scale design of the distributed route (SURVEY §5): edges are
  * hash-partitioned on `src` once and persisted, so every wave's join
  * reuses the same exchange; the frontier side is small and reshuffles
  * cheaply (or AQE broadcasts it). The loops run on [[Superstep]]:
  * each wave is one eager pin whose job also computes the wave's loop
  * control, which truncates lineage — without that the plan doubles
  * per wave and a deep traversal dies in the optimizer long before any
  * shuffle does. The visited set is the union of the wave pins, so no
  * wave is pinned twice.
  */
object Bfs {

  /** A bounded edge set's adjacency in CSR form — the ONE adjacency
    * build behind every in-process route: [[bfsAuto]]'s multi-root
    * sweep, the [[wavePair]]/[[wavePairs]] point lookups,
    * [[GraphDB]]'s per-version edge handle, [[KCore.run]]'s wave peel
    * and [[KTruss.run]]'s intersection peel (which [[GraphDB.ktruss]]
    * feeds from the handle). `ids` are the sorted distinct endpoint
    * ids; node `ids(i)`'s out-neighbours are the indices
    * `tgt(off(i) until off(i + 1))`, one entry per linked row (a bag:
    * duplicate rows and self-loops stay). `rows` counts the probed
    * rows (null endpoints included) and `srcNodes` the distinct
    * non-null sources — `GraphDB.stats`' two aggregates. */
  private[graph] final class Adjacency private (
      private[graph] val ids: Array[Long], private[graph] val off: Array[Int],
      private[graph] val tgt: Array[Int], val rows: Long, val srcNodes: Long) {

    /** Whether every probed row linked two endpoints (no null one). */
    def allLinked: Boolean = tgt.length == rows

    /** Layer-by-layer BFS: the distinct `seeds` are wave 1 (on the
      * graph or not), each later wave the unseen out-neighbours of the
      * previous one, up to wave `maxWaves` — [[bfs]]'s wave semantics.
      * `visit(node, wave)` runs once per reached node in first-seen
      * order; the sweep stops early once it returns false. */
    def sweep(seeds: Seq[Long], maxWaves: Long)(visit: (Long, Long) => Boolean): Unit = {
      val seen = new java.util.BitSet(ids.length)
      var frontier = Array.newBuilder[Int]
      var go = true
      val it = seeds.distinct.iterator
      while (go && it.hasNext) {
        val n = it.next()
        val i = java.util.Arrays.binarySearch(ids, n)
        if (i >= 0) { seen.set(i); frontier += i }
        go = visit(n, 1L)
      }
      var cur = frontier.result()
      var w = 1L
      while (go && w < maxWaves && cur.nonEmpty) {
        w += 1
        frontier = Array.newBuilder[Int]
        var a = 0
        while (go && a < cur.length) {
          var k = off(cur(a))
          while (go && k < off(cur(a) + 1)) {
            val j = tgt(k)
            if (!seen.get(j)) {
              seen.set(j)
              frontier += j
              go = visit(ids(j), w)
            }
            k += 1
          }
          a += 1
        }
        cur = frontier.result()
      }
    }

    /** [[wavePairs]]' answers in-process: one early-exit sweep per
      * distinct source, shared by every probe from it. */
    def pairWaves(pairs: Seq[(Long, Long)], maxWaves: Int): Seq[(Long, Long, Long)] = {
      val answered = scala.collection.mutable.Map.empty[(Long, Long), Long]
      pairs.distinct.groupBy(_._1).foreach { case (a, ps) =>
        val open = scala.collection.mutable.Set(ps.map(_._2): _*)
        sweep(Seq(a), maxWaves) { (n, w) =>
          if (open.remove(n)) answered((a, n)) = w
          open.nonEmpty
        }
      }
      pairs.map(p => (p._1, p._2, answered.getOrElse(p, -1L)))
    }
  }

  private[graph] object Adjacency {
    /** Builds the CSR from probed (src, dst) rows of LONG-or-null
      * endpoints; a row with a null endpoint counts in `rows` (and its
      * non-null src in `srcNodes`) but joins nothing, as in the
      * distributed routes. */
    def apply(rows: Array[Row]): Adjacency = {
      val linked = rows.filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      val src = linked.map(_.getLong(0))
      val dst = linked.map(_.getLong(1))
      val ids = distinctSorted(src ++ dst)
      val si = src.map(java.util.Arrays.binarySearch(ids, _))
      val off = new Array[Int](ids.length + 1)
      si.foreach(i => off(i + 1) += 1)
      for (i <- 1 to ids.length) off(i) += off(i - 1)
      val fill = off.clone()
      val tgt = new Array[Int](si.length)
      for (k <- si.indices) {
        tgt(fill(si(k))) = java.util.Arrays.binarySearch(ids, dst(k))
        fill(si(k)) += 1
      }
      val srcNodes = distinctSorted(rows.filterNot(_.isNullAt(0)).map(_.getLong(0))).length
      new Adjacency(ids, off, tgt, rows.length.toLong, srcNodes.toLong)
    }

    private def distinctSorted(xs: Array[Long]): Array[Long] = {
      val a = xs.clone()
      java.util.Arrays.sort(a)
      var n = 0
      for (i <- a.indices) if (i == 0 || a(i) != a(i - 1)) { a(n) = a(i); n += 1 }
      java.util.Arrays.copyOf(a, n)
    }
  }

  /** The point-lookup routes' probe: Some(the version's [[Adjacency]])
    * when the edge table's (src, dst) projection is within `bound`
    * rows (the caller's, else [[Quotient.probeBound]]), None past it —
    * and None without a job when an endpoint column is not integral,
    * where a cast to BIGINT would change which rows the distributed
    * routes' joins match. The probe keeps null endpoints so `rows` and
    * `srcNodes` see what a DataFrame aggregate over the table sees. */
  private[graph] def probeAdjacency(edges: DataFrame, bound: Int = -1): Option[Adjacency] =
    if (!integral(edges)) None
    else Quotient.probeRows(
        edges.select(col("src").cast("long"), col("dst").cast("long")),
        Quotient.resolve(bound, edges.sparkSession, Quotient.probeBound))
      .map(Adjacency(_))

  /** [[probeAdjacency]] for a caller whose distributed route runs
    * anyway past the bound: a row count decides, and only a count
    * that fits [[Quotient.probeBound]] is collected, so no edge rows
    * reach the driver to be thrown away. */
  private[graph] def countedAdjacency(edges: DataFrame): Option[Adjacency] =
    if (!integral(edges)) None
    else {
      val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      val bound = Quotient.probeBound(edges.sparkSession)
      if (e.limit(bound + 1).count() > bound) None else Some(Adjacency(e.collect()))
    }

  /** Whether both endpoint columns are integral — the only types a
    * cast to BIGINT leaves row-for-row as the distributed joins see
    * them. */
  private[graph] def integral(edges: DataFrame): Boolean =
    Seq("src", "dst").forall(c => edges.schema(c).dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    })

  /** Multi-root BFS. `seeds` has columns (root, node); returns
    * (root, node, wave) for every reachable node, where the seed
    * itself is wave 1 — the reference counts the source's wave as 1
    * and returns it immediately when source == target
    * (main.py:286-292). Unreachable nodes are simply absent (callers
    * emit the reference's -1 via a left join).
    */
  def bfs(edges: DataFrame, seeds: DataFrame, maxWaves: Int = 100): DataFrame =
    Superstep.run { sc =>
      val e = sc.persist(edges.select("src", "dst").repartition(col("src")), Superstep.Memory)
      // distinct: one output row per (root, node) seed however many
      // times a caller repeats it — the same set semantics every later
      // wave already has (and the bounded path mirrors).
      val (wave1, n1) = sc.count(seeds.select(col("root"), col("node")).distinct()
        .withColumn("wave", lit(1L)))
      // (every wave's pin, the last wave's size)
      val (waves, _) = sc.loop((Vector(wave1), n1), maxWaves,
          (_: (Vector[DataFrame], Long)) => "bfs")(_._1)(
          (st, done) => st._2 == 0L || done + 1 >= maxWaves) { case ((waves, _), done) =>
        val frontier = waves.last
        val (next, n) = sc.count(frontier.join(e, frontier("node") === e("src"))
          .select(frontier("root"), e("dst").as("node"))
          .distinct()
          .join(waves.reduce(_ union _).select("root", "node"), Seq("root", "node"), "left_anti")
          .withColumn("wave", lit(done + 2L)))
        (waves :+ next, n)
      }
      sc.pin(waves.reduce(_ union _))
    }

  /** ROUTED multi-root BFS (round-10: the Dispatch discipline applied
    * to the all-pairs spine) — same contract as [[bfs]], but the
    * dimension bound is a ROUTING decision, not a guard: within
    * `bound`, the probe's collected edge/seed rows feed the in-process
    * sweep directly (the probe IS the fast path's collect — no second
    * job); past it, the distributed frontier-join loop runs instead.
    * Both routes emit identical (root, node, wave) multisets on
    * long-typed inputs (FallbackRoutingSpec, BfsSpec). */
  def bfsAuto(edges: DataFrame, seeds: DataFrame, maxWaves: Int = 100,
              bound: Int = -1): DataFrame = {
    val eff = Quotient.resolve(bound, edges.sparkSession, Quotient.probeBound)
    // seeds probe FIRST: it is the smaller side (≤ |V| rows vs |E|),
    // so an over-bound seed set routes to the distributed loop before
    // any near-limit edge collect is paid and thrown away.
    // Both routes consume the NORMALIZED frames (BIGINT ids, null ids
    // dropped, seed multiplicity collapsed), so schema and row set
    // cannot differ as a function of which side of the bound the data
    // lands on.
    val routed = for {
      sd <- Quotient.probeRows(normSeeds(seeds), eff)
      e <- Quotient.probeRows(normEdges(edges), eff)
    } yield boundedSweep(edges.sparkSession, Adjacency(e), sd, maxWaves)
    routed.getOrElse(bfs(normEdges(edges), normSeeds(seeds), maxWaves))
  }

  private def normEdges(edges: DataFrame): DataFrame =
    edges.select(col("src").cast("long"), col("dst").cast("long"))
      .filter(col("src").isNotNull && col("dst").isNotNull)

  private def normSeeds(seeds: DataFrame): DataFrame =
    seeds.select(col("root").cast("long"), col("node").cast("long"))
      .filter(col("root").isNotNull && col("node").isNotNull)
      .distinct() // same multiplicity contract as bfs (which dedups seeds too)

  /** [[bfsAuto]]'s in-process route: one [[Adjacency.sweep]] per root
    * over its seed nodes, (root, node, wave) rows out in (root, node)
    * order — wave semantics identical to [[bfs]]. */
  private def boundedSweep(spark: SparkSession, adj: Adjacency,
                           seedRows: Array[Row], maxWaves: Int): DataFrame = {
    import scala.jdk.CollectionConverters._
    val out = scala.collection.mutable.ArrayBuffer.empty[Row]
    seedRows.groupBy(_.getLong(0)).toSeq.sortBy(_._1).foreach { case (root, rs) =>
      val reached = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      adj.sweep(rs.map(_.getLong(1)).toSeq, maxWaves) { (n, w) => reached += (n -> w); true }
      reached.sortBy(_._1).foreach { case (n, w) => out += Row(root, n, w) }
    }
    val schema = StructType(Seq(
      StructField("root", LongType),
      StructField("node", LongType),
      StructField("wave", LongType)))
    spark.createDataFrame(out.asJava, schema)
  }

  /** Single-pair early-exit BFS — the reference's `query(from, to)`
    * (main.py:272-305): source counts as wave 1, each hop adds one,
    * -1 if unreachable within `maxWaves`; src == dst short-circuits to
    * 1 without touching the graph. Routed like [[bfsAuto]]: within
    * `bound` rows (the caller's, else [[Quotient.probeBound]]) the
    * probe's rows become an [[Adjacency]] and the BFS runs in-process,
    * stopping at the target — one job in all; past it (or for
    * non-integral ids) [[frontierPair]] runs. g_query_pair puts the
    * same code under the DuckDB oracle (through [[wavePairs]]). */
  def wavePair(edges: DataFrame, src: Long, dst: Long, maxWaves: Int = 100,
               bound: Int = -1): Long =
    if (src == dst) 1L
    else probeAdjacency(edges, bound) match {
      case Some(adj) => adj.pairWaves(Seq(src -> dst), maxWaves).head._3
      case None => frontierPair(edges, src, dst, maxWaves)
    }

  /** [[wavePair]]'s distributed route: a frontier loop like [[bfs]],
    * but it STOPS the moment the target enters the frontier — on a
    * 100 TB graph with a 3-hop answer, that is 3 co-partitioned joins
    * total, not a full reachability closure. Each wave's loop control
    * (frontier size + target hit) rides the wave pin's one job;
    * nothing is collected to the driver. [[GraphDB.query]] calls it directly
    * once its per-version probe has found the store past the bound. */
  private[graph] def frontierPair(edges: DataFrame, src: Long, dst: Long,
                                  maxWaves: Int): Long =
    if (src == dst) 1L
    else Superstep.run { sc =>
      val spark = edges.sparkSession
      import spark.implicits._
      val e = sc.persist(edges.select(col("src"), col("dst")).repartition(col("src")),
        Superstep.Memory)
      // one job pins a wave and decides both loop conditions: its size
      // and whether it holds the target
      def wave(frontier: DataFrame): (DataFrame, Long, Boolean) = {
        val (cp, r) = sc.observe(frontier, Superstep.Memory,
          count(lit(1)), max(when(col("node") === dst, 1L)))
        (cp, r.getLong(0), !r.isNullAt(1))
      }
      val (w1, n1, hit1) = wave(Seq(src).toDF("node"))
      // (every wave's pin, the last wave's size, whether it hit)
      val (waves, _, hit) = sc.loop((Vector(w1), n1, hit1), maxWaves,
          (_: (Vector[DataFrame], Long, Boolean)) => "frontier pair")(_._1)(
          (st, done) => st._3 || st._2 == 0L || done + 1 >= maxWaves) {
        case ((waves, _, _), _) =>
          val frontier = waves.last
          val (next, n, h) = wave(frontier.join(e, frontier("node") === e("src"))
            .select(e("dst").as("node")).distinct()
            .join(waves.reduce(_ union _), Seq("node"), "left_anti"))
          (waves :+ next, n, h)
      }
      if (hit) waves.length.toLong else -1L
    }

  /** Batched early-exit pair queries — [[wavePair]]'s semantics for a
    * SET of (src, dst) probes. Per probe the semantics are identical:
    * src == dst answers 1 without touching the graph, a probe stops
    * contributing the moment its target is reached, a source whose
    * frontier empties answers −1 for its remaining probes. Routed on
    * the same probe as [[wavePair]] (skipped when every probe is
    * src == dst): in-process, one sweep per distinct source; past the
    * bound, [[frontierPairs]].
    * Returns (src, dst, wave) in the input's (src, dst) order. */
  def wavePairs(edges: DataFrame, pairs: Seq[(Long, Long)], maxWaves: Int = 100,
                bound: Int = -1): Seq[(Long, Long, Long)] =
    if (pairs.forall(p => p._1 == p._2)) pairs.map(p => (p._1, p._2, 1L))
    else probeAdjacency(edges, bound) match {
      case Some(adj) => adj.pairWaves(pairs, maxWaves)
      case None => frontierPairs(edges, pairs, maxWaves)
    }

  /** [[wavePairs]]' distributed route, ONE traversal for all probes.
    * Sequential [[frontierPair]] calls pay the per-wave scheduler jobs
    * once per pair; here the frontier is root-tagged, so every wave's
    * expansion join AND its single loop-control job are shared by all
    * still-open probes (pairs sharing a source also share the
    * traversal outright). */
  private[graph] def frontierPairs(edges: DataFrame, pairs: Seq[(Long, Long)],
                                   maxWaves: Int): Seq[(Long, Long, Long)] = {
    val spark = edges.sparkSession
    import spark.implicits._
    val answered = scala.collection.mutable.Map.empty[(Long, Long), Long]
    pairs.distinct.foreach { case (a, b) => if (a == b) answered((a, b)) = 1L }
    val open0 = pairs.distinct.filterNot(answered.contains)
    if (open0.nonEmpty) Superstep.run { sc =>
      val e = sc.persist(edges.select(col("src"), col("dst")).repartition(col("src")),
        Superstep.Memory)
      // ONE job pins wave `w` and decides loop control for every open
      // probe: which roots still have a frontier, and which targets it
      // reached. open is dimension-bounded (a probe list), so the
      // broadcast and the observed sets are both tiny. Returns the pin
      // and the probes still open.
      def wave(frontier: DataFrame, open: Seq[(Long, Long)], w: Long): (DataFrame, Seq[(Long, Long)]) = {
        val (cp, r) = sc.observe(frontier
            .join(broadcast(open.toDF("troot", "tdst")),
              $"root" === $"troot" && $"node" === $"tdst", "left")
            .select($"root", $"node", $"tdst"), Superstep.Memory,
          collect_set($"root"), collect_set(when($"tdst".isNotNull, array($"root", $"tdst"))))
        val live = r.getSeq[Long](0).toSet
        val hits = r.getSeq[Seq[Long]](1).map(h => (h(0), h(1))).toSet
        open.foreach { case p @ (a, _) =>
          if (hits(p)) answered(p) = w
          else if (!live(a)) answered(p) = -1L // frontier died
        }
        (cp.select($"root", $"node"), open.filterNot(answered.contains))
      }
      val (w1, open1) = wave(open0.map(_._1).distinct.toDF("root")
        .select($"root", $"root".as("node")), open0, 1L)
      // (every wave's pin, the probes still open)
      val (_, open) = sc.loop((Vector(w1), open1), maxWaves,
          (_: (Vector[DataFrame], Seq[(Long, Long)])) => "frontier pairs")(_._1)(
          (st, done) => st._2.isEmpty || done + 1 >= maxWaves) { case ((waves, open), done) =>
        val frontier = waves.last
        val (next, stillOpen) = wave(frontier.filter($"root".isin(open.map(_._1).distinct: _*))
          .join(e, frontier("node") === e("src"))
          .select($"root", e("dst").as("node")).distinct()
          .join(waves.reduce(_ union _), Seq("root", "node"), "left_anti"), open, done + 2L)
        (waves :+ next, stillOpen)
      }
      open.foreach(p => answered(p) = -1L) // maxWaves exhausted
    }
    pairs.map(p => (p._1, p._2, answered(p)))
  }

  /** QUOTIENT wavefront expansion for the (brand, size ± deltas)
    * class blow-up (round 16 — the Dispatch discipline applied to
    * [[expand]]): on a blow-up, a wave entering any member of a class
    * reaches EVERY member of every adjacent class next, so the
    * first-seen wave is a pure class function once seeds are
    * special-cased — W(q) = 1 + class-BFS distance from A, where A is
    * the set of classes adjacent to any seed-containing class (a
    * non-seed member of a seed class is reached at wave 1 iff its
    * class is itself in A, else by re-entry, which the BFS from A
    * covers; an isolated seed class's non-seed members are never
    * reached, like the edge engine). One bounded seed-class collect +
    * an in-process class BFS + one broadcast stamp replace the
    * per-wave join/distinct/anti-join rounds. Same (node, first_wave)
    * contract as [[expand]], pinned by QuotientPropertySpec. */
  private[graph] def quotientExpand(s: org.apache.spark.sql.SparkSession,
      classes: Map[(String, Long), Long], parts: DataFrame, seeds: DataFrame,
      depth: Int, deltas: Seq[Long] = Seq(1L)): DataFrame = {
    import org.apache.spark.sql.types.StringType
    import scala.jdk.CollectionConverters._
    val sd = seeds.select(col("node").cast("long").as("node")).distinct()
      .localCheckpoint(false)
    // classes containing at least one seed — class-bounded collect
    // (the caller's probe guards the class domain)
    val seedClasses: Set[(String, Long)] = parts
      .select(col("node").cast("long").as("node"), col("brand"),
        col("size").cast("long").as("size"))
      .join(sd, "node")
      .select(col("brand"), col("size")).distinct()
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val present = classes.keySet
    def neighbors(k: (String, Long)): Seq[(String, Long)] = {
      val (b, sz) = k
      deltas.flatMap(d => Seq((b, sz + d), (b, sz - d))).distinct.filter(present)
    }
    // multi-source class BFS: level 1 = classes adjacent to a seed
    // class; first-seen per class
    val w = scala.collection.mutable.Map.empty[(String, Long), Long]
    var frontier: Set[(String, Long)] =
      seedClasses.flatMap(neighbors).filterNot(w.contains)
    var lvl = 1L
    while (lvl <= depth && frontier.nonEmpty) {
      frontier.foreach(q => w(q) = lvl)
      lvl += 1
      frontier = frontier.flatMap(neighbors).filterNot(w.contains)
    }
    val stamp = s.createDataFrame(
      w.toSeq.map { case ((b, sz), lv) => org.apache.spark.sql.Row(b, sz, lv) }.asJava,
      StructType(Seq(StructField("brand", StringType),
        StructField("size", LongType), StructField("fw", LongType))))
    val reached = parts
      .select(col("node").cast("long").as("node"), col("brand"),
        col("size").cast("long").as("size"))
      .join(broadcast(stamp), Seq("brand", "size"))
      .join(sd, Seq("node"), "left_anti")
      .select(col("node"), col("fw").as("first_wave"))
    sd.select(col("node"), lit(0L).as("first_wave")).unionByName(reached)
  }

  /** TYPED quotient wavefront expansion (round 16 — [[quotientExpand]]
    * generalized to the three-rule typed edit graph): refining classes
    * to (brand, size, type) makes the typed rule union a pure CLASS
    * adjacency again — size ± 1 connects every type pair of adjacent
    * sizes, and the substitution rule connects different-type
    * subclasses of one (brand, size) completely (same-type members
    * share a subclass and are NOT adjacent: the rule requires the type
    * to differ). The wave argument is [[quotientExpand]]'s verbatim
    * with the refined neighbor relation; the typed row of
    * QuotientPropertySpec pins route equality. `classes` is the
    * probed (brand, size, type) domain. */
  private[graph] def quotientExpandTyped(s: org.apache.spark.sql.SparkSession,
      classes: Set[(String, Long, String)], parts: DataFrame, seeds: DataFrame,
      depth: Int): DataFrame = {
    import org.apache.spark.sql.types.StringType
    import scala.jdk.CollectionConverters._
    val sd = seeds.select(col("node").cast("long").as("node")).distinct()
      .localCheckpoint(false)
    val seedClasses: Set[(String, Long, String)] = parts
      .select(col("node").cast("long").as("node"), col("brand"),
        col("size").cast("long").as("size"), col("ptype"))
      .join(sd, "node")
      .select(col("brand"), col("size"), col("ptype")).distinct()
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    val byBS: Map[(String, Long), Seq[(String, Long, String)]] =
      classes.toSeq.groupBy(k => (k._1, k._2))
    def neighbors(k: (String, Long, String)): Seq[(String, Long, String)] = {
      val (b, sz, t) = k
      byBS.getOrElse((b, sz + 1), Nil) ++ byBS.getOrElse((b, sz - 1), Nil) ++
        byBS.getOrElse((b, sz), Nil).filter(_._3 != t)
    }
    val w = scala.collection.mutable.Map.empty[(String, Long, String), Long]
    var frontier: Set[(String, Long, String)] =
      seedClasses.flatMap(neighbors).filterNot(w.contains)
    var lvl = 1L
    while (lvl <= depth && frontier.nonEmpty) {
      frontier.foreach(q => w(q) = lvl)
      lvl += 1
      frontier = frontier.flatMap(neighbors).filterNot(w.contains)
    }
    val stamp = s.createDataFrame(
      w.toSeq.map { case ((b, sz, t), lv) =>
        org.apache.spark.sql.Row(b, sz, t, lv)
      }.asJava,
      StructType(Seq(StructField("brand", StringType),
        StructField("size", LongType), StructField("ptype", StringType),
        StructField("fw", LongType))))
    val reached = parts
      .select(col("node").cast("long").as("node"), col("brand"),
        col("size").cast("long").as("size"), col("ptype"))
      .join(broadcast(stamp), Seq("brand", "size", "ptype"))
      .join(sd, Seq("node"), "left_anti")
      .select(col("node"), col("fw").as("first_wave"))
    sd.select(col("node"), lit(0L).as("first_wave")).unionByName(reached)
  }

  /** Depth-bounded wavefront expansion (add_relations,
    * main.py:212-242): seeds are wave 0, each wave reaches the
    * neighbors not already seen, up to `depth` waves. Returns
    * (node, first_wave).
    */
  def expand(edges: DataFrame, seedNodes: DataFrame, depth: Int): DataFrame = {
    Superstep.run { sc =>
      val e = sc.persist(edges.select("src", "dst").repartition(col("src")), Superstep.Memory)
      // distinct: one output row per seed node however many times a
      // caller repeats it — the set semantics bfs() applies to seeds.
      val visited0 = sc.pin(seedNodes.select(col("node")).distinct()
        .select(col("node"), lit(0L).as("first_wave")), eager = false)
      // No per-wave isEmpty probe: the loop is depth-bounded (depth is
      // small by contract), and once a frontier IS empty every later
      // wave's join is empty-input-fast — cheaper than paying one
      // scheduler job per wave just to maybe exit early.
      val (visited, _) = sc.rounds((visited0, visited0), depth)(st => Seq(st._1, st._2)) {
        case ((visited, frontier), done) =>
          val next = sc.pin(frontier.join(e, frontier("node") === e("src"))
            .select(e("dst").as("node"))
            .distinct()
            .join(visited.select("node"), Seq("node"), "left_anti")
            .withColumn("first_wave", lit(done + 1L)), eager = false)
          (sc.pin(visited.union(next), eager = false), next)
      }
      // The loop runs no actions (that's the point — no per-wave jobs),
      // so materialize the result ONCE while the edge cache is still
      // alive; unpersisting first would make the caller's first action
      // recompute e for every wave.
      sc.pin(visited)
    }
  }
}
