package graft.graph

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The round-9 dispatcher contract, for all seven routed operators:
  *
  *   1. PROBE — Some(exact class map) within the bound, None past it.
  *   2. ROUTING AGREEMENT — on the same dimension-bounded blow-up
  *      graph, the default-bound route (quotient) and a
  *      forced-fallback route (injected bound below the class count →
  *      general engine) produce BIT-IDENTICAL results. This subsumes
  *      "fallback still answers": the general engine runs to
  *      completion and agrees row-for-row.
  *   3. UNSTRUCTURED FALLBACK — a graph where every node is its own
  *      class (class count ≫ any useful bound) routes to the general
  *      engine through the dispatcher and answers.
  *   4. ONE BOUND — every class route reads the same conf cap, and a
  *      route the probe admits never throws on its class count.
  *
  * Same seeded-RNG random-class-graph discipline as
  * QuotientPropertySpec (whose per-engine twins pin the arithmetic;
  * this spec pins the ROUTING). */
class DispatchSpec extends SparkSpec {

  private def randomClasses(rng: scala.util.Random): Map[(String, Long), Long] = {
    val brands = 2 + rng.nextInt(3)
    (for {
      b <- 1 to brands
      s <- 1L to 8L
      if rng.nextDouble() < 0.6
    } yield (s"B$b", s) -> (1L + rng.nextInt(4))).toMap
  }

  private def partsOf(sizes: Map[(String, Long), Long]): Seq[(Long, String, Long)] = {
    var id = 0L
    sizes.toSeq.sortBy(_._1).flatMap { case ((b, s), n) =>
      (1L to n).map { _ => id += 1; (id, b, s) }
    }
  }

  /** MULTISET of rows (row -> count): a Set would collapse duplicate
    * rows, letting one route emit extra copies undetected. */
  private def asRows(df: org.apache.spark.sql.DataFrame): Map[Seq[Any], Int] =
    df.collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap

  /** Both routes of one dispatch entry on one graph: default bound
    * (quotient) vs a bound of 1 (always below any non-empty class
    * count → general engine). */
  private def bothRoutes(f: Int => org.apache.spark.sql.DataFrame,
                         what: String): Unit = {
    val quotient = f(Quotient.MAX_CLASSES)
    val general = f(1)
    assert(quotient.schema.fieldNames.toSeq === general.schema.fieldNames.toSeq,
      s"$what: route schemas diverge")
    assert(asRows(quotient) === asRows(general), s"$what: routes diverge")
  }

  test("probe: exact class map within bound, None past it") {
    import spark.implicits._
    val sizes = Map(("B1", 1L) -> 2L, ("B1", 2L) -> 3L, ("B2", 5L) -> 1L)
    val parts = partsOf(sizes).toDF("node", "brand", "size")
    assert(Dispatch.probe(parts) === Some(sizes))
    assert(Dispatch.probe(parts, bound = 3) === Some(sizes))
    assert(Dispatch.probe(parts, bound = 2) === None)
  }

  test("routing agreement: quotient and forced-general routes bit-identical on random class graphs (all 7 operators)") {
    import spark.implicits._
    val rng = new scala.util.Random(20260815L)
    var trialsRun = 0
    for (trial <- 1 to 3) {
      val sizes = randomClasses(rng)
      val flagged = partsOf(sizes).map(p => (p._1, p._2, p._3, rng.nextDouble() < 0.3))
      val hasWideEdge = sizes.keys.exists { case (b, s) =>
        Seq(1L, 2L).exists(d => sizes.contains((b, s + d))) }
      val hasUpEdge = sizes.keys.exists { case (b, s) => sizes.contains((b, s + 1)) }
      if (hasWideEdge && hasUpEdge && flagged.exists(_._4)) {
        trialsRun += 1
        val parts = flagged.map(p => (p._1, p._2, p._3)).toDF("node", "brand", "size")
        val partsSeeded = flagged.toDF("node", "brand", "size", "is_seed")
        bothRoutes(b => Dispatch.mis(spark, parts, bound = b), s"trial $trial mis")
        bothRoutes(b => Dispatch.ktruss(spark, parts, k = 4, bound = b), s"trial $trial ktruss")
        bothRoutes(b => Dispatch.hits(spark, parts, iters = 3, bound = b), s"trial $trial hits")
        bothRoutes(b => Dispatch.resourceAllocation(spark, parts, topK = 50, bound = b),
          s"trial $trial ra")
        bothRoutes(b => Dispatch.ppr(spark, partsSeeded, iters = 4, bound = b),
          s"trial $trial ppr")
        bothRoutes(b => Dispatch.anf(spark, parts, sampleMod = 1, tol = 0.4, bound = b),
          s"trial $trial anf")
        bothRoutes(b => Dispatch.jaccard(spark, parts, bound = b), s"trial $trial jaccard")
        bothRoutes(b => Dispatch.graphlets(spark, parts, bound = b), s"trial $trial graphlets")
      }
    }
    assert(trialsRun >= 2, s"only $trialsRun non-degenerate trials — routing under-exercised")
  }

  test("unstructured graph: class count past the bound falls back to the general engine and answers") {
    import spark.implicits._
    // every node its own class — a 40-node path per the ±1 rule, with
    // ±2 chords under the wide rule; 40 classes > bound 8. The
    // dispatcher must route to the general engine and produce a real
    // answer.
    val parts = (1L to 40L).map(i => (i, "B", i)).toDF("node", "brand", "size")
    assert(Dispatch.probe(parts, bound = 8) === None)

    val mis = Dispatch.mis(spark, parts, bound = 8).collect()
    assert(mis.length === 40)
    val chosen = mis.filter(_.getBoolean(1)).map(_.getLong(0)).toSet
    // a maximal independent set on the ±1/±2-chord path: no two
    // chosen nodes within distance 2, and every node within 2 of one
    assert(chosen.nonEmpty)
    assert(!chosen.exists(n => (1L to 2L).exists(d => chosen(n + d))))
    assert((1L to 40L).forall(n => (-2L to 2L).exists(d => chosen(n + d))))

    val ppr = Dispatch.ppr(spark,
      parts.withColumn("is_seed", $"node" % 10 === 0), iters = 3, bound = 8)
    assert(ppr.count() === 40) // every path node has a neighbor
    assert(ppr.agg(sum($"rank")).head.getDouble(0) > 0.0)

    val jac = Dispatch.jaccard(spark, parts, bound = 8)
    // path+chords: interior nodes at distance ≤ 4 share a neighbor
    assert(jac.count() > 0)
  }

  test("conf-tunable bounds: a non-default spark.graft bound reroutes without a rebuild") {
    // round-11 (verdict #8): the DEFAULT crossover resolves from the
    // session conf; an explicit `bound` argument still wins. Pin by
    // forcing the conf to 1 (everything routes to the general engine)
    // and asserting bit-identical output against the quotient route —
    // the same agreement contract as the per-operator routing tests.
    import spark.implicits._
    val rng = new scala.util.Random(17)
    val parts = partsOf(randomClasses(rng)).toDF("node", "brand", "size")
    val viaQuotient = asRows(Dispatch.ktruss(spark, parts, k = 4))
    spark.conf.set(Quotient.MAX_CLASSES_KEY, "1")
    try {
      assert(Dispatch.probe(parts) === None,
        "conf bound of 1 must route every non-empty class graph to the fallback")
      assert(asRows(Dispatch.ktruss(spark, parts, k = 4)) === viaQuotient,
        "conf-forced general route diverged from the quotient route")
      // the conf cap clamps even an explicit LARGER bound: it caps
      // how many class rows one collect may bring to the driver
      assert(Dispatch.probe(parts, bound = Quotient.MAX_CLASSES) === None,
        "explicit bound above the conf cap must still clamp to the cap")
    } finally spark.conf.unset(Quotient.MAX_CLASSES_KEY)
    // explicit argument below the default still wins (no conf set)
    assert(Dispatch.probe(parts, bound = 1) === None && Dispatch.probe(parts).isDefined,
      "explicit bound below the default must force the fallback route")
    // every class route reads the same cap: bridges (Tarjan pass vs
    // the distributed flood) and the typed expansion (class BFS vs
    // the frontier join over the typed blow-up) fall back under it
    // and still agree with their default routes
    val typed = Dispatch.partVerticesTyped(spark, sfDir)
    val typedSeeds = typed.filter($"node" % 100 === 0).select($"node")
    val classSrc = typed.select($"brand", $"size")
    val bridgesDefault = asRows(Bridges.classBridgesOf(spark, classSrc))
    val expandDefault = asRows(Dispatch.expandTyped(spark, typed, typedSeeds, depth = 3))
    assert(bridgesDefault.nonEmpty && expandDefault.nonEmpty,
      "bridges / typed expansion answered empty — the agreement is vacuous")
    spark.conf.set(Quotient.MAX_CLASSES_KEY, "1")
    try {
      assert(asRows(Bridges.classBridgesOf(spark, classSrc)) === bridgesDefault,
        "conf-forced distributed bridges diverged from the Tarjan route")
      assert(asRows(Dispatch.expandTyped(spark, typed, typedSeeds, depth = 3)) === expandDefault,
        "conf-forced typed frontier join diverged from the class BFS")
    } finally spark.conf.unset(Quotient.MAX_CLASSES_KEY)
    // the row-probe key reroutes the BFS spine the same way
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val seeds = Seq((1L, 1L)).toDF("root", "node")
    val fast = asRows(Bfs.bfsAuto(edges, seeds))
    spark.conf.set(Quotient.PROBE_BOUND_KEY, "1")
    try assert(asRows(Bfs.bfsAuto(edges, seeds)) === fast,
      "conf-forced distributed BFS diverged from the in-process sweep")
    finally spark.conf.unset(Quotient.PROBE_BOUND_KEY)
  }

  test("raised class cap: MIS and PPR answer on a graph past the default class bound") {
    import spark.implicits._
    // 50,000 brands with classes (b, 1) and (b, 2) — an edge-connected
    // class pair per brand — plus one isolated class: 100,001 classes,
    // one past the default bound, each with one seed and one non-seed
    // member. A conf cap of 100,002 admits the graph, so both routes
    // take their kernels, whose own collects must follow the probed
    // map rather than the default bound.
    val pairs = 50000
    val parts = (0 until pairs).flatMap { b =>
      Seq(1L, 2L).flatMap(sz => Seq(true, false).map(f =>
        (b.toLong * 4 + (sz - 1) * 2 + (if (f) 0 else 1), s"B$b", sz, f)))
    } ++ Seq((4L * pairs, "LONE", 1L, true), (4L * pairs + 1, "LONE", 1L, false))
    val seeded = parts.toDF("node", "brand", "size", "is_seed").localCheckpoint()
    val plain = seeded.select($"node", $"brand", $"size")
    spark.conf.set(Quotient.MAX_CLASSES_KEY, (Quotient.MAX_CLASSES + 2).toString)
    try {
      assert(Dispatch.probe(plain).map(_.size) === Some(Quotient.MAX_CLASSES + 1),
        "the raised cap must admit the class graph")
      // Luby on K_{2,2} per brand: exactly one class of each pair joins,
      // both members of the isolated class join in round 1
      val mis = Dispatch.mis(spark, plain).filter($"in_mis")
      assert(mis.count() === 2L * pairs + 2)
      // every paired member has a neighbor and is ranked; the isolated
      // class has no edge and is not a PPR node
      val ppr = Dispatch.ppr(spark, seeded, iters = 2)
      assert(ppr.count() === 4L * pairs)
      assert(ppr.agg(sum($"rank")).head.getDouble(0) > 0.0)
    } finally spark.conf.unset(Quotient.MAX_CLASSES_KEY)
  }

  test("route pins at the shipped SF (round-13): constants single-sourced, every probe-routed operator on its fast path") {
    // drive-by-edit tripwire: the shipped crossovers, pinned. A
    // change here is a deliberate re-route, not an accident.
    assert(Quotient.PROBE_BOUND === (1 << 20), "row-probe crossover moved")
    assert(Quotient.MAX_CLASSES === 100000, "class-domain crossover moved")
    assert(Quotient.probeBound(spark) === Quotient.PROBE_BOUND)
    assert(Quotient.maxClasses(spark) === Quotient.MAX_CLASSES)
    // the 7 Dispatch-routed quotient operators (A13/A20/A21/A26/A28/
    // A30/A31): the class probe answers Some at the shipped SF ⇒
    // every one takes the quotient fast path
    assert(Dispatch.probe(Dispatch.partVertices(spark, sfDir)).isDefined,
      "shipped part table must route to the quotient fast paths")
    // A29 DagDepth class DP + A33 bridges: class domain within the
    // single-sourced maxClasses ⇒ in-process driver route
    val classes = Dispatch.partVertices(spark, sfDir)
      .select("brand", "size").distinct().count()
    assert(classes <= Quotient.maxClasses(spark),
      s"$classes part classes exceed maxClasses — DagDepth/Bridges would fall back")
    // A10/A22 all-pairs BFS spine + A23 Brandes σ: the dim-bounded
    // trade graph within the single-sourced probeBound ⇒ in-process
    // sweep route
    val trade = GraphBuilder.tradeEdges(spark, sfDir).count()
    assert(trade <= Quotient.probeBound(spark),
      s"$trade trade edges exceed probeBound — the BFS spine would fall back")
    // single-sourcing is LIVE in the formerly-hardcoded sites: a conf
    // bound of 1 must route bfsAuto and σ to their distributed loops
    // (which answer as their default in-process sweeps do)
    import spark.implicits._
    val tiny = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val tinySeeds = Seq((1L, 1L), (3L, 3L)).toDF("root", "node")
    val bfsDefault = asRows(Bfs.bfsAuto(tiny, tinySeeds))
    val sigmaDefault = asRows(Betweenness.sigma(tiny))
    spark.conf.set(Quotient.PROBE_BOUND_KEY, "1")
    try {
      assert(asRows(Bfs.bfsAuto(tiny, tinySeeds)) === bfsDefault,
        "bfsAuto conf-forced distributed route diverged from the in-process sweep")
      assert(asRows(Betweenness.sigma(tiny)) === sigmaDefault,
        "σ conf-forced distributed route diverged from the in-process sweep")
    } finally spark.conf.unset(Quotient.PROBE_BOUND_KEY)
    // DagDepth consults maxClasses: a conf cap of 1 must route its
    // class DP to the distributed fallback — which still answers and
    // agrees with the driver DP
    val viaDriver = asRows(DagDepth.partEditDepth(spark, sfDir))
    spark.conf.set(Quotient.MAX_CLASSES_KEY, "1")
    try assert(asRows(DagDepth.partEditDepth(spark, sfDir)) === viaDriver,
      "DagDepth conf-forced distributed route diverged from the driver DP")
    finally spark.conf.unset(Quotient.MAX_CLASSES_KEY)
  }
}
