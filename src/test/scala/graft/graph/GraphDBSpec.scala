package graft.graph

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The PersistentDataBase-parity facade: wave semantics of query()
  * (source = wave 1, -1 unreachable — main.py:272-305), rule-driven
  * expansion with per-wave persistence (main.py:212-260), and
  * INSERT-OR-IGNORE attribute stability. */
class GraphDBSpec extends SparkSpec {

  private def freshDb(): GraphDB =
    new GraphDB(spark, Files.createTempDirectory("graft-db").resolve("g").toString)

  /** A seeded random directed graph on nodes 0..n-1 plus a 0→1→…→6
    * chain (so a small `maxWaves` cuts some targets off) and an
    * island 100→101 that nothing reaches. */
  private def randomGraph(rng: scala.util.Random): Seq[(Long, Long)] = {
    val n = 8 + rng.nextInt(10)
    val random = for {
      a <- 0L until n.toLong
      b <- 0L until n.toLong
      if a != b && rng.nextInt(10) < 2
    } yield (a, b)
    (random ++ (0L until 6L).map(i => (i, i + 1)) :+ (100L, 101L)).distinct
  }

  /** Probes covering every answer class: reachable pairs, the island
    * (unreachable), an off-graph source, src == dst on and off the
    * graph, the chain's far end, and a duplicate probe. */
  private def probesFor(rng: scala.util.Random): Seq[(Long, Long)] = {
    val random = Seq.fill(6)((rng.nextInt(8).toLong, rng.nextInt(8).toLong))
    random ++ Seq((0L, 6L), (0L, 101L), (999L, 1L), (3L, 3L), (999L, 999L),
      (101L, 100L), (0L, 6L))
  }

  private def statsOf(edges: DataFrame): DataFrame =
    edges.agg(countDistinct(col("src")).as("n_nodes"), count(lit(1)).as("n_edges"))
      .withColumn("avg_degree",
        round(try_divide(col("n_edges").cast("double"), col("n_nodes").cast("double")), 2))

  private def chain(n: Long): DataFrame = {
    import spark.implicits._
    (0L until n).flatMap(i => Seq((i, i + 1), (i + 1, i))).toDF("src", "dst")
  }

  test("query counts waves like the reference: source is wave 1") {
    val db = freshDb()
    db.init(chain(4)) // 0-1-2-3-4 bidirectional
    assert(db.query(0L, 0L) === 1L) // source == target fast path
    assert(db.query(0L, 1L) === 2L)
    assert(db.query(0L, 4L) === 5L)
    assert(db.query(4L, 0L) === 5L) // symmetric
  }

  test("query returns -1 for unreachable and respects maxWaves") {
    import spark.implicits._
    val db = freshDb()
    db.init(chain(3).union(Seq((100L, 101L)).toDF("src", "dst")))
    assert(db.query(0L, 101L) === -1L)
    assert(db.query(0L, 3L, maxWaves = 2) === -1L) // cut off before found
  }

  test("addRelations is INSERT-OR-IGNORE: existing attrs survive") {
    import spark.implicits._
    val db = freshDb()
    db.init(Seq((1L, 2L, "orig")).toDF("src", "dst", "tag"))
    val v = db.addRelations(Seq((1L, 2L, "CLOBBER"), (2L, 3L, "new")).toDF("src", "dst", "tag"))
    assert(v === 2)
    assert(db.edges.as[(Long, Long, String)].collect().toSet ===
      Set((1L, 2L, "orig"), (2L, 3L, "new")))
    assert(db.numberEntries() === 2L)
  }

  test("addExpansion applies the rule wave by wave, depth-bounded") {
    import spark.implicits._
    val db = freshDb()
    db.init(Seq((0L, 1L)).toDF("src", "dst"))
    // rule: n -> n+1 for n < 10 (an "atom deletion" style generator)
    val rule: DataFrame => DataFrame = f =>
      f.filter(col("node") < 10).select(col("node").as("src"), (col("node") + 1).as("dst"))
    db.addExpansion(Seq(1L).toDF("node"), rule, depth = 3)
    // waves: 1->2, 2->3, 3->4; plus the initial 0->1
    assert(db.edges.as[(Long, Long)].collect().toSet ===
      Set((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L)))
    // now queryable end to end
    assert(db.query(0L, 4L) === 5L)
  }

  test("addExpansion with MULTIPLE typed rules: edges carry rule identity") {
    import spark.implicits._
    // the reference's multi-generator expansion (bond deletion / atom
    // deletion / substitution, main.py:60-114): each rule tags its
    // edges, expansion runs over the UNION of all rules
    val db = freshDb()
    db.init(Seq((0L, 1L, "seed")).toDF("src", "dst", "rule"))
    val grow: DataFrame => DataFrame = f =>
      f.filter(col("node") < 6).select(col("node").as("src"),
        (col("node") + 1).as("dst"), lit("grow").as("rule"))
    val jump: DataFrame => DataFrame = f =>
      f.filter(col("node") < 6).select(col("node").as("src"),
        (col("node") + 10).as("dst"), lit("jump").as("rule"))
    val both: DataFrame => DataFrame = f => grow(f).union(jump(f))
    db.addExpansion(Seq(1L).toDF("node"), both, depth = 2)
    val edges = db.edges.as[(Long, Long, String)].collect().toSet
    // wave 1 from {1}: grow 1->2, jump 1->11; wave 2 from {2, 11}:
    // grow 2->3, jump 2->12 (11 > 6 generates nothing)
    assert(edges === Set(
      (0L, 1L, "seed"),
      (1L, 2L, "grow"), (1L, 11L, "jump"),
      (2L, 3L, "grow"), (2L, 12L, "jump")))
    // rule identity is queryable per edge type
    assert(db.edges.filter(col("rule") === "jump").count() === 2L)
  }

  test("walks and ktruss run over the persisted snapshot") {
    import spark.implicits._
    val db = freshDb()
    // K4 so the 4-truss is the whole graph; walks can never leave it
    val k4 = Seq((1L,2L),(1L,3L),(1L,4L),(2L,3L),(2L,4L),(3L,4L))
    db.init((k4 ++ k4.map(p => (p._2, p._1))).toDF("src", "dst"))
    val tr = db.ktruss(4).collect()
    assert(tr.map(r => (r.getLong(0), r.getLong(1))).toSet === k4.toSet)
    val w = db.walks(Seq(1L).toDF("seed"), steps = 2).collect()
    assert(w.length === 3) // steps 0..2, no dead ends in K4
    assert(w.forall(r => Set(1L, 2L, 3L, 4L)(r.getLong(1))))
  }

  test("stats and degrees reflect the persisted edge table") {
    val db = freshDb()
    db.init(chain(2)) // edges: 4 directed, 3 distinct src nodes
    val st = db.stats().collect().head
    assert(st.getLong(0) === 3L) // n_nodes (0,1,2 all appear as src)
    assert(st.getLong(1) === 4L) // n_edges
    val deg = db.degrees().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(deg === Map(0L -> 1L, 1L -> 2L, 2L -> 1L))
  }

  test("probe-routed front door: facade calls ARE the Dispatch/routed engines") {
    import spark.implicits._
    val db = freshDb()
    db.init(chain(3))
    // class-structured ops over a vertex table (the documented contract)
    val verts = Seq((1L, "B1", 1L), (2L, "B1", 2L), (3L, "B1", 2L), (4L, "B2", 5L))
      .toDF("node", "brand", "size")
    assert(db.misClasses(verts).collect().toSet ===
      Dispatch.mis(spark, verts).collect().toSet)
    assert(db.jaccardClasses(verts).collect().toSet ===
      Dispatch.jaccard(spark, verts).collect().toSet)
    assert(db.hitsClasses(verts, iters = 2).collect().toSet ===
      Dispatch.hits(spark, verts, iters = 2).collect().toSet)
    val parts = verts.select($"node".as("part"), $"brand", $"size".cast("int").as("size"))
    assert(db.dagDepth(parts).collect().toSet ===
      DagDepth.depthOf(spark, parts).collect().toSet)
    assert(db.classBridges(verts.select($"brand", $"size")).collect().toSet ===
      Bridges.classBridgesOf(spark, verts.select($"brand", $"size")).collect().toSet)
    // snapshot-edge ops route on the same probe discipline
    val ap = db.bfsAllPairs().collect()
    assert(ap.count(r => r.getLong(0) === 0L) === 4) // chain(3): 0 reaches all
    val btw = db.betweenness().collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(btw(0L) === 0.0 && btw(3L) === 0.0) // chain endpoints carry nothing
    assert(btw(1L) === btw(2L) && btw(1L) > 0.0)
  }

  test("query and queryBatch on the handle equal the distributed BFS") {
    import spark.implicits._
    val rng = new scala.util.Random(4242)
    for (_ <- 1 to 3) {
      val db = freshDb()
      db.init(randomGraph(rng).toDF("src", "dst"))
      val probes = probesFor(rng)
      for (maxWaves <- Seq(0, 1, 3, 100)) {
        // bound 1: the distributed frontier loop, whatever the size
        val want = Bfs.wavePairs(db.edges, probes, maxWaves, bound = 1)
        assert(db.queryBatch(probes, maxWaves) === want, s"maxWaves=$maxWaves probes=$probes")
        probes.zip(want).foreach { case ((a, b), (_, _, w)) =>
          assert(db.query(a, b, maxWaves) === w, s"query($a, $b, $maxWaves)")
        }
      }
      // the single-pair distributed loop agrees too, cut-off included
      for ((a, b, mw) <- Seq((0L, 6L, 3), (0L, 6L, 100), (0L, 101L, 100), (999L, 1L, 100)))
        assert(db.query(a, b, mw) === Bfs.wavePair(db.edges, a, b, mw, bound = 1),
          s"query($a, $b, $mw)")
    }
  }

  test("the handle follows commits, re-inits and a rebuilt root") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-db").resolve("g")
    val db = new GraphDB(spark, dir.toString)
    db.init(chain(2).union(Seq((10L, 11L), (11L, 10L)).toDF("src", "dst")))
    assert(db.query(0L, 10L) === -1L)
    assert(db.numberEntries() === 6L)
    // an upsert between two queries changes the answer
    db.addRelations(Seq((2L, 10L), (10L, 2L)).toDF("src", "dst"))
    assert(db.query(0L, 10L) === 4L)
    assert(db.numberEntries() === 8L)
    // init resets the store to the new snapshot
    db.init(Seq((5L, 6L)).toDF("src", "dst"))
    assert(db.query(0L, 1L) === -1L)
    assert(db.query(5L, 6L) === 2L)
    assert(db.queryBatch(Seq((0L, 10L), (5L, 6L))) === Seq((0L, 10L, -1L), (5L, 6L, 2L)))
    assert(db.numberEntries() === 1L)
    // a root deleted and re-initialised reaches the same version number
    // with other contents: the old adjacency must not be served
    val before = graft.sources.GraphStore.latestVersion(spark, dir.toString)
    graft.util.Scratch.deleteRecursively(dir)
    var v = 0
    while (v < before) v = db.init(Seq((7L, 8L), (8L, 9L)).toDF("src", "dst"))
    assert(v === before)
    assert(db.query(5L, 6L) === -1L)
    assert(db.query(7L, 9L) === 3L)
    assert(db.numberEntries() === 2L)
    assert(db.stats().head().getLong(0) === 2L)
  }

  test("a conf probe bound of 1 routes every call to the distributed plans") {
    import spark.implicits._
    val rng = new scala.util.Random(99)
    val dir = Files.createTempDirectory("graft-db").resolve("g").toString
    new GraphDB(spark, dir).init(randomGraph(rng).toDF("src", "dst"))
    val probes = probesFor(rng)
    val local = new GraphDB(spark, dir)
    val batch = local.queryBatch(probes)
    val points = probes.map { case (a, b) => local.query(a, b) }
    val stats = local.stats().collect().toSeq
    val entries = local.numberEntries()
    spark.conf.set(Quotient.PROBE_BOUND_KEY, "1")
    try {
      val db = new GraphDB(spark, dir)
      assert(Bfs.probeAdjacency(db.edges).isEmpty, "bound 1 must route past the probe")
      assert(db.queryBatch(probes) === batch)
      assert(probes.map { case (a, b) => db.query(a, b) } === points)
      assert(db.stats().collect().toSeq === stats)
      assert(db.numberEntries() === entries)
      // the verdict follows the conf on a handle built under another bound
      assert(local.queryBatch(probes) === batch)
    } finally spark.conf.unset(Quotient.PROBE_BOUND_KEY)
  }

  test("stats and numberEntries equal the aggregation, null endpoints and empty store") {
    import spark.implicits._
    val db = freshDb()
    val withNulls = Seq[(Option[Long], Option[Long])](
      (Some(1L), Some(2L)), (Some(2L), Some(1L)), (Some(2L), Some(3L)),
      (None, Some(1L)), (Some(4L), None), (None, None), (Some(4L), Some(4L)))
      .toDF("src", "dst")
    db.init(withNulls)
    assert(db.stats().collect().toSeq === statsOf(db.edges).collect().toSeq)
    assert(db.numberEntries() === db.edges.count())
    assert(db.numberEntries() === 7L)
    assert(db.stats().head().getLong(0) === 3L) // 1, 2, 4: null src is no node
    // null endpoints join nothing on either route
    val probes = Seq((1L, 3L), (4L, 1L), (4L, 4L), (3L, 1L))
    assert(db.queryBatch(probes) === Bfs.wavePairs(db.edges, probes, bound = 1))

    val emptyDir = Files.createTempDirectory("graft-db").resolve("g").toString
    val empty = new GraphDB(spark, emptyDir)
    empty.init(Seq.empty[(Long, Long)].toDF("src", "dst"))
    // avg_degree is 0 / 0 here: null on the handle and past the bound
    assert(empty.stats().collect().toSeq === statsOf(empty.edges).collect().toSeq)
    assert(empty.stats().head().toSeq === Seq(0L, 0L, null))
    spark.conf.set(Quotient.PROBE_BOUND_KEY, "1")
    try assert(new GraphDB(spark, emptyDir).stats().head().toSeq === Seq(0L, 0L, null))
    finally spark.conf.unset(Quotient.PROBE_BOUND_KEY)
    assert(empty.numberEntries() === 0L)
    assert(empty.query(1L, 2L) === -1L && empty.query(1L, 1L) === 1L)
  }
}
