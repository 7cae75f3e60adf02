package graft.graph

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.sources.GraphStore

/** User-facing graph database facade — the API-parity layer for the
  * reference's `PersistentDataBase` (main.py:117-360). A user of the
  * reference maps their calls 1:1:
  *
  *   - `__init__(db_path)`            → `new GraphDB(spark, root)`
  *   - `add_relations(mols, depth)`   → [[addRelations]] (direct
  *     INSERT-OR-IGNORE deltas) / [[addExpansion]] (rule-driven
  *     depth-bounded wavefront expansion, persisted per wave —
  *     main.py:212-260)
  *   - `query(from, to)`              → [[query]] (BFS shortest path
  *     in waves; source = wave 1, -1 unreachable — main.py:272-305)
  *   - `get_stats()`                  → [[stats]] (main.py:307-332)
  *   - `number_entries()`             → [[numberEntries]]
  *
  * The reference holds the whole graph in a driver-side dict
  * (`self._cache`) and walks it with Python sets. Here [[query]],
  * [[queryBatch]], [[stats]], [[numberEntries]] and [[ktruss]] share ONE edge
  * handle per committed version, built by a single bounded probe of the
  * stored (src, dst) projection at [[Quotient.probeBound]]
  * (`spark.graft.dispatch.probeBound`):
  *
  *   - within the bound, the handle holds the version's adjacency in
  *     CSR form ([[Bfs.Adjacency]]) plus its row and distinct-source
  *     counts, and those five calls run in-process on it — the
  *     reference's own BFS, with no Spark job until the next commit
  *     (ktruss builds its one result frame);
  *   - past the bound (or when `src`/`dst` are not integral), the
  *     handle records that verdict, so the probe is paid once per
  *     version, and every call runs as a distributed DataFrame plan
  *     over the parquet-backed [[GraphStore]] — the wavefronts, the
  *     visited set and the edge table stay on executors, so the same
  *     API survives graphs that no longer fit one machine.
  *
  * The handle is keyed on the latest committed version, the
  * [[GraphStore.versionStamp]] of the files it reads and the bound in
  * force, never on the root path, so any commit, re-init or
  * delete-and-rebuild of the root invalidates it. It is swapped whole,
  * so concurrent callers see either the old version's handle or the
  * new one. The other calls read the snapshot afresh each time.
  */
class GraphDB(s: SparkSession, root: String) {

  private val handle = new java.util.concurrent.atomic.AtomicReference[GraphDB.EdgeHandle]()

  /** The latest committed version's adjacency, None past the probe
    * bound — probed once per (version, stamp, bound), then served from
    * the handle. */
  private def local(): Option[Bfs.Adjacency] = {
    val v = GraphStore.latestVersion(s, root)
    require(v > 0, s"GraphStore at $root is empty")
    val key = GraphDB.HandleKey(v, GraphStore.versionStamp(s, root, v), Quotient.probeBound(s))
    val h = handle.get
    if (h != null && h.key == key) h.adj
    else {
      val fresh = GraphDB.EdgeHandle(key,
        Bfs.probeAdjacency(GraphStore.readVersion(s, root, v), key.bound))
      handle.set(fresh)
      fresh.adj
    }
  }

  /** Initialize (or reset to a fresh snapshot) with an edge
    * DataFrame (src, dst, attrs...). Returns the snapshot version. */
  def init(edges: DataFrame): Int = GraphStore.write(edges, root)

  /** INSERT-OR-IGNORE a delta of edges: existing (src, dst) pairs
    * keep their attributes, new pairs append (main.py:203). */
  def addRelations(delta: DataFrame): Int = GraphStore.upsert(s, root, delta)

  /** The current edge table (latest snapshot). */
  def edges: DataFrame = GraphStore.read(s, root)

  /** Depth-bounded wavefront expansion (add_relations,
    * main.py:212-260): starting from `seeds` (single column "node"),
    * apply `rule` — a frontier-of-nodes → new-edges derivation, the
    * analog of the reference's bond/atom modification generators — up
    * to `depth` waves, INSERT-OR-IGNORE persisting each wave's edges
    * (the reference batch-saves per wave too). A node expands at most
    * once (first-seen wins). Returns the final snapshot version.
    */
  def addExpansion(seeds: DataFrame, rule: DataFrame => DataFrame, depth: Int): Int = {
    var version = GraphStore.latestVersion(s, root)
    require(version > 0, s"GraphDB at $root is empty - call init() first")
    var frontier = seeds.select(col("node")).distinct().localCheckpoint(eager = false)
    var seen = frontier
    var wave = 0
    while (wave < depth && !frontier.isEmpty) {
      wave += 1
      // Materialize the rule's derivation ONCE: it has two consumers
      // (the upsert write and the next frontier), and an uncached
      // re-evaluation would run the rule twice per wave — with
      // different rows, if the rule is nondeterministic, expanding a
      // frontier that differs from the edges actually persisted.
      val newEdges = rule(frontier).localCheckpoint()
      // an empty wave has nothing to persist — don't rewrite the
      // whole store into a byte-identical snapshot
      if (!newEdges.isEmpty) version = addRelations(newEdges)
      frontier = newEdges.select(col("dst").as("node")).distinct()
        .join(seen, Seq("node"), "left_anti")
        .localCheckpoint(eager = false)
      seen = seen.union(frontier).localCheckpoint(eager = false)
    }
    version
  }

  /** BFS shortest path from `src` to `dst` in wave counts: the source
    * is wave 1, each hop adds one, -1 if unreachable
    * (main.py:272-305, including the source == target fast path).
    * Early-exits the moment the target is reached — in-process on the
    * version's handle, or past the probe bound through
    * [[Bfs.frontierPair]] (one co-partitioned frontier join and one
    * loop-control aggregation per wave). */
  def query(src: Long, dst: Long, maxWaves: Int = 100): Long = local() match {
    case Some(adj) => adj.pairWaves(Seq(src -> dst), maxWaves).head._3
    case None => Bfs.frontierPair(edges, src, dst, maxWaves)
  }

  /** Batched [[query]] with identical per-pair semantics, in input
    * order: one sweep per distinct source on the handle, or past the
    * bound ONE root-tagged traversal ([[Bfs.frontierPairs]]). */
  def queryBatch(pairs: Seq[(Long, Long)], maxWaves: Int = 100): Seq[(Long, Long, Long)] =
    local() match {
      case Some(adj) => adj.pairWaves(pairs, maxWaves)
      case None => Bfs.frontierPairs(edges, pairs, maxWaves)
    }

  /** Graph stats (get_stats, main.py:307-332): distinct source nodes,
    * edge count, average degree rounded to 2 dp — over a one-row local
    * frame of the handle's counts, or past the bound an aggregation of
    * the snapshot; the same `avg_degree` expression either way, null
    * on a version with no source node. */
  def stats(): DataFrame = {
    val counts = local() match {
      case Some(adj) =>
        s.createDataFrame(java.util.List.of(Row(adj.srcNodes, adj.rows)),
          StructType(Seq("n_nodes", "n_edges").map(StructField(_, LongType, nullable = false))))
      case _ =>
        edges.agg(
          countDistinct(col("src")).as("n_nodes"),
          count(lit(1)).as("n_edges"))
    }
    counts.withColumn("avg_degree",
      round(try_divide(col("n_edges").cast("double"), col("n_nodes").cast("double")), 2))
  }

  /** Per-node out-degrees (the reference's secondary-index lookups,
    * main.py:156-161). */
  def degrees(): DataFrame =
    edges.groupBy(col("src").as("node")).agg(count(lit(1)).as("degree"))

  /** number_entries (main.py:335-337): the handle's row count, or
    * past the bound a count of the snapshot. */
  def numberEntries(): Long = local().fold(edges.count())(_.rows)

  /** Deterministic random-walk corpus from `seeds` (single column
    * "seed") over the current snapshot — [[RandomWalks.run]] on the
    * stored edge table (analytics surface beyond the reference,
    * same graph). */
  def walks(seeds: DataFrame, steps: Int): DataFrame =
    RandomWalks.run(s, edges.select(col("src"), col("dst")), seeds, steps)

  /** k-truss cohesive core of the current snapshot
    * ([[KTruss.run]]): canonical surviving edges with support —
    * peeled in-process on the version's handle, or past the bound by
    * the distributed rounds, with no second probe either way. */
  def ktruss(k: Int): DataFrame =
    KTruss.run(s, edges.select(col("src"), col("dst")), k, KTruss.MaxRounds, local())

  // ---- probe-routed analytics (round-10: Dispatch behind the one
  // front door, verdict #8) -------------------------------------
  //
  // The class-structured operators run on the EDIT-RULE BLOW-UP of an
  // attribute-classed vertex table, not on the stored edge snapshot.
  // Vertex-table contract ([[Dispatch]]): columns
  //   (node LONG, brand STRING, size LONG)   — plus
  //   (is_seed BOOLEAN)                      — for [[pprClasses]].
  // Per-operator edit rules match the shipped derived graphs: wide
  // symmetric (±1, ±2) for MIS / k-truss / RA / node-Jaccard, narrow
  // symmetric (±1) for PPR / ANF, directed size-up (+1) for HITS.
  // Every call makes ONE bounded class-count probe and routes to the
  // in-process quotient path (dimension-bounded class graph) or the
  // measured distributed engine over the materialized blow-up — the
  // caller never sees the routing, only the answer.

  /** A28 Luby maximal independent set over the wide blow-up. */
  def misClasses(vertices: DataFrame, maxIter: Int = 25): DataFrame =
    Dispatch.mis(s, vertices, maxIter)

  /** A26 k-truss over the wide blow-up of a vertex table. */
  def ktrussClasses(vertices: DataFrame, k: Int): DataFrame =
    Dispatch.ktruss(s, vertices, k)

  /** A30 HITS over the directed size-up blow-up. */
  def hitsClasses(vertices: DataFrame, iters: Int): DataFrame =
    Dispatch.hits(s, vertices, iters)

  /** A31 Resource-Allocation link prediction over the wide blow-up. */
  def linkPrediction(vertices: DataFrame, topK: Int): DataFrame =
    Dispatch.resourceAllocation(s, vertices, topK)

  /** A20 personalized PageRank over the narrow blow-up
    * (vertex table carries `is_seed`). */
  def pprClasses(vertices: DataFrame, iters: Int): DataFrame =
    Dispatch.ppr(s, vertices, iters)

  /** A21 2-round HyperANF + exact-ball anchor over the narrow blow-up. */
  def anfClasses(vertices: DataFrame, sampleMod: Int, tol: Double): DataFrame =
    Dispatch.anf(s, vertices, sampleMod, tol)

  /** A13 neighbor-set Jaccard over the wide blow-up. */
  def jaccardClasses(vertices: DataFrame): DataFrame =
    Dispatch.jaccard(s, vertices)

  /** A29 DAG longest-path depth of a `(part, brand, size)` vertex
    * table under the directed size-up rule — routed ([[DagDepth]]). */
  def dagDepth(vertices: DataFrame): DataFrame =
    DagDepth.depthOf(s, vertices)

  /** A33 bridge detection on the widened edit rule's class graph of a
    * `(brand, size)` class source — routed ([[Bridges]]). */
  def classBridges(classSrc: DataFrame): DataFrame =
    Bridges.classBridgesOf(s, classSrc)

  // These two run on the STORED edge snapshot and route on the same
  // probe discipline (in-process sweep within the 2²⁰ bound, the
  // distributed engine past it):

  /** A10 all-pairs BFS wave matrix of the current snapshot. */
  def bfsAllPairs(maxWaves: Int = 100): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    val seeds = e.select(col("src").as("node")).distinct()
      .select(col("node").as("root"), col("node"))
    Bfs.bfsAuto(e, seeds, maxWaves)
  }

  /** A23 exact betweenness centrality of the current snapshot. */
  def betweenness(): DataFrame =
    Betweenness.run(s, edges.select(col("src"), col("dst")))
}

object GraphDB {
  /** What a handle was built from: the committed version, its
    * [[GraphStore.versionStamp]], and the probe bound in force. */
  private final case class HandleKey(version: Int, stamp: String, bound: Int)

  /** One committed version's edge handle: its in-process adjacency,
    * None when the probe found the version past the bound. */
  private final case class EdgeHandle(key: HandleKey, adj: Option[Bfs.Adjacency])
}
