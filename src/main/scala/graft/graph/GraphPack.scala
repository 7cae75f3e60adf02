package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryPack, Tables}

/** Graph engine surface (SURVEY §2 A1–A10) — the reference's core
  * capability re-expressed Spark-first.
  *
  * The reference keeps a bidirectional SQLite edge table with UNIQUE
  * dedup (main.py:143-153), expands it by depth-bounded wavefront
  * (main.py:212-242), answers BFS shortest-path wave queries
  * (main.py:272-305, source counts as wave 1, -1 if unreachable) and
  * basic stats (main.py:307-332). Here the same semantics run as
  * DataFrame plans (construction, traversal) and GraphX (whole-graph
  * analytics) over graphs derived from the TPC-H-ish tables per
  * SURVEY §4, so the DuckDB oracle can derive identical graphs in SQL.
  *
  * All node id / count columns are emitted as BIGINT on both sides —
  * the driver compare is dtype-sensitive after its sort.
  */
object GraphPack extends QueryPack {

  /** Directed (both orientations) trade edge derivation, shared by all
    * trade-graph oracles. Matches [[GraphBuilder.tradeEdges]]. */
  // AS MATERIALIZED (here and in the unrolled iteration CTEs below):
  // DuckDB inlines plain CTEs per reference, so every wedge join /
  // unrolled round would re-run the 4-way lineitem join — at sf0.1
  // that cost the old g_clustering/g_neighbor_feats oracles ~250 s
  // and OOM'd g_pagerank, forcing their ledger exclusion (round-7
  // verdict #6). Materialized once, all three run in ~0.1 s and the
  // sf0.1 exclusion list is empty.
  private val tradeEdgesSql =
    """pairs AS MATERIALIZED (
      | SELECT DISTINCT CAST(c.c_nationkey AS BIGINT) AS a, CAST(s.s_nationkey AS BIGINT) AS b
      | FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      | WHERE c.c_nationkey <> s.s_nationkey),
      |edges AS MATERIALIZED (SELECT a AS src, b AS dst FROM pairs UNION SELECT b, a FROM pairs)""".stripMargin

  /** Multi-rule typed edge derivation — matches
    * [[GraphBuilder.partEdgesTyped]] (size_up / size_down /
    * type_sub, each edge tagged with its rule). */
  private val typedEdgesSql =
    """tup AS (
      | SELECT CAST(a.p_partkey AS BIGINT) AS src, CAST(b.p_partkey AS BIGINT) AS dst,
      |  'size_up' AS rule, CAST(b.p_size - a.p_size AS BIGINT) AS diff_size,
      |  CAST(CAST(b.p_retailprice AS DECIMAL(18,2)) - CAST(a.p_retailprice AS DECIMAL(18,2)) AS DOUBLE) AS diff_price
      | FROM part a JOIN part b ON a.p_brand = b.p_brand AND b.p_size = a.p_size + 1),
      |tsub AS (
      | SELECT CAST(a.p_partkey AS BIGINT) AS src, CAST(b.p_partkey AS BIGINT) AS dst,
      |  'type_sub' AS rule, CAST(0 AS BIGINT) AS diff_size,
      |  CAST(CAST(b.p_retailprice AS DECIMAL(18,2)) - CAST(a.p_retailprice AS DECIMAL(18,2)) AS DOUBLE) AS diff_price
      | FROM part a JOIN part b ON a.p_brand = b.p_brand AND b.p_size = a.p_size
      |  AND a.p_type <> b.p_type AND a.p_partkey <> b.p_partkey),
      |tedges AS (
      | SELECT src, dst, rule, diff_size, diff_price FROM tup
      | UNION ALL
      | SELECT dst, src, 'size_down', -diff_size, -diff_price FROM tup
      | UNION ALL
      | SELECT src, dst, rule, diff_size, diff_price FROM tsub)""".stripMargin

  /** Directed part edit-graph edge derivation. Matches
    * [[GraphBuilder.partEdges]]. */
  private val partEdgesSql =
    """up AS (
      | SELECT CAST(a.p_partkey AS BIGINT) AS src, CAST(b.p_partkey AS BIGINT) AS dst
      | FROM part a JOIN part b ON a.p_brand = b.p_brand AND b.p_size = a.p_size + 1),
      |edges AS (SELECT src, dst FROM up UNION ALL SELECT dst, src FROM up)""".stripMargin

  /** Unrolled fixed-iteration PageRank oracle (same update rule and
    * per-message DECIMAL(28,12) quantization as [[PageRank.run]]). */
  private def pagerankSql(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""r$i AS MATERIALIZED (
         | SELECT d.node, 0.15 + 0.85 * COALESCE(m.msg, CAST(0 AS DOUBLE)) AS rank
         | FROM deg d LEFT JOIN (
         |  SELECT ed.dst AS node, CAST(SUM(CAST(r.rank / ed.outdeg AS DECIMAL(28,12))) AS DOUBLE) AS msg
         |  FROM ed JOIN r${i - 1} r ON ed.src = r.node GROUP BY ed.dst) m ON d.node = m.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH $tradeEdgesSql,
       |deg AS MATERIALIZED (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS outdeg FROM edges GROUP BY src),
       |ed AS MATERIALIZED (SELECT e.src, e.dst, d.outdeg FROM edges e JOIN deg d ON e.src = d.node),
       |r0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS rank FROM deg),
       |$steps
       |SELECT node, rank FROM r$iters""".stripMargin
  }

  private val PR_ITERS = 10
  /** HITS rounds (A30) and RA link-prediction emission cap (A31). */
  private val HITS_ITERS = 8
  private val AA_TOP = 100

  /** Unrolled HITS oracle — the same L1-normalized rounds as
    * [[Hits.run]]: per-message DECIMAL(28,12) quantization, exact
    * decimal sums, one scalar-subquery division per normalization. */
  private def hitsSql(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""a${i}raw AS MATERIALIZED (
         | SELECT e.dst AS node, CAST(SUM(CAST(h.h AS DECIMAL(28,12))) AS DECIMAL(38,12)) AS araw
         | FROM up e JOIN h${i - 1} h ON e.src = h.node GROUP BY e.dst),
         |a$i AS MATERIALIZED (
         | SELECT node, CAST(araw AS DOUBLE) /
         |   (SELECT CAST(CAST(SUM(araw) AS DECIMAL(38,12)) AS DOUBLE) FROM a${i}raw) AS a
         | FROM a${i}raw),
         |h${i}raw AS MATERIALIZED (
         | SELECT e.src AS node, CAST(SUM(CAST(a.a AS DECIMAL(28,12))) AS DECIMAL(38,12)) AS hraw
         | FROM up e JOIN a$i a ON e.dst = a.node GROUP BY e.src),
         |h$i AS MATERIALIZED (
         | SELECT node, CAST(hraw AS DOUBLE) /
         |   (SELECT CAST(CAST(SUM(hraw) AS DECIMAL(38,12)) AS DOUBLE) FROM h${i}raw) AS h
         | FROM h${i}raw)""".stripMargin
    }.mkString(",\n")
    s"""WITH up AS MATERIALIZED (
       | SELECT CAST(a.p_partkey AS BIGINT) AS src, CAST(b.p_partkey AS BIGINT) AS dst
       | FROM part a JOIN part b ON a.p_brand = b.p_brand AND b.p_size = a.p_size + 1),
       |nodes AS (SELECT src AS node FROM up UNION SELECT dst FROM up),
       |h0 AS (SELECT DISTINCT src AS node, CAST(1.0 AS DOUBLE) AS h FROM up),
       |$steps
       |SELECT n.node, COALESCE(h.h, CAST(0 AS DOUBLE)) AS hub,
       | COALESCE(a.a, CAST(0 AS DOUBLE)) AS authority
       |FROM nodes n LEFT JOIN h$iters h ON n.node = h.node
       | LEFT JOIN a$iters a ON n.node = a.node""".stripMargin
  }

  /** ANF: propagation rounds and the per-node relative-error bound
    * the guarantee proves. m = 256 registers → rsd ≈ 6.5%; the bound is
    * ~6 sigma with linear-counting small-range headroom (measured
    * worst node at sf0.01/sf0.1 is well inside — see AnfSpec). */
  private[graft] val ANF_TOL = 0.4

  /** 1-in-N root sample for g_anf's EXACT verification anchor (the
    * sketch itself runs over every node). */
  private[graft] val ANF_SAMPLE = 16

  private val LP_ITERS = 4
  private[graft] val PPR_ITERS = 6
  private val LOUVAIN_SWEEPS = 4

  /** One LPA run per (session, scale dir): g_labelprop and
    * g_modularity evaluate the SAME 4-round labeling, so the second
    * consumer reuses the first's result instead of re-running the
    * iterative program ([[graft.SessionCache]]'s discipline). The
    * cached DataFrame is the run's own eager pin of the final labels,
    * so only one copy of the label blocks is ever persisted. */
  private val lpaCache = new graft.SessionCache[DataFrame]

  private def lpaLabels(s: SparkSession, d: String): DataFrame =
    lpaCache.getOrCompute(s, d) {
      import s.implicits._
      val vertices = Tables.part(s, d).select($"p_partkey".cast("long").as("id"))
      LabelPropagation.run(s, vertices, GraphBuilder.partEdgesWide(s, d), LP_ITERS)
    }

  /** One wide-edge DEGREE table per (session, scale dir) — the
    * LPA-cache discipline applied to degrees (round 15):
    * g_assortativity and g_richclub both key the SAME
    * groupBy(src).count() over the 52M-row wide edit-graph, so the
    * second consumer reuses the first's lazily-checkpointed result
    * (vertex-sized blocks; NO eager materialization, so merely
    * building a consumer's plan stays cheap). */
  private val degCache = new graft.SessionCache[DataFrame]

  /** Past this vertex count the degree table stops being broadcast
    * and the stamp falls back to shuffle joins — literally KCore's
    * cap (ONE shared constant, round-15 close review: 4M (long,
    * long) rows ≈ 64 MB raw is fine; beyond that, let the exchange
    * do its job). The gate probes the PART table's row count — the
    * vertex domain, a parquet metadata read, never an edge-scale job
    * at plan-build time. */
  private val DEG_BROADCAST_CAP = KCore.BROADCAST_CAP

  private def wideDegrees(s: SparkSession, d: String): DataFrame =
    degCache.getOrCompute(s, d) {
      import s.implicits._
      GraphBuilder.partEdgesWide(s, d)
        .groupBy($"src".as("node")).agg(count(lit(1)).as("deg"))
        .localCheckpoint(false)
    }

  /** The broadcast-gate decision, cached per (session, dir) like the
    * degree table itself (round-15 review: the part count cannot
    * change within a (session, dir), so three consumers must not
    * launch three identical count jobs at plan-build time). */
  private val degBcastCache = new graft.SessionCache[java.lang.Boolean]

  private def degBroadcastable(s: SparkSession, d: String): Boolean =
    degBcastCache.getOrCompute(s, d) {
      java.lang.Boolean.valueOf(Tables.part(s, d).count() <= DEG_BROADCAST_CAP)
    }.booleanValue()

  /** The wide edit-graph with BOTH endpoint degrees stamped on every
    * edge (x = deg src, y = deg dst) — the shared input of A32's
    * moment aggregate and A34's min-degree histogram. When the vertex
    * domain fits [[DEG_BROADCAST_CAP]] the two degree joins are
    * map-side broadcast-hash lookups pipelined into ONE
    * whole-stage-codegen pass over the edge scan — the old shape paid
    * two EDGE-sized exchanges (by src, then by dst) per key, 4 across
    * the two keys. */
  private def stampedWide(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val deg0 = wideDegrees(s, d)
    val deg = if (degBroadcastable(s, d)) broadcast(deg0) else deg0
    GraphBuilder.partEdgesWide(s, d)
      .join(deg.select($"node".as("src"), $"deg".as("x")), "src")
      .join(deg.select($"node".as("dst"), $"deg".as("y")), "dst")
  }

  /** Unrolled personalized-PageRank oracle — same contract as
    * [[PersonalizedPageRank.run]]: per round, rank = 0.85 ·
    * decimal-sum(edge contributions ∪ static teleport row p(v)/0.85),
    * every contribution quantized to DECIMAL(28,12); teleport =
    * 0.15/|seeds| to seed nodes only, ranks over nodes appearing as
    * an edge source. */
  private def pprSql(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""r$i AS MATERIALIZED (
         | SELECT u.dst AS node, 0.85 * CAST(SUM(u.contrib) AS DOUBLE) AS rank
         | FROM (
         |  SELECT ed.dst, CAST(r.rank / ed.outdeg AS DECIMAL(28,12)) AS contrib
         |  FROM ed JOIN r${i - 1} r ON ed.src = r.node
         |  UNION ALL SELECT dst, contrib FROM tp) u
         | GROUP BY u.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH $partEdgesSql,
       |deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS outdeg FROM edges GROUP BY src),
       |ed AS (SELECT e.src, e.dst, d.outdeg FROM edges e JOIN deg d ON e.src = d.node),
       |sd AS (SELECT CAST(p_partkey AS BIGINT) AS node FROM part WHERE p_partkey % 100 = 0),
       |ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM sd),
       |tp AS MATERIALIZED (
       | SELECT d.node AS dst,
       |  CAST(CASE WHEN s.node IS NOT NULL
       |   THEN (0.15 / (SELECT CAST(n AS DOUBLE) FROM ns)) / 0.85 ELSE 0.0 END
       |   AS DECIMAL(28,12)) AS contrib
       | FROM deg d LEFT JOIN sd s ON s.node = d.node),
       |r0 AS MATERIALIZED (
       | SELECT d.node,
       |  CASE WHEN s.node IS NOT NULL THEN 0.15 / (SELECT CAST(n AS DOUBLE) FROM ns) ELSE 0.0 END AS rank
       | FROM deg d LEFT JOIN sd s ON s.node = d.node),
       |$steps
       |SELECT node, rank FROM r$iters""".stripMargin
  }

  /** Unrolled synchronous label-propagation oracle — per round:
    * (dst, label) counts from the previous labeling, per-dst mode
    * with min-label tie-break, keep-old for vertices with no
    * in-neighbors. Same update [[LabelPropagation.run]] performs. */
  /** The unrolled label-propagation CTE body (shared by the
    * g_labelprop oracle and the g_modularity oracle, which evaluates
    * the SAME final labeling). */
  private def labelpropCtes(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""m$i AS MATERIALIZED (
         | SELECT e.dst AS id, l.label, COUNT(*) AS c
         | FROM wedges e JOIN l${i - 1} l ON l.id = e.src GROUP BY e.dst, l.label),
         |u$i AS (SELECT id, label FROM m$i
         |        QUALIFY ROW_NUMBER() OVER (PARTITION BY id ORDER BY c DESC, label ASC) = 1),
         |l$i AS MATERIALIZED (
         | SELECT l.id, COALESCE(u.label, l.label) AS label
         | FROM l${i - 1} l LEFT JOIN u$i u ON u.id = l.id)""".stripMargin
    }.mkString(",\n")
    s"""$wideEdgesSql,
       |l0 AS MATERIALIZED (
       | SELECT CAST(p_partkey AS BIGINT) AS id, CAST(p_partkey AS BIGINT) AS label FROM part),
       |$steps""".stripMargin
  }

  private def labelpropSql(iters: Int): String =
    s"""WITH ${labelpropCtes(iters)}
       |SELECT id, label FROM l$iters""".stripMargin

  /** Unrolled one-level Louvain oracle — per sweep, the IDENTICAL
    * move rule [[Louvain.run]] applies: per-vertex candidate
    * communities from the edges⋈labels count, exact BIGINT gain
    * (cnt − e_vA)·T + k·(D_A − D_C − k), strict gain > 0, the
    * singleton-swap guard, argmax by (gain DESC, c ASC). The QUALIFY
    * ranks by the RAW gain (cnt·T + k·(D_A − D_C − k)) like the
    * engine's struct-min: the e_vA·T term is constant per src, so the
    * winner is the same and only the threshold needs it. */
  private def louvainSql(sweeps: Int): String = {
    val steps = (1 to sweeps).map { i =>
      s"""lst${i - 1} AS (
         | SELECT l.id, l.label, COALESCE(d.k, CAST(0 AS BIGINT)) AS k
         | FROM lv${i - 1} l LEFT JOIN ldeg d ON d.node = l.id),
         |cm$i AS MATERIALIZED (
         | SELECT label, SUM(k) AS dsum, COUNT(*) AS csize FROM lst${i - 1} GROUP BY label),
         |ex$i AS MATERIALIZED (
         | SELECT e.src, ld.label AS c, CAST(COUNT(*) AS BIGINT) AS cnt
         | FROM wedges e JOIN lv${i - 1} ld ON ld.id = e.dst
         | WHERE e.src % 2 = ${i % 2} GROUP BY e.src, ld.label),
         |xx$i AS (
         | SELECT x.src, x.c, x.cnt, s.label AS a, s.k, ca.dsum AS da, ca.csize AS sa,
         |  cc.dsum AS dc, cc.csize AS sc,
         |  MAX(CASE WHEN x.c = s.label THEN x.cnt END) OVER (PARTITION BY x.src) AS eva
         | FROM ex$i x JOIN lst${i - 1} s ON s.id = x.src
         |  JOIN cm$i ca ON ca.label = s.label
         |  JOIN cm$i cc ON cc.label = x.c),
         |mv$i AS (
         | SELECT src, c AS new_label FROM xx$i
         | WHERE c <> a AND NOT (sa = 1 AND sc = 1 AND c > a)
         |  AND (cnt - COALESCE(eva, 0)) * (SELECT t FROM tt) + k * (da - dc - k) > 0
         | QUALIFY ROW_NUMBER() OVER (PARTITION BY src
         |  ORDER BY cnt * (SELECT t FROM tt) + k * (da - dc - k) DESC, c ASC) = 1),
         |lv$i AS MATERIALIZED (
         | SELECT l.id, COALESCE(m.new_label, l.label) AS label
         | FROM lv${i - 1} l LEFT JOIN mv$i m ON m.src = l.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH $wideEdgesSql,
       |ldeg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS k FROM wedges GROUP BY src),
       |tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM wedges),
       |lv0 AS (SELECT CAST(p_partkey AS BIGINT) AS id, CAST(p_partkey AS BIGINT) AS label FROM part),
       |$steps
       |SELECT id, label FROM lv$sweeps""".stripMargin
  }

  /** g_query_pair probes: fast path on-graph (0,0) and off-graph
    * (9999,9999), ordinary reachable pairs, and an unreachable
    * target (0→9999). */
  private val QUERY_PAIRS: Seq[(Long, Long)] =
    Seq((0L, 0L), (9999L, 9999L), (0L, 5L), (3L, 17L), (24L, 1L), (7L, 23L), (0L, 9999L))

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A1: property-graph construction — bidirectional, UNIQUE-dedup'd
    // edge set (main.py:143-153's UNIQUE(smiles, target_smiles)).
    "g_edges_build" -> { (s, d) => GraphBuilder.tradeEdges(s, d) },

    // A2: edge attributes as deltas between endpoint attributes
    // (main.py:109-114's (diff_atom, diff_bond) columns).
    "g_edge_deltas" -> { (s, d) => GraphBuilder.partEdgeDeltas(s, d) },

    // A2b: multi-rule TYPED edges — three distinct edit rules, each
    // edge tagged with the rule that fired (the reference's
    // (diff_atom, diff_bond, subs) schema, main.py:113-153).
    "g_edges_typed" -> { (s, d) => GraphBuilder.partEdgesTyped(s, d) },

    // A3b: depth-3 wavefront expansion over the UNION of the three
    // typed rules (the reference expands by all generators at once,
    // main.py:212-242) — same seeds and wave semantics as g_expand.
    // ROUTED through [[Dispatch.expandTyped]] (round 16): refining
    // classes to (brand, size, type) makes the typed rule union a
    // pure class adjacency, so within the class bound the expansion
    // is one bounded seed-class collect + an in-process class BFS +
    // one broadcast stamp — the typed blow-up edges are never
    // materialized.
    "g_expand_multi" -> { (s, d) =>
      import s.implicits._
      val seeds = Tables.part(s, d).filter($"p_partkey" % 100 === 0)
        .select($"p_partkey".as("node"))
      Dispatch.expandTyped(s, Dispatch.partVerticesTyped(s, d), seeds, depth = 3)
    },

    // A29: maximal independent set (Luby) over the widened part
    // edit-graph — deterministic per-round md5 priorities, O(log n)
    // rounds, schedule-independent result. QUOTIENT fast path: the
    // blow-up structure makes the min-undecided-neighbor priority a
    // pure class function, so each round is one vertex-set groupBy +
    // a guarded class collect + one broadcast-join filter — the
    // quadratic blown-up edge set is never materialized (see
    // [[Mis.quotientBlowup]]); the general edge-set engine
    // [[Mis.run]] is its spec-pinned bit-identical twin
    // (QuotientPropertySpec discipline, mis_round included).
    // ROUTED through [[Dispatch]] (round 9): the class-count probe
    // picks the quotient here; an unbounded class domain would fall
    // back to the edge-set engine instead of throwing.
    "g_mis" -> { (s, d) => Dispatch.mis(s, Dispatch.partVertices(s, d)) },

    // A28: harmonic centrality — H(u) = Σ_{v≠u reachable} 1/d(u,v),
    // the disconnected-robust closeness variant (isolated pairs
    // contribute 0 instead of poisoning the mean). Rides the same
    // ROUTED all-pairs BFS spine as A10/A22; determinism comes
    // from summing EXACT integers: per-(root, distance) counts times
    // the integer reciprocal 1e12 DIV d, one double division at the
    // end — no order-dependent float accumulation anywhere.
    "g_harmonic" -> { (s, d) =>
      import s.implicits._
      val edges = GraphBuilder.tradeEdges(s, d)
      val seeds = edges.select($"src".as("node")).distinct()
        .select($"node".as("root"), $"node")
      Bfs.bfsAuto(edges, seeds)
        .withColumn("dist", $"wave" - 1L)
        .filter($"dist" > 0L)
        .groupBy($"root", $"dist").agg(count(lit(1)).as("c"))
        .groupBy($"root".as("node"))
        .agg((sum($"c" * expr("1000000000000 DIV dist")).cast("double") / lit(1e12))
          .as("harmonic"))
    },

    // A26: k-truss decomposition over the widened part edit-graph —
    // edge-level cohesion peeling (see [[KTruss]]: degree-ordered
    // triangle orientation, support peel to fixpoint, throw on
    // non-convergence). k = 4: every surviving edge closes ≥ 2
    // triangles within the truss.
    // A26: the widened edit-graph is a (brand, size) class blow-up, so
    // the decomposition runs on the QUOTIENT (in-process weighted peel
    // + one broadcast stamp join — see [[KTruss.quotientBlowup]]);
    // the general incremental-peel engine [[KTruss.run]] is its
    // spec-pinned distributed twin (QuotientPropertySpec discipline).
    // ROUTED through [[Dispatch]] (round 9).
    "g_ktruss" -> { (s, d) =>
      Dispatch.ktruss(s, Dispatch.partVertices(s, d), k = KTRUSS_K)
    },

    // A27: deterministic random-walk sampling over the widened part
    // edit-graph — DeepWalk-style embedding-corpus generation with an
    // explicit LCG hop index so the walk is a pure function of the
    // graph (see [[RandomWalks]]). Seeds every 100th part, 3 hops.
    // BLOW-UP route (round 16): partEdgesWide IS the (brand, size ±
    // {1, 2}) rule, so the pick table ranks a vertex-scale union-
    // membership window instead of the edge set (52M-row sort at
    // sf1x) — see [[RandomWalks.blowupRun]]; ≡ the edge engine,
    // pinned by QuotientPropertySpec.
    "g_walks" -> { (s, d) =>
      import s.implicits._
      val seeds = Tables.part(s, d).filter($"p_partkey" % 100 === 0)
        .select($"p_partkey".as("seed"))
      val parts = Tables.part(s, d).select($"p_partkey".as("node"),
        $"p_brand".as("brand"), $"p_size".as("size"))
      RandomWalks.blowupRun(s, parts, seeds, steps = 3, deltas = Seq(1L, 2L))
    },

    // A29: DAG longest-path leveling over the DIRECTED size-up edit
    // rule (the acyclic half of the widened edit-graph) — dependency
    // depth per part, computed on the dimension-bounded (brand, size)
    // quotient graph and broadcast-stamped back onto the fact table
    // (see [[DagDepth]] for why facts never iterate).
    "g_dag_depth" -> { (s, d) => DagDepth.partEditDepth(s, d) },

    // A3: depth-bounded wavefront expansion (add_relations,
    // main.py:212-242): seeds at wave 0, 3 waves out, first-seen wins.
    // ROUTED through [[Dispatch]] (round 16): on the blow-up the
    // first-seen wave is a pure class function (seeds special-cased),
    // so within the class bound the expansion is one bounded
    // seed-class collect + an in-process class BFS + one broadcast
    // stamp — no per-wave join/distinct/anti-join rounds.
    "g_expand" -> { (s, d) =>
      import s.implicits._
      val seeds = Tables.part(s, d).filter($"p_partkey" % 100 === 0)
        .select($"p_partkey".as("node"))
      Dispatch.expand(s, Dispatch.partVertices(s, d), seeds, depth = 3)
    },

    // A4: BFS shortest path with the reference's wave semantics
    // (main.py:272-305): source is wave 1, unreachable is -1. The
    // trade graph's node set is the nation dimension, so the routed
    // BFS takes its in-process sweep (the fact-scale work is deriving
    // the edges); past the probe bound it runs the distributed Bfs.bfs.
    "g_bfs" -> { (s, d) =>
      import s.implicits._
      val seeds = s.range(1).select(lit(0L).as("root"), lit(0L).as("node"))
      val waves = Bfs.bfsAuto(GraphBuilder.tradeEdges(s, d), seeds).select($"node", $"wave")
      Tables.nation(s, d).select($"n_nationkey".cast("long").as("node"))
        .join(waves, Seq("node"), "left")
        .select($"node", coalesce($"wave", lit(-1L)).as("wave"))
    },

    // A5: graph stats (get_stats, main.py:307-332).
    "g_stats" -> { (s, d) =>
      import s.implicits._
      GraphBuilder.tradeEdges(s, d)
        .agg(countDistinct($"src").as("n_nodes"), count(lit(1)).as("n_edges"))
        .withColumn("avg_degree",
          round(try_divide($"n_edges".cast("double"), $"n_nodes".cast("double")), 2))
    },

    // A6: degrees (the reference's secondary-index lookups by
    // src/dst, main.py:156-161; symmetric since bidirectional).
    "g_degrees" -> { (s, d) =>
      import s.implicits._
      GraphBuilder.tradeEdges(s, d).groupBy($"src".as("node"))
        .agg(count(lit(1)).as("degree"))
    },

    // A7: connected components over the part edit-graph (alternating
    // star contraction — O(log n) rounds, diameter-independent;
    // component = min vertex id, singletons included).
    // ROUTED through [[Dispatch]] (round 16): on the blow-up,
    // components are a pure class function, so within the class bound
    // the labeling is one bounded per-class min aggregate + an
    // in-process class union-find + one broadcast stamp — no
    // star-contraction rounds (each was two window SORTS of the full
    // pair set). Past the bound the general engine runs.
    "g_cc" -> { (s, d) => Dispatch.cc(s, Dispatch.partVertices(s, d)) },

    // A8: per-vertex triangle counts over the trade graph (GraphX).
    "g_triangles" -> { (s, d) =>
      import s.implicits._
      val vertices = Tables.nation(s, d).select($"n_nationkey".cast("long").as("id"))
      GraphXAlgos.triangleCounts(s, vertices, GraphBuilder.tradeEdges(s, d))
        .select($"id", $"n_triangles".cast("long").as("n_triangles"))
    },

    // A9: fixed-iteration PageRank as a deterministic DataFrame plan
    // (decimal-quantized messages — see PageRank.scala's contract).
    // tradeEdges is bidirectional by construction, and its node set is
    // the nation dimension (bounded at any fact scale), so the probe
    // routes it to the in-process rank vector; past the probe bound
    // each iteration is one shuffle.
    "g_pagerank" -> { (s, d) =>
      PageRank.run(GraphBuilder.tradeEdges(s, d), PR_ITERS, bidirectional = true)
    },

    // A30: HITS hubs & authorities over the DIRECTED size-up part
    // graph (the one derived graph with real edge direction — on a
    // symmetric graph hub ≡ authority and the algorithm degenerates).
    // L1-normalized each round so it cannot overflow at any scale;
    // see Hits.scala for the exact cross-engine arithmetic contract.
    // QUOTIENT fast path: the size-up rule is all-pairs between
    // (brand, size) classes, so hub/authority are pure class
    // functions — the K rounds run in-process over the
    // dimension-bounded class graph (guarded collect) and ONE
    // broadcast join stamps scores onto parts; the distributed
    // Hits.run twin is spec-pinned bit-identical. Parts grow with
    // SF, classes don't: 8 rounds × 4 shuffles of a fact-scaled
    // graph become one distinct + one broadcast join.
    // ROUTED through [[Dispatch]] (round 9).
    "g_hits" -> { (s, d) =>
      Dispatch.hits(s, Dispatch.partVertices(s, d), HITS_ITERS)
    },

    // A31: link prediction by the Resource-Allocation index (the
    // Adamic–Adar family: score(u,v) = Σ_{w ∈ N(u)∩N(v)} 1/deg(w);
    // RA's 1/deg replaces AA's 1/ln(deg) because a transcendental ln
    // has no cross-engine bit contract while ONE IEEE division does —
    // same family, same ranking intent, engine-exact). Top-AA_TOP
    // non-adjacent pairs. Scale shape: wedge enumeration is the
    // triangle-count join (Σdeg² work, bounded by the edit-graph's
    // structural degree cap; a celebrity-skewed graph would take
    // NodeSimilarity's positional-block decomposition instead), the
    // adjacency exclusion is a left-anti equi-join, contributions are
    // DECIMAL(28,12)-quantized before the exact sum, and the global
    // top-k is Spark's TakeOrdered (map-side k, never a full sort).
    // QUOTIENT fast path (see LinkPrediction.quotientBlowup):
    // on the widened edit rule the RA score is a pure (brand, size)
    // class function, and the fact-level wedge join's Σdeg² work
    // grows QUADRATICALLY with SF (class sizes grow with the data) —
    // the quotient sweeps the dimension-bounded class graph
    // in-process and materializes part pairs only for the top-tier
    // candidate class-pairs. The general fact-level operator
    // (LinkPrediction.resourceAllocation) remains the arbitrary-graph
    // path; a spec pins the two bit-identical on the edit graph.
    // ROUTED through [[Dispatch]] (round 9).
    "g_adamic_adar" -> { (s, d) =>
      Dispatch.resourceAllocation(s, Dispatch.partVertices(s, d), AA_TOP)
    },

    // A32: degree assortativity over the widened part edit-graph —
    // see Assortativity.scala for the exact-moment plan contract.
    // Fed from the SessionCache'd broadcast-joined degree stamp
    // shared with g_richclub (round 15 — two edge exchanges cut to
    // zero per key, one degree build across both keys).
    "g_assortativity" -> { (s, d) => Assortativity.ofStamped(stampedWide(s, d)) },

    // A33: bridge (cut-edge) detection — A29's quotient pattern
    // applied to 2-edge-connectivity; see Bridges.scala. The oracle
    // replays the DEFINITION (per-edge deletion reachability CTE)
    // against the engine's Tarjan low-link pass — two different
    // algorithms agreeing on the hash.
    "g_bridges" -> { (s, d) => Bridges.classEdgeBridges(s, d) },

    // A34: rich-club coefficient φ(k) = E_{>k} / (N_{>k}·(N_{>k}−1))
    // on the directed symmetric list (Colizza 2006 — do hubs wire to
    // hubs more than degree alone explains?). Scale shape: degrees
    // are one groupBy; each edge contributes min(deg_u, deg_v), so
    // E_{>k} for EVERY k comes from one histogram of that min plus a
    // suffix window — and both the node-degree histogram and the
    // min-edge histogram live on the DISTINCT-DEGREE-VALUE domain
    // (≈O(√edges) rows), so the one unpartitioned window runs over a
    // domain-bounded table (q_skyline's sanctioned shape), never the
    // fact-scaled graph. N·(N−1) in DECIMAL(38,0) (node counts can
    // square past long at scale); ONE IEEE division per k.
    // Degrees and the degree-stamped edge list come from the
    // SessionCache'd broadcast stamp shared with g_assortativity
    // (round 15 — see stampedWide).
    "g_richclub" -> { (s, d) =>
      import s.implicits._
      val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
      val deg = wideDegrees(s, d)
      val nodeHist = deg.groupBy($"deg".as("k")).agg(count(lit(1)).as("nn"))
      val minHist = stampedWide(s, d)
        .groupBy(least($"x", $"y").as("k")).agg(count(lit(1)).as("ne"))
      import org.apache.spark.sql.expressions.Window
      val w = Window.orderBy($"k".desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      nodeHist.join(minHist, Seq("k"), "full_outer")
        .select($"k", coalesce($"nn", lit(0L)).as("nn"), coalesce($"ne", lit(0L)).as("ne"))
        .withColumn("n_rich", coalesce(sum($"nn").over(w), lit(0L)))
        .withColumn("e_rich", coalesce(sum($"ne").over(w), lit(0L)))
        .filter($"n_rich" >= 2)
        .select($"k", $"n_rich", $"e_rich",
          ($"e_rich".cast("double") /
            ($"n_rich".cast(d38) * ($"n_rich".cast(d38) - 1)).cast("double")).as("phi"))
    },

    // A10: all-pairs BFS wave matrix (batch analogue of repeatedly
    // calling query(), main.py:272) — reachable pairs only. ROUTED
    // (round-10): the dim-bounded trade graph probes into the
    // in-process sweep; an out-of-contract fact-sized graph would
    // route to the distributed frontier loop instead of throwing.
    "g_bfs_allpairs" -> { (s, d) =>
      import s.implicits._
      val edges = GraphBuilder.tradeEdges(s, d)
      val seeds = edges.select($"src".as("node")).distinct()
        .select($"node".as("root"), $"node")
      Bfs.bfsAuto(edges, seeds)
    },

    // A24: minimum spanning forest — distributed Borůvka over the
    // weighted trade graph (edge weight = cheapest lineitem price
    // ever traded between the nation pair, an exact DECIMAL). See
    // graph/Mst.scala for the round structure; the oracle verifies
    // through the independent cycle-property characterization.
    "g_mst" -> { (s, d) =>
      import s.implicits._
      val wedges = Tables.lineitem(s, d)
        .join(Tables.orders(s, d), $"l_orderkey" === $"o_orderkey")
        .join(Tables.customer(s, d), $"o_custkey" === $"c_custkey")
        .join(Tables.supplier(s, d), $"l_suppkey" === $"s_suppkey")
        .filter($"c_nationkey" =!= $"s_nationkey")
        .select(
          least($"c_nationkey", $"s_nationkey").cast("long").as("a"),
          greatest($"c_nationkey", $"s_nationkey").cast("long").as("b"),
          $"l_extendedprice".cast(org.apache.spark.sql.types.DecimalType(18, 2)).as("p"))
        .groupBy($"a", $"b").agg(min($"p").as("w"))
      Mst.run(s, wedges)
        .select($"a", $"b", round($"w", 2).cast("double").as("w"))
    },

    // A23: exact betweenness centrality — Brandes-style shortest-path
    // counting over the dim-bounded trade graph (σ on the driver
    // within the probe bound; the (s, t, v) pair-dependency
    // sum in Spark SQL under the DECIMAL(28,12) quantize-then-exact-
    // sum contract). See graph/Betweenness.scala.
    "g_betweenness" -> { (s, d) =>
      Betweenness.run(s, GraphBuilder.tradeEdges(s, d))
    },

    // A22: eccentricity / diameter / radius — per-node max BFS
    // distance (wave − 1) within the reachable set, plus the graph
    // diameter (max ecc) and radius (min ecc) and the derived
    // peripheral/central flags. Rides the same ROUTED all-pairs
    // BFS as A10 (round-10: fact-sized edge sets fall back to the
    // distributed loop instead of throwing); the global
    // extrema are a one-row aggregate broadcast back over the
    // vertex-sized result — no extra pass over the edges.
    "g_eccentricity" -> { (s, d) =>
      import s.implicits._
      val edges = GraphBuilder.tradeEdges(s, d)
      val seeds = edges.select($"src".as("node")).distinct()
        .select($"node".as("root"), $"node")
      val per = Bfs.bfsAuto(edges, seeds)
        .groupBy($"root".as("node"))
        .agg((max($"wave") - 1L).as("ecc"), count(lit(1)).as("n_reachable"))
      val glob = per.agg(max($"ecc").as("diameter"), min($"ecc").as("radius"))
      per.crossJoin(broadcast(glob))
        .select($"node", $"ecc", $"n_reachable", $"diameter", $"radius",
          ($"ecc" === $"diameter").as("is_peripheral"),
          ($"ecc" === $"radius").as("is_central"))
    },

    // A4b: the single-pair early-exit query API (GraphDB.query →
    // Bfs.wavePair, main.py:272-305 parity) on the hard signal: a
    // handful of (src, dst) probes including the src==dst wave-1
    // fast path (on- and off-graph) and an unreachable target.
    // Routed like GraphDB.query: within the probe bound one collect of
    // the trade graph and an in-process sweep per source; past it one
    // shared root-tagged frontier loop. Each probe stops at its answer
    // wave.
    "g_query_pair" -> { (s, d) =>
      import s.implicits._
      val e = GraphBuilder.tradeEdges(s, d).localCheckpoint(false)
      // wavePair semantics per probe — see Bfs.wavePairs
      Bfs.wavePairs(e, QUERY_PAIRS).toDF("src", "dst", "wave")
    },

    // A12: k-core decomposition by iterative peeling over the widened
    // part edit-graph (the dense-neighborhood analytics companion to
    // A7's components — "which entities sit in a cohesive cluster"
    // vs "which entities are connected at all"). See KCore.scala for
    // the round shape; k=5 cascades ~10 rounds at sf0.01.
    "g_kcore" -> { (s, d) =>
      KCore.run(s, GraphBuilder.partEdgesWide(s, d), KCORE_K)
    },

    // A14: bounded weighted shortest paths — Bellman-Ford relaxation
    // over the part edit-graph with |price delta| edge weights (A2's
    // edge attributes feeding path search: "cheapest chain of edits",
    // the weighted analog of A3's expansion). Four relaxation rounds
    // from the same seed set as g_expand; exact DECIMAL path sums.
    // LINE-METRIC route (round 16): the edge set is partEdgeDeltas'
    // (brand, size ± 1) rule with w = |Δprice| BY CONSTRUCTION, so
    // each round runs as two price-sorted running mins over
    // vertex-scale rows instead of an edge-scale join — the
    // complete-bipartite blow-up edges are never materialized (see
    // [[Sssp.blowupRun]]; ≡ the frontier engine over the materialized
    // rule, pinned by QuotientPropertySpec).
    "g_sssp" -> { (s, d) =>
      import s.implicits._
      val parts = Tables.part(s, d).select($"p_partkey".as("node"),
        $"p_brand".as("brand"), $"p_size".as("size"), $"p_retailprice".as("price"))
      val seeds = Tables.part(s, d).filter($"p_partkey" % 100 === 0)
        .select($"p_partkey".cast("long").as("node"))
      Sssp.blowupRun(s, parts, seeds, maxHops = 4)
    },

    // A15: local clustering coefficient — 2·triangles / (deg·(deg−1))
    // per vertex ("how clique-like is this node's neighborhood", the
    // standard cohesion score next to A8's raw triangle counts). Both
    // inputs are results this pack already computes; the ratio is
    // exact-integer-derived, so the doubles match the oracle bit for
    // bit.
    "g_clustering" -> { (s, d) =>
      import s.implicits._
      val vertices = Tables.nation(s, d).select($"n_nationkey".cast("long").as("id"))
      val tri = GraphXAlgos.triangleCounts(s, vertices, GraphBuilder.tradeEdges(s, d))
        .select($"id", $"n_triangles".cast("long").as("n_triangles"))
      val deg = GraphBuilder.tradeEdges(s, d)
        .groupBy($"src".as("id")).agg(count(lit(1)).as("degree"))
      tri.join(deg, Seq("id"), "left")
        .withColumn("degree", coalesce($"degree", lit(0L)))
        .select($"id", $"degree", $"n_triangles",
          when($"degree" < 2, lit(0.0))
            .otherwise(($"n_triangles" * 2).cast("double") /
              ($"degree" * ($"degree" - 1)).cast("double"))
            .as("clustering_coeff"))
    },

    // A20: personalized PageRank — random walk with restart to the
    // g_expand seed set over the part edit-graph (distributed rank
    // vector; see PersonalizedPageRank). "Rank every part by edit
    // proximity to these parts" — the relevance twin of A9's global
    // PageRank.
    // REFINED-QUOTIENT fast path (round 8): the seed set breaks plain
    // class symmetry, but refining each (brand, size) class by the
    // seed flag restores it — teleport/outdeg/in-neighbors are all
    // refined-class functions, so the whole iteration runs in-process
    // off one guarded groupBy collect (seed COUNTS, never seed ids)
    // + one broadcast stamp. [[PersonalizedPageRank.run]]'s
    // distributed loop is the general engine, spec-pinned
    // bit-identical (QuotientPropertySpec with random seed flags).
    // ROUTED through [[Dispatch]] (round 9); the shipped seed rule
    // (every 100th part) rides the vertex table as the is_seed flag.
    "g_ppr" -> { (s, d) =>
      Dispatch.ppr(s,
        Dispatch.partVertices(s, d)
          .withColumn("is_seed", col("node") % 100 === 0),
        PPR_ITERS)
    },

    // A19: community detection — synchronous label propagation over
    // the widened part edit-graph, 4 fixed rounds, deterministic
    // min-label tie-break (see LabelPropagation for the contract).
    "g_labelprop" -> { (s, d) => lpaLabels(s, d) },

    // A35: modularity of the label-propagation partition (Newman Q —
    // the detect-then-EVALUATE half of community detection: Q > 0
    // means denser-than-chance intra-community wiring). Q =
    // Σ_c [L_c/2m − (D_c/2m)²] over the directed symmetric list
    // (2m = directed edge count): per community one partial-aggregable
    // groupBy yields BOTH the intra-edge count (ldst = lsrc) and the
    // degree mass (every directed edge has its src's community), the
    // total is a ONE-ROW broadcast, each community's term is
    // DECIMAL(28,12)-quantized after its pinned IEEE expression, and
    // the final Q is the exact decimal sum — a raw double Σ over
    // communities would be accumulation-order-dependent and could
    // never hash cross-engine.
    "g_modularity" -> { (s, d) =>
      import s.implicits._
      val M = org.apache.spark.sql.types.DecimalType(28, 12)
      val S = org.apache.spark.sql.types.DecimalType(38, 12)
      val e = GraphBuilder.partEdgesWide(s, d)
      val labels = lpaLabels(s, d)
      val el = e
        .join(labels.select($"id".as("src"), $"label".as("lsrc")), "src")
        .join(labels.select($"id".as("dst"), $"label".as("ldst")), "dst")
      val tot = el.agg(count(lit(1)).as("tot"))
      val perC = el.groupBy($"lsrc".as("label"))
        .agg(sum(when($"ldst" === $"lsrc", 1L).otherwise(0L)).as("l_intra"),
          count(lit(1)).as("d_sum"))
      val dsum = $"d_sum".cast("double") / $"tot".cast("double")
      perC.crossJoin(broadcast(tot))
        .select($"tot",
          ($"l_intra".cast("double") / $"tot".cast("double") - dsum * dsum)
            .cast(M).as("qc"))
        .agg(count(lit(1)).as("n_communities"),
          max($"tot").as("n_directed_edges"),
          sum($"qc").cast(S).cast("double").as("modularity"))
    },

    // A37 (round-15): one-level Louvain modularity ascent — the
    // community family's Q-OPTIMIZER next to A19 (LPA detects by
    // vote) and A35 (the modularity fold evaluates Q). Fixed
    // synchronous sweeps, exact-integer gain algebra (the T²/2
    // scaling removes every float from the move decision — see
    // Louvain.scala), Grappolo singleton-swap guard plus odd-even
    // sub-sweeps against bipartite oscillation; the oracle
    // replays the identical sweeps unrolled (the LPA-oracle
    // discipline). Degrees come from the session degree cache shared
    // with A32/A34.
    // ROUTED through [[Dispatch]] (round 16): on the blow-up, deg and
    // e_vC are pure class functions, so within the class bound the
    // sweeps run on the quotient — vertex-scale aggregates only, no
    // per-sweep edge generation or exchange (see
    // [[Louvain.quotientBlowup]]); past the bound the general
    // edge-scale engine runs over the materialized blow-up.
    "g_louvain" -> { (s, d) =>
      Dispatch.louvain(s, Dispatch.partVertices(s, d), LOUVAIN_SWEEPS)
    },

    // A16: approximate neighborhood function (HyperANF) — per node,
    // the HLL-estimated |ball(v, 2)| on the part edit-graph (see
    // [[Anf]] for the register-propagation design: O(V × 256 B)
    // per-round state where exact neighbor sets grow quadratically).
    // The guarantee surface: exact ball sizes ride along as the
    // cross-engine column (the test-scale exact path shares the
    // 2-hop join the oracle runs), and anf_ok proves every node's
    // estimate inside the published relative-error bound.
    // QUOTIENT fast path (round 8, flagged by the SCALING ladder —
    // the exact-anchor wedge join grew 27× at the 3× rung): at
    // t = 2 the ball-union induction collapses class-level, so ONE
    // V-sized per-class register merge + a bounded class-ball merge
    // reproduce the 2-round propagation's registers bit-for-bit
    // (max-merge associativity) AND the exact ball2 anchor (Σ member
    // counts) — see [[Anf.quotientBlowup]]. [[Anf.run]] stays the
    // general engine, spec-pinned and ladder-measured.
    // ROUTED through [[Dispatch]] (round 9).
    "g_anf" -> { (s, d) =>
      Dispatch.anf(s, Dispatch.partVertices(s, d), ANF_SAMPLE, ANF_TOL)
    },

    // A13: node similarity — Jaccard over neighbor sets via
    // degree-capped map-side wedge enumeration (one adjacency shuffle,
    // codegen'd pair explosion, bounded block split for hot middles —
    // see NodeSimilarity for the scale argument). Only node pairs with
    // ≥ 1 common neighbor ever materialize, and the common-neighbor
    // count collapses map-side before its shuffle. The graph-db
    // "similar entities" primitive (link prediction, entity
    // resolution), sharing its blocking idea with D4's
    // rare-shingle join.
    // QUOTIENT fast path (round 8): neighbor sets in the class
    // blow-up are pure class functions, so the class-pair table is
    // computed in-process and ONE broadcast stamp join emits the
    // fact pairs — the wedge enumeration (27× the output rows at the
    // sf0.3x rung; 120 s there, the scale ladder's worst key)
    // disappears. [[NodeSimilarity.jaccard]] is the general engine,
    // spec-pinned bit-identical (QuotientPropertySpec discipline).
    // ROUTED through [[Dispatch]] (round 9).
    "g_jaccard_nodes" -> { (s, d) =>
      Dispatch.jaccard(s, Dispatch.partVertices(s, d))
    },

    // A11: neighborhood feature aggregation — per-node degree, mean
    // 1-hop neighbor degree, and distinct 2-hop reach (GNN-style
    // feature generation). Each hop is ONE equi-join + groupBy on the
    // same key — no iteration, no frontier state — so k-hop features
    // cost k co-partitioned joins at any scale. Mean = exact long sum
    // / count (IEEE division, engine-portable).
    "g_neighbor_feats" -> { (s, d) =>
      import s.implicits._
      val e = GraphBuilder.tradeEdges(s, d)
      val deg = e.groupBy($"src".as("node")).agg(count(lit(1)).as("degree"))
      val nbrAvg = e.join(deg.select($"node".as("dst"), $"degree".as("ndeg")), "dst")
        .groupBy($"src".as("node"))
        .agg((sum($"ndeg").cast("double") / count(lit(1)).cast("double")).as("nbr_avg_degree"))
      val two = e.select($"src", $"dst".as("mid"))
        .join(e.select($"src".as("mid"), $"dst".as("far")), "mid")
        .select($"src", $"far")
        .union(e.select($"src", $"dst".as("far")))
        .filter($"src" =!= $"far")
        .distinct()
        .groupBy($"src".as("node")).agg(count(lit(1)).as("n_reach2"))
      deg.join(nbrAvg, "node").join(two, "node")
        .select($"node", $"degree", $"nbr_avg_degree", $"n_reach2")
    },

    // A36: versioned GraphStore persistence on the hard signal — the
    // reference's PersistentDataBase lifecycle (main.py:117-210:
    // CREATE + INSERT OR IGNORE + reload) exercised end-to-end:
    // write v1, INSERT-OR-IGNORE upsert v2, reset-write v3, then
    // time-travel reads drive snapshot diffs in both directions.
    // Each edge set is a size-band slice of the part edit-graph so
    // the oracle derives the identical snapshots relationally and
    // replays the diff as EXCEPTs — the store's dedup, versioning and
    // anti-join diff all sit under the cross-engine hash. Diff cost
    // is two anti equi-joins per step on (src, dst); never a
    // full-table comparison state, so the shape survives any
    // snapshot size.
    "g_store_diff" -> { (s, d) =>
      import s.implicits._
      import graft.sources.GraphStore
      def slice(lo: Int, hi: Int): DataFrame = {
        val p = Tables.part(s, d)
          .filter($"p_size".between(lo, hi))
          .select($"p_partkey".cast("long").as("k"), $"p_brand", $"p_size")
        val up = p.join(
            p.select($"k".as("dst"), $"p_brand".as("brand_b"), $"p_size".as("size_b")),
            $"p_brand" === $"brand_b" && $"size_b" === $"p_size" + 1)
          .select($"k".as("src"), $"dst")
        up.union(up.select($"dst".as("src"), $"src".as("dst")))
      }
      val root = graft.util.Scratch.dir("graft_store_").toString
      val v1 = GraphStore.write(slice(1, 30), root)
      val v2 = GraphStore.upsert(s, root, slice(20, 45))
      val v3 = GraphStore.write(slice(10, 50), root) // reset semantics
      GraphStore.diff(s, root, v1, v2).withColumn("step", lit(1L))
        .unionByName(GraphStore.diff(s, root, v2, v3).withColumn("step", lit(2L)))
        .select($"step", $"src", $"dst", $"change")
    },
  )

  /** Unrolled k-core peeling oracle: alive sets a1..aN with the
    * HAVING-degree filter per round; extra rounds past the fixpoint
    * are no-ops, so the unroll just needs margin over the measured
    * peeling depth (10 rounds at sf0.01 for k=5; the Spark side
    * iterates to the true fixpoint regardless). */
  private def kcoreSql(k: Int, rounds: Int): String = {
    // AS MATERIALIZED: each a{r} is referenced twice by a{r+1} and
    // wedges by every round — inlining would re-scan the parquet per
    // reference (exponentially).
    val steps = (1 to rounds).map { r =>
      s"""a$r AS MATERIALIZED (
         | SELECT e.src AS node FROM wedges e
         |  JOIN a${r - 1} x ON x.node = e.src JOIN a${r - 1} y ON y.node = e.dst
         | GROUP BY e.src HAVING COUNT(*) >= $k)""".stripMargin
    }.mkString(",\n")
    s"""WITH $wideEdgesSql,
       |a0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM wedges),
       |$steps
       |SELECT e.src AS node, CAST(COUNT(*) AS BIGINT) AS core_degree
       |FROM wedges e
       | JOIN a$rounds x ON x.node = e.src JOIN a$rounds y ON y.node = e.dst
       |GROUP BY e.src
       |UNION ALL
       |-- divergence sentinel: if the peeling cascade needs more than
       |-- $rounds rounds at this scale, emit a poison row so the
       |-- mismatch is attributable to the unroll margin, not the engine
       |SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT)
       |WHERE (SELECT COUNT(*) FROM a$rounds) <> (SELECT COUNT(*) FROM a${rounds - 1})""".stripMargin
  }

  private val KCORE_K = 5
  private val KCORE_UNROLL = 13

  private val KTRUSS_K = 4
  // measured peel depth: 4 rounds at sf0.01, 1 at sf0.1 (the denser
  // graph is already a 4-truss); 6 leaves margin, and the sentinel
  // row below makes an exhausted unroll attributable
  private val KTRUSS_UNROLL = 6

  // measured Luby rounds: 3 at sf0.01, 4 at sf0.1; 7 leaves margin
  private val MIS_UNROLL = 7

  /** Unrolled Luby MIS oracle: per-round md5 priorities replayed
    * bit-for-bit (same 'g'-sentinel for nodes with no undecided
    * neighbor), winners + neighbors removed, edges pruned to
    * both-ends-undecided. */
  private def misSql(rounds: Int): String = {
    val steps = (1 to rounds).map { r =>
      s"""m$r AS (SELECT src, MIN(md5('${r}_' || CAST(dst AS VARCHAR))) AS mh
         |        FROM e${r - 1} GROUP BY src),
         |w$r AS MATERIALIZED (
         | SELECT u.node FROM u${r - 1} u LEFT JOIN m$r ON m$r.src = u.node
         | WHERE md5('${r}_' || CAST(u.node AS VARCHAR)) < COALESCE(m$r.mh, 'g')),
         |rm$r AS (SELECT node FROM w$r
         |         UNION SELECT e.dst FROM e${r - 1} e JOIN w$r w ON w.node = e.src),
         |u$r AS MATERIALIZED (SELECT node FROM u${r - 1} ANTI JOIN rm$r USING (node)),
         |e$r AS MATERIALIZED (SELECT e.src, e.dst FROM e${r - 1} e
         |       JOIN u$r a ON a.node = e.src JOIN u$r b ON b.node = e.dst)""".stripMargin
    }.mkString(",\n")
    val misUnion = (1 to rounds)
      .map(r => s"SELECT node, CAST($r AS BIGINT) AS mis_round FROM w$r")
      .mkString(" UNION ALL ")
    s"""WITH $wideEdgesSql,
       |u0 AS MATERIALIZED (SELECT DISTINCT CAST(p_partkey AS BIGINT) AS node FROM part),
       |e0 AS MATERIALIZED (SELECT DISTINCT src, dst FROM wedges WHERE src <> dst),
       |$steps,
       |mis AS ($misUnion)
       |SELECT u.node, m.mis_round IS NOT NULL AS in_mis, m.mis_round
       |FROM u0 u LEFT JOIN mis m ON m.node = u.node
       |UNION ALL
       |-- divergence sentinel: unroll margin exhausted, not an engine bug
       |SELECT CAST(-1 AS BIGINT), FALSE, CAST(-1 AS BIGINT)
       |WHERE (SELECT COUNT(*) FROM u$rounds) > 0""".stripMargin
  }

  /** Unrolled k-truss peeling oracle: id-ordered triangle listing
    * (e1=(a,b), e2=(b,c), e3=(a,c) with a<b<c — a DIFFERENT but
    * equally triangle-unique DAG orientation than the Spark side's
    * degree order, so support values cross-check the algorithm, not
    * the implementation), support count per canonical edge, HAVING
    * peel per round. Extra rounds past the fixpoint are no-ops. */
  private def ktrussSql(k: Int, rounds: Int): String = {
    val steps = (1 to rounds).map { r =>
      s"""t$r AS MATERIALIZED (
         | SELECT e1.a AS t1, e1.b AS t2, e2.b AS t3
         | FROM e${r - 1} e1 JOIN e${r - 1} e2 ON e2.a = e1.b
         |  JOIN e${r - 1} e3 ON e3.a = e1.a AND e3.b = e2.b),
         |s$r AS (SELECT a, b, COUNT(*) AS s FROM (
         |   SELECT t1 AS a, t2 AS b FROM t$r
         |   UNION ALL SELECT t2, t3 FROM t$r
         |   UNION ALL SELECT t1, t3 FROM t$r) GROUP BY a, b),
         |e$r AS MATERIALIZED (
         | SELECT e.a, e.b FROM e${r - 1} e
         |  JOIN s$r s ON s.a = e.a AND s.b = e.b AND s.s >= ${k - 2})""".stripMargin
    }.mkString(",\n")
    s"""WITH $wideEdgesSql,
       |e0 AS MATERIALIZED (
       | SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
       | FROM wedges WHERE src <> dst),
       |$steps,
       |tf AS (SELECT e1.a AS t1, e1.b AS t2, e2.b AS t3
       |       FROM e$rounds e1 JOIN e$rounds e2 ON e2.a = e1.b
       |        JOIN e$rounds e3 ON e3.a = e1.a AND e3.b = e2.b)
       |SELECT a, b, CAST(COUNT(*) AS BIGINT) AS support FROM (
       | SELECT t1 AS a, t2 AS b FROM tf
       | UNION ALL SELECT t2, t3 FROM tf
       | UNION ALL SELECT t1, t3 FROM tf) GROUP BY a, b
       |UNION ALL
       |-- divergence sentinel: unroll margin exhausted, not an engine bug
       |SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT)
       |WHERE (SELECT COUNT(*) FROM e$rounds) <> (SELECT COUNT(*) FROM e${rounds - 1})""".stripMargin
  }

  /** Widened part edit-graph derivation shared by the k-core and
    * node-similarity oracles. */
  private val wideEdgesSql =
    """wup AS (
      | SELECT CAST(a.p_partkey AS BIGINT) AS src, CAST(b.p_partkey AS BIGINT) AS dst
      | FROM part a JOIN part b ON a.p_brand = b.p_brand
      |  AND (b.p_size = a.p_size + 1 OR b.p_size = a.p_size + 2)),
      |wedges AS MATERIALIZED (SELECT src, dst FROM wup UNION ALL SELECT dst, src FROM wup)""".stripMargin

  /** Unrolled bounded Bellman-Ford oracle: d0..dN distance tables,
    * each round = min over (carry ∪ relax) — the identical relaxation
    * [[Sssp.run]] performs, in exact DECIMAL(28,2). */
  private def ssspSql(rounds: Int): String = {
    val steps = (1 to rounds).map { r =>
      s"""d$r AS MATERIALIZED (
         | SELECT node, MIN(dist) AS dist FROM (
         |  SELECT node, dist FROM d${r - 1}
         |  UNION ALL
         |  SELECT e.dst, CAST(d.dist + e.w AS DECIMAL(28,2))
         |  FROM d${r - 1} d JOIN swedges e ON e.src = d.node) t
         | GROUP BY node)""".stripMargin
    }.mkString(",\n")
    s"""WITH sup AS (
       | SELECT CAST(a.p_partkey AS BIGINT) AS src, CAST(b.p_partkey AS BIGINT) AS dst,
       |  CAST(ABS(CAST(CAST(b.p_retailprice AS DECIMAL(18,2)) - CAST(a.p_retailprice AS DECIMAL(18,2)) AS DOUBLE)) AS DECIMAL(28,2)) AS w
       | FROM part a JOIN part b ON a.p_brand = b.p_brand AND b.p_size = a.p_size + 1),
       |swedges AS MATERIALIZED (SELECT src, dst, w FROM sup UNION ALL SELECT dst, src, w FROM sup),
       |d0 AS MATERIALIZED (
       | SELECT CAST(p_partkey AS BIGINT) AS node, CAST(0 AS DECIMAL(28,2)) AS dist
       | FROM part WHERE p_partkey % 100 = 0),
       |$steps
       |SELECT node, CAST(dist AS DOUBLE) AS dist FROM d$rounds""".stripMargin
  }

  override def oracles: Map[String, String] = Map(
    "g_kcore" -> kcoreSql(KCORE_K, KCORE_UNROLL),
    "g_anf" ->
      s"""WITH $partEdgesSql,
         |roots AS (SELECT DISTINCT src FROM edges WHERE src % $ANF_SAMPLE = 0),
         |h1 AS (SELECT r.src, e.dst AS member FROM roots r JOIN edges e ON e.src = r.src),
         |reach AS (
         | SELECT DISTINCT src, member FROM (
         |  SELECT src, member FROM h1
         |  UNION ALL
         |  SELECT h.src, e.dst AS member FROM h1 h JOIN edges e ON e.src = h.member
         |  UNION ALL
         |  SELECT src, src AS member FROM roots) t)
         |SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS ball2, TRUE AS anf_ok
         |FROM reach GROUP BY src""".stripMargin,
    "g_labelprop" -> labelpropSql(LP_ITERS),

    "g_louvain" -> louvainSql(LOUVAIN_SWEEPS),
    "g_modularity" ->
      s"""WITH ${labelpropCtes(LP_ITERS)},
         |el AS (
         | SELECT e.src, e.dst, ls.label AS lsrc, ld.label AS ldst
         | FROM wedges e
         |  JOIN l$LP_ITERS ls ON ls.id = e.src
         |  JOIN l$LP_ITERS ld ON ld.id = e.dst),
         |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS tot FROM el),
         |perc AS (
         | SELECT lsrc AS label,
         |  CAST(SUM(CASE WHEN ldst = lsrc THEN 1 ELSE 0 END) AS BIGINT) AS l_intra,
         |  CAST(COUNT(*) AS BIGINT) AS d_sum
         | FROM el GROUP BY lsrc),
         |qc AS (
         | SELECT t.tot,
         |  CAST(CAST(p.l_intra AS DOUBLE) / CAST(t.tot AS DOUBLE) -
         |   (CAST(p.d_sum AS DOUBLE) / CAST(t.tot AS DOUBLE)) *
         |   (CAST(p.d_sum AS DOUBLE) / CAST(t.tot AS DOUBLE)) AS DECIMAL(28,12)) AS qc
         | FROM perc p CROSS JOIN tot t)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
         | MAX(tot) AS n_directed_edges,
         | CAST(CAST(SUM(qc) AS DECIMAL(38,12)) AS DOUBLE) AS modularity
         |FROM qc""".stripMargin,
    "g_ppr" -> pprSql(PPR_ITERS),
    "g_sssp" -> ssspSql(4),
    "g_ktruss" -> ktrussSql(KTRUSS_K, KTRUSS_UNROLL),
    "g_mis" -> misSql(MIS_UNROLL),
    "g_harmonic" ->
      s"""WITH RECURSIVE $tradeEdgesSql,
         |roots AS (SELECT DISTINCT src AS node FROM edges),
         |walk(root, node, wave) AS (
         | SELECT node, node, CAST(1 AS BIGINT) FROM roots
         | UNION
         | SELECT w.root, e.dst, w.wave + 1 FROM walk w JOIN edges e ON e.src = w.node
         | WHERE w.wave < 30),
         |m AS (SELECT root, node, MIN(wave) - 1 AS dist FROM walk GROUP BY root, node),
         |b AS (SELECT root, dist, CAST(COUNT(*) AS BIGINT) AS c
         |      FROM m WHERE dist > 0 GROUP BY 1, 2)
         |SELECT root AS node,
         | CAST(CAST(SUM(c * (1000000000000 // dist)) AS BIGINT) AS DOUBLE) / 1e12 AS harmonic
         |FROM b GROUP BY root""".stripMargin,
    "g_walks" -> {
      val steps = (1 to 3).map { t =>
        s"""w$t AS (SELECT w.seed,
           | a.nbrs[CAST(((w.node % 2147483647) * 1103515245 + $t * 12345) % 2147483647 % len(a.nbrs) AS INT) + 1] AS node,
           | CAST($t AS BIGINT) AS step
           |FROM w${t - 1} w JOIN adj a ON a.src = w.node)""".stripMargin
      }.mkString(",\n")
      val out = (0 to 3).map(t => s"SELECT seed, step, node FROM w$t")
        .mkString("\nUNION ALL ")
      s"""WITH $wideEdgesSql,
         |adj AS MATERIALIZED (SELECT src, list(dst ORDER BY dst) AS nbrs
         |       FROM (SELECT DISTINCT src, dst FROM wedges) GROUP BY src),
         |w0 AS (SELECT CAST(p_partkey AS BIGINT) AS seed,
         |        CAST(p_partkey AS BIGINT) AS node, CAST(0 AS BIGINT) AS step
         |       FROM part WHERE p_partkey % 100 = 0),
         |$steps
         |$out""".stripMargin
    },
    // bounded state enumeration: class domain ≤ |brands|×|sizes|,
    // depth ≤ the size span, so UNION-dedup'd walk states are finite
    "g_dag_depth" ->
      """WITH RECURSIVE cls AS (
        | SELECT DISTINCT p_brand AS brand, CAST(p_size AS INT) AS s FROM part),
        |walk(brand, s, depth) AS (
        | SELECT brand, s, CAST(0 AS BIGINT) FROM cls
        | UNION
        | SELECT c.brand, c.s, w.depth + 1
        | FROM walk w JOIN cls c ON c.brand = w.brand
        |  AND (c.s = w.s + 1 OR c.s = w.s + 2)
        | WHERE w.depth < 60),
        |cd AS (SELECT brand, s, MAX(depth) AS depth FROM walk GROUP BY 1, 2)
        |SELECT CAST(p.p_partkey AS BIGINT) AS part, cd.depth
        |FROM part p JOIN cd ON cd.brand = p.p_brand AND cd.s = CAST(p.p_size AS INT)""".stripMargin,
    "g_jaccard_nodes" ->
      s"""WITH $wideEdgesSql,
         |deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg FROM wedges GROUP BY src),
         |w AS (SELECT e1.dst AS a, e2.dst AS b, CAST(COUNT(*) AS BIGINT) AS n_common
         |      FROM wedges e1 JOIN wedges e2 ON e1.src = e2.src AND e1.dst < e2.dst
         |      GROUP BY e1.dst, e2.dst)
         |SELECT w.a AS node_a, w.b AS node_b, w.n_common,
         | CAST(w.n_common AS DOUBLE) / CAST(da.deg + db.deg - w.n_common AS DOUBLE) AS jaccard
         |FROM w JOIN deg da ON da.node = w.a JOIN deg db ON db.node = w.b""".stripMargin,
    "g_edges_build" ->
      s"""WITH $tradeEdgesSql
         |SELECT src, dst FROM edges""".stripMargin,
    "g_edge_deltas" ->
      """WITH up AS (
        | SELECT CAST(a.p_partkey AS BIGINT) AS src, CAST(b.p_partkey AS BIGINT) AS dst,
        |  CAST(b.p_size - a.p_size AS BIGINT) AS diff_size,
        |  CAST(CAST(b.p_retailprice AS DECIMAL(18,2)) - CAST(a.p_retailprice AS DECIMAL(18,2)) AS DOUBLE) AS diff_price
        | FROM part a JOIN part b ON a.p_brand = b.p_brand AND b.p_size = a.p_size + 1)
        |SELECT src, dst, diff_size, diff_price FROM up
        |UNION ALL
        |SELECT dst AS src, src AS dst, -diff_size AS diff_size, -diff_price AS diff_price FROM up""".stripMargin,
    "g_edges_typed" ->
      s"""WITH $typedEdgesSql
         |SELECT src, dst, rule, diff_size, diff_price FROM tedges""".stripMargin,
    "g_expand_multi" ->
      s"""WITH RECURSIVE $typedEdgesSql,
         |walk(node, first_wave) AS (
         | SELECT CAST(p_partkey AS BIGINT), CAST(0 AS BIGINT) FROM part WHERE p_partkey % 100 = 0
         | UNION
         | SELECT e.dst, w.first_wave + 1 FROM walk w JOIN tedges e ON e.src = w.node
         | WHERE w.first_wave < 3)
         |SELECT node, MIN(first_wave) AS first_wave FROM walk GROUP BY node""".stripMargin,
    "g_expand" ->
      s"""WITH RECURSIVE $partEdgesSql,
         |walk(node, first_wave) AS (
         | SELECT CAST(p_partkey AS BIGINT), CAST(0 AS BIGINT) FROM part WHERE p_partkey % 100 = 0
         | UNION
         | SELECT e.dst, w.first_wave + 1 FROM walk w JOIN edges e ON e.src = w.node
         | WHERE w.first_wave < 3)
         |SELECT node, MIN(first_wave) AS first_wave FROM walk GROUP BY node""".stripMargin,
    "g_bfs" ->
      s"""WITH RECURSIVE $tradeEdgesSql,
         |walk(node, wave) AS (
         | SELECT CAST(0 AS BIGINT), CAST(1 AS BIGINT)
         | UNION
         | SELECT e.dst, w.wave + 1 FROM walk w JOIN edges e ON e.src = w.node
         | WHERE w.wave < 30)
         |SELECT CAST(n.n_nationkey AS BIGINT) AS node, COALESCE(m.wave, CAST(-1 AS BIGINT)) AS wave
         |FROM nation n LEFT JOIN (SELECT node, MIN(wave) AS wave FROM walk GROUP BY node) m
         | ON m.node = n.n_nationkey""".stripMargin,
    "g_stats" ->
      s"""WITH $tradeEdgesSql
         |SELECT CAST(COUNT(DISTINCT src) AS BIGINT) AS n_nodes,
         | CAST(COUNT(*) AS BIGINT) AS n_edges,
         | ROUND(CAST(COUNT(*) AS DOUBLE) / CAST(COUNT(DISTINCT src) AS DOUBLE), 2) AS avg_degree
         |FROM edges""".stripMargin,
    "g_degrees" ->
      s"""WITH $tradeEdgesSql
         |SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS degree FROM edges GROUP BY src""".stripMargin,
    "g_cc" ->
      s"""WITH RECURSIVE $partEdgesSql,
         |reach(node, lbl) AS (
         | SELECT CAST(p_partkey AS BIGINT), CAST(p_partkey AS BIGINT) FROM part
         | UNION
         | SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node)
         |SELECT node AS id, MIN(lbl) AS component FROM reach GROUP BY node""".stripMargin,
    "g_triangles" ->
      s"""WITH $tradeEdgesSql,
         |canon AS (SELECT src AS x, dst AS y FROM edges WHERE src < dst),
         |tri AS (
         | SELECT a.src AS id, CAST(COUNT(*) AS BIGINT) AS n
         | FROM edges a JOIN edges b ON a.src = b.src AND a.dst < b.dst
         |  JOIN canon c ON c.x = a.dst AND c.y = b.dst
         | GROUP BY a.src)
         |SELECT CAST(n.n_nationkey AS BIGINT) AS id, COALESCE(t.n, CAST(0 AS BIGINT)) AS n_triangles
         |FROM nation n LEFT JOIN tri t ON t.id = n.n_nationkey""".stripMargin,
    "g_pagerank" -> pagerankSql(PR_ITERS),
    "g_hits" -> hitsSql(HITS_ITERS),
    "g_adamic_adar" ->
      s"""WITH $wideEdgesSql,
         |wdeg AS (SELECT src AS w, CAST(COUNT(*) AS BIGINT) AS degw FROM wedges GROUP BY src),
         |pr AS (
         | SELECT x.dst AS u, y.dst AS v, x.src AS w
         | FROM wedges x JOIN wedges y ON x.src = y.src AND x.dst < y.dst),
         |nonadj AS (
         | SELECT p.u, p.v, p.w FROM pr p
         | WHERE NOT EXISTS (SELECT 1 FROM wedges e WHERE e.src = p.u AND e.dst = p.v)),
         |sc AS (
         | SELECT u, v, CAST(COUNT(*) AS BIGINT) AS n_common,
         |  CAST(CAST(SUM(CAST(CAST(1 AS DOUBLE) / CAST(d.degw AS DOUBLE) AS DECIMAL(28,12))) AS DECIMAL(38,12)) AS DOUBLE) AS score
         | FROM nonadj n JOIN wdeg d ON n.w = d.w GROUP BY u, v)
         |SELECT CAST(ROW_NUMBER() OVER (ORDER BY score DESC, u ASC, v ASC) AS BIGINT) AS rank,
         | u, v, n_common, score
         |FROM sc ORDER BY score DESC, u ASC, v ASC LIMIT $AA_TOP""".stripMargin,
    "g_bridges" ->
      """WITH RECURSIVE classes AS (
        | SELECT DISTINCT p_brand AS brand, CAST(p_size AS BIGINT) AS size FROM part),
        |eid AS (
        | SELECT a.brand, a.size AS size_lo, b.size AS size_hi,
        |  ROW_NUMBER() OVER (ORDER BY a.brand, a.size, b.size) AS id
        | FROM classes a JOIN classes b
        |  ON a.brand = b.brand AND (b.size = a.size + 1 OR b.size = a.size + 2)),
        |sym AS (
        | SELECT brand, size_lo AS x, size_hi AS y, id FROM eid
        | UNION ALL SELECT brand, size_hi, size_lo, id FROM eid),
        |reach(id, brand, node) AS (
        | SELECT id, brand, size_lo FROM eid
        | UNION
        | SELECT r.id, r.brand, s.y
        | FROM reach r JOIN sym s ON s.brand = r.brand AND s.x = r.node AND s.id <> r.id)
        |SELECT e.brand, e.size_lo, e.size_hi,
        | NOT EXISTS (SELECT 1 FROM reach r WHERE r.id = e.id AND r.node = e.size_hi) AS is_bridge
        |FROM eid e""".stripMargin,
    "g_richclub" ->
      s"""WITH $wideEdgesSql,
         |deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg FROM wedges GROUP BY src),
         |nh AS (SELECT deg AS k, CAST(COUNT(*) AS BIGINT) AS nn FROM deg GROUP BY deg),
         |mh AS (
         | SELECT LEAST(dx.deg, dy.deg) AS k, CAST(COUNT(*) AS BIGINT) AS ne
         | FROM wedges e JOIN deg dx ON e.src = dx.node JOIN deg dy ON e.dst = dy.node
         | GROUP BY 1),
         |u AS (
         | SELECT COALESCE(nh.k, mh.k) AS k, COALESCE(nn, CAST(0 AS BIGINT)) AS nn,
         |  COALESCE(ne, CAST(0 AS BIGINT)) AS ne
         | FROM nh FULL OUTER JOIN mh ON nh.k = mh.k),
         |c AS (
         | SELECT k,
         |  COALESCE(CAST(SUM(nn) OVER suf AS BIGINT), CAST(0 AS BIGINT)) AS n_rich,
         |  COALESCE(CAST(SUM(ne) OVER suf AS BIGINT), CAST(0 AS BIGINT)) AS e_rich
         | FROM u WINDOW suf AS (ORDER BY k DESC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
         |SELECT k, n_rich, e_rich,
         | CAST(e_rich AS DOUBLE) /
         |  CAST(CAST(n_rich AS HUGEINT) * (CAST(n_rich AS HUGEINT) - 1) AS DOUBLE) AS phi
         |FROM c WHERE n_rich >= 2""".stripMargin,
    "g_assortativity" ->
      s"""WITH $wideEdgesSql,
         |deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg FROM wedges GROUP BY src),
         |xy AS (
         | SELECT dx.deg AS x, dy.deg AS y
         | FROM wedges e JOIN deg dx ON e.src = dx.node JOIN deg dy ON e.dst = dy.node),
         |m AS (
         | SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
         |  SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
         |  SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
         |  SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy,
         |  SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy
         | FROM xy),
         |h AS (
         | SELECT n_edges,
         |  CAST(n_edges AS HUGEINT) * sxy - sx * sy AS num,
         |  CAST(n_edges AS HUGEINT) * sxx - sx * sx AS den1,
         |  CAST(n_edges AS HUGEINT) * syy - sy * sy AS den2
         | FROM m)
         |SELECT n_edges,
         | CASE WHEN den1 = 0 OR den2 = 0 THEN NULL
         |  ELSE CAST(num AS DOUBLE) / (sqrt(CAST(den1 AS DOUBLE)) * sqrt(CAST(den2 AS DOUBLE)))
         | END AS assortativity
         |FROM h""".stripMargin,
    "g_clustering" ->
      s"""WITH $tradeEdgesSql,
         |canon AS (SELECT src AS x, dst AS y FROM edges WHERE src < dst),
         |tri AS (
         | SELECT a.src AS id, CAST(COUNT(*) AS BIGINT) AS n
         | FROM edges a JOIN edges b ON a.src = b.src AND a.dst < b.dst
         |  JOIN canon c ON c.x = a.dst AND c.y = b.dst
         | GROUP BY a.src),
         |deg AS (SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS degree FROM edges GROUP BY src)
         |SELECT CAST(n.n_nationkey AS BIGINT) AS id,
         | COALESCE(d.degree, CAST(0 AS BIGINT)) AS degree,
         | COALESCE(t.n, CAST(0 AS BIGINT)) AS n_triangles,
         | CASE WHEN COALESCE(d.degree, 0) < 2 THEN 0.0
         |  ELSE CAST(COALESCE(t.n, 0) * 2 AS DOUBLE) / CAST(d.degree * (d.degree - 1) AS DOUBLE)
         | END AS clustering_coeff
         |FROM nation n
         | LEFT JOIN tri t ON t.id = n.n_nationkey
         | LEFT JOIN deg d ON d.id = n.n_nationkey""".stripMargin,
    "g_neighbor_feats" ->
      s"""WITH $tradeEdgesSql,
         |deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS degree FROM edges GROUP BY src),
         |nbr AS (SELECT e.src AS node,
         |         CAST(SUM(d.degree) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS nbr_avg_degree
         |        FROM edges e JOIN deg d ON d.node = e.dst GROUP BY e.src),
         |two AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS n_reach2 FROM (
         |         SELECT DISTINCT src, far FROM (
         |          SELECT a.src, b.dst AS far FROM edges a JOIN edges b ON a.dst = b.src
         |          UNION SELECT src, dst AS far FROM edges) t
         |         WHERE src <> far) u GROUP BY src)
         |SELECT d.node, d.degree, n.nbr_avg_degree, t.n_reach2
         |FROM deg d JOIN nbr n ON n.node = d.node JOIN two t ON t.node = d.node""".stripMargin,
    "g_query_pair" -> {
      val vals = QUERY_PAIRS.map { case (a, b) => s"($a, $b)" }.mkString(", ")
      s"""WITH RECURSIVE $tradeEdgesSql,
         |qp(qsrc, qdst) AS (SELECT * FROM (VALUES $vals) v(qsrc, qdst)),
         |walk(root, node, wave) AS (
         | SELECT DISTINCT CAST(qsrc AS BIGINT), CAST(qsrc AS BIGINT), CAST(1 AS BIGINT) FROM qp
         | UNION
         | SELECT w.root, e.dst, w.wave + 1 FROM walk w JOIN edges e ON e.src = w.node
         | WHERE w.wave < 30)
         |SELECT CAST(p.qsrc AS BIGINT) AS src, CAST(p.qdst AS BIGINT) AS dst,
         | COALESCE(m.wave, CAST(-1 AS BIGINT)) AS wave
         |FROM qp p LEFT JOIN (SELECT root, node, MIN(wave) AS wave FROM walk GROUP BY root, node) m
         | ON m.root = p.qsrc AND m.node = p.qdst""".stripMargin
    },
    "g_bfs_allpairs" ->
      s"""WITH RECURSIVE $tradeEdgesSql,
         |roots AS (SELECT DISTINCT src AS node FROM edges),
         |walk(root, node, wave) AS (
         | SELECT node, node, CAST(1 AS BIGINT) FROM roots
         | UNION
         | SELECT w.root, e.dst, w.wave + 1 FROM walk w JOIN edges e ON e.src = w.node
         | WHERE w.wave < 30)
         |SELECT root, node, MIN(wave) AS wave FROM walk GROUP BY root, node""".stripMargin,
    "g_mst" ->
      // Independent characterization (cut/cycle property with the
      // (w, a, b) total order making weights distinct): an edge is in
      // the unique MSF iff its endpoints are NOT connected using only
      // strictly-lighter edges. `walk` floods, per candidate edge,
      // everything reachable from `a` through lighter edges.
      """WITH RECURSIVE wpairs AS (
        | SELECT LEAST(CAST(c.c_nationkey AS BIGINT), CAST(s.s_nationkey AS BIGINT)) AS a,
        |        GREATEST(CAST(c.c_nationkey AS BIGINT), CAST(s.s_nationkey AS BIGINT)) AS b,
        |        MIN(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS w
        | FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        | WHERE c.c_nationkey <> s.s_nationkey
        | GROUP BY 1, 2),
        |e AS (SELECT a, b, w,
        |      CAST(ROW_NUMBER() OVER (ORDER BY w ASC, a ASC, b ASC) AS BIGINT) AS rk
        |      FROM wpairs),
        |dir AS (SELECT a AS u, b AS v, rk FROM e UNION ALL SELECT b, a, rk FROM e),
        |walk(rk, node) AS (
        | SELECT rk, a FROM e
        | UNION
        | SELECT wk.rk, d.v FROM walk wk JOIN dir d ON d.u = wk.node AND d.rk < wk.rk),
        |mst AS (
        | SELECT a, b, w FROM e
        | WHERE NOT EXISTS (SELECT 1 FROM walk x WHERE x.rk = e.rk AND x.node = e.b))
        |SELECT a, b, CAST(ROUND(w, 2) AS DOUBLE) AS w FROM mst""".stripMargin,
    "g_betweenness" -> {
      // σ by unrolled wave levels: s1 = roots; level w sums the σ of
      // every wave-(w-1) predecessor. 8 levels covers any diameter
      // the bounded trade graph can reach (empty levels are no-ops).
      val maxLevel = 8
      val levels = (2 to maxLevel).map { w =>
        s"""s$w AS MATERIALIZED (
           | SELECT d.root, d.node, CAST($w AS BIGINT) AS wave,
           |  CAST(SUM(sp.sigma) AS BIGINT) AS sigma
           | FROM dist d JOIN edges e ON e.dst = d.node
           |  JOIN s${w - 1} sp ON sp.root = d.root AND sp.node = e.src
           | WHERE d.wave = $w GROUP BY d.root, d.node)"""
      }.mkString(",\n")
      val unionAll = (1 to maxLevel).map(w => s"SELECT * FROM s$w").mkString(" UNION ALL ")
      s"""WITH RECURSIVE $tradeEdgesSql,
         |roots AS (SELECT DISTINCT src AS node FROM edges),
         |walk(root, node, wave) AS (
         | SELECT node, node, CAST(1 AS BIGINT) FROM roots
         | UNION
         | SELECT w.root, e.dst, w.wave + 1 FROM walk w JOIN edges e ON e.src = w.node
         | WHERE w.wave < 30),
         |dist AS MATERIALIZED (SELECT root, node, MIN(wave) AS wave FROM walk GROUP BY root, node),
         |s1 AS (SELECT node AS root, node, CAST(1 AS BIGINT) AS wave, CAST(1 AS BIGINT) AS sigma FROM roots),
         |$levels,
         |sigma AS MATERIALIZED ($unionAll),
         |tri AS (
         | SELECT sv.node AS v,
         |  CAST(CAST(sv.sigma * vt.sigma AS DOUBLE) / CAST(st.sigma AS DOUBLE) AS DECIMAL(28,12)) AS contrib
         | FROM sigma sv
         |  JOIN sigma vt ON vt.node = sv.node AND vt.root <> sv.root
         |  JOIN sigma st ON st.root = sv.root AND st.node = vt.root
         | WHERE sv.node <> sv.root AND sv.node <> vt.root
         |  AND (sv.wave - 1) + (vt.wave - 1) = st.wave - 1)
         |SELECT n.node, CAST(ROUND(CAST(COALESCE(SUM(t.contrib), 0) AS DOUBLE) / 2.0, 6) AS DOUBLE) AS btw
         |FROM roots n LEFT JOIN tri t ON t.v = n.node GROUP BY n.node""".stripMargin
    },
    "g_eccentricity" ->
      s"""WITH RECURSIVE $tradeEdgesSql,
         |roots AS (SELECT DISTINCT src AS node FROM edges),
         |walk(root, node, wave) AS (
         | SELECT node, node, CAST(1 AS BIGINT) FROM roots
         | UNION
         | SELECT w.root, e.dst, w.wave + 1 FROM walk w JOIN edges e ON e.src = w.node
         | WHERE w.wave < 30),
         |dist AS (SELECT root, node, MIN(wave) AS wave FROM walk GROUP BY root, node),
         |per AS (SELECT root AS node, CAST(MAX(wave) - 1 AS BIGINT) AS ecc,
         |        CAST(COUNT(*) AS BIGINT) AS n_reachable FROM dist GROUP BY root),
         |g AS (SELECT MAX(ecc) AS diameter, MIN(ecc) AS radius FROM per)
         |SELECT p.node, p.ecc, p.n_reachable, g.diameter, g.radius,
         | p.ecc = g.diameter AS is_peripheral, p.ecc = g.radius AS is_central
         |FROM per p, g""".stripMargin,
    "g_store_diff" -> {
      // relational replay of the store lifecycle: e1 = write(1..30),
      // m = e1 OR-IGNORE-merged with the 20..45 delta (src/dst-only
      // edges, so the merge is a set union), e3 = reset-write(10..50);
      // each diff step is the two EXCEPT directions.
      def slice(name: String, lo: Int, hi: Int) =
        s"""u$name AS (
           | SELECT CAST(a.p_partkey AS BIGINT) AS src, CAST(b.p_partkey AS BIGINT) AS dst
           | FROM part a JOIN part b ON a.p_brand = b.p_brand AND b.p_size = a.p_size + 1
           | WHERE a.p_size BETWEEN $lo AND $hi AND b.p_size BETWEEN $lo AND $hi),
           |$name AS (SELECT src, dst FROM u$name UNION SELECT dst, src FROM u$name)""".stripMargin
      s"""WITH ${slice("e1", 1, 30)},
         |${slice("e2", 20, 45)},
         |${slice("e3", 10, 50)},
         |m AS (SELECT src, dst FROM e1 UNION SELECT src, dst FROM e2)
         |SELECT CAST(1 AS BIGINT) AS step, src, dst, 'added' AS change
         | FROM (SELECT src, dst FROM m EXCEPT SELECT src, dst FROM e1)
         |UNION ALL
         |SELECT CAST(1 AS BIGINT), src, dst, 'removed'
         | FROM (SELECT src, dst FROM e1 EXCEPT SELECT src, dst FROM m)
         |UNION ALL
         |SELECT CAST(2 AS BIGINT), src, dst, 'added'
         | FROM (SELECT src, dst FROM e3 EXCEPT SELECT src, dst FROM m)
         |UNION ALL
         |SELECT CAST(2 AS BIGINT), src, dst, 'removed'
         | FROM (SELECT src, dst FROM m EXCEPT SELECT src, dst FROM e3)""".stripMargin
    },
  )
}
