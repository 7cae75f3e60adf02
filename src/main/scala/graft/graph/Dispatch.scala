package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Automatic quotient dispatch: ONE cheap bounded class-count probe
  * routes each class-structured graph operator to its quotient fast
  * path (in-process sweep of the dimension-bounded class graph +
  * broadcast stamp) or to the general fact-level engine over the
  * materialized blow-up edges — per call, as engine behavior.
  *
  *   - probe: one partial-aggregable `(brand, size)` groupBy count
  *     with the limit INSIDE the collect (≤ bound + 1 rows ever reach
  *     the driver) — fact-linear, map-side combinable, one job. It is
  *     the only code that collects a class map, and its bound is
  *     [[Quotient.classBound]]: the caller's, else
  *     `spark.graft.quotient.maxClasses`, clamped to the latter;
  *   - within the bound, the probed map IS the kernel's input: every
  *     quotient kernel is a function of `(s, classes, parts, …)`, and
  *     kernels that need a finer per-round collect (MIS's undecided
  *     classes, PPR's seed-refined classes) size their guards from the
  *     probed map, so a route the probe admitted never throws;
  *   - past the bound, the general engine runs over
  *     [[GraphBuilder.blowupEdges]] of the same vertex table — the
  *     same edit rule materialized as equi-joins, so the fallback is
  *     the measured distributed engine, not a failure.
  *
  * Both routes are bit-identical on any dimension-bounded blow-up
  * (QuotientPropertySpec pins each kernel against its engine;
  * DispatchSpec pins the ROUTING: an unstructured graph past an
  * injected bound falls back and still answers, and both routes agree
  * wherever both run).
  *
  * Vertex-table contract, shared by every route and kernel:
  * `(node LONG, brand STRING, size LONG)` — plus `is_seed BOOLEAN` for
  * [[ppr]]. The per-operator edit rules match the shipped derived
  * graphs: wide symmetric (±1, ±2) for MIS / k-truss / RA /
  * node-Jaccard / Louvain / graphlets, narrow symmetric (±1) for
  * PPR / ANF / CC / expansion, directed size-up (+1) for HITS.
  */
object Dispatch {

  /** The probe: Some(class map) when the `(brand, size)` domain of
    * `parts` is within [[Quotient.classBound]], None past it. */
  def probe(parts: DataFrame,
            bound: Int = -1): Option[Map[(String, Long), Long]] =
    Quotient.probeRows(
      parts.groupBy(col("brand"), col("size").cast("long").as("size"))
        .agg(count(lit(1)).as("cnt")),
      Quotient.classBound(parts.sparkSession, bound))
      .map(_.map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap)

  /** The shipped part-table vertex set in the dispatch contract's
    * column shape. */
  def partVertices(s: SparkSession, sfDir: String): DataFrame =
    graft.Tables.part(s, sfDir)
      .select(col("p_partkey").cast("long").as("node"),
        col("p_brand").as("brand"), col("p_size").cast("long").as("size"))

  /** A28 Luby MIS over the wide (±1, ±2) blow-up of `parts`. */
  def mis(s: SparkSession, parts: DataFrame, maxIter: Int = 25,
          bound: Int = -1): DataFrame =
    probe(parts, bound) match {
      case Some(classes) => Mis.quotientBlowup(s, classes, parts, maxIter)
      case None => Mis.run(s, parts.select(col("node").as("id")),
        GraphBuilder.blowupEdges(parts, Seq(1L, 2L), symmetric = true), maxIter)
    }

  /** A26 k-truss over the wide (±1, ±2) blow-up of `parts`. */
  def ktruss(s: SparkSession, parts: DataFrame, k: Int,
             bound: Int = -1): DataFrame =
    probe(parts, bound) match {
      case Some(classes) => KTruss.quotientBlowup(s, classes, parts, k)
      case None => KTruss.run(s,
        GraphBuilder.blowupEdges(parts, Seq(1L, 2L), symmetric = true), k)
    }

  /** A30 HITS over the DIRECTED size-up (+1) blow-up of `parts`. */
  def hits(s: SparkSession, parts: DataFrame, iters: Int,
           bound: Int = -1): DataFrame =
    probe(parts, bound) match {
      case Some(classes) => Hits.quotientBlowup(s, classes, parts, iters)
      case None => Hits.run(
        GraphBuilder.blowupEdges(parts, Seq(1L), symmetric = false), iters)
    }

  /** A31 Resource-Allocation link prediction over the wide (±1, ±2)
    * blow-up of `parts`. */
  def resourceAllocation(s: SparkSession, parts: DataFrame, topK: Int,
                         bound: Int = -1): DataFrame =
    probe(parts, bound) match {
      case Some(classes) => LinkPrediction.quotientBlowup(s, classes, parts, topK)
      case None => LinkPrediction.resourceAllocation(
        GraphBuilder.blowupEdges(parts, Seq(1L, 2L), symmetric = true), topK)
    }

  /** A20 personalized PageRank over the narrow (±1) blow-up of
    * `parts(node, brand, size, is_seed)`. The refined-quotient path
    * splits each class by the seed flag (≤ 2× the probed count), so
    * the plain class probe is the right routing signal. */
  def ppr(s: SparkSession, parts: DataFrame, iters: Int,
          bound: Int = -1): DataFrame =
    probe(parts, bound) match {
      case Some(classes) => PersonalizedPageRank.quotientRefined(s, classes, parts, iters)
      case None => PersonalizedPageRank.run(s,
        GraphBuilder.blowupEdges(parts, Seq(1L), symmetric = true),
        parts.filter(col("is_seed")).select(col("node")), iters)
    }

  /** A21 2-round HyperANF (+ exact ball anchor) over the narrow (±1)
    * blow-up of `parts`. */
  def anf(s: SparkSession, parts: DataFrame, sampleMod: Int, tol: Double,
          bound: Int = -1): DataFrame =
    (probe(parts, bound) match {
      case Some(classes) => Anf.quotientBlowup(s, classes, parts, sampleMod, tol)
      case None => Anf.propagationReference(s,
        GraphBuilder.blowupEdges(parts, Seq(1L), symmetric = true), sampleMod, tol)
    }).select(col("node"), col("ball2"), col("anf_ok"))

  /** A13 neighbor-set Jaccard over the wide (±1, ±2) blow-up of
    * `parts`. */
  def jaccard(s: SparkSession, parts: DataFrame,
              bound: Int = -1): DataFrame =
    probe(parts, bound) match {
      case Some(classes) => NodeSimilarity.quotientBlowup(s, classes, parts)
      case None => NodeSimilarity.jaccard(s,
        GraphBuilder.blowupEdges(parts, Seq(1L, 2L), symmetric = true))
    }

  /** A3 depth-bounded wavefront expansion over the narrow (±1)
    * blow-up of `parts` (round-16): within the class bound the
    * first-seen wave is a pure class function (see
    * [[Bfs.quotientExpand]]); past it the per-wave frontier-join
    * engine runs over the materialized blow-up. `seeds` is a (node)
    * frame, a subset of `parts`' vertex set. */
  def expand(s: SparkSession, parts: DataFrame, seeds: DataFrame, depth: Int,
             bound: Int = -1): DataFrame =
    probe(parts, bound) match {
      case Some(classes) => Bfs.quotientExpand(s, classes, parts, seeds, depth)
      case None => Bfs.expand(
        GraphBuilder.blowupEdges(parts, Seq(1L), symmetric = true), seeds, depth)
    }

  /** A3b depth-bounded expansion over the THREE-RULE typed edit graph
    * (round-16): classes refine to `(brand, size, ptype)` — still an
    * attribute-domain-bounded set — so within the bound the typed
    * rule union is a pure class adjacency and the expansion runs as
    * one bounded seed-class collect + an in-process class BFS + one
    * broadcast stamp (see [[Bfs.quotientExpandTyped]]); past it the
    * frontier-join engine runs over the materialized typed blow-up.
    * `parts` carries `(node, brand, size, ptype)`. */
  def expandTyped(s: SparkSession, parts: DataFrame, seeds: DataFrame, depth: Int,
                  bound: Int = -1): DataFrame =
    Quotient.probeRows(
      parts.select(col("brand"), col("size").cast("long").as("size"), col("ptype")).distinct(),
      Quotient.classBound(s, bound))
      .map(_.map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet) match {
      case Some(classes) => Bfs.quotientExpandTyped(s, classes, parts, seeds, depth)
      case None => Bfs.expand(
        GraphBuilder.typedBlowupEdges(parts).select(col("src"), col("dst")),
        seeds, depth)
    }

  /** The shipped part-table vertex set WITH the type attribute —
    * [[expandTyped]]'s contract shape. */
  def partVerticesTyped(s: SparkSession, sfDir: String): DataFrame =
    graft.Tables.part(s, sfDir)
      .select(col("p_partkey").cast("long").as("node"),
        col("p_brand").as("brand"), col("p_size").cast("long").as("size"),
        col("p_type").as("ptype"))

  /** A7 connected components over the narrow (±1) blow-up of `parts`
    * (round-16): within the class bound, components are a pure class
    * function (adjacent classes' members fully interconnect; isolated
    * classes are singletons — see
    * [[ConnectedComponents.quotientBlowup]]); past it the
    * star-contraction engine runs over the materialized blow-up. */
  def cc(s: SparkSession, parts: DataFrame, bound: Int = -1): DataFrame =
    probe(parts, bound) match {
      case Some(classes) => ConnectedComponents.quotientBlowup(s, classes, parts)
      case None => ConnectedComponents.run(s,
        parts.select(col("node").as("id")),
        GraphBuilder.blowupEdges(parts, Seq(1L), symmetric = true))
    }

  /** A37 one-level Louvain modularity ascent over the wide (±1, ±2)
    * blow-up of `parts` (round-16): within the class bound the sweeps
    * run on the quotient (deg and e_vC are pure class functions on a
    * blow-up — see [[Louvain.quotientBlowup]]), vertex-scale work
    * only; past it the general edge-scale engine runs over the
    * materialized blow-up. Both routes are bit-identical on any
    * dimension-bounded blow-up (QuotientPropertySpec). */
  def louvain(s: SparkSession, parts: DataFrame, sweeps: Int,
              bound: Int = -1): DataFrame =
    probe(parts, bound) match {
      case Some(classes) => Louvain.quotientBlowup(s, classes, parts, sweeps)
      case None => Louvain.run(s, parts.select(col("node").as("id")),
        GraphBuilder.blowupEdges(parts, Seq(1L, 2L), symmetric = true), sweeps)
    }

  /** B8 corpus-wide graphlet census over the wide (±1, ±2) blow-up
    * of `parts` (round-13). */
  def graphlets(s: SparkSession, parts: DataFrame,
                bound: Int = -1): DataFrame =
    probe(parts, bound) match {
      case Some(classes) =>
        GraphletCensus.toDF(s, GraphletCensus.quotientCounts(classes))
      case None => GraphletCensus.distributed(s,
        GraphBuilder.blowupEdges(parts, Seq(1L, 2L), symmetric = true)
          .select(col("src"), col("dst")))
    }
}
