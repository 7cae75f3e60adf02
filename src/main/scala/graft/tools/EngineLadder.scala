package graft.tools

import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** Scale-ladder timings for the FACT-SCALE engines that the quotient
  * fast paths removed from the per-round bench (round-7 verdict #1:
  * "the only way to measure KTruss.run / Mis.run / the distributed
  * twins at fact scale"). For each engine it times BOTH the
  * distributed fact-scale implementation and (where one exists) its
  * quotient twin, at the SF dir in SPARK_GRAFT_SF_DIR — so SCALING.md
  * can show the two growth laws side by side on one machine state.
  *
  * Same measurement protocol as Bench: noop-sink materialization,
  * median of --reps (default 3), cache-clear + GC between reps,
  * failures excluded with the error on stderr. One JSON line.
  */
object EngineLadder {
  import graft.Measure.{materialize, median, ms}

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    def flagValue(as: Seq[String], flag: String): (Option[String], Seq[String]) = {
      val i = as.indexOf(flag)
      if (i < 0) (None, as)
      else {
        require(i + 1 < as.length, s"$flag given without a value")
        (Some(as(i + 1)), as.take(i) ++ as.drop(i + 2))
      }
    }
    val (repsV, rest1) = flagValue(args.toSeq, "--reps")
    // --exclude a,b,c: run EVERYTHING BUT the named engines — derived
    // from the registry, so an engine added later is measured by
    // default instead of silently vanishing from an include-list
    val (exclV, rest2) = flagValue(rest1, "--exclude")
    val reps = repsV.map(_.toInt).getOrElse(3)
    val excluded = exclV.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    val only = rest2.toSet
    require(excluded.isEmpty || only.isEmpty,
      "--exclude and an include-list are mutually exclusive")
    val s = graft.GraftSession.local(defaultCpus = "32")
    import graft.graph._

    def parts = graft.Tables.part(s, sfDir)
      .select(col("p_partkey").as("id"))
    def wide = GraphBuilder.partEdgesWide(s, sfDir)
    def up = GraphBuilder.partEdges(s, sfDir)
    // the *_quotient rows call the routed operators with an explicit
    // bound at the session's class cap (the largest bound the probe
    // honours): a row leaves the quotient route only when the class
    // graph itself exceeds that cap
    def verts = Dispatch.partVertices(s, sfDir)
    val quotient = Quotient.maxClasses(s)

    val allEngines: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "ktruss_run" -> (() => KTruss.run(s, wide, k = 4)),
      "ktruss_quotient" -> (() => Dispatch.ktruss(s, verts, k = 4, bound = quotient)),
      "mis_run" -> (() => Mis.run(s, parts, wide)),
      "mis_quotient" -> (() => Dispatch.mis(s, verts, bound = quotient)),
      "hits_run" -> (() => Hits.run(up, iters = 8)),
      "hits_quotient" -> (() => Dispatch.hits(s, verts, iters = 8, bound = quotient)),
      "ra_run" -> (() => LinkPrediction.resourceAllocation(wide, topK = 100)),
      "jaccard_run" -> (() => NodeSimilarity.jaccard(s, wide)),
      "jaccard_quotient" -> (() => Dispatch.jaccard(s, verts, bound = quotient)),
      "ppr_run" -> (() => {
        val seeds = graft.Tables.part(s, sfDir)
          .filter(col("p_partkey") % 100 === 0).select(col("p_partkey").as("node"))
        PersonalizedPageRank.run(s, GraphBuilder.partEdges(s, sfDir), seeds,
          GraphPack.PPR_ITERS)
      }),
      "ppr_quotient" -> (() => Dispatch.ppr(s,
        verts.withColumn("is_seed", col("node") % 100 === 0), GraphPack.PPR_ITERS,
        bound = quotient)),
      // the g_anf reference composition (2-round propagation + exact
      // wedge-join 2-ball anchor), single-sourced in Anf so the
      // ladder measures exactly what the quotient replaced — surface
      // shape matched to the shipped key (est dropped)
      "anf_run" -> (() => Anf.propagationReference(s,
        GraphBuilder.partEdges(s, sfDir), GraphPack.ANF_SAMPLE, GraphPack.ANF_TOL)
        .select(col("node"), col("ball2"), col("anf_ok"))),
      "anf_quotient" -> (() => Dispatch.anf(s, verts, GraphPack.ANF_SAMPLE,
        GraphPack.ANF_TOL, bound = quotient)),
      "ra_quotient" -> (() => Dispatch.resourceAllocation(s, verts, topK = 100,
        bound = quotient)),
      // round-10 routed ops: fast (in-process sweep) vs FORCED
      // fallback (bound=1 → the distributed general engine) on the
      // same inputs — the quotient-twin story for the four operators
      // FallbackRoutingSpec pins route-identical
      "betweenness_fast" -> (() =>
        Betweenness.run(s, GraphBuilder.tradeEdges(s, sfDir))),
      "betweenness_fallback" -> (() =>
        Betweenness.run(s, GraphBuilder.tradeEdges(s, sfDir), bound = 1)),
      "dagdepth_fast" -> (() => DagDepth.partEditDepth(s, sfDir)),
      "dagdepth_fallback" -> (() => DagDepth.partEditDepth(s, sfDir, bound = 1)),
      "bridges_fast" -> (() => Bridges.classEdgeBridges(s, sfDir)),
      "bridges_fallback" -> (() => Bridges.classEdgeBridges(s, sfDir, bound = 1)),
      "bfs_allpairs_fast" -> (() => {
        val edges = GraphBuilder.tradeEdges(s, sfDir)
        val seeds = edges.select(col("src").as("node")).distinct()
          .select(col("node").as("root"), col("node"))
        Bfs.bfsAuto(edges, seeds)
      }),
      "bfs_allpairs_fallback" -> (() => {
        val edges = GraphBuilder.tradeEdges(s, sfDir)
        val seeds = edges.select(col("src").as("node")).distinct()
          .select(col("node").as("root"), col("node"))
        Bfs.bfsAuto(edges, seeds, bound = 1)
      }))
    val unknown = (only ++ excluded) -- allEngines.map(_._1).toSet
    require(unknown.isEmpty,
      s"unknown engine name(s) ${unknown.mkString(", ")} — known: ${allEngines.map(_._1).mkString(", ")}")
    val engines = allEngines.filter { case (n, _) =>
      if (excluded.nonEmpty) !excluded(n) else only.isEmpty || only(n) }

    // one untimed warmup each (codegen + classloading out of band)
    engines.foreach { case (n, f) =>
      try materialize(f()) catch { case NonFatal(e) =>
        System.err.println(s"[ladder] warmup $n: ${e.getMessage}") }
      s.catalog.clearCache(); System.gc()
    }
    val out = engines.map { case (n, f) =>
      val xs = (1 to reps).flatMap { _ =>
        val t0 = System.nanoTime()
        val ok = try { materialize(f()); true }
          catch { case NonFatal(e) =>
            System.err.println(s"[ladder] $n FAILED: ${e.getMessage}"); false }
        val t = (System.nanoTime() - t0) / 1e9
        s.catalog.clearCache(); System.gc()
        if (ok) Some(t) else None
      }
      n -> (if (xs.nonEmpty) median(xs) else -1.0)
    }
    println(out.map { case (n, v) => s""""$n":${ms(v)}""" }
      .mkString(s"""{"sf":"$sfDir","reps":$reps,"engines":{""", ",", "}}"))
    s.stop()
  }
}
