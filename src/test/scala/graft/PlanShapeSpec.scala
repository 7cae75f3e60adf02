package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, ResolvedHint}
import org.apache.spark.sql.execution.datasources.LogicalRelation

/** Plan-SHAPE guardrails: the scale-critical physical properties the
  * engine promises (SURVEY §5) asserted over every declared query, so
  * a refactor can't silently reintroduce a cartesian product or a
  * forced broadcast of an SF-scaled table. Checked at sf0.001 — plan
  * shape, not data, is under test. */
class PlanShapeSpec extends SparkSpec {

  /** Queries whose plans deliberately broadcast one side of a cross
    * or non-equi join: BroadcastNestedLoopJoin is the intended
    * operator there (tiny query set × corpus for the kNN pair;
    * okey-bounded pairwise a.okey < b.okey self-join for GED — the
    * reference's surface is all-pairs over a bounded set; bounded
    * seed-centroid / codebook broadcasts for the semantic-dedup and
    * PQ encodes). */
  private val deliberateCross =
    Set("s_knn_brute", "s_knn_ivf", "s_range_search", "g_ged_pairs", "d_semantic", "s_knn_pq",
      "g_mcs", // g_ged_pairs' bounded okey<100 pair self-join (B7)
      "s_pipeline", // embeds d_semantic's bounded centroid broadcast
      "t_tfidf", // one-row corpus-count broadcast
      "t_colloc", // one-row bigram-total broadcast (t_tfidf's pattern)
      "g_eccentricity", // one-row diameter/radius extrema broadcast
      "s_maxsim", // bounded multi-vector query broadcast (E1's shape)
      "s_knn_binary", // ≤N_QUERIES-row sign-signature broadcast (E1's shape)
      "s_knn_ivfpq_r", // E20's bounded codebook broadcast + the ≤N_QUERIES re-rank broadcast
      "s_knn_filtered", // pre-filtered corpus × query broadcast (E1's shape)
      "s_matryoshka", // truncated corpus × query broadcast (E1's shape)
      "q_basket_pairs", // one-row order-total broadcast
      "e_rfm", // one-row observation-end + one-row tertile-threshold broadcasts
      "e_survival", // one-row observation-end broadcast (t_tfidf's pattern)
      "e_fill", // domain-bounded calendar-days broadcast onto the user grid
      "q_histogram", // one-row extrema broadcast (t_tfidf's pattern)
      "g_modularity", // one-row edge-total broadcast (t_tfidf's pattern)
      "d_cluster_spec", // one-row doc-total broadcast (t_tfidf's pattern)
      "s_inertia", // one-row SSE-total broadcast (t_tfidf's pattern)
      "s_recall", // composes s_knn_brute/ann, inheriting their shapes
      "s_rrf", // composes s_knn_brute + its own bounded query broadcast (E16)
      "s_bm25", // one-row corpus-stats broadcast onto the bounded query-term set (E17)
      "s_rrf_hybrid", // composes s_knn_brute + s_bm25 (E18)
      "s_knn_ivfpq", // bounded centroid + codebook broadcasts (E3 × E5's shapes)
      "g_graphlet_sig", // one-row n/m stats broadcast onto 8 census rows (B9)
      "s_mmr") // E19's bounded query×corpus pool broadcast (E1's shape) —
               // visible to the sweep since round 15 replaced the eager
               // checkpoints with a lazy one (MmrSpec still asserts the
               // pre-checkpoint pool/sims shapes directly)
  // NOTE (round-13): t_bpe returns post-checkpoint / driver-assembled
  // frames, so the all-keys sweeps below see only LogicalRDD /
  // LocalRelation scans for it. Its PRE-checkpoint shape is asserted
  // directly: the trainer is join-free by construction (windows +
  // partial-aggregable groupBy + TakeOrderedAndProject only).
  // g_labelprop and g_modularity read the label-propagation run's
  // eager result pin, so the sweeps see one checkpoint scan for them
  // too; RoundFourOpsSpec asserts the plan of one round directly.

  private def df(name: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    SparkEntry.queries(name)(spark, sfDir)
  }

  private def hintedTables(plan: LogicalPlan): Seq[String] =
    plan.collect { case h: ResolvedHint =>
      h.child.collectLeaves().collect {
        case r: LogicalRelation =>
          r.relation.toString
      }
    }.flatten

  test("no query plan contains a CartesianProduct") {
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      val physical = df(name).queryExecution.sparkPlan.toString
      assert(!physical.contains("CartesianProduct"), s"$name has a cartesian product")
    }
  }

  test("BroadcastNestedLoopJoin appears only in the deliberate broadcast-cross queries") {
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      val physical = df(name).queryExecution.sparkPlan.toString
      if (!deliberateCross(name)) {
        assert(!physical.contains("BroadcastNestedLoopJoin"),
          s"$name has an unplanned nested-loop join")
      }
    }
  }

  test("broadcast hints never cover SF-scaled base tables") {
    // nation/region are fixed-size dimensions; everything else grows
    // with the scale factor and must be left to AQE.
    val sfScaled = Seq("customer", "supplier", "part", "orders", "lineitem",
      "documents", "events")
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      val hinted = hintedTables(df(name).queryExecution.optimizedPlan)
      sfScaled.foreach { t =>
        assert(!hinted.exists(_.contains(s"$t.parquet")),
          s"$name force-broadcasts SF-scaled table $t")
      }
    }
  }

  test("q6 scan pushes its filters and prunes to the 4 needed columns") {
    // (Spark elides long PushedFilters lists with "...", so assert on
    // the leading filters and on the exact pruned ReadSchema.)
    val scan = df("q6_filter_agg").queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("FileScan parquet")).mkString("\n")
    assert(scan.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"shipdate filter not pushed to scan: $scan")
    val readSchema = scan.split("ReadSchema: ").last
    val cols = "l_(\\w+):".r.findAllMatchIn(readSchema).map(_.group(1)).toSet
    assert(cols === Set("quantity", "extendedprice", "discount", "shipdate"),
      s"q6 reads wrong column set $cols")
  }

  test("m_audio never shuffles (decode + reduce fused in one map pass)") {
    val plan = df("m_audio").queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"m_audio must be shuffle-free — decode and stats are per-row map work:\n$plan")
  }

  test("q_asof shuffles exactly once (the as-of is a window pass, not a join)") {
    val plan = df("q_asof").queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges === 1, s"q_asof should shuffle once, saw $exchanges:\n$plan")
    assert(!plan.contains("Join"), s"q_asof must not contain a join:\n$plan")
  }

  test("the general RA engine (Dispatch fallback route) keeps the skew-proof block shape") {
    // the shipped g_adamic_adar key routes to the quotient at any
    // class-bounded SF, so the FALLBACK engine's plan isn't covered
    // by the all-keys sweep above — force it through the dispatcher
    // with a bound of 1 and assert the scale-critical shape: no
    // cartesian, no nested-loop join (every join is the equi block/
    // canon/anti join), and no full global sort (top-k must stay
    // TakeOrdered, map-side k per partition)
    import org.apache.spark.sql.functions.col
    val parts = graft.Tables.part(spark, sfDir)
      .select(col("p_partkey").cast("long").as("node"),
        col("p_brand").as("brand"), col("p_size").cast("long").as("size"))
    val plan = graph.Dispatch.resourceAllocation(spark, parts, topK = 50, bound = 1)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"general RA has a cartesian:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"general RA has a nested-loop join:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"general RA's top-k must be TakeOrdered, not a global sort:\n$plan")
  }

  test("q_skyline's only unpartitioned window runs over the domain-bounded band summary") {
    // The strictly-cheaper running max decomposes by price band so the
    // fact-scaled (price, size) grid never funnels through a single
    // partition: the one global-order window may only see the per-band
    // aggregate (one row per $100 of price DOMAIN, regardless of row
    // count). A regression reintroducing Window.orderBy over the grid
    // itself fails here.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val plan = df("q_skyline").queryExecution.optimizedPlan
    val globals = plan.collect { case w: LWindow if w.partitionSpec.isEmpty => w }
    assert(globals.size === 1, s"expected exactly one global window:\n$plan")
    globals.foreach { w =>
      // directly beneath the global window there must be an aggregate
      // grouping on the single band key (Catalyst may collapse the
      // grid aggregate into it — max per band needs no distinct grid —
      // but the window input stays band-count-bounded either way)
      val bandAgg = w.child.collect {
        case a: Aggregate if a.groupingExpressions.length == 1 => a
      }
      assert(bandAgg.nonEmpty,
        s"global window is not fed by the single-key band aggregate:\n$w")
    }
  }

  test("quotient fast paths never hash-shuffle the fact table") {
    // g_hits stamps in-process class scores via ONE broadcast join
    // (zero hash exchanges in the final plan — the guarded class
    // collect is a separate bounded job); g_bridges' final plan is
    // the in-process verdict itself (local rows, zero exchanges). A
    // regression reintroducing a fact-scaled iteration fails here.
    Seq("g_hits", "g_bridges").foreach { name =>
      val plan = df(name).queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(exchanges === 0, s"$name should not hash-shuffle, saw $exchanges:\n$plan")
    }
  }

  test("iterative graph queries keep lineage truncated (no unrolled join towers)") {
    // A 10-iteration PageRank plan that did NOT checkpoint would nest
    // ~10 joins; with per-iteration localCheckpoint the final plan has
    // at most one rank-join level above the checkpointed RDD scan.
    val plan = df("g_pagerank").queryExecution.optimizedPlan.toString
    val joins = plan.linesIterator.count(_.trim.startsWith("Join"))
    assert(joins <= 4, s"g_pagerank plan has $joins joins - lineage not truncated?\n$plan")
  }
}
