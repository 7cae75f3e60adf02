package graft.graph

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** DAG longest-path leveling (SURVEY §2 A29) — "dependency depth" of
  * every node in a directed acyclic edit graph: the scheduling /
  * BOM-explosion primitive (how many sequential steps feed this
  * node?). Here over the DIRECTED size-up edit rule underlying the
  * widened part edit-graph (same brand, size + 1 or + 2 — acyclic
  * because size strictly increases; the A-family's symmetrized graph
  * is this DAG unioned with its reverse).
  *
  * Scale shape — iterate the QUOTIENT, not the facts: depth is a pure
  * function of the (brand, size) equivalence class (two parts of one
  * class have identical predecessor classes), and the class domain is
  * bounded by |brands| × |size domain| at ANY fact scale. So the
  * plan is: one bounded class probe ([[Dispatch.probe]]), an
  * in-process longest-path DP over it (sizes ascend, so one pass in
  * size order is the topological sweep), and one broadcast join
  * stamping class depths back onto the fact-scaled part table. A
  * naive per-part relaxation would run ~50 scheduler rounds of
  * fact-sized joins for the same integers — the quotient shrinks the
  * iteration to a driver array and leaves facts with a single
  * broadcast-joined scan.
  *
  * The class-domain bound is a ROUTING decision: the probed class
  * map feeds the driver DP directly; a class domain past the bound
  * (size behaving like a continuous value, say) routes to
  * [[classDepthDistributed]] — per-level relaxation over
  * the distributed class graph — and still answers, with the depth
  * stamp becoming a shuffle join instead of a broadcast.
  *
  * Both routes enforce the SAME declared chain-depth bound of 59: the
  * oracle's recursive walk bounds its state enumeration there, so a
  * deeper-than-expected class chain fails LOUDLY on the engine side
  * instead of silently diverging (the s_knn_binary dims-guard
  * discipline).
  */
object DagDepth {

  /** Declared cross-engine chain-depth contract (see class doc). */
  val MAX_CHAIN: Long = 59L

  /** Longest-path depth of every part in the size-up edit DAG.
    * Returns (part, depth): depth 0 = no in-edges (no same-brand part
    * 1–2 sizes below), else 1 + max over predecessor classes. */
  def partEditDepth(s: SparkSession, sfDir: String,
                    bound: Int = -1): DataFrame = {
    import s.implicits._
    depthOf(s, graft.Tables.part(s, sfDir)
      .select($"p_partkey".as("part"), $"p_brand".as("brand"),
        $"p_size".as("size")), bound)
  }

  /** The routed engine over any `(part, brand, size)` vertex table —
    * factored out so the routing spec and the GraphDB facade can
    * drive arbitrary tables. Normalizes to the facade's documented
    * column types (part/size → LONG) up front, so int- and long-typed
    * callers land on identical code paths. */
  private[graph] def depthOf(s: SparkSession, p0: DataFrame,
                             bound: Int = -1): DataFrame = {
    import s.implicits._
    val p = p0.select($"part".cast("long").as("part"), $"brand",
      $"size".cast("long").as("size"))
    Dispatch.probe(p, bound) match {
      case Some(classes) =>
        p.join(broadcast(classDepthDriver(s, classes.keys.toArray)), Seq("brand", "size"))
          .select($"part", $"depth")
      case None =>
        p.join(classDepthDistributed(s, p.select($"brand", $"size").distinct()),
            Seq("brand", "size"))
          .select($"part", $"depth")
    }
  }

  /** The in-process DP over probed class rows: ascending size order
    * IS a topological order of the class DAG. */
  private def classDepthDriver(s: SparkSession,
                               classes: Array[(String, Long)]): DataFrame = {
    import scala.collection.mutable
    import scala.jdk.CollectionConverters._
    val depth = mutable.HashMap.empty[(String, Long), Long]
    classes.groupBy(_._1).foreach { case (brand, cls) =>
      val present = cls.map(_._2).toSet
      cls.map(_._2).distinct.sorted.foreach { sz =>
        val preds = Seq(sz - 1, sz - 2).filter(present)
          .map(ps => depth((brand, ps)) + 1L)
        depth.update((brand, sz), if (preds.isEmpty) 0L else preds.max)
      }
    }
    require(depth.isEmpty || depth.values.max <= MAX_CHAIN,
      s"class-DAG chain depth ${depth.values.max} exceeds the declared bound of $MAX_CHAIN " +
        "(size domain wider than expected) — raise the bound in BOTH engines")
    val rows = classes.map { case (b, sz) => Row(b, sz, depth((b, sz))) }.toSeq
    val schema = StructType(Seq(StructField("brand", StringType),
      StructField("size", LongType), StructField("depth", LongType)))
    s.createDataFrame(rows.asJava, schema)
  }

  /** The general engine: max-plus PATH DOUBLING over the DISTRIBUTED
    * class graph. Round k holds P_k = the longest path length for
    * every ordered class pair reachable in ≤ 2^k edges;
    * P_{k+1}(u, v) = max(P_k(u, v), max over w of P_k(u, w) + P_k(w, v))
    * — one self-join + one partial-aggregable max per round, reaching
    * the all-pairs longest-path fixpoint in ⌈log₂ chain⌉ rounds where
    * the per-level relaxation needed `chain` rounds (~50 scheduler-
    * bound tiny jobs was the measured cost — engines.jsonl's flat
    * ~11 s dagdepth_fallback at every rung). The pair table stays
    * class-linear: the declared chain bound caps any path at 59 edges
    * of delta ≤ 2, so each node reaches ≤ 118 successors — and a
    * per-round max-length guard throws the contract violation LOUDLY
    * before the table could grow past it. depth(c) is then the max
    * incoming path length (0 for sources). Per-round state is
    * checkpointed on DISK under the [[Superstep]] driver. Returns
    * (brand, size, depth) for every class. */
  private[graph] def classDepthDistributed(s: SparkSession,
                                           classes: DataFrame): DataFrame = {
    import s.implicits._
    val lvl = Superstep.Disk
    Superstep.run { sc =>
      val cls = sc.pin(classes.select($"brand", $"size").distinct(), lvl, eager = false)
      // one generation: the pair table with its length sum and longest
      // length, both aggregated by the checkpoint's own job, and
      // whether the previous round proved the fixpoint
      def pairs(df: DataFrame): (DataFrame, Long, Long) = {
        val (cp, r) = sc.observe(df, lvl,
          coalesce(sum($"len"), lit(0L)), coalesce(max($"len"), lit(0L)))
        (cp, r.getLong(0), r.getLong(1))
      }
      // P_0: the directed class edges under the size-up rule,
      // pred --(+1|+2)--> succ, each a longest-≤1-edge path of length 1
      val (paths0, total0, _) = pairs(cls.select($"brand", $"size".as("u"))
        .join(cls.select($"brand", $"size".as("v")), Seq("brand"))
        .filter($"v" - $"u" === 1 || $"v" - $"u" === 2)
        .select($"brand", $"u", $"v", lit(1L).as("len")))
      // fixpoint in ⌈log₂ MAX_CHAIN⌉ productive rounds + 1 to observe;
      // convergence rides the (monotone, bounded: ≤ |cls|·118 rows of
      // len ≤ 59) length SUM. No edges: every class is depth 0.
      val maxIter = 64 - java.lang.Long.numberOfLeadingZeros(MAX_CHAIN) + 2
      val (paths, _, _) = sc.loop((paths0, total0, total0 == 0L), maxIter,
          (_: (DataFrame, Long, Boolean)) => "class-DAG path doubling " +
            s"(chain deeper than the declared bound of $MAX_CHAIN; raise it in BOTH engines)")(
          st => Seq(st._1))((st, _) => st._3) { case ((paths, total, _), done) =>
        val composed = paths.as("a")
          .join(paths.as("b"),
            col("a.brand") === col("b.brand") && col("a.v") === col("b.u"))
          .select(col("a.brand").as("brand"), col("a.u").as("u"),
            col("b.v").as("v"), (col("a.len") + col("b.len")).as("len"))
        val (next, t2, longest) = pairs(paths.union(composed)
          .groupBy($"brand", $"u", $"v")
          .agg(max($"len").as("len")))
        // the guard that keeps the doubling bounded: past the contract,
        // lengths (and the pair table) would grow geometrically — bail
        // the moment the contract is violated, same message as the DP
        require(longest <= MAX_CHAIN,
          s"class-DAG chain depth $longest exceeds the declared bound of $MAX_CHAIN " +
            "(size domain wider than expected) — raise the bound in BOTH engines")
        // fixpoint proofs, cheapest first: a longest path strictly
        // below this round's 2^(done+1)-edge coverage means NO longer
        // path exists (any longer one would have a covered prefix
        // exceeding it) — that skips the usual observe-no-change round;
        // the monotone length sum is the general backstop
        (next, t2, longest < (1L << (done + 1)) || t2 == total)
      }
      // depth(c) = longest incoming path; sources (no incoming pair) = 0
      sc.pin(cls
        .join(paths.groupBy($"brand", $"v").agg(max($"len").as("d"))
            .select($"brand", $"v".as("size"), $"d"),
          Seq("brand", "size"), "left")
        .select($"brand", $"size", coalesce($"d", lit(0L)).as("depth")), lvl)
    }
  }
}
