package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Maximal independent set via Luby's algorithm (SURVEY §2 A28) —
  * THE textbook parallel-graph symmetry breaker (Luby 1986), and the
  * scheduling/conflict-resolution primitive (pick a maximal
  * non-conflicting subset: ad slots, co-scheduled jobs, seed docs no
  * two of which are near-dups when run over a dup graph).
  *
  * Deterministic variant: round r's priority for node v is
  * md5(r + "_" + v) — behaves like Luby's fresh random draw per
  * round (so the O(log n) expected-rounds argument applies; measured
  * 3 rounds at sf0.01, 4 at sf0.1) but is a pure function of (round,
  * node), so the oracle replays every round bit-for-bit and the
  * result is schedule-independent. A node joins the MIS when its
  * priority is strictly below every UNDECIDED neighbor's (md5
  * collisions on distinct inputs being vanishingly rare, strictness
  * cannot deadlock); winners and their neighbors leave the game and
  * the edge set prunes to both-ends-undecided.
  *
  * Scale shape per round: one partial-aggregable min-hash groupBy
  * over the live edge set, one anti-join removal, two semi-join edge
  * prunes — co-partitioned equi-joins only, localCheckpointed so
  * lineage stays one round deep; the convergence probe rides the
  * checkpoint's count. Non-convergence throws (KCore's contract).
  */
object Mis {

  /** Round-loop checkpoints live on DISK with eager per-round frees
    * (the KCore/KTruss discipline): the loop's working state is
    * edge-sized, two generations coexist at every round boundary, and
    * each is read at most twice per round — in-memory copies starved
    * the unified pool at the 52M-edge sf1x rung on a 16g driver
    * (SCALING.md footnote ³); on disk the loop is memory-bounded at
    * any edge count. */
  private val ROUND_LEVEL = org.apache.spark.storage.StorageLevel.DISK_ONLY

  /** `vertices(id)`, `edges(src, dst)` bidirectional; returns every
    * vertex with its membership flag and joining round (null for
    * non-members). */
  def run(s: SparkSession, vertices: DataFrame, edges: DataFrame,
          maxIter: Int = 25): DataFrame = {
    import s.implicits._
    val verts = vertices.select(col("id").cast("long").as("node")).distinct()
      .localCheckpoint(false)
    var u = verts.localCheckpoint(true, ROUND_LEVEL)
    var e = edges
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .filter($"src" =!= $"dst")
      .distinct()
      .localCheckpoint(true, ROUND_LEVEL)
    var nU = u.count()
    // members holds the RAW winners checkpoints (so the throw path can
    // actually free them — freeCheckpoint no-ops on derived plans like
    // a withColumn projection) alongside each round number
    var members = Seq.empty[(DataFrame, Long)]
    // any abnormal exit must free every live checkpoint (the KCore
    // contract); winners checkpoints underlie the RESULT on success,
    // so they are freed only on the throw path
    def freeAndThrow(msg: String): Nothing = {
      KTruss.freeCheckpoint(u)
      KTruss.freeCheckpoint(e)
      members.foreach { case (w, _) => KTruss.freeCheckpoint(w) }
      throw new IllegalStateException(msg)
    }
    var iter = 0
    while (nU > 0L && iter < maxIter) {
      iter += 1
      val r = iter
      // min undecided-neighbor priority; e is already pruned to
      // both-ends-undecided, so no membership join is needed here
      val minNbr = e
        .select($"src", md5(concat(lit(s"${r}_"), $"dst".cast("string"))).as("h"))
        .groupBy($"src").agg(min($"h").as("mh"))
      val winners = u.join(minNbr.select($"src".as("node"), $"mh"), Seq("node"), "left")
        .filter(md5(concat(lit(s"${r}_"), $"node".cast("string"))) <
          coalesce($"mh", lit("g"))) // 'g' sorts above every hex digest
        .select($"node")
        .localCheckpoint(true, ROUND_LEVEL)
      members = members :+ ((winners, r.toLong))
      val removed = winners
        .union(e.join(winners.select($"node".as("src")), Seq("src"), "left_semi")
          .select($"dst".as("node")))
        .distinct()
      val nextU = u.join(removed, Seq("node"), "left_anti")
        .localCheckpoint(true, ROUND_LEVEL)
      nU = nextU.count()
      val nextE = e.join(nextU.select($"node".as("src")), Seq("src"), "left_semi")
        .join(nextU.select($"node".as("dst")), Seq("dst"), "left_semi")
        .select($"src", $"dst")
        .localCheckpoint(true, ROUND_LEVEL)
      // both successors are materialized — the previous generation's
      // blocks are dead, free them NOW (leaking one edge-sized
      // checkpoint per round is what pinned the pool at sf1x)
      KTruss.freeCheckpoint(u)
      KTruss.freeCheckpoint(e)
      u = nextU
      e = nextE
    }
    if (nU > 0L) freeAndThrow(
      s"Luby MIS did not converge within $maxIter rounds ($nU nodes undecided)")
    // converged: the final u is empty and e with it — their blocks
    // don't underlie the result (built from verts + winners), free now
    KTruss.freeCheckpoint(u)
    KTruss.freeCheckpoint(e)
    val mis = members.map { case (w, r) => w.withColumn("mis_round", lit(r)) }
      .reduceOption(_ union _)
      .getOrElse(verts.limit(0).withColumn("mis_round", lit(0L)))
    verts.join(mis, Seq("node"), "left")
      .select($"node", $"mis_round".isNotNull.as("in_mis"), $"mis_round")
  }

  /** QUOTIENT fast path: Luby over any pure (brand, size ± 1-or-2)
    * blow-up vertex table `(node, brand, size)` with its probed class
    * map. Unlike the truss (where support is a pure class function),
    * Luby's per-node md5 priorities BREAK within-class symmetry, so
    * the MIS itself is not a class function — but the blow-up
    * structure still collapses every edge-set computation in [[run]]
    * to a class-level one:
    *
    *   - the graph is a pure class blow-up (every node of class
    *     c = (brand, size) is adjacent to EVERY node of every
    *     adjacent class, and no within-class edges exist), so the
    *     min-undecided-neighbor priority in round r is the SAME for
    *     all nodes of c:  M_r(c) = min over adjacent classes c' with
    *     undecided nodes of (min over undecided u ∈ c' of h_r(u));
    *   - node v ∈ c wins round r  iff  h_r(v) < M_r(c)  — exactly
    *     [[run]]'s winner predicate, with the same 'g' sentinel when
    *     no adjacent class has undecided nodes;
    *   - winner classes are automatically independent in the class
    *     graph: c has a winner iff classMin_r(c) < M_r(c), i.e.
    *     classMin_r(c) is strictly below every adjacent classMin — two
    *     adjacent classes cannot both satisfy that;
    *   - removal is class-level: a winner's neighbors are ALL
    *     undecided nodes of the adjacent classes, so the survivors of
    *     class c are {v undecided : h_r(v) ≥ M_r(c)} if no adjacent
    *     class had a winner, ∅ otherwise.
    *
    * So each round is ONE partial-aggregable (brand, size) groupBy
    * over the UNDECIDED VERTEX SET (min-hash per class), one bounded
    * collect (the undecided classes are a subset of the probed ones,
    * so `classes.size` bounds it), driver-side threshold/removal
    * computation over the dimension-bounded class graph, and one
    * broadcast-join filter — the quadratic blown-up edge set (the
    * thing [[run]] groupBys and semi-join-prunes every round) is
    * NEVER materialized. Round-faithful and hash-faithful, hence
    * bit-identical to [[run]] on the same graph including
    * `mis_round` (QuotientPropertySpec, RoundEightOpsSpec). The
    * convergence probe rides the same collect; non-convergence throws
    * ([[run]]'s contract). */
  private[graph] def quotientBlowup(s: SparkSession,
      classes: Map[(String, Long), Long], parts: DataFrame,
      maxIter: Int): DataFrame = {
    import s.implicits._
    val verts = parts.localCheckpoint(false)
    var u = verts.localCheckpoint()
    // RAW winners checkpoints + round number (a derived withColumn
    // plan would make the throw path's free a silent no-op)
    var members = Seq.empty[(DataFrame, Long)]
    var undecided = true
    var iter = 0
    // Any abnormal exit must free every live checkpoint — the KCore/
    // KTruss contract this file's edge-set loop cites: winners
    // checkpoints underlie the RESULT on success, so they are freed
    // only on the throw paths.
    def freeAndThrow(msg: String): Nothing = {
      KTruss.freeCheckpoint(u)
      members.foreach { case (w, _) => KTruss.freeCheckpoint(w) }
      throw new IllegalStateException(msg)
    }
    while (undecided) {
      // class state of the undecided set: min round-(iter+1) hash per
      // class. The limit sits INSIDE the collect — never more than
      // the probed class count + 1 rows on the driver. Checking
      // BEFORE bumping iter keeps the round accounting identical to
      // [[run]]: run does work rounds 1..maxIter and succeeds iff the
      // undecided set is empty after any of them — a game needing
      // exactly maxIter rounds must converge here too, not spuriously
      // throw.
      val r = iter + 1
      val h = md5(concat(lit(s"${r}_"), $"node".cast("string")))
      val cls = u.groupBy($"brand", $"size")
        .agg(min(h).as("mh"))
        .limit(classes.size + 1).collect()
      if (cls.length > classes.size) freeAndThrow(
        s"undecided vertices span more than the ${classes.size} probed classes")
      if (cls.isEmpty) undecided = false
      else {
        iter += 1
        if (iter > maxIter) freeAndThrow(
          s"Luby MIS (quotient) did not converge within $maxIter rounds")
        val mh: Map[(String, Long), String] =
          cls.map(row => (row.getString(0), row.getLong(1)) -> row.getString(2)).toMap
        def adjacent(c: (String, Long)): Seq[(String, Long)] =
          Seq(-2L, -1L, 1L, 2L).map(d => (c._1, c._2 + d)).filter(mh.contains)
        // 'g' sorts above every hex digest — run's no-undecided-
        // neighbor sentinel
        val thr: Map[(String, Long), String] = mh.keys.map { c =>
          c -> adjacent(c).map(mh).minOption.getOrElse("g")
        }.toMap
        val winnersC = mh.keySet.filter(c => mh(c) < thr(c))
        val removedC = mh.keySet.filter(c => adjacent(c).exists(winnersC))
        val stateRows = mh.keys.toSeq.map { c =>
          org.apache.spark.sql.Row(c._1, c._2, thr(c), removedC(c))
        }
        import org.apache.spark.sql.types._
        import scala.jdk.CollectionConverters._
        val state = s.createDataFrame(stateRows.asJava,
          StructType(Seq(StructField("brand", StringType),
            StructField("size", LongType), StructField("thr", StringType),
            StructField("removed", BooleanType))))
        val staged = u.join(broadcast(state), Seq("brand", "size"))
        val winners = staged.filter(h < $"thr")
          .select($"node").localCheckpoint()
        members = members :+ ((winners, r.toLong))
        val nextU = staged.filter(!$"removed" && h >= $"thr")
          .select($"node", $"brand", $"size").localCheckpoint()
        KTruss.freeCheckpoint(u)
        u = nextU
      }
    }
    KTruss.freeCheckpoint(u) // converged ⇒ u is the (empty) final round
    val mis = members.map { case (w, r) => w.withColumn("mis_round", lit(r)) }
      .reduceOption(_ union _)
      .getOrElse(verts.limit(0).select($"node").withColumn("mis_round", lit(0L)))
    verts.select($"node").join(mis, Seq("node"), "left")
      .select($"node", $"mis_round".isNotNull.as("in_mis"), $"mis_round")
  }
}
