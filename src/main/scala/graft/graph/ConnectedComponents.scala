package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Connected components as alternating large-star / small-star
  * DataFrame rounds (Kiveris et al., "Connected Components in
  * MapReduce and Beyond", SOCC'14) — converges in O(log n) rounds
  * regardless of graph diameter.
  *
  * Why not Pregel label propagation (GraphX `connectedComponents`):
  * that converges in *diameter* supersteps. The part edit-graph
  * (chains of p_size ± 1, SURVEY §4) has diameter ~50, so Pregel runs
  * ~50 near-empty shuffle stages; a 100 TB graph with long chains is
  * even worse. Star contraction halves path lengths every round —
  * the measured sf0.1 wall time drops ~6× and the round count is
  * data-size-, not diameter-, bound. GraphX's version stays in
  * [[GraphXAlgos]] as the spec cross-check.
  *
  * Output labeling is identical to GraphX's documented contract:
  * component id = min vertex id in the component; vertices absent
  * from `edges` are singleton components.
  *
  * Scale notes (SURVEY §5): every round is two groupBy-min shuffles +
  * two self-joins on the same key — no driver-side state, no
  * collect. Rounds run on [[Superstep]]: each round's pair set is one
  * eager pin whose job also computes its [[fingerprint]], and the run
  * frees each dead round. Convergence is an exact set-equality check
  * (one-sided `except`), gated by the fingerprint so the except runs
  * only on rounds that can actually be the fixpoint. Once the pair
  * set is within [[Quotient.probeBound]] rows, it is collected and
  * closed with a [[UnionFind]] instead (the local finish).
  */
object ConnectedComponents {

  /** Default round cap: star contraction needs O(log n) rounds. */
  val MaxRounds = 50

  /** Internal edge orientation: (hi, lo) with hi > lo always. */
  private def canonical(edges: DataFrame): DataFrame =
    edges.select(
      greatest(col("src").cast("long"), col("dst").cast("long")).as("hi"),
      least(col("src").cast("long"), col("dst").cast("long")).as("lo"))
      .filter(col("hi") =!= col("lo"))
      .distinct()

  /** large-star(u): connect every neighbor v > u to
    * m = min(N(u) ∪ {u}). One shuffle: the per-u min rides a window
    * over the symmetric view instead of a groupBy + join-back.
    * Output may contain duplicates — [[smallStar]]'s min-aggregation
    * is duplicate-tolerant and its trailing distinct restores the
    * set, so no extra exchange is spent deduping here. */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.select(col("hi").as("u"), col("lo").as("v"))
      .unionAll(e.select(col("lo").as("u"), col("hi").as("v")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("u")
    sym.withColumn("m", least(col("u"), min("v").over(w)))
      .filter(col("v") > col("u"))
      .select(col("v").as("hi"), col("m").as("lo"))
  }

  /** small-star(u): connect every neighbor v < u, and u itself, to
    * m = min(N⁻(u) ∪ {u}). With canonical (hi, lo) edges the
    * strictly-smaller neighborhood of u is exactly the `lo` side, so
    * this is one window shuffle on `hi`; the (u, m) self edge is
    * emitted by the group's first row (row_number = 1). */
  private def smallStar(e: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("hi")
    val wo = Window.partitionBy("hi").orderBy("lo")
    e.withColumn("m", min("lo").over(w))
      .withColumn("rn", row_number().over(wo))
      .select(
        when(col("rn") === 1, array(struct(col("lo").as("hi"), col("m").as("lo")),
                                    struct(col("hi"), col("m").as("lo"))))
          .otherwise(array(struct(col("lo").as("hi"), col("m").as("lo"))))
          .as("out"))
      .select(explode(col("out")).as("e"))
      .select(col("e.hi"), col("e.lo"))
      .filter(col("hi") =!= col("lo"))
      .distinct()
  }

  /** Set fingerprint: (row count, XOR of per-row hashes), observed by
    * the eager pin of the pair set. Order-independent, overflow-free,
    * and valid for SETS (the edge DF is distinct by construction).
    * Equal sets ⇒ equal fingerprint, so it gates the exact `except`
    * check: a fingerprint collision merely wastes one except job,
    * never affects the result. */
  private def fingerprint(sc: Superstep, e: DataFrame): (DataFrame, (Long, Long)) = {
    val (cp, r) = sc.observe(e, Superstep.Memory,
      count(lit(1)), coalesce(expr("bit_xor(xxhash64(hi, lo))"), lit(0L)))
    (cp, (r.getLong(0), r.getLong(1)))
  }

  /** (id, component) for every vertex in `vertices` (col "id");
    * `edges` has (src, dst), either or both orientations.
    *
    * Once the contracted pair set's count (already known from the
    * fingerprint — no extra job) is within [[Quotient.probeBound]]
    * rows, the remaining relation is collected and closed with
    * union-find on the driver instead of running further distributed
    * rounds. Star contraction shrinks the pair set geometrically, so
    * at any fact scale the loop reaches the bound after O(log n)
    * rounds — and the tail rounds it replaces are exactly the ones
    * where per-round scheduling overhead dwarfs the (tiny) data. */
  def run(s: SparkSession, vertices: DataFrame, edges: DataFrame,
          maxRounds: Int = MaxRounds): DataFrame =
    Superstep.run(run(_, s, vertices, edges, maxRounds))

  /** [[run]] on the caller's [[Superstep]], so a caller's own loop
    * (the Borůvka [[Mst]]) owns and frees these pins too. */
  private[graph] def run(sc: Superstep, s: SparkSession, vertices: DataFrame,
                         edges: DataFrame, maxRounds: Int): DataFrame = {
    val bound = Quotient.probeBound(s)
    val (cur0, fp0) = fingerprint(sc, canonical(edges))
    // (pairs, fingerprint, converged): a round's pairs equal the
    // previous round's at the fixpoint, where both stars are identities
    val (cur, (n, _), converged) = sc.loop((cur0, fp0, fp0._1 == 0L), maxRounds,
        (st: (DataFrame, (Long, Long), Boolean)) => s"connected components (${st._2._1} pairs)")(
        st => Seq(st._1))((st, _) => st._3 || st._2._1 <= bound) { case ((cur, curFp, _), _) =>
      val (next, nextFp) = fingerprint(sc, smallStar(largeStar(cur)))
      // the exact one-sided difference runs only when the fingerprints
      // already agree: progressing rounds pay no second job
      (next, nextFp, nextFp == curFp && next.except(cur).isEmpty)
    }
    val labels =
      if (!converged && n > 0) localFinishLabels(s, cur)
      else cur.select(col("hi").as("id"), col("lo").as("component"))
    vertices.select(col("id").cast("long").as("id"))
      .join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
  }

  /** QUOTIENT fast path for the (brand, size ± deltas) class blow-up
    * (round 16 — the Dispatch discipline applied to components):
    * on a blow-up, adjacent classes' members are COMPLETELY
    * interconnected, so the component structure is a pure class
    * function — every member of every class in one class-graph
    * component forms a single component (labeled by the minimum
    * member id across those classes), and members of an ISOLATED
    * class (no present adjacent class) are singletons (no
    * within-class edges: sizes differ). One bounded per-class
    * min-member aggregate + an in-process union-find over the
    * dimension-bounded class graph + one broadcast stamp join replace
    * the O(log n) star-contraction rounds (each of which was two
    * window SORTS of the full pair set — 39 s measured at the
    * 26M-edge sf1x rung). Same (id, component) min-id contract as
    * [[run]], pinned by QuotientPropertySpec. */
  private[graph] def quotientBlowup(s: SparkSession,
      classes: Map[(String, Long), Long], parts: DataFrame,
      deltas: Seq[Long] = Seq(1L)): DataFrame = {
    // per-class minimum member id — one vertex-scale aggregate whose
    // output is class-bounded (the caller's probe guards the domain)
    val mins: Map[(String, Long), Long] = parts
      .groupBy(col("brand"), col("size").cast("long").as("size"))
      .agg(min(col("node").cast("long")).as("mn"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    // in-process union-find over the class graph
    val keys = classes.keys.toSeq.sorted
    val parent = scala.collection.mutable.Map(keys.map(k => k -> k): _*)
    def find(k: (String, Long)): (String, Long) = {
      var r = k
      while (parent(r) != r) r = parent(r)
      var c = k
      while (c != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    val linked = scala.collection.mutable.Set.empty[(String, Long)]
    for { (b, sz) <- keys; d <- deltas if classes.contains((b, sz + d)) } {
      linked += ((b, sz)); linked += ((b, sz + d))
      val (ra, rb) = (find((b, sz)), find((b, sz + d)))
      if (ra != rb) parent(if (Ordering[(String, Long)].lt(ra, rb)) rb else ra) =
        if (Ordering[(String, Long)].lt(ra, rb)) ra else rb
    }
    // component label per LINKED class = min member id over its
    // class-component; an isolated class gets no label (members stay
    // singletons via the coalesce below)
    val compMin = keys.filter(linked).groupBy(find)
      .flatMap { case (_, ks) => val m = ks.map(mins).min; ks.map(_ -> m) }
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val stampRows: Seq[org.apache.spark.sql.Row] = compMin.toSeq.map {
      case ((b, sz), m) => org.apache.spark.sql.Row(b, sz, m)
    }
    val stamp = s.createDataFrame(stampRows.asJava, StructType(Seq(
      StructField("brand", StringType), StructField("size", LongType),
      StructField("comp", LongType))))
    parts
      .select(col("node").cast("long").as("id"), col("brand"),
        col("size").cast("long").as("size"))
      .join(broadcast(stamp), Seq("brand", "size"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("component"))
  }

  /** Exact closure of a bound-sized pair relation: union-find with
    * roots kept at the minimum id, so labels match the distributed
    * fixpoint's min-id contract bit for bit. */
  private def localFinishLabels(s: SparkSession, e: DataFrame): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    import scala.jdk.CollectionConverters._
    val pairs = e.select(col("hi"), col("lo")).collect()
    val uf = new UnionFind
    pairs.foreach(p => uf.union(p.getLong(0), p.getLong(1)))
    val nodes = pairs.iterator.flatMap(p => Iterator(p.getLong(0), p.getLong(1)))
      .toArray.distinct.sorted
    val rows: Seq[Row] = nodes.toIndexedSeq.map(n => Row(n, uf.find(n)))
    s.createDataFrame(rows.asJava, StructType(Seq(
      StructField("id", LongType), StructField("component", LongType))))
  }

  /** Union-find over long ids with path compression; every root is the
    * minimum id of its set, the min-id component label. Shared by the
    * local finish and [[Mst]]'s in-process Kruskal. */
  private[graph] final class UnionFind {
    private val parent = new java.util.HashMap[Long, Long]()

    def find(x: Long): Long = {
      var r = x
      while (parent.getOrDefault(r, r) != r) r = parent.getOrDefault(r, r)
      var c = x
      while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }

    /** Merges the sets of `a` and `b`; false when they were one set. */
    def union(a: Long, b: Long): Boolean = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb) }
      ra != rb
    }
  }
}
