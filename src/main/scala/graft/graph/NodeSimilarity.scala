package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Node-pair Jaccard similarity over neighbor sets (SURVEY §2 A13) —
  * the graph-db "similar entities" primitive (link prediction, entity
  * resolution). Semantics follow the reference's pairwise
  * set-similarity (mcs.py:285-336) lifted onto graph neighborhoods:
  * for every node pair with at least one common neighbor, emit
  * |N(a) ∩ N(b)| and |N(a) ∩ N(b)| / |N(a) ∪ N(b)|.
  *
  * Exact wedge counting WITHOUT the naive self-join. The edge
  * self-join on the middle vertex materializes Σ deg(m)² rows through
  * join machinery, and — fatally at scale — a single celebrity node
  * of degree 10⁶ lands its 10¹² wedges in ONE task. Equally fatally,
  * a per-node `collect_list` adjacency builds a degree-sized
  * aggregation buffer under one key (~800 MB unspillable for a
  * degree-10⁸ node). Neither shape appears here:
  *
  *   1. Neighbors are ranked per middle vertex by a row_number window
  *      (sort-based — spills to disk, no per-key aggregation state)
  *      and grouped into POSITIONAL BLOCKS of ≤ τ by rank DIV τ: the
  *      only collected arrays are per-(mid, block), bounded at τ
  *      elements whatever the degree. Block b holds sort ranks
  *      [bτ, (b+1)τ) of the middle's neighbor list, so block contents
  *      equal the contiguous slices of the globally sorted adjacency
  *      array the previous formulation materialized — without ever
  *      materializing it.
  *   2. Single-block middles (deg ≤ τ) enumerate their C(deg,2)
  *      neighbor pairs map-side through CHAINED GENERATORS —
  *      posexplode(part) then explode(slice(part, i+2, …)) — feeding
  *      straight into a partial-aggregable count: the wedge stream
  *      collapses to distinct (a,b) pairs per partition before it
  *      ever shuffles. Generators and slice() are codegen'd; the
  *      equivalent higher-order-function formulation
  *      (flatten(transform(…, lambda))) falls back to interpreted
  *      per-row eval and measured 3× slower on the same data.
  *   3. Hot middles (deg > τ) emit within-block pairs as in (2) after
  *      a (mid, blk) repartition spreads one celebrity's blocks over
  *      tasks, and cross-block pairs from a block self-join (bi < bj)
  *      re-hashed on (mid, bi, bj): the d² work spreads over ⌈d/τ⌉²
  *      bounded tasks of ≤ τ² pairs each. Positional blocks of the
  *      sorted rank order guarantee every x in block bi precedes
  *      every y in block bj>bi, so emitted pairs are already in
  *      canonical (a ≤ b) order and each unordered pair appears
  *      exactly once (a = b ties from parallel edges are filtered,
  *      exactly like the wedge join never pairing an edge with
  *      itself).
  *
  * Equivalence of the two paths (and of the union to the plain wedge
  * join) is spec-verified on a synthetic hot-hub graph
  * (NodeSimilaritySpec).
  *
  * Input contract: `edges(src, dst)` bidirectional and self-loop-free,
  * as produced by [[GraphBuilder]]; duplicate (src,dst) rows count as
  * parallel edges, exactly like the wedge join they replace.
  */
object NodeSimilarity {

  /** All ordered pairs (arr(i), arr(j)) with i < j from one sorted
    * array column, as two long columns — two chained codegen'd
    * generators, no lambda, no struct allocation. */
  private def pairsOf(df: DataFrame, arr: String): DataFrame =
    df.select(col(arr), posexplode(col(arr)).as(Seq("i", "a")))
      .select(col("a"), explode(expr(s"slice($arr, i + 2, size($arr))")).as("b"))

  def jaccard(s: SparkSession, edges: DataFrame, tau: Int = 256): DataFrame = {
    import s.implicits._
    require(tau >= 2, s"block cap tau must be >= 2, got $tau")
    val e = edges.select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
    // Positional blocks: ONE shuffle on the middle vertex; rank and
    // degree ride the same exchange (row_number needs the sort, count
    // reuses the partitioning), then the bounded per-(mid, blk)
    // collect runs on the SAME partitioning — no second exchange.
    // Every aggregation buffer holds ≤ τ neighbor ids.
    val byMid = Window.partitionBy($"src").orderBy($"dst")
    val blocks = e
      .withColumn("rank", row_number().over(byMid) - 1)
      .withColumn("deg", count(lit(1)).over(Window.partitionBy($"src")))
      .groupBy($"src".as("mid"), expr(s"rank div $tau").as("blk"))
      .agg(sort_array(collect_list($"dst")).as("part"),
        first($"deg").as("deg"))
      .localCheckpoint(false)

    // single-block middles: all pairs are within the one block
    val cold = pairsOf(blocks.filter($"deg" <= tau), "part")

    val hot = blocks.filter($"deg" > tau)
    // within-block pairs need no join — just spread one hot middle's
    // blocks across tasks before the quadratic explode
    val hotWithin = pairsOf(hot.repartition($"mid", $"blk"), "part")
    // cross-block pairs: block self-join (bi < bj), re-hashed on
    // (mid, bi, bj) so a celebrity's ⌈d/τ⌉² block pairs spread across
    // the cluster instead of staying in the join's single mid partition
    val hotCross = hot.as("x")
      .join(hot.as("y"),
        col("x.mid") === col("y.mid") && col("x.blk") < col("y.blk"))
      .select(col("x.mid").as("mid"), col("x.blk").as("bx"), col("y.blk").as("by"),
        col("x.part").as("nx"), col("y.part").as("ny"))
      .repartition($"mid", $"bx", $"by")
      .select($"ny", explode($"nx").as("a"))
      .select($"a", explode($"ny").as("b"))

    // vertex-sized degree table: partial-aggregable, no buffers
    val deg = e.groupBy($"src".as("node")).agg(count(lit(1)).as("deg"))

    val counts = cold.union(hotWithin).union(hotCross)
      .filter($"a" =!= $"b") // parallel-edge guard: wedge join never paired an edge with itself
      .groupBy($"a", $"b")
      .agg(count(lit(1)).as("n_common"))
    counts
      .join(deg.select($"node".as("a"), $"deg".as("da")), "a")
      .join(deg.select($"node".as("b"), $"deg".as("db")), "b")
      .withColumn("jaccard",
        $"n_common".cast("double") / ($"da" + $"db" - $"n_common").cast("double"))
      .select($"a".as("node_a"), $"b".as("node_b"), $"n_common", $"jaccard")
  }

  /** QUOTIENT fast path: neighbor-set Jaccard over the widened
    * (brand, size ± 1-or-2) blow-up of a `(node, brand, size)` vertex
    * table with its probed class map. In a pure class blow-up every
    * node of class c = (brand, size) has the IDENTICAL neighbor set
    * N(c) = the union of adjacent classes' members, so for
    * u ∈ c₁, v ∈ c₂:
    *
    *   |N(u) ∩ N(v)| = Σ_{c₃ adjacent to both} |c₃|   (a pure
    *   class-pair function; c₁ = c₂ gives n_common = deg — two
    *   same-class nodes share everything, Jaccard 1), and
    *   |N(u) ∪ N(v)| = deg(c₁) + deg(c₂) − n_common.
    *
    * Only same-brand class pairs within size distance ≤ 4 can share a
    * neighbor, so the class-pair table is domain-bounded (≤ 5 rows
    * per class) and computed in-process off the probed map; ONE
    * broadcast stamp join against part × part emits the fact pairs in
    * the same canonical (node_a < node_b) order, each exactly once
    * (cross-class pairs via least/greatest over disjoint classes,
    * within-class pairs via uid < vid). The output is inherently
    * quadratic in class membership — what the fast path removes is
    * the WEDGE ENUMERATION (Σ deg² rows, 27× the output at the sf0.3x
    * rung: 120 s → stamp cost). The Jaccard division is the same
    * single IEEE double division of exact integers the fact path
    * performs, so rows are bit-identical (QuotientPropertySpec +
    * RoundEightOpsSpec vs [[jaccard]]). */
  private[graph] def quotientBlowup(s: SparkSession,
                                    classes: Map[(String, Long), Long],
                                    parts: DataFrame): DataFrame = {
    import s.implicits._
    val cnt = classes.withDefaultValue(0L)
    def nbrSum(b: String, sz: Long): Long =
      Seq(-2L, -1L, 1L, 2L).map(d => cnt((b, sz + d))).sum
    val pairRows = classes.keys.toSeq.flatMap { case (b, s1) =>
      (s1 to s1 + 4).filter(s2 => classes.contains((b, s2))).flatMap { s2 =>
        val common = (math.max(s1, s2) - 2 to math.min(s1, s2) + 2)
          .filter(s3 => math.abs(s3 - s1) >= 1 && math.abs(s3 - s1) <= 2 &&
            math.abs(s3 - s2) >= 1 && math.abs(s3 - s2) <= 2)
          .map(s3 => cnt((b, s3))).sum
        if (common < 1L) None
        else {
          val union = nbrSum(b, s1) + nbrSum(b, s2) - common
          Some(org.apache.spark.sql.Row(b, s1, s2, common,
            common.toDouble / union.toDouble))
        }
      }
    }
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val pairDF = s.createDataFrame(pairRows.asJava, StructType(Seq(
      StructField("brand", StringType), StructField("slo", LongType),
      StructField("shi", LongType), StructField("n_common", LongType),
      StructField("jaccard", DoubleType))))
    val p = parts.select($"node".as("uid"), $"brand".as("ubrand"), $"size".as("usize"))
    val q = parts.select($"node".as("vid"), $"brand".as("vbrand"), $"size".as("vsize"))
    val cross = p
      .join(broadcast(pairDF.filter($"slo" < $"shi")),
        $"ubrand" === $"brand" && $"usize" === $"slo")
      .join(q, $"brand" === $"vbrand" && $"vsize" === $"shi")
      .select(least($"uid", $"vid").as("node_a"),
        greatest($"uid", $"vid").as("node_b"), $"n_common", $"jaccard")
    val within = p
      .join(broadcast(pairDF.filter($"slo" === $"shi")),
        $"ubrand" === $"brand" && $"usize" === $"slo")
      .join(q, $"brand" === $"vbrand" && $"vsize" === $"shi" && $"uid" < $"vid")
      .select($"uid".as("node_a"), $"vid".as("node_b"), $"n_common", $"jaccard")
    cross.unionByName(within)
  }
}
