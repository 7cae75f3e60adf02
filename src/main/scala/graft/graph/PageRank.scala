package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Fixed-iteration PageRank as an iterative DataFrame plan
  * (rank₀ = 1.0; rank = 0.15 + 0.85 · Σ rank_u / outdeg_u — GraphX
  * staticPageRank's update rule).
  *
  * Determinism contract: each message rank_u/outdeg_u is quantized to
  * DECIMAL(28,12) BEFORE the per-vertex sum. Decimal addition is exact
  * and order-independent, so the result is bit-identical across
  * partitionings and across engines — the DuckDB oracle unrolls the
  * same iterations and matches by hash. A raw double sum would depend
  * on partial-aggregation order and could flip a rounded digit.
  *
  * Scale shape: one shuffle per iteration (the groupBy(dst) message
  * sum); edges+outdeg are computed once and persisted; ranks are
  * localCheckpoint-ed per iteration to truncate lineage.
  */
object PageRank {
  private val M = DecimalType(28, 12)

  /** Routed on the message graph's size: when the (src, dst, outdeg)
    * message graph is within [[Quotient.probeBound]] rows (e.g. the
    * nation trade graph: deriving its edges scans the facts, but the
    * graph itself is ≤ |dims|² rows), the ONE bounded collect that
    * probes it is also the in-process iteration's input — dim-sized
    * state, exactly like any broadcast-dimension computation — instead
    * of paying a shuffle per iteration to update 25 numbers.
    * Bit-identical to the distributed loop (same Decimal quantization,
    * exact decimal sums); past the bound the distributed loop runs.
    *
    * @param edges directed (src, dst); every node must appear as a src
    *              (true for bidirectional graphs).
    * @param bidirectional caller asserts every node also appears as a
    *              dst (symmetric edge set). Then every node receives
    *              ≥ 1 message per iteration, so the dangling-node left
    *              join is provably a no-op and is skipped — one join
    *              fewer per iteration, same result.
    * @return (node, rank) with rank as a raw double.
    */
  def run(edges: DataFrame, iters: Int, bidirectional: Boolean = false): DataFrame = {
    val e = edges.select("src", "dst")
    val deg = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("outdeg"))
    val msgGraph = e.join(deg, e("src") === deg("node"))
      .select(e("src"), e("dst"), col("outdeg"))
    val probed = Quotient.probeRows(msgGraph, Quotient.probeBound(e.sparkSession))
    if (probed.isDefined) return ranksInProcess(e, probed.get, iters, bidirectional)
    Superstep.run { sc =>
      val ed = sc.persist(msgGraph.repartition(col("src")), Superstep.Memory)
      val ranks0 = sc.pin(deg.select(col("node"), lit(1.0).as("rank")), eager = false)
      val ranks = sc.rounds(ranks0, iters)(Seq(_)) { (ranks, _) =>
        val msgs = ed.join(ranks, ed("src") === ranks("node"))
          .select(ed("dst"), (ranks("rank") / ed("outdeg")).cast(M).as("contrib"))
          .groupBy(col("dst")).agg(sum(col("contrib")).as("msg"))
        val next =
          if (bidirectional)
            msgs.select(col("dst").as("node"),
              (lit(0.15) + lit(0.85) * col("msg").cast("double")).as("rank"))
          else ranks.select(col("node"))
            .join(msgs, col("node") === msgs("dst"), "left")
            .select(col("node"),
              (lit(0.15) + lit(0.85) * coalesce(col("msg").cast("double"), lit(0.0))).as("rank"))
        // Non-eager checkpoint: severs the plan every iteration (so the
        // optimizer never sees an unrolled 10-join tree) but defers
        // block materialization into the next iteration's job instead
        // of paying one dedicated job per iteration.
        sc.pin(next, eager = false)
      }
      // No action ran inside the loop, so materialize the final ranks
      // ONCE while the message-graph cache is alive — unpersisting
      // first would recompute ed for every iteration at the caller's
      // first action.
      sc.pin(ranks)
    }
  }

  /** Dimension-bounded route over the probed (src, dst, outdeg)
    * message graph `ed`: the rank update runs over an in-memory
    * vector. Replicates the distributed path bit-for-bit: per-message
    * quantization uses Spark's own [[org.apache.spark.sql.types.Decimal]]
    * double→DECIMAL(28,12) cast (HALF_UP), message sums are exact
    * java.math.BigDecimal additions (order-independent), and the rank
    * update is the same IEEE double expression. */
  private def ranksInProcess(e: DataFrame, ed: Array[org.apache.spark.sql.Row], iters: Int,
                             bidirectional: Boolean): DataFrame = {
    import org.apache.spark.sql.types.{Decimal, DoubleType, StructField, StructType}
    import org.apache.spark.sql.Row
    import scala.collection.mutable
    import scala.jdk.CollectionConverters._
    val spark = e.sparkSession
    val nodes: Array[Any] = ed.map(_.get(0)).distinct
    var rank: mutable.HashMap[Any, Double] =
      mutable.HashMap(nodes.map(n => n -> 1.0).toIndexedSeq: _*)
    for (_ <- 1 to iters) {
      val msg = mutable.HashMap.empty[Any, java.math.BigDecimal]
      ed.foreach { r =>
        // rank.get mirrors the distributed path's inner join: a src
        // that dropped out of the rank vector (only possible when the
        // bidirectional assertion is violated) contributes nothing
        // there, so it contributes nothing here either.
        rank.get(r.get(0)).foreach { rk =>
          val contrib = Decimal(rk / r.getLong(2))
          contrib.changePrecision(28, 12)
          msg.update(r.get(1),
            msg.getOrElse(r.get(1), java.math.BigDecimal.ZERO).add(contrib.toJavaBigDecimal))
        }
      }
      val next = mutable.HashMap.empty[Any, Double]
      if (bidirectional)
        msg.foreach { case (n, m) => next.update(n, 0.15 + 0.85 * m.doubleValue) }
      else
        nodes.foreach { n =>
          next.update(n, 0.15 + 0.85 * msg.get(n).map(_.doubleValue).getOrElse(0.0))
        }
      rank = next
    }
    val rows = rank.toSeq.sortBy(_._1.toString).map { case (n, r) => Row(n, r) }
    val schema = StructType(Seq(
      StructField("node", e.schema("src").dataType),
      StructField("rank", DoubleType)))
    spark.createDataFrame(rows.asJava, schema)
  }
}
