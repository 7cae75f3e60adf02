package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Community detection by synchronous label propagation (Raghavan et
  * al. 2007, the standard LPA) — the "which cluster does this entity
  * belong to" companion to [[ConnectedComponents]] (which only answers
  * "are they connected at all"). Every vertex starts labeled with its
  * own id; each round it adopts the most frequent label among its
  * neighbors, ties broken by the SMALLEST label — a deterministic
  * total order, so the fixed-iteration result is reproducible and
  * cross-engine checkable (plain LPA's random tie-breaks are not).
  * Vertices with no in-neighbors keep their current label.
  *
  * Scale shape: each round is one co-partitioned edges⋈labels join
  * and two partial-aggregable aggregations — (dst, label) counts,
  * then per-dst argmax via max(struct(count, -label)) — followed by a
  * left join back to the full vertex set; everything shuffles on the
  * vertex key, nothing is collected. Lineage is truncated per round
  * (a lazy [[Superstep]] pin), so K rounds cost K bounded stage chains
  * at any graph size, and one eager pin of the result lets the run
  * free every round's pin. Rounds are FIXED (not run to convergence):
  * LPA on bidirectional graphs can oscillate under synchronous
  * updates, so a fixed-round contract is both the deterministic and
  * the honest one.
  */
object LabelPropagation {

  def run(s: SparkSession, vertices: DataFrame, edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    Superstep.run { sc =>
      val (e, labels0) = inputs(sc, vertices, edges)
      val labels = sc.rounds(labels0, iters)(Seq(_)) { (labels, _) =>
        sc.pin(round(e, labels), eager = false)
      }
      // no action ran inside the loop: one eager pin of the result, so
      // the run frees every round's lazy pin
      sc.pin(labels)
    }
  }

  /** The (src, dst) edges and the initial (id, label) vector, each
    * lazily pinned and hash-partitioned on its join key. */
  private[graft] def inputs(sc: Superstep, vertices: DataFrame,
                            edges: DataFrame): (DataFrame, DataFrame) = {
    val e = sc.pin(edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst")).repartition(col("src")), eager = false)
    val labels0 = sc.pin(vertices.select(col("id").cast("long").as("id"))
      .withColumn("label", col("id"))
      .repartition(col("id")), eager = false)
    (e, labels0)
  }

  /** One synchronous round: every vertex with in-neighbors adopts
    * their most frequent label, the smallest on a tie. Both joins
    * build the vertex-sized side (shuffle_hash hint), so the edges
    * stream through unsorted. */
  private[graft] def round(e: DataFrame, labels: DataFrame): DataFrame = {
    val counts = e.join(labels.select(col("id").as("src"), col("label")).hint("shuffle_hash"), "src")
      .groupBy(col("dst").as("id"), col("label")).agg(count(lit(1)).as("c"))
    // mode with min-label tie-break: max over (count, -label)
    val upd = counts.groupBy(col("id"))
      .agg(max(struct(col("c"), (-col("label")).as("nl"))).as("m"))
      .select(col("id"), (-col("m.nl")).as("new_label"))
    labels.join(upd.hint("shuffle_hash"), Seq("id"), "left")
      .select(col("id"), coalesce(col("new_label"), col("label")).as("label"))
  }
}
