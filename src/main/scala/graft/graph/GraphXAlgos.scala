package graft.graph

import org.apache.spark.graphx.{Edge, Graph, PartitionStrategy}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Whole-graph analytics via GraphX — the sanctioned path for
  * analytical graph queries (BASELINE: "GraphX for analytics, not
  * OLTP traversal"; traversal ops live in [[Bfs]] as DataFrame
  * frontier joins instead).
  *
  * Inputs/outputs stay DataFrames; GraphX's RDDs are an internal
  * representation only. Vertex ids must be Long ("id"); edges
  * ("src", "dst") may be either orientation.
  */
object GraphXAlgos {

  private def graphOf(vertices: DataFrame, edges: DataFrame): Graph[Int, Int] = {
    import org.apache.spark.sql.functions.col
    val vRdd = vertices.select(col("id").cast("long")).rdd.map(r => (r.getLong(0), 0))
    val eRdd = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .rdd.map(r => Edge(r.getLong(0), r.getLong(1), 0))
    Graph(vRdd, eRdd, 0)
  }

  /** Connected components; component id = min vertex id in the
    * component (GraphX's documented, deterministic labeling).
    * Vertices absent from `edges` become singleton components. */
  def connectedComponents(s: SparkSession, vertices: DataFrame, edges: DataFrame): DataFrame = {
    import s.implicits._
    graphOf(vertices, edges).connectedComponents().vertices.toDF("id", "component")
  }

  /** Per-vertex triangle counts. Pass CANONICAL undirected edges
    * (src < dst, distinct); TriangleCount canonicalizes again
    * defensively but dedup beforehand keeps the shuffle small. */
  def triangleCounts(s: SparkSession, vertices: DataFrame, edges: DataFrame): DataFrame = {
    import s.implicits._
    graphOf(vertices, edges)
      .partitionBy(PartitionStrategy.RandomVertexCut)
      .triangleCount().vertices.toDF("id", "n_triangles")
  }
}
