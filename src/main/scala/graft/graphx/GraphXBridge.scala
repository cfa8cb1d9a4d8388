package graft.graphx

import org.apache.spark.graphx.{Edge, Graph, VertexId}
import org.apache.spark.graphx.lib.ShortestPaths
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import graft.query.PropertyGraph

/** GraphX bridge for iterative graph analytics (BASELINE.json
  * spark_approach: "GraphX for batch graph analytics" — analytics only;
  * bulk relational hops stay DataFrame joins, SURVEY §7).
  *
  * The reference exposes `shortestPath`/`dijkstra` through ArcadeDB
  * SQL (SURVEY §2.B.3 [dep]); they run as Pregel jobs here, over edge
  * frames oriented by [[PropertyGraph.oriented]]. TRAVERSE is not a
  * GraphX job: it runs on the DataFrame BFS, [[PropertyGraph.traverse]].
  * Vertex attributes are kept to the minimum the algorithm needs (never
  * whole property rows) so the shuffled state stays small at scale.
  */
object GraphXBridge {

  /** Materialize the (small, vertex-sized) result eagerly, then release
    * every cached graph: Pregel/GraphX pin RDDs at MEMORY_AND_DISK, and
    * leaving them resident starves later queries of executor memory
    * (observed: a 10× slowdown of unrelated queries run after a GraphX
    * job in the same session). */
  private def finish(df: DataFrame, graphs: Graph[_, _]*): DataFrame = {
    val out = df.localCheckpoint(true)
    graphs.foreach(_.unpersist(blocking = false))
    out
  }

  /** Project a PropertyGraph down to a GraphX topology (ids only). */
  def toGraphX(g: PropertyGraph, edgeLabels: Seq[String] = Nil,
      direction: String = "out"): Graph[Unit, Unit] = {
    val es = g.oriented(edgeLabels, direction).rdd
      .map(r => Edge(r.getLong(0), r.getLong(1), ()))
    val vs = g.nodes.select("id").rdd.map(r => (r.getLong(0), ()))
    Graph(vs, es, (), StorageLevel.MEMORY_AND_DISK, StorageLevel.MEMORY_AND_DISK)
  }

  /** Connected components over a label-restricted subgraph; vertices are
    * those incident to the subgraph's edges (isolated nodes would
    * otherwise flood the result with singleton components). Returns
    * (id, component) with component = min vertex id, GraphX's canonical
    * representative. */
  def connectedComponents(spark: SparkSession, g: PropertyGraph,
      edgeLabels: Seq[String]): DataFrame =
    componentsOfPairs(spark, g.oriented(edgeLabels, "out"))

  /** Connected components over an arbitrary (src, dst) pair frame —
    * the dedup-cluster resolver: near-dup PAIRS become groups, each
    * represented by its minimum member id (GraphX CC's canonical
    * representative, deterministic). Vertices are the pair members
    * only; callers left-join and coalesce to self for singletons. */
  def componentsOfPairs(spark: SparkSession, pairs: DataFrame): DataFrame = {
    import spark.implicits._
    val es = pairs.select("src", "dst").rdd.map(r => Edge(r.getLong(0), r.getLong(1), ()))
    val base = Graph.fromEdges(es, (), StorageLevel.MEMORY_AND_DISK,
      StorageLevel.MEMORY_AND_DISK)
    val cc = base.connectedComponents()
    finish(cc.vertices.map { case (id, comp) => (id, comp) }.toDF("id", "component"),
      base, cc)
  }

  /** Landmark shortest-path distances (unweighted BFS Pregel), the
    * `shortestPath(a, b)` equivalent. Returns (id, landmark, dist). */
  def shortestPathsTo(spark: SparkSession, g: PropertyGraph,
      edgeLabels: Seq[String], landmarks: Seq[VertexId],
      direction: String = "out"): DataFrame = {
    import spark.implicits._
    val base = toGraphX(g, edgeLabels, direction)
    val res = ShortestPaths.run(base, landmarks)
    finish(res.vertices.flatMap { case (id, spmap) =>
      spmap.map { case (lm, d) => (id, lm, d) }
    }.toDF("id", "landmark", "dist"), base, res)
  }

  /** Fixed-iteration PageRank (deterministic given iteration count). */
  def pageRank(spark: SparkSession, g: PropertyGraph, iters: Int,
      resetProb: Double = 0.15): DataFrame = {
    import spark.implicits._
    val base = toGraphX(g)
    val res = base.staticPageRank(iters, resetProb)
    finish(res.vertices.map { case (id, pr) => (id, pr) }.toDF("id", "pagerank"),
      base, res)
  }

  /** Weighted single-source shortest path (the `dijkstra(a,b,'w')`
    * equivalent) via Pregel over double weights. `weight` is any Column
    * over the edge row (a property or a constant). Returns
    * (id, dist, hops) — `hops` is the edge count of the minimal-weight
    * path (ties broken toward fewer hops, deterministically), which is
    * what the dialect's path-list `.size()` needs (`size = hops + 1`). */
  def dijkstra(spark: SparkSession, g: PropertyGraph, edgeLabels: Seq[String],
      weight: org.apache.spark.sql.Column, source: VertexId,
      direction: String = "out"): DataFrame = {
    import spark.implicits._
    val es = g.oriented(edgeLabels, direction, weight.cast("double").as("w"))
      .rdd.map(r => Edge(r.getLong(0), r.getLong(1), r.getDouble(2)))
    val inf = (Double.PositiveInfinity, Int.MaxValue)
    def better(a: (Double, Int), b: (Double, Int)): (Double, Int) =
      if (a._1 < b._1 || (a._1 == b._1 && a._2 <= b._2)) a else b
    val graph = Graph.fromEdges(es, inf,
      StorageLevel.MEMORY_AND_DISK, StorageLevel.MEMORY_AND_DISK)
      .mapVertices((id, _) => if (id == source) (0.0, 0) else inf)
    val res = graph.pregel(inf)(
      (_, attr, msg) => better(attr, msg),
      t => {
        val cand = (t.srcAttr._1 + t.attr, t.srcAttr._2 + 1)
        if (t.srcAttr._1 < Double.PositiveInfinity && better(cand, t.dstAttr) == cand &&
            cand != t.dstAttr) Iterator((t.dstId, cand))
        else Iterator.empty
      },
      (a, b) => better(a, b))
    finish(res.vertices.filter(_._2._1 < Double.PositiveInfinity)
      .map { case (id, (d, h)) => (id, d, h) }.toDF("id", "dist", "hops"), graph, res)
  }
}
