package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions.col

/** The round mechanics the DataFrame iterative operators share
  * (PageRank, HITS, LPA, k-core, connected components, the packed-BFS
  * centrality family, `dijkstraDf`, walks): a frame probed by a join
  * every round is laid out once, and each round's state is an eager
  * local checkpoint (flat lineage) whose loop-control aggregates ride
  * the same job. */
private[graft] object Rounds {

  /** Layout for a frame joined on `key` every round. At or above
    * `minRows` rows it is hash-partitioned and sorted on `key` before
    * an eager local checkpoint, so each partition holds whole key
    * groups in key order. Below `minRows` the build shuffle costs more
    * than it can save (a broadcast-sized partner joins the scan in
    * place), so the frame is checkpointed in its input layout, or
    * returned as is when it already is a checkpoint. `minRows = 0`
    * always lays out and never counts; otherwise the rows are counted
    * with one job, unless the caller already holds the count.
    *
    * The planner only reuses the layout when the checkpoint reports
    * its hash partitioning. Without AQE it does; under AQE (the session
    * factory's setting, Spark 4.1) the checkpoint reports
    * UnknownPartitioning and each round's join exchanges this side
    * again (ROADMAP, direction 3). */
  def probed(df: DataFrame, key: String, minRows: Long = 0L,
      rows: Option[Long] = None): DataFrame =
    if (minRows > 0L && rows.getOrElse(df.count()) < minRows)
      Triangles.materialized(df)
    else df.repartition(col(key)).sortWithinPartitions(col(key))
      .localCheckpoint(true)

  /** Eager local checkpoint of one round's frame, with `metrics`
    * (aggregates over its rows) computed by the same job through
    * `observe()`: the loop control costs no extra driver round-trip.
    * Returns the checkpoint and the metric values in argument order. */
  def checkpoint(df: DataFrame, metrics: Column*): (DataFrame, Row) = {
    require(metrics.nonEmpty, "checkpoint needs at least one metric")
    val named = metrics.zipWithIndex.map { case (m, i) => m.as(s"__m$i") }
    val obs = new Observation()
    val cp = df.observe(obs, named.head, named.tail: _*).localCheckpoint(true)
    val got = obs.get
    (cp, Row.fromSeq(metrics.indices.map(i => got(s"__m$i"))))
  }
}
