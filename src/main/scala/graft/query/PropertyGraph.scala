package graft.query

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Rounds

/** The graph-query surface of the engine (SURVEY §2.B.3): ArcadeDB's
  * traversal operators (`out/in/both/outE/inE/…`, `MATCH` patterns,
  * `TRAVERSE`) re-expressed as relational joins over `nodes`/`edges` —
  * "the join IS the traversal". Every hop is an equi-join on `src`/`dst`
  * that Catalyst plans as broadcast or shuffle join as sizes dictate;
  * per-label filters hit the `label` partition column of the persisted
  * layout, so a hop over one edge label reads only that label's files.
  *
  * Column discipline: each binding (`as`) prefixes its node columns, so
  * a chained pattern yields a flat DataFrame of bindings, like the
  * ArcadeDB `MATCH {as: a}…RETURN a.x, b.y` form.
  */
final case class PropertyGraph(nodes: DataFrame, edges: DataFrame,
    /** Persisted full-text postings provider: (vertex label, property)
      * → `(tk, id, tf)` frame when the store maintains a FULL_TEXT
      * index for it ([[graft.load.FullText]]). The query compiler
      * routes eligible CONTAINSTEXT predicates through it; the default
      * (no store attached) serves every predicate from the scan. */
    ftIndex: (String, String) => Option[DataFrame] = (_, _) => None) {

  def nodesOf(label: String): DataFrame = nodes.filter(col("label") === label)
  def edgesOf(label: String): DataFrame = edges.filter(col("label") === label)

  /** Start a pattern at all nodes with `label`, bound as `as`. */
  def v(label: String, as: String): Traversal = {
    val start = nodesOf(label).select(
      nodes.columns.map(c => col(c).as(s"${as}_$c")).toIndexedSeq: _*)
    Traversal(this, start, as)
  }

  /** Out-degree per node over one edge label — the `out('L').size()`
    * graph-scalar (SURVEY §2.B.7), computed as a partial-aggregated
    * groupBy (map-side combine), never a per-node subquery. */
  def outDegree(edgeLabel: String): DataFrame =
    edgesOf(edgeLabel).groupBy(col("src").as("id")).agg(count(lit(1)).as("degree"))

  def inDegree(edgeLabel: String): DataFrame =
    edgesOf(edgeLabel).groupBy(col("dst").as("id")).agg(count(lit(1)).as("degree"))

  /** The edges of `labels` (every edge when `labels` is empty) as an
    * oriented `(src, dst, carry…)` frame for a traversal `direction`:
    * `out` keeps the stored orientation, `in` swaps the endpoints,
    * `both` unions the two orientations (case-insensitive). `carry`
    * columns are evaluated over the stored edge row, so they keep the
    * edge's own orientation. Every hop, TRAVERSE, hop projection and
    * GraphX topology orients its edges here. */
  def oriented(labels: Seq[String], direction: String, carry: Column*): DataFrame = {
    val es = if (labels.isEmpty) edges else edges.filter(col("label").isin(labels: _*))
    def side(from: String, to: String): DataFrame =
      es.select(col(from).as("src") +: col(to).as("dst") +: carry: _*)
    direction.toLowerCase match {
      case "out" => side("src", "dst")
      case "in" => side("dst", "src")
      case "both" => side("src", "dst").unionByName(side("dst", "src"))
      case other => throw new IllegalArgumentException(
        s"unsupported direction '$other' (expected OUT, IN, or BOTH)")
    }
  }

  /** TRAVERSE (SURVEY §2.B.3 variable-length path): breadth-first
    * expansion as a driver loop of joins, one join per depth, with the
    * (start, node) pairs already visited anti-joined out of each new
    * frontier (the explicit visited set, SURVEY §7 risk note), so every
    * node is reported once per start at its minimal depth and cyclic
    * graphs terminate. The loop stops at `maxDepth`, or at the fixpoint
    * when the frontier drains (`maxDepth` None needs no bound at all).
    * `whileNode` is the ArcadeDB `while:` guard, a predicate over the
    * node row that must hold for the traversal to CONTINUE THROUGH a
    * node: guarded nodes are still reported, but not expanded; the
    * start frontier is always expanded.
    *
    * Each depth is two jobs, both [[Rounds.checkpoint]]s whose row
    * count rides the materializing job: the deduplicated reach, whose
    * zero count stops the loop before the visited anti-join shuffles
    * the (by then largest) visited relation one useless time, then the
    * new frontier. The visited union is re-checkpointed every 8 depths
    * to keep its lineage flat (on a cluster, substitute a reliable
    * checkpoint).
    *
    * Returns (start_id, node_id, depth) with depth 0 = the start. With
    * `withPath` a fourth column `path` carries the id array of ONE
    * canonical start-to-node path: minimal depth, ties to the
    * lexicographically smallest array, so a SQL oracle reproduces it.
    * One array per (start, node) is enough by induction: every
    * minimal-depth-d path runs through a parent of minimal depth d−1
    * (a shallower parent would give the node a shallower path), and
    * all candidate arrays share length d, so `min(parent.path) ++ node`
    * IS the global minimum — one map-side-combinable min aggregate per
    * (start, node), never an enumeration of paths. path(0) = start_id,
    * path(depth) = node_id.
    */
  def traverse(starts: DataFrame, labels: Seq[String], direction: String,
      maxDepth: Option[Int] = None, whileNode: Option[Column] = None,
      withPath: Boolean = false): DataFrame = {
    // parallel edges collapse up front: reachability only needs edge
    // EXISTENCE, and deduping once here (SUPPLIED_BY carries one row
    // per lineitem, ~3× per distinct endpoint pair) shrinks every
    // frontier join by the same factor, at every depth
    val hop = oriented(labels, direction).distinct().localCheckpoint(true)
    // the guard relation exists only when a guard does: the unguarded
    // loop pays no frontier × nodes semi-join per depth
    val expandable = whileNode.map(p =>
      nodes.filter(p).select(col("id").as("node_id")).localCheckpoint(true))
    def tagged(df: DataFrame, depth: Int): DataFrame = df.select(Seq(col("start_id"),
      col("node_id"), lit(depth).as("depth")) ++ (if (withPath) Seq(col("path")) else Nil): _*)
    var frontier = tagged(starts.select(col("id").as("start_id"), col("id").as("node_id"),
      array(col("id")).as("path")), 0).localCheckpoint(true)
    var visited = frontier
    var d = 0
    var drained = false
    while (!drained && maxDepth.forall(d < _)) {
      d += 1
      val expanding = expandable match {
        case Some(exp) if d > 1 => frontier.join(exp, Seq("node_id"), "left_semi")
        case _ => frontier
      }
      val step = expanding.join(hop, expanding("node_id") === hop("src"))
      // one row per (start, node): distinct, or with paths the
      // canonical pick as a partial-aggregated min on the same key
      val (reached, reachedRows) = Rounds.checkpoint(
        if (withPath) step.groupBy(col("start_id"), col("dst").as("node_id"))
          .agg(min(concat(col("path"), array(col("dst")))).as("path"))
        else step.select(col("start_id"), col("dst").as("node_id")).distinct(),
        count(lit(1)))
      if (reachedRows.getLong(0) == 0L) drained = true
      else {
        val (next, nextRows) = Rounds.checkpoint(tagged(reached.join(
          visited.select("start_id", "node_id"), Seq("start_id", "node_id"), "left_anti"), d),
          count(lit(1)))
        frontier = next
        drained = nextRows.getLong(0) == 0L
        visited = visited.unionByName(frontier)
        if (d % 8 == 0) visited = visited.localCheckpoint(true)
      }
    }
    visited
  }
}

/** A pattern-match in progress: `bound` holds the prefixed columns of
  * every binding so far; `cur` names the binding at the head. */
final case class Traversal(g: PropertyGraph, bound: DataFrame, cur: String) {

  private def prefixed(df: DataFrame, as: String): DataFrame =
    df.select(df.columns.map(c => col(c).as(s"${as}_$c")).toIndexedSeq: _*)

  /** The prefixed edge columns a hop binds, `<as>_e_<column>`, kept in
    * the edge's stored orientation whatever the hop direction. */
  private def edgeColumns(as: String): Seq[Column] =
    g.edges.columns.toSeq.map(c => col(c).as(s"${as}_e_$c"))

  /** Follow `edgeLabel` edges in direction `dir` (`out`/`in`/`both`)
    * from the current binding into nodes labeled `nodeLabel`, bound as
    * `as`: `out('L'){type: T, as: b}`. `nodeLabel` None joins the
    * target without a label filter (the GraphQL surface and untyped
    * MATCH steps: an edge label determines its endpoints by
    * construction, so the join shape is the same with one filter
    * fewer). Two equi-joins: binding ⋈ oriented edges ⋈ target nodes. */
  def hop(dir: String, edgeLabel: String, nodeLabel: Option[String], as: String): Traversal = {
    val e = g.oriented(Seq(edgeLabel), dir, edgeColumns(as): _*)
    val n = prefixed(nodeLabel.map(g.nodesOf).getOrElse(g.nodes), as)
    val joinedE = bound.join(e, bound(s"${cur}_id") === e("src"))
    Traversal(g, joinedE.join(n, joinedE("dst") === n(s"${as}_id")).drop("src", "dst"), as)
  }

  /** `out('L')`, `in('L')`, `both('L')` into nodes labeled `nodeLabel`. */
  def out(edgeLabel: String, nodeLabel: String, as: String): Traversal =
    hop("out", edgeLabel, Some(nodeLabel), as)
  def in(edgeLabel: String, nodeLabel: String, as: String): Traversal =
    hop("in", edgeLabel, Some(nodeLabel), as)
  def both(edgeLabel: String, nodeLabel: String, as: String): Traversal =
    hop("both", edgeLabel, Some(nodeLabel), as)

  /** `outE('L')`: stop at the edge level (SURVEY §2.B.3 edge-level hop);
    * edge columns prefixed `<as>_`. */
  def outE(edgeLabel: String, as: String): Traversal = {
    val eSel = prefixed(g.edgesOf(edgeLabel), as)
    Traversal(g, bound.join(eSel, bound(s"${cur}_id") === eSel(s"${as}_src")), as)
  }

  def inE(edgeLabel: String, as: String): Traversal = {
    val eSel = prefixed(g.edgesOf(edgeLabel), as)
    Traversal(g, bound.join(eSel, bound(s"${cur}_id") === eSel(s"${as}_dst")), as)
  }

  /** `inV()` / `outV()` after an edge-level hop: join the edge's dst/src
    * endpoint into nodes labeled `nodeLabel`. */
  def inV(nodeLabel: String, as: String): Traversal = endpoint(nodeLabel, as, "dst")
  def outV(nodeLabel: String, as: String): Traversal = endpoint(nodeLabel, as, "src")

  private def endpoint(nodeLabel: String, as: String, end: String): Traversal = {
    val n = prefixed(g.nodesOf(nodeLabel), as)
    Traversal(g, bound.join(n, bound(s"${cur}_$end") === n(s"${as}_id")), as)
  }

  /** `{…, optional: true}` hop (MATCH's left-join step): the edge and
    * its target node — filtered by the node's own `where` BEFORE the
    * join, like Cypher's OPTIONAL MATCH — LEFT-join onto the pattern,
    * so an unmatched row survives with null `<as>_*` columns instead
    * of being dropped. Same equi-join shape as the inner hop (the edge
    * → node join runs first, then one left equi-join on the binding
    * key), so the plan stays broadcast/shuffle-joinable at scale. */
  def hopOptional(dir: String, edgeLabel: String, nodeLabel: Option[String],
      as: String, nodeFilter: Option[Column]): Traversal = {
    val e = g.oriented(Seq(edgeLabel), dir, edgeColumns(as): _*)
    val n = prefixed(nodeLabel.map(g.nodesOf).getOrElse(g.nodes), as)
    val side = e.join(n, e("dst") === n(s"${as}_id")).drop("dst")
    val hopF = nodeFilter.map(side.filter).getOrElse(side)
    val joined = bound.join(hopF, bound(s"${cur}_id") === hopF("src"), "left").drop("src")
    Traversal(g, joined, as)
  }

  def filter(cond: Column): Traversal = copy(bound = bound.filter(cond))
  def result: DataFrame = bound
}
