package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Community detection by SYNCHRONOUS label propagation over an
  * undirected canonical (a < b) edge list — the near-linear community
  * primitive beside connected components (which merges everything
  * touching) and k-core (which strips by density). Like k-core it is
  * an inherently iterative fixpoint, so it is spec-proven rather than
  * oracle-twinned.
  *
  * Determinism: all vertices update SIMULTANEOUSLY each round (no
  * processing-order dependence — the asynchronous variant's
  * nondeterminism is exactly what this forfeits), each taking the most
  * frequent label among its neighbors with ties to the SMALLEST label
  * (encoded as `max(struct(cnt, −label))`, exact for any id >
  * Long.MinValue). Labels initialize to vertex ids. Synchronous LPA
  * can oscillate on bipartite-like structures, so the loop runs a
  * FIXED `iters` rounds (the GraphX LabelPropagation contract) rather
  * than to convergence.
  *
  * Scale: each round is one edge-sized join (labels onto the
  * bidirectional edge list) + one (vertex, label)-keyed
  * map-side-combinable count + one vertex-keyed argmax — nothing
  * shuffles more than the directed edge set; labels checkpoint per
  * round ([[Rounds.checkpoint]]) to keep lineage flat. Returns
  * (n, community). */
object Communities {

  /** DataFrame-NATIVE connected components via alternating
    * large-star / small-star rounds (Kiveris et al., "Connected
    * Components in MapReduce and Beyond") — the 100 TB-path twin of
    * the GraphX bridge's CC: no RDD caching, no Pregel, every round
    * two vertex-keyed aggregates and a projection, AQE-splittable like
    * any join. Each round strictly shrinks the forest height;
    * convergence is checked by an edge-count fixpoint on the star
    * edges (the count rides each round's [[Rounds.checkpoint]]; a
    * containment probe runs only once two counts agree).
    *
    *  - large-star: every neighbor u > min-of-neighborhood m(v) links
    *    to m(v) — applied from BOTH endpoints' perspectives via the
    *    bidirectional list.
    *  - small-star: each vertex links its ≤-self neighbors to its
    *    minimum neighbor.
    *
    * Returns (n, component = minimum reachable id) — bit-equal to the
    * GraphX bridge's components (spec-asserted on planted and random
    * graphs). */
  def connectedComponentsDf(edges: DataFrame, maxIters: Int = 50): DataFrame = {
    // star edges as (parent, child) pairs, child > parent invariant
    // after each small-star; init from the canonical list
    val start = Rounds.checkpoint(edges.select(
        least(col("a"), col("b")).as("p"), greatest(col("a"), col("b")).as("c"))
      .filter(col("p") =!= col("c")).distinct(), count(lit(1)))
    var star = start._1
    var prev = -1L
    var curCount = start._2.getLong(0)
    var it = 0
    var same = false
    while (it < maxIters && !same) {
      // LARGE-STAR on the bidirectional view: for each center v with
      // neighborhood N(v), link every u ∈ N(v) with u > v to
      // m = min(v, min N(v))
      val bi = star.select(col("p").as("v"), col("c").as("u"))
        .unionAll(star.select(col("c").as("v"), col("p").as("u")))
      val mins = bi.groupBy(col("v"))
        .agg(least(min(col("u")), first(col("v"))).as("m"))
      val ls = bi.join(mins, Seq("v"))
        .filter(col("u") > col("v"))
        .select(col("m").as("p"), col("u").as("c"))
        .unionAll(bi.filter(col("u") > col("v")) // keep v linked to m too
          .join(mins, Seq("v"))
          .select(col("m").as("p"), col("v").as("c")))
        .filter(col("p") =!= col("c")).distinct()
      // SMALL-STAR: link each center's ≤-self neighbors (its parents
      // in the current forest) to its overall minimum neighbor
      val bi2 = ls.select(col("p").as("v"), col("c").as("u"))
        .unionAll(ls.select(col("c").as("v"), col("p").as("u")))
      val mins2 = bi2.groupBy(col("v")).agg(min(col("u")).as("m"))
      val ssRows = bi2.filter(col("u") <= col("v"))
        .join(mins2, Seq("v"))
        .select(least(col("m"), col("u")).as("p"),
          when(col("u") === col("m"), col("v")).otherwise(col("u")).as("c"))
        .unionAll(bi2.filter(col("u") <= col("v")).join(mins2, Seq("v"))
          .select(col("m").as("p"), col("v").as("c")))
      val (ss, m) = Rounds.checkpoint(
        ssRows.filter(col("p") =!= col("c")).distinct(), count(lit(1)))
      prev = curCount
      curCount = m.getLong(0)
      // fixpoint: the star set stabilizes when every child points at
      // its component minimum — detected as two consecutive identical
      // edge sets (count equality + containment probe)
      same = curCount == prev &&
        ss.join(star, Seq("p", "c"), "left_anti").isEmpty
      star = ss
      it += 1
    }
    // truncation is NOT silent: an unconverged exit would hand back
    // split components with no signal (each round contracts forest
    // height at least geometrically, so 50 rounds covers any real
    // graph — hitting this means the star steps themselves regressed)
    require(same || curCount == 0,
      s"connected components did not converge within $maxIters rounds")
    star.select(col("c").as("n"), col("p").as("component"))
      .unionAll(star.select(col("p").as("n"), col("p").as("component")))
      .groupBy(col("n")).agg(min(col("component")).as("component"))
  }

  /** Newman MODULARITY of a vertex partition over the same canonical
    * (a < b) unit-weight edge list — the quality score that makes a
    * community assignment COMPARABLE (Newman & Girvan 2004):
    * Q = Σ_c [ e_c/m − (d_c/2m)² ] where e_c = intra-community edges,
    * d_c = total degree mass of community c, m = |E|. Computed as ONE
    * exact-integer rational — Q = Σ_c (4·m·e_c − d_c²) / (4m²) — so
    * the float division happens once at the end (the transitivity
    * doctrine: average-of-doubles is summation-order-dependent;
    * integer sums are not). Exactness bound: the largest term is
    * 4·m·e_c ≤ 4m², so Long arithmetic is exact up to m ≤ 1.5·10⁹
    * edges — score a sampled/partitioned subgraph beyond that (a
    * 100 TB graph's modularity is estimated per shard in practice).
    *
    * Shape: one edge-sized join of the assignment onto both endpoints
    * (intra test + per-community degree mass ride the same joined
    * frame), two community-keyed map-combinable aggregates, one
    * config-sized final reduce. `assignment` is (n, community) — the
    * output shape of [[labelPropagation]] and
    * [[connectedComponentsDf]], so either plugs in directly.
    * Returns ONE row (n_communities, modularity). */
  def modularity(edges: DataFrame, assignment: DataFrame): DataFrame = {
    val e = edges.select(col("a"), col("b"))
    val la = assignment.select(col("n").as("a"), col("community").as("ca"))
    val lb = assignment.select(col("n").as("b"), col("community").as("cb"))
    // |E| rides the checkpoint job (r17) — a separate count was one
    // extra driver round-trip
    val (joined, mRow) = Rounds.checkpoint(
      e.join(la, Seq("a")).join(lb, Seq("b")), count(lit(1)))
    val m = mRow.getLong(0)
    // the scaladoc's exactness bound, ENFORCED (ADVICE r14 #3): past
    // m ≈ 1.5e9 the 4·m·e_c term silently overflows Long and returns a
    // wrong Q — m is already in hand, so failing loudly is free
    require(m <= 1500000000L,
      s"modularity: $m edges exceeds the Long-exact bound of 1.5e9 " +
        "(4·m·e_c would overflow) — score a sampled or per-shard subgraph")
    // per-community intra-edge count (both endpoints in c)…
    val intra = joined.filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("c")).agg(count(lit(1)).as("ec"))
    // …and degree mass: each edge contributes 1 to BOTH endpoints'
    // communities (2 to c when intra — the unionAll does that naturally)
    val degMass = joined.select(col("ca").as("c"))
      .unionAll(joined.select(col("cb").as("c")))
      .groupBy(col("c")).agg(count(lit(1)).as("dc"))
    degMass.join(intra, Seq("c"), "left")
      .select(col("c"), coalesce(col("ec"), lit(0L)).as("ec"), col("dc"))
      .agg(count(lit(1)).as("n_communities"),
        round(sum(lit(4L) * lit(m) * col("ec") - col("dc") * col("dc"))
          .cast("double") / lit(4.0 * m * m), 6).as("modularity"))
  }

  /** Dense/sparse crossover divisor: run the dense form while the
    * frontier exceeds 1/divisor of the graph. Bracketed by a
    * same-session A/B at sf0.1 AND ×10 over divisors 1/2/8/32 (r17,
    * BASELINE #94): flipping to sparse too EARLY — while the frontier
    * is still a large graph fraction (divisor ≤ 2) — costs 10–25%
    * (the semi-join plumbing on an edge-scale frontier), while
    * divisors 8–32 measure flat because the frontier COLLAPSES 20–30×
    * per round on the co-purchase graph, so almost every round is
    * clearly dense or clearly quiet and any gate in that band flips
    * the same rounds. 8 stays as the measured optimum's centre. */
  val LpaDenseDiv: Long = 8L

  /** Synchronous label propagation for `iters` rounds over the
    * bidirectional (u, w) layout [[Centrality.biLayout]] of `edges`;
    * `biLayout` passes that layout in when the caller already holds it
    * (r18 — the centrality family shares it), otherwise it is built
    * here. Returns (n, community).
    *
    * Each round but a dense last one is one [[Rounds.checkpoint]]: the
    * new labels join the old ones for a changed flag, and the frontier
    * count is observed on the same job (r18). A join-free form
    * measured slower: carrying the old label through the count as a
    * weight-0 self row cost 7–10% of the LPA wall time in a
    * same-session A/B (sf0.01 and sf0.1, 4 cores); the vertex-sized
    * join it replaces is a broadcast.
    *
    * FRONTIER-SPARSE rounds (r16, VERDICT r15 order #7): a vertex with
    * no neighbor that changed label last round provably keeps its label
    * (its argmax input is byte-identical to last round's), so once the
    * frontier is under 1/[[LpaDenseDiv]] of the vertices only N(frontier)
    * is recomputed and the other vertices carry their label forward —
    * EXACT, not approximate. As the frontier collapses, the per-round
    * (vertex, label) count shrinks from edge-sized to active-edge-sized
    * (the heaviest ×100 posture row, BASELINE #76: 1366 s, re-counted
    * every vertex's neighborhood each round). The gate moves COST only,
    * never results. */
  def labelPropagation(edges: DataFrame, iters: Int,
      biLayout: Option[DataFrame] = None): DataFrame = {
    require(iters >= 1, "need at least one round")
    // materialized first, so the layout's size gate counts the
    // checkpoint rather than re-deriving the caller's frame (ADVICE r17)
    val bi = biLayout.getOrElse(
      Centrality.biLayout(Triangles.materialized(edges)))
    val (labels0, nvRow) = Rounds.checkpoint(
      bi.select(col("u").as("n")).distinct()
        .select(col("n"), col("n").as("community")),
      count(lit(1)))
    val nV = nvRow.getLong(0)
    var labels = labels0
    var frontier: DataFrame = null // vertices whose label changed last round
    var frontierN = -1L // -1 = round 1 (all)
    (1 to iters).foreach { t =>
      val prev = labels
      val dense = frontierN < 0 || frontierN * LpaDenseDiv > nV
      val msgs = bi.join(prev.withColumnRenamed("n", "u"), Seq("u"))
      val recomputed = (if (dense) msgs else msgs.join( // into N(frontier)
          bi.join(frontier.withColumnRenamed("n", "u"), Seq("u"), "left_semi")
            .select(col("w")).distinct(),
          Seq("w"), "left_semi"))
        .groupBy(col("w").as("n"), col("community").as("lbl"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("n"))
        .agg(max(struct(col("cnt"), (-col("lbl")).as("neg"))).as("__m"))
        .select(col("n"), (-col("__m.neg")).as("__new"))
      if (dense && t == iters) // every vertex recomputed; no next round
        labels = recomputed.select(col("n"), col("__new").as("community"))
          .localCheckpoint(true)
      else {
        val (lab, m) = Rounds.checkpoint(
          (if (dense) recomputed.join(prev, Seq("n")) // covers every vertex
           else prev.join(recomputed, Seq("n"), "left")) // untouched keep theirs
            .select(col("n"),
              coalesce(col("__new"), col("community")).as("community"),
              (col("__new").isNotNull && col("__new") =!= col("community"))
                .as("__chg")),
          count(when(col("__chg"), lit(1))))
        labels = lab.select(col("n"), col("community"))
        frontier = lab.filter(col("__chg")).select(col("n"))
        frontierN = m.getLong(0)
      }
    }
    labels
  }
}
