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
  * round to keep lineage flat. Returns (n, community). */
object Communities {

  /** DataFrame-NATIVE connected components via alternating
    * large-star / small-star rounds (Kiveris et al., "Connected
    * Components in MapReduce and Beyond") — the 100 TB-path twin of
    * the GraphX bridge's CC: no RDD caching, no Pregel, every round
    * two vertex-keyed aggregates and a projection, AQE-splittable like
    * any join. Each round strictly shrinks the forest height;
    * convergence is checked by an edge-count fixpoint on the star
    * edges (1-row count per round — the k-core loop-control
    * discipline).
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
    var star = edges.select(
        least(col("a"), col("b")).as("p"), greatest(col("a"), col("b")).as("c"))
      .filter(col("p") =!= col("c")).distinct().localCheckpoint(true)
    var prev = -1L
    var curCount = star.count()
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
      val ss = bi2.filter(col("u") <= col("v"))
        .join(mins2, Seq("v"))
        .select(least(col("m"), col("u")).as("p"),
          when(col("u") === col("m"), col("v")).otherwise(col("u")).as("c"))
        .unionAll(bi2.filter(col("u") <= col("v")).join(mins2, Seq("v"))
          .select(col("m").as("p"), col("v").as("c")))
        .filter(col("p") =!= col("c")).distinct()
        .localCheckpoint(true)
      prev = curCount
      curCount = ss.count() // 1-row loop control
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
    // |E| piggybacks on the checkpoint job via observe() (r17) — the
    // separate count was one extra driver round-trip
    val mObs = new org.apache.spark.sql.Observation()
    val joined = e.join(la, Seq("a")).join(lb, Seq("b"))
      .observe(mObs, count(lit(1)).as("m")).localCheckpoint(true)
    val m = mObs.get("m").asInstanceOf[Long]
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

  /** FRONTIER-SPARSE rounds (r16, VERDICT r15 order #7): synchronous
    * LPA recomputes a vertex only when its neighbor-label multiset can
    * have moved — i.e. when at least one neighbor changed label LAST
    * round. A vertex with no changed neighbor provably keeps its label
    * (its round-t argmax input is byte-identical to round t−1's), so
    * skipping it is EXACT, not approximate — the unrolled-round oracle
    * (`graph_lpa_modularity`) stays hash-green by construction. The
    * heaviest ×100 posture row (BASELINE #76: 1366 s) re-counted every
    * vertex's neighborhood each round; as the frontier collapses, the
    * per-round (vertex, label) count shrinks from edge-sized to
    * active-edge-sized (the dijkstraDf frontier-pruning precedent).
    * Rounds where the frontier is still a large fraction of the graph
    * run the DENSE form (the sparse plumbing's two semi-joins and the
    * carry-forward merge only pay for themselves once most of the
    * graph is quiet) — the gate moves COST only, never results. */
  /** Dense/sparse crossover divisor: run the dense form while the
    * frontier exceeds 1/divisor of the graph. Bracketed by a
    * same-session A/B at sf0.1 AND ×10 over divisors 1/2/8/32 (r17,
    * BASELINE #94): flipping to sparse too EARLY — while the frontier
    * is still a large graph fraction (divisor ≤ 2) — costs 10–25%
    * (the semi-join + carry-forward plumbing on an edge-scale
    * frontier), while divisors 8–32 measure flat because the frontier
    * COLLAPSES 20–30× per round on the co-purchase graph, so almost
    * every round is clearly dense or clearly quiet and any gate in
    * that band flips the same rounds. 8 stays as the measured
    * optimum's centre. */
  val LpaDenseDiv: Long = 8L

  /** `biLayout`: a precomputed (checkpointed) bidirectional (src, dst)
    * layout of the same edge set — shared with the centrality family's
    * [[Centrality.biLayout]] by callers serving both (r18); when
    * absent it is built (and size-gated) here. */
  def labelPropagation(edges: DataFrame, iters: Int,
      biLayout: Option[DataFrame] = None): DataFrame = {
    require(iters >= 1, "need at least one round")
    val bi = biLayout.getOrElse {
      // e feeds ONLY the bi build below (read twice by the union, cheap
      // projections); materialize it only when the caller's frame isn't
      // already a checkpointed LogicalRDD (the co-purchase cache's is) —
      // the unconditional checkpoint paid a full edge-copy job per
      // query. Bound ONCE so the layout gate below counts the
      // MATERIALIZED frame (ADVICE r17: gating on the raw caller frame
      // recomputed the full upstream derivation a second time just for
      // the count)
      val em = Triangles.materialized(edges)
      val e = em.select(col("a"), col("b"))
      // probed once per round on src — pre-partitioned + pre-sorted (the
      // Centrality.biView layout doctrine) so each round's label join
      // moves only the vertex-sized label frame, never the edge list.
      // SIZE-GATED like biView (r17): below BiLayoutMinRows the build
      // shuffle+sort buys nothing — the label frame is broadcast-sized
      // and AQE joins it against the checkpointed bi scan in place, so
      // the up-front exchange of the whole bi frame was pure cost at
      // sf0.1 (the closeness_all 3.8→6.8 s measurement, same shape)
      val bi0 = e.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(e.select(col("b").as("src"), col("a").as("dst")))
      (if (em.count() * 2 < Centrality.BiLayoutMinRows) bi0
       else bi0.repartition(col("src")).sortWithinPartitions(col("src")))
        .localCheckpoint(true)
    }
    // |V| piggybacks on the labels checkpoint (observe(), r17) — the
    // separate count was one extra driver round-trip
    val nObs = new org.apache.spark.sql.Observation()
    var labels = bi.select(col("src").as("n")).distinct()
      .select(col("n"), col("n").as("community"))
      .observe(nObs, count(lit(1)).as("nv"))
      .localCheckpoint(true)
    val nV = nObs.get("nv").asInstanceOf[Long]
    // vertices whose label changed last round; -1 = round 1 (all)
    var frontier: Option[DataFrame] = None
    var frontierN = -1L
    (1 to iters).foreach { t =>
      val prev = labels
      val prevFrontier = frontier
      // dense while the frontier covers more than 1/LpaDenseDiv of the graph
      val dense = frontierN < 0 || frontierN * LpaDenseDiv > nV
      var touchedRef: Option[DataFrame] = None // released after the round
      val recomputed =
        if (dense) bi
          .join(prev.withColumnRenamed("n", "src"), Seq("src"))
          .groupBy(col("dst").as("n"), col("community").as("lbl"))
          .agg(count(lit(1)).as("cnt"))
          .groupBy(col("n"))
          .agg(max(struct(col("cnt"), (-col("lbl")).as("neg"))).as("__m"))
          .select(col("n"), (-col("__m.neg")).as("community"))
        else {
          // N(frontier): the only vertices whose argmax input moved —
          // the semi probe rides bi's src layout (no edge shuffle)
          // lazy: consumed by exactly one semi probe in this round's
          // plan — an eager copy bought nothing (r17)
          val touched = bi
            .join(prevFrontier.get.withColumnRenamed("n", "src"),
              Seq("src"), "left_semi")
            .select(col("dst").as("n")).distinct()
          touchedRef = Some(touched)
          bi.join(prev.withColumnRenamed("n", "src"), Seq("src"))
            .join(touched.withColumnRenamed("n", "dst"), Seq("dst"), "left_semi")
            .groupBy(col("dst").as("n"), col("community").as("lbl"))
            .agg(count(lit(1)).as("cnt"))
            .groupBy(col("n"))
            .agg(max(struct(col("cnt"), (-col("lbl")).as("neg"))).as("__m"))
            .select(col("n"), (-col("__m.neg")).as("community"))
        }
      if (t < iters) { // the last round needs no next-round frontier
        // the changed flag RIDES the labels checkpoint (observe, r18):
        // the r17 shape recomputed a prev⋈labels join lazily and paid
        // one separate count job per round for the frontier size — the
        // same join evaluated once inside the checkpoint job carries a
        // `__chg` column instead, the frontier count comes back as an
        // observed metric, and the frontier SET is a filter over the
        // checkpoint (no prev dependency). One driver round-trip per
        // round instead of two; label values are untouched.
        val cObs = new org.apache.spark.sql.Observation()
        val lab2 =
          (if (dense) recomputed // all vertices; prev covers the same set
             .join(prev.withColumnRenamed("community", "__old"), Seq("n"))
             .select(col("n"), col("community"),
               (col("community") =!= col("__old")).as("__chg"))
           else prev // untouched vertices carry their label forward
             .join(recomputed.withColumnRenamed("community", "__new"), Seq("n"), "left")
             .select(col("n"),
               coalesce(col("__new"), col("community")).as("community"),
               (col("__new").isNotNull && col("__new") =!= col("community"))
                 .as("__chg")))
            .observe(cObs, count(when(col("__chg"), lit(1))).as("nchg"))
            .localCheckpoint(true)
        labels = lab2.select(col("n"), col("community"))
        frontierN = cObs.get("nchg").asInstanceOf[Long]
        frontier = Some(lab2.filter(col("__chg")).select(col("n")))
      } else {
        labels =
          (if (dense) recomputed
           else prev // untouched vertices carry their label forward
             .join(recomputed.withColumnRenamed("community", "__new"), Seq("n"), "left")
             .select(col("n"),
               coalesce(col("__new"), col("community")).as("community")))
            .localCheckpoint(true)
      }
      prev.unpersist()
      prevFrontier.foreach(_.unpersist())
      touchedRef.foreach(_.unpersist()) // one vertex-scale RDD per
      // sparse round would otherwise pin executor storage for the
      // session (r16 review) — labels is checkpointed, so this is safe
    }
    labels
  }
}
