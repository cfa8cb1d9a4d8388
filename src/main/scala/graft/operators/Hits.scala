package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** HITS (Kleinberg hubs & authorities) over a DIRECTED edge list — the
  * directed link-analysis twin of PageRank (which ranks by stationary
  * visit mass; HITS separates "points at good things" from "is pointed
  * at by good things", the natural pair on a bipartite order→part
  * graph). §2.B.12 analytics family, beside PageRank/CC/triangles/
  * k-core/centrality.
  *
  * Exact-arithmetic determinism (the trainKMeans grid doctrine,
  * `llmops/Similarity.scala`): a hash-checked oracle twin admits only
  * outputs both engines compute BIT-identically, and float sums across
  * partitions are order-dependent — so after every normalization the
  * scores are FLOORED TO THE 2⁻²⁰ GRID. Grid values are ≤ 1 with 20
  * fractional bits; a per-vertex fan-in sum of ≤ 2¹⁸ of them needs
  * ≤ 38 significand bits — EXACT in IEEE double under ANY summation
  * order. The per-round max is a max of exact values (exact), the
  * normalizing division and the grid floor are single IEEE ops written
  * identically on both sides. The DuckDB twin unrolls the same
  * iterations and hash-matches.
  *
  * Scale shape per iteration: two symmetric half-steps ([[half]]),
  * each one edge-sized equi join (scores onto the edge list) + one
  * vertex-keyed map-side-combinable sum, checkpointed by
  * [[Rounds.checkpoint]] with the half's L∞ max observed on the same
  * job (r18 — the r13 `crossJoin(broadcast(max))` bind already avoided
  * the `head.getDouble` form's two extra driver-synchronized jobs per
  * iteration, but each broadcast still built as its own mini-job; the
  * observed max binds back as a Literal for free), so the only
  * per-round driver traffic is the two checkpoints (flat lineage). L∞
  * normalization (divide by max) instead of L2: the max of exact grid
  * sums is exact, where an L2 norm's sum-of-squares would reintroduce
  * order-dependent rounding.
  *
  * Returns (kind ∈ {hub, auth}, n, score ∈ [0, 1] rounded 6dp): hubs
  * are the source vertices, authorities the destinations. */
object Hits {

  private val Grid = 1048576.0 // 2^20
  private def grid(c: Column): Column = floor(c * Grid) / Grid

  /** One half-step: every `from` endpoint's score flows along its
    * edges into the `to` endpoint's sum, and the sums are normalized by
    * their (observed, exact) max and floored to the grid. `edges` is
    * laid out on `from`. */
  private def half(edges: DataFrame, from: String, to: String,
      scores: DataFrame): DataFrame = {
    val (x, m) = Rounds.checkpoint(
      edges.join(scores.select(col("n").as(from), col("score").as("__in")), Seq(from))
        .groupBy(col(to).as("n")).agg(sum(col("__in")).as("x")),
      max(col("x")))
    x.select(col("n"), grid(col("x") / lit(m.getDouble(0))).as("score"))
  }

  /** `edgesDistinct = true`: the caller asserts `edges` is ALREADY a
    * distinct, checkpointed (s, d) set (a shared layout — r18), so the
    * dedup exchange + copy are skipped and only a cheap count job runs
    * on the checkpoint (and below the layout threshold the rounds probe
    * that checkpoint itself). A duplicated row under this flag silently
    * inflates the fan-in sums (same contract class as the centrality
    * family's distinct-edge-set input contract). */
  def hits(edges: DataFrame, iters: Int,
      edgesDistinct: Boolean = false): DataFrame = {
    require(iters >= 1, "need at least one iteration")
    // |E| rides the dedup checkpoint (r18): a separate isEmpty probe
    // + layout-gate count were two extra driver round-trips on a
    // scheduler-latency-bound loop
    val (e, ne) =
      if (edgesDistinct) (edges, edges.count()) // the caller's checkpoint
      else {
        val (e0, m) = Rounds.checkpoint(
          edges.select(col("s"), col("d")).distinct(), count(lit(1)))
        (e0, m.getLong(0))
      }
    if (ne == 0L) // no edges: no hubs, no authorities — schema kept
      return e.select(lit("hub").as("kind"), col("s").as("n"),
        lit(0.0).as("score")).limit(0)
    // the edge list is probed on BOTH keys every iteration, so above
    // the gate it is laid out once per key ([[Rounds.probed]]).
    // SIZE-GATED (r17) on
    // HITS' OWN measured threshold, not biLayout's: the skip only pays
    // while the per-round score frames stay BROADCAST-sized (AQE then
    // joins them against the checkpointed edge scan in place);
    // score-frame cardinality tracks the edge count, and the measured
    // bracket is sf0.1 (0.6M edges: skip 5.3 s vs layout 6.2 s) against
    // ×10 (6M edges: skip 17.4 s vs layout 16.1 s — the 1.5M-row hub
    // frame no longer broadcasts and every round re-exchanged the edge
    // list). 2M sits between the measured postures.
    val layoutMinEdges = 2L * 1000 * 1000
    val es = Rounds.probed(e, "s", layoutMinEdges, Some(ne))
    val ed = Rounds.probed(e, "d", layoutMinEdges, Some(ne))
    // checkpoint cadence: TWO per round, one per half, was measured
    // best (r17 A/B ladder — 4/round: 7.4 s; 2/round: 5.3 s; 1/round:
    // 6.1 s (the lazy sum recompute under the max bind outweighed the
    // saved job); 0/round: 25.6 s (dual consumption recurses across
    // rounds — each max bind re-reads its round's whole upstream)).
    // The normalized scores stay a lazy projection over each half's
    // checkpoint: their two consumers (the next half's join and the
    // final output) recompute it for less than an eager copy costs.
    var hub = e.select(col("s").as("n")).distinct()
      .select(col("n"), lit(1.0).as("score"))
    var auth: DataFrame = null
    (1 to iters).foreach { _ =>
      auth = half(es, "s", "d", hub)
      hub = half(ed, "d", "s", auth)
    }
    hub.select(lit("hub").as("kind"), col("n"), round(col("score"), 6).as("score"))
      .unionByName(auth.select(
        lit("auth").as("kind"), col("n"), round(col("score"), 6).as("score")))
  }

  /** Top-k hubs and top-k authorities (score desc, id asc — the
    * deterministic k-cut rule), as one (kind, n, score) frame. */
  def hitsTop(edges: DataFrame, iters: Int, k: Int,
      edgesDistinct: Boolean = false): DataFrame = {
    // LAZY (r17): both k-cut branches are cheap projections over the
    // last half-steps' checkpoints inside hits(), so one final action
    // computes them together — the shared eager copy bought nothing
    // but a job (grid sums recompute bit-stably, see hits()).
    val all = hits(edges, iters, edgesDistinct)
    all.filter(col("kind") === "hub")
      .orderBy(col("score").desc, col("n").asc).limit(k)
      .unionByName(all.filter(col("kind") === "auth")
        .orderBy(col("score").desc, col("n").asc).limit(k))
  }
}
