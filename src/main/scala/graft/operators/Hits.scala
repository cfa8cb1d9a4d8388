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
  * Scale shape per iteration: two edge-sized equi joins (scores onto
  * the edge list) + two vertex-keyed map-side-combinable sums; the
  * per-round L∞ max rides the SAME job as the checkpoint via
  * `observe()` (r18 — the r13 `crossJoin(broadcast(max))` bind already
  * avoided the `head.getDouble` form's two extra driver-synchronized
  * jobs per iteration, but each broadcast still built as its own
  * mini-job; the observed max binds back as a Literal for free), so
  * the only per-round driver traffic is the two localCheckpoints
  * (flat lineage). L∞ normalization (divide by max) instead of L2:
  * the max of exact grid sums is exact, where an L2 norm's
  * sum-of-squares would reintroduce order-dependent rounding.
  *
  * Returns (kind ∈ {hub, auth}, n, score ∈ [0, 1] rounded 6dp): hubs
  * are the source vertices, authorities the destinations. */
object Hits {

  private val Grid = 1048576.0 // 2^20
  private def grid(c: Column): Column = floor(c * Grid) / Grid

  /** `edgesDistinct = true`: the caller asserts `edges` is ALREADY a
    * distinct, checkpointed (s, d) set (a shared layout — r18), so the
    * dedup exchange + copy are skipped and only a cheap count job runs
    * on the checkpoint. A duplicated row under this flag silently
    * inflates the fan-in sums (same contract class as the centrality
    * family's distinct-edge-set input contract). */
  def hits(edges: DataFrame, iters: Int,
      edgesDistinct: Boolean = false): DataFrame = {
    require(iters >= 1, "need at least one iteration")
    // |E| piggybacks on the checkpoint job via observe() (r18): the
    // separate isEmpty probe + layout-gate count were two extra driver
    // round-trips on a scheduler-latency-bound loop
    val (e, ne) =
      if (edgesDistinct) {
        val e0 = edges.select(col("s"), col("d"))
        (e0, e0.count())
      } else {
        val eObs = new org.apache.spark.sql.Observation()
        val e0 = edges.select(col("s"), col("d")).distinct()
          .observe(eObs, count(lit(1)).as("ne")).localCheckpoint(true)
        (e0, eObs.get("ne").asInstanceOf[Long])
      }
    if (ne == 0L) // no edges: no hubs, no authorities — schema kept
      return e.select(lit("hub").as("kind"), col("s").as("n"),
        lit(0.0).as("score")).limit(0)
    // the edge list is probed on BOTH keys every iteration — keep one
    // pre-partitioned, pre-sorted copy per key (the biView layout
    // doctrine) so each round's joins move only the vertex-sized score
    // frames, never re-exchange/re-sort the edges. SIZE-GATED (r17),
    // but on HITS' OWN measured threshold, not biView's: the skip only
    // pays while the per-round score frames stay BROADCAST-sized (AQE
    // then joins them against the checkpointed edge scan in place);
    // score-frame cardinality tracks the edge count, and the measured
    // bracket is sf0.1 (0.6M edges: skip 5.3 s vs layout 6.2 s) against
    // ×10 (6M edges: skip 17.4 s vs layout 16.1 s — the 1.5M-row hub
    // frame no longer broadcasts and every round re-exchanged the edge
    // list). 2M sits between the measured postures.
    val layoutMinEdges = 2L * 1000 * 1000
    val (es, ed) =
      if (ne < layoutMinEdges) (e, e)
      else (
        e.repartition(col("s")).sortWithinPartitions(col("s"))
          .localCheckpoint(true),
        e.repartition(col("d")).sortWithinPartitions(col("d"))
          .localCheckpoint(true))
    // TWO checkpoints per round, not four (r17, guide §1.2): `ar`/`hr`
    // are the frames two downstream consumers re-read (the max bind and
    // the divide), so they stay eagerly materialized — but `auth`/`hub`
    // are single cheap projections over those checkpoints (a 1-row
    // broadcast crossJoin + select), and their dual consumers (the next
    // round's join + the final output) can recompute that projection
    // for less than an eager materialization job costs on a
    // scheduler-latency-bound box. A fully-lazy chain was ALSO measured
    // (r17): dual consumption at every level recurses — each max bind
    // re-reads its round's whole upstream — and exchange reuse does not
    // reliably collapse it through the broadcast subtrees (7.4 s → 25.6
    // s isolated). Checkpoint placement follows the consumer count.
    var hub = e.select(col("s").as("n")).distinct()
      .select(col("n"), lit(1.0).as("score"))
    var auth: DataFrame = null
    // checkpoint cadence: TWO per round was measured best (r17 A/B
    // ladder — 4/round: 7.4 s; 2/round: 5.3 s; 1/round: 6.1 s (the
    // lazy ar recompute under the max bind outweighed the saved job);
    // 0/round: 25.6 s (dual consumption recurses across rounds)).
    // the per-round L∞ max PIGGYBACKS on the checkpoint job via
    // observe() (r18, guide §1.2): the r13 `crossJoin(broadcast(max))`
    // bind avoided two driver-synchronized jobs per iteration, but each
    // broadcast still built as its own mini-job and its subtree rode
    // every recomputation of the lazy `auth`/`hub` projections; the
    // observed max is the SAME exact double (a max of exact grid sums),
    // bound back as one Literal, so the normalization plan is a pure
    // projection over the checkpoint. Scores are bit-identical.
    (1 to iters).foreach { _ =>
      val aObs = new org.apache.spark.sql.Observation()
      val ar = es.join(hub.select(col("n").as("s"), col("score").as("h")), Seq("s"))
        .groupBy(col("d").as("n")).agg(sum(col("h")).as("x"))
        .observe(aObs, max(col("x")).as("m"))
        .localCheckpoint(true) // feeds the divide (and next round's join)
      val am = aObs.get("m").asInstanceOf[Double] // 1 value, exact
      auth = ar.select(col("n"), grid(col("x") / lit(am)).as("score"))
      val hObs = new org.apache.spark.sql.Observation()
      val hr = ed.join(auth.select(col("n").as("d"), col("score").as("a")), Seq("d"))
        .groupBy(col("s").as("n")).agg(sum(col("a")).as("x"))
        .observe(hObs, max(col("x")).as("m"))
        .localCheckpoint(true)
      val hm = hObs.get("m").asInstanceOf[Double] // 1 value, exact
      hub = hr.select(col("n"), grid(col("x") / lit(hm)).as("score"))
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
    // per-round hr checkpoints inside hits(), so one final action
    // computes them together — the shared eager copy bought nothing
    // but a job (grid sums recompute bit-stably, see hits()).
    val all = hits(edges, iters, edgesDistinct)
    all.filter(col("kind") === "hub")
      .orderBy(col("score").desc, col("n").asc).limit(k)
      .unionByName(all.filter(col("kind") === "auth")
        .orderBy(col("score").desc, col("n").asc).limit(k))
  }
}
