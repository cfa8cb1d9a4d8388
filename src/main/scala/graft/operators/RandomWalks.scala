package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** DETERMINISTIC random walks over an undirected canonical (a < b)
  * edge list — the DeepWalk/node2vec corpus generator (Perozzi et al.,
  * KDD 2014; Grover & Leskovec, KDD 2016): graph-embedding training
  * data is walks-as-sentences, and at 100 TB the walk generator must
  * be replayable (a re-run of a failed shard must emit the SAME walks)
  * and auditable — so the "randomness" is a salted md5 of
  * (salt, start, step, current), exactly the
  * [[graft.llmops.Pipeline.samplePct]] doctrine: change the salt for a
  * fresh walk set, keep it for a bit-identical re-run. That also makes
  * the operator SQL-expressible — the DuckDB twin replays every hop
  * (`graph_random_walks` is hash-green), which is the strongest
  * correctness statement available for a sampler.
  *
  * Shape (VERDICT r13 watch #1 — the earlier whole-vertex
  * `collect_list` adjacency made a 10M-degree hub ONE giant row): the
  * adjacency is BLOCKED neighbor lists, (u, blk, nbrs[≤1024]) with the
  * neighbors in sorted order and blk = (rank−1) div 1024, beside a
  * vertex-sized degree frame. Each step is a vertex-sized pick join
  * (degree → pick = h mod deg + 1; the salted md5 evaluates ONCE PER
  * WALK — folding it into the adjacency join as a residual predicate
  * re-evaluated it per candidate row, measured 2× worse) followed by a
  * (u, blk)-keyed equi join into the block holding the pick. The block
  * frame is ~(vertices + edges/1024) BOUNDED rows — a mega-hub is
  * deg/1024 rows of ≤ 8 KB each, never one giant row (the planted-hub
  * posture, BASELINE.md #70), while the per-step build side stays
  * vertex-scale, not edge-scale (the plain (u, idx) row form measured
  * 4× slower at ×10 — a 24M-row hash build per step). The walk table
  * stays one row per start for the whole run (the path accumulates
  * in-row). No vertex in the bidirectional view is a dead end, so
  * walks never truncate. The chosen neighbor is IDENTICAL to the flat
  * list form's `nbrs[pick]` (sorted rank = block-local offset), so the
  * r13 oracle replay holds unchanged.
  *
  * Returns (start, walk) with the walk as a "v0->v1->…" string (the
  * array-stringify comparison discipline of `asql_hop_projection`).
  *
  * INPUT CONTRACT (ADVICE r17): `edges` is a canonical (a < b)
  * DISTINCT edge SET — a duplicated row would inflate degrees and
  * shift every salted pick downstream of it; the operator does NOT
  * re-deduplicate. Callers own dedup (`cooccurrenceEdges` ends in
  * distinct). */
object RandomWalks {

  /** Block width of the blocked neighbor lists: 1024 longs ≈ 8 KB per
    * row — big enough that ordinary vertices stay one block (the flat
    * list form's single probe), small enough that no degree can make a
    * row large. */
  val BlockSize = 1024

  /** (adjacency rows (u, idx, w) sorted-rank-indexed, degree frame
    * (u, deg)) for the bidirectional view of a canonical edge list —
    * the node2vec candidate form. A REUSABLE layout: several walk
    * queries over one shared source frame each re-paid the window +
    * checkpoint build (r18) — a caller serving the family derives it
    * once (the co-purchase-layout discipline) and passes it back
    * through the `layout` parameter of [[randomWalks]] /
    * [[node2vecWalks]]. */
  def adjacencyLayout(edges: DataFrame): (DataFrame, DataFrame) = {
    // canonical (a < b) contract = a distinct edge SET (see
    // Centrality.biLayout r17 note): the defensive distinct re-exchanged
    // the whole edge list per walk query for nothing
    val e = edges.select(col("a"), col("b"))
    val bi = e.select(col("a").as("u"), col("b").as("w"))
      .unionAll(e.select(col("b").as("u"), col("a").as("w")))
    val adj = bi.withColumn("idx",
        row_number().over(Window.partitionBy(col("u")).orderBy(col("w"))))
      .sortWithinPartitions(col("u")) // window already partitioned by u;
      // adding the sort lets every per-step SMJ stream it sort-free
      .localCheckpoint(true) // probed once per step
    val deg = adj.groupBy(col("u")).agg(count(lit(1)).as("deg"))
      .localCheckpoint(true) // vertex-sized
    (adj, deg)
  }

  def randomWalks(edges: DataFrame, salt: String, length: Int,
      layout: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    require(length >= 1, "walks need at least one step")
    val (adj, deg) = layout.getOrElse(adjacencyLayout(edges))
    // The WHOLE step shape is SIZE-CONDITIONAL (r16, VERDICT r15 weak
    // #1 — the r15 gate only skipped the block frame's repartition, and
    // the unconditional blocked BUILD (a groupBy(u, blk) collect_list
    // shuffle) plus the per-step block filter measured 2.1–2.5× the
    // recorded 3.5 s at sf0.1): the r13 two-join row-form step runs
    // when the graph is small on BOTH axes — edge-scale below
    // [[Centrality.BiLayoutMinRows]] AND a broadcast-sized vertex
    // frame. The vertex condition is load-bearing, not a refinement:
    // without broadcast hints the row form re-exchanges the edge-scale
    // adjacency every step on its (u, idx) keys, the exact shape the
    // r14 ×10 measurement rejected at 29 s — so the row form is only
    // chosen where it can run shuffle-FREE (pick against a broadcast
    // degree frame, then a broadcast of the walk frame probed into the
    // checkpointed adjacency scan; ZERO shuffles per step, which is
    // what the r13 3.5 s recording was mostly made of — 10 sequential
    // tiny-shuffle round-trips are scheduler-latency-bound). The 100k
    // ceiling keeps the worst-case broadcast (the walk frame CARRIES
    // its growing string) a few tens of MB. The chosen neighbor is
    // IDENTICAL across forms (pick = h mod deg + 1 probes the same
    // sorted rank the blocked form reads as nbrs[(pick−1) mod 1024+1]
    // of block (pick−1) div 1024), so the oracle replay and both
    // node2vec twins stay hash-green across the gate.
    val small = edges.count() * 2 < Centrality.BiLayoutMinRows &&
      deg.count() <= 100000
    var st = deg.select(col("u").as("start"), col("u").as("cur"),
      col("u").cast("string").as("walk"))
    if (small) {
      val degB = broadcast(deg)
      (1 to length).foreach { t =>
        val h = graft.llmops.TextOps.md5Hash32(concat_ws("|",
          lit(salt), col("start").cast("string"), lit(t.toString),
          col("cur").cast("string")))
        val pick = st.join(degB, st("cur") === degB("u"))
          .select(col("start"), col("cur"), col("walk"),
            ((h % col("deg")) + 1).cast("int").as("__pick"))
        st = adj.join(broadcast(pick),
            pick("cur") === adj("u") && pick("__pick") === adj("idx"))
          .select(col("start"), col("w").as("cur"),
            concat(col("walk"), lit("->"), col("w").cast("string"))
              .as("walk"))
      }
    } else {
      // block rows CARRY the vertex degree, so a step is ONE equi join
      // on the current vertex (the r14 two-join form paid two shuffles
      // per step and measured 29 s at ×10 vs this form's single join):
      // each walk meets its vertex's deg/1024 block rows (avg
      // 1 + |E|/(1024·|V|) ≈ 1.06 — a mega-hub is a bounded per-walk
      // fan-out, never a giant row), computes the pick from the IN-ROW
      // degree, and keeps the single block holding it. The salted hash
      // re-evaluates once per BLOCK row (≈ once per walk), not per
      // neighbor — the formulation the r13 residual-predicate
      // measurement rejected evaluated it deg(cur) times. blocks is
      // laid out on u for every step's join ([[Rounds.probed]]).
      val blocks = Rounds.probed(adj
        .withColumn("blk", expr(s"CAST((idx - 1) DIV $BlockSize AS INT)"))
        .groupBy(col("u"), col("blk"))
        .agg(expr("transform(sort_array(collect_list(struct(idx, w))), x -> x.w)")
          .as("nbrs"))
        .join(deg, Seq("u")), "u")
      (1 to length).foreach { t =>
        val h = graft.llmops.TextOps.md5Hash32(concat_ws("|",
          lit(salt), col("start").cast("string"), lit(t.toString),
          col("cur").cast("string")))
        st = st.join(blocks, st("cur") === blocks("u"))
          .withColumn("__pick", ((h % col("deg")) + 1).cast("int"))
          .filter(col("blk") === expr(s"CAST((__pick - 1) DIV $BlockSize AS INT)"))
          .withColumn("__nxt", element_at(col("nbrs"),
            (((col("__pick") - 1) % BlockSize) + 1).cast("int")))
          .select(col("start"), col("__nxt").as("cur"),
            concat(col("walk"), lit("->"), col("__nxt").cast("string"))
              .as("walk"))
      }
    }
    st.select(col("start"), col("walk"))
  }

  /** node2vec BIASED walks (Grover & Leskovec, KDD 2016) on the same
    * replayable-salt doctrine as [[randomWalks]]: per step, each
    * candidate neighbor w of the current vertex weighs
    *
    *   - `wReturn` when w IS the previous vertex (the 1/p return bias),
    *   - `wIn`     when w is a neighbor of the previous vertex
    *               (distance 1 — the BFS-ish stay-local bias),
    *   - `wOut`    otherwise (distance 2 — the DFS-ish explore bias,
    *               1/q),
    *
    * with the weights as INTEGERS (the caller scales 1/p and 1/q to
    * exact integers — e.g. p = 2, q = 2 at scale 4 is (2, 4, 2)), so
    * the weighted choice is EXACT arithmetic: r = h mod Σwt, pick the
    * first candidate (sorted-neighbor order) whose cumulative weight
    * exceeds r. No transcendentals, no floats — the DuckDB twin
    * replays every hop bit-identically (`graph_node2vec`), which a
    * Gumbel/exponential race could never promise across engines.
    *
    * Step 1 has no previous vertex (prev = cur seeds it): no candidate
    * equals prev (the canonical list carries no self-loops) and every
    * candidate is a neighbor of prev — all `wIn`, i.e. the standard
    * uniform first step. Shape: per step one candidate expansion
    * (walk ⋈ adjacency rows — Σ deg(cur) rows, edge-bounded), one
    * edge-marker anti-probe (is (prev, w) an edge — a left join on the
    * bidirectional set), and a per-walk cumulative window whose
    * partition is ONE vertex's candidate list (deg-sized — the skew
    * bound is walks-at-hub × deg, not a materialized giant row).
    *
    * `maxDeg` (VERDICT r14 order #1 / BASELINE #74): the OPERATOR-
    * boundary degree cap. node2vec's own cost is O(deg(cur)) candidates
    * per visit — at ×100 the uncapped expansion exhausted the probe
    * box's shuffle disk — so a visit to a vertex with deg > maxDeg
    * weighs a DETERMINISTIC stride subsample of its neighbor list
    * instead of all of it: stride = ⌈deg/maxDeg⌉, offset =
    * hCap mod stride with hCap a salted per-walk md5 (tagged "cap",
    * independent of the pick hash), keep candidates with
    * (idx−1) mod stride = offset — ≤ maxDeg rows, ≥ 1 row, every
    * neighbor included with probability exactly 1/stride over the salt,
    * and bit-replayable by the SQL twin like every other hop decision
    * (`graph_node2vec_capped` is hash-green). DOCUMENTED BIAS: the p/q
    * weighting then applies within the subsample, so return/in/out
    * proportions at a capped vertex reflect the sample, not the full
    * list — the trade any degree-capped node2vec makes. Vertices with
    * deg ≤ maxDeg run stride 1 ≡ the uncapped math; the default
    * (Int.MaxValue) skips the cap plumbing entirely so the uncapped
    * declared query's plan is unchanged. */
  def node2vecWalks(edges: DataFrame, salt: String, length: Int,
      wReturn: Long, wIn: Long, wOut: Long,
      maxDeg: Int = Int.MaxValue,
      layout: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    require(length >= 1, "walks need at least one step")
    require(wReturn > 0 && wIn > 0 && wOut > 0, "weights must be positive")
    require(maxDeg >= 1, "maxDeg must be at least 1")
    val capped = maxDeg != Int.MaxValue
    val (adj, deg) = layout.getOrElse(adjacencyLayout(edges))
    // edge-marker probe side, sorted on ITS join key pair — adj's
    // checkpoint layout (hash u) already co-locates it; the sort keeps
    // every per-step SMJ from re-sorting the edge-sized frame
    val marker = adj.select(col("u").as("__mu"), col("w").as("__mw"),
        lit(true).as("__isNbr"))
      .sortWithinPartitions(col("__mu"), col("__mw"))
      .localCheckpoint(true)
    // the growing walk STRING never rides the candidate expansion: the
    // per-step windows move Σdeg(cur) rows (edge-bounded — 240M at the
    // ×100 probe), and carrying an accumulating ~40-char string through
    // two window passes per step multiplied the shuffle volume several
    // times over (the spill that filled the probe box's disk). Position
    // state (start, prev, cur) is three longs; the chosen hop joins
    // back onto the walk table by start — one vertex-scale join per
    // step against the edge-scale window pass it slims.
    var pos = deg.select(col("u").as("start"), col("u").as("prev"),
      col("u").as("cur"))
    var walks = deg.select(col("u").as("start"),
      col("u").cast("string").as("walk"))
    (1 to length).foreach { t =>
      val h = graft.llmops.TextOps.md5Hash32(concat_ws("|",
        lit(salt), col("start").cast("string"), lit(t.toString),
        col("cur").cast("string"), col("prev").cast("string")))
      val byWalk = Window.partitionBy(col("start"))
      // cap plumbing rides the WALK frame (vertex-scale): stride/offset
      // are per-walk values computed BEFORE the expansion, so the md5
      // evaluates once per walk and the candidate filter is pure
      // in-row arithmetic on the expanded rows
      val posT =
        if (!capped) pos
        else {
          val hCap = graft.llmops.TextOps.md5Hash32(concat_ws("|",
            lit(salt), lit("cap"), col("start").cast("string"),
            lit(t.toString), col("cur").cast("string"),
            col("prev").cast("string")))
          pos.join(deg.withColumnRenamed("u", "cur"), Seq("cur"))
            .withColumn("__stride",
              expr(s"CAST((deg + ${maxDeg - 1}) DIV $maxDeg AS BIGINT)"))
            .select(col("start"), col("prev"), col("cur"),
              col("__stride"), (hCap % col("__stride")).as("__off"))
        }
      val expanded = posT.join(adj, posT("cur") === adj("u"))
      val kept =
        if (!capped) expanded
        else expanded.filter(((col("idx") - 1) % col("__stride")) === col("__off"))
      val cands = kept
        .join(marker,
          col("prev") === col("__mu") && col("w") === col("__mw"), "left")
        .withColumn("__wt",
          when(col("w") === col("prev"), lit(wReturn))
            .when(col("__isNbr").isNotNull, lit(wIn))
            .otherwise(lit(wOut)))
        .withColumn("__cum", sum(col("__wt")).over(byWalk.orderBy(col("idx"))))
        .withColumn("__tot", sum(col("__wt")).over(byWalk))
      pos = cands.filter(col("__cum") > (h % col("__tot")))
        .groupBy(col("start"), col("cur"))
        .agg(min(struct(col("idx"), col("w"))).as("__m"))
        .select(col("start"), col("cur").as("prev"), col("__m.w").as("cur"))
        .localCheckpoint(true) // walks joins it twice (pos + extension)
      walks = walks.join(pos.select(col("start"), col("cur")), Seq("start"))
        .select(col("start"),
          concat(col("walk"), lit("->"), col("cur").cast("string")).as("walk"))
    }
    walks
  }
}
