package graft.queries

import org.apache.spark.sql.functions._
import graft.load.GraphLoader
import graft.query.PropertyGraph
import graft.graphx.GraphXBridge
import Qh._

/** SURVEY §2.A (ETL/catalog operators as queries) + §2.B.3 graph
  * traversals over the property graph built by [[GraphLoader]]. The
  * DuckDB oracles express the same traversals as FK joins over the
  * relational source — the graph is a deterministic view of it
  * (FIXTURES.md §2), so graph query ≡ relational query.
  */
object GraphQueries {

  private def graph(s: org.apache.spark.sql.SparkSession, d: String) =
    PropertyGraph(GraphLoader.nodes(s, d), GraphLoader.edges(s, d))

  // the CO-PURCHASE graph is the whole analytics family's shared input
  // (triangles/clustering/kcore/closeness/hits/lpa/walks/node2vec all
  // iterate the same canonical edge list): derive it ONCE per source
  // fingerprint and PERSIST it as a store-backed parquet layout
  // (VERDICT r17 order #2 — the buildIvfIndex/residentBandIndex
  // discipline). The r16 session checkpoint already stopped per-query
  // re-derivation, but a COLD JVM still paid the lineitem scan +
  // basket self-join + distinct; now the first build of a source
  // generation atomically publishes `cacheRoot/copurchase-<fp>` and
  // every later session reads the parquet instead of re-deriving —
  // exactly what a 100 TB deployment does (the graph IS the
  // materialized artifact queries run against). Key-addressed on the
  // source fingerprint, so a regenerated source re-keys and the old
  // generation can never serve stale (IndexKeys doctrine); the
  // probe-only cold open is [[IndexKeys.openFresh]], which REFUSES on
  // a stale/absent generation rather than silently rebuilding.
  private[graft] def coPurchaseCacheRoot: String =
    sys.env.getOrElse("SPARK_GRAFT_GRAPH_CACHE", "target/graph-cache")

  /** Build-or-open the persisted co-purchase layout for `d` (parquet
    * under `coPurchaseCacheRoot`, atomic publish, fingerprint-keyed). */
  private[graft] def coPurchasePersisted(s: org.apache.spark.sql.SparkSession,
      d: String, root: String = coPurchaseCacheRoot): org.apache.spark.sql.DataFrame =
    graft.llmops.Refresh.persisted(s, root,
      graft.load.IndexKeys.key("copurchase", s"$d/lineitem.parquet"))(
      graft.operators.Triangles.cooccurrenceEdges(
        t(s, d, "lineitem"), "l_orderkey", "l_partkey", 50))

  // in-session layer on top of the persisted layout: the iterative
  // family re-reads the edge list every round, so the first in-session
  // use lifts the parquet into an eager localCheckpoint (one cheap
  // parquet scan — NOT the derivation) and later uses hit memory.
  // r18: the bespoke map became [[Qh.FrameCache]] (same fingerprint
  // keying, dead-context eviction, and superseded-generation release),
  // shared with the OTHER derived layouts of the same source below —
  // the triangle closures, the walk adjacency, the capped membership,
  // the bipartite order→part list, and the bounded source picks. Each
  // of those is derived from the co-purchase frame (or lineitem) by
  // several declared queries, and each had re-derived it per query per
  // bench pass; nothing here holds a query RESULT — every query still
  // computes its declared aggregate from the layout.
  private def lineitem(d: String): String = s"$d/lineitem.parquet"
  private def coPurchase(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    FrameCache.frame("copurchase", lineitem(d))(
      coPurchasePersisted(s, d).localCheckpoint(true))

  /** Triangle-closure layout (u, v, ws) of the co-purchase graph —
    * shared by the four triangle-family queries. */
  private def coPurchaseClosures(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    FrameCache.frame("tri-closures", lineitem(d))(
      graft.operators.Triangles.closedEdges(coPurchase(s, d))
        .localCheckpoint(true))

  /** Walk adjacency layout (adj, deg) of the co-purchase graph —
    * shared by the walks / node2vec / node2vec_capped queries. */
  private def coPurchaseWalkLayout(s: org.apache.spark.sql.SparkSession,
      d: String): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val dfs = FrameCache.frames("walk-adj", lineitem(d)) {
      val (adj, deg) =
        graft.operators.RandomWalks.adjacencyLayout(coPurchase(s, d))
      Seq(adj, deg)
    }
    (dfs(0), dfs(1))
  }

  /** Capped (g, i) membership universe of lineitem — the assoc-rules
    * input, same cap as the co-purchase derivation. */
  private def cappedMembership(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    FrameCache.frame("capped-mm-50", lineitem(d))(
      graft.operators.Triangles.cappedMembershipOf(
        t(s, d, "lineitem"), "l_orderkey", "l_partkey", 50)
        .localCheckpoint(true))

  /** Distinct order→part bipartite edge list — the HITS input. */
  private def bipartiteOrderPart(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    FrameCache.frame("hits-bipartite", lineitem(d))(
      t(s, d, "lineitem").select(
        col("l_orderkey").as("s"), col("l_partkey").as("d"))
        .distinct().localCheckpoint(true))

  /** The `k` smallest co-purchase vertex ids — the deterministic
    * source pick shared by closeness/closeness_all/betweenness (each
    * had paid its own edge-sized distinct + sort + collect), plus the
    * vertex count betweenness extrapolates by. Bounded (≤ 32 ids). */
  private def coPurchaseSrcs(s: org.apache.spark.sql.SparkSession,
      d: String, k: Int): Seq[Long] = {
    val (ids, _) = coPurchaseSrcsN(s, d)
    ids.take(k)
  }
  /** Bidirectional (u, w) layout of the co-purchase graph — shared by
    * the packed-BFS waves and the LPA rounds. */
  private def coPurchaseBi(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    FrameCache.frame("bi-layout", lineitem(d))(
      graft.operators.Centrality.biLayout(coPurchase(s, d)))

  /** Packed-BFS fresh-frontier levels for one ≤64-source wave over the
    * co-purchase bi layout — the expansion is the whole build cost of
    * a closeness query, and `graph_closeness` / `graph_closeness_all`
    * run it over the SAME wave (both payloads are lazy projections of
    * these checkpointed levels). Keyed by the wave AND the depth cap,
    * which both shape the levels. */
  private def coPurchaseWaveLevels(s: org.apache.spark.sql.SparkSession,
      d: String)(wave: Seq[Long],
      maxDepth: Int): Vector[org.apache.spark.sql.DataFrame] =
    FrameCache.frames(s"bfs-wave:$maxDepth:" + wave.mkString(","), lineitem(d)) {
      graft.operators.Centrality.packedFreshLevels(
        coPurchaseBi(s, d), wave, maxDepth)
    }.toVector

  private def coPurchaseSrcsN(s: org.apache.spark.sql.SparkSession,
      d: String): (Seq[Long], Long) =
    FrameCache.value[(Seq[Long], Long)]("srcs-32", lineitem(d)) {
      val edges = coPurchase(s, d)
      val verts = edges.select(col("a").as("v"))
        .unionAll(edges.select(col("b").as("v"))).distinct()
      val ids = verts.orderBy(col("v")).limit(32)
        .collect().map(_.getLong(0)).toSeq // 32 rows, bounded
      (ids, verts.count())
    }

  import GraphLoader.{CustomerOff, OrderOff}

  /** DuckDB twin of `GraphXBridge.pageRank(iters)` over the full graph:
    * the vertex/edge sets mirror [[GraphLoader.nodes]]/[[GraphLoader.edges]]
    * (same offsets), `dg.w` precomputes 1/outDeg like GraphX's
    * `mapTriplets(1.0 / srcDeg)`, each step is one LEFT JOIN against the
    * aggregated incoming contributions, and the final SELECT applies the
    * |V|/Σrank correction factor. Literals are cast to DOUBLE — DuckDB
    * would otherwise compute 0.15/0.85 in DECIMAL. */
  /** The shared v/e/dg CTE prefix: vertex set, directed edge set (same
    * offsets as [[GraphLoader]]), and 1/outDeg — the relational mirror
    * of the property graph every PageRank-family oracle iterates on. */
  private def graphVeCtes: String = {
    import GraphLoader.{NationOff, PartOff, RegionOff, SupplierOff}
    s"""v AS (
        SELECT CAST(r_regionkey + $RegionOff AS BIGINT) AS id FROM region
        UNION ALL SELECT CAST(n_nationkey + $NationOff AS BIGINT) FROM nation
        UNION ALL SELECT CAST(c_custkey + $CustomerOff AS BIGINT) FROM customer
        UNION ALL SELECT CAST(s_suppkey + $SupplierOff AS BIGINT) FROM supplier
        UNION ALL SELECT CAST(p_partkey + $PartOff AS BIGINT) FROM part
        UNION ALL SELECT CAST(o_orderkey + $OrderOff AS BIGINT) FROM orders),
      e AS (
        SELECT CAST(n_nationkey + $NationOff AS BIGINT) AS src,
          CAST(n_regionkey + $RegionOff AS BIGINT) AS dst FROM nation
        UNION ALL SELECT CAST(c_custkey + $CustomerOff AS BIGINT),
          CAST(c_nationkey + $NationOff AS BIGINT) FROM customer
        UNION ALL SELECT CAST(s_suppkey + $SupplierOff AS BIGINT),
          CAST(s_nationkey + $NationOff AS BIGINT) FROM supplier
        UNION ALL SELECT CAST(o_custkey + $CustomerOff AS BIGINT),
          CAST(o_orderkey + $OrderOff AS BIGINT) FROM orders
        UNION ALL SELECT CAST(l_orderkey + $OrderOff AS BIGINT),
          CAST(l_partkey + $PartOff AS BIGINT) FROM lineitem
        UNION ALL SELECT CAST(l_partkey + $PartOff AS BIGINT),
          CAST(l_suppkey + $SupplierOff AS BIGINT) FROM lineitem),
      dg AS (SELECT src, CAST(1.0 AS DOUBLE) / CAST(count(*) AS DOUBLE) AS w
        FROM e GROUP BY src)"""
  }

  private def pagerankSql(iters: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""r$i AS (SELECT v.id,
         CAST(0.15 AS DOUBLE) + CAST(0.85 AS DOUBLE) * COALESCE(m.s, CAST(0 AS DOUBLE)) AS pr
         FROM v LEFT JOIN (
           SELECT e.dst AS id, SUM(r.pr * dg.w) AS s
           FROM e JOIN r${i - 1} r ON r.id = e.src JOIN dg ON dg.src = e.src
           GROUP BY e.dst) m ON m.id = v.id)"""
    }.mkString(",\n")
    s"""WITH $graphVeCtes,
      r0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS pr FROM v),
      $steps
      SELECT id, round(pr * ((SELECT CAST(count(*) AS DOUBLE) FROM v)
        / (SELECT SUM(pr) FROM r$iters)), 6) AS pr
      FROM r$iters ORDER BY pr DESC, id ASC LIMIT 20"""
  }

  /** DuckDB twin of `PageRank.personalizedPageRankDf` — the same
    * unrolled rounds with the SEED teleport vector: mass |V|/|S| on
    * each seed, reset returns there (and only there) every round, no
    * final renormalization (the operator's scaladoc explains why).
    * `tele` is a 1-row-bound scalar per vertex, exactly the Spark
    * side's `when(isin(seeds))` literal. */
  private def pprSql(iters: Int, seeds: Seq[Long]): String = {
    val seedList = seeds.mkString(", ")
    val tele = s"""(CASE WHEN v.id IN ($seedList)
        THEN (SELECT CAST(count(*) AS DOUBLE) FROM v) / ${seeds.length}
        ELSE CAST(0 AS DOUBLE) END)"""
    val steps = (1 to iters).map { i =>
      s"""r$i AS MATERIALIZED (SELECT v.id,
         CAST(0.15 AS DOUBLE) * $tele
           + CAST(0.85 AS DOUBLE) * COALESCE(m.s, CAST(0 AS DOUBLE)) AS pr
         FROM v LEFT JOIN (
           SELECT e.dst AS id, SUM(r.pr * dg.w) AS s
           FROM e JOIN r${i - 1} r ON r.id = e.src JOIN dg ON dg.src = e.src
           GROUP BY e.dst) m ON m.id = v.id)"""
    }.mkString(",\n")
    s"""WITH $graphVeCtes,
      r0 AS (SELECT v.id, $tele AS pr FROM v),
      $steps
      SELECT id, round(pr, 6) AS pr FROM r$iters
      WHERE pr > 0 ORDER BY pr DESC, id ASC LIMIT 20"""
  }

  /** DuckDB twin of `Hits.hits(iters)` on the order→part bipartite
    * graph — the SAME unrolled iterations, grid floor, and L∞
    * normalization (the grid keeps every per-vertex sum exact under
    * any summation order, so the hash comparison is legitimate; see
    * the operator's scaladoc). */
  private def hitsSql(iters: Int, k: Int): String = {
    // AS MATERIALIZED: every CTE here is referenced 2-3 times (the
    // frame + its MAX-scalar subquery + the next level); DuckDB's
    // default inlining would re-evaluate the whole upstream chain per
    // reference — ~4^iters copies of the edge join
    val steps = (1 to iters).map { i =>
      s"""ar$i AS MATERIALIZED (SELECT e.d AS n, SUM(h${i - 1}.score) AS x
        FROM e JOIN h${i - 1} ON h${i - 1}.n = e.s GROUP BY e.d),
      a$i AS MATERIALIZED (SELECT n, FLOOR(x / (SELECT MAX(x) FROM ar$i) * 1048576) / 1048576 AS score FROM ar$i),
      hr$i AS MATERIALIZED (SELECT e.s AS n, SUM(a$i.score) AS x
        FROM e JOIN a$i ON a$i.n = e.d GROUP BY e.s),
      h$i AS MATERIALIZED (SELECT n, FLOOR(x / (SELECT MAX(x) FROM hr$i) * 1048576) / 1048576 AS score FROM hr$i)"""
    }.mkString(",\n      ")
    s"""WITH e AS MATERIALIZED (SELECT DISTINCT l_orderkey AS s, l_partkey AS d FROM lineitem),
      h0 AS MATERIALIZED (SELECT DISTINCT s AS n, CAST(1.0 AS DOUBLE) AS score FROM e),
      $steps,
      hubs AS (SELECT 'hub' AS kind, n, ROUND(score, 6) AS score FROM h$iters
        ORDER BY score DESC, n ASC LIMIT $k),
      auths AS (SELECT 'auth' AS kind, n, ROUND(score, 6) AS score FROM a$iters
        ORDER BY score DESC, n ASC LIMIT $k)
      SELECT * FROM hubs UNION ALL SELECT * FROM auths"""
  }

  /** DuckDB twin of `Centrality.betweenness` — the `graph_hits`
    * iterative-oracle doctrine applied to Brandes (VERDICT r13 next #1,
    * the last rows-only query): the forward σ-per-level BFS and the
    * backward δ-per-level accumulation are each ONE aggregating
    * `AS MATERIALIZED` CTE per level, unrolled to `depth` (probed
    * fixture diameter 3 from these sources; 6 is 2× margin — levels
    * past the drain are empty frames and contribute nothing, exactly
    * like the Spark loop's natural exit). σ stays an exact BIGINT;
    * δ = Σ σ(u)/σ(v)·(1+δ(v)) is the same double arithmetic written
    * identically on both sides, and the single ROUND(…, 6) at the end
    * rides the Qh doctrine's drift bridge (the `pagerank` precedent:
    * per-vertex float sums drift ~1e-12 relative between engines,
    * absorbed by 6dp). Extrapolation scale = |V|/|S|/2 with the
    * divisions in the same order → bit-identical scale. */
  private def betweennessSql(depth: Int, k: Int): String = {
    val fwd = (1 to depth).map { d =>
      s"""l$d AS MATERIALIZED (
        SELECT f.s, bi.w AS v, CAST(SUM(f.sigma) AS BIGINT) AS sigma
        FROM l${d - 1} f JOIN bi ON bi.u = f.v
        WHERE NOT EXISTS (
          SELECT 1 FROM vis${d - 1} x WHERE x.s = f.s AND x.v = bi.w)
        GROUP BY f.s, bi.w),
      vis$d AS MATERIALIZED (
        SELECT s, v FROM vis${d - 1} UNION ALL SELECT s, v FROM l$d)"""
    }.mkString(",\n      ")
    val bwd = (depth to 1 by -1).map { d =>
      val c =
        s"""c$d AS MATERIALIZED (
        SELECT lo.s, lo.v,
          SUM(CAST(lo.sigma AS DOUBLE) / CAST(hi.sigma AS DOUBLE)
            * (CAST(1.0 AS DOUBLE) + hi.delta)) AS delta
        FROM (SELECT l.s, l.v, l.sigma, dd.delta
              FROM l$d l JOIN d$d dd ON dd.s = l.s AND dd.v = l.v) hi
        JOIN bi ON bi.w = hi.v
        JOIN l${d - 1} lo ON lo.s = hi.s AND lo.v = bi.u
        GROUP BY lo.s, lo.v)"""
      if (d == 1) c
      else c + s""",
      d${d - 1} AS MATERIALIZED (
        SELECT l.s, l.v, COALESCE(c.delta, CAST(0 AS DOUBLE)) AS delta
        FROM l${d - 1} l LEFT JOIN c$d c ON c.s = l.s AND c.v = l.v)"""
    }.mkString(",\n      ")
    val acc = (depth to 1 by -1)
      .map(d => s"SELECT s, v, delta FROM d$d").mkString(" UNION ALL ")
    s"""WITH m AS MATERIALIZED (SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem),
      ok AS MATERIALIZED (SELECT g FROM m GROUP BY g HAVING count(*) <= 50),
      mm AS MATERIALIZED (SELECT m.g, m.i FROM m JOIN ok USING (g)),
      e AS MATERIALIZED (SELECT DISTINCT x.i AS a, y.i AS b
        FROM mm x JOIN mm y ON x.g = y.g AND x.i < y.i),
      bi AS MATERIALIZED (SELECT a AS u, b AS w FROM e UNION ALL SELECT b, a FROM e),
      srcs AS MATERIALIZED (SELECT DISTINCT u AS s FROM bi ORDER BY s LIMIT 32),
      l0 AS MATERIALIZED (SELECT s, s AS v, CAST(1 AS BIGINT) AS sigma FROM srcs),
      vis0 AS MATERIALIZED (SELECT s, v FROM l0),
      $fwd,
      d$depth AS MATERIALIZED (
        SELECT s, v, CAST(0 AS DOUBLE) AS delta FROM l$depth),
      $bwd,
      acc AS ($acc)
      SELECT v AS n, ROUND(SUM(delta)
        * ((SELECT CAST(count(DISTINCT u) AS DOUBLE) FROM bi)
           / (SELECT CAST(count(*) AS DOUBLE) FROM srcs)
           / CAST(2.0 AS DOUBLE)), 6) AS betweenness
      FROM acc GROUP BY v
      ORDER BY betweenness DESC, n ASC LIMIT $k"""
  }

  /** DuckDB twin of `RandomWalks.randomWalks`: the same salted-md5 hop
    * choice replayed step by step (hex-fold of md5 — the
    * sqlMd5Hash32 pattern; `instr` returns BIGINT so the fold never
    * overflows), the same sorted adjacency, the same 1-based index. */
  private def walkSql(salt: String, length: Int): String = {
    def hexFold(hexExpr: String): String =
      "list_reduce(list_transform(generate_series(1, 8), " +
        s"j -> instr('0123456789abcdef', substr($hexExpr, j, 1)) - 1), " +
        "(a, x) -> a * 16 + x)"
    def h(t: Int) = hexFold(
      s"md5('$salt' || '|' || CAST(start AS VARCHAR) || '|$t|' || CAST(cur AS VARCHAR))")
    val steps = (1 to length).map { t =>
      s"""p$t AS MATERIALIZED (SELECT s.start, s.walk,
        adj.nbrs[CAST((${h(t)} % adj.deg) + 1 AS INT)] AS nxt
        FROM s${t - 1} s JOIN adj ON adj.u = s.cur),
      s$t AS MATERIALIZED (SELECT start, nxt AS cur,
        walk || '->' || CAST(nxt AS VARCHAR) AS walk FROM p$t)"""
    }.mkString(",\n      ")
    s"""WITH m AS MATERIALIZED (SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem),
      ok AS MATERIALIZED (SELECT g FROM m GROUP BY g HAVING count(*) <= 50),
      mm AS MATERIALIZED (SELECT m.g, m.i FROM m JOIN ok USING (g)),
      e AS MATERIALIZED (SELECT DISTINCT x.i AS a, y.i AS b
        FROM mm x JOIN mm y ON x.g = y.g AND x.i < y.i),
      bi AS MATERIALIZED (SELECT a AS u, b AS w FROM e UNION ALL SELECT b, a FROM e),
      adj AS MATERIALIZED (SELECT u, list_sort(list(w)) AS nbrs,
        CAST(count(*) AS BIGINT) AS deg FROM bi GROUP BY u),
      s0 AS MATERIALIZED (SELECT u AS start, u AS cur, CAST(u AS VARCHAR) AS walk FROM adj),
      $steps
      SELECT start, walk FROM s$length"""
  }

  /** DuckDB twin of `RandomWalks.node2vecWalks`: the same integer
    * cumulative-weight choice replayed step by step — per step the
    * candidate expansion (adjacency rows), the edge-marker probe (is
    * (prev, w) an edge), the exact integer cumulative window over the
    * sorted-neighbor order, and the salted-md5 range pick, all written
    * identically on both sides. No floats anywhere, so the hash check
    * is unconditional.
    *
    * `maxDeg` replays the CAPPED form (`RandomWalks.node2vecWalks`'s
    * stride subsample, r15): per step a per-walk stride = ⌈deg/maxDeg⌉
    * and offset = capHash mod stride computed on the walk frame, then
    * the candidate expansion keeps only (idx−1) mod stride = offset —
    * the same integer arithmetic on both sides, so the hash check
    * stays unconditional. */
  private def node2vecSql(salt: String, length: Int,
      wRet: Long, wIn: Long, wOut: Long, maxDeg: Option[Int] = None): String = {
    def hexFold(hexExpr: String): String =
      "list_reduce(list_transform(generate_series(1, 8), " +
        s"j -> instr('0123456789abcdef', substr($hexExpr, j, 1)) - 1), " +
        "(a, x) -> a * 16 + x)"
    def h(t: Int) = hexFold(
      s"md5('$salt' || '|' || CAST(start AS VARCHAR) || '|$t|' || " +
        "CAST(cur AS VARCHAR) || '|' || CAST(prev AS VARCHAR))")
    def hCap(t: Int) = hexFold(
      s"md5('$salt' || '|cap|' || CAST(x.start AS VARCHAR) || '|$t|' || " +
        "CAST(x.cur AS VARCHAR) || '|' || CAST(x.prev AS VARCHAR))")
    val steps = (1 to length).map { t =>
      val expand = maxDeg match {
        case Some(md) =>
          s"""x$t AS MATERIALIZED (SELECT s.start, s.prev, s.cur, s.walk,
        CAST((g.deg + ${md - 1}) // $md AS BIGINT) AS stride
        FROM s${t - 1} s JOIN dg g ON g.u = s.cur),
      c$t AS MATERIALIZED (SELECT x.start, x.prev, x.cur, x.walk, a.w, a.idx,
        CASE WHEN a.w = x.prev THEN $wRet
             WHEN eb.u IS NOT NULL THEN $wIn ELSE $wOut END AS wt
        FROM x$t x JOIN adjr a ON a.u = x.cur
        LEFT JOIN bi eb ON eb.u = x.prev AND eb.w = a.w
        WHERE (a.idx - 1) % x.stride = (${hCap(t)} % x.stride))"""
        case None =>
          s"""c$t AS MATERIALIZED (SELECT s.start, s.prev, s.cur, s.walk, a.w, a.idx,
        CASE WHEN a.w = s.prev THEN $wRet
             WHEN eb.u IS NOT NULL THEN $wIn ELSE $wOut END AS wt
        FROM s${t - 1} s JOIN adjr a ON a.u = s.cur
        LEFT JOIN bi eb ON eb.u = s.prev AND eb.w = a.w)"""
      }
      s"""$expand,
      k$t AS MATERIALIZED (SELECT start, prev, cur, walk, w, idx,
        CAST(SUM(wt) OVER (PARTITION BY start ORDER BY idx) AS BIGINT) AS cum,
        CAST(SUM(wt) OVER (PARTITION BY start) AS BIGINT) AS tot
        FROM c$t),
      s$t AS MATERIALIZED (SELECT start, cur AS prev, arg_min(w, idx) AS cur,
        walk || '->' || CAST(arg_min(w, idx) AS VARCHAR) AS walk
        FROM k$t WHERE cum > (${h(t)} % tot)
        GROUP BY start, cur, walk)"""
    }.mkString(",\n      ")
    val dgCte = if (maxDeg.isDefined)
      ",\n      dg AS MATERIALIZED (SELECT u, CAST(count(*) AS BIGINT) AS deg FROM bi GROUP BY u)"
    else ""
    s"""WITH m AS MATERIALIZED (SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem),
      ok AS MATERIALIZED (SELECT g FROM m GROUP BY g HAVING count(*) <= 50),
      mm AS MATERIALIZED (SELECT m.g, m.i FROM m JOIN ok USING (g)),
      e AS MATERIALIZED (SELECT DISTINCT x.i AS a, y.i AS b
        FROM mm x JOIN mm y ON x.g = y.g AND x.i < y.i),
      bi AS MATERIALIZED (SELECT a AS u, b AS w FROM e UNION ALL SELECT b, a FROM e),
      adjr AS MATERIALIZED (SELECT u, w,
        CAST(row_number() OVER (PARTITION BY u ORDER BY w) AS INT) AS idx FROM bi)$dgCte,
      s0 AS MATERIALIZED (SELECT u AS start, u AS prev, u AS cur,
        CAST(u AS VARCHAR) AS walk FROM (SELECT DISTINCT u FROM bi)),
      $steps
      SELECT start, walk FROM s$length"""
  }

  def queries: Seq[Q] = Seq(

    // A3 — label enumeration (catalog scan)
    Q("label_counts",
      (s, d) => {
        val g = graph(s, d)
        g.nodes.groupBy(col("label")).agg(count(lit(1)).as("cnt"))
          .select(lit("node").as("kind"), col("label"), col("cnt"))
          .unionByName(g.edges.groupBy(col("label")).agg(count(lit(1)).as("cnt"))
            .select(lit("edge").as("kind"), col("label"), col("cnt")))
      },
      Some("""SELECT 'node' AS kind, 'Region' AS label, CAST(count(*) AS BIGINT) AS cnt FROM region
        UNION ALL SELECT 'node', 'Nation', CAST(count(*) AS BIGINT) FROM nation
        UNION ALL SELECT 'node', 'Customer', CAST(count(*) AS BIGINT) FROM customer
        UNION ALL SELECT 'node', 'Supplier', CAST(count(*) AS BIGINT) FROM supplier
        UNION ALL SELECT 'node', 'Part', CAST(count(*) AS BIGINT) FROM part
        UNION ALL SELECT 'node', 'Order', CAST(count(*) AS BIGINT) FROM orders
        UNION ALL SELECT 'edge', 'IN_REGION', CAST(count(*) AS BIGINT) FROM nation
        UNION ALL SELECT 'edge', 'IN_NATION', CAST((SELECT count(*) FROM customer) + (SELECT count(*) FROM supplier) AS BIGINT)
        UNION ALL SELECT 'edge', 'PLACED', CAST(count(*) AS BIGINT) FROM orders
        UNION ALL SELECT 'edge', 'CONTAINS', CAST(count(*) AS BIGINT) FROM lineitem
        UNION ALL SELECT 'edge', 'SUPPLIED_BY', CAST(count(*) AS BIGINT) FROM lineitem""")),

    // A4/A5 — schema introspection without scanning rows
    Q("schema_introspect",
      (s, d) => {
        val gs = GraphLoader.schema
        val rows = gs.labels.flatMap(l =>
          l.schema.fields.map(f => (l.label, l.kind, f.name, f.dataType.simpleString)))
        s.createDataFrame(rows).toDF("label", "kind", "property", "dtype")
      },
      Some {
        val gs = GraphLoader.schema
        val rows = gs.labels.flatMap(l =>
          l.schema.fields.map(f => s"('${l.label}','${l.kind}','${f.name}','${f.dataType.simpleString}')"))
        s"SELECT * FROM (VALUES ${rows.mkString(",")}) AS t(label, kind, property, dtype)"
      }),

    // A13 — edge-endpoint resolution join (the shim's one true join);
    // inner-join resolution == every endpoint exists (else dangling)
    Q("edge_resolution",
      (s, d) => {
        val g = graph(s, d)
        val (resolved, _) = GraphLoader.resolveEdges(g.nodes, g.edges)
        resolved.groupBy(col("label")).agg(count(lit(1)).as("cnt"))
      },
      Some("""SELECT 'IN_REGION' AS label, CAST(count(*) AS BIGINT) AS cnt FROM nation
        UNION ALL SELECT 'IN_NATION', CAST((SELECT count(*) FROM customer) + (SELECT count(*) FROM supplier) AS BIGINT)
        UNION ALL SELECT 'PLACED', CAST(count(*) AS BIGINT) FROM orders
        UNION ALL SELECT 'CONTAINS', CAST(count(*) AS BIGINT) FROM lineitem
        UNION ALL SELECT 'SUPPLIED_BY', CAST(count(*) AS BIGINT) FROM lineitem""")),

    // A15 — UNIQUE index validation (empty = no violations); array-typed
    // index skipped per ArcadeDBService.java:263-269
    Q("unique_validation",
      (s, d) => {
        val g = graph(s, d)
        GraphLoader.validateUnique(g.nodes, g.edges, GraphLoader.schema)
      },
      Some("""SELECT 'Customer' AS label, 'name' AS property, c_name AS value,
        CAST(count(*) AS BIGINT) AS cnt FROM customer GROUP BY c_name
        HAVING count(*) > 1""")),

    // §2.B.3 — 1-hop out: Customer -PLACED-> Order
    Q("hop_out",
      (s, d) => graph(s, d).v("Customer", "c").out("PLACED", "Order", "o").result
        .groupBy(col("c_id"))
        .agg(count(lit(1)).as("n_orders"), moneySum(col("o_totalprice")).as("spent"))
        .select((col("c_id") - CustomerOff).as("custkey"), col("n_orders"), col("spent")),
      Some(s"""SELECT o_custkey AS custkey, CAST(count(*) AS BIGINT) AS n_orders,
        ${sqlMoneySum("o_totalprice")} AS spent FROM orders GROUP BY o_custkey""")),

    // §2.B.3 — 1-hop in: Nation <-IN_NATION- {Customer, Supplier}
    Q("hop_in",
      (s, d) => graph(s, d).v("Nation", "n").in("IN_NATION", "Customer", "c").result
        .groupBy(col("n_name").as("nation"))
        .agg(count(lit(1)).as("n_members"))
        .select(col("nation"), col("n_members")),
      Some("""SELECT n_name AS nation, CAST(count(*) AS BIGINT) AS n_members
        FROM nation JOIN customer ON c_nationkey = n_nationkey GROUP BY n_name""")),

    // §2.B.3 — both(): out-neighbors ∪ in-neighbors of Nation over both
    // edge labels (IN_REGION out to Region, IN_NATION in from Cust/Supp)
    Q("hop_both",
      (s, d) => {
        val g = graph(s, d)
        val es = g.edges.filter(col("label").isin("IN_REGION", "IN_NATION"))
        val nbrs = es.select(col("src").as("id"), col("dst").as("nbr"))
          .unionByName(es.select(col("dst").as("id"), col("src").as("nbr")))
        g.nodesOf("Nation").select(col("id"), col("name"))
          .join(nbrs, "id")
          .groupBy(col("name").as("nation")).agg(count(lit(1)).as("degree"))
      },
      Some("""SELECT n_name AS nation,
        CAST(1 + (SELECT count(*) FROM customer WHERE c_nationkey = n_nationkey)
               + (SELECT count(*) FROM supplier WHERE s_nationkey = n_nationkey) AS BIGINT) AS degree
        FROM nation""")),

    // §2.B.3 — MATCH pattern, the flagship 2-hop traversal-aggregate
    // (SURVEY §7 minimum slice): Customer -PLACED-> Order -CONTAINS-> li
    Q("match_2hop_revenue",
      (s, d) => graph(s, d).v("Customer", "c")
        .out("PLACED", "Order", "o")
        .outE("CONTAINS", "l").result
        .groupBy(col("c_id"))
        .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("n_items"))
        .select((col("c_id") - CustomerOff).as("custkey"), col("revenue"), col("n_items")),
      Some(s"""SELECT o_custkey AS custkey,
        ${sqlMoneySum("l_extendedprice*(1-l_discount)")} AS revenue,
        CAST(count(*) AS BIGINT) AS n_items
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey GROUP BY o_custkey""")),

    // §2.B.3 — edge-level hop with edge-property predicate, then inV()
    Q("hop_edge_filter",
      (s, d) => graph(s, d).v("Order", "o")
        .outE("CONTAINS", "l").filter(col("l_quantity") >= 45)
        .inV("Part", "p").result
        .groupBy(col("p_brand").as("brand")).agg(count(lit(1)).as("cnt")),
      Some("""SELECT p_brand AS brand, CAST(count(*) AS BIGINT) AS cnt
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE l_quantity >= 45 GROUP BY p_brand""")),

    // §2.B.3 — TRAVERSE … WHILE depth <= 2 (variable-length path, in-dir)
    Q("traverse_varlen",
      (s, d) => {
        val g = graph(s, d)
        g.traverse(g.nodesOf("Region"), Seq("IN_REGION", "IN_NATION"), "in", Some(2))
          .groupBy(col("start_id"), col("depth")).agg(count(lit(1)).as("cnt"))
          .select(col("start_id").as("region_key"), col("depth"), col("cnt"))
      },
      Some("""SELECT CAST(r_regionkey AS BIGINT) AS region_key, 0 AS depth,
          CAST(1 AS BIGINT) AS cnt FROM region
        UNION ALL SELECT CAST(n_regionkey AS BIGINT), 1, CAST(count(*) AS BIGINT)
          FROM nation GROUP BY n_regionkey
        UNION ALL SELECT CAST(n_regionkey AS BIGINT), 2, CAST(count(*) AS BIGINT)
          FROM (SELECT c_nationkey AS nk FROM customer
                UNION ALL SELECT s_nationkey FROM supplier) m
          JOIN nation ON n_nationkey = nk GROUP BY n_regionkey""")),

    // §2.B.3 — TRAVERSE … WHILE <predicate>: the while-guard stops
    // expansion THROUGH nations alphabetically ≥ 'N' (their members are
    // not visited), while the guarded nations themselves still appear
    Q("traverse_while",
      (s, d) => {
        val g = graph(s, d)
        g.traverse(g.nodesOf("Region"), Seq("IN_REGION", "IN_NATION"), "in", Some(2),
          whileNode = Some(col("label") =!= "Nation" || col("name") < "N"))
          .groupBy(col("start_id"), col("depth")).agg(count(lit(1)).as("cnt"))
          .select(col("start_id").as("region_key"), col("depth"), col("cnt"))
      },
      Some("""SELECT CAST(r_regionkey AS BIGINT) AS region_key, 0 AS depth,
          CAST(1 AS BIGINT) AS cnt FROM region
        UNION ALL SELECT CAST(n_regionkey AS BIGINT), 1, CAST(count(*) AS BIGINT)
          FROM nation GROUP BY n_regionkey
        UNION ALL SELECT CAST(n_regionkey AS BIGINT), 2, CAST(count(*) AS BIGINT)
          FROM (SELECT c_nationkey AS nk FROM customer
                UNION ALL SELECT s_nationkey FROM supplier) m
          JOIN nation ON n_nationkey = nk WHERE n_name < 'N'
          GROUP BY n_regionkey""")),

    // GraphQL read surface (reference's second query language,
    // src/pom.xml:109-113): label query + nested 1-hop relationship
    // field, compiled onto the same Traversal join as hop_out — the
    // GraphQL layer adds zero execution machinery
    Q("graphql_hop",
      (s, d) => graft.query.GraphQl.compile(graph(s, d),
        """{ Customer(mktsegment: "BUILDING") {
             name acctbal
             orders: out_PLACED { totalprice status } } }"""),
      Some("""SELECT c_name AS name, c_acctbal AS acctbal,
        o_totalprice AS orders_totalprice, o_orderstatus AS orders_status
        FROM customer JOIN orders ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'""")),

    // GraphQL query-modifier arguments (orderBy + limit, the
    // arcadedb-graphql module's filtered/limited serving): same
    // traversal join as graphql_hop, topped by TakeOrderedAndProject.
    // The hop is 1:1 (customer → its nation) and the sort key unique,
    // so the limit boundary is deterministic — oracle-safe by
    // construction
    Q("graphql_hop_paged",
      (s, d) => graft.query.GraphQl.compile(graph(s, d),
        """{ Customer(mktsegment: "BUILDING", orderBy: "name desc", limit: 10) {
             name acctbal
             nation: out_IN_NATION { name } } }"""),
      Some("""SELECT c_name AS name, c_acctbal AS acctbal, n_name AS nation_name
        FROM customer JOIN nation ON n_nationkey = c_nationkey
        WHERE c_mktsegment = 'BUILDING'
        ORDER BY c_name DESC LIMIT 10""")),

    // §2.B.3 — unbounded TRAVERSE (no depth bound): run to fixpoint down
    // the purchase chain Customer -PLACED-> Order -CONTAINS-> Part
    // -SUPPLIED_BY-> Supplier; the loop drains at depth 3 on its own.
    // Oracle = DuckDB recursive CTE over the same edge relation.
    Q("traverse_unbounded",
      (s, d) => {
        val g = graph(s, d)
        g.traverse(g.nodesOf("Customer"), Seq("PLACED", "CONTAINS", "SUPPLIED_BY"), "out")
          .groupBy(col("depth"))
          .agg(count(lit(1)).as("cnt"), countDistinct(col("node_id")).as("n_nodes"))
      },
      Some(s"""WITH RECURSIVE e AS (
          SELECT DISTINCT CAST(o_custkey + $CustomerOff AS BIGINT) AS src,
            CAST(o_orderkey + $OrderOff AS BIGINT) AS dst FROM orders
          UNION SELECT DISTINCT CAST(l_orderkey + $OrderOff AS BIGINT),
            CAST(l_partkey + ${GraphLoader.PartOff} AS BIGINT) FROM lineitem
          UNION SELECT DISTINCT CAST(l_partkey + ${GraphLoader.PartOff} AS BIGINT),
            CAST(l_suppkey + ${GraphLoader.SupplierOff} AS BIGINT) FROM lineitem),
        r AS (
          SELECT CAST(c_custkey + $CustomerOff AS BIGINT) AS start_id,
            CAST(c_custkey + $CustomerOff AS BIGINT) AS node_id, 0 AS depth FROM customer
          UNION SELECT r.start_id, e.dst, r.depth + 1 FROM r JOIN e ON e.src = r.node_id)
        SELECT depth, CAST(count(*) AS BIGINT) AS cnt,
          CAST(count(DISTINCT node_id) AS BIGINT) AS n_nodes
        FROM r GROUP BY depth""")),

    // §2.B.3 — unbounded TRAVERSE with a WHILE guard: expansion stops
    // AT orders with status 'F' (they are reported, their lineage is
    // not), still run to fixpoint with no depth bound
    Q("traverse_unbounded_while",
      (s, d) => {
        val g = graph(s, d)
        g.traverse(g.nodesOf("Customer"), Seq("PLACED", "CONTAINS", "SUPPLIED_BY"), "out",
          whileNode = Some(col("label") =!= "Order" || col("status") =!= "F"))
          .groupBy(col("depth"))
          .agg(count(lit(1)).as("cnt"), countDistinct(col("node_id")).as("n_nodes"))
      },
      Some(s"""WITH RECURSIVE e AS (
          SELECT DISTINCT CAST(o_custkey + $CustomerOff AS BIGINT) AS src,
            CAST(o_orderkey + $OrderOff AS BIGINT) AS dst FROM orders
          UNION SELECT DISTINCT CAST(l_orderkey + $OrderOff AS BIGINT),
            CAST(l_partkey + ${GraphLoader.PartOff} AS BIGINT) FROM lineitem
          UNION SELECT DISTINCT CAST(l_partkey + ${GraphLoader.PartOff} AS BIGINT),
            CAST(l_suppkey + ${GraphLoader.SupplierOff} AS BIGINT) FROM lineitem),
        guarded AS (SELECT CAST(o_orderkey + $OrderOff AS BIGINT) AS id
          FROM orders WHERE o_orderstatus = 'F'),
        r AS (
          SELECT CAST(c_custkey + $CustomerOff AS BIGINT) AS start_id,
            CAST(c_custkey + $CustomerOff AS BIGINT) AS node_id, 0 AS depth FROM customer
          UNION SELECT r.start_id, e.dst, r.depth + 1 FROM r JOIN e ON e.src = r.node_id
          WHERE r.depth = 0 OR r.node_id NOT IN (SELECT id FROM guarded))
        SELECT depth, CAST(count(*) AS BIGINT) AS cnt,
          CAST(count(DISTINCT node_id) AS BIGINT) AS n_nodes
        FROM r GROUP BY depth""")),

    // GraphX — landmark shortest paths (shortestPath(a,b) equivalent):
    // distance from every Customer to its Region along the hierarchy
    Q("shortest_path_region",
      (s, d) => {
        val g = graph(s, d)
        // landmarks are inherently driver-side config for ShortestPaths;
        // derive them from the Region label (a fixed-cardinality
        // dimension) instead of assuming exactly 5 regions at offset 0
        val landmarks = g.nodesOf("Region").select(col("id"))
          .collect().map(_.getLong(0)).toSeq.sorted
        GraphXBridge.shortestPathsTo(s, g, Seq("IN_NATION", "IN_REGION"), landmarks)
          .filter(col("id") >= CustomerOff && col("id") < GraphLoader.SupplierOff)
          .select((col("id") - CustomerOff).as("custkey"),
            col("landmark").as("region_key"), col("dist"))
      },
      Some("""SELECT c_custkey AS custkey, CAST(n_regionkey AS BIGINT) AS region_key,
        2 AS dist FROM customer JOIN nation ON c_nationkey = n_nationkey""")),

    // GraphX — connected components on the Nation—Region subgraph:
    // one component per region, id = min member id = region node id
    Q("connected_components",
      (s, d) => GraphXBridge.connectedComponents(s, graph(s, d), Seq("IN_REGION"))
        .groupBy(col("component")).agg(count(lit(1)).as("size")),
      Some("""SELECT CAST(r_regionkey AS BIGINT) AS component,
        CAST(count(*) + 1 AS BIGINT) AS size FROM nation
        JOIN region ON n_regionkey = r_regionkey GROUP BY r_regionkey""")),

    // GraphX — weighted SSSP (dijkstra) from supplier 0 up the hierarchy
    Q("dijkstra_supplier0",
      (s, d) => GraphXBridge.dijkstra(s, graph(s, d), Seq("IN_NATION", "IN_REGION"),
        lit(1.0), GraphLoader.SupplierOff)
        .select(col("id"), col("dist")),
      Some(s"""SELECT CAST(${GraphLoader.SupplierOff} AS BIGINT) AS id, 0.0 AS dist
        UNION ALL SELECT CAST(100 + s_nationkey AS BIGINT), 1.0 FROM supplier WHERE s_suppkey = 0
        UNION ALL SELECT CAST(n_regionkey AS BIGINT), 2.0 FROM supplier
          JOIN nation ON n_nationkey = s_nationkey WHERE s_suppkey = 0""")),

    // GraphX — PageRank. The oracle is the SAME power iteration unrolled
    // as 10 SQL CTE steps (GraphSpec "driver-side power iteration"
    // validates this model against staticPageRank to 1e-9): rank0 = 1,
    // rank' = 0.15 + 0.85·Σ_in rank(src)·(1/outDeg(src)) with parallel
    // edges contributing individually and dangling mass dropped, then
    // the SPARK-18847 renormalization to Σrank = |V|. Rounding to 6dp
    // absorbs the float-reduce-order drift (~1e-12 relative) between
    // GraphX message combining and DuckDB's sequential sums — safe on
    // continuous values per the Qh doctrine.
    Q("pagerank",
      (s, d) => GraphXBridge.pageRank(s, graph(s, d), iters = 10)
        .select(col("id"), round(col("pagerank"), 6).as("pr"))
        .orderBy(col("pr").desc, col("id").asc).limit(20),
      Some(pagerankSql(10))),

    // ✚ DataFrame-native PageRank (round 14, operators.PageRank): the
    // dual-path twin of the GraphX `pagerank` row — same semantics
    // (rank₀ = 1, damped in-sums over 1/outDeg edge weights, final
    // Σrank = |V| renormalization via a 1-row broadcast bind), pure
    // joins + map-side-combinable sums, no RDD caching. SAME oracle as
    // `pagerank` — both engines model the identical power iteration,
    // which is itself part of what's checked.
    Q("pagerank_df",
      (s, d) => {
        val gg = graph(s, d)
        graft.operators.PageRank.pageRankDf(
          gg.nodes.select(col("id")), gg.edges.select(col("src"), col("dst")), 10)
          .select(col("id"), round(col("pagerank"), 6).as("pr"))
          .orderBy(col("pr").desc, col("id").asc).limit(20)
      },
      Some(pagerankSql(10))),

    // ✚ DataFrame-native weighted SSSP (round 14,
    // operators.ShortestPath): the dual-path twin of the GraphX
    // `dijkstra_supplier0` row — frontier-pruned Bellman–Ford relax
    // rounds, identical tie-break (dist, then hops), same oracle.
    Q("dijkstra_df",
      (s, d) => {
        val gg = graph(s, d)
        graft.operators.ShortestPath.dijkstraDf(
          gg.edges.filter(col("label").isin("IN_NATION", "IN_REGION"))
            .select(col("src"), col("dst"), lit(1.0).as("w")),
          GraphLoader.SupplierOff)
          .select(col("id"), col("dist"))
      },
      Some(s"""SELECT CAST(${GraphLoader.SupplierOff} AS BIGINT) AS id, 0.0 AS dist
        UNION ALL SELECT CAST(100 + s_nationkey AS BIGINT), 1.0 FROM supplier WHERE s_suppkey = 0
        UNION ALL SELECT CAST(n_regionkey AS BIGINT), 2.0 FROM supplier
          JOIN nation ON n_nationkey = s_nationkey WHERE s_suppkey = 0""")),

    // ✚ PERSONALIZED PageRank (round 14, operators.PageRank): teleport
    // restricted to a seed set — "relevance to these vertices", the
    // neighborhood-expansion ranking. Seeds = customers 1–5; mass flows
    // seed → nation/order → region/part → supplier, so the top-20 is
    // the seeds' supply-chain neighborhood. No renormalization (the
    // operator scaladoc explains why); zero-mass vertices filtered
    // BEFORE rounding on both sides.
    Q("graph_ppr",
      (s, d) => {
        val gg = graph(s, d)
        val seeds = Seq(1L, 2L, 3L, 4L, 5L).map(CustomerOff + _)
        graft.operators.PageRank.personalizedPageRankDf(
          gg.nodes.select(col("id")), gg.edges.select(col("src"), col("dst")),
          seeds, 10)
          .filter(col("pagerank") > 0)
          .select(col("id"), round(col("pagerank"), 6).as("pr"))
          .orderBy(col("pr").desc, col("id").asc).limit(20)
      },
      Some(pprSql(10, Seq(1L, 2L, 3L, 4L, 5L).map(CustomerOff + _)))),

    // ✚ LPA + MODULARITY (round 14, operators.Communities): synchronous
    // min-tie label propagation (3 rounds) over the co-purchase graph,
    // scored by Newman modularity as ONE exact-integer rational — the
    // oracle replays every LPA round (argmax by count, ties → smallest
    // label) then the same Q formula, making LPA itself oracle-checked
    // for the first time (it was spec-only: fixed-round synchronous
    // updates ARE SQL-expressible, unlike the k-core fixpoint).
    Q("graph_lpa_modularity",
      (s, d) => {
        val edges = coPurchase(s, d)
        graft.operators.Communities.modularity(edges,
          graft.operators.Communities.labelPropagation(edges, 3,
            biLayout = Some(coPurchaseBi(s, d))))
      },
      Some {
        val rounds = (1 to 3).map { i =>
          s"""cnt$i AS MATERIALIZED (SELECT b.dst AS n, l.community AS lbl,
              count(*) AS cnt
            FROM bi b JOIN l${i - 1} l ON l.n = b.src GROUP BY b.dst, l.community),
          l$i AS MATERIALIZED (SELECT n, lbl AS community FROM (
              SELECT n, lbl, row_number() OVER (PARTITION BY n
                ORDER BY cnt DESC, lbl ASC) AS rn FROM cnt$i) z
            WHERE rn = 1)"""
        }.mkString(",\n")
        s"""WITH m0 AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem),
          ok AS (SELECT g FROM m0 GROUP BY g HAVING count(*) <= 50),
          mm AS (SELECT m0.g, m0.i FROM m0 JOIN ok USING (g)),
          e AS MATERIALIZED (SELECT DISTINCT x.i AS a, y.i AS b
            FROM mm x JOIN mm y ON x.g = y.g AND x.i < y.i),
          bi AS MATERIALIZED (SELECT a AS src, b AS dst FROM e
            UNION ALL SELECT b, a FROM e),
          l0 AS (SELECT DISTINCT src AS n, src AS community FROM bi),
          $rounds,
          j AS MATERIALIZED (SELECT e.a, e.b, la.community AS ca, lb.community AS cb
            FROM e JOIN l3 la ON la.n = e.a JOIN l3 lb ON lb.n = e.b),
          mc AS (SELECT count(*) AS m FROM j),
          intra AS (SELECT ca AS c, count(*) AS ec FROM j WHERE ca = cb GROUP BY ca),
          dm AS (SELECT c, count(*) AS dc FROM (
            SELECT ca AS c FROM j UNION ALL SELECT cb FROM j) z GROUP BY c)
          SELECT CAST(count(*) AS BIGINT) AS n_communities,
            round(CAST(sum(4 * (SELECT m FROM mc) * coalesce(ec, 0) - dc * dc) AS DOUBLE)
              / (4.0 * (SELECT m FROM mc) * (SELECT m FROM mc)), 6) AS modularity
          FROM dm LEFT JOIN intra USING (c)"""
      }),

    // §2.B.7 graph-scalar — out().size() degree
    Q("degree_out",
      (s, d) => graph(s, d).outDegree("PLACED")
        .select((col("id") - CustomerOff).as("custkey"), col("degree")),
      Some("""SELECT o_custkey AS custkey, CAST(count(*) AS BIGINT) AS degree
        FROM orders GROUP BY o_custkey""")),

    // ✚ degree-distribution histogram (round 11): the graph-summary
    // composition — Profile.histogram over the PLACED out-degrees, 10
    // exact-integer buckets; the shape that spots hubs/skew before a
    // traversal is planned.
    Q("graph_degree_hist",
      (s, d) => graft.operators.Profile.histogram(
        graph(s, d).outDegree("PLACED"), col("degree"), 10),
      Some("""WITH v AS (SELECT CAST(count(*) AS BIGINT) AS v FROM orders
          GROUP BY o_custkey),
        b AS (SELECT min(v) AS mn, max(v) AS mx FROM v),
        k AS (SELECT CASE WHEN mx = mn THEN 0
            ELSE least(9, CAST(floor((v - mn) * 10 / (mx - mn)) AS BIGINT))
          END AS bucket FROM v CROSS JOIN b),
        g AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n FROM k GROUP BY bucket)
        SELECT bucket, mn + bucket * (mx - mn) / 10 AS lo, n
        FROM g CROSS JOIN b""")),

    // §2.B.7 graph-scalar — in()/inE().size() degree (reverse direction:
    // edges are stored once, unidirectionally, like the reference's
    // bidirectional=false — the reverse hop is a join on dst, no penalty)
    Q("degree_in",
      (s, d) => graph(s, d).inDegree("CONTAINS")
        .select((col("id") - GraphLoader.PartOff).as("partkey"), col("degree")),
      Some("""SELECT l_partkey AS partkey, CAST(count(*) AS BIGINT) AS degree
        FROM lineitem GROUP BY l_partkey""")),

    // ✚ triangle counting (round 12, operators.Triangles): the third
    // graph-global metric beside components and PageRank, on the
    // co-purchase projection (parts sharing an order). Spark side runs
    // the DEGREE-ORDERED orientation (wedge volume bounded by
    // Σ min-deg², the skew-proof shape); the oracle counts the same
    // triangles in the id-canonical orientation — the count is
    // orientation-invariant, which is itself part of what's checked.
    Q("graph_triangles",
      (s, d) => graft.operators.Triangles.triangleCountFrom(
        coPurchaseClosures(s, d)),
      Some("""WITH m AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem),
        ok AS (SELECT g FROM m GROUP BY g HAVING count(*) <= 50),
        mm AS (SELECT m.g, m.i FROM m JOIN ok USING (g)),
        e AS (SELECT DISTINCT x.i AS a, y.i AS b
          FROM mm x JOIN mm y ON x.g = y.g AND x.i < y.i)
        SELECT CAST(count(*) AS BIGINT) AS n_triangles
        FROM e e1 JOIN e e2 ON e1.b = e2.a
          JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b""")),

    // ✚ per-vertex triangle participation top-k — the local-clustering
    // numerator (hub-community detection); ties → id, so the k cut is
    // deterministic.
    Q("graph_triangles_top",
      (s, d) => graft.operators.Triangles.topTriangleVerticesFrom(
        coPurchaseClosures(s, d), 20),
      Some("""WITH m AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem),
        ok AS (SELECT g FROM m GROUP BY g HAVING count(*) <= 50),
        mm AS (SELECT m.g, m.i FROM m JOIN ok USING (g)),
        e AS (SELECT DISTINCT x.i AS a, y.i AS b
          FROM mm x JOIN mm y ON x.g = y.g AND x.i < y.i),
        tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
          FROM e e1 JOIN e e2 ON e1.b = e2.a
            JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
        SELECT n, CAST(count(*) AS BIGINT) AS n_triangles
        FROM (SELECT unnest([x, y, z]) AS n FROM tri) u
        GROUP BY n ORDER BY n_triangles DESC, n ASC LIMIT 20""")),

    // ✚ local clustering coefficient top-k: the per-vertex community
    // density cc(v) = t(v)/C(deg,2); exact integer t and deg, ONE
    // rounded division per row, deterministic tie-break — hash-green
    // against the oracle's identical arithmetic.
    Q("graph_clustering_top",
      (s, d) => graft.operators.Triangles.clusteringTopFrom(
        coPurchase(s, d), coPurchaseClosures(s, d), 5, 20),
      Some("""WITH m AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem),
        ok AS (SELECT g FROM m GROUP BY g HAVING count(*) <= 50),
        mm AS (SELECT m.g, m.i FROM m JOIN ok USING (g)),
        e AS (SELECT DISTINCT x.i AS a, y.i AS b
          FROM mm x JOIN mm y ON x.g = y.g AND x.i < y.i),
        deg AS (SELECT n, CAST(count(*) AS BIGINT) AS deg
          FROM (SELECT a AS n FROM e UNION ALL SELECT b FROM e) u GROUP BY n),
        tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
          FROM e e1 JOIN e e2 ON e1.b = e2.a
            JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        vt AS (SELECT n, CAST(count(*) AS BIGINT) AS n_triangles
          FROM (SELECT unnest([x, y, z]) AS n FROM tri) u GROUP BY n)
        SELECT d.n, d.deg, COALESCE(vt.n_triangles, 0) AS n_triangles,
          ROUND(COALESCE(vt.n_triangles, 0) * 2.0 / (d.deg * (d.deg - 1)), 6) AS cc
        FROM deg d LEFT JOIN vt USING (n) WHERE d.deg >= 5
        ORDER BY cc DESC, d.deg DESC, d.n ASC LIMIT 20""")),

    // ✚ global transitivity 3T/W — integer sums divided once (never an
    // average of per-vertex doubles, whose value would depend on float
    // summation order across partitions).
    Q("graph_transitivity",
      (s, d) => graft.operators.Triangles.transitivityFrom(
        coPurchase(s, d), coPurchaseClosures(s, d)),
      Some("""WITH m AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem),
        ok AS (SELECT g FROM m GROUP BY g HAVING count(*) <= 50),
        mm AS (SELECT m.g, m.i FROM m JOIN ok USING (g)),
        e AS (SELECT DISTINCT x.i AS a, y.i AS b
          FROM mm x JOIN mm y ON x.g = y.g AND x.i < y.i),
        deg AS (SELECT n, CAST(count(*) AS BIGINT) AS deg
          FROM (SELECT a AS n FROM e UNION ALL SELECT b FROM e) u GROUP BY n),
        w AS (SELECT CAST(COALESCE(SUM(deg * (deg - 1)), 0) // 2 AS BIGINT) AS n_wedges FROM deg),
        t AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles
          FROM e e1 JOIN e e2 ON e1.b = e2.a
            JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
        SELECT t.n_triangles, w.n_wedges,
          CASE WHEN w.n_wedges = 0 THEN 0.0
            ELSE ROUND(t.n_triangles * 3.0 / w.n_wedges, 6) END AS transitivity
        FROM t, w""")),

    // ✚ pairwise association rules (round 12): support / confidence /
    // lift over the capped basket universe, both rule directions,
    // exact integer counts divided once; top-20 by rounded lift.
    Q("graph_assoc_rules",
      (s, d) => graft.operators.Triangles.associationRules(
        t(s, d, "lineitem"), "l_orderkey", "l_partkey", 50, 3, 20,
        cappedMembership = Some(cappedMembership(s, d))),
      Some("""WITH m0 AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem),
        ok AS (SELECT g FROM m0 GROUP BY g HAVING count(*) <= 50),
        mm AS (SELECT m0.g, m0.i FROM m0 JOIN ok USING (g)),
        nb AS (SELECT CAST(count(DISTINCT g) AS BIGINT) AS n_baskets FROM mm),
        pairs AS (SELECT x.i AS a, y.i AS b, CAST(count(*) AS BIGINT) AS n_pair
          FROM mm x JOIN mm y ON x.g = y.g AND x.i < y.i
          GROUP BY 1, 2 HAVING count(*) >= 3),
        item AS (SELECT i, CAST(count(*) AS BIGINT) AS n_item FROM mm GROUP BY i),
        bt AS (SELECT p.a, p.b, p.n_pair, ia.n_item AS na, ib.n_item AS nb2,
            nb.n_baskets
          FROM pairs p JOIN item ia ON ia.i = p.a
            JOIN item ib ON ib.i = p.b, nb),
        rules AS (
          SELECT a AS ante, b AS cons, n_pair, na AS n_ante, n_baskets,
            ROUND(CAST(n_pair AS DOUBLE) / na, 6) AS confidence,
            ROUND(CAST(n_pair AS DOUBLE) * n_baskets
              / (CAST(na AS DOUBLE) * nb2), 6) AS lift
          FROM bt
          UNION ALL
          SELECT b, a, n_pair, nb2, n_baskets,
            ROUND(CAST(n_pair AS DOUBLE) / nb2, 6),
            ROUND(CAST(n_pair AS DOUBLE) * n_baskets
              / (CAST(nb2 AS DOUBLE) * na), 6)
          FROM bt)
        SELECT * FROM rules
        ORDER BY lift DESC, n_pair DESC, ante ASC, cons ASC LIMIT 20""")),

    // ✚ degree assortativity (Newman's r): do hubs attach to hubs?
    // Symmetrized endpoint-degree sums in ONE edge pass, exact
    // integers divided once, nullif pin for the degree-regular case.
    Q("graph_assortativity",
      (s, d) => graft.operators.Triangles.degreeAssortativity(
        coPurchase(s, d)),
      Some("""WITH m AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem),
        ok AS (SELECT g FROM m GROUP BY g HAVING count(*) <= 50),
        mm AS (SELECT m.g, m.i FROM m JOIN ok USING (g)),
        e AS (SELECT DISTINCT x.i AS a, y.i AS b
          FROM mm x JOIN mm y ON x.g = y.g AND x.i < y.i),
        deg AS (SELECT n, CAST(count(*) AS BIGINT) AS deg
          FROM (SELECT a AS n FROM e UNION ALL SELECT b FROM e) u GROUP BY n),
        s AS (SELECT CAST(count(*) * 2 AS BIGINT) AS m,
            CAST(SUM(da.deg + db.deg) AS BIGINT) AS sx,
            CAST(SUM(da.deg * da.deg + db.deg * db.deg) AS BIGINT) AS qx,
            CAST(SUM(da.deg * db.deg * 2) AS BIGINT) AS p
          FROM e JOIN deg da ON da.n = e.a JOIN deg db ON db.n = e.b)
        SELECT m, ROUND(
          (CAST(m AS DOUBLE) * CAST(p AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
          / NULLIF(CAST(m AS DOUBLE) * CAST(qx AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0), 6) AS r
        FROM s""")),

    // ✚ closeness centrality (round 13, operators.Centrality): exact
    // closeness + harmonic for 8 deterministic sources (the smallest
    // vertex ids of the capped co-purchase graph — an 8-row bounded
    // collect, documented). The Spark side runs ONE multi-source
    // level-synchronous BFS (rounds = diameter, not diameter×|S|);
    // the oracle is a bounded-depth recursive CTE whose UNION-dedup
    // working table is ≤ depth × |V| × 8 rows — single-source BFS IS
    // SQL-expressible, unlike the shrink-until-fixpoint family.
    Q("graph_closeness",
      (s, d) => {
        val edges = coPurchase(s, d) // already a checkpointed LogicalRDD
        // (feeds the BFS without a re-copy); the 8-source pick comes
        // from the shared bounded layout (r18 — each centrality query
        // had paid its own edge-sized distinct + sort + collect)
        val srcs = coPurchaseSrcs(s, d, 8)
        // the MS-BFS packed path (one edge join per level for all 8
        // sources); ≡ the row-per-source path, spec-asserted; the
        // wave levels are the shared layout closeness_all reuses
        graft.operators.Centrality.closenessPacked(edges, srcs,
          shared = Some(coPurchaseWaveLevels(s, d)))
      },
      Some("""WITH RECURSIVE
        m AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem),
        ok AS (SELECT g FROM m GROUP BY g HAVING count(*) <= 50),
        mm AS (SELECT m.g, m.i FROM m JOIN ok USING (g)),
        e AS (SELECT DISTINCT x.i AS a, y.i AS b
          FROM mm x JOIN mm y ON x.g = y.g AND x.i < y.i),
        bi AS (SELECT a AS u, b AS w FROM e UNION ALL SELECT b AS u, a AS w FROM e),
        srcs AS (SELECT DISTINCT u AS s FROM bi ORDER BY s LIMIT 8),
        bfs AS (
          SELECT s, s AS v, 0 AS d FROM srcs
          UNION
          SELECT bfs.s, bi.w AS v, bfs.d + 1 FROM bfs
            JOIN bi ON bi.u = bfs.v WHERE bfs.d < 40),
        dist AS (SELECT s, v, min(d) AS d FROM bfs GROUP BY s, v)
        SELECT s AS n, CAST(count(*) AS BIGINT) AS n_reached,
          CAST(sum(d) AS BIGINT) AS sum_dist,
          CAST(max(d) AS BIGINT) AS ecc,
          ROUND(CAST(count(*) AS DOUBLE) / sum(d), 6) AS closeness,
          ROUND(SUM(1.0 / CAST(d AS DOUBLE)), 6) AS harmonic
        FROM dist WHERE d > 0 GROUP BY s""")),

    // ✚ ALL-vertex closeness estimate (round 13): Eppstein–Wang pivot
    // sampling — every vertex ranked by its exact distances from the 8
    // pivots, same packed-BFS cost as graph_closeness (the per-vertex
    // accumulation is a bit_count of the frontier word, zero extra
    // joins). Top-20 by the single rounded division, ties → id.
    Q("graph_closeness_all",
      (s, d) => {
        val edges = coPurchase(s, d) // already a checkpointed LogicalRDD
        val srcs = coPurchaseSrcs(s, d, 8)
        graft.operators.Centrality.closenessAll(edges, srcs,
          shared = Some(coPurchaseWaveLevels(s, d)))
          .orderBy(col("pivot_closeness").desc, col("n").asc).limit(20)
      },
      Some("""WITH RECURSIVE
        m AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem),
        ok AS (SELECT g FROM m GROUP BY g HAVING count(*) <= 50),
        mm AS (SELECT m.g, m.i FROM m JOIN ok USING (g)),
        e AS (SELECT DISTINCT x.i AS a, y.i AS b
          FROM mm x JOIN mm y ON x.g = y.g AND x.i < y.i),
        bi AS (SELECT a AS u, b AS w FROM e UNION ALL SELECT b AS u, a AS w FROM e),
        srcs AS (SELECT DISTINCT u AS s FROM bi ORDER BY s LIMIT 8),
        bfs AS (
          SELECT s, s AS v, 0 AS d FROM srcs
          UNION
          SELECT bfs.s, bi.w AS v, bfs.d + 1 FROM bfs
            JOIN bi ON bi.u = bfs.v WHERE bfs.d < 40),
        dist AS (SELECT s, v, min(d) AS d FROM bfs GROUP BY s, v)
        SELECT v AS n, CAST(count(*) AS BIGINT) AS pivots_reached,
          CAST(sum(d) AS BIGINT) AS sum_dist,
          ROUND(CAST(count(*) AS DOUBLE) / sum(d), 6) AS pivot_closeness
        FROM dist WHERE d > 0 GROUP BY v
        ORDER BY pivot_closeness DESC, n ASC LIMIT 20""")),

    // ✚ betweenness centrality top-k (round 13; hash oracle round 14):
    // Brandes–Pich sampled betweenness from 32 deterministic sources,
    // extrapolated by n/|S|/2. σ path counting needs no path
    // enumeration — the [[betweennessSql]] twin unrolls forward
    // σ-per-level and backward δ-per-level as AS MATERIALIZED CTEs,
    // the graph_hits iterative-oracle doctrine; exactness
    // (all-sources = the sequential Brandes) is also spec-asserted in
    // GraphSpec.
    Q("graph_betweenness_top",
      (s, d) => {
        val edges = coPurchase(s, d) // already a checkpointed LogicalRDD
        val (srcs, nVert) = coPurchaseSrcsN(s, d)
        graft.operators.Centrality.betweenness(edges, srcs, Some(nVert))
          .orderBy(col("betweenness").desc, col("n").asc).limit(20)
      },
      Some(betweennessSql(6, 20))),

    // ✚ deterministic random walks (round 13): DeepWalk corpus
    // generation with salted-md5 hop choice — replayable (same salt =
    // bit-identical walks, the samplePct doctrine) and therefore
    // hash-green against a DuckDB replay of every hop.
    Q("graph_random_walks",
      (s, d) => graft.operators.RandomWalks.randomWalks(
        coPurchase(s, d), "r13", 4,
        layout = Some(coPurchaseWalkLayout(s, d))),
      Some(walkSql("r13", 4))),

    // ✚ node2vec biased walks (round 14): the p/q-weighted DeepWalk
    // sibling — integer return/in/out weights (here p = q = 2 at
    // scale 4: (2, 4, 2)) chosen by an exact cumulative-range pick
    // under the same replayable salt, so the DuckDB twin replays
    // every biased hop bit-identically (no floats anywhere).
    Q("graph_node2vec",
      (s, d) => graft.operators.RandomWalks.node2vecWalks(
        coPurchase(s, d), "r14", 4, 2L, 4L, 2L,
        layout = Some(coPurchaseWalkLayout(s, d))),
      Some(node2vecSql("r14", 4, 2L, 4L, 2L))),

    // ✚ degree-CAPPED node2vec (round 15, VERDICT r14 order #1): the
    // operator-boundary maxDeg stride subsample — a visit to a vertex
    // with deg > 8 weighs ≤ 8 deterministically-sampled neighbors, and
    // the subsample itself is replayed hop-for-hop by the twin (the
    // offset is a salted md5, same doctrine as the pick), so the cap's
    // bias is AUDITABLE, not just documented.
    Q("graph_node2vec_capped",
      (s, d) => graft.operators.RandomWalks.node2vecWalks(
        coPurchase(s, d),
        "r15", 4, 2L, 4L, 2L, maxDeg = 8,
        layout = Some(coPurchaseWalkLayout(s, d))),
      Some(node2vecSql("r15", 4, 2L, 4L, 2L, Some(8)))),

    // ✚ HITS hubs & authorities (round 13): the directed link-analysis
    // twin of PageRank on the order→part bipartite graph; grid-rounded
    // power iterations keep every per-vertex sum EXACT under any
    // partition order, so the unrolled DuckDB twin hash-matches.
    Q("graph_hits",
      (s, d) => graft.operators.Hits.hitsTop(
        bipartiteOrderPart(s, d), 4, 20, edgesDistinct = true),
      Some(hitsSql(4, 20)))
  )
}
