package graft

import org.apache.spark.sql.functions._
import graft.load.GraphLoader
import graft.query.PropertyGraph
import graft.graphx.GraphXBridge

/** Traversal combinators (SURVEY §2.B.3) and GraphX analytics against
  * the sf0.001 graph, cross-checked with relational ground truth. */
class GraphSpec extends SparkSpec {

  lazy val g = PropertyGraph(GraphLoader.nodes(spark, sfDir), GraphLoader.edges(spark, sfDir))

  test("out(): Customer-PLACED->Order matches orders count") {
    val hops = g.v("Customer", "c").out("PLACED", "Order", "o").result
    assert(hops.count() == spark.read.parquet(s"$sfDir/orders.parquet").count())
  }

  test("in() equals out() with reversed direction") {
    val inn = g.v("Order", "o").in("PLACED", "Customer", "c").result.count()
    val out = g.v("Customer", "c").out("PLACED", "Order", "o").result.count()
    assert(inn == out)
  }

  test("both(): union of out-hop and in-hop bindings") {
    // Nation --IN_REGION--> Region: from Nation, both() = out only (no
    // incoming IN_REGION); from Region, both() = in only
    val fromNation = g.v("Nation", "n").both("IN_REGION", "Region", "r").result
    val fromRegion = g.v("Region", "r").both("IN_REGION", "Nation", "n").result
    assert(fromNation.count() == 25)
    assert(fromRegion.count() == 25)
    // and with an edge label pointing both ways relative to Nation
    // (IN_NATION in, IN_REGION out) both over both labels sees all
    val deg = g.v("Nation", "n").both("IN_NATION", "Customer", "c").result
    assert(deg.count() == 150) // customers only (suppliers filtered by label)
  }

  test("outE/inV chain: order→lineitem→part equals lineitem count") {
    val r = g.v("Order", "o").outE("CONTAINS", "l").inV("Part", "p").result
    assert(r.count() == spark.read.parquet(s"$sfDir/lineitem.parquet").count())
  }

  test("traverse: minimal-depth BFS with dedup (region in*1..2)") {
    val t = g.traverse(g.nodesOf("Region"), Seq("IN_REGION", "IN_NATION"), "in", Some(2))
    val d1 = t.filter(col("depth") === 1).count()
    val d2 = t.filter(col("depth") === 2).count()
    assert(d1 == 25) // nations
    assert(d2 == 160) // customers + suppliers
    // no node appears at two depths for the same start
    assert(t.groupBy("start_id", "node_id").count().filter(col("count") > 1).count() == 0)
  }

  test("degree: outDegree(PLACED) sums to order count") {
    val deg = g.outDegree("PLACED").agg(sum("degree")).collect()(0).getLong(0)
    assert(deg == 1500)
  }

  test("GraphX connectedComponents: one component per region on IN_REGION") {
    val cc = GraphXBridge.connectedComponents(spark, g, Seq("IN_REGION"))
    assert(cc.select("component").distinct().count() == 5)
    assert(cc.count() == 30) // 25 nations + 5 regions
  }

  test("GraphX shortestPaths: customers are 2 hops from their region") {
    val sp = GraphXBridge.shortestPathsTo(spark, g, Seq("IN_NATION", "IN_REGION"),
      (0L until 5L).toSeq)
      .filter(col("id") >= GraphLoader.CustomerOff && col("id") < GraphLoader.SupplierOff)
    assert(sp.count() == 150) // each customer reaches exactly one region
    assert(sp.filter(col("dist") =!= 2).count() == 0)
  }

  test("GraphX dijkstra: supplier0 distances up the hierarchy") {
    val d = GraphXBridge.dijkstra(spark, g, Seq("IN_NATION", "IN_REGION"),
      lit(1.0), GraphLoader.SupplierOff).collect()
    assert(d.length == 3) // self, nation, region
    assert(d.map(_.getDouble(1)).sorted.toSeq == Seq(0.0, 1.0, 2.0))
  }

  test("dijkstraDf ≡ GraphX dijkstra (DataFrame-native dual path)") {
    import spark.implicits._
    import graft.operators.ShortestPath
    // the fixture hierarchy, unit weights — same rows as the bridge
    def asMap(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getLong(0) -> ((r.getDouble(1), r.getInt(2)))).toMap
    val es = g.edges.filter(col("label").isin("IN_NATION", "IN_REGION"))
      .select(col("src"), col("dst"), lit(1.0).as("w"))
    val df = asMap(ShortestPath.dijkstraDf(es, GraphLoader.SupplierOff).collect())
    val gx = asMap(GraphXBridge.dijkstra(spark, g, Seq("IN_NATION", "IN_REGION"),
      lit(1.0), GraphLoader.SupplierOff).collect())
    assert(df == gx)
    // weighted digraph where the MINIMAL-WEIGHT path is not the
    // fewest-hop path (1→2→3→4 weighs 3 < direct 1→4 at 10), plus a
    // tie where fewer hops must win (1→5 direct = 1→2→5 = 2.0)
    val wes = Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (3L, 4L, 1.0),
      (1L, 4L, 10.0), (1L, 5L, 2.0), (2L, 5L, 1.0), (6L, 1L, 1.0))
      .toDF("src", "dst", "w")
    val got = asMap(ShortestPath.dijkstraDf(wes, 1L).collect())
    assert(got == Map(1L -> ((0.0, 0)), 2L -> ((1.0, 1)), 3L -> ((2.0, 2)),
      4L -> ((3.0, 3)), 5L -> ((2.0, 1)))) // 6 unreached: absent
    // negative weights are rejected loudly
    intercept[IllegalArgumentException] {
      ShortestPath.dijkstraDf(Seq((1L, 2L, -1.0)).toDF("src", "dst", "w"), 1L)
    }
  }

  test("saltedJoin is bag-equal to the plain equi-join") {
    import graft.query.Skew
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val part = spark.read.parquet(s"$sfDir/part.parquet")
    val plain = li.join(part, li("l_partkey") === part("p_partkey"))
      .select("l_orderkey", "l_linenumber", "p_name")
    val salted = Skew.saltedJoin(li, part, "l_partkey", "p_partkey", 8)
      .select("l_orderkey", "l_linenumber", "p_name")
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).count() == 0)
    assert(plain.exceptAll(salted).count() == 0)
  }

  test("keyProfile surfaces the hottest join keys") {
    import graft.query.Skew
    val prof = Skew.keyProfile(
      spark.read.parquet(s"$sfDir/lineitem.parquet"), "l_returnflag", 3).collect()
    assert(prof.length == 3 && prof(0).getLong(1) >= prof(1).getLong(1))
  }

  test("profiler handles hostile column names (VERDICT r7 wrong #3)") {
    import spark.implicits._
    val hostile = "bad ' name\" with, stack(" // would break a selectExpr parse
    val df = Seq((1, Some("a")), (2, Some("b")), (2, None)).toDF("id", hostile)
    val prof = graft.operators.Profile.profile(df,
      Seq("id" -> df("id"), hostile -> df(hostile))).collect()
    val row = prof.find(_.getString(0) == hostile).get
    assert(row.getLong(1) == 3 && row.getLong(2) == 2 && row.getLong(3) == 2)
    assert(prof.find(_.getString(0) == "id").get.getLong(3) == 2)
  }

  test("histogram: exact bucketing, max in last bucket, degenerate span") {
    import spark.implicits._
    val df = (0L to 100L).toDF("v")
    val h = graft.operators.Profile.histogram(df, col("v"), 10)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    // counts cover every row; the max (100) clamps into bucket 9
    assert(h.values.map(_._2).sum == 101L)
    assert(h.keySet == (0L to 9L).toSet)
    assert(h(9L)._2 == 11L) // 90..100
    assert(h(0L)._1 == 0.0 && h(9L)._1 == 90.0)
    // all-equal column: everything lands in bucket 0
    val d1 = Seq(5L, 5L, 5L).toDF("v")
    val g = graft.operators.Profile.histogram(d1, col("v"), 10).collect()
    assert(g.length == 1 && g(0).getLong(0) == 0L && g(0).getLong(2) == 3L)

    // DENSE variant: exactly nBuckets rows, gaps emitted at n = 0 with
    // their correct lo; values 0 and 100 leave buckets 1..8 empty
    val gap = Seq(0L, 100L).toDF("v")
    val dense = graft.operators.Profile.histogramDense(gap, col("v"), 10)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(dense.keySet == (0L to 9L).toSet)
    assert(dense(0L)._2 == 1L && dense(9L)._2 == 1L)
    assert((1L to 8L).forall(b => dense(b)._2 == 0L))
    assert(dense(5L)._1 == 50.0)
    // empty input keeps the sparse contract: no bounds → no rows
    assert(graft.operators.Profile.histogramDense(
      gap.filter(lit(false)), col("v"), 10).collect().isEmpty)
  }

  test("correlations: planted perfect, inverse, and zero correlations") {
    import spark.implicits._
    val df = Seq((1L, 2L, -1L, 7L), (2L, 4L, -2L, 7L), (3L, 6L, -3L, 7L),
      (4L, 8L, -4L, 7L)).toDF("a", "b", "c", "k")
    val r = graft.operators.Profile.correlations(df, Seq(
        "a" -> col("a"), "b" -> col("b"), "c" -> col("c")))
      .collect().map(x => (x.getString(0), x.getString(1)) -> x.getDouble(2)).toMap
    assert(r(("a", "b")) == 1.0) // b = 2a
    assert(r(("a", "c")) == -1.0) // c = -a
    assert(r(("b", "c")) == -1.0)
    assert(r.size == 3)
  }

  test("traverseUnbounded terminates on a cyclic graph with minimal depths") {
    import spark.implicits._
    val n = Seq((1L, "N"), (2L, "N"), (3L, "N"), (4L, "N")).toDF("id", "label")
    val e = Seq((1L, 2L, "E"), (2L, 3L, "E"), (3L, 1L, "E"), (3L, 4L, "E"))
      .toDF("src", "dst", "label")
    val pg = PropertyGraph(n, e)
    val t = pg.traverse(n.filter(col("id") === 1), Seq("E"), "out")
      .collect().map(r => (r.getLong(1), r.getInt(2))).toMap
    // 1→2→3→{1 (already visited), 4}: the cycle back to 1 must not loop
    assert(t == Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3))
  }

  test("traverseUnbounded while-guard stops expansion through guarded nodes") {
    import spark.implicits._
    val n = Seq((1L, "N"), (2L, "N"), (3L, "N"), (4L, "N")).toDF("id", "label")
    val e = Seq((1L, 2L, "E"), (2L, 3L, "E"), (3L, 4L, "E")).toDF("src", "dst", "label")
    val pg = PropertyGraph(n, e)
    val t = pg.traverse(n.filter(col("id") === 1), Seq("E"), "out",
      whileNode = Some(col("id") =!= 3))
      .collect().map(r => (r.getLong(1), r.getInt(2))).toMap
    // node 3 is reported but not expanded; 4 stays unreached
    assert(t == Map(1L -> 0, 2L -> 1, 3L -> 2))
    // an unknown direction is refused with the shared message, not a MatchError
    val bad = intercept[IllegalArgumentException](
      pg.traverse(n.filter(col("id") === 1), Seq("E"), "sideways"))
    assert(bad.getMessage == "unsupported direction 'sideways' (expected OUT, IN, or BOTH)")
  }

  test("traverseUnbounded matches driver-side BFS on random graphs (cycles included)") {
    import spark.implicits._
    val rnd = new scala.util.Random(42) // fixed seed: deterministic cases
    (1 to 12).foreach { caseNo =>
      // cases 7-12 are denser: they reach depth 3 and beyond, tie at
      // equal depth (so the canonical path pick matters) and stop at
      // guarded nodes
      val nNodes = if (caseNo <= 6) 2 + rnd.nextInt(7) else 4 + rnd.nextInt(5)
      val nEdges = if (caseNo <= 6) 1 + rnd.nextInt(14) else 2 * nNodes + rnd.nextInt(2 * nNodes)
      // duplicates and self-loops allowed on purpose
      val edges = Seq.fill(nEdges)(
        (1L + rnd.nextInt(nNodes), 1L + rnd.nextInt(nNodes))).distinct
      // reference: plain driver-side BFS from node 1, keeping per node
      // its minimal depth and the lexicographically smallest path of
      // that depth; nodes with id % 3 == 0 stop expansion under the guard
      def reference(dir: String, maxDepth: Option[Int],
          guarded: Boolean): Map[Long, (Int, Seq[Long])] = {
        val oriented = dir match {
          case "out" => edges
          case "in" => edges.map(_.swap)
          case "both" => edges ++ edges.map(_.swap)
        }
        val adj = oriented.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
        val best = scala.collection.mutable.Map(1L -> ((0, Seq(1L))))
        var frontier = Seq(1L)
        var d = 0
        while (frontier.nonEmpty && maxDepth.forall(d < _)) {
          d += 1
          val expanding = if (d == 1 || !guarded) frontier else frontier.filter(_ % 3 != 0)
          val next = (for (n <- expanding; m <- adj.getOrElse(n, Nil) if !best.contains(m))
              yield m -> (best(n)._2 :+ m))
            .groupBy(_._1).view
            .mapValues(_.map(_._2).min(Ordering.Implicits.seqOrdering[Seq, Long])).toMap
          next.foreach { case (m, p) => best(m) = (d, p) }
          frontier = next.keys.toSeq
        }
        best.toMap
      }
      val nDf = (1L to nNodes).map(id => (id, "N")).toDF("id", "label")
      val eDf = edges.map { case (a, b) => (a, b, "E") }.toDF("src", "dst", "label")
      val pg = query.PropertyGraph(nDf, eDf)
      for (dir <- Seq("out", "in", "both"); maxDepth <- Seq(None, Some(1), Some(2));
           guarded <- Seq(false, true); withPath <- Seq(false, true)) {
        val want = reference(dir, maxDepth, guarded)
        val rows = pg.traverse(nDf.filter(col("id") === 1), Seq("E"), dir, maxDepth,
            if (guarded) Some(col("id") % 3 =!= 0) else None, withPath).collect()
        val input = s"case $caseNo edges=$edges dir=$dir maxDepth=$maxDepth " +
          s"guarded=$guarded withPath=$withPath"
        assert(rows.map(r => r.getLong(1) -> r.getInt(2)).toMap ==
          want.view.mapValues(_._1).toMap && rows.length == want.size, input)
        if (withPath) rows.foreach { r =>
          val (node, depth, path) = (r.getLong(1), r.getInt(2), r.getSeq[Long](3))
          assert(path.head == 1L && path.last == node && path.length == depth + 1, input)
          assert(path == want(node)._2, input)
        }
      }
    }
  }

  test("traverseUnbounded reaches the bounded fixpoint on the acyclic hierarchy") {
    val bounded = g.traverse(g.nodesOf("Region"), Seq("IN_REGION", "IN_NATION"), "in", Some(2))
    val unbounded = g.traverse(g.nodesOf("Region"), Seq("IN_REGION", "IN_NATION"), "in")
    assert(unbounded.count() == bounded.count())
    assert(unbounded.exceptAll(bounded).count() == 0)
  }

  test("PageRank matches a driver-side power iteration (independent cross-check)") {
    // replicate GraphX staticPageRank semantics exactly: rank0 = 1.0;
    // rank' = reset + (1-reset) * Σ_in rank(src)/outDeg(src) for EVERY
    // vertex (dangling mass is dropped, parallel edges each contribute)
    val sub = PropertyGraph(
      g.nodes.filter(col("label").isin("Region", "Nation")),
      g.edges.filter(col("label") === "IN_REGION"))
    val ids = sub.nodes.select("id").collect().map(_.getLong(0))
    val es = sub.edges.select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1)))
    val outDeg = es.groupBy(_._1).map { case (k, v) => k -> v.length }
    var rank = ids.map(_ -> 1.0).toMap
    (1 to 5).foreach { _ =>
      val contrib = es.groupBy(_._2).map { case (dst, in) =>
        dst -> in.map { case (src, _) => rank(src) / outDeg(src) }.sum
      }
      rank = ids.map(id => id -> (0.15 + 0.85 * contrib.getOrElse(id, 0.0))).toMap
    }
    // GraphX renormalizes the final ranks to sum to |V| (SPARK-18847:
    // sinks drop mass; the normalization restores the invariant)
    val scale = ids.length / rank.values.sum
    rank = rank.map { case (id, r) => id -> r * scale }
    val gx = GraphXBridge.pageRank(spark, sub, 5).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(gx.keySet == rank.keySet)
    rank.foreach { case (id, r) => assert(math.abs(gx(id) - r) < 1e-9, s"vertex $id") }
  }

  test("pageRankDf ≡ GraphX staticPageRank (DataFrame-native dual path)") {
    // the full fixture graph: dangling vertices (regions, suppliers)
    // and high fan-in hubs both present — the DF power iteration must
    // agree with GraphX everywhere to float-reduce-order precision
    val df = graft.operators.PageRank.pageRankDf(
        g.nodes.select("id"), g.edges.select("src", "dst"), 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val gx = GraphXBridge.pageRank(spark, g, 5).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(df.keySet == gx.keySet)
    df.foreach { case (id, r) => assert(math.abs(gx(id) - r) < 1e-9, s"vertex $id") }
  }

  test("personalizedPageRankDf: closed-form path graph + seed-relative semantics") {
    import spark.implicits._
    // 1 → 2 → 3 with seed {1}: a dense driver replay of the declared
    // semantics (rank₀ = |V|/|S| on seeds; rankᵢ = 0.15·tele +
    // 0.85·Σ rank/outdeg) must match the sparse operator EXACTLY —
    // the sparse form only drops structurally-zero rows.
    val v = Seq(1L, 2L, 3L, 4L).toDF("id") // 4 is isolated
    val e = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val got = graft.operators.PageRank
      .personalizedPageRankDf(v, e, Seq(1L), 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // driver replay (dense)
    val outDeg = Map(1L -> 1, 2L -> 1)
    val tele = Map(1L -> 4.0, 2L -> 0.0, 3L -> 0.0, 4L -> 0.0)
    var rank = tele
    (1 to 4).foreach { _ =>
      val in = Map(2L -> rank(1L) / outDeg(1L), 3L -> rank(2L) / outDeg(2L))
      rank = tele.map { case (id, t) =>
        id -> (0.15 * t + 0.85 * in.getOrElse(id, 0.0))
      }
    }
    assert(got.keySet == Set(1L, 2L, 3L, 4L))
    rank.foreach { case (id, r) =>
      assert(math.abs(got(id) - r) < 1e-12, s"vertex $id: ${got(id)} vs $r") }
    // unreached vertex is EXACTLY zero; the seed holds the reset floor
    assert(got(4L) == 0.0)
    assert(got(1L) == 0.15 * 4.0)
    // duplicate seeds refuse loudly (code-review r15: they passed the
    // distinct-count membership check yet built duplicate teleport
    // rows that double-counted mass through every round's join)
    val eDup = intercept[IllegalArgumentException](graft.operators.PageRank
      .personalizedPageRankDf(v, e, Seq(1L, 1L, 2L), 2))
    assert(eDup.getMessage.contains("duplicate seed"))
  }

  test("personalizedPageRankDf on the fixture graph: mass localizes around the seeds") {
    val seeds = Seq(1L, 2L).map(GraphLoader.CustomerOff + _)
    val ppr = graft.operators.PageRank.personalizedPageRankDf(
        g.nodes.select(col("id")), g.edges.select(col("src"), col("dst")),
        seeds, 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ppr.values.forall(_ >= 0.0))
    // customers have no in-edges: every non-seed customer is exactly 0
    val custIds = g.nodes.filter(col("label") === "Customer")
      .select(col("id")).collect().map(_.getLong(0)).toSet
    (custIds -- seeds).foreach(id => assert(ppr(id) == 0.0, s"customer $id"))
    seeds.foreach(id => assert(ppr(id) > 0.0))
    // positive mass reaches the seeds' forward neighborhood only:
    // their orders exist, some other customer's order stays zero
    val placed = g.edges.filter(col("label") === "PLACED")
      .select(col("src"), col("dst")).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val seedOrders = placed.filter(p => seeds.contains(p._1)).map(_._2)
    assert(seedOrders.forall(o => ppr(o) > 0.0))
    val otherOrder = placed.find(p => !seeds.contains(p._1)).map(_._2)
    otherOrder.foreach(o => assert(ppr(o) == 0.0))
  }

  test("modularity: hand-computed partitions (two triangles; one blob)") {
    import spark.implicits._
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L), (5L, 6L))
      .toDF("a", "b")
    val twoComms = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L), (6L, 4L))
      .toDF("n", "community")
    val r = graft.operators.Communities.modularity(e, twoComms).head()
    // m = 6, per community: e_c = 3, d_c = 6 → Q = 2·(3/6 − (6/12)²) = 0.5
    assert(r.getLong(0) == 2 && r.getDouble(1) == 0.5)
    val oneComm = Seq(1L, 2L, 3L, 4L, 5L, 6L).map(n => (n, 1L))
      .toDF("n", "community")
    val r1 = graft.operators.Communities.modularity(e, oneComm).head()
    // everything intra: Q = m/m − 1² = 0 (the classic degenerate case)
    assert(r1.getLong(0) == 1 && r1.getDouble(1) == 0.0)
  }

  test("PageRank is stable across runs (fixed iterations, up to float reduce order)") {
    // message combining reduces doubles in nondeterministic partition
    // order, so runs agree only to ~1e-12 relative — which is why the
    // pagerank query has no hashed oracle (rows-only check) and rounds
    val a = GraphXBridge.pageRank(spark, g, 5).orderBy(col("id")).collect()
    val b = GraphXBridge.pageRank(spark, g, 5).orderBy(col("id")).collect()
    assert(a.length == b.length)
    a.zip(b).foreach { case (x, y) =>
      assert(x.getLong(0) == y.getLong(0))
      assert(math.abs(x.getDouble(1) - y.getDouble(1)) < 1e-9)
    }
  }

  test("traversePaths: canonical min-path on a diamond; cycles never revisit") {
    import spark.implicits._
    // diamond: 1→2→4, 1→3→4 — both paths reach 4 at depth 2; the
    // canonical pick is the lexicographically smaller [1,2,4]
    val n = Seq((1L, "N"), (2L, "N"), (3L, "N"), (4L, "N")).toDF("id", "label")
    val e = Seq((1L, 2L, "E"), (1L, 3L, "E"), (2L, 4L, "E"), (3L, 4L, "E"))
      .toDF("src", "dst", "label")
    val pg = PropertyGraph(n, e)
    val paths = pg.traverse(n.filter(col("id") === 1), Seq("E"), "out", withPath = true)
      .collect().map(r => r.getLong(1) -> ((r.getInt(2), r.getSeq[Long](3)))).toMap
    assert(paths == Map(
      1L -> ((0, Seq(1L))), 2L -> ((1, Seq(1L, 2L))), 3L -> ((1, Seq(1L, 3L))),
      4L -> ((2, Seq(1L, 2L, 4L)))))
    // a SHALLOWER reach always wins over a smaller-array deeper one:
    // 1→5 direct (depth 1) beats 1→2→5 even though both are valid
    val e2 = Seq((1L, 2L, "E"), (2L, 5L, "E"), (1L, 5L, "E")).toDF("src", "dst", "label")
    val n2 = Seq((1L, "N"), (2L, "N"), (5L, "N")).toDF("id", "label")
    val p2 = PropertyGraph(n2, e2)
      .traverse(n2.filter(col("id") === 1), Seq("E"), "out", withPath = true)
      .collect().map(r => r.getLong(1) -> r.getSeq[Long](3)).toMap
    assert(p2(5L) == Seq(1L, 5L))
    // cycle 1→2→3→1: fixpoint terminates, no path revisits a node
    val ec = Seq((1L, 2L, "E"), (2L, 3L, "E"), (3L, 1L, "E"), (3L, 4L, "E"))
      .toDF("src", "dst", "label")
    val pc = PropertyGraph(n, ec)
      .traverse(n.filter(col("id") === 1), Seq("E"), "out", withPath = true)
      .collect().map(r => (r.getLong(1), r.getInt(2), r.getSeq[Long](3)))
    assert(pc.length == 4) // 1,2,3,4 — each exactly once
    pc.foreach { case (node, depth, path) =>
      assert(path.distinct == path, s"path revisits: $path")
      assert(path.length == depth + 1 && path.last == node && path.head == 1L)
    }
    // bounded + while-guard parity with traverse(): guarded nodes are
    // reported, not expanded
    val eg = Seq((1L, 2L, "E"), (2L, 3L, "E"), (3L, 4L, "E")).toDF("src", "dst", "label")
    val pg2 = PropertyGraph(n, eg)
    val guarded = pg2.traverse(n.filter(col("id") === 1), Seq("E"), "out",
        Some(5), Some(col("id") =!= 3), withPath = true)
      .collect().map(r => r.getLong(1)).toSet
    assert(guarded == Set(1L, 2L, 3L))
  }

  test("triangles: K4 has four, a path has none, per-vertex credit hits all corners") {
    import spark.implicits._
    import graft.operators.Triangles
    // K4 on {1..4}: C(4,3) = 4 triangles, each vertex on exactly 3
    val k4 = (for { a <- 1L to 4L; b <- (a + 1) to 4L } yield (a, b)).toDF("a", "b")
    assert(Triangles.triangleCount(k4).head().getLong(0) == 4L)
    val tv = Triangles.topTriangleVertices(k4, 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tv == (1L to 4L).map(_ -> 3L).toMap)
    // path 1-2-3-4 + pendant: zero triangles
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    assert(Triangles.triangleCount(path).head().getLong(0) == 0L)
  }

  test("clustering: cc exact on a planted graph; transitivity = 3T/W") {
    import spark.implicits._
    import graft.operators.Triangles
    // bowtie: triangles {1,2,3} and {3,4,5} sharing vertex 3, plus a
    // pendant 6 off vertex 1.  deg: 1→3, 2→2, 3→4, 4→2, 5→2, 6→1.
    val bow = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (3L, 5L),
      (4L, 5L), (1L, 6L)).toDF("a", "b")
    val cc = Triangles.clusteringTop(bow, minDeg = 2, k = 10)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // v1: 1 triangle of C(3,2)=3 pairs → 1/3; v3: 2 of C(4,2)=6 → 1/3;
    // v2/v4/v5: 1 of 1 → 1.0; v6 filtered (deg 1 < minDeg)
    assert(cc == Map(
      1L -> ((3L, 1L, 0.333333)), 2L -> ((2L, 1L, 1.0)),
      3L -> ((4L, 2L, 0.333333)), 4L -> ((2L, 1L, 1.0)), 5L -> ((2L, 1L, 1.0))))
    // ordering: cc desc, deg desc, id asc → 2,4,5 then 3 (deg 4) then 1
    val order = Triangles.clusteringTop(bow, 2, 10).collect().map(_.getLong(0)).toSeq
    assert(order == Seq(2L, 4L, 5L, 3L, 1L))
    // transitivity: W = Σ C(deg,2) = 3+1+6+1+1+0 = 12, T = 2 → 6/12
    val tr = Triangles.transitivity(bow).head()
    assert((tr.getLong(0), tr.getLong(1), tr.getDouble(2)) == ((2L, 12L, 0.5)))
    // empty edge list: zero wedges → transitivity 0.0, not NaN
    val none = Seq.empty[(Long, Long)].toDF("a", "b")
    val tr0 = Triangles.transitivity(none).head()
    assert((tr0.getLong(0), tr0.getLong(1), tr0.getDouble(2)) == ((0L, 0L, 0.0)))
  }

  test("degreeAssortativity: star is -1, regular graph pins NULL, bowtie negative") {
    import spark.implicits._
    import graft.operators.Triangles
    // a star is the canonical disassortative graph: r = -1 exactly
    val star = (2L to 6L).map(i => (1L, i)).toDF("a", "b")
    val rs = Triangles.degreeAssortativity(star).head()
    assert(rs.getLong(0) == 10L && rs.getDouble(1) == -1.0)
    // K4 is 3-regular: zero degree variance → NULL (the nullif pin,
    // never an engine-dependent inf)
    val k4 = (for { a <- 1L to 4L; b <- (a + 1) to 4L } yield (a, b)).toDF("a", "b")
    assert(Triangles.degreeAssortativity(k4).head().isNullAt(1))
    // bowtie + pendant: hubs (deg 3, 4) bond to leaves → negative
    val bow = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (3L, 5L),
      (4L, 5L), (1L, 6L)).toDF("a", "b")
    assert(Triangles.degreeAssortativity(bow).head().getDouble(1) < 0.0)
  }

  test("kCore / coreness: planted cores, cascade peel, star hub stays core-1") {
    import spark.implicits._
    import graft.operators.KCore
    // K4 {1..4} + path 4-5-6 + pendant 7 off 1
    val g = ((for { a <- 1L to 4L; b <- (a + 1) to 4L } yield (a, b)) ++
      Seq((4L, 5L), (5L, 6L), (1L, 7L))).toDF("a", "b")
    // 2-core: exactly K4 (the path and pendant peel away — 5 first,
    // then 6's degree drops: the cascade)
    val c2 = KCore.kCore(g, 2).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c2 == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // 3-core: still K4; 4-core: empty
    assert(KCore.kCore(g, 3).count() == 4L)
    assert(KCore.kCore(g, 4).count() == 0L)
    val core = KCore.coreness(g).collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(core == Map(1L -> 3, 2L -> 3, 3L -> 3, 4L -> 3, 5L -> 1, 6L -> 1, 7L -> 1))
    // a star: hub degree 5 but coreness 1 — degree is not core depth
    val star = (2L to 6L).map(i => (1L, i)).toDF("a", "b")
    val sc = KCore.coreness(star).collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(sc.values.toSet == Set(1))
    assert(KCore.kCore(star, 2).count() == 0L)
    // maxK bound: survivors report maxK
    val k4 = (for { a <- 1L to 4L; b <- (a + 1) to 4L } yield (a, b)).toDF("a", "b")
    val capped = KCore.coreness(k4, maxK = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(capped.values.toSet == Set(2))
    // empty graph: empty result, schema intact
    val none = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(KCore.coreness(none).count() == 0L)
    assert(KCore.kCore(none, 1).columns.toSeq == Seq("n", "deg"))

    // h-index fixpoint ≡ sequential peel, vertex-for-vertex (the
    // round-13 replacement's correctness contract), capped runs too
    for ((graph, cap) <- Seq((g, 64), (star, 64), (k4, 2), (g, 2))) {
      val hi = KCore.coreness(graph, cap)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val peel = KCore.corenessPeel(graph, cap)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(hi == peel, s"h-index vs peel at cap $cap")
    }
  }

  test("associationRules: exact support/confidence/lift, both directions, floor") {
    import spark.implicits._
    import graft.operators.Triangles
    // baskets: {1,2,3}, {1,2}, {1,2}, {4,5} → pair (1,2) support 3,
    // all other pairs support 1 (below the floor of 2)
    val m = Seq((10L, 1L), (10L, 2L), (10L, 3L), (11L, 1L), (11L, 2L),
      (12L, 1L), (12L, 2L), (13L, 4L), (13L, 5L)).toDF("g", "i")
    val r = Triangles.associationRules(m, "g", "i", 50, 2, 10)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
        x.getLong(3), x.getLong(4), x.getDouble(5), x.getDouble(6)))
    // both directions of (1,2): conf = 3/3 = 1.0 each (both items in 3
    // baskets), lift = 3·4/(3·3) = 1.333333
    assert(r.toSet == Set(
      (1L, 2L, 3L, 3L, 4L, 1.0, 1.333333),
      (2L, 1L, 3L, 3L, 4L, 1.0, 1.333333)), r.toSeq.toString)
    // asymmetric confidence: {1,2},{1,2},{1} → conf(1→2)=2/3, conf(2→1)=1
    val m2 = Seq((20L, 1L), (20L, 2L), (21L, 1L), (21L, 2L), (22L, 1L))
      .toDF("g", "i")
    val conf = Triangles.associationRules(m2, "g", "i", 50, 2, 10)
      .collect().map(x => ((x.getLong(0), x.getLong(1)), x.getDouble(5))).toMap
    assert(conf == Map((1L, 2L) -> 0.666667, (2L, 1L) -> 1.0), conf.toString)
  }

  test("labelPropagation: planted cliques resolve to two communities deterministically") {
    import spark.implicits._
    import graft.operators.Communities
    // two K4 cliques {1..4} and {5..8} joined by one bridge edge (4,5)
    val g = ((for { a <- 1L to 4L; b <- (a + 1) to 4L } yield (a, b)) ++
      (for { a <- 5L to 8L; b <- (a + 1) to 8L } yield (a, b)) ++
      Seq((4L, 5L))).toDF("a", "b")
    val c = Communities.labelPropagation(g, 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // interior vertices of each clique must agree with each other and
    // differ across cliques (the bridge endpoints may go either way)
    assert(c(1L) == c(2L) && c(2L) == c(3L))
    assert(c(6L) == c(7L) && c(7L) == c(8L))
    assert(c(1L) != c(6L), c.toString)
    // deterministic across reruns (synchronous updates, min-label ties)
    val again = Communities.labelPropagation(g, 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == c)
    // a clique alone collapses to its smallest id
    val k3 = Seq((10L, 11L), (10L, 12L), (11L, 12L)).toDF("a", "b")
    val ck = Communities.labelPropagation(k3, 4)
      .collect().map(r => r.getLong(1)).toSet
    assert(ck == Set(10L), ck.toString)
  }

  test("labelPropagation: frontier-sparse rounds bit-equal the dense reference (r16)") {
    import spark.implicits._
    import graft.operators.Communities
    // a 100-clique that settles after two rounds plus a 10-path that
    // keeps rippling: from round 3 the frontier (~10 path vertices) is
    // under nV/8 (110/8), so the SPARSE branch executes — which the
    // declared query's 3 dense-heavy rounds never reach
    val edges = ((for { a <- 1000L until 1100L; b <- (a + 1) until 1100L }
        yield (a, b)) ++ (1L until 10L).map(i => (i, i + 1)) ++ Seq((10L, 1000L)))
      .toDF("a", "b")
    // synchronous dense reference: every vertex, every round
    def denseLpa(es: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
      val adj = (es ++ es.map(e => (e._2, e._1))).groupBy(_._1)
        .map { case (k, v) => k -> v.map(_._2) }
      var lab = adj.keys.map(k => k -> k).toMap
      (1 to iters).foreach { _ =>
        val prev = lab
        lab = adj.map { case (v, nbrs) =>
          val cnt = nbrs.groupBy(prev).map { case (l, xs) => (l, xs.size) }
          v -> cnt.toSeq.sortBy { case (l, c) => (-c, l) }.head._1
        }
      }
      lab
    }
    val es = edges.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = denseLpa(es, 8)
    val got = Communities.labelPropagation(edges, 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want, s"sparse LPA diverged from the dense reference: " +
      s"${got.toSeq.diff(want.toSeq).take(5)}")
  }

  test("connectedComponentsDf: equals GraphX CC on planted and random graphs") {
    import spark.implicits._
    import graft.operators.Communities
    // planted: path 1-2-3, clique {10,11,12}, isolated edge (20,21)
    val g = Seq((1L, 2L), (2L, 3L), (10L, 11L), (10L, 12L), (11L, 12L),
      (20L, 21L)).toDF("a", "b")
    val cc = Communities.connectedComponentsDf(g)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L), cc.toString)
    // random graph: deterministic md5-derived edges, compared against
    // the GraphX bridge (the independent implementation)
    def h(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      java.lang.Long.parseLong(md.digest(s.getBytes("UTF-8"))
        .take(4).map(b => f"$b%02x").mkString, 16)
    }
    val rnd = (1 to 400).map { i =>
      val a = h(s"ccA$i") % 300; val b = h(s"ccB$i") % 300
      (math.min(a, b), math.max(a, b))
    }.filter(p => p._1 != p._2).toDF("a", "b")
    val mine = Communities.connectedComponentsDf(rnd)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val gx = graft.graphx.GraphXBridge.componentsOfPairs(spark,
        rnd.select($"a".as("src"), $"b".as("dst")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(mine == gx, s"sizes ${mine.size} vs ${gx.size}")
    // a long path exercises the logarithmic doubling (depth 64 chain)
    val chain = (0L until 64L).map(i => (i, i + 1)).toDF("a", "b")
    val cchain = Communities.connectedComponentsDf(chain)
      .collect().map(r => r.getLong(1)).toSet
    assert(cchain == Set(0L))
  }

  test("cooccurrenceEdges: canonical distinct pairs; the group-size cap binds") {
    import spark.implicits._
    import graft.operators.Triangles
    val m = Seq( // group 10 → {1,2,3}; group 11 → {2,3} (dup edge); group 12 → mega
      (10L, 1L), (10L, 2L), (10L, 3L), (10L, 3L),
      (11L, 2L), (11L, 3L),
      (12L, 7L), (12L, 8L), (12L, 9L), (12L, 6L)
    ).toDF("g", "i")
    val e = Triangles.cooccurrenceEdges(m, "g", "i", maxGroupSize = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // group 12 (4 members > cap) contributes nothing; duplicates collapse
    assert(e == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    // triangle through the combined groups: {1,2,3}
    assert(Triangles.triangleCount(
      Triangles.cooccurrenceEdges(m, "g", "i", maxGroupSize = 3))
      .head().getLong(0) == 1L)
  }

  /** Sequential Brandes — the independently-derived reference the
    * distributed level-synchronous pass is asserted against (undirected,
    * pair-halved, unnormalized). */
  private def refBrandes(edges: Seq[(Long, Long)]): Map[Long, Double] = {
    val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .distinct.groupMap(_._1)(_._2)
    val vs = adj.keySet.toSeq.sorted
    val bc = scala.collection.mutable.Map.empty[Long, Double].withDefaultValue(0.0)
    for (s <- vs) {
      val dist = scala.collection.mutable.Map[Long, Int](s -> 0)
      val sigma = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      sigma(s) = 1L
      val order = scala.collection.mutable.ArrayBuffer[Long]()
      var frontier = Seq(s)
      var d = 0
      while (frontier.nonEmpty) {
        order ++= frontier
        val next = scala.collection.mutable.LinkedHashSet.empty[Long]
        for (u <- frontier; v <- adj.getOrElse(u, Nil) if !dist.contains(v))
          next += v
        for (u <- frontier; v <- adj.getOrElse(u, Nil) if next.contains(v))
          sigma(v) += sigma(u)
        d += 1
        next.foreach(v => dist(v) = d)
        frontier = next.toSeq
      }
      val delta = scala.collection.mutable.Map.empty[Long, Double].withDefaultValue(0.0)
      for (v <- order.reverse; u <- adj.getOrElse(v, Nil)
           if dist.get(u).contains(dist(v) - 1))
        delta(u) += sigma(u).toDouble / sigma(v) * (1.0 + delta(v))
      for (v <- order if v != s) bc(v) += delta(v)
    }
    bc.map { case (k, v) => k -> v / 2.0 }.toMap.withDefaultValue(0.0)
  }

  test("closeness: exact distances on path/star, disconnection via harmonic") {
    import spark.implicits._
    import graft.operators.Centrality
    // path 1-2-3-4-5, sources 1 and 3
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    val c = Centrality.closeness(path, Seq(1L, 3L)).collect()
      .map(r => r.getAs[Long]("n") -> ((r.getAs[Long]("n_reached"),
        r.getAs[Long]("sum_dist"), r.getAs[Long]("ecc"),
        r.getAs[Double]("closeness"), r.getAs[Double]("harmonic")))).toMap
    // from 1: dists 1,2,3,4 → Σ=10, ecc 4, closeness 4/10; harmonic 1+½+⅓+¼
    assert(c(1L) == ((4L, 10L, 4L, 0.4, math.rint((1.0 + 0.5 + 1.0 / 3 + 0.25) * 1e6) / 1e6)))
    // from 3 (center): dists 1,1,2,2 → Σ=6, ecc 2; harmonic 3.0
    assert(c(3L) == ((4L, 6L, 2L, math.rint(4.0 / 6 * 1e6) / 1e6, 3.0)))
    // star hub sees everything at 1; a leaf sees the hub at 1, rest at 2
    val star = (2L to 6L).map(i => (1L, i)).toDF("a", "b")
    val cs = Centrality.closeness(star, Seq(1L, 2L)).collect()
      .map(r => r.getAs[Long]("n") ->
        ((r.getAs[Long]("n_reached"), r.getAs[Long]("sum_dist")))).toMap
    assert(cs(1L) == ((5L, 5L)) && cs(2L) == ((5L, 9L)))
    // two components: each source only reaches its own side — the
    // reached-component closeness never divides by an unreached vertex
    val disc = Seq((1L, 2L), (3L, 4L)).toDF("a", "b")
    val cd = Centrality.closeness(disc, Seq(1L, 3L)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cd == Map(1L -> 1L, 3L -> 1L))
    // maxDepth truncation is symmetric with the oracle's bound
    val far = Centrality.closeness(path, Seq(1L), maxDepth = 2)
      .head()
    assert(far.getLong(1) == 2L && far.getLong(2) == 3L)
  }

  test("closenessPacked ≡ closeness: bitmask MS-BFS matches row-per-source, incl. >64 waves") {
    import spark.implicits._
    import graft.operators.Centrality
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("n") -> ((r.getAs[Long]("n_reached"),
        r.getAs[Long]("sum_dist"), r.getAs[Long]("ecc"),
        r.getAs[Double]("closeness"), r.getAs[Double]("harmonic")))).toMap
    // a random-ish connected graph: ring of 80 + chords — 80 sources
    // forces two packed waves (64 + 16)
    val ring = (0L until 80L).map(i => (i, (i + 1) % 80)) ++
      (0L until 80L by 7).map(i => (i, (i + 13) % 80))
    val g = ring.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct.filter(e => e._1 != e._2).toDF("a", "b")
    val all = (0L until 80L)
    assert(asMap(Centrality.closenessPacked(g, all)) ==
      asMap(Centrality.closeness(g, all)))
    // the small fixtures, including disconnection and depth truncation
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    assert(asMap(Centrality.closenessPacked(path, Seq(1L, 3L))) ==
      asMap(Centrality.closeness(path, Seq(1L, 3L))))
    val disc = Seq((1L, 2L), (3L, 4L)).toDF("a", "b")
    assert(asMap(Centrality.closenessPacked(disc, Seq(1L, 3L))) ==
      asMap(Centrality.closeness(disc, Seq(1L, 3L))))
    assert(asMap(Centrality.closenessPacked(path, Seq(1L), maxDepth = 2)) ==
      asMap(Centrality.closeness(path, Seq(1L), maxDepth = 2)))
    // sources absent from the graph: both paths produce nothing
    assert(Centrality.closenessPacked(path, Seq(99L)).count() == 0L)
    // closenessAll with ALL vertices as pivots: on an undirected graph
    // distances are symmetric, so every vertex's (pivots_reached,
    // sum_dist) equals its own per-source closeness row — the
    // Eppstein–Wang estimator collapses to exact closeness
    val perSource = asMap(Centrality.closeness(g, all))
      .map { case (n, t) => n -> ((t._1, t._2)) }
    val allV = Centrality.closenessAll(g, all).collect()
      .map(r => r.getAs[Long]("n") ->
        ((r.getAs[Long]("pivots_reached"), r.getAs[Long]("sum_dist")))).toMap
    assert(allV == perSource)
  }

  test("betweenness: all-sources run equals sequential Brandes exactly") {
    import spark.implicits._
    import graft.operators.Centrality
    val graphs: Seq[Seq[(Long, Long)]] = Seq(
      Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)), // path: 3,4,3 interior
      (2L to 6L).map(i => (1L, i)), // star: hub C(5,2)=10, leaves 0
      (for { a <- 1L to 4L; b <- (a + 1) to 4L } yield (a, b)), // K4: all 0
      // bowtie + pendant — multiple shortest paths through the waist
      Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (3L, 5L), (4L, 5L), (1L, 6L)),
      // two components: σ never leaks across
      Seq((1L, 2L), (2L, 3L), (7L, 8L)))
    for (es <- graphs) {
      val ref = refBrandes(es)
      val vs = es.flatMap(e => Seq(e._1, e._2)).distinct.sorted
      val got = Centrality.betweenness(es.toDF("a", "b"), vs, Some(vs.size.toLong))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        .withDefaultValue(0.0)
      for (v <- vs)
        assert(math.abs(got(v) - ref(v)) < 1e-6, s"bc($v) on $es: ${got(v)} vs ${ref(v)}")
    }
    // sampled extrapolation: S={3} on the path scales by n/|S|/2 = 5/2
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    val one = Centrality.betweenness(path, Seq(3L), Some(5L)).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap.withDefaultValue(0.0)
    // δ_3(2) = δ_3(4) = 1+1 = 2? no: from 3, successors of 2 are {1}:
    // δ_3(2) = 1·(1+0) = 1 → bc estimate = 1 · 5/2 = 2.5; ends 0
    assert(one(2L) == 2.5 && one(4L) == 2.5 && one(1L) == 0.0 && one(3L) == 0.0)
    // a source absent from the graph expands nowhere → empty frame
    assert(Centrality.betweenness(path, Seq(99L), Some(5L)).count() == 0L)
  }

  test("randomWalks: deterministic, edge-respecting, salt-fresh") {
    import spark.implicits._
    import graft.operators.RandomWalks
    val g = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L)).toDF("a", "b")
    val adj = Map(1L -> Set(2L, 3L, 4L), 2L -> Set(1L, 3L),
      3L -> Set(1L, 2L, 4L), 4L -> Set(1L, 3L))
    val w1 = RandomWalks.randomWalks(g, "s1", 5).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // one walk per vertex, length+1 nodes, starting at the start
    assert(w1.keySet == adj.keySet)
    w1.foreach { case (start, walk) =>
      val hops = walk.split("->").map(_.toLong).toSeq
      assert(hops.length == 6 && hops.head == start)
      hops.sliding(2).foreach { case Seq(x, y) =>
        assert(adj(x).contains(y), s"non-edge $x->$y in $walk")
      }
    }
    // replayable: same salt is bit-identical; a new salt moves walks
    val w1b = RandomWalks.randomWalks(g, "s1", 5).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(w1 == w1b)
    val w2 = RandomWalks.randomWalks(g, "s2", 5).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(w1 != w2)
  }

  test("randomWalks: block boundary — a vertex wider than one block picks across blocks") {
    import spark.implicits._
    import graft.operators.RandomWalks
    // star hub with 1500 leaves (> BlockSize = 1024): the hub's
    // adjacency spans two blocks; every walk from the hub must land on
    // a real leaf (incl. picks addressing the second block), every
    // leaf-walk alternates leaf→hub→leaf
    val n = 1500L
    val star = (2L to (n + 1)).map(i => (1L, i)).toDF("a", "b")
    val w = RandomWalks.randomWalks(star, "blk", 2).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(w.size == n.toInt + 1)
    val hubHops = w(1L).split("->").map(_.toLong).toSeq
    assert(hubHops.head == 1L && hubHops(1) >= 2L && hubHops(1) <= n + 1
      && hubHops(2) == 1L, s"hub walk: ${w(1L)}")
    // across many salts the second block is actually reachable (picks
    // above 1024 occur): collect the hub's first hop under 8 salts
    val picks = (1 to 8).map { s =>
      RandomWalks.randomWalks(star, s"blk$s", 1)
        .filter(col("start") === 1L).head().getString(1)
        .split("->")(1).toLong
    }
    assert(picks.exists(_ > 1025L), s"no pick reached block 2: $picks")
    w.filterNot(_._1 == 1L).foreach { case (leaf, walk) =>
      assert(walk == s"$leaf->1->${walk.split("->")(2)}")
    }
  }

  test("node2vecWalks: deterministic, edge-respecting, p/q biases bind") {
    import spark.implicits._
    import graft.operators.RandomWalks
    val g = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L)).toDF("a", "b")
    val adj = Map(1L -> Set(2L, 3L, 4L), 2L -> Set(1L, 3L),
      3L -> Set(1L, 2L, 4L), 4L -> Set(1L, 3L))
    val w1 = RandomWalks.node2vecWalks(g, "s1", 5, 2L, 4L, 2L).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(w1.keySet == adj.keySet)
    w1.foreach { case (start, walk) =>
      val hops = walk.split("->").map(_.toLong).toSeq
      assert(hops.length == 6 && hops.head == start)
      hops.sliding(2).foreach { case Seq(x, y) =>
        assert(adj(x).contains(y), s"non-edge $x->$y in $walk")
      }
    }
    // replayable: same salt bit-identical, new salt moves
    assert(w1 == RandomWalks.node2vecWalks(g, "s1", 5, 2L, 4L, 2L).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap)
    assert(w1 != RandomWalks.node2vecWalks(g, "s2", 5, 2L, 4L, 2L).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap)
    // the RETURN bias binds: on the path 1-2-3 with an overwhelming
    // wReturn, every step ≥ 2 walks straight back — hops alternate.
    // (Deterministic: the fixed salt pins the hash; the non-return
    // range is 1 part in ~10⁶ of the cumulative span.)
    val path = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val back = RandomWalks.node2vecWalks(path, "s1", 4, 1000000L, 1L, 1L)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val hops1 = back(1L).split("->").map(_.toLong).toSeq
    assert(hops1 == Seq(1L, 2L, 1L, 2L, 1L), s"return bias: ${back(1L)}")
    // and the OUT bias binds: on the 4-cycle 1-2-3-4, step 2 from a
    // corner chooses between returning (prev) and the OPPOSITE corner
    // (distance 2 from prev → wOut) — a huge wOut forces the walk
    // onward around the cycle, never back
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("a", "b")
    val out = RandomWalks.node2vecWalks(cyc, "s1", 3, 1L, 1L, 1000000L)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    out.foreach { case (start, walk) =>
      val hops = walk.split("->").map(_.toLong).toSeq
      hops.sliding(3).foreach { case Seq(x, _, z) =>
        assert(x != z, s"out bias returned to $x in $walk")
      }
      assert(hops.length == 4 && hops.head == start)
    }
  }

  test("node2vecWalks: maxDeg cap — planted mega-hub completes, replayable, ≡ uncapped when slack") {
    import spark.implicits._
    import graft.operators.RandomWalks
    // hub 1 adjacent to EVERY leaf (deg 3000 ≫ maxDeg = 16): the r14
    // boundary scenario (BASELINE #74) — uncapped, every walk visiting
    // the hub expands 3000 candidate rows per step; capped, ≤ 16
    val n = 3000L
    val star = (2L to (n + 1)).map(i => (1L, i)).toDF("a", "b")
    val capped = RandomWalks.node2vecWalks(star, "cap1", 3, 2L, 4L, 2L, maxDeg = 16)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(capped.size == n.toInt + 1)
    capped.foreach { case (start, walk) =>
      val hops = walk.split("->").map(_.toLong).toSeq
      assert(hops.length == 4 && hops.head == start, s"truncated walk $walk")
      hops.sliding(2).foreach { case Seq(x, y) =>
        assert((x == 1L && y >= 2L && y <= n + 1) || (y == 1L && x >= 2L),
          s"non-edge $x->$y in $walk")
      }
    }
    // replayable: same salt bit-identical; a new salt moves BOTH the
    // subsample offsets and the picks
    assert(capped == RandomWalks
      .node2vecWalks(star, "cap1", 3, 2L, 4L, 2L, maxDeg = 16)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap)
    assert(capped != RandomWalks
      .node2vecWalks(star, "cap2", 3, 2L, 4L, 2L, maxDeg = 16)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap)
    // maxDeg = 1 (the floor): exactly one candidate per visit — the
    // walk degenerates to a deterministic stride pick but still
    // completes at full length
    val one = RandomWalks.node2vecWalks(star, "cap1", 3, 2L, 4L, 2L, maxDeg = 1)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(one.size == n.toInt + 1 &&
      one.values.forall(_.split("->").length == 4))
    // a cap with SLACK (maxDeg ≥ every degree) is bit-identical to the
    // uncapped operator: stride 1, offset 0, same candidates, same pick
    val g = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L)).toDF("a", "b")
    val un = RandomWalks.node2vecWalks(g, "s1", 5, 2L, 4L, 2L)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val slack = RandomWalks.node2vecWalks(g, "s1", 5, 2L, 4L, 2L, maxDeg = 100)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(un == slack)
  }

  test("HITS: mutual reinforcement ranks the shared authority and the big hub first") {
    import spark.implicits._
    import graft.operators.Hits
    // o1 → {p1, p2, p3}, o2 → {p1}: p1 is cited by both (top authority),
    // o1 cites the most (top hub); iteration reinforces both.
    val e = Seq((101L, 1L), (101L, 2L), (101L, 3L), (102L, 1L)).toDF("s", "d")
    val r = Hits.hits(e, 4).collect()
      .map(x => (x.getString(0), x.getLong(1)) -> x.getDouble(2)).toMap
    assert(r(("hub", 101L)) == 1.0 && r(("auth", 1L)) == 1.0)
    assert(r(("hub", 102L)) > 0.0 && r(("hub", 102L)) < 1.0)
    assert(r(("auth", 2L)) == r(("auth", 3L)) && r(("auth", 2L)) < 1.0)
    // L∞ normalization pins every score to (0, 1]
    assert(r.values.forall(v => v > 0.0 && v <= 1.0))
    // determinism: a rerun is value-identical (the grid doctrine)
    val r2 = Hits.hits(e, 4).collect()
      .map(x => (x.getString(0), x.getLong(1)) -> x.getDouble(2)).toMap
    assert(r == r2)
    // top-k cut: k=1 keeps exactly the two leaders, ties by id
    val top = Hits.hitsTop(e, 4, 1).collect()
      .map(x => (x.getString(0), x.getLong(1))).toSet
    assert(top == Set(("hub", 101L), ("auth", 1L)))
    // empty graph: empty result with the schema intact, no NPE on the
    // normalization max
    val none = Hits.hits(Seq.empty[(Long, Long)].toDF("s", "d"), 4)
    assert(none.count() == 0L &&
      none.columns.toSeq == Seq("kind", "n", "score"))
  }

  test("one round core: probe layouts and observed checkpoints live in operators/Rounds") {
    import scala.jdk.CollectionConverters._
    val list = java.nio.file.Files.list(
      java.nio.file.Paths.get("src/main/scala/graft/operators"))
    val code = try list.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "Rounds.scala")
      .flatMap(p => java.nio.file.Files.readAllLines(p).asScala
        .map(_.split("//")(0).trim)
        .filterNot(l => l.startsWith("*") || l.startsWith("/**"))
        .map(l => p.getFileName.toString -> l))
      .toList
    finally list.close()
    val found = code.filter { case (_, l) =>
      Seq("Observation(", "repartition(", "sortWithinPartitions(").exists(l.contains)
    }
    // the two sorts that are not probe layouts: the walk adjacency is
    // already partitioned by u by its window, and the node2vec edge
    // marker is sorted on its (prev, candidate) key pair
    val exempt = Set(
      "RandomWalks.scala" -> """.sortWithinPartitions(col("u"))""",
      "RandomWalks.scala" -> """.sortWithinPartitions(col("__mu"), col("__mw"))""")
    assert(found.toSet == exempt, found.mkString("\n"))
  }

  test("one traversal core: edge orientation and the BFS loop live in query/PropertyGraph") {
    import scala.jdk.CollectionConverters._
    def sources(dir: String): List[(String, Seq[String])] = {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
        .map(p => p.getFileName.toString ->
          java.nio.file.Files.readAllLines(p).asScala.toSeq)
      finally walk.close()
    }
    // the out/in/both → (src, dst) orientation is one match, in oriented()
    val orientations = Seq("src/main/scala/graft/query", "src/main/scala/graft/graphx")
      .flatMap(sources)
      .map { case (f, ls) => f -> ls.count(_.contains("case \"both\" =>")) }
      .filter(_._2 > 0)
    assert(orientations == Seq("PropertyGraph.scala" -> 1), orientations.mkString("\n"))
    // the three BFS loops and the label-free hop twins are merged away
    val gone = sources("src/main").flatMap { case (f, ls) =>
      ls.filter(l => Seq("traverseUnbounded", "traversePaths", "hopAny").exists(l.contains))
        .map(l => s"$f: $l")
    }
    assert(gone.isEmpty, gone.mkString("\n"))
  }

  test("Rounds.probed: same rows on both sides of the threshold, hash-partitioned on the key above it") {
    import spark.implicits._
    import graft.operators.Rounds
    val df = spark.range(0, 200).select(($"id" % 17).as("k"), $"id".as("v"))
    def rows(x: org.apache.spark.sql.DataFrame) =
      x.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // the physical layout of the checkpoint: every key in ONE partition
    // and each partition sorted on the key (the planner is not told —
    // under AQE the checkpoint reports UnknownPartitioning)
    def laidOut(x: org.apache.spark.sql.DataFrame): Boolean = {
      val parts = x.rdd.mapPartitionsWithIndex((i, it) =>
        Iterator(i -> it.map(_.getLong(0)).toVector)).collect()
      parts.forall { case (_, ks) => ks == ks.sorted } &&
        parts.flatMap { case (i, ks) => ks.distinct.map(_ -> i) }
          .groupBy(_._1).values.forall(_.length == 1)
    }
    val below = Rounds.probed(df, "k", minRows = 201) // 200 rows < 201
    val at = Rounds.probed(df, "k", minRows = 200)
    val always = Rounds.probed(df, "k")
    val told = Rounds.probed(df, "k", minRows = 201, rows = Some(201L))
    for (x <- Seq(below, at, always, told)) assert(rows(x) == rows(df))
    assert(!laidOut(below))
    assert(laidOut(at) && laidOut(always) && laidOut(told))
    // below the threshold a checkpoint is already in its input layout
    val cp = df.localCheckpoint(true)
    assert(Rounds.probed(cp, "k", minRows = 1000) eq cp)
  }

  test("FrameCache: a regenerated source releases the superseded checkpoint of every kind") {
    import graft.queries.Qh.FrameCache
    import org.apache.spark.sql.execution.LogicalRDD
    // sources are fingerprinted files (mtime__size): regenerating one
    // with a different size re-keys it
    val dir = java.nio.file.Files.createTempDirectory("frame-cache-spec")
    def write(name: String, bytes: Int): String = {
      val p = dir.resolve(name)
      java.nio.file.Files.write(p, Array.fill[Byte](bytes)(1))
      p.toString
    }
    val src = write("lineitem.parquet", 10)
    val twin = write("documents.parquet", 10) // a second source, same dir
    val elsewhere = java.nio.file.Files.createTempDirectory("frame-cache-other")
      .resolve("lineitem.parquet")
    java.nio.file.Files.write(elsewhere, Array.fill[Byte](10)(1))
    def cp(n: Int) = spark.range(n).toDF("x").localCheckpoint(true)
    def pinned(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd.id }
        .forall(spark.sparkContext.getPersistentRDDs.contains)
    val a = FrameCache.frame("kind-a", src)(cp(10))
    val waves = FrameCache.frames("bfs-wave:40:1,2", src)(Seq(cp(5), cp(6)))
    val other = FrameCache.frame("kind-a", elsewhere.toString)(cp(7))
    val sibling = FrameCache.frame("kind-t", twin)(cp(8))
    assert(FrameCache.value("srcs", src)(1) == 1)
    assert(FrameCache.value("model", twin)("m1") == "m1")
    assert((a +: other +: sibling +: waves).forall(pinned))
    // same fingerprint: reused, never rebuilt
    assert(FrameCache.frame("kind-a", src)(fail("rebuilt")) eq a)
    // the source regenerates; a kind no old entry has is requested
    write("lineitem.parquet", 20)
    val fresh = FrameCache.frame("kind-b", src)(cp(3))
    assert(pinned(fresh) && pinned(other))
    assert(!pinned(a) && !waves.exists(pinned))
    assert(FrameCache.value("srcs", src)(2) == 2)
    // a second source in the same directory keeps its entries…
    assert(pinned(sibling))
    assert(FrameCache.frame("kind-t", twin)(fail("rebuilt")) eq sibling)
    assert(FrameCache.value[String]("model", twin)(fail("retrained")) == "m1")
    // …until IT regenerates, which drops only its own
    write("documents.parquet", 20)
    val sibling2 = FrameCache.frame("kind-t", twin)(cp(9))
    assert(!pinned(sibling) && pinned(sibling2) && pinned(fresh))
    assert(FrameCache.value("model", twin)("m2") == "m2")
    assert(FrameCache.frame("kind-b", src)(fail("rebuilt")) eq fresh)
  }
}
