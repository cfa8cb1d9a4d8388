package graft.cli

import org.apache.spark.sql.SparkSession
import graft.load.{Checksum, GraphLoader}

/** CLI dispatch (SURVEY §2.A A19/A20): the reference's picocli surface
  * (`CmdArgs.java:7-24`, dispatch `ArcadeDBServer.java:34-45`) maps to
  * three commands with the same precedence semantics
  * (create-serve > serve > create):
  *
  *   create <sfDir> <outDir>   build the graph store (≈ --create)
  *   serve  <outDir>           register per-label views on the built
  *                             store and keep the session available
  *                             (≈ --start; queries arrive via the
  *                             SparkSession / Connect / SQL, not HTTP —
  *                             the serving protocol is out of analytic
  *                             scope, SURVEY §7 step 5)
  *   create-serve <sfDir> <outDir>   both (≈ --create-start)
  *
  * `create` is checksum-gated like the reference (A17): a fresh store
  * whose recorded input hash matches is not rebuilt; serving a stale
  * store prints the same kind of warning as `ArcadeDBServer.java:98-99`.
  */
object Main {

  def session(): SparkSession = graft.SparkEntry.builder()
    // FAIR scheduling: the HTTP endpoint assigns one pool per request
    // thread so concurrent queries interleave instead of queueing FIFO
    .config("spark.scheduler.mode", "FAIR")
    // min/max/count aggregates over unfiltered parquet resolve from
    // footer statistics (makes the A13 keyspace-guard max() scans
    // metadata-only, as GraphLoader.assertDisjointIds documents)
    .config("spark.sql.parquet.aggregatePushDown", "true")
    .getOrCreate()

  def create(spark: SparkSession, sfDir: String, outDir: String): Unit = {
    val ck = java.nio.file.Paths.get(s"$outDir/checksum.txt")
    if (Checksum.isFresh(ck, java.nio.file.Paths.get(sfDir))) {
      println(s"[graft] store at $outDir is up to date (checksum match); skipping rebuild")
    } else {
      GraphLoader.writeGraph(spark, sfDir, outDir)
      println(s"[graft] built graph store at $outDir")
    }
  }

  /** Register per-label temp views (the catalog surface of §2.B.1 type
    * scans): `nodes_<Label>` / `edges_<Label>` plus the raw frames.
    * Returns the served graph (for the GraphQL endpoint). */
  def serve(spark: SparkSession, outDir: String,
      sfDir: Option[String]): graft.query.PropertyGraph = {
    sfDir.foreach { d =>
      val ck = java.nio.file.Paths.get(s"$outDir/checksum.txt")
      if (!Checksum.isFresh(ck, java.nio.file.Paths.get(d)))
        System.err.println(s"[graft] WARNING: store at $outDir is out of date with $d — rebuild with 'create'")
    }
    val gs = graft.model.GraphSchema.fromJson(
      java.nio.file.Files.readString(java.nio.file.Paths.get(s"$outDir/schema.json")))
    // one consistent snapshot: entity unions widened with declared-but-
    // unstored columns (runtime-DDL properties read as nulls before the
    // first row carries them) + the full-text postings provider
    val g = graft.load.GraphLoader.openGraph(spark, outDir)
    g.nodes.createOrReplaceTempView("nodes")
    g.edges.createOrReplaceTempView("edges")
    gs.nodeLabels.foreach(l => g.nodes.filter(g.nodes("label") === l)
      .createOrReplaceTempView(s"nodes_$l"))
    gs.edgeLabels.foreach(l => g.edges.filter(g.edges("label") === l)
      .createOrReplaceTempView(s"edges_$l"))
    println(s"[graft] serving ${gs.nodeLabels.size} node labels and " +
      s"${gs.edgeLabels.size} edge labels from $outDir as temp views")
    g
  }

  /** `serve`/`create-serve` with a port argument starts the HTTP/JSON
    * endpoint (the reference's `--start`, `ArcadeDBService.java:58`)
    * and blocks until killed. */
  private def serveHttp(spark: SparkSession, outDir: String, sfDir: Option[String],
      port: Int): Unit = {
    val g = serve(spark, outDir, sfDir)
    val gs = graft.model.GraphSchema.fromJson(
      java.nio.file.Files.readString(java.nio.file.Paths.get(s"$outDir/schema.json")))
    // A21 parity: bootstrap role-based accounts before serving (the
    // reference creates its user with an encoded password and grants,
    // ArcadeDBService.java:93-105). users.json beside the store holds
    // (name, sha-256 token hash, role ∈ {read, admin}); first start
    // generates an admin account and prints its token ONCE — only the
    // hash persists. Add read-only accounts by editing the file.
    val (accounts, freshToken) =
      graft.server.Users.bootstrap(java.nio.file.Paths.get(s"$outDir/users.json"))
    freshToken.foreach(t =>
      println(s"[graft] created admin account — bearer token (shown once): $t"))
    val started = graft.server.QueryServer.start(spark, port, Some(g),
      Some(graft.server.QueryServer.StoreContext(outDir, () => serve(spark, outDir, None))),
      schema = gs, users = accounts,
      poolSize = sys.env.get("GRAFT_HTTP_POOL").flatMap(_.toIntOption).getOrElse(8),
      // per-query budget (seconds); 0 disables. A runaway analytical
      // query is cancelled at the job-group level, freeing its cores.
      queryTimeoutSec = sys.env.get("GRAFT_HTTP_QUERY_TIMEOUT_SEC")
        .map(_.toInt).orElse(Some(300)).filter(_ > 0))
    println(s"[graft] HTTP endpoint on port ${started.port}: " +
      "POST /api/v1/query/graft (reads), /api/v1/command/graft (DML)")
    val lock = new Object
    lock.synchronized { lock.wait() } // serve until the process is killed
  }

  /** The `epoch` command body (see [[main]]): build-or-roll the
    * refresh epoch authorities for a stored document label on the
    * maintenance cadence. Returns whether a rebuild happened. */
  def epoch(spark: SparkSession, outDir: String, label: String,
      textProp: String, langProp: String, cacheRoot: String): Boolean = {
    val (_, rebuilt) = graft.llmops.Refresh.storeEpoch(
      spark, outDir, cacheRoot, label, textProp, langProp,
      // permissive defaults — the CLI cadence trigger must not
      // surprise-drop documents; pipelines with real gates pass
      // their own rules through the library entry (storeEpoch)
      graft.llmops.Pipeline.GateRules(minTokens = 1, maxTokens = Int.MaxValue,
        minStopRatio = 0.0, minTtr = 0.0, maxDupTrigram = 1.0))
    println(if (rebuilt)
      s"[graft] rebuilt epoch authorities for $label under $cacheRoot"
    else
      s"[graft] epoch authorities for $label are fresh (manifest unchanged); opened")
    rebuilt
  }

  private object Port {
    def unapply(s: String): Option[Int] = s.toIntOption
  }

  def main(args: Array[String]): Unit = {
    val spark = session()
    spark.sparkContext.setLogLevel("WARN")
    args.toList match {
      case "create" :: sfDir :: outDir :: Nil => create(spark, sfDir, outDir)
      case "compact" :: outDir :: Nil =>
        val n = GraphLoader.compactStore(spark, outDir)
        println(s"[graft] compacted $n fragmented label partition(s) in $outDir")
      // epoch <storeDir> <docLabel> <textProp> <langProp> <cacheRoot>:
      // the refresh family's maintenance-cadence trigger — rebuild the
      // epoch authorities when the store's manifest moved (tombstoned
      // authorities resolve), open them when it didn't. Run it beside
      // `compact` on the same cadence.
      case "epoch" :: outDir :: label :: textProp :: langProp :: cacheRoot :: Nil =>
        epoch(spark, outDir, label, textProp, langProp, cacheRoot)
      // import <exportTree> <outDir>: rebuild a store from an
      // EXPORT DATABASE interchange tree (validated bulk-load path)
      case "import" :: srcDir :: outDir :: Nil =>
        val nRec = GraphLoader.importJson(spark, srcDir, outDir)
        println(s"[graft] imported $nRec record(s) from $srcDir into $outDir")
      case "serve" :: outDir :: Nil => serve(spark, outDir, None)
      case "serve" :: outDir :: Port(p) :: Nil => serveHttp(spark, outDir, None, p)
      case "create-serve" :: sfDir :: outDir :: Nil =>
        create(spark, sfDir, outDir); serve(spark, outDir, Some(sfDir))
      case "create-serve" :: sfDir :: outDir :: Port(p) :: Nil =>
        create(spark, sfDir, outDir); serveHttp(spark, outDir, Some(sfDir), p)
      case _ =>
        System.err.println("usage: create <sfDir> <outDir> | compact <outDir> | import <exportTree> <outDir> | serve <outDir> [port] | create-serve <sfDir> <outDir> [port]")
        sys.exit(2)
    }
    spark.stop()
  }
}
