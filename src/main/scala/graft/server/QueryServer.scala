package graft.server

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, struct, to_json}
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.model.GraphSchema
import graft.query.{ArcadeSql, GraphQl, PropertyGraph}

/** HTTP/JSON query endpoint — the reference's serving surface
  * (`ArcadeDBService.java:58` `server.start()`, port config `:87`;
  * SURVEY §3.2 `POST /api/v1/query/{db}` with body
  * `{"language": …, "command": …}`). Spark-native form: the command is
  * compiled to a DataFrame (`spark.sql` for SQL over the served views,
  * [[GraphQl.compile]] for GraphQL — the reference's two query
  * languages) and streamed back as JSON rows.
  *
  * The server is a thin driver-side shell: ALL query execution stays
  * distributed (the only driver materialization is the response page,
  * bounded by `limit` — default 1000, like the reference's serverside
  * result cap). The page is part of the query's own plan: rows are
  * serialized to JSON strings by a projection under the limit, so a
  * read is one collect-limit job (a top-k under ORDER BY), and every
  * request's jobs carry the job group `graft-http-N`. Served graphs
  * opened from a store carry its observed edge endpoints, so a hop
  * scans only the vertex labels it can land on
  * ([[graft.query.PropertyGraph.reach]]). Uses the JDK's built-in
  * HttpServer: no new dependency, and the endpoint is driver-singleton
  * anyway (result paging, not dataplane, exactly like the reference's
  * embedded HTTP server).
  *
  * Response shape mirrors the reference: `{"result": [ {row}, … ]}` on
  * 200, `{"error": msg}` on 4xx/5xx.
  */
object QueryServer {

  val DefaultLimit = 1000
  val MaxLimit = 100000

  final case class Started(server: HttpServer, port: Int,
      pool: java.util.concurrent.ExecutorService,
      scheduler: java.util.concurrent.ScheduledExecutorService,
      leasedDir: Option[String] = None) {
    def stop(): Unit = {
      server.stop(0); pool.shutdownNow(); scheduler.shutdownNow()
      leasedDir.foreach(graft.load.ServingLease.release)
    }
  }

  /** Raised when a query exceeds the configured budget — mapped to
    * HTTP 408 rather than a 500. */
  final class QueryTimeout(seconds: Int)
    extends RuntimeException(s"query exceeded the ${seconds}s budget and was cancelled")

  /** Store binding for the DML route: where the persisted graph lives
    * and how to re-register the served views after a write (parquet
    * DataFrames snapshot their file listing, so appended files are
    * invisible to the old frames). */
  final case class StoreContext(dir: String, reload: () => PropertyGraph)

  /** A19 port validation: the reference validates its port argument the
    * same way before binding. */
  def validatePort(port: Int): Int = {
    require(port >= 0 && port <= 65535, s"port out of range: $port")
    port
  }

  /** Start serving. `port` 0 binds an ephemeral port (tests);
    * `graph` enables `language: "graphql"` and the ArcadeDB SQL
    * dialect; `store` enables the DML command route; `schema` anchors
    * dialect compilation (label catalog — defaults to the engine's
    * declared registry). */
  def start(spark: SparkSession, port: Int,
      graph: Option[PropertyGraph] = None,
      store: Option[StoreContext] = None,
      schema: GraphSchema = graft.load.GraphLoader.schema,
      auth: Option[String] = None,
      users: Seq[ServerUser] = Nil,
      poolSize: Int = 8,
      queryTimeoutSec: Option[Int] = None): Started = {
    // account registry: explicit users plus the legacy single-token
    // form (an admin named root, like the reference's bootstrap user)
    val accounts: Seq[ServerUser] =
      users ++ auth.map(t => ServerUser("root", Users.sha256Hex(t), "admin"))
    // serving lease (Store scaladoc): held for the server's lifetime so
    // no OTHER process's sweep can GC generations our readers pin
    store.foreach(ctx => graft.load.ServingLease.acquire(ctx.dir))
    val server = HttpServer.create(new InetSocketAddress(validatePort(port)), 0)
    val reqCounter = new java.util.concurrent.atomic.AtomicLong
    val scheduler = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
      (r: Runnable) => { val t = new Thread(r, "graft-http-timeout"); t.setDaemon(true); t })
    // Generation-pinned snapshot isolation (Store scaladoc): each
    // served snapshot pins the store generations its frames reference,
    // so DML — which commits NEW generations and never touches old
    // files — proceeds without waiting on readers, and an in-flight
    // read keeps scanning the generation its plan listed. A retired
    // snapshot unpins once its last read finishes; the sweep then
    // deletes superseded, unpinned generations. (Round 5's global
    // reader-writer lock made a label rewrite stall every read for the
    // rewrite's whole duration — minutes of read unavailability per
    // single-row UPDATE at 100 TB.)
    final class Snapshot(val graph: Option[PropertyGraph], val gschema: GraphSchema,
        val genPaths: Seq[String]) {
      val activeReads = new java.util.concurrent.atomic.AtomicInteger
    }
    // runtime DDL mutates the persisted registry, so each snapshot
    // re-reads it — the dialect compiles new types without a restart
    def storeSchema(): GraphSchema = store.flatMap { ctx =>
      val p = java.nio.file.Paths.get(s"${ctx.dir}/schema.json")
      if (java.nio.file.Files.exists(p))
        Some(GraphSchema.fromJson(java.nio.file.Files.readString(p)))
      else None
    }.getOrElse(schema)
    @volatile var current = new Snapshot(graph, storeSchema(), store.toSeq.flatMap { ctx =>
      if (java.nio.file.Files.exists(graft.load.Store.manifestPath(ctx.dir)))
        graft.load.Store.currentGenPaths(ctx.dir)
      else Nil
    })
    graft.load.GenerationPins.pin(current.genPaths)
    val retired = new java.util.concurrent.ConcurrentLinkedQueue[Snapshot]()
    val writeMutex = new Object
    val sweepMutex = new Object
    // serialized: two concurrent completions must not both release the
    // same retired snapshot (a double-unpin would strip a pin another
    // still-active snapshot holds on the same generation)
    def maybeSweep(): Unit = {
      val released = sweepMutex.synchronized {
        var any = false
        val it = retired.iterator()
        while (it.hasNext) {
          val s = it.next()
          if (s.activeReads.get() == 0) {
            it.remove()
            graft.load.GenerationPins.unpin(s.genPaths)
            any = true
          }
        }
        any
      }
      if (released) store.foreach(ctx => graft.load.Store.sweep(ctx.dir))
    }
    def withRead[T](f: Snapshot => T): T = {
      // pin-then-verify: if the snapshot was swapped out between the
      // volatile read and the increment, the sweeper may already have
      // counted it idle — drop the stale claim and take the new
      // snapshot (the increment-before-eq-check ordering makes the
      // settled claim race-free: a snapshot retired AFTER the check
      // sees our count)
      var snap = current
      snap.activeReads.incrementAndGet()
      while (!(snap eq current)) {
        snap.activeReads.decrementAndGet()
        snap = current
        snap.activeReads.incrementAndGet()
      }
      try f(snap)
      finally { snap.activeReads.decrementAndGet(); maybeSweep() }
    }

    /** A21 parity (`ArcadeDBService.java:93-105` bootstraps a
      * credentialed user with per-database grants before serving):
      * with accounts configured, query+command routes require
      * `Authorization: Bearer <token>` or HTTP Basic with the token as
      * password; the resolved account's role gates DML. Probes
      * (`/ready`, `/databases`) stay open, like the reference's
      * readiness check. Token comparison is constant-time
      * ([[Users.authenticate]]). */
    def authorized(ex: HttpExchange): Option[ServerUser] =
      if (accounts.isEmpty) Some(ServerUser("anonymous", "", "admin"))
      else Option(ex.getRequestHeaders.getFirst("Authorization")).flatMap { v =>
        if (v.startsWith("Bearer "))
          Users.authenticate(accounts, None, v.stripPrefix("Bearer ").trim)
        else if (v.startsWith("Basic ")) try {
          new String(java.util.Base64.getDecoder.decode(v.stripPrefix("Basic ").trim),
            StandardCharsets.UTF_8).split(":", 2) match {
            case Array(n, p) => Users.authenticate(accounts, Some(n).filter(_.nonEmpty), p)
            case _ => None
          }
        } catch { case _: IllegalArgumentException => None }
        else None
      }

    server.createContext("/api/v1/ready", (ex: HttpExchange) => {
      ex.sendResponseHeaders(204, -1); ex.close()
    })

    // Studio-parity console (the reference opens a browser UI at "/",
    // `ArcadeDBService.java:285-293`): one static dependency-free page
    // that drives the JSON API — query box, language picker, result
    // table. Served open like /ready; every query it issues goes
    // through the authenticated /api/v1 routes.
    server.createContext("/", (ex: HttpExchange) =>
      if (ex.getRequestURI.getPath != "/") respond(ex, 404, err("not found"))
      else {
        val bytes = StudioHtml.getBytes(StandardCharsets.UTF_8)
        ex.getResponseHeaders.set("Content-Type", "text/html; charset=utf-8")
        ex.sendResponseHeaders(200, bytes.length)
        val os = ex.getResponseBody
        os.write(bytes); os.close()
      })

    // reference parity: GET /api/v1/databases lists served databases
    // (one logical database per server, like the shim's one workspace)
    server.createContext("/api/v1/databases", (ex: HttpExchange) =>
      respond(ex, 200, """{"result":["graft"]}"""))

    // schema browsing (Studio parity: the reference UI lists types,
    // properties, indexes): the served snapshot's registry as JSON —
    // authenticated like any read
    server.createContext("/api/v1/schema", (ex: HttpExchange) =>
      handle(ex, allowGet = true)(withRead(snap => snap.gschema.toJson)))

    def parsed(body: String): (String, String, Int) = {
      val j = JsonMethods.parse(body)
      val language = j \ "language" match {
        case JString(l) => l.toLowerCase
        case JNothing => "sql"
        case other => throw new IllegalArgumentException(s"bad language: $other")
      }
      val command = j \ "command" match {
        case JString(c) => c
        case _ => throw new IllegalArgumentException("missing 'command'")
      }
      val limit = j \ "limit" match {
        case JInt(n) => math.min(n.toInt, MaxLimit)
        case JNothing => DefaultLimit
        case other => throw new IllegalArgumentException(s"bad limit: $other")
      }
      (language, command, limit)
    }

    // the stock GraphQL calling convention sends `{query, variables}`;
    // values decode to the same scalar/flat-object domain as inline
    // literals (arrays refused loudly — no argument takes one)
    def parsedVariables(body: String): Map[String, Any] = {
      def jAny(v: JValue): Any = v match {
        case JString(s) => s
        case JInt(n) => n.toLong
        case JLong(n) => n
        case JDouble(d) => d
        case JDecimal(d) => d.toDouble
        case JBool(b) => b
        case JNull => null
        case JObject(fs) => fs.map { case (k, vv) => k -> jAny(vv) }.toMap
        case other => throw new IllegalArgumentException(
          s"unsupported variable value: $other")
      }
      JsonMethods.parse(body) \ "variables" match {
        case JNothing | JNull => Map.empty
        case JObject(fs) => fs.map { case (k, v) => k -> jAny(v) }.toMap
        case other => throw new IllegalArgumentException(
          s"'variables' must be an object, got $other")
      }
    }

    def handle(ex: HttpExchange, allowGet: Boolean = false,
        requireAdmin: Boolean = false)(f: => String): Unit =
      try {
        val m = ex.getRequestMethod
        val user = authorized(ex)
        if (user.isEmpty) {
          ex.getResponseHeaders.set("WWW-Authenticate", "Bearer")
          respond(ex, 401, err("unauthorized"))
        }
        else if (requireAdmin && !user.get.isAdmin)
          respond(ex, 403, err(s"forbidden: '${user.get.name}' has role " +
            s"'${user.get.role}' — DML requires admin"))
        else if (m != "POST" && !(allowGet && m == "GET")) respond(ex, 405, err("use POST"))
        else {
          // one FAIR pool per request thread: concurrent analytical
          // queries interleave their Spark stages instead of queueing
          // FIFO behind the first (needs spark.scheduler.mode=FAIR on
          // the session, set by the CLI serve path; a no-op under FIFO)
          spark.sparkContext.setLocalProperty("spark.scheduler.pool",
            s"http-${Thread.currentThread().getId}")
          try respond(ex, 200, f)
          finally spark.sparkContext.setLocalProperty("spark.scheduler.pool", null)
        }
      } catch {
        case e: IllegalArgumentException => respond(ex, 400, err(e.getMessage))
        case e: org.apache.spark.sql.AnalysisException => respond(ex, 400, err(e.getMessage))
        case e: QueryTimeout => respond(ex, 408, err(e.getMessage))
        case e: Throwable => respond(ex, 500, err(e.toString))
      }

    def runQuery(snap: Snapshot, language: String, command0: String, limit: Int,
        inSession: Boolean = false,
        vars: Map[String, Any] = Map.empty): String = {
      def graphOr: PropertyGraph = snap.graph.getOrElse(
        throw new IllegalStateException("no graph served — start with a store"))
      // in-session reads serve the session's STAGED graph; the Spark SQL
      // fallback reads pre-registered views of the COMMITTED snapshot,
      // which would silently violate read-your-writes — reject loudly
      def noSparkSql(): Nothing = throw new IllegalArgumentException(
        "in-session reads serve the session's staged store graph through the " +
          "dialect (or GraphQL); Spark SQL views reflect only the committed " +
          "snapshot — use dialect syntax, or commit first")
      // reference parity: `EXPLAIN <query>` returns the execution plan
      // instead of rows — here Spark's formatted physical plan, the
      // honest answer for a Catalyst-backed engine
      val explain = command0.trim.toUpperCase.startsWith("EXPLAIN ")
      // `PROFILE <query>` — ArcadeDB pairs EXPLAIN with PROFILE (the
      // executed plan + per-step stats); here: run the query to
      // completion and serialize the EXECUTED physical plan with every
      // node's SQL metric values (rows, spill, build/probe times — the
      // Catalyst-honest per-step stats)
      val profile = command0.trim.toUpperCase.startsWith("PROFILE ")
      val command =
        if (explain) command0.trim.drop("EXPLAIN ".length)
        else if (profile) command0.trim.drop("PROFILE ".length)
        else command0
      // GraphQL introspection (`__schema`/`__type`): the client
      // handshake answers straight from the schema registry as a
      // spec-shaped `{"data": …}` response (what stock clients parse)
      // — no DataFrame, no paging. Hop relations type concretely via
      // the served graph's observed edge endpoints (the snapshot's own
      // manifest: in a session, the staged one), when it has them.
      if (language == "graphql" && GraphQl.isIntrospection(command)) {
        val eps: String => Option[(Set[String], Set[String])] =
          snap.graph.map(_.edgeEndpoints).getOrElse(_ => None)
        return GraphQl.introspect(snap.gschema, command, eps)
      }
      val df: DataFrame = language match {
        // reference parity: "sql" is ArcadeDB SQL. Dialect-anchored
        // commands (FROM a known label / TRAVERSE / MATCH) compile via
        // ArcadeSql; anything else falls through to Spark SQL over the
        // served views — a richer superset the dialect doesn't cover.
        case "sql" if snap.graph.nonEmpty && ArcadeSql.looksLikeDialect(snap.gschema, command) =>
          ArcadeSql.compile(graphOr, snap.gschema, command)
        case "sql" if inSession => noSparkSql()
        case "sql" => spark.sql(command)
        case "arcadesql" | "arcade" => ArcadeSql.compile(graphOr, snap.gschema, command)
        case "sparksql" if inSession => noSparkSql()
        case "sparksql" => spark.sql(command)
        case "graphql" => GraphQl.compile(graphOr, command, vars)
        case l => throw new IllegalArgumentException(s"unsupported language: $l")
      }
      if (explain) {
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        val esc = plan.flatMap {
          case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
          case '\r' => ""; case '\t' => "\\t"
          case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
        }
        return s"""{"result":[{"plan":"$esc"}]}"""
      }
      // the page is built inside the plan: rows serialize to JSON on
      // the executors (to_json over the whole row, the generator and
      // options Dataset.toJSON uses, so null fields are still omitted)
      // and the limit sits ABOVE that projection, so Spark plans one
      // CollectLimit job, and ORDER BY … LIMIT stays a top-k
      // (TakeOrderedAndProject). `df.limit(n).toJSON` put a typed
      // MapPartitions above the limit, which planned a GlobalLimit
      // behind a single-partition shuffle: one more job per read.
      def page(): String =
        if (profile) profiled()
        else df.select(to_json(struct(col("*")))).limit(limit).collect()
          .map(_.getString(0)).mkString("{\"result\":[", ",", "]}")
      // PROFILE body: execute to completion DISTRIBUTED (toRdd + count —
      // no driver collect; the metrics must cover the real
      // cardinalities, so the page limit does not apply), then walk the
      // executed plan serializing each node's SQL metric values. AQE
      // wrappers unwrap to their final plan (isFinalPlan by then).
      def profiled(): String = {
        val rows = df.queryExecution.toRdd.count()
        def esc(s: String) = s.flatMap {
          case '"' => "\\\""; case '\\' => "\\\\"
          case c if c < ' ' => ""; case c => c.toString
        }
        def node(p: org.apache.spark.sql.execution.SparkPlan): String = {
          // AQE wraps the real operators twice: the adaptive root holds
          // the final plan, and each materialized stage (Result/
          // Shuffle/BroadcastQueryStage) holds its stage plan — unwrap
          // both or the profile tree is a metric-less shell
          @annotation.tailrec
          def unwrap(q: org.apache.spark.sql.execution.SparkPlan): org.apache.spark.sql.execution.SparkPlan = q match {
            case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
              unwrap(a.executedPlan)
            case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
              unwrap(s.plan)
            case x => x
          }
          val real = unwrap(p)
          val ms = real.metrics.toSeq.sortBy(_._1)
            .map { case (k, m) => s""""${esc(k)}":${m.value}""" }.mkString(",")
          s"""{"node":"${esc(real.nodeName)}","metrics":{$ms},""" +
            s""""children":[${real.children.map(node).mkString(",")}]}"""
        }
        s"""{"result":[{"rows":$rows,"profile":${node(df.queryExecution.executedPlan)}}]}"""
      }
      // every request's Spark jobs run under their own job group, so a
      // job listener or an event log can attribute them. With a query
      // budget the group is interrupt-on-cancel and a scheduler cancels
      // it when the budget lapses, freeing the pool thread AND the
      // executor cores — a runaway query can't pin the server
      val gid = s"graft-http-${reqCounter.incrementAndGet()}"
      spark.sparkContext.setJobGroup(gid,
        "http query" + queryTimeoutSec.fold("")(b => s" ($b s budget)"),
        interruptOnCancel = queryTimeoutSec.nonEmpty)
      val killer = queryTimeoutSec.map(budget => scheduler.schedule(new Runnable {
        def run(): Unit = spark.sparkContext.cancelJobGroup(gid)
      }, budget.toLong, java.util.concurrent.TimeUnit.SECONDS))
      try page()
      catch {
        case e: Throwable if queryTimeoutSec.nonEmpty &&
            (String.valueOf(e.getMessage).contains("cancelled") ||
              e.isInstanceOf[InterruptedException]) =>
          throw new QueryTimeout(queryTimeoutSec.get)
      } finally {
        killer.foreach(_.cancel(false))
        spark.sparkContext.clearJobGroup()
      }
    }

    // ---- session transactions (the reference's begin/commit/rollback
    // routes [dep]): a session id binds requests to ONE StoreTxn, so a
    // driver can stage DML across any number of requests and publish
    // them as one atomic manifest swap. Concurrency is OPTIMISTIC
    // (ArcadeDB's MVCC posture): the txn records the manifest seq it
    // began from, and a staged statement or the commit finding the
    // store advanced past it aborts with a conflict — a session never
    // holds the store lock between requests, so it can never pin other
    // writers while idle. An idle session is reaped (aborted) after
    // `graft.txnIdleSec` (default 300) so an abandoned driver cannot
    // accumulate staged generations forever.
    final class TxnSession(val id: String, val txn: graft.load.StoreTxn) {
      val lock = new java.util.concurrent.locks.ReentrantLock()
      @volatile var lastTouched: Long = System.currentTimeMillis()
      var closed: Boolean = false // guarded by lock
      var total: Long = 0L
    }
    val sessions = new java.util.concurrent.ConcurrentHashMap[String, TxnSession]()
    // re-read per use (reaper tick / error message) so an operator —
    // or a test exercising the reaper — can retune without a restart
    def txnIdleMs = java.lang.Long.getLong("graft.txnIdleSec", 300L) * 1000L
    /** Close under the session lock; returns false if already closed. */
    def closeSession(s: TxnSession)(f: => Unit): Boolean = {
      s.lock.lock()
      try {
        if (s.closed) false
        else { s.closed = true; sessions.remove(s.id); f; true }
      } finally s.lock.unlock()
    }
    // the reaper must NEVER (a) abort an ACTIVE session — a statement
    // longer than the idle budget is busy, not abandoned — or (b) park
    // the single scheduler thread (it also drives the per-query 408
    // budget killers) behind a busy session's lock. tryLock skips a
    // session whose statement is running, and the idle check re-reads
    // lastTouched UNDER the lock so a statement that just finished
    // (refreshing the stamp while the reaper was deciding) survives.
    scheduler.scheduleWithFixedDelay(new Runnable {
      def run(): Unit = {
        val cutoff = System.currentTimeMillis() - txnIdleMs
        sessions.values().forEach { s =>
          if (s.lastTouched < cutoff && s.lock.tryLock()) {
            try if (!s.closed && s.lastTouched < cutoff) {
              s.closed = true; sessions.remove(s.id); s.txn.abort()
            } finally s.lock.unlock()
          }
        }
      }
    }, 1L, 1L, java.util.concurrent.TimeUnit.SECONDS)
    def sessionOf(ex: HttpExchange): Option[TxnSession] =
      Option(ex.getRequestHeaders.getFirst("arcadedb-session-id")).map { sid =>
        Option(sessions.get(sid)).getOrElse(throw new IllegalArgumentException(
          s"unknown or expired transaction session: $sid — begin a new one " +
            "(idle sessions are rolled back after " + (txnIdleMs / 1000) + "s)"))
      }
    def storeCtx: StoreContext = store.getOrElse(
      throw new IllegalStateException("no store attached — DML needs a persisted store"))
    /** The optimistic-conflict check every session step runs under the
      * writeMutex: a commit since the session began (any writer, DDL
      * included — [[graft.load.Store.bumpSeq]]) runs `rollback` and
      * fails the step, never clobbers the interleaved commit. */
    def requireUnmoved(s: TxnSession, dir: String)(rollback: => Unit): Unit = {
      val cur = graft.load.Store.readManifest(dir).seq
      if (cur != s.txn.baseSeq) {
        rollback
        throw new IllegalArgumentException(
          s"transaction conflict: the store advanced (seq ${s.txn.baseSeq} → " +
            s"$cur) during the session — rolled back, retry")
      }
    }
    /** Serve the store's current generation: pin it, swap the served
      * snapshot, retire the old one to drain its in-flight reads.
      * Caller holds the writeMutex. */
    def swapSnapshot(ctx: StoreContext): Unit = {
      val paths = graft.load.Store.currentGenPaths(ctx.dir)
      graft.load.GenerationPins.pin(paths)
      val old = current
      current = new Snapshot(Some(ctx.reload()), storeSchema(), paths)
      retired.add(old)
    }

    /** Read-your-writes (VERDICT r8 missing #2 / ADVICE r8 #4): a query
      * carrying a VALID session id runs against the session's STAGED
      * manifest — it sees the session's uncommitted statements, while
      * every plain reader keeps the committed snapshot. The reference's
      * drivers attach the session id to every request inside a
      * transaction, reads included [dep]. The session lock is held for
      * the read (the reaper's tryLock already treats a running
      * statement as busy, not idle). Like every session STATEMENT, the
      * read first checks the store seq against the txn base under the
      * writeMutex — a foreign commit since begin is a conflict (abort +
      * loud diagnosis), never a torn read: the staged manifest's
      * committed generations could otherwise be swept out from under
      * the query mid-flight (code-review r9). The pin happens inside
      * the same mutex block, so no in-process commit/sweep can
      * interleave between the seq check and the pin, and the schema is
      * snapshotted there too so a later DDL commit can't diverge it
      * from the staged manifest. */
    def runSessionQuery(s: TxnSession, language: String, command: String,
        limit: Int, vars: Map[String, Any] = Map.empty): String = {
      s.lock.lock()
      try {
        if (s.closed) throw new IllegalArgumentException("session already closed")
        s.lastTouched = System.currentTimeMillis()
        val ctx = storeCtx
        val (paths, schemaSnap) = writeMutex.synchronized {
          requireUnmoved(s, ctx.dir)(closeSession(s)(s.txn.abort()))
          val p = graft.load.GraphLoader.stagedGenPaths(s.txn)
          graft.load.GenerationPins.pin(p)
          (p, storeSchema())
        }
        try {
          val g = graft.load.GraphLoader.openGraphStaged(spark, s.txn)
          runQuery(new Snapshot(Some(g), schemaSnap, Nil),
            language, command, limit, inSession = true, vars = vars)
        } finally {
          graft.load.GenerationPins.unpin(paths)
          s.lastTouched = System.currentTimeMillis()
        }
      } finally s.lock.unlock()
    }

    server.createContext("/api/v1/query/", (ex: HttpExchange) => handle(ex, allowGet = true) {
      val session = sessionOf(ex)
      if (ex.getRequestMethod == "GET") {
        // reference parity: GET /api/v1/query/{db}/{language}/{command}
        // with the command URL-encoded in the path
        val rest = ex.getRequestURI.getRawPath.stripPrefix("/api/v1/query/")
        rest.split("/", 3) match {
          case Array(_, language, command) if command.nonEmpty =>
            val cmd = java.net.URLDecoder.decode(command, "UTF-8")
            session match {
              case Some(s) => runSessionQuery(s, language.toLowerCase, cmd, DefaultLimit)
              case None =>
                withRead(snap => runQuery(snap, language.toLowerCase, cmd, DefaultLimit))
            }
          case _ => throw new IllegalArgumentException(
            "GET form is /api/v1/query/{db}/{language}/{url-encoded command}")
        }
      } else {
        val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        val (language, command, limit) = parsed(body)
        val vars = parsedVariables(body)
        session match {
          case Some(s) => runSessionQuery(s, language, command, limit, vars)
          case None =>
            withRead(snap => runQuery(snap, language, command, limit, vars = vars))
        }
      }
    })

    server.createContext("/api/v1/begin/", (ex: HttpExchange) =>
        handle(ex, requireAdmin = true) {
      val ctx = storeCtx
      val s = new TxnSession(java.util.UUID.randomUUID().toString,
        graft.load.GraphLoader.beginTxn(ctx.dir))
      sessions.put(s.id, s)
      ex.getResponseHeaders.set("arcadedb-session-id", s.id)
      s"""{"result":[{"sessionId":"${s.id}"}]}"""
    })

    server.createContext("/api/v1/commit/", (ex: HttpExchange) =>
        handle(ex, requireAdmin = true) {
      val ctx = storeCtx
      val s = sessionOf(ex).getOrElse(throw new IllegalArgumentException(
        "commit needs an arcadedb-session-id header"))
      var n = 0L
      val did = closeSession(s) {
        n = writeMutex.synchronized {
          graft.load.StoreLock.withWriteLock(ctx.dir) {
            requireUnmoved(s, ctx.dir)(s.txn.abort())
            graft.load.GraphLoader.publish(spark, s.txn)
          }
          swapSnapshot(ctx)
          s.total
        }
      }
      if (!did) throw new IllegalArgumentException("session already closed")
      maybeSweep()
      s"""{"result":[{"count":$n}]}"""
    })

    server.createContext("/api/v1/rollback/", (ex: HttpExchange) =>
        handle(ex, requireAdmin = true) {
      val s = sessionOf(ex).getOrElse(throw new IllegalArgumentException(
        "rollback needs an arcadedb-session-id header"))
      if (!closeSession(s)(s.txn.abort()))
        throw new IllegalArgumentException("session already closed")
      s"""{"result":[{"count":0}]}"""
    })

    // the reference's write route (`POST /api/v1/command/{db}` [dep]):
    // SQL DML compiled onto the validated append sinks; served views
    // and the GraphQL graph are re-registered after a successful write
    server.createContext("/api/v1/command/", (ex: HttpExchange) =>
        handle(ex, requireAdmin = true) {
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      // transactional batch form (the reference's session transaction
      // routes [dep], collapsed to one request): {"commands": ["…", …]}
      // executes every statement as ONE atomic store commit — a
      // concurrent reader sees the whole batch or none of it, and a
      // mid-batch failure leaves the manifest untouched (Dml scaladoc)
      val batch: Option[Seq[String]] = JsonMethods.parse(body) \ "commands" match {
        case JArray(items) => Some(items.map {
          case JString(s) => s
          case other => throw new IllegalArgumentException(s"bad command in batch: $other")
        })
        case JNothing => None
        case other => throw new IllegalArgumentException(s"bad 'commands': $other")
      }
      // GraphQL mutations translate onto the SAME DML statements (and
      // sinks) as the SQL command surface; a multi-field mutation
      // becomes a multi-statement atomic batch (GraphQL's sequential
      // root execution made transactional)
      var gqlBatch = false
      var script = false // sqlscript: DDL barriers between atomic DML runs
      val commands: Seq[String] = batch.getOrElse {
        val (language, command, _) = parsed(body)
        language match {
          case "sql" => Seq(command)
          case "graphql" =>
            val dml = graft.query.GraphQl.mutationToDml(command, parsedVariables(body))
            gqlBatch = dml.size > 1
            dml
          // the dialect-native batch spelling (`language:"sqlscript"`,
          // `;`-separated statements): splits at top level — a `;`
          // inside a quoted literal or CONTENT/MERGE json never
          // mis-splits. DML-only scripts route through the SAME atomic
          // batch as the JSON `{"commands": […]}` form (one manifest
          // swap; mid-script failure rolls the whole script back);
          // scripts MIXING DDL run via [[Dml.executeScript]] — DDL
          // autocommits as a barrier between atomic DML runs, the
          // reference's sqlscript rule (code-review r12 #4: the batch
          // form refuses DDL, so schema-setup scripts need this path)
          case "sqlscript" =>
            val stmts = Dml.splitScript(command)
            script = stmts.size > 1
            gqlBatch = script
            stmts
          case other =>
            throw new IllegalArgumentException(s"unsupported command language: $other")
        }
      }
      commands.filterNot(Dml.isDml).foreach(c =>
        throw new IllegalArgumentException(
          s"not a supported command (only DML here — use /api/v1/query for reads; " +
            s"got: ${c.take(40)})"))
      val ctx = storeCtx
      // inside a session transaction: statements STAGE against the
      // session's txn (later ones see earlier ones through the staged
      // manifest) and nothing becomes visible — or swaps the served
      // snapshot — until /commit. A foreign commit since begin is a
      // conflict caught here (early) or at commit (authoritative).
      sessionOf(ex) match {
        case Some(s) =>
          s.lock.lock()
          val n = try {
            if (s.closed) throw new IllegalArgumentException("session already closed")
            s.lastTouched = System.currentTimeMillis() // busy ≠ idle: stamp at start too
            val staged = writeMutex.synchronized {
              requireUnmoved(s, ctx.dir)(closeSession(s)(s.txn.abort()))
              try commands.map(c => Dml.executeInTxn(spark, c, s.txn)).sum
              catch {
                case e: Throwable =>
                  closeSession(s)(s.txn.abort())
                  // the whole staged transaction is gone — say so, or
                  // the client's next request misreads the 'unknown
                  // session' error as idle expiry (code-review r8)
                  throw new IllegalArgumentException(
                    s"${e.getMessage} — the session transaction was ROLLED BACK " +
                      "(a failed statement aborts the whole session; begin a new one)", e)
              }
            }
            s.total += staged
            s.lastTouched = System.currentTimeMillis()
            staged
          } finally s.lock.unlock()
          s"""{"result":[{"count":$n}]}"""
        case None =>
          // writers serialize against each other (and cross-process via
          // StoreLock inside the sinks) but NEVER wait on readers: the
          // commit lands a new generation set, the snapshot swap pins it,
          // and the superseded one retires with its in-flight reads
          val n = writeMutex.synchronized {
            val n0: Dml.DmlResult =
              if (script && commands.exists(Dml.isBarrier))
                // a mixed script advances DISK state even when it fails
                // partway (DDL barriers and earlier runs have already
                // committed — the reference's sqlscript contract), so
                // the served snapshot must refresh on BOTH exits; the
                // plain single-commit forms below stay success-only
                try Dml.DmlResult(Dml.executeScript(spark, ctx.dir, commands), None)
                finally swapSnapshot(ctx)
              else if (batch.isDefined || gqlBatch) {
                val r = Dml.executeBatch(spark, ctx.dir, commands)
                swapSnapshot(ctx); Dml.DmlResult(r, None)
              } else { // single command: the RETURN BEFORE/AFTER forms
                // answer with the affected records' images, query-style
                val r = Dml.executeReturning(spark, ctx.dir, commands.head)
                // pure reporters/exporters never move the manifest — no
                // re-swap (and a reload over a damaged store would turn
                // the CHECK report into the crash it diagnoses, r16).
                // The flag comes from the PARSED dispatch (ADVICE r16:
                // re-matching the raw string here could drift from the
                // grammar, e.g. options after FIX)
                if (!r.readOnly) swapSnapshot(ctx)
                r }
            n0
          }
          maybeSweep()
          n.returned match {
            // the affected-row count rides beside the images so a
            // DmlReturnCap page bound is DETECTABLE: images.size <
            // count means the record list was truncated (code-review
            // r13 — without the count, 1,000 capped images are
            // indistinguishable from a 1,000-row update)
            case Some(rows) => rows.mkString(
              s"""{"count":${n.count},"result":[""", ",", "]}")
            case None => s"""{"result":[{"count":${n.count}}]}"""
          }
      }
    })

    // request-per-thread dispatch (the reference's embedded server model):
    // a slow analytical query must not head-of-line-block /ready or a
    // concurrent point lookup. Query execution itself stays distributed —
    // these threads only drive job submission and page serialization,
    // so the pool sizes to expected concurrent clients, not cores.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(poolSize,
      new java.util.concurrent.ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-http-${n.incrementAndGet()}")
          t.setDaemon(true); t
        }
      })
    server.setExecutor(pool)
    server.start()
    Started(server, server.getAddress.getPort, pool, scheduler, store.map(_.dir))
  }

  /** The console page: plain HTML + fetch(), no assets, no framework —
    * the programmatic JSON endpoint stays the real surface. */
  private val StudioHtml: String =
    """<!doctype html>
      |<html><head><meta charset="utf-8"><title>graft console</title>
      |<style>
      | body{font-family:monospace;margin:2em;max-width:72em}
      | textarea{width:100%;height:6em;font-family:monospace}
      | table{border-collapse:collapse;margin-top:1em}
      | td,th{border:1px solid #999;padding:2px 8px;text-align:left}
      | .err{color:#b00}
      | input[type=password]{width:24em}
      |</style></head><body>
      |<h2>graft console</h2>
      |<p>language
      | <select id="lang">
      |  <option value="sql">sql (ArcadeDB dialect, Spark SQL fallback)</option>
      |  <option value="arcadesql">arcadesql</option>
      |  <option value="sparksql">sparksql</option>
      |  <option value="graphql">graphql</option>
      | </select>
      | token <input type="password" id="tok" placeholder="bearer token (if the server requires one)">
      | limit <input type="number" id="lim" value="100" style="width:6em">
      |</p>
      |<textarea id="q">SELECT FROM Customer LIMIT 10</textarea><br>
      |<button onclick="run()">run (ctrl-enter)</button>
      |<button onclick="run(true)">plan</button>
      |<button onclick="schema()">schema</button>
      |<button onclick="graph()">graph</button>
      |<div id="out"></div>
      |<script>
      |// Studio-parity graph rendering: draws the CURRENT query's result
      |// as a node-link SVG when rows look like edges (src+dst columns)
      |// or vertices (id column; out/in columns of ids become links).
      |// Circle layout, capped at 300 edges — a preview, not a dataplane.
      |async function graph(){
      | const out=document.getElementById('out');
      | out.innerHTML='…';
      | const headers={'Content-Type':'application/json'};
      | const tok=document.getElementById('tok').value;
      | if(tok) headers['Authorization']='Bearer '+tok;
      | try{
      |  const r=await fetch('/api/v1/query/graft',{method:'POST',headers,
      |   body:JSON.stringify({language:document.getElementById('lang').value,
      |    command:document.getElementById('q').value,
      |    limit:parseInt(document.getElementById('lim').value)||100})});
      |  const j=await r.json();
      |  if(!r.ok){out.innerHTML='<p class="err"></p>';out.firstChild.textContent=j.error;return;}
      |  const rows=j.result||[];
      |  const edges=[],ids=new Set();
      |  for(const row of rows.slice(0,300)){
      |   if(row.src!==undefined&&row.dst!==undefined){
      |    edges.push([row.src,row.dst]);ids.add(row.src);ids.add(row.dst);
      |   }else if(row.id!==undefined){
      |    ids.add(row.id);
      |    for(const k of Object.keys(row)){
      |     const v=row[k];
      |     if(Array.isArray(v)&&v.every(x=>typeof x==='number'))
      |      for(const t of v.slice(0,20)){edges.push([row.id,t]);ids.add(t);}
      |    }
      |   }
      |  }
      |  if(!ids.size){out.textContent='result has no src/dst or id columns to draw';return;}
      |  const ns=[...ids],n=ns.length,R=Math.min(320,40+8*n),C=R+60;
      |  const pos={};ns.forEach((v,k)=>{const a=2*Math.PI*k/n;
      |   pos[v]=[C+R*Math.cos(a),C+R*Math.sin(a)];});
      |  const svgNS='http://www.w3.org/2000/svg';
      |  const svg=document.createElementNS(svgNS,'svg');
      |  svg.setAttribute('width',2*C);svg.setAttribute('height',2*C);
      |  for(const[a,b]of edges){const l=document.createElementNS(svgNS,'line');
      |   l.setAttribute('x1',pos[a][0]);l.setAttribute('y1',pos[a][1]);
      |   l.setAttribute('x2',pos[b][0]);l.setAttribute('y2',pos[b][1]);
      |   l.setAttribute('stroke','#999');svg.appendChild(l);}
      |  for(const v of ns){const c=document.createElementNS(svgNS,'circle');
      |   c.setAttribute('cx',pos[v][0]);c.setAttribute('cy',pos[v][1]);
      |   c.setAttribute('r',5);c.setAttribute('fill','#36c');svg.appendChild(c);
      |   const t=document.createElementNS(svgNS,'text');
      |   t.setAttribute('x',pos[v][0]+7);t.setAttribute('y',pos[v][1]+4);
      |   t.setAttribute('font-size','9');t.textContent=v;svg.appendChild(t);}
      |  out.innerHTML='<p>'+ids.size+' nodes, '+edges.length+' edges</p>';
      |  out.appendChild(svg);
      | }catch(e){out.innerHTML='<p class="err"></p>';out.firstChild.textContent=e;}
      |}
      |async function schema(){
      | const out=document.getElementById('out');
      | out.innerHTML='…';
      | const headers={};
      | const tok=document.getElementById('tok').value;
      | if(tok) headers['Authorization']='Bearer '+tok;
      | try{
      |  const r=await fetch('/api/v1/schema',{headers});
      |  const j=await r.json();
      |  if(!r.ok){out.innerHTML='<p class="err"></p>';out.firstChild.textContent=j.error;return;}
      |  const tbl=document.createElement('table');
      |  tbl.innerHTML='<tr><th>type</th><th>kind</th><th>properties</th><th>indexes</th></tr>';
      |  for(const l of j.labels){const tr=tbl.insertRow();
      |   tr.insertCell().textContent=l.label;
      |   tr.insertCell().textContent=l.kind;
      |   tr.insertCell().textContent=(l.schema.fields||[])
      |    .map(f=>f.name+': '+(typeof f.type==='string'?f.type:f.type.type)).join(', ');
      |   tr.insertCell().textContent=j.indexes.filter(x=>x.label===l.label)
      |    .map(x=>x.property+(x.unique?' UNIQUE':'')).join(', ');}
      |  out.innerHTML='<p>'+j.labels.length+' types</p>';out.appendChild(tbl);
      | }catch(e){out.innerHTML='<p class="err"></p>';out.firstChild.textContent=e;}
      |}
      |async function run(plan){
      | const out=document.getElementById('out');
      | out.innerHTML='…';
      | const headers={'Content-Type':'application/json'};
      | const tok=document.getElementById('tok').value;
      | if(tok) headers['Authorization']='Bearer '+tok;
      | try{
      |  const cmd=(plan?'EXPLAIN ':'')+document.getElementById('q').value;
      |  const r=await fetch('/api/v1/query/graft',{method:'POST',headers,
      |   body:JSON.stringify({language:document.getElementById('lang').value,
      |    command:cmd,
      |    limit:parseInt(document.getElementById('lim').value)||100})});
      |  const j=await r.json();
      |  if(!r.ok){out.innerHTML='<p class="err"></p>';out.firstChild.textContent=j.error;return;}
      |  const rows=j.result||[];
      |  if(plan&&rows.length&&rows[0].plan){const pre=document.createElement('pre');
      |   pre.textContent=rows[0].plan;out.innerHTML='';out.appendChild(pre);return;}
      |  if(!rows.length){out.textContent='0 rows';return;}
      |  const cols=[...new Set(rows.flatMap(Object.keys))];
      |  const tbl=document.createElement('table');
      |  tbl.innerHTML='<tr>'+cols.map(c=>'<th></th>').join('')+'</tr>';
      |  cols.forEach((c,i)=>tbl.rows[0].cells[i].textContent=c);
      |  for(const row of rows){const tr=tbl.insertRow();
      |   cols.forEach(c=>{tr.insertCell().textContent=
      |    row[c]===undefined?'':JSON.stringify(row[c]);});}
      |  out.innerHTML='<p>'+rows.length+' rows</p>';out.appendChild(tbl);
      | }catch(e){out.innerHTML='<p class="err"></p>';out.firstChild.textContent=e;}
      |}
      |document.getElementById('q').addEventListener('keydown',
      | e=>{if(e.ctrlKey&&e.key==='Enter')run();});
      |</script></body></html>""".stripMargin

  private def err(msg: String): String =
    JsonMethods.compact(JObject("error" -> JString(Option(msg).getOrElse("error"))))

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    val os = ex.getResponseBody
    os.write(bytes); os.close()
  }
}
