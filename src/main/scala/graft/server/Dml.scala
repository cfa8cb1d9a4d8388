package graft.server

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import graft.load.{GraphLoader, StoreTxn}
import graft.model.GraphSchema

/** DML command surface for the HTTP endpoint (the reference's
  * `POST /api/v1/command/{db}` accepts record writes in ArcadeDB SQL
  * [dep]; SURVEY §2.B.1 DML row). Two statement classes, split once
  * by the dispatch ([[Dml.isBarrier]], [[Dml.isDml]] read the same
  * split):
  *
  * RECORD statements write rows and always run inside a
  * [[graft.load.StoreTxn]] — a single command autocommits as a
  * transaction of one, a batch or HTTP session is one transaction:
  *
  *   INSERT INTO <Label> (c1, c2, …) VALUES (v1, …)[, (…)]…
  *   INSERT INTO <Label> SET k1 = v1, …
  *   CREATE VERTEX <Label> SET k1 = v1, k2 = v2, …
  *   CREATE EDGE <Label> FROM <srcId> TO <dstId> [SET k = v, …]
  *   UPDATE <Label> SET k = v, … [UPSERT] [RETURN …] [WHERE <pred>]
  *   UPDATE <Label> REMOVE|ADD|PUT|INCREMENT … [WHERE <pred>]
  *   UPDATE <Label> CONTENT|MERGE {json} [WHERE <pred>]
  *   DELETE FROM|VERTEX|EDGE <Label> [WHERE <pred>]
  *   TRUNCATE TYPE <Label>
  *
  * BARRIER statements publish (or only read) on their own and are
  * refused inside a transaction: the runtime schema DDL the reference
  * issues before loading (`ArcadeDBService.java:149-154,232-238,275-277`)
  * — CREATE VERTEX|EDGE TYPE, CREATE PROPERTY, CREATE INDEX, CREATE
  * FUNCTION, ALTER TYPE|PROPERTY, DROP TYPE|PROPERTY|INDEX|FUNCTION —
  * and the maintenance surface — COMPACT, BACKUP, REBUILD INDEX,
  * CHECK DATABASE, EXPORT DATABASE, IMPORT DATABASE.
  *
  * Insert statements compile to a small typed batch routed through
  * [[GraphLoader.appendNodes]]/[[GraphLoader.appendEdges]] — so every
  * HTTP insert gets the same invariants as the bulk path (id collision,
  * UNIQUE indexes, endpoint resolution) and a rejected batch leaves the
  * store untouched. UPDATE/DELETE are copy-on-write rewrites of the
  * label partition ([[GraphLoader.updateColumnsReturning]]/
  * [[GraphLoader.deleteRecords]]): UNIQUE revalidation, immutable keys,
  * and dangling-endpoint rejection on vertex delete. WHERE predicates
  * use the ArcadeSql dialect grammar. Literals: numbers,
  * 'single-quoted' strings ('' to escape), true/false, null.
  */
object Dml {

  private val InsertRe =
    """(?is)\s*INSERT\s+INTO\s+(\w+)\s*\(([^)]*)\)\s*VALUES\s*(.+?)\s*""".r
  private val InsertSetRe = """(?is)\s*INSERT\s+INTO\s+(\w+)\s+SET\s+(.+?)\s*""".r
  private val CreateVertexRe = """(?is)\s*CREATE\s+VERTEX\s+(\w+)\s+SET\s+(.+?)\s*""".r
  private val CreateEdgeRe =
    """(?is)\s*CREATE\s+EDGE\s+(\w+)\s+FROM\s+(-?\d+)\s+TO\s+(-?\d+)(?:\s+SET\s+(.+?))?\s*""".r
  private val CompactRe = """(?is)\s*COMPACT(?:\s+DATABASE)?\s*""".r
  // the reference's maintenance surface [dep arcadedb SQL]: TRUNCATE
  // empties a type keeping its declaration; BACKUP copies a pinned
  // consistent snapshot while writes continue
  private val TruncateRe = """(?is)\s*TRUNCATE\s+TYPE\s+(\w+)(\s+UNSAFE)?\s*""".r
  private val BackupRe = """(?is)\s*BACKUP\s+DATABASE\s+'([^']+)'\s*""".r
  // the rest of the reference's maintenance trio [dep arcadedb SQL]
  // (VERDICT r13 missing #3): REBUILD INDEX re-derives a persisted
  // index from the current rows (and re-proves a UNIQUE invariant),
  // CHECK DATABASE reports integrity, EXPORT DATABASE writes the
  // JSONL interchange form beside BACKUP's byte-faithful copy
  private val RebuildIndexRe =
    """(?is)\s*REBUILD\s+INDEX\s+(?:ON\s+(\w+)\s*\(\s*(\w+)\s*\)|\*)\s*""".r
  // TYPE/BUCKET take comma-separated lists (the reference grammar
  // [dep arcadedb SQL], ADVICE r16); buckets are named by label OR by
  // ordinal (buckets ARE label partitions here — see the dispatch)
  private val CheckRe =
    """(?is)\s*CHECK\s+DATABASE(?:\s+TYPE\s+(\w+(?:\s*,\s*\w+)*))?(?:\s+BUCKET\s+(\w+(?:\s*,\s*\w+)*))?(\s+FIX)?\s*""".r
  private val ExportRe = """(?is)\s*EXPORT\s+DATABASE\s+'([^']+)'\s*""".r
  private val ImportRe = """(?is)\s*IMPORT\s+DATABASE\s+'([^']+)'\s*""".r
  // runtime schema DDL (the reference declares types/properties/indexes
  // through the same command surface before loading,
  // `ArcadeDBService.java:149-154,232-238,275-277`)
  private val CreateTypeRe =
    """(?is)\s*CREATE\s+(VERTEX|EDGE)\s+TYPE\s+(\w+)(\s+IF\s+NOT\s+EXISTS)?\s*""".r
  private val CreatePropertyRe =
    """(?is)\s*CREATE\s+PROPERTY\s+(\w+)\.(\w+)\s+(\w+)\s*""".r
  private val CreateIndexRe =
    """(?is)\s*CREATE\s+INDEX\s+ON\s+(\w+)\s*\(\s*(\w+)\s*\)\s+(UNIQUE|NOTUNIQUE|FULL_TEXT|FULLTEXT)\s*""".r
  // server-registered SQL functions (the reference's DEFINE FUNCTION
  // [dep arcadedb SQL], SQL-language form): body is a single-quoted
  // dialect expression ('' escapes a quote), params an optional list
  private val CreateFunctionRe =
    """(?is)\s*(?:CREATE|DEFINE)\s+FUNCTION\s+(\w+)\s+'((?:[^']|'')*)'\s*(?:PARAMETERS\s*\[([^\]]*)\])?\s*""".r
  // property constraints (ArcadeDB's ALTER PROPERTY surface [dep
  // arcadedb SQL]): MANDATORY and NOTNULL collapse to one invariant
  // under A7 normalization (absent key ≡ null value) — see
  // ConstraintDesc. MIN/MAX/REGEXP bound existing values, DEFAULT
  // fills absent ones at append, READONLY freezes a property against
  // UPDATE (creation-time writes only — enforced beside the
  // key/topology immutables in updateColumnsReturning); `ALTER PROPERTY T.p
  // MIN null` retires an attribute. CUSTOM remains unsupported and
  // fails the dispatch loudly rather than parsing to a silent no-op.
  private val AlterPropertyRe =
    """(?is)\s*ALTER\s+PROPERTY\s+(\w+)\.(\w+)\s+(MANDATORY|NOTNULL|MIN|MAX|REGEXP|DEFAULT|READONLY)\s+(.+?)\s*""".r
  // ALTER TYPE <T> NAME <N> | BUCKETSELECTIONSTRATEGY <v> | CUSTOM k = v
  // (VERDICT r12 missing #4 — the last ALTER family member)
  private val AlterTypeRe =
    """(?is)\s*ALTER\s+TYPE\s+(\w+)\s+(\w+)\s+(.+?)\s*""".r
  // schema-lifecycle DDL completion: DROP mirrors of the CREATE forms
  private val DropTypeRe = """(?is)\s*DROP\s+TYPE\s+(\w+)(\s+IF\s+EXISTS)?\s*""".r
  private val DropPropertyRe = """(?is)\s*DROP\s+PROPERTY\s+(\w+)\.(\w+)\s*""".r
  private val DropIndexRe = """(?is)\s*DROP\s+INDEX\s+ON\s+(\w+)\s*\(\s*(\w+)\s*\)\s*""".r
  private val DropFunctionRe = """(?is)\s*DROP\s+FUNCTION\s+(\w+)\s*""".r

  /** A command the command route accepts: a record or a barrier
    * statement — the classification is the dispatch itself. */
  def isDml(command: String): Boolean = isBarrier(command) || record.isDefinedAt(command)

  /** A barrier statement (see [[Barrier]]): refused inside a
    * transaction, autocommitted between record runs by
    * [[executeScript]]. */
  def isBarrier(command: String): Boolean = barrier.isDefinedAt(command)

  /** Execute a `sqlscript` statement sequence: consecutive record
    * statements group into atomic transactional RUNS (one manifest
    * swap per run, [[executeBatch]]); barriers — which refuse
    * transactions — execute standalone between runs. A failure
    * aborts the CURRENT run and stops the script; earlier runs and
    * barriers stay committed (the reference's sqlscript contract:
    * schema changes autocommit, only the active transaction rolls
    * back). A script with no barriers is therefore exactly the atomic
    * batch (mid-script failure rolls the whole script back — the
    * CliSpec-pinned case). */
  def executeScript(spark: SparkSession, storeDir: String,
      commands: Seq[String]): Long = {
    require(commands.nonEmpty, "empty script")
    var total = 0L
    val run = scala.collection.mutable.ArrayBuffer[String]()
    def flush(): Unit = if (run.nonEmpty) {
      total += (if (run.size == 1) execute(spark, storeDir, run.head)
                else executeBatch(spark, storeDir, run.toSeq))
      run.clear()
    }
    commands.foreach { c =>
      if (isBarrier(c)) { flush(); total += execute(spark, storeDir, c) }
      else run += c
    }
    flush()
    total
  }

  /** Execute a DML command against the persisted store; returns the
    * number of records written. A record statement autocommits as a
    * transaction of one ([[GraphLoader.commit]]). Throws
    * IllegalArgumentException on parse/validation errors (mapped to
    * HTTP 400). */
  def execute(spark: SparkSession, storeDir: String, command: String): Long =
    executeOne(spark, storeDir, command, None)

  /** Images side-channel for the single-command RETURN forms: the
    * UPDATE branch deposits its BEFORE/AFTER record pages here. */
  private final class ReturnSink {
    var images: Option[Array[String]] = None
    // set by the dispatch when the MATCHED statement can never move
    // the manifest (pure reporters/exporters) — the authoritative
    // classification, derived from the parsed form rather than
    // re-matching the raw string (ADVICE r16: a string re-parse can
    // drift from the grammar, e.g. options after FIX)
    var readOnly: Boolean = false
  }

  /** A DML command's outcome: the affected count plus — when the
    * statement asked `RETURN BEFORE|AFTER` — the affected records'
    * images as executor-serialized JSON rows (capped at
    * [[GraphLoader.DmlReturnCap]]). `readOnly` = the executed
    * statement was a pure reporter/exporter that cannot have moved
    * the manifest, so the served snapshot must NOT re-swap: a reload
    * is pure waste on a healthy store, and on a DAMAGED one (missing
    * generation dirs) it would crash the very `CHECK DATABASE` report
    * that diagnoses the damage. Derived from the parsed dispatch, not
    * from re-matching the command text. */
  final case class DmlResult(count: Long, returned: Option[Seq[String]],
      readOnly: Boolean = false)

  /** [[execute]] plus the ArcadeDB `UPDATE … RETURN BEFORE|AFTER`
    * record images (VERDICT r12 missing #3). RETURN COUNT (and no
    * RETURN) keep the count-only response. */
  def executeReturning(spark: SparkSession, storeDir: String,
      command: String): DmlResult = {
    val sink = new ReturnSink
    val n = executeOne(spark, storeDir, command, Some(sink))
    DmlResult(n, sink.images.map(_.toSeq), sink.readOnly)
  }

  private def executeOne(spark: SparkSession, storeDir: String, command: String,
      ret: Option[ReturnSink]): Long =
    barrier.lift(command) match {
      case Some(run) => run(spark, storeDir, ret)
      case None =>
        val run = recordOf(command)
        GraphLoader.commit(spark, storeDir)(run(spark, _, ret))
    }

  /** One statement staged into an OPEN transaction — a batch's or an
    * HTTP session's (the begin/commit/rollback routes' engine): it
    * executes against the transaction's staged manifest — later
    * statements see earlier ones — and nothing becomes visible until
    * the transaction's single commit. Barriers are refused inside. */
  def executeInTxn(spark: SparkSession, command: String, txn: StoreTxn): Long = {
    require(!isBarrier(command),
      "schema and maintenance statements are not allowed inside a transaction " +
        s"(batch or session) — issue it as its own command (got: ${command.trim.take(40)})")
    recordOf(command)(spark, txn, None)
  }

  /** Execute several record statements as ONE atomic store commit (the
    * HTTP batch form `{"commands": […]}` — the reference's session
    * transaction routes [dep] collapsed to a single-request batch).
    * All statements run against a staged manifest ([[StoreTxn]]):
    * later statements see earlier ones (an edge may reference a vertex
    * inserted in the same batch), nothing is visible until the single
    * manifest swap at the end, and ANY failure leaves the manifest
    * byte-untouched (staged gens become sweepable orphans). Barriers
    * must be issued as single commands. */
  def executeBatch(spark: SparkSession, storeDir: String, commands: Seq[String]): Long = {
    require(commands.nonEmpty, "empty command batch")
    GraphLoader.commit(spark, storeDir)(txn =>
      commands.map(c => executeInTxn(spark, c, txn)).sum)
  }

  private def recordOf(command: String): Record = record.applyOrElse(command,
    (_: String) => throw new IllegalArgumentException(
      "unsupported DML (expected INSERT INTO … VALUES, CREATE VERTEX … SET, " +
        "CREATE EDGE … FROM … TO …; ALTER forms are ALTER PROPERTY T.p " +
        "MANDATORY|NOTNULL|READONLY true|false and " +
        "MIN|MAX|REGEXP|DEFAULT <literal>|null)"))

  private def schemaOf(storeDir: String): GraphSchema =
    GraphSchema.fromJson(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$storeDir/schema.json")))

  private def kindOf(gs: GraphSchema, label: String): String =
    gs.labels.find(_.label == label).map(_.kind).getOrElse(
      throw new IllegalArgumentException(s"unknown label: $label"))

  private def kindOf(storeDir: String, label: String): String =
    kindOf(schemaOf(storeDir), label)

  /** Barrier statements — schema DDL, COMPACT, BACKUP, REBUILD INDEX,
    * CHECK, EXPORT, IMPORT: each publishes (or only reads) on its own
    * and never sees a transaction. [[executeScript]] runs them as
    * autocommit BARRIERS between transactional record runs (ArcadeDB's
    * sqlscript rule: schema statements commit immediately and are not
    * rolled back by a later failure [dep, SQL script semantics]). */
  private type Barrier = (SparkSession, String, Option[ReturnSink]) => Long
  /** Record statements — INSERT, CREATE VERTEX/EDGE, every UPDATE form,
    * DELETE, TRUNCATE: each stages into the [[StoreTxn]] it is handed,
    * which [[GraphLoader.commit]] (one command, one batch) or the
    * session's commit route publishes. */
  private type Record = (SparkSession, StoreTxn, Option[ReturnSink]) => Long

  // barriers match before the record forms everywhere: `CREATE VERTEX
  // TYPE T` must not fall into the instance form `CREATE VERTEX <label> SET …`
  private val barrier: PartialFunction[String, Barrier] = {
    case CreateTypeRe(kind, label, ifNotExists) => (spark, storeDir, _) =>
      ddl(storeDir) { cur =>
        val k = if (kind.equalsIgnoreCase("VERTEX")) "vertex" else "edge"
        cur.labels.find(_.label == label) match {
          case Some(existing) =>
            // IF NOT EXISTS never papers over a KIND conflict — the
            // caller's model of the type would be silently wrong
            require(existing.kind == k,
              s"type $label already exists as a ${existing.kind} type")
            require(ifNotExists != null, s"type $label already exists")
            (cur, 0L)
          case None =>
            (cur.copy(labels = cur.labels :+
              graft.model.LabelSchema(label, k, StructType(Nil))), 1L)
        }
      }
    case CreatePropertyRe(label, prop, typeName) => (spark, storeDir, _) =>
      ddl(storeDir) { cur =>
        val ls = cur.labels.find(_.label == label).getOrElse(
          throw new IllegalArgumentException(s"unknown type: $label"))
        require(!Set("id", "label", "src", "dst").contains(prop),
          s"$prop is a reserved key/topology column")
        require(!ls.schema.fieldNames.contains(prop),
          s"property $label.$prop already declared")
        val updated = ls.copy(schema =
          StructType(ls.schema.fields :+ StructField(prop, ddlType(typeName))))
        (cur.copy(labels = cur.labels.map(l => if (l.label == label) updated else l)), 1L)
      }
    case CreateIndexRe(label, prop, uniq) if uniq.toUpperCase.startsWith("FULL") =>
      (spark, storeDir, _) => createFullTextIndex(spark, storeDir, label, prop)
    case CreateIndexRe(label, prop, uniq) => (spark, storeDir, _) =>
      ddl(storeDir) { cur =>
        val ls = cur.labels.find(_.label == label).getOrElse(
          throw new IllegalArgumentException(s"unknown type: $label"))
        val field = ls.schema.fields.find(_.name == prop).getOrElse(
          throw new IllegalArgumentException(
            s"property $label.$prop is not declared — CREATE PROPERTY first"))
        val target = if (ls.kind == "vertex") "node" else "edge"
        require(!cur.indexes.exists(i =>
            i.target == target && i.label == label && i.property == prop),
          s"index on $label.$prop already exists")
        val ix = graft.model.IndexDesc(target, label, prop,
          unique = uniq.equalsIgnoreCase("UNIQUE"),
          isArray = field.dataType.isInstanceOf[ArrayType])
        // a UNIQUE index over EXISTING data must hold before it is
        // declared (A15 semantics — null-skip/array-skip built in)
        if (ix.unique && ix.isBuildable) {
          val probe = cur.copy(indexes = Seq(ix))
          val viol = GraphLoader.validateUnique(
            graft.load.Store.readEntity(spark, storeDir, "nodes"),
            graft.load.Store.readEntity(spark, storeDir, "edges"), probe)
          require(viol.isEmpty, {
            val sample = viol.limit(3).collect().map(_.get(2)).mkString(", ")
            s"CREATE INDEX rejected: existing duplicates of $label.$prop (e.g. $sample)"
          })
        }
        (cur.copy(indexes = cur.indexes :+ ix), 1L)
      }
    case CreateFunctionRe(name, bodyRaw, paramsRaw) => (spark, storeDir, _) =>
      ddl(storeDir) { cur =>
        val body = bodyRaw.replace("''", "'")
        val params = Option(paramsRaw)
          .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
        params.foreach(p => require(p.matches("\\w+"),
          s"PARAMETERS must be identifiers, got '$p'"))
        require(!graft.query.ArcadeSql.BuiltinFunctionNames(name.toLowerCase),
          s"cannot shadow builtin function $name")
        require(!cur.functions.exists(_.name.equalsIgnoreCase(name)),
          s"function $name already defined")
        // a body that does not parse is rejected HERE, not at first call
        try graft.query.ArcadeSql.parseExpression(body)
        catch { case e: IllegalArgumentException =>
          throw new IllegalArgumentException(s"function body does not parse: ${e.getMessage}")
        }
        (cur.copy(functions = cur.functions :+
          graft.model.FunctionDef(name, params, body)), 1L)
      }
    // DROP lifecycle — the CREATE forms' mirrors. DROP TYPE refuses
    // while records exist (delete them first) and retires the label's
    // manifest entry in the same locked section, so a dropped type's
    // generation dirs become sweepable orphans.
    case DropTypeRe(label, ifExists) => (spark, storeDir, _) =>
      graft.load.StoreLock.withWriteLock(storeDir) {
        schemaOf(storeDir).labels.find(_.label == label) match {
          case None =>
            require(ifExists != null, s"unknown type: $label")
            0L
          case Some(ls) =>
            val entity = if (ls.kind == "vertex") "nodes" else "edges"
            val m = graft.load.Store.readManifest(storeDir)
            val rows = graft.load.Store.readLabel(spark, storeDir, entity, label, m)
              .map(_.count()).getOrElse(0L)
            require(rows == 0,
              s"DROP TYPE rejected: $label still holds $rows record(s) — DELETE them first")
            if (ls.kind == "vertex") {
              val referenced = m.edgeEndpoints.exists { case (_, (srcs, dsts)) =>
                srcs.contains(label) || dsts.contains(label)
              }
              require(!referenced, s"DROP TYPE rejected: edge types have referenced " +
                s"$label — drop those edge types first")
            }
            // schema.json FIRST, manifest retirement LAST (ADVICE r7):
            // the schema is the registry gating appends, so a crash
            // between the two commits leaves at worst a zero-row
            // manifest entry for an undeclared label (benign orphan,
            // retired by any later DROP of a re-declared twin) —
            // never a declared type whose manifest entry is gone
            val n = ddl(storeDir) { cur =>
              (cur.copy(labels = cur.labels.filterNot(_.label == label),
                indexes = cur.indexes.filterNot(_.label == label),
                constraints = cur.constraints.filterNot(_.label == label)), 1L)
            }
            if (m.gens(entity).contains(label))
              graft.load.Store.writeManifest(storeDir, m.withoutLabel(entity, label))
            n
        }
      }
    case AlterTypeRe(label, attrRaw, valueRaw) => (spark, storeDir, _) =>
      def unquote(s: String): String = {
        val t = s.trim
        if (t.length >= 2 && t.head == '\'' && t.last == '\'')
          t.substring(1, t.length - 1).replace("''", "'")
        else t
      }
      attrRaw.toUpperCase match {
        case "NAME" => // full re-key: data, indexes, constraints,
          // settings, endpoints and rids all survive (copy-on-write)
          val nn = valueRaw.trim
          require(nn.matches("\\w+"),
            s"ALTER TYPE NAME expects an identifier, got '$nn'")
          GraphLoader.renameType(spark, storeDir, label, nn)
        case attr @ ("BUCKETSELECTIONSTRATEGY" | "CUSTOM") =>
          // placement knobs: recorded in the catalog (round-trip
          // fidelity), declarative no-ops for a label-partitioned
          // generation store — see LabelSchema.settings
          ddl(storeDir) { cur =>
            require(cur.labels.exists(_.label == label),
              s"unknown type: $label")
            val (k, v) =
              if (attr == "CUSTOM") {
                val kv = valueRaw.split("=", 2)
                require(kv.length == 2, "ALTER TYPE CUSTOM expects key = value")
                (s"custom.${kv(0).trim}", unquote(kv(1)))
              } else ("bucketselectionstrategy", unquote(valueRaw))
            (cur.copy(labels = cur.labels.map(l =>
              if (l.label == label) l.copy(settings = l.settings + (k -> v))
              else l)), 1L)
          }
        case other => throw new IllegalArgumentException(
          s"unsupported ALTER TYPE attribute $other (supported: NAME, " +
            "BUCKETSELECTIONSTRATEGY, CUSTOM key = value)")
      }
    case AlterPropertyRe(label, prop, attrRaw, valueRaw) => (spark, storeDir, _) =>
      ddl(storeDir) { cur =>
        val ls = cur.labels.find(_.label == label).getOrElse(
          throw new IllegalArgumentException(s"unknown type: $label"))
        require(ls.schema.fieldNames.contains(prop),
          s"property $label.$prop is not declared — CREATE PROPERTY first")
        val target = if (ls.kind == "vertex") "node" else "edge"
        val attr = attrRaw.toUpperCase
        val kind = attr match {
          case "MANDATORY" | "NOTNULL" => "mandatory"
          case other => other.toLowerCase
        }
        // boolean-shaped attributes share the MANDATORY toggle
        // discipline (declare-over-declared and retire-of-absent are
        // both client errors); READONLY constrains CHANGES, not
        // values, so existing data needs no validation pass
        val boolAttr = kind == "mandatory" || kind == "readonly"
        def same(x: graft.model.ConstraintDesc) =
          x.target == target && x.label == label && x.property == prop &&
            x.kind == kind
        // existing data must satisfy a check-constraint BEFORE it is
        // declared (the CREATE INDEX UNIQUE discipline): a store
        // already violating it would turn every later append into a
        // liar's contract
        def validateExisting(c: graft.model.ConstraintDesc): Unit = {
          val viol = GraphLoader.validateConstraints(
            graft.load.Store.readEntity(spark, storeDir, "nodes"),
            graft.load.Store.readEntity(spark, storeDir, "edges"),
            cur.copy(constraints = Seq(c)))
          require(viol.isEmpty, {
            val n = viol.limit(1).collect().map(_.getLong(3)).headOption.getOrElse(0L)
            s"ALTER PROPERTY rejected: $label.$prop has $n existing " +
              s"row(s) violating $attr"
          })
        }
        val value = valueRaw.trim
        if (boolAttr) {
          if (value.equalsIgnoreCase("true")) {
            require(!cur.constraints.exists(same),
              s"$label.$prop is already $attr")
            val c = graft.model.ConstraintDesc(target, label, prop, kind)
            if (kind == "mandatory") validateExisting(c)
            (cur.copy(constraints = cur.constraints :+ c), 1L)
          } else if (value.equalsIgnoreCase("false")) {
            // retiring a constraint that does not exist is a client
            // error, mirroring the double-declare above — a typo'd
            // retire must not report success (ADVICE r10)
            require(cur.constraints.exists(same),
              s"$label.$prop is not $attr — nothing to retire")
            (cur.copy(constraints = cur.constraints.filterNot(same)), 1L)
          } else throw new IllegalArgumentException(
            s"ALTER PROPERTY $attr takes true|false, got '$value'")
        } else if (value.equalsIgnoreCase("null")) {
          // the dialect's retire spelling: ALTER PROPERTY T.p MIN null
          require(cur.constraints.exists(same),
            s"$label.$prop has no $attr attribute — nothing to retire")
          (cur.copy(constraints = cur.constraints.filterNot(same)), 1L)
        } else {
          val lx = new Lexer(value)
          val parsed = lx.literal()
          if (!lx.done) lx.fail(s"trailing input after $attr value")
          val arg = parsed match {
            case s: String => s
            case other =>
              require(attr != "REGEXP",
                s"ALTER PROPERTY REGEXP takes a quoted pattern, got '$value'")
              String.valueOf(other)
          }
          if (attr == "REGEXP") {
            // an uncompilable pattern is rejected HERE, not at the
            // first append (the DEFINE FUNCTION parse discipline)
            try java.util.regex.Pattern.compile(arg)
            catch { case e: java.util.regex.PatternSyntaxException =>
              throw new IllegalArgumentException(
                s"REGEXP pattern does not compile: ${e.getMessage}")
            }
          }
          if (attr == "MIN" || attr == "MAX" || attr == "DEFAULT") {
            // the literal must cast into the property's declared type
            // (ANSI semantics — 'abc' into an INTEGER bound would
            // otherwise become a silent never-firing null check)
            val dt = ls.schema.fields.find(_.name == prop).get.dataType
            val casted = clientCastErrors {
              spark.range(1).select(
                org.apache.spark.sql.functions.lit(arg).cast(dt)).head.get(0)
            }
            require(casted != null,
              s"$attr literal '$arg' does not cast to ${dt.simpleString}")
          }
          val c = graft.model.ConstraintDesc(target, label, prop, kind, Some(arg))
          if (kind != "default") validateExisting(c)
          // re-setting an attribute OVERWRITES it (ALTER semantics) —
          // unlike the boolean MANDATORY toggle, a bound is a value
          (cur.copy(constraints = cur.constraints.filterNot(same) :+ c), 1L)
        }
      }
    case DropPropertyRe(label, prop) => (spark, storeDir, _) =>
      ddl(storeDir) { cur =>
        val ls = cur.labels.find(_.label == label).getOrElse(
          throw new IllegalArgumentException(s"unknown type: $label"))
        require(ls.schema.fieldNames.contains(prop),
          s"property $label.$prop is not declared")
        val target = if (ls.kind == "vertex") "node" else "edge"
        require(!cur.indexes.exists(i =>
            i.target == target && i.label == label && i.property == prop),
          s"DROP PROPERTY rejected: an index on $label.$prop exists — DROP INDEX first")
        val held = cur.constraints.filter(c =>
          c.target == target && c.label == label && c.property == prop)
        require(held.isEmpty,
          s"DROP PROPERTY rejected: $label.$prop carries constraint(s) " +
            s"(${held.map(_.kind.toUpperCase).mkString(", ")}) — retire them first")
        val updated = ls.copy(schema =
          StructType(ls.schema.fields.filterNot(_.name == prop)))
        (cur.copy(labels = cur.labels.map(l => if (l.label == label) updated else l)), 1L)
      }
    case DropIndexRe(label, prop) => (spark, storeDir, _) =>
      graft.load.StoreLock.withWriteLock(storeDir) {
        var wasFt = false
        ddl(storeDir) { cur =>
          val dropped = cur.indexes.filter(i => i.label == label && i.property == prop)
          require(dropped.nonEmpty, s"no index on $label.$prop")
          wasFt = dropped.exists(_.fulltext)
          (cur.copy(indexes =
            cur.indexes.filterNot(i => i.label == label && i.property == prop)), 1L)
        }
        // FULL_TEXT: retire the postings entry AFTER the schema
        // removal (mirroring DROP TYPE's ordering — the schema is
        // what gates routing and maintenance, so a crash between the
        // two commits leaves at worst an unrouted, unmaintained
        // postings entry; the next label rewrite retires it)
        if (wasFt) {
          val m = graft.load.Store.readManifest(storeDir)
          if (m.ft.contains(("nodes", label, prop)))
            graft.load.Store.writeManifest(storeDir, m.withoutFt("nodes", label, prop))
          graft.load.Store.sweep(storeDir, keepPerLabel = 1)
        }
        1L
      }
    case DropFunctionRe(name) => (spark, storeDir, _) =>
      ddl(storeDir) { cur =>
        val after = cur.functions.filterNot(_.name.equalsIgnoreCase(name))
        require(after.size < cur.functions.size, s"unknown function: $name")
        (cur.copy(functions = after), 1L)
      }
    // maintenance: rewrite fragmented label partitions (the N small
    // files N single-row commands leave behind) into scan-sized files
    case CompactRe() => (spark, storeDir, _) =>
      GraphLoader.compactStore(spark, storeDir).toLong
    // BACKUP DATABASE '<dest>': pinned consistent snapshot copy;
    // writers never blocked (generations are write-once). Takes the
    // serving lease for the copy's duration, so a backup from a
    // SECOND process against a live server is refused loudly — run
    // it through the serving process (this route), whose lease nests
    case BackupRe(dest) => (spark, storeDir, ret) =>
      ret.foreach(_.readOnly = true) // fenced read, writes OUTSIDE the store
      graft.load.Store.backup(storeDir, dest)
    // REBUILD INDEX ON <T>(<p>) | * — re-derive persisted postings
    // from the current rows / re-prove UNIQUE invariants; returns
    // the number of indexes rebuilt
    case RebuildIndexRe(label, prop) => (spark, storeDir, _) =>
      rebuildIndexes(spark, storeDir, Option(label), Option(prop))
    // CHECK DATABASE [FIX] — integrity report (per-type counts,
    // UNIQUE violations, dangling endpoints, index routing,
    // generation presence) as result rows; returns the number of
    // ISSUES (0 = healthy). FIX (r16, the dialect's repair-in-place
    // option [dep arcadedb SQL]) first routes the repairable issues
    // into repairs — salvage lost generations, drop dangling edges,
    // rebuild damaged postings — all-or-nothing under ONE manifest
    // commit (GraphLoader.fixStore), then reports the post-fix
    // state: the fix rows ride first, the fresh CHECK report after,
    // and the returned count is the REMAINING issues.
    case CheckRe(tpe, bucket, fix) => (spark, storeDir, ret) =>
      // TYPE <t,…> / BUCKET <b,…> scope the REPORT to a label list
      // (r16 single, r17 comma lists — the dialect's full grammar
      // [dep arcadedb SQL]; buckets ARE label partitions here —
      // bucket b = the b-th declared label, the RidSource numbering,
      // and a bucket NAME is the label itself, so BUCKET resolves to
      // the same scoped path). FIX stays whole-store — the salvage
      // commit is ONE atomic manifest swap and a partial repair
      // would leave cross-label damage (dangling edges into an
      // unfixed label) half-addressed, so the combination is
      // refused loudly (documented divergence from the reference,
      // which accepts scoped FIX)
      val bucketTypes = Option(bucket).map { bs =>
        val gs = schemaOf(storeDir)
        bs.split(",").iterator.map(_.trim).map { b =>
          if (b.forall(_.isDigit)) {
            val i = b.toInt
            require(i >= 0 && i < gs.labels.size,
              s"unknown bucket #$i: buckets are label partitions and " +
                s"${gs.labels.size} label(s) are declared")
            gs.labels(i).label
          } else {
            require(gs.labels.exists(_.label == b),
              s"unknown bucket '$b': buckets are label partitions — name " +
                "a declared type or its ordinal")
            b
          }
        }.toSeq
      }
      val typeList = Option(tpe).map(_.split(",").map(_.trim).toSeq)
      require(typeList.isEmpty || bucketTypes.isEmpty,
        "CHECK DATABASE takes TYPE or BUCKET, not both (buckets are " +
          "label partitions — the two spellings scope the same way)")
      val scope = typeList.orElse(bucketTypes).map(_.distinct)
      require(scope.isEmpty || fix == null,
        "CHECK DATABASE TYPE/BUCKET … FIX is not supported: FIX repairs the " +
          "whole store under one manifest commit — run CHECK DATABASE FIX")
      if (fix == null) {
        ret.foreach(_.readOnly = true) // pure report, manifest untouched
        checkDatabase(spark, storeDir, ret, scope)
      } else {
        val fixed = graft.load.GraphLoader.fixStore(spark, storeDir)
        val issues = checkDatabase(spark, storeDir, ret)
        ret.foreach(r => r.images =
          Some(fixed.toArray ++ r.images.getOrElse(Array.empty[String])))
        issues
      }
    // EXPORT DATABASE '<dest>' — JSONL interchange export + schema,
    // BACKUP's fencing; returns the number of records exported
    case ExportRe(dest) => (spark, storeDir, ret) =>
      ret.foreach(_.readOnly = true) // fenced read, writes OUTSIDE the store
      graft.load.Store.exportJson(spark, storeDir, dest)
    // IMPORT DATABASE '<src>' — the inverse (r15, VERDICT r14 missing
    // #1): re-ingest an EXPORT's JSONL tree + schema.json through the
    // validated bulk-load path into THIS store, which must be fresh
    // or record-empty (ArcadeDB's empty-database requirement [dep]);
    // returns the number of records imported. The commit moves the
    // manifest seq, so a serving snapshot refreshes like any DML.
    case ImportRe(src) => (spark, storeDir, _) =>
      graft.load.GraphLoader.importJson(spark, src, storeDir)

  }

  private val record: PartialFunction[String, Record] = {
    case InsertRe(label, cols, values) => (spark, txn, _) =>
      val names = cols.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      require(names.nonEmpty, "INSERT needs a column list")
      val tuples = parseTuples(values)
      tuples.foreach(t => require(t.size == names.size,
        s"VALUES arity ${t.size} != column list arity ${names.size}"))
      append(spark, txn, label, kindOf(txn.outDir, label),
        tuples.map(t => names.zip(t).toMap))
    // the dialect's second insert shape: INSERT INTO <T> SET k = v, …
    case InsertSetRe(label, setClause) => (spark, txn, _) =>
      append(spark, txn, label, kindOf(txn.outDir, label), Seq(parseSet(setClause)))
    case CreateVertexRe(label, setClause) => (spark, txn, _) =>
      require(kindOf(txn.outDir, label) == "vertex", s"$label is not a vertex type")
      append(spark, txn, label, "vertex", Seq(parseSet(setClause)))
    case CreateEdgeRe(label, src, dst, setClause) => (spark, txn, _) =>
      require(kindOf(txn.outDir, label) == "edge", s"$label is not an edge type")
      val props = Option(setClause).map(parseSet).getOrElse(Map.empty)
      append(spark, txn, label, "edge",
        Seq(props + ("src" -> src.toLong) + ("dst" -> dst.toLong)))
    // UPDATE/DELETE: copy-on-write rewrites of the label partition with
    // the same invariants as the bulk path (UNIQUE revalidation, no
    // dangling endpoints). The WHERE grammar is the ArcadeSql dialect's.
    // UPDATE/DELETE parse character-level (the dialect's own lexer
    // semantics): a string literal holding a keyword — `SET comment =
    // 'WHERE x'` — can never mis-split the statement the way the old
    // regex capture did
    case c if c.trim.toUpperCase.startsWith("UPDATE") => (spark, txn, ret) =>
      // UPDATE <Label> SET|REMOVE|INCREMENT|CONTENT|MERGE <tail>
      // (ArcadeDB's update content forms [dep, ArcadeDB 22.8 SQL
      // update grammar, `src/pom.xml:104-108`]), all compiling onto
      // the SAME copy-on-write rewrite: REMOVE nulls properties
      // (A7: absent key ≡ null — MANDATORY re-validation fires),
      // INCREMENT adds a numeric delta, CONTENT replaces the whole
      // declared property content (unmentioned props null out, keys/
      // topology survive — ArcadeDB keeps the @rid), MERGE sets just
      // the mentioned props. The SET tail is the dialect grammar —
      // values are full expressions over the row, and a string
      // literal holding a keyword can never mis-split the statement.
      val lx = new Lexer(c)
      lx.keyword("UPDATE")
      val label = lx.ident()
      val gs = schemaOf(txn.outDir)
      val kind = kindOf(gs, label)
      val op = lx.ident().toUpperCase
      if (op != "SET")
        executeUpdateForm(spark, txn, label, kind, op, lx.rest(), gs, ret)
      else {
        val spec = graft.query.ArcadeSql.updateSpec(lx.rest())
        val wantImages = spec.returning.exists(r => r == "BEFORE" || r == "AFTER")
        if (wantImages) {
          require(ret.nonEmpty,
            "RETURN BEFORE/AFTER is a single-command response form — inside a " +
              "batch or session transaction use RETURN COUNT")
          require(!spec.upsert,
            "RETURN BEFORE/AFTER does not combine with UPSERT (the inserted " +
              "row has no before image) — use RETURN COUNT")
        }
        clientCastErrors {
          val (n, imgs) = GraphLoader.updateColumnsReturning(spark, txn,
            label, kind, spec.sets.toMap,
            spec.where.getOrElse(org.apache.spark.sql.functions.lit(true)),
            if (wantImages) spec.returning else None,
            spec.retSkip, spec.retLimit)
          ret.foreach(_.images = imgs)
          if (n == 0 && spec.upsert) {
            // UPSERT with an empty match inserts the record instead:
            // SET literals over the WHERE equality pairs (UpdateSpec
            // scaladoc) — routed through the validated append sink, so
            // id/UNIQUE/endpoint invariants hold exactly like INSERT
            val rec = spec.insertRecord.getOrElse(throw new IllegalArgumentException(
              "UPSERT insert needs literal SET values and a WHERE of `field = literal` " +
                "conjuncts only (the inserted row must satisfy its own predicate)"))
            append(spark, txn, label, kind, Seq(rec))
          } else n
        }
      }
    case c if c.trim.toUpperCase.startsWith("DELETE") => (spark, txn, _) =>
      val (label, where, requiredKind) = parseDelete(c)
      val kind = kindOf(txn.outDir, label)
      requiredKind.foreach(k => require(k == kind,
        s"DELETE ${k.toUpperCase}: $label is a $kind type"))
      clientCastErrors {
        GraphLoader.deleteRecords(spark, txn, label, kind,
          where.map(graft.query.ArcadeSql.predicate))
      }
    // TRUNCATE TYPE <T>: empty the type, keep its declaration — a
    // whole-label DELETE. The vertex path keeps the store's
    // no-dangling-edge invariant (the DELETE probe); the reference's
    // UNSAFE escape hatch would leave dangling endpoints, which this
    // store refuses BY DESIGN — fail loudly rather than corrupt
    // referential integrity
    case TruncateRe(label, unsafe) => (spark, txn, _) =>
      require(unsafe == null,
        "TRUNCATE TYPE ... UNSAFE is not supported: it would leave dangling " +
          "edge endpoints, which this store never holds — delete or truncate " +
          "the referencing edge types first, then TRUNCATE without UNSAFE")
      GraphLoader.deleteRecords(spark, txn, label, kindOf(txn.outDir, label), None)
  }

  /** The non-SET update content forms, compiled onto
    * [[GraphLoader.updateColumnsReturning]]'s rewrite (so READONLY/immutable/
    * UNIQUE/constraint invariants hold identically):
    *
    *   UPDATE T REMOVE f [, g]      [WHERE p]   → f, g ← null
    *   UPDATE T REMOVE f = v        [WHERE p]   → f ← f minus element v
    *     (collection form — null collection stays null, like ArcadeDB)
    *   UPDATE T ADD f = v [, …]     [WHERE p]   → f ← f ++ [v]
    *     (append to a LIST property; a null collection initializes to
    *     [v], the create-on-add rule)
    *   UPDATE T PUT f = k, v [, …]  [WHERE p]   → f[k] ← v
    *     (MAP property put — overwrite semantics via map_filter +
    *     map_concat, so the engine's duplicate-key EXCEPTION policy
    *     can never fire)
    *   UPDATE T INCREMENT f = n [, …] [WHERE p] → f ← f + n
    *   UPDATE T CONTENT {json}      [WHERE p]   → declared props ←
    *     json value or null (full content replacement, keys survive)
    *   UPDATE T MERGE {json}        [WHERE p]   → mentioned props ← value
    *
    * JSON values are scalars (string/number/boolean/null) — nested
    * objects/arrays are refused loudly, matching the flat property
    * model. ADD/REMOVE-element/PUT literals cast to the DECLARED
    * element/value type (the lattice cast, loud on mismatch). UPSERT
    * applies to the SET form only. */
  private def executeUpdateForm(spark: SparkSession, txn: StoreTxn,
      label: String, kind: String, op: String, tail: String, gs: GraphSchema,
      ret: Option[ReturnSink]): Long = {
    import org.apache.spark.sql.functions.{array, array_append, array_remove,
      coalesce, col, lit, map_concat, map_filter, when, map => mapOf}
    val declaredSchema = gs.labels.find(_.label == label).map(_.schema)
      .getOrElse(throw new IllegalArgumentException(s"unknown label: $label"))
    val declared = declaredSchema.fieldNames.toSet
    def declaredType(f: String): DataType =
      declaredSchema.fields.find(_.name == f).map(_.dataType).getOrElse(
        throw new IllegalArgumentException(s"property $label.$f is not declared"))
    // the content forms share the SET form's RETURN grammar: an
    // optional `RETURN BEFORE|AFTER|COUNT` sits before WHERE
    var formReturn: Option[String] = None
    def whereOf(rest: String): org.apache.spark.sql.Column = {
      val t = rest.trim
      if (t.isEmpty) lit(true)
      else {
        val wlx = new Lexer(t)
        wlx.ws()
        val save = wlx.i
        if (wlx.peek.isLetter && wlx.ident().equalsIgnoreCase("RETURN")) {
          val r = wlx.ident().toUpperCase
          require(r == "BEFORE" || r == "AFTER" || r == "COUNT",
            s"RETURN expects BEFORE, AFTER or COUNT, got $r")
          formReturn = Some(r)
        } else wlx.i = save
        if (wlx.done) lit(true)
        else {
          wlx.keyword("WHERE")
          graft.query.ArcadeSql.predicate(wlx.rest())
        }
      }
    }
    val (sets, where): (Map[String, org.apache.spark.sql.Column],
        org.apache.spark.sql.Column) = op match {
      case "REMOVE" =>
        // two spellings per item: `f` nulls the property out (A7:
        // absent ≡ null), `f = v` removes ELEMENT v from a collection
        // property (the OrientDB-lineage form ArcadeDB keeps)
        val lx = new Lexer(tail)
        val items = scala.collection.mutable.ArrayBuffer[(String, Option[Any])]()
        var more = true
        while (more) {
          val f = lx.ident(); lx.ws()
          if (lx.peek == '=') { lx.i += 1; items += f -> Some(lx.literal()) }
          else items += f -> None
          lx.ws()
          if (lx.peek == ',') lx.i += 1 else more = false
        }
        val sets = items.map {
          // untyped NullType lit: the rewrite casts it to the field's
          // declared type, and NullType→array/map casts are legal where
          // string→array is not (code-review r12 #2)
          case (f, None) => f -> lit(null)
          case (f, Some(v)) => declaredType(f) match {
            case ArrayType(et, _) => f -> array_remove(col(f), lit(v).cast(et))
            case MapType(kt, _, _) => // map spelling: drop KEY v
              f -> map_filter(col(f), (mk, _) => mk =!= lit(v).cast(kt))
            case other => throw new IllegalArgumentException(
              s"REMOVE $f = <value> needs a LIST or MAP property; $label.$f is " +
                other.simpleString)
          }
        }.toMap
        (sets, whereOf(lx.rest()))
      case "ADD" =>
        // append to a LIST property; null collection initializes to
        // [v] (ArcadeDB's create-on-add rule — bare array_append on a
        // null collection would stay null, the INCREMENT trap)
        val lx = new Lexer(tail)
        val pairs = scala.collection.mutable.ArrayBuffer[(String, Any)]()
        var more = true
        while (more) {
          val f = lx.ident(); lx.expect('='); pairs += f -> lx.literal()
          lx.ws()
          if (lx.peek == ',') lx.i += 1 else more = false
        }
        val sets = pairs.map { case (f, v) =>
          declaredType(f) match {
            case ArrayType(et, _) =>
              val e = lit(v).cast(et)
              f -> when(col(f).isNull, array(e)).otherwise(array_append(col(f), e))
            case other => throw new IllegalArgumentException(
              s"ADD needs a LIST property; $label.$f is ${other.simpleString}")
          }
        }.toMap
        (sets, whereOf(lx.rest()))
      case "PUT" =>
        // MAP put: `PUT f = k, v [, g = k2, v2]` — the two literals
        // after each `=` are the entry, so the comma grammar stays
        // unambiguous; overwrite = drop the old key (map_filter) then
        // concat, which keeps Spark's duplicate-map-key EXCEPTION
        // policy unreachable
        val lx = new Lexer(tail)
        val entries = scala.collection.mutable.ArrayBuffer[(String, Any, Any)]()
        var more = true
        while (more) {
          val f = lx.ident(); lx.expect('=')
          val k = lx.literal(); lx.expect(','); val v = lx.literal()
          entries += ((f, k, v))
          lx.ws()
          if (lx.peek == ',') lx.i += 1 else more = false
        }
        val sets = entries.groupBy(_._1).map { case (f, es) =>
          declaredType(f) match {
            case MapType(kt, vt, _) =>
              f -> es.foldLeft(col(f)) { case (acc, (_, k, v)) =>
                val key = lit(k).cast(kt)
                val put = mapOf(key, lit(v).cast(vt))
                when(acc.isNull, put).otherwise(
                  map_concat(map_filter(acc, (mk, _) => mk =!= key), put))
              }
            case other => throw new IllegalArgumentException(
              s"PUT needs a MAP property; $label.$f is ${other.simpleString}")
          }
        }
        (sets, whereOf(lx.rest()))
      case "INCREMENT" =>
        val lx = new Lexer(tail)
        val pairs = scala.collection.mutable.ArrayBuffer[(String, Any)]()
        var more = true
        while (more) {
          val f = lx.ident(); lx.expect('='); pairs += f -> lx.literal()
          lx.ws()
          if (lx.peek == ',') lx.i += 1 else more = false
        }
        // null/absent counter initializes to the delta (ArcadeDB's
        // INCREMENT-creates-the-field rule [dep, SQL update grammar]) —
        // bare col(f) + delta would pin a once-REMOVEd counter to null
        // forever (code-review r12 #3)
        val sets = pairs.map { case (f, v) =>
          v match {
            case n: Long => f -> (coalesce(col(f), lit(0L)) + lit(n))
            case d: Double => f -> (coalesce(col(f), lit(0d)) + lit(d))
            case other => throw new IllegalArgumentException(
              s"INCREMENT takes numeric deltas, got '$other' for $f")
          }
        }.toMap
        (sets, whereOf(lx.rest()))
      case "CONTENT" | "MERGE" =>
        val (json, rest) = splitJsonObject(tail)
        val content = parseFlatJson(json, op)
        val unknown = content.keySet -- declared
        require(unknown.isEmpty,
          s"$op rejected: ${unknown.mkString(", ")} not declared on $label " +
            "(keys/topology cannot be set through content forms)")
        val sets =
          if (op == "MERGE") content.map { case (k, v) => k -> lit(v) }
          else declared.map(k => // full replacement: unmentioned → null
            k -> content.get(k).map(lit).getOrElse(lit(null))).toMap
        (sets, whereOf(rest))
      case other => throw new IllegalArgumentException(
        s"unsupported UPDATE operation $other (expected SET, REMOVE, ADD, " +
          "PUT, INCREMENT, CONTENT, or MERGE)")
    }
    val wantImages = formReturn.exists(r => r == "BEFORE" || r == "AFTER")
    if (wantImages) require(ret.nonEmpty,
      "RETURN BEFORE/AFTER is a single-command response form — inside a " +
        "batch or session transaction use RETURN COUNT")
    clientCastErrors {
      val (n, imgs) = GraphLoader.updateColumnsReturning(spark, txn, label,
        kind, sets, where, if (wantImages) formReturn else None)
      ret.foreach(_.images = imgs)
      n
    }
  }

  /** Split a `sqlscript` batch into its statements on TOP-LEVEL
    * semicolons: quoted literals (the dialect's ''-escaped single
    * quotes AND the content forms' double-quoted JSON strings) are
    * opaque, so a `;` inside either never mis-splits. Empty statements
    * (a trailing `;`, blank lines) are dropped. The server routes the
    * result through the same atomic batch as `{"commands": […]}`. */
  def splitScript(script: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    val cur = new StringBuilder
    var i = 0
    var quote: Char = 0 // 0 = top level, else the active quote char
    while (i < script.length) {
      val ch = script(i)
      if (quote != 0) {
        cur.append(ch)
        if (ch == quote) {
          // '' escapes a quote INSIDE a single-quoted literal
          if (quote == '\'' && i + 1 < script.length && script(i + 1) == '\'') {
            cur.append('\''); i += 1
          } else quote = 0
        } else if (quote == '"' && ch == '\\' && i + 1 < script.length) {
          cur.append(script(i + 1)); i += 1 // json escape
        }
      } else ch match {
        case '\'' | '"' => quote = ch; cur.append(ch)
        case ';' => out += cur.toString; cur.clear()
        case c => cur.append(c)
      }
      i += 1
    }
    out += cur.toString
    require(quote == 0, "sqlscript has an unterminated quoted literal")
    val stmts = out.map(_.trim).filter(_.nonEmpty).toSeq
    require(stmts.nonEmpty, "empty sqlscript")
    stmts
  }

  /** Split `{…json…} [tail]`, matching the object's braces while
    * respecting double-quoted strings with escapes — a WHERE keyword
    * inside a JSON string can never mis-split the statement. */
  private def splitJsonObject(s: String): (String, String) = {
    val start = s.indexOf('{')
    require(start >= 0 && s.take(start).trim.isEmpty,
      "CONTENT/MERGE take a {…} JSON object")
    var i = start; var depth = 0; var inStr = false
    while (i < s.length) {
      val ch = s(i)
      if (inStr) {
        if (ch == '\\') i += 1
        else if (ch == '"') inStr = false
      } else ch match {
        case '"' => inStr = true
        case '{' => depth += 1
        case '}' =>
          depth -= 1
          if (depth == 0) return (s.substring(start, i + 1), s.substring(i + 1))
        case _ =>
      }
      i += 1
    }
    throw new IllegalArgumentException("unterminated JSON object")
  }

  /** A flat JSON object as property literals; nested structures are
    * refused (flat property model). */
  private def parseFlatJson(json: String, op: String): Map[String, Any] = {
    import org.json4s._
    val parsed = try org.json4s.jackson.JsonMethods.parse(json)
    catch { case e: Exception => throw new IllegalArgumentException(
      s"$op JSON does not parse: ${e.getMessage}") }
    parsed match {
      case JObject(fields) => fields.map { case (k, v) =>
        k -> (v match {
          case JString(x) => x
          case JInt(x) => x.toLong
          case JLong(x) => x
          case JDouble(x) => x
          case JDecimal(x) => x.toDouble
          case JBool(x) => x
          case JNull => null
          case other => throw new IllegalArgumentException(
            s"$op values must be scalars; $k is ${other.getClass.getSimpleName}")
        })
      }.toMap
      case _ => throw new IllegalArgumentException(s"$op takes a JSON object")
    }
  }

  /** `REBUILD INDEX ON <T>(<p>)` / `REBUILD INDEX *` [dep arcadedb
    * SQL]: FULL_TEXT indexes recompute their postings from the label's
    * CURRENT rows — a fresh postings generation + ONE manifest commit
    * per index, the repair route for a crash-orphaned or externally
    * damaged postings set (never an in-place mutation); UNIQUE indexes
    * re-prove their invariant over the stored rows and fail LOUDLY on
    * violations (a rebuild never papers over duplicates); NOTUNIQUE
    * indexes are declarative routing metadata with no stored artifact
    * — counted, nothing to re-derive. Returns the number of indexes
    * rebuilt. */
  private def rebuildIndexes(spark: SparkSession, storeDir: String,
      label: Option[String], prop: Option[String]): Long =
    graft.load.StoreLock.withWriteLock(storeDir) {
      val gs = schemaOf(storeDir)
      val targets = gs.indexes.filter(i =>
        label.forall(_.equalsIgnoreCase(i.label)) &&
          prop.forall(_.equalsIgnoreCase(i.property)))
      require(label.isEmpty || targets.nonEmpty,
        s"no index on ${label.getOrElse("?")}(${prop.getOrElse("?")})")
      var m = graft.load.Store.readManifest(storeDir)
      var ftRebuilt = false
      targets.foreach { ix =>
        if (ix.fulltext) {
          val rows = graft.load.Store.readLabel(spark, storeDir, "nodes", ix.label, m)
            .map(df => if (df.columns.contains(ix.property)) df
              else df.withColumn(ix.property, // declared, no file carries it yet
                org.apache.spark.sql.functions.lit(null)
                  .cast(org.apache.spark.sql.types.StringType)))
            .getOrElse(spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              org.apache.spark.sql.types.StructType(Seq(
                org.apache.spark.sql.types.StructField("id",
                  org.apache.spark.sql.types.LongType),
                org.apache.spark.sql.types.StructField(ix.property,
                  org.apache.spark.sql.types.StringType)))))
          val post = graft.load.FullText.postings(rows, ix.property)
          val gen = graft.load.Store.writeFtGen(
            storeDir, "nodes", ix.label, ix.property, m.seq + 1, post)
          m = m.withFtGen("nodes", ix.label, ix.property, gen)
          ftRebuilt = true
        } else if (ix.unique && ix.isBuildable) {
          val probe = gs.copy(indexes = Seq(ix))
          val viol = GraphLoader.validateUnique(
            graft.load.Store.readEntity(spark, storeDir, "nodes"),
            graft.load.Store.readEntity(spark, storeDir, "edges"), probe)
          require(viol.isEmpty, {
            val sample = viol.limit(3).collect().map(_.get(2)).mkString(", ")
            s"REBUILD INDEX: UNIQUE ${ix.label}.${ix.property} is violated " +
              s"by stored rows (e.g. $sample)"
          })
        }
      }
      if (ftRebuilt) graft.load.Store.writeManifest(storeDir, m)
      targets.size.toLong
    }

  /** `CHECK DATABASE [TYPE <t>]` [dep arcadedb SQL]: the integrity
    * report — per-type record counts, UNIQUE-index violations,
    * declared check-constraint violations, dangling edge endpoints,
    * full-text index routing (declared vs manifest-routed postings,
    * both directions), and referenced-generation presence on disk.
    * Report rows ride the [[ReturnSink]] images channel (the RETURN
    * BEFORE/AFTER transport), so the HTTP single-command route answers
    * query-style; the returned count is the number of ISSUES (0 =
    * healthy). Every check is an aggregate over the store read — no
    * driver-side row iteration.
    *
    * `typeFilter` (r16 single label, r17 comma lists) scopes the
    * report to the named labels: their generations (plus every node
    * generation when the scope includes an edge type — the dangling
    * probe reads node ids), their indexes and constraints, their
    * record counts, their postings routing. Scoped reads touch ONLY
    * the scoped generations, so a damaged out-of-scope label can
    * never crash an in-scope report — the per-type triage a big
    * multi-tenant store needs. The dangling check is an edge-set
    * property: an edge type in scope checks that type's endpoints, a
    * vertex-only scope skips it (unscoped CHECK covers it). */
  private def checkDatabase(spark: SparkSession, storeDir: String,
      ret: Option[ReturnSink], typeFilter: Option[Seq[String]] = None): Long = {
    import org.apache.spark.sql.functions.{col, count, lit}
    def js(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => ""; case c => c.toString
    } + "\""
    val gsAll = schemaOf(storeDir)
    typeFilter.toSeq.flatten.foreach(t => require(gsAll.labels.exists(_.label == t),
      s"unknown type: $t"))
    def inScope(l: String): Boolean = typeFilter.forall(_.contains(l))
    // scoped checks see only the scoped labels' indexes/constraints
    val gs = typeFilter match {
      case None => gsAll
      case Some(_) => gsAll.copy(
        indexes = gsAll.indexes.filter(i => inScope(i.label)),
        constraints = gsAll.constraints.filter(c => inScope(c.label)))
    }
    // the scoped labels split by kind: vertex labels drive the node
    // frame, edge labels drive the edge frame AND pull the full node
    // read for the dangling probe
    val scopedVertex = typeFilter.map(_.filter(t =>
      gsAll.labels.find(_.label == t).get.kind == "vertex"))
    val scopedEdge = typeFilter.map(_.filter(t =>
      gsAll.labels.find(_.label == t).get.kind != "vertex"))
    val edgeInScope = scopedEdge.exists(_.nonEmpty)
    val m = graft.load.Store.readManifest(storeDir)
    val report = scala.collection.mutable.ArrayBuffer[String]()
    var issues = 0L
    // FIRST: every generation directory THIS report will read must
    // exist on disk — the check GATES the row scans (a scan over a
    // manifest that points at deleted files would crash the report
    // instead of producing it). Scope-aware: the scoped label's data
    // and postings gens, plus every node gen when the scope is an edge
    // type (the dangling probe reads node ids).
    val missing = {
      val dataPaths = Seq("nodes", "edges").flatMap { e =>
        m.gens(e).toSeq.flatMap { case (l, gens) =>
          val need = inScope(l) || (e == "nodes" && edgeInScope)
          if (need) gens.map(g =>
            graft.load.Store.genDir(storeDir, e, l, g).toString)
          else Nil
        }
      }
      val ftPaths = m.ft.toSeq.flatMap { case ((e, l, p), gens) =>
        if (inScope(l)) gens.map(g =>
          graft.load.Store.ftDir(storeDir, e, l, p, g).toString)
        else Nil
      }
      (dataPaths ++ ftPaths)
        .filterNot(p => java.nio.file.Files.isDirectory(java.nio.file.Paths.get(p)))
    }
    missing.foreach { p =>
      issues += 1
      report += s"""{"check":"missing_generation","path":${js(p)}}"""
    }
    if (missing.isEmpty) {
      // a frame the validators may receive but must never scan: no
      // in-scope index/constraint targets it (schema-only probe)
      def emptyLabeled = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("label",
            org.apache.spark.sql.types.StringType))))
      def scopedFrame(entity: String, label: String) =
        graft.load.Store.readLabel(spark, storeDir, entity, label, m)
          .map(_.withColumn("label", lit(label))).getOrElse(emptyLabeled)
      // heterogeneous label schemas union by name (absent columns
      // null-fill; every validator filters by label before touching a
      // property column, so the fill is never read cross-label)
      def unionFrames(entity: String, labels: Seq[String]) = labels
        .map(scopedFrame(entity, _))
        .reduceOption(_.unionByName(_, allowMissingColumns = true))
        .getOrElse(emptyLabeled)
      val nodes = typeFilter match {
        case None => graft.load.Store.readEntity(spark, storeDir, "nodes")
        case Some(_) => unionFrames("nodes", scopedVertex.get)
      }
      val edges = typeFilter match {
        case None => graft.load.Store.readEntity(spark, storeDir, "edges")
        case Some(_) => unionFrames("edges", scopedEdge.get)
      }
      // the dangling probe needs EVERY stored node id whenever an edge
      // type is in scope — scoped vertex frames don't cover the
      // endpoints of other labels' nodes
      val danglingIds =
        if (typeFilter.isEmpty) nodes
        else if (edgeInScope) graft.load.Store.readEntity(spark, storeDir, "nodes")
        else emptyLabeled
      // per-type record counts (the reference's per-type totals)
      val recordFrames = typeFilter match {
        case None => Seq("nodes" -> nodes, "edges" -> edges)
        case Some(_) =>
          (if (scopedVertex.get.nonEmpty) Seq("nodes" -> nodes) else Nil) ++
            (if (scopedEdge.get.nonEmpty) Seq("edges" -> edges) else Nil)
      }
      recordFrames.foreach { case (entity, df) =>
        df.groupBy(col("label")).agg(count(lit(1)).as("n")).collect()
          .sortBy(_.getString(0)).foreach { r =>
            report += s"""{"check":"records","entity":${js(entity)},""" +
              s""""label":${js(r.getString(0))},"n":${r.getLong(1)}}"""
          }
      }
      // UNIQUE invariants over the stored rows (A15 semantics)
      GraphLoader.validateUnique(nodes, edges, gs).collect().foreach { r =>
        issues += 1
        report += s"""{"check":"unique_violation","label":${js(r.getString(0))},""" +
          s""""property":${js(r.getString(1))},"value":${js(r.getString(2))},""" +
          s""""cnt":${r.getLong(3)}}"""
      }
      // declared check constraints (ALTER PROPERTY family)
      GraphLoader.validateConstraints(nodes, edges, gs).collect().foreach { r =>
        issues += 1
        report += s"""{"check":"constraint_violation","label":${js(r.getString(0))},""" +
          s""""property":${js(r.getString(1))},"kind":${js(r.getString(2))},""" +
          s""""cnt":${r.getLong(3)}}"""
      }
      // dangling endpoints: every edge endpoint must be a stored node
      // id (the store's no-dangling invariant — a hit here means
      // external damage, exactly what CHECK exists to surface). An
      // edge-set property: runs unscoped and for edge-type scopes —
      // and only when the edge frame actually HAS endpoints (a scoped
      // edge type with no stored generations falls back to the
      // schema-only empty frame, which has nothing to probe)
      if ((typeFilter.isEmpty || edgeInScope) && edges.columns.contains("src")) {
        val ids = danglingIds.select(col("id"))
        val dangSrc = edges.join(ids.withColumnRenamed("id", "src"),
          Seq("src"), "left_anti").count()
        val dangDst = edges.join(ids.withColumnRenamed("id", "dst"),
          Seq("dst"), "left_anti").count()
        if (dangSrc + dangDst > 0) {
          issues += dangSrc + dangDst
          report += s"""{"check":"dangling_edges","src":$dangSrc,"dst":$dangDst}"""
        }
      }
    }
    // full-text routing, both directions: a DECLARED index without
    // manifest postings cannot serve (real issue — the build-order
    // contract says this never happens short of damage); manifest
    // postings without a declaration are the documented benign crash
    // residue of CREATE INDEX FULL_TEXT (reported, not an issue).
    // Buildable node indexes only — a declared-but-skipped index (A15
    // array class / edge target) has no postings BY DESIGN and must
    // not read as damage (r16 review: FIX mirrors the same filter).
    gs.indexes.filter(ix =>
        ix.fulltext && ix.target == "node" && ix.isBuildable).foreach { ix =>
      if (!m.ft.contains(("nodes", ix.label, ix.property))) {
        issues += 1
        report += s"""{"check":"fulltext_unrouted","label":${js(ix.label)},""" +
          s""""property":${js(ix.property)}}"""
      }
    }
    m.ft.keys.toSeq.sorted.foreach { case (e, l, p) =>
      if (inScope(l) &&
          !gsAll.indexes.exists(i => i.fulltext && i.label == l && i.property == p))
        report += s"""{"check":"fulltext_undeclared","entity":${js(e)},""" +
          s""""label":${js(l)},"property":${js(p)}}"""
    }
    val scopeJson =
      typeFilter.map(ts => s""","type":${js(ts.mkString(","))}""").getOrElse("")
    report += s"""{"check":"summary","issues":$issues,"seq":${m.seq}$scopeJson}"""
    ret.foreach(_.images = Some(report.toArray))
    issues
  }

  /** Apply a schema mutation under the store write lock and persist it
    * atomically (tmp file + ATOMIC_MOVE — a concurrent schema read
    * sees the old or the new registry, never a torn file). */
  /** CREATE INDEX … FULL_TEXT — the reference's third index kind
    * [dep arcadedb SQL], served by a persisted postings table
    * ([[graft.load.FullText]]). Postings over EXISTING rows commit to
    * the MANIFEST first, the schema declaration lands second: a crash
    * between the two leaves an undeclared (unrouted, unmaintained)
    * postings entry that a re-CREATE replaces — never a declared index
    * whose postings are missing or append-only partial. Node labels
    * only: edge records are endpoint-identified and carry no `id` to
    * post against (same documented scope as record-id lookups). */
  private def createFullTextIndex(spark: SparkSession, storeDir: String,
      label: String, prop: String): Long =
    graft.load.StoreLock.withWriteLock(storeDir) {
      val cur = schemaOf(storeDir)
      val ls = cur.labels.find(_.label == label).getOrElse(
        throw new IllegalArgumentException(s"unknown type: $label"))
      require(ls.kind == "vertex",
        s"FULL_TEXT index rejected: $label is an edge type — edge records are " +
          "endpoint-identified and carry no record id to post against")
      val field = ls.schema.fields.find(_.name == prop).getOrElse(
        throw new IllegalArgumentException(
          s"property $label.$prop is not declared — CREATE PROPERTY first"))
      require(field.dataType == org.apache.spark.sql.types.StringType,
        s"FULL_TEXT index needs a STRING property; $label.$prop is " +
          field.dataType.simpleString)
      require(!cur.indexes.exists(i =>
          i.target == "node" && i.label == label && i.property == prop),
        s"index on $label.$prop already exists")
      val m = graft.load.Store.readManifest(storeDir)
      val rows = graft.load.Store.readLabel(spark, storeDir, "nodes", label, m)
        .map(df => if (df.columns.contains(prop)) df
          else df.withColumn(prop, // declared by DDL, no file carries it yet
            org.apache.spark.sql.functions.lit(null)
              .cast(org.apache.spark.sql.types.StringType)))
        .getOrElse(spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField(prop,
              org.apache.spark.sql.types.StringType)))))
      val post = graft.load.FullText.postings(rows, prop)
      val gen = graft.load.Store.writeFtGen(storeDir, "nodes", label, prop, m.seq + 1, post)
      graft.load.Store.writeManifest(storeDir, m.withFtGen("nodes", label, prop, gen))
      ddl(storeDir) { cur2 =>
        (cur2.copy(indexes = cur2.indexes :+ graft.model.IndexDesc(
          "node", label, prop, unique = false, isArray = false, fulltext = true)), 1L)
      }
    }

  private def ddl(storeDir: String)(
      f: GraphSchema => (GraphSchema, Long)): Long =
    graft.load.StoreLock.withWriteLock(storeDir) {
      val path = java.nio.file.Paths.get(s"$storeDir/schema.json")
      val (updated, n) =
        f(graft.model.GraphSchema.fromJson(java.nio.file.Files.readString(path)))
      if (n > 0) {
        val tmp = java.nio.file.Paths.get(
          s"$storeDir/.schema.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
        java.nio.file.Files.writeString(tmp, updated.toJson)
        java.nio.file.Files.move(tmp, path,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        // schema changes are transactional state: advance the manifest
        // seq so an open session transaction conflicts instead of
        // committing against a catalog it never saw (Store.bumpSeq)
        graft.load.Store.bumpSeq(storeDir)
      }
      n
    }

  /** The dialect's property-type names onto the engine's lattice (A8). */
  private def ddlType(name: String): DataType = name.toUpperCase match {
    case "STRING" => StringType
    case "INTEGER" | "INT" => IntegerType
    case "LONG" => LongType
    case "SHORT" => ShortType
    case "BYTE" => ByteType
    case "FLOAT" => FloatType
    case "DOUBLE" => DoubleType
    case "BOOLEAN" => BooleanType
    case "DATE" => DateType
    case "DATETIME" => TimestampType
    case "LIST" => ArrayType(StringType)
    case "MAP" => MapType(StringType, StringType)
    case other => throw new IllegalArgumentException(s"unsupported property type: $other")
  }

  private def append(spark: SparkSession, txn: StoreTxn, label: String,
      kind: String, records: Seq[Map[String, Any]]): Long = {
    val isNode = kind == "vertex"
    if (isNode) records.foreach(r => require(r.contains("id"),
      "node insert needs an explicit id (ids are the graph's join keys)"))
    else records.foreach(r => require(r.contains("src") && r.contains("dst"),
      "edge insert needs src and dst"))
    val columns = records.flatMap(_.keys).distinct :+ "label"
    val rows = records.map(r => Row.fromSeq(
      columns.map(c => if (c == "label") label else r.get(c).orNull)))
    val schema = StructType(columns.map { c =>
      val t = records.flatMap(_.get(c)).collectFirst {
        case _: Long => LongType
        case _: Double => DoubleType
        case _: Boolean => BooleanType
        case _: String => StringType
      }.getOrElse(StringType) // null-only column: appendNodes casts it
      StructField(c, if (c == "label") StringType else t)
    })
    val batch: DataFrame = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      schema)
    clientCastErrors {
      if (isNode) GraphLoader.appendNodes(spark, txn, batch)
      else GraphLoader.appendEdges(spark, txn, batch)
    }
    records.size.toLong
  }

  /** ANSI-mode cast of a type-garbage literal (e.g. a string into a
    * bigint column) fails at validation time — a client error (HTTP
    * 400), not a server fault. */
  private def clientCastErrors[T](f: => T): T =
    try f catch {
      case e: Exception if e.getMessage != null &&
          e.getMessage.contains("CAST_INVALID_INPUT") =>
        throw new IllegalArgumentException(
          s"bad literal for column type: ${e.getMessage.linesIterator.next()}")
    }

  // ---- literal lexing (strings may contain commas and parens) ----

  private final class Lexer(s: String) {
    var i = 0
    def ws(): Unit = while (i < s.length && s(i).isWhitespace) i += 1
    def done: Boolean = { ws(); i >= s.length }
    def peek: Char = if (i < s.length) s(i) else '\u0000'
    def expect(c: Char): Unit = {
      ws()
      if (peek != c) fail(s"expected '$c'")
      i += 1
    }
    def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"DML parse error at offset $i: $msg")

    def ident(): String = {
      ws()
      val start = i
      while (i < s.length && (s(i).isLetterOrDigit || s(i) == '_')) i += 1
      if (i == start) fail("expected identifier")
      s.substring(start, i)
    }

    def keyword(k: String): Unit = {
      val id = ident()
      if (!id.equalsIgnoreCase(k)) fail(s"expected $k, got '$id'")
    }

    def rest(): String = s.substring(i)

    def literal(): Any = {
      ws()
      peek match {
        case '\'' =>
          i += 1
          val sb = new StringBuilder
          var closed = false
          while (!closed) {
            if (i >= s.length) fail("unterminated string")
            if (s(i) == '\'') {
              if (i + 1 < s.length && s(i + 1) == '\'') { sb.append('\''); i += 2 }
              else { closed = true; i += 1 }
            } else { sb.append(s(i)); i += 1 }
          }
          sb.toString
        case c if c == '-' || c.isDigit =>
          val start = i
          i += 1
          while (i < s.length && (s(i).isDigit || s(i) == '.')) i += 1
          val t = s.substring(start, i)
          if (t.contains('.')) t.toDouble else t.toLong
        case _ =>
          ident().toLowerCase match {
            case "true" => true
            case "false" => false
            case "null" => null
            case other => fail(s"unexpected literal '$other'")
          }
      }
    }
  }

  /** `DELETE FROM <Label> [WHERE <pred>]`, plus the OrientDB-lineage
    * spellings ArcadeDB keeps: `DELETE VERTEX <Label>` /
    * `DELETE EDGE <Label>` — those also assert the label's kind.
    * Returns (label, where, requiredKind). */
  private def parseDelete(cmd: String): (String, Option[String], Option[String]) = {
    val lx = new Lexer(cmd)
    lx.keyword("DELETE")
    val requiredKind = lx.ident().toUpperCase match {
      case "FROM" => None
      case "VERTEX" => Some("vertex")
      case "EDGE" => Some("edge")
      case other => lx.fail(s"expected FROM, VERTEX, or EDGE after DELETE, got '$other'")
    }
    val label = lx.ident()
    val where =
      if (lx.done) None
      else { lx.keyword("WHERE"); Some(lx.rest()) }
    (label, where, requiredKind)
  }

  /** `(v, …)[, (v, …)]…` */
  private def parseTuples(s: String): Seq[Seq[Any]] = {
    val lx = new Lexer(s)
    val out = scala.collection.mutable.ArrayBuffer[Seq[Any]]()
    var more = true
    while (more) {
      lx.expect('(')
      val tuple = scala.collection.mutable.ArrayBuffer[Any]()
      tuple += lx.literal()
      lx.ws()
      while (lx.peek == ',') { lx.i += 1; tuple += lx.literal(); lx.ws() }
      lx.expect(')')
      out += tuple.toSeq
      lx.ws()
      if (lx.peek == ',') lx.i += 1 else more = false
    }
    if (!lx.done) lx.fail("trailing input after VALUES tuples")
    out.toSeq
  }

  /** `k = v[, k = v]…` */
  private def parseSet(s: String): Map[String, Any] = {
    val lx = new Lexer(s)
    val out = scala.collection.mutable.LinkedHashMap[String, Any]()
    var more = true
    while (more) {
      val k = lx.ident()
      lx.expect('=')
      out(k) = lx.literal()
      lx.ws()
      if (lx.peek == ',') lx.i += 1 else more = false
    }
    if (!lx.done) lx.fail("trailing input after SET clause")
    out.toMap
  }
}
