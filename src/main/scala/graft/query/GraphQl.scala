package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** GraphQL read surface (SURVEY §2.B: the reference serves GraphQL as
  * one of its two query languages, `src/pom.xml:109-113`
  * arcadedb-graphql). The subset mirrors what that module generates
  * from a graph schema: one object query per node label, equality
  * arguments over properties, and relationship fields that follow an
  * edge label one hop — here spelled `out_<EDGE>` / `in_<EDGE>` /
  * `both_<EDGE>` (with optional GraphQL alias), since our schema keeps
  * edge endpoints untyped. Stock-client affordances ride on top:
  * `__typename` in any selection set (round 12), named fragments +
  * `...` spreads + inline `... on Type` fragments (spliced at parse
  * time, type conditions masked per row), and the `__schema`/`__type`
  * introspection handshake below.
  *
  * Compilation is a thin layer over [[Traversal]]: the root selection
  * is `g.v(label, …)`, every relationship field is one equi-join hop,
  * and scalar selections become a final column projection — so a
  * GraphQL query plans EXACTLY like the equivalent MATCH traversal
  * (same joins, same pushdowns); there is no separate GraphQL executor.
  * Result shape is a flat DataFrame with path-named columns
  * (`alias_field`), the relational form of the nested selection.
  *
  * Example:
  * {{{
  * { Customer(mktsegment: "BUILDING") {
  *     name acctbal
  *     orders: out_PLACED { totalprice status } } }
  * }}}
  */
object GraphQl {

  // ---- AST ----
  /** `cond` = GraphQL type condition (from the enclosing fragment's
    * `on Type`): a conditioned SCALAR projects null for rows whose
    * binding label differs; a conditioned HOP restricts the traversal
    * to matching rows (consistent with the surface's inner-hop
    * semantics — a row without the hop vanishes anyway). */
  final case class Field(alias: String, name: String, args: Map[String, Any],
      selections: Seq[Field], cond: Option[String] = None)

  // ---- tokenizer/parser (hand-rolled; the subset is tiny) ----
  /** `vars` = the request's `variables` JSON (flat map, already
    * JValue-decoded): `$name` references in argument position resolve
    * against it, falling back to the declaration's default value —
    * the stock-client calling convention (every codegen client sends
    * `{query, variables}`). Declared types are parsed but not
    * enforced; values coerce exactly like inline literals. */
  private final class Parser(s: String, vars: Map[String, Any]) {
    private var i = 0
    private val varDefaults = scala.collection.mutable.Map[String, Any]()
    private var varNames = Set.empty[String]
    private def ws(): Unit = {
      while (i < s.length && (s(i).isWhitespace || s(i) == ',')) i += 1
      if (i < s.length && s(i) == '#') { // comment to end of line
        while (i < s.length && s(i) != '\n') i += 1; ws()
      }
    }
    private def peek: Char = if (i < s.length) s(i) else '\u0000'
    private def expect(c: Char): Unit = {
      ws()
      if (peek != c) fail(s"expected '$c'")
      i += 1
    }
    private def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"GraphQL parse error at offset $i: $msg")

    private def ident(): String = {
      ws()
      val start = i
      while (i < s.length && (s(i).isLetterOrDigit || s(i) == '_')) i += 1
      if (i == start) fail("expected identifier")
      s.substring(start, i)
    }

    /** `($x: Type [= default], …)` after the operation name. Types are
      * consumed (incl. `[...]` lists and `!` non-null markers) but not
      * enforced — coercion happens where the value lands, like inline
      * literals. */
    private def varDefs(): Unit = {
      ws()
      if (peek != '(') return
      i += 1
      ws()
      while (peek != ')') {
        expect('$')
        val n = ident()
        if (varNames.contains(n)) fail(s"duplicate variable $$${n}")
        varNames += n
        expect(':')
        ws()
        if (peek == '[') { // list type: consume to the matching ']'
          var depth = 0
          while (i < s.length && { if (peek == '[') depth += 1
            else if (peek == ']') depth -= 1; i += 1; depth > 0 }) ()
        } else ident()
        ws()
        if (peek == '!') i += 1
        ws()
        if (peek == '=') { i += 1; varDefaults(n) = value() }
        ws()
      }
      i += 1
    }

    private def varRef(): Any = {
      i += 1 // past '$'
      val n = ident()
      if (!varNames.contains(n))
        fail(s"variable $$${n} is not declared by the operation")
      vars.get(n).orElse(varDefaults.get(n)).getOrElse(
        fail(s"variable $$${n} has no value (not in `variables`, no default)"))
    }

    private def value(): Any = {
      ws()
      peek match {
        case '$' => varRef()
        case '"' =>
          i += 1
          val sb = new StringBuilder
          while (peek != '"') {
            if (peek == '\\') i += 1
            if (i >= s.length) fail("unterminated string")
            sb.append(s(i)); i += 1
          }
          i += 1
          sb.toString
        case c if c == '-' || c.isDigit =>
          val start = i
          i += 1
          while (i < s.length && (s(i).isDigit || s(i) == '.')) i += 1
          val t = s.substring(start, i)
          if (t.contains('.')) t.toDouble else t.toLong
        case 't' | 'f' | 'n' =>
          val id = ident()
          if (id == "true") true else if (id == "false") false
          else if (id == "null") null
          else fail(s"unexpected value '$id'")
        // input-object value (GraphQL `{k: v, …}`) — the mutation
        // surface's where/set arguments. Unambiguous here: a selection
        // set can only FOLLOW a closed argument list, never sit inside
        // one
        case '{' =>
          i += 1
          val m = scala.collection.mutable.LinkedHashMap[String, Any]()
          ws()
          while (peek != '}') {
            val k = ident(); expect(':'); m(k) = value(); ws()
          }
          i += 1
          m.toMap
        case _ => fail("expected value")
      }
    }

    private def args(): Map[String, Any] = {
      ws()
      if (peek != '(') return Map.empty
      i += 1
      val m = scala.collection.mutable.LinkedHashMap[String, Any]()
      ws()
      while (peek != ')') {
        val k = ident(); expect(':'); m(k) = value(); ws()
      }
      i += 1
      m.toMap
    }

    /** `@include(if: B)` / `@skip(if: B)` after a field, spread, or
      * inline-fragment head (the spec's execution directives). With
      * variables already resolved, the condition is STATIC, so an
      * excluded selection simply drops at parse time — false when the
      * selection must be omitted. Unknown directives fail closed. */
    private def directivesAllow(): Boolean = {
      ws()
      var include = true
      while (peek == '@') {
        i += 1
        val dn = ident()
        val da = args()
        val cond = da.get("if") match {
          case Some(b: Boolean) => b
          case other => fail(s"@$dn takes (if: Boolean), got $other")
        }
        dn match {
          case "include" => include &= cond
          case "skip" => include &= !cond
          case other => fail(s"unknown directive @$other " +
            "(only @include/@skip are served)")
        }
        ws()
      }
      include
    }

    private def field(): Option[Field] = {
      // fragment spread / inline fragment (`...Name` / `... on Type {…}`)
      // — markers resolved after the whole document is parsed (a
      // fragment may be DEFINED after its first use, the codegen norm)
      if (peek == '.') {
        var dots = 0
        while (peek == '.') { i += 1; dots += 1 }
        if (dots != 3) fail("expected '...' (fragment spread)")
        ws()
        val n = ident()
        if (n == "on") { // inline fragment with type condition
          val t = ident()
          val keep = directivesAllow()
          ws()
          if (peek != '{') fail("inline fragment needs a selection set")
          val sels = selectionSet()
          return if (keep) Some(Field("...on", "...on", Map.empty, sels, Some(t)))
                 else None
        }
        val keep = directivesAllow()
        return if (keep) Some(Field("...", n, Map.empty, Nil)) else None
      }
      val first = ident()
      ws()
      val (alias, name) =
        if (peek == ':') { i += 1; (first, ident()) } else (first, first)
      val a = args()
      val keep = directivesAllow()
      ws()
      val sels = if (peek == '{') selectionSet() else Nil
      if (keep) Some(Field(alias, name, a, sels)) else None
    }

    private def selectionSet(): Seq[Field] = {
      expect('{')
      val fs = scala.collection.mutable.ArrayBuffer[Field]()
      ws()
      while (peek != '}') { field().foreach(fs += _); ws() }
      i += 1
      fs.toSeq
    }

    /** `query Name? { root }` or bare `{ root }`, plus any number of
      * `fragment Name on Type { … }` definitions before or after the
      * operation (stock codegen emits fragments-last). Spreads resolve
      * by splicing the fragment's selections with its type condition
      * attached; exactly one root field after resolution. */
    def document(): Field = {
      var op: Option[Seq[Field]] = None
      val frags = scala.collection.mutable.Map[String, (String, Seq[Field])]()
      def setOp(sels: Seq[Field]): Unit = {
        if (op.isDefined) fail("multiple operations in one document")
        op = Some(sels)
      }
      ws()
      while (i < s.length) {
        ws()
        if (i < s.length) {
          if (peek == '{') setOp(selectionSet())
          else ident() match {
            case "query" =>
              ws()
              if (peek != '{' && peek != '(') ident() // optional op name
              varDefs()
              setOp(selectionSet())
            case "fragment" =>
              val n = ident()
              if (n == "on") fail("'on' is not a legal fragment name")
              if (ident() != "on") fail("expected 'on' in fragment definition")
              val t = ident()
              if (frags.contains(n)) fail(s"duplicate fragment '$n'")
              frags(n) = (t, selectionSet())
            case "mutation" => fail(
              "mutations are writes — POST them to the command route, not the query route")
            case other => fail(s"unexpected '$other' (expected query or fragment)")
          }
        }
        ws()
      }
      val roots = op.getOrElse(fail("document has no operation"))
      // splice spreads; `inCond` = nearest enclosing fragment's type
      // condition (an explicit inner condition wins); `stack` guards
      // against recursive fragments (illegal per spec — fail closed)
      def resolve(fs: Seq[Field], inCond: Option[String],
          stack: List[String]): Seq[Field] = fs.flatMap {
        case Field("...", fragName, _, _, _) =>
          if (stack.contains(fragName)) fail(s"fragment cycle through '$fragName'")
          val (t, sels) = frags.getOrElse(fragName,
            fail(s"unknown fragment '$fragName'"))
          resolve(sels, Some(t), fragName :: stack)
        case f if f.alias == "...on" =>
          resolve(f.selections, f.cond, stack)
        case f =>
          Seq(f.copy(cond = f.cond.orElse(inCond),
            selections = resolve(f.selections, None, stack)))
      }
      val resolved = resolve(roots, None, Nil)
      if (resolved.size != 1)
        fail(s"expected exactly one root field, got ${resolved.size}")
      resolved.head
    }

    /** `mutation Name? { field+ }`; multiple root fields allowed (they
      * execute as ONE atomic batch, GraphQL's sequential-root contract
      * made transactional). */
    def mutationDocument(): Seq[Field] = {
      ws()
      val kw = ident()
      if (kw != "mutation") fail("expected 'mutation'")
      ws()
      if (peek != '{' && peek != '(') ident() // optional operation name
      varDefs()
      val roots = selectionSet()
      ws()
      if (i < s.length) fail("trailing input")
      if (roots.isEmpty) fail("mutation selects no fields")
      roots
    }
  }

  def parse(query: String, vars: Map[String, Any] = Map.empty): Field =
    new Parser(query, vars).document()

  def isMutation(doc: String): Boolean = doc.trim.startsWith("mutation")

  private val HopName = "^(out|in|both)_(.+)$".r

  /** Root-field arguments with non-filter semantics (the
    * arcadedb-graphql module's query-modifier surface [dep,
    * `src/pom.xml:109-113`]): `orderBy: "<rootProperty> [asc|desc]"`
    * sorts on a ROOT property (selected or not), `limit: n` caps the
    * result. Both compile onto the traversal's result frame —
    * orderBy+limit plans as TakeOrderedAndProject (top-k without a
    * total sort), never a new executor. Reserved names are refused on
    * hop fields: a per-hop limit is per-group top-k, which this
    * surface does not serve — loud, not silently filtered. */
  private val ReservedArgs = Set("orderBy", "limit")

  /** Compile a parsed query against a property graph into a flat
    * DataFrame. Scalar fields project `alias` columns; hop fields join
    * one edge label and prefix their scalars with `alias_`. */
  def compile(g: PropertyGraph, query: String,
      vars: Map[String, Any] = Map.empty): DataFrame = {
    val root = parse(query, vars)
    // root field = node label; args = equality filters over properties
    var t = g.v(root.name, "r")
    t = applyArgs(t, "r", root.args -- ReservedArgs)
    val (trav, cols) = compileSelections(t, "r", "", root.selections, 0)
    require(cols.nonEmpty, "GraphQL query selects no scalar fields")
    val base = trav.result
    val ordered = root.args.get("orderBy") match {
      case Some(spec: String) =>
        val sortCol = spec.trim.split("\\s+") match {
          case Array(f) => col(s"r_$f").asc
          case Array(f, d) if d.equalsIgnoreCase("asc") => col(s"r_$f").asc
          case Array(f, d) if d.equalsIgnoreCase("desc") => col(s"r_$f").desc
          case _ => throw new IllegalArgumentException(
            s"""orderBy takes "<property> [asc|desc]", got "$spec"""")
        }
        base.orderBy(sortCol)
      case Some(other) => throw new IllegalArgumentException(
        s"orderBy takes a string, got $other")
      case None => base
    }
    val limited = root.args.get("limit") match {
      case Some(n: Long) =>
        require(n >= 0 && n <= Int.MaxValue, s"limit out of range: $n")
        ordered.limit(n.toInt)
      case Some(other) => throw new IllegalArgumentException(
        s"limit takes a non-negative integer, got $other")
      case None => ordered
    }
    limited.select(cols: _*)
  }

  private def applyArgs(t: Traversal, binding: String, args: Map[String, Any]): Traversal =
    args.foldLeft(t) { case (acc, (k, v)) => acc.filter(col(s"${binding}_$k") === lit(v)) }

  // ---- mutations ----

  /** Compile a GraphQL mutation document into the DML statements it
    * denotes — the write face of the GraphQL surface (the reference
    * ships GraphQL as a full query language beside SQL [dep,
    * `src/pom.xml:109-113`]; reads compile onto the traversal joins
    * above, writes compile onto the SAME validated DML sinks as the
    * SQL command surface, so every invariant — id collision, UNIQUE,
    * endpoint resolution, constraints — holds identically). Field
    * forms, `<Type>` a declared label:
    *
    *  - `create<Type>(prop: v, …)` → `CREATE VERTEX <Type> SET …`;
    *    with `from`/`to` arguments → `CREATE EDGE <Type> FROM f TO t
    *    [SET rest]` (the store validates the label's kind — a vertex
    *    create with from/to fails there, loudly). Props may also ride
    *    in one `input: {…}` object.
    *  - `update<Type>(where: {k: v, …}, set: {k: v, …})` →
    *    `UPDATE <Type> SET … WHERE k = v AND …`
    *  - `delete<Type>(where: {k: v, …})` → `DELETE FROM <Type> WHERE …`
    *
    * Mutations return counts, not rows, so selection sets are refused
    * loudly. Multiple root fields translate to multiple statements —
    * the server executes them as ONE atomic batch. */
  def mutationToDml(doc: String, vars: Map[String, Any] = Map.empty): Seq[String] = {
    val roots = new Parser(doc, vars).mutationDocument()
    val MutName = "^(create|update|delete)([A-Za-z_]\\w*)$".r
    def sqlLit(v: Any): String = v match {
      case null => "null"
      case s: String => "'" + s.replace("'", "''") + "'"
      case b: Boolean => b.toString
      case n @ (_: Long | _: Double) => n.toString
      case other => throw new IllegalArgumentException(
        s"unsupported literal in mutation: $other (objects only in where/set/input)")
    }
    def setClause(m: Map[String, Any]): String =
      m.map { case (k, v) => s"$k = ${sqlLit(v)}" }.mkString(", ")
    def whereClause(m: Map[String, Any]): String = {
      require(m.nonEmpty, "mutation 'where' must not be empty — an empty object " +
        "would address the whole type; use an explicit predicate through SQL for that")
      m.map { case (k, v) => s"$k = ${sqlLit(v)}" }.mkString(" AND ")
    }
    def obj(v: Any, what: String): Map[String, Any] = v match {
      case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
      case other => throw new IllegalArgumentException(s"'$what' takes an object, got $other")
    }
    roots.map { f =>
      require(f.selections.isEmpty,
        s"mutation field '${f.name}' returns a count — selection sets are not served")
      f.name match {
        case MutName("create", label) =>
          // props inline or in one input object (both GraphQL idioms)
          val props = f.args.get("input").map(obj(_, "input"))
            .getOrElse(f.args - "input")
          (props.get("from"), props.get("to")) match {
            case (Some(src: Long), Some(dst: Long)) =>
              val rest = props - "from" - "to"
              s"CREATE EDGE $label FROM $src TO $dst" +
                (if (rest.nonEmpty) s" SET ${setClause(rest)}" else "")
            case (Some(_), Some(_)) => throw new IllegalArgumentException(
              "edge create takes integer record ids for from/to")
            case (None, None) =>
              require(props.nonEmpty, s"create$label needs at least one property")
              s"CREATE VERTEX $label SET ${setClause(props)}"
            case _ => throw new IllegalArgumentException(
              "edge create needs BOTH from and to")
          }
        case MutName("update", label) =>
          val where = obj(f.args.getOrElse("where", throw new IllegalArgumentException(
            s"update$label needs a where: {…} argument")), "where")
          val set = obj(f.args.getOrElse("set", throw new IllegalArgumentException(
            s"update$label needs a set: {…} argument")), "set")
          require(set.nonEmpty, s"update$label 'set' must not be empty")
          val extra = f.args.keySet -- Set("where", "set")
          require(extra.isEmpty, s"unknown update argument(s): ${extra.mkString(",")}")
          s"UPDATE $label SET ${setClause(set)} WHERE ${whereClause(where)}"
        case MutName("delete", label) =>
          val where = obj(f.args.getOrElse("where", throw new IllegalArgumentException(
            s"delete$label needs a where: {…} argument")), "where")
          val extra = f.args.keySet - "where"
          require(extra.isEmpty, s"unknown delete argument(s): ${extra.mkString(",")}")
          s"DELETE FROM $label WHERE ${whereClause(where)}"
        case other => throw new IllegalArgumentException(
          s"unknown mutation field '$other' (expected create<Type>/update<Type>/delete<Type>)")
      }
    }
  }

  // ---- introspection ----

  /** True when the document is a GraphQL INTROSPECTION query — the
    * `__schema`/`__type` handshake every real client (GraphiQL,
    * codegen, schema explorers) fires before its first data query
    * (the arcadedb-graphql module serves the same handshake [dep,
    * `/root/reference/src/pom.xml:109-113`]). The `__` prefix is
    * reserved by the GraphQL spec for introspection, so the sniff can
    * never collide with a data field; matching on the raw text (not
    * the parser) is deliberate — stock clients send the canonical
    * IntrospectionQuery, which uses fragments this engine's data
    * grammar doesn't serve, and a handshake must not depend on
    * parsing machinery the answer doesn't need. `__type` only counts
    * when followed by its argument list: `__typename` — which
    * Apollo-family clients add to every DATA selection set — must
    * route to the data path (served in [[compileSelections]]), not
    * here. */
  def isIntrospection(doc: String): Boolean =
    IntrospectionRe.findFirstIn(doc).isDefined

  private val IntrospectionRe = """__schema\b|__type\s*\(""".r

  /** Serve an introspection document from the schema registry as a
    * spec-shaped GraphQL response (`{"data":{"__schema":…}}` /
    * `{"data":{"__type":…}}`) — a SERIALIZER over [[GraphSchema]], not
    * an engine change: types, fields, hop relations, and mutation
    * surface all derive from the registry the data path already
    * compiles against, so introspection can never drift from what the
    * executor accepts. `endpoints` resolves an edge label to its
    * OBSERVED (src labels, dst labels) — the store manifest's
    * edge-endpoint record — so hop fields type to the concrete target
    * object when the relation is unambiguous and to the generic
    * `_Vertex` object otherwise (this engine's edge endpoints are
    * untyped by design, SURVEY §1.5). */
  def introspect(gs: graft.model.GraphSchema, doc: String,
      endpoints: String => Option[(Set[String], Set[String])] = _ => None): String =
    Introspection.serve(gs, doc, endpoints)

  private object Introspection {
    import org.json4s._
    import org.apache.spark.sql.types.{ArrayType, BooleanType, ByteType,
      DataType, DoubleType, FloatType, IntegerType, LongType, ShortType,
      StringType}

    private def scalarFor(dt: DataType): String = dt match {
      case IntegerType | ShortType | ByteType => "Int"
      case LongType => "Long" // 64-bit ids overflow GraphQL's Int
      case FloatType | DoubleType => "Float"
      case BooleanType => "Boolean"
      case StringType => "String"
      case _ => "String" // dates/timestamps serialize as strings
    }
    private def ref(kind: String, name: String): JObject =
      JObject("kind" -> JString(kind), "name" -> JString(name), "ofType" -> JNull)
    private def listOf(t: JValue): JObject =
      JObject("kind" -> JString("LIST"), "name" -> JNull, "ofType" -> t)
    private def typeRef(dt: DataType): JValue = dt match {
      case ArrayType(e, _) => listOf(ref("SCALAR", scalarFor(e)))
      case other => ref("SCALAR", scalarFor(other))
    }
    private def field(name: String, tpe: JValue, args: Seq[JValue] = Nil): JObject =
      JObject("name" -> JString(name), "description" -> JNull,
        "args" -> JArray(args.toList), "type" -> tpe,
        "isDeprecated" -> JBool(false), "deprecationReason" -> JNull)
    private def inputValue(name: String, tpe: JValue): JObject =
      JObject("name" -> JString(name), "description" -> JNull,
        "type" -> tpe, "defaultValue" -> JNull)
    private def fullType(kind: String, name: String,
        fields: Option[Seq[JValue]],
        inputFields: Option[Seq[JValue]] = None): JObject =
      JObject("kind" -> JString(kind), "name" -> JString(name),
        "description" -> JNull,
        "fields" -> fields.map(f => JArray(f.toList)).getOrElse(JNull),
        "inputFields" -> inputFields.map(f => JArray(f.toList)).getOrElse(JNull),
        "interfaces" -> (if (kind == "OBJECT") JArray(Nil) else JNull),
        "enumValues" -> JNull, "possibleTypes" -> JNull)

    /** Every type the registry denotes: scalars, one OBJECT per label,
      * the generic `_Vertex`, per-label INPUT_OBJECTs (the mutation
      * argument shapes), and the Query/Mutation roots. */
    private def allTypes(gs: graft.model.GraphSchema,
        endpoints: String => Option[(Set[String], Set[String])]): Seq[JObject] = {
      val scalars = Seq("Int", "Long", "Float", "String", "Boolean", "ID")
        .map(s => fullType("SCALAR", s, None))
      val vLabels = gs.labels.filter(_.kind == "vertex")
      val eLabels = gs.labels.filter(_.kind == "edge")
      // hop target: the concrete object when the observed endpoint set
      // is a single label, the generic _Vertex otherwise
      def target(ls: Set[String]): JValue =
        if (ls.size == 1) ref("OBJECT", ls.head) else ref("OBJECT", "_Vertex")
      // which vertex labels an edge label hops FROM (out_) / INTO (in_):
      // scoped by the manifest endpoints when known, every vertex type
      // otherwise (the executor accepts any — endpoints are untyped)
      def eps(e: String) = endpoints(e)
      val vertexTypes = vLabels.map { ls =>
        val props = ls.schema.fields.toSeq.map(f => field(f.name, typeRef(f.dataType)))
        val hops = eLabels.flatMap { el =>
          val ep = eps(el.label)
          val outHere = ep.forall(_._1.contains(ls.label))
          val inHere = ep.forall(_._2.contains(ls.label))
          Seq(
            if (outHere) Some(field(s"out_${el.label}",
              listOf(ep.map(p => target(p._2)).getOrElse(ref("OBJECT", "_Vertex"))))) else None,
            if (inHere) Some(field(s"in_${el.label}",
              listOf(ep.map(p => target(p._1)).getOrElse(ref("OBJECT", "_Vertex"))))) else None,
            if (outHere || inHere) Some(field(s"both_${el.label}",
              listOf(ep.map(p => target(p._1 ++ p._2)).getOrElse(ref("OBJECT", "_Vertex"))))) else None
          ).flatten
        }
        fullType("OBJECT", ls.label, Some(
          field("id", ref("SCALAR", "Long")) +: field("label", ref("SCALAR", "String")) +:
            (props ++ hops)))
      }
      val edgeTypes = eLabels.map { ls =>
        val props = ls.schema.fields.toSeq.map(f => field(f.name, typeRef(f.dataType)))
        fullType("OBJECT", ls.label, Some(
          field("src", ref("SCALAR", "Long")) +: field("dst", ref("SCALAR", "Long")) +:
            field("label", ref("SCALAR", "String")) +: props))
      }
      val vertexGeneric = fullType("OBJECT", "_Vertex", Some(Seq(
        field("id", ref("SCALAR", "Long")), field("label", ref("SCALAR", "String")))))
      val inputTypes = gs.labels.map { ls =>
        val extra = if (ls.kind == "edge")
          Seq(inputValue("from", ref("SCALAR", "Long")),
            inputValue("to", ref("SCALAR", "Long")))
        else Nil
        fullType("INPUT_OBJECT", s"${ls.label}Input", None,
          Some(extra ++ ls.schema.fields.toSeq.map(f =>
            inputValue(f.name, typeRef(f.dataType)))))
      }
      val queryType = fullType("OBJECT", "Query", Some(vLabels.map { ls =>
        field(ls.label, listOf(ref("OBJECT", ls.label)),
          ls.schema.fields.toSeq.map(f => inputValue(f.name, typeRef(f.dataType))) ++
            Seq(inputValue("orderBy", ref("SCALAR", "String")),
              inputValue("limit", ref("SCALAR", "Int"))))
      }))
      val mutationType = fullType("OBJECT", "Mutation", Some(gs.labels.flatMap { ls =>
        val in = ref("INPUT_OBJECT", s"${ls.label}Input")
        Seq(
          field(s"create${ls.label}", ref("SCALAR", "Int"),
            Seq(inputValue("input", in))),
          field(s"update${ls.label}", ref("SCALAR", "Int"),
            Seq(inputValue("where", in), inputValue("set", in))),
          field(s"delete${ls.label}", ref("SCALAR", "Int"),
            Seq(inputValue("where", in))))
      }))
      scalars ++ Seq(vertexGeneric) ++ vertexTypes ++ edgeTypes ++ inputTypes ++
        Seq(queryType, mutationType)
    }

    private val TypeNameRe = """__type\s*\(\s*name\s*:\s*"([^"]+)"""".r

    def serve(gs: graft.model.GraphSchema, doc: String,
        endpoints: String => Option[(Set[String], Set[String])]): String = {
      val types = allTypes(gs, endpoints)
      val body: JValue =
        if (doc.contains("__schema"))
          JObject("data" -> JObject("__schema" -> JObject(
            "queryType" -> JObject("name" -> JString("Query")),
            "mutationType" -> JObject("name" -> JString("Mutation")),
            "subscriptionType" -> JNull,
            "types" -> JArray(types.toList),
            "directives" -> JArray(Nil))))
        else {
          val name = TypeNameRe.findFirstMatchIn(doc).map(_.group(1)).getOrElse(
            throw new IllegalArgumentException(
              """__type takes a name argument: __type(name: "Type")"""))
          JObject("data" -> JObject("__type" ->
            types.find(t => t \ "name" == JString(name)).getOrElse(JNull)))
        }
      org.json4s.jackson.JsonMethods.compact(
        org.json4s.jackson.JsonMethods.render(body))
    }
  }

  /** Walk the selection set: scalars become aliased columns off the
    * current binding; hop fields recurse with a fresh binding. Returns
    * the traversal with all joins applied plus the ordered projection. */
  private def compileSelections(t0: Traversal, binding: String, prefix: String,
      sels: Seq[Field], depth: Int): (Traversal, Seq[Column]) = {
    require(depth <= 8, "GraphQL query nests deeper than 8 hops")
    var t = t0
    val cols = scala.collection.mutable.ArrayBuffer[Column]()
    var hopIdx = 0
    // fragment type condition: a conditioned scalar projects null off
    // non-matching rows (GraphQL's "fields outside the condition are
    // absent" made flat-relational); a conditioned hop restricts the
    // traversal to matching rows (≡ the surface's inner-hop semantics)
    def mask(f: Field, c: Column): Column = f.cond match {
      case Some(tc) => when(col(s"${binding}_label") === tc, c)
      case None => c
    }
    sels.foreach { f =>
      f.name match {
        case HopName(dir, edgeLabel) =>
          require(f.selections.nonEmpty, s"hop field '${f.name}' needs a selection set")
          val reserved = f.args.keySet.intersect(ReservedArgs)
          require(reserved.isEmpty,
            s"${reserved.mkString(",")} not supported on hop field '${f.name}' " +
              "(root-level only — a per-hop limit is per-group top-k)")
          hopIdx += 1
          val as = s"${binding}_h$hopIdx"
          val tHop = f.cond.map(tc =>
            t.filter(col(s"${binding}_label") === tc)).getOrElse(t)
          val filtered = applyArgs(tHop.hop(dir, edgeLabel, None, as), as, f.args)
          val (t2, nested) = compileSelections(filtered, as,
            s"$prefix${f.alias}_", f.selections, depth + 1)
          // restore the outer binding so sibling fields hop from it
          t = t2.copy(cur = binding)
          cols ++= nested
        // `__typename` meta-field (spec §4.5.1) — Apollo-family
        // clients add it to EVERY selection set; it resolves to the
        // binding's concrete label column (nodes are label-tagged), no
        // introspection machinery involved
        case "__typename" =>
          require(f.selections.isEmpty, "__typename cannot have a selection set")
          cols += mask(f, col(s"${binding}_label")).as(s"$prefix${f.alias}")
        case scalar =>
          require(f.selections.isEmpty, s"scalar field '$scalar' cannot have a selection set")
          cols += mask(f, col(s"${binding}_$scalar")).as(s"$prefix${f.alias}")
      }
    }
    (t, cols.toSeq)
  }
}
