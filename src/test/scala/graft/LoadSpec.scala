package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.load.{Checksum, GraphLoader, Normalize}

/** SURVEY §5.2: load-path operators with reference-pinned semantics —
  * checksum format (A17), internal-field pruning (A6), endpoint
  * resolution + dangling detection (A13), unique validation incl.
  * null-skip and array-skip (A15). */
class LoadSpec extends SparkSpec {

  private def storeNodes(out: String) = graft.load.Store.readEntity(spark, out, "nodes")
  private def storeEdges(out: String) = graft.load.Store.readEntity(spark, out, "edges")

  /** The store opened through this session's generation handles holds
    * exactly the rows of an open with none: a new session starts with
    * an empty handle memo, as a fresh JVM does. */
  private def assertOpensFresh(out: String): Unit = {
    def rows(g: graft.query.PropertyGraph) =
      (g.nodes.collect().map(_.toString).sorted.toSeq,
        g.edges.collect().map(_.toString).sorted.toSeq)
    val fresh = spark.newSession()
    val (memoNodes, memoEdges) = rows(GraphLoader.openGraph(spark, out))
    val (freshNodes, freshEdges) = rows(GraphLoader.openGraph(fresh, out))
    assert(memoNodes == freshNodes)
    assert(memoEdges == freshEdges)
  }

  test("A17: pseudo-hash is md5(mtime + \"__\" + size) — HashUtils.java:23 format") {
    val f = Files.createTempFile("graft", ".bin")
    Files.write(f, Array[Byte](1, 2, 3))
    val attrs = Files.readAttributes(f, classOf[java.nio.file.attribute.BasicFileAttributes])
    val expect = Checksum.md5Hex(attrs.lastModifiedTime().toString + "__" + 3)
    assert(Checksum.pseudoHash(f) == expect)
  }

  test("A17: checksum gate detects touch (mtime change) and missing checksum") {
    val dir = Files.createTempDirectory("graft")
    val input = dir.resolve("sources"); Files.createDirectories(input)
    val data = input.resolve("mapped.db"); Files.write(data, Array[Byte](9, 9))
    val ck = dir.resolve("arcadedb/checksum.txt")
    assert(!Checksum.isFresh(ck, input)) // missing checksum ⇒ stale
    Checksum.store(ck, Checksum.pseudoHashDir(input))
    assert(Checksum.isFresh(ck, input))
    Files.setLastModifiedTime(data,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 5000))
    assert(!Checksum.isFresh(ck, input)) // touched ⇒ stale
  }

  test("A6: internal bookkeeping fields are pruned") {
    val df = spark.createDataFrame(
      java.util.List.of(Row(1L, "x", "k")),
      StructType(Seq(StructField("__id", LongType), StructField("__label", StringType),
        StructField("name", StringType))))
    assert(Normalize.pruneInternalFields(df).columns.toSeq == Seq("name"))
  }

  test("A8/A9 column-level: unknown scalar → string; lattice types pass") {
    val df = spark.range(1).select(
      lit(java.math.BigDecimal.valueOf(1.5)).as("dec"),
      array(lit(1), lit(2)).as("ints"))
    val norm = Normalize.normalizeToLattice(df)
    assert(norm.schema("dec").dataType == StringType)
    assert(norm.schema("ints").dataType.asInstanceOf[ArrayType].elementType == IntegerType)
  }

  test("A10: safeCast keeps the job alive and counts bad values") {
    val df = spark.createDataFrame(
      java.util.List.of(Row("1"), Row("oops"), Row("3")),
      StructType(Seq(StructField("v", StringType))))
    val (cast, bad) = Normalize.safeCast(df, StructType(Seq(StructField("v", IntegerType))))
    assert(cast.collect().map(_.isNullAt(0)).count(identity) == 1)
    assert(bad.collect()(0).getLong(0) == 1) // one uncastable value counted
  }

  test("A13: every edge endpoint resolves on the real graph (referential integrity)") {
    val n = GraphLoader.nodes(spark, sfDir)
    val e = GraphLoader.edges(spark, sfDir)
    val (resolved, dangling) = GraphLoader.resolveEdges(n, e)
    assert(dangling.count() == 0)
    assert(resolved.count() == e.count())
  }

  test("A13: dangling endpoints are detected (reference would NPE, Service.java:241)") {
    val n = GraphLoader.nodes(spark, sfDir).filter(col("label") =!= "Region")
    val e = GraphLoader.edges(spark, sfDir)
    val (resolved, dangling) = GraphLoader.resolveEdges(n, e)
    val nations = spark.read.parquet(s"$sfDir/nation.parquet").count()
    assert(dangling.count() == nations) // all IN_REGION edges dangle
    assert(resolved.filter(col("label") === "IN_REGION").count() == 0)
  }

  test("A15: unique validation skips array indexes and nulls, flags dup values") {
    import graft.model.{GraphSchema, IndexDesc, LabelSchema}
    val nodes = spark.createDataFrame(
      java.util.List.of(
        Row(1L, "T", "a"), Row(2L, "T", "a"), Row(3L, "T", null), Row(4L, "T", null)),
      StructType(Seq(StructField("id", LongType), StructField("label", StringType),
        StructField("name", StringType))))
    val gs = GraphSchema(
      Seq(LabelSchema("T", "vertex", StructType(Seq(StructField("name", StringType))))),
      Seq(IndexDesc("node", "T", "name", unique = true, isArray = false),
        IndexDesc("node", "T", "tags", unique = true, isArray = true))) // must be skipped
    val v = GraphLoader.validateUnique(nodes, nodes.limit(0), gs).collect()
    // nulls not flagged (NULL_STRATEGY.SKIP); "a" flagged once
    assert(v.length == 1 && v(0).getString(2) == "a" && v(0).getLong(3) == 2)
  }

  test("round-trip: graph → partitioned parquet → graph is lossless (SURVEY §5.2.3)") {
    val out = Files.createTempDirectory("graftrt").toString
    GraphLoader.writeGraph(spark, sfDir, out)
    val n0 = GraphLoader.nodes(spark, sfDir)
    val n1 = storeNodes(out).select(n0.columns.map(col).toIndexedSeq: _*)
    assert(n1.exceptAll(n0).count() == 0 && n0.exceptAll(n1).count() == 0)
    val (e0, _) = GraphLoader.resolveEdges(n0, GraphLoader.edges(spark, sfDir))
    val e1 = storeEdges(out).select(e0.columns.map(col).toIndexedSeq: _*)
    assert(e1.exceptAll(e0).count() == 0 && e0.exceptAll(e1).count() == 0)
  }

  test("DML append: validated batch append preserves A13/A15 invariants") {
    import spark.implicits._
    val out = Files.createTempDirectory("graftapp").toString
    GraphLoader.writeGraph(spark, sfDir, out)
    val n0 = storeNodes(out).count()
    val e0 = storeEdges(out).count()

    // valid node append: aligned to store schema, fresh id, unique name
    val newNode = Seq((1999999L, "Customer", "Customer#fresh", 12.5, "BUILDING"))
      .toDF("id", "label", "name", "acctbal", "mktsegment")
    GraphLoader.commit(spark, out)(GraphLoader.appendNodes(spark, _, newNode))
    val nodes = storeNodes(out)
    assert(nodes.count() == n0 + 1)

    // the dialect's second insert shape: INSERT INTO <T> SET k = v, …
    assert(graft.server.Dml.execute(spark, out,
      "INSERT INTO Customer SET id = 1999996, name = 'Customer#set-form'") == 1)
    assert(storeNodes(out).filter(col("id") === 1999996L)
      .select("name").head.getString(0) == "Customer#set-form")
    assert(nodes.filter(col("id") === 1999999L).select("mktsegment")
      .head.getString(0) == "BUILDING")
    // unique_validation still green after the append (the verdict's gate)
    assert(GraphLoader.validateUnique(nodes,
      storeEdges(out), GraphLoader.schema).isEmpty)
    assertOpensFresh(out)

    // valid edge append: both endpoints resolve (new customer → nation 107)
    GraphLoader.commit(spark, out)(GraphLoader.appendEdges(spark, _,
      Seq((1999999L, 107L, "IN_NATION")).toDF("src", "dst", "label")))
    assert(storeEdges(out).count() == e0 + 1)

    // rejected: id collision with the row just appended
    intercept[IllegalArgumentException](GraphLoader.commit(spark, out)(
      GraphLoader.appendNodes(spark, _, newNode)))
    // rejected: UNIQUE(Customer.name) violation against existing data
    val existingName = nodes.filter(col("label") === "Customer")
      .orderBy("id").select("name").head.getString(0)
    intercept[IllegalArgumentException](GraphLoader.commit(spark, out)(
      GraphLoader.appendNodes(spark, _,
        Seq((1999998L, "Customer", existingName, 0.0, "AUTOMOBILE"))
          .toDF("id", "label", "name", "acctbal", "mktsegment"))))
    // rejected: dangling edge endpoint
    intercept[IllegalArgumentException](GraphLoader.commit(spark, out)(
      GraphLoader.appendEdges(spark, _,
        Seq((777L, 107L, "IN_NATION")).toDF("src", "dst", "label"))))
    // rejected: column not in the declared store schema
    intercept[IllegalArgumentException](GraphLoader.commit(spark, out)(
      GraphLoader.appendNodes(spark, _,
        Seq((1999997L, "Customer", "x")).toDF("id", "label", "no_such_prop"))))
    // rejected: undeclared label (the registry governs, not the batch)
    intercept[IllegalArgumentException](GraphLoader.commit(spark, out)(
      GraphLoader.appendNodes(spark, _,
        Seq((1999995L, "Phantom", "x", 0.0, "B"))
          .toDF("id", "label", "name", "acctbal", "mktsegment"))))
    // rejected: node id inside the edge record-id keyspace — bare-rid
    // dispatch routes ids >= EidFloor to edges, so such a node would be
    // silently unreachable (code-review r9)
    intercept[IllegalArgumentException](GraphLoader.commit(spark, out)(
      GraphLoader.appendNodes(spark, _,
        Seq((GraphLoader.EidFloor + 42L, "Customer", "Customer#eidspace", 0.0, "B"))
          .toDF("id", "label", "name", "acctbal", "mktsegment"))))
    // rejected: edge record id below the keyspace floor (would dispatch
    // to the NODE path and be unreachable as an edge rid)
    intercept[IllegalArgumentException](GraphLoader.commit(spark, out)(
      GraphLoader.appendEdges(spark, _,
        Seq((1999999L, 107L, "IN_NATION", 42L)).toDF("src", "dst", "label", "eid"))))
    // rejected: eid already taken by an existing edge record — one rid
    // must never address two records (code-review r9 #2)
    val takenEid = storeEdges(out).filter(col("eid").isNotNull)
      .select("eid").head.getLong(0)
    intercept[IllegalArgumentException](GraphLoader.commit(spark, out)(
      GraphLoader.appendEdges(spark, _,
        Seq((1999999L, 107L, "IN_NATION", takenEid)).toDF("src", "dst", "label", "eid"))))
    // rejected: duplicate eids within one batch
    intercept[IllegalArgumentException](GraphLoader.commit(spark, out)(
      GraphLoader.appendEdges(spark, _,
        Seq((1999999L, 107L, "IN_NATION", GraphLoader.EidFloor + 777777L),
            (1999996L, 107L, "IN_NATION", GraphLoader.EidFloor + 777777L))
          .toDF("src", "dst", "label", "eid"))))

    // every rejection left the store untouched (+2 = the two inserts)
    assert(storeNodes(out).count() == n0 + 2)
    assert(storeEdges(out).count() == e0 + 1)
  }

  test("DML update/delete: copy-on-write label rewrite with invariants") {
    val out = Files.createTempDirectory("graftupd").toString
    GraphLoader.writeGraph(spark, sfDir, out)
    import graft.server.Dml
    val n0 = storeNodes(out).count()

    // UPDATE: one customer's segment changes, row/file counts intact
    assert(Dml.execute(spark, out,
      "UPDATE Customer SET mktsegment = 'MOONBASE' WHERE id = 1000042") == 1)
    val nodes = storeNodes(out)
    assert(nodes.count() == n0)
    assert(nodes.filter(col("id") === 1000042L).select("mktsegment")
      .head.getString(0) == "MOONBASE")
    assert(GraphLoader.validateUnique(nodes,
      storeEdges(out), GraphLoader.schema).isEmpty)

    // UPDATE violating UNIQUE(Customer.name) rejected, store untouched
    intercept[IllegalArgumentException](
      Dml.execute(spark, out, "UPDATE Customer SET name = 'CLONE'"))
    assert(storeNodes(out)
      .filter(col("name") === "CLONE").count() == 0)
    assertOpensFresh(out)

    // DELETE of a referenced vertex is rejected (A13 dangling mirror);
    // deleting its edges first makes the vertex delete land
    intercept[IllegalArgumentException](
      Dml.execute(spark, out, "DELETE FROM Customer WHERE id = 1000042"))
    assert(Dml.execute(spark, out, "DELETE FROM IN_NATION WHERE src = 1000042") == 1)
    Dml.execute(spark, out, "DELETE FROM PLACED WHERE src = 1000042")
    assert(Dml.execute(spark, out, "DELETE FROM Customer WHERE id = 1000042") == 1)
    assert(storeNodes(out).count() == n0 - 1)
    assertOpensFresh(out)

    // edge-property update through the dialect predicate grammar
    val eUpd = Dml.execute(spark, out,
      "UPDATE CONTAINS SET returnflag = 'X' WHERE quantity >= 49")
    assert(eUpd > 0)
    assert(storeEdges(out)
      .filter(col("returnflag") === "X").count() == eUpd)

    // zero-match update/delete leaves the store untouched (no rewrite)
    assert(Dml.execute(spark, out,
      "UPDATE Customer SET mktsegment = 'Z' WHERE id = 1") == 0)
    assert(Dml.execute(spark, out, "DELETE FROM Customer WHERE id = 1") == 0)

    // DELETE VERTEX / DELETE EDGE spellings assert the label's kind
    intercept[IllegalArgumentException](
      Dml.execute(spark, out, "DELETE EDGE Customer WHERE id = 1000044"))
    intercept[IllegalArgumentException](
      Dml.execute(spark, out, "DELETE VERTEX PLACED WHERE src = 1000044"))
    assert(Dml.execute(spark, out, "DELETE EDGE IN_NATION WHERE src = 1000044") == 1)
    Dml.execute(spark, out, "DELETE EDGE PLACED WHERE src = 1000044")
    assert(Dml.execute(spark, out, "DELETE VERTEX Customer WHERE id = 1000044") == 1)

    // SET values are full dialect expressions over the row
    val bal0 = storeNodes(out).filter(col("id") === 1000045L)
      .select("acctbal").head.getDouble(0)
    assert(Dml.execute(spark, out,
      "UPDATE Customer SET acctbal = acctbal + 10.5 WHERE id = 1000045") == 1)
    assert(storeNodes(out).filter(col("id") === 1000045L)
      .select("acctbal").head.getDouble(0) == bal0 + 10.5)
    assert(Dml.execute(spark, out,
      "UPDATE Customer SET mktsegment = mktsegment.toLowerCase() WHERE id = 1000045") == 1)
    assert(storeNodes(out).filter(col("id") === 1000045L).select("mktsegment")
      .head.getString(0).forall(c => !c.isUpper))

    // keyword-bearing string literals never mis-split the statement
    // (character-level parse, not regex capture)
    assert(Dml.execute(spark, out,
      "UPDATE Customer SET mktsegment = 'WHERE x, SET y' WHERE id = 1000043") == 1)
    assert(storeNodes(out).filter(col("id") === 1000043L)
      .select("mktsegment").head.getString(0) == "WHERE x, SET y")
    assert(Dml.execute(spark, out,
      "UPDATE Customer SET mktsegment = 'BUILDING' WHERE mktsegment = 'WHERE x, SET y'") == 1)
    intercept[IllegalArgumentException](
      Dml.execute(spark, out, "UPDATE Customer SET mktsegment = 'x' TRAILING"))
  }

  test("UPDATE content forms: REMOVE / INCREMENT / CONTENT / MERGE") {
    val out = Files.createTempDirectory("graftupf").toString
    GraphLoader.writeGraph(spark, sfDir, out)
    import graft.server.Dml
    def cust(id: Long) = storeNodes(out).filter(col("id") === id)

    // INCREMENT: numeric delta over the current value, negatives too
    val bal0 = cust(1000045L).select("acctbal").head.getDouble(0)
    assert(Dml.execute(spark, out,
      "UPDATE Customer INCREMENT acctbal = 10.5 WHERE id = 1000045") == 1)
    assert(Dml.execute(spark, out,
      "UPDATE Customer INCREMENT acctbal = -0.25 WHERE id = 1000045") == 1)
    assert(cust(1000045L).select("acctbal").head.getDouble(0) == bal0 + 10.25)
    intercept[IllegalArgumentException](Dml.execute(spark, out,
      "UPDATE Customer INCREMENT mktsegment = 'x' WHERE id = 1000045"))

    // REMOVE: property nulls out (A7: absent ≡ null), others untouched
    assert(Dml.execute(spark, out,
      "UPDATE Customer REMOVE mktsegment WHERE id = 1000046") == 1)
    val r46 = cust(1000046L).select("mktsegment", "name").head
    assert(r46.isNullAt(0) && !r46.isNullAt(1))

    // MERGE: mentioned props set, the rest survive; a WHERE (or brace)
    // inside a JSON string never mis-splits the statement
    assert(Dml.execute(spark, out,
      """UPDATE Customer MERGE {"mktsegment": "MERGED"} WHERE id = 1000047""") == 1)
    val r47 = cust(1000047L).select("mktsegment", "name").head
    assert(r47.getString(0) == "MERGED" && !r47.isNullAt(1))
    assert(Dml.execute(spark, out,
      """UPDATE Customer MERGE {"mktsegment": "WHERE } x"} WHERE id = 1000047""") == 1)
    assert(cust(1000047L).select("mktsegment").head.getString(0) == "WHERE } x")

    // CONTENT: full replacement — unmentioned declared props null out,
    // keys/topology survive (the record keeps its identity)
    assert(Dml.execute(spark, out,
      """UPDATE Customer CONTENT {"name": "Customer#content", "acctbal": 5.0}
         WHERE id = 1000048""".replace("\n", " ")) == 1)
    val r48 = cust(1000048L).select("name", "acctbal", "mktsegment", "id").head
    assert(r48.getString(0) == "Customer#content" && r48.getDouble(1) == 5.0)
    assert(r48.isNullAt(2) && r48.getLong(3) == 1000048L)

    // refusals: undeclared/reserved keys, nested JSON, zero-match is 0
    intercept[IllegalArgumentException](Dml.execute(spark, out,
      """UPDATE Customer CONTENT {"id": 9} WHERE id = 1000049"""))
    intercept[IllegalArgumentException](Dml.execute(spark, out,
      """UPDATE Customer MERGE {"nope": 1} WHERE id = 1000049"""))
    intercept[IllegalArgumentException](Dml.execute(spark, out,
      """UPDATE Customer MERGE {"mktsegment": {"a": 1}} WHERE id = 1000049"""))
    assert(Dml.execute(spark, out,
      """UPDATE Customer MERGE {"mktsegment": "Z"} WHERE id = 1""") == 0)

    // constraint re-validation rides the same rewrite: REMOVE of a
    // MANDATORY property is rejected and the store stays untouched
    Dml.execute(spark, out, "ALTER PROPERTY Customer.name MANDATORY true")
    intercept[IllegalArgumentException](Dml.execute(spark, out,
      "UPDATE Customer REMOVE name WHERE id = 1000049"))
    assert(!cust(1000049L).select("name").head.isNullAt(0))

    // REMOVE of an ARRAY-typed property: the null must arrive untyped
    // (NullType casts to array; string→array does not — r12 review #2)
    def part(id: Long) = storeNodes(out).filter(col("id") === id)
    val pid = storeNodes(out).filter(col("label") === "Part")
      .select("id").head.getLong(0)
    assert(Dml.execute(spark, out,
      s"UPDATE Part REMOVE tags WHERE id = $pid") == 1)
    assert(part(pid).select("tags").head.isNullAt(0))

    // INCREMENT on a null/absent counter initializes to the delta
    // (ArcadeDB's create-on-increment rule), never null + n = null
    assert(Dml.execute(spark, out,
      "UPDATE Customer REMOVE acctbal WHERE id = 1000045") == 1)
    assert(Dml.execute(spark, out,
      "UPDATE Customer INCREMENT acctbal = 3.5 WHERE id = 1000045") == 1)
    assert(cust(1000045L).select("acctbal").head.getDouble(0) == 3.5)
  }

  test("UPDATE RETURN BEFORE/AFTER/COUNT: the rewrite's record images") {
    val out = Files.createTempDirectory("graftret").toString
    GraphLoader.writeGraph(spark, sfDir, out)
    import graft.server.Dml
    def cust(id: Long) = storeNodes(out).filter(col("id") === id)

    // BEFORE: the pre-update image of the affected record
    val before = Dml.executeReturning(spark, out,
      "UPDATE Customer SET mktsegment = 'RET_B' RETURN BEFORE WHERE id = 1000042")
    assert(before.count == 1 && before.returned.get.size == 1)
    assert(before.returned.get.head.contains("\"id\":1000042"))
    assert(!before.returned.get.head.contains("RET_B"),
      s"BEFORE image leaked the new value: ${before.returned.get.head}")
    assert(cust(1000042L).select("mktsegment").head.getString(0) == "RET_B")

    // AFTER: the post-update image, exactly what the rewrite wrote
    val after = Dml.executeReturning(spark, out,
      "UPDATE Customer SET mktsegment = 'RET_A' RETURN AFTER WHERE id = 1000042")
    assert(after.count == 1 && after.returned.get.head.contains("RET_A"))

    // COUNT (and no RETURN) keep the count-only response
    val cnt = Dml.executeReturning(spark, out,
      "UPDATE Customer SET mktsegment = 'RET_C' RETURN COUNT WHERE id = 1000042")
    assert(cnt.count == 1 && cnt.returned.isEmpty)
    assert(Dml.executeReturning(spark, out,
      "UPDATE Customer SET mktsegment = 'RET_D' WHERE id = 1000042").returned.isEmpty)

    // content forms share the grammar: INCREMENT … RETURN AFTER
    val inc = Dml.executeReturning(spark, out,
      "UPDATE Customer INCREMENT acctbal = 100.0 RETURN AFTER WHERE id = 1000042")
    val prev = cust(1000042L).select("acctbal").head.getDouble(0)
    assert(inc.count == 1 &&
      inc.returned.get.head.contains(s"\"acctbal\":$prev"), inc.returned.get.head)

    // zero-match RETURN: empty images, not a count row
    val none = Dml.executeReturning(spark, out,
      "UPDATE Customer SET mktsegment = 'X' RETURN AFTER WHERE id = 1")
    assert(none.count == 0 && none.returned.get.isEmpty)

    // refusals: images inside a batch, and with UPSERT
    intercept[IllegalArgumentException](Dml.executeBatch(spark, out, Seq(
      "UPDATE Customer SET mktsegment = 'Y' RETURN AFTER WHERE id = 1000042")))
    intercept[IllegalArgumentException](Dml.executeReturning(spark, out,
      "UPDATE Customer SET mktsegment = 'Y' UPSERT RETURN AFTER WHERE id = 1000042"))
  }

  test("UPDATE RETURN image paging: SKIP/LIMIT across the cap (r15)") {
    val out = Files.createTempDirectory("graftretpage").toString
    GraphLoader.writeGraph(spark, sfDir, out)
    import graft.server.Dml
    // Order matches 1500 rows at sf0.001 — ABOVE DmlReturnCap (1000):
    // the unpaged form truncates to the cap, the SKIP page fetches the
    // remainder, and the two pages union to the full matched id set
    val total = storeNodes(out).filter(col("label") === "Order").count()
    assert(total > GraphLoader.DmlReturnCap,
      s"fixture too small for a cap-crossing page test: $total")
    def ids(rows: Seq[String]): Seq[Long] =
      rows.map(r => """"id":(\d+)""".r.findFirstMatchIn(r).get.group(1).toLong)
    val p0 = Dml.executeReturning(spark, out,
      "UPDATE Order SET status = 'PG' RETURN AFTER")
    assert(p0.count == total &&
      p0.returned.get.size == GraphLoader.DmlReturnCap)
    val p1 = Dml.executeReturning(spark, out,
      s"UPDATE Order SET status = 'PG' RETURN AFTER SKIP ${GraphLoader.DmlReturnCap}")
    assert(p1.returned.get.size == total - GraphLoader.DmlReturnCap)
    val all = ids(p0.returned.get.toSeq) ++ ids(p1.returned.get.toSeq)
    assert(all.distinct.size == total.toInt, "pages overlap or drop records")
    // pages are id-ordered and contiguous: page 2 starts past page 1
    assert(ids(p0.returned.get.toSeq).max < ids(p1.returned.get.toSeq).min)
    // an explicit LIMIT under the cap pages precisely
    val p2 = Dml.executeReturning(spark, out,
      "UPDATE Order SET status = 'PG' RETURN BEFORE SKIP 5 LIMIT 10")
    assert(p2.returned.get.size == 10)
    assert(ids(p2.returned.get.toSeq) == ids(p0.returned.get.toSeq).slice(5, 15))
    // LIMIT above the cap clamps to it (the response-size bound holds)
    val p3 = Dml.executeReturning(spark, out,
      "UPDATE Order SET status = 'PG' RETURN AFTER LIMIT 999999")
    assert(p3.returned.get.size == GraphLoader.DmlReturnCap)
    // a SKIP past the matched set is an empty page, count intact
    val p4 = Dml.executeReturning(spark, out,
      "UPDATE Order SET status = 'PG' RETURN AFTER SKIP 100000")
    assert(p4.count == total && p4.returned.get.isEmpty)
    // RETURN COUNT refuses the paging clauses loudly
    intercept[IllegalArgumentException](Dml.executeReturning(spark, out,
      "UPDATE Order SET status = 'PG' RETURN COUNT LIMIT 5"))
  }

  test("ALTER TYPE lifecycle: rename preserves data, constraints, indexes, rids; settings round-trip") {
    val out = Files.createTempDirectory("graftalt").toString
    GraphLoader.writeGraph(spark, sfDir, out)
    import graft.server.Dml
    def gs() = graft.model.GraphSchema.fromJson(
      java.nio.file.Files.readString(java.nio.file.Paths.get(s"$out/schema.json")))

    // constraint + index on the type before renaming, to prove both ride
    Dml.execute(spark, out, "ALTER PROPERTY Customer.name MANDATORY true")
    val nBefore = storeNodes(out).filter(col("label") === "Customer").count()
    val acct42 = storeNodes(out).filter(col("id") === 1000042L)
      .select("acctbal").head.getDouble(0)

    // rename: data, declared schema, constraints, indexes, endpoint
    // sets and ids all move under the new name
    assert(Dml.execute(spark, out, "ALTER TYPE Customer NAME Client") == 1)
    val after = gs()
    assert(!after.labels.exists(_.label == "Customer"))
    assert(after.labels.exists(l => l.label == "Client" && l.kind == "vertex"))
    assert(after.constraints.exists(c => c.label == "Client" && c.kind == "mandatory"))
    assert(after.indexes.exists(_.label == "Client") &&
      !after.indexes.exists(_.label == "Customer"))
    val renamed = storeNodes(out)
    assert(renamed.filter(col("label") === "Client").count() == nBefore)
    assert(renamed.filter(col("label") === "Customer").count() == 0)
    // rid keeps resolving: same id, same record content
    assert(renamed.filter(col("id") === 1000042L).select("acctbal")
      .head.getDouble(0) == acct42)
    // endpoint sets re-keyed: edges observing Customer now observe Client
    val eps = graft.load.Store.readManifest(out).edgeEndpoints
    assert(eps.values.exists { case (s, d) => s.contains("Client") || d.contains("Client") })
    assert(!eps.values.exists { case (s, d) => s.contains("Customer") || d.contains("Customer") })
    // the dialect serves the new name; the old one is gone
    val g2 = GraphLoader.openGraph(spark, out)
    assert(graft.query.ArcadeSql.compile(g2, gs(),
      "SELECT name FROM Client WHERE id = 1000042").count() == 1)
    intercept[Exception](graft.query.ArcadeSql.compile(g2, gs(),
      "SELECT name FROM Customer WHERE id = 1000042").count())
    // DML keeps working against the renamed type (constraints enforced)
    assert(Dml.execute(spark, out,
      "UPDATE Client SET mktsegment = 'RENAMED' WHERE id = 1000042") == 1)
    intercept[IllegalArgumentException](Dml.execute(spark, out,
      "UPDATE Client REMOVE name WHERE id = 1000042"))

    // refusals: unknown type, name collision, inside a batch
    intercept[IllegalArgumentException](Dml.execute(spark, out,
      "ALTER TYPE Nope NAME X"))
    intercept[IllegalArgumentException](Dml.execute(spark, out,
      "ALTER TYPE Client NAME Order"))
    intercept[IllegalArgumentException](Dml.executeBatch(spark, out,
      Seq("ALTER TYPE Client NAME Patron")))

    // settings: recorded, round-tripped, declarative no-ops
    assert(Dml.execute(spark, out,
      "ALTER TYPE Client BUCKETSELECTIONSTRATEGY 'round-robin'") == 1)
    assert(Dml.execute(spark, out, "ALTER TYPE Client CUSTOM owner = 'data-eng'") == 1)
    val st = gs().labels.find(_.label == "Client").get.settings
    assert(st("bucketselectionstrategy") == "round-robin" && st("custom.owner") == "data-eng")
    // settings survive a schema round-trip byte-for-byte
    val rt = graft.model.GraphSchema.fromJson(gs().toJson)
    assert(rt.labels.find(_.label == "Client").get.settings == st)
    intercept[IllegalArgumentException](Dml.execute(spark, out,
      "ALTER TYPE Client SUPERTYPE Thing"))
  }

  test("UPDATE collection forms: ADD / REMOVE element / PUT (LIST and MAP)") {
    val out = Files.createTempDirectory("graftcoll").toString
    GraphLoader.writeGraph(spark, sfDir, out)
    import graft.server.Dml
    def part(id: Long) = storeNodes(out).filter(col("id") === id)
    val pid = storeNodes(out).filter(col("label") === "Part")
      .select("id").orderBy("id").head.getLong(0)
    def tags: Seq[String] = part(pid).select("tags").head.getSeq[String](0)

    // ADD appends to the declared LIST, preserving existing elements
    val before = tags
    assert(Dml.execute(spark, out,
      s"UPDATE Part ADD tags = 'added#1' WHERE id = $pid") == 1)
    assert(tags == before :+ "added#1")
    // REMOVE f = v removes the ELEMENT, not the property
    assert(Dml.execute(spark, out,
      s"UPDATE Part REMOVE tags = 'added#1' WHERE id = $pid") == 1)
    assert(tags == before)
    // create-on-add: null collection (after a bare REMOVE) → [v]
    assert(Dml.execute(spark, out,
      s"UPDATE Part REMOVE tags WHERE id = $pid") == 1)
    assert(Dml.execute(spark, out,
      s"UPDATE Part ADD tags = 'fresh' WHERE id = $pid") == 1)
    assert(tags == Seq("fresh"))
    // ADD on a non-list property refused loudly
    intercept[IllegalArgumentException](Dml.execute(spark, out,
      s"UPDATE Part ADD name = 'x' WHERE id = $pid"))

    // MAP property lifecycle: declare, PUT creates, PUT overwrites,
    // REMOVE f = k drops the key
    Dml.execute(spark, out, "CREATE PROPERTY Part.attrs MAP")
    assert(Dml.execute(spark, out,
      s"UPDATE Part PUT attrs = 'color', 'red' WHERE id = $pid") == 1)
    def attrs: Map[String, String] =
      part(pid).select("attrs").head.getMap[String, String](0).toMap
    assert(attrs == Map("color" -> "red"))
    assert(Dml.execute(spark, out,
      s"UPDATE Part PUT attrs = 'color', 'blue', attrs = 'size', 'L' WHERE id = $pid") == 1)
    assert(attrs == Map("color" -> "blue", "size" -> "L"))
    assert(Dml.execute(spark, out,
      s"UPDATE Part REMOVE attrs = 'color' WHERE id = $pid") == 1)
    assert(attrs == Map("size" -> "L"))
    // PUT on a non-map property refused loudly
    intercept[IllegalArgumentException](Dml.execute(spark, out,
      s"UPDATE Part PUT tags = 'k', 'v' WHERE id = $pid"))
  }

  test("generation commit: crash debris is invisible and swept; commit is atomic") {
    val out = Files.createTempDirectory("graftrec").toString
    GraphLoader.writeGraph(spark, sfDir, out)
    import graft.load.Store
    import graft.server.Dml
    val before = storeNodes(out).filter(col("label") === "Customer").count()
    val genBefore = Store.readManifest(out).nodes("Customer").head
    assert(Store.genMemoized(s"$out/nodes/Customer/$genBefore"))

    // simulate a writer that died after writing its new generation but
    // BEFORE the manifest commit: an orphan gen dir plus a manifest
    // temp file — no reader ever sees either
    val orphan = Path.of(s"$out/nodes/Customer/gen-999999999999-deadbeef")
    Files.createDirectories(orphan)
    Files.writeString(orphan.resolve("junk.parquet"), "not parquet")
    Files.writeString(Path.of(s"$out/.manifest.tmp-cafe0123"), "{}")
    assert(Store.readManifest(out).nodes("Customer") == Seq(genBefore))
    assert(storeNodes(out).filter(col("label") === "Customer").count() == before)

    // the next DML applies normally; its sweep clears the debris
    assert(Dml.execute(spark, out,
      "UPDATE Customer SET mktsegment = 'RECOVERED' WHERE id = 1000042") == 1)
    Store.sweep(out) // no grace window: everything unpinned goes
    assert(!Files.exists(orphan))
    assert(!Files.exists(Path.of(s"$out/.manifest.tmp-cafe0123")))
    val after = storeNodes(out).filter(col("label") === "Customer")
    assert(after.count() == before)
    assert(after.filter(col("id") === 1000042L).select("mktsegment")
      .head.getString(0) == "RECOVERED")
    // the superseded generation is gone, the live one remains, and the
    // handle memo forgot the swept one
    assert(!Files.exists(Path.of(s"$out/nodes/Customer/$genBefore")))
    assert(!Store.genMemoized(s"$out/nodes/Customer/$genBefore"))
    val live = s"$out/nodes/Customer/${Store.readManifest(out).nodes("Customer").head}"
    assert(Files.isDirectory(Path.of(live)))
    // handles are per session: a new session never gets another's
    assert(Store.readGen(spark, live) eq Store.readGen(spark, live))
    val other = spark.newSession()
    assert(Store.readGen(other, live).sparkSession eq other)
    assert(GraphLoader.openGraph(other, out).nodes.sparkSession eq other)
  }

  test("pinned generations survive sweeps and stay readable through a rewrite") {
    val out = Files.createTempDirectory("graftpin").toString
    GraphLoader.writeGraph(spark, sfDir, out)
    import graft.load.{GenerationPins, Store}
    import graft.server.Dml
    val gen0 = Store.readManifest(out).nodes("Customer").head
    val pinnedPath = Path.of(s"$out/nodes/Customer/$gen0").toAbsolutePath.normalize
    // a reader snapshot pins the generation its plan listed…
    val oldFrame = spark.read.parquet(pinnedPath.toString)
    GenerationPins.pin(Seq(pinnedPath.toString))
    try {
      // …then a rewrite supersedes it and sweeps aggressively
      assert(Dml.execute(spark, out,
        "UPDATE Customer SET mktsegment = 'PINNED' WHERE id = 1000042") == 1)
      Store.sweep(out)
      assert(Files.isDirectory(pinnedPath), "sweep must not delete a pinned generation")
      // the in-flight reader still scans its snapshot — pre-update data
      assert(oldFrame.filter(col("id") === 1000042L).select("mktsegment")
        .head.getString(0) != "PINNED")
    } finally GenerationPins.unpin(Seq(pinnedPath.toString))
    // unpinned, the old generation goes on the next sweep
    Store.sweep(out)
    assert(!Files.exists(pinnedPath))
    // and the rewrite is visible to new readers
    assert(storeNodes(out).filter(col("id") === 1000042L).select("mktsegment")
      .head.getString(0) == "PINNED")
  }

  test("vertex DELETE probes only edge labels that can reference the label") {
    val out = Files.createTempDirectory("graftprobe").toString
    GraphLoader.writeGraph(spark, sfDir, out)
    import graft.load.Store
    val m = Store.readManifest(out)
    // endpoint metadata exists for every edge label
    assert(m.edgeEndpoints.keySet == m.edges.keySet)
    // Customer vertices can be referenced by IN_NATION (src) and PLACED
    // (src) only — a strict subset of the edge labels (VERDICT r5 #7:
    // a single-row delete must not scan the whole edge store)
    val probed = GraphLoader.edgeLabelsReferencing(out, "Customer")
    assert(probed.toSet == Set("IN_NATION", "PLACED"))
    assert(probed.size < m.edges.size)
    assert(GraphLoader.edgeLabelsReferencing(out, "Region") == Seq("IN_REGION"))
    // an edge label with no endpoint metadata is probed conservatively
    Store.writeManifest(out, m.copy(edgeEndpoints = m.edgeEndpoints - "PLACED"))
    assert(GraphLoader.edgeLabelsReferencing(out, "Part").contains("PLACED"))
  }

  test("runtime DDL: types, properties, and indexes declare through the command surface") {
    val out = Files.createTempDirectory("graftddl").toString
    GraphLoader.writeGraph(spark, sfDir, out)
    import graft.server.Dml
    import graft.model.GraphSchema

    def gs() = GraphSchema.fromJson(Files.readString(Path.of(s"$out/schema.json")))

    assert(Dml.execute(spark, out, "CREATE VERTEX TYPE Tag") == 1)
    assert(Dml.execute(spark, out, "CREATE VERTEX TYPE Tag IF NOT EXISTS") == 0)
    intercept[IllegalArgumentException](Dml.execute(spark, out, "CREATE VERTEX TYPE Tag"))
    assert(Dml.execute(spark, out, "CREATE PROPERTY Tag.name STRING") == 1)
    assert(Dml.execute(spark, out, "CREATE INDEX ON Tag (name) UNIQUE") == 1)
    assert(Dml.execute(spark, out, "CREATE EDGE TYPE TAGGED") == 1)
    val reread = gs()
    assert(reread.labels.exists(l => l.label == "Tag" && l.kind == "vertex"
      && l.schema.fieldNames.contains("name")))
    assert(reread.indexes.exists(i => i.label == "Tag" && i.property == "name" && i.unique))

    // inserts into the runtime-declared type validate like built-ins:
    // the UNIQUE index holds, ids collide-check, dialect sees the type
    assert(Dml.execute(spark, out,
      "INSERT INTO Tag (id, name) VALUES (9000001, 'alpha'), (9000002, 'beta')") == 2)
    intercept[IllegalArgumentException](Dml.execute(spark, out,
      "INSERT INTO Tag (id, name) VALUES (9000003, 'alpha')")) // UNIQUE(Tag.name)
    intercept[IllegalArgumentException](Dml.execute(spark, out,
      "INSERT INTO Tag (id, name) VALUES (9000001, 'gamma')")) // id collision
    assert(storeNodes(out).filter(col("label") === "Tag").count() == 2)
    // runtime edge type: endpoint metadata reaches the DELETE probe
    assert(Dml.execute(spark, out,
      "CREATE EDGE TAGGED FROM 9000001 TO 9000002") == 1)
    assert(GraphLoader.edgeLabelsReferencing(out, "Tag") == Seq("TAGGED"))
    intercept[IllegalArgumentException](Dml.execute(spark, out,
      "DELETE FROM Tag WHERE id = 9000002")) // still referenced

    // schema evolution on a POPULATED label: the new column lands in a
    // new SEGMENT (atomic manifest commit), reads for new rows, and
    // SURVIVES a later rewrite of the label — the silent-loss scenario
    // a single-directory mixed-schema append invited
    assert(Dml.execute(spark, out, "CREATE PROPERTY Customer.nickname STRING") == 1)
    assert(Dml.execute(spark, out,
      "INSERT INTO Customer SET id = 9000050, name = 'Customer#nick', nickname = 'nick'") == 1)
    assert(storeNodes(out).filter(col("id") === 9000050L)
      .select("nickname").head.getString(0) == "nick")
    assert(Dml.execute(spark, out,
      "UPDATE Customer SET mktsegment = 'EVOLVED' WHERE id = 9000050") == 1)
    assert(storeNodes(out).filter(col("id") === 9000050L)
      .select("nickname").head.getString(0) == "nick",
      "rewrite must not drop a runtime-declared column's data")
    // the evolved column is UPDATEable even where no file carries it
    assert(Dml.execute(spark, out,
      "UPDATE Customer SET nickname = 'old-timer' WHERE id = 1000042") == 1)
    assert(storeNodes(out).filter(col("id") === 1000042L)
      .select("nickname").head.getString(0) == "old-timer")

    // guard rails: unknown type, reserved columns, duplicate property,
    // index on an undeclared property, UNIQUE over existing duplicates
    val beforeGuards = gs()
    intercept[IllegalArgumentException](Dml.execute(spark, out, "CREATE PROPERTY Nope.x STRING"))
    intercept[IllegalArgumentException](Dml.execute(spark, out, "CREATE PROPERTY Tag.id LONG"))
    intercept[IllegalArgumentException](Dml.execute(spark, out, "CREATE PROPERTY Tag.name STRING"))
    intercept[IllegalArgumentException](Dml.execute(spark, out, "CREATE INDEX ON Tag (nope) UNIQUE"))
    intercept[IllegalArgumentException](
      Dml.execute(spark, out, "CREATE INDEX ON Customer (mktsegment) UNIQUE"))
    intercept[IllegalArgumentException](Dml.execute(spark, out, "CREATE PROPERTY Tag.bad BLOB"))
    // kind conflicts are never papered over, even with IF NOT EXISTS
    intercept[IllegalArgumentException](
      Dml.execute(spark, out, "CREATE EDGE TYPE Tag IF NOT EXISTS"))
    assert(gs() == beforeGuards, "failed DDL must leave the registry untouched")
  }

  test("compaction bounds the file count left by single-row appends") {
    import scala.jdk.CollectionConverters._
    val out = Files.createTempDirectory("graftcmp").toString
    GraphLoader.writeGraph(spark, sfDir, out)
    import graft.server.Dml
    // hold OFF the automatic per-append compaction so this test still
    // exercises the manual COMPACT path over real fragmentation
    sys.props("graft.autoCompactSegments") = "1000"
    try (0 until 12).foreach(i => Dml.execute(spark, out,
      s"INSERT INTO Customer (id, name) VALUES (${1999100 + i}, 'Customer#c$i')"))
    finally sys.props.remove("graft.autoCompactSegments")
    def files(): Int = {
      val segs = graft.load.Store.readManifest(out).nodes("Customer")
      segs.map { g =>
        val s = Files.list(Path.of(s"$out/nodes/Customer/$g"))
        try s.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))
        finally s.close()
      }.sum
    }
    assert(files() >= 12) // one small file per command — the problem
    val before = storeNodes(out)
      .filter(col("label") === "Customer").count()
    assert(GraphLoader.compactStore(spark, out) >= 1)
    assert(files() <= 4, s"still ${files()} files after compaction")
    assertOpensFresh(out)
    assert(storeNodes(out)
      .filter(col("label") === "Customer").count() == before)
    // idempotent: a second pass finds nothing fragmented
    assert(GraphLoader.compactStore(spark, out) == 0)
    // the HTTP-visible command form routes to the same maintenance pass
    assert(Dml.isDml("COMPACT DATABASE"))
    assert(Dml.execute(spark, out, "COMPACT DATABASE") == 0)

    // post-compaction the bucketed co-location refresh from the STORE
    // keeps the endpoint-resolution join exchange-free (the 100 TB
    // property of writeBucketedTables, now over DML-mutated data)
    GraphLoader.writeBucketedTablesFromStore(spark, out, 8)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val n = spark.table("graft_store_nodes_bucketed")
      val e = spark.table("graft_store_edges_bucketed")
      val joined = e.join(n, e("src") === n("id"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange hashpartitioning"), plan)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("auto-compaction bounds the segment list under repeated appends") {
    val out = Files.createTempDirectory("graftauto").toString
    GraphLoader.writeGraph(spark, sfDir, out)
    import graft.server.Dml
    def segs(): Int = graft.load.Store.readManifest(out).nodes("Customer").size
    sys.props("graft.autoCompactSegments") = "3"
    try {
      var maxSeen = 0
      (0 until 10).foreach { i =>
        Dml.execute(spark, out,
          s"INSERT INTO Customer (id, name) VALUES (${1998100 + i}, 'Customer#a$i')")
        maxSeen = math.max(maxSeen, segs())
      }
      // each append adds one segment; crossing the threshold collapses
      // the list to one — the list can never outgrow threshold + 1
      assert(maxSeen <= 4, s"segment list reached $maxSeen")
      assert(segs() <= 4)
      val got = storeNodes(out).filter(col("label") === "Customer")
        .filter(col("id") >= 1998100 && col("id") < 1998110).count()
      assert(got == 10) // compaction lost nothing
      assertOpensFresh(out)
    } finally sys.props.remove("graft.autoCompactSegments")
  }

  test("transactional batch: one atomic commit, cross-statement visibility, clean abort") {
    val out = Files.createTempDirectory("grafttxn").toString
    GraphLoader.writeGraph(spark, sfDir, out)
    import graft.server.Dml
    val mpath = Path.of(out, "manifest.json")
    // an edge referencing a vertex inserted EARLIER IN THE SAME BATCH
    // must resolve (statements see the staged manifest)
    val n = Dml.executeBatch(spark, out, Seq(
      "INSERT INTO Customer (id, name) VALUES (1997001, 'Customer#t1')",
      "INSERT INTO Supplier (id, name) VALUES (2997001, 'Supplier#t1')",
      "CREATE EDGE IN_NATION FROM 1997001 TO 101"))
    assert(n == 3)
    assert(storeNodes(out).filter(col("id") === 1997001).count() == 1)
    assert(storeNodes(out).filter(col("id") === 2997001).count() == 1)
    assert(storeEdges(out).filter(col("src") === 1997001 && col("dst") === 101).count() == 1)
    // a failing statement mid-batch leaves the manifest byte-untouched:
    // nothing from the batch is visible, not even the valid first insert
    val before = Files.readString(mpath)
    import scala.jdk.CollectionConverters._
    def custGens(): Set[String] = {
      val s = Files.list(Path.of(out, "nodes", "Customer"))
      try s.iterator().asScala.map(_.getFileName.toString).filter(_.startsWith("gen-")).toSet
      finally s.close()
    }
    val gensBefore = custGens()
    intercept[IllegalArgumentException](Dml.executeBatch(spark, out, Seq(
      "INSERT INTO Customer (id, name) VALUES (1997002, 'Customer#t2')",
      "INSERT INTO Customer (id, name) VALUES (1997001, 'Customer#dup')"))) // dup id
    assert(Files.readString(mpath) == before, "aborted batch mutated the manifest")
    assert(storeNodes(out).filter(col("id") === 1997002).count() == 0)
    // the abort deleted its staged generation eagerly: a lingering
    // orphan (sorting newest) would occupy a later sweep's grace slot
    assert(custGens() == gensBefore, "aborted batch left orphan generation dirs")
    // DDL stays non-transactional, loudly
    val e = intercept[IllegalArgumentException](Dml.executeBatch(spark, out,
      Seq("CREATE VERTEX TYPE Nope")))
    assert(e.getMessage.contains("not allowed inside a transaction"))
  }

  test("UPDATE reads its label exactly once (observe-metric count, no double scan)") {
    val out = Files.createTempDirectory("graftonep").toString
    GraphLoader.writeGraph(spark, sfDir, out)
    val orderRows = storeNodes(out).filter(col("label") === "Order").count()
    val read = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null) read.addAndGet(t.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val n = GraphLoader.commit(spark, out)(GraphLoader.updateColumnsReturning(spark, _,
        "Order", "vertex", Map("priority" -> lit("9-TEST")), col("status") === "F")._1)
      assert(n > 0)
      // listener events drain asynchronously: wait for quiescence
      var last = -1L
      var spins = 0
      while (read.get() != last && spins < 50) {
        last = read.get(); Thread.sleep(100); spins += 1
      }
      // Order has no UNIQUE index → the rewrite is the only job; the
      // old count-then-rewrite path read ≈ 2× the label
      assert(read.get() <= (orderRows * 1.3).toLong,
        s"UPDATE read ${read.get()} records for a $orderRows-row label — more than one scan")
    } finally spark.sparkContext.removeSparkListener(listener)
    // zero-affected UPDATE leaves no new generation behind, and its
    // transaction staged nothing, so it writes no manifest at all
    val segsBefore = graft.load.Store.readManifest(out).nodes("Order")
    val manifestBefore = Files.readAllBytes(graft.load.Store.manifestPath(out))
    assert(GraphLoader.commit(spark, out)(GraphLoader.updateColumnsReturning(spark, _,
      "Order", "vertex", Map("priority" -> lit("x")), col("status") === "NOPE")._1) == 0)
    assert(graft.load.Store.readManifest(out).nodes("Order") == segsBefore)
    assert(java.util.Arrays.equals(
      Files.readAllBytes(graft.load.Store.manifestPath(out)), manifestBefore),
      "a zero-affected UPDATE rewrote manifest.json")
  }

  test("a foreign serving lease fences generation GC (cross-process sweep race)") {
    val out = Files.createTempDirectory("graftlease").toString
    GraphLoader.writeGraph(spark, sfDir, out)
    // supersede Order's generation so a sweep has something to collect
    GraphLoader.commit(spark, out)(GraphLoader.updateColumnsReturning(spark, _,
      "Order", "vertex", Map("priority" -> lit("5-LOW")), col("status") === "F"))
    import scala.jdk.CollectionConverters._
    def orderGens(): Set[String] = {
      val s = Files.list(Path.of(out, "nodes", "Order"))
      try s.iterator().asScala.map(_.getFileName.toString).filter(_.startsWith("gen-")).toSet
      finally s.close()
    }
    val live = graft.load.Store.readManifest(out).nodes("Order").toSet
    assert(orderGens().size > live.size, "expected a superseded generation on disk")
    // with a FOREIGN server lease: sweep must not GC — its pins are invisible
    assert(graft.load.Store.sweepImpl(out, 0, foreignServer = true) == 0)
    assert(orderGens().size > live.size)
    // our own process holding the lease is NOT "elsewhere"
    graft.load.ServingLease.acquire(out)
    try {
      assert(!graft.load.ServingLease.heldElsewhere(out))
      // nested acquire is refcounted: releasing the INNER hold leaves
      // the lease in place (graceful in-process server swap)
      graft.load.ServingLease.acquire(out)
      graft.load.ServingLease.release(out)
      assert(!graft.load.ServingLease.heldElsewhere(out))
    } finally graft.load.ServingLease.release(out)
    // no lease → normal GC reclaims the superseded generation
    assert(graft.load.Store.sweep(out) >= 1)
    assert(orderGens() == live)
  }

  test("UPSERT inserts on empty match, updates on the second pass") {
    val out = Files.createTempDirectory("graftups").toString
    GraphLoader.writeGraph(spark, sfDir, out)
    import graft.server.Dml
    def row() = storeNodes(out).filter(col("id") === 1995001)
      .select("name", "acctbal").collect()
    // no Customer with this id → the insert path: SET literals merged
    // over the WHERE equality pairs, routed through the validated
    // append sink (id collision / UNIQUE / schema all enforced)
    val n1 = Dml.execute(spark, out,
      "UPDATE Customer SET name = 'Customer#u1', acctbal = 10.5 UPSERT WHERE id = 1995001")
    assert(n1 == 1)
    assert(row().map(r => (r.getString(0), r.getDouble(1))).toSeq ==
      Seq(("Customer#u1", 10.5)))
    // the record now exists → the same statement shape updates in place
    val n2 = Dml.execute(spark, out,
      "UPDATE Customer SET acctbal = 99.25 UPSERT WHERE id = 1995001")
    assert(n2 == 1)
    assert(row().map(r => (r.getString(0), r.getDouble(1))).toSeq ==
      Seq(("Customer#u1", 99.25))) // still ONE row; name untouched
    // a non-literal SET can update but cannot seed an insert
    val e = intercept[IllegalArgumentException](Dml.execute(spark, out,
      "UPDATE Customer SET acctbal = acctbal + 1 UPSERT WHERE id = 1995999"))
    assert(e.getMessage.contains("literal SET"))
    // a non-equality WHERE conjunct cannot seed an insert either: the
    // inserted row would not satisfy its own predicate, so the same
    // UPSERT would insert-collide forever instead of updating
    val e2 = intercept[IllegalArgumentException](Dml.execute(spark, out,
      "UPDATE Customer SET name = 'Customer#u9' UPSERT WHERE id = 1995998 AND acctbal > 100"))
    assert(e2.getMessage.contains("field = literal"))
    // SET contradicting a WHERE equality on the same field: no record
    // can satisfy the predicate after insert — refused, not half-won
    val e3 = intercept[IllegalArgumentException](Dml.execute(spark, out,
      "UPDATE Customer SET mktsegment = 'AAA' UPSERT WHERE id = 1995997 AND mktsegment = 'BBB'"))
    assert(e3.getMessage.contains("satisfy its own predicate"))
    // plain UPDATE (no UPSERT) of a missing record still writes nothing
    assert(Dml.execute(spark, out,
      "UPDATE Customer SET acctbal = 1.0 WHERE id = 1995999") == 0)
  }

  test("CREATE FUNCTION registers a schema-stored macro, live for the dialect") {
    val out = Files.createTempDirectory("graftfn").toString
    GraphLoader.writeGraph(spark, sfDir, out)
    import graft.server.Dml
    assert(Dml.execute(spark, out, "CREATE FUNCTION halfbal 'acctbal / 2.0'") == 1)
    // persisted in schema.json and honored by a fresh compile (the
    // server's per-snapshot schema re-read makes this live, no restart)
    val gs = graft.model.GraphSchema.fromJson(
      Files.readString(Path.of(out, "schema.json")))
    assert(gs.functions.map(_.name) == Seq("halfbal"))
    val g = graft.query.PropertyGraph(storeNodes(out), storeEdges(out))
    val got = graft.query.ArcadeSql.compile(g, gs,
      "SELECT acctbal, halfbal() AS hb FROM Customer WHERE halfbal() > 3000.0")
      .collect()
    assert(got.nonEmpty && got.forall(r => r.getDouble(1) == r.getDouble(0) / 2.0))
    // registration fails closed: duplicates, builtin shadowing, bad body
    intercept[IllegalArgumentException](
      Dml.execute(spark, out, "CREATE FUNCTION halfbal 'acctbal'"))
    intercept[IllegalArgumentException](
      Dml.execute(spark, out, "CREATE FUNCTION sum 'acctbal'"))
    intercept[IllegalArgumentException](
      Dml.execute(spark, out, "CREATE FUNCTION broken 'acctbal +'"))
    // DEFINE FUNCTION is the reference's spelling for the same DDL
    assert(Dml.execute(spark, out,
      "DEFINE FUNCTION twice 'x * 2' PARAMETERS [x]") == 1)
    // a body spanning lines must not brick schema.json (control chars
    // escape in the registry JSON)
    assert(Dml.execute(spark, out, "CREATE FUNCTION multiline 'acctbal +\n 1.0'") == 1)
    val gs3 = graft.model.GraphSchema.fromJson(
      Files.readString(Path.of(out, "schema.json")))
    assert(gs3.functions.exists(_.name == "multiline"))
  }

  test("DROP TYPE/PROPERTY/INDEX/FUNCTION complete the DDL lifecycle") {
    val out = Files.createTempDirectory("graftdrop").toString
    GraphLoader.writeGraph(spark, sfDir, out)
    import graft.server.Dml
    Dml.execute(spark, out, "CREATE VERTEX TYPE Scratch")
    Dml.execute(spark, out, "CREATE PROPERTY Scratch.tag STRING")
    Dml.execute(spark, out, "CREATE INDEX ON Scratch (tag) UNIQUE")
    // teardown order is enforced: indexed property refuses to drop
    intercept[IllegalArgumentException](
      Dml.execute(spark, out, "DROP PROPERTY Scratch.tag"))
    assert(Dml.execute(spark, out, "DROP INDEX ON Scratch (tag)") == 1)
    assert(Dml.execute(spark, out, "DROP PROPERTY Scratch.tag") == 1)
    // a type holding records refuses; DELETE first, then DROP retires
    // the label from schema AND manifest
    Dml.execute(spark, out, "CREATE VERTEX Scratch SET id = 1994001")
    intercept[IllegalArgumentException](Dml.execute(spark, out, "DROP TYPE Scratch"))
    Dml.execute(spark, out, "DELETE FROM Scratch")
    assert(Dml.execute(spark, out, "DROP TYPE Scratch") == 1)
    assert(!graft.load.Store.readManifest(out).nodes.contains("Scratch"))
    val gs = graft.model.GraphSchema.fromJson(
      Files.readString(Path.of(out, "schema.json")))
    assert(!gs.labels.exists(_.label == "Scratch"))
    intercept[IllegalArgumentException](Dml.execute(spark, out, "DROP TYPE Scratch"))
    assert(Dml.execute(spark, out, "DROP TYPE Scratch IF EXISTS") == 0)
    // function lifecycle closes the same way
    Dml.execute(spark, out, "CREATE FUNCTION scr 'acctbal'")
    assert(Dml.execute(spark, out, "DROP FUNCTION scr") == 1)
    intercept[IllegalArgumentException](Dml.execute(spark, out, "DROP FUNCTION scr"))
  }

  test("dropped-index/type dirs get ONE sweep cycle of grace, then reclaim (ADVICE r8 + code-review r9)") {
    val out = Files.createTempDirectory("graftdropgc").toString
    GraphLoader.writeGraph(spark, sfDir, out)
    import graft.server.Dml
    // the default schema builds FULL_TEXT postings for Part.name
    val ftProp = Path.of(out, "ft", "nodes", "Part", "name")
    assert(Files.isDirectory(ftProp))
    assert(Dml.execute(spark, out, "DROP INDEX ON Part (name)") == 1)
    // DROP INDEX's own post-retirement sweep is grace cycle 1: a
    // cross-process reader of the pre-drop manifest keeps its newest
    // postings generation for one cycle (code-review r9 #3 — deleting
    // immediately re-opens the torn read the grace slot exists for)
    assert(Files.isDirectory(ftProp),
      "the drop's own sweep must spare the newest postings gen once")
    // …and the NEXT sweep reclaims it fully (leak-forever was ADVICE r8)
    graft.load.Store.sweep(out, keepPerLabel = 1)
    assert(!Files.exists(ftProp),
      "dropped FULL_TEXT index postings must be swept on the second cycle")
    // same for a dropped TYPE's data generations
    Dml.execute(spark, out, "CREATE VERTEX TYPE Gone")
    Dml.execute(spark, out, "CREATE VERTEX Gone SET id = 1997001")
    val goneDir = Path.of(out, "nodes", "Gone")
    assert(Files.isDirectory(goneDir))
    Dml.execute(spark, out, "DELETE FROM Gone")
    assert(Dml.execute(spark, out, "DROP TYPE Gone") == 1)
    graft.load.Store.sweep(out, keepPerLabel = 1) // grace cycle
    assert(Files.isDirectory(goneDir),
      "first post-drop sweep grants one grace cycle")
    graft.load.Store.sweep(out, keepPerLabel = 1) // reclaim
    assert(!Files.exists(goneDir),
      "dropped type generations must be swept on the second cycle")
  }

  test("DML parser fails closed on malformed statements") {
    val out = Files.createTempDirectory("graftdml").toString
    GraphLoader.writeGraph(spark, sfDir, out)
    import graft.server.Dml
    Seq(
      "INSERT INTO NoSuchLabel (id) VALUES (1)",
      "INSERT INTO Customer (id, name) VALUES (1, 'x', 'extra')", // arity
      "INSERT INTO Customer () VALUES (1)",
      "INSERT INTO Customer (name) VALUES ('x')", // node without id
      "INSERT INTO Customer (id) VALUES (1) trailing garbage",
      "INSERT INTO Customer (id) VALUES ('unterminated",
      "CREATE VERTEX IN_NATION SET src = 1", // edge label as vertex
      "CREATE EDGE Customer FROM 1 TO 2",    // vertex label as edge
      "CREATE VERTEX Customer SET = 1",
      "CREATE VERTEX Customer SET id = bogusliteral",
      "TRUNCATE Customer", // unsupported verb
      "DELETE FROM Customer", // supported verb, but every customer has edges → dangling reject
      "UPDATE Customer SET id = 9", // immutable key
      "UPDATE IN_NATION SET eid = 9", // immutable edge record id (code-review r9)
      "UPDATE Customer SET name = 'x' WHERE ???bad", // malformed dialect predicate
      "INSERT INTO Customer (id, name) VALUES ('abc', 'x')", // string into bigint (ANSI cast)
      "").foreach { stmt =>
      intercept[IllegalArgumentException](Dml.execute(spark, out, stmt))
    }
    // intra-batch duplicate ids are rejected too (a gap this test found:
    // the existing-id semi-join alone would have let them through)
    val n = storeNodes(out).count()
    intercept[IllegalArgumentException](Dml.execute(spark, out,
      "INSERT INTO Customer (id, name) VALUES (1999100, 'a'), (1999100, 'b')"))
    // none of the rejects touched the store
    assert(storeNodes(out).count() == n)
  }

  test("bucketed layout: endpoint-resolution join plans shuffle-free") {
    GraphLoader.writeBucketedTables(spark, sfDir, 8)
    // at sf0.001 the node side broadcasts, which sidesteps bucketing —
    // disable auto-broadcast to exercise the at-scale plan shape, where
    // neither side fits in memory and co-location is what saves the day
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val n = spark.table("graft_nodes_bucketed")
      val e = spark.table("graft_edges_bucketed")
      val joined = e.join(n, e("src") === n("id"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      // both sides bucketed on the join key with equal bucket counts:
      // the join must not SHUFFLE either side (the 100 TB co-location win)
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange hashpartitioning"), plan)
      // and it is the same join semantically as the plain layout
      val plain = GraphLoader.edges(spark, sfDir)
      val nn = GraphLoader.nodes(spark, sfDir)
      val (resolved, _) = GraphLoader.resolveEdges(nn, plain)
      assert(joined.count() == resolved.count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("manifest round-trips labels holding control characters (VERDICT r7 wrong #1)") {
    // labels reach the manifest from bulk-load INPUT DATA, not just the
    // dialect's ident() parser — a hostile label must round-trip, never
    // brick manifest.json for every subsequent read
    val out = Files.createTempDirectory("graftesc").toString
    val hostile = "Bad\nLabel\twith \"quotes\" and \\slash\u0001"
    val m = graft.load.Store.Manifest(
      1L, Map(hostile -> Seq("gen-000000000001-aaaaaaaa")),
      Map(hostile -> Seq("gen-000000000001-bbbbbbbb")),
      Map(hostile -> (Set(hostile), Set(hostile))))
    graft.load.Store.writeManifest(out, m)
    val back = graft.load.Store.readManifest(out)
    assert(back.nodes == m.nodes && back.edges == m.edges &&
      back.edgeEndpoints == m.edgeEndpoints)
  }

  test("concurrent in-process lease acquires nest instead of spuriously failing (ADVICE r7)") {
    val out = Files.createTempDirectory("graftleaserace").toString
    val n = 8
    val start = new java.util.concurrent.CountDownLatch(1)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to n).map(_ => new Thread(() => {
      start.await()
      try graft.load.ServingLease.acquire(out)
      catch { case t: Throwable => errs.add(t) }
    }))
    threads.foreach(_.start())
    start.countDown() // maximal overlap: same-JVM tryLock THROWS for losers
    threads.foreach(_.join())
    assert(errs.isEmpty, s"racing acquires failed: ${errs.peek()}")
    // refcounted: the lease frees only after the last release
    (1 to n).foreach(_ => graft.load.ServingLease.release(out))
    // and a fresh acquire/release cycle still works
    graft.load.ServingLease.acquire(out)
    graft.load.ServingLease.release(out)
  }

  test("TRUNCATE TYPE empties the type, keeps the declaration, guards integrity") {
    val out = Files.createTempDirectory("grafttrunc").toString
    GraphLoader.writeGraph(spark, sfDir, out)
    // truncating a REFERENCED vertex type is refused (no-dangling
    // invariant), and UNSAFE is refused by design
    val e1 = intercept[IllegalArgumentException](
      graft.server.Dml.execute(spark, out, "TRUNCATE TYPE Customer"))
    assert(e1.getMessage.contains("edges still reference"))
    val e2 = intercept[IllegalArgumentException](
      graft.server.Dml.execute(spark, out, "TRUNCATE TYPE Customer UNSAFE"))
    assert(e2.getMessage.contains("UNSAFE"))
    // edge types truncate freely; then the vertex type truncates
    val nPlaced = storeEdges(out).filter(col("label") === "PLACED").count()
    assert(graft.server.Dml.execute(spark, out, "TRUNCATE TYPE PLACED") == nPlaced)
    assert(graft.server.Dml.execute(spark, out, "TRUNCATE TYPE IN_NATION") > 0)
    val nCust = storeNodes(out).filter(col("label") === "Customer").count()
    assert(graft.server.Dml.execute(spark, out, "TRUNCATE TYPE Customer") == nCust)
    assert(storeNodes(out).filter(col("label") === "Customer").isEmpty)
    // the declaration survives: an insert lands again
    assert(graft.server.Dml.execute(spark, out,
      "INSERT INTO Customer SET id = 1995001, name = 'Customer#reborn'") == 1)
  }

  test("BACKUP DATABASE copies a consistent snapshot that opens as a store") {
    val out = Files.createTempDirectory("graftbaksrc").toString
    GraphLoader.writeGraph(spark, sfDir, out)
    val n0 = storeNodes(out).count()
    val e0 = storeEdges(out).count()
    val dest = Files.createTempDirectory("graftbakdst").toString + "/bak"
    assert(graft.server.Dml.execute(spark, out, s"BACKUP DATABASE '$dest'") > 0)
    // mutate + compact + sweep the SOURCE after the backup — the
    // backup must stay a self-contained, openable store
    assert(graft.server.Dml.execute(spark, out,
      "UPDATE Part SET brand = 'Brand#bak' WHERE id = 3000001") >= 0)
    graft.load.GraphLoader.compactStore(spark, out)
    graft.load.Store.sweep(out, keepPerLabel = 0)
    val bn = graft.load.Store.readEntity(spark, dest, "nodes")
    val be = graft.load.Store.readEntity(spark, dest, "edges")
    assert(bn.count() == n0 && be.count() == e0)
    // postings generations ride the backup: the dialect route serves
    // CONTAINSTEXT from the backup's own index
    val g = graft.load.GraphLoader.openGraph(spark, dest)
    val served = graft.query.ArcadeSql.compile(g, GraphLoader.schema,
      "SELECT name FROM Part WHERE name CONTAINSTEXT 'dget'")
    assert(served.queryExecution.executedPlan.toString.contains("ft/nodes/Part/name"))
    assert(served.count() > 0)
    // a second backup into the same destination is refused
    val e = intercept[IllegalArgumentException](
      graft.server.Dml.execute(spark, out, s"BACKUP DATABASE '$dest'"))
    assert(e.getMessage.contains("already holds a store"))
  }

  test("maintenance trio: REBUILD INDEX, CHECK DATABASE, EXPORT DATABASE") {
    import java.nio.file.Paths
    val out = Files.createTempDirectory("graftmaint").toString
    GraphLoader.writeGraph(spark, sfDir, out)
    // CHECK on a healthy store: per-type counts reported, zero issues
    val r0 = graft.server.Dml.executeReturning(spark, out, "CHECK DATABASE")
    assert(r0.count == 0)
    val rows = r0.returned.get
    assert(rows.exists(r => r.contains("\"check\":\"records\"")
      && r.contains("\"label\":\"Customer\"") && r.contains("\"n\":150")))
    assert(rows.last.contains("\"issues\":0"))
    // REBUILD * touches every declared index (incl. the skipped-array
    // UNIQUE and the FULL_TEXT postings)
    assert(graft.server.Dml.execute(spark, out, "REBUILD INDEX *") ==
      GraphLoader.schema.indexes.size)
    // a FULL_TEXT rebuild lands a FRESH postings generation and the
    // index still serves (the repair route for damaged postings)
    val ftBefore = graft.load.Store.readManifest(out).ft(("nodes", "Part", "name"))
    assert(graft.server.Dml.execute(spark, out, "REBUILD INDEX ON Part (name)") == 1)
    val ftAfter = graft.load.Store.readManifest(out).ft(("nodes", "Part", "name"))
    assert(ftBefore != ftAfter)
    val g = graft.load.GraphLoader.openGraph(spark, out)
    val served = graft.query.ArcadeSql.compile(g, GraphLoader.schema,
      "SELECT name FROM Part WHERE name CONTAINSTEXT 'dget'")
    assert(served.count() > 0)
    // an index that does not exist is refused loudly
    val e = intercept[IllegalArgumentException](
      graft.server.Dml.execute(spark, out, "REBUILD INDEX ON Part (nope)"))
    assert(e.getMessage.contains("no index"))
    // a REBUILD re-proves UNIQUE: duplicate a Customer name through a
    // raw generation append (bypassing the DML validators), then watch
    // the rebuild refuse
    // (covered semantically by validateUnique's own spec — here the
    // healthy-path contract: rebuild over valid rows succeeds, above)
    // EXPORT: JSONL interchange + schema.json; counts match the store
    val dest = Files.createTempDirectory("graftexp").toString + "/exp"
    val n = graft.server.Dml.execute(spark, out, s"EXPORT DATABASE '$dest'")
    assert(n == storeNodes(out).count() + storeEdges(out).count())
    assert(Files.exists(Paths.get(s"$dest/schema.json")))
    assert(spark.read.json(s"$dest/nodes/Customer").count() == 150)
    assert(spark.read.json(s"$dest/edges/CONTAINS").count() == 6000)
    // a second export into the now-non-empty destination is refused
    val e2 = intercept[IllegalArgumentException](
      graft.server.Dml.execute(spark, out, s"EXPORT DATABASE '$dest'"))
    assert(e2.getMessage.contains("not empty"))
    // CHECK flags damage: delete a referenced generation directory
    // out from under the manifest → missing_generation issues. Plain
    // Files calls bypass the Store's handle memo: the open handle must
    // not outlive the directory, so openGraph fails on the lost path
    // exactly as a first open would
    val genPath = graft.load.Store.genPathsOf(out,
      graft.load.Store.readManifest(out))
      .find(_.contains("/nodes/Region/")).get
    assert(graft.load.Store.genMemoized(genPath))
    val walk = Files.walk(Paths.get(genPath))
    try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
    finally walk.close()
    val lost = intercept[org.apache.spark.sql.AnalysisException](
      GraphLoader.openGraph(spark, out))
    assert(lost.getCondition == "PATH_NOT_FOUND", lost.getMessage)
    val r1 = graft.server.Dml.executeReturning(spark, out, "CHECK DATABASE")
    assert(r1.count >= 1)
    assert(r1.returned.get.exists(_.contains("\"check\":\"missing_generation\"")))
  }

  test("CHECK DATABASE TYPE <t>: scoped report, damage isolation, FIX refusal (r16)") {
    import java.nio.file.Paths
    val out = Files.createTempDirectory("graftchktype").toString
    GraphLoader.writeGraph(spark, sfDir, out)
    // healthy scoped report: only the scoped label's rows, tagged summary
    val rC = graft.server.Dml.executeReturning(spark, out,
      "CHECK DATABASE TYPE Customer")
    assert(rC.count == 0)
    val rowsC = rC.returned.get
    assert(rowsC.exists(_.contains("\"label\":\"Customer\"")))
    assert(!rowsC.exists(_.contains("\"label\":\"Part\"")), rowsC.mkString("\n"))
    assert(rowsC.last.contains("\"type\":\"Customer\""))
    // edge scope runs the dangling probe for that type only
    val rE = graft.server.Dml.executeReturning(spark, out,
      "CHECK DATABASE TYPE IN_NATION")
    assert(rE.count == 0 &&
      rE.returned.get.exists(_.contains("\"label\":\"IN_NATION\"")))
    // unknown type and TYPE+FIX are refused loudly
    assert(intercept[IllegalArgumentException](graft.server.Dml.executeReturning(
      spark, out, "CHECK DATABASE TYPE Nope")).getMessage.contains("unknown type"))
    assert(intercept[IllegalArgumentException](graft.server.Dml.executeReturning(
      spark, out, "CHECK DATABASE TYPE Customer FIX")).getMessage
      .contains("whole store"))
    // BUCKET <b> is the same scope by partition number (bucket b =
    // the b-th declared label, the RidSource numbering)
    val cBucket = GraphLoader.schema.labels.indexWhere(_.label == "Customer")
    val rB = graft.server.Dml.executeReturning(spark, out,
      s"CHECK DATABASE BUCKET $cBucket")
    assert(rB.count == 0 && rB.returned.get.last.contains("\"type\":\"Customer\""))
    assert(intercept[IllegalArgumentException](graft.server.Dml.executeReturning(
      spark, out, "CHECK DATABASE BUCKET 99")).getMessage.contains("unknown bucket"))
    assert(intercept[IllegalArgumentException](graft.server.Dml.executeReturning(
      spark, out, "CHECK DATABASE TYPE Customer BUCKET 1")).getMessage
      .contains("not both"))
    // DAMAGE ISOLATION: delete Region's node generation — the scoped
    // Customer report still answers clean (it never reads Region),
    // the scoped Region report names the damage, and the edge scope
    // whose dangling probe needs node ids gates on it too
    val regionGen = graft.load.Store.genPathsOf(out,
      graft.load.Store.readManifest(out)).find(_.contains("/nodes/Region/")).get
    graft.load.Store.tryDeleteRecursively(Paths.get(regionGen))
    assert(graft.server.Dml.executeReturning(spark, out,
      "CHECK DATABASE TYPE Customer").count == 0)
    val rReg = graft.server.Dml.executeReturning(spark, out,
      "CHECK DATABASE TYPE Region")
    assert(rReg.count == 1 &&
      rReg.returned.get.exists(_.contains("missing_generation")))
    assert(graft.server.Dml.executeReturning(spark, out,
      "CHECK DATABASE TYPE IN_REGION").returned.get
      .exists(_.contains("missing_generation")))
  }

  test("CHECK DATABASE comma lists, bucket names, readOnly flag (r17, ADVICE r16)") {
    val out = Files.createTempDirectory("graftchklist").toString
    GraphLoader.writeGraph(spark, sfDir, out)
    // mixed vertex+edge list: both labels' counts, the edge's dangling
    // probe still runs (endpoints live outside the scoped vertex set)
    val rL = graft.server.Dml.executeReturning(spark, out,
      "CHECK DATABASE TYPE Customer, IN_NATION")
    assert(rL.count == 0)
    val rowsL = rL.returned.get
    assert(rowsL.exists(_.contains("\"label\":\"Customer\"")))
    assert(rowsL.exists(_.contains("\"label\":\"IN_NATION\"")))
    assert(!rowsL.exists(_.contains("\"label\":\"Part\"")), rowsL.mkString("\n"))
    assert(rowsL.last.contains("\"type\":\"Customer,IN_NATION\""))
    // bucket NAMES map through the label registry; names and ordinals mix
    val cBucket = GraphLoader.schema.labels.indexWhere(_.label == "Customer")
    val rB = graft.server.Dml.executeReturning(spark, out,
      s"CHECK DATABASE BUCKET Nation, $cBucket")
    assert(rB.count == 0 &&
      rB.returned.get.last.contains("\"type\":\"Nation,Customer\""))
    assert(intercept[IllegalArgumentException](graft.server.Dml.executeReturning(
      spark, out, "CHECK DATABASE BUCKET Nope")).getMessage
      .contains("unknown bucket"))
    // the parsed dispatch classifies reporters/exporters as read-only
    // (the served snapshot must not re-swap after them); DML is not
    assert(rL.readOnly && rB.readOnly)
    assert(graft.server.Dml.executeReturning(spark, out,
      "CHECK DATABASE").readOnly)
    val exp = Files.createTempDirectory("graftchkexp").toString + "/e"
    assert(graft.server.Dml.executeReturning(spark, out,
      s"EXPORT DATABASE '$exp'").readOnly)
    assert(!graft.server.Dml.executeReturning(spark, out,
      "CHECK DATABASE FIX").readOnly)
    assert(!graft.server.Dml.executeReturning(spark, out,
      "UPDATE Customer SET mktsegment = 'X' WHERE id = -1").readOnly)
  }

  test("IMPORT DATABASE: EXPORT round-trip — counts, rids, eidNext, CHECK-clean (r15)") {
    import java.nio.file.Paths
    val out = Files.createTempDirectory("graftimpsrc").toString
    GraphLoader.writeGraph(spark, sfDir, out)
    // burn a DML-allocated edge rid so the round-trip must restore the
    // eidNext high-water mark (a fresh manifest restarting at the base
    // would double-assign it)
    assert(graft.server.Dml.execute(spark, out,
      "CREATE EDGE PLACED FROM 1000001 TO 10000001") == 1)
    val eidNextSrc = graft.load.Store.readManifest(out).eidNext
    assert(eidNextSrc > GraphLoader.EidDmlBase)
    val dest = Files.createTempDirectory("graftimpexp").toString + "/exp"
    val nExp = graft.server.Dml.execute(spark, out, s"EXPORT DATABASE '$dest'")
    // import into a FRESH directory (the CLI route's body)
    val out2 = Files.createTempDirectory("graftimpdst").toString + "/store"
    val nImp = GraphLoader.importJson(spark, dest, out2)
    assert(nImp == nExp)
    // CHECK DATABASE on the imported store: zero issues
    val chk = graft.server.Dml.executeReturning(spark, out2, "CHECK DATABASE")
    assert(chk.count == 0 && chk.returned.get.last.contains("\"issues\":0"))
    // per-label counts and rid SETS match the source exactly
    val (n1, e1) = (storeNodes(out), storeEdges(out))
    val (n2, e2) = (storeNodes(out2), storeEdges(out2))
    assert(n1.groupBy("label").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet ==
      n2.groupBy("label").count().collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet)
    assert(n1.select("id").except(n2.select("id")).count() == 0
      && n2.select("id").except(n1.select("id")).count() == 0)
    assert(e1.select("eid").except(e2.select("eid")).count() == 0
      && e2.select("eid").except(e1.select("eid")).count() == 0)
    // types survive the JSON hop via the declared schema (JSON itself
    // carries no fidelity): Part.psize comes back integral, tags array
    val part2 = n2.filter(col("label") === "Part")
    assert(part2.schema("psize").dataType ==
      org.apache.spark.sql.types.IntegerType)
    assert(part2.schema("tags").dataType.isInstanceOf[
      org.apache.spark.sql.types.ArrayType])
    assert(graft.load.Store.readManifest(out2).eidNext == eidNextSrc)
    // the imported store SERVES, postings rebuilt from the imported
    // rows (CONTAINSTEXT routes through the fresh index)
    val g2 = GraphLoader.openGraph(spark, out2)
    val served = graft.query.ArcadeSql.compile(g2, GraphLoader.schema,
      "SELECT name FROM Part WHERE name CONTAINSTEXT 'dget'")
    assert(served.queryExecution.executedPlan.toString.contains("ft/nodes/Part/name"))
    assert(served.count() > 0)
    // refusal: a target already holding records
    val eNon = intercept[IllegalArgumentException](
      GraphLoader.importJson(spark, dest, out2))
    assert(eNon.getMessage.contains("already holds records"))
    // refusal: a duplicated interchange line (code-review r15 — one
    // rid must never address two records; Region has no UNIQUE
    // property, so only the rid guard can catch this)
    val regionParts = Files.list(Paths.get(s"$dest/nodes/Region")).iterator()
    val partFile = {
      import scala.jdk.CollectionConverters._
      regionParts.asScala.filter(_.getFileName.toString.endsWith(".json")).toSeq.head
    }
    val firstLine = Files.readAllLines(partFile).get(0)
    Files.writeString(partFile, firstLine + "\n",
      java.nio.file.StandardOpenOption.APPEND)
    // drop Hadoop's local-FS checksum sidecar: the hand-edit must reach
    // the reader as data, not die as a ChecksumException
    Files.deleteIfExists(partFile.resolveSibling("." + partFile.getFileName + ".crc"))
    val outDup = Files.createTempDirectory("graftimpdup").toString + "/store"
    val eDup = intercept[IllegalArgumentException](
      GraphLoader.importJson(spark, dest, outDup))
    assert(eDup.getMessage.contains("duplicate node id"))
    // refusal: a hand-damaged tree (Region removed → IN_REGION dangles)
    graft.load.Store.deleteRecursively(Paths.get(s"$dest/nodes/Region"))
    val out3 = Files.createTempDirectory("graftimpdst3").toString + "/store"
    val eDang = intercept[IllegalArgumentException](
      GraphLoader.importJson(spark, dest, out3))
    assert(eDang.getMessage.contains("missing endpoints"))
    // refusal: an UNDECLARED label directory
    Files.createDirectories(Paths.get(s"$dest/nodes/Rogue"))
    val out4 = Files.createTempDirectory("graftimpdst4").toString + "/store"
    val eRogue = intercept[IllegalArgumentException](
      GraphLoader.importJson(spark, dest, out4))
    assert(eRogue.getMessage.contains("not declared"))
  }

  test("staged transaction generations survive interleaved sweeps (code-review r8)") {
    import spark.implicits._
    val out = Files.createTempDirectory("grafttxnpin").toString
    GraphLoader.writeGraph(spark, sfDir, out)
    val n0 = storeNodes(out).count()
    // a cross-request session txn holds NO lock between statements; an
    // interleaved sweep (zero-affected UPDATE, snapshot retirement)
    // must not GC the staged gens the in-memory manifest references
    val txn = GraphLoader.beginTxn(out)
    GraphLoader.appendNodes(spark, txn,
      Seq((1994001L, "Customer", "Customer#staged1", 1.0, "BUILDING"))
        .toDF("id", "label", "name", "acctbal", "mktsegment"))
    GraphLoader.appendNodes(spark, txn,
      Seq((1994002L, "Customer", "Customer#staged2", 2.0, "BUILDING"))
        .toDF("id", "label", "name", "acctbal", "mktsegment"))
    // the hostile interleavings: an aggressive full sweep AND the
    // keep-1 sweep a zero-affected DML runs
    graft.load.Store.sweep(out, keepPerLabel = 0)
    graft.load.Store.sweep(out, keepPerLabel = 1)
    txn.commit()
    // every committed row is READABLE — a swept staged gen would throw
    val after = storeNodes(out)
    assert(after.count() == n0 + 2)
    assert(after.filter(col("id").isin(1994001L, 1994002L)).count() == 2)
    // and the pins are released: a post-commit... orphan-free sweep runs
    graft.load.Store.sweep(out, keepPerLabel = 0)
    assert(storeNodes(out).count() == n0 + 2)
    // abort releases pins too (fresh txn, staged gen, abort, sweep)
    val txn2 = GraphLoader.beginTxn(out)
    GraphLoader.appendNodes(spark, txn2,
      Seq((1994003L, "Customer", "Customer#staged3", 3.0, "BUILDING"))
        .toDF("id", "label", "name", "acctbal", "mktsegment"))
    txn2.abort()
    graft.load.Store.sweep(out, keepPerLabel = 0)
    assert(storeNodes(out).filter(col("id") === 1994003L).isEmpty)
  }

  test("pinned staged gens do not consume the sweep's grace slot (code-review r8)") {
    import spark.implicits._
    val out = Files.createTempDirectory("graftgrace").toString
    GraphLoader.writeGraph(spark, sfDir, out)
    val g0 = graft.load.Store.readManifest(out).nodes("Customer").head
    // supersede Customer's bulk gen with a rewrite…
    assert(graft.server.Dml.execute(spark, out,
      "UPDATE Customer SET acctbal = acctbal WHERE id = 1000001") == 1)
    // …and stage a PINNED session gen on the same label (sorts newest)
    val txn = GraphLoader.beginTxn(out)
    GraphLoader.appendNodes(spark, txn,
      Seq((1993001L, "Customer", "Customer#grace", 1.0, "BUILDING"))
        .toDF("id", "label", "name", "acctbal", "mktsegment"))
    // keep-1 sweep: the grace slot must go to the REAL newest
    // superseded gen (g0), not be eaten by the undeletable pinned gen
    graft.load.Store.sweep(out, keepPerLabel = 1)
    assert(Files.isDirectory(Path.of(out, s"nodes/Customer/$g0")),
      "grace-window gen was deleted out from under cross-process readers")
    txn.abort()
  }

  test("schema-only DDL advances the manifest seq (session conflict token)") {
    val out = Files.createTempDirectory("graftddlseq").toString
    GraphLoader.writeGraph(spark, sfDir, out)
    val seq0 = graft.load.Store.readManifest(out).seq
    // a catalog change must conflict an open session like a data
    // commit does — a UNIQUE index declared mid-session could
    // otherwise be silently violated by the session's commit
    assert(graft.server.Dml.execute(spark, out,
      "CREATE PROPERTY Customer.note STRING") == 1)
    assert(graft.load.Store.readManifest(out).seq > seq0)
    val seq1 = graft.load.Store.readManifest(out).seq
    assert(graft.server.Dml.execute(spark, out,
      "CREATE INDEX ON Customer (note) NOTUNIQUE") == 1)
    assert(graft.load.Store.readManifest(out).seq > seq1)
  }

  test("full-text postings: built at bulk load, maintained by every DML commit") {
    import spark.implicits._
    val out = Files.createTempDirectory("graftft").toString
    GraphLoader.writeGraph(spark, sfDir, out)
    def m() = graft.load.Store.readManifest(out)
    def post() = graft.load.Store.readFt(spark, out, "nodes", "Part", "name", m()).get
    def recomputed() = graft.load.FullText.postings(
      storeNodes(out).filter(col("label") === "Part").select("id", "name"), "name")
    def same(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    // bulk build: postings exactly equal a recompute from the data
    assert(m().ft.contains(("nodes", "Part", "name")))
    assert(same(post(), recomputed()))

    // DML append: ONE postings segment joins the list in the SAME
    // manifest (data segment count and ft segment count move together)
    val ftSegs0 = m().ft(("nodes", "Part", "name")).size
    val gens0 = genFileStamps(out)
    assert(graft.server.Dml.execute(spark, out,
      "INSERT INTO Part SET id = 3999999, name = 'zzuniquetoken gadget'") == 1)
    assert(m().ft(("nodes", "Part", "name")).size == ftSegs0 + 1)
    // an append only ADDS generations: every existing file is untouched
    val gens1 = genFileStamps(out)
    assert(gens0.forall { case (p, t) => gens1.get(p).contains(t) })
    assert(gens1.size > gens0.size)
    assert(same(post(), recomputed()))
    assert(post().filter(col("tk") === "zzuniquetoken").count() == 1)

    // UPDATE rewrite: postings rebuilt to ONE generation; the old
    // token is gone, the new one present
    assert(graft.server.Dml.execute(spark, out,
      "UPDATE Part SET name = 'renamed sprocket' WHERE id = 3999999") == 1)
    assert(m().ft(("nodes", "Part", "name")).size == 1)
    assert(post().filter(col("tk") === "zzuniquetoken").isEmpty)
    assert(post().filter(col("tk") === "sprocket").count() == 1)
    assert(same(post(), recomputed()))

    // DELETE rewrite: the record's tokens leave the postings
    assert(graft.server.Dml.execute(spark, out,
      "DELETE FROM Part WHERE id = 3999999") == 1)
    assert(post().filter(col("tk") === "sprocket").isEmpty)
    assert(same(post(), recomputed()))

    // sweep GCs superseded postings generations (none pinned here)
    graft.load.Store.sweep(out)
    val live = m().ft(("nodes", "Part", "name")).toSet
    val onDisk = java.nio.file.Files.list(Path.of(out, "ft/nodes/Part/name"))
    val dirs = try {
      import scala.jdk.CollectionConverters._
      onDisk.iterator().asScala.map(_.getFileName.toString).toSet
    } finally onDisk.close()
    assert(dirs == live)
  }

  test("full-text DDL: CREATE INDEX FULL_TEXT builds, DROP INDEX retires") {
    val out = Files.createTempDirectory("graftftddl").toString
    GraphLoader.writeGraph(spark, sfDir, out)
    // no index on Customer.name yet (the declared one is UNIQUE-value);
    // FULL_TEXT on an edge type or non-string property is refused
    val e1 = intercept[IllegalArgumentException](graft.server.Dml.execute(spark, out,
      "CREATE INDEX ON PLACED (linenumber) FULL_TEXT"))
    assert(e1.getMessage.toLowerCase.contains("edge"))
    val e2 = intercept[IllegalArgumentException](graft.server.Dml.execute(spark, out,
      "CREATE INDEX ON Part (psize) FULL_TEXT"))
    assert(e2.getMessage.contains("STRING"))
    // a fresh string property: declare, index, and serve
    assert(graft.server.Dml.execute(spark, out,
      "CREATE PROPERTY Order.note STRING") == 1)
    assert(graft.server.Dml.execute(spark, out,
      "CREATE INDEX ON Order (note) FULL_TEXT") == 1)
    val m1 = graft.load.Store.readManifest(out)
    assert(m1.ft.contains(("nodes", "Order", "note")))
    // postings of a declared-but-unstored column are empty but PRESENT
    // (appends maintain them from here on)
    assert(graft.load.Store.readFt(spark, out, "nodes", "Order", "note", m1)
      .get.isEmpty)
    assert(graft.server.Dml.execute(spark, out,
      "INSERT INTO Order SET id = 19999999, note = 'expedite zzflagged'") == 1)
    val m2 = graft.load.Store.readManifest(out)
    assert(graft.load.Store.readFt(spark, out, "nodes", "Order", "note", m2)
      .get.filter(col("tk") === "zzflagged").count() == 1)
    // DROP INDEX retires schema AND manifest entry; the sweep removes dirs
    assert(graft.server.Dml.execute(spark, out,
      "DROP INDEX ON Order (note)") == 1)
    val m3 = graft.load.Store.readManifest(out)
    assert(!m3.ft.contains(("nodes", "Order", "note")))
    val gs = graft.model.GraphSchema.fromJson(
      Files.readString(Path.of(out, "schema.json")))
    assert(!gs.indexes.exists(i => i.label == "Order" && i.property == "note"))
  }

  test("ALTER PROPERTY MANDATORY: declared, enforced at every sink, droppable") {
    import spark.implicits._
    val out = Files.createTempDirectory("graftmand").toString
    GraphLoader.writeGraph(spark, sfDir, out)
    assert(graft.server.Dml.execute(spark, out, "CREATE VERTEX TYPE Gadget") == 1)
    assert(graft.server.Dml.execute(spark, out, "CREATE PROPERTY Gadget.gname STRING") == 1)
    // a row WITHOUT the property lands fine before the constraint…
    assert(graft.server.Dml.execute(spark, out, "INSERT INTO Gadget SET id = 5000001") == 1)
    // …and blocks declaring it (existing null rows must be fixed first)
    intercept[IllegalArgumentException](
      graft.server.Dml.execute(spark, out, "ALTER PROPERTY Gadget.gname MANDATORY true"))
    assert(graft.server.Dml.execute(spark, out,
      "UPDATE Gadget SET gname = 'g1' WHERE id = 5000001") == 1)
    assert(graft.server.Dml.execute(spark, out, "ALTER PROPERTY Gadget.gname MANDATORY true") == 1)
    // the constraint is in the served schema (rides /api/v1/schema)
    val gs = graft.model.GraphSchema.fromJson(
      java.nio.file.Files.readString(java.nio.file.Paths.get(s"$out/schema.json")))
    assert(gs.constraints.exists(c =>
      c.label == "Gadget" && c.property == "gname" && c.kind == "mandatory"))
    // INSERT missing the property → rejected at the append sink
    intercept[IllegalArgumentException](
      graft.server.Dml.execute(spark, out, "INSERT INTO Gadget SET id = 5000002"))
    // UPDATE stripping the value → rejected at the rewrite sink
    intercept[IllegalArgumentException](
      graft.server.Dml.execute(spark, out, "UPDATE Gadget SET gname = null WHERE id = 5000001"))
    // a double-declare is loud; the NOTNULL spelling collapses to the
    // same invariant (A7: absent key ≡ null) so it is "already" too
    intercept[IllegalArgumentException](
      graft.server.Dml.execute(spark, out, "ALTER PROPERTY Gadget.gname MANDATORY true"))
    intercept[IllegalArgumentException](
      graft.server.Dml.execute(spark, out, "ALTER PROPERTY Gadget.gname NOTNULL true"))
    // DROP PROPERTY is refused while the constraint stands
    intercept[IllegalArgumentException](
      graft.server.Dml.execute(spark, out, "DROP PROPERTY Gadget.gname"))
    // retire the constraint → everything above unblocks
    assert(graft.server.Dml.execute(spark, out, "ALTER PROPERTY Gadget.gname MANDATORY false") == 1)
    assert(graft.server.Dml.execute(spark, out, "INSERT INTO Gadget SET id = 5000002") == 1)
    assert(graft.server.Dml.execute(spark, out, "DROP PROPERTY Gadget.gname") == 1)
    // valid inserts flow normally under an active constraint elsewhere
    assert(graft.server.Dml.execute(spark, out,
      "INSERT INTO Gadget SET id = 5000003") == 1) // gname dropped: no constraint
    // a typo'd retire (no such constraint) is a client error, not a
    // silent success (ADVICE r10) — symmetric with the double-declare
    intercept[IllegalArgumentException](graft.server.Dml.execute(spark, out,
      "ALTER PROPERTY Gadget.gcount MANDATORY false"))
  }

  test("ALTER PROPERTY MIN/MAX/REGEXP/DEFAULT: declared over existing data, enforced, retirable") {
    val out = Files.createTempDirectory("graftattr").toString
    GraphLoader.writeGraph(spark, sfDir, out)
    assert(graft.server.Dml.execute(spark, out, "CREATE VERTEX TYPE Widget") == 1)
    assert(graft.server.Dml.execute(spark, out, "CREATE PROPERTY Widget.wname STRING") == 1)
    assert(graft.server.Dml.execute(spark, out, "CREATE PROPERTY Widget.wsize LONG") == 1)
    assert(graft.server.Dml.execute(spark, out,
      "INSERT INTO Widget SET id = 6000001, wname = 'ok_name', wsize = 10") == 1)
    // declare-over-existing discipline: a bound the store already
    // violates is rejected before it lands
    intercept[IllegalArgumentException](graft.server.Dml.execute(spark, out,
      "ALTER PROPERTY Widget.wsize MIN 50"))
    assert(graft.server.Dml.execute(spark, out, "ALTER PROPERTY Widget.wsize MIN 5") == 1)
    assert(graft.server.Dml.execute(spark, out, "ALTER PROPERTY Widget.wsize MAX 100") == 1)
    assert(graft.server.Dml.execute(spark, out,
      "ALTER PROPERTY Widget.wname REGEXP '[a-z_]+'") == 1)
    // constraints ride schema.json with their literals
    val gs = graft.model.GraphSchema.fromJson(
      Files.readString(Path.of(out, "schema.json")))
    assert(gs.constraints.exists(c => c.property == "wsize" &&
      c.kind == "min" && c.arg.contains("5")))
    assert(gs.constraints.exists(c => c.property == "wname" &&
      c.kind == "regexp" && c.arg.contains("[a-z_]+")))
    // append sink: out-of-bounds / non-matching rows are rejected
    intercept[IllegalArgumentException](graft.server.Dml.execute(spark, out,
      "INSERT INTO Widget SET id = 6000002, wname = 'ok', wsize = 2"))       // < MIN
    intercept[IllegalArgumentException](graft.server.Dml.execute(spark, out,
      "INSERT INTO Widget SET id = 6000002, wname = 'ok', wsize = 500"))     // > MAX
    intercept[IllegalArgumentException](graft.server.Dml.execute(spark, out,
      "INSERT INTO Widget SET id = 6000002, wname = 'Bad Name', wsize = 9")) // regexp
    // REGEXP is a FULL match: a matching substring inside junk fails
    intercept[IllegalArgumentException](graft.server.Dml.execute(spark, out,
      "INSERT INTO Widget SET id = 6000002, wname = 'ok!', wsize = 9"))
    // null values PASS value bounds (MANDATORY is the presence rule)
    assert(graft.server.Dml.execute(spark, out,
      "INSERT INTO Widget SET id = 6000002, wsize = 9") == 1)
    // UPDATE rewrite sink enforces the same bounds
    intercept[IllegalArgumentException](graft.server.Dml.execute(spark, out,
      "UPDATE Widget SET wsize = 1 WHERE id = 6000001"))
    // re-setting a bound OVERWRITES it (ALTER semantics)
    assert(graft.server.Dml.execute(spark, out, "ALTER PROPERTY Widget.wsize MIN 1") == 1)
    assert(graft.server.Dml.execute(spark, out,
      "UPDATE Widget SET wsize = 2 WHERE id = 6000001") == 1)
    // DEFAULT: a creation-time fill composing with MANDATORY
    assert(graft.server.Dml.execute(spark, out,
      "ALTER PROPERTY Widget.wname DEFAULT 'unnamed'") == 1)
    assert(graft.server.Dml.execute(spark, out,
      "INSERT INTO Widget SET id = 6000003, wsize = 9") == 1)
    assert(storeNodes(out).filter(col("id") === 6000003L)
      .select("wname").head.getString(0) == "unnamed")
    // degenerate declarations are loud: bad literal type, broken regex
    intercept[IllegalArgumentException](graft.server.Dml.execute(spark, out,
      "ALTER PROPERTY Widget.wsize MAX 'abc'"))
    intercept[IllegalArgumentException](graft.server.Dml.execute(spark, out,
      "ALTER PROPERTY Widget.wname REGEXP '[unclosed'"))
    // DROP PROPERTY refused while ANY attribute stands; retire unblocks
    intercept[IllegalArgumentException](graft.server.Dml.execute(spark, out,
      "DROP PROPERTY Widget.wname"))
    assert(graft.server.Dml.execute(spark, out,
      "ALTER PROPERTY Widget.wname REGEXP null") == 1)
    assert(graft.server.Dml.execute(spark, out,
      "ALTER PROPERTY Widget.wname DEFAULT null") == 1)
    assert(graft.server.Dml.execute(spark, out, "DROP PROPERTY Widget.wname") == 1)
    // retiring an attribute that was never declared is loud
    intercept[IllegalArgumentException](graft.server.Dml.execute(spark, out,
      "ALTER PROPERTY Widget.wsize REGEXP null"))
    // bounds retire independently
    assert(graft.server.Dml.execute(spark, out, "ALTER PROPERTY Widget.wsize MIN null") == 1)
    assert(graft.server.Dml.execute(spark, out, "ALTER PROPERTY Widget.wsize MAX null") == 1)
    assert(graft.server.Dml.execute(spark, out,
      "INSERT INTO Widget SET id = 6000004, wsize = 50000") == 1)

    // READONLY (round 11): freezes a property against UPDATE —
    // creation-time writes only; other properties stay updatable;
    // retire unblocks; the MANDATORY toggle discipline applies
    assert(graft.server.Dml.execute(spark, out,
      "ALTER PROPERTY Widget.wsize READONLY true") == 1)
    intercept[IllegalArgumentException](graft.server.Dml.execute(spark, out,
      "ALTER PROPERTY Widget.wsize READONLY true")) // double declare
    val exRo = intercept[IllegalArgumentException](graft.server.Dml.execute(spark, out,
      "UPDATE Widget SET wsize = 1 WHERE id = 6000004"))
    assert(exRo.getMessage.contains("READONLY"))
    assert(graft.server.Dml.execute(spark, out,
      "INSERT INTO Widget SET id = 6000005, wsize = 7") == 1) // creation still fine
    intercept[IllegalArgumentException](graft.server.Dml.execute(spark, out,
      "DROP PROPERTY Widget.wsize")) // constraint blocks the drop
    assert(graft.server.Dml.execute(spark, out,
      "ALTER PROPERTY Widget.wsize READONLY false") == 1)
    assert(graft.server.Dml.execute(spark, out,
      "UPDATE Widget SET wsize = 1 WHERE id = 6000004") == 1)
    intercept[IllegalArgumentException](graft.server.Dml.execute(spark, out,
      "ALTER PROPERTY Widget.wsize READONLY false")) // retire of absent
  }

  test("DML edge record ids: CREATE EDGE draws from the manifest " +
      "high-water mark (VERDICT r10 missing #1)") {
    import spark.implicits._
    val out = Files.createTempDirectory("grafteid").toString
    GraphLoader.writeGraph(spark, sfDir, out)
    val base = graft.load.Store.readManifest(out).eidNext
    assert(base == GraphLoader.EidDmlBase)
    // a DML-created edge gets the next id, committed atomically with
    // its segment (one manifest swap carries both)
    assert(graft.server.Dml.execute(spark, out,
      "CREATE EDGE IN_NATION FROM 1000001 TO 107") == 1)
    assert(graft.load.Store.readManifest(out).eidNext == base + 1)
    val created = storeEdges(out).filter(col("eid") === base)
    assert(created.count() == 1)
    assert(created.select("src", "dst").head == Row(1000001L, 107L))
    // rid-ADDRESSABILITY through the dialect (r16, VERDICT r15 missing
    // #3): FROM #<eid> on the opened store resolves the DML-created
    // edge — the allocator's id is a first-class record id
    val gRid = GraphLoader.openGraph(spark, out)
    val byRid = graft.query.ArcadeSql.compile(gRid, GraphLoader.schema,
      s"SELECT src, dst, label FROM #$base")
    assert(byRid.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSeq == Seq((1000001L, 107L, "IN_NATION")))
    // a batch without eids gets consecutive ids; the mark advances by
    // exactly the batch size
    GraphLoader.commit(spark, out)(GraphLoader.appendEdges(spark, _,
      Seq((1000002L, 107L, "IN_NATION"), (1000003L, 107L, "IN_NATION"))
        .toDF("src", "dst", "label")))
    assert(graft.load.Store.readManifest(out).eidNext == base + 3)
    // eids stay unique across bulk + DML append + compaction
    def assertUniqueEids(): Unit = {
      val e = storeEdges(out).filter(col("eid").isNotNull)
      assert(e.groupBy("eid").count().filter(col("count") > 1).isEmpty)
    }
    assertUniqueEids()
    GraphLoader.compactStore(spark, out)
    assertUniqueEids()
    assert(storeEdges(out).filter(col("eid") >= GraphLoader.EidDmlBase).count() == 3)
    // the allocated edge is rid-addressable like any bulk record
    // (`ArcadeDBService.java:241-253` [dep]: RIDs address every record)
    val g = graft.query.PropertyGraph(storeNodes(out), storeEdges(out))
    val hit = graft.query.ArcadeSql.compile(g, GraphLoader.schema,
      s"SELECT src, dst FROM #$base").collect()
    assert(hit.length == 1 && hit.head.getLong(0) == 1000001L &&
      hit.head.getLong(1) == 107L)
    // an EXPLICIT eid inside the allocator-owned keyspace is refused —
    // it could silently collide with a future allocation
    intercept[IllegalArgumentException](GraphLoader.commit(spark, out)(
      GraphLoader.appendEdges(spark, _,
        Seq((1000004L, 107L, "IN_NATION", GraphLoader.EidDmlBase + 500L))
          .toDF("src", "dst", "label", "eid"))))
    // …and the session-transaction path allocates through the staged
    // manifest: two statements in one batch see consecutive ids, one
    // atomic commit publishes both
    assert(graft.server.Dml.executeBatch(spark, out, Seq(
      "CREATE EDGE IN_NATION FROM 1000004 TO 107",
      "CREATE EDGE IN_NATION FROM 1000005 TO 107")) == 2)
    assert(graft.load.Store.readManifest(out).eidNext == base + 5)
    assertUniqueEids()
  }

  test("A16/A17: writeGraph persists partitioned layout + schema + checksum") {
    val out = Files.createTempDirectory("graftout").toString
    GraphLoader.writeGraph(spark, sfDir, out)
    assert(Files.exists(Path.of(out, "schema.json")))
    assert(Files.exists(Path.of(out, "checksum.txt")))
    // per-label segment layout behind an atomic manifest
    val segs = graft.load.Store.readManifest(out).nodes("Customer")
    assert(segs.nonEmpty && segs.forall(g =>
      Files.isDirectory(Path.of(out, s"nodes/Customer/$g"))))
    val n = storeNodes(out)
    val reread = graft.model.GraphSchema.fromJson(Files.readString(Path.of(out, "schema.json")))
    assert(reread == GraphLoader.schema)
    assert(n.filter(col("label") === "Customer").count() == 150)
  }

  test("IndexKeys: one DML commit re-keys every dependent index; stale probes refuse loudly") {
    import spark.implicits._
    import graft.load.IndexKeys
    val out = Files.createTempDirectory("graftidx").toString
    GraphLoader.writeGraph(spark, sfDir, out)
    // a graft store fingerprints on the manifest seq, not on mtimes
    val fp0 = IndexKeys.fingerprint(out)
    assert(fp0 == s"seq${graft.load.Store.readManifest(out).seq}")
    // key-addressed cache (band/span/epoch discipline) published at the
    // current generation opens fresh
    val cacheRoot = Files.createTempDirectory("graftcache").toString
    graft.llmops.Refresh.persisted(spark, cacheRoot,
      IndexKeys.key("spanidx", out))(Seq((1L, "x")).toDF("id", "t"))
    assert(IndexKeys.openFresh(spark, cacheRoot, "spanidx", out).count() == 1)
    // in-place layout (IVF discipline): stamp then pass the stale probe
    val ivfDir = Files.createTempDirectory("graftivf").toString
    IndexKeys.stamp(ivfDir, out)
    IndexKeys.requireFresh(ivfDir, out) // no throw
    // ONE DML append bumps the manifest seq → EVERY fingerprint moves
    GraphLoader.commit(spark, out)(GraphLoader.appendNodes(spark, _,
      Seq((2999999L, "Customer", "Customer#idxkeys", 1.0, "BUILDING"))
        .toDF("id", "label", "name", "acctbal", "mktsegment")))
    val fp1 = IndexKeys.fingerprint(out)
    assert(fp1 != fp0 && fp1 == s"seq${graft.load.Store.readManifest(out).seq}")
    // stale probes refuse LOUDLY, naming the stale generation on disk
    val e1 = intercept[IllegalStateException](
      IndexKeys.openFresh(spark, cacheRoot, "spanidx", out))
    assert(e1.getMessage.contains("STALE") &&
      e1.getMessage.contains(s"spanidx-$fp0"))
    val e2 = intercept[IllegalStateException](IndexKeys.requireFresh(ivfDir, out))
    assert(e2.getMessage.contains("STALE") && e2.getMessage.contains(fp0))
    // the IVF SERVING path enforces it too: a stale-stamped layout
    // refuses before any parquet is read (code-review r13: the stale
    // probe must be wired into serving, not just available)
    val e4 = intercept[IllegalStateException](graft.llmops.Similarity
      .ivfIndexTopK(spark, ivfDir, Seq(1L), 1, 1, source = Some(out)))
    assert(e4.getMessage.contains("STALE"))
    // an index append re-stamps → fresh again (the IVF catch-up path)
    IndexKeys.stamp(ivfDir, out)
    IndexKeys.requireFresh(ivfDir, out)
    // a never-built family refuses as missing, not as a silent rebuild
    val e3 = intercept[IllegalStateException](
      IndexKeys.openFresh(spark, cacheRoot, "bandidx", out))
    assert(e3.getMessage.contains("missing"))
    // non-store sources keep the reference's attribute pseudo-hash
    val raw = java.nio.file.Paths.get(s"$sfDir/documents.parquet")
    val want = if (Files.isDirectory(raw)) Checksum.pseudoHashDir(raw)
               else Checksum.pseudoHash(raw)
    assert(IndexKeys.fingerprint(raw.toString) == want)
  }

  test("one commit path for record writes") {
    import scala.jdk.CollectionConverters._
    // no optional transaction and no per-statement refusal anywhere:
    // every record sink takes the StoreTxn it stages into
    val walk = Files.walk(java.nio.file.Paths.get("src/main/scala"))
    val hits = try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap(p => Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if Seq("Option[StoreTxn]", "Option[graft.load.StoreTxn]", "noTxn(")
            .exists(line.contains) => s"$p:${i + 1}"
      })
      .toList
    finally walk.close()
    assert(hits.isEmpty, hits.mkString(", "))
    // no record sink publishes on its own: StoreTxn.commit is the only
    // way a record write reaches manifest.json
    val loader = Files.readString(
      java.nio.file.Paths.get("src/main/scala/graft/load/GraphLoader.scala"))
    val topLevelDef = """\n  (?:private(?:\[\w+\])? )?def """.r
    Seq("appendBatch", "appendNodes", "appendEdges", "updateColumnsReturning",
        "deleteRecords", "rewriteLabelPartition").foreach { sink =>
      val start = loader.indexOf(s"def $sink(")
      assert(start >= 0, s"record sink $sink not found")
      val end = topLevelDef.findFirstMatchIn(loader.substring(start))
        .map(start + _.start).getOrElse(loader.length)
      assert(!loader.substring(start, end).contains("writeManifest"),
        s"record sink $sink writes manifest.json itself")
    }
  }

  test("store generations become DataFrames in one place") {
    import scala.jdk.CollectionConverters._
    // under load/ and server/, parquet is read only by Store.readGen
    // (the write-once handle memo) and by IndexKeys, whose artifacts
    // are fingerprint-gated and rewritten in place
    val hits = Seq("src/main/scala/graft/load", "src/main/scala/graft/server").flatMap { d =>
      val walk = Files.walk(java.nio.file.Paths.get(d))
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }.filterNot(_.getFileName.toString == "IndexKeys.scala").flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if line.contains("read.parquet(") => (p, i)
      }
    }
    val store = Files.readAllLines(
      java.nio.file.Paths.get("src/main/scala/graft/load/Store.scala")).asScala
    val start = store.indexWhere(_.contains("def readGen("))
    assert(start >= 0, "Store.readGen not found")
    val end = store.indexWhere(_.startsWith("  def "), start + 1)
    val stray = hits.filterNot { case (p, i) =>
      p.getFileName.toString == "Store.scala" && i > start && i < end
    }
    assert(hits.nonEmpty && stray.isEmpty,
      stray.map { case (p, i) => s"$p:${i + 1}" }.mkString(", "))
  }
}
