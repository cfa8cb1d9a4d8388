package graft.load

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model.{GraphSchema, IndexDesc, LabelSchema}

/** Builds the labeled property graph (SURVEY §1.1) from the relational
  * testdata — the Spark-native equivalent of the reference's bulk load
  * (`ArcadeDBService.java:124-139`: open workspace graph → declare
  * schema → insert nodes → resolve + insert edges → build indexes).
  *
  * Layout follows FIXTURES.md §2: `nodes(id, label, props…)`,
  * `edges(src, dst, label, props…)`. Source `long` ids are kept as join
  * keys (no RID indirection — SURVEY §1.5); label keyspaces are made
  * disjoint with fixed offsets.
  *
  * 100 TB posture: everything here is a narrow projection over the
  * columnar source (no shuffles in node construction); the only wide
  * operations are the edge endpoint-resolution joins (A13), which
  * Catalyst plans as broadcast joins for dimension-sized sides and
  * shuffle joins above `autoBroadcastJoinThreshold`. Persisted form is
  * parquet partitioned by `label` so every per-label operator gets
  * partition pruning instead of a filter scan.
  */
/** A staged multi-statement store transaction (the HTTP batch route's
  * engine): every DML statement executes against ONE in-memory manifest
  * — gens land on disk invisible, the staged manifest accumulates — and
  * [[commit]] publishes the whole batch with a single atomic
  * `manifest.json` swap. A concurrent reader therefore sees all of the
  * batch or none of it, across any number of statements and labels;
  * a mid-batch failure abandons the staged manifest, leaving only
  * orphan generation directories for the next sweep. Statements within
  * the transaction see each other's effects (an edge may reference a
  * vertex inserted earlier in the same batch) because every read goes
  * through the staged manifest. Create via [[GraphLoader.beginTxn]];
  * hold the store write lock for the transaction's whole extent. */
final class StoreTxn private[load] (val outDir: String) {
  private var m: Store.Manifest = Store.readManifest(outDir)
  /** The manifest seq this transaction began from — the HTTP session
    * routes' optimistic-conflict token: a commit (or a later staged
    * statement) finding the store advanced past this seq aborts with a
    * conflict instead of clobbering the interleaved writer's commit.
    * Schema-only DDL bumps the seq too ([[Store.bumpSeq]]), so a
    * mid-session CREATE INDEX / DROP TYPE is also a conflict. */
  val baseSeq: Long = m.seq
  private val touchedLabels = scala.collection.mutable.LinkedHashSet[(String, String)]()
  private val stagedGens = scala.collection.mutable.ArrayBuffer[java.nio.file.Path]()
  private[load] def manifest: Store.Manifest = m
  private[load] def stage(updated: Store.Manifest, labels: Seq[(String, String)],
      gens: Seq[java.nio.file.Path]): Unit = {
    m = updated; touchedLabels ++= labels; stagedGens ++= gens
    // staged generations are referenced ONLY by this in-memory
    // manifest — PIN them, or any interleaved in-process sweep (a
    // retired snapshot draining, another client's zero-affected
    // UPDATE) deletes them mid-session and a later commit would
    // publish a manifest pointing at deleted directories (code-review
    // r8). The single-request batch path never needed this (it holds
    // the store write lock for its whole extent); a session releases
    // every lock between requests. Cross-process sweeps are already
    // fenced by the server's ServingLease.
    GenerationPins.pin(gens.map(Store.canon))
  }
  private def unpinStaged(): Unit = GenerationPins.unpin(stagedGens.map(Store.canon).toSeq)
  /** (entity, label) pairs the staged statements wrote to. */
  def touched: Seq[(String, String)] = touchedLabels.toSeq
  /** Publish every staged statement in one atomic manifest swap. The
    * pins release even when the swap throws (disk full): the gens are
    * then plain orphans the sweep may reclaim — a leaked pin would
    * shield them for the process lifetime (code-review r8). */
  def commit(): Unit =
    try Store.writeManifest(outDir, m) finally unpinStaged()
  /** Abandon the transaction: best-effort eager delete of the staged
    * generation directories. Without this they linger as orphans that
    * — sorting NEWEST by seq — would occupy a later sweep's
    * `keepPerLabel` grace slot and let the real newest superseded
    * generation be GC'd early out from under a cross-process reader.
    * A failed delete is harmless (the normal orphan sweep retries). */
  def abort(): Unit = {
    unpinStaged()
    stagedGens.foreach(p => Store.tryDeleteRecursively(p))
  }
}

object GraphLoader {

  // Disjoint id keyspaces. The fixed offsets hold only while every
  // source key stays below the next offset (c_custkey = 150k×sf crosses
  // SupplierOff at sf≈6.7!) — so the load path ASSERTS disjointness
  // (assertDisjointIds) and fails loudly instead of silently resolving
  // edges to wrong nodes. At 100 TB the scheme flips to label bits in
  // the high bits of the long id, which can never collide.
  val RegionOff = 0L
  val NationOff = 100L
  val CustomerOff = 1000000L
  val SupplierOff = 2000000L
  val PartOff = 3000000L
  val OrderOff = 10000000L

  // Edge RECORD ids (round 9, retiring the node-only rid scope —
  // reference RIDs address edge records too [dep]): deterministic
  // per-label keyspaces strictly ABOVE every node id, derived from the
  // source keys so the DuckDB oracle can compute the same values.
  // CONTAINS/SUPPLIED_BY pack (orderkey, linenumber, occurrence) as
  // (orderkey*8 + linenumber)*8 + occ — linenumber ≤ 7 per TPC-H, and
  // occ deduplicates the synthetic data's repeated (orderkey,
  // linenumber) pairs (see [[edges]]). Same scale caveat as node
  // offsets: at 100 TB the scheme flips to label bits in the high
  // bits; [[assertDisjointIds]] guards the packed bound.
  val EidInRegion = 1000000000L
  val EidInNationCust = 1100000000L
  val EidInNationSupp = 1200000000L
  val EidPlaced = 1300000000L
  val EidContains = 1400000000L
  val EidSuppliedBy = 1500000000L
  /** Every id at or above this is an EDGE record id. */
  val EidFloor = EidInRegion
  /** Base of the DML-allocated edge-record-id keyspace: `CREATE EDGE`
    * rows arrive without an eid and draw consecutive ids from the
    * manifest's [[Store.Manifest.eidNext]] high-water mark starting
    * here — strictly above every bulk keyspace (EidSuppliedBy + its
    * 100M packed-lineitem span tops out at 1.6e9), so allocated and
    * source-key-derived ids can never collide. Reference RIDs address
    * every record physically, DML-created included
    * [`ArcadeDBService.java:241-253` dep]. */
  val EidDmlBase = 2000000000L

  /** The rid-dispatch invariant, enforced at EVERY write path (bulk
    * load and append alike, not just the TPC-H fixture's
    * [[assertDisjointIds]]): node ids live strictly BELOW [[EidFloor]],
    * edge record ids at or above it. Bare-rid resolution dispatches on
    * that boundary alone (`ArcadeSql` RidSource), so a node id in the
    * edge keyspace would be silently unreachable — or shadowed by an
    * unrelated edge (code-review r9). One single-column agg over the
    * frame being written; `eidCol` is None for frames that carry no
    * record ids (DML-created edges stay endpoint-identified). */
  def assertRidKeyspace(df: DataFrame, kind: String,
      eidCol: Option[String] = None): Unit = kind match {
    case "vertex" =>
      val row = df.agg(max(col("id").cast(LongType))).head
      if (!row.isNullAt(0))
        require(row.getLong(0) < EidFloor,
          s"node id ${row.getLong(0)} collides with the edge record-id " +
            s"keyspace (ids >= $EidFloor address edge records) — " +
            "switch to label-bits-in-high-bits ids for this scale")
    case _ => eidCol.filter(df.columns.contains).foreach { c =>
      val row = df.agg(min(col(c).cast(LongType))).head
      if (!row.isNullAt(0))
        require(row.getLong(0) >= EidFloor,
          s"edge record id ${row.getLong(0)} falls below the edge keyspace " +
            s"floor $EidFloor — edge rids must live above every node id")
    }
  }

  /** Keyspace guard: max(source key) + offset must stay strictly below
    * the next label's offset. One single-column `max()` per table (a
    * full column scan by default; enable
    * `spark.sql.parquet.aggregatePushDown` to make it footer-stats-only). */
  def assertDisjointIds(spark: SparkSession, dir: String): Unit = {
    val ranges = Seq(
      ("region", "r_regionkey", RegionOff, NationOff),
      ("nation", "n_nationkey", NationOff, CustomerOff),
      ("customer", "c_custkey", CustomerOff, SupplierOff),
      ("supplier", "s_suppkey", SupplierOff, PartOff),
      ("part", "p_partkey", PartOff, OrderOff),
      ("orders", "o_orderkey", OrderOff, EidInRegion),
      // edge-rid bases (100M spans above every node id)
      ("nation", "n_nationkey", EidInRegion, EidInNationCust),
      ("customer", "c_custkey", EidInNationCust, EidInNationSupp),
      ("supplier", "s_suppkey", EidInNationSupp, EidPlaced),
      ("orders", "o_orderkey", EidPlaced, EidContains))
    ranges.foreach { case (tbl, key, off, next) =>
      val row = table(spark, dir, tbl)
        .agg(max(col(key).cast(LongType))).head
      if (!row.isNullAt(0)) { // empty table ⇒ no keys ⇒ trivially disjoint
        val mx = row.getLong(0)
        require(mx + off < next,
          s"node-id keyspace overflow: $tbl.$key max $mx + offset $off >= next offset $next " +
            "— switch to label-bits-in-high-bits ids for this scale")
      }
    }
    // the remaining edge-rid span: the packed lineitem id
    // ((orderkey*8 + linenumber)*8 + occ) must fit its own 100M
    // window, and the occurrence index must fit its 3 bits (ONE
    // combined agg over the (orderkey, linenumber) groups)
    val liRow = table(spark, dir, "lineitem")
      .groupBy(col("l_orderkey"), col("l_linenumber"))
      .agg(count(lit(1)).as("occ"))
      .agg(max((col("l_orderkey").cast(LongType) * 8 +
          col("l_linenumber").cast(LongType)) * 8 + col("occ") - 1L),
        max(col("occ")))
      .head
    if (!liRow.isNullAt(0)) {
      require(liRow.getLong(1) <= 8,
        s"lineitem holds ${liRow.getLong(1)} duplicates of one (orderkey, " +
          "linenumber) pair — the 3-bit occurrence index overflows; widen the packing")
      require(liRow.getLong(0) + EidContains < EidSuppliedBy,
        s"edge-rid keyspace overflow: packed lineitem id ${liRow.getLong(0)} " +
          "exceeds its 100M span — switch to label-bits-in-high-bits ids")
    }
  }

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    // source fixtures are immutable per dir — route through the
    // session-scoped handle cache (r17: every nodes()/edges() call
    // re-listed and re-footer-read up to 6 parquet tables of pure
    // driver-side construction cost). Store generations are mutable
    // and read through Store.readParquet, never here.
    graft.queries.Qh.t(spark, dir, name)

  /** All node sets, unioned by name with per-label sparse columns —
    * mirrors the reference's per-label insert loops
    * (`ArcadeDBService.java:141-164`) as one declarative plan. */
  /** Session-scoped handle memo for the nodes/edges union frames —
    * same discipline as [[graft.queries.Qh.t]]'s table-handle cache
    * (r17): Dataset construction runs Catalyst ANALYSIS eagerly, and
    * the 6-branch unions below are rebuilt and re-analyzed by every
    * graph-surface query; the memoized value is the resolved handle,
    * never data. Dead-session entries evict on access. */
  private val frameCache = scala.collection.mutable.Map[
    (SparkSession, String, String), DataFrame]()
  private def memoFrame(spark: SparkSession, dir: String, kind: String)(
      build: => DataFrame): DataFrame = frameCache.synchronized {
    frameCache.filterInPlace { case ((s, _, _), _) => !s.sparkContext.isStopped }
    frameCache.getOrElseUpdate((spark, dir, kind), build)
  }

  def nodes(spark: SparkSession, dir: String): DataFrame =
    memoFrame(spark, dir, "nodes") { nodesUncached(spark, dir) }

  private def nodesUncached(spark: SparkSession, dir: String): DataFrame = {
    val region = table(spark, dir, "region").select(
      (col("r_regionkey").cast(LongType) + RegionOff).as("id"),
      lit("Region").as("label"),
      col("r_name").as("name"))
    val nation = table(spark, dir, "nation").select(
      (col("n_nationkey").cast(LongType) + NationOff).as("id"),
      lit("Nation").as("label"),
      col("n_name").as("name"))
    val customer = table(spark, dir, "customer").select(
      (col("c_custkey").cast(LongType) + CustomerOff).as("id"),
      lit("Customer").as("label"),
      col("c_name").as("name"),
      col("c_acctbal").as("acctbal"),
      col("c_mktsegment").as("mktsegment"))
    val supplier = table(spark, dir, "supplier").select(
      (col("s_suppkey").cast(LongType) + SupplierOff).as("id"),
      lit("Supplier").as("label"),
      col("s_name").as("name"),
      col("s_acctbal").as("acctbal"))
    // tags = split(p_name) exercises typed arrays (A9 / FIXTURES §2)
    val part = table(spark, dir, "part").select(
      (col("p_partkey").cast(LongType) + PartOff).as("id"),
      lit("Part").as("label"),
      col("p_name").as("name"),
      col("p_brand").as("brand"),
      col("p_type").as("ptype"),
      col("p_size").as("psize"),
      col("p_retailprice").as("retailprice"),
      split(col("p_name"), " ").as("tags"))
    // orderdate as ISO string mirrors the reference's string-typed dates
    // (SURVEY §1.2: dates in BioDWH2 sources arrive as strings)
    val order = table(spark, dir, "orders").select(
      (col("o_orderkey").cast(LongType) + OrderOff).as("id"),
      lit("Order").as("label"),
      col("o_orderstatus").as("status"),
      col("o_totalprice").as("totalprice"),
      date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
      col("o_orderpriority").as("priority"))
    Seq(region, nation, customer, supplier, part, order)
      .reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** All edge sets (FK relationships → graph edges, FIXTURES §2).
    * lineitem becomes the `CONTAINS` edge properties. */
  def edges(spark: SparkSession, dir: String): DataFrame =
    memoFrame(spark, dir, "edges") { edgesUncached(spark, dir) }

  private def edgesUncached(spark: SparkSession, dir: String): DataFrame = {
    val inRegion = table(spark, dir, "nation").select(
      (col("n_nationkey").cast(LongType) + NationOff).as("src"),
      (col("n_regionkey").cast(LongType) + RegionOff).as("dst"),
      lit("IN_REGION").as("label"),
      (col("n_nationkey").cast(LongType) + EidInRegion).as("eid"))
    val custInNation = table(spark, dir, "customer").select(
      (col("c_custkey").cast(LongType) + CustomerOff).as("src"),
      (col("c_nationkey").cast(LongType) + NationOff).as("dst"),
      lit("IN_NATION").as("label"),
      (col("c_custkey").cast(LongType) + EidInNationCust).as("eid"))
    val suppInNation = table(spark, dir, "supplier").select(
      (col("s_suppkey").cast(LongType) + SupplierOff).as("src"),
      (col("s_nationkey").cast(LongType) + NationOff).as("dst"),
      lit("IN_NATION").as("label"),
      (col("s_suppkey").cast(LongType) + EidInNationSupp).as("eid"))
    val placed = table(spark, dir, "orders").select(
      (col("o_custkey").cast(LongType) + CustomerOff).as("src"),
      (col("o_orderkey").cast(LongType) + OrderOff).as("dst"),
      lit("PLACED").as("label"),
      (col("o_orderkey").cast(LongType) + EidPlaced).as("eid"))
    // The synthetic lineitem is TPC-H-ISH, not TPC-H: (l_orderkey,
    // l_linenumber) is NOT a key (sf0.1 holds ~118k duplicated pairs,
    // some rows identical in every column — round-11 finding), so the
    // old orderkey*8+linenumber packing assigned one rid to up to 5
    // records. Uniquify with a per-(orderkey, linenumber) occurrence
    // index: deterministic up to full-duplicate ties (where any
    // permutation maps ids to identical content), replayable by the
    // DuckDB oracle with the same window. Cost: ONE extra shuffle on a
    // fine-grained key (≤8 rows per group — embarrassingly parallel at
    // any scale); uniqueness among duplicates cannot be had shuffle-
    // free. 3 bits of occ ride below the old packing
    // ([[assertDisjointIds]] guards both the span and the 8-per-pair
    // cap).
    val li = table(spark, dir, "lineitem").withColumn("__occ",
      row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_orderkey"), col("l_linenumber"))
        .orderBy(col("l_partkey"), col("l_suppkey"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"), col("l_tax"),
          col("l_returnflag"), col("l_shipdate"))).cast(LongType) - 1L)
    val liEid =
      (col("l_orderkey").cast(LongType) * 8 + col("l_linenumber").cast(LongType)) * 8 +
        col("__occ")
    val contains = li.select(
      (col("l_orderkey").cast(LongType) + OrderOff).as("src"),
      (col("l_partkey").cast(LongType) + PartOff).as("dst"),
      lit("CONTAINS").as("label"),
      (liEid + EidContains).as("eid"),
      col("l_linenumber").as("linenumber"),
      col("l_quantity").as("quantity"),
      col("l_extendedprice").as("extendedprice"),
      col("l_discount").as("discount"),
      col("l_tax").as("tax"),
      col("l_returnflag").as("returnflag"),
      date_format(col("l_shipdate"), "yyyy-MM-dd").as("shipdate"))
    val suppliedBy = li.select(
      (col("l_partkey").cast(LongType) + PartOff).as("src"),
      (col("l_suppkey").cast(LongType) + SupplierOff).as("dst"),
      lit("SUPPLIED_BY").as("label"),
      (liEid + EidSuppliedBy).as("eid"),
      col("l_quantity").as("quantity"))
    Seq(inRegion, custInNation, suppInNation, placed, contains, suppliedBy)
      .reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** The declared schema registry + index descriptions (FIXTURES §2),
    * read "without scanning rows" like `ArcadeDBService.java:150-151`. */
  def schema: GraphSchema = {
    def st(fields: (String, DataType)*) =
      StructType(fields.map { case (n, t) => StructField(n, t) })
    GraphSchema(
      labels = Seq(
        LabelSchema("Region", "vertex", st("name" -> StringType)),
        LabelSchema("Nation", "vertex", st("name" -> StringType)),
        LabelSchema("Customer", "vertex",
          st("name" -> StringType, "acctbal" -> DoubleType, "mktsegment" -> StringType)),
        LabelSchema("Supplier", "vertex",
          st("name" -> StringType, "acctbal" -> DoubleType)),
        LabelSchema("Part", "vertex",
          st("name" -> StringType, "brand" -> StringType, "ptype" -> StringType,
            "psize" -> IntegerType, "retailprice" -> DoubleType,
            "tags" -> ArrayType(StringType, containsNull = false))),
        LabelSchema("Order", "vertex",
          st("status" -> StringType, "totalprice" -> DoubleType,
            "orderdate" -> StringType, "priority" -> StringType)),
        LabelSchema("IN_REGION", "edge", st()),
        LabelSchema("IN_NATION", "edge", st()),
        LabelSchema("PLACED", "edge", st()),
        LabelSchema("CONTAINS", "edge",
          st("linenumber" -> IntegerType, "quantity" -> DoubleType,
            "extendedprice" -> DoubleType, "discount" -> DoubleType,
            "tax" -> DoubleType, "returnflag" -> StringType, "shipdate" -> StringType)),
        LabelSchema("SUPPLIED_BY", "edge", st("quantity" -> DoubleType))
      ),
      indexes = Seq(
        IndexDesc("node", "Customer", "name", unique = true, isArray = false),
        IndexDesc("node", "Part", "brand", unique = false, isArray = false),
        IndexDesc("node", "Part", "tags", unique = true, isArray = true), // skipped (A15)
        IndexDesc("edge", "CONTAINS", "linenumber", unique = false, isArray = false),
        // FULL_TEXT: served by a persisted postings table built at bulk
        // load and maintained by every DML commit ([[FullText]])
        IndexDesc("node", "Part", "name", unique = false, isArray = false,
          fulltext = true)
      )
    )
  }

  /** A13 — edge-endpoint resolution, the shim's one true join
    * (`ArcadeDBService.java:131,161,241-244`: id→RID HashMap probe per
    * endpoint). Spark-native form: two equi-joins against the node id
    * set. Inner joins drop dangling edges; the returned `dangling` frame
    * is the integrity side-channel (the reference would NPE at `:241`).
    *
    * Scale: `ids` is just (id) — at 100 TB this is a shuffle join on the
    * id key, and Catalyst/AQE picks broadcast automatically when the node
    * side fits. No driver-side map (SURVEY §7: A12 stays a join). */
  def resolveEdges(nodes: DataFrame, edges: DataFrame): (DataFrame, DataFrame) = {
    val ids = nodes.select(col("id"))
    val fromOk = edges.join(ids.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
    val resolved = fromOk.join(ids.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
    val dangling = edges
      .join(ids.withColumnRenamed("id", "src"), Seq("src"), "left_anti")
      .unionByName(fromOk.join(ids.withColumnRenamed("id", "dst"), Seq("dst"), "left_anti"))
    (resolved, dangling)
  }

  /** A15 — UNIQUE index validation. No physical index exists in Spark;
    * UNIQUE becomes the invariant "no property value occurs twice",
    * checked with a groupBy — nulls are ignored exactly like the
    * reference's `NULL_STRATEGY.SKIP` (`ArcadeDBService.java:277`), and
    * array properties are skipped (`:263-269`). Returns violations:
    * (label, property, value, cnt). */
  def validateUnique(nodes: DataFrame, edges: DataFrame, gs: GraphSchema): DataFrame = {
    val frames = gs.indexes.filter(i => i.unique && i.isBuildable)
      .filter { i =>
        // a declared property no stored row carries yet has no values:
        // all-null ⇒ NULL_STRATEGY.SKIP ⇒ trivially valid (runtime DDL
        // declares columns before the first file contains them)
        (if (i.target == "node") nodes else edges).columns.contains(i.property)
      }.map { i =>
      val df = if (i.target == "node") nodes else edges
      df.filter(col("label") === i.label)
        .filter(col(i.property).isNotNull) // NULL_STRATEGY.SKIP
        .groupBy(col(i.property).cast(StringType).as("value"))
        .agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") > 1)
        .select(lit(i.label).as("label"), lit(i.property).as("property"),
          col("value"), col("cnt"))
    }
    frames.reduceOption(_.unionByName(_)).getOrElse {
      nodes.sparkSession.createDataFrame(
        nodes.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("label", StringType), StructField("property", StringType),
          StructField("value", StringType), StructField("cnt", LongType))))
    }
  }

  /** Per-row violation predicate of one declared constraint over `df`
    * (null for DEFAULT, which is a fill — see [[applyDefaults]] — not a
    * check). MANDATORY: under A7 normalization an absent key IS a null
    * value, so a frame that lacks the column entirely violates on EVERY
    * label row (the declared-but-never-stored column case — the
    * opposite default from UNIQUE, whose null-skip makes absence
    * trivially valid: a uniqueness invariant constrains values that
    * exist, a mandatory invariant demands they exist). MIN/MAX/REGEXP
    * constrain values that exist (null rows pass — combine with
    * MANDATORY to also demand presence); the bound literal is cast to
    * the COLUMN's type, so numeric properties compare numerically and
    * strings lexicographically; REGEXP is a full match (`\A…\z`),
    * matching the reference dependency's `String.matches` semantics. */
  private def violationOf(df: DataFrame, c: graft.model.ConstraintDesc)
      : Option[org.apache.spark.sql.Column] = {
    val has = df.columns.contains(c.property)
    def bound = lit(c.arg.get).cast(df.schema(c.property).dataType)
    c.kind match {
      case "mandatory" =>
        Some(if (has) col(c.property).isNull else lit(true))
      case "min" if has =>
        Some(col(c.property).isNotNull && col(c.property) < bound)
      case "max" if has =>
        Some(col(c.property).isNotNull && col(c.property) > bound)
      case "regexp" if has =>
        Some(col(c.property).isNotNull &&
          !col(c.property).rlike("\\A(?:" + c.arg.get + ")\\z"))
      case _ => None // default (a fill), or a value bound on an absent column
    }
  }

  /** Constraint validation (the ALTER PROPERTY attribute family): per
    * declared check-constraint, count violating label rows. Unlike
    * UNIQUE this is per-row, so callers can validate just a
    * batch/rewrite — no store-wide rescan on append. Returns
    * violations (label, property, kind, cnt). */
  def validateConstraints(nodes: DataFrame, edges: DataFrame, gs: GraphSchema): DataFrame = {
    val frames = gs.constraints.flatMap { c =>
      val df = if (c.target == "node") nodes else edges
      violationOf(df, c).map { bad =>
        df.filter(col("label") === c.label && bad)
          .groupBy().agg(count(lit(1)).as("cnt")).filter(col("cnt") > 0)
          .select(lit(c.label).as("label"), lit(c.property).as("property"),
            lit(c.kind).as("kind"), col("cnt"))
      }
    }
    frames.reduceOption(_.unionByName(_)).getOrElse {
      nodes.sparkSession.createDataFrame(
        nodes.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("label", StringType),
          StructField("property", StringType), StructField("kind", StringType),
          StructField("cnt", LongType))))
    }
  }

  private def requireConstraints(nodes: DataFrame, edges: DataFrame,
      gs: GraphSchema, what: String): Unit = {
    val viol = validateConstraints(nodes, edges, gs)
    require(viol.isEmpty, {
      val sample = viol.limit(3).collect()
        .map(r => s"${r.getString(2).toUpperCase}(${r.getString(0)}.${r.getString(1)}) " +
          s"(${r.getLong(3)} row(s))")
        .mkString(", ")
      s"$what rejected: constraint violation(s): $sample"
    })
  }

  /** DEFAULT-constraint fill (a creation-time semantic, mirroring the
    * reference dependency's DEFAULT attribute): appended rows whose
    * constrained property is null/absent receive the declared literal
    * BEFORE validation, so `DEFAULT` composes with `MANDATORY` the way
    * a user expects. UPDATE rewrites do NOT re-fill — defaults apply
    * on record creation only. */
  private def applyDefaults(df: DataFrame, gs: GraphSchema, target: String): DataFrame =
    gs.constraints
      .filter(c => c.kind == "default" && c.target == target &&
        df.columns.contains(c.property))
      .foldLeft(df) { (d, c) =>
        d.withColumn(c.property,
          when(col("label") === c.label && col(c.property).isNull,
            lit(c.arg.get).cast(d.schema(c.property).dataType))
            .otherwise(col(c.property)))
      }

  /** DML append sinks (SURVEY §2.B.1 DML row): the reference's HTTP API
    * accepts record inserts (`INSERT INTO` / `CREATE VERTEX/EDGE`); the
    * Spark-native parity is a validated batch append onto the persisted
    * store. Invariants enforced BEFORE any bytes land (an invalid batch
    * leaves the store untouched):
    *  - new node ids must not collide with existing ids (one semi-join);
    *  - UNIQUE indexes must still hold over existing ∪ batch (A15
    *    re-validation, null-skip/array-skip semantics unchanged);
    *  - new edges must resolve both endpoints against existing ∪ batch
    *    nodes (A13); dangling edges are rejected, not dropped silently.
    * Columns are aligned to the store schema (missing → typed nulls) so
    * appended footers agree with existing ones. Scale: append cost is
    * O(batch) + the validation joins — no rewrite of existing data
    * (partition dirs receive new files only).
    */
  /** Spark's partition-dir escaping percent-encodes specials but
    * leaves '+' literal — URLDecoder would corrupt it to a space, so
    * only %XX escapes are decoded here. */
  private def decodePartitionName(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      if (s(i) == '%' && i + 2 < s.length) {
        sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
        i += 3
      } else { sb.append(s(i)); i += 1 }
    }
    sb.toString
  }

  /** Land one validated batch: every label's rows become a NEW segment
    * directory, all made visible by ONE atomic manifest commit —
    * a multi-label batch is never published label by label, so a crash
    * (or a concurrent reader) can only see the whole batch or none of
    * it, matching the rewrite path's durability. `epDelta` (edge
    * endpoint observations) rides the SAME commit: visible edges are
    * never ahead of the DELETE probe's pruning metadata. Inside a
    * [[StoreTxn]] nothing is written at all — the staged manifest
    * accumulates until the transaction's single commit. */
  /** The full-text indexes the store must maintain for one label
    * ([[FullText]] — node labels only: edges carry no record id). */
  private def ftIndexes(gs: GraphSchema, entity: String, label: String): Seq[IndexDesc] =
    if (entity != "nodes") Nil
    else gs.indexes.filter(ix => ix.fulltext && ix.isBuildable &&
      ix.target == "node" && ix.label == label)

  /** Stage postings for a freshly WRITTEN data generation of `label`,
    * reading the new gen's files back (a columnar scan of just those
    * files). `append = true`: the segment's postings join each index's
    * list — applied only to indexes the manifest already carries (an
    * index declared but never built stays scan-served rather than
    * silently serving append-only partial postings). `append = false`
    * (rewrite): postings rebuilt from the gen replace the list.
    * Returns the updated manifest and the created postings dirs (for
    * txn staging / eager abort cleanup). Nothing is visible until the
    * caller's ONE manifest swap commits data and postings together. */
  private def stageFt(spark: SparkSession, outDir: String, entity: String,
      label: String, gs: GraphSchema, m0: Store.Manifest,
      dataGen: java.nio.file.Path, append: Boolean)
      : (Store.Manifest, Seq[java.nio.file.Path]) = {
    var m = m0
    if (!append) {
      // self-heal: retire postings entries whose index is no longer
      // declared (the benign orphan a crashed DROP INDEX leaves)
      val declared = ftIndexes(gs, entity, label).map(_.property).toSet
      m.ft.keys.toSeq.collect { case k @ (e, l, p) if e == entity && l == label
          && !declared(p) => k }
        .foreach { case (e, l, p) => m = m.withoutFt(e, l, p) }
    }
    val applicable = ftIndexes(gs, entity, label)
      .filter(ix => !append || m0.ft.contains((entity, label, ix.property)))
    if (applicable.isEmpty) return (m, Nil)
    val dirs = scala.collection.mutable.ArrayBuffer[java.nio.file.Path]()
    val written = spark.read.parquet(dataGen.toString)
    applicable.foreach { ix =>
      // declared properties always reach written gens (append aligns
      // to the widened schema; rewrites read the widened frame) — a
      // miss here would mean silently-stale postings, so fail loudly
      require(written.columns.contains(ix.property),
        s"full-text index $label.${ix.property}: written generation lacks the column")
      val post = FullText.postings(written, ix.property)
      val gen = Store.writeFtGen(outDir, entity, label, ix.property, m.seq + 1, post)
      dirs += Store.ftDir(outDir, entity, label, ix.property, gen)
      m = if (append) m.withFtSegment(entity, label, ix.property, gen)
      else m.withFtGen(entity, label, ix.property, gen)
    }
    (m, dirs.toSeq)
  }

  private def appendBatch(spark: SparkSession, outDir: String, entity: String,
      batch: DataFrame, m0: Store.Manifest, txn: Option[StoreTxn],
      epDelta: Map[String, (Set[String], Set[String])] = Map.empty): Seq[String] = {
    var m = m0
    val labels = batch.select("label").distinct().collect().map(_.getString(0)).toSeq
    // only declared labels of the right kind may land (A5: the store
    // schema is a registry, not whatever a batch claims)
    val gs = GraphSchema.fromJson(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$outDir/schema.json")))
    val kind = if (entity == "nodes") "vertex" else "edge"
    val declared = gs.labels.filter(_.kind == kind).map(_.label).toSet
    val unknown = labels.filterNot(declared)
    require(unknown.isEmpty,
      s"append rejected: undeclared $kind label(s) ${unknown.mkString(", ")} — " +
        "CREATE " + kind.toUpperCase + " TYPE first")
    val genDirs = scala.collection.mutable.ArrayBuffer[java.nio.file.Path]()
    labels.foreach { label =>
      val rows = batch.filter(col("label") === label).drop("label")
      val gen = Store.writeGen(outDir, entity, label, m.seq + 1, rows)
      genDirs += Store.genDir(outDir, entity, label, gen)
      m = m.withSegment(entity, label, gen)
      // the appended segment's postings ride the SAME commit (one
      // postings segment per data segment — FullText scaladoc)
      val (m2, ftDirs) = stageFt(spark, outDir, entity, label, gs, m,
        Store.genDir(outDir, entity, label, gen), append = true)
      m = m2; genDirs ++= ftDirs
    }
    if (epDelta.nonEmpty) {
      val merged = (m.edgeEndpoints.keySet ++ epDelta.keySet).map { l =>
        val (s1, d1) = m.edgeEndpoints.getOrElse(l, (Set.empty[String], Set.empty[String]))
        val (s2, d2) = epDelta.getOrElse(l, (Set.empty[String], Set.empty[String]))
        l -> ((s1 ++ s2, d1 ++ d2))
      }.toMap
      m = m.copy(edgeEndpoints = merged)
    }
    txn match {
      case Some(t) => t.stage(m, labels.map(entity -> _), genDirs.toSeq)
      case None => Store.writeManifest(outDir, m)
    }
    labels
  }

  def appendNodes(spark: SparkSession, outDir: String, newNodes: DataFrame,
      txn: Option[StoreTxn] = None): Unit =
      StoreLock.withWriteLock(outDir) {
    val m0 = txn.map(_.manifest).getOrElse(Store.readManifest(outDir))
    val existing = Store.readEntityAt(spark, outDir, "nodes", m0)
    val gs = GraphSchema.fromJson(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$outDir/schema.json")))
    val batch = applyDefaults(
      alignTo(newNodes, widened(existing, gs, "vertex")), gs, "node")
    val dupIds = batch.join(existing.select("id"), Seq("id"), "left_semi")
    require(dupIds.isEmpty, {
      val sample = dupIds.select("id").limit(5).collect().map(_.getLong(0)).mkString(", ")
      s"append rejected: node ids already exist (e.g. $sample)"
    })
    val dupInBatch = batch.groupBy("id").count().filter(col("count") > 1)
    require(dupInBatch.isEmpty, {
      val sample = dupInBatch.select("id").limit(5).collect().map(_.getLong(0)).mkString(", ")
      s"append rejected: duplicate ids within the batch (e.g. $sample)"
    })
    assertRidKeyspace(batch, "vertex") // batch-only agg, not the store
    val viol = validateUnique(
      existing.unionByName(batch, allowMissingColumns = true),
      Store.readEntityAt(spark, outDir, "edges", m0), gs)
    require(viol.isEmpty, {
      val sample = viol.limit(5).collect()
        .map(r => s"${r.getString(0)}.${r.getString(1)}=${r.getString(2)}").mkString(", ")
      s"append rejected: UNIQUE violation(s): $sample"
    })
    // constraints are per-row, so validating the BATCH suffices — the
    // resident rows were validated when each constraint was declared
    requireConstraints(batch, batch.limit(0), gs, "append")
    val labels = appendBatch(spark, outDir, "nodes", batch, m0, txn)
    if (txn.isEmpty) autoCompactIfNeeded(spark, outDir, labels.map(("nodes", _)))
  }

  def appendEdges(spark: SparkSession, outDir: String, newEdges: DataFrame,
      txn: Option[StoreTxn] = None): Unit =
      StoreLock.withWriteLock(outDir) {
    val m0 = txn.map(_.manifest).getOrElse(Store.readManifest(outDir))
    val nodes = Store.readEntityAt(spark, outDir, "nodes", m0)
    val existing = Store.readEntityAt(spark, outDir, "edges", m0)
    val gs = GraphSchema.fromJson(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$outDir/schema.json")))
    val batch0 = applyDefaults(
      alignTo(newEdges, widened(existing, gs, "edge")), gs, "edge")
    assertRidKeyspace(batch0, "edge", Some("eid")) // batch-only agg
    // DML edge-record-id allocation (VERDICT r10 missing #1): an edge
    // arriving WITHOUT an eid draws the next consecutive id from the
    // manifest's high-water mark ([[Store.Manifest.eidNext]]) — so
    // every record is rid-addressable, like the reference's physical
    // RIDs [`ArcadeDBService.java:241-253` dep]. The advanced mark
    // commits in the SAME atomic manifest swap as the segment holding
    // the edges (appendBatch below), so a crash can't burn ids and the
    // store write lock serializes competing allocators. ONE combined
    // aggregate gets the null count and the explicit-id maximum.
    val hasEid = batch0.columns.contains("eid")
    val (nAlloc, maxEid): (Long, Option[Long]) =
      if (hasEid) {
        val r = batch0.agg(
          sum(when(col("eid").isNull, 1L).otherwise(0L)),
          max(col("eid").cast(LongType))).head
        (if (r.isNullAt(0)) 0L else r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1)))
      } else (batch0.count(), None)
    // the DML keyspace is allocator-owned: an EXPLICIT eid at or above
    // the base could silently collide with a future allocation — refuse
    // loudly (bulk loads derive their eids from source keys, far below)
    maxEid.foreach(mx => require(mx < EidDmlBase,
      s"edge record id $mx is inside the DML-allocated keyspace " +
        s"(>= $EidDmlBase) — omit the eid and let the store assign one"))
    val (batch, m1) =
      if (nAlloc == 0L) (batch0, m0)
      else {
        // the single-task row_number window is bounded by the batch
        // rows still NEEDING an id — command-sized (one HTTP request)
        // by construction, since bulk loads carry their own eids
        val base = m0.eidNext
        val eidAdded =
          if (hasEid) batch0
          else batch0.withColumn("eid", lit(null).cast(LongType))
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("src"), col("dst"))
        val alloc = eidAdded.filter(col("eid").isNull).withColumn("eid",
          lit(base) - 1 + row_number().over(w).cast(LongType))
        val cols = eidAdded.columns.map(col).toIndexedSeq
        val merged =
          if (hasEid) eidAdded.filter(col("eid").isNotNull).select(cols: _*)
            .unionByName(alloc.select(cols: _*))
          else alloc.select(cols: _*)
        (merged, m0.copy(eidNext = base + nAlloc))
      }
    // edge record ids get the SAME uniqueness guarantee as node ids
    // (code-review r9 #2): a duplicated eid would make one rid address
    // two records.
    if (batch.columns.contains("eid")) {
      val withEid = batch.filter(col("eid").isNotNull)
      if (existing.columns.contains("eid")) {
        val dupEids = withEid.join(
          existing.filter(col("eid").isNotNull).select("eid"), Seq("eid"), "left_semi")
        require(dupEids.isEmpty, {
          val sample = dupEids.select("eid").limit(5).collect().map(_.getLong(0)).mkString(", ")
          s"append rejected: edge record ids already exist (e.g. $sample)"
        })
      }
      val dupEidInBatch = withEid.groupBy("eid").count().filter(col("count") > 1)
      require(dupEidInBatch.isEmpty, {
        val sample = dupEidInBatch.select("eid").limit(5).collect().map(_.getLong(0)).mkString(", ")
        s"append rejected: duplicate edge record ids within the batch (e.g. $sample)"
      })
    }
    // ONE pass does endpoint resolution AND endpoint-label observation
    // (the DELETE probe's pruning metadata): left joins carry the node
    // labels, a null label = a dangling endpoint
    val nl = nodes.select(col("id"), col("label").as("__nl"))
    // consumed 3× (dangling check, endpoint observation, segment
    // write): cached rather than eagerly localCheckpoint'ed — the
    // first action materializes it lazily into executor storage, the
    // write spills to disk if a bulk batch outgrows memory, and
    // unpersist releases it as soon as the segments are staged
    val joined = batch
      .join(nl.withColumnRenamed("id", "src").withColumnRenamed("__nl", "__sl"),
        Seq("src"), "left")
      .join(nl.withColumnRenamed("id", "dst").withColumnRenamed("__nl", "__dl"),
        Seq("dst"), "left")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val dangling = joined.filter(col("__sl").isNull || col("__dl").isNull)
      require(dangling.isEmpty, {
        val sample = dangling.select("src", "dst").limit(5).collect()
          .map(r => s"(${r.getLong(0)}→${r.getLong(1)})").mkString(", ")
        s"append rejected: dangling edge endpoint(s): $sample"
      })
      val obs = joined.select(col("label"), col("__sl"), col("__dl")).distinct().collect()
        .groupBy(_.getString(0))
        .map { case (l, rows) =>
          l -> ((rows.map(_.getString(1)).toSet, rows.map(_.getString(2)).toSet))
        }
      // constraints: batch-scoped, same argument as the node sink
      requireConstraints(batch.limit(0), batch, gs, "append")
      // endpoint delta folds into the SAME manifest commit as the new
      // segments: a crash can never publish edges whose labels the
      // DELETE probe's pruning metadata doesn't yet know about
      val labels = appendBatch(spark, outDir, "edges",
        joined.drop("__sl", "__dl").select(batch.columns.map(col).toIndexedSeq: _*),
        m1, txn, epDelta = obs)
      if (txn.isEmpty) autoCompactIfNeeded(spark, outDir, labels.map(("edges", _)))
    } finally joined.unpersist()
  }

  /** UPDATE <Label> SET … WHERE <pred> — copy-on-write rewrite of ONE
    * label partition (the reference's HTTP command surface accepts
    * updates [dep arcadedb-server, `src/pom.xml:104-108`]). Invariants:
    * key/topology columns (`id`, `src`, `dst`, `label`) are immutable;
    * UNIQUE indexes on the label are revalidated over the rewritten
    * partition BEFORE the store is touched. 100 TB posture: only the
    * target label's files are read and rewritten (partition pruning at
    * the directory level); the swap is a metadata-level rename, and the
    * predicate/SET application is one map-only pass — no shuffle.
    * Returns the number of updated records. */
  def updateRecords(spark: SparkSession, outDir: String, label: String, kind: String,
      sets: Map[String, Any], pred: org.apache.spark.sql.Column): Long =
    updateColumns(spark, outDir, label, kind,
      sets.map { case (k, v) => k -> lit(v) }, pred)

  /** Column-valued UPDATE: SET values are arbitrary expressions over
    * the label partition's own row (the dialect's `SET x = x + 1`),
    * literals being the trivial case above.
    *
    * Single-pass rewrite: the affected count rides the gen write as an
    * `observe` metric (a Catalyst-side aggregate computed DURING the
    * write job), so an UPDATE reads the label exactly ONCE — not the
    * old count-then-rewrite double scan. UNIQUE re-validation
    * (A15) reads BACK the written gen (a columnar re-read of the new
    * files, cheaper than re-deriving the rewrite) and rejects before
    * the manifest commit, so a violating UPDATE still leaves the store
    * untouched — the written gen is just an orphan for the sweep. A
    * zero-affected UPDATE deletes its own orphan eagerly. */
  def updateColumns(spark: SparkSession, outDir: String, label: String, kind: String,
      sets: Map[String, org.apache.spark.sql.Column],
      pred: org.apache.spark.sql.Column,
      txn: Option[StoreTxn] = None): Long =
    updateColumnsReturning(spark, outDir, label, kind, sets, pred, txn, None)._1

  /** RETURN image page bound: BEFORE/AFTER images are a driver-side
    * JSON payload; a million-row UPDATE's images are not a response —
    * page at this cap (use RETURN COUNT for bulk rewrites). */
  val DmlReturnCap = 1000

  /** [[updateColumns]] plus the ArcadeDB `RETURN BEFORE|AFTER` record
    * images (VERDICT r12 missing #3): the copy-on-write rewrite
    * already holds both frames — BEFORE is the matched slice of the
    * read generation, AFTER the same slice through the SET
    * expressions — so the images are ONE extra bounded job over the
    * label partition (collected pre-commit, capped at
    * [[DmlReturnCap]]), relaxing the single-scan discipline only when
    * a RETURN form actually asks for records. */
  def updateColumnsReturning(spark: SparkSession, outDir: String, label: String,
      kind: String,
      sets: Map[String, org.apache.spark.sql.Column],
      pred: org.apache.spark.sql.Column,
      txn: Option[StoreTxn],
      returning: Option[String],
      retSkip: Long = 0L, retLimit: Long = -1L): (Long, Option[Array[String]]) =
      StoreLock.withWriteLock(outDir) {
    require(retSkip >= 0 && retSkip <= Int.MaxValue,
      s"RETURN SKIP $retSkip out of range")
    require(sets.nonEmpty, "UPDATE needs a SET clause")
    // the edge record id is as immutable as the topology it addresses:
    // bare-rid dispatch keys on the eid keyspace, so a rewritten eid
    // would make the record unreachable by rid — or alias another
    // record's address (code-review r9 #1)
    val immutable = Set("id", "src", "dst", "label") ++
      (if (kind != "vertex") Set("eid") else Set.empty)
    val bad = sets.keySet.intersect(immutable)
    require(bad.isEmpty,
      s"UPDATE rejected: ${bad.mkString(", ")} are immutable (keys/topology)")
    val entity = if (kind == "vertex") "nodes" else "edges"
    val m = txn.map(_.manifest).getOrElse(Store.readManifest(outDir))
    // ONE schema read serves both the widening and the A15 checks
    val gs = GraphSchema.fromJson(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$outDir/schema.json")))
    // READONLY properties are frozen like the keys: creation-time
    // writes only (ALTER PROPERTY … READONLY — the ArcadeDB attribute
    // that constrains CHANGES rather than values [dep arcadedb SQL])
    val roTarget = if (kind == "vertex") "node" else "edge"
    val frozen = gs.constraints.collect {
      case c if c.kind == "readonly" && c.target == roTarget && c.label == label =>
        c.property
    }.toSet
    val badRo = sets.keySet.intersect(frozen)
    require(badRo.isEmpty,
      s"UPDATE rejected: ${badRo.mkString(", ")} READONLY (creation-time writes only)")
    val part = readLabelWidened(spark, outDir, entity, label, m, gs) match {
      case Some(df) => df
      case None => // declared label, no rows yet
        return (0L, returning.map(_ => Array.empty[String]))
    }
    val unknown = sets.keySet -- part.columns.toSet
    require(unknown.isEmpty, s"UPDATE rejected: unknown column(s) ${unknown.mkString(", ")}")
    val hit = coalesce(pred, lit(false)) // NULL predicate = no match (3VL)
    // RETURN images collect BEFORE the rewrite commits: `part` is the
    // read generation (write-once files — still on disk through this
    // call), and AFTER is the same slice through the SET expressions,
    // so the response shows exactly what the rewrite writes
    // the capped page is ordered by the (immutable) record id so a
    // >cap UPDATE returns the SAME sample every run — an unordered
    // limit would page partition-order nondeterministically
    // (ADVICE r13 #4); SKIP/LIMIT page the ordered image set (r15,
    // VERDICT r14 order #8 — the cap was a hard truncation), with the
    // page size still bounded by DmlReturnCap; the count beside the
    // images signals how much remains. Edges page on eid (their
    // immutable record id — the vertex `id` column does not exist on
    // an edge partition), with the (src, dst) pair as the pre-eid
    // fallback.
    val pageKeys: Seq[org.apache.spark.sql.Column] =
      if (part.columns.contains("id")) Seq(col("id"))
      else if (part.columns.contains("eid")) Seq(col("eid"))
      else Seq(col("src"), col("dst"))
    val effLimit = math.min(
      if (retLimit < 0) DmlReturnCap.toLong else retLimit,
      DmlReturnCap.toLong).toInt
    def page(df: DataFrame): Array[String] = {
      val ordered = df.orderBy(pageKeys: _*)
      (if (retSkip > 0) ordered.offset(retSkip.toInt) else ordered)
        .limit(effLimit).toJSON.collect()
    }
    val images: Option[Array[String]] = returning.collect {
      case "BEFORE" => page(part.filter(hit))
      case "AFTER" =>
        page(part.filter(hit).select(part.schema.fields.toSeq.map { f =>
          sets.get(f.name).map(v => v.cast(f.dataType).as(f.name))
            .getOrElse(col(f.name)) }: _*))
    }
    val obs = org.apache.spark.sql.Observation()
    val rewritten = part.select(part.schema.fields.toSeq.map { f =>
      sets.get(f.name) match {
        case Some(v) => when(hit, v.cast(f.dataType)).otherwise(col(f.name)).as(f.name)
        case None => col(f.name)
      }
    } :+ hit.as("__hit"): _*)
      .observe(obs, sum(when(col("__hit"), 1L).otherwise(0L)).as("affected"))
      .drop("__hit")
    val gen = Store.writeGen(outDir, entity, label, m.seq + 1, rewritten)
    val genPath = Store.genDir(outDir, entity, label, gen)
    val affected = obs.get.get("affected") match {
      case Some(n: Long) => n
      case _ => 0L // empty partition: sum over no rows is null
    }
    if (affected == 0) {
      Store.tryDeleteRecursively(genPath) // leftover = sweepable orphan
      return (0L, images)
    }
    // A15 re-validation scoped to this label's UNIQUE indexes, reading
    // the WRITTEN gen back (columnar scan of the new files only); a
    // rejection deletes its own gen eagerly — an orphan sorting newest
    // would otherwise occupy a later sweep's grace slot
    try {
      val target = if (kind == "vertex") "node" else "edge"
      val written = spark.read.parquet(genPath.toString)
      gs.indexes.filter(ix => ix.unique && ix.isBuildable &&
          ix.label == label && ix.target == target &&
          written.columns.contains(ix.property)).foreach { ix =>
        val dup = written.filter(col(ix.property).isNotNull)
          .groupBy(col(ix.property)).count().filter(col("count") > 1)
        require(dup.isEmpty, {
          val sample = dup.limit(3).collect().map(_.get(0)).mkString(", ")
          s"UPDATE rejected: UNIQUE($label.${ix.property}) violated (e.g. $sample)"
        })
      }
      // constraint re-check on the written gen: `SET p = null` (or an
      // expression landing out of bounds) must not break a declared
      // MANDATORY/MIN/MAX/REGEXP invariant (DEFAULT is creation-only)
      gs.constraints.filter(c =>
          c.label == label && c.target == target).foreach { c =>
        violationOf(written, c).foreach { bad =>
          val n = written.filter(bad).count()
          require(n == 0, s"UPDATE rejected: ${c.kind.toUpperCase}" +
            s"($label.${c.property}) violated ($n row(s))")
        }
      }
    } catch {
      case e: Throwable =>
        Store.tryDeleteRecursively(genPath) // must never mask the real error
        throw e
    }
    // postings rebuilt from the rewritten gen ride the same swap
    val (m2, ftDirs) = stageFt(spark, outDir, entity, label, gs,
      m.withGen(entity, label, gen), genPath, append = false)
    txn match {
      case Some(t) => t.stage(m2, Seq(entity -> label), genPath +: ftDirs)
      case None => Store.writeManifest(outDir, m2)
    }
    (affected, images)
  }

  /** DELETE FROM <Label> [WHERE <pred>] — copy-on-write rewrite without
    * the matching rows. Deleting vertices whose ids are still referenced
    * by ANY edge is rejected (the A13 integrity mirror: the store never
    * holds a dangling endpoint) — delete the edges first. Returns the
    * number of deleted records. */
  def deleteRecords(spark: SparkSession, outDir: String, label: String, kind: String,
      pred: Option[org.apache.spark.sql.Column],
      txn: Option[StoreTxn] = None): Long =
      StoreLock.withWriteLock(outDir) {
    // NULL-predicate rows are KEPT (SQL three-valued semantics): a bare
    // `!pred` filter would silently drop them alongside the matches
    val p = coalesce(pred.getOrElse(lit(true)), lit(false))
    rewriteLabelPartition(spark, outDir, kind, label, txn) { (part, m) =>
      val affected = part.filter(p).count()
      if (affected > 0 && kind == "vertex") {
        val deletedIds = part.filter(p).select(col("id"))
        // probe ONLY the edge labels whose observed endpoint labels can
        // reference this vertex label (manifest metadata) — at 100 TB a
        // single-row delete must not pay a full edge-store scan
        // (VERDICT r5 order #7)
        val frames = edgeLabelsReferencing(m, label).flatMap { el =>
          Store.readLabel(spark, outDir, "edges", el, m)
            .map(_.select(col("src"), col("dst")))
        }
        frames.reduceOption(_.unionByName(_)).foreach { edges =>
          val referencing = edges
            .join(deletedIds.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
            .unionByName(edges
              .join(deletedIds.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi"))
          require(referencing.isEmpty, {
            val sample = referencing.select("src", "dst").limit(5).collect()
              .map(r => s"(${r.getLong(0)}→${r.getLong(1)})").mkString(", ")
            s"DELETE rejected: edges still reference deleted node(s): $sample — delete them first"
          })
        }
      }
      (part.filter(!p), affected)
    }
  }

  /** One label's full segment union, widened with DECLARED properties
    * no stored segment carries yet — runtime DDL makes a column
    * UPDATEable (and rewritable) before the first file contains it. */
  private def readLabelWidened(spark: SparkSession, outDir: String, entity: String,
      label: String, m: Store.Manifest, gs: GraphSchema): Option[DataFrame] =
    Store.readLabel(spark, outDir, entity, label, m).map { segs =>
      val have = segs.columns.toSet
      gs.labels.find(l => l.label == label).toSeq
        .flatMap(_.schema.fields).filterNot(f0 => have(f0.name))
        .foldLeft(segs)((df, f0) => df.withColumn(f0.name, lit(null).cast(f0.dataType)))
    }

  /** Copy-on-write rewrite of one label partition: `f` maps the
    * current generation's frame (label column elided — it lives in the
    * manifest) to (rewritten frame, affected count). Zero affected →
    * the store is untouched. The rewritten frame lands as a NEW
    * generation directory, invisible until the atomic manifest commit
    * ([[Store]] scaladoc) — or, inside a [[StoreTxn]], until the
    * transaction's single commit; the superseded generation stays on
    * disk for in-flight readers until [[Store.sweep]] finds it
    * unpinned. A crash at any point leaves either the old manifest
    * (orphan gen dir, swept later) or the new one (complete by
    * construction) — there is no torn state to recover. */
  private def rewriteLabelPartition(spark: SparkSession, outDir: String, kind: String,
      label: String, txn: Option[StoreTxn] = None)(
      f: (DataFrame, Store.Manifest) => (DataFrame, Long)): Long = {
    val entity = if (kind == "vertex") "nodes" else "edges"
    val m = txn.map(_.manifest).getOrElse(Store.readManifest(outDir))
    val gs = GraphSchema.fromJson(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$outDir/schema.json")))
    val part = readLabelWidened(spark, outDir, entity, label, m, gs) match {
      case Some(df) => df
      case None => return 0L // declared label, no rows yet
    }
    val (rewritten, affected) = f(part, m)
    if (affected == 0) return 0L
    val gen = Store.writeGen(outDir, entity, label, m.seq + 1, rewritten)
    val genPath = Store.genDir(outDir, entity, label, gen)
    // postings rebuilt from the rewritten gen ride the same swap
    val (m2, ftDirs) = stageFt(spark, outDir, entity, label, gs,
      m.withGen(entity, label, gen), genPath, append = false)
    txn match {
      case Some(t) => t.stage(m2, Seq(entity -> label), genPath +: ftDirs)
      case None => Store.writeManifest(outDir, m2)
    }
    affected
  }

  /** `CHECK DATABASE FIX`'s repair pass (r16, VERDICT r15 missing #2):
    * routes the issues CHECK enumerates into repairs, ALL staged under
    * one atomic manifest commit (a crash mid-fix leaves the old store
    * fully intact — staged generations are unpublished orphans):
    *
    *   - a referenced generation directory lost on disk → SALVAGE: the
    *     dangling manifest reference is pruned (the rows are already
    *     gone; the reference is what gated every scan of the store),
    *   - dangling edge endpoints — external damage, or endpoints into
    *     a node generation the salvage just pruned → the affected edge
    *     labels rewrite copy-on-write without those rows,
    *   - full-text postings that are missing their directories,
    *     declared-but-unrouted, or built over a node label the salvage
    *     shrank → rebuilt from the surviving rows (the REBUILD INDEX
    *     build); an UNDECLARED crash-residue postings entry whose
    *     directory is gone is simply dropped,
    *   - UNIQUE/constraint violations are NOT auto-fixed — dropping a
    *     caller's rows to satisfy an index is a policy decision, not a
    *     repair — so they stay in the post-fix CHECK report.
    *
    * Returns the fix-report rows (JSON, the CHECK report's dialect);
    * empty = nothing needed fixing (and the manifest did not move). */
  def fixStore(spark: SparkSession, outDir: String): Seq[String] =
    StoreLock.withWriteLock(outDir) {
      def js(s: String) = "\"" + GraphSchema.escJson(s) + "\""
      val fixes = scala.collection.mutable.ArrayBuffer[String]()
      val gs = GraphSchema.fromJson(java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$outDir/schema.json")))
      val txn = beginTxn(outDir)
      try {
        // 1. salvage: prune references to lost generation directories
        var m = txn.manifest
        val prunedNodeLabels = scala.collection.mutable.LinkedHashSet[String]()
        Seq("nodes", "edges").foreach { entity =>
          txn.manifest.gens(entity).toSeq.sortBy(_._1).foreach { case (label, gens) =>
            val (ok, gone) = gens.partition(g =>
              java.nio.file.Files.isDirectory(Store.genDir(outDir, entity, label, g)))
            if (gone.nonEmpty) {
              m = m.withGensOnly(entity, label, ok)
              if (entity == "nodes") prunedNodeLabels += label
              gone.foreach(g => fixes += s"""{"fix":"pruned_generation",""" +
                s""""entity":${js(entity)},"label":${js(label)},"gen":${js(g)}}""")
            }
          }
        }
        // lost postings directories: drop the routing entry — rebuilt
        // below when the index is declared
        txn.manifest.ft.toSeq.sortBy(_._1.toString).foreach { case ((e, l, p), gens) =>
          if (!gens.forall(g =>
              java.nio.file.Files.isDirectory(Store.ftDir(outDir, e, l, p, g)))) {
            m = m.withoutFt(e, l, p)
            fixes += s"""{"fix":"dropped_postings","entity":${js(e)},""" +
              s""""label":${js(l)},"property":${js(p)}}"""
          }
        }
        if (fixes.nonEmpty) txn.stage(m, Nil, Nil)
        // 2. dangling edges (one anti-join per direction finds the
        // affected labels; each rewrites once) — reads AT the salvaged
        // manifest, so endpoints into a pruned node generation count
        val mNow = txn.manifest
        val ids = Store.readEntityAt(spark, outDir, "nodes", mNow).select(col("id"))
        val edges = Store.readEntityAt(spark, outDir, "edges", mNow)
        val dangLabels =
          if (!edges.columns.contains("src")) Seq.empty[String] // no edges at all
          else edges.join(ids.withColumnRenamed("id", "src"), Seq("src"), "left_anti")
            .select(col("label"))
            .unionAll(edges.join(ids.withColumnRenamed("id", "dst"),
              Seq("dst"), "left_anti").select(col("label")))
            .distinct().collect().map(_.getString(0)).sorted.toSeq
        dangLabels.foreach { label =>
          val n = rewriteLabelPartition(spark, outDir, "edge", label, Some(txn)) {
            (df, _) =>
              val kept = df
                .join(ids.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
                .join(ids.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
              (kept, df.count() - kept.count())
          }
          fixes += s"""{"fix":"dropped_dangling_edges","label":${js(label)},"n":$n}"""
        }
        // 3. declared full-text indexes that are unrouted, or routed
        // over a node label the salvage shrank → rebuild postings from
        // the surviving rows. The BUILDABLE filter mirrors the build
        // path exactly (node target, non-array): a declared-but-skipped
        // index (the A15 class the schema:indexes catalog marks
        // buildable=false) has no postings BY DESIGN — "rebuilding" it
        // would commit a bogus manifest mutation on a healthy store.
        gs.indexes.filter(ix =>
            ix.fulltext && ix.target == "node" && ix.isBuildable).foreach { ix =>
          val mCur = txn.manifest
          if (!mCur.ft.contains(("nodes", ix.label, ix.property)) ||
              prunedNodeLabels.contains(ix.label)) {
            val rows = readLabelWidened(spark, outDir, "nodes", ix.label, mCur, gs)
              .getOrElse(spark.createDataFrame(
                spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
                org.apache.spark.sql.types.StructType(Seq(
                  org.apache.spark.sql.types.StructField("id", LongType),
                  org.apache.spark.sql.types.StructField(ix.property, StringType)))))
            val post = FullText.postings(rows, ix.property)
            val gen = Store.writeFtGen(outDir, "nodes", ix.label, ix.property,
              mCur.seq + 1, post)
            txn.stage(mCur.withFtGen("nodes", ix.label, ix.property, gen), Nil,
              Seq(Store.ftDir(outDir, "nodes", ix.label, ix.property, gen)))
            fixes += s"""{"fix":"rebuilt_fulltext","label":${js(ix.label)},""" +
              s""""property":${js(ix.property)}}"""
          }
        }
        if (fixes.isEmpty) txn.abort() else txn.commit()
        fixes.toSeq
      } catch { case e: Throwable => txn.abort(); throw e }
    }

  /** The edge labels whose observed endpoints can reference vertex
    * label `label` — the DELETE probe's pruning set. An edge label
    * with no endpoint metadata is conservatively included. */
  def edgeLabelsReferencing(m: Store.Manifest, label: String): Seq[String] =
    m.edges.keys.filter { el =>
      m.edgeEndpoints.get(el) match {
        case Some((srcs, dsts)) => srcs.contains(label) || dsts.contains(label)
        case None => true
      }
    }.toSeq.sorted

  def edgeLabelsReferencing(outDir: String, label: String): Seq[String] =
    edgeLabelsReferencing(Store.readManifest(outDir), label)

  /** Begin a staged multi-statement transaction ([[StoreTxn]]). The
    * caller must hold the store write lock across begin → commit
    * (statement entry points re-enter it reentrantly). */
  def beginTxn(outDir: String): StoreTxn = new StoreTxn(outDir)

  private def parquetFiles(dir: java.nio.file.Path): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val s = java.nio.file.Files.list(dir)
    try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toList
    finally s.close()
  }

  /** Append segments per label beyond which a DML append triggers an
    * automatic compaction of that label (the reference's LSM engine
    * compacts automatically [dep, `src/pom.xml:104-108`]; VERDICT r6
    * #2). Bounds the per-scan directory count: without it, 10k appends
    * = 10k parquet dirs unioned on every read until someone runs
    * COMPACT by hand. Override with `-Dgraft.autoCompactSegments=N`. */
  def autoCompactSegments: Int =
    sys.props.get("graft.autoCompactSegments").map(_.toInt).getOrElse(8)

  /** Threshold-triggered segment-list compaction after an append: any
    * touched label whose segment list outgrew [[autoCompactSegments]]
    * is rewritten to one byte-sized generation — a normal rewrite
    * commit (readers keep their pinned segments; no sweep here, GC
    * stays with the existing sweep sites). */
  private def autoCompactIfNeeded(spark: SparkSession, outDir: String,
      labels: Seq[(String, String)]): Unit = {
    if (labels.isEmpty) return
    val m = Store.readManifest(outDir)
    labels.foreach { case (entity, label) =>
      val segs = m.gens(entity).getOrElse(label, Nil)
      if (segs.size > autoCompactSegments) {
        val kind = if (entity == "nodes") "vertex" else "edge"
        val files = segs.flatMap(g => parquetFiles(Store.genDir(outDir, entity, label, g)))
        val bytes = files.map(java.nio.file.Files.size).sum
        val target = math.max(1, math.ceil(bytes.toDouble / (128L << 20)).toInt)
        rewriteLabelPartition(spark, outDir, kind, label)((part, _) =>
          (part.coalesce(target), segs.size.toLong))
        ()
      }
    }
  }

  /** Public hook for the batch route: compact whatever a committed
    * transaction touched, applying the same threshold policy as the
    * single-statement append path. */
  def autoCompactTouched(spark: SparkSession, outDir: String,
      labels: Seq[(String, String)]): Unit =
    StoreLock.withWriteLock(outDir) { autoCompactIfNeeded(spark, outDir, labels) }

  /** `ALTER TYPE <old> NAME <new>` (VERDICT r12 missing #4) — the
    * rename is a copy-on-write RE-KEY, not a data patch: readers
    * overwrite the label column from the manifest key
    * ([[graft.load.Store.readEntityAt]]), so the rows themselves never
    * mention their type name — the data rides one rewrite generation
    * under the new label path, full-text postings rebuild from that
    * copied generation through the same [[stageFt]] every rewrite
    * uses, and the manifest write is the data commit point (a crash
    * before it leaves only sweepable orphans under the new name).
    * schema.json re-keys LAST (code-review r13 — the reverse order
    * left a crash window where oldName was gone from the schema while
    * the data still keyed under it, hiding the rows until manual
    * repair): with manifest-first, the only half-state is "data under
    * newName, schema still oldName", and RE-ISSUING THE SAME ALTER
    * TYPE completes it — the guard still finds oldName in the schema,
    * the data pass is a no-op (oldName has no manifest entry left),
    * and the schema swap finishes the rename. Indexes, constraints,
    * settings, edge-endpoint sets and record ids all survive under
    * the new name (ids are label-independent, so every rid keeps
    * resolving). */
  def renameType(spark: SparkSession, outDir: String, oldName: String,
      newName: String): Long = StoreLock.withWriteLock(outDir) {
    val gsPath = java.nio.file.Paths.get(s"$outDir/schema.json")
    val gs = GraphSchema.fromJson(java.nio.file.Files.readString(gsPath))
    val ls = gs.labels.find(_.label == oldName).getOrElse(
      throw new IllegalArgumentException(s"unknown type: $oldName"))
    require(!gs.labels.exists(_.label == newName),
      s"type $newName already exists")
    val entity = if (ls.kind == "vertex") "nodes" else "edges"
    val gs2 = gs.copy(
      labels = gs.labels.map(l =>
        if (l.label == oldName) l.copy(label = newName) else l),
      indexes = gs.indexes.map(i =>
        if (i.label == oldName) i.copy(label = newName) else i),
      constraints = gs.constraints.map(c =>
        if (c.label == oldName) c.copy(label = newName) else c))
    val m = Store.readManifest(outDir)
    val dataGen = Store.readLabel(spark, outDir, entity, oldName, m)
      .map(df => Store.writeGen(outDir, entity, newName, m.seq + 1, df))
    var m2 = m.withoutLabel(entity, oldName)
    dataGen.foreach { g =>
      m2 = if (entity == "nodes") m2.copy(nodes = m2.nodes + (newName -> Seq(g)))
      else m2.copy(edges = m2.edges + (newName -> Seq(g)))
    }
    if (ls.kind == "edge") // the edge keeps its observed endpoints
      m.edgeEndpoints.get(oldName).foreach(ep =>
        m2 = m2.copy(edgeEndpoints = m2.edgeEndpoints + (newName -> ep)))
    else // a vertex rename re-keys every endpoint set mentioning it
      m2 = m2.copy(edgeEndpoints = m2.edgeEndpoints.view.mapValues {
        case (srcs, dsts) =>
          (srcs.map(x => if (x == oldName) newName else x),
            dsts.map(x => if (x == oldName) newName else x))
      }.toMap)
    dataGen.foreach { g =>
      val (m3, _) = stageFt(spark, outDir, entity, newName, gs2, m2,
        Store.genDir(outDir, entity, newName, g), append = false)
      m2 = m3
    }
    // data commit first, schema swap LAST (see scaladoc: the half-state
    // is completed by re-issuing the same ALTER TYPE — a no-op data
    // pass plus this swap)
    Store.writeManifest(outDir, m2)
    val tmp = java.nio.file.Paths.get(
      s"$outDir/.schema.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    java.nio.file.Files.writeString(tmp, gs2.toJson)
    java.nio.file.Files.move(tmp, gsPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    Store.sweep(outDir, keepPerLabel = 1)
    1L
  }

  /** A16 maintenance — compact the store in place. Every single-row
    * HTTP append lands one small parquet file in its label partition;
    * N commands = N files, and every later reader pays N footer reads.
    * Compaction rewrites any label partition holding more than
    * `maxFilesPerLabel` files down to max(1, ceil(bytes/targetBytes))
    * files via the same staged-swap protocol as UPDATE/DELETE — a
    * maintenance pass over ONLY the fragmented partitions, never a full
    * store rebuild. Returns the number of partitions rewritten.
    * (128 MB default target matches the scan split size, so a compacted
    * partition reads at one task per file at cluster scale.) */
  def compactStore(spark: SparkSession, outDir: String,
      maxFilesPerLabel: Int = 4, targetBytes: Long = 128L << 20): Int =
      StoreLock.withWriteLock(outDir) {
    val m = Store.readManifest(outDir)
    var rewritten = 0
    Seq("nodes" -> "vertex", "edges" -> "edge").foreach { case (entity, kind) =>
      m.gens(entity).toSeq.sortBy(_._1).foreach { case (label, segs) =>
        val files = segs.flatMap(g => parquetFiles(Store.genDir(outDir, entity, label, g)))
        val bytes = files.map(java.nio.file.Files.size).sum
        val target = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
        if (files.size > math.max(target, maxFilesPerLabel)) {
          rewriteLabelPartition(spark, outDir, kind, label)((part, _) =>
            (part.coalesce(target), files.size.toLong))
          rewritten += 1
        }
      }
    }
    // compaction doubles as store GC: superseded generations beyond a
    // one-generation grace window go now (pins still respected)
    Store.sweep(outDir, keepPerLabel = 1)
    rewritten
  }

  /** Refresh the bucketed co-location layout FROM the persisted store
    * (post-DML: the store is the truth, not the source tables) — the
    * id-keyed joins stay exchange-free afterwards exactly like
    * [[writeBucketedTables]]. */
  def writeBucketedTablesFromStore(spark: SparkSession, outDir: String, nBuckets: Int,
      prefix: String = "graft_store"): Unit = {
    Store.readEntity(spark, outDir, "nodes").write.mode("overwrite").format("parquet")
      .bucketBy(nBuckets, "id").sortBy("id")
      .saveAsTable(s"${prefix}_nodes_bucketed")
    Store.readEntity(spark, outDir, "edges").write.mode("overwrite").format("parquet")
      .bucketBy(nBuckets, "src").sortBy("src")
      .saveAsTable(s"${prefix}_edges_bucketed")
  }

  /** The align target for appends: the store's current union schema
    * widened with DECLARED properties no stored row carries yet —
    * runtime DDL (`CREATE PROPERTY`) must make a column insertable
    * before any file contains it. Deterministic order: store columns
    * first, new declared columns sorted by name. */
  private def widened(existing: DataFrame, gs: GraphSchema, kind: String): StructType = {
    val have = existing.columns.toSet
    val extra = gs.labels.filter(_.kind == kind).flatMap(_.schema.fields)
      .filterNot(f => have.contains(f.name))
      .groupBy(_.name).map(_._2.head).toSeq.sortBy(_.name)
    StructType(existing.schema.fields ++ extra)
  }

  /** Attach DECLARED properties missing from a stored union frame as
    * typed nulls — a column added by runtime DDL is readable (as null)
    * before any file carries it. Serve-side twin of [[widened]]. */
  def widenToDeclared(df: DataFrame, gs: GraphSchema, kind: String): DataFrame = {
    val have = df.columns.toSet
    gs.labels.filter(_.kind == kind).flatMap(_.schema.fields)
      .filterNot(f => have(f.name)).groupBy(_.name).map(_._2.head).toSeq.sortBy(_.name)
      .foldLeft(df)((d, f) => d.withColumn(f.name, lit(null).cast(f.dataType)))
  }

  /** Store-backed [[graft.query.PropertyGraph]]: entity unions widened
    * to the declared schema, plus the full-text provider resolving a
    * (label, property) to its persisted postings frame and the observed
    * edge endpoints that bound hop targets — resolved against ONE
    * manifest read, so the graph, its indexes and its endpoint
    * metadata are one consistent snapshot (a query never joins new
    * postings against old rows, nor hops into a label set older than
    * the edges it reads). */
  def openGraph(spark: SparkSession, outDir: String): graft.query.PropertyGraph =
    openGraphAt(spark, outDir, Store.readManifest(outDir))

  /** A session transaction's READ-YOUR-WRITES view: the graph resolved
    * against the txn's STAGED manifest, so statements AND queries
    * inside the session see its uncommitted effects while every plain
    * reader keeps the committed snapshot (VERDICT r8 missing #2 /
    * ADVICE r8 #4 — ArcadeDB sessions serve reads inside the txn
    * [dep]). The staged gens are already pinned by the txn; the
    * caller pins the COMMITTED gens the staged manifest still
    * references for the read's duration (a concurrent commit may
    * supersede and sweep them). */
  def openGraphStaged(spark: SparkSession, txn: StoreTxn): graft.query.PropertyGraph =
    openGraphAt(spark, txn.outDir, txn.manifest)

  /** The staged manifest's generation paths — what an in-session read
    * must pin (committed gens it references can be superseded by a
    * concurrent writer and swept mid-read). */
  def stagedGenPaths(txn: StoreTxn): Seq[String] =
    Store.genPathsOf(txn.outDir, txn.manifest)

  def openGraphAt(spark: SparkSession, outDir: String,
      m: Store.Manifest): graft.query.PropertyGraph = {
    val gs = GraphSchema.fromJson(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$outDir/schema.json")))
    val nodes = widenToDeclared(
      Store.readEntityAt(spark, outDir, "nodes", m), gs, "vertex")
    val edges = widenToDeclared(
      Store.readEntityAt(spark, outDir, "edges", m), gs, "edge")
    val ft = gs.indexes.filter(ix => ix.fulltext && ix.target == "node" && ix.isBuildable)
      .flatMap(ix => Store.readFt(spark, outDir, "nodes", ix.label, ix.property, m)
        .map(df => (ix.label, ix.property) -> df)).toMap
    graft.query.PropertyGraph(nodes, edges, (l, p) => ft.get((l, p)), m.edgeEndpoints.get)
  }

  /** Project `df` onto `target`: shared columns cast to the store
    * type, missing columns become typed nulls. Extra columns are an
    * error (the store schema is declared, A5). */
  private def alignTo(df: DataFrame, target: StructType): DataFrame = {
    val extra = df.columns.toSet -- target.fieldNames.toSet
    require(extra.isEmpty, s"append rejected: unknown column(s) ${extra.mkString(", ")}")
    val have = df.columns.toSet
    df.select(target.fields.toSeq.map { f =>
      if (have(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)
  }

  /** ✚ Bucketed layout (SURVEY §4.2 co-location): nodes bucketed on
    * `id`, edges on `src`, same bucket count — the A13 endpoint-
    * resolution join (and any id-keyed join) then plans WITHOUT an
    * exchange on either side. This is the 100 TB co-location strategy:
    * pay one clustered write, then every traversal join reads bucket-
    * aligned files instead of shuffling the node table per query.
    * (Bucketing needs the table catalog, hence saveAsTable — the
    * partitioned-parquet store of [[writeGraph]] stays the primary
    * layout; this one exists for join-heavy deployments.) */
  def writeBucketedTables(spark: SparkSession, dir: String, nBuckets: Int,
      prefix: String = "graft"): Unit = {
    assertDisjointIds(spark, dir)
    val n = nodes(spark, dir)
    val (resolved, _) = resolveEdges(n, edges(spark, dir))
    n.write.mode("overwrite").format("parquet")
      .bucketBy(nBuckets, "id").sortBy("id")
      .saveAsTable(s"${prefix}_nodes_bucketed")
    resolved.write.mode("overwrite").format("parquet")
      .bucketBy(nBuckets, "src").sortBy("src")
      .saveAsTable(s"${prefix}_edges_bucketed")
  }

  /** A11/A14/A16 — persist the graph: parquet partitioned by label
    * (partition pruning replaces the per-label bucket layout), overwrite
    * mode (the reference deletes and rebuilds, `ArcadeDBService.java:112-122`),
    * schema registry + checksum alongside (A17). */
  def writeGraph(spark: SparkSession, dir: String, outDir: String): Unit = {
    assertDisjointIds(spark, dir)
    val n = nodes(spark, dir)
    val (resolved, _) = resolveEdges(n, edges(spark, dir))
    // assertDisjointIds above already proved the rid keyspace (node
    // ranges < EidFloor, edge-rid spans within their windows)
    writeGraphFrom(spark, outDir, n, resolved, schema, dir, keyspaceChecked = true)
  }

  /** Bulk-load ANY labeled node/edge frames into a fresh generation
    * store under `gs` — the engine behind [[writeGraph]] (which binds
    * it to the TPC-H-ish fixture schema) and any other corpus a caller
    * declares (e.g. the long-text document store the full-text bench
    * loads). `checksumDir` feeds the A17 rebuild gate. */
  def writeGraphFrom(spark: SparkSession, outDir: String, n: DataFrame,
      resolved: DataFrame, gs: GraphSchema, checksumDir: String,
      keyspaceChecked: Boolean = false): Unit =
      StoreLock.withWriteLock(outDir) {
    // rid-dispatch invariant for ANY corpus — one single-column agg per
    // entity against the frames about to be written. The fixture path
    // ([[writeGraph]]) passes keyspaceChecked=true: its
    // assertDisjointIds already proved both bounds from the per-table
    // maxes, and re-deriving them here would re-scan every source table
    // under the store write lock (code-review r9 #4).
    if (!keyspaceChecked) {
      assertRidKeyspace(n, "vertex")
      assertRidKeyspace(resolved, "edge", Some("eid"))
    }
    // ONE partitioned write per entity into a hidden bulk-staging tree
    // (hidden names are invisible to any concurrent reader), then each
    // label directory is renamed into its generation slot and the
    // manifest commit makes the new store visible atomically
    // (Store scaladoc; drop-and-rebuild parity with
    // `ArcadeDBService.java:112-122`).
    val uuid = java.util.UUID.randomUUID().toString.take(8)
    val bulk = java.nio.file.Paths.get(s"$outDir/.bulk_$uuid")
    n.write.mode("overwrite").partitionBy("label").parquet(s"$bulk/nodes")
    resolved.write.mode("overwrite").partitionBy("label").parquet(s"$bulk/edges")
    val prevSeq =
      if (java.nio.file.Files.exists(Store.manifestPath(outDir)))
        Store.readManifest(outDir).seq
      else 0L
    val seq = prevSeq + 1
    def promote(entity: String): Map[String, Seq[String]] = {
      import scala.jdk.CollectionConverters._
      val root = bulk.resolve(entity)
      val s = java.nio.file.Files.list(root)
      val labelDirs = try s.iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("label=")).toList
        finally s.close()
      labelDirs.map { p =>
        val label = decodePartitionName(p.getFileName.toString.stripPrefix("label="))
        val gen = Store.newGenName(seq)
        val dest = Store.genDir(outDir, entity, label, gen)
        java.nio.file.Files.createDirectories(dest.getParent)
        java.nio.file.Files.move(p, dest)
        label -> Seq(gen)
      }.toMap
    }
    val nodeGens = promote("nodes")
    val edgeGens = promote("edges")
    // per-edge-label endpoint labels: the vertex-DELETE probe's pruning
    // metadata (one small distinct-aggregate at load time)
    val nodeLabels = n.select(col("id"), col("label").as("__nl"))
    val eps = resolved.select(col("src"), col("dst"), col("label"))
      .join(nodeLabels.withColumnRenamed("id", "src")
        .withColumnRenamed("__nl", "__sl"), Seq("src"))
      .join(nodeLabels.withColumnRenamed("id", "dst")
        .withColumnRenamed("__nl", "__dl"), Seq("dst"))
      .select(col("label"), col("__sl"), col("__dl")).distinct()
      .collect()
      .groupBy(_.getString(0))
      .map { case (l, rows) =>
        l -> ((rows.map(_.getString(1)).toSet, rows.map(_.getString(2)).toSet))
      }
    // full-text postings per declared FULL_TEXT index, built from the
    // promoted generations and committed by the SAME manifest swap as
    // the data — the bulk-load analogue of the reference building its
    // indexes inside the load transaction (`ArcadeDBService.java:258-283`)
    var m = Store.Manifest(seq, nodeGens, edgeGens, eps)
    nodeGens.keys.toSeq.sorted.foreach { label =>
      nodeGens(label).foreach { gen =>
        val (m2, _) = stageFt(spark, outDir, "nodes", label, gs, m,
          Store.genDir(outDir, "nodes", label, gen), append = false)
        m = m2
      }
    }
    Store.writeManifest(outDir, m)
    Store.deleteRecursively(bulk)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/schema.json"), gs.toJson)
    Checksum.store(
      java.nio.file.Paths.get(s"$outDir/checksum.txt"),
      Checksum.pseudoHashDir(java.nio.file.Paths.get(checksumDir)))
    Store.sweep(outDir)
    ()
  }

  /** `IMPORT DATABASE '<src>'` — the inverse of [[Store.exportJson]]
    * (the reference ships the pair [dep arcadedb SQL]; without this the
    * JSONL interchange tree was write-only and the only restore path
    * was BACKUP's byte copy). Re-ingests `src/schema.json` +
    * `src/{nodes,edges}/<label>/part-*.json` into a FRESH store at
    * `outDir` through the validated bulk-load path: each label reads
    * with its DECLARED StructType (JSON carries no type fidelity — the
    * registry does), undeclared label directories are refused loudly,
    * endpoints must resolve (zero dangling — the store never holds
    * them), UNIQUE and check constraints re-prove on the full frames,
    * and [[writeGraphFrom]] re-derives rid-keyspace assertions,
    * endpoint metadata, and full-text postings from the imported rows.
    * The manifest's `eidNext` advances past the largest imported
    * DML-allocated edge rid so post-import `CREATE EDGE` can never
    * double-assign. Returns the number of records imported.
    *
    * Scale: per label ONE distributed JSON scan with an explicit
    * schema (no inference pass), one partitioned parquet write; the
    * validations are the same aggregates every bulk load pays. */
  def importJson(spark: SparkSession, srcDir: String, outDir: String): Long = {
    import java.nio.file.{Files, Paths}
    val root = Paths.get(srcDir)
    require(Files.isRegularFile(root.resolve("schema.json")),
      s"$srcDir is not an EXPORT DATABASE tree (no schema.json)")
    // fresh directory, or a store whose manifest references no labels
    // (the dialect route: CREATE an empty database, IMPORT into it —
    // ArcadeDB's empty-database requirement [dep]); anything holding
    // records is refused, never merged into
    if (Files.exists(Store.manifestPath(outDir))) {
      val m0 = Store.readManifest(outDir)
      require(m0.nodes.isEmpty && m0.edges.isEmpty,
        s"import target $outDir already holds records — IMPORT DATABASE " +
          "fills a fresh or empty store (drop the types first, or point elsewhere)")
    }
    val gs = graft.model.GraphSchema.fromJson(
      Files.readString(root.resolve("schema.json")))
    import scala.jdk.CollectionConverters._
    def labelDirs(entity: String): Seq[(String, String)] = {
      val e = root.resolve(entity)
      if (!Files.isDirectory(e)) Nil
      else {
        val s = Files.list(e)
        try s.iterator().asScala.filter(Files.isDirectory(_))
          .map(p => p.getFileName.toString -> p.toString).toList.sortBy(_._1)
        finally s.close()
      }
    }
    def readEntity(entity: String, sys: Seq[StructField],
        emptyBase: StructType): DataFrame = {
      val kind = if (entity == "nodes") "vertex" else "edge"
      val frames = labelDirs(entity).map { case (label, dir) =>
        val ls = gs.labels.find(l => l.label == label && l.kind == kind)
          .getOrElse(throw new IllegalArgumentException(
            s"import rejected: $entity/$label is not declared in the " +
              "exported schema.json"))
        spark.read.schema(StructType(sys ++ ls.schema.fields)).json(dir)
          .withColumn("label", lit(label))
      }
      frames.reduceOption(_.unionByName(_, allowMissingColumns = true))
        .getOrElse(spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(emptyBase :+ StructField("label", StringType))))
    }
    val n = readEntity("nodes", Seq(StructField("id", LongType)),
      StructType(Seq(StructField("id", LongType)))).localCheckpoint(true)
    val e = readEntity("edges",
      Seq(StructField("src", LongType), StructField("dst", LongType),
        StructField("eid", LongType)),
      StructType(Seq(StructField("src", LongType), StructField("dst", LongType))))
      .localCheckpoint(true)
    // the store's no-dangling invariant, re-proven on the interchange
    // rows (a hand-edited or truncated tree must not become a store)
    val (resolved, dangling) = resolveEdges(n, e)
    val nDangling = dangling.count()
    require(nDangling == 0, {
      val sample = dangling.select(col("label"), col("src"), col("dst"))
        .limit(3).collect()
        .map(r => s"${r.getString(0)}(${r.getLong(1)}->${r.getLong(2)})")
        .mkString(", ")
      s"import rejected: $nDangling edge(s) reference missing endpoints: $sample"
    })
    val uviol = validateUnique(n, e, gs)
    require(uviol.isEmpty, {
      val sample = uviol.limit(3).collect()
        .map(r => s"${r.getString(0)}.${r.getString(1)}=${r.getString(2)} " +
          s"(${r.getLong(3)}×)").mkString(", ")
      s"import rejected: UNIQUE violation(s): $sample"
    })
    requireConstraints(n, e, gs, "import")
    // rid uniqueness, re-proven on the interchange rows (the
    // appendNodes/appendEdges invariant: one rid, one record — a
    // duplicated line in a hand-edited tree must not import into a
    // store where #id addresses two rows and rid UPDATEs fan out)
    val dupN = n.groupBy(col("id")).count().filter(col("count") > 1)
    require(dupN.isEmpty, {
      val sample = dupN.select(col("id")).limit(5).collect()
        .map(_.getLong(0)).mkString(", ")
      s"import rejected: duplicate node id(s): $sample"
    })
    if (e.columns.contains("eid")) {
      val dupE = e.filter(col("eid").isNotNull)
        .groupBy(col("eid")).count().filter(col("count") > 1)
      require(dupE.isEmpty, {
        val sample = dupE.select(col("eid")).limit(5).collect()
          .map(_.getLong(0)).mkString(", ")
        s"import rejected: duplicate edge record id(s): $sample"
      })
    }
    writeGraphFrom(spark, outDir, n, resolved, gs, checksumDir = srcDir)
    // burn the DML edge-rid high-water mark: imported rows may carry
    // allocated ids (>= EidDmlBase) — a fresh manifest restarting at
    // the base would hand them out again (an edge-less tree has no eid
    // column at all — nothing to burn)
    val maxEid =
      if (e.columns.contains("eid")) e.agg(max(col("eid"))).head
      else org.apache.spark.sql.Row(null)
    if (!maxEid.isNullAt(0) && maxEid.getLong(0) >= EidDmlBase)
      StoreLock.withWriteLock(outDir) {
        val m = Store.readManifest(outDir)
        Store.writeManifest(outDir, m.copy(seq = m.seq + 1,
          eidNext = maxEid.getLong(0) + 1))
      }
    n.count() + e.count()
  }
}
