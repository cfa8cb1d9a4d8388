package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{ArcadeSqlQueries, DocQueries, GraphQueries, LlmQueries, Q, Relational, WindowQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder brief.
  *
  * The declared query inventory (SURVEY §2): each entry is one operator
  * family re-expressed Spark-first, with a DuckDB oracle twin where the
  * semantics are SQL-expressible (probabilistic/iterative ops fall back
  * to the driver's rows-only check).
  */
object SparkEntry {

  /** Local cores: `SPARK_GRAFT_CPUS`, else every available processor. */
  def envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The one session factory: every main and the test session start
    * here and append only their own settings.
    *
    * events.parquet carries TIMESTAMP(NANOS), read as long ns and
    * converted explicitly ([[graft.queries.Qh.events]]) — Spark has no
    * nanos timestamp. `hugeMethodLimit`: methods the JVM refuses to JIT
    * (HotSpot's 8000-byte DontCompileHugeMethods cap) run as
    * interpreted bytecode on every row at ANY scale — the wide
    * literal-bearing sim/dedup projections generated such methods and
    * paid ~2 s per execution (BASELINE.md #101: the sim family
    * 17.0 → 5.0 s). Falling back to interpreted Catalyst expressions
    * for those stages is strictly better; 8000 matches the JIT limit
    * (scale-independent). */
  def builder(cpus: Int = envCpus): SparkSession.Builder = SparkSession.builder()
    .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.codegen.hugeMethodLimit", "8000")

  val all: Seq[Q] =
    Relational.queries ++ GraphQueries.queries ++ LlmQueries.queries ++
      WindowQueries.queries ++ ArcadeSqlQueries.queries ++ DocQueries.queries

  /** Flagship query on /root/testdata/sf0.001 (SURVEY §7 minimum slice:
    * the 2-hop traversal-aggregate); driver smoke-checks rows > 0. */
  def entry(spark: SparkSession): DataFrame =
    queries("match_2hop_revenue")(spark, "/root/testdata/sf0.001")

  /** One per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.spark).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
