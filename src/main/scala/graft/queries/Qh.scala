package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}

/** One declared query: the Spark implementation plus (when
  * SQL-expressible) its DuckDB oracle twin. Column names MUST match
  * between the two (the driver sorts columns by name before hashing).
  */
final case class Q(
    name: String,
    spark: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** Shared helpers for declared queries.
  *
  * Determinism doctrine (SURVEY §7 "float determinism" risk): a hashed
  * oracle comparison admits only outputs that both engines compute
  * bit-identically. The rules used throughout:
  *   - raw column pass-through (any type) is always safe;
  *   - integer-valued doubles (quantities) sum/avg exactly in any
  *     partition order, so plain `sum`/`avg` is safe on them;
  *   - money (2-decimal doubles) is aggregated in exact integer cents:
  *     `sum(cast(round(x*100) as bigint))`, then divided back — both
  *     engines do the same integer arithmetic and the same final IEEE
  *     division;
  *   - order-dependent float aggregates (stddev over continuous values)
  *     are rounded, which is safe because their values have full-length
  *     decimal expansions (boundary collisions ~1e-9);
  *   - every expression tree is written identically on both sides.
  */
object Qh {

  /** One source fixture table, through the session-scoped handle memo
    * of [[graft.load.Store.readGen]] (r17, guide §6: file listing is
    * per-relation driver work). Reading parquet builds a fresh relation
    * per call — re-listing the path and re-reading parquet footers for
    * the schema — and every declared query rebuilds its inputs through
    * this helper, so the suite paid that driver-side catalog cost per
    * query per pass (BASELINE.md #101: 0.3–0.8 s of pure CONSTRUCTION
    * time on multi-table queries). The memoized value is the RESOLVED
    * HANDLE (logical plan + schema), never data: every execution still
    * scans the parquet files, so nothing is precomputed across runs —
    * this is what a real engine's catalog does. Source fixtures are
    * write-once per dir, like store generations. */
  def t(s: SparkSession, dir: String, n: String): DataFrame =
    graft.load.Store.readGen(s, s"$dir/$n.parquet")

  /** events with `ts` restored to a (microsecond) timestamp: the parquet
    * carries TIMESTAMP(NANOS), which Spark reads as long ns under
    * `spark.sql.legacy.parquet.nanosAsLong`; `div` keeps the conversion
    * in exact integer arithmetic. */
  def events(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "events")
    raw.schema("ts").dataType match {
      // TPC-H-ish fixture: TIMESTAMP(NANOS) read as long ns under
      // `spark.sql.legacy.parquet.nanosAsLong`
      case LongType => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      // regenerated data (e.g. the 10× scale probe) lands micro-second
      // timestamps directly — normalize NTZ to the session zone type
      case _ => raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  /** Session-scoped DERIVED-LAYOUT cache (r18 — the co-purchase cache
    * generalized; VERDICT r16 adjudicated the discipline): several
    * declared queries iterate the SAME derived layout of a source
    * (co-purchase edge list, its triangle closures, the walk
    * adjacency, the df-capped shingle set), and each had re-derived it
    * per query per bench pass. Entries hold checkpointed LAYOUT frames
    * (or small driver-side values such as trained codebooks) keyed
    * (kind, source path, source fingerprint) — never query results;
    * every query still computes its declared aggregate from the
    * layout. The fingerprint is the source's own
    * ([[graft.load.IndexKeys.fingerprint]]), so a regenerated source
    * re-keys, and every entry derived from an older generation of THAT
    * source, of any kind, is dropped on insert with its checkpoint
    * blocks released — entries of other sources in the same directory
    * stay; dead-SparkContext entries evict on access (a checkpointed
    * frame is bound to its context). */
  private[graft] object FrameCache {
    private val cache =
      scala.collection.mutable.Map[(String, String, String), Seq[DataFrame]]()
    private val vals =
      scala.collection.mutable.Map[(String, String, String), Any]()

    private def release(dfs: Seq[DataFrame]): Unit =
      dfs.foreach { old =>
        if (!old.sparkSession.sparkContext.isStopped)
          old.queryExecution.analyzed.foreach {
            case lr: org.apache.spark.sql.execution.LogicalRDD =>
              lr.rdd.unpersist(blocking = false); ()
            case _ => ()
          }
      }

    /** Build-or-reuse a group of checkpointed frames derived together
      * from `source` (most kinds hold one; the walk layout holds
      * adj + deg). */
    def frames(kind: String, source: String)(
        build: => Seq[DataFrame]): Seq[DataFrame] = synchronized {
      val fp = graft.load.IndexKeys.fingerprint(source)
      val key = (kind, source, fp)
      cache.get(key)
        .filterNot(_.exists(_.sparkSession.sparkContext.isStopped)) match {
        case Some(dfs) => dfs
        case None =>
          val dfs = build
          supersede(source, fp)
          cache(key) = dfs
          dfs
      }
    }

    /** A new fingerprint for `source` means it was regenerated: every
      * entry derived from an older generation of it, of ANY kind, is
      * dropped and its checkpoint blocks released — a kind that is not
      * requested again (every `bfs-wave` key is its own kind) would
      * otherwise stay pinned for the session. */
    private def supersede(source: String, fp: String): Unit = {
      cache.filterInPlace { case ((_, s2, f2), old) =>
        val keep = s2 != source || f2 == fp
        if (!keep) release(old)
        keep
      }
      vals.filterInPlace { case ((_, s2, f2), _) => s2 != source || f2 == fp }
    }

    def frame(kind: String, source: String)(build: => DataFrame): DataFrame =
      frames(kind, source)(Seq(build)).head

    /** Driver-side small derived values (bounded source picks, trained
      * centroids and codebooks) — fingerprint-keyed like the frames,
      * context-independent. */
    def value[T](kind: String, source: String)(build: => T): T =
      synchronized {
        val fp = graft.load.IndexKeys.fingerprint(source)
        vals.getOrElse((kind, source, fp), {
          val v = build
          supersede(source, fp)
          vals((kind, source, fp)) = v
          v
        }).asInstanceOf[T]
      }
  }

  /** Exact integer cents of a ≤2-decimal money double. */
  def cents(c: Column): Column = round(c * lit(100), 0).cast(LongType)

  /** Money sum as double, exact: SUM(cents)/100.0. SQL twin:
    * `CAST(SUM(CAST(round(x*100) AS BIGINT)) AS BIGINT)/100.0`. */
  def moneySum(c: Column): Column = sum(cents(c)) / lit(100.0)

  /** SQL-side twin of [[cents]]. */
  def sqlCents(x: String): String = s"CAST(round(($x)*100) AS BIGINT)"

  /** SQL-side twin of [[moneySum]]. */
  def sqlMoneySum(x: String): String =
    s"CAST(SUM(${sqlCents(x)}) AS BIGINT)/100.0"
}
