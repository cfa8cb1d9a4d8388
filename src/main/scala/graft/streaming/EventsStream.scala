package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Typed event row for the stateful operators (the events schema of
  * FIXTURES.md, as a case class so `Encoder` derivation is automatic). */
case class EventRow(ts: java.sql.Timestamp, user_id: Long, event_type: String,
  value: Double, event_id: Long)

/** Accumulating per-user session state for [[EventsStream.sessionizeStateful]]. */
case class SessionState(start: Long, lastTs: Long, n: Long, sumCents: Long)

/** Per-user state for [[EventsStream.asofStateful]]: the retained view
  * timeline and the purchases still awaiting the watermark. */
case class AsOfState(views: List[(Long, Double)], pending: List[(Long, Long)])

/** One aligned purchase from [[EventsStream.asofStateful]]. */
case class AsOfOut(event_id: Long, user_id: Long,
  view_value: Option[Double], view_ts_ms: Option[Long])

/** A closed session emitted by [[EventsStream.sessionizeStateful]]. */
case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
  n_events: Long, sum_value: Double)

/** Per-user state for [[EventsStream.funnelStateful]]: completion
  * times (ms) of the stages reached so far, the typed events still
  * above the watermark as (ts ms, event_id, stage index), and the
  * latest event time seen (the idle-TTL clock). */
case class FunnelState(times: List[Long], pending: List[(Long, Long, Int)],
  lastMs: Long)

/** One stage advance emitted by [[EventsStream.funnelStateful]]:
  * `stage` is 1-based, `ts_ms` its completion time. */
case class FunnelAdvance(user_id: Long, stage: Int, ts_ms: Long)

/** Per-user state for [[EventsStream.attributionStateful]]: the touch
  * timeline as (ts ms, type, event_id), the conversions still awaiting
  * the watermark as (ts ms, event_id), and the latest event time seen
  * (the idle-TTL clock). */
case class AttrState(touches: List[(Long, String, Long)],
  pending: List[(Long, Long)], lastMs: Long)

/** One attributed conversion from [[EventsStream.attributionStateful]]. */
case class AttrOut(event_id: Long, user_id: Long, conv_ms: Long,
  last_type: Option[String], last_ms: Option[Long],
  first_type: Option[String], first_ms: Option[Long], attributed: Boolean)

/** Typed doc row for [[EventsStream.quotaGate]]. */
case class QuotaDoc(doc_id: Long, source: String)

/** A document admitted by [[EventsStream.quotaGate]]; `qrank` is its
  * 1-based admission index within its source's quota. */
case class QuotaKept(doc_id: Long, source: String, qrank: Long)

/** ✚ Structured Streaming extension (SURVEY §2.B.10). The reference has
  * zero streaming constructs — its freshness model is batch rebuild
  * gated on a checksum (A16/A17) — so these are declared extensions for
  * the `events`-shaped stream, never reference parity.
  *
  * Each transform takes a (possibly streaming) DataFrame with the
  * events schema (ts timestamp, user_id long, event_type string,
  * value double, event_id long) and returns a plan that runs both in
  * batch and incrementally under `readStream`/`writeStream` — the same
  * declarative plan, which is the point: Catalyst handles incremental
  * state (partial aggregates, watermark GC) without a custom engine.
  */
object EventsStream {

  /** Streaming → persisted-store ingest bridge (VERDICT r8 wrong #2:
    * this composition lived only in test code). Each microbatch of
    * node rows (`id`, `label`, + properties) lands through the SAME
    * validated append sink and commit path DML uses
    * ([[graft.load.GraphLoader.appendNodes]] in one
    * [[graft.load.GraphLoader.commit]]), so every store
    * invariant — one atomic manifest swap per batch, id-collision and
    * UNIQUE re-validation, one full-text postings segment per appended
    * data segment, auto-compaction past the segment threshold — holds
    * for streamed data with no extra machinery. This is the
    * Spark-native shape of continuous ingestion into the reference's
    * store (the reference's writer is the same HTTP insert surface the
    * batch path uses [dep, `ArcadeDBService.java:124-139`]).
    *
    * Returns the started query; callers own its lifecycle
    * (`processAllAvailable`/`awaitTermination`/`stop`). Scale posture:
    * the append sink's validation joins are per-batch (existing-ids
    * semi-join, endpoint resolution), so microbatch size — not stream
    * length — bounds each commit's work; an invalid batch fails the
    * query loudly rather than landing partially (the sink stages
    * nothing until its one manifest swap). */
  def ingestTo(storeDir: String, rows: DataFrame,
      checkpointDir: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = rows.sparkSession
    val w = rows.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // an empty microbatch must not commit an empty generation
        if (!batch.isEmpty) graft.load.GraphLoader.commit(spark, storeDir)(
          graft.load.GraphLoader.appendNodes(spark, _, batch))
      }
    checkpointDir.foreach(d => w.option("checkpointLocation", d))
    w.start()
  }

  /** Streaming near-dup gate — the arrival-time shape of corpus
    * construction: each microbatch of documents is MinHash-deduplicated
    * against everything that arrived before it, without ever rescanning
    * or re-hashing the resident corpus. Composition of two existing
    * proven pieces: [[graft.llmops.Dedup.incrementalKeep]] (one semi
    * join against the banded-signature index + the intra-batch star
    * rule) and an append-only parquet signature index (the kept rows'
    * bands land as one sorted segment per batch, so later probes prune
    * by row-group (band, sig) min/max exactly like the resident index
    * built in bulk).
    *
    * Kept rows go to `sink` (e.g. [[ingestTo]]'s append sink, a parquet
    * writer, …). Retry semantics (foreachBatch is at-least-once), per
    * failure point — bands are appended only AFTER `sink` returns, for
    * exactly the kept set, which gives the no-loss invariant "a row in
    * the index was delivered":
    *   - sink fails → nothing appended → the retry probes the same
    *     index, keeps the same set, re-offers it (at-least-once);
    *   - append fails → the retry re-offers the same kept set (duplicate
    *     delivery) and re-appends; duplicate bands in the index never
    *     change a semi join's answer;
    *   - failure after append but before the checkpoint commits → the
    *     retry SELF-collides with its own banded signatures, keeps
    *     nothing, and delivers nothing twice — and cannot lose a row,
    *     because its bands' presence proves the first delivery returned.
    * One gate per index directory (concurrent writers would race their
    * keep decisions; appends themselves are unique-filename-safe).
    *
    * Scope (the MinHash family invariant, same as the batch pipeline):
    * documents with fewer than 3 tokens have no 3-gram shingles, hence
    * no signature and no bands — they are ALWAYS kept, never indexed,
    * and the retry/self-collision guarantees above do not apply to
    * them (a retried batch re-delivers its sub-shingle docs). Callers
    * needing exact dedup of micro-documents should gate them
    * separately on a content fingerprint; near-dup semantics below the
    * shingle width are not meaningful (review r10).
    * Scale: per-batch work is batch-sized (the index side is pruned,
    * the resident corpus untouched) — stream length only grows the
    * index, which is output-linear in kept documents. */
  def neardupGate(indexDir: String, docs: DataFrame, idCol: String,
      textCol: String, numPerms: Int = 16, bands: Int = 4,
      checkpointDir: Option[String] = None)(sink: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = docs.sparkSession
    val w = docs.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          // probe the index through the Hadoop FileSystem API, not
          // java.io.File: a local-only listing returns null for every
          // non-local URI (hdfs://, s3a://), which would silently
          // degrade cross-batch dedup to intra-batch while appends
          // keep succeeding (ADVICE r10). Resolving against the
          // session's Hadoop conf makes distributed index paths work
          // — and genuinely broken ones fail loudly at globStatus.
          val indexPath = new org.apache.hadoop.fs.Path(indexDir)
          val fs = indexPath.getFileSystem(
            spark.sparkContext.hadoopConfiguration)
          val hasSegments = fs.exists(indexPath) &&
            fs.globStatus(new org.apache.hadoop.fs.Path(indexPath, "*.parquet"))
              .nonEmpty
          val index =
            if (hasSegments) spark.read.parquet(indexDir)
            else spark.emptyDataFrame
              .select(lit(0L).as(idCol), lit(0).as("band"), lit("").as("sig"))
              .limit(0)
          val kept = graft.llmops.Dedup
            .incrementalKeep(index, batch, idCol, textCol, numPerms, bands)
            .localCheckpoint(true) // consumed twice: sink + index append
          sink(kept)
          graft.llmops.Dedup
            .bandedSignatures(graft.llmops.Dedup
              .minhashSignatures(kept, idCol, textCol, numPerms),
              idCol, numPerms, bands)
            .sortWithinPartitions("band", "sig")
            .write.mode("append").parquet(indexDir)
        }
      }
    checkpointDir.foreach(d => w.option("checkpointLocation", d))
    w.start()
  }

  /** Streaming BOILERPLATE-SCRUB gate — the serving face of
    * [[graft.llmops.Dedup.scrubSpansIncremental]] (round 12): every
    * arriving document has its RESIDENT-boilerplate passages cut
    * against the persisted repeated-window index
    * ([[graft.llmops.Dedup.residentSpanIndex]] — built once from the
    * resident corpus, rebuilt on the compaction cadence). The index is
    * READ-ONLY state here (unlike [[neardupGate]], nothing appends
    * back: what counts as boilerplate is the resident corpus's call,
    * not the stream's), so each micro-batch is one sorted-probe semi
    * join against the index's single column plus the doc-sized
    * island/cut tail. The index frame is bound ONCE, outside the
    * batch closure: [[graft.llmops.Dedup.residentSpanIndex]] only
    * ever publishes a dest dir once (a rebuild lands in a NEW key
    * dir, served by restarting the gate), so a per-batch re-read —
    * file listing + schema inference every micro-batch — could never
    * observe new data anyway (code-review r12 #5). The sink receives
    * (id, clean_text, n_removed) per arrival. */
  def scrubGate(indexDir: String, docs: DataFrame, idCol: String,
      textCol: String, windowTokens: Int,
      checkpointDir: Option[String] = None)(sink: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = docs.sparkSession
    val index = spark.read.parquet(indexDir)
    val w = docs.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          sink(graft.llmops.Dedup.scrubSpansIncremental(
            index, batch, idCol, textCol, windowTokens))
        }
      }
    checkpointDir.foreach(d => w.option("checkpointLocation", d))
    w.start()
  }

  /** Streaming ANN-INDEX ingest gate — continuous arrivals maintain a
    * [[graft.llmops.Similarity.buildIvfPqIndex]] layout through the
    * frozen-quantizer append path
    * ([[graft.llmops.Similarity.appendToIvfPqIndex]]): each micro-batch
    * assigns against the published centroids, encodes in the layout's
    * own geometry, and lands as additional cell files — retraining
    * stays a rebuild decision, never a stream decision. Per-batch cost
    * is batch-bound (assign + encode + write of the batch; the
    * resident cells are never read or rewritten), so stream length
    * only grows the index, output-linear in ingested vectors.
    *
    * IDEMPOTENT under foreachBatch's at-least-once replay: arrivals
    * anti-join the slim ids side table before appending, restricted to
    * the batch's own [min, max] id range so the probe prunes to the
    * overlapping row groups instead of scanning the ids of the whole
    * resident corpus (arrival ids are write-clustered, so a replayed
    * batch touches only its own files' groups). A replayed batch finds
    * its ids resident, appends nothing, and delivers nothing twice —
    * the serve path's duplicate-id refusal never fires for replays.
    * Failure inside the append itself (after the cells write, before
    * the ids write) can leave a batch's rows in the cells without ids
    * entries; the replay re-appends them — duplicate CELL rows for one
    * batch, which cost candidate-scan width until the next rebuild but
    * keep every id servable (at-least-once prefers a duplicated row
    * over a lost one; the ids table itself stays duplicate-free, so
    * the loud re-append diagnosis stays reserved for true caller
    * bugs). The sink receives exactly the appended (fresh) rows AFTER
    * the append returns: a row delivered IS in the index. One gate per
    * index directory (concurrent appenders would race their freshness
    * decisions). */
  def annIngestGate(indexDir: String, vecs: DataFrame, idCol: String,
      vecCol: String, checkpointDir: Option[String] = None)
      (sink: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = vecs.sparkSession
    val w = vecs.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val b = batch.localCheckpoint(true) // bounds + probe + append share one pass
          val bounds = b.agg(min(col(idCol)), max(col(idCol))).head
          val resident = spark.read.parquet(s"$indexDir/ids")
            .filter(col(idCol) >= bounds.getLong(0) &&
              col(idCol) <= bounds.getLong(1))
            .select(col(idCol))
          val fresh = b.join(resident, Seq(idCol), "left_anti")
            .localCheckpoint(true) // consumed twice: append + sink
          if (!fresh.isEmpty) {
            graft.llmops.Similarity.appendToIvfPqIndex(
              spark, indexDir, fresh, idCol, vecCol)
            sink(fresh)
          }
        }
      }
    checkpointDir.foreach(d => w.option("checkpointLocation", d))
    w.start()
  }

  /** Streaming COMPOSED corpus refresh — the foreachBatch twin of
    * [[graft.llmops.Refresh.process]] (VERDICT r12 order #10, the
    * streaming face of order #1): quality gate → epoch span scrub →
    * near-dup star → Bloom decontamination [→ per-source quota] as ONE
    * pipeline per micro-batch, every stage probing the SAME persisted
    * epoch authorities the batch refresh uses. Cross-batch star state
    * is a stream-local DELTA authority under `deltaDir/bands` (bucket
    * mins of each batch's scrubbed docs, appended per batch — the
    * [[neardupGate]] append discipline at bucket granularity);
    * cross-batch quota state is per-source admitted counts under
    * `deltaDir/quota`. Both live on storage, not in driver memory, so
    * a restarted gate resumes exactly where it stopped.
    *
    * STREAMING ≡ BATCH (spec-asserted end-to-end): for batches
    * arriving in non-decreasing `seqCol` order — the arrival
    * contract; [[graft.llmops.Refresh.processBatch]] states the
    * theorem — the union of sunk batches EQUALS
    * `Refresh.process(epoch, allArrivals)` with the same quota applied
    * once, document-for-document, regardless of how the stream was
    * sliced. Quota admits the `cap` SMALLEST-seq kept docs per source
    * (the [[quotaGate]] arrival-order semantics made deterministic by
    * seq), via one batch-sized window over the batch's kept rows plus
    * the persisted counts — never a window over the stream's history.
    *
    * Per-batch cost is batch-bound: the epoch and delta probes are
    * equi-joins into pre-aggregated bucket indexes, the Bloom pass is
    * a map-only literal-bitmap column, the resident corpus is never
    * re-read. One gate per `deltaDir` (concurrent writers would race
    * their star/quota decisions). */
  def refreshGate(epoch: graft.llmops.Refresh.Epoch, deltaDir: String,
      docs: DataFrame, idCol: String, seqCol: String, textCol: String,
      langCol: String, quota: Option[(String, Int)] = None,
      checkpointDir: Option[String] = None)(sink: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = docs.sparkSession
    val bandsDir = s"$deltaDir/bands"
    val quotaDir = s"$deltaDir/quota"
    // each gate INSTANCE tags its per-batch state dirs: a micro-batch
    // REPLAYED after a failure (same instance, same batchId) lands in
    // the same dir in overwrite mode — idempotent, no double-counted
    // quota, no duplicated delta rows — and a FRESH gate resuming over
    // an existing deltaDir (batchIds restart at 0) can never clobber a
    // predecessor's state. A crash straddling the sink and the state
    // writes resolves conservatively: the sink runs FIRST (see below),
    // so a cross-instance replay can only re-DELIVER (at-least-once)
    // or leave quota over-counted (admits fewer later — the safe
    // direction for a cap); the star delta is min-semantics and
    // immune either way. Documents are never silently dropped.
    val runTag = java.util.UUID.randomUUID().toString.take(8)
    // the neardupGate FS discipline: resolve through the Hadoop
    // FileSystem API so distributed delta paths work and broken ones
    // fail loudly; re-list per batch (we write below)
    def readIf(dir: String): Option[DataFrame] = {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) None
      else {
        // read ONLY the batch subdirs whose commit marker landed: a
        // write that crashed after making data files visible but
        // before _SUCCESS (non-atomic committers / object stores) must
        // not feed torn quota/band state into a restarted gate
        // (ADVICE r13 #2) — globbing $dir/* would include it
        val committed = fs.globStatus(
            new org.apache.hadoop.fs.Path(p, "*/_SUCCESS"))
          .map(_.getPath.getParent.toString)
        if (committed.isEmpty) None
        else Some(spark.read.parquet(committed.toIndexedSeq: _*))
      }
    }
    val w = docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val b = batch.localCheckpoint(true) // one source read per batch
          val (kept0, deltaRows) = graft.llmops.Refresh.processBatch(
            epoch, readIf(bandsDir), b, idCol, seqCol, textCol, langCol)
          val kept = quota match {
            case Some((sc, cap)) =>
              val k0 = kept0.localCheckpoint(true) // rank + admit share it
              val withUsed = readIf(quotaDir)
                .map(_.groupBy(col(sc)).agg(sum(col("n")).as("__used")))
                .map(u => k0.join(u, Seq(sc), "left")
                  .withColumn("__used", coalesce(col("__used"), lit(0L))))
                .getOrElse(k0.withColumn("__used", lit(0L)))
              val win = org.apache.spark.sql.expressions.Window
                .partitionBy(col(sc)).orderBy(col(seqCol)) // batch-sized
              withUsed
                .withColumn("__rk", row_number().over(win))
                .filter(col("__rk") + col("__used") <= cap)
                .drop("__rk", "__used")
                .localCheckpoint(true) // sink + the accounting write
            case None => kept0
          }
          // DELIVER FIRST, commit state after (code-review r13): with
          // the state writes first, a crash between them and the sink
          // would make the restart replay count the crashed attempt's
          // quota against the SAME docs — dropping documents that were
          // never delivered anywhere. Sink-first degrades a crash to
          // at-least-once DELIVERY (the standard foreachBatch
          // contract) instead of silent loss; the state writes below
          // stay idempotent per (instance, batchId).
          sink(kept)
          quota.foreach { case (sc, _) =>
            kept.groupBy(col(sc)).agg(count(lit(1)).as("n"))
              .write.mode("overwrite")
              .parquet(s"$quotaDir/run-$runTag-batch-$batchId")
            spark.catalog.refreshByPath(quotaDir)
          }
          deltaRows.write.mode("overwrite")
            .parquet(s"$bandsDir/run-$runTag-batch-$batchId")
          // parquet file listings cache session-wide — without the
          // refresh a later batch could probe the PRE-write delta
          spark.catalog.refreshByPath(bandsDir)
        }
      }
    checkpointDir.foreach(d => w.option("checkpointLocation", d))
    w.start()
  }

  /** Streaming SEMANTIC decontamination gate — ingest hygiene against a
    * fixed benchmark set: annotate every arriving vector with whether
    * its max cosine against the benchmark reaches `tau` (and with that
    * max). The round-11 serving shape makes this free to stream: the
    * benchmark rides inside the [[graft.plans.MaxCosHits]] expression
    * as a literal matrix, so the gate is a STATELESS per-row column —
    * the same plan runs under Structured Streaming unchanged (no
    * foreachBatch, no state store, any output mode). Contrast
    * [[neardupGate]], which needs cross-batch state by nature.
    * Returns the input plus (contaminated, max_cos — null when clean). */
  def deconGate(docs: DataFrame, benchmark: Seq[Seq[Double]], vecCol: String,
      tau: Double): DataFrame = {
    val h = graft.plans.MaxCosHits(col(vecCol).cast("array<double>"), benchmark, tau)
    docs.withColumn("__h", h)
      .withColumn("contaminated", col("__h").isNotNull)
      .withColumn("max_cos", round(col("__h.max_cos"), 6))
      .drop("__h")
  }

  /** Streaming BLOOM decontamination gate — the shingle-level
    * complement of [[deconGate]]: annotate every arriving document
    * with its count of benchmark-colliding shingles against a Bloom
    * bitmap built ONCE from the benchmark
    * ([[graft.llmops.Pipeline.bloomWords]]) and embedded in the
    * compiled [[graft.plans.BloomHits]] kernel. Like the max-cos gate,
    * the bitmap lives inside the expression, so the gate is a
    * STATELESS per-row column: the same plan runs under Structured
    * Streaming unchanged — no foreachBatch, no state store, any
    * output mode. Returns the input plus (n_hits, contaminated). */
  def bloomGate(docs: DataFrame, words: Seq[Long], mBits: Int, k: Int,
      textCol: String, n: Int): DataFrame = {
    docs.withColumn("n_hits", graft.plans.BloomHits(
        graft.plans.NGramMd5(
          graft.llmops.TextOps.tokens(col(textCol)), n, 8),
        words, mBits, graft.llmops.Dedup.permParams(k)))
      .withColumn("contaminated", col("n_hits") > 0)
  }

  /** Streaming PERPLEXITY gate — the LM-quality complement of
    * [[bloomGate]]: annotate every arriving document with its
    * cross-entropy under a capped stupid-backoff model trained ONCE on
    * the reference slice ([[graft.llmops.Pipeline.lmModel]]) and
    * embedded in the compiled [[graft.plans.LmXent]] kernel. The model
    * lives inside the expression, so the gate is a STATELESS per-row
    * column — the same plan runs under Structured Streaming unchanged,
    * any output mode, no state store. `tau` is the keep threshold
    * (e.g. [[graft.llmops.Pipeline.lmBucket]]'s middle/tail boundary
    * from the batch pass). Returns the input plus
    * (n_scored, xent, keep); unscorable docs (< 2 tokens) keep NULL
    * xent and keep = false. */
  def pplGate(docs: DataFrame, model: graft.llmops.Pipeline.LmModel,
      textCol: String, tau: Double): DataFrame = {
    docs.withColumn("__s", graft.plans.LmXent(
        graft.llmops.TextOps.tokens(col(textCol)), model))
      .withColumn("n_scored", col("__s.n_scored"))
      .withColumn("xent", col("__s.xent"))
      .withColumn("keep", coalesce(col("xent") <= tau, lit(false)))
      .drop("__s")
  }

  /** Streaming Naive-Bayes classifier gate — the serving face of
    * `pipeline_nb_classifier`: the capped llr model + prior (trained
    * by [[graft.llmops.Pipeline.nbModel]] in a batch pass) ride inside
    * the compiled [[graft.plans.NbScore]] kernel, so classification is
    * a STATELESS per-row column — no join, no shuffle, no state store,
    * same plan batch or streaming (the pplGate pattern). `tau` is the
    * keep threshold (0.0 = the classifier's own decision boundary).
    * Returns the input plus (n_scored, score, keep). */
  def nbGate(docs: DataFrame, vocab: Seq[(String, Double)], prior: Double,
      textCol: String, tau: Double = 0.0): DataFrame = {
    docs.withColumn("__s", graft.plans.NbScore(
        filter(graft.llmops.TextOps.tokens(col(textCol)), t => t =!= ""),
        vocab, prior))
      .withColumn("n_scored", col("__s.n_scored"))
      .withColumn("score", col("__s.score"))
      .withColumn("keep", col("score") > tau)
      .drop("__s")
  }

  /** Streaming DISTRIBUTION-DRIFT monitor — the serving face of
    * `pipeline_drift` ([[graft.llmops.Pipeline.distributionDrift]]):
    * per event-time window, the two-sample KS statistic of the
    * window's value distribution against a TRAINED reference
    * histogram riding as literals (the anomalyGate moments
    * discipline — the reference comes from a batch pass; the stream
    * is only compared). One windowed aggregate collects the window's
    * bucket ids; the KS computes STATELESSLY after it (chained
    * streaming aggregations are illegal — the mixMonitor rule), as
    * pure integer cross-products over the config-sized lattice:
    * max |cumWin·N_ref − cumRef·n_win| / (n_win·N_ref), the
    * [[graft.llmops.Pipeline.distributionDrift]] exactness discipline.
    * Retraining is a new query with new literals. Returns
    * (window, n, ks, drifted). */
  def driftMonitor(docs: DataFrame, tsCol: String, value: Column,
      lo: Long, width: Long, nBuckets: Int, refCounts: Seq[Long],
      tau: Double, window_ : String = "10 minutes",
      watermark: String = "15 minutes"): DataFrame = {
    require(refCounts.length == nBuckets, "reference histogram must fill the lattice")
    require(refCounts.forall(_ >= 0) && refCounts.sum > 0, "reference must be non-empty")
    val cumRef = refCounts.scanLeft(0L)(_ + _).tail
    val nRef = refCounts.sum
    val bucket = least(lit(nBuckets - 1), greatest(lit(0),
      floor((value.cast("long") - lo) / width).cast("int")))
    // per-window aggregation state is LATTICE-sized (one conditional
    // sum per bucket), never row-sized — a collect_list of bucket ids
    // would hold one element per event in the state store, on exactly
    // the high-volume streams a drift monitor watches (code-review r12)
    val bucketSums = (0 until nBuckets).map(i =>
      sum(when(bucket === i, 1L).otherwise(0L)).as(s"__b$i"))
    docs.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), window_))
      .agg(bucketSums.head, (bucketSums.tail :+ count(lit(1)).as("n")): _*)
      .withColumn("__cnt", array((0 until nBuckets).map(i => col(s"__b$i")): _*))
      .withColumn("__cum", transform(sequence(lit(0), lit(nBuckets - 1)),
        b => aggregate(slice(col("__cnt"), lit(1), b + 1), lit(0L), (a, x) => a + x)))
      .withColumn("__num", aggregate(
        zip_with(col("__cum"),
          array(cumRef.map(lit): _*).cast("array<long>"),
          (cw, cr) => abs(cw * nRef - cr * col("n"))),
        lit(0L), (acc, x) => greatest(acc, x)))
      .withColumn("ks", when(col("n") === 0, lit(0.0))
        .otherwise(round(col("__num").cast("double") /
          (col("n").cast("double") * nRef), 6)))
      .select(col("window"), col("n"), col("ks"), (col("ks") > tau).as("drifted"))
  }

  /** Streaming volume-anomaly gate — the serving face of
    * `events_anomaly`: per-window counts flagged against a TRAINED
    * (μ, σ) riding as literals (the bloomWords discipline — moments
    * come from a batch pass over history, the stream is only
    * compared). Windowed count + a stateless flag column, so the
    * plan streams under the same watermark semantics as
    * [[tumblingCounts]]; retraining is a new query with new
    * literals. Returns (window, n, z, anomaly). */
  def anomalyGate(events: DataFrame, mu: Double, sigma: Double,
      window_ : String = "1 minute", watermark: String = "5 minutes",
      zTau: Double = 3.0): DataFrame = {
    require(sigma > 0, "anomaly gate needs a positive trained sigma")
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_))
      .agg(count(lit(1)).as("n"))
      .withColumn("z", round((col("n") - mu) / sigma, 6))
      .withColumn("anomaly", abs(col("z")) > zTau)
  }

  /** Tumbling-window counts with late-data drop via watermark. */
  def tumblingCounts(events: DataFrame, window_ : String = "10 minutes",
      watermark: String = "15 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("cnt"), col("sum_value"))

  /** Sliding windows. */
  def slidingCounts(events: DataFrame): DataFrame =
    events.withWatermark("ts", "15 minutes")
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("w_start"), col("cnt"))

  /** Session windows (30-minute gap) per user. */
  def sessionize(events: DataFrame): DataFrame =
    events.withWatermark("ts", "30 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"))

  /** Stateful dedup bounded by the watermark (the streaming analogue of
    * exact dedup — state is GC'd past the watermark, so it scales). */
  def dedupWithinWatermark(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark(Seq("user_id", "event_type"))

  /** INCREMENTAL funnel — the streaming twin of
    * [[graft.operators.Funnel.funnel]] keyed by event type: emit a
    * [[FunnelAdvance]] the moment a user completes each successive
    * stage, strictly after the previous one (same contract as the
    * batch operator, asserted equal by the spec). Events BUFFER until
    * the watermark passes their time — only then can no earlier event
    * still arrive, so the greedy in-ts-order fold is exactly the batch
    * min-after-previous (processing ascending, the first qualifying
    * stage event IS the minimum qualifying one); out-of-order arrival
    * within the watermark cannot change answers. The [[asofStateful]]
    * boundary discipline verbatim: strict `< wm` flush, timeout at
    * `max(minPending, wm + 1)`. State: the above-watermark buffer is
    * watermark-bounded; the k stage times expire on an event-time
    * IDLE TTL (`idleTtl`) — user cardinality is corpus-scale, so a
    * user stalled mid-funnel must not hold state forever (review
    * r11; the quotaGate NoTimeout is justified by config-scale keys,
    * this one is not). A completed funnel removes immediately; an
    * expired one silently drops (no advance is lost — advances emit
    * as confirmed). Advances are monotone, so Append mode is
    * exact. */
  def funnelStateful(events: Dataset[EventRow], stages: Seq[String],
      watermark: String = "30 minutes",
      idleTtlMs: Long = 30L * 24 * 3600 * 1000): Dataset[FunnelAdvance] = {
    require(stages.nonEmpty && stages.distinct.length == stages.length,
      "funnel stages must be non-empty and distinct")
    require(idleTtlMs > 0, "idle TTL must be positive")
    import events.sparkSession.implicits._
    val stageOf = stages.zipWithIndex.toMap
    val k = stages.length

    def update(userId: Long, rows: Iterator[EventRow],
        state: GroupState[FunnelState]): Iterator[FunnelAdvance] = {
      val st = state.getOption.getOrElse(FunnelState(Nil, Nil, 0L))
      val incoming = rows.toSeq.flatMap(r =>
        stageOf.get(r.event_type).map(i => (r.ts.getTime, r.event_id, i)))
      val pending = st.pending ++ incoming
      val wm = state.getCurrentWatermarkMs()
      val (ready, still) = pending.partition(_._1 < wm)
      var times = st.times
      val out = scala.collection.mutable.ArrayBuffer[FunnelAdvance]()
      // ascending (ts, event_id): deterministic under replays; a
      // same-ts next-stage event never advances (strict >)
      ready.sortBy(r => (r._1, r._2)).foreach { case (ts, _, i) =>
        if (i == times.length && (i == 0 || ts > times.last)) {
          times = times :+ ts
          out += FunnelAdvance(userId, i + 1, ts)
        }
      }
      val lastMs = (st.lastMs +: incoming.map(_._1)).max
      val idleExpired = state.hasTimedOut && still.isEmpty &&
        wm >= lastMs + idleTtlMs
      if ((still.isEmpty && times.length == k) || idleExpired) state.remove()
      else {
        state.update(FunnelState(times, still, lastMs))
        // earliest of: the pending flush point, the idle expiry —
        // clamped above the watermark (the asofStateful discipline)
        val next =
          if (still.nonEmpty) math.min(still.map(_._1).min, lastMs + idleTtlMs)
          else lastMs + idleTtlMs
        state.setTimeoutTimestamp(math.max(next, wm + 1))
      }
      out.iterator
    }

    events.filter(e => stageOf.contains(e.event_type))
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** Streaming per-source QUOTA gate — the ingest-time face of
    * [[graft.llmops.Pipeline.sourceCap]]: admit at most `cap`
    * documents per source across the stream's whole lifetime,
    * first-arrival-wins (within a microbatch, smallest doc_id first —
    * the deterministic tiebreak a replayed batch reproduces). The
    * batch cap ranks by salted hash because it SEES the full corpus;
    * an unbounded stream cannot, so the quota is the streaming-correct
    * contract (crawl/firehose rate limiting per domain): early
    * documents hold their admission regardless of what arrives later.
    *
    * State per source is ONE long (the admitted count) — source/domain
    * cardinality is config-scale next to the corpus, and a full quota
    * never re-admits, so state needs no watermark GC (NoTimeout by
    * design; the count must survive arbitrarily long streams).
    * Scale: one shuffle on the source key, state store per partition,
    * no driver involvement — the stateful-sessionizer posture. */
  def quotaGate(docs: Dataset[QuotaDoc], cap: Int): Dataset[QuotaKept] = {
    require(cap > 0, "per-source quota must be positive")
    import docs.sparkSession.implicits._
    def update(source: String, rows: Iterator[QuotaDoc],
        state: GroupState[Long]): Iterator[QuotaKept] = {
      val admitted = state.getOption.getOrElse(0L)
      val room = (cap - admitted).max(0L).toInt
      val kept = rows.toSeq.sortBy(_.doc_id).take(room)
        .zipWithIndex.map { case (r, i) =>
          QuotaKept(r.doc_id, source, admitted + i + 1) }
      state.update(admitted + kept.length)
      kept.iterator
    }
    docs.groupByKey(_.source)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(update)
  }

  /** Streaming SOURCE-MIX monitor — the ingest-ops face of
    * [[graft.llmops.Pipeline.mixRates]]: per event-time window, every
    * target source's share of the window's token mass beside its
    * target share, with a drift flag when |share − target| > `tol`.
    * Sources OUTSIDE the target mix pool into one `__other` row with
    * target 0 (surplus foreign content shows as drift), and a target
    * source ABSENT from a window still emits its row at share 0 (the
    * mixRates absent-stratum visibility rule — a silent zero is
    * exactly what a mix monitor must not hide).
    *
    * Streaming-legal by construction: Structured Streaming forbids
    * chained aggregations, so the per-source masses and the window
    * total come from ONE windowed aggregate — the target set is
    * config-sized, so each source is a `sum(when(source = s, nt))`
    * pivot column beside the total, map-side-combinable, state = one
    * row per open window. The per-source rows explode back out
    * STATELESSLY after the aggregate (legal post-aggregation in
    * append mode). The same frame runs identically under batch
    * (streaming ≡ batch asserted in the spec). */
  def mixMonitor(docs: DataFrame, tsCol: String, sourceCol: String,
      textCol: String, targets: Map[String, Double], windowDur: String,
      watermarkDelay: String, tol: Double): DataFrame = {
    require(targets.nonEmpty, "mix monitor needs a target mix")
    require(tol > 0 && tol < 1, s"drift tolerance must be in (0,1), got $tol")
    val known = targets.keys.toSeq.sorted
    val nt = size(graft.llmops.TextOps.tokens(col(textCol))).cast("long")
    val aggs =
      known.zipWithIndex.map { case (s0, i) =>
        sum(when(col(sourceCol) === s0, nt).otherwise(0L)).as(s"__t_$i")
      } ++ Seq(
        sum(when(!col(sourceCol).isInCollection(known), nt).otherwise(0L))
          .as("__t_other"),
        sum(nt).as("__tot"))
    val agg = docs.withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowDur).as("win"))
      .agg(aggs.head, aggs.tail: _*)
    val entries =
      known.zipWithIndex.map { case (s0, i) =>
        struct(lit(s0).as("source"), col(s"__t_$i").as("tokens"),
          lit(targets(s0)).as("target"))
      } :+ struct(lit("__other").as("source"), col("__t_other").as("tokens"),
        lit(0.0).as("target"))
    agg.select(col("win"), col("__tot"), explode(array(entries: _*)).as("e"))
      .select(col("win.start").as("w_start"),
        col("e.source").as("source"), col("e.tokens").as("tokens"),
        round(col("e.tokens") / col("__tot").cast("double"), 6).as("share"),
        col("e.target").as("target"))
      .withColumn("drift", abs(col("share") - col("target")) > tol)
  }

  /** CUSTOM-STATE sessionization via `flatMapGroupsWithState` — the
    * §2.B.10/§2.B.11 extension point Spark's built-in `session_window`
    * cannot reach when per-session state is richer than an aggregate
    * (here it also demonstrates the API; the emitted sessions match
    * `session_window` exactly, which the spec asserts).
    *
    * Semantics: per-user sessions split on gaps ≥ `gapMinutes`
    * (matching `session_window`'s half-open [start, start+gap) merge
    * rule); money is accumulated in integer cents (the determinism
    * doctrine — partial sums in any order). A session is emitted when a
    * later event proves the gap, or on event-time timeout once the
    * watermark passes `lastTs + gap` — so state size is
    * O(active users), GC'd by the same watermark that bounds
    * correctness. Scale: one shuffle on user_id (the groupByKey), state
    * store per partition, no driver involvement.
    */
  def sessionizeStateful(events: Dataset[EventRow], gapMinutes: Int = 30): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60000L

    def close(userId: Long, s: SessionState): SessionOut =
      SessionOut(userId, new java.sql.Timestamp(s.start), s.n, s.sumCents / 100.0)

    def update(userId: Long, rows: Iterator[EventRow],
        state: GroupState[SessionState]): Iterator[SessionOut] = {
      if (state.hasTimedOut) {
        // watermark passed lastTs + gap: the open session is final
        val out = close(userId, state.get)
        state.remove()
        Iterator.single(out)
      } else {
        val out = scala.collection.mutable.ArrayBuffer[SessionOut]()
        var cur = state.getOption
        // event-time order within the batch (micro-batches deliver
        // unordered); events older than an emitted session boundary are
        // late beyond the watermark and were already dropped upstream
        rows.toSeq.sortBy(r => (r.ts.getTime, r.event_id)).foreach { r =>
          val t = r.ts.getTime
          val cents = math.round(r.value * 100)
          cur match {
            case Some(s) if t - s.lastTs < gapMs =>
              cur = Some(SessionState(s.start, t, s.n + 1, s.sumCents + cents))
            case Some(s) =>
              out += close(userId, s)
              cur = Some(SessionState(t, t, 1, cents))
            case None =>
              cur = Some(SessionState(t, t, 1, cents))
          }
        }
        cur.foreach { s =>
          state.update(s)
          state.setTimeoutTimestamp(s.lastTs + gapMs)
        }
        out.iterator
      }
    }

    events.withWatermark("ts", s"$gapMinutes minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** INCREMENTAL as-of join — the streaming twin of
    * [[graft.operators.AsOfJoin]] over one event stream: every
    * `purchase` is aligned to the user's latest PRIOR `view`
    * (inclusive at equal ts, greatest value winning ties — the batch
    * operator's exact contract, which the spec asserts by equality).
    *
    * The batch formulation is a window function, which Structured
    * Streaming cannot run; the streaming shape is custom state per
    * user: views accumulate into a timeline, purchases BUFFER until
    * the watermark passes their event time (only then can no earlier
    * view still arrive), and each flushed purchase binds to the
    * latest view at-or-before it — emitted in event-time order, so
    * out-of-order arrival within the watermark cannot change answers.
    *
    * State is bounded by the same watermark that bounds correctness:
    * retained views = those still above the watermark plus ONE latest
    * at-or-below it (any future purchase has ts > watermark, so no
    * older view can ever be "the latest prior" again); buffered
    * purchases drain on every watermark advance, with an event-time
    * timeout firing the flush when no further events reach the user.
    * Scale: one shuffle on user_id, state-store per partition, no
    * driver involvement — the same posture as the stateful
    * sessionizer. */
  def asofStateful(events: Dataset[EventRow],
      watermark: String = "30 minutes"): Dataset[AsOfOut] = {
    import events.sparkSession.implicits._

    def update(userId: Long, rows: Iterator[EventRow],
        state: GroupState[AsOfState]): Iterator[AsOfOut] = {
      val st = state.getOption.getOrElse(AsOfState(Nil, Nil))
      val rs = rows.toSeq
      val views = st.views ++
        rs.filter(_.event_type == "view").map(r => (r.ts.getTime, r.value))
      val pending = st.pending ++
        rs.filter(_.event_type == "purchase").map(r => (r.ts.getTime, r.event_id))
      val wm = state.getCurrentWatermarkMs()
      // sorted by (ts, value): the last entry at-or-before a purchase
      // is the latest prior view, greatest value on an exact ts tie —
      // the batch operator's deterministic tie rule for one payload
      val timeline = views.sortBy(identity)
      // STRICT < wm: a purchase flushes only once no admissible row at
      // its timestamp can still arrive (ADVICE r7). On THIS Spark the
      // late-row predicate is `eventTime <= watermark`
      // (LessThanOrEqual in WatermarkSupport.watermarkExpression,
      // verified by disassembly), so an equal-boundary view is dropped
      // and `<= wm` was equally safe — but that boundary has differed
      // across Spark versions and operators, and the strict form is
      // correct under EITHER admission rule, costing only one extra
      // watermark advance of latency for rows sitting exactly on it.
      val (ready, still) = pending.partition(_._1 < wm)
      val out = ready.sortBy(identity).map { case (pts, eid) =>
        val prior = timeline.takeWhile(_._1 <= pts).lastOption
        AsOfOut(eid, userId, prior.map(_._2), prior.map(_._1))
      }
      // symmetric strict boundary: a view at ts == wm stays a live
      // timeline entry (a purchase at the same ts is still buffered)
      val (past, future) = timeline.partition(_._1 < wm)
      val keep = past.lastOption.toList ++ future
      if (still.isEmpty && keep.isEmpty) state.remove()
      else {
        state.update(AsOfState(keep, still))
        // flush guarantee without further events: fire once the
        // watermark advances STRICTLY past the earliest buffered
        // purchase (Spark fires EventTimeTimeout at wm' > timeout).
        // setTimeoutTimestamp demands a value > wm, so a purchase
        // sitting exactly at wm clamps to wm + 1 — the timeout then
        // fires at wm' > wm + 1, up to ONE MILLISECOND of watermark
        // positions later than the flush condition (ts < wm') first
        // holds. A pure latency corner: any advance beyond wm + 1
        // flushes, and new events for the user flush it sooner.
        if (still.nonEmpty)
          state.setTimeoutTimestamp(math.max(still.map(_._1).min, wm + 1))
      }
      out.iterator
    }

    events.filter(e => e.event_type == "view" || e.event_type == "purchase")
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** STATEFUL streaming attribution — the serving face of
    * `events_attribution` ([[graft.operators.Attribution]]): each
    * conversion credits its last- and first-touch view/click inside
    * the lookback, under out-of-order arrival. The batch formulation
    * is a range-framed window, which Structured Streaming cannot run;
    * the streaming shape is the [[asofStateful]] discipline verbatim —
    * conversions BUFFER until the watermark passes their event time
    * (only then can no admissible touch still arrive), the strict
    * `< wm` flush + wm+1 timeout clamp carry over unchanged (see
    * asofStateful's boundary scaladoc), and emission is event-time
    * order.
    *
    * State bound: touches with ts ≥ wm − lookback (any future
    * conversion flushes at cts ≥ wm, so older touches can never fall
    * inside its window again) plus the buffered conversions — the
    * lookback horizon IS the state bound, tighter than asof's
    * keep-one-before rule because attribution has no "latest prior
    * ever" clause — plus the funnelStateful IDLE TTL: user cardinality
    * is corpus-scale, so a user who touches but never converts (the
    * common case) must not hold state forever (code-review r12; the
    * earlier form only set a timeout when conversions were pending).
    * `idleTtlMs` must cover the lookback — then expiry can never drop
    * a touch a future conversion could still credit (any conversion
    * admitted after expiry has cts > lastMs + ttl ≥ lastMs + lookback,
    * so its window excludes everything expired). Ties at equal ms
    * break (ts, type, id) max for last / min for first — the batch
    * struct order. */
  def attributionStateful(events: Dataset[EventRow], lookbackMs: Long,
      watermark: String = "30 minutes",
      idleTtlMs: Long = 30L * 24 * 3600 * 1000): Dataset[AttrOut] = {
    require(lookbackMs > 0, "lookback must be positive")
    require(idleTtlMs >= lookbackMs,
      "idle TTL must cover the lookback (expiry must not outrun attribution)")
    import events.sparkSession.implicits._

    def update(userId: Long, rows: Iterator[EventRow],
        state: GroupState[AttrState]): Iterator[AttrOut] = {
      val st = state.getOption.getOrElse(AttrState(Nil, Nil, 0L))
      val rs = rows.toSeq
      val touches = st.touches ++ rs
        .filter(r => r.event_type == "view" || r.event_type == "click")
        .map(r => (r.ts.getTime, r.event_type, r.event_id))
      val pending = st.pending ++ rs.filter(_.event_type == "purchase")
        .map(r => (r.ts.getTime, r.event_id))
      val wm = state.getCurrentWatermarkMs()
      val timeline = touches.sortBy(identity)
      val (ready, still) = pending.partition(_._1 < wm)
      val out = ready.sortBy(identity).map { case (cts, eid) =>
        val window = timeline.filter(t => t._1 >= cts - lookbackMs && t._1 <= cts)
        val last = window.lastOption
        val first = window.headOption
        AttrOut(eid, userId, cts,
          last.map(_._2), last.map(_._1),
          first.map(_._2), first.map(_._1), last.nonEmpty)
      }
      val keep = timeline.filter(_._1 >= wm - lookbackMs)
      val lastMs = (st.lastMs +: (touches.map(_._1) ++ pending.map(_._1))).max
      val idleExpired = state.hasTimedOut && still.isEmpty &&
        wm >= lastMs + idleTtlMs
      if ((still.isEmpty && keep.isEmpty) || idleExpired) state.remove()
      else {
        state.update(AttrState(keep, still, lastMs))
        // earliest of: the pending flush point, the idle expiry —
        // clamped above the watermark (the asofStateful discipline)
        val next =
          if (still.nonEmpty) math.min(still.map(_._1).min, lastMs + idleTtlMs)
          else lastMs + idleTtlMs
        state.setTimeoutTimestamp(math.max(next, wm + 1))
      }
      out.iterator
    }

    events.filter(e =>
        e.event_type == "view" || e.event_type == "click" ||
        e.event_type == "purchase")
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
  }
}
