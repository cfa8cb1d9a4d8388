package graft.llmops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Composed INCREMENTAL corpus refresh — the production serving shape
  * of the end-to-end pipeline (`graft.PipelineE2E`): a resident corpus
  * grows and churns by snapshots, and the refresh must re-run the
  * text-bound stages (gate → scrub → dedup → decontaminate) ONLY on
  * the `added ∪ changed` documents, probing the resident state through
  * persisted indexes instead of re-scanning 100 TB of resident text.
  *
  * The design centers on an EPOCH: a frozen set of authorities built
  * once per compaction cadence —
  *
  *   - the repeated-window span index ([[Dedup.residentSpanIndex]]):
  *     the boilerplate authority every scrub probes,
  *   - the band min-seq index ([[epochBandIndex]]): the near-dup star
  *     authority, `(band, sig, min_seq)` — ONE row per bucket, i.e.
  *     SMALLER than the per-document band view,
  *   - the benchmark Bloom bitmap ([[Pipeline.bloomWords]]): the
  *     decontamination authority, driver-held at mBits/8 bytes,
  *   - the gate rules (pure per-document config).
  *
  * Within an epoch, EVERY document's verdict — resident or arrival —
  * is a pure function of (its own text, the authorities, the set of
  * strictly-smaller-`seq` documents sharing a band bucket). That makes
  * the composition exactly incremental:
  *
  *   process(epoch, old ∪ arrivals) ≡
  *       process(epoch, old) ∖ deletes ∪ process(epoch, arrivals)
  *
  * with NO approximation gap, because (a) gate/scrub/decon are
  * per-document given the authorities, (b) the dedup star rule "drop
  * iff some strictly-smaller-seq document shares a band bucket" is
  * monotone in `seq` and arrivals always carry larger `seq` than every
  * resident, and (c) the band index holds ALL resident buckets
  * (including documents the star later dropped), so arrival probes see
  * exactly what a full-frame intra-run would. RefreshSpec asserts this
  * identity verdict-for-verdict; BASELINE.md #62 hash-asserted it at
  * the ×100 corpus.
  *
  * Declared freshness model (the reference's own: checksum-gated
  * incremental rebuild, `Server.java:98-99,105-119` — stale inputs
  * trigger a rebuild, fresh inputs are served from resident state):
  * REMOVED documents tombstone out of the export immediately, but
  * their spans/bands/shingles remain authorities until the next epoch
  * rebuild — a duplicate suppressed by a since-removed document does
  * not revive mid-epoch. This is what makes resident verdicts immune
  * to churn (the refresh never rewrites resident shards) and is
  * resolved on the compaction cadence, exactly like the generation
  * store's drop-and-rebuild.
  *
  * Scale shape: arrival cost is batch-bound — the gate is map-only,
  * scrub probes the span index with ONE semi join, dedup probes the
  * bucket-keyed band index with ONE equi join (candidate volume ≤ the
  * batch's own band count, because the index is pre-aggregated to one
  * row per bucket), decon is a map-only Bloom pass against a
  * broadcast-literal bitmap. The resident corpus text is never read.
  */
object Refresh {

  /** Decontamination authority: the benchmark's Bloom bitmap plus its
    * shingle/hash geometry. `words` is mBits/64 longs — config-sized,
    * serialized into the [[graft.plans.BloomHits]] expression. */
  final case class BloomSpec(words: Seq[Long], n: Int, mBits: Int, k: Int)

  /** A frozen refresh epoch: the persisted authorities plus the knobs
    * that every probe of them must agree on (an index probed with a
    * different window width or permutation count is silently wrong —
    * carrying the knobs in the epoch makes the pairing unforgeable). */
  final case class Epoch(
      spanIndex: DataFrame,
      bandIndex: DataFrame,
      bloom: BloomSpec,
      rules: Pipeline.GateRules,
      windowTokens: Int,
      numPerms: Int,
      bands: Int)

  /** Atomic-publish parquet cache (the [[Dedup.residentBandIndex]]
    * publication protocol, extracted): build once under a hidden temp
    * dir, rename into place; a concurrent builder loses the rename and
    * reads the winner. `key` must fingerprint the SOURCE (mtime__size
    * or store manifest seq) or a regenerated corpus serves stale
    * authorities. */
  def persisted(spark: SparkSession, cacheRoot: String, key: String)(
      build: => DataFrame): DataFrame = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val dest = Paths.get(cacheRoot, key)
    if (!Files.isDirectory(dest)) {
      Files.createDirectories(Paths.get(cacheRoot))
      val tmp = Paths.get(cacheRoot,
        s".build-$key-${java.util.UUID.randomUUID().toString.take(8)}")
      build.write.mode("overwrite").parquet(tmp.toString)
      try { Files.move(tmp, dest, StandardCopyOption.ATOMIC_MOVE); () }
      catch { case _: java.io.IOException => // lost the publish race
        graft.load.Store.tryDeleteRecursively(tmp); ()
      }
    }
    spark.read.parquet(dest.toString)
  }

  /** The near-dup star authority: every band bucket of the (gated,
    * scrubbed) corpus with its two smallest DISTINCT-document `seq`
    * values — `(min_seq, min_id, min2_seq)`. One row per bucket,
    * strictly smaller than the per-document band view, and exactly
    * enough to evaluate the star rule for ANY probing document d:
    * "∃ a bucket mate with smaller seq and a DIFFERENT id" is
    * `min_seq < seq(d)` when `min_id ≠ id(d)`, else
    * `min2_seq < seq(d)`. The self-mask is what makes a CHANGED
    * document behave: its new version must not be suppressed by its
    * own predecessor's bands (the common minor-edit churn), while a
    * genuine duplicate of someone else still drops. Two bucket-keyed
    * aggregates at build time — never a window, never a self-join (a
    * boilerplate mega-bucket stays two combinable partials).
    * Range-partitioned/sorted on the bucket key so arrival probes read
    * only straddling row groups (the sorted-index discipline of
    * [[Dedup.residentBandIndex]]). */
  def epochBandIndex(scrubbed: DataFrame, idCol: String, seqCol: String,
      textCol: String, numPerms: Int, bands: Int): DataFrame = {
    val bb = Dedup.bandedSignatures(
        Dedup.minhashSignatures(scrubbed, idCol, textCol, numPerms),
        idCol, numPerms, bands)
      .join(scrubbed.select(col(idCol), col(seqCol)), Seq(idCol))
      .localCheckpoint(true) // consumed by both min passes
    val m1 = bb.groupBy(col("band"), col("sig"))
      .agg(min(struct(col(seqCol), col(idCol))).as("m"))
      .select(col("band"), col("sig"),
        col("m")(seqCol).as("min_seq"), col("m")(idCol).as("min_id"))
    val m2 = bb.join(m1, Seq("band", "sig"))
      .filter(col(idCol) =!= col("min_id"))
      .groupBy(col("band"), col("sig"))
      .agg(min(col(seqCol)).as("min2_seq"))
    m1.join(m2, Seq("band", "sig"), "left")
      .repartitionByRange(col("band"), col("sig"))
      .sortWithinPartitions("band", "sig")
  }

  /** Cache-key prefix of one epoch's persisted authorities: the
    * caller's source `key` PLUS the knobs and a gate-rules fingerprint
    * — an index is only valid for the exact (window, perms, bands,
    * rules) it was built with (the [[Epoch]] scaladoc's "silently
    * wrong" pairing), so a knob change must miss the cache and rebuild
    * rather than open the old index under new knobs (ADVICE r13 #1).
    * Case-class hashCode is MurmurHash3 over the rule values —
    * deterministic across JVMs for these primitives. */
  def epochCacheKey(key: String, windowTokens: Int, numPerms: Int,
      bands: Int, rules: Pipeline.GateRules): String =
    f"$key-w$windowTokens-p$numPerms-b$bands-g${rules.hashCode}%08x"

  /** Build (or open, when `cacheRoot/key-*` already exists) the epoch
    * authorities from the resident corpus + benchmark set. The span
    * index is computed over the GATED corpus (scrub runs after the
    * gate in the composed order, so un-gated spam must not become a
    * boilerplate authority), the band index over the gated+SCRUBBED
    * corpus (dedup sees clean text). Resident frames must carry
    * `seqCol` (monotone arrival order; plain monotone ids qualify).
    *
    * `mBits ≤ 0` auto-sizes the Bloom bitmap from the benchmark
    * ([[Pipeline.bloomBitsFor]], 32 bits/shingle — the serving gate's
    * kill rule is n_hits > 0, so the false-positive rate must stay
    * ~2e-4, the ×100 PipelineE2E calibration lesson); a positive
    * value is honored as given and [[Pipeline.bloomWords]] fail-louds
    * past 50% fill either way. */
  def buildEpoch(spark: SparkSession, cacheRoot: String, key: String,
      resident: DataFrame, evalDocs: DataFrame,
      idCol: String, seqCol: String, textCol: String, langCol: String,
      rules: Pipeline.GateRules,
      windowTokens: Int = 16, numPerms: Int = 16, bands: Int = 4,
      bloomN: Int = 8, mBits: Int = 0, k: Int = 4): Epoch = {
    // LAZY: the gated frame feeds ONLY the index builders — on the
    // build-or-open NO-OP path (both authorities already on disk,
    // `persisted`'s by-name thunks never forced) the resident corpus
    // must not be re-gated: an open is two directory probes plus the
    // bloom build, never a corpus scan (r17 — the ×10 lifecycle probe
    // measured the eager gate at 12.8 s of a 12.8 s "no-op")
    lazy val gated = gate(resident, idCol, textCol, langCol, rules)
      .localCheckpoint(true) // consumed by the span build AND the band build
    val knobKey = epochCacheKey(key, windowTokens, numPerms, bands, rules)
    val spanIndex = persisted(spark, cacheRoot, s"$knobKey-span")(
      epochSpanIndex(gated, idCol, textCol, windowTokens))
    lazy val scrubbed = scrub(spanIndex, gated, idCol, textCol, windowTokens)
    val bandIndex = persisted(spark, cacheRoot, s"$knobKey-band")(
      epochBandIndex(scrubbed, idCol, seqCol, textCol, numPerms, bands))
    val bits =
      if (mBits > 0) mBits
      else if (evalDocs.isEmpty) 64 // all-zero bitmap; no benchmark registered
      else Pipeline.bloomBitsFor(evalDocs, textCol, bloomN, bitsPerShingle = 32)
    val words = Pipeline.bloomWords(evalDocs, textCol, bloomN, bits, k)
    Epoch(spanIndex, bandIndex, BloomSpec(words, bloomN, bits, k),
      rules, windowTokens, numPerms, bands)
  }

  /** Epoch lifecycle closure (VERDICT r13 next #8): build — or open,
    * when already fresh — the epoch authorities for a document label
    * living IN a graft store, keyed on the store's manifest seq
    * ([[graft.load.IndexKeys]].key). The missing trigger this
    * supplies: within an epoch the authorities are FROZEN by design
    * (a removed document's duplicates stay suppressed, its boilerplate
    * spans stay anchored to it), and NOTHING re-built them — now every
    * DML commit against the store (arrival appends, tombstone DELETEs,
    * compaction) bumps the manifest seq, the seq moves this key, and
    * the next call on the maintenance cadence REBUILDS from the
    * current rows: deleted documents' bands leave the index, so their
    * previously-suppressed duplicates revive, and their keeper spans
    * re-anchor (RefreshSpec's revival test; CliSpec drives it through
    * the DML surface end to end). A call under an unchanged manifest
    * is the build-or-open no-op — two directory probes, never a
    * surprise rebuild.
    *
    * `seq` is the record id (the DML keyspace is monotone with
    * insertion order — the epoch contract's "plain monotone ids
    * qualify"). `evalDocs` defaults to an empty benchmark (all-zero
    * Bloom — decontamination is a separate authority when no
    * benchmark is registered). Returns (epoch, rebuilt): rebuilt=false
    * means the current manifest's authorities were already on disk. */
  def storeEpoch(spark: SparkSession, storeDir: String, cacheRoot: String,
      label: String, textCol: String, langCol: String,
      rules: Pipeline.GateRules, evalDocs: Option[DataFrame] = None,
      windowTokens: Int = 16, numPerms: Int = 16, bands: Int = 4,
      bloomN: Int = 8, mBits: Int = 0, k: Int = 4): (Epoch, Boolean) = {
    import org.apache.spark.sql.functions.{col, lit}
    val key = graft.load.IndexKeys.key(s"epoch-$label", storeDir)
    val fresh = !java.nio.file.Files.isDirectory(java.nio.file.Paths.get(
      cacheRoot, epochCacheKey(key, windowTokens, numPerms, bands, rules) + "-band"))
    val docs = graft.load.Store.readLabel(spark, storeDir, "nodes", label,
        graft.load.Store.readManifest(storeDir))
      .getOrElse(throw new IllegalArgumentException(
        s"no stored rows for label $label — nothing to index"))
      .select(col("id"), col(textCol), col(langCol))
      .withColumn("__seq", col("id"))
    val eval = evalDocs.getOrElse(
      docs.select(col("id"), col(textCol)).limit(0))
    val ep = buildEpoch(spark, cacheRoot, key, docs, eval,
      "id", "__seq", textCol, langCol, rules,
      windowTokens, numPerms, bands, bloomN, mBits, k)
    (ep, fresh)
  }

  /** Stage 1 — quality gate: map-only keep/drop per document. */
  private def gate(frame: DataFrame, idCol: String, textCol: String,
      langCol: String, rules: Pipeline.GateRules): DataFrame =
    frame.join(
      Pipeline.qualityGate(frame, idCol, textCol, langCol, rules)
        .filter(col("keep")).select(idCol),
      Seq(idCol), "left_semi")

  /** The boilerplate authority WITH its keeper: every epoch-repeated
    * window hash plus the (doc, position) of its FIRST occurrence —
    * [[Dedup.scrubSpans]]'s keeper rule, frozen into the index so that
    * re-running a RESIDENT document through the epoch scrub leaves its
    * keeper occurrences intact (a keeper-less index would scrub an
    * exact-duplicate pair to TWO empty husks instead of one keeper +
    * one cut copy). Arrivals are never keepers, so every flagged
    * arrival window cuts — [[Dedup.scrubSpansIncremental]]'s serving
    * rule falls out as the special case. Requires resident ids to be
    * monotone with `seq` (the epoch contract) so "min (id, pos)" IS
    * the earliest occurrence. One map-side-combinable aggregate on the
    * hash key; range-sorted on `h` for row-group-pruned probes. */
  def epochSpanIndex(gated: DataFrame, idCol: String, textCol: String,
      windowTokens: Int): DataFrame = {
    require(windowTokens >= 2, "span windows need ≥ 2 tokens")
    gated.select(col(idCol),
        posexplode(graft.plans.NGramMd5(
          TextOps.tokens(col(textCol)), windowTokens, 8)))
      .withColumnRenamed("col", "h")
      .groupBy(col("h"))
      .agg(count(lit(1)).as("df"),
        min(struct(col(idCol), col("pos"))).as("k"))
      .filter(col("df") >= 2)
      .select(col("h"), col("k")(idCol).as("keeper_id"),
        col("k")("pos").as("keeper_pos"))
      .repartitionByRange(col("h"))
      .sortWithinPartitions("h")
  }

  /** Stage 2 — span scrub against the epoch boilerplate authority:
    * cut every window that is epoch-repeated (keeper occurrences
    * excepted), keep the document with its other columns, drop
    * documents scrubbed to nothing. */
  private def scrub(spanIndex: DataFrame, frame: DataFrame, idCol: String,
      textCol: String, windowTokens: Int): DataFrame = {
    val w = frame.select(col(idCol),
        posexplode(graft.plans.NGramMd5(
          TextOps.tokens(col(textCol)), windowTokens, 8)))
      .withColumnRenamed("col", "h")
    val flagged = w.join(spanIndex, Seq("h"))
      .filter(!(col(idCol) === col("keeper_id") &&
        col("pos") === col("keeper_pos")))
      .select(col(idCol), col("pos"))
    Dedup.cutFlagged(frame, flagged, idCol, textCol, windowTokens)
      .join(frame.drop(textCol), Seq(idCol))
      .withColumn(textCol, col("clean_text"))
      .drop("clean_text", "n_removed")
      .filter(length(col(textCol)) > 0)
  }

  /** Stage 4 — decontamination: map-only Bloom membership of the
    * document's shingles against the epoch benchmark bitmap. */
  private def decon(epoch: Epoch, frame: DataFrame, textCol: String): DataFrame =
    frame.filter(graft.plans.BloomHits(
      graft.plans.NGramMd5(TextOps.tokens(col(textCol)), epoch.bloom.n, 8),
      epoch.bloom.words, epoch.bloom.mBits,
      Dedup.permParams(epoch.bloom.k)) === 0)

  /** The composed per-epoch pipeline: gate → scrub → dedup-star →
    * decontaminate, every stage probing the epoch authorities. Pure
    * per-document given the authorities and the smaller-`seq` bucket
    * mates — which is the exact-incrementality theorem the probe
    * asserts. Returns the kept documents with scrubbed text, all input
    * columns preserved. */
  def process(epoch: Epoch, frame: DataFrame, idCol: String, seqCol: String,
      textCol: String, langCol: String): DataFrame =
    processBatch(epoch, None, frame, idCol, seqCol, textCol, langCol)._1

  /** ONE COMPOSED MICRO-BATCH of the refresh — the streaming serving
    * face ([[graft.streaming.EventsStream.refreshGate]] wraps this in
    * foreachBatch). Identical to [[process]] plus one extra star
    * authority: `delta`, the bucket-min rows `(band, sig, dseq)` of
    * the SCRUBBED documents of earlier batches (all of them — a
    * document the star later dropped still suppresses its own
    * later-seq duplicates, exactly as it would inside one frame).
    *
    * EXACTNESS CONTRACT (the streaming ≡ batch theorem, spec-asserted
    * end-to-end): feeding `process(epoch, F)`'s frame F as seq-ordered
    * micro-batches F₁ ≤ F₂ ≤ … through this method, threading each
    * batch's returned delta rows into the next call's `delta`, yields
    * EXACTLY the same kept set — the star rule only ever looks at
    * strictly-smaller `seq`, smaller seqs are by contract in earlier
    * batches (or this one, covered intra-batch), and every other stage
    * is per-document given the authorities. Batches arriving out of
    * seq order void the theorem (they would need verdicts about
    * documents that haven't arrived).
    *
    * Returns (kept, deltaRows): sink the kept docs, append the delta
    * rows to the stream-local authority. Per-batch cost is
    * batch-bound: the epoch/delta probes are equi-joins into
    * pre-aggregated bucket indexes, never a self-join, never a window
    * over raw bands. */
  def processBatch(epoch: Epoch, delta: Option[DataFrame], frame: DataFrame,
      idCol: String, seqCol: String, textCol: String, langCol: String)
      : (DataFrame, DataFrame) = {
    val gated = gate(frame, idCol, textCol, langCol, epoch.rules)
    val scrubbed = scrub(epoch.spanIndex, gated, idCol, textCol,
      epoch.windowTokens).localCheckpoint(true) // bands + keep side
    val bb = Dedup.bandedSignatures(
        Dedup.minhashSignatures(scrubbed, idCol, textCol, epoch.numPerms),
        idCol, epoch.numPerms, epoch.bands)
      .join(scrubbed.select(col(idCol), col(seqCol)), Seq(idCol))
      .localCheckpoint(true) // intra-min + three probes + delta export
    val intraMins = bb.groupBy(col("band"), col("sig"))
      .agg(min(col(seqCol)).as("intra_min"))
    val dropIntra = bb.join(intraMins, Seq("band", "sig"))
      .filter(col("intra_min") < col(seqCol))
      .select(col(idCol))
    val dropIndex = bb.join(epoch.bandIndex, Seq("band", "sig"))
      .filter(when(col("min_id") === col(idCol), col("min2_seq"))
        .otherwise(col("min_seq")) < col(seqCol))
      .select(col(idCol))
    val dropDelta = delta match {
      case Some(dx) => bb.join(dx, Seq("band", "sig"))
        .filter(col("dseq") < col(seqCol)).select(col(idCol))
      case None => dropIntra.limit(0)
    }
    val kept = scrubbed.join(
      dropIntra.unionByName(dropIndex).unionByName(dropDelta).distinct(),
      Seq(idCol), "left_anti")
    val deltaRows = bb.groupBy(col("band"), col("sig"))
      .agg(min(col(seqCol)).as("dseq"))
    (decon(epoch, kept, textCol), deltaRows)
  }

  /** The refresh itself — [[Pipeline.corpusDiff]] wired as the gate in
    * front of the composed pipeline: diff the snapshots on md5 (ONE
    * id-keyed join, no text through the shuffle), re-process ONLY
    * `added ∪ changed` against the epoch authorities, tombstone
    * `removed ∪ changed`. Arrival `seq` is `seqBase + id` — caller
    * passes any `seqBase` strictly above every resident seq, keeping
    * the star rule's "resident wins" ordering deterministic and
    * rerun-stable (a changed document re-enters as a NEW arrival; its
    * old version tombstones).
    *
    * Returns (upserts, deleteIds): apply to the resident export as
    * (export ∖ deleteIds) ∪ upserts. Resident rows are NEVER
    * rewritten — arrival verdicts cannot flip a resident verdict
    * within an epoch (monotonicity in `seq`), so the export update is
    * append-plus-tombstone, the shape object stores batch well. */
  def refreshDelta(epoch: Epoch, oldCorpus: DataFrame, newCorpus: DataFrame,
      idCol: String, seqCol: String, textCol: String, langCol: String,
      seqBase: Long): (DataFrame, DataFrame) = {
    // arrival seq = seqBase + id is only meaningful over a NUMERIC id;
    // with a string id the addition would yield NULL, every star-rule
    // comparison against NULL would be false, and arrivals would
    // silently stop deduplicating — fail the contract violation loudly
    // instead (ADVICE r13 #3)
    val idType = newCorpus.schema(idCol).dataType
    require(idType.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"refreshDelta needs a numeric '$idCol' (arrival seq = seqBase + id); " +
        s"got ${idType.simpleString}")
    val diff = Pipeline.corpusDiff(oldCorpus, newCorpus, idCol, textCol)
      .localCheckpoint(true) // consumed by both the delete and arrival sides
    val deletes = diff.filter(col("status").isin("removed", "changed"))
      .select(col(idCol))
    val arrivals = newCorpus
      .join(diff.filter(col("status").isin("added", "changed")).select(idCol),
        Seq(idCol), "left_semi")
      .withColumn(seqCol, lit(seqBase) + col(idCol))
      // eager boundary: everything downstream is BATCH-bound — no
      // stage's plan may reach back to the snapshot scan (the
      // PipelineE2E composition discipline, probe-asserted)
      .localCheckpoint(true)
    (process(epoch, arrivals, idCol, seqCol, textCol, langCol), deletes)
  }
}
