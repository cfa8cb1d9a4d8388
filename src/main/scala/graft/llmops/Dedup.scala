package graft.llmops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators (SURVEY §2.B.12): exact, n-gram Jaccard,
  * MinHash+LSH, SimHash. All hashing is deterministic integer
  * arithmetic seeded from md5, so a SQL oracle reproduces results
  * bit-for-bit — the probabilistic structure (band collisions) is still
  * the real scale mechanism.
  *
  * Scale notes:
  *  - exact dedup = hash-agg on the content key (one shuffle);
  *  - shingle-join Jaccard is exact but quadratic in per-shingle doc
  *    frequency — the candidate generator to prefer at 100 TB is
  *    MinHash-LSH below, whose shuffle key is (band, signature), i.e.
  *    output-linear;
  *  - SimHash pairs join on 15-bit chunks (pigeonhole: hamming ≤ 3 over
  *    4 chunks ⇒ ≥ 1 chunk equal), also output-linear.
  */
object Dedup {

  val P31: Long = 2147483647L // 2^31 - 1 (Mersenne prime)

  /** df-cap for the exact Jaccard shingle join: a shingle present in more
    * than this many documents is a stop-shingle — it contributes O(df²)
    * pairs to the inverted-index self-join while carrying no
    * discriminative signal. Dropping it bounds the join at
    * output-linear × maxDf. The oracle SQL embeds the same constant. */
  val JaccardMaxDf = 100

  /** The signature kernels are CPU-bound (md5 per shingle): when the
    * source arrives in fewer splits than cores (one small file), spread
    * it. When the source already has ≥ parallelism partitions — any real
    * 100 TB input — this is an identity, NOT a full shuffle of the
    * largest table in the pipeline. */
  private def spread(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df // micro-batches are already source-partitioned
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < par) df.repartition(par) else df
  }

  /** MinHash permutation parameters — generated deterministically; the
    * SQL oracle embeds the same constants. */
  def permParams(numPerms: Int): Seq[(Long, Long)] =
    (1 to numPerms).map(i => ((1103515245L * i) % P31, (12345L * i) % P31))

  /** Per-document MinHash signature columns s0..s{n-1} over 3-gram
    * shingles: s_i = min over shingles of (a_i * h + b_i) mod P31, with
    * h = md5-derived 32-bit shingle hash reduced mod P31.
    *
    * ZERO shuffles — signature computation is embarrassingly parallel at
    * any scale; the only wide operation in the dedup pipeline is the
    * band-bucket join. All 16 permutations fold in a SINGLE compiled
    * pass over the hash array ([[graft.plans.MinHashSig]] — round 1 ran
    * 16 interpreted `aggregate()` HOFs per row, the bench's worst
    * hotspot). Documents with no shingles (< 3 tokens) are filtered on
    * the cheap token count BEFORE the signature kernel, so the pushed
    * predicate never recomputes the signature. */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
      numPerms: Int): DataFrame = {
    val sig = spread(docs)
      .filter(size(TextOps.tokens(col(textCol))) >= 3) // ⇔ has ≥1 shingle
      .select(col(idCol),
        graft.plans.MinHashSig(
          graft.plans.NGramMd5(TextOps.tokens(col(textCol)), 3, 8),
          permParams(numPerms)).as("sig"))
    sig.select(col(idCol) +:
      (0 until numPerms).map(i => element_at(col("sig"), i + 1).as(s"s$i")): _*)
  }

  /** LSH candidate pairs: band the signature (bands × rowsPerBand =
    * numPerms), bucket-join on (band, banded signature), emit distinct
    * (d1 < d2) pairs. */
  /** The LSH band view of a signature frame: one (id, band, sig) row
    * per band, `sig` = the band's rows joined — the bucketing key for
    * candidate joins (self-join for near-dup pairs, cross-set join for
    * fuzzy decontamination). */
  def bandedSignatures(sigs: DataFrame, idCol: String, numPerms: Int,
      bands: Int): DataFrame = {
    val rows = numPerms / bands
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        concat_ws("_", (0 until rows).map(r => col(s"s${b * rows + r}")): _*).as("sig"))
    }
    sigs.select(col(idCol), explode(array(bandCols: _*)).as("bs"))
      .select(col(idCol), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  def minhashCandidates(sigs: DataFrame, idCol: String, numPerms: Int,
      bands: Int): DataFrame = {
    // the banded view is self-joined; materialize signatures once
    // (small: one row of 16 longs per doc) instead of recomputing the
    // md5 pipeline on both join sides
    val sigsM = sigs.localCheckpoint(true)
    val banded = bandedSignatures(sigsM, idCol, numPerms, bands)
    val a = banded.select(col("band"), col("sig"), col(idCol).as("d1"))
    val b = banded.select(col("band"), col("sig"), col(idCol).as("d2"))
    a.join(b, Seq("band", "sig")).filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2")).distinct()
  }

  /** Candidate EDGES for collision-closure consumers (transitive
    * dedup groups, greedy keep/drop): per (band, sig) bucket, a STAR
    * from the bucket's smallest id to every other member — O(members)
    * edges whose transitive closure EQUALS the all-pairs clique's
    * (any two co-bucketed docs connect through the bucket minimum),
    * and whose `d2` set equals the clique's (a non-minimum member
    * always has the minimum as a smaller collider). The distinction
    * is not cosmetic: the ×100 posture probe (100 shifted copies of
    * every document) made [[minhashCandidates]]'s clique quadratic in
    * duplicate multiplicity — ~100²/2 pairs per duplicated text,
    * 30× wall at ×100 input — while the star stays linear. A
    * duplicate-HEAVY corpus is precisely where dedup runs, so the
    * group-resolution path must not pay pairs it doesn't need.
    * [[minhashCandidates]] stays the pair-REPORTING semantics (its
    * consumers return the pairs themselves). The bucket minimum is a
    * map-side-combinable GROUP-BY AGGREGATE joined back on the bucket
    * key (round 12) — NOT `min(id) over (partition by band, sig)`: an
    * unbounded window over a content key serializes a mega-bucket
    * (a boilerplate text duplicated across the corpus collides its
    * whole multiplicity into one (band, sig)) through ONE un-splittable
    * task, exactly the [[duplicateSpans]] df-window scale killer; the
    * aggregate contributes one partial per partition however hot the
    * bucket, and the join back AQE-broadcasts or skew-splits. (Rank-
    * CAPPED windows elsewhere in this file are different: their
    * `row_number ≤ k` filter plans as WindowGroupLimit, which
    * partial-limits map-side — BASELINE #37.) */
  def minhashStarEdges(sigs: DataFrame, idCol: String, numPerms: Int,
      bands: Int): DataFrame = {
    val banded = bandedSignatures(sigs.localCheckpoint(true), idCol, numPerms, bands)
    val mins = banded.groupBy(col("band"), col("sig"))
      .agg(min(col(idCol)).as("d1"))
    banded.join(mins, Seq("band", "sig"))
      .filter(col("d1") < col(idCol))
      .select(col("d1"), col(idCol).as("d2")).distinct()
  }

  /** Persisted LSH signature index for INCREMENTAL dedup — the
    * arrival-time serving shape: a training corpus grows by batches,
    * and each batch must be deduplicated against the RESIDENT corpus
    * without recomputing the resident side's signatures (at 100 TB the
    * resident MinHash pass costs more than everything else in the
    * pipeline combined — it must be paid once, not per batch).
    *
    * The index is the banded signature view `(id, band, sig)` written
    * ONCE as parquet under `cacheRoot/key`, range-partitioned and
    * sorted on (band, sig) so an arrival probe join reads only the row
    * groups whose min/max straddle the batch's bucket keys — the same
    * sorted-terms-dictionary discipline the full-text postings use.
    * Publication is atomic (write to a hidden temp dir, rename into
    * place); a concurrent builder loses the rename and reads the
    * winner. The key must fingerprint the resident SOURCE (same
    * mtime__size trade as the trained-centroid cache, BASELINE #14):
    * a regenerated corpus at the same path must re-index, or arrival
    * probes would silently miss new residents. */
  def residentBandIndex(spark: org.apache.spark.sql.SparkSession,
      cacheRoot: String, key: String, resident: => DataFrame,
      idCol: String, textCol: String, numPerms: Int, bands: Int): DataFrame =
    // ONE publish protocol for every persisted index (code-review r13:
    // three inline copies of the tmp-dir + ATOMIC_MOVE + lose-the-race
    // sequence had to stay in sync by hand)
    Refresh.persisted(spark, cacheRoot, key)(
      bandedSignatures(minhashSignatures(resident, idCol, textCol, numPerms),
          idCol, numPerms, bands)
        .repartitionByRange(col("band"), col("sig"))
        .sortWithinPartitions("band", "sig"))

  /** Incremental near-dup: drop every batch document whose bands
    * collide with the resident index, or with a smaller-id document of
    * the SAME batch (the star rule — within-batch duplicates must not
    * both survive just because neither is resident yet). Returns the
    * kept batch ids. Scale: ONE semi join against the sorted index +
    * one window over the batch's own bands; the resident corpus is
    * never scanned, never re-hashed. */
  def incrementalKeep(index: DataFrame, batch: DataFrame, idCol: String,
      textCol: String, numPerms: Int, bands: Int): DataFrame = {
    val bsigs = minhashSignatures(batch, idCol, textCol, numPerms)
      .localCheckpoint(true)
    val bb = bandedSignatures(bsigs, idCol, numPerms, bands)
    val hitResident = bb.join(index.select("band", "sig"),
        Seq("band", "sig"), "left_semi")
      .select(col(idCol)).distinct()
    // bucket-min star over the batch's OWN bands (same frame as the
    // probe — no second signature pass, no self-join); aggregate +
    // join back, not a window, for the minhashStarEdges mega-bucket
    // reason (a batch of N copies of one text is the COMMON arrival)
    val mins = bb.groupBy(col("band"), col("sig")).agg(min(col(idCol)).as("d1"))
    val intraDrop = bb.join(mins, Seq("band", "sig"))
      .filter(col("d1") < col(idCol))
      .select(col(idCol)).distinct()
    batch.join(hitResident.unionByName(intraDrop).distinct(),
      Seq(idCol), "left_anti")
  }

  /** N-gram Jaccard similarity via shingle inverted-index join over
    * 32-bit md5 shingle hashes (joining hashes instead of shingle
    * strings keeps the hot path in [[graft.plans.NGramMd5]] — the
    * interpreted string-shingle chain was 15× slower — and the oracle
    * computes the identical hash, so any collision affects both sides
    * equally): returns (d1, d2, inter, sz1, sz2) for pairs with ≥ 1
    * shared shingle; jaccard = inter / (sz1 + sz2 - inter). */
  /** The df-capped distinct (doc, shingle-hash) set — the jaccard
    * pipeline's map stage, exposed separately so PlanAudit can assert
    * its plan (the checkpoint in [[jaccardPairs]] hides it from the
    * final query's explain). The df-cap (see [[JaccardMaxDf]]) is a
    * map-side-combinable count aggregate on the shingle key, kept rows
    * semi-joined back (round 12) — the cap exists precisely BECAUSE
    * stop-shingles carry corpus-scale df, and a `count over (partition
    * by sh)` would push that very df through one un-splittable window
    * task to compute the number that drops it (the [[duplicateSpans]]
    * scale argument); the aggregate's partials stay partition-bounded
    * and the semi probe AQE-broadcasts (the kept-shingle table) or
    * skew-splits. */
  def shingleSet(docs: DataFrame, idCol: String, textCol: String, n: Int,
      maxDf: Int): DataFrame = {
    val pairs = docs
      .select(col(idCol),
        explode(graft.plans.NGramMd5(TextOps.tokens(col(textCol)), n, 8)).as("sh"))
      .distinct()
    val kept = pairs.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select(col("sh"))
    pairs.join(kept, Seq("sh"), "left_semi")
  }

  /** `shingles`: a precomputed (checkpointed) [[shingleSet]] for the
    * same (docs, n, maxDf) — jaccard and containment queries over one
    * corpus share the kernel + distinct + df-cap stage (r18, the
    * derived-layout discipline); when absent it is built here. */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String, n: Int,
      maxDf: Int = JaccardMaxDf,
      shingles: Option[DataFrame] = None): DataFrame = {
    val sh = shingles.getOrElse(shingleSet(docs, idCol, textCol, n, maxDf)
      .localCheckpoint(true)) // consumed 3× (sizes + both join sides)
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    val pairs = sh.select(col("sh"), col(idCol).as("d1"))
      .join(sh.select(col("sh"), col(idCol).as("d2")), Seq("sh"))
      .filter(col("d1") < col("d2"))
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("inter"))
    pairs
      .join(sizes.select(col(idCol).as("d1"), col("sz").as("sz1")), Seq("d1"))
      .join(sizes.select(col(idCol).as("d2"), col("sz").as("sz2")), Seq("d2"))
  }

  /** The df-capped distinct (doc, winnow-fingerprint) set — exposed
    * separately (the [[shingleSet]] pattern) so PlanAudit can assert
    * the cap aggregate + kernel on the stage plan the checkpoint in
    * [[winnowPairs]] would hide. Cap discipline = [[shingleSet]]'s
    * round-12 shape: aggregate on the fp key + semi probe, never a
    * window over it (a boilerplate fingerprint's df is exactly what
    * must not serialize one task). */
  def winnowFpSet(docs: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int, maxDf: Int): DataFrame = {
    val pairs = docs
      .select(col(idCol), explode(TextOps.winnow(col(textCol), k, w)).as("s"))
      .select(col(idCol), col("s.fp").as("fp"))
      .distinct()
    val kept = pairs.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select(col("fp"))
    pairs.join(kept, Seq("fp"), "left_semi")
  }

  /** Winnow-fingerprint near-dup pairs — the MOSS application of
    * [[TextOps.winnow]]: two documents pair when they share at least
    * `minShared` selected fingerprints. Winnowing selects ~1/((w+1)/2)
    * of the k-gram hashes, so the inverted index (and the pair join
    * feeding it) is a FRACTION of [[jaccardPairs]]'s — the sparse
    * rung between MinHash sketching and the exact shingle join, with
    * the positional guarantee the sketch lacks (any shared
    * w+k−1-token run WILL pair). Same df-cap discipline as the
    * shingle join: a fingerprint selected by more than `maxDf` docs is
    * boilerplate and leaves before the join, via [[winnowFpSet]]'s
    * map-side-combinable aggregate on the fp key + semi probe — never
    * a window over the fp key (PlanAudit asserts its absence; a
    * boilerplate fingerprint's df must not serialize one task).
    * Returns (d1, d2, n_shared ≥ minShared). */
  def winnowPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int, maxDf: Int = JaccardMaxDf, minShared: Int = 2): DataFrame = {
    require(minShared > 0, "shared-fingerprint threshold must be positive")
    val fps = winnowFpSet(docs, idCol, textCol, k, w, maxDf)
      .localCheckpoint(true) // consumed by both join sides
    fps.select(col("fp"), col(idCol).as("d1"))
      .join(fps.select(col("fp"), col(idCol).as("d2")), Seq("fp"))
      .filter(col("d1") < col("d2"))
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** SemDeDup-style semantic near-dup pairs — embedding dedup blocked
    * by a COARSE QUANTIZER instead of a label or an LSH bucket: every
    * vector is assigned to its nearest-centroid cell (map-only,
    * broadcast-literal centroids — [[Similarity.ivfCell]], the
    * clusterBalance assignment), then exact cosine runs only WITHIN
    * cells, thresholded at `tau`. This is the published SemDeDup shape
    * (k-means cells bound the candidate set; true semantic duplicates
    * share a cell with probability → 1 as cos → 1) and the natural
    * companion to [[embeddingNeardupLsh]] when a trained quantizer
    * already exists for IVF serving — ONE quantizer then powers search,
    * balancing, AND dedup. Declared approximation: a cross-cell pair is
    * missed (cells partition the corpus; boundary pairs land in
    * different cells exactly like LSH tables disagreeing). Scale: the
    * pair join is an equi-join on the cell id with the same per-cell
    * candidate cap as [[Similarity.ivfTopK]] — a skewed cell costs its
    * occupancy × cap, never O(N²); centroid count tunes occupancy.
    * Returns (cell, d1, d2, cos rounded 6dp). */
  def semanticNeardup(emb: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[(Long, Seq[Double])], tau: Double,
      cap: Int = Similarity.CandidateCap): DataFrame = {
    require(centroids.nonEmpty, "semanticNeardup needs at least one centroid")
    val v = emb.select(col(idCol), col(vecCol).cast("array<double>").as("v"))
      .withColumn("n", Similarity.norm(col("v")))
      .withColumn("cell", Similarity.ivfCell(col("v"), col("n"), centroids))
      // consumed by BOTH join sides with different child plans (the
      // capped side adds a window), so no exchange reuse — without the
      // materialization the scan + centroid argmax runs twice (the
      // embeddingNeardupLsh precedent)
      .localCheckpoint(true)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cell")).orderBy(col(idCol).asc)
    val capped = v.withColumn("__crn", row_number().over(w))
      .filter(col("__crn") <= cap).drop("__crn")
    val a = v.select(col("cell"), col(idCol).as("d1"),
      col("v").as("v1"), col("n").as("n1"))
    val b = capped.select(col("cell"), col(idCol).as("d2"),
      col("v").as("v2"), col("n").as("n2"))
    a.join(b, Seq("cell")).filter(col("d1") < col("d2"))
      .withColumn("cos", Similarity.dot(col("v1"), col("v2")) / (col("n1") * col("n2")))
      .filter(col("cos") >= tau)
      .select(col("cell"), col("d1"), col("d2"), round(col("cos"), 6).as("cos"))
  }

  /** The (id, pos, window-hash) frame every span operator aggregates
    * over — exposed so a caller serving several span queries at one
    * (docs, windowTokens) derives (and checkpoints) it once (r18, the
    * derived-layout discipline). NOT checkpointed here. */
  def spanWindows(docs: DataFrame, idCol: String, textCol: String,
      windowTokens: Int): DataFrame =
    spread(docs).select(col(idCol),
      posexplode(graft.plans.NGramMd5(TextOps.tokens(col(textCol)), windowTokens, 8)))
      .withColumnRenamed("col", "h")

  /** Duplicate-PASSAGE extraction — dedup at SPAN granularity (the
    * suffix-array substring-dedup result, approximated at fixed window
    * width): find every maximal run of `windowTokens`-token windows
    * whose hash occurs ≥ 2 times in the corpus (another document OR a
    * self-repeat), and report it as a token span to scrub. Whole-doc
    * dedup misses boilerplate (licenses, headers, templated intros)
    * pasted into otherwise-unique documents; span dedup removes the
    * repeated passage and keeps the document.
    *
    * Shape: one [[graft.plans.NGramMd5]] pass emits (doc, pos, hash)
    * windows; global df is a map-side-combinable GROUP-BY AGGREGATE on
    * the hash key — NOT a `count(*) over (partition by h)` window: a
    * window partitions by the raw hash, so a hash present in EVERY
    * document (a license header on a 100 TB crawl, df in the billions)
    * would put its entire df of (id, pos, h) rows through ONE window
    * task, and window partitions — unlike joins — cannot be
    * AQE-skew-split (VERDICT r11 Wrong #1, the round's one scale
    * killer). The aggregate contributes one partial row per input
    * partition for any hash, however hot; flagged windows then rejoin
    * the (h, df ≥ 2) table — broadcast by AQE when the repeated-hash
    * set is small (the common case), AQE-skew-split shuffle join
    * otherwise. The window pass runs twice (aggregate + probe side);
    * the recompute is a map-only kernel pass and beats checkpointing a
    * corpus-sized (id, pos, h) intermediate (the clusterBalance
    * measurement precedent). Flagged windows merge per document into
    * maximal spans by the classic gaps-and-islands fold — overlapping
    * or adjacent windows (pos − prev ≤ windowTokens) share an island;
    * per-document window partitions are doc-sized.
    *
    * `maxDf` is the recall/volume knob (the jaccard/winnow df-cap
    * discipline): a window hash repeated in more than `maxDf`
    * POSITIONS corpus-wide is boilerplate beyond reporting interest —
    * dropping it before the island merge bounds the output of a
    * boilerplate-saturated corpus. Default ∞ reports everything.
    * Returns (id, span_start, span_end, n_windows) with 0-based
    * inclusive token positions. */
  def duplicateSpans(docs: DataFrame, idCol: String, textCol: String,
      windowTokens: Int, maxDf: Long = Long.MaxValue,
      windows: Option[DataFrame] = None): DataFrame = {
    require(windowTokens >= 2, "span windows need ≥ 2 tokens")
    require(maxDf >= 2, s"df cap must admit df = 2 (a pair), got $maxDf")
    // MATERIALIZED (r17): w feeds the df aggregate AND the semi probe,
    // and the reusable exchange sits BELOW the explode (spread's
    // round-robin), so without the checkpoint the tokenize+NGramMd5
    // kernel ran twice per query (the kept-hash table AQE-broadcasts,
    // leaving the probe side exchange-free and therefore re-computed)
    val w = windows.getOrElse {
      val w0 = spanWindows(docs, idCol, textCol, windowTokens)
      if (w0.isStreaming) w0 else w0.localCheckpoint(true)
    }
    val wd = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos").asc)
    val repeated = w.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxDf)
      .select(col("h"))
    val flagged = w.join(repeated, Seq("h"), "left_semi")
    // island break: first window of a doc (lag null ⇒ otherwise-branch)
    // or a gap beyond adjacency; island id = running break count
    val isl = flagged
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(wd) <= windowTokens, lit(0))
          .otherwise(lit(1)))
      .withColumn("island",
        sum(col("brk")).over(wd.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
    isl.groupBy(col(idCol), col("island"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + windowTokens - 1).cast("long").as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col(idCol), col("span_start"), col("span_end"), col("n_windows"))
  }

  /** Quality-aware canonical selection for near-dup groups — the keep
    * RULE real dedup pipelines apply: within each transitive LSH group
    * keep the member with the most CONTENT (token count, ties to the
    * smallest id), not blindly the smallest id — near-dup clusters
    * routinely mix a full article with its truncated syndications, and
    * greedy-min-id would keep whichever copy happened to crawl first.
    * Groups come from [[minhashStarEdges]] (O(members) edges) closed
    * by GraphX connected components; the argmax is ONE group-keyed
    * hash agg (map-side partial, so a boilerplate mega-group
    * contributes one partial row per partition, never its membership)
    * joined back on the group key (AQE splits a skewed mega-group
    * join). Returns (id, grp, kept): grp = component representative
    * (min id — the group NAME, not the survivor), kept = argmax
    * member; singletons keep themselves. */
  def keepBest(docs: DataFrame, idCol: String, textCol: String,
      numPerms: Int, bands: Int): DataFrame = {
    val spark = docs.sparkSession
    val sigs = minhashSignatures(docs, idCol, textCol, numPerms)
    val cands = minhashStarEdges(sigs, idCol, numPerms, bands)
    val comp = graft.graphx.GraphXBridge.componentsOfPairs(spark,
      cands.select(col("d1").as("src"), col("d2").as("dst")))
    val withG = docs
      .select(col(idCol), size(TextOps.tokens(col(textCol))).as("n_tokens"))
      .join(comp.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("grp", coalesce(col("component"), col(idCol)))
    val best = withG.groupBy(col("grp"))
      .agg(max(struct(col("n_tokens"), (-col(idCol)).as("nid"))).as("b"))
    withG.join(best, Seq("grp"))
      .select(col(idCol), col("grp"),
        (col("n_tokens") === col("b.n_tokens") &&
          (-col(idCol)) === col("b.nid")).as("kept"))
  }

  /** APPLY side of span dedup — scrub repeated passages, keeping the
    * corpus-globally FIRST occurrence (the substring-dedup removal
    * rule: one copy of the boilerplate survives, every other copy is
    * cut out of its document, the document itself kept). "First" =
    * smallest (id, pos) per window hash — deterministic and
    * rerun-stable. Flagged windows merge into spans exactly as in
    * [[duplicateSpans]]; a document's tokens are then dropped where a
    * span covers them and re-joined. Declared approximation: a keeper
    * window's tokens can still be cut when an OVERLAPPING different
    * window is flagged — span-granularity, not suffix-array-exact.
    * Scale: the df count and the keeper min share ONE map-side-
    * combinable aggregate on the hash key (never a window over the raw
    * hash — the [[duplicateSpans]] scale argument verbatim: universal
    * boilerplate must not serialize through one window task), joined
    * back onto the windows (AQE broadcast/skew-split); the island
    * merge is doc-sized, and the final token filter is a per-row HOF
    * against the doc's own config-sized span list. `maxDf` mirrors
    * [[duplicateSpans]]'s knob: hashes repeated in more than `maxDf`
    * positions are left unscrubbed (bound the cut on a
    * boilerplate-saturated corpus); default ∞ scrubs everything.
    * Returns (id, clean_text, n_removed). */
  def scrubSpans(docs: DataFrame, idCol: String, textCol: String,
      windowTokens: Int, maxDf: Long = Long.MaxValue,
      windows: Option[DataFrame] = None): DataFrame = {
    require(windowTokens >= 2, "span windows need ≥ 2 tokens")
    require(maxDf >= 2, s"df cap must admit df = 2 (a pair), got $maxDf")
    // materialized for the same dual-consumer reason as duplicateSpans
    val w = windows.getOrElse {
      val w0 = spanWindows(docs, idCol, textCol, windowTokens)
      if (w0.isStreaming) w0 else w0.localCheckpoint(true)
    }
    val rep = w.groupBy(col("h"))
      .agg(count(lit(1)).as("df"),
        min(struct(col(idCol), col("pos"))).as("keeper"))
      .filter(col("df") >= 2 && col("df") <= maxDf)
      .select(col("h"), col("keeper"))
    val flagged = w.join(rep, Seq("h"))
      .filter(!(struct(col(idCol), col("pos")) === col("keeper")))
      .drop("keeper")
    cutFlagged(docs, flagged, idCol, textCol, windowTokens)
  }

  /** Shared APPLY tail of the span scrubbers: merge flagged (id, pos)
    * windows into islands, cut the covered tokens, re-join. Doc-sized
    * window partitions + a per-row HOF against the doc's own
    * config-sized span list — nothing here scales past a document. */
  private[llmops] def cutFlagged(docs: DataFrame, flagged: DataFrame, idCol: String,
      textCol: String, windowTokens: Int): DataFrame = {
    val tk = TextOps.tokens(col(textCol))
    val wd = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos").asc)
    val isl = flagged
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(wd) <= windowTokens, lit(0))
          .otherwise(lit(1)))
      .withColumn("island",
        sum(col("brk")).over(wd.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
    val spans = isl.groupBy(col(idCol), col("island"))
      .agg(min(col("pos")).as("s"),
        (max(col("pos")) + windowTokens - 1).as("e"))
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("s"), col("e"))).as("spans"))
    val cleanTokens = filter(tk, (_, i) =>
      !exists(col("spans"), sp => i >= sp("s") && i <= sp("e")))
    docs.join(spans, Seq(idCol), "left")
      .select(col(idCol),
        when(col("spans").isNull, col(textCol))
          .otherwise(concat_ws(" ", cleanTokens)).as("clean_text"),
        when(col("spans").isNull, lit(0L))
          .otherwise((size(tk) - size(cleanTokens)).cast("long")).as("n_removed"))
  }

  /** Persisted REPEATED-WINDOW index for INCREMENTAL span scrub — the
    * arrival-time serving shape of [[scrubSpans]] (the
    * [[residentBandIndex]] discipline, at window granularity): the
    * resident corpus's repeated window hashes (df in [2, maxDf]) are
    * computed ONCE and written as parquet range-partitioned/sorted on
    * `h`, so an arrival probe join reads only the row groups whose
    * min/max straddle the batch's hashes. At 100 TB the resident
    * window pass is the dominant cost — it must be paid per
    * compaction, not per batch. Publication is atomic (tmp dir +
    * rename; a concurrent builder loses the race and reads the
    * winner); `key` must fingerprint the resident SOURCE (mtime__size)
    * or a regenerated corpus would serve a stale boilerplate set. */
  def residentSpanIndex(spark: org.apache.spark.sql.SparkSession,
      cacheRoot: String, key: String, corpus: => DataFrame,
      idCol: String, textCol: String, windowTokens: Int,
      maxDf: Long = Long.MaxValue): DataFrame = {
    require(windowTokens >= 2, "span windows need ≥ 2 tokens")
    Refresh.persisted(spark, cacheRoot, key)(
      spread(corpus)
        .select(explode(graft.plans.NGramMd5(
          TextOps.tokens(col(textCol)), windowTokens, 8)).as("h"))
        .groupBy(col("h")).agg(count(lit(1)).as("df"))
        .filter(col("df") >= 2 && col("df") <= maxDf)
        .select(col("h"))
        .repartitionByRange(col("h"))
        .sortWithinPartitions("h"))
  }

  /** Incremental span scrub: cut every arrival passage whose window
    * hashes are RESIDENT boilerplate (the index above) — the
    * micro-batch/foreachBatch serving face of [[scrubSpans]]. ONE
    * sorted-probe semi join against the index's single column + the
    * doc-sized island/cut tail; the resident corpus is never re-read,
    * never re-hashed. Declared approximation: passages repeated only
    * WITHIN the arrival batch (or across batches since the last index
    * build) are not cut — the index is the boilerplate authority;
    * rebuild it on the compaction cadence. Arrivals are always "later
    * copies" (the resident keeper survives in the resident corpus),
    * so every flagged window cuts. Returns (id, clean_text,
    * n_removed). */
  def scrubSpansIncremental(index: DataFrame, batch: DataFrame,
      idCol: String, textCol: String, windowTokens: Int): DataFrame = {
    require(windowTokens >= 2, "span windows need ≥ 2 tokens")
    val w = batch.select(col(idCol),
      posexplode(graft.plans.NGramMd5(
        TextOps.tokens(col(textCol)), windowTokens, 8)))
      .withColumnRenamed("col", "h")
    val flagged = w.join(index.select("h"), Seq("h"), "left_semi")
    cutFlagged(batch, flagged, idCol, textCol, windowTokens)
  }

  val SimBits = 60 // md5-derived token hash width that fits a signed long

  /** Embedding near-dup at SCALE — the LSH-bucketed complement of the
    * exact label-blocked cosine pass (`dedup_embedding`): candidates
    * are pairs sharing a bucket in ANY of `tables` independent
    * random-hyperplane hash tables (table t draws planes t·k…t·k+k−1
    * of the shared deterministic family), re-ranked by exact cosine,
    * thresholded at `tau`. The multi-table draw is the recall knob —
    * the same role banding plays for MinHash — and the declared
    * approximation is missing a pair whose vectors agree in NO table
    * (recall on this synthetic structureless corpus is measured and
    * recorded in BASELINE.md; true near-dups at cos → 1 flip plane
    * signs with probability → 0, so the serving-shape recall → 1).
    * Scale: ONE (table, bucket) equi-join, candidate volume bounded by
    * the same per-bucket cap as [[Similarity.annTopK]] — never O(N²);
    * at 100 TB tables/planes tune occupancy exactly like IVF cells. */
  def embeddingNeardupLsh(emb: DataFrame, idCol: String, vecCol: String,
      dim: Int, tables: Int, planesPerTable: Int, tau: Double,
      cap: Int = Similarity.CandidateCap): DataFrame = {
    require(tables > 0 && planesPerTable > 0 && planesPerTable <= 62,
      "need ≥1 table of 1..62 planes (bucket bits must fit a long)")
    val v = emb.select(col(idCol), col(vecCol).cast("array<double>").as("v"))
      .withColumn("n", Similarity.norm(col("v")))
    val buckets = (0 until tables).map { t =>
      struct(lit(t).as("tbl"),
        Similarity.lshBucket(col("v"), dim, planesPerTable,
          t * planesPerTable).as("bucket"))
    }
    val banded = v.select(col(idCol), col("v"), col("n"),
        explode(array(buckets: _*)).as("tb"))
      .select(col(idCol), col("v"), col("n"),
        col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
      // consumed by BOTH join sides with different child plans (the
      // capped side adds a window), so no exchange reuse — without the
      // materialization the scan + tables×planes×dim bucket hashing
      // runs twice (the minhashCandidates precedent, review r10)
      .localCheckpoint(true)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("tbl"), col("bucket")).orderBy(col(idCol).asc)
    val capped = banded.withColumn("__crn", row_number().over(w))
      .filter(col("__crn") <= cap).drop("__crn")
    val a = banded.select(col("tbl"), col("bucket"), col(idCol).as("d1"),
      col("v").as("v1"), col("n").as("n1"))
    val b = capped.select(col("tbl"), col("bucket"), col(idCol).as("d2"),
      col("v").as("v2"), col("n").as("n2"))
    a.join(b, Seq("tbl", "bucket")).filter(col("d1") < col("d2"))
      .withColumn("cos", Similarity.dot(col("v1"), col("v2")) / (col("n1") * col("n2")))
      .filter(col("cos") >= tau)
      // a pair collides once per agreeing table; cos is functional on
      // the pair, so the distinct dedups table multiplicity exactly
      .select(col("d1"), col("d2"), round(col("cos"), 6).as("cos"))
      .distinct()
  }

  /** Cross-corpus similarity JOIN — all pairs (left, right) with
    * cosine ≥ `tau` where BOTH sides are corpus-scale (retrieval-based
    * labeling, corpus alignment, weak supervision by neighbor
    * transfer). [[graft.llmops.Pipeline.decontaminateSemantic]] covers
    * the benchmark-sized-right case exactly (broadcast literal matrix);
    * this is the remaining shape — neither side broadcastable, so
    * brute force would be a full cartesian shuffle. Both sides bucket
    * through the SAME `tables` random-hyperplane hash tables (a pair
    * is a candidate iff some table agrees — [[embeddingNeardupLsh]]'s
    * recall argument verbatim), candidates equi-join on
    * (table, bucket) with the per-bucket cap on the RIGHT side, exact
    * cosine re-ranks, and the distinct folds table multiplicity.
    * Declared approximation: recall < 1 exactly like the in-corpus LSH
    * family; tables/planes tune bucket occupancy.
    *
    * Orientation matters: the per-bucket cap applies to the RIGHT side
    * only, so a hot bucket on the LEFT still multiplies the join by
    * `cap` rows — put the larger/denser corpus on the RIGHT (where the
    * cap bounds it) and the smaller/sparser one on the left; recall
    * loss from the cap then lands on the side built to absorb it.
    * Returns (lid, rid, cos rounded 6dp). */
  def crossSimilarityJoin(left: DataFrame, right: DataFrame, idCol: String,
      vecCol: String, dim: Int, tables: Int, planesPerTable: Int, tau: Double,
      cap: Int = Similarity.CandidateCap): DataFrame = {
    require(tables > 0 && planesPerTable > 0 && planesPerTable <= 62,
      "need ≥1 table of 1..62 planes (bucket bits must fit a long)")
    def banded(df: DataFrame) = {
      val v = df.select(col(idCol), col(vecCol).cast("array<double>").as("v"))
        .withColumn("n", Similarity.norm(col("v")))
      val buckets = (0 until tables).map { t =>
        struct(lit(t).as("tbl"),
          Similarity.lshBucket(col("v"), dim, planesPerTable,
            t * planesPerTable).as("bucket"))
      }
      v.select(col(idCol), col("v"), col("n"),
          explode(array(buckets: _*)).as("tb"))
        .select(col(idCol), col("v"), col("n"),
          col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    }
    // each side is consumed ONCE (unlike the self-join operators, which
    // checkpoint because both join sides share a scan) — no
    // materialization barrier needed
    val l = banded(left).select(col("tbl"), col("bucket"),
      col(idCol).as("lid"), col("v").as("v1"), col("n").as("n1"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("tbl"), col("bucket")).orderBy(col(idCol).asc)
    val r = banded(right).withColumn("__crn", row_number().over(w))
      .filter(col("__crn") <= cap)
      .select(col("tbl"), col("bucket"), col(idCol).as("rid"),
        col("v").as("v2"), col("n").as("n2"))
    l.join(r, Seq("tbl", "bucket"))
      .withColumn("cos", Similarity.dot(col("v1"), col("v2")) / (col("n1") * col("n2")))
      .filter(col("cos") >= tau)
      .select(col("lid"), col("rid"), round(col("cos"), 6).as("cos"))
      .distinct()
  }

  /** Per-document SimHash over whitespace tokens: bit i is set iff the
    * majority of token-occurrences have bit i set in their 60-bit md5
    * hash.
    *
    * Like [[minhashSignatures]], zero shuffles; the 60 per-bit majority
    * counts fold in ONE compiled pass over the token-hash array
    * ([[graft.plans.SimHashBits]] — round 1 ran 60 interpreted
    * `aggregate()` HOFs per row). */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    spread(docs).select(col(idCol),
      graft.plans.SimHashBits(
        graft.plans.NGramMd5(TextOps.tokens(col(textCol)), 1, 15),
        SimBits).as("simhash"))
  }

  /** SimHash near-dup pairs with hamming ≤ maxDist via 15-bit chunk
    * banding (4 chunks; pigeonhole guarantees recall for maxDist ≤ 3). */
  def simhashPairs(sims: DataFrame, idCol: String, maxDist: Int): DataFrame = {
    val simsM = sims.localCheckpoint(true) // self-joined below
    val chunks = (0 until 4).map { b =>
      struct(lit(b).as("band"), shiftright(col("simhash"), b * 15).bitwiseAND(32767).as("chunk"))
    }
    val banded = simsM.select(col(idCol), col("simhash"), explode(array(chunks: _*)).as("bc"))
      .select(col(idCol), col("simhash"), col("bc.band").as("band"), col("bc.chunk").as("chunk"))
    val a = banded.select(col("band"), col("chunk"), col(idCol).as("d1"), col("simhash").as("h1"))
    val b = banded.select(col("band"), col("chunk"), col(idCol).as("d2"), col("simhash").as("h2"))
    a.join(b, Seq("band", "chunk")).filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2"),
        bit_count(col("h1").bitwiseXOR(col("h2"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  /** PARAGRAPH-level exact dedup — the C4/Dolma removal rule at natural
    * text-unit granularity: every newline-delimited paragraph keeps
    * exactly its corpus-globally FIRST occurrence (smallest (id, pos)),
    * and every other copy is cut from its document; the document itself
    * survives with its remaining paragraphs in order. This sits between
    * whole-doc dedup (misses pasted boilerplate) and token-window span
    * dedup ([[scrubSpans]] — sub-paragraph resolution but fixed-width
    * approximation): paragraph boundaries are the unit real crawl
    * pipelines scrub first because repeated units align with them.
    *
    * Scale shape: the paragraph key (trimmed text) feeds ONE map-side-
    * combinable `groupBy(key).agg(count, min(struct(id, pos)))` — a
    * universal paragraph (a license line in every doc of a 100 TB
    * crawl) contributes one partial row per input partition, never a
    * single-task window (the [[duplicateSpans]] scale argument; string
    * keys kept deliberately — the hash-first rewrite measured WORSE on
    * the map-bound gram pass, BASELINE #45). Duplicates-only rejoin via
    * the df ≥ 2 filter (AQE broadcasts the repeated-paragraph table
    * when small — the common case); unique paragraphs never shuffle
    * again. Reassembly is doc-sized (sort_array over one doc's kept
    * paragraphs). Whitespace-only paragraphs are dropped (the C4 rule),
    * so reassembled text is '\n'-joined non-empty paragraphs.
    * Returns (id, clean_text, n_removed) — every input doc present. */
  def paragraphDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val p = spread(docs)
      .select(col(idCol), posexplode(split(col(textCol), "\n")))
      .withColumnRenamed("col", "para")
      .filter(trim(col("para")) =!= "")
    val dup = p.groupBy(trim(col("para")).as("key"))
      .agg(count(lit(1)).as("df"), min(struct(col(idCol), col("pos"))).as("keeper"))
      .filter(col("df") >= 2)
      .select(col("key"), col("keeper"))
    val marked = p.join(dup, trim(col("para")) === col("key"), "left")
      .withColumn("keep",
        col("keeper").isNull || struct(col(idCol), col("pos")) === col("keeper"))
    val agg = marked.groupBy(col(idCol)).agg(
      concat_ws("\n",
        transform(
          array_sort(collect_list(when(col("keep"), struct(col("pos"), col("para"))))),
          x => x("para"))).as("ct"),
      sum(when(col("keep"), 0L).otherwise(1L)).as("nr"))
    docs.select(col(idCol)).join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("ct"), lit("")).as("clean_text"),
        coalesce(col("nr"), lit(0L)).cast("long").as("n_removed"))
  }

  /** Duplicate-coverage metric — per document, the fraction of token
    * positions covered by at least one corpus-repeated window (the
    * Lee-et-al. "how much of this doc is duplicated text" diagnostic
    * that decides whether to scrub spans or drop the whole doc). Built
    * on [[duplicateSpans]] verbatim (same windows, same df aggregate,
    * same maxDf knob), so the scale posture is inherited; the per-doc
    * tail is one sum over the doc's merged islands (disjoint by
    * construction, so span lengths add without double-count) joined to
    * a map-only token count. Docs with no repeated span report 0.
    * Returns (id, n_tokens, covered_tokens, coverage ∈ [0,1]). */
  def spanCoverage(docs: DataFrame, idCol: String, textCol: String,
      windowTokens: Int, maxDf: Long = Long.MaxValue,
      windows: Option[DataFrame] = None): DataFrame = {
    val cov = duplicateSpans(docs, idCol, textCol, windowTokens, maxDf, windows)
      .groupBy(col(idCol))
      .agg(sum(col("span_end") - col("span_start") + 1).as("cov"))
    docs.select(col(idCol),
        size(TextOps.tokens(col(textCol))).cast("long").as("n_tokens"))
      .join(cov, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("cov"), lit(0L)).cast("long").as("covered_tokens"),
        round(coalesce(col("cov"), lit(0L)).cast("double") /
          greatest(col("n_tokens"), lit(1L)), 6).as("coverage"))
  }
}
