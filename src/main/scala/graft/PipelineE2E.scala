package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.llmops.{Dedup, Pipeline, TextOps}

/** North-star END-TO-END corpus pipeline run (VERDICT r11 order #10;
  * r16 order #8 adds the scoring gates and the semantic pass — the
  * FULL curation graph): the "pipeline of pipelines" a real
  * pretraining prep job is, wired as ONE driver program —
  *
  *   gate → ppl-gate → nb-gate → [plant canaries]
  *        → scrub-spans → dedup(keepBest) → decontaminate(bloom)
  *        → decontaminate(semantic) → mix(α-temper) → shuffle+budget
  *        → pack → exportJsonl
  *
  * — with wall-clock and row/token accounting per stage (the table a
  * data-engineering runbook wants: where did the corpus shrink, what
  * did each pass cost). Every stage boundary is materialized with an
  * eager localCheckpoint: that is the composition discipline itself —
  * without it, each downstream ACTION would re-derive every upstream
  * stage (Spark shares no work across actions), so the gate would run
  * nine times. The probe ASSERTS the discipline held: no stage after
  * the first may re-scan the source parquet (its executed plan must
  * read checkpointed blocks, not `documents.parquet`).
  *
  * CANARY PLACEMENT (r16): the eval-integrity canaries plant AFTER the
  * scoring gates, before the hygiene stages — they exist to prove
  * scrub/dedup/decon/mix/pack never falsely destroy unique clean
  * content; a perplexity or classifier gate is SUPPOSED to kill
  * gibberish, and the canary strings are deliberate gibberish (random
  * hex tokens, maximally OOV), so planting them earlier would make the
  * invariant assert the opposite of the gates' contract.
  *
  * Gate thresholds are ORDER STATISTICS of deterministic md5-bucket
  * samples (the lmBucket discipline): ppl drops the sampled upper
  * xent tertile (CCNet's tail bucket), NB drops the sampled bottom
  * score decile. The 10%% sample rate is sized for 10³–10⁵ sampled
  * docs at the probe scales; a 100 TB run lowers the rate, not the
  * mechanism (estimation error shrinks as 1/√n regardless of corpus).
  *
  * Prints one JSON line per stage plus a total line for BASELINE.md.
  * Run: `sbt "runMain graft.PipelineE2E [probeDir]"` (default
  * `target/sf1probe_r11`, built by `tools/make_sf_probe.py
  * /root/testdata/sf0.1 target/sf1probe_r11 10`).
  */
object PipelineE2E {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("target/sf1probe_r11")
    val spark = SparkEntry.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val t0 = System.nanoTime()
    var acc = List.newBuilder[String]

    /** Materialize a stage, time it, account rows, and assert the
      * composition discipline (no source re-scan after stage 1). */
    var stageNo = 0
    def stage(name: String, df: => DataFrame): DataFrame = {
      stageNo += 1
      val s0 = System.nanoTime()
      val frame = df
      val out = frame.localCheckpoint(true) // eager: the stage boundary
      val rows = out.count()
      val sec = (System.nanoTime() - s0) / 1e9
      if (stageNo > 1) {
        val plan = frame.queryExecution.executedPlan.toString
        require(!plan.contains("documents.parquet"),
          s"stage $name re-scans the source parquet — lost checkpoint reuse")
      }
      val line = f"""{"stage":"$name","rows_out":$rows,"sec":$sec%.2f}"""
      println(line); acc += line
      out
    }

    val raw = spark.read.parquet(s"$dir/documents.parquet")

    // eval set for decontamination: a deterministic 1%% hash slice
    // (the benchmark stand-in; build the bitmap from it ONCE)
    val benchmark = raw.filter(Pipeline.samplePct(col("doc_id"), "e2e_bench") < 1)

    // EVAL-INTEGRITY CANARIES (round 12): plant two kinds before the
    // pipeline runs — 8 CLEAN canaries (unique 8-token docs; the
    // scrub/dedup/decon stages must NOT false-positive them away) and
    // 8 LEAK canaries (verbatim benchmark text + a canary marker; the
    // pipeline MUST catch them — at the span scrub, the near-dup
    // stage, or the bloom decon, any of which is a correct catch).
    val cleanSalt = "e2e_canary_clean_"
    val leakSalt = "e2e_canary_leak_"
    import spark.implicits._
    val idMax = raw.agg(max(col("doc_id"))).head.getLong(0)
    val cleanCanaries = Pipeline.canaryStrings(64, cleanSalt).grouped(8).toSeq
      .zipWithIndex.map { case (g, i) => (idMax + 1 + i, g.mkString(" "), "en", "__canary") }
      .toDF("doc_id", "text", "lang", "source")
    val leakTexts = benchmark.select(col("text")).limit(8)
      .collect().map(_.getString(0))
    val leakMarkers = Pipeline.canaryStrings(8, leakSalt)
    val leakCanaries = leakTexts.zip(leakMarkers).zipWithIndex
      .map { case ((t, m), i) => (idMax + 100 + i, s"$t $m", "en", "__canary") }
      .toSeq.toDF("doc_id", "text", "lang", "source")
    def nCanaries(df: DataFrame, salt: String, n: Int): Long =
      Pipeline.detectCanaries(df, "text", n, salt).head.getLong(1)
    // per-stage clean-canary ledger: when the end-of-pipeline canary
    // invariant fails, the first question is WHICH stage ate them —
    // the ×100 debugging loop without this was a guess (bloom? dedup?)
    var canaryLedger = List.newBuilder[String]
    def ledger(stage: String, df: DataFrame): Unit = {
      val n = nCanaries(df, cleanSalt, 64)
      canaryLedger += s""""$stage":$n"""
    }
    val base = raw.select(col("doc_id"), col("text"), col("lang"), col("source"))
      .localCheckpoint(true)
    val nIn = base.count()

    // 1. quality gate: rule-based keep/drop, map-only (rules shared
    // with the epoch-lifecycle phase below — same curation policy)
    val gateRules = Pipeline.GateRules(minTokens = 5, maxTokens = 100000,
      minStopRatio = 0.0, minTtr = 0.2, maxDupTrigram = 0.5)
    val gated = stage("gate", {
      base.join(Pipeline.qualityGate(base, "doc_id", "text", "lang", gateRules)
        .filter(col("keep")).select("doc_id"), Seq("doc_id"), "left_semi")
    })

    // 2. perplexity gate (r16): bigram LM trained ONCE on the
    // benchmark slice, scored by the compiled LmXent kernel (map-only);
    // tau = the sampled upper xent tertile — CCNet's "drop the tail
    // bucket" decision. Docs too short to score (< 2 tokens) pass —
    // length policy belongs to the rule gate, not the LM.
    val pplGated = stage("ppl_gate", {
      val m = Pipeline.lmModel(benchmark, "text", 512, 256)
      // checkpoint the scored frame: the threshold sample and the gate
      // filter are two ACTIONS — unshared, each would run the kernel
      // over the whole corpus (r16 review: halved both scoring stages)
      val scored = gated.withColumn("__s",
        graft.plans.LmXent(TextOps.tokens(col("text")), m))
        .localCheckpoint(true)
      // budget-capped threshold sample (r17 order #4): one count over
      // the checkpointed frame sizes the corpus; at bench scales the
      // rate caps at the historical 10 % (identical set), while a
      // 10B-doc corpus samples ~SampleBudgetDocs instead of 10⁹
      val sample = scored
        .filter(Pipeline.sampleBudget(col("doc_id"), "e2e_ppl",
          scored.count(), Pipeline.SampleBudgetDocs))
        .filter(col("__s.n_scored") > 0)
        .select(col("__s.xent")).collect().map(_.getDouble(0)).sorted
      require(sample.nonEmpty, "ppl threshold sample is empty")
      val tau = sample(math.min(sample.length - 1,
        math.max(0, math.ceil(2.0 * sample.length / 3).toInt - 1)))
      scored.filter(col("__s.n_scored") === 0 || col("__s.xent") <= tau)
        .drop("__s")
    })

    // 3. NB classifier gate (r16): the fasttext-style linear filter —
    // self-labeled positive class = the curated source (src1, the
    // LmRefSource convention; lang can't label here — the rule gate's
    // LID-agreement check already dropped every non-en doc, so lang
    // would be a single class), capped-vocab llr model collected once,
    // scored by the compiled NbScore kernel; keep at or above the
    // sampled bottom score decile (a quantile keep is the production
    // shape: "drop the worst X%", calibrated on a sample, not an
    // absolute boundary).
    val nbGated = stage("nb_gate", {
      val (vocab, prior) = Pipeline.nbModel(
        pplGated, "text", col("source") === "src1", 4000)
      val scored = graft.streaming.EventsStream.nbGate(
        pplGated, vocab, prior, "text")
        .localCheckpoint(true) // two actions, one kernel pass (see ppl_gate)
      val sample = scored
        .filter(Pipeline.sampleBudget(col("doc_id"), "e2e_nb",
          scored.count(), Pipeline.SampleBudgetDocs))
        .select(col("score")).collect().map(_.getDouble(0)).sorted
      require(sample.nonEmpty, "nb threshold sample is empty")
      val tau = sample(math.min(sample.length - 1,
        math.max(0, math.ceil(sample.length / 10.0).toInt - 1)))
      scored.filter(col("score") >= tau)
        .select("doc_id", "text", "lang", "source")
    })

    // canaries plant HERE — after the scoring gates (see scaladoc),
    // before every hygiene stage the ledger audits
    val docs = nbGated
      .unionByName(cleanCanaries).unionByName(leakCanaries)
      .localCheckpoint(true)
    ledger("inject", docs)

    // 4. span scrub: cut repeated passages, keep the documents
    val scrubbed = stage("scrub_spans", {
      Dedup.scrubSpans(docs, "doc_id", "text", 16)
        .join(docs.drop("text"), Seq("doc_id"))
        .withColumnRenamed("clean_text", "text")
        .filter(length(col("text")) > 0)
        .select("doc_id", "text", "lang", "source")
    })
    ledger("scrub_spans", scrubbed)

    // 5. near-dup groups, quality-aware canonical selection
    val deduped = stage("dedup_keep_best", {
      scrubbed.join(Dedup.keepBest(scrubbed, "doc_id", "text", 16, 4)
        .filter(col("kept")).select("doc_id"), Seq("doc_id"), "left_semi")
    })
    ledger("dedup_keep_best", deduped)

    // 6. bloom decontamination against the benchmark slice. The
    // bitmap is SIZED FROM THE BENCHMARK (bloomBitsFor), not
    // hard-coded: the first ×100 run of this harness used the ×10
    // run's fixed 2^18 bits, the 10×-larger benchmark slice
    // saturated it (fill ≈ 0.8), and the resulting ~40% per-shingle
    // false-positive rate deleted 48 of the 64 clean canaries — the
    // exact silent over-flagging failure the canary invariant below
    // exists to catch. bloomWords now also fail-louds past 50% fill.
    // 32 bits/shingle here, not the operator's 10-bit default: the
    // kill rule is n_hits > 0, so a doc dies on ONE false-positive
    // shingle and the hard all-canaries-survive invariant below needs
    // fpr ≈ 2e-4 (0.33^4 at 10 bits ≈ 1.2% lost a canary doc roughly
    // one run in twelve — observed before this sizing).
    val cleaned = stage("decontaminate_bloom", {
      val mBits = Pipeline.bloomBitsFor(benchmark, "text", 8, bitsPerShingle = 32)
      deduped.join(
        Pipeline.decontaminateBloom(deduped, benchmark, "doc_id", "text",
          8, mBits, 4).select("doc_id"),
        Seq("doc_id"), "left_anti")
    })
    ledger("decontaminate_bloom", cleaned)

    // 7. SEMANTIC decontamination (r16): embedding-similarity kill
    // layer above the n-gram bloom — catches near-paraphrases no
    // 8-gram shares. Embeddings are a deterministic 64-dim hashed
    // bag-of-tokens (the zero-egress featurizer stand-in: cosine on
    // hashed BoW IS lexical-distribution similarity; a production run
    // swaps in a real embedder, the plumbing — benchmark-sized collect
    // into the compiled MaxCosHits kernel, map-only corpus pass — is
    // the real thing). τ = 0.96: measured on this corpus, cross-doc
    // hashed-BoW cosine tops out ≈ 0.94 while a doc differing by ONE
    // token from a benchmark doc scores ≥ 0.98 — the gap the threshold
    // sits in.
    val semClean = stage("decontaminate_semantic", {
      def bow(df: DataFrame): DataFrame = df.withColumn("fv",
        transform(sequence(lit(0), lit(63)), d =>
          size(filter(TextOps.tokens(col("text")),
            t => pmod(TextOps.md5Hash32(t), lit(64)) === d)).cast("double")))
      cleaned.join(
        Pipeline.decontaminateSemantic(
          bow(cleaned), bow(benchmark), "doc_id", "fv", 0.96)
          .select(col("cid").as("doc_id")),
        Seq("doc_id"), "left_anti")
    })
    ledger("decontaminate_semantic", semClean)

    // 8. α-tempered language mix (keep rare languages whole)
    val mixed = stage("mix_temperature",
      Pipeline.applyMixTemperature(semClean, "doc_id", "lang", "text", 0.5, "e2e_mix"))

    // 9. deterministic global shuffle + token-budget selection (the
    // budget pass rides its own internal shuffle ordering; budget =
    // half the surviving tokens, so the cut genuinely binds)
    val budgeted = stage("shuffle_budget", {
      val total = mixed.agg(sum(size(TextOps.tokens(col("text"))))).head.getLong(0)
      mixed.join(
        Pipeline.budgetSelect(mixed, "doc_id", "text", total / 2, "e2e_shuf")
          .filter(col("kept")).select("doc_id"), Seq("doc_id"), "left_semi")
    })

    // 10. token-budget shard packing (16k-token shards per language)
    val packed = stage("pack_shards", {
      budgeted.join(
        Pipeline.shardAssign(budgeted, "doc_id", "lang", 16384)
          .select("doc_id", "shard"), Seq("doc_id"))
    })

    // 11. JSONL shard export — the physical last mile
    val outDir = s"target/e2e-export-${java.util.UUID.randomUUID().toString.take(8)}"
    val s0 = System.nanoTime()
    Pipeline.exportJsonl(packed, outDir, "shard", "doc_id")
    val exportSec = (System.nanoTime() - s0) / 1e9
    val exported = spark.read.json(outDir).count()
    val shards = spark.read.json(outDir).select("shard").distinct().count()
    val line = f"""{"stage":"export_jsonl","rows_out":$exported,"shards":$shards,"sec":$exportSec%.2f}"""
    println(line); acc += line

    require(exported == packed.count(), "export lost rows")

    // canary + contamination verdicts. The HARD check is direct: no
    // exported doc may share an 8-gram with the benchmark (the exact
    // decontaminate probe over the export itself). The leak-canary
    // MARKER count is informational, not an invariant — the first run
    // of this harness caught exactly why: the span scrub CUTS the
    // duplicated benchmark text out of a leak doc, leaving a sanitized
    // husk whose marker legitimately survives while its benchmark
    // content is gone. Markers track the husks; the shingle probe
    // tracks the contamination.
    val export = spark.read.json(outDir).withColumn("doc_id", col("doc_id").cast("long"))
    val contaminated = Pipeline.decontaminate(export, benchmark, "doc_id", "text", 8).count()
    require(contaminated == 0,
      s"$contaminated exported docs still share an 8-gram with the benchmark")
    val leakHusks = nCanaries(export, leakSalt, 8)
    val cleanAtDecon = nCanaries(cleaned, cleanSalt, 64)
    require(cleanAtDecon == 64,
      s"only $cleanAtDecon/64 clean canary strings survived to bloom decon")
    // the semantic layer must not false-positive unique clean content
    // either (hashed-BoW cosine of an 8-hex-token canary against any
    // real doc sits far below τ — asserted, not assumed)
    val cleanAtSem = nCanaries(semClean, cleanSalt, 64)
    require(cleanAtSem == 64,
      s"only $cleanAtSem/64 clean canary strings survived semantic decon")
    val cleanOut = nCanaries(export, cleanSalt, 64)
    val canaryLine = s"""{"stage":"canary_verdict","contaminated_in_export":$contaminated,""" +
      s""""leak_husks_in_export":$leakHusks,"clean_at_decon":$cleanAtDecon,""" +
      s""""clean_at_semantic":$cleanAtSem,"clean_in_export":$cleanOut,""" +
      s""""clean_ledger":{${canaryLedger.result().mkString(",")}}}"""
    println(canaryLine); acc += canaryLine

    val totalSec = (System.nanoTime() - t0) / 1e9
    println(f"""{"probe":"pipeline_e2e","docs_in":$nIn,"docs_out":$exported,"total_sec":$totalSec%.1f,"stages":[${acc.result().mkString(",")}]}""")
    graft.load.Store.tryDeleteRecursively(java.nio.file.Paths.get(outDir))

    // ── 12. EPOCH LIFECYCLE (r17, VERDICT r16 order #8): the SERVING
    // shape of the same corpus, composed into the one run — cold-build
    // → serve → incremental arrival → DML append → epoch ROLL →
    // freshness no-op. The batch stages above curate a frozen
    // snapshot; production then lives as a STORE: epoch authorities
    // build once per manifest seq (Refresh.storeEpoch), arrivals probe
    // them without re-scanning resident text, a DML commit moves the
    // seq, and the next maintenance call rebuilds. The ledger here is
    // the EXACT-incrementality hash: serve(resident) ∪ arrivals'
    // verdicts must equal one full pass over resident ∪ arrivals,
    // doc-for-doc (the Refresh theorem, asserted at THIS scale).
    val src = graft.queries.DocQueries.ensure(spark, dir)
    val storeDir = s"target/e2e-epoch-${java.util.UUID.randomUUID().toString.take(8)}"
    val cacheRoot = s"$storeDir-auth"
    try {
      graft.load.Store.backup(src, storeDir)
      def wall[T](f: => T): (T, Double) = {
        val w0 = System.nanoTime(); val r = f
        (r, (System.nanoTime() - w0) / 1e9)
      }
      val evalSet = benchmark.select(col("doc_id"), col("text"))
      // mBits pinned to 2²⁴ (the BASELINE.md #62 sizing lesson): the
      // auto-size targets 12.5% fill ⇒ FP ~2.4e-4/shingle at EVERY
      // benchmark size, which at a small benchmark still FPs a few
      // genuinely fresh arrivals per batch; a 2 MB driver bitmap buys
      // ~6% fill at the ×100 benchmark and ~0 below it
      def epochOf() = graft.llmops.Refresh.storeEpoch(spark, storeDir,
        cacheRoot, "Doc", "text", "lang", gateRules, Some(evalSet),
        mBits = 1 << 24)
      val ((ep1, rebuilt1), buildSec) = wall(epochOf())
      require(rebuilt1, "cold store epoch must build its authorities")
      val resident = graft.load.Store.readLabel(spark, storeDir, "nodes",
          "Doc", graft.load.Store.readManifest(storeDir)).get
        .select(col("id"), col("text"), col("lang"))
        .withColumn("__seq", col("id")).localCheckpoint(true)
      val nResident = resident.count()
      def keySet(df: DataFrame): Set[(Long, String)] = df
        .select(col("id"), md5(col("text")).as("h")).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      val ((residentKept, nServe), serveSec) = wall {
        val k = graft.llmops.Refresh.process(ep1, resident,
          "id", "__seq", "text", "lang").localCheckpoint(true)
        (k, k.count())
      }
      // arrival batch: half exact duplicates of residents (the band
      // index must drop every one — the index holds ALL scrubbed
      // residents' buckets, including later-dropped ones), half
      // genuinely fresh docs (per-id tokens: zero cross-doc shingles,
      // the BASELINE.md #62 template — survive modulo Bloom FP noise)
      val dupBase = 900000000L; val freshBase = 950000000L
      // batch sized to the corpus (~1% at the probe scales, floor 50):
      // the claim is batch-bound arrival cost, so the batch must stay
      // small relative to the resident set at every scale
      val nBatch = math.max(50L, math.min(2500L, nResident / 100))
      val dups = resident.filter(col("id") < nBatch)
        .select((col("id") + dupBase).as("id"), col("text"), col("lang"))
      val fresh = resident.filter(col("id") >= nBatch && col("id") < 2 * nBatch)
        .select((col("id") + freshBase).as("id"),
          concat_ws(" ",
            concat(lit("qa"), col("id")), lit("the"),
            concat(lit("qb"), col("id")), lit("of"),
            concat(lit("qc"), col("id")), lit("and"),
            concat(lit("qd"), col("id")), lit("in"),
            concat(lit("qe"), col("id")), lit("the"),
            concat(lit("qf"), col("id")), lit("end")).as("text"),
          lit("en").as("lang"))
      val arrivals = dups.unionByName(fresh)
        .withColumn("__seq", col("id")).localCheckpoint(true)
      val nArrivals = arrivals.count()
      val ((arrKept, nArrKept), arrivalSec) = wall {
        val k = graft.llmops.Refresh.process(ep1, arrivals,
          "id", "__seq", "text", "lang").localCheckpoint(true)
        (k, k.count())
      }
      val dupKept = arrKept.filter(col("id") >= dupBase &&
        col("id") < freshBase).count()
      require(dupKept == 0,
        s"$dupKept duplicate arrivals survived the epoch band-index probe")
      val freshKept = arrKept.filter(col("id") >= freshBase).count()
      require(freshKept >= nBatch * 98 / 100, // Bloom FP budget: ~2e-4/shingle
        s"only $freshKept/$nBatch fresh arrivals survived — decon FP storm")
      // the exact-incrementality ledger at THIS scale: one full pass
      // over resident ∪ arrivals must equal the union of the serve and
      // arrival verdicts, doc-for-doc and byte-for-byte
      val (identityOk, fullSec) = wall {
        val full = graft.llmops.Refresh.process(ep1,
          resident.unionByName(arrivals), "id", "__seq", "text", "lang")
        keySet(full) == keySet(residentKept) ++ keySet(arrKept)
      }
      require(identityOk, "incremental verdicts diverge from the full pass")
      // the arrivals COMMIT: one DML append — the manifest seq moves
      val (_, appendSec) = wall {
        graft.load.GraphLoader.commit(spark, storeDir)(
          graft.load.GraphLoader.appendNodes(spark, _, arrivals
            .select(col("id"), lit("Doc").as("label"), col("text"),
              col("lang"), lit("__arrival").as("source"),
              length(col("text")).cast("long").as("nchars"))))
      }
      // epoch ROLL: the moved seq rebuilds the authorities from the
      // current rows; an unchanged manifest then opens without work
      val ((_, rebuilt2), rollSec) = wall(epochOf())
      require(rebuilt2, "a DML commit must roll the epoch")
      val ((_, rebuilt3), noopSec) = wall(epochOf())
      require(!rebuilt3, "an unchanged manifest must open, not rebuild")
      println(f"""{"probe":"epoch_lifecycle","resident":$nResident,""" +
        f""""served":$nServe,"arrivals":$nArrivals,"arrival_kept":$nArrKept,""" +
        f""""dup_kept":$dupKept,"fresh_kept":$freshKept,""" +
        f""""build_sec":$buildSec%.1f,"serve_sec":$serveSec%.1f,""" +
        f""""arrival_sec":$arrivalSec%.1f,"full_pass_sec":$fullSec%.1f,""" +
        f""""append_sec":$appendSec%.1f,"roll_sec":$rollSec%.1f,""" +
        f""""noop_open_sec":$noopSec%.3f,"identity":"exact"}""")
    } finally {
      graft.load.Store.tryDeleteRecursively(java.nio.file.Paths.get(storeDir))
      graft.load.Store.tryDeleteRecursively(java.nio.file.Paths.get(cacheRoot))
    }
    spark.stop()
  }
}
