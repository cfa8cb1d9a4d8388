package graft

/** Benchmark main (driver contract): runs the headline query set on
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line
  * `{"metric":…,"value":N,"unit":"sec","queries":{…},"sf":…}`.
  *
  * The headline set covers the engine's scale-relevant spine — scans,
  * hash-agg, broadcast + shuffle joins, multi-hop traversal joins,
  * window functions, event-time windows, top-k, and the LLM-ops
  * pipeline (exact dedup, MinHash-LSH, cosine top-k, text metrics,
  * multimodal batch decode). Each query is fully materialized through
  * the noop sink (count() could skip projection work).
  */
object Bench {

  val headline: Seq[String] = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSeq).getOrElse(Seq(
    "scan_counts",
    "agg_pricing_summary",
    "agg_count_distinct",
    "join_inner_dims",
    "join_left",
    "match_2hop_revenue",
    "traverse_varlen",
    "connected_components",
    "window_running",
    "window_tumbling",
    "sort_topk",
    "dedup_exact",
    "dedup_minhash",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "dedup_containment",
    "dedup_incremental",
    "dedup_embedding_lsh",
    "dedup_semantic",
    "dedup_spans",
    "pipeline_decontaminate_bloom",
    "sim_topk",
    "sim_ivf_topk",
    "sim_ivf_trained_topk",
    "sim_quantized_topk",
    "sim_pq_topk",
    "sim_pq_rerank_topk",
    "graphql_hop",
    "asql_match_agg",
    "asql_traverse_depth",
    "pipeline_prep",
    "pipeline_shards",
    "pipeline_mix_rates",
    "pipeline_mix_temperature",
    "pipeline_quality_gate",
    "pipeline_nb_classifier",
    "pipeline_ppl_bucket",
    "pipeline_dsir",
    "pipeline_shuffle",
    "pipeline_budget_select",
    "pipeline_source_cap",
    "pipeline_sample_weighted",
    "pipeline_drift",
    "pipeline_drift_categorical",
    "pipeline_epochs",
    "pipeline_canary_check",
    "pipeline_drift_psi",
    "pipeline_span_corruption",
    "pipeline_fim",
    "pipeline_decon_report",
    "text_tfidf_top",
    "text_pmi_top",
    "text_bm25",
    "sim_knn_label",
    "sim_hard_negatives",
    "sim_cross_join",
    "dedup_spans_scrub",
    "pipeline_decontaminate",
    "pipeline_decontaminate_fuzzy",
    "pipeline_decontaminate_semantic",
    "pipeline_cluster_balance",
    "pipeline_dedup_groups",
    "pipeline_dedup_keep_best",
    "pipeline_split_leakfree",
    "pipeline_dedup_stats",
    "pipeline_corpus_diff",
    "pipeline_data_card",
    "pipeline_curriculum",
    "text_boilerplate_top",
    "asof_events",
    "events_funnel",
    "events_retention",
    "events_anomaly",
    "events_interarrival",
    "events_enrich",
    "events_transitions",
    "events_trending",
    "events_attribution",
    "events_ltv",
    "graph_degree_hist",
    "asof_events_salted",
    "range_join_events",
    "text_quality",
    "text_repetition",
    "text_clean",
    "text_redact_pii",
    "text_normalize",
    "text_novelty",
    "text_lang_margin",
    "text_vocab",
    "approx_topk_cms",
    "text_chunks",
    "text_subword",
    "text_winnow",
    "dedup_winnow",
    "pipeline_pack_chunks",
    "pipeline_pack_subword",
    "asql_containstext_indexed",
    "asql_containstext_scan",
    "asql_containstext_doc_indexed",
    "asql_containstext_doc_scan",
    "text_inverted_store",
    "text_term_search_store",
    "text_term_search_scan",
    "profile_columns",
    "profile_histogram",
    "profile_correlations",
    "orders_rfm",
    "dedup_paragraphs",
    "dedup_coverage",
    "text_oov_rate",
    "graph_triangles",
    "graph_triangles_top",
    "graph_clustering_top",
    "graph_transitivity",
    "graph_assortativity",
    "graph_assoc_rules",
    "graph_closeness",
    "graph_closeness_all",
    "graph_hits",
    "graph_random_walks",
    // graph_betweenness_top is declared + oracle/spec-covered but NOT a
    // headline: 32-source Brandes on the dense sf0.1 co-purchase graph
    // is diameter×|S|-bound by design (24.5 s — BASELINE.md #64 is its
    // perf evidence). Same rule for graph_node2vec (per-step candidate
    // windows ≈ 3× the DeepWalk walk cost, #70), pagerank_df, and
    // dijkstra_df (dual-path twins of non-headline GraphX rows, #69).
    "asql_hop_projection",
    "asql_hop_chain",
    "text_fertility",
    // round 14: the composed IVF-PQ retrieval (ADC shortlist + exact
    // re-rank), LPA+modularity, and the two new map-only gates; graph_ppr
    // follows the pagerank_df non-headline rule (timed in BASELINE.md #76)
    "sim_ivfpq_topk",
    "graph_lpa_modularity",
    "pipeline_length_buckets",
    "text_entropy",
    // round 15: the catalog scan (a constant frame — its bench slot
    // proves the spelling never becomes a data scan); the CAPPED
    // node2vec follows the uncapped form's non-headline rule
    // (BASELINE.md #74 and #78 time both)
    "asql_schema_types",
    "pipeline_decontaminate_bloom_sized",
    "sim_ivfpq_residual_topk",
    // round 16: the two new catalog scans (constant frames), the DML
    // edge-rid lookup (a store-backed point scan), and the 32-bit
    // residual rung
    "asql_schema_indexes",
    "asql_schema_database",
    "asql_rid_edge_dml",
    "sim_ivfpq_residual_m8_topk",
    "sim_ivfpq_residual_m8c64_topk",
    // round 17: record attributes (store-backed projection) and the
    // 64-bit residual rung
    "asql_record_attrs",
    "sim_ivfpq_residual_m8c256_topk",
    "multimodal_meta",
    "multimodal_frames",
    "multimodal_resize",
    "multimodal_audio"))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkEntry.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // untimed warmup: JVM/codegen/session init shouldn't bill the first query
    spark.range(1000000).selectExpr("sum(id)").collect()
    val qs = SparkEntry.queries

    // Bench protocol (BASELINE.md history #3): this box's hypervisor
    // throttles sustained bursts POSITION-dependently — queries late in a
    // long sequential run measure 2-8× their isolated time regardless of
    // which query sits there. One sequential pass is therefore unusable
    // evidence. Protocol: run the set forward, then reversed (so every
    // query gets one early-position slot across the two orders), and emit
    // the per-query MIN as the official number — the closest
    // contention-free estimate obtainable in one JVM. Extra passes via
    // SPARK_GRAFT_BENCH_PASSES (each pass k reverses parity k).
    def timeOne(name: String): Double = {
      val t0 = System.nanoTime()
      try { qs(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9 }
      catch { case e: Throwable => System.err.println(s"[bench] $name failed: $e"); -1.0 }
    }
    val names = headline.filter(qs.contains).distinct
    // 3 passes (fwd, rev, fwd): every query gets ≥1 early-position slot
    // in each direction AND a third chance to land outside a throttled
    // window (BASELINE.md history #3/#4 — the tax drifts between whole
    // runs, not just positions)
    val passes = sys.env.get("SPARK_GRAFT_BENCH_PASSES").map(_.toInt).getOrElse(3)
    val best = scala.collection.mutable.LinkedHashMap[String, Double]()
    names.foreach(n => best(n) = -1.0)
    (0 until passes).foreach { p =>
      val order = if (p % 2 == 0) names else names.reverse
      order.foreach { n =>
        val t = timeOne(n)
        if (t >= 0 && (best(n) < 0 || t < best(n))) best(n) = t
      }
    }
    // per-query values rounded to 0.1 ms: full double precision tripled
    // the line's size for digits that are pure measurement noise on this
    // box, and the round artifact keeps only a bounded stdout tail
    def round4(v: Double): BigDecimal = BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP)
    def r4(v: Double): String = round4(v).underlying.stripTrailingZeros.toPlainString
    val qjson = best.map { case (k, v) => "\"" + k + "\":" + r4(v) }.mkString("{", ",", "}")
    // total = sum of the ROUNDED per-query values, so a consumer that
    // recomputes the total from the emitted map reproduces it exactly
    val total = best.values.filter(_ >= 0).map(round4).sum.toDouble
    val failed = best.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
    val failJson = if (failed.isEmpty) "" else s""","failed":[${failed.mkString(",")}]"""
    val line = s"""{"metric":"total","value":${r4(total)},"unit":"sec","queries":$qjson$failJson,"sf":"$sfDir","protocol":"min-over-$passes-passes-alternating-order"}"""
    // the full per-query map ALSO lands in a file (VERDICT r14 wrong
    // #3: the stdout line alone gets tail-truncated to an unparseable
    // fragment in the round artifact — the artifact should carry the
    // complete map, not force a re-measurement). Override the path
    // with SPARK_GRAFT_BENCH_OUT; the round flow commits a copy.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench.json")
    try {
      val p = java.nio.file.Paths.get(outPath)
      Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.writeString(p, line + "\n")
      System.err.println(s"[bench] full per-query JSON written to $outPath")
    } catch { case e: java.io.IOException =>
      System.err.println(s"[bench] could not write $outPath: $e")
    }
    spark.stop()
    // printed LAST — after spark.stop(), with build.sbt suppressing
    // sbt's [success] banner (VERDICT r15 order #2): the driver's tail
    // capture parses the final stdout line. The full per-query map
    // (~3.4 KB at 140 queries) overflows the driver's 2 KB tail, so the
    // FINAL line is a compact summary — total, failures, the 17-query
    // round-1 headline subset (the BASELINE.md comparison anchor), and a
    // pointer to the file carrying the complete map (VERDICT r16 order
    // #1). The full line still goes to stdout first for local use.
    println(line)
    val round1Subset = Seq(
      "scan_counts", "agg_pricing_summary", "agg_count_distinct",
      "join_inner_dims", "join_left", "match_2hop_revenue",
      "traverse_varlen", "connected_components", "multimodal_meta",
      "window_running", "window_tumbling", "sort_topk", "dedup_exact",
      "dedup_minhash", "dedup_simhash", "sim_topk", "text_quality")
    val hjson = round1Subset.collect { case k if best.getOrElse(k, -1.0) >= 0 =>
      "\"" + k + "\":" + r4(best(k)) }.mkString("{", ",", "}")
    val summary = s"""{"metric":"total","value":${r4(total)},"unit":"sec","n":${best.count(_._2 >= 0)},"failed":[${failed.mkString(",")}],"headline":$hjson,"sf":"$sfDir","protocol":"min-over-$passes-passes-alternating-order; headline=round-1 subset; full per-query map in file","file":"$outPath"}"""
    println(summary)
  }
}
