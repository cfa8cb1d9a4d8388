package graft

import org.apache.spark.sql.SparkSession

/** Plan auditor: prints the physical plans of scale-critical queries and
  * checks the properties that matter at 100 TB — filter/column pushdown
  * into the parquet scan, broadcast choice for dimension joins, partial
  * aggregation, TakeOrderedAndProject for top-k, whole-stage codegen
  * coverage. Output is committed as PLANS.md. Usage:
  * `sbt "runMain graft.PlanAudit /root/testdata/sf0.01 PLANS.md"`.
  */
object PlanAudit {

  case class Check(query: String, property: String, needle: String)

  val checks: Seq[Check] = Seq(
    Check("point_lookup", "predicate pushed to parquet", "PushedFilters: [IsNotNull(c_custkey), EqualTo(c_custkey,42)]"),
    Check("projection_compute", "column-pruned scan", "ReadSchema: struct<c_custkey:bigint,c_name:string,c_acctbal:double,c_mktsegment:string>"),
    Check("join_inner_dims", "dimension joins broadcast", "BroadcastHashJoin"),
    Check("agg_pricing_summary", "map-side partial aggregation", "HashAggregate"),
    Check("agg_pricing_summary", "whole-stage codegen", "codegen id"),
    Check("sort_topk", "top-k without total sort", "TakeOrderedAndProject"),
    // a plain "Join" would also match BroadcastNestedLoopJoin
    // (cartesian-adjacent) and never fail on a planning regression; either
    // hash-join operator satisfies the stated property (AQE/stats may pick
    // ShuffledHashJoin at larger scale factors)
    Check("match_2hop_revenue", "traversal joins are hash joins", "BroadcastHashJoin|ShuffledHashJoin"),
    // the dedup pipelines checkpoint their signature stage (it is
    // consumed by several join branches), so the kernels are audited on
    // the stage plan itself, not the final query's post-checkpoint plan
    Check("stage:minhash_signatures", "one-pass native signature kernel", "graft_minhash_sig"),
    Check("stage:minhash_signatures", "signature stage stays in codegen", "codegen id"),
    Check("stage:simhash_signatures", "one-pass native signature kernel", "graft_simhash_bits"),
    // round 12: the df-cap is an AGGREGATE on the shingle key + semi
    // probe — never a window over the content key (a stop-shingle's
    // corpus-scale df must not serialize one task to compute the very
    // number that drops it)
    Check("stage:jaccard_shingles", "df-cap is a partial aggregate on the shingle key",
      "HashAggregate"),
    Check("stage:jaccard_shingles", "kept shingles rejoin as a semi probe", "LeftSemi"),
    Check("stage:jaccard_shingles", "no window over the shingle key", "!Window"),
    Check("graphql_hop", "GraphQL compiles to the traversal hash join", "BroadcastHashJoin|ShuffledHashJoin"),
    Check("graphql_hop_paged", "GraphQL orderBy+limit is top-k without total sort", "TakeOrderedAndProject"),
    Check("graphql_hop_paged", "paged GraphQL keeps the traversal hash join", "BroadcastHashJoin|ShuffledHashJoin"),
    Check("text_lang_id", "native marker-count kernel", "graft_token_set_count"),
    Check("text_lang_id", "lang-ID stays in codegen", "codegen id"),
    Check("text_fingerprint", "native rolling-hash kernel", "graft_rolling_hash"),
    Check("sim_ivf_topk", "native dot kernel scores IVF candidates", "graft_dot"),
    // the cap's row_number column __crn exists ONLY between the cap
    // window and its filter, both upstream of the re-rank join — its
    // presence in the plan proves the hot-bucket guard is in place
    Check("sim_ivf_topk", "per-cell candidate cap precedes the re-rank join", "__crn"),
    Check("sim_ann_topk", "per-bucket candidate cap precedes the re-rank join", "__crn"),
    Check("pipeline_prep", "native marker-count kernel in the prep gate", "graft_token_set_count"),
    // the packers' heavy window must partition by (stratum, __blk) —
    // the two-phase prefix sum's block key — never by the stratum
    // alone (which would serialize each language/domain through ONE
    // task at 100 TB). __blk exists only inside the blockedStartOffset
    // kernel, so its presence in the plan proves the blocked shape.
    Check("pipeline_shards", "shard offsets use the blocked two-phase prefix sum", "__blk"),
    Check("pipeline_pack_chunks", "sequence packing uses the blocked two-phase prefix sum", "__blk"),
    Check("pipeline_pack_chunks", "block offsets broadcast back onto the units", "BroadcastHashJoin"),
    Check("join_semi", "IN-subquery as left semi", "LeftSemi"),
    Check("join_anti", "NOT-IN as left anti", "LeftAnti"),
    Check("filter_predicates", "filters pushed", "PushedFilters"),
    Check("window_running", "single shuffle for window", "Window"),
    Check("sim_topk", "native dot kernel in plan", "graft_dot"),
    Check("sim_quantized_topk", "quantized queries broadcast, corpus scanned once",
      "BroadcastNestedLoopJoin"),
    Check("sim_quantized_topk", "native integer dot kernel scores the codes",
      "graft_bdot"),
    // round-7 operators: the as-of join is ONE carry window (its
    // negative twin — no range/cartesian join — is asserted in
    // AsOfSpec); the range join and MATCH variants must plan as real
    // equi-joins; decontamination is a single left-semi probe
    Check("asof_events", "as-of carries payload in one window pass", "Window"),
    // attribution: ONE range-framed user window — no join between the
    // touch and conversion sides anywhere in the plan
    Check("events_attribution", "attribution is one range-framed window pass",
      "Window"),
    Check("events_attribution", "no touch-conversion join",
      "!SortMergeJoin"),
    Check("events_attribution", "no broadcast join either",
      "!BroadcastHashJoin"),
    // LTV: the cumulative window partitions by cohort over ≤ day-span
    // rows (calendar-bounded); distinct-user counts partial-aggregate
    Check("events_ltv", "cumulative window present once", "Window"),
    Check("events_ltv", "cohort aggregates map-side combine", "HashAggregate"),
    Check("range_join_events", "band join is an equi-join",
      "BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin"),
    Check("pipeline_decontaminate", "decontamination is one left-semi probe", "LeftSemi"),
    // the declared twins of the HTTP read shapes (hop1_count,
    // hop1_expand, match2): each hop is an oriented edge frame joined
    // by hash join, the degree frame partial-aggregates before it joins
    Check("asql_degree", "degree frame is a partial aggregate", "HashAggregate"),
    Check("asql_degree", "degree frame joins by hash join", "BroadcastHashJoin|ShuffledHashJoin"),
    Check("asql_expand_hop", "expand hop is a hash join", "BroadcastHashJoin|ShuffledHashJoin"),
    Check("asql_match_hop", "MATCH hop is a hash join", "BroadcastHashJoin|ShuffledHashJoin"),
    Check("asql_match_hop", "no cartesian product anywhere", "!CartesianProduct"),
    Check("asql_optional_match", "optional MATCH step is a left outer join", "LeftOuter"),
    Check("asql_match_multi", "shared-alias pattern join is a hash join",
      "BroadcastHashJoin|ShuffledHashJoin"),
    Check("sim_pq_topk", "PQ queries broadcast onto one corpus scan",
      "BroadcastNestedLoopJoin"),
    Check("sim_pq_topk", "native dot kernel scores reconstructions", "graft_dot"),
    Check("profile_columns", "multi-distinct profile is one Expand aggregate", "Expand"),
    Check("profile_columns", "profile scan prunes to the profiled columns",
      "ReadSchema: struct<o_custkey:bigint,o_orderstatus:string,o_totalprice:double>"),
    Check("pipeline_decontaminate_fuzzy", "fuzzy decontamination is a semi probe", "LeftSemi"),
    Check("asql_rid_lookup", "rid lookup pushes the id predicate", "PushedFilters"),
    // round-8: CONTAINSTEXT must be SERVED BY the persisted postings
    // generations (the ft/… path appears as a scan location) via a
    // semi join — the corpus is never tokenized at query time
    Check("asql_containstext_indexed",
      "CONTAINSTEXT scans the persisted postings generation", "/ft/nodes/Part/name/"),
    Check("asql_containstext_indexed",
      "postings ids reach the label scan as a semi join", "LeftSemi"),
    // round-9: the WIN-DOMAIN pair (VERDICT r8 missing #1) — long-text
    // CONTAINSTEXT must be postings-served AND must never read the wide
    // text column (the projection is id/lang; pruning the text bytes
    // out of the scan is the whole payoff)
    Check("asql_containstext_doc_indexed",
      "long-text CONTAINSTEXT scans the persisted postings generation",
      "/ft/nodes/Doc/text/"),
    Check("asql_containstext_doc_indexed",
      "indexed doc route never reads the text column",
      "!text:string"),
    Check("text_inverted_store",
      "store-backed term search scans postings, not the corpus",
      "/ft/nodes/Doc/text/"),
    // the selective exact-term probe: the literal must PUSH into the
    // sorted postings scan (row-group min/max seek — the terms-
    // dictionary analogue; substring contains() cannot push, which is
    // the measured reason the needle pair keeps its scan win)
    Check("text_term_search_store",
      "term literal pushes into the postings scan", "EqualTo(tk,dup)"),
    // incremental dedup: the resident corpus must be served from the
    // PERSISTED signature index (the cache path appears as a scan
    // location) through a semi probe — at arrival time the resident
    // text is never re-hashed, so the md5 kernel may appear only on
    // the batch side (asserted by the spec, which counts kernels)
    Check("dedup_incremental",
      "resident side reads the persisted signature index", "graft-sigidx"),
    Check("dedup_incremental",
      "arrival probe is a semi join against the index", "LeftSemi"),
    // round-10/11 ops: semantic decontamination folds the eval-sized
    // benchmark into the compiled max-cos kernel — one corpus scan,
    // zero shuffle, no pair join to materialize (round 11 replaced the
    // broadcast-NLJ + max-agg shape after measuring the serving
    // benchmark); the cluster-balance draw is one window over the cell
    // key; vocabulary top-k must plan as TakeOrderedAndProject (no
    // global sort materialization); the text-clean scan reads only the
    // two columns it uses
    Check("pipeline_decontaminate_semantic",
      "benchmark folds into the compiled max-cos kernel", "graft_maxcos"),
    Check("pipeline_decontaminate_semantic",
      "the decon scan stays in codegen", "codegen id"),
    Check("pipeline_cluster_balance",
      "balanced draw is one window over the cell key", "Window"),
    Check("text_vocab", "vocab top-k without total sort", "TakeOrderedAndProject"),
    Check("dedup_embedding_lsh",
      "per-bucket candidate cap precedes the pair join", "__crn"),
    Check("dedup_embedding_lsh",
      "native dot kernel re-ranks LSH candidates", "graft_dot"),
    Check("text_clean", "clean scan prunes to doc_id+text",
      "ReadSchema: struct<doc_id:bigint,text:string>"),
    // round-11 additions: SemDeDup within-cell dedup must keep the
    // per-cell candidate cap and score with the compiled dot kernel;
    // span dedup's df count and island merge are window passes over the
    // native n-gram kernel's output; the bloom decon gate must be a
    // JOIN-FREE map-only pass through the compiled bloom kernel (the
    // absence needle is the whole point — no broadcast relation, no
    // semi probe, nothing to shuffle)
    Check("dedup_semantic", "per-cell candidate cap precedes the pair join", "__crn"),
    Check("dedup_semantic", "native dot kernel re-ranks within cells", "graft_dot"),
    // r18: the (doc, pos, hash) window frame is the shared span-family
    // LAYOUT (Dedup.spanWindows, derived once per source) — the kernel
    // is audited on the stage plan the per-query checkpoints now hide
    // (the jaccard_shingles precedent)
    Check("stage:span_windows", "windows hash through the native n-gram kernel",
      "graft_ngram_md5"),
    Check("stage:span_windows", "window kernel stays in codegen", "codegen id"),
    // round-12 rewrite (VERDICT r11 Wrong #1): the global df must be a
    // map-side-combinable AGGREGATE on the hash key joined back as a
    // semi probe — never `count(*) over (partition by h)`, which
    // serializes universal boilerplate (df = corpus size) through ONE
    // un-splittable window task. The island merge stays a per-doc window.
    Check("dedup_spans", "global df is a partial aggregate on the hash key",
      "HashAggregate"),
    Check("dedup_spans", "flagged windows rejoin by hash as a semi probe",
      "LeftSemi"),
    Check("dedup_spans", "island merge stays a per-doc window pass", "Window"),
    Check("pipeline_decontaminate_bloom",
      "benchmark folds into the compiled bloom kernel", "graft_bloom_hits"),
    Check("pipeline_decontaminate_bloom",
      "bloom gate is join-free (map-only corpus pass)", "!Join"),
    Check("pipeline_decontaminate_bloom",
      "bloom gate stays in codegen", "codegen id"),
    // span SCRUB (the apply side): same native-kernel windowing as the
    // report side — the token cut itself is a per-row HOF, never a join
    // back to the window rows
    // df + keeper-min share one aggregate on the hash key (min over a
    // struct buffers a struct, so Spark plans SortAggregate — still
    // map-side-combined partials, the property that matters); the
    // island merge stays a per-doc window
    Check("dedup_spans_scrub", "df/keeper is a partial aggregate on the hash key",
      "SortAggregate|HashAggregate"),
    Check("dedup_spans_scrub", "keeper table rejoins the windows as a hash join",
      "BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin"),
    Check("dedup_spans_scrub", "island merge stays a per-doc window pass", "Window"),
    // paragraph dedup (round 12): the df/keeper pass on the paragraph
    // key is the SAME discipline as the span scrub — a map-side-
    // combinable aggregate (min over a struct buffers a struct ⇒
    // SortAggregate partials) joined back, never a window over the raw
    // paragraph key; duplicates-only rejoin means unique paragraphs
    // cross the join as probe rows, not build rows
    Check("dedup_paragraphs", "df/keeper is a partial aggregate on the paragraph key",
      "SortAggregate|HashAggregate"),
    Check("dedup_paragraphs", "keeper table rejoins the paragraphs as a hash join",
      "BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin"),
    Check("dedup_paragraphs", "no window over any corpus-content key", "!Window"),
    // coverage metric inherits duplicateSpans' shape: kernel windows,
    // aggregate df, semi rejoin; the per-doc tail adds one more
    // doc-keyed aggregate (never a global anything)
    Check("dedup_coverage", "global df is a partial aggregate on the hash key",
      "HashAggregate"),
    Check("dedup_coverage", "flagged windows rejoin by hash as a semi probe",
      "LeftSemi"),
    // triangle counting (round 12): the edge-iterator form — closures
    // come from per-edge adjacency INTERSECTION (codegen'd
    // array_intersect), so the plan must contain NO third join arm
    // shuffling a wedge set (exactly two adjacency joins feed the
    // aggregate) and no nested-loop/cartesian anywhere; the top-k
    // variant cuts by TakeOrdered, never a global sort or window
    Check("graph_triangles", "adjacency joins are equi joins",
      "!BroadcastNestedLoopJoin"),
    Check("graph_triangles", "no cartesian product anywhere", "!CartesianProduct"),
    // r18: the closed-edge frame is the triangle family's shared LAYOUT
    // (Triangles.closedEdges, derived once per source) — the in-row
    // intersection is audited on the stage plan the per-query
    // checkpoints now hide
    Check("stage:tri_closures", "closures are in-row intersections", "array_intersect"),
    Check("stage:tri_closures", "adjacency joins are equi joins",
      "!BroadcastNestedLoopJoin"),
    Check("stage:tri_closures", "no cartesian product anywhere", "!CartesianProduct"),
    Check("graph_triangles_top", "per-vertex top-k without total sort",
      "TakeOrderedAndProject"),
    // clustering family (round 12): same edge-iterator discipline —
    // cc's top-k cuts by TakeOrdered (never a global sort/window), and
    // transitivity's 3T/W must stay on integer aggregates (no window,
    // no average-of-doubles)
    Check("graph_clustering_top", "cc top-k without total sort",
      "TakeOrderedAndProject"),
    Check("graph_clustering_top", "no window anywhere", "!Window"),
    Check("graph_transitivity", "integer partial aggregates, no window",
      "!Window"),
    Check("graph_assortativity", "degree joins are equi-joins, no window",
      "!Window"),
    Check("graph_assoc_rules", "rule top-k without total sort",
      "TakeOrderedAndProject"),
    // centrality (round 13): the level frames are checkpointed, so the
    // audited plan is the per-source reduction — which must be plain
    // partial aggregates over the BFS levels (no window over the
    // vertex set, no cartesian anywhere), and the betweenness top-k
    // must cut by TakeOrdered like every other k-cut
    Check("graph_closeness", "per-source reduction is aggregate-only, no window",
      "!Window"),
    Check("graph_closeness", "no cartesian product anywhere", "!CartesianProduct"),
    Check("graph_betweenness_top", "top-k without total sort",
      "TakeOrderedAndProject"),
    Check("graph_betweenness_top", "no cartesian product anywhere",
      "!CartesianProduct"),
    // hop property projection (round 13): ONE aggregated values frame
    // left-joined on id — never a per-row subquery (no nested-loop
    // join), and the neighbor list aggregates before the vertex join
    Check("asql_hop_projection", "values frame left-joins on id", "LeftOuter"),
    Check("asql_hop_projection", "no per-row subquery",
      "!BroadcastNestedLoopJoin"),
    Check("asql_hop_chain", "chain links are equi joins",
      "!BroadcastNestedLoopJoin"),
    Check("asql_hop_chain", "no cartesian product anywhere",
      "!CartesianProduct"),
    // HITS (round 13): grid-rounded power iteration — the audited plan
    // is the final two k-cuts over the checkpointed score frames
    Check("graph_hits", "k-cuts without total sort", "TakeOrderedAndProject"),
    Check("graph_hits", "no cartesian product anywhere", "!CartesianProduct"),
    Check("graph_closeness_all", "top-k without total sort",
      "TakeOrderedAndProject"),
    Check("graph_closeness_all", "no window anywhere", "!Window"),
    // random walks (round 13; row-form adjacency round 14): `length`
    // equi joins against ONE checkpointed adjacency frame — the
    // per-vertex rank window lives UPSTREAM of the checkpoint, so the
    // walk loop itself stays window-free; no cartesian; the hop choice
    // hashes through the native md5 fold
    Check("graph_random_walks", "walk loop is window-free (rank window is pre-checkpoint)",
      "!Window"),
    Check("graph_random_walks", "no cartesian product anywhere",
      "!CartesianProduct"),
    // round 14: node2vec's per-step cumulative windows are deg-bounded
    // per-vertex partitions (deliberate — the exact integer weighted
    // choice); every join stays an equi join, never a cartesian
    Check("graph_node2vec", "no cartesian product anywhere",
      "!CartesianProduct"),
    // round 15: the degree-capped form — the stride filter is in-row
    // arithmetic on the expanded rows (equi joins only, no cartesian),
    // and the per-walk cap hash rides the walk frame, not the expansion
    Check("graph_node2vec_capped", "no cartesian product anywhere",
      "!CartesianProduct"),
    // round 15: schema:types is the registry as a LOCAL constant —
    // a catalog read must never become a data scan
    Check("asql_schema_types", "catalog scan reads no files", "!FileScan"),
    // round 16: the remaining two catalog spellings hold the same line
    Check("asql_schema_indexes", "catalog scan reads no files", "!FileScan"),
    Check("asql_schema_database", "catalog scan reads no files", "!FileScan"),
    // round 16: the 32-bit residual rung keeps the raw rung's plan
    // shape — compiled encode kernel, probes broadcast, no shuffled
    // join, no cartesian
    Check("sim_ivfpq_residual_m8_topk", "compiled PQ-encode kernel",
      "graft_pq_encode"),
    Check("sim_ivfpq_residual_m8_topk", "no shuffled join anywhere",
      "!SortMergeJoin"),
    Check("sim_ivfpq_residual_m8_topk", "no cartesian product anywhere",
      "!CartesianProduct"),
    // DF-native PageRank (round 14): the renormalization is the 1-row
    // broadcast scalar bind (BroadcastNestedLoopJoin over one row is
    // the sanctioned shape, a CartesianProduct is not), k-cut by
    // TakeOrdered
    Check("pagerank_df", "top-k without total sort", "TakeOrderedAndProject"),
    Check("pagerank_df", "no cartesian product anywhere", "!CartesianProduct"),
    Check("dijkstra_df", "relax rounds leave no cartesian product",
      "!CartesianProduct"),
    // personalized PageRank (round 14): seed-sparse frames, seed
    // teleport rides a broadcast, top-20 is TakeOrdered
    Check("graph_ppr", "top-k without total sort", "TakeOrderedAndProject"),
    Check("graph_ppr", "no cartesian product anywhere", "!CartesianProduct"),
    // LPA + modularity (round 14): every round is argmax-by-aggregate,
    // the score is integer sums — no window, no cartesian anywhere
    Check("graph_lpa_modularity", "no window anywhere", "!Window"),
    Check("graph_lpa_modularity", "no cartesian product anywhere",
      "!CartesianProduct"),
    // IVF-PQ (round 14): encode through the compiled kernel (the
    // column-tree form fell out of codegen past janino's 64 KB limit),
    // probes broadcast onto the assigned cells, never a shuffled join
    Check("sim_ivfpq_topk", "compiled PQ-encode kernel", "graft_pq_encode"),
    Check("sim_ivfpq_topk", "probes broadcast onto cells", "BroadcastHashJoin"),
    Check("sim_ivfpq_topk", "no shuffled join anywhere", "!SortMergeJoin"),
    // length buckets (round 14): the ladder is per-row CASE arithmetic
    // + ONE bucket-keyed aggregate — no explode, no window
    Check("pipeline_length_buckets", "no explode anywhere", "!Generate"),
    Check("pipeline_length_buckets", "no window anywhere", "!Window"),
    Check("pipeline_length_buckets", "bucket counts map-side combine",
      "HashAggregate"),
    // char entropy (round 14): the whole gate is one compiled map-only
    // pass — zero shuffle of any kind
    Check("text_entropy", "compiled entropy kernel", "graft_char_entropy"),
    Check("text_entropy", "no shuffle at all", "!Exchange"),
    Check("graph_assoc_rules", "no window anywhere", "!Window"),
    // LM scoring: the capped model must BIND BROADCAST onto the corpus
    // scan (a shuffled model join would re-partition the corpus by
    // bigram text — the exact thing the config-sized cap exists to
    // avoid); no sort-merge join may appear anywhere in the plan
    Check("pipeline_ppl_score", "capped LM model broadcasts onto the corpus scan",
      "BroadcastHashJoin"),
    Check("pipeline_ppl_score", "signatures hash through the native n-gram kernel",
      "graft_ngram_md5"),
    Check("pipeline_ppl_score", "no shuffled join anywhere in the scoring plan",
      "!SortMergeJoin"),
    // NB classifier (round 12): capped vocab model must BIND BROADCAST
    // onto the token explode (a shuffled model join would repartition
    // the corpus by token text); scoring is one doc-key aggregate —
    // no window, no shuffled join
    Check("pipeline_nb_classifier", "capped NB model broadcasts onto the corpus",
      "BroadcastHashJoin"),
    Check("pipeline_nb_classifier", "no shuffled join in the scoring plan",
      "!SortMergeJoin"),
    Check("pipeline_nb_classifier", "no window anywhere", "!Window"),
    // weighted sample: map-only key pass + TakeOrdered — no shuffle
    // beyond the top-n reduction, no window
    Check("pipeline_sample_weighted", "top-n without total sort",
      "TakeOrderedAndProject"),
    Check("pipeline_sample_weighted", "no window anywhere", "!Window"),
    // KS drift: bucket counts are partial aggregates; the cumulative
    // window runs over the config-sized bucket lattice only (bounded
    // by construction), and the max is a 1-row TakeOrdered
    Check("pipeline_drift", "bucket counts map-side combine", "HashAggregate"),
    // span corruption: a single map-only fold per doc — no explode
    // row-blowup, no join, no shuffle of any kind
    Check("pipeline_span_corruption", "no explode anywhere", "!Generate"),
    Check("pipeline_span_corruption", "no shuffle at all", "!Exchange"),
    Check("pipeline_fim", "no explode anywhere", "!Generate"),
    Check("pipeline_fim", "no shuffle at all", "!Exchange"),
    // the argmax runs over the config-sized bucket lattice only
    // (post-aggregate); the always-one-row rewrite (review r12) feeds
    // it into the totals join, where it fuses back to TakeOrdered
    Check("pipeline_drift", "argmax without total sort",
      "TakeOrderedAndProject"),
    Check("pipeline_drift_categorical", "category counts map-side combine",
      "HashAggregate"),
    Check("pipeline_drift_categorical", "no window anywhere", "!Window"),
    // containment rides the same df-capped shingle machinery as the
    // jaccard pair join — never a window over the shingle key
    Check("dedup_containment", "no window over the shingle key", "!Window"),
    Check("pipeline_epochs", "source masses map-side combine", "HashAggregate"),
    Check("pipeline_epochs", "no window anywhere", "!Window"),
    Check("pipeline_canary_check", "detection is one partial aggregate",
      "HashAggregate"),
    Check("pipeline_canary_check", "no join against a canary table",
      "!SortMergeJoin"),
    Check("pipeline_drift_psi", "bucket counts map-side combine", "HashAggregate"),
    Check("pipeline_drift_psi", "no window anywhere", "!Window"),
    // bucketing serves from the compiled LM kernel (train once,
    // collect the config-sized model, score map-only — round 11): the
    // whole scoring plan is join-free; only the 1-row threshold bind
    // remains
    Check("pipeline_ppl_bucket", "bucketing scores through the compiled LM kernel",
      "graft_lm_xent"),
    Check("pipeline_ppl_bucket", "kernel scoring adds no shuffled join",
      "!SortMergeJoin"),
    // global shuffle: the corpus-wide rank must come from the blocked
    // two-phase prefix sum (hash-range blocks), never a global
    // row_number — __blk proves the blocked window, the broadcast is
    // the offsets table binding back
    Check("pipeline_shuffle", "global rank uses the blocked two-phase prefix sum",
      "__blk"),
    Check("pipeline_shuffle", "block offsets broadcast back onto the rows",
      "BroadcastHashJoin"),
    // boilerplate discovery: one partial aggregate on the gram string
    // (a universal gram is a hot group-by key, never a window
    // partition) and a TakeOrdered top-k — no global sort, no window
    Check("text_boilerplate_top", "gram counts are a partial aggregate",
      "HashAggregate"),
    Check("text_boilerplate_top", "top-k plans as TakeOrdered, not a global sort",
      "TakeOrderedAndProject"),
    Check("text_boilerplate_top", "no window over the gram key", "!Window"),
    // curriculum: bin-major global position must ride the SAME blocked
    // prefix sum (composite bin<<32|hash key) — never a global
    // row_number over the whole corpus
    Check("pipeline_curriculum", "curriculum position uses the blocked prefix sum",
      "__blk"),
    Check("pipeline_curriculum", "block offsets broadcast back onto the rows",
      "BroadcastHashJoin"),
    // data card: every ratio derives from partial aggregates — the
    // language majority is a (source, lang)-count argmax (never mode
    // over raw rows), the dup rate is the fingerprint-df aggregate +
    // semi probe (a universal fingerprint contributes one partial per
    // partition, never a window partition), and the corpus total binds
    // as a 1-row broadcast. No window anywhere in the plan.
    Check("pipeline_data_card", "dup-rate probe is a semi join on the fingerprint",
      "LeftSemi"),
    Check("pipeline_data_card", "corpus total binds as a broadcast",
      "BroadcastNestedLoopJoin|BroadcastHashJoin"),
    Check("pipeline_data_card", "no window over any content key", "!Window"),
    // keep-best: the per-group argmax must be a partial AGGREGATE (a
    // window over the group key would serialize a boilerplate
    // mega-group through one task). The struct-ordered max buffers a
    // struct, which hash agg can't mutate in place — Spark plans it as
    // SortAggregate, which still map-side-combines partials (the
    // property that matters here).
    Check("pipeline_dedup_keep_best", "group argmax is a partial aggregate",
      "SortAggregate|HashAggregate"),
    Check("pipeline_dedup_keep_best", "no group-serial window downstream of components",
      "!Window"),
    // PII redaction: a pure per-row regex fold — nothing to join or
    // shuffle, and the scan reads only the two columns it uses
    Check("text_redact_pii", "redaction is a join-free map-only pass", "!Join"),
    Check("text_redact_pii", "redaction scan prunes to doc_id+text",
      "ReadSchema: struct<doc_id:bigint,text:string>"),
    // DSIR: the two bucket-count models are config-sized (≤ 2^16 rows)
    // and must BIND BROADCAST; features hash through the native kernel;
    // no shuffled join anywhere (the only shuffles are the bucket aggs
    // and the doc-key aggregate)
    Check("pipeline_dsir", "bucket models broadcast onto the corpus scan",
      "BroadcastHashJoin"),
    Check("pipeline_dsir", "features hash through the native n-gram kernel",
      "graft_ngram_md5"),
    Check("pipeline_dsir", "no shuffled join anywhere in the weighting plan",
      "!SortMergeJoin"),
    // source cap: the per-source rank must be the TWO-LEVEL blocked
    // top-k — __brk (the within-(source, block) rank) exists only
    // between the block window and its ≤cap filter, both upstream of
    // the final per-source window, so its presence proves the pruning
    // level is in place (a bare one-window rank would serialize a
    // corpus-dominating source through one task)
    Check("pipeline_source_cap", "block-level rank prunes before the per-source window",
      "__brk"),
    // contamination report: both sides shingle through the native
    // kernel and the eval-sized side must BIND BROADCAST (the corpus
    // never shuffles on the shingle key)
    Check("pipeline_decon_report", "shingles hash through the native n-gram kernel",
      "graft_ngram_md5"),
    Check("pipeline_decon_report", "eval shingles broadcast onto the corpus side",
      "BroadcastHashJoin"),
    // tf-idf: the vocabulary-sized df table must broadcast back onto
    // the (doc, term) counts — a shuffled join would re-partition the
    // corpus-sized tf table by term for a config-scale lookup
    Check("text_tfidf_top", "vocabulary df table broadcasts onto the tf counts",
      "BroadcastHashJoin"),
    Check("text_tfidf_top", "no shuffled join anywhere in the tf-idf plan",
      "!SortMergeJoin"),
    // late-session additions: budget selection must ride the blocked
    // prefix sum (never a global-sort row_number); novelty's reference
    // set binds broadcast; the LID margin runs the compiled kernel in
    // codegen; the anomaly minute-counts map-side combine
    Check("pipeline_budget_select", "budget offsets use the blocked prefix sum",
      "__blk"),
    Check("text_novelty", "reference shingles broadcast onto the corpus",
      "BroadcastHashJoin"),
    Check("text_novelty", "shingles hash through the native n-gram kernel",
      "graft_ngram_md5"),
    Check("text_lang_margin", "margin fold runs the compiled marker kernel",
      "graft_token_set_count"),
    Check("text_lang_margin", "the margin scan stays in codegen", "codegen id"),
    Check("events_anomaly", "minute counts map-side combine", "HashAggregate"),
    Check("events_interarrival", "gaps are one window pass", "Window"),
    Check("events_enrich", "the dimension broadcasts onto the stream scan",
      "BroadcastHashJoin"),
    // RFM: quartile boundaries bind as 1-row broadcasts — the plan must
    // contain NO window at all (an ntile formulation would serialize
    // every customer through one global window task)
    Check("orders_rfm", "no window anywhere in the RFM plan", "!Window"),
    Check("orders_rfm", "quartile boundaries bind broadcast",
      "BroadcastNestedLoopJoin"),
    // histogram/correlations: single-aggregate shapes — the histogram's
    // second pass is one map-combined count agg; correlations do ALL
    // pairs in one aggregate over one scan (no per-pair rescans)
    Check("profile_histogram", "bucket counts map-side combine", "HashAggregate"),
    Check("profile_correlations", "all pairs in one aggregate over one scan",
      "HashAggregate"),
    Check("profile_correlations", "no join anywhere in the correlation plan",
      "!Join"),
    // BM25: the query-sized postings broadcast back onto the length
    // scan; top-k without total sort
    // UNHINTED postings join: AQE broadcasts when selective, shuffles
    // when corpus-scale — the needle asserts only the hash-join family
    Check("text_bm25", "postings meet the corpus in a hash join",
      "BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin"),
    Check("text_bm25", "retrieval top-k without total sort",
      "TakeOrderedAndProject"),
    // PMI: marginals broadcast, top-k without total sort
    Check("text_pmi_top", "marginal counts broadcast onto the bigram table",
      "BroadcastHashJoin"),
    Check("text_pmi_top", "collocation top-k without total sort",
      "TakeOrderedAndProject"),
    // kNN classify: the query set broadcasts onto ONE corpus scan
    // (the sim_topk posture) and scoring runs the compiled dot kernel
    Check("sim_knn_label", "queries broadcast onto one corpus scan",
      "BroadcastNestedLoopJoin"),
    Check("sim_knn_label", "native dot kernel scores the neighbors", "graft_dot"),
    // hard negatives: same posture — broadcast queries, one scan,
    // compiled dot kernel
    Check("sim_hard_negatives", "queries broadcast onto one corpus scan",
      "BroadcastNestedLoopJoin"),
    Check("sim_hard_negatives", "native dot kernel scores the candidates",
      "graft_dot"),
    // cross-corpus LSH join: candidates must be a bucket EQUI-join
    // (never a cartesian/NLJ between two corpus-scale sides), with the
    // per-bucket cap pruning the right side before the join
    Check("sim_cross_join", "cross-corpus candidates are a bucket equi-join",
      "BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin"),
    Check("sim_cross_join", "no nested-loop join between the corpora",
      "!BroadcastNestedLoopJoin"),
    Check("sim_cross_join", "per-bucket cap prunes the right side", "__crn"),
    Check("sim_cross_join", "native dot kernel re-ranks the candidates", "graft_dot"),
    // leak-free split: the group hash routes per-row AFTER the
    // component join — the only join is components onto docs (left),
    // never a group-serial window
    Check("pipeline_split_leakfree", "components bind back with a hash join",
      "BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin"),
    Check("pipeline_split_leakfree", "no group-serial window in the split plan",
      "!Window"),
    // winnowing: selection must run as the compiled kernel over the
    // native n-gram hashes — map-only, join-free, in codegen
    Check("text_winnow", "selection runs the compiled winnow kernel", "graft_winnow"),
    Check("text_winnow", "winnowing is a join-free map-only pass", "!Join"),
    Check("text_winnow", "the winnow scan stays in codegen", "codegen id"),
    // funnel: stage frames must join as hash joins on the user key —
    // never a per-user window over the raw events, never an NLJ
    Check("events_funnel", "stage frames join on the user key",
      "BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin"),
    Check("events_funnel", "no nested-loop in the funnel plan",
      "!BroadcastNestedLoopJoin"),
    // canonicalization: one compiled pass, join-free, in codegen
    Check("text_normalize", "canonicalization runs the compiled kernel",
      "graft_normalize_text"),
    Check("text_normalize", "canonicalization is a join-free map-only pass", "!Join"),
    // winnow pair join: the df-cap window must precede the pair join
    // (the jaccard discipline — stop-fingerprints leave before they
    // can explode quadratically)
    Check("stage:winnow_fps", "df-cap is a partial aggregate on the fp key",
      "HashAggregate"),
    Check("stage:winnow_fps", "kept fingerprints rejoin as a semi probe", "LeftSemi"),
    Check("stage:winnow_fps", "no window over the fp key", "!Window"),
    Check("stage:winnow_fps", "fingerprints select through the compiled kernel",
      "graft_winnow"),
    // round 12: the star-edge bucket minimum is an aggregate joined
    // back, never `min(id) over (partition by band, sig)` — a
    // mega-bucket (boilerplate duplicated corpus-wide) must not
    // serialize through one window task on dedup's OWN home turf
    Check("stage:minhash_star_edges", "bucket min is a partial aggregate",
      "HashAggregate"),
    Check("stage:minhash_star_edges", "no window over the bucket key", "!Window")
  )

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val out = if (args.length > 1) Some(args(1)) else None
    val spark = SparkEntry.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // label-pruning audit on the persisted graph store (§1.5/§4.1). The
    // generation layout reads one scan per label with the label
    // attached as a literal, so a label filter must constant-fold every
    // other union branch away: the physical plan may contain exactly
    // ONE parquet scan — the filtered label's generation directory.
    val store = java.nio.file.Files.createTempDirectory("graftstore").toString
    graft.load.GraphLoader.writeGraph(spark, sfDir, store)
    val pruned = graft.load.Store.readEntity(spark, store, "nodes")
      .filter(org.apache.spark.sql.functions.col("label") === "Customer")
    pruned.collect()
    val prunedPlan = pruned.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    val pruneOk = "Location: InMemoryFileIndex".r.findAllIn(prunedPlan).size == 1 &&
      prunedPlan.contains("/nodes/Customer/gen-")

    // pre-checkpoint pipeline stages, auditable alongside declared queries
    val stages: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] = {
      def docs(s: SparkSession, d: String) = s.read.parquet(s"$d/documents.parquet")
      Map(
        "stage:minhash_signatures" -> ((s, d) =>
          graft.llmops.Dedup.minhashSignatures(docs(s, d), "doc_id", "text", 16)),
        "stage:simhash_signatures" -> ((s, d) =>
          graft.llmops.Dedup.simhash(docs(s, d), "doc_id", "text")),
        "stage:jaccard_shingles" -> ((s, d) =>
          graft.llmops.Dedup.shingleSet(docs(s, d), "doc_id", "text", 3,
            graft.llmops.Dedup.JaccardMaxDf)),
        "stage:winnow_fps" -> ((s, d) =>
          graft.llmops.Dedup.winnowFpSet(docs(s, d), "doc_id", "text", 4, 8, 100)),
        "stage:span_windows" -> ((s, d) =>
          graft.llmops.Dedup.spanWindows(docs(s, d), "doc_id", "text", 16)),
        "stage:tri_closures" -> ((s, d) =>
          graft.operators.Triangles.closedEdges(
            graft.operators.Triangles.cooccurrenceEdges(
              s.read.parquet(s"$d/lineitem.parquet"),
              "l_orderkey", "l_partkey", 50).localCheckpoint(true))),
        "stage:minhash_star_edges" -> ((s, d) =>
          graft.llmops.Dedup.minhashStarEdges(
            graft.llmops.Dedup.minhashSignatures(docs(s, d), "doc_id", "text", 16),
            "doc_id", 16, 4)))
    }
    val qs = SparkEntry.queries ++ stages
    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan audit of scale-critical queries\n\n")
    sb.append(s"Generated by `graft.PlanAudit` on `$sfDir`. Each check asserts a\n")
    sb.append("plan property that must hold for the 100 TB posture (SURVEY §4.2).\n\n")

    sb.append("## Checks\n\n| query | property | status |\n|---|---|---|\n")
    val planCache = scala.collection.mutable.Map[String, String]()
    def planOf(name: String): String = planCache.getOrElseUpdate(name, {
      val df = qs(name)(spark, sfDir)
      // materialize THIS plan instance so AQE finalizes and codegen ids
      // appear (a write would clone the plan and leave this one initial)
      df.collect()
      df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    })
    var failures = 0
    if (!pruneOk) failures += 1
    sb.append(s"| persisted store scan | label partition pruning | ${if (pruneOk) "✅" else "❌"} |\n")
    checks.foreach { c =>
      // "|" in a needle means any-of (alternation, not regex); a "!"
      // prefix asserts the ABSENCE of the rest (e.g. a column that must
      // be pruned out of every scan)
      val ok = c.needle.split('|').exists { n =>
        if (n.startsWith("!")) !planOf(c.query).contains(n.drop(1))
        else planOf(c.query).contains(n)
      }
      if (!ok) failures += 1
      sb.append(s"| ${c.query} | ${c.property} | ${if (ok) "✅" else s"❌ (missing `${c.needle}`)"} |\n")
    }

    sb.append("\n## Key plans\n")
    Seq("point_lookup", "join_inner_dims", "agg_pricing_summary", "sort_topk",
      "match_2hop_revenue").foreach { n =>
      sb.append(s"\n### $n\n\n```\n${planOf(n).trim.take(4000)}\n```\n")
    }

    out match {
      case Some(path) => java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
      case None => println(sb.toString)
    }
    println(s"[plan-audit] ${checks.size + 1 - failures}/${checks.size + 1} checks passed")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
