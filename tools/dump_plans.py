#!/usr/bin/env python
"""Regenerate docs/PLANS.md: formatted physical plans for headline queries.

Run from the repo root: ``python tools/dump_plans.py``. Captures the
plans at sf0.01 with AQE disabled (so codegen stars and join choices
print in their final form) plus a short commentary per query on why the
plan scales.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from big_data_trend_analysis_spark.plans.registry import QUERIES
from big_data_trend_analysis_spark.session import get_spark

HEADLINERS: dict[str, str] = {
    "agg_basic": (
        "Both HashAggregate stages are codegen'd (`*(n)`); the shuffle "
        "carries one row per (flag,status) per map task thanks to the "
        "partial phase. Decimal sums keep results order-independent."
    ),
    "filter_pred": (
        "All four predicates appear in `PushedFilters`, and `ReadSchema` "
        "is pruned to the five projected columns — the scan skips parquet "
        "row groups before any row is materialized."
    ),
    "join_broadcast": (
        "The `broadcast()` hint turns lineitem⋈part into a map-side "
        "BroadcastHashJoin: the 100 TB side is never shuffled."
    ),
    "join_hash": (
        "The dimension chain (customer→nation→region) broadcasts; only "
        "orders⋈customer could shuffle, and AQE converts it too when the "
        "build side fits."
    ),
    "keyword_topk": (
        "orderBy+limit compiles to TakeOrderedAndProject: each partition "
        "keeps k rows and the driver merges k·partitions rows — no global "
        "sort at any scale."
    ),
    "window_rank": (
        "One hash-partitioned Exchange on user_id feeds a sort + running "
        "`row_number`; the k-filter bounds the output per key."
    ),
    "streaming_decay_trend": (
        "Scan → JSON parse → scoring/decay expressions (all codegen'd "
        "projections) → windowed partial/final aggregate → TakeOrdered. "
        "The reference's whole semantic pipeline, one shuffle."
    ),
    "dedup_minhash": (
        "Shingle explode → one groupBy computing all 16 min-hashes → "
        "band explode → self-equi-join on (band, hash) → semi-join-pruned "
        "exact verify. Every join is hash-partitioned; nothing is O(n²)."
    ),
    "sim_search": (
        "The probe set broadcasts (BroadcastNestedLoopJoin over 3 rows ≈ "
        "a map-side loop); the corpus streams through once; rank uses the "
        "rounded similarity for cross-engine-stable selection."
    ),
    "trend_rising": (
        "Windowed count (one keyed shuffle, partial agg map-side) feeds "
        "an analytic ROWS frame per key — the trailing baseline costs no "
        "self-join — then a per-window rank. Ranking trending hashtags "
        "over 100 TB of posts is this same two-shuffle plan."
    ),
    "pack_sequences": (
        "One hash Exchange on the bucket key, then per-bucket sort + "
        "running-sum window + floor-div projection — packing parallelism "
        "equals the bucket count, so the plan never global-sorts and the "
        "same shape runs with thousands of buckets on a cluster."
    ),
    "asof_join": (
        "Union of tagged sides → single shuffle on user_id → sort → "
        "`last(ignorenulls)` carry-forward. As-of semantics without a "
        "pair-exploding inequality join."
    ),
    "join_skewed": (
        "The 5-row dim explodes ×8 salts and broadcasts; the big side "
        "joins on (event_type, xxhash64-derived salt), spreading each "
        "hot key over 8 shuffle buckets. Results are bit-identical to "
        "the unsalted join — only the partition histogram changes."
    ),
    "entity_counts": (
        "ArrowEvalPython is the single Python touchpoint (one Arrow "
        "batch pass for entity extraction); explode → partial/final "
        "count → TakeOrdered are all JVM-side, so the plan's Python "
        "cost is one scan regardless of corpus size."
    ),
    "grouping_sets_agg": (
        "All three grouping sets expand in a single Expand operator "
        "feeding one partial/final aggregate pair — one scan and one "
        "shuffle however many sets are requested."
    ),
    "upsert_scd1": (
        "No join: both MERGE sides compact in one aggregation via "
        "max_by with side-conditional ordering keys, so the plan is "
        "one scan, a map-side partial aggregate, and a single key "
        "exchange carrying ≤2 compacted payloads per key — below the "
        "two-scan/two-shuffle cost of the windowed-join formulation."
    ),
    "funnel_conversion": (
        "All four funnel levels share one window spec, so Catalyst "
        "stacks the Window operators over a single Exchange+Sort; the "
        "per-user aggregate reuses that partitioning (no second "
        "exchange before the final single-row reduce). One scan total "
        "vs ~10 for the equivalent correlated-CTE chain."
    ),
    "rollup_two_level": (
        "The daily aggregate consumes the hourly aggregate's output "
        "relation — one scan, two partial/final aggregate levels. The "
        "hourly sums stay exact decimal, so re-aggregation is lossless "
        "(the continuous-aggregate contract)."
    ),
    "window_distribution": (
        "ntile/percent_rank/cume_dist evaluate in one Window operator "
        "over a single Exchange+Sort on user_id — the whole empirical-"
        "CDF family costs one shuffle."
    ),
    "ngram_jaccard": (
        "ONE corpus-sized shuffle builds the cached per-doc shingle-set "
        "relation (collect_set of 8-byte xxhash64 keys); the flat "
        "relation, document-frequency counts, inverted-index self-join, "
        "and verification sets all derive from that cache — no second "
        "distinct shuffle, and every moved key is a long, never a "
        "shingle string."
    ),
    "winnow_fingerprints": (
        "Zero Exchange operators: the k-gram hash sequence, sliding-"
        "frame minima, and distinct selection are all higher-order "
        "functions inside one codegen'd projection, so fingerprinting "
        "runs at scan speed and the (doc_id, fp) output co-partitions "
        "with the input for a downstream inverted-index join."
    ),
    "gapfill_locf": (
        "The raw table is aggregated once; everything after operates on "
        "|types × buckets| rows — the spine generates from a broadcast "
        "1-row bounds relation, the actuals BROADCAST into the left "
        "join, and LOCF is one Window over the bucket relation. "
        "Gap-filling prices like the rollup it decorates at any corpus "
        "size."
    ),
    "fuzzy_token_join": (
        "The deletion-neighborhood explode is linear (len+1 variants "
        "per token) and candidate generation is a hash EQUI-join on the "
        "variant string — the O(vocab²) cross join the brute-force "
        "oracle runs appears nowhere in this plan; levenshtein "
        "evaluates only on the candidate relation."
    ),
    "sql_tpch_q3": (
        "Both date predicates reach their scans as PushedFilters, the "
        "BUILDING-filtered customer side and the orders side broadcast "
        "onto the lineitem probe (two BroadcastHashJoins, zero "
        "SortMergeJoins), and the top-10 is TakeOrderedAndProject — "
        "per-partition heaps, never a global sort of the join output."
    ),
    "bm25_rank": (
        "The exploded token relation is filtered to the query terms "
        "before its aggregate shuffles, so tf moves O(matching docs × "
        "terms) rows; df derives from the materialized tf relation "
        "(no second corpus scan); the corpus scalars broadcast as one "
        "row; and the top-k is TakeOrdered with the rank Window running "
        "AFTER the limit, on ≤ k rows."
    ),
    "cms_window_probe": (
        "Sketch build and probe are ONE plan: count_min_sketch "
        "aggregates per window executor-side, and probe_sketches "
        "(Arrow mapInPandas) deserializes each KB-sized binary where it "
        "lives — estimates never transit the driver, so there is no "
        "window-count bound anywhere."
    ),
    "rolling_median": (
        "percentile(0.5) evaluates as a window aggregate over a ROWS "
        "frame: one hash Exchange on user_id, one sort, no self-join — "
        "the naive formulation joins each row to its 9 predecessors."
    ),
    "attribution_last_touch": (
        "A conditional running max(struct(ts, event_id, event_type)) "
        "with frame ending at the previous row carries 'latest touch so "
        "far' through each user's stream — one scan, one key shuffle, "
        "one sort for the whole attribution, vs a correlated per-"
        "purchase lookup that re-scans the stream per conversion."
    ),
    "decontaminate_ngram": (
        "Per-doc distinct n-gram sets are ONE row-local higher-order "
        "projection (transform over a sequence — no corpus-sized "
        "explode of duplicate grams); the benchmark slice's gram set "
        "is a BroadcastExchange, so the contamination check is a "
        "BroadcastHashJoin at scan speed — the only shuffles are the "
        "benchmark-side distinct (benchmark-sized) and the final "
        "per-doc count (output-sized). At 100 TB the corpus-gram "
        "relation never exchanges."
    ),
    "histogram_numeric": (
        "Pass 1 reduces the corpus to one (min, max) row "
        "(map-side-partial HashAggregate pair); the bounds broadcast "
        "as 16 bytes; pass 2 derives each row's bucket arithmetically "
        "and aggregates into O(buckets) cells — the shuffle carries "
        "20 cells per map task regardless of corpus size."
    ),
    "sql_tpch_q18": (
        "The HAVING-cut per-order aggregate (partial+final "
        "HashAggregate around one Exchange) becomes the ~1%-selective "
        "build side, broadcast onto orders and customer; the top-100 "
        "is TakeOrderedAndProject. The full lineitem relation shuffles "
        "only 16-byte (orderkey, qty-partial) pairs."
    ),
    "retention_cohort": (
        "Both join inputs reduce to per-user grain BEFORE the join "
        "(min-ts cohort on one side, distinct active weeks on the "
        "other), so the join is a co-partitioned equi-join of two "
        "already-aggregated relations and the final cell count "
        "shuffles O(cohorts × offsets) rows — never events × events."
    ),
    "event_transitions": (
        "One Exchange+Sort on user_id feeds the lag window, the "
        "(from, to) count collapses to at most |types|² cells with a "
        "map-side partial, and the probability normalization windows "
        "over that 25-row relation — a single scan end to end."
    ),
    "sql_tpch_q5": (
        "The full snowflake: every dimension chain "
        "(region→nation→customer, supplier) lands as a "
        "BroadcastHashJoin onto the lineitem probe — the fact table is "
        "never shuffled pre-aggregation — and the o_orderdate range is "
        "in the orders scan's PushedFilters. The "
        "s_nationkey = c_nationkey residual rides the supplier join as "
        "a second key."
    ),
    "interval_overlap": (
        "The sweep-line shape: a 2-rows-per-event Expand (never an "
        "interval self-join), ONE Exchange on event_type feeding the "
        "running-sum window, then a map-side-partial max per type. "
        "Concurrency analytics at any scale is this one shuffle."
    ),
    "window_range_frame": (
        "A single Exchange+Sort on user_id; the RANGE frame over "
        "unix_micros bounds the trailing hour inside the sorted "
        "partition — no window explode, no self-join, and the decimal "
        "sum keeps the measure order-independent."
    ),
    "dedup_minhash_check": (
        "The planted-twin union is a narrow projection over the seed "
        "slice; the MinHash pipeline itself is the production plan — "
        "signature groupBy, band explode, bucket equi-join, Jaccard "
        "verify on candidates only — so the recall gate certifies the "
        "exact plan a 100 TB corpus would run."
    ),
    "theta_overlap_check": (
        "Two bounded relations meet: theta sketches aggregate once "
        "over the corpus (mergeable, map-side partial) while the exact "
        "twin self-joins the distinct (segment,user) relation on "
        "user_id — both shuffles are keyed on low-cardinality or "
        "user-sized keys, and the pairwise math runs on O(segments²) "
        "rows."
    ),
    "ewma_smooth": (
        "One Exchange+Sort on user_id; collect_list over the 10-row "
        "frame is bounded state per row, and the weighted fold is a "
        "pure projection — higher-order functions, no Python, no "
        "second shuffle."
    ),
    "sql_tpch_q10": (
        "Fact-side selectivity: the returnflag predicate and the "
        "quarter range land in PushedFilters on their own scans, the "
        "4-table join broadcasts every dimension, and the per-customer "
        "aggregate folds map-side-partial before the top-20 "
        "TakeOrderedAndProject."
    ),
    "skyline_pareto": (
        "Local-skyline-then-merge: one balanced Exchange on "
        "spark_partition_id feeds three windows sharing a single sort "
        "(running max, run-first lag, ignorenulls carry) that drop "
        "locally-dominated rows; the global per-price running max then "
        "orders only the candidate frontier — never a single-task "
        "O(rows) sort over near-unique prices."
    ),
    "sql_tpch_q4": (
        "The correlated EXISTS decorrelates to a LeftSemi "
        "BroadcastHashJoin: the returned-lines predicate filters the "
        "inner scan BEFORE the join (PushedFilters on l_returnflag) "
        "and the quarter range prunes orders — no per-outer-row "
        "re-scan, no duplicate-producing inner join."
    ),
    "sql_tpch_q13": (
        "The ON-clause priority predicate stays on the ORDERS scan so "
        "zero-order customers survive null-extended through the outer "
        "join; per-customer counts fold map-side, and the "
        "count-of-counts histogram aggregates an O(|distinct counts|) "
        "relation."
    ),
    "sql_tpch_q17": (
        "The per-part scalar AVG decorrelates to aggregate-then-join: "
        "lineitem is scanned exactly twice (fact + avg build), the "
        "brand filter pushes to part and broadcasts, and the final "
        "exact-decimal scalar folds map-side-partial."
    ),
    "sql_tpch_q19": (
        "The OR-of-ANDs splits: each side's disjunct union lands in "
        "its own scan's PushedFilters (lineitem reads quantity ∈ "
        "[1,30], part only the three brands), the residual mixed-side "
        "disjunction evaluates post-join on pre-pruned rows."
    ),
    "sql_tpch_q22": (
        "NOT EXISTS plans as LeftAnti over the urgent-orders scan "
        "(priority pushed); the two scalar subqueries evaluate once "
        "and enter the filter as literals — the mean-balance cut "
        "compares exact decimals, so no boundary row can flip."
    ),
    "ann_ivfpq_check": (
        "One Arrow-batched encode pass emits (cell, PQ codes) per "
        "vector; probes hit their nprobe cells via a broadcast "
        "equi-join on cell id (≈ nprobe/K of the codes scored, never "
        "the corpus), and ADC scoring is a JVM "
        "aggregate(zip_with(codes, lut)) — vectors are read exactly "
        "once."
    ),
    "merge_roundtrip": (
        "Copy-on-write MERGE: base and changelog each compact in one "
        "max_by aggregation pass, affected partitions resolve via "
        "left-semi/anti joins on the compacted key set, and the "
        "dynamic-partition-overwrite rewrite touches only those "
        "directories — the untouched ones keep their files verbatim."
    ),
    "file_skipping_check": (
        "The 6-day range becomes PartitionFilters on p_date — "
        "directory-level pruning before any row is decoded; the "
        "aggregate counts the distinct source files of the surviving "
        "rows against the on-disk total, and the oracle pins both "
        "arithmetically."
    ),
    "bucketed_write_join": (
        "Both scans report the bucketBy(custkey) output partitioning, "
        "so the SortMergeJoin has NO Exchange on the join key — the "
        "write paid the shuffle once; every subsequent join of these "
        "tables is shuffle-free (plan-asserted in "
        "test_plan_properties)."
    ),
    "sql_tpch_q21": (
        "The heaviest TPC-H join shape: lineitem correlated against "
        "itself twice — the EXISTS decorrelates to a LeftSemi and the "
        "NOT EXISTS to a LeftAnti, both hash joins on the SAME "
        "l_orderkey key, so the three lineitem occurrences "
        "co-partition under one shuffle; supplier and nation "
        "broadcast; the returnflag late-marker predicate is pushed "
        "into both the outer and the anti-side scans."
    ),
    "bpe_merge_rounds": (
        "The corpus appears in NO scan — the word-frequency relation "
        "was localCheckpointed once and both unrolled merge rounds "
        "plan against materialized vocab relations; each round is a "
        "vocab-sized pair aggregation, a 1-row TakeOrdered argmax, "
        "and a BroadcastNestedLoop of that single scalar row back "
        "onto the vocab for the fixpoint replace."
    ),
    "inverted_index_build": (
        "One Exchange total: the explicit term repartition satisfies "
        "the pair-dedup, the row_number posting cap AND the final "
        "ObjectHashAggregate clustering requirements, so dedup, cap "
        "window and aggregation all run inside the same shuffle "
        "stage; the posting head is bounded to 50 ids BEFORE "
        "collect_list, so no task materializes a stopword's full list."
    ),
    "incremental_agg_maintain": (
        "Exactly two parquet scans — the base slice and the delta "
        "slice — each with a partial+final HashAggregate pair; the "
        "algebraic merge of the two partial relations is a third "
        "aggregation over O(groups) rows. The unified history is "
        "never re-read: maintenance cost is O(delta + groups)."
    ),
    "txn_log_snapshot_read": (
        "The read side of the manifest transaction log: the scan node "
        "lists EXACTLY the 4 files of the committed v2 snapshot (6 "
        "parquet files physically exist under the table — the 2 "
        "superseded by the purge rewrite are invisible because the "
        "manifest, not a directory listing, names the snapshot), then "
        "a partial+final HashAggregate pair and the broadcast 1-row "
        "version/file-count scalar relation."
    ),
    "stream_cdc_apply_live": (
        "The serving read after the 3-micro-batch foreachBatch drain: "
        "the scan lists exactly the files of the LATEST txnlog state "
        "commit (each micro-batch landed as one atomic manifest swap; "
        "superseded per-batch states remain readable by version), "
        "with the tombstone filter pushed into the scan, then "
        "partial+final aggregation. The load-bearing plan is the "
        "PER-BATCH compaction inside foreachBatch — one scan, one key "
        "Exchange, partial_max_by before it, no join — pinned by "
        "test_cdc_compact_is_joinless_single_shuffle."
    ),
    # ---- round-8 headliners ----
    "boilerplate_lines": (
        "Two shuffles, both bounded by the LINE relation (distinct "
        "(doc,line) for the df counts, doc_id for reassembly); the "
        "boilerplate set (df > k) is tiny by definition and broadcasts "
        "back onto the line relation. The fact table is exploded once."
    ),
    "curate_for_training": (
        "The whole gate→redact→clean→dedup→split capstone is ONE plan: "
        "every gate is a pushable scan-side expression, the only wide "
        "exchange is the dedup groupBy on md5 fingerprints, and the "
        "portable-hash split adds zero shuffles."
    ),
    "txn_log_vacuum_check": (
        "Vacuum is pure driver-side manifest arithmetic (no Spark job); "
        "the plan shown is the post-vacuum snapshot read — an explicit "
        "file-list scan + one hash aggregation, identical to the "
        "pre-vacuum plan because vacuum may not move live bytes."
    ),
    "txnlog_cdf_read": (
        "Each commit contributes a scan of ONLY its added/removed file "
        "sets (never the snapshot) and one keyed full-outer diff; the "
        "union of per-version change sets is |changes|-sized — the CDC "
        "contract at any corpus size."
    ),
    "psi_drift": (
        "Two hash aggregations (bin counts, totals) over one scan; the "
        "bounds and totals relations are 1-row broadcasts, so the PSI "
        "of a 100 TB feature column costs one pass + O(bins) rows of "
        "shuffle."
    ),
    "ks_test_check": (
        "The CDF window runs over the |distinct values| relation, not "
        "the row count — the per-value conditional-count aggregation "
        "is the only corpus-sized stage; the single-partition window "
        "is O(support), acceptable at any SF because the support is "
        "value-domain-bounded."
    ),
    "aqe_skew_join_check": (
        "Plan shown is the scoped-conf shuffle join; at runtime AQE "
        "splits the hot partition by map-index range (skew=true in the "
        "executed plan — asserted in-gate). The 16-mapper repartition "
        "exists because a single-mapper shuffle physically cannot split."
    ),
    "cbo_reorder_check": (
        "With column statistics in the catalog, the CBO reorderer "
        "rewrites the fact-first syntactic join tree dims-first, so the "
        "fact relation flows through ONE join instead of two — the "
        "introspected order flip is the gate's boolean."
    ),
    "theta_segment_overlap": (
        "One corpus-sized aggregation builds the per-segment sketches; "
        "every pairwise intersection/union/Jaccard is sketch-on-sketch "
        "over the O(segments) relation (broadcast self-join) — never a "
        "shuffle per pair."
    ),
    "kll_quantile_rollup": (
        "Per-group KLL sketches absorb the corpus map-side; the "
        "__total__ row MERGES the group sketches (O(groups) rows) "
        "without re-touching data — the re-aggregable percentile "
        "contract."
    ),
    "recursive_cte_reach": (
        "The recursion (UnionLoop) iterates over the O(types²) edge "
        "relation derived once from the corpus — node-graph-sized "
        "state per step, the corpus scanned exactly once."
    ),
    "gapfill_linear": (
        "The spine explode + left join + two ignore-nulls window "
        "passes all run on the |types × buckets| rollup (materialized "
        "once); the fact table contributes one aggregation scan."
    ),
    "bpe_encode_check": (
        "The merge chain (argmax + broadcast 1-row rule per round) "
        "runs entirely on the |vocab| relation; the corpus appears "
        "exactly twice — the word-frequency collapse and the final "
        "explode-join-aggregate — so encode cost is one corpus pass "
        "plus vocab-sized work, the production tokenizer shape."
    ),
    "zorder_skipping_check": (
        "The Morton key is pure shift/and/add on longs (whole-stage "
        "codegen, no UDF); repartitionByRange + sortWithinPartitions "
        "cluster both dimensions at once, and the audit itself is one "
        "scan with input_file_name — no join, no second pass."
    ),
    "scd2_history": (
        "One scan, ONE (user_id, event_type) exchange reused by the "
        "change-flag window, the running-sum version ordinals, the "
        "island aggregation (keys extend the partitioning — no "
        "re-shuffle), and the lead() range close; no join anywhere. "
        "Pinned by test_scd2_history_single_exchange."
    ),
    "bigram_perplexity": (
        "Bigrams never shuffle to form: zip_with over the shifted "
        "token array builds pairs row-locally and explodes once. The "
        "three LM relations (bigram counts, context re-aggregation, "
        "unigram counts) are vocab-sized; the corpus-sized side "
        "touches exactly one join against the small probs relation "
        "(AQE broadcasts it at fixture scale; at 100 TB it is a "
        "shuffle join whose build side is orders of magnitude "
        "smaller) plus one doc_id aggregation."
    ),
    "containment_check": (
        "The inverted-index dedup economics: the per-doc shingle-set "
        "relation is built in ONE corpus shuffle; document-frequency "
        "pruning keeps stop-shingles out of the candidate self-join "
        "(df ≤ 10, so join fan-out is bounded per shingle, never "
        "quadratic in docs); exact array_intersect verification "
        "touches only candidate pairs after a left-semi prune of the "
        "set relation. Same plan shape as ngram_jaccard with string "
        "shingles so the oracle can replay it; the corpus-scale "
        "deployment swaps in xxhash64 shingles unchanged."
    ),
    "copurchase_lift": (
        "Market basket with NO corpus self-join: the brand dim "
        "broadcasts onto the fact scan, ONE ObjectHashAggregate "
        "exchange builds per-order baskets (width bounded by the "
        "25-brand dimension), and pairs explode JVM-side from the "
        "basket array via nested `transform` — the pair relation is "
        "dim²-bounded before it ever shuffles. Marginals and the "
        "basket count are re-aggregations of the cached baskets; all "
        "joins below are broadcasts."
    ),
    "collocation_llr": (
        "One corpus pass materializes bigram counts (Generate over a "
        "row-local `transform(sequence(...))` — no per-doc window, no "
        "shuffle before the count agg); both margins and N are tiny "
        "re-aggregations broadcast back. The nine k·ln k terms are "
        "scalar expressions inside one codegen stage."
    ),
    "survival_km": (
        "Two hash aggregations collapse the corpus (per-user last day, "
        "then per-day death counts); the at-risk suffix sum, hazard and "
        "the exp-of-summed-logs product run as windows over the "
        "days-sized relation on one task — bounded by the calendar, "
        "not the corpus."
    ),
    "changepoint_cusum": (
        "One corpus-sized hash aggregate to (type, day) counts; the "
        "per-type moment rollup broadcasts back and the CUSUM running "
        "sum + argmax windows execute on the days×types relation. "
        "The deviation is cum_n − i·x̄ over exact integers, so no "
        "float accumulation order exists anywhere in the plan."
    ),
    "bootstrap_ci_mean": (
        "The ×⌈B/8⌉ hash fan feeds ONE codegen'd HashAggregate whose "
        "partial phase collapses every partition to ⌈B/8⌉ keys × 16 "
        "cells — the only shuffle moves those cells, never the fanned "
        "rows. The eight replicate lanes per digest are fixed-width "
        "hex comparisons inside the aggregate expressions: no conv, "
        "no lane explode, no per-replicate md5."
    ),
    "tfidf_cosine_pairs": (
        "The shingle relation is hashed to 8-byte longs before its "
        "first shuffle and materialized once for tf/df/norms; "
        "candidates come only from postings with df ≤ 10 (rare-"
        "shingle self-join), and the exact dot product joins full "
        "postings through that candidate relation — pruning bounds "
        "the pair count, never a surviving score. Top-k compiles to "
        "TakeOrderedAndProject."
    ),
    "rolling_active_users": (
        "Rolling COUNT(DISTINCT) decomposed as bounded replication: "
        "each distinct (user, day) votes into 7 window days via "
        "posexplode, then ONE hash aggregate keyed on the date — "
        "linear in corpus×span with map-side partials, instead of a "
        "per-day self-join or a single-partition window."
    ),
    "embed_random_projection": (
        "posexplode to (vec, dim) components, an 8-row broadcast lane "
        "spine, and ONE (vec, lane) hash aggregate of decimal terms — "
        "shuffle rows = corpus×k after map-side combine. The ±1 "
        "matrix is md5 parity evaluated inline: nothing is "
        "materialized or driver-resident at any d."
    ),
    # --- round 11 ---
    "kruskal_wallis": (
        "ONE (value, type) hash aggregate collapses the corpus; the "
        "global rank cumsum is the range-partitioned `functions.ranks.range_cumsum` "
        "(per-partition running sums + broadcast offsets — no "
        "unpartitioned window anywhere), and the k-group H terms fold "
        "as 6-dp decimals so H is group-order-independent."
    ),
    "permutation_test_mean": (
        "The bootstrap layout reused: explode ×⌈B/8⌉, one md5 per "
        "group, eight 16-bit lanes as conditional aggregates, map-side "
        "combine to O(B) cells. The Bernoulli relabel is ONE "
        "lexicographic string compare against the broadcast hex "
        "threshold — a per-lane radix parse measured 35% slower."
    ),
    "cuped_adjusted_ab": (
        "Two keyed aggregations: user-level (x, y) in exact decimal, "
        "then arm-level sufficient statistics (five DECIMAL(38,4) "
        "folds). θ and every readout are scalar algebra over a 1-row "
        "broadcast — the corpus is scanned once, shuffled once on "
        "user_id."
    ),
    "paragraph_dedup": (
        "posexplode to the (doc, idx, segment-fp) relation "
        "(materialized once), ONE fp-keyed distinct-doc aggregation "
        "for the df (postings-sized), an equi-join back, and a "
        "doc-keyed rollup that reassembles kept text in segment order "
        "— never corpus², no driver data path."
    ),
    "ccnet_perplexity_buckets": (
        "unigram_perplexity's vocab-sized LM relation feeds per-doc "
        "bits (localCheckpointed once); the tercile cutoffs are exact "
        "order statistics located on the DISTINCT-bits relation via "
        "the range-partitioned cumsum and broadcast back as two "
        "scalars — no global row_number over the corpus."
    ),
    "holt_winters_dow": (
        "One corpus aggregation to (type, day) counts, then the "
        "triple-exponential recurrence per series in applyInPandas — "
        "state is two Decimals and a 7-slot ring; at 100 TB series "
        "count bounds parallelism and each group is calendar-sized."
    ),
    "isotonic_daily_fit": (
        "Same layout as the Holt family: daily rollup + per-series "
        "PAVA in applyInPandas (O(n) block merges, integer "
        "cross-multiplied violation tests). The registered projection "
        "is hash-gated through the minimax identity — the oracle "
        "replays fits without replaying the pooling order."
    ),
    "user_activity_islands": (
        "distinct (user, day) → day − row_number island key → island "
        "rollup → user rollup: all four steps partition on user_id, "
        "so ONE exchange serves the whole operator."
    ),
    "window_group_limit_check": (
        "The executed plan contains WindowGroupLimit below the "
        "exchange: each map task keeps a per-group top-3 heap, so the "
        "shuffle carries O(groups·k) rows instead of the full corpus "
        "— the leaderboard-vs-full-sort difference at 100 TB."
    ),
    "nested_prune_check": (
        "ReadSchema on the struct parquet is exactly "
        "struct<meta:struct<a:string>> — the untouched double and the "
        "wide JSON payload never leave the footer. The typed-metadata "
        "multimodal layout scales BECAUSE of this rule."
    ),
    "item_cf_neighbors": (
        "baskets form in ONE collect_set keyed on the order; pairs "
        "are generated JVM-side from each bounded basket array — no "
        "corpus self-join anywhere — and the per-item top-3 rank "
        "window executes as a WindowGroupLimit (per-group heaps "
        "before the shuffle)."
    ),
    "brown_forsythe_test": (
        "group medians come from per-group windows over the "
        "distinct-value relation, |x − med| deviations fold as 6-dp "
        "decimals into five per-group cells, and W is scalar algebra "
        "over a broadcast 1-row total — two corpus scans, both "
        "hash-aggregated."
    ),
    "shuffle_reuse_check": (
        "the twice-referenced rollup materializes ONE exchange: the "
        "second SMJ child is a ReusedExchange pointer at the first's "
        "shuffle output — visible in the executed plan the gate pins. "
        "Both sides consume the full aggregate output on purpose; "
        "prune a column from either and column pruning rewrites that "
        "subtree, the canonical forms diverge, and the reuse (and the "
        "saved fact-table scan) silently disappears."
    ),
    "weighted_sample_aes": (
        "scan → row-local E-S key projection → TakeOrderedAndProject: "
        "the weighted sample adds ZERO shuffle — per-partition k-row "
        "heaps and one k-row reduce, the same plan at 60k rows and "
        "100 TB."
    ),
    "mood_median_test": (
        "the grand median is the k = ⌈n/2⌉ order statistic over the "
        "distinct-value relation via the range-partitioned cumsum — no "
        "unpartitioned window anywhere; the k×2 contingency is one "
        "count_if aggregation with the verdict broadcast back."
    ),
}


def main() -> None:
    spark = get_spark("plan-dump", master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = "/root/testdata/sf0.01"

    out = [
        "# Physical plans — headline queries",
        "",
        "Generated by `tools/dump_plans.py` (sf0.01, AQE disabled for "
        "readable codegen/join annotation; AQE is ON in production and "
        "only improves these plans at runtime). `*(n)` marks whole-stage-"
        "codegen'd operators.",
        "",
    ]
    for name, commentary in HEADLINERS.items():
        df = QUERIES[name](spark, sf_dir)
        # Each query plans on its own child session: turn AQE off there.
        df.sparkSession.conf.set("spark.sql.adaptive.enabled", "false")
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
        )
        out += [f"## {name}", "", commentary, "", "```", plan.strip(), "```", ""]

    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "docs", "PLANS.md")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        fh.write("\n".join(out))
    print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
