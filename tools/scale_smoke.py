#!/usr/bin/env python
"""sf1 scale smoke for the heavy operator families (VERDICT r5 #7).

The driver provides sf0.001/0.01/0.1 only, so this tool synthesizes a
deterministic 10x tier ("sf1") from sf0.1 into a temp dir and times the
dedup / ANN / streaming-state families at both tiers, recording
``SCALE_SMOKE_sf1.json``. The check: no query may exceed
``RATIO_LIMIT`` (10) times its sf0.1 time — i.e. the documented
O(n)-ish scale claims hold through one decade, with no
broadcast-threshold cliffs or state blowups.

Synthesis (seeded, reproducible):
- documents: 10 copies; copy k > 0 maps every letter through a
  copy-specific alphabet rotation — a bijection, so each copy
  preserves the original's intra-copy dup/near-dup structure and BYTE
  COUNT exactly while sharing no vocabulary across copies (vocab
  scales 10x, pair counts scale 10x — NOT 100x, matching how a real
  10x corpus behaves for bucketed dedup). Byte-neutrality matters:
  a suffix-based perturbation inflated per-doc bytes ~40% and pushed
  scan-bound ops past the ratio limit for fixture reasons, not
  operator reasons.
- embeddings: 10 copies; copy k > 0 re-normalized after adding seeded
  N(0, 0.05) noise — stays the isotropic worst case.
- events: 10 copies; event_id/user_id offset per copy (per-user
  timeline lengths unchanged, 10x users, 10x density in the same time
  range — how event traffic actually grows).

Run: ``python tools/scale_smoke.py [query ...]`` (defaults to the
heavy-family list). Writes the JSON sidecar at the repo root.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

COPIES = 10
RATIO_LIMIT = 10.0
SRC = "/root/testdata/sf0.1"

HEAVY_QUERIES = [
    # dedup family
    "dedup_exact",
    "dedup_minhash",
    "dedup_simhash",
    "ngram_jaccard",
    "dedup_clusters",
    "winnow_fingerprints",
    "decontaminate_ngram",
    "fuzzy_token_join",
    # ANN / similarity family
    "sim_search",
    "ann_ivf",
    "ann_recall_check",
    "embed_neardup",
    "embed_pq_check",
    "embed_pca_check",
    # streaming-state family
    "running_counts_live",
    "stateful_decay_live",
    "stream_join_live",
    "stream_session_live",
    # round-6 additions with non-trivial shuffles/LSH pipelines
    "dedup_minhash_check",
    "dedup_simhash_check",
    "repetition_signals",
    "interval_overlap",
    "ewma_smooth",
    "theta_overlap_check",
    # round-7 additions on the synthesized tables
    "ann_ivfpq_check",
    "merge_roundtrip",
    "stateful_decay_live_v2",
    # round-7 second batch (cdc_snapshot_diff reads orders — TPC-H
    # tier, covered by bench)
    "unigram_perplexity",
    "pagerank_fixed",
    "semdedup_check",
    "stream_outer_join_live",
    # round-7 third/fourth batch on the synthesized tables
    "bpe_merge_rounds",
    "inverted_index_build",
    "anomaly_mad",
    "mor_read_view",
    "compact_small_files",
    "stream_dedup_within_wm_live",
    # round-7 fifth batch
    "incremental_agg_maintain",
    "pandas_udaf_gini",
    "python_datasource_scan",  # sf-independent generator: ratio ≈ 1 expected
    # round-7 sixth batch: side-effecting lakehouse/streaming heavies
    # on the synthesized events tier
    "txn_log_snapshot_read",
    "stream_cdc_apply_live",
    # round-8 additions: txnlog lifecycle, curation heavies, tuned
    # similarity checks, corpus-level boilerplate removal
    "txn_log_vacuum_check",
    "txnlog_cdf_read",
    "txnlog_schema_evolve",
    "curate_for_training",
    "boilerplate_lines",
    "embed_neardup_check",
    "split_train_val_test",
    # round-8 eighth batch: tokenizer encode (corpus join + vocab
    # merge chain), Morton-layout write+audit, SCD-2 islands
    "bpe_encode_check",
    "zorder_skipping_check",
    "scd2_history",
    # round-9 additions: bigram LM (corpus-sized token/bigram aggs),
    # BPE-budgeted packing (vocab encode + corpus join + window),
    # containment dedup (shingle df prune + candidate self-join),
    # watermark late-audit drain, txnlog OCC race + spec evolution
    "bigram_perplexity",
    "pack_sequences_bpe",
    "containment_check",
    "incremental_dedup_check",
    "stream_late_audit",
    "txnlog_concurrent_commit",
    "txnlog_partition_evolve",
    # round-9 continuation: G² collocations (corpus bigram agg), the
    # CUSUM/QI/scaling events aggs (one corpus hash agg each, scaling
    # joined back to the corpus), per-domain capping (corpus window),
    # and timestamp time travel (3 txnlog writes on synthesized events)
    "collocation_llr",
    "changepoint_cusum",
    "k_anonymity_check",
    "standardize_features",
    "cap_per_key",
    "txnlog_time_travel",
    "survival_km",
    "stream_topk_live",
    # round-10 core batch: kill-and-resume recovery (two real query
    # instances over one checkpoint on synthesized events), the
    # planted-twin dedup/multimodal gates, md5-portable sampling
    "stream_restart_recovery_live",
    "ngram_jaccard_check",
    "multimodal_pipeline_check",
    "sample_mixture",
    # round-10 second batch on the synthesized tiers: corpus window
    # winsorization, normalize-then-fingerprint dedup, shingle-df
    # novelty, double-window attribution, per-series Holt recurrence,
    # txnlog RESTORE/OPTIMIZE (synthesized-events writes)
    "winsorize_features",
    "dedup_exact_normalized",
    "ngram_novelty_score",
    "attribution_position_based",
    "holt_linear_forecast",
    "txnlog_restore_version",
    "txnlog_compact_files",
    # round-10 fourth batch: ×⌈B/8⌉ hash fan bootstrap, shingle-postings
    # cosine pairs, ×8-lane JL projection, date-replicated rolling
    # distinct, per-value rank-sum, zero-shuffle chunking
    "bootstrap_ci_mean",
    "tfidf_cosine_pairs",
    "embed_random_projection",
    "rolling_active_users",
    "mann_whitney_u",
    "doc_chunking",
    # round-11 additions: k-group ranks (range-partitioned cumsum),
    # the ×⌈B/8⌉ hash-fan randomization test, user-keyed CUPED
    # moments, the islands window, segment-explode paragraph dedup,
    # LM + tercile cutoffs, vocab LM log-ratios, per-series HW/PAVA
    # recurrences, and the rate-limited multi-batch drain
    "kruskal_wallis",
    "permutation_test_mean",
    "cuped_adjusted_ab",
    "user_activity_islands",
    "paragraph_dedup",
    "ccnet_perplexity_buckets",
    "dsir_importance_weights",
    "holt_winters_dow",
    "isotonic_daily_fit",
    "stream_rate_limited_live",
    "tokenizer_fertility",
    "nested_prune_check",
    # round-11 fourth batch: Brown-Forsythe over synthesized events
    # (item_cf_neighbors reads the TPC-H lineitem tier - bench covers
    # it, the copurchase_lift precedent)
    "brown_forsythe_test",
    "pacf_daily",
    # (copurchase_lift / triangle_count / ab_test_welch read the TPC-H
    # lineitem tier, which this tool does not synthesize — bench covers
    # them; the remaining round-9 rows are scan-speed or days-relation
    # arithmetic.)
    # (mask_pii/lang_id_multi/decode_audio_meta/resize_images are
    # scan-speed or fixed-size mapInPandas rows — covered by bench;
    # aqe_skew_join_check/cbo_reorder_check read the TPC-H/derived
    # tables the synthesized tier does not include.)
    # (bucketed_write_join, skew_profile, target_encoding,
    # expectations_check, runtime_filter_join and the TPC-H suite read
    # the TPC-H tables, which the synthesized tier does not include —
    # covered by bench. udtf_bigram_topk is a deliberately linear
    # Python path whose 10× ratio would sit AT the limit by
    # construction; its cost model is documented in bench/BASELINE.)
    # round-12 additions on the synthesized tiers: keyed D-L/ SES /
    # power-iteration recurrences, the gap-bounded funnel's user-keyed
    # joins, corpus-law fits (vocab window + range_cumsum prefix),
    # rank post-hoc pairs, NDCG's corpus-vs-probes scan, and the
    # bloom-sidecar build+probe (4 txnlog writes + per-file scans).
    # (cohort_ltv_curves / adamic_adar_linkpred read the TPC-H
    # orders/lineitem tier — covered by bench, the copurchase
    # precedent.)
    "pacf_by_type",
    "funnel_k_step",
    "ab_power_mde",
    "zipf_fit_slope",
    "heaps_law_fit",
    "wilson_ci_proportion",
    "sprt_monitor",
    "ndcg_at_k",
    "markov_steady_state",
    "theta_method_forecast",
    "dunn_posthoc",
    "txnlog_bloom_skipping",
    # round-12 fourth batch: the discrete-median cumsums (mood /
    # cochran ride the full distinct-value relation), the probes-vs-
    # corpus retrieval eval, and the corpus-wide E-S top-k.
    "mood_median_test",
    "cochran_armitage_trend",
    "mrr_map_at_k",
    "weighted_sample_aes",
    # round-12 fifth batch: the basket-pair edge build + 6 label-
    # propagation rounds (the heaviest iterative plan of the round)
    # and the distinct-revenue Gini cumsum.
    "connected_components",
    "lorenz_gini",
    # round-12 sixth batch: the corpus x |langs| scoring explode is
    # the round's heaviest text plan.
    "naive_bayes_lang",
]


#: Row-group size for the synthesized tier. The driver fixtures are
#: single-row-group files (atomic: one scan task no matter the size);
#: a real 10x corpus arrives as more/larger splittable files, so the
#: synthesized tier is written in row groups and the smoke session
#: lowers maxPartitionBytes so scans parallelize — measuring the
#: operators' scaling, not the fixture packing.
ROW_GROUP = 5000


def synthesize(out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    marker = os.path.join(out_dir, "_SF1_DONE_v2")
    if os.path.exists(marker):
        return

    # documents: per-copy alphabet rotation — byte-neutral bijection,
    # keeps intra-copy structure, kills cross-copy vocabulary overlap.
    t = pq.read_table(os.path.join(SRC, "documents.parquet"))
    texts = t.column("text").to_pylist()
    ids = t.column("doc_id").to_numpy()
    id_span = int(ids.max()) + 1
    lower = "abcdefghijklmnopqrstuvwxyz"
    upper = lower.upper()
    parts = []
    for k in range(COPIES):
        if k == 0:
            txt = texts
        else:
            rot = str.maketrans(
                lower + upper,
                lower[k:] + lower[:k] + upper[k:] + upper[:k],
            )
            txt = [s.translate(rot) for s in texts]
        parts.append(
            pa.table(
                {
                    "doc_id": pa.array(ids + k * id_span, type=pa.int64()),
                    "text": pa.array(txt, type=pa.string()),
                    "lang": t.column("lang"),
                    "source": t.column("source"),
                    "n_chars": t.column("n_chars"),
                }
            )
        )
    pq.write_table(
        pa.concat_tables(parts),
        os.path.join(out_dir, "documents.parquet"),
        row_group_size=ROW_GROUP,
    )

    # embeddings: unit-norm noisy copies, isotropy preserved.
    t = pq.read_table(os.path.join(SRC, "embeddings.parquet"))
    vec = np.stack(t.column("embedding").to_numpy()).astype(np.float64)
    ids = t.column("vec_id").to_numpy()
    id_span = int(ids.max()) + 1
    rng = np.random.default_rng(4242)
    parts = []
    for k in range(COPIES):
        v = vec if k == 0 else vec + rng.normal(0, 0.05, vec.shape)
        v = v / np.maximum(np.linalg.norm(v, axis=1, keepdims=True), 1e-12)
        parts.append(
            pa.table(
                {
                    "vec_id": pa.array(ids + k * id_span, type=pa.int64()),
                    "embedding": pa.array(
                        [row.astype(np.float32) for row in v],
                        type=pa.list_(pa.float32()),
                    ),
                    "label": t.column("label"),
                }
            )
        )
    pq.write_table(
        pa.concat_tables(parts),
        os.path.join(out_dir, "embeddings.parquet"),
        row_group_size=ROW_GROUP,
    )

    # events: id/user offsets, identical time range.
    t = pq.read_table(os.path.join(SRC, "events.parquet"))
    eid = t.column("event_id").to_numpy()
    uid = t.column("user_id").to_numpy()
    e_span, u_span = int(eid.max()) + 1, int(uid.max()) + 1
    parts = []
    for k in range(COPIES):
        parts.append(
            pa.table(
                {
                    "event_id": pa.array(eid + k * e_span, type=pa.int64()),
                    "ts": t.column("ts"),
                    "user_id": pa.array(uid + k * u_span, type=pa.int64()),
                    "event_type": t.column("event_type"),
                    "value": t.column("value"),
                    "props": t.column("props"),
                }
            )
        )
    pq.write_table(
        pa.concat_tables(parts),
        os.path.join(out_dir, "events.parquet"),
        row_group_size=ROW_GROUP * 10,
    )

    with open(marker, "w") as f:
        f.write("ok\n")


def main() -> None:
    import tempfile

    from big_data_trend_analysis_spark.plans.registry import QUERIES
    from big_data_trend_analysis_spark.session import get_spark

    names = sys.argv[1:] or HEAVY_QUERIES
    sf1_dir = os.path.join(tempfile.gettempdir(), "bdta_sf1")
    synthesize(sf1_dir)

    spark = get_spark("bdta-scale-smoke")
    spark.sparkContext.setLogLevel("ERROR")

    def force(df):
        df.write.format("noop").mode("overwrite").save()

    # warm the session so tier times measure the queries
    force(QUERIES["agg_basic"](spark, "/root/testdata/sf0.001"))

    results: dict[str, dict] = {}
    for name in names:
        row: dict = {}
        for label, d in (("sf0.1", SRC), ("sf1", sf1_dir)):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            force(QUERIES[name](spark, d))
            row[label] = round(time.perf_counter() - t0, 3)
        row["ratio"] = round(row["sf1"] / max(row["sf0.1"], 1e-9), 2)
        row["ok"] = row["ratio"] <= RATIO_LIMIT
        results[name] = row
        print(f"{name:28s} sf0.1={row['sf0.1']:7.3f}  sf1={row['sf1']:8.3f}  "
              f"ratio={row['ratio']:5.2f}  {'OK' if row['ok'] else 'EXCEEDED'}",
              flush=True)

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sidecar = os.path.join(here, "SCALE_SMOKE_sf1.json")
    # Targeted runs MERGE into the committed sidecar (the bench-tier
    # discipline: a 6-query rerun must not clobber the 67-query
    # record). Fresh rows replace their own keys only.
    merged: dict[str, dict] = {}
    if sys.argv[1:] and os.path.exists(sidecar):
        with open(sidecar) as f:
            merged = json.load(f).get("queries", {})
        # prune rows whose query left HEAVY_QUERIES — a renamed/retired
        # heavy must not pin all_ok (or a stale ratio) forever
        merged = {k: v for k, v in merged.items() if k in HEAVY_QUERIES}
    merged.update(results)
    out = {
        "copies": COPIES,
        "ratio_limit": RATIO_LIMIT,
        "queries": merged,
        "all_ok": all(r["ok"] for r in merged.values()),
    }
    with open(sidecar, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(json.dumps({"all_ok": out["all_ok"]}))
    spark.stop()


if __name__ == "__main__":
    main()
