"""Oracle parity of the queries built on the operators' shared helpers.

Each computation the operator library used to carry in several copies
(Welch moments, the BH step-up, rank sums, the calendar ACF, the
Durbin–Levinson wrapper, planted twins, PQ encode/ADC, the rare-shingle
pair block, the gapfill spine, the decay trend, session windows, the
keyed-state score step) now has one body. The full oracle sweep is
opt-in (``-m parity``), so this default-tier test runs every query that
reaches one of those bodies through ``registry.run`` at the smoke scale
and compares it with its ``ORACLE_SQL`` twin, the way the sweep does.
"""

from __future__ import annotations

import pytest

from big_data_trend_analysis_spark.plans.registry import ORACLE_SQL, run
from tests.oracle_utils import (
    assert_results_match,
    duckdb_connection,
    persistent_rdds,
    run_oracle,
)

SHARED_BODY_QUERIES = (
    # drift.py: calendar ACF, Durbin–Levinson, Welch, BH, rank sums
    "autocorr_daily",
    "ljung_box_check",
    "pacf_daily",
    "pacf_by_type",
    "benjamini_hochberg",
    "ab_test_welch",
    "dunn_posthoc",
    "kruskal_wallis",
    "mann_whitney_u",
    # similarity.py: planted twins, PQ encode/ADC, nearest cells
    "embed_neardup_check",
    "embed_pq_check",
    "ann_ivfpq_check",
    "semdedup_check",
    "ann_recall_check",
    # dedup.py: planted twins, rare-shingle pairs, pruned verify
    "dedup_minhash_check",
    "dedup_simhash_check",
    "ngram_jaccard_check",
    "containment_check",
    # windows.py, temporal.py, textstats.py
    "gapfill_locf",
    "gapfill_linear",
    "holt_linear_forecast",
    "holt_winters_dow",
    "theta_method_forecast",
    "pack_sequences",
    "pack_sequences_bpe",
    # the batch queries the streaming jobs now run, and their drains
    "streaming_decay_trend",
    "window_session",
    "stream_decay_trend_live",
    "stream_session_live",
    "stream_join_live",
    "stream_outer_join_live",
    "running_counts_live",
    "stateful_decay_live",
    "stateful_decay_live_v2",
)


@pytest.fixture(scope="module")
def oracle(sf_dir):
    con = duckdb_connection(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", SHARED_BODY_QUERIES)
def test_shared_body_query_matches_oracle(spark, sf_dir, oracle, name):
    before = persistent_rdds(spark)
    spark_res = run(name, spark, sf_dir)
    assert persistent_rdds(spark) <= before, name
    assert_results_match(spark_res, run_oracle(oracle, ORACLE_SQL[name]), name)
