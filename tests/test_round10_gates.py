"""Planted-case unit tests for the round-10 gate additions:
checkpoint kill-and-resume recovery, the ngram_jaccard eligibility
gate, the multimodal pipeline arithmetic twin, the md5-portable
sample_mixture, incremental_dedup's rule priority, and the
watermarked trending variant.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F


def _words(seed: str, n: int) -> str:
    """n distinct tokens derived from a seed — unique trigrams."""
    return " ".join(f"{seed}{i}" for i in range(n))


def test_restart_recovery_gate_state_and_metadata(spark):
    """The registry gate itself at sf0.001: recovered state equals the
    batch aggregate and all three recovery booleans hold."""
    from big_data_trend_analysis_spark.plans.registry import QUERIES, load_table

    rows = QUERIES["stream_restart_recovery_live"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows, "gate produced no rows"
    for r in rows:
        assert r.same_query_id is True
        assert r.new_run_id is True
        assert r.resumed_numbering is True
    got = {r.event_type: (r.n_events, r.sum_value) for r in rows}
    batch = (
        load_table(spark, "/root/testdata/sf0.001", "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round("value", 6).cast("decimal(18,6)"))
            .cast("double")
            .alias("s"),
        )
        .collect()
    )
    expect = {r.event_type: (r.n, r.s) for r in batch}
    assert got == expect


def test_ngram_jaccard_check_found_iff_eligible(spark):
    """A unique-text seed is found; a fully-templated seed (every
    shingle df > max_df via 6 identical filler docs) is NOT — the
    eligibility rule the oracle replays."""
    from big_data_trend_analysis_spark.operators.dedup import ngram_jaccard_check

    unique = _words("u", 25)
    templated = _words("t", 25)
    rows = [
        (0, unique, "en", "s", len(unique)),
        (1, templated, "en", "s", len(templated)),
    ]
    # 6 fillers push every shingle of doc 1 to df 7 (+1 for its twin)
    rows += [(100 + i, templated, "en", "s", len(templated)) for i in range(6)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {r.seed_id: r.found for r in ngram_jaccard_check(df, n_planted=2).collect()}
    assert out == {0: True, 1: False}


def test_multimodal_pipeline_check_matches_closed_form(spark):
    """vec_norm == round(4*|mu|, 6) and n_frames == min(1+d%5, 4),
    recomputed in Python from the planting formula."""
    from big_data_trend_analysis_spark.operators.multimodal import (
        multimodal_pipeline_check,
    )

    docs = spark.createDataFrame(
        [(d, "x", "en", "s", 1) for d in range(10)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rows = {r.doc_id: r for r in multimodal_pipeline_check(docs, n_planted=10).collect()}
    assert set(rows) == set(range(10))
    for d in range(10):
        nf = min(1 + d % 5, 4)
        mu = sum((33 + (d + i) % 26 - 32) / 32.0 for i in range(nf)) / nf
        assert rows[d].n_frames == nf
        assert abs(rows[d].vec_norm - round(4 * abs(mu), 6)) < 1e-9


def test_sample_mixture_membership_replays_in_python(spark):
    """The md5 bucket is engine-portable: Python recomputes the exact
    membership (the audit path the rows-only xxhash64 form blocked)."""
    from big_data_trend_analysis_spark.operators.textstats import sample_mixture

    df = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "fr") for i in range(500)],
        "doc_id long, lang string",
    )
    kept = {r.doc_id for r in sample_mixture(df, {"en": 0.5}, 0.1).collect()}

    def bucket(doc_id: int, seed: int = 13) -> int:
        h = hashlib.md5(f"{doc_id}:{seed}".encode()).hexdigest()
        return int(h[:15], 16) % 1_000_000

    expect = {
        i
        for i in range(500)
        if bucket(i) < (500_000 if i % 2 == 0 else 100_000)
    }
    assert kept == expect


def test_incremental_dedup_exact_beats_near(spark):
    """A batch doc that is BOTH an exact dup of an archive doc and a
    trivial near-match reports drop_exact (first rule wins) with the
    exact owner as match_id — the priority the r10 assembly CASE
    must preserve."""
    from big_data_trend_analysis_spark.operators.dedup import incremental_dedup

    t = _words("w", 30)
    archive = spark.createDataFrame([(1, t)], "doc_id long, text string")
    batch = spark.createDataFrame(
        [(10, t), (11, _words("z", 30))], "doc_id long, text string"
    )
    out = {
        r.doc_id: (r.decision, r.match_id)
        for r in incremental_dedup(archive, batch, max_df=100).collect()
    }
    assert out[10] == ("drop_exact", 1)
    assert out[11] == ("keep", None)


def test_trending_topk_watermarked_is_stateful_with_watermark(spark, sf_dir, tmp_path):
    """The production serve shape — ``trending_topk_counts`` over a
    watermarked input — carries an event-time watermark (state expiry)
    and drains in update mode: the complete-mode shape's
    unbounded-state caveat does not apply."""
    import uuid

    from big_data_trend_analysis_spark.streaming.jobs import trending_topk_counts
    from big_data_trend_analysis_spark.streaming.sources import (
        stream_events_batched,
    )

    stream = trending_topk_counts(
        stream_events_batched(spark, sf_dir).withWatermark("ts", "1 day")
    )
    assert stream.isStreaming
    plan = stream._jdf.queryExecution().analyzed().toString()
    assert "EventTimeWatermark" in plan
    name = f"wm_topk_{uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()
    upserts = spark.table(name)
    # update-mode emissions exist and carry the aggregate schema
    assert upserts.columns == ["window_start", "event_type", "n_events"]
    assert upserts.count() > 0
