"""Reference-EDW pipeline parity + custom stateful streaming tests."""

from __future__ import annotations

import datetime
import math

import pytest
from pyspark.sql import functions as F

from big_data_trend_analysis_spark.streaming.pipeline import edw_transform
from big_data_trend_analysis_spark.streaming.stateful import (
    decayed_token_scores,
    tokens_from_text_stream,
)


def _tweets(spark):
    rows = [
        ("spark is fast", datetime.datetime(2024, 1, 15, 10, 0, 0), "Positive", ["Spark"]),
        ("kafka is down", datetime.datetime(2024, 1, 15, 9, 53, 4), "Negative", []),
        ("meh", datetime.datetime(2024, 1, 15, 9, 0, 0), "Neutral", None),
    ]
    return spark.createDataFrame(
        rows,
        "text string, created_at timestamp, sentiment string, entities array<string>",
    )


def test_edw_transform_reference_semantics(spark):
    """Column-for-column parity with edw_stream.py:64-105 (fixed anchor;
    case bug corrected — SURVEY §7.3)."""
    anchor = "2024-01-15 10:00:00"
    out = {r.text: r for r in edw_transform(_tweets(spark), anchor, batch_id=3).collect()}

    assert set(out["meh"].asDict()) == {
        "text", "created_at", "sentiment", "entities",
        "weight", "weighted_sentiment", "processing_time", "batch_id",
    }
    # age 0 → weight 1, positive → +1.0
    assert out["spark is fast"].weight == pytest.approx(1.0)
    assert out["spark is fast"].weighted_sentiment == pytest.approx(1.0)
    # age 416 s → weight ≈ 0.5, negative → ≈ -0.5
    assert out["kafka is down"].weight == pytest.approx(0.5, abs=1e-3)
    assert out["kafka is down"].weighted_sentiment == pytest.approx(-0.5, abs=1e-3)
    # neutral → 0 regardless of weight
    assert out["meh"].weighted_sentiment == 0.0
    assert out["meh"].batch_id == 3
    # exact formula parity: exp(-rate * Δt / half_life)
    assert out["meh"].weight == pytest.approx(math.exp(-0.1 * 3600 / 60))


def test_decayed_token_scores_stateful(spark, sf_dir, tmp_path):
    """applyInPandasWithState: state must decay-and-accumulate across
    batches; with a single availableNow batch, score == count."""
    docs_stream = (
        spark.readStream.schema(
            "doc_id long, text string, lang string, source string, n_chars long"
        )
        .option("pathGlobFilter", "documents.parquet")
        .option("maxFilesPerTrigger", "1")
        .parquet(sf_dir)
    )
    scored = decayed_token_scores(tokens_from_text_stream(docs_stream))
    query = (
        scored.writeStream.format("memory")
        .queryName("tok_state")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_state"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(180)
    got = {r.token: r for r in spark.table("tok_state").collect()}

    from big_data_trend_analysis_spark.sources.tables import load_table

    exact = {
        r.token: r.cnt
        for r in load_table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert set(got) == set(exact)
    for token, row in got.items():
        assert row.total_count == exact[token]
        # one batch → no decay applied yet: score == batch count
        assert row.decayed_score == pytest.approx(float(exact[token]))


def test_decayed_token_scores_multi_batch(spark, tmp_path):
    """Cross-batch state: two files drained oldest-first with
    maxFilesPerTrigger=1 become two micro-batches, and the second
    batch's scores must show the first batch's state decayed by 0.9 —
    the property a single-batch run can't distinguish from stateless."""
    import os
    import time

    data = tmp_path / "docs_in"
    data.mkdir()
    spark.createDataFrame([("x x y",)], "text string").coalesce(1).write.parquet(
        str(data / "b1.parquet")
    )
    spark.createDataFrame([("x z",)], "text string").coalesce(1).write.parquet(
        str(data / "b2.parquet")
    )
    # FileStreamSource picks files oldest-mtime-first; pin the order.
    now = time.time()
    for name, mtime in (("b1.parquet", now - 120), ("b2.parquet", now)):
        d = data / name
        for p in [d, *d.iterdir()]:
            os.utime(p, (mtime, mtime))

    stream = (
        spark.readStream.schema("text string")
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(str(data))
    )
    query = (
        decayed_token_scores(tokens_from_text_stream(stream))
        .writeStream.format("memory")
        .queryName("tok_state_mb")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_mb"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(180)
    emitted = {
        (r.token, round(r.decayed_score, 6), r.total_count)
        for r in spark.table("tok_state_mb").collect()
    }
    # batch 1: x→(2.0, 2), y→(1.0, 1); batch 2: x→(2·0.9+1, 3), z→(1.0, 1)
    assert emitted == {
        ("x", 2.0, 2),
        ("y", 1.0, 1),
        ("x", 2.8, 3),
        ("z", 1.0, 1),
    }


def test_decay_formula_across_two_updates(spark):
    """The decay recurrence itself (score·d + n), checked directly."""
    decay = 0.9
    score = 0.0
    for n in (10, 4):
        score = score * decay + n
    assert score == pytest.approx(10 * 0.9 + 4)


@pytest.mark.slow  # multi-minute drain; slow tier (pyproject.toml)
def test_expiring_token_scores_evicts_idle_keys(spark, tmp_path):
    """Processing-time TTL: a key idle for a full TTL must fire its
    timeout branch in the next micro-batch — emitting a final
    expired=true tombstone with the preserved state — while keys that
    keep arriving re-arm and never expire. This is the state-store
    self-cleaning an unbounded token space needs."""
    import os
    import time

    from big_data_trend_analysis_spark.streaming.stateful import (
        expiring_token_scores,
        tokens_from_text_stream,
    )

    data = tmp_path / "docs_ttl"
    data.mkdir()
    spark.createDataFrame([("a b",)], "text string").coalesce(1).write.parquet(
        str(data / "b1.parquet")
    )
    spark.createDataFrame([("b",)], "text string").coalesce(1).write.parquet(
        str(data / "b2.parquet")
    )
    now = time.time()
    for name, mtime in (("b1.parquet", now - 120), ("b2.parquet", now)):
        d = data / name
        for p in [d, *d.iterdir()]:
            os.utime(p, (mtime, mtime))

    stream = (
        spark.readStream.schema("text string")
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(str(data))
    )
    # ttl 1 ms: wall time between two micro-batches always exceeds it
    query = (
        expiring_token_scores(tokens_from_text_stream(stream), ttl_ms=1)
        .writeStream.format("memory")
        .queryName("tok_ttl")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_ttl"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(180)
    rows = [
        (r.token, round(r.decayed_score, 6), r.total_count, r.expired)
        for r in spark.table("tok_ttl").collect()
    ]
    # batch 1: a and b update; batch 2: b updates (re-armed), a expires
    # with its batch-1 state intact. At a 1 ms TTL any trailing
    # no-data batch may then expire b as well — if it does, the
    # tombstone must carry b's final state, proving expiry preserves
    # state rather than zeroing it.
    assert ("a", 1.0, 1, False) in rows
    assert ("b", 1.0, 1, False) in rows
    assert ("a", 1.0, 1, True) in rows, rows
    assert ("b", 1.9, 2, False) in rows
    b_tombstones = [r for r in rows if r[0] == "b" and r[3]]
    assert all(r == ("b", 1.9, 2, True) for r in b_tombstones)
