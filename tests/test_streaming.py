"""Streaming-surface tests (SURVEY.md §5.2-3): batch/stream parity,
tweet parsing without a broker, cumulative state, error side-channel."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from big_data_trend_analysis_spark.operators.trend import streaming_decay_trend
from big_data_trend_analysis_spark.sources.tables import load_table
from big_data_trend_analysis_spark.streaming.jobs import (
    decay_trend_stream,
    dedup_events_stream,
    purchases_after_signup,
    running_keyword_counts,
)
from big_data_trend_analysis_spark.streaming.sinks import (
    drain_available_now,
    foreach_batch_with_errors,
    parquet_append_writer,
    start_foreach_batch,
)
from big_data_trend_analysis_spark.streaming.sources import (
    parse_tweet_frame,
    stream_events,
)


def _drain(df):
    """Run a streaming plan to completion into a memory sink."""
    return drain_available_now(df, "complete").table


def test_drain_that_times_out_stops_and_raises(spark, sf_dir, monkeypatch):
    """A drain that outlives DRAIN_TIMEOUT_S is stopped and fails; it
    never hands back a partial result."""
    import time

    from big_data_trend_analysis_spark.streaming import sinks

    monkeypatch.setattr(sinks, "DRAIN_TIMEOUT_S", 0.5)
    with pytest.raises(TimeoutError, match="drain_"):
        drain_available_now(
            stream_events(spark, sf_dir).select("event_id"),
            foreach_batch=lambda batch_df, batch_id: time.sleep(3),
        )
    assert not spark.streams.active


def test_concurrent_drains_on_one_session_release_its_listeners(spark, sf_dir):
    """Drains racing on one session each finish and each deliver their
    terminated event to the session's listeners, and the last one to
    finish leaves the SparkContext's listener count where it was."""
    import threading

    from pyspark.sql.streaming import StreamingQueryListener

    class Terminations(StreamingQueryListener):
        def __init__(self) -> None:
            self.ids: list[str] = []

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            pass

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            self.ids.append(str(event.runId))

    session = spark.newSession()
    bus = spark.sparkContext._jsc.sc().listenerBus()
    before = bus.listeners().size()
    terminations = Terminations()
    session.streams.addListener(terminations)
    counts, errors = [], []

    def drain() -> None:
        try:
            counted = stream_events(session, sf_dir).groupBy("event_type").count()
            counts.append(_drain(counted).count())
        except Exception as exc:  # noqa: BLE001 - reported by the assert below
            errors.append(exc)

    workers = [threading.Thread(target=drain, daemon=True) for _ in range(6)]
    for worker in workers:
        worker.start()
    for worker in workers:
        worker.join(600)
    assert not any(worker.is_alive() for worker in workers)
    assert not errors, errors
    assert len(counts) == 6 and min(counts) > 0
    assert len(set(terminations.ids)) == 6
    assert not session.streams.active
    assert bus.listeners().size() == before


def test_decay_trend_batch_stream_parity(spark, sf_dir):
    """The streaming decay trend must equal its oracle-checked batch twin."""
    streamed = _drain(decay_trend_stream(stream_events(spark, sf_dir)))
    batch = streaming_decay_trend(load_table(spark, sf_dir, "events"))
    s_rows = sorted(map(tuple, streamed.collect()))
    b_rows = sorted(map(tuple, batch.collect()))
    assert s_rows == b_rows
    assert len(s_rows) > 0


def test_running_keyword_counts_cumulative(spark, sf_dir):
    """Streaming groupBy must equal the batch count over the same input."""
    docs_stream = (
        spark.readStream.schema(
            "doc_id long, text string, lang string, source string, n_chars long"
        )
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    streamed = _drain(running_keyword_counts(docs_stream))
    batch = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .count()
    )
    assert sorted(map(tuple, streamed.collect())) == sorted(
        map(tuple, batch.collect())
    )


def test_windowed_cms_stream_probe_matches_exact(spark, sf_dir):
    """Per-window streaming CMS sketches, probed on the driver, must
    reproduce the exact per-window event-type counts (width ≫ keys →
    collision-free), matching the batch cms_window_probe path."""
    from big_data_trend_analysis_spark.operators.aggregates import probe_cms
    from big_data_trend_analysis_spark.streaming.jobs import windowed_cms_stream

    streamed = _drain(windowed_cms_stream(stream_events(spark, sf_dir)))
    keys = ["click", "view", "purchase", "signup", "error"]
    got = {
        (r.window_start, k): est
        for r in streamed.collect()
        for k, est in probe_cms(spark, r.cms_sketch, keys).items()
    }
    exact = {
        (r.window_start, r.event_type): r.n
        for r in load_table(spark, sf_dir, "events")
        .groupBy(
            F.window("ts", "1 day").getField("start").alias("window_start"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert len(got) > 0
    for (ws, k), est in got.items():
        assert est == exact.get((ws, k), 0), (ws, k)


def test_stream_stream_join_parity(spark, sf_dir, tmp_path):
    """Watermarked stream-stream join must equal the batch join."""
    stream_out = purchases_after_signup(stream_events(spark, sf_dir), streaming=True)
    query = (
        stream_out.writeStream.format("memory")
        .queryName("ss_join")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_ssj"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(180)
    streamed = sorted(map(tuple, spark.table("ss_join").collect()))
    batch = sorted(
        map(
            tuple,
            purchases_after_signup(
                load_table(spark, sf_dir, "events"), streaming=False
            ).collect(),
        )
    )
    assert streamed == batch
    assert len(streamed) > 0


def test_streaming_dedup_bounded_state(spark, sf_dir, tmp_path):
    """Watermarked dropDuplicates keeps one row per identity key."""
    deduped = dedup_events_stream(stream_events(spark, sf_dir))
    query = (
        deduped.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_dd"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(180)
    got = spark.table("dedup_stream")
    events = load_table(spark, sf_dir, "events")
    expected_keys = events.select("user_id", "event_type", "ts").distinct().count()
    assert got.count() == expected_keys
    assert got.select("user_id", "event_type", "ts").distinct().count() == expected_keys


def test_parse_tweet_frame_roundtrip(spark):
    """Kafka-value parsing without a broker (reference P1-P5 semantics)."""
    msgs = [
        {
            "text": "spark streams fast",
            "created_at": "2024-01-15T10:00:00",
            "sentiment": "Positive",
            "entities": ["Spark"],
        },
        {
            "text": "bad data day",
            "created_at": "2024-01-15T11:30:00",
            "sentiment": "Negative",
            "entities": [],
        },
    ]
    raw = spark.createDataFrame(
        [(json.dumps(m).encode("utf-8"),) for m in msgs] + [(b"{not json",)],
        "value binary",
    )
    parsed = parse_tweet_frame(raw).collect()
    assert len(parsed) == 3
    ok = [r for r in parsed if r.text is not None]
    assert {r.text for r in ok} == {"spark streams fast", "bad data day"}
    assert ok[0].created_at.year == 2024
    # entities survive as a real array (reference re-serialized to string)
    by_text = {r.text: r for r in ok}
    assert by_text["spark streams fast"].entities == ["Spark"]
    # malformed JSON → null row, not a crash (PERMISSIVE contract)
    assert sum(1 for r in parsed if r.text is None) == 1


def test_foreach_batch_error_side_channel(spark, sf_dir, tmp_path):
    """K3 parity: failed batch writes one error row and doesn't raise."""
    captured: list = []

    def failing_write(batch_df, batch_id):
        raise RuntimeError("serving table unavailable")

    def capture_error(error_df, batch_id):
        captured.extend(error_df.collect())

    handler = foreach_batch_with_errors(failing_write, capture_error)
    batch = load_table(spark, sf_dir, "events").limit(5)
    handler(batch, batch_id=7)
    assert len(captured) == 1
    assert captured[0].batch_id == 7
    assert "serving table unavailable" in captured[0].error

    # empty-batch guard (reference F1): writer must not be called
    calls: list = []
    handler2 = foreach_batch_with_errors(lambda df, bid: calls.append(bid))
    handler2(batch.filter(F.lit(False)), batch_id=8)
    assert calls == []


def test_start_foreach_batch_end_to_end(spark, sf_dir, tmp_path):
    """Streaming events → foreachBatch parquet sink → re-read and check."""
    out = str(tmp_path / "served")
    query = start_foreach_batch(
        stream_events(spark, sf_dir).select("event_id", "event_type", "value"),
        parquet_append_writer(out),
        checkpoint_dir=str(tmp_path / "ckpt_serve"),
        trigger_available_now=True,
    )
    query.awaitTermination(120)
    served = spark.read.parquet(out)
    assert served.count() == load_table(spark, sf_dir, "events").count()
    assert set(served.columns) == {"event_id", "event_type", "value"}


def test_parquet_idempotent_writer_replay_no_duplicates(spark, tmp_path):
    """foreachBatch is at-least-once: a replayed batch_id must OVERWRITE
    its own partition, not duplicate rows — and a distinct batch_id must
    land alongside, readable from the root with batch_id surfaced."""
    from big_data_trend_analysis_spark.streaming.sinks import (
        parquet_idempotent_writer,
    )

    out = str(tmp_path / "idem")
    write = parquet_idempotent_writer(out)
    batch = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    write(batch, 0)
    write(batch, 0)  # simulated retry of the same micro-batch
    write(spark.createDataFrame([(3, "c")], "id long, v string"), 1)
    back = spark.read.parquet(out)
    assert back.count() == 3  # 2 + 1, not 2 + 2 + 1
    assert {(r.id, r.batch_id) for r in back.collect()} == {(1, 0), (2, 0), (3, 1)}


def test_kafka_scan_options_pin_reference_contract():
    """The sandbox can't run a broker; pin the scan wiring the
    reference hard-codes (spark_stream.py:24-29) so connector drift
    fails loudly even though the path can't execute here."""
    from big_data_trend_analysis_spark.streaming.sources import kafka_scan_options

    opts = kafka_scan_options()
    assert opts["subscribe"] == "twitter_sentiment"
    assert opts["kafka.bootstrap.servers"] == "localhost:9092"
    # Deliberate divergence from the reference's startingOffsets=latest
    # (silently drops pre-launch data); must stay overridable.
    assert opts["startingOffsets"] == "earliest"
    assert kafka_scan_options(starting_offsets="latest")["startingOffsets"] == "latest"


def test_kafka_sink_options_and_wire_format(spark):
    """Kafka sink contract: pinned producer options, and the
    executable serialization half round-trips through JSON."""
    import json

    from big_data_trend_analysis_spark.streaming.sinks import (
        kafka_sink_options,
        serialize_for_kafka,
    )

    opts = kafka_sink_options("broker:9092", "out_topic")
    assert opts == {"kafka.bootstrap.servers": "broker:9092", "topic": "out_topic"}

    df = spark.createDataFrame(
        [(1, "hello", 2.5)], "id long, text string, score double"
    )
    out = serialize_for_kafka(df)
    assert out.columns == ["value"]  # kafka writer requires `value`
    payload = json.loads(out.collect()[0].value)
    assert payload == {"id": 1, "text": "hello", "score": 2.5}


def test_jdbc_connection_options_pin_reference_contract():
    """JDBC serving-sink contract (spark_stream.py:40-48): exact option
    keys, Postgres driver class, and append-only mode."""
    from big_data_trend_analysis_spark.streaming.sinks import (
        JDBC_APPEND_MODE,
        jdbc_connection_options,
    )

    opts = jdbc_connection_options(
        "jdbc:postgresql://db:5432/edw", "trend_scores", "u", "p"
    )
    assert set(opts) == {"url", "dbtable", "user", "password", "driver"}
    assert opts["driver"] == "org.postgresql.Driver"
    assert opts["dbtable"] == "trend_scores"
    assert JDBC_APPEND_MODE == "append"


def test_session_stream_merges_across_batches(spark, sf_dir, tmp_path):
    """Session windows must MERGE state across micro-batches: the events
    table is replayed as 4 chronological files with maxFilesPerTrigger=1
    (sessions spanning file boundaries force state-store merges), and the
    result must equal batch sessionization exactly."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from big_data_trend_analysis_spark.operators.windows import window_session
    from big_data_trend_analysis_spark.streaming.jobs import session_counts_stream

    events = load_table(spark, sf_dir, "events")
    pdf = events.orderBy("ts").toPandas()
    src = tmp_path / "session_chunks"
    src.mkdir()
    n = len(pdf)
    for i in range(4):
        chunk = pdf.iloc[i * n // 4 : (i + 1) * n // 4]
        pq.write_table(
            pa.Table.from_pandas(chunk),
            str(src / f"{i:02d}.parquet"),
            coerce_timestamps="us",
            allow_truncated_timestamps=True,
        )

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    query = (
        session_counts_stream(stream)
        .writeStream.format("memory")
        .queryName("session_merge")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_session_merge"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(180)
    n_batches = len([p for p in query.recentProgress if p["numInputRows"] > 0])
    query.stop()
    assert n_batches >= 4, f"expected >=4 micro-batches, got {n_batches}"

    streamed = sorted(map(tuple, spark.table("session_merge").collect()))
    batch = sorted(map(tuple, window_session(events).collect()))
    assert streamed == batch
    assert len(streamed) > 0


def test_events_readers_handle_both_timestamp_storages(spark, sf_dir, tmp_path):
    """The driver has generated events.ts as TIMESTAMP(NANOS) in some
    rounds and naive TIMESTAMP(MICROS) in others (the round-3 flip broke
    every streaming row). Pin BOTH read paths: batch load_table and
    stream_events must yield identical event times from either storage."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from big_data_trend_analysis_spark.sources.tables import load_table
    from big_data_trend_analysis_spark.streaming.sources import stream_events

    ts = [
        dt.datetime(2024, 1, 1, 0, 0, 0, 123456),
        dt.datetime(2024, 1, 15, 12, 30, 45, 654321),
    ]
    cols = {
        "event_id": pa.array([1, 2], pa.int64()),
        "user_id": pa.array([10, 20], pa.int64()),
        "event_type": pa.array(["click", "view"]),
        "value": pa.array([1.5, 2.5], pa.float64()),
        "props": pa.array(["{}", "{}"]),
    }
    # the full storage matrix a driver regeneration could emit: naive
    # and UTC-adjusted, micro- and nano-precision (the engine session
    # is pinned UTC, so naive and UTC-instant reads must agree)
    variants = {
        "ns": pa.timestamp("ns"),
        "us": pa.timestamp("us"),
        "ns_utc": pa.timestamp("ns", tz="UTC"),
        "us_utc": pa.timestamp("us", tz="UTC"),
    }
    dirs = {}
    for unit, pa_type in variants.items():
        d = tmp_path / f"storage_{unit}"
        d.mkdir()
        table = pa.table({**cols, "ts": pa.array(ts, pa_type)})
        pq.write_table(table, str(d / "events.parquet"))
        dirs[unit] = str(d)

    batches = {
        unit: sorted(
            (r.event_id, r.ts) for r in load_table(spark, d, "events").collect()
        )
        for unit, d in dirs.items()
    }
    for unit in variants:
        assert batches[unit] == batches["ns"], unit
    assert batches["ns"][0][1] == ts[0]  # values, not just agreement

    for unit, d in dirs.items():
        s = stream_events(spark, d)
        assert s.isStreaming
        assert dict(s.dtypes)["ts"] == "timestamp", unit
        # Drain and compare actual streamed values against batch.
        name = f"storage_check_{unit}"
        q = (
            s.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / f"ckpt_{unit}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()
        streamed = sorted(
            (r.event_id, r.ts) for r in spark.table(name).collect()
        )
        assert streamed == batches[unit], unit


def test_checkpoint_restart_recovers_state_and_position(spark, sf_dir, tmp_path):
    """Stop/restart on the SAME checkpoint must resume exactly-once.

    The fault-tolerance property the reference forfeits entirely (temp
    checkpoint + startingOffsets=latest: a restart loses both source
    position and the driver-resident CMS state, SURVEY §4.1). Here:

    - phase 1 drains two source files through the cumulative token
      count (streaming groupBy state), then the query STOPS;
    - two more files appear; phase 2 restarts from the same checkpoint.

    The phase-2 complete-mode output must equal the batch aggregate
    over ALL four files: lower counts ⇒ the groupBy state was lost on
    restart; higher counts ⇒ already-committed files were replayed.
    Exact equality pins source-position recovery AND state recovery at
    once. Also asserts phase 2 read only the two NEW files' rows.
    """
    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    src = tmp_path / "docs_stream"
    src.mkdir()

    half = docs.filter(F.col("doc_id") % 2 == 0)
    rest = docs.filter(F.col("doc_id") % 2 == 1)
    half.coalesce(1).write.mode("overwrite").parquet(str(src / "a"))

    ddl = "doc_id long, text string, lang string, source string, n_chars long"
    ckpt = str(tmp_path / "ckpt_restart")

    def run_phase(name):
        stream = (
            spark.readStream.schema(ddl)
            .option("pathGlobFilter", "*.parquet")
            .option("recursiveFileLookup", "true")
            .parquet(str(src))
        )
        query = (
            running_keyword_counts(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination(120)
        processed = sum(
            p["numInputRows"] for p in (json.loads(x.json) for x in query.recentProgress)
        )
        return spark.table(name), processed

    phase1, rows1 = run_phase("restart_phase1")
    assert rows1 == half.count()

    rest.coalesce(1).write.mode("overwrite").parquet(str(src / "b"))
    phase2, rows2 = run_phase("restart_phase2")
    # position recovered: only the new file's rows were read
    assert rows2 == rest.count()

    expected = {
        (r.token, r.freq)
        for r in running_keyword_counts(docs).collect()
    }
    got = {(r.token, r.freq) for r in phase2.collect()}
    assert got == expected


def test_watermark_drops_late_data_append_mode(spark, tmp_path):
    """Append-mode windowed aggregation: windows finalize as the
    watermark passes, and a late arrival for an ALREADY-FINALIZED
    window is dropped (state is gone; the emitted row never mutates).

    Three pinned-mtime files force three micro-batches:
    batch 0 = {10:00, 10:30, 13:00} → watermark advances to 12:00;
    batch 1 = {14:00} → the 10:00 window (end 11:00 < 12:00) is
    evicted and EMITTED with count 2; watermark → 13:00;
    batch 2 = {10:15} → late beyond the evicted window: dropped.
    Count 3 (or a second 10:00 row) ⇒ late data leaked into or past
    closed state; no row ⇒ windows never finalized. This is the
    bounded-state contract that lets the streaming jobs run forever
    (the reference has no watermark at all — its state only grows).
    Note Spark's actual contract: a late row landing in the SAME batch
    that finalizes its window still counts — the drop applies once the
    window's state was evicted in a prior batch, which is what the
    3-batch layout pins."""
    import datetime as dt
    import os

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "late_chunks"
    src.mkdir()

    def write_chunk(name, hours, mtime):
        rows = [
            {"user_id": 1, "ts": dt.datetime(2024, 1, 1, int(h), int((h % 1) * 60))}
            for h in hours
        ]
        pq.write_table(
            pa.Table.from_pandas(pd.DataFrame(rows)),
            str(src / name),
            coerce_timestamps="us",
            allow_truncated_timestamps=True,
        )
        os.utime(str(src / name), (mtime, mtime))

    write_chunk("00.parquet", [10.0, 10.5, 13.0], 1_700_000_000)
    write_chunk("01.parquet", [14.0], 1_700_000_100)
    write_chunk("02.parquet", [10.25], 1_700_000_200)

    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    counted = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )
    query = (
        counted.writeStream.format("memory")
        .queryName("late_drop")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_late"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(120)
    progress = list(query.recentProgress)
    query.stop()

    # multiple micro-batches actually ran (recentProgress may not
    # retain every early batch, so bound from below rather than sum)
    assert len([p for p in progress if p["numInputRows"] > 0]) >= 2
    got = {(r.window_start, r.n) for r in spark.table("late_drop").collect()}
    # …but only the finalized 10:00 window emits, without the late row
    assert got == {(dt.datetime(2024, 1, 1, 10, 0), 2)}


def test_jdbc_append_sink_roundtrip_embedded_derby(spark, sf_dir, tmp_path):
    """The reference's JDBC serving path (K1, spark_stream.py:40-48)
    EXECUTED end-to-end in-container: events stream → checkpointed
    foreachBatch → ``jdbc_append_writer`` → JDBC read-back.

    No Postgres exists here, but Spark ships embedded Derby (and a
    DerbyDialect), so the identical code path — same writer, same
    option keys, same append mode; only url/driver differ from the
    reference's Postgres target — runs against a real JDBC database
    instead of stopping at contract tests. Read-back must reproduce
    the source exactly: count + distinct ids + exact-decimal sum."""
    from decimal import Decimal

    from big_data_trend_analysis_spark.streaming.sinks import jdbc_append_writer

    url = "jdbc:derby:memory:bdta_sink;create=true"
    driver = "org.apache.derby.iapi.jdbc.AutoloadedDriver"

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    write = jdbc_append_writer(url, "events_served", "app", "app", driver)
    query = (
        stream_events(spark, sf_dir)
        .select("event_id", "ts", "event_type", "value")
        .writeStream.foreachBatch(write)
        .option("checkpointLocation", str(tmp_path / "ckpt_jdbc"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(120)
    query.stop()

    back = (
        spark.read.format("jdbc")
        .option("url", "jdbc:derby:memory:bdta_sink")
        .option("dbtable", "events_served")
        .option("driver", driver)
        .load()
    )
    agg = lambda df: df.agg(  # noqa: E731
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("event_id").alias("ids"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("sv"),
    ).first()
    got, want = agg(back), agg(events)
    assert (got.n, got.ids) == (want.n, want.ids)
    assert Decimal(got.sv) == Decimal(want.sv)


def test_jdbc_roundtrip_against_postgres_jsonb(spark, sf_dir):
    """Postgres dialect branch of the serving sink (VERDICT r8 #9) —
    runs only where ``JDBC_URL`` points at a reachable Postgres with
    the PG driver jar on the classpath (``docker compose -f
    docker-compose.integration.yml up``; export
    JDBC_URL='jdbc:postgresql://localhost:5432/bdta?user=bdta&password=bdta&stringtype=unspecified').

    Exercises the one mapping Derby cannot: the reference's JSONB
    side-channel column (edw_stream.py:14). ``createTableColumnTypes``
    pins ``props`` to JSONB; ``stringtype=unspecified`` lets the PG
    driver coerce the text JSON server-side; the read-back casts JSONB
    to text and re-extracts a field, so parity fails if the JSON was
    mangled, truncated, or re-ordered lossily."""
    import os

    import pytest

    from big_data_trend_analysis_spark.streaming.sinks import (
        jdbc_target_from_env,
    )

    url, driver, is_external = jdbc_target_from_env("jdbc:derby:memory:unused")
    if not is_external or not url.startswith("jdbc:postgresql:"):
        pytest.skip("no Postgres target (JDBC_URL unset or not postgresql)")

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value", "props"
    )
    try:
        (
            events.write.format("jdbc")
            .option("url", url)
            .option("dbtable", "events_served_jsonb")
            .option("driver", driver)
            .option("createTableColumnTypes", "props JSONB")
            .mode("overwrite")
            .save()
        )
    except Exception as exc:
        if "ClassNotFoundException" in str(exc):
            pytest.skip("Postgres JDBC driver jar not on the classpath")
        raise
    back = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "(SELECT event_id, event_type, value, "
                "props::text AS props FROM events_served_jsonb) t")
        .option("driver", driver)
        .load()
    )
    agg = lambda df: sorted(  # noqa: E731
        tuple(r)
        for r in df.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("event_id").alias("ids"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("sv"),
            # field survives the text->JSONB->text trip semantically
            # (JSONB may normalize spacing, so compare extracted
            # values, not raw text)
            F.sum(F.get_json_object("props", "$.k").cast("long")).alias("k"),
        )
        .collect()
    )
    assert agg(back) == agg(events)


@pytest.mark.slow  # multi-minute drain; slow tier (pyproject.toml)
def test_stream_stream_left_outer_join_parity(spark, sf_dir, tmp_path):
    """The watermarked LEFT OUTER stream-stream join must equal the
    batch outer join: matched purchases carry their signup time,
    unmatched purchases emit with null s_ts once the watermark proves
    no in-window signup can still arrive. Null rows actually present
    (purchases without recent signups exist in the fixture), so the
    outer path is exercised, not vacuous.

    Outer emission requires the watermark to PASS each purchase's
    match horizon; rows inside the final horizon would stay in state
    when the stream drains, so the source carries a flush sentinel —
    one inert far-future event, the standard production pattern for
    closing out outer-join state at end-of-stream."""
    import datetime as dt

    events = load_table(spark, sf_dir, "events")
    src = tmp_path / "events_flush"
    src.mkdir()
    events.coalesce(1).write.mode("overwrite").parquet(str(src / "a"))
    max_ts = events.agg(F.max("ts")).first()[0]
    # TWO sentinel batches: outer rows for batch N's input emit using
    # the watermark computed at the END of batch N-1, so the first
    # sentinel advances the watermark past every real purchase's match
    # horizon and the second triggers the batch that flushes them.
    # The watermark nodes sit AFTER the purchase/signup filters, so the
    # sentinels must BE purchase+signup rows (an inert event_type never
    # reaches either watermark operator); a dummy user keeps them out
    # of the real result set.
    DUMMY = 888_888
    for i, days in enumerate((10, 11)):
        t = max_ts + dt.timedelta(days=days)
        sentinel = spark.createDataFrame(
            [
                (999_000 + i, t, DUMMY, "purchase", 0.0, "{}"),
                (999_100 + i, t, DUMMY, "signup", 0.0, "{}"),
            ],
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string",
        )
        sentinel.coalesce(1).write.mode("overwrite").parquet(str(src / f"s{i}"))
    augmented_stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string"
        )
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    out = purchases_after_signup(
        augmented_stream, streaming=True, join_type="left_outer"
    )
    query = (
        out.writeStream.format("memory")
        .queryName("ss_outer")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_sso"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(180)
    query.stop()
    streamed = sorted(
        (
            tuple(r)
            for r in spark.table("ss_outer").collect()
            if r.user_id != DUMMY
        ),
        key=str,
    )
    batch = sorted(
        map(
            tuple,
            purchases_after_signup(
                events, streaming=False, join_type="left_outer"
            ).collect(),
        ),
        key=str,
    )
    assert streamed == batch
    assert any(r[3] is None for r in streamed), "outer path vacuous"
    assert any(r[3] is not None for r in streamed)


def test_jdbc_idempotent_writer_replay_no_duplicates(spark, sf_dir, tmp_path):
    """Replaying a batch through the idempotent JDBC sink must leave the
    table exactly as a single delivery would — the exactly-once-effect
    upgrade over the reference's blind append, executed for real
    against embedded Derby."""
    from big_data_trend_analysis_spark.streaming.sinks import (
        jdbc_idempotent_writer,
    )

    url = "jdbc:derby:memory:bdta_idem;create=true"
    driver = "org.apache.derby.iapi.jdbc.AutoloadedDriver"
    batch = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "value")
        .limit(50)
    )

    write = jdbc_idempotent_writer(url, "served_idem", "app", "app", driver)
    # first delivery creates the table via the append path
    batch.withColumn("batch_id", F.lit(7).cast("long")).write.format(
        "jdbc"
    ).option("url", url).option("dbtable", "served_idem").option(
        "driver", driver
    ).mode("append").save()
    # the idempotent writer REPLAYS batch 7, then delivers batch 8
    write(batch, 7)
    write(batch, 7)
    write(batch, 8)

    back = (
        spark.read.format("jdbc")
        .option("url", "jdbc:derby:memory:bdta_idem")
        .option("dbtable", "served_idem")
        .option("driver", driver)
        .load()
    )
    counts = {r.batch_id: r.n for r in back.groupBy("batch_id").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert counts == {7: 50, 8: 50}, counts


def test_batched_documents_stream_runs_multiple_microbatches(spark, sf_dir, tmp_path):
    """The split documents stream must drain in DOC_STREAM_BATCHES real
    micro-batches (maxFilesPerTrigger=1, mtime-ordered), each carrying
    exactly its doc_id % n slice — the property the stateful_decay_live
    oracle's cross-batch recurrence rests on (VERDICT r5 #3)."""
    from big_data_trend_analysis_spark.sources.tables import load_table
    from big_data_trend_analysis_spark.streaming.sources import (
        DOC_STREAM_BATCHES,
        stream_documents_batched,
    )

    seen: list[set[int]] = []

    def capture(batch_df, batch_id):
        seen.append({r.doc_id for r in batch_df.select("doc_id").collect()})

    q = (
        stream_documents_batched(spark, sf_dir)
        .writeStream.foreachBatch(capture)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    q.stop()

    assert len(seen) == DOC_STREAM_BATCHES
    all_ids = {r.doc_id for r in load_table(spark, sf_dir, "documents").select("doc_id").collect()}
    assert set().union(*seen) == all_ids
    for b, ids in enumerate(seen):
        assert ids == {i for i in all_ids if i % DOC_STREAM_BATCHES == b}, b


def test_socket_tweet_stream_executes_end_to_end(spark, tmp_path):
    """An actually-EXECUTED unbounded readStream through the tweet
    parse path (VERDICT r5 #6): a real in-process TCP server feeds the
    producers' wire format (JSON per line) to Spark's socket source,
    parse_tweet_frame types the payload, and the memory sink must
    surface the parsed rows — the closest executable stand-in for the
    Kafka scan in a broker-less container."""
    import json as _json
    import socket
    import threading
    import time
    import uuid

    from big_data_trend_analysis_spark.streaming.sources import (
        read_tweet_stream_from_socket,
    )

    tweets = [
        {"text": "spark streams fine", "created_at": "2024-02-01T10:00:00",
         "sentiment": "Positive", "entities": ["Spark"]},
        {"text": "kafka missing, socket standing in", "created_at": "2024-02-01T10:01:00",
         "sentiment": "Neutral", "entities": []},
        {"text": "broken json next", "created_at": "2024-02-01T10:02:00",
         "sentiment": "Negative", "entities": ["Kafka", "TCP"]},
    ]
    payload = b"".join(_json.dumps(t).encode() + b"\n" for t in tweets)
    payload += b"this is not json\n"  # PERMISSIVE mode -> null row

    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]
    stop = threading.Event()

    def serve():
        conn, _ = srv.accept()
        conn.sendall(payload)
        stop.wait(60)  # keep the connection open until the query is done
        conn.close()

    t = threading.Thread(target=serve, daemon=True)
    t.start()
    name = f"socket_tweets_{uuid.uuid4().hex[:8]}"
    q = (
        read_tweet_stream_from_socket(spark, "127.0.0.1", port)
        .writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline and spark.table(name).count() < 4:
            time.sleep(0.5)
        rows = spark.table(name).collect()
    finally:
        stop.set()
        q.stop()
        srv.close()

    assert len(rows) == 4
    by_text = {r.text: r for r in rows if r.text is not None}
    assert set(by_text) == {t["text"] for t in tweets}
    assert by_text["spark streams fine"].sentiment == "Positive"
    assert by_text["broken json next"].entities == ["Kafka", "TCP"]
    assert by_text["spark streams fine"].created_at is not None
    # the malformed line surfaces as an all-null row (PERMISSIVE)
    assert sum(1 for r in rows if r.text is None) == 1


def test_batched_events_stream_runs_multiple_microbatches(spark, sf_dir, tmp_path):
    """The split events stream must drain in EVENT_STREAM_BATCHES real
    micro-batches, each carrying exactly its event_id % n slice with
    timestamps intact — the property stream_dedup_within_wm_live's
    cross-batch dedup rests on (a business key's redeliveries land in
    LATER batches than the state that absorbs them)."""
    from big_data_trend_analysis_spark.sources.tables import load_table
    from big_data_trend_analysis_spark.streaming.sources import (
        EVENT_STREAM_BATCHES,
        stream_events_batched,
    )

    seen: list[set[int]] = []

    def capture(batch_df, batch_id):
        seen.append({r.event_id for r in batch_df.select("event_id").collect()})

    q = (
        stream_events_batched(spark, sf_dir)
        .writeStream.foreachBatch(capture)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    q.stop()

    assert len(seen) == EVENT_STREAM_BATCHES
    batch = load_table(spark, sf_dir, "events")
    all_ids = {r.event_id for r in batch.select("event_id").collect()}
    assert set().union(*seen) == all_ids
    for b, ids in enumerate(seen):
        assert ids == {i for i in all_ids if i % EVENT_STREAM_BATCHES == b}, b
    # ts survived the split's micros cast with identical values
    from pyspark.sql import functions as F

    split_max = (
        stream_events_batched(spark, sf_dir)
        .writeStream.format("memory")
        .queryName("evsplit_ts_check")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    split_max.awaitTermination(300)
    split_max.stop()
    got = spark.table("evsplit_ts_check").agg(F.max("ts"), F.min("ts")).collect()[0]
    want = batch.agg(F.max("ts"), F.min("ts")).collect()[0]
    assert [str(x) for x in got] == [str(x) for x in want]


@pytest.mark.parametrize("table,key", [("documents", "doc_id"), ("events", "event_id")])
def test_concurrent_first_splits_publish_one_complete_split(
    sf_dir, tmp_path, monkeypatch, table, key
):
    """Two threads split the same table into a fresh temp dir at once:
    both get the one published dir, holding every row exactly once,
    and the losing copy is gone."""
    import tempfile
    import threading

    import pyarrow.parquet as pq

    from big_data_trend_analysis_spark.streaming.sources import _split_dir

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    barrier = threading.Barrier(2)
    got: list = []

    def work():
        barrier.wait()
        got.append(_split_dir(sf_dir, table, key, 3))

    threads = [threading.Thread(target=work) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(120)
    assert len(got) == 2 and got[0] == got[1]
    assert [p.name for p in tmp_path.iterdir()] == [os.path.basename(got[0])]
    files = sorted(os.listdir(got[0]))
    assert files == ["batch0.parquet", "batch1.parquet", "batch2.parquet"]
    ids = [pq.read_table(os.path.join(got[0], f)).column(key).to_pylist() for f in files]
    source = pq.read_table(f"{sf_dir}/{table}.parquet").column(key).to_pylist()
    assert sorted(sum(ids, [])) == sorted(source)
    for b, part in enumerate(ids):
        assert {i % 3 for i in part} <= {b}


def test_events_source_uri_dispatch(spark, sf_dir):
    """kafka:// URIs must route to the Kafka scan (validated), and the
    default must be the file-replay twin with the events schema."""
    import pytest

    from big_data_trend_analysis_spark.streaming.sources import (
        stream_events_from_uri,
    )

    df = stream_events_from_uri(spark, None, sf_dir)
    assert df.isStreaming
    assert set(df.columns) == {
        "event_id", "ts", "user_id", "event_type", "value", "props"
    }
    with pytest.raises(ValueError, match="kafka://host:port/topic"):
        stream_events_from_uri(spark, "kafka://only-a-host", sf_dir)


def test_kafka_uri_events_source_against_real_broker(spark, sf_dir):
    """END-TO-END Kafka parity (VERDICT r8 #8) — publish the events
    fixture through the engine's own wire-format serializer
    (``serialize_for_kafka``, reference K2), drain it back through the
    ``kafka://`` source (reference S1), and diff against the parquet
    fixture value-by-value.

    Runs only where a broker and the spark-sql-kafka jar exist: start
    one with ``docker compose -f docker-compose.integration.yml up``
    and export ``KAFKA_BOOTSTRAP=localhost:9092`` (plus
    ``--packages org.apache.spark:spark-sql-kafka-0-10_2.13:<ver>``
    on the Spark session). This container has neither; the skip
    documents the gap (README "Integration backends")."""
    import os
    import uuid

    import pytest
    from pyspark.sql import functions as F

    bootstrap = os.environ.get("KAFKA_BOOTSTRAP")
    if not bootstrap:
        pytest.skip("no Kafka broker in this environment (KAFKA_BOOTSTRAP unset)")
    from big_data_trend_analysis_spark.sources.tables import load_table
    from big_data_trend_analysis_spark.streaming.sinks import (
        kafka_sink_options,
        serialize_for_kafka,
    )
    from big_data_trend_analysis_spark.streaming.sources import (
        stream_events_from_uri,
    )

    topic = f"bdta_events_{uuid.uuid4().hex[:8]}"
    events = load_table(spark, sf_dir, "events")
    try:
        (
            serialize_for_kafka(events)
            .write.format("kafka")
            .options(**kafka_sink_options(bootstrap, topic))
            .save()
        )
    except Exception as exc:  # jar missing is an environment gap, not a bug
        if "Failed to find data source" in str(exc):
            pytest.skip("spark-sql-kafka connector jar not on the classpath")
        raise

    name = f"kafka_parity_{uuid.uuid4().hex[:8]}"
    df = stream_events_from_uri(spark, f"kafka://{bootstrap}/{topic}", sf_dir)
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    q.stop()
    got = spark.table(name)
    # exact parity: every row survived the serialize->publish->scan->
    # parse pipeline once, with values (incl. event-time) intact
    agg = lambda d: sorted(
        tuple(r)
        for r in d.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("event_id").alias("ids"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("sv"),
            F.max("ts").alias("mx"),
        )
        .collect()
    )
    assert agg(got) == agg(events)
