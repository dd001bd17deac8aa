"""Streaming sources: Kafka tweet stream, file streams, rate test source.

Kafka parity (reference S1, ``processing/spark_stream.py:24-29``): the
scan options are reproduced verbatim, but parsing is factored into
``parse_tweet_frame`` which works on *any* DataFrame with a binary
``value`` column — streaming or batch — so the parse logic is testable
without a broker (this container has neither Kafka nor the
spark-sql-kafka connector jar).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from big_data_trend_analysis_spark.sources.tables import _nanos_to_micros, _resolved_schema

#: Tweet message schema (FIXTURES.md A.1). The reference declares
#: ``entities: array<struct<>>`` which silently nulls every entity
#: (SURVEY §1.2 schema bug); we declare array<string>, matching what
#: producers actually emit (fake_producer.py:49-51).
TWEET_SCHEMA = StructType(
    [
        StructField("text", StringType()),
        StructField("created_at", TimestampType()),
        StructField("sentiment", StringType()),
        StructField("entities", ArrayType(StringType())),
    ]
)


#: Default topic matching the reference's producer/consumer pair
#: (spark_stream.py:27, fake_producer.py:38).
TWEET_TOPIC = "twitter_sentiment"


def kafka_scan_options(
    bootstrap_servers: str = "localhost:9092",
    topic: str = TWEET_TOPIC,
    starting_offsets: str = "earliest",
) -> dict[str, str]:
    """Kafka scan options (reference S1, spark_stream.py:24-29).

    Factored pure so the wiring is contract-testable without a broker
    or the connector jar. The reference uses ``startingOffsets=latest``
    (spark_stream.py:28), which silently skips pre-launch data; we
    default to ``earliest`` and make it a parameter.
    """
    return {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
    }


def read_tweet_stream(
    spark: SparkSession,
    bootstrap_servers: str = "localhost:9092",
    topic: str = TWEET_TOPIC,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """Kafka streaming scan of the tweet topic (reference S1).

    Requires the spark-sql-kafka connector on the classpath.
    """
    options = kafka_scan_options(bootstrap_servers, topic, starting_offsets)
    return (
        spark.readStream.format("kafka")
        .options(**options)
        .load()
        .transform(parse_tweet_frame)
    )


def read_tweet_stream_from_socket(
    spark: SparkSession, host: str = "localhost", port: int = 9999
) -> DataFrame:
    """Broker-free executable twin of ``read_tweet_stream`` (S1).

    This container has no Kafka broker or spark-sql-kafka jar, so the
    Kafka scan itself cannot execute here; this source runs the SAME
    downstream contract — an unbounded ``readStream`` of serialized
    tweet payloads parsed by ``parse_tweet_frame`` — over Spark's
    built-in TCP socket source (one JSON message per line, the
    producers' wire format minus Kafka framing). The socket source is
    a test/dev tool (not fault-tolerant, no offsets); production uses
    ``read_tweet_stream``. Exercised end-to-end in
    tests/test_streaming.py against a real in-process TCP server.
    """
    raw = (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", str(port))
        .load()
        # socket yields value:string; Kafka yields value:binary. Cast to
        # binary so parse_tweet_frame sees the exact Kafka-shaped input.
        .select(F.col("value").cast("binary").alias("value"))
    )
    return parse_tweet_frame(raw)


def parse_tweet_frame(raw: DataFrame) -> DataFrame:
    """binary ``value`` → typed tweet columns (reference P1-P5).

    CAST(value AS STRING) → from_json(declared schema) → flatten.
    Unparseable JSON yields null columns (Spark PERMISSIVE mode), the
    same contract the reference relies on — but unlike the reference we
    keep ``entities`` as a real array column instead of re-serializing
    to a JSON string (spark_stream.py:37).
    """
    return (
        raw.select(F.col("value").cast("string").alias("json_str"))
        .select(F.from_json("json_str", TWEET_SCHEMA).alias("data"))
        .select("data.*")
    )


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-based streaming source over the events table.

    ``readStream`` on the same parquet the batch path reads — the
    standard pattern for replay/backfill on a real deployment (the
    100 TB analog streams a date-partitioned directory). It reads with
    the catalog's cached schema of the file
    (``sources/tables._resolved_schema``), so both timestamp storages
    the driver has generated come out as ``load_table`` gives them: that
    schema declares a TIMESTAMP(NANOS) column long, which the file
    source hands over as nanoseconds (converted to microseconds here),
    and a naive TIMESTAMP(MICROS) column as the LTZ TIMESTAMP it
    declares. No conf of the caller's session is set.
    """
    schema, nanos = _resolved_schema(spark, os.path.join(sf_dir, "events.parquet"))
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(os.path.join(sf_dir))
    )
    return _nanos_to_micros(raw, nanos)


#: Micro-batch count for the split documents stream. Kept small and
#: FIXED: the stateful_decay oracle reproduces the per-batch decay
#: recurrence in SQL, which stays decimal-exact (multiples of 0.01 for
#: decay 0.9) only while the exponent stays ≤ DOC_STREAM_BATCHES-1.
DOC_STREAM_BATCHES = 3


def _split_dir(sf_dir: str, table: str, key: str, n_batches: int) -> str:
    """Split ``{table}.parquet`` into ``n_batches`` single-file slices
    by ``key % n_batches``, with strictly increasing mtimes.

    Harness plumbing, not a data path: the split materializes the
    multi-file layout a production stream source would already have
    (date/hour files from an upstream writer), so the gate can drive
    REAL multi-micro-batch execution (``maxFilesPerTrigger=1`` — the
    file stream processes oldest-mtime first, hence batch b = the
    ``key % n_batches == b`` slice, deterministically). pyarrow on
    the driver is fine here: fixture-sized input, cached per
    (source path, mtime, size, n) so repeated runs split once. A
    ``ts`` column (events) is cast to microseconds, lossless on the
    fixture's second-granularity values, so the streaming reader needs
    no nanos probing whichever storage the fixture uses.

    The split is written into a fresh sibling directory and published
    with one ``os.rename``, so a reader never sees a partial split. A
    caller whose rename loses (another caller published first) drops
    its own copy and returns the published one.
    """
    import hashlib
    import shutil
    import tempfile

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    src = os.path.join(sf_dir, f"{table}.parquet")
    st = os.stat(src)
    digest = hashlib.sha256(
        f"{os.path.abspath(src)}|{st.st_mtime_ns}|{st.st_size}|{n_batches}".encode()
    ).hexdigest()[:16]
    out_dir = os.path.join(tempfile.gettempdir(), f"bdta_split_{table}_{digest}")
    if os.path.isdir(out_dir):
        return out_dir
    work = tempfile.mkdtemp(
        prefix=f"{os.path.basename(out_dir)}.", dir=os.path.dirname(out_dir)
    )
    data = pq.read_table(src)
    if "ts" in data.column_names:
        ts_us = pc.cast(data.column("ts"), pa.timestamp("us"))
        data = data.set_column(data.schema.get_field_index("ts"), "ts", ts_us)
    mod = pa.array(data.column(key).to_numpy() % n_batches)
    base = 1_600_000_000  # fixed epoch: mtime order independent of wall clock
    for b in range(n_batches):
        path = os.path.join(work, f"batch{b}.parquet")
        pq.write_table(data.filter(pc.equal(mod, b)), path)
        os.utime(path, (base + 10 * b, base + 10 * b))
    try:
        os.rename(work, out_dir)
    except OSError:  # published by another caller first
        shutil.rmtree(work, ignore_errors=True)
    return out_dir


def stream_documents_batched(
    spark: SparkSession, sf_dir: str, n_batches: int = DOC_STREAM_BATCHES
) -> DataFrame:
    """Documents stream that drains in ``n_batches`` real micro-batches.

    ``maxFilesPerTrigger=1`` + one file per ``doc_id % n_batches``
    slice (mtime-ordered) ⇒ an availableNow drain executes ≥2
    micro-batches, so cross-batch state (streaming groupBy totals, the
    keyed decay recurrence) is exercised through the driver's oracle
    gate instead of collapsing to the single-batch case (VERDICT r5
    "Next round" #3).
    """
    split_dir = _split_dir(sf_dir, "documents", "doc_id", n_batches)
    ddl = "doc_id long, text string, lang string, source string, n_chars long"
    return (
        spark.readStream.schema(ddl)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "batch*.parquet")
        .parquet(split_dir)
    )


#: Micro-batch count for the split events stream (same rationale as
#: DOC_STREAM_BATCHES; event_id % n scatters every business key's
#: events across batches, so cross-batch keyed state is truly hit).
EVENT_STREAM_BATCHES = 3


def stream_events_batched(
    spark: SparkSession, sf_dir: str, n_batches: int = EVENT_STREAM_BATCHES
) -> DataFrame:
    """Events stream that drains in ``n_batches`` real micro-batches
    (``maxFilesPerTrigger=1`` over the mtime-ordered event_id % n
    split) — so keyed streaming state genuinely carries ACROSS
    batches: a business key's events land in different micro-batches
    by construction."""
    split_dir = _split_dir(sf_dir, "events", "event_id", n_batches)
    ddl = (
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    )
    return (
        spark.readStream.schema(ddl)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "batch*.parquet")
        .parquet(split_dir)
    )


#: Events-source override for the live gate queries: set to
#: ``kafka://host:port/topic`` in an environment that has a broker +
#: the spark-sql-kafka connector jar; unset (the container default)
#: replays the parquet fixture through the file stream.
EVENTS_SOURCE_ENV = "SPARK_GRAFT_EVENTS_SOURCE"

#: Wire schema of one Kafka event message (the JSON twin of the
#: events fixture row — what a reference-style producer publishes).
EVENT_WIRE_DDL = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def stream_events_from_uri(
    spark: SparkSession, source: str | None, sf_dir: str
) -> DataFrame:
    """Pluggable events stream: a real Kafka scan when a broker URI is
    given, the file-replay twin otherwise.

    ``kafka://host:port/topic`` → ``readStream.format("kafka")`` with
    the reference's scan options (S1, earliest offsets) and a
    from_json parse of the event wire format — byte-identical
    downstream plan to the file path. Any other value (None/empty =
    the container default) replays the parquet fixture via
    ``stream_events``. The Kafka branch needs the spark-sql-kafka
    connector jar and a reachable broker; it is exercised by a
    conditional test that skips cleanly when ``KAFKA_BOOTSTRAP`` is
    unset (this container has no broker — README documents the gap).
    """
    if source and source.startswith("kafka://"):
        rest = source[len("kafka://") :]
        servers, _, topic = rest.partition("/")
        if not servers or not topic:
            raise ValueError(
                f"bad events source URI {source!r}: expected "
                "kafka://host:port/topic"
            )
        raw = (
            spark.readStream.format("kafka")
            .options(**kafka_scan_options(servers, topic))
            .load()
        )
        return (
            raw.select(F.col("value").cast("string").alias("json_str"))
            .select(F.from_json("json_str", EVENT_WIRE_DDL).alias("e"))
            .select("e.*")
        )
    return stream_events(spark, sf_dir)
