"""Streaming sinks: foreachBatch with error side-channel, JDBC serving.

Reference parity (K1/K3/M1, SURVEY.md §2.1): per-micro-batch append to
an external store, with failures captured as (batch_id, error,
error_time) rows in a side table instead of crashing the query
(``edw_stream.py:113-136``). Differences by design:

- explicit ``checkpointLocation`` (the reference uses a temp
  checkpoint and silently loses its position on restart);
- the serving write is a pluggable callable, so tests use parquet and
  production uses JDBC with the exact options the reference pins.

``drain_available_now`` is the one way the engine runs a stream over
all available input to completion (the ``*_live`` gate queries, the
streaming tests).
"""

from __future__ import annotations

import datetime
import json
import shutil
import tempfile
import threading
import time
import traceback
import uuid
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from big_data_trend_analysis_spark import scope

WriteFn = Callable[[DataFrame, int], None]


#: Write mode every serving append uses (reference K1 semantics:
#: per-batch INSERT, never overwrite — spark_stream.py:47).
JDBC_APPEND_MODE = "append"


def jdbc_connection_options(
    url: str,
    table: str,
    user: str,
    password: str,
    driver: str = "org.postgresql.Driver",
) -> dict[str, str]:
    """The exact JDBC scan/write option set the reference pins
    (spark_stream.py:40-48: url/dbtable/user/password/driver). Factored
    pure so the sandbox (no Postgres) can contract-test the wiring the
    executable path can't reach.
    """
    return {
        "url": url,
        "dbtable": table,
        "user": user,
        "password": password,
        "driver": driver,
    }


#: Optional external JDBC serving target. Set ``JDBC_URL`` (e.g.
#: ``jdbc:postgresql://localhost:5432/bdta?user=bdta&password=bdta&``
#: ``stringtype=unspecified``) to aim the serving-sink tests at a real
#: Postgres — ``stringtype=unspecified`` lets the PG driver coerce the
#: text ``props`` column into a JSONB target column server-side (the
#: reference's JSONB mapping, edw_stream.py:14). Unset (the container
#: default), callers fall back to embedded Derby.
JDBC_URL_ENV = "JDBC_URL"
JDBC_DRIVER_ENV = "JDBC_DRIVER"


def jdbc_target_from_env(
    default_url: str,
    default_driver: str = "org.apache.derby.iapi.jdbc.AutoloadedDriver",
) -> tuple[str, str, bool]:
    """Resolve the serving-database target: ``(url, driver,
    is_external)``.

    The dialect matrix in one switch: an environment with a real
    warehouse exports ``JDBC_URL`` (+ optionally ``JDBC_DRIVER``,
    defaulting to Postgres) and every JDBC test/sink runs against it;
    this container resolves to the embedded-Derby default. Type
    mapping across the two dialects (README "JDBC serving targets"):
    DOUBLE and BIGINT are IEEE/64-bit in both; the JSON side-channel
    column is plain VARCHAR in Derby and JSONB in Postgres via
    ``createTableColumnTypes`` + ``stringtype=unspecified``.
    """
    import os

    url = os.environ.get(JDBC_URL_ENV)
    if url:
        driver = os.environ.get(JDBC_DRIVER_ENV, "org.postgresql.Driver")
        return url, driver, True
    return default_url, default_driver, False


def jdbc_append_writer(
    url: str,
    table: str,
    user: str,
    password: str,
    driver: str = "org.postgresql.Driver",
) -> WriteFn:
    """Serving-layer JDBC append (reference K1, spark_stream.py:40-48).

    Executors open the JDBC connections (one per partition) — the
    driver never touches row data. Scale note: cap write parallelism
    upstream with ``coalesce`` if the target DB can't take one
    connection per shuffle partition.
    """
    options = jdbc_connection_options(url, table, user, password, driver)

    def write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.format("jdbc").options(**options).mode(
            JDBC_APPEND_MODE
        ).save()

    return write


def serialize_for_kafka(batch_df: DataFrame) -> DataFrame:
    """Rows → single JSON ``value`` column (reference K2 wire format).

    The executable half of the Kafka sink: the reference serializes
    dict→JSON→UTF-8 on a host Python process (fake_producer.py:38-41);
    here executors serialize with ``to_json(struct(*))``. Runs fine
    without a broker, so tests pin the wire format even though the
    publish itself needs the connector jar.
    """
    from pyspark.sql import functions as F

    return batch_df.select(F.to_json(F.struct(*batch_df.columns)).alias("value"))


def kafka_sink_options(bootstrap_servers: str, topic: str) -> dict[str, str]:
    """Kafka producer options (reference K2). Factored pure for
    contract tests — no broker or connector jar in the sandbox."""
    return {"kafka.bootstrap.servers": bootstrap_servers, "topic": topic}


def parquet_append_writer(path: str) -> WriteFn:
    """Test/lakehouse sink: append the batch to a parquet directory.

    Blind append: under foreachBatch's at-least-once contract a batch
    RETRY duplicates rows. Use ``parquet_idempotent_writer`` when the
    sink must show each batch's rows exactly once after replay.
    """

    def write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(path)

    return write


def parquet_idempotent_writer(path: str) -> WriteFn:
    """Idempotent batch sink: each batch overwrites its own
    ``batch_id=N`` directory.

    foreachBatch delivers each batch at-least-once (a crash between the
    sink write and the checkpoint commit replays the batch), so blind
    appends duplicate on retry. Keying the write by the checkpointed
    ``batch_id`` and OVERWRITING makes replay land on the same path —
    the standard exactly-once-EFFECT recipe for file sinks. Readers
    scan the root; Spark surfaces ``batch_id`` as a partition column.
    """

    def write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{path}/batch_id={batch_id}")

    return write


def jdbc_idempotent_writer(
    url: str,
    table: str,
    user: str,
    password: str,
    driver: str = "org.postgresql.Driver",
    batch_id_col: str = "batch_id",
) -> WriteFn:
    """Exactly-once-EFFECT JDBC sink: delete-then-append keyed by batch.

    The JDBC analog of ``parquet_idempotent_writer``: each batch's rows
    carry the checkpointed ``batch_id``, and a replayed batch first
    DELETEs its own ``batch_id`` slice (a driver-side statement via the
    JVM's DriverManager — row data never moves through it) before the
    executors append. A crash between append and checkpoint commit then
    replays onto a clean slate instead of duplicating — the upgrade
    over the reference's blind ``mode("append")``
    (spark_stream.py:40-48). Requires ``table`` to exist (the DELETE
    needs it); first-run table creation stays with the blind append
    path or DDL migration.
    """
    options = jdbc_connection_options(url, table, user, password, driver)

    def write(batch_df: DataFrame, batch_id: int) -> None:
        jvm = batch_df.sparkSession._jvm
        jvm.java.lang.Class.forName(driver)
        conn = jvm.java.sql.DriverManager.getConnection(url, user, password)
        try:
            stmt = conn.createStatement()
            # Spark's JDBC writer creates columns with quoted (case-
            # preserved) identifiers — quote the same way here.
            stmt.executeUpdate(
                f'DELETE FROM {table} WHERE "{batch_id_col}" = {int(batch_id)}'
            )
            stmt.close()
        finally:
            conn.close()
        batch_df.withColumn(batch_id_col, F.lit(batch_id).cast("long")).write.format(
            "jdbc"
        ).options(**options).mode(JDBC_APPEND_MODE).save()

    return write


def foreach_batch_with_errors(
    write: WriteFn,
    on_error: WriteFn | None = None,
) -> Callable[[DataFrame, int], None]:
    """Wrap a batch writer with the reference's error side-channel (K3).

    On write failure the batch's error row goes to ``on_error`` (e.g. a
    ``processing_errors`` table writer) and the stream keeps running —
    reference semantics (edw_stream.py:124-136). Empty batches are
    skipped (reference F1 empty-batch guard).

    The batch is held once (``scope.materialize``, in a scope of its
    own) and the empty-batch guard and the write both read the held
    batch, so its plan runs once. Each action on an unheld batch re-runs
    its plan; for a stateful query that is the state stage, whose
    progress then counts ``numRowsUpdated``, ``numRowsTotal`` and
    ``commitTimeMs`` once per run. The scope is released when the batch
    is done, also when the writer raises.
    """

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        with scope.opened() as made:
            try:
                held = scope.materialize(batch_df)
                if held.isEmpty():
                    return
                try:
                    write(held, batch_id)
                except Exception as exc:  # noqa: BLE001 - side-channel by design
                    if on_error is None:
                        raise
                    error_row = held.sparkSession.createDataFrame(
                        [
                            (
                                batch_id,
                                f"{exc}\n{traceback.format_exc(limit=3)}",
                                datetime.datetime.now(datetime.timezone.utc),
                            )
                        ],
                        "batch_id long, error string, error_time timestamp",
                    )
                    on_error(error_row, batch_id)
            finally:
                made.release()

    return handle


def start_foreach_batch(
    df: DataFrame,
    write: WriteFn,
    checkpoint_dir: str,
    on_error: WriteFn | None = None,
    trigger_available_now: bool = False,
    processing_time: str | None = None,
) -> StreamingQuery:
    """writeStream.foreachBatch with checkpointing (reference M1, fixed).

    ``trigger_available_now=True`` drains all available input then
    stops — the batch-parity/testing mode; ``processing_time`` sets a
    paced trigger for steady-state serving.
    """
    writer = df.writeStream.foreachBatch(
        foreach_batch_with_errors(write, on_error)
    ).option("checkpointLocation", checkpoint_dir)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time is not None:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


#: Shuffle partitions of a drain's session. Streaming state cost scales
#: with partition count, not data: every micro-batch commits one store
#: (FOUR for a stream-stream join) per partition, so 32 partitions pay
#: 100s of store commits to shuffle KBs of state. Measured on the
#: fixtures (round 5, sf0.1, min-of-2): the live family totals 12.8 s at
#: 8 partitions vs 10.8 s at 4 (stream_join_live, with its 4
#: stores/partition, drops 3.0→2.2 s); 4 still spreads the fixture
#: state (≤150 keys) across cores. A cluster deployment sizes this by
#: key cardinality instead.
STREAM_SHUFFLE_PARTITIONS = "4"

#: Seconds a drain may run before it is stopped and raises TimeoutError.
DRAIN_TIMEOUT_S = 300

#: Seconds a finished drain waits for its terminated event to reach
#: its session's listeners; past that it keeps the session's bus.
_LISTENER_FLUSH_S = 10

#: Held while a drain re-attaches its session's bus and starts, and
#: while a finished drain releases it, so a release never detaches the
#: bus of a session whose next drain is starting.
_STREAMS_BUS_LOCK = threading.Lock()


class Drain(NamedTuple):
    """A finished drain: its memory-sink table (None for a foreachBatch
    sink) and the query's progress reports as plain dicts."""

    table: DataFrame | None
    progress: list[dict]


def drain_available_now(
    df: DataFrame,
    output_mode: str = "append",
    foreach_batch: WriteFn | None = None,
    checkpoint_dir: str | None = None,
) -> Drain:
    """Run streaming ``df`` over all available input, then stop it.

    Sets the session's shuffle width to ``STREAM_SHUFFLE_PARTITIONS``,
    writes to a uniquely named memory table (or through
    ``foreach_batch``) with an ``availableNow`` trigger, and waits at
    most ``DRAIN_TIMEOUT_S``: a drain that has not finished by then is
    stopped and raises ``TimeoutError`` instead of returning a partial
    table. The checkpoint is a temporary directory removed afterwards,
    unless the caller passes ``checkpoint_dir`` to keep it across runs.
    After the stop, the query's streaming listener buses are taken off
    the SparkContext's listener bus, so repeated drains do not
    accumulate listeners.
    """
    spark = df.sparkSession
    spark.conf.set("spark.sql.shuffle.partitions", STREAM_SHUFFLE_PARTITIONS)
    name = f"drain_{uuid.uuid4().hex[:12]}"
    ckpt = checkpoint_dir or tempfile.mkdtemp(prefix="bdta_ckpt_")
    writer = df.writeStream.queryName(name).outputMode(output_mode)
    if foreach_batch is None:
        writer = writer.format("memory")
    else:
        writer = writer.foreachBatch(foreach_batch)
    try:
        with _STREAMS_BUS_LOCK:
            _attach_streams_bus(spark)
            query = (
                writer.option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
        try:
            finished = query.awaitTermination(DRAIN_TIMEOUT_S)
        finally:
            query.stop()
            _release_streams_buses(spark, query)
        if not finished:
            raise TimeoutError(
                f"streaming drain {name} did not finish in {DRAIN_TIMEOUT_S} s"
            )
        # Spark 3.5 reports progress as dicts, Spark 4 as objects.
        progress = [
            p if type(p) is dict else json.loads(p.json)
            for p in query.recentProgress
        ]
    finally:
        if checkpoint_dir is None:
            shutil.rmtree(ckpt, ignore_errors=True)
    return Drain(spark.table(name) if foreach_batch is None else None, progress)


def _private_field(obj, name: str):
    field = obj.getClass().getDeclaredField(name)
    field.setAccessible(True)
    return field.get(obj)


def _streams_bus(jsession):
    """The listener bus of a JVM session's StreamingQueryManager, or None
    if the session never created a manager (checked without creating
    one: the manager is a lazy field of the session state)."""
    manager = _private_field(jsession.sessionState(), "streamingQueryManager")
    return None if manager is None else _private_field(manager, "listenerBus")


def _attach_streams_bus(spark: SparkSession) -> None:
    """Re-register the session's streaming listener bus if an earlier
    drain on this session released it, so this drain's events reach the
    session's listeners."""
    live = spark.sparkContext._jsc.sc().listenerBus()
    bus = _streams_bus(spark._jsparkSession)
    if bus is not None and not live.listeners().contains(bus):
        live.addToQueue(bus, "streams")


def _release_streams_buses(spark: SparkSession, query: StreamingQuery) -> None:
    """Take a stopped drain's streaming listener buses off the
    SparkContext's listener bus.

    Each session's StreamingQueryManager registers one bus there for the
    life of the SparkContext, and a stream runs on a clone of its
    session that may create a second. The session's bus tracks the run
    ids of its queries until their terminated events are delivered; it
    is removed once that set is empty, so every query of the session,
    this one included, has told the session's listeners it ended.
    """
    live = spark.sparkContext._jsc.sc().listenerBus()
    # The query posts its events on its session's bus, never the clone's.
    clone_bus = _streams_bus(query._jsq.streamingQuery().sparkSessionForStream())
    if clone_bus is not None:
        live.removeListener(clone_bus)
    bus = _streams_bus(spark._jsparkSession)
    pending, run_id = _private_field(bus, "activeQueryRunIds"), query._jsq.runId()
    deadline = time.monotonic() + _LISTENER_FLUSH_S
    while pending.contains(run_id) and time.monotonic() < deadline:
        time.sleep(0.01)
    with _STREAMS_BUS_LOCK:
        if pending.isEmpty():
            live.removeListener(bus)
