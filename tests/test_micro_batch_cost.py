"""Per-micro-batch costs: a ``foreachBatch`` batch runs its plan once,
and a multi-file read lists its files in at most one task per slot."""

from __future__ import annotations

import json
import uuid
from types import SimpleNamespace

from big_data_trend_analysis_spark.session import ENGINE_CONF, tune_session
from big_data_trend_analysis_spark.sources.txnlog import TxnLog
from big_data_trend_analysis_spark.streaming.jobs import decay_trend_stream
from big_data_trend_analysis_spark.streaming.sinks import (
    drain_available_now,
    foreach_batch_with_errors,
)
from big_data_trend_analysis_spark.streaming.sources import EVENT_WIRE_DDL

_TYPES = ("view", "click", "purchase")


def _persistent_rdds(spark) -> int:
    return len(spark.sparkContext._jsc.getPersistentRDDs())


def _land_event_files(landing, n_files: int, per_file: int) -> None:
    """``n_files`` event-wire JSON files, each a few seconds of events
    later than the one before, so every file opens new windows."""
    landing.mkdir()
    for f in range(n_files):
        lines = [
            json.dumps({
                "event_id": f * per_file + i,
                "ts": f"2024-01-01T00:00:{10 * f + i % 6:02d}Z",
                "user_id": i % 5,
                "event_type": _TYPES[i % len(_TYPES)],
                "value": float(i),
                "props": json.dumps({"k": i % 4}),
            })
            for i in range(per_file)
        ]
        (landing / f"part-{f:04d}.json").write_text("\n".join(lines) + "\n")


def test_stateful_batch_runs_its_state_stage_once(spark, tmp_path):
    """Every batch the writer gets updated as many state rows as it
    wrote: the empty-batch guard and the write read one held batch
    instead of running the state stage twice. The hold is released."""
    child = tune_session(spark.newSession())
    landing = tmp_path / "landing"
    _land_event_files(landing, n_files=4, per_file=12)
    events = (
        child.readStream.schema(EVENT_WIRE_DDL)
        .option("maxFilesPerTrigger", "1")
        .json(str(landing))
    )
    trend = decay_trend_stream(events, "2024-01-01 00:02:00", "2 seconds", "2 seconds")
    received: dict[int, int] = {}

    def write(batch_df, batch_id):
        received[batch_id] = batch_df.count()

    before = _persistent_rdds(spark)
    drain = drain_available_now(
        trend, "update", foreach_batch=foreach_batch_with_errors(write)
    )
    assert _persistent_rdds(spark) == before
    assert len(received) == 4 and all(received.values())
    updated = {
        p["batchId"]: p["stateOperators"][0]["numRowsUpdated"] for p in drain.progress
    }
    assert {b: updated[b] for b in received} == received


def _listing_task_counts(spark, group: str) -> list[int]:
    """Task counts of the group's "Listing leaf files" jobs."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    counts = []
    for i in range(jobs.size()):
        job = jobs.apply(i)
        if job.jobGroup().isDefined() and job.jobGroup().get() == group:
            description = job.description()
            if description.isDefined() and "Listing leaf files" in description.get():
                counts.append(job.numTasks())
    return counts


def test_multi_file_read_lists_in_at_most_one_task_per_slot(spark, tmp_path):
    """A 40-file snapshot read lists its files in one job of at most
    ``defaultParallelism`` tasks, not one task per file."""
    child = tune_session(spark.newSession())
    log = TxnLog(str(tmp_path / "log"))
    log.write_commit(child.range(400).selectExpr("id", "id % 7 AS k"), n_files=40)
    files = log.snapshot_files(log.latest_version())
    assert len(files) == 40
    sc = spark.sparkContext
    group = f"listing_{uuid.uuid4().hex[:12]}"
    sc.setJobGroup(group, "40-file snapshot read")
    try:
        rows = log.read_snapshot(child).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    counts = _listing_task_counts(spark, group)
    assert counts and max(counts) <= sc.defaultParallelism
    union = [
        tuple(r)
        for path in files
        for r in child.read.parquet(path).collect()
    ]
    assert sorted(tuple(r) for r in rows) == sorted(union) == [
        (i, i % 7) for i in range(400)
    ]


def test_tune_session_leaves_the_listing_bound_out_without_a_spark_context():
    """A Spark Connect session has no SparkContext: it gets the engine
    confs and the package as an artifact, and no listing bound."""
    from pyspark.errors import PySparkAttributeError

    class ConnectSession:
        def __init__(self):
            self.confs: dict[str, str] = {}
            self.conf = SimpleNamespace(set=self.confs.__setitem__)
            self.artifacts: list[str] = []

        @property
        def sparkContext(self):
            raise PySparkAttributeError(
                errorClass="JVM_ATTRIBUTE_NOT_SUPPORTED",
                messageParameters={"attr_name": "sparkContext"},
            )

        def addArtifacts(self, *paths, pyfile=False):
            assert pyfile
            self.artifacts.extend(paths)

    connect = ConnectSession()
    assert tune_session(connect) is connect
    assert connect.confs == ENGINE_CONF
    assert len(connect.artifacts) == 1


def test_failed_batch_reports_its_error_and_releases_its_hold(spark):
    """A writer that raises still sends one error row, and the held
    batch is unpersisted."""
    errors: list = []

    def failing_write(batch_df, batch_id):
        assert batch_df.count() == 20
        raise RuntimeError("serving table unavailable")

    before = _persistent_rdds(spark)
    handler = foreach_batch_with_errors(
        failing_write, lambda error_df, batch_id: errors.extend(error_df.collect())
    )
    handler(spark.range(20).selectExpr("id", "id % 3 AS k"), 11)
    assert [(e.batch_id, "serving table unavailable" in e.error) for e in errors] == [
        (11, True)
    ]
    assert _persistent_rdds(spark) == before
