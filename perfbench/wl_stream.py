"""trend_stream: the paper's pipeline, fed by an open-loop generator.

A separate generator process (``gen_events.py``) lands event-wire JSON
files at ``gen_events.RATE_EPS`` events/s for the measured time. Two
queries read the landing directory with the default trigger:

- ``streaming.jobs.decay_trend_stream`` (2-second windows, 2-second
  watermark) in update mode, written through
  ``streaming.sinks.foreach_batch_with_errors`` and
  ``parquet_idempotent_writer``. (``start_foreach_batch`` would run it
  in append mode, which holds every window until the watermark passes.)
- ``streaming.cdc.changes_from_events`` into ``cdc_apply_sink`` through
  ``start_foreach_batch``: one ``sources.txnlog`` commit per batch.

Latency is measured per emitted result: for each row a batch writes
(a window cell for the trend, a key for the upsert) it runs from the
creation of the newest event of that batch contributing to the row to
the end of the batch's sink write. After the paced phase the queries
stop, a backlog of pre-generated files lands at once and both queries
drain it with ``availableNow``; ``throughput_per_s`` is its events/s.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import subprocess
import sys
import time
from collections import defaultdict
from pathlib import Path

import common
import gen_events as gen
from spans import Tracer

WINDOW = "2 seconds"
WINDOW_MS = 2000
WATERMARK = "2 seconds"
#: Decay anchor: after every event time a run produces.
ANCHOR = "2024-01-01 00:02:00"
#: Seconds at the start of the paced phase whose batches give no
#: latency samples: the queries' per-batch code is still being
#: compiled by the JVM and batches take up to twice as long.
RAMP_S = 3
#: Seconds of events in the backlog drained after the paced phase.
BACKLOG_S = 30
#: Files of the set-up's warm-up drain, one per micro-batch:
#: the JVM compiles the per-batch code paths only after many batches.
WARMUP_FILES = 8


def _events_source(spark, landing: str, max_files: int | None = None):
    from big_data_trend_analysis_spark.streaming.sources import EVENT_WIRE_DDL

    reader = spark.readStream.schema(EVENT_WIRE_DDL)
    if max_files is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files))
    return reader.json(landing)


class Pipeline:
    """The two streaming queries over one landing directory, with the
    completion time of every batch each sink wrote."""

    def __init__(self, spark, root: Path, tracer):
        from big_data_trend_analysis_spark.streaming import cdc, sinks

        self.spark, self.root, self.tracer = spark, root, tracer
        self.landing = root / "landing"
        self.landing.mkdir(parents=True, exist_ok=True)
        self.trend_done: dict[int, float] = {}
        self.upsert_done: dict[int, float] = {}
        write = sinks.parquet_idempotent_writer(str(root / "trend_sink"))
        apply = cdc.cdc_apply_sink(str(root / "state"))

        def trend_write(df, batch_id):
            with tracer.span("streaming.sinks.write"):
                write(df, batch_id)
            self.trend_done[batch_id] = time.time()

        def upsert_write(df, batch_id):
            with tracer.span("streaming.cdc.apply"):
                apply(df, batch_id)
            self.upsert_done[batch_id] = time.time()

        self.trend_write, self.upsert_write = trend_write, upsert_write
        self.queries = []

    def start(self, available_now: bool = False, max_files: int | None = None):
        from big_data_trend_analysis_spark.streaming import cdc, jobs, sinks

        events = _events_source(self.spark, str(self.landing), max_files)
        trend = jobs.decay_trend_stream(events, ANCHOR, WINDOW, WATERMARK)
        writer = (
            trend.writeStream.outputMode("update")
            .foreachBatch(sinks.foreach_batch_with_errors(self.trend_write))
            .option("checkpointLocation", str(self.root / "ckpt_trend"))
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        upsert = sinks.start_foreach_batch(
            cdc.changes_from_events(events),
            self.upsert_write,
            str(self.root / "ckpt_upsert"),
            trigger_available_now=available_now,
        )
        self.queries = [writer.start(), upsert]
        return self.queries

    def progress(self) -> tuple[list, list]:
        return tuple([json.loads(p.json) for p in q.recentProgress] for q in self.queries)

    def stop(self) -> None:
        for q in self.queries:
            q.stop()

    def wait(self, timeout: float = 120.0) -> None:
        for q in self.queries:
            q.awaitTermination(timeout)
            if q.exception() is not None:
                raise RuntimeError(f"stream failed: {q.exception()}")

    def file_batches(self, ckpt: str) -> dict[str, int]:
        """Landed file name → batch id, from the file source's log."""
        out = {}
        for path in glob.glob(str(self.root / ckpt / "sources" / "0" / "*")):
            with open(path) as f:
                for line in f:
                    if line.startswith("{"):
                        e = json.loads(line)
                        out[os.path.basename(e["path"])] = int(e["batchId"])
        return out


def _pre_render(seed: int, first: int, n: int, staging: Path) -> list[str]:
    staging.mkdir(parents=True, exist_ok=True)
    names = []
    for i in range(first, first + n):
        name = gen.file_name(i)
        (staging / name).write_text(gen.render(seed, i))
        names.append(name)
    return names


def _warm_up(spark, root: Path, seed: int) -> None:
    root = common.fresh_dir(root)
    pipe = Pipeline(spark, root, Tracer("setup", False))
    _pre_render(seed, 0, WARMUP_FILES, root / "landing")
    pipe.start(available_now=True, max_files=1)
    pipe.wait()


def _ts_ms(value) -> int:
    if value.tzinfo is None:
        value = value.replace(tzinfo=dt.timezone.utc)
    return int(round(value.timestamp() * 1000))


def _latencies(done, file_batch, events_by_file, key, t0, rows_by_batch=None):
    """Per emitted row latency. ``key(event)`` is the row an event
    contributes to; ``rows_by_batch`` (when given) are the rows a batch
    actually wrote, which must all have contributing events."""
    newest: dict[tuple, float] = {}
    for name, b in file_batch.items():
        if b not in done:
            continue
        for e in events_by_file.get(name, ()):
            k = (b, key(e))
            if e[6] > newest.get(k, -1.0):
                newest[k] = e[6]
    if rows_by_batch is not None:
        emitted = {(b, r) for b, rs in rows_by_batch.items() if b in done for r in rs}
        if emitted != set(newest):
            raise common.CheckFailed(
                f"emitted rows differ from the rows the batches' events touch "
                f"({len(emitted ^ set(newest))} differ)"
            )
    return [done[b] - (t0 + c) for (b, _), c in newest.items()]


def _use_stream_width(spark) -> None:
    """The engine's shuffle width for streaming drains: every
    micro-batch commits one state store per shuffle partition."""
    from big_data_trend_analysis_spark.plans.registry import STREAM_SHUFFLE_PARTITIONS

    spark.conf.set("spark.sql.shuffle.partitions", STREAM_SHUFFLE_PARTITIONS)


def run(args, tracer):
    from big_data_trend_analysis_spark.sources.txnlog import TxnLog
    from big_data_trend_analysis_spark.streaming import cdc, jobs
    from big_data_trend_analysis_spark.streaming.sources import EVENT_WIRE_DDL
    from tests.oracle_utils import canon

    work = common.fresh_dir(common.WORK / "stream")
    n_paced = int(round(args.seconds * gen.FILES_PER_S))
    n_backlog = BACKLOG_S * gen.FILES_PER_S
    spark = common.start_session()
    _use_stream_width(spark)
    # The output check reads every batch's progress; keep them all.
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    backlog = _pre_render(args.seed, n_paced, n_backlog, work / "backlog")
    _warm_up(spark, work / "warmup", args.seed)
    setup_s = common.setup_seconds()

    write_commit = TxnLog.write_commit
    tracer.patch(TxnLog, "read_snapshot", "sources.txnlog.read_snapshot")

    def traced_commit(log, *a, **kw):
        try:
            with tracer.span("sources.txnlog.write_commit"):
                return write_commit(log, *a, **kw)
        except FileExistsError:
            tracer.count("sources.txnlog.cas_conflicts")
            raise

    tracer.replace(TxnLog, "write_commit", traced_commit)

    root = work / "run"
    pipe = Pipeline(spark, root, tracer)
    staging = work / "staging"
    staging.mkdir()
    counters = common.ExecCounters(spark)
    pipe.start()
    counters.start()
    t0 = time.time() + 1.0
    manifest = work / "manifest.json"
    proc = subprocess.Popen([
        sys.executable, str(Path(__file__).with_name("gen_events.py")),
        "--seed", str(args.seed), "--files", str(n_paced), "--t0", repr(t0),
        "--landing", str(pipe.landing), "--staging", str(staging),
        "--manifest", str(manifest),
    ])
    try:
        proc.wait(timeout=args.seconds + 60)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if proc.returncode != 0:
        raise RuntimeError(f"event generator exited with {proc.returncode}")
    for q in pipe.queries:
        q.processAllAvailable()
    counters.stop()
    paced_progress = pipe.progress()
    pipe.stop()
    paced_trend = dict(pipe.trend_done)
    paced_upsert = dict(pipe.upsert_done)

    # Drain: the backlog lands at once, both queries restart with
    # availableNow on their checkpoints and run until it is consumed.
    t_drain = time.time()
    for name in backlog:
        os.rename(work / "backlog" / name, pipe.landing / name)
    pipe.start(available_now=True)
    pipe.wait()
    drain_s = time.time() - t_drain
    drain_progress = pipe.progress()
    tracer.unpatch()

    # ---- output checks
    total_files = n_paced + n_backlog
    events_by_file = {gen.file_name(i): gen.file_events(args.seed, i) for i in range(total_files)}
    n_events = total_files * gen.EVENTS_PER_FILE
    batch_events = spark.read.schema(EVENT_WIRE_DDL).json(str(pipe.landing))
    failed = 0
    expect = jobs.decay_trend_stream(batch_events, ANCHOR, WINDOW, WATERMARK)
    sink = spark.read.parquet(str(root / "trend_sink"))
    sink_rows = sink.collect()
    final = {}
    rows_by_batch = defaultdict(set)
    for r in sink_rows:
        cell = (_ts_ms(r["window_start"]), r["event_type"])
        rows_by_batch[r["batch_id"]].add(cell)
        if cell not in final or r["batch_id"] > final[cell][0]:
            final[cell] = (r["batch_id"], r)
    got = [tuple(r[c] for c in expect.columns) for _, r in final.values()]
    if args.corrupt and got:
        got = got[1:]
    if canon(expect.columns, got)[1] != canon(expect.columns, [tuple(r) for r in expect.collect()])[1]:
        print("trend: final windows differ from the batch decay trend", file=sys.stderr)
        failed += 1
    if sum(r["n_events"] for _, r in final.values()) != n_events:
        print("trend: window counts do not sum to the events generated", file=sys.stderr)
        failed += 1
    parse_nulls = batch_events.filter(
        "event_id IS NULL OR ts IS NULL OR event_type IS NULL OR user_id IS NULL"
    ).count()
    if parse_nulls:
        print(f"{parse_nulls} events failed to parse", file=sys.stderr)
        failed += 1
    trend_progress = paced_progress[0] + drain_progress[0]
    upsert_progress = paced_progress[1] + drain_progress[1]
    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in trend_progress
        for op in p.get("stateOperators", [])
    )
    if dropped:
        print(f"trend: {dropped} late rows dropped", file=sys.stderr)
        failed += 1
    state_cols = list(cdc.STATE_COLS)
    want = cdc.compact_latest(cdc.changes_from_events(batch_events)).select(*state_cols)
    have = TxnLog(str(root / "state")).read_snapshot(spark).select(*state_cols)
    if canon(state_cols, [tuple(r) for r in have.collect()])[1] != canon(
        state_cols, [tuple(r) for r in want.collect()]
    )[1]:
        print("upsert: txnlog snapshot differs from compact_latest", file=sys.stderr)
        failed += 1
    trend_files = pipe.file_batches("ckpt_trend")
    upsert_files = pipe.file_batches("ckpt_upsert")
    for name, fb in (("trend", trend_files), ("upsert", upsert_files)):
        if set(fb) != set(events_by_file):
            print(f"{name}: {len(set(events_by_file) - set(fb))} files never read", file=sys.stderr)
            failed += 1

    # ---- latency per emitted row, paced phase only
    def cell(e):
        return (e[1] - e[1] % WINDOW_MS, e[3])

    steady_trend = {b: t for b, t in paced_trend.items() if t >= t0 + RAMP_S}
    steady_upsert = {b: t for b, t in paced_upsert.items() if t >= t0 + RAMP_S}
    trend_lat = _latencies(steady_trend, trend_files, events_by_file, cell, t0, rows_by_batch)
    upsert_lat = _latencies(steady_upsert, upsert_files, events_by_file, lambda e: (e[2], e[3]), t0)
    lat = common.latency_metrics(trend_lat)
    e2e = {
        "setup_s": setup_s,
        "latency_p50_s": lat["p50"],
        "latency_tail_s": lat["p90"],
        "throughput_per_s": n_backlog * gen.EVENTS_PER_FILE / drain_s,
    }
    layers = {"samples": len(trend_lat)}
    # Operations are the batches the two sinks wrote; a failed check
    # counts as one failed operation.
    attempted = len(pipe.trend_done) + len(pipe.upsert_done)
    if not tracer.enabled:
        return spark, attempted, failed, e2e, layers
    layers.update(counters.read())
    layers.update(_layer_metrics(
        tracer, trend_progress, upsert_progress, paced_trend, trend_files,
        manifest, root, parse_nulls, dropped, upsert_lat,
    ))
    # The single-threaded baseline runs in its own process; this one's
    # JVM stops first so the two never hold memory at once.
    layers["peak_rss_mb"] = common.peak_rss_mb()
    common.stop_session(spark)
    common.shutdown_jvm()
    layers["stream.drain_eps_local1"] = _single_thread_drain(args.seed, n_paced, n_backlog // 3)
    return None, attempted, failed, e2e, layers


def _layer_metrics(tracer, trend_progress, upsert_progress, paced_trend, trend_files,
                   manifest, root, parse_nulls, dropped, upsert_lat) -> dict:
    from big_data_trend_analysis_spark.sources.txnlog import TxnLog

    def dur(progress, *keys):
        return sum(p.get("durationMs", {}).get(k, 0) for p in progress for k in keys) / 1e3

    both = trend_progress + upsert_progress
    ops = [op for p in trend_progress for op in p.get("stateOperators", [])]
    last_ops = next(
        (p["stateOperators"] for p in reversed(trend_progress) if p.get("stateOperators")), []
    )
    landed = json.loads(manifest.read_text())
    names = sorted(n for n in trend_files if trend_files[n] in paced_trend)
    # Files waiting when each batch started, and how long each waited.
    starts = {
        p["batchId"]: dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        for p in trend_progress
    }
    backlog_max = 0
    lag = 0.0
    for b in sorted(paced_trend):
        s = starts.get(b)
        if s is None:
            continue
        waiting = sum(
            1 for i, n in enumerate(names)
            if i < len(landed) and landed[i][1] <= s and trend_files[n] >= b
        )
        backlog_max = max(backlog_max, waiting)
    for i, n in enumerate(names):
        b = trend_files[n]
        if i < len(landed) and b in starts:
            lag = max(lag, starts[b] - landed[i][1])
    log = TxnLog(str(root / "state"))
    up = common.latency_metrics(upsert_lat)
    return {
        "streaming.sources.get_batch_s": dur(both, "latestOffset", "getBatch"),
        "streaming.sources.rows_in": sum(p.get("numInputRows", 0) for p in both),
        "streaming.sources.parse_nulls": parse_nulls,
        "streaming.jobs.add_batch_s": dur(trend_progress, "addBatch"),
        "streaming.jobs.planning_s": dur(trend_progress, "queryPlanning"),
        "streaming.jobs.wal_commit_s": dur(trend_progress, "walCommit", "commitOffsets"),
        "streaming.jobs.state_rows": sum(op.get("numRowsTotal", 0) for op in last_ops),
        "streaming.jobs.state_bytes": sum(op.get("memoryUsedBytes", 0) for op in last_ops),
        "streaming.jobs.state_commit_s": sum(op.get("commitTimeMs", 0) for op in ops) / 1e3,
        "streaming.jobs.late_rows_dropped": dropped,
        "streaming.sinks.write_s": tracer.self_s("streaming.sinks.write"),
        "streaming.sinks.empty_batches": len(trend_progress) - tracer.calls("streaming.sinks.write"),
        "streaming.cdc.apply_s": tracer.self_s("streaming.cdc.apply"),
        "sources.txnlog.read_snapshot_s": tracer.self_s("sources.txnlog.read_snapshot"),
        "sources.txnlog.write_commit_s": tracer.self_s("sources.txnlog.write_commit"),
        "sources.txnlog.commits": tracer.calls("sources.txnlog.write_commit"),
        "sources.txnlog.cas_conflicts": tracer.counts["sources.txnlog.cas_conflicts"],
        "sources.txnlog.snapshot_files": len(log.manifest(log.latest_version())["files"]),
        "upsert.latency_p50_s": up["p50"],
        "upsert.latency_p90_s": up["p90"],
        "stream.batches": len(paced_trend),
        "stream.backlog_files_max": backlog_max,
        "stream.lag_s": lag,
        "gen.late_s_max": max(l - d for d, l in landed),
    }


def _single_thread_drain(seed: int, first: int, n: int) -> float:
    """Events/s of a ``local[1]`` process draining ``n`` backlog files."""
    out = subprocess.run(
        [sys.executable, __file__, "--seed", str(seed), "--first", str(first),
         "--files", str(n)],
        capture_output=True, text=True, timeout=150,
    )
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-2000:])
        raise RuntimeError(f"local[1] drain exited with {out.returncode}")
    return float(out.stdout.strip().splitlines()[-1])


def _local1_main(argv) -> None:
    """``wl_stream.py --seed S --first F --files N``: drain backlog files
    F..F+N-1 of the traced run's landing directory on ``local[1]``,
    after the usual warm-up; print events per second."""
    import argparse

    p = argparse.ArgumentParser()
    for name in ("--seed", "--first", "--files"):
        p.add_argument(name, type=int, required=True)
    a = p.parse_args(argv)
    common.prepare_environment()
    spark = common.start_session(master="local[1]")
    try:
        _use_stream_width(spark)
        work = common.WORK / "stream"
        _warm_up(spark, work / "local1_warmup", a.seed)
        root = common.fresh_dir(work / "local1")
        pipe = Pipeline(spark, root, Tracer("local1", False))
        for i in range(a.first, a.first + a.files):
            name = gen.file_name(i)
            os.link(work / "run" / "landing" / name, pipe.landing / name)
        t = time.time()
        pipe.start(available_now=True)
        pipe.wait()
        print(a.files * gen.EVENTS_PER_FILE / (time.time() - t))
    finally:
        common.stop_session(spark)
        common.shutdown_jvm()


if __name__ == "__main__":
    _local1_main(sys.argv[1:])
