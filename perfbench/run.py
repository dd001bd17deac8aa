"""Run one benchmark workload and print its result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Inputs are generated from ``--seed``
(and cached under ``.perfbench/``); the workload runs for ``--seconds``
seconds of measurement, checks its outputs and prints, as the last line
of standard output, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports the end-to-end
metrics, ``--trace 1`` runs with spans and counters on and reports the
per-layer metrics. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib.util
import sys
import time
import traceback

import common

WORKLOADS = {
    "trend_stream": "wl_stream",
    "analytics_mix": "wl_analytics",
}

END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "throughput_per_s": "1/s",
}

#: Per-layer metrics with their units. A workload that does not
#: exercise a layer reports 0 for it and says so on standard error.
PER_LAYER = {
    "samples": "count",
    "peak_rss_mb": "MB",
    "error_rate": "ratio",
    "traced.latency_p50_s": "s",
    "traced.latency_tail_s": "s",
    "traced.throughput_per_s": "1/s",
    "session.tune_calls": "count",
    "session.tune_s": "s",
    "sources.tables.load_calls": "count",
    "sources.tables.load_s": "s",
    "plans.registry.build_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.driver_gap_s": "s",
    "exec.busy_ratio": "ratio",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.task_skew": "ratio",
    "operators.textstats.curate_s": "s",
    "operators.dedup.edges_s": "s",
    "operators.dedup.cluster_loop_s": "s",
    "operators.dedup.cluster_rounds": "count",
    "operators.dedup.minhash_s": "s",
    "operators.dedup.candidate_pairs": "count",
    "operators.dedup.true_pairs": "count",
    "operators.dedup.candidate_yield": "ratio",
    "operators.dedup.recall": "ratio",
    "streaming.sources.get_batch_s": "s",
    "streaming.sources.rows_in": "count",
    "streaming.sources.parse_nulls": "count",
    "streaming.jobs.add_batch_s": "s",
    "streaming.jobs.planning_s": "s",
    "streaming.jobs.wal_commit_s": "s",
    "streaming.jobs.state_rows": "count",
    "streaming.jobs.state_bytes": "bytes",
    "streaming.jobs.state_commit_s": "s",
    "streaming.jobs.late_rows_dropped": "count",
    "streaming.sinks.write_s": "s",
    "streaming.sinks.empty_batches": "count",
    "streaming.cdc.apply_s": "s",
    "sources.txnlog.read_snapshot_s": "s",
    "sources.txnlog.write_commit_s": "s",
    "sources.txnlog.commits": "count",
    "sources.txnlog.cas_conflicts": "count",
    "sources.txnlog.snapshot_files": "count",
    "upsert.latency_p50_s": "s",
    "upsert.latency_p90_s": "s",
    "stream.batches": "count",
    "stream.backlog_files_max": "count",
    "stream.lag_s": "s",
    "stream.drain_eps_local1": "1/s",
    "gen.late_s_max": "s",
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--corrupt",
        action="store_true",
        help="corrupt one result before the output check (checks the checker)",
    )
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    common.prepare_environment(trace=bool(args.trace))
    spec = importlib.util.find_spec("big_data_trend_analysis_spark")
    if spec is None or not str(spec.origin).startswith(str(common.ROOT)):
        print("error: package big_data_trend_analysis_spark not found", file=sys.stderr)
        return 2
    from spans import Tracer

    workload = __import__(WORKLOADS[args.workload])
    run_id = f"{args.workload}-{args.seed}-{int(time.time())}"
    tracer = Tracer(run_id, enabled=bool(args.trace))
    spark = None
    try:
        spark, attempted, failed, e2e, layers = workload.run(args, tracer)
        layers.setdefault("peak_rss_mb", common.peak_rss_mb())
    except common.CheckFailed as exc:
        print(f"check failed: {exc}", file=sys.stderr)
        print(common.result_line(False, 1, 1, {}))
        return 1
    finally:
        if tracer.enabled:
            tracer.write(common.WORK / f"trace-{run_id}.jsonl")
        if spark is not None:
            common.stop_session(spark)
        common.shutdown_jvm()
    if args.trace:
        layers["error_rate"] = failed / max(attempted, 1)
        for k in ("latency_p50_s", "latency_tail_s", "throughput_per_s"):
            layers[f"traced.{k}"] = e2e[k]
        missing = sorted(set(PER_LAYER) - set(layers))
        if missing:
            print(
                f"{args.workload} does not exercise, so reports 0 for: "
                + " ".join(missing),
                file=sys.stderr,
            )
        metrics = {k: (layers.get(k, 0), u) for k, u in PER_LAYER.items()}
    else:
        metrics = {k: (e2e[k], u) for k, u in END_TO_END.items()}
    print(common.result_line(failed == 0, attempted, failed, metrics))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 - report and exit non-zero
        traceback.print_exc()
        sys.exit(1)
