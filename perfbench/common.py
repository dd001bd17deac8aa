"""Shared plumbing for the benchmark: workspace, session lifecycle,
percentiles, Spark status-store counters and the result line.

Everything the benchmark writes lands under ``<checkout>/.perfbench``
(ignored by git): generated inputs cached by seed, DuckDB oracle
results, Spark's scratch and warehouse directories, stream
landing/checkpoint/sink directories and trace files. The Spark JVM is pointed there through a generated
``spark-defaults.conf`` so neither Spark nor Derby nor the package zip
that ``session.ship_package`` builds writes anywhere else.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import re
import resource
import shutil
import statistics
import sys
import time
from pathlib import Path

#: Wall-clock time the interpreter reached the benchmark's code.
PROCESS_START = time.time()

#: Checkout root: the directory holding ``perfbench/``.
ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"
INPUTS = WORK / "inputs"
#: The engine's sf0.1 fixture tables (TPC-H-like star schema, ``events``,
#: ``documents``), copied unchanged so a run reads only its checkout.
FIXTURE = Path(__file__).resolve().parent / "fixture" / "sf0.1"

#: Executor threads of the local Spark master. Four cores is the size
#: the workloads were calibrated on; fewer on a smaller host.
CORES = max(1, min(4, os.cpu_count() or 1))

#: Metric names the result line may carry.
METRIC_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

#: Samples a percentile needs beyond it to be reported.
TAIL_SAMPLES = 10


class CheckFailed(Exception):
    """An output check found a wrong result."""


def prepare_environment(trace: bool = False) -> None:
    """Point every scratch path at the workspace before pyspark loads.

    Must run before ``tempfile`` is first used and before the JVM
    starts: ``TMPDIR`` fixes Python's temp dir (pyspark's gateway
    handshake file, ``ship_package``'s zip), ``SPARK_CONF_DIR`` hands
    the JVM its scratch, warehouse and Derby locations. Everything else
    is the engine's own configuration (``session.get_spark``); a traced
    run also keeps every job and stage in the status store.
    """
    tmp = WORK / "tmp"
    conf_dir = WORK / "conf"
    for d in (tmp, conf_dir, WORK / "local", WORK / "warehouse"):
        d.mkdir(parents=True, exist_ok=True)
    java_opts = (
        f"-Djava.io.tmpdir={tmp} -Dderby.system.home={WORK / 'derby'} "
        "-XX:-UsePerfData"
    )
    conf = {
        "spark.local.dir": str(WORK / "local"),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.driver.extraJavaOptions": java_opts,
        "spark.executor.extraJavaOptions": java_opts,
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        })
    (conf_dir / "spark-defaults.conf").write_text(
        "".join(f"{k} {v}\n" for k, v in conf.items())
    )
    os.environ["TMPDIR"] = str(tmp)
    # Collected timestamps become naive datetimes in the local zone.
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["SPARK_CONF_DIR"] = str(conf_dir)
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def oracle_results(kind: str, data_dir: Path, tables, sql: dict[str, str]) -> dict[str, list[str]]:
    """Canonical DuckDB results of ``sql`` (name → query) over the
    parquet ``tables`` in ``data_dir``, cached in the workspace under a
    key of the data and the query texts."""
    key = hashlib.sha256(
        json.dumps([str(data_dir), sorted(sql.items())]).encode()
    ).hexdigest()[:12]
    cache = INPUTS / f"oracle-{kind}-{key}.json"
    if cache.exists():
        return json.loads(cache.read_text())
    import duckdb

    from tests.oracle_utils import canon

    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    out = {}
    for name, text in sql.items():
        cur = con.execute(text)
        out[name] = canon([d[0] for d in cur.description], cur.fetchall())[1]
    con.close()
    cache.parent.mkdir(parents=True, exist_ok=True)
    tmp = cache.with_name(cache.name + f".tmp{os.getpid()}")
    tmp.write_text(json.dumps(out))
    os.replace(tmp, cache)
    return out


def fresh_dir(path: Path) -> Path:
    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True)
    return path


def start_session(master: str | None = None):
    """Build the engine session (``session.get_spark``), quiet."""
    from big_data_trend_analysis_spark.session import get_spark

    spark = get_spark("perfbench", master=master)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    spark.catalog.clearCache()
    spark.stop()


def shutdown_jvm() -> None:
    """Stop the gateway JVM and wait for it (and its workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - best effort; the wait below decides
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    return proc.pid if proc is not None else None


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Peak resident memory of this process plus the Spark JVM."""
    own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    pid = jvm_pid()
    jvm_kb = _vm_hwm_kb(pid) if pid else 0
    return (own_kb + jvm_kb) / 1024.0


def setup_seconds() -> float:
    """``setup_s``: seconds from process start to now, the moment
    before the first timed operation."""
    return time.time() - PROCESS_START


def tail_percentile(n: int, candidates=(99.0, 90.0, 75.0, 50.0)) -> float | None:
    """Highest candidate percentile with at least ``TAIL_SAMPLES``
    samples beyond it, or None when even the median has fewer."""
    for p in candidates:
        if n * (100.0 - p) / 100.0 >= TAIL_SAMPLES:
            return p
    return None


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def latency_metrics(samples) -> dict[str, float]:
    """p50 and p90 of ``samples``; warns when p90 is not supported."""
    n = len(samples)
    if (tail_percentile(n) or 0) < 90.0:
        print(
            f"warning: {n} samples support no p90 "
            f"(needs {TAIL_SAMPLES * 10})",
            file=sys.stderr,
        )
    return {"p50": percentile(samples, 50.0), "p90": percentile(samples, 90.0)}


def result_line(
    correct: bool, attempted: int, failed: int, metrics: dict[str, tuple[float, str]]
) -> str:
    for name in metrics:
        if not METRIC_NAME.match(name):
            raise ValueError(f"bad metric name {name!r}")
    return json.dumps(
        {
            "correct": bool(correct),
            "attempted": int(max(attempted, 1)),
            "failed": int(failed),
            "metrics": {
                k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()
            },
        }
    )


# ---------------------------------------------------------------- status store


def _opt(o):
    return o.get() if o.isDefined() else None


def _date_s(o) -> float | None:
    d = _opt(o)
    return d.getTime() / 1000.0 if d is not None else None


class ExecCounters:
    """Job, stage and task counters from Spark's status store, over the
    jobs submitted between ``start()`` and ``stop()``."""

    def __init__(self, spark):
        self.spark = spark
        self.store = spark.sparkContext._jsc.sc().statusStore()
        self.t0 = self.t1 = 0.0

    def start(self) -> None:
        self.t0 = time.time()

    def stop(self) -> None:
        self.t1 = time.time()

    def read(self) -> dict[str, float]:
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        jvm = sc._jvm
        jobs = []
        stage_ids = set()
        it = self.store.jobsList(jvm.java.util.ArrayList()).iterator()
        while it.hasNext():
            j = it.next()
            sub = _date_s(j.submissionTime())
            if sub is None or sub < self.t0 - 0.001 or sub > self.t1:
                continue
            end = _date_s(j.completionTime()) or self.t1
            jobs.append((sub, end))
            sids = j.stageIds()
            for k in range(sids.size()):
                stage_ids.add(int(sids.apply(k)))
        # Wall time not covered by any job.
        covered = 0.0
        cur_s = cur_e = None
        for s, e in sorted(jobs):
            e = min(e, self.t1)
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        wall = max(self.t1 - self.t0, 1e-9)
        out = {
            "exec.jobs": len(jobs),
            "exec.stages": 0,
            "exec.tasks": 0,
            "exec.cpu_s": 0.0,
            "exec.gc_s": 0.0,
            "exec.shuffle_write_bytes": 0,
            "exec.shuffle_read_bytes": 0,
            "exec.spill_bytes": 0,
        }
        run_ms = 0
        widest = None
        for sid in sorted(stage_ids):
            try:
                st = self.store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - skipped stages have no attempt
                continue
            if st.numTasks() == 0 or str(st.status()) != "COMPLETE":
                continue
            out["exec.stages"] += 1
            out["exec.tasks"] += st.numCompleteTasks()
            run_ms += st.executorRunTime()
            out["exec.cpu_s"] += st.executorCpuTime() / 1e9
            out["exec.gc_s"] += st.jvmGcTime() / 1e3
            out["exec.shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["exec.shuffle_read_bytes"] += st.shuffleReadBytes()
            out["exec.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            if widest is None or st.numTasks() > widest[0]:
                widest = (st.numTasks(), st.stageId(), st.attemptId())
        skew = 0.0
        if widest is not None:
            durations = []
            tl = self.store.taskList(widest[1], widest[2], 100_000)
            for k in range(tl.size()):
                d = _opt(tl.apply(k).duration())
                if d is not None:
                    durations.append(float(d))
            if durations and statistics.median(durations) > 0:
                skew = max(durations) / statistics.median(durations)
        out["exec.driver_gap_s"] = wall - covered
        out["exec.busy_ratio"] = run_ms / 1e3 / (wall * CORES)
        out["exec.task_skew"] = skew
        return out
