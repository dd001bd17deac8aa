#!/usr/bin/env python
"""Benchmark: run the declared query inventory and print ONE JSON line.

Contract (driver): run at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]``, print
``{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}``.

Execution is forced with the noop sink (full plan runs distributed; no
driver-side collect — the measured path is the one a cluster would run).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from big_data_trend_analysis_spark.plans.registry import QUERIES
from big_data_trend_analysis_spark.session import get_spark


def force(df) -> None:
    """Execute the full plan without moving data to the driver."""
    df.write.format("noop").mode("overwrite").save()


def _parse_size(s: str) -> int:
    """'32.2 MiB' / '1047.0 B' / 'total (min, med, max)' → bytes."""
    s = s.strip()
    if "(" in s:
        s = s.split("(", 1)[0].strip()
    parts = s.split()
    try:
        if len(parts) == 2:
            mult = {
                "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3,
                "TiB": 1024**4, "KB": 1000, "MB": 1000**2, "GB": 1000**3,
            }.get(parts[1], 1)
            return int(float(parts[0].replace(",", "")) * mult)
        return int(float(s.replace(",", "")))
    except ValueError:
        return 0


def _last_execution_id(spark) -> int:
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    return -1 if execs.isEmpty() else execs.apply(execs.size() - 1).executionId()


def _metrics_since(spark, marker_id: int) -> dict[str, int]:
    """Deterministic per-query resource metrics (VERDICT r9 #6: the
    steal-proof regression signal beside the steal-noisy seconds).

    Sums 'shuffle bytes written' and takes max 'peak memory' across
    every SQL execution the query issued since ``marker_id`` (cache
    materializations and streaming micro-batches each get their own
    execution — all belong to the query's bill). Values come from the
    SQLAppStatusStore's formatted metric strings; unit parsing keeps
    them byte-exact enough for a ratio gate (trim at ~3 significant
    digits, gating threshold is 1.5×)."""
    # The status store is fed by the ASYNC listener bus — reading it
    # the instant the action returns can miss the final metric updates
    # of the last execution and record nondeterministically-low bytes
    # (review finding: a lagged baseline then fails the 1.5× gate on
    # identical code). Drain the bus first.
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    shuffle = 0
    peak = 0
    i = execs.size() - 1
    while i >= 0:
        e = execs.apply(i)
        if e.executionId() <= marker_id:
            break
        mets = e.metrics()
        mvals = store.executionMetrics(e.executionId())
        it = mets.iterator()
        while it.hasNext():
            m = it.next()
            v = mvals.get(m.accumulatorId())
            if not v.isDefined():
                continue
            if m.name() == "shuffle bytes written":
                shuffle += _parse_size(str(v.get()))
            elif m.name() == "peak memory":
                peak = max(peak, _parse_size(str(v.get())))
        i -= 1
    return {"shuffle_write_bytes": shuffle, "peak_memory_bytes": peak}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    only = sys.argv[1:] or sorted(QUERIES)

    spark = get_spark("bdta-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the JVM/codegen once per table family on the smallest tier so
    # per-query times measure the queries, not first-run JIT/classloading.
    for warm in (
        "agg_basic",
        "streaming_decay_trend",
        "text_stats",
        "sim_search",
        "dedup_minhash",
        "dedup_clusters",
        # pandas-UDF path: spawns the python worker pool once here so the
        # first Arrow query in the timed loop doesn't absorb it.
        "sentiment_score",
    ):
        force(QUERIES[warm](spark, "/root/testdata/sf0.001"))
    spark.catalog.clearCache()

    # min-of-2: this host shows multi-second CPU-steal stalls (shared
    # VM); the min is the engine's actual cost, the stall is not.
    # clearCache() before every timed run: operators that persist
    # multiply-referenced intermediates (scope.materialize) would otherwise
    # hand run 2 a warm cache, and the min would measure a cached
    # pipeline instead of the full cold path a cluster would run.
    def time_queries(names, data_dir, reps, bytes_out=None) -> dict[str, float]:
        # One untimed throwaway at the TARGET tier: the first timed slot
        # otherwise absorbs the residual session warmup the sf0.001 loop
        # above doesn't cover (tier-sized scan/broadcast init — observed
        # as agg_basic 1.68 s vs ~0.2 s isolated in BENCH_r05).
        if names:
            spark.catalog.clearCache()
            force(QUERIES[names[0]](spark, data_dir))
        out: dict[str, float] = {}
        for name in names:
            best = float("inf")
            for rep in range(reps):
                spark.catalog.clearCache()
                marker = (
                    _last_execution_id(spark)
                    if bytes_out is not None and rep == 0
                    else None
                )
                t0 = time.perf_counter()
                force(QUERIES[name](spark, data_dir))
                best = min(best, time.perf_counter() - t0)
                # Deterministic resource bill from rep 1 only (bytes do
                # not vary with host steal; reading the status store is
                # driver-side and happens outside the timed window).
                if marker is not None:
                    bytes_out[name] = _metrics_since(spark, marker)
            out[name] = round(best, 3)
        return out

    # min-of-3 at the headline tier: single multi-second host-steal or
    # writeback stalls have been observed to pollute BOTH runs of a
    # min-of-2 (r6 full run: rolling_median 4.8 s vs 0.4 s isolated);
    # a third rep makes the min robust to one bad window.
    query_bytes: dict[str, dict[str, int]] = {}
    timings = time_queries(only, sf_dir, reps=3, bytes_out=query_bytes)
    # Secondary tier: the same queries at sf0.01. Host steal moves the
    # sf0.1 totals by up to ~30%; the small tier is cheap enough for
    # min-of-3 (a single steal window can cover two consecutive runs —
    # observed 16.6s recorded for a ~2s query), so round-over-round
    # per-query regressions separate from host noise.
    timings_small = time_queries(only, "/root/testdata/sf0.01", reps=3)

    total = round(sum(timings.values()), 3)
    # The driver records only the LAST 2000 chars of stdout and parses
    # the captured tail as JSON (BENCH_r04.json: tail len exactly 2000,
    # head of the line cut, parsed=null). A 95-query dict cannot fit
    # that budget even minified (~2.2 KB), so the headline line keeps
    # the SLOWEST queries that fit ~1900 chars — the ones that matter
    # for grading — and both full tiers go to committed sidecar files
    # (bench_full_tier.json / bench_small_tier.json) for per-query
    # round-over-round triage.
    here = os.path.dirname(os.path.abspath(__file__))

    def _merge_tier(path: str, fresh: dict[str, float], sf_val: float) -> dict:
        """Targeted runs (bench.py <names>) MERGE into the committed
        sidecar instead of replacing it — a 3-query rerun must never
        drop the other 200+ queries' round-over-round baseline (the
        round-10 clobber this guards against: cccd86a overwrote the
        217-query minima with a 3-query targeted run). Fresh timings
        REPLACE their own entries (a regression must surface, so no
        min-merge here — tools/ min-merging across full runs is a
        separate, deliberate step); queries no longer in the registry
        are dropped."""
        merged: dict[str, float] = {}
        if os.path.exists(path):
            try:
                with open(path) as f:
                    merged = json.load(f).get("queries", {})
            except (OSError, ValueError):
                merged = {}
        merged = {k: v for k, v in merged.items() if k in QUERIES}
        merged.update(fresh)
        body = {"sf": sf_val, "queries": merged}
        if path.endswith("bench_full_tier.json"):
            body["value"] = round(sum(merged.values()), 3)
        with open(path, "w") as f:
            json.dump(body, f, indent=1, sort_keys=True)
        return merged

    _merge_tier(os.path.join(here, "bench_full_tier.json"), timings, float(sf))
    _merge_tier(os.path.join(here, "bench_small_tier.json"), timings_small, 0.01)
    # Deterministic resource sidecar (VERDICT r9 #6): shuffle bytes +
    # peak execution memory per query at the headline tier. Unlike the
    # seconds, these do not move with host steal — regressions gate on
    # tools/bytes_regression.py comparing against the committed copy.
    # Targeted runs (bench.py <names>) merge into the existing file so
    # a partial pass never drops the rest of the inventory's bill.
    bytes_path = os.path.join(here, "bench_bytes.json")
    merged_bytes: dict = {}
    if os.path.exists(bytes_path):
        try:
            with open(bytes_path) as f:
                merged_bytes = json.load(f).get("queries", {})
        except (OSError, ValueError):
            merged_bytes = {}
    # prune retired queries, mirroring _merge_tier — the two sidecars
    # must agree on what exists after every rotation
    merged_bytes = {k: v for k, v in merged_bytes.items() if k in QUERIES}
    merged_bytes.update(query_bytes)
    with open(bytes_path, "w") as f:
        json.dump(
            {"sf": float(sf), "queries": merged_bytes}, f, indent=1, sort_keys=True
        )

    print(build_headline(timings, sf, total))
    spark.stop()


def build_headline(
    timings: dict[str, float], sf: str | float, total: float, budget: int = 1900
) -> str:
    """One JSON line ≤ ``budget`` chars: slowest queries first, rest
    counted in ``omitted`` (full dict lives in the sidecar).

    The size cap is the contract — the driver parses only the last
    2000 chars of stdout, so exceeding it reverts BENCH_r{N}.json to
    ``parsed: null`` (tested in tests/test_scale_utils.py).
    """
    headline = {
        "metric": "total_query_seconds",
        "unit": "sec",
        "sf": float(sf) if str(sf).replace(".", "").isdigit() else sf,
        "queries": {},
        "omitted": len(timings),
        "full": "bench_full_tier.json",
        "value": total,
    }
    for name in sorted(timings, key=lambda n: (-timings[n], n)):
        candidate = dict(headline["queries"])
        candidate[name] = timings[name]
        trial = dict(headline, queries=candidate, omitted=len(timings) - len(candidate))
        if len(json.dumps(trial, separators=(",", ":"))) > budget:
            break
        headline["queries"] = candidate
        headline["omitted"] = len(timings) - len(candidate)
    return json.dumps(headline, separators=(",", ":"))


if __name__ == "__main__":
    main()
