#!/usr/bin/env python
"""Driver-style oracle parity check at an arbitrary scale factor.

The pytest parity suite runs at sf0.001 for speed; the driver gate runs
at sf0.01. This tool replays the driver comparison (row count, column
set, order-insensitive values with columns sorted by name) at any SF so
parity regressions surface before CORRECTNESS_r{N}.json does.

Usage::

    python tools/parity_check.py [--sf /root/testdata/sf0.01] [names...]

With no names, checks every oracle-backed query; rows-only queries are
executed for clean-run verification. Each query runs through
``registry.run``, which releases its temp dirs, tables, caches and
checkpoints before the next one starts; a query that leaves a new
persistent RDD behind counts as a failure.
"""

from __future__ import annotations

import argparse
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from big_data_trend_analysis_spark.plans.registry import ORACLE_SQL, QUERIES, run
from big_data_trend_analysis_spark.session import get_spark
from tests.oracle_utils import (
    assert_results_match,
    duckdb_connection,
    persistent_rdds,
    run_oracle,
)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    names = args.names or list(QUERIES)
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        ap.error(f"unknown queries: {unknown}")

    spark = get_spark("bdta-parity", master="local[8]")
    con = duckdb_connection(args.sf)
    failures = []
    for name in names:
        t0 = time.monotonic()
        try:
            before = persistent_rdds(spark)
            spark_res = run(name, spark, args.sf)
            left = persistent_rdds(spark) - before
            if left:
                raise AssertionError(f"left {len(left)} new persistent RDDs")
            if name in ORACLE_SQL:
                oracle_res = run_oracle(con, ORACLE_SQL[name])
                assert_results_match(spark_res, oracle_res, name)
                status = f"pass ({len(spark_res[1])} rows)"
            else:
                status = f"rows-only ({len(spark_res[1])} rows)"
        except Exception as exc:  # noqa: BLE001 — report-all tool
            failures.append(name)
            status = f"FAIL: {exc}"
            traceback.print_exc()
        print(f"{name:28s} {status}  [{time.monotonic() - t0:.1f}s]", flush=True)

    spark.stop()
    if failures:
        print(f"\n{len(failures)} FAILED: {failures}")
        return 1
    print(f"\nall {len(names)} green at {args.sf}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
