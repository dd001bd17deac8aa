"""Steadiness and tracing-overhead check for one workload.

    python3 perfbench/steady.py --workload trend_stream --runs 10
    python3 perfbench/steady.py --workload analytics_mix --runs 3 --overhead

Runs ``run.py`` once per seed (``--first-seed``, ``--first-seed + 1``,
...) and prints, for every metric, the median, the quartiles (as
``statistics.quantiles(values, n=4)`` gives them) and the spread: the
distance between the quartiles as a share of the median. An end-to-end
metric whose spread exceeds its bound in BENCHMARK.json is flagged and
makes the exit code 1.

``--overhead`` runs every seed untraced and traced and reports, per
seed and as a median, the traced minus the untraced figure of each
end-to-end metric the traced run repeats (``traced.<metric>``).
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [
        sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
    ]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: run failed ({out.returncode})")
    result = json.loads(lines[-1])
    if not result["correct"]:
        raise SystemExit(f"{workload} seed {seed}: output check failed")
    return {k: v["value"] for k, v in result["metrics"].items()}


def summarize(runs: list[dict], bounds: dict[str, float]) -> list[str]:
    """Lines of the table; flagged lines start with '!'."""
    lines = []
    for name in runs[0]:
        values = [r[name] for r in runs]
        med = statistics.median(values)
        q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else 0.0
        bound = bounds.get(name)
        flag = bound is not None and spread > bound
        lines.append(
            f"{'!' if flag else ' '} {name:34s} median {med:12.5g}  q1 {q1:12.5g}  "
            f"q3 {q3:12.5g}  spread {spread:7.2%}"
            + (f"  bound {bound:.0%}" if bound is not None else "")
        )
    return lines


def main() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=bench["run_seconds"])
    p.add_argument("--overhead", action="store_true", help="traced minus untraced")
    a = p.parse_args()
    seeds = range(a.first_seed, a.first_seed + a.runs)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    if a.overhead:
        diffs: dict[str, list[float]] = {}
        for seed in seeds:
            plain = run_once(a.workload, seed, a.seconds, 0)
            traced = run_once(a.workload, seed, a.seconds, 1)
            for name, value in plain.items():
                if f"traced.{name}" in traced:
                    d = traced[f"traced.{name}"] - value
                    diffs.setdefault(name, []).append(d)
                    print(f"seed {seed} {name}: traced - untraced = {d:+.5g} ({d / value:+.1%})")
        for name, ds in diffs.items():
            print(f"overhead {name}: median {statistics.median(ds):+.5g}")
        return 0
    runs = []
    for seed in seeds:
        runs.append(run_once(a.workload, seed, a.seconds, 0))
        print(f"seed {seed}: " + json.dumps(runs[-1]), flush=True)
    lines = summarize(runs, bounds)
    print("\n".join(lines))
    return 1 if any(line.startswith("!") for line in lines) else 0


if __name__ == "__main__":
    sys.exit(main())
