"""Fast tests of the benchmark's own machinery.

    python3 -m pytest perfbench/tests -q

The last test runs one short analytics_mix workload end to end (under a
minute) with a corrupted result, to show the run reports the failure and
writes nothing outside ``.perfbench/``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq
import pytest

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))

import common  # noqa: E402
import gen_events  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402
import wl_dedup  # noqa: E402
from spans import Tracer  # noqa: E402

ROOT = HERE.parent


def test_event_generator_is_deterministic_per_seed():
    assert gen_events.file_events(3, 7) == gen_events.file_events(3, 7)
    assert gen_events.render(3, 7) == gen_events.render(3, 7)
    assert gen_events.file_events(3, 7) != gen_events.file_events(4, 7)


def test_event_lateness_stays_below_the_watermark():
    for i in range(20):
        for _, ts_ms, *_, created in gen_events.file_events(5, i):
            late = gen_events.BASE_MS + created * 1000 - ts_ms
            assert 0 <= late <= gen_events.MAX_LATENESS_S * 1000 + 1


def test_corpus_generator_is_deterministic_per_seed(tmp_path, monkeypatch):
    monkeypatch.setattr(inputs, "CORPUS_DOCS", 300)
    outs = []
    for k, seed in enumerate((9, 9, 10)):
        d = tmp_path / str(k)
        d.mkdir()
        inputs._build_corpus(d, np.random.default_rng(seed))
        outs.append((pq.read_table(d / "documents.parquet"), (d / "near_pairs.json").read_text()))
    assert outs[0][0].equals(outs[1][0]) and outs[0][1] == outs[1][1]
    assert not outs[0][0].equals(outs[2][0])


def test_fixture_holds_every_table_the_queries_read():
    import wl_analytics

    assert {p.stem for p in common.FIXTURE.glob("*.parquet")} == set(wl_analytics.TABLES)


def test_planted_near_duplicates_are_recorded(tmp_path, monkeypatch):
    monkeypatch.setattr(inputs, "CORPUS_DOCS", 400)
    inputs._build_corpus(tmp_path, np.random.default_rng(1))
    pairs = json.loads((tmp_path / "near_pairs.json").read_text())
    texts = pq.read_table(tmp_path / "documents.parquet").column("text").to_pylist()
    assert pairs
    for a, b in pairs:
        assert a < b
        assert inputs._jaccard(texts[a], texts[b]) >= inputs.TRUE_PAIR_JACCARD


@pytest.mark.parametrize(
    "n, want",
    [(1000, 99.0), (999, 90.0), (100, 90.0), (99, 75.0), (40, 75.0), (39, 50.0),
     (20, 50.0), (19, None), (0, None)],
)
def test_tail_percentile_needs_ten_samples_beyond(n, want):
    assert common.tail_percentile(n) == want


def test_percentile_interpolates_like_numpy():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0, 10.0]
    for p in (0, 10, 50, 75, 90, 100):
        assert common.percentile(xs, p) == pytest.approx(np.percentile(xs, p))


def test_metric_names_are_well_formed():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    names += list(run.END_TO_END) + list(run.PER_LAYER)
    assert all(common.METRIC_NAME.match(n) for n in names)
    assert {m["name"] for m in bench["end_to_end"]} == set(run.END_TO_END)
    assert {m["name"] for m in bench["per_layer"]} == set(run.PER_LAYER)
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOADS)


def test_result_line_rejects_bad_names():
    line = json.loads(common.result_line(True, 3, 0, {"a.b_c-1": (1.5, "s")}))
    assert line == {
        "correct": True, "attempted": 3, "failed": 0,
        "metrics": {"a.b_c-1": {"value": 1.5, "unit": "s"}},
    }
    with pytest.raises(ValueError):
        common.result_line(True, 1, 0, {"bad name": (1.0, "s")})


def test_corrupted_result_fails_the_oracle_check():
    import wl_analytics
    from tests.oracle_utils import canon

    cols = ["k", "v"]
    rows = [(1, 0.5), (2, 1.25)]
    oracle = {"q": canon(cols, rows)[1]}
    assert wl_analytics.check("q", cols, list(reversed(rows)), oracle)
    assert not wl_analytics.check("q", cols, [(1, 0.5), (2, 1.2500001)], oracle)
    assert not wl_analytics.check("q", cols, rows[:1], oracle)


def test_dedup_check_allows_a_rounding_tie_only():
    from tests.oracle_utils import canon

    cols = ["doc_id", "clean_text", "quality"]
    want = canon(cols, [(1, "a b", 0.585438), (2, "c d", 0.741688)])[1]
    assert wl_dedup.rows_match(canon(cols, [(1, "a b", 0.585437), (2, "c d", 0.741688)])[1], want)
    assert not wl_dedup.rows_match(canon(cols, [(1, "a b", 0.58543), (2, "c d", 0.741688)])[1], want)
    assert not wl_dedup.rows_match(canon(cols, [(1, "a b", 0.585438), (3, "c d", 0.741688)])[1], want)
    assert not wl_dedup.rows_match(canon(cols, [(1, "a b", 0.585438)])[1], want)


def test_missed_planted_pairs_fail_the_recall_check():
    planted = {(1, 2), (3, 4), (5, 6), (7, 8), (9, 10)}
    assert wl_dedup.recall(planted | {(1, 3)}, planted) == 1.0
    assert wl_dedup.recall({(1, 2)}, planted) < wl_dedup.MIN_RECALL


def test_self_time_subtracts_child_spans():
    t = Tracer("r", enabled=True)
    t.spans = [
        {"id": 0, "name": "a", "start": 0.0, "end": 10.0, "parent": None, "run": "r"},
        {"id": 1, "name": "b", "start": 1.0, "end": 4.0, "parent": 0, "run": "r"},
        {"id": 2, "name": "b", "start": 3.0, "end": 6.0, "parent": 0, "run": "r"},
        {"id": 3, "name": "c", "start": 2.0, "end": 3.0, "parent": 1, "run": "r"},
    ]
    assert t.self_s("a") == pytest.approx(5.0)
    assert t.self_s("b") == pytest.approx(5.0)
    assert t.calls("b") == 2


def test_disabled_tracer_patches_nothing():
    class Owner:
        @staticmethod
        def f():
            return 1

    original = Owner.f
    t = Tracer("r", enabled=False)
    t.patch(Owner, "f", "f")
    assert Owner.f is original and Owner.f() == 1 and not t.spans


def _tree(root: Path) -> dict[str, float]:
    out = {}
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if d not in (".perfbench", ".git", "__pycache__")]
        for f in filenames:
            p = os.path.join(dirpath, f)
            out[p] = os.stat(p).st_mtime_ns
    return out


def test_a_corrupted_run_fails_and_writes_nothing_outside_the_workspace():
    before = _tree(ROOT)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "analytics_mix", "--seed", "1",
         "--seconds", "1", "--trace", "0", "--corrupt"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert out.returncode == 1, out.stderr[-2000:]
    assert not result["correct"] and result["failed"] >= 1
    assert set(result["metrics"]) == set(run.END_TO_END)
    assert _tree(ROOT) == before
