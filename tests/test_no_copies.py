"""Static guard: no block of code is copied inside the package.

A computation that lives in two places has to be fixed in two places,
and the copies drift. The scan reads every module of the package except
``plans/registry.py`` (the query table, whose per-query wrappers are
alike by design), keeps the code lines with their indentation stripped
(blank lines, comments and docstrings are skipped) and fails when the
same run of ``WINDOW`` consecutive code lines appears at two places.

A pair that must stay apart goes into ``ALLOWED`` with the reason; the
key names the enclosing functions of every place the run appears at.
"""

from __future__ import annotations

import ast
import collections
from pathlib import Path

import big_data_trend_analysis_spark

PACKAGE = Path(big_data_trend_analysis_spark.__file__).parent
EXCLUDED = {"plans/registry.py"}
WINDOW = 8

#: frozenset of "module.py::function" places -> why the copies stay.
ALLOWED: dict[frozenset[str], str] = {}


def _code_lines(path: Path) -> list[tuple[int, str, str]]:
    """(line number, stripped text, enclosing function) per code line."""
    src = path.read_text()
    tree = ast.parse(src)
    doc_lines: set[int] = set()
    owner: dict[int, str] = {}
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Expr)
            and isinstance(node.value, ast.Constant)
            and isinstance(node.value.value, str)
        ):
            doc_lines.update(range(node.lineno, node.end_lineno + 1))
    # Outer functions first, so the innermost function owns each line.
    funcs = [
        n for n in ast.walk(tree)
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
    ]
    for fn in sorted(funcs, key=lambda n: n.end_lineno - n.lineno, reverse=True):
        for line in range(fn.lineno, fn.end_lineno + 1):
            owner[line] = fn.name
    out = []
    for no, line in enumerate(src.splitlines(), 1):
        text = line.strip()
        if text and not text.startswith("#") and no not in doc_lines:
            out.append((no, text, owner.get(no, "<module>")))
    return out


def copied_runs() -> dict[frozenset[str], list[str]]:
    """Places -> "module.py:line" of every line in a repeated run."""
    files = {
        rel: _code_lines(path)
        for path in sorted(PACKAGE.rglob("*.py"))
        if (rel := path.relative_to(PACKAGE).as_posix()) not in EXCLUDED
    }
    windows = collections.defaultdict(list)
    for rel, lines in files.items():
        for k in range(len(lines) - WINDOW + 1):
            key = tuple(text for _, text, _ in lines[k : k + WINDOW])
            windows[key].append((rel, k))
    runs: dict[frozenset[str], list[str]] = collections.defaultdict(list)
    for locs in windows.values():
        if len(locs) < 2:
            continue
        places = frozenset(f"{rel}::{files[rel][k][2]}" for rel, k in locs)
        runs[places].extend(
            f"{rel}:{files[rel][j][0]}" for rel, k in locs for j in range(k, k + WINDOW)
        )
    return {places: sorted(set(lines)) for places, lines in runs.items()}


def test_no_copied_blocks():
    found = {
        places: lines
        for places, lines in copied_runs().items()
        if places not in ALLOWED
    }
    n_lines = len(set().union(*found.values())) if found else 0
    report = "\n".join(
        f"{' + '.join(sorted(places))} ({len(lines)} lines)"
        for places, lines in sorted(found.items(), key=lambda kv: sorted(kv[0]))
    )
    assert not found, (
        f"{n_lines} code lines sit in {WINDOW}-line blocks repeated in the"
        f" package:\n{report}"
    )


def test_allowed_pairs_still_exist_and_give_a_reason():
    runs = copied_runs()
    for places, reason in ALLOWED.items():
        assert reason.strip(), places
        assert places in runs, f"stale allow-list entry: {sorted(places)}"
