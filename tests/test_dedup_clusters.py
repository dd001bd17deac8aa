"""``dedup_clusters`` resolves long near-duplicate chains in O(log n)
rounds and holds a fixed number of persistent RDDs while it runs.

The corpus is a planted chain: neighbouring documents share two rare
word 3-grams, so the candidate graph is one path through every
document, with shuffled ids so the minimum sits anywhere on it. Plain
min-label propagation needs one round per hop of that path.
"""

from __future__ import annotations

import math
import random

import duckdb
import pandas as pd
import pytest

from big_data_trend_analysis_spark import scope
from big_data_trend_analysis_spark.operators import dedup
from big_data_trend_analysis_spark.plans.registry import ORACLE_SQL
from tests.oracle_utils import assert_results_match, persistent_rdds, run_spark

#: Persistent RDDs a call may hold: the shingle cache, the edges, the
#: previous round and the current one.
MAX_HELD = 4


def chain_corpus(n: int, seed: int) -> list[tuple[int, str]]:
    """``n`` chained documents (ids 1..n, shuffled along the chain)
    and two singletons."""
    ids = list(range(1, n + 1))
    random.Random(seed).shuffle(ids)
    docs = []
    for k, doc_id in enumerate(ids):
        words = [f"a{k - 1} b{k - 1} c{k - 1} d{k - 1}"] if k else []
        words.append(f"own{k} body")
        if k < n - 1:
            words.append(f"a{k} b{k} c{k} d{k}")
        docs.append((doc_id, " ".join(words)))
    return docs + [(n + 1, "nothing shared here at all"), (n + 2, "nor here either friend")]


def union_find_clusters(n: int, docs: list[tuple[int, str]]) -> dict[int, int]:
    """doc_id -> least doc_id of its component, from the planted links."""
    parent = {doc_id: doc_id for doc_id, _ in docs}

    def root(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for (a, _), (b, _) in zip(docs[: n - 1], docs[1:n]):
        ra, rb = root(a), root(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {doc_id: root(doc_id) for doc_id in parent}


@pytest.mark.parametrize("n", [200, 5000])
def test_long_chain_resolves_in_log_rounds_with_bounded_rdds(spark, monkeypatch, n):
    docs = chain_corpus(n, seed=n)
    documents = spark.createDataFrame(docs, "doc_id long, text string")
    before = persistent_rdds(spark)
    held: list[int] = []
    checkpoint = dedup._truncate_lineage

    def counted(df, eager=True):
        out = checkpoint(df, eager)
        held.append(len(persistent_rdds(spark) - before))
        return out

    monkeypatch.setattr(dedup, "_truncate_lineage", counted)
    with scope.opened() as made:
        got = run_spark(dedup.dedup_clusters(documents))
    rounds = len(held) - 1  # the first checkpoint holds the edges
    assert rounds <= 2 * math.ceil(math.log2(200))
    assert max(held) <= MAX_HELD
    if n <= 200:
        con = duckdb.connect()
        con.register("documents", pd.DataFrame(docs, columns=["doc_id", "text"]))
        cur = con.execute(ORACLE_SQL["dedup_clusters"])
        want = [d[0] for d in cur.description], cur.fetchall()
        assert_results_match(got, want, "dedup_clusters")
    else:
        clusters = union_find_clusters(n, docs)
        assert sorted(got[1]) == sorted(
            (doc_id, c, doc_id == c) for doc_id, c in clusters.items()
        )
    made.release()
    assert persistent_rdds(spark) - before == set()
