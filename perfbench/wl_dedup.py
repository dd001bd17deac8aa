"""The training-data curation jobs over a generated corpus, traced.

The traced analytics_mix run ends with one pass that runs
``textstats.curate_for_training``, ``dedup.dedup_clusters`` and
``dedup.dedup_minhash`` back to back, each to a written parquet result,
over the seed's generated corpus, and reports the ``operators.*`` layer
metrics. The pass's outputs are checked: the first two against their
``ORACLE_SQL`` twins run by DuckDB, the third by its recall of the
planted near-duplicate pairs.
"""

from __future__ import annotations

import sys

import common
import inputs

#: Share of planted near-duplicate pairs ``dedup_minhash`` must find.
MIN_RECALL = 0.9

JOBS = ("curate_for_training", "dedup_clusters", "dedup_minhash")


def recall(found: set, planted: set) -> float:
    return len(found & planted) / len(planted) if planted else 1.0


def run_pass(spark, corpus_dir, out_dir, tracer) -> None:
    """One pass of the three jobs, each to a parquet result in ``out_dir``."""
    from big_data_trend_analysis_spark.operators import dedup, textstats
    from big_data_trend_analysis_spark.sources.tables import load_table

    spark.catalog.clearCache()
    docs_dir = str(corpus_dir)
    with tracer.span("operators.textstats.curate"):
        textstats.curate_for_training(load_table(spark, docs_dir, "documents")).write.mode(
            "overwrite"
        ).parquet(str(out_dir / "curate_for_training"))
    with tracer.span("operators.dedup.clusters"):
        clusters = dedup.dedup_clusters(load_table(spark, docs_dir, "documents"))
    with tracer.span("operators.dedup.clusters_write"):
        clusters.write.mode("overwrite").parquet(str(out_dir / "dedup_clusters"))
    with tracer.span("operators.dedup.minhash"):
        dedup.dedup_minhash(load_table(spark, docs_dir, "documents")).write.mode(
            "overwrite"
        ).parquet(str(out_dir / "dedup_minhash"))


#: ``curate_for_training`` rounds its quality score to 6 places; on an
#: exact tie Spark and DuckDB round one unit apart, so floats match
#: within one unit of the 6th place.
FLOAT_TOL = 1.5e-6


def rows_match(got: list[str], want: list[str]) -> bool:
    """Canonical rows equal, floats within ``FLOAT_TOL``."""
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        for a, b in zip(g.split("\x01"), w.split("\x01")):
            if a == b:
                continue
            try:
                if abs(float(a) - float(b)) <= FLOAT_TOL:
                    continue
            except ValueError:
                pass
            return False
    return True


def check(spark, out_dir, oracle, planted, corrupt: bool = False) -> tuple[int, float, int]:
    """(failed checks, minhash recall, minhash pairs) for a pass's outputs."""
    from tests.oracle_utils import canon

    failed = 0
    for name in JOBS[:2]:
        df = spark.read.parquet(str(out_dir / name))
        rows = [tuple(r) for r in df.collect()]
        if corrupt and name == JOBS[0]:
            rows = rows[1:]
        if not rows_match(canon(df.columns, rows)[1], oracle[name]):
            print(f"{name}: result differs from the oracle", file=sys.stderr)
            failed += 1
    pairs = pair_set(spark, out_dir)
    got = recall(pairs, planted)
    if got < MIN_RECALL:
        print(f"dedup_minhash: recall {got:.3f} < {MIN_RECALL}", file=sys.stderr)
        failed += 1
    return failed, got, len(pairs)


def _trace_dedup_internals(tracer, candidates: list) -> None:
    """Spans for edge generation and a count of label-propagation
    rounds inside ``dedup_clusters``; keeps the candidate-pair relation
    ``dedup_minhash`` persists so it can be counted after the pass."""
    from big_data_trend_analysis_spark.operators import dedup

    truncate, materialize = dedup._truncate_lineage, dedup._materialize

    def traced_truncate(df, eager=True):
        if eager:
            with tracer.span("operators.dedup.edges"):
                return truncate(df, eager)
        tracer.count("operators.dedup.cluster_rounds")
        return truncate(df, eager)

    def traced_materialize(df):
        out = materialize(df)
        if out.columns == ["doc_id_a", "doc_id_b"]:
            candidates.append(out)
        return out

    tracer.replace(dedup, "_truncate_lineage", traced_truncate)
    tracer.replace(dedup, "_materialize", traced_materialize)


def _operator_metrics(tracer, candidate_pairs: int, got_recall: float,
                      true_pairs: int) -> dict:
    return {
        "operators.textstats.curate_s": tracer.self_s("operators.textstats.curate"),
        "operators.dedup.edges_s": tracer.self_s("operators.dedup.edges"),
        "operators.dedup.cluster_loop_s": tracer.self_s("operators.dedup.clusters"),
        "operators.dedup.cluster_rounds": tracer.counts["operators.dedup.cluster_rounds"],
        "operators.dedup.minhash_s": tracer.self_s("operators.dedup.minhash"),
        "operators.dedup.candidate_pairs": candidate_pairs,
        "operators.dedup.true_pairs": true_pairs,
        "operators.dedup.candidate_yield": true_pairs / max(candidate_pairs, 1),
        "operators.dedup.recall": got_recall,
    }


def traced_pass(spark, seed: int, tracer, corrupt: bool = False) -> tuple[int, int, dict]:
    """One traced, checked pass over the seed's corpus: (jobs
    attempted, failed checks, operator-layer metrics)."""
    from big_data_trend_analysis_spark.plans.registry import ORACLE_SQL

    corpus_dir = inputs.corpus(seed)
    oracle = common.oracle_results(
        "corpus", corpus_dir, ["documents"], {n: ORACLE_SQL[n] for n in JOBS[:2]}
    )
    out = common.fresh_dir(common.WORK / "dedup") / "out"
    candidates: list = []
    _trace_dedup_internals(tracer, candidates)
    run_pass(spark, corpus_dir, out, tracer)
    tracer.unpatch()
    n_candidates = candidates[-1].count() if candidates else 0
    failed, got, true_pairs = check(spark, out, oracle, inputs.near_pairs(corpus_dir), corrupt)
    return len(JOBS), failed, _operator_metrics(tracer, n_candidates, got, true_pairs)


def pair_set(spark, out_dir) -> set:
    return {(r[0], r[1]) for r in spark.read.parquet(str(out_dir / "dedup_minhash")).collect()}
