"""Unit tests on tiny literal DataFrames — edge cases the reference
mishandles (SURVEY.md §5.2-2) plus operator invariants."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from big_data_trend_analysis_spark.functions.decay import decay_weight
from big_data_trend_analysis_spark.functions.nlp import extract_entities, sentiment_compound
from big_data_trend_analysis_spark.functions.scoring import sentiment_label_score
from big_data_trend_analysis_spark.functions.text import fingerprint, lang_id_en, n_tokens
from big_data_trend_analysis_spark.operators.dedup import dedup_exact, dedup_minhash
from big_data_trend_analysis_spark.operators.multimodal import multimodal_decode
from big_data_trend_analysis_spark.operators.similarity import sim_search


def test_sentiment_case_mismatch_bug_fixed(spark):
    """Reference P8 bug: lowercase compare vs producer-cased labels →
    every score 0.0 (edw_stream.py:94-95 vs fake_producer.py:46). Our
    scoring normalizes case, so producer-cased labels score correctly."""
    df = spark.createDataFrame(
        [("Positive",), ("Negative",), ("Neutral",), ("POSITIVE",), (None,)],
        "sentiment string",
    )
    scores = [
        r.score
        for r in df.select(
            sentiment_label_score("sentiment").alias("score")
        ).collect()
    ]
    assert scores == [1.0, -1.0, 0.0, 1.0, 0.0]


def test_decay_weight_known_values(spark):
    """weight = exp(-0.1 * age_sec / 60): age 0 → 1.0; age 416 s ≈ 0.5
    (the reference's effective half-weight point, SURVEY §2.1 M2)."""
    anchor = "2024-02-01 00:00:00"
    df = spark.createDataFrame(
        [
            (datetime.datetime(2024, 2, 1, 0, 0, 0),),
            (datetime.datetime(2024, 1, 31, 23, 53, 4),),  # 416 s before
        ],
        "ts timestamp",
    )
    w = [r.w for r in df.select(decay_weight("ts", anchor).alias("w")).collect()]
    assert w[0] == 1.0
    assert abs(w[1] - 0.5) < 0.001


def test_empty_input_aggregations(spark):
    """Empty-batch guard analog (reference F1): empty inputs produce
    empty (not erroring) aggregates."""
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert dedup_exact(empty).count() == 0
    assert dedup_minhash(empty).count() == 0


def test_dedup_exact_keeps_min_doc_id(spark):
    df = spark.createDataFrame(
        [(5, "a b"), (2, "a b"), (9, "c d"), (1, "x")],
        "doc_id long, text string",
    )
    kept = {r.text: r.doc_id for r in dedup_exact(df).collect()}
    assert kept == {"a b": 2, "c d": 9, "x": 1}


def test_dedup_minhash_finds_planted_near_dups(spark):
    """Two 30-token docs differing in one token (J≈0.87) must pair;
    an unrelated doc must not appear in any pair."""
    base = " ".join(f"tok{i}" for i in range(30))
    near = " ".join(f"tok{i}" for i in range(29)) + " other"
    unrelated = " ".join(f"zzz{i}" for i in range(30))
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, unrelated)], "doc_id long, text string"
    )
    pairs = {(r.doc_id_a, r.doc_id_b) for r in dedup_minhash(df).collect()}
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)


def test_sim_search_self_excluded_and_k_bounded(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    rows = [(i, rng.standard_normal(8).astype(float).tolist()) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = sim_search(df, probe_ids=(0, 1), k=3).collect()
    assert len(out) == 6
    for r in out:
        assert r.vec_id != r.probe_id
        assert 1 <= r.rnk <= 3
        assert -1.000001 <= r.sim <= 1.000001


def test_embed_neardup_finds_planted_pairs(spark):
    """Planted near-dups (cos ≈ 0.99) must be found; background random
    vectors (cos ≈ 0) must not produce pairs."""
    import numpy as np

    from big_data_trend_analysis_spark.operators.similarity import embed_neardup

    rng = np.random.default_rng(3)
    base = rng.standard_normal((5, 64))
    rows = []
    for i, v in enumerate(base):
        rows.append((i * 2, v.astype(float).tolist()))
        near = v + 0.05 * rng.standard_normal(64)  # cos ≈ 0.999
        rows.append((i * 2 + 1, near.astype(float).tolist()))
    for j in range(100):
        rows.append((100 + j, rng.standard_normal(64).astype(float).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = {(r.vec_id_a, r.vec_id_b): r.sim for r in embed_neardup(df).collect()}
    planted = {(i * 2, i * 2 + 1) for i in range(5)}
    assert planted <= set(pairs), f"missed planted pairs: {planted - set(pairs)}"
    assert all(sim >= 0.9 for sim in pairs.values())
    assert all(a < 100 and b < 100 for a, b in pairs)  # no random-pair noise


def test_ann_ivf_trained_centroids_recall(spark):
    """k-means-trained IVF must recover most exact top-k neighbors on
    clustered data, and the trained codebook must be deterministic."""
    import numpy as np

    from big_data_trend_analysis_spark.operators.similarity import (
        ann_ivf,
        train_ivf_centroids,
    )

    rng = np.random.default_rng(11)
    centers = rng.standard_normal((4, 64)) * 3
    rows = []
    for i in range(200):
        v = centers[i % 4] + rng.standard_normal(64) * 0.5
        rows.append((i, v.astype(float).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    c1 = train_ivf_centroids(df, n_centroids=4)
    c2 = train_ivf_centroids(df, n_centroids=4)
    assert np.allclose(c1, c2)  # deterministic sample + seeded init
    assert np.allclose(np.linalg.norm(c1, axis=1), 1.0)

    probes = (0, 1, 2, 3)
    exact = {
        (r.probe_id, r.vec_id)
        for r in sim_search(df, probe_ids=probes, k=5).collect()
    }
    approx = {
        (r.probe_id, r.vec_id)
        for r in ann_ivf(df, n_centroids=4, probe_ids=probes, k=5, nprobe=2).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"recall {recall} below 0.8"


def test_lang_id_and_tokens(spark):
    df = spark.createDataFrame(
        [
            ("the cat sat on the mat with a hat",),  # stopword-rich → en
            ("rojo azul verde amarillo morado naranja gris negro blanco rosa",),
        ],
        "text string",
    )
    out = df.select(
        lang_id_en("text").alias("lang"), n_tokens("text").alias("n")
    ).collect()
    assert out[0].lang == "en" and out[0].n == 9
    assert out[1].lang == "other" and out[1].n == 10


def test_fingerprint_normalizes_case(spark):
    df = spark.createDataFrame([("Hello World",), ("hello world",)], "text string")
    fps = [r.fp for r in df.select(fingerprint("text").alias("fp")).collect()]
    assert fps[0] == fps[1]
    assert len(fps[0]) == 32


def test_sentiment_udf_deterministic_lexicon(spark):
    df = spark.createDataFrame(
        [("good great day",), ("bad terrible hate",), ("",), (None,)],
        "text string",
    )
    out = df.select(sentiment_compound(F.col("text")).alias("c")).collect()
    assert out[0].c > 0
    assert out[1].c < 0
    assert out[2].c == 0.0
    assert out[3].c == 0.0


def test_ner_udf_stub_shape(spark):
    df = spark.createDataFrame(
        [("I met Alice Smith at Acme Corp yesterday",)], "text string"
    )
    out = df.select(extract_entities(F.col("text")).alias("e")).collect()
    assert isinstance(out[0].e, list)
    assert "Alice Smith" in out[0].e


def test_multimodal_pipeline_fanout_and_determinism(spark):
    from big_data_trend_analysis_spark.operators.multimodal import (
        fake_embed,
        frame_sample,
        multimodal_pipeline,
        with_blob,
    )

    df = spark.createDataFrame(
        [(1, "x" * 200), (2, "short")], "doc_id long, text string"
    )
    frames = frame_sample(with_blob(df)).collect()
    by_doc = {}
    for r in frames:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert len(by_doc[1]) == 4  # 200 bytes → capped at 4 frames
    assert len(by_doc[2]) == 1
    assert all(len(r.frame_bytes) <= 16 for r in frames)

    emb = fake_embed(frame_sample(with_blob(df))).collect()
    assert all(len(r.embedding) == 16 for r in emb)

    out1 = sorted(map(tuple, multimodal_pipeline(df).collect()))
    out2 = sorted(map(tuple, multimodal_pipeline(df).collect()))
    assert out1 == out2  # stub pipeline is deterministic end-to-end
    assert out1[0][1] == 4 and out1[1][1] == 1  # n_frames column


def test_multimodal_decode_deterministic(spark):
    df = spark.createDataFrame([(1, "abcd"), (2, "")], "doc_id long, text string")
    out = {r.doc_id: r for r in multimodal_decode(df).collect()}
    assert out[1].n_bytes == 4
    assert out[1].width == 64 + 4 % 512
    assert out[2].n_bytes == 0
    assert out[2].width == 64


def test_pack_sequences_concat_and_chunk(spark):
    """Concat-and-chunk semantics: seq = floor(exclusive running token
    sum / budget) per bucket, deterministic in doc_id order."""
    from big_data_trend_analysis_spark.operators.textstats import pack_sequences

    # one bucket (n_buckets=1): token counts 3,3,3,10,2 with budget 8
    # cum_before: 0,3,6,9,19 -> seq 0,0,0,1,2
    rows = [
        (0, "a b c"),
        (1, "d e f"),
        (2, "g h i"),
        (3, "j k l m n o p q r s"),
        (4, "t u"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r for r in pack_sequences(df, token_budget=8, n_buckets=1).collect()
    }
    assert [out[i].local_seq for i in range(5)] == [0, 0, 0, 1, 2]
    assert all(out[i].bucket == 0 for i in range(5))
    assert out[3].n_toks == 10
    # bucketed: doc_ids split by parity, each bucket packs independently
    out2 = {
        r.doc_id: r for r in pack_sequences(df, token_budget=6, n_buckets=2).collect()
    }
    # bucket 0: docs 0,2,4 (3,3,2 toks; cum_before 0,3,6) -> seq 0,0,1
    # bucket 1: docs 1,3 (3,10 toks; cum_before 0,3) -> seq 0,0
    assert [out2[i].local_seq for i in (0, 2, 4)] == [0, 0, 1]
    assert [out2[i].local_seq for i in (1, 3)] == [0, 0]
    assert out2[0].seq_id != out2[1].seq_id or out2[0].bucket != out2[1].bucket


def test_embed_quantize_roundtrip_error_bound(spark):
    """int8 quantization contract: codes in [-127,127] and dequantized
    values within scale/2 of the original, per element."""
    import numpy as np

    from big_data_trend_analysis_spark.operators.similarity import embed_quantize

    rng = np.random.default_rng(5)
    rows = [(i, (rng.standard_normal(16) * (i + 1)).astype(float).tolist()) for i in range(20)]
    rows.append((99, [0.0] * 16))  # all-zero vector must not divide by zero
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.vec_id: r for r in embed_quantize(df).collect()}
    originals = dict(rows)
    for vec_id, r in out.items():
        q = [int(s) for s in r.q_csv.split(",")]
        assert r.n_dims == 16 and len(q) == 16
        assert all(-127 <= c <= 127 for c in q)
        scale = max(max(abs(x) for x in originals[vec_id]), 1e-12) / 127.0
        for orig, code in zip(originals[vec_id], q):
            assert abs(orig - code * scale) <= scale / 2 + 1e-9


def test_trend_rising_detects_spike(spark):
    """A key that triples vs its trailing-3-window average must rank
    first with lift 3.0; a flat key ranks below with lift 1.0; windows
    without a full baseline are excluded."""
    import datetime

    from big_data_trend_analysis_spark.operators.trend import trend_rising

    rows = []
    day = lambda d: datetime.datetime(2024, 1, d, 12, 0, 0)
    for d in (1, 2, 3):
        rows += [("spiky", day(d))] * 10 + [("flat", day(d))] * 10
    rows += [("spiky", day(4))] * 30 + [("flat", day(4))] * 10
    df = spark.createDataFrame(
        [(t, ts) for t, ts in rows], "event_type string, ts timestamp"
    )
    out = trend_rising(df).collect()
    # only day 4 has 3 prior windows for both keys
    assert {r.window_start.day for r in out} == {4}
    by_key = {r.event_type: r for r in out}
    assert by_key["spiky"].lift == 3.0 and by_key["spiky"].rnk == 1
    assert by_key["flat"].lift == 1.0 and by_key["flat"].rnk == 2
    assert by_key["spiky"].baseline_avg == 10.0


def test_sample_mixture_deterministic_and_rate_accurate(spark):
    """Hash sampling contract: same rows every run, per-stratum rates
    honored within binomial tolerance, keep_rate column faithful."""
    from big_data_trend_analysis_spark.operators.textstats import sample_mixture

    rows = [(i, "en" if i % 2 == 0 else "de") for i in range(4000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    kept1 = {r.doc_id for r in sample_mixture(df, {"en": 0.5}, 0.1).collect()}
    kept2 = {r.doc_id for r in sample_mixture(df, {"en": 0.5}, 0.1).collect()}
    assert kept1 == kept2  # reproducible across runs/partitionings

    out = sample_mixture(df, {"en": 0.5}, 0.1).collect()
    n_en = sum(1 for r in out if r.lang == "en")
    n_de = sum(1 for r in out if r.lang == "de")
    # 2000 docs per stratum; 5 sigma ≈ 110 (en), 67 (de)
    assert abs(n_en - 1000) < 150, n_en
    assert abs(n_de - 200) < 100, n_de
    assert {r.keep_rate for r in out} == {0.5, 0.1}


def test_containment_dedup_is_asymmetric(spark):
    """A 12-word quote inside a 40-word source: containment of the
    QUOTE is ~1 (pair emitted quote->source), while the source's own
    containment in the quote is ~0.3 (no reverse pair at 0.6) — the
    asymmetry symmetric Jaccard cannot express. An unrelated doc
    appears in no pair."""
    from big_data_trend_analysis_spark.operators.dedup import containment_dedup

    source = " ".join(f"tok{i}" for i in range(40))
    quote = " ".join(f"tok{i}" for i in range(12))
    unrelated = " ".join(f"zzz{i}" for i in range(20))
    df = spark.createDataFrame(
        [(1, source), (2, quote), (3, unrelated)], "doc_id long, text string"
    )
    pairs = {
        (r.doc_small, r.doc_big): r.containment
        for r in containment_dedup(df, max_df=100).collect()
    }
    assert set(pairs) == {(2, 1)}
    assert pairs[(2, 1)] == 1.0  # every quote trigram is in the source


def test_incremental_dedup_decision_semantics(spark):
    """The three decision rules, pinned on a hand-built corpus:
    archive hit -> drop_exact with the ARCHIVE match id; batch-internal
    exact dup -> first (smallest id) wins; near-dup of an archive doc
    (one appended word, J~0.9) -> drop_near against the archive id;
    novel text -> keep with null match."""
    from big_data_trend_analysis_spark.operators.dedup import incremental_dedup

    base = " ".join(f"tok{i}" for i in range(30))
    near = base + " extra"
    archive = spark.createDataFrame(
        [(1, base), (2, "one two three four five six")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, base),                                  # exact archive hit
            (11, "brand new novel words here indeed"),   # keep
            (12, "brand new novel words here indeed"),   # batch-internal dup
            (13, near),                                  # near-dup of 1
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.decision, r.match_id)
        for r in incremental_dedup(archive, batch, max_df=100).collect()
    }
    assert got == {
        10: ("drop_exact", 1),
        11: ("keep", None),
        12: ("drop_exact", 11),
        13: ("drop_near", 1),
    }


def test_incremental_dedup_batch_internal_near_is_out_of_scope(spark):
    """Two near-dup docs that BOTH arrive in the batch (neither in the
    archive) must both keep: batch-internal near-dedup is the ordinary
    dedup_minhash job by design, not this operator's contract."""
    from big_data_trend_analysis_spark.operators.dedup import incremental_dedup

    base = " ".join(f"tok{i}" for i in range(30))
    archive = spark.createDataFrame(
        [(1, "unrelated archive text entirely")], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(10, base), (11, base + " extra")], "doc_id long, text string"
    )
    got = {r.doc_id: r.decision for r in incremental_dedup(archive, batch, max_df=100).collect()}
    assert got == {10: "keep", 11: "keep"}


def test_dedup_clusters_transitive_chain(spark):
    """Label propagation must close transitive chains: doc1-doc2 and
    doc2-doc3 share >=2 rare shingles (doc1-doc3 only 1, no direct
    edge), yet all three must land in one cluster with min doc_id
    canonical; an unrelated doc stays a singleton."""
    from big_data_trend_analysis_spark.operators.dedup import dedup_clusters

    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon eta"),
        (3, "gamma delta epsilon eta theta iota"),
        (4, "omega psi chi phi upsilon tau"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in dedup_clusters(df).collect()}
    assert len(out) == 4
    assert out[1].cluster_id == out[2].cluster_id == out[3].cluster_id == 1
    assert out[1].is_canonical and not out[2].is_canonical and not out[3].is_canonical
    assert out[4].cluster_id == 4 and out[4].is_canonical


def test_upsert_scd1_merge_branches(spark):
    """All three MERGE branches with explicit rows: update (key in
    both sides), insert (changelog only), keep (base only) — and
    timestamp ties broken by event_id (latest id wins)."""
    import datetime as dt

    rows = [
        # key (1,'a'): base row then changelog row -> update, value 2.0
        (1, dt.datetime(2024, 1, 5), 1, "a", 1.0),
        (2, dt.datetime(2024, 1, 20), 1, "a", 2.0),
        # key (2,'b'): changelog only -> insert
        (3, dt.datetime(2024, 1, 25), 2, "b", 3.0),
        # key (3,'c'): base only -> keep
        (4, dt.datetime(2024, 1, 2), 3, "c", 4.0),
        # key (4,'d'): two changelog rows at the SAME ts -> event_id 6 wins
        (5, dt.datetime(2024, 1, 22), 4, "d", 5.0),
        (6, dt.datetime(2024, 1, 22), 4, "d", 6.0),
    ]
    from big_data_trend_analysis_spark.operators.merge import upsert_scd1

    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    out = {
        (r.user_id, r.event_type): (r.value, r.op)
        for r in upsert_scd1(df).collect()
    }
    assert out[(1, "a")] == (2.0, "update")
    assert out[(2, "b")] == (3.0, "insert")
    assert out[(3, "c")] == (4.0, "keep")
    assert out[(4, "d")] == (6.0, "insert")


def test_funnel_requires_stage_order(spark):
    """A view BEFORE the user's first signup must not count — but a
    later view after it must (the case min(ts)-per-type comparison
    gets wrong when the pre-signup view is the earliest)."""
    import datetime as dt

    def t(minute):
        return dt.datetime(2024, 1, 1, 0, minute)

    rows = [
        # user 1: view(1) BEFORE signup(2), view again (3) after -> counts
        (1, t(1), 1, "view", 0.0),
        (2, t(2), 1, "signup", 0.0),
        (3, t(3), 1, "view", 0.0),
        (4, t(4), 1, "click", 0.0),
        (5, t(5), 1, "purchase", 0.0),
        # user 2: view ONLY before signup -> funnel stops at signup
        (6, t(1), 2, "view", 0.0),
        (7, t(2), 2, "signup", 0.0),
        (8, t(3), 2, "click", 0.0),   # click without a post-signup view
        # user 3: no signup at all -> not in the funnel denominator
        (9, t(1), 3, "view", 0.0),
    ]
    from big_data_trend_analysis_spark.operators.temporal import funnel_conversion

    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    row = funnel_conversion(df).collect()[0]
    assert (row.n_signup, row.n_view, row.n_click, row.n_purchase) == (2, 1, 1, 1)
    assert row.full_funnel_rate == 0.5


def test_funnel_equal_timestamps_are_strict(spark):
    """Stage k must be STRICTLY after stage k-1: an equal-timestamp
    view does not qualify."""
    import datetime as dt

    rows = [
        (1, dt.datetime(2024, 1, 1, 0, 0), 1, "signup", 0.0),
        (2, dt.datetime(2024, 1, 1, 0, 0), 1, "view", 0.0),
    ]
    from big_data_trend_analysis_spark.operators.temporal import funnel_conversion

    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    row = funnel_conversion(df).collect()[0]
    assert (row.n_signup, row.n_view) == (1, 0)


@pytest.mark.parametrize("events_slice", ["empty", "no_signups"])
def test_funnel_without_signups_matches_oracle(spark, sf_dir, tmp_path, events_slice):
    """An events slice with no signups has an empty funnel denominator:
    the rate is NULL, as in DuckDB, not an ANSI DIVIDE_BY_ZERO."""
    import duckdb
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from big_data_trend_analysis_spark.plans.registry import ORACLE_SQL, QUERIES
    from tests.oracle_utils import assert_results_match, run_oracle, run_spark

    events = pq.read_table(f"{sf_dir}/events.parquet")
    if events_slice == "empty":
        events = events.slice(0, 0)
    else:
        events = events.filter(pc.not_equal(events["event_type"], "signup"))
        assert events.num_rows > 0
    path = tmp_path / "events.parquet"
    pq.write_table(events, str(path))

    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{path}'")
    expected = run_oracle(con, ORACLE_SQL["funnel_conversion"])
    con.close()
    assert expected[1] == [(0, 0, 0, 0, None)]
    got = run_spark(QUERIES["funnel_conversion"](spark, str(tmp_path)))
    assert_results_match(got, expected, "funnel_conversion")


def test_hashed_shingles_preserve_set_cardinalities(spark, sf_dir):
    """The hashed-shingle rewrite claims Jaccard values are unchanged
    because xxhash64 is collision-free at corpus scale; verify the
    per-doc distinct-shingle cardinalities are identical between the
    string and hashed relations on the fixtures."""
    from big_data_trend_analysis_spark.operators.dedup import _doc_shingles
    from big_data_trend_analysis_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    string_counts = (
        _doc_shingles(docs, hashed=False).groupBy("doc_id").count()
    )
    hashed_counts = (
        _doc_shingles(docs, hashed=True).groupBy("doc_id").count()
    )
    assert string_counts.exceptAll(hashed_counts).count() == 0
    assert hashed_counts.exceptAll(string_counts).count() == 0


def test_pca_partials_bounded_driver_collect(spark):
    """The PCA tree reduce must hand the driver ≤ PCA_COMBINE_K rows no
    matter how many Arrow batches the corpus scans to, and the folded
    moments must equal the exact single-machine computation."""
    import numpy as np

    from big_data_trend_analysis_spark.operators.similarity import (
        PCA_COMBINE_K,
        pca_moment_partials,
    )

    rng = np.random.default_rng(5)
    mat = rng.standard_normal((2000, 64))
    rows = [(i, v.astype(float).tolist()) for i, v in enumerate(mat)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>").repartition(16)

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "16")
    try:
        parts = pca_moment_partials(df).collect()
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)

    # 2000 rows / ≤16-row batches ⇒ ≥125 first-stage partials; the
    # second stage must have reduced them executor-side.
    assert len(parts) <= PCA_COMBINE_K

    n = sum(r.n for r in parts)
    s = np.sum([np.asarray(r.s) for r in parts], axis=0)
    g = np.sum([np.asarray(r.g).reshape(64, 64) for r in parts], axis=0)
    x = mat.astype(np.float32).astype(np.float64)  # array<float> round-trip
    assert n == 2000
    assert np.allclose(s, x.sum(axis=0), atol=1e-6)
    assert np.allclose(g, x.T @ x, atol=1e-4)


def test_winnow_fingerprints_detect_shared_runs(spark):
    """Winnowing guarantee: any shared run of >= window+k-1 words yields
    at least one shared fingerprint; disjoint-vocabulary docs share none."""
    from big_data_trend_analysis_spark.operators.textstats import winnow_fingerprints

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 words = window+k-1
    rows = [
        (1, f"one two three {shared} four five"),
        (2, f"six seven {shared} eight nine ten"),
        (3, "completely different words without any overlap at all here"),
        (4, "too short"),  # < k words: no fingerprints
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = winnow_fingerprints(df).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    assert by_doc[1] & by_doc[2], "shared run produced no shared fingerprint"
    assert not (by_doc[3] & (by_doc[1] | by_doc[2]))
    assert 4 not in by_doc


def test_pq_codebooks_deterministic_and_reconstructive(spark):
    """PQ codebooks must be deterministic (seeded sample + init) and on
    CLUSTERED data must reconstruct far better than the isotropic
    worst case; the check query's invariants must hold end to end."""
    import numpy as np

    from big_data_trend_analysis_spark.operators.similarity import (
        embed_pq_check,
        train_pq_codebooks,
    )

    rng = np.random.default_rng(23)
    centers = rng.standard_normal((4, 64)) * 3
    rows = []
    # Noise scale 1.0 keeps within-cluster cosine ≈ 0.9 — well below the
    # planted twins' 0.9988, so ADC must rank every twin first.
    for i in range(300):
        v = centers[i % 4] + rng.standard_normal(64) * 1.0
        rows.append((i, v.astype(float).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    b1 = train_pq_codebooks(df)
    b2 = train_pq_codebooks(df)
    assert np.allclose(b1, b2)
    assert b1.shape == (8, 16, 8)

    # Clustered data: 16 codes per subspace capture the 4 modes easily.
    x = np.stack([np.asarray(r[1]) for r in rows])
    x = x / np.linalg.norm(x, axis=1, keepdims=True)
    err = 0.0
    for s in range(8):
        xs = x[:, s * 8 : (s + 1) * 8]
        d2 = ((xs[:, None, :] - b1[s][None]) ** 2).sum(axis=2)
        err += d2.min(axis=1).mean()
    assert err < 0.45, f"clustered-data recon error too high: {err}"

    # The planted-twin retrieval invariant needs code diversity: on
    # coarse clusters PQ collapses members to IDENTICAL codes and ADC
    # ties (twin loses the vec_id tie-break) — an honest resolution
    # property. Isotropic vectors (the fixtures' regime) give every
    # vector distinct codes, so the twin's near-exact score wins.
    iso = spark.createDataFrame(
        [(i, v.astype(float).tolist()) for i, v in enumerate(rng.standard_normal((300, 64)))],
        "vec_id long, embedding array<float>",
    )
    row = embed_pq_check(iso).collect()[0]
    assert row.n_vectors == 300
    assert row.recon_ok and row.all_found
    assert row.n_planted == 20


def test_gapfill_locf_planted_gaps(spark):
    """Planted bucket gaps must appear with n_events=0 and the last
    observed sum carried forward; leading gaps stay NULL."""
    import datetime as dt

    from big_data_trend_analysis_spark.operators.windows import gapfill_locf

    t0 = dt.datetime(2024, 1, 1, 0, 5)
    rows = [
        # type 'a': buckets 00:00 and 00:30 occupied; 00:10/00:20 are gaps
        (1, t0, 1, "a", 10.0, "{}"),
        (2, t0 + dt.timedelta(minutes=30), 1, "a", 20.0, "{}"),
        # type 'b': first appears at 00:30 — leading buckets must be NULL
        (3, t0 + dt.timedelta(minutes=30), 2, "b", 5.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    out = {(r.event_type, r.bucket.minute): r for r in gapfill_locf(df).collect()}
    assert len(out) == 8  # 2 types x 4 buckets (00,10,20,30)
    a10, a20 = out[("a", 10)], out[("a", 20)]
    assert a10.n_events == 0 and a10.gap_filled and a10.sum_value_locf == 10.0
    assert a20.sum_value_locf == 10.0
    assert out[("a", 30)].sum_value_locf == 20.0 and not out[("a", 30)].gap_filled
    assert out[("b", 0)].sum_value_locf is None and out[("b", 0)].n_events == 0
    assert out[("b", 30)].sum_value_locf == 5.0


def test_fuzzy_token_join_covers_all_edit_classes(spark):
    """Deletion-neighborhood candidates must cover substitution,
    insertion/deletion, and reject distance-2 pairs."""
    from big_data_trend_analysis_spark.operators.dedup import fuzzy_token_join

    df = spark.createDataFrame(
        [(1, "cat cut cats dog dig dg xylophone")], "doc_id long, text string"
    )
    pairs = {
        (r.token_a, r.token_b): r.dist for r in fuzzy_token_join(df).collect()
    }
    assert pairs[("cat", "cut")] == 1  # substitution
    assert pairs[("cat", "cats")] == 1  # insertion
    assert pairs[("dg", "dig")] == 1  # deletion
    # distance 2, outside radius 1 (keys are (token_a < token_b) sorted)
    assert ("cats", "cut") not in pairs
    # typo planting: length>=4 tokens get middle-char-deleted variants
    assert ("cas", "cats") in pairs or ("cat", "cas") in pairs
    # radius 2 (two-level deletion neighborhoods) must ADMIT distance-2
    # pairs the radius-1 join rejects…
    pairs2 = {
        (r.token_a, r.token_b): r.dist
        for r in fuzzy_token_join(df, max_dist=2).collect()
    }
    assert pairs2[("cats", "cut")] == 2  # (token_a, token_b) sorted
    assert pairs2[("dig", "dog")] == 1
    assert set(pairs) <= set(pairs2)
    # …while unimplemented radii raise, never silently drop pairs
    with pytest.raises(ValueError, match="max_dist in"):
        fuzzy_token_join(df, max_dist=3)


def test_trend_anomaly_flags_planted_spike(spark):
    """A planted 10x traffic spike must be the flagged anomaly; steady
    types must not flag; a single-window type (stddev undefined) must
    yield z NULL and is_anomaly False."""
    import datetime as dt

    from big_data_trend_analysis_spark.operators.trend import trend_anomaly

    rows = []
    eid = 0
    for day in range(10):
        base = dt.datetime(2024, 1, 1 + day)
        n = 100 if day == 5 else 10  # spike on day 5
        for i in range(n):
            eid += 1
            rows.append((eid, base + dt.timedelta(minutes=i), 1, "click", 1.0, "{}"))
        rows.append((10_000 + day, base, 2, "view", 1.0, "{}"))  # steady
    rows.append((99_999, dt.datetime(2024, 1, 3), 3, "error", 1.0, "{}"))  # one window
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    out = trend_anomaly(df).collect()
    flagged = {(r.event_type, r.window_start.day) for r in out if r.is_anomaly}
    assert flagged == {("click", 6)}  # loop day 5 = Jan 6
    err = [r for r in out if r.event_type == "error"]
    assert len(err) == 1 and err[0].z is None and not err[0].is_anomaly


def test_bm25_rank_hand_computed(spark):
    """BM25 on a 3-doc corpus must equal the formula computed by hand
    (k1=1.2, b=0.75), with per-term scores rounded then decimal-summed."""
    import math

    from big_data_trend_analysis_spark.operators.textstats import bm25_rank

    docs = spark.createDataFrame(
        [
            (1, "spark join x", "en", "s", 12),
            (2, "spark spark y", "en", "s", 13),
            (3, "dup z w v u t", "en", "s", 13),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {r.doc_id: (r.rnk, r.bm25) for r in bm25_rank(docs).collect()}

    n, k1, b = 3, 1.2, 0.75
    dls = {1: 3, 2: 3, 3: 6}
    avgdl = (3 + 3 + 6) / 3
    dfs = {"spark": 2, "join": 1, "dup": 1}
    tfs = {1: {"spark": 1, "join": 1}, 2: {"spark": 2}, 3: {"dup": 1}}

    def score(doc):
        total = 0.0
        for t, tf in tfs[doc].items():
            idf = math.log((n - dfs[t] + 0.5) / (dfs[t] + 0.5) + 1.0)
            s = idf * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * dls[doc] / avgdl))
            total += round(s, 6)
        return round(total, 6)

    expected = {d: score(d) for d in (1, 2, 3)}
    assert {d: v for d, (_, v) in out.items()} == pytest.approx(expected)
    # ranking: descending score, doc_id tie-break
    order = sorted(expected, key=lambda d: (-expected[d], d))
    assert [d for d, _ in sorted(out.items(), key=lambda kv: kv[1][0])] == order


def test_cooccurrence_pmi_hand_computed(spark):
    """PMI counts and values on a 4-doc corpus, min_pairs filtering."""
    import math

    from big_data_trend_analysis_spark.operators.textstats import cooccurrence_pmi

    docs = spark.createDataFrame(
        [
            (1, "a b c", "en", "s", 5),
            (2, "a b", "en", "s", 3),
            (3, "a c", "en", "s", 3),
            (4, "b b a", "en", "s", 5),  # duplicate token counted once
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {
        (r.token_a, r.token_b): (r.c_ab, r.pmi)
        for r in cooccurrence_pmi(docs, min_pairs=2).collect()
    }
    # df: a=4, b=3, c=2; pairs: (a,b)=3, (a,c)=2, (b,c)=1 (cut by min_pairs)
    assert set(out) == {("a", "b"), ("a", "c")}
    assert out[("a", "b")][0] == 3 and out[("a", "c")][0] == 2
    assert out[("a", "b")][1] == pytest.approx(round(math.log(3 * 4 / (4 * 3)), 6))
    assert out[("a", "c")][1] == pytest.approx(round(math.log(2 * 4 / (4 * 2)), 6))


def test_rolling_median_hand_computed(spark):
    """Trailing-frame median with interpolation on even counts."""
    import datetime as dt

    from big_data_trend_analysis_spark.operators.windows import rolling_median

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(minutes=i), 7, "click", v, "{}")
        for i, v in enumerate([4.0, 1.0, 3.0, 2.0])
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    out = {r.event_id: r.rolling_median for r in rolling_median(df, frame_rows=2).collect()}
    # frames: [4], [4,1], [4,1,3], [1,3,2]
    assert out == {0: 4.0, 1: 2.5, 2: 3.0, 3: 2.0}


def test_attribution_last_touch_semantics(spark):
    """Latest prior non-purchase wins; lookback excludes stale touches;
    purchases with no prior touch drop; same-ts ties use event_id order."""
    import datetime as dt

    from big_data_trend_analysis_spark.operators.temporal import (
        attribution_last_touch,
    )

    t0 = dt.datetime(2024, 1, 10)
    rows = [
        # user 1: click then view then purchase -> view wins
        (1, t0, 1, "click", 1.0, "{}"),
        (2, t0 + dt.timedelta(hours=1), 1, "view", 1.0, "{}"),
        (3, t0 + dt.timedelta(hours=2), 1, "purchase", 1.0, "{}"),
        # user 2: only touch is 8 days before purchase -> excluded
        (4, t0 - dt.timedelta(days=8), 2, "click", 1.0, "{}"),
        (5, t0, 2, "purchase", 1.0, "{}"),
        # user 3: purchase with no prior events at all
        (6, t0, 3, "purchase", 1.0, "{}"),
        # user 4: touch at the same ts as purchase, lower event_id -> counts
        (7, t0, 4, "view", 1.0, "{}"),
        (8, t0, 4, "purchase", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    out = {r.purchase_id: r for r in attribution_last_touch(df).collect()}
    assert set(out) == {3, 8}
    assert out[3].touch_type == "view"
    assert out[3].touch_ts == t0 + dt.timedelta(hours=1)
    assert out[8].touch_type == "view" and out[8].touch_ts == t0


def test_hll_merge_check_exact_small_cardinality(spark, sf_dir):
    """At fixture cardinality HLL is sparse-mode exact: the merged
    estimate must sit inside the band and the exacts must match."""
    from big_data_trend_analysis_spark.operators.aggregates import hll_merge_check
    from big_data_trend_analysis_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events")
    row = hll_merge_check(events).collect()[0]
    exact = events.select("user_id").distinct().count()
    assert row.n_exact_users == exact
    assert row.n_types == 5
    assert row.within_band


def test_multimodal_decode_parses_real_image_headers(spark):
    """Real PNG/JPEG/GIF payloads must yield their ACTUAL container
    dimensions through the full mapInPandas decode path (header
    sniffing needs no image library); unknown payloads keep the
    deterministic stub + their input mime."""
    import struct
    import zlib

    from big_data_trend_analysis_spark.operators.multimodal import decode_meta

    def png(w, h):
        ihdr = struct.pack(">II5B", w, h, 8, 2, 0, 0, 0)
        chunk = b"IHDR" + ihdr
        return (
            b"\x89PNG\r\n\x1a\n"
            + struct.pack(">I", len(ihdr))
            + chunk
            + struct.pack(">I", zlib.crc32(chunk))
        )

    def jpeg(w, h):
        # SOI + APP0 stub + SOF0 carrying (h, w) + EOI
        app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
        sof0 = b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, h, w, 1) + b"\x01\x11\x00"
        return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"

    def gif(w, h):
        return b"GIF89a" + struct.pack("<HH", w, h) + b"\x00\x00\x00" + b"\x2c"

    rows = [
        (1, png(640, 480), "application/octet-stream"),
        (2, jpeg(1920, 1080), "application/octet-stream"),
        (3, gif(32, 16), "application/octet-stream"),
        (4, b"just some text bytes", "image/fake"),
    ]
    blobs = spark.createDataFrame(rows, "doc_id long, content binary, mime string")
    got = {r.doc_id: r for r in decode_meta(blobs).collect()}

    assert (got[1].mime, got[1].width, got[1].height) == ("image/png", 640, 480)
    assert (got[2].mime, got[2].width, got[2].height) == ("image/jpeg", 1920, 1080)
    assert (got[3].mime, got[3].width, got[3].height) == ("image/gif", 32, 16)
    # unknown payload: stub metadata, input mime preserved
    n = len(b"just some text bytes")
    assert got[4].mime == "image/fake"
    assert (got[4].width, got[4].height) == (64 + n % 512, 64 + (7 * n) % 512)


def test_multimodal_audio_decode_parses_wav(spark):
    """A real WAV (written by the stdlib wave module) must round-trip
    its channels/rate/sample-count through the mapInPandas audio
    decode; unknown payloads get the deterministic stub."""
    import io
    import wave

    from big_data_trend_analysis_spark.operators.multimodal import decode_audio_meta

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)  # 16-bit
        w.setframerate(44_100)
        w.writeframes(b"\x00\x01" * 2 * 1000)  # 1000 stereo frames
    wav_bytes = buf.getvalue()

    rows = [
        (1, wav_bytes, "application/octet-stream"),
        (2, b"opaque audio-ish bytes", "audio/fake"),
    ]
    blobs = spark.createDataFrame(rows, "doc_id long, content binary, mime string")
    got = {r.doc_id: r for r in decode_audio_meta(blobs).collect()}

    assert (got[1].mime, got[1].n_channels, got[1].sample_rate, got[1].n_samples) == (
        "audio/wav", 2, 44_100, 1000
    )
    assert got[2].mime == "audio/fake"
    assert got[2].n_samples == len(b"opaque audio-ish bytes") * 4


def test_malformed_wav_and_ppm_take_the_stub_path():
    """Malformed payloads must return None from the header parsers (so
    mapInPandas falls back to the stub) instead of raising — ADVICE r5:
    4-bit ADPCM WAVs divided by zero; truncated P6 crashed on unpack."""
    import struct

    from big_data_trend_analysis_spark.operators.multimodal import (
        _parse_ppm,
        _parse_wav_header,
    )

    # 4-bit mono ADPCM: channels*bits//8 == 0 -> stub, not ZeroDivisionError
    fmt = struct.pack("<HHIIHH", 17, 1, 8000, 4000, 1, 4)
    adpcm = (
        b"RIFF" + struct.pack("<I", 36) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", 8) + b"\x00" * 8
    )
    assert _parse_wav_header(adpcm) is None
    # sanity: a good header still parses
    good_fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    good = (
        b"RIFF" + struct.pack("<I", 36) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(good_fmt)) + good_fmt
        + b"data" + struct.pack("<I", 20) + b"\x00" * 20
    )
    assert _parse_wav_header(good) == ("audio/wav", 1, 8000, 10)

    assert _parse_ppm(b"P6 12") is None                      # <3 header tokens
    assert _parse_ppm(b"P6 2 2 255 " + b"\x00" * 5) is None  # short pixel buf
    assert _parse_ppm(b"P6 2 2 255#") is None                # unterminated comment
    assert _parse_ppm(b"P6 x 2 255 " + b"\x00" * 12) is None # non-numeric token
    ok = _parse_ppm(b"P6 2 2 255\n" + bytes(range(12)))
    assert ok is not None and ok[0] == 2 and ok[1] == 2


def test_round5_operators_handle_empty_input(spark):
    """Empty-relation behavior (reference F1 analog) for the round-5
    additions: empty in → empty (never erroring) out."""
    from big_data_trend_analysis_spark.operators.aggregates import (
        histogram_numeric,
        kll_quantile_rollup,
        theta_segment_overlap,
    )
    from big_data_trend_analysis_spark.operators.dedup import decontaminate_ngram
    from big_data_trend_analysis_spark.operators.temporal import (
        event_transitions,
        retention_cohort,
    )
    from big_data_trend_analysis_spark.operators.textstats import (
        split_train_val_test,
    )

    no_docs = spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long"
    )
    no_events = spark.createDataFrame(
        [],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    no_lines = spark.createDataFrame(
        [], "l_extendedprice double, l_returnflag string"
    )
    assert decontaminate_ngram(no_docs).count() == 0
    assert split_train_val_test(no_docs).count() == 0
    assert retention_cohort(no_events).count() == 0
    assert event_transitions(no_events).count() == 0
    assert theta_segment_overlap(no_events).count() == 0
    assert histogram_numeric(no_lines).count() == 0
    # KLL rollup emits its __total__ row even on empty input — the
    # merged sketch is empty, quantiles are null, count is zero
    total = kll_quantile_rollup(no_lines).collect()
    assert [r.grp for r in total] == ["__total__"]
    assert total[0].n_rows is None or total[0].n_rows == 0


def test_lang_id_multi_classifies_function_words(spark):
    from big_data_trend_analysis_spark.functions.text import lang_id_multi

    df = spark.createDataFrame(
        [
            (1, "the cat is in the house and it is warm"),
            (2, "la casa es de el perro y no es grande"),
            (3, "le chien est dans la maison et il est grand"),
            (4, "der hund ist in dem haus und das ist gut"),
            (5, "zzz qqq xxx www"),
        ],
        "id long, text string",
    )
    got = {r.id: r.lang for r in df.select("id", lang_id_multi("text").alias("lang")).collect()}
    assert got == {1: "en", 2: "es", 3: "fr", 4: "de", 5: "other"}


def test_lang_id_multi_ties_break_to_smallest_code(spark):
    """'de la' scores 1.0 for BOTH es and fr — the documented tie-break
    picks the alphabetically smallest language code ('es')."""
    from big_data_trend_analysis_spark.functions.text import lang_id_multi

    df = spark.createDataFrame([(1, "de la"), (2, "en un que")], "id long, text string")
    got = {r.id: r.lang for r in df.select("id", lang_id_multi("text").alias("lang")).collect()}
    assert got[1] == "es"  # es/fr tie -> es
    assert got[2] == "es"  # es/fr tie -> es


def test_mask_pii_replaces_typed_placeholders(spark):
    from big_data_trend_analysis_spark.functions.text import mask_pii

    df = spark.createDataFrame(
        [
            (1, "ssn 123-45-6789 ok"),
            (2, "card 4111 1111 1111 1111 here"),
            (3, "call +1 (555) 123-4567 now"),
            (4, "host 192.168.0.1 up"),
            (5, "no pii in this sentence"),
        ],
        "id long, text string",
    )
    got = {r.id: r.m for r in df.select("id", mask_pii("text").alias("m")).collect()}
    assert got[1] == "ssn <SSN> ok"
    assert got[2] == "card <CARD> here"
    assert "<PHONE>" in got[3]
    assert got[4] == "host <IP> up"
    assert got[5] == "no pii in this sentence"
    # masking is idempotent
    df2 = spark.createDataFrame([(1, got[3])], "id long, text string")
    assert df2.select(mask_pii("text").alias("m")).first().m == got[3]


def test_curate_for_training_end_to_end(spark):
    """The capstone composition must gate, redact, dedup, and split in
    one pass: planted dup pair -> min id survives; repetitive doc ->
    dropped; PII -> masked; every survivor gets exactly one split."""
    from big_data_trend_analysis_spark.operators.textstats import (
        curate_for_training,
    )

    good = (
        "the quick brown fox jumps over the lazy dog while many other "
        "words provide enough natural length and variety for the gate "
        "to score this document comfortably above the quality threshold"
    )
    rows = [
        (1, good),
        (2, good),                                  # exact dup of 1
        (3, "spam spam spam spam spam spam spam"),  # repetition cut
        (4, good + " call 555-123-4567 or visit 10.0.0.1 today"),
        (5, "x"),                                   # quality cut
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in curate_for_training(df).collect()}

    assert 1 in out and 2 not in out          # dedup keeps min doc_id
    assert 3 not in out                       # dup-word fraction cut
    assert 5 not in out                       # quality cut
    assert 4 in out
    assert "<phone>" in out[4].clean_text and "<ip>" in out[4].clean_text
    assert all(r.split in ("train", "val", "test") for r in out.values())


def test_resize_images_real_ppm_and_stub(spark):
    """A real P6 PPM must be ACTUALLY resampled (checkerboard corners
    land on the right colors); non-bitmap payloads get the padded
    byte-slice stub with the output-size contract held."""
    import numpy as np

    from big_data_trend_analysis_spark.operators.multimodal import resize_images

    # 4x4 checkerboard: red top-left quadrant, blue top-right, etc.
    px = np.zeros((4, 4, 3), np.uint8)
    px[:2, :2] = [255, 0, 0]
    px[:2, 2:] = [0, 0, 255]
    px[2:, :2] = [0, 255, 0]
    px[2:, 2:] = [255, 255, 0]
    ppm = b"P6\n4 4\n255\n" + px.tobytes()

    rows = [(1, ppm, "image/x-portable-pixmap"), (2, b"opaque", "image/fake")]
    blobs = spark.createDataFrame(rows, "doc_id long, content binary, mime string")
    got = {r.doc_id: r for r in resize_images(blobs, 2, 2).collect()}

    small = np.frombuffer(got[1].content, np.uint8).reshape(2, 2, 3)
    assert small[0, 0].tolist() == [255, 0, 0]   # red
    assert small[0, 1].tolist() == [0, 0, 255]   # blue
    assert small[1, 0].tolist() == [0, 255, 0]   # green
    assert small[1, 1].tolist() == [255, 255, 0] # yellow
    assert (got[1].width, got[1].height) == (2, 2)

    assert len(got[2].content) == 12  # stub honors the size contract
    assert bytes(got[2].content[:6]) == b"opaque"


def test_interval_overlap_sweep_line_semantics(spark):
    """Planted timeline: 3 overlapping intervals peak at 3; half-open
    boundaries (an interval ending exactly when another starts) must
    NOT count as concurrent."""
    from datetime import datetime

    from big_data_trend_analysis_spark.operators.temporal import interval_overlap

    t0 = datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        # type A: starts at 0, 10, 20 min (30-min duration) -> peak 3
        (1, datetime(2024, 1, 1, 12, 0), 1, "A", 1.0, None),
        (2, datetime(2024, 1, 1, 12, 10), 1, "A", 1.0, None),
        (3, datetime(2024, 1, 1, 12, 20), 1, "A", 1.0, None),
        # type B: back-to-back (second starts exactly at first's end)
        (4, t0, 2, "B", 1.0, None),
        (5, datetime(2024, 1, 1, 12, 30), 2, "B", 1.0, None),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    got = {r.event_type: r for r in interval_overlap(df).collect()}
    assert got["A"].max_concurrent == 3
    assert got["A"].n_intervals == 3
    assert got["B"].max_concurrent == 1  # half-open: no double count
    assert got["B"].n_intervals == 2


def test_window_range_frame_bounds_by_time_not_rows(spark):
    """RANGE frame: the trailing-1h sum must include exactly the rows
    within the hour — including ties — regardless of row counts."""
    from datetime import datetime

    from big_data_trend_analysis_spark.operators.windows import window_range_frame

    rows = [
        (1, datetime(2024, 1, 1, 10, 0), 7, "e", 1.0, None),
        (2, datetime(2024, 1, 1, 10, 30), 7, "e", 2.0, None),
        (3, datetime(2024, 1, 1, 11, 0), 7, "e", 4.0, None),   # 10:00 still in (>= t-1h)
        (4, datetime(2024, 1, 1, 11, 0), 7, "e", 8.0, None),   # tie: same frame
        (5, datetime(2024, 1, 1, 12, 30), 7, "e", 16.0, None), # alone
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    got = {r.event_id: r.trailing_1h_sum for r in window_range_frame(df).collect()}
    assert got[1] == 1.0
    assert got[2] == 3.0
    assert got[3] == 15.0  # 1+2+4+8: boundary row AND the tie included
    assert got[4] == 15.0
    assert got[5] == 16.0


def test_dedup_checks_fail_open_on_thin_corpus(spark):
    """A corpus whose first docs are too short to seed twins must yield
    0 planted / vacuous-TRUE flags, not errors."""
    from big_data_trend_analysis_spark.operators.dedup import (
        dedup_minhash_check,
        dedup_simhash_check,
    )

    df = spark.createDataFrame(
        [(0, "tiny text", "en", "s", 9), (1, "also small", "en", "s", 10)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    (m,) = dedup_minhash_check(df).collect()
    assert (m.n_planted, m.n_found, m.all_found) == (0, 0, True)
    (s,) = dedup_simhash_check(df).collect()
    assert (s.n_planted, s.recall_ok, s.exclusion_ok) == (0, True, True)


def test_variant_extract_malformed_props_yield_nulls(spark):
    """try_parse_json: malformed JSON payloads become NULL variants
    (PERMISSIVE contract) instead of failing the batch."""
    from datetime import datetime

    from big_data_trend_analysis_spark.operators.scalar import variant_extract

    rows = [
        (1, datetime(2024, 1, 1), 1, "e", 1.0, '{"k": 7}'),
        (2, datetime(2024, 1, 1), 1, "e", 1.0, "not json at all"),
        (3, datetime(2024, 1, 1), 1, "e", 1.0, None),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    got = {r.event_id: r for r in variant_extract(df).collect()}
    assert got[1].k_int == 7 and got[1].variant_schema == "OBJECT<k: BIGINT>"
    assert got[2].k_int is None and got[2].variant_schema is None
    assert got[3].k_int is None


def test_round6_checks_handle_empty_input(spark):
    """Empty-relation behavior (reference F1 analog) for the round-6
    gate queries: empty in -> empty or vacuous out, never an error."""
    from big_data_trend_analysis_spark.operators.aggregates import (
        column_profile,
        conditional_agg_suite,
        kll_rollup_check,
        listagg_canonical,
        theta_overlap_check,
    )
    from big_data_trend_analysis_spark.operators.relational import skyline_pareto
    from big_data_trend_analysis_spark.operators.temporal import (
        interval_overlap,
        time_weighted_avg,
    )
    from big_data_trend_analysis_spark.operators.windows import (
        ewma_smooth,
        window_range_frame,
    )

    ev = spark.createDataFrame(
        [],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    li = spark.createDataFrame(
        [],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    )
    orders = spark.createDataFrame(
        [],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    assert listagg_canonical(ev).count() == 0
    assert conditional_agg_suite(ev).count() == 0
    assert interval_overlap(ev).count() == 0
    assert time_weighted_avg(ev).count() == 0
    assert window_range_frame(ev).count() == 0
    assert ewma_smooth(ev).count() == 0
    assert theta_overlap_check(ev).count() == 0
    assert skyline_pareto(orders).count() == 0
    (prof,) = column_profile(li).collect()
    assert prof.n_rows == 0
    (kll,) = kll_rollup_check(li).collect()
    assert kll.n_rows == 0 and kll.p50_exact is None


def test_pagerank_fixed_conserves_mass_and_ranks_sinks(spark):
    """Rank mass stays ~1 through every iteration (fixed-point rounding
    loses <1e-5 per round), and a pure sink node outranks a pure
    source at equal in-degree — the defining PageRank property."""
    import datetime as _dt

    from big_data_trend_analysis_spark.operators.graph import pagerank_fixed

    t0 = _dt.datetime(2024, 1, 1)
    rows = []
    # Three users: a -> b -> c (c never transitions out: dangling).
    for u in range(3):
        for i, et in enumerate(["a", "b", "c"]):
            rows.append((u * 10 + i, t0 + _dt.timedelta(minutes=i), u, et, 1.0, None))
    events = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    out = {r.node: r.rank for r in pagerank_fixed(events).collect()}
    assert set(out) == {"a", "b", "c"}
    assert abs(sum(out.values()) - 1.0) < 1e-4
    # a has no in-edges -> floor rank; c absorbs b's mass -> top rank.
    assert out["c"] > out["b"] > out["a"]


def test_cdc_snapshot_diff_op_partition(spark, sf_dir):
    """The diff emits exactly the carved-out key classes: inserts are
    keys ≡3 (mod 11) (absent from v1), deletes ≡7 (mod 11), updates
    ≡0 (mod 5) survivors — and never a no-op row."""
    from big_data_trend_analysis_spark.operators.merge import cdc_snapshot_diff
    from big_data_trend_analysis_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders")
    rows = cdc_snapshot_diff(orders).collect()
    assert rows, "diff must be non-empty on the fixtures"
    for r in rows:
        k = r.o_orderkey
        if r.op == "insert":
            assert k % 11 == 3 and r.before_price is None
        elif r.op == "delete":
            assert k % 11 == 7 and r.after_price is None
        else:
            assert r.op == "update"
            assert k % 5 == 0 and k % 11 not in (3, 7)
            assert abs(r.after_price - 1.1 * r.before_price) < 0.02


def test_unigram_perplexity_orders_rare_above_common(spark):
    """A document of corpus-rare tokens scores strictly higher
    bits-per-token than one of corpus-common tokens."""
    from big_data_trend_analysis_spark.operators.textstats import unigram_perplexity

    docs = spark.createDataFrame(
        [(1, "the the the the the"), (2, "the the the zyx the"), (3, "zyx qwv jjq zyx kkp")],
        "doc_id long, text string",
    )
    out = {r.doc_id: (r.n_tokens, r.bits_per_token) for r in unigram_perplexity(docs).collect()}
    assert out[1][0] == 5
    assert out[1][1] < out[2][1] < out[3][1]


def test_feature_binning_equi_depth_and_boundary_exactness(spark):
    """On 1..100 with 10 buckets every bin holds exactly 10 rows and
    the cut points are the interpolated deciles (10.9, 20.8, ...) —
    the same positions percentile/quantile_cont evaluate."""
    from big_data_trend_analysis_spark.operators.aggregates import feature_binning

    df = spark.createDataFrame(
        [(float(i),) for i in range(1, 101)], "l_extendedprice double"
    )
    rows = {r.bucket_id: r for r in feature_binning(df).collect()}
    assert set(rows) == set(range(10))
    assert all(r.n_rows == 10 for r in rows.values())
    # bucket 0 covers values below the 0.1-quantile 10.9 -> 1..10
    assert rows[0].min_price == 1.0 and rows[0].max_price == 10.0
    assert rows[9].min_price == 91.0 and rows[9].max_price == 100.0


def test_wav_synth_decodes_to_param_formula(spark):
    """with_wav_blob must emit byte-valid WAVs whose chunk-walk decode
    reproduces the (doc_id, n_chars)-derived parameters — the contract
    the decode_audio_meta oracle recomputes arithmetically."""
    from big_data_trend_analysis_spark.operators.multimodal import (
        _wav_params,
        multimodal_audio_decode,
    )

    docs = spark.createDataFrame(
        [(0, 10), (1, 7), (2, 0), (5, 33)], "doc_id long, n_chars long"
    )
    got = {r.doc_id: r for r in multimodal_audio_decode(docs).collect()}
    for d, n in [(0, 10), (1, 7), (2, 0), (5, 33)]:
        ch, rate, frames = _wav_params(d, n)
        r = got[d]
        assert r.mime == "audio/wav"
        assert (r.n_channels, r.sample_rate, r.n_samples) == (ch, rate, frames)
        assert r.n_bytes == 44 + frames * ch * 2


def test_resize_check_flags_a_corrupted_kernel(spark, monkeypatch):
    """resize_images_check must actually be able to FAIL: corrupt the
    planted-pixel formula on the verify side and every row's pixels_ok
    must flip false (proving the check isn't vacuously true)."""
    from big_data_trend_analysis_spark.operators import multimodal

    docs = spark.createDataFrame([(1,), (2,), (3,)], "doc_id long")
    ok = multimodal.resize_images_check(docs).collect()
    assert all(r.pixels_ok for r in ok)
    assert all(r.n_bytes == 48 for r in ok)
    assert all(r.mime == "image/x-portable-pixmap" for r in ok)

    # Resample to a size whose source coords differ from the formula's
    # by shifting the synthesized dims: a blob built for doc_id d but
    # verified as doc_id d+1 must fail pixel equality.
    shifted = multimodal.resize_images(
        multimodal.with_ppm_blob(docs), 4, 4
    ).withColumn("doc_id", multimodal.F.col("doc_id") + 1)
    import pandas as pd

    bad = 0
    for row in shifted.collect():
        d = int(row.doc_id)
        w, h = 8 + d % 5, 8 + (3 * d) % 5
        for ty in range(4):
            for tx in range(4):
                sy, sx = (ty * h) // 4, (tx * w) // 4
                for c in range(3):
                    if row.content[(ty * 4 + tx) * 3 + c] != multimodal._ppm_pixel(d, sy, sx, c):
                        bad += 1
    assert bad > 0, "shifted verification unexpectedly passed"


def test_scd2_history_compresses_changes_into_versions(spark):
    """Repeated values extend the open version (null-safe: a run of
    NULLs is ONE version); each change opens the next; effective_to
    chains to the successor's effective_from; only the last version
    is current; per-version event counts cover every input row."""
    from big_data_trend_analysis_spark.operators.merge import scd2_history

    vals = [5.0, 5.0, 7.0, 7.0, 5.0, None, None, 3.0]
    rows = [
        (i, f"2024-01-0{i + 1} 00:00:00", 1, "click", v)
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    out = sorted(scd2_history(df).collect(), key=lambda r: r.version_n)
    assert [r.value for r in out] == [5.0, 7.0, 5.0, None, 3.0]
    assert [r.n_events_in_version for r in out] == [2, 2, 1, 2, 1]
    assert [r.is_current for r in out] == [False] * 4 + [True]
    for prev, nxt in zip(out, out[1:]):
        assert prev.effective_to == nxt.effective_from
    assert out[-1].effective_to is None
    assert sum(r.n_events_in_version for r in out) == len(vals)


def test_bpe_encode_hand_computed_token_counts(spark):
    """'low low lower': round 1 learns (l,o) — pf 3, lexicographic
    over the (o,w) tie — round 2 learns (lo,w); encoding then maps
    'low' to ONE token and 'lower' to [low, e, r]. Per-doc counts and
    the lossless-ness flag follow by hand."""
    from big_data_trend_analysis_spark.operators.textstats import bpe_encode

    docs = spark.createDataFrame(
        [(1, "low low lower"), (2, "lower low")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in bpe_encode(docs, rounds=2).collect()}
    assert out[1].n_words == 3 and out[1].n_tokens == 1 + 1 + 3
    assert out[2].n_words == 2 and out[2].n_tokens == 3 + 1
    assert out[1].roundtrip_ok and out[2].roundtrip_ok


def test_bpe_encode_roundtrip_on_pathological_repeats(spark):
    """'aaaaaaaa': the (a,a) merge's fixpoint replace must encode runs
    without inventing or dropping a byte — the reassembly flag is the
    invariant, whatever the token count."""
    from big_data_trend_analysis_spark.operators.textstats import bpe_encode

    docs = spark.createDataFrame(
        [(i, "aaaaaaaa aaaa aaa a") for i in range(5)],
        "doc_id long, text string",
    )
    rows = bpe_encode(docs, rounds=2).collect()
    assert len(rows) == 5
    for r in rows:
        assert r.roundtrip_ok and r.n_words == 4
        # (a,a) then (aa,aa): 'aaaaaaaa'→2, 'aaaa'→1, 'aaa'→[aa,a]→2, 'a'→1
        assert r.n_tokens == 2 + 1 + 2 + 1


def test_boilerplate_lines_strips_corpus_repeats_in_order(spark):
    """Lines over the df cut vanish from every doc; unique lines
    survive in their original order; a doc that was ALL boilerplate
    ends up empty (not missing)."""
    from big_data_trend_analysis_spark.operators.textstats import (
        boilerplate_lines,
    )

    footer = "subscribe now"
    rows = [
        (1, f"{footer}\nalpha\nbeta"),
        (2, f"gamma\n{footer}\ndelta"),
        (3, f"epsilon\nzeta\n{footer}"),
        (4, f"eta\n{footer}\ntheta"),
        (5, footer),  # all boilerplate
        (6, "iota\niota\nkappa"),  # intra-doc repeat is NOT boilerplate
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in boilerplate_lines(docs, max_df=3).collect()}
    assert out[1].clean_text == "alpha\nbeta"
    assert out[2].clean_text == "gamma\ndelta"
    assert out[3].clean_text == "epsilon\nzeta"
    assert out[4].clean_text == "eta\ntheta"
    assert out[5].clean_text == "" and out[5].n_lines_dropped == 1
    # df counts DISTINCT docs: 'iota' appears twice in one doc only
    assert out[6].clean_text == "iota\niota\nkappa"
    assert out[1].n_lines_kept == 2 and out[1].n_lines_dropped == 1


def test_stratified_sample_exact_k_stable_portable(spark):
    """Exactly k per stratum; adding docs to OTHER strata never moves
    a stratum's sample; ranking is hashlib-recomputable (portable)."""
    import hashlib

    from big_data_trend_analysis_spark.operators.textstats import (
        stratified_sample_exact,
    )

    rows = [(i, "en" if i % 3 else "de") for i in range(90)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string")
    out = stratified_sample_exact(docs, k_per_stratum=5).collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r.lang, set()).add(r.doc_id)
    assert {k: len(v) for k, v in by_lang.items()} == {"en": 5, "de": 5}

    # independent recomputation of the winners per stratum
    def bucket(i):
        return int(hashlib.md5(f"{i}:31".encode()).hexdigest()[:15], 16)

    for lang in ("en", "de"):
        ids = [i for i, l in rows if l == lang]
        expect = set(sorted(ids, key=lambda i: (bucket(i), i))[:5])
        assert by_lang[lang] == expect

    # growth in the other stratum cannot move this stratum's sample
    grown = docs.union(
        spark.createDataFrame([(1000 + i, "de") for i in range(50)],
                              "doc_id long, lang string")
    )
    out2 = {
        (r.lang, r.doc_id)
        for r in stratified_sample_exact(grown, k_per_stratum=5).collect()
        if r.lang == "en"
    }
    assert out2 == {("en", d) for d in by_lang["en"]}


def test_drift_family_matches_brute_force(spark):
    """PSI / KS-D / MI must equal plain-Python recomputation on a
    small planted split (counts-exact, log-term rounding identical)."""
    import datetime
    import math

    from big_data_trend_analysis_spark.operators.drift import (
        ks_test_check,
        mutual_information,
        psi_drift,
    )

    base_day = datetime.datetime(2024, 1, 5)
    cur_day = datetime.datetime(2024, 1, 20)
    rows = []
    vals_base, vals_cur = [], []
    for i in range(60):
        v = float(i % 10)  # baseline: uniform over 0..9
        rows.append((i, base_day, 1, "view", v, "{}"))
        vals_base.append(v)
    for i in range(40):
        v = float(i % 5)  # current: shifted low
        rows.append((1000 + i, cur_day, 1, "view", v, "{}"))
        vals_cur.append(v)
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )

    # KS: D = max CDF gap over merged support
    got = ks_test_check(ev).collect()[0]
    support = sorted(set(vals_base + vals_cur))
    d = max(
        abs(
            sum(1 for v in vals_base if v <= s) / len(vals_base)
            - sum(1 for v in vals_cur if v <= s) / len(vals_cur)
        )
        for s in support
    )
    assert got.n_base == 60 and got.n_cur == 40
    assert abs(got.d_stat - round(d, 6)) < 1e-9
    crit = round(1.36 * math.sqrt((60 + 40) / (60 * 40)), 6)
    assert got.d_crit == crit and got.drift == (got.d_stat > crit)

    # PSI: recompute bins/shares/terms by hand
    lo, hi = 0.0, 9.0
    def bin_of(v):
        return min(9, int((v - lo) / ((hi - lo) / 10)))
    nb = {b: 0 for b in range(10)}
    nc = {b: 0 for b in range(10)}
    for v in vals_base: nb[bin_of(v)] += 1
    for v in vals_cur: nc[bin_of(v)] += 1
    expect_terms = {}
    for b in range(10):
        p = max(1e-6, nb[b] / 60)
        q = max(1e-6, nc[b] / 40)
        expect_terms[b] = round((q - p) * math.log(q / p), 6)
    out = {r.bin: r for r in psi_drift(ev).collect()}
    for b, r in out.items():
        assert abs(r.psi_term - expect_terms[b]) < 1e-9, b
    psi_total = round(sum(expect_terms.values()), 6)
    assert abs(next(iter(out.values())).psi_total - psi_total) < 1e-9

    # MI: single (type, dow) pair here ⇒ MI must be exactly 0
    mi = mutual_information(ev.filter("event_id < 60")).collect()
    assert all(r.mi_term == 0.0 and r.mi_total == 0.0 for r in mi)


def test_url_normalize_edge_shapes(spark):
    """No-query URLs, tracker-only queries, and mixed params must all
    canonicalize correctly (empty query ⇒ no '?')."""
    from pyspark.sql import functions as F

    from big_data_trend_analysis_spark.functions.text import url_normalize

    rows = [
        (1, "HTTP://A.B.C/path"),                         # no query
        (2, "https://a.b/x?utm_campaign=z&ref=r#f"),      # trackers only
        (3, "https://a.b/x?id=1&utm_medium=m&keep=2"),    # mixed
        (4, "https://a.b:443/"),                          # port + root path
    ]
    df = spark.createDataFrame(rows, "i long, url string")
    got = {r.i: r.n for r in df.select("i", url_normalize("url").alias("n")).collect()}
    assert got[1] == "http://a.b.c/path"
    assert got[2] == "https://a.b/x"
    assert got[3] == "https://a.b/x?id=1&keep=2"
    assert got[4] == "https://a.b/"
