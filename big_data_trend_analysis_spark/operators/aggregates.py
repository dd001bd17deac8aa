"""Aggregations: exact groupBy/agg core + sketch-based approximates.

Sketch parity with the reference (SURVEY.md §2.1 A1-A3):

- Count-Min Sketch: the reference hand-rolls a 10×1000 MD5 matrix in
  *driver* memory fed by ``collect()`` (``cms_stream.py:19-47,94-97``).
  Here: Spark's built-in ``count_min_sketch`` aggregate — a distributed,
  mergeable sketch that never leaves the executors.
- Flajolet-Martin distinct count: the reference MD5-hashes collected
  rows on the driver (``flajolent_stream.py:20-28,75-78``); estimate =
  2^(max trailing zeros), single hash function. Here:
  ``approx_count_distinct`` (HyperLogLog++), strictly better accuracy
  at the same cost model, fully distributed and mergeable.

Both keep an *exact twin* (``keyword_freq``/``distinct_count``) that the
DuckDB oracle hash-checks; the sketch versions get rows-only checks
plus property tests (tests/test_sketches.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from big_data_trend_analysis_spark.functions.numeric import PRICE_DEC, RATE_DEC, dec
from big_data_trend_analysis_spark.scope import checkpoint, materialize


def agg_basic(lineitem: DataFrame) -> DataFrame:
    """TPC-H Q1-shaped groupBy/agg (SURVEY §2.3 agg_basic).

    All measures are summed in exact decimal then surfaced as double —
    order-independent, so results are identical across any shuffle
    partitioning (and hash-match the oracle). Partial aggregation
    (map-side combine) applies: the shuffle carries one row per
    (flag, status) per map task, not per input row.
    """
    one = F.lit("1.00").cast("decimal(3,2)")
    disc_price = dec("l_extendedprice") * (one - dec("l_discount", RATE_DEC))
    charge = disc_price * (one + dec("l_tax", RATE_DEC))
    return (
        lineitem.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            (F.sum(dec("l_quantity")).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            (F.sum(dec("l_extendedprice")).cast("double") / F.count(F.lit(1))).alias("avg_price"),
            (F.sum(dec("l_discount", RATE_DEC)).cast("double") / F.count(F.lit(1))).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def pivot_counts(events: DataFrame) -> DataFrame:
    """Per-user event-type counts pivoted to columns.

    The pivot values are declared explicitly (the fixture's event-type
    domain) so the plan is a single-pass conditional aggregation — no
    extra job to discover distinct values, which matters when the
    input is 100 TB. DuckDB twin: FILTER'd counts.
    """
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        events.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .select(
            "user_id",
            *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in types],
        )
    )


def percentile_agg(lineitem: DataFrame) -> DataFrame:
    """Exact interpolated percentiles of quantity per returnflag.

    ``percentile`` is the exact (sort-based) aggregate — the oracle
    twin of ``approx_percentile`` below; at 100 TB you run the sketch
    version and accept the documented error instead.
    """
    return lineitem.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_quantity", F.lit(0.5)), 6).alias("p50_qty"),
        F.round(F.percentile("l_quantity", F.lit(0.95)), 6).alias("p95_qty"),
    )


def approx_percentile_agg(lineitem: DataFrame) -> DataFrame:
    """KLL-style approximate percentiles (rows-only; exact twin above)."""
    return lineitem.groupBy("l_returnflag").agg(
        F.percentile_approx("l_quantity", F.lit(0.5), F.lit(10000)).alias("p50_qty"),
        F.percentile_approx("l_quantity", F.lit(0.95), F.lit(10000)).alias("p95_qty"),
    )


def stats_moments(lineitem: DataFrame) -> DataFrame:
    """Second-moment statistics: stddev/variance/correlation/covariance.

    Spark computes these with single-pass co-moment merging (Chan et
    al.) — distributed and mergeable; rounded to 6dp for cross-engine
    stability of the last ulp.
    """
    return lineitem.groupBy("l_linestatus").agg(
        F.round(F.stddev_samp("l_quantity"), 6).alias("sd_qty"),
        F.round(F.var_samp("l_discount"), 6).alias("var_disc"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 6).alias("cov_qty_price"),
    )


def minmax_by(orders: DataFrame) -> DataFrame:
    """Per-customer argmax/argmin: the order ids of the priciest and
    cheapest orders (``max_by``/``min_by`` ≙ DuckDB arg_max/arg_min).

    Tie-safe on this data: (o_totalprice, o_orderkey) pairs are unique
    per customer at every SF (asserted by the oracle match itself).
    """
    return orders.groupBy("o_custkey").agg(
        F.max_by("o_orderkey", F.struct("o_totalprice", "o_orderkey")).alias(
            "best_order"
        ),
        F.min_by("o_orderkey", F.struct("o_totalprice", "o_orderkey")).alias(
            "worst_order"
        ),
        F.count(F.lit(1)).alias("n_orders"),
    )


def multi_distinct(events: DataFrame) -> DataFrame:
    """Several COUNT(DISTINCT) over different columns in one query.

    Catalyst rewrites multi-distinct into a single Expand-based
    aggregation (one shuffle), not one job per distinct — worth
    asserting because the naive plan is N full passes.
    """
    return events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct(F.to_date("ts")).alias("n_days"),
        F.count(F.lit(1)).alias("n_events"),
    )


def array_agg_sorted(events: DataFrame) -> DataFrame:
    """Deterministic collect: per-user sorted array of event types used.

    ``collect_set`` order is partition-dependent; sorting makes the
    array a canonical value. Surfaced as a CSV string because array
    columns round-trip differently through Arrow/pandas across engines
    (list vs ndarray), which would break value comparison even when the
    contents are identical.
    """
    return events.groupBy("user_id").agg(
        F.concat_ws(",", F.sort_array(F.collect_set("event_type"))).alias("types_csv")
    )


def distinct_count(documents: DataFrame) -> DataFrame:
    """Exact distinct texts per source (FM's target quantity, A3)."""
    return documents.groupBy("source").agg(
        F.countDistinct("text").alias("n_distinct_texts")
    )


def approx_distinct(documents: DataFrame, rsd: float = 0.05) -> DataFrame:
    """HLL++ distinct texts per source (A3 parity; rows-only check)."""
    return documents.groupBy("source").agg(
        F.approx_count_distinct("text", rsd).alias("approx_distinct_texts")
    )


def approx_distinct_check(documents: DataFrame, rsd: float = 0.05) -> DataFrame:
    """Self-checking HLL++ accuracy invariant (hash-checked).

    One aggregation pass computes both the exact distinct count and the
    HLL++ estimate per source; the output carries the exact count plus
    ``approx_ok`` = |est − exact| / exact ≤ 3·rsd. The estimate is a
    pure function of the value multiset (register merge is max-based,
    so partition order cannot change it), making the boolean
    deterministic and oracle-matchable — the oracle asserts TRUE. This
    turns "the sketch ran" into "the sketch is accurate" in the driver
    gate.
    """
    agg = documents.groupBy("source").agg(
        F.countDistinct("text").alias("n_distinct_texts"),
        F.approx_count_distinct("text", rsd).alias("est"),
    )
    rel_err = F.abs(F.col("est") - F.col("n_distinct_texts")) / F.col(
        "n_distinct_texts"
    )
    return agg.select(
        "source", "n_distinct_texts", (rel_err <= 3 * rsd).alias("approx_ok")
    )


def approx_percentile_check(lineitem: DataFrame) -> DataFrame:
    """Self-checking KLL-percentile accuracy invariant (hash-checked).

    Exact interpolated percentiles (the oracle-matchable values) next
    to ``percentile_approx`` estimates, with ``p50_ok``/``p95_ok`` =
    |est − exact| ≤ 5% of the group's value range. accuracy=10000 gives
    rank error ~1e-4, far inside that band; the generous bound keeps
    the boolean stable under any sketch-merge order, so the oracle can
    assert TRUE without replicating Spark's sketch.
    """
    agg = lineitem.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_quantity", F.lit(0.5)), 6).alias("p50_qty"),
        F.round(F.percentile("l_quantity", F.lit(0.95)), 6).alias("p95_qty"),
        F.percentile_approx("l_quantity", F.lit(0.5), F.lit(10000)).alias("p50_est"),
        F.percentile_approx("l_quantity", F.lit(0.95), F.lit(10000)).alias("p95_est"),
        F.min("l_quantity").alias("lo"),
        F.max("l_quantity").alias("hi"),
    )
    band = (F.col("hi") - F.col("lo")) * 0.05
    return agg.select(
        "l_returnflag",
        "p50_qty",
        "p95_qty",
        (F.abs(F.col("p50_est") - F.col("p50_qty")) <= band).alias("p50_ok"),
        (F.abs(F.col("p95_est") - F.col("p95_qty")) <= band).alias("p95_ok"),
    )


def probe_cms(spark, sketch_bytes: bytes, keys: list[str]) -> dict[str, int]:
    """Point-query a serialized ``count_min_sketch`` binary via the JVM.

    Deserializes via Spark's own ``org.apache.spark.util.sketch
    .CountMinSketch`` (same wire format the aggregate emits) and probes
    each key. Driver-side py4j — kept as the parity REFERENCE for
    ``_probe_cms_bytes`` (tests assert both probes agree bit-for-bit);
    data paths use ``probe_sketches`` instead, which never leaves the
    executors.
    """
    jvm = spark._jvm
    stream = jvm.java.io.ByteArrayInputStream(bytes(sketch_bytes))
    cms = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(stream)
    return {k: int(cms.estimateCount(k)) for k in keys}


_M32 = 0xFFFFFFFF


def _mm3_32(data: bytes, seed: int) -> int:
    """Spark's ``Murmur3_x86_32.hashUnsafeBytes`` (common/sketch), exactly.

    Two deliberate divergences from canonical murmur3 that Spark keeps
    for wire compatibility: 4-byte blocks are read in NATIVE (little-
    endian) order via ``Platform.getInt``, and each tail byte is sign-
    extended and run through a FULL mixK1+mixH1 round (canonical murmur
    accumulates the tail into one k1 with no mixH1). Returns a signed
    32-bit int, matching the Java return value.
    """
    h1 = seed & _M32
    n = len(data)
    aligned = n - n % 4
    for i in range(0, aligned, 4):
        k1 = int.from_bytes(data[i : i + 4], "little")
        k1 = (k1 * 0xCC9E2D51) & _M32
        k1 = ((k1 << 15) | (k1 >> 17)) & _M32
        k1 = (k1 * 0x1B873593) & _M32
        h1 ^= k1
        h1 = ((h1 << 13) | (h1 >> 19)) & _M32
        h1 = (h1 * 5 + 0xE6546B64) & _M32
    for i in range(aligned, n):
        k1 = (data[i] & _M32 if data[i] < 128 else (data[i] - 256) & _M32)
        k1 = (k1 * 0xCC9E2D51) & _M32
        k1 = ((k1 << 15) | (k1 >> 17)) & _M32
        k1 = (k1 * 0x1B873593) & _M32
        h1 ^= k1
        h1 = ((h1 << 13) | (h1 >> 19)) & _M32
        h1 = (h1 * 5 + 0xE6546B64) & _M32
    h1 ^= n
    h1 &= _M32
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & _M32
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & _M32
    h1 ^= h1 >> 16
    return h1 - 0x100000000 if h1 >= 0x80000000 else h1


def _cms_hash_buckets(key: str, depth: int, width: int) -> list[int]:
    """``CountMinSketchImpl.getHashBuckets``: Guava-style double hashing.

    ``bucket_i = |(h1 + i*h2) mod width|`` with h2 seeded by h1, all in
    wrapping 32-bit arithmetic. Java applies ``%`` (sign of dividend)
    then ``Math.abs``; for width > 0 that equals ``abs(combined) %
    width``, which is what Python computes directly.
    """
    b = key.encode("utf-8")
    h1 = _mm3_32(b, 0)
    h2 = _mm3_32(b, h1 & _M32)
    out = []
    for i in range(depth):
        combined = (h1 + i * h2) & _M32
        if combined >= 0x80000000:
            combined -= 0x100000000
        out.append(abs(combined) % width)
    return out


def _probe_cms_bytes(blob: bytes, keys: list[str]) -> dict[str, int]:
    """Pure-Python ``estimateCount`` over a serialized CMS binary.

    Parses the public wire format ``CountMinSketchImpl.writeTo`` emits —
    big-endian ``int version, long totalCount, int depth, int width``
    header, then ``long[depth]`` hashA seeds (used only for the LONG
    item path; string items use murmur double-hashing and ignore them),
    then the ``depth × width`` table of big-endian longs — and takes
    the min across hash rows per key. Verified bit-for-bit against the
    JVM's ``estimateCount`` in tests/test_sketches.py.
    """
    import struct

    import numpy as np

    version, _total, depth, width = struct.unpack_from(">iqii", blob, 0)
    if version != 1:
        raise ValueError(f"unsupported CountMinSketch version {version}")
    table = np.frombuffer(
        blob, dtype=">i8", offset=20 + 8 * depth, count=depth * width
    )
    table = table.reshape(depth, width)
    out = {}
    for k in keys:
        buckets = _cms_hash_buckets(k, depth, width)
        out[k] = int(min(table[i][b] for i, b in enumerate(buckets)))
    return out


def probe_sketches(
    sketches: DataFrame,
    keys: tuple[str, ...],
    sketch_col: str = "s",
    start_col: str = "window_start",
    window_range: tuple[str, str] | None = None,
) -> DataFrame:
    """Executor-side probe of per-window CMS binaries — part of the plan.

    Arrow-batched ``mapInPandas``: each executor deserializes its own
    KB-sized sketch rows and emits one ``(window, key, est_count)`` row
    per probe key. Estimates never leave the executors, there is no
    driver loop and no collect, so no bound guard is needed — output is
    O(windows × keys) rows flowing to whatever sink the caller picks.
    An optional ``window_range`` filter still pushes into the scan for
    serving-style point lookups.
    """
    import pandas as pd

    key_list = list(keys)
    if window_range is not None:
        lo, hi = window_range
        sketches = sketches.filter(
            (F.col(start_col) >= F.lit(lo).cast("timestamp"))
            & (F.col(start_col) < F.lit(hi).cast("timestamp"))
        )

    def probe(batches):
        for pdf in batches:
            rows = [
                (ws, k, est)
                for ws, blob in zip(pdf[start_col], pdf[sketch_col])
                for k, est in _probe_cms_bytes(bytes(blob), key_list).items()
            ]
            yield pd.DataFrame(
                rows, columns=[start_col, "event_type", "est_count"]
            )

    return sketches.select(start_col, sketch_col).mapInPandas(
        probe, f"{start_col} timestamp, event_type string, est_count long"
    )


def cms_window_probe(
    events: DataFrame,
    keys: tuple[str, ...] = ("click", "view", "purchase", "signup", "error"),
    window_width: str = "1 day",
    eps: float = 0.01,
    confidence: float = 0.99,
    seed: int = 42,
    window_range: tuple[str, str] | None = None,
) -> DataFrame:
    """Per-window CMS build + hot-key probe (reference ``cms_estimates``).

    The reference probes 5 hard-coded keywords against its driver
    matrix each batch (``cms_stream.py:110-116``); here each event-time
    window gets its own mergeable sketch built executor-side, and the
    probe runs executor-side too (``probe_sketches`` mapInPandas) — the
    whole build→probe pipeline is ONE plan with no driver round-trips,
    so it needs no window-count bound at any scale. With width ≫
    distinct keys the estimates equal exact counts (no collisions),
    which the DuckDB oracle pins — any future collision regression
    fails loudly.
    """
    sketches = events.groupBy(F.window("ts", window_width).alias("w")).agg(
        F.count_min_sketch(
            "event_type", F.lit(eps), F.lit(confidence), F.lit(seed)
        ).alias("s")
    ).select(F.col("w.start").alias("window_start"), "s")
    return probe_sketches(
        sketches, keys, sketch_col="s", window_range=window_range
    )


def hll_merge_check(
    events: DataFrame,
    lg_k: int = 12,
    rel_band: float = 0.08,
) -> DataFrame:
    """Mergeability invariant of the Datasketches HLL surface.

    The property that makes distributed/incremental distinct-count
    work: per-partition (here per-event_type) sketches UNIONED must
    estimate the same population as one global pass. Emits the exact
    distinct-user count (hash-checked), the group count, and
    ``within_band`` — merged-estimate relative error ≤ ``rel_band``
    (≈5× the lgK=12 rsd of 1.6%, so the boolean cannot flap while the
    sketch library is sane; at the fixtures' cardinality HLL is in
    sparse mode and exact). Oracle recomputes the exacts and demands
    TRUE.

    Shape: two aggregations over one cached-scan-sized input — the
    sketch build shuffles lgK-sized binaries, never user_ids.
    """
    per_type = events.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id", F.lit(lg_k)).alias("sk")
    )
    merged = per_type.agg(
        F.count(F.lit(1)).alias("n_types"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"),
    )
    exact = events.agg(
        F.count_distinct("user_id").alias("n_exact_users")
    )
    return exact.crossJoin(merged).select(
        "n_exact_users",
        "n_types",
        (
            F.abs(F.col("est") - F.col("n_exact_users"))
            <= F.lit(rel_band) * F.col("n_exact_users")
        ).alias("within_band"),
    )


def cms_topk_sketch(
    documents: DataFrame,
    eps: float = 0.001,
    confidence: float = 0.99,
    seed: int = 42,
) -> DataFrame:
    """Count-Min Sketch over exploded tokens (A1 parity).

    One mergeable binary sketch per source: tokens never leave the
    executors (vs the reference's driver ``collect()`` loop). The
    reference's width-1000/depth-10 matrix corresponds to eps≈2.7e-3,
    δ≈e^-10; we use eps=1e-3, confidence .99. Deterministic: CMS adds
    commute, so the binary is stable under any row order.
    """
    tokens = documents.select(
        "source", F.explode(F.split("text", " ")).alias("token")
    )
    return tokens.groupBy("source").agg(
        F.count_min_sketch(
            "token", F.lit(eps), F.lit(confidence), F.lit(seed)
        ).alias("cms_sketch")
    )


def histogram_numeric(
    lineitem: DataFrame, n_buckets: int = 20
) -> DataFrame:
    """Equi-width histogram of ``l_extendedprice`` with in-query bounds.

    The data-profiling primitive behind every distribution dashboard:
    pass 1 reduces the corpus to a single (min, max) row; pass 2
    derives each row's bucket arithmetically from the broadcast bounds
    and counts per bucket. Both passes are map-side-partial
    aggregations — the shuffle moves ``n_buckets`` cells and one
    bounds row, never data — and the broadcast join ships 16 bytes, so
    the plan is two scans + O(buckets) state at any corpus size.
    (Spark's own ``histogram_numeric`` aggregate returns a non-
    deterministic streaming approximation — unusable under an exact
    oracle; this is the exact equi-width form.)

    Determinism: bucket = ``least(n-1, floor((v - lo) * n / (hi - lo)))``
    evaluated in IEEE double — written identically in the DuckDB twin,
    so both engines compute bit-identical bucket ids; counts are exact
    integers and the value sum uses the decimal discipline.
    """
    bounds = lineitem.agg(
        F.min("l_extendedprice").alias("lo"),
        F.max("l_extendedprice").alias("hi"),
    )
    n = F.lit(n_buckets)
    bucket = F.least(
        n - 1,
        F.floor(
            (F.col("l_extendedprice") - F.col("lo")) * n
            / (F.col("hi") - F.col("lo"))
        ),
    ).cast("int")
    return (
        lineitem.join(F.broadcast(bounds))
        .select(bucket.alias("bucket"), "l_extendedprice")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(dec("l_extendedprice", PRICE_DEC))
            .cast("double")
            .alias("sum_price"),
        )
    )


def theta_segment_overlap(
    events: DataFrame,
    key_col: str = "event_type",
    id_col: str = "user_id",
    lg_k: int = 12,
) -> DataFrame:
    """Approximate audience overlap between segments via theta sketches.

    The set-operation tier of the sketch family (Datasketches theta,
    built into Spark 4): one sketch per segment — the only corpus-sized
    pass — then every pairwise |A∩B| / |A∪B| / Jaccard is computed
    sketch-on-sketch from the O(segments) relation. At 100 TB this is
    THE way to answer "how many users do segments share" for every
    pair: exact pairwise distinct-intersections would need a shuffle
    per pair; sketches need one aggregation total, and the per-segment
    sketches are mergeable across partitions, days, and clusters.
    Below 2^lg_k distinct ids a theta sketch retains every hash, so
    estimates are EXACT integers — the correctness gate hash-checks
    this operator against the exact pairwise-distinct DuckDB oracle
    at fixture cardinality (<=1.5k users << 4096); estimation-mode
    accuracy (~1.6% rsd at lgK=12) is separately pinned by
    ``theta_overlap_check`` and property-tested in
    tests/test_sketches.py.
    """
    sketches = events.groupBy(key_col).agg(
        F.theta_sketch_agg(id_col, F.lit(lg_k)).alias("sk")
    )
    a, b = sketches.alias("a"), sketches.alias("b")
    pair = a.join(
        F.broadcast(b), F.col(f"a.{key_col}") < F.col(f"b.{key_col}")
    )
    return pair.select(
        F.col(f"a.{key_col}").alias("segment_a"),
        F.col(f"b.{key_col}").alias("segment_b"),
        F.theta_sketch_estimate(
            F.theta_intersection("a.sk", "b.sk")
        ).alias("n_overlap"),
        F.theta_sketch_estimate(F.theta_union("a.sk", "b.sk")).alias("n_union"),
        F.round(
            F.theta_sketch_estimate(F.theta_intersection("a.sk", "b.sk"))
            / F.theta_sketch_estimate(F.theta_union("a.sk", "b.sk")),
            6,
        ).alias("jaccard"),
    )


def kll_quantile_rollup(
    lineitem: DataFrame,
    value_col: str = "l_extendedprice",
    group_col: str = "l_returnflag",
    quantiles: tuple[float, ...] = (0.5, 0.95),
    k: int | None = None,
) -> DataFrame:
    """Mergeable quantiles: per-group KLL sketches + a global merge.

    The re-aggregable analog of ``rollup_two_level`` for percentiles:
    exact percentiles cannot be combined upward (p95-of-p95s is
    meaningless), but KLL sketches merge losslessly-in-error-bound, so
    per-group (or per-hour / per-partition) sketches roll up to any
    coarser grain without re-touching the data. Emits one row per
    group plus a ``__total__`` row computed by MERGING the group
    sketches — never re-scanning.

    ``k`` is the sketch accuracy knob (None = library default). While
    total retained values stay under the sketch capacity the KLL
    answer is EXACT — the inclusive ceiling-rank order statistic
    (value at 1-based rank ``ceil(q·n)``) — which is how the
    correctness gate pins this operator against a DuckDB
    order-statistic oracle at fixture scale (k=65535 > fixture rows);
    estimation-mode accuracy is separately gated by
    ``kll_rollup_check`` and property-tested in tests/test_sketches.py.
    """
    sketch_agg = (
        F.kll_sketch_agg_double(value_col)
        if k is None
        else F.kll_sketch_agg_double(value_col, F.lit(k))
    )
    per_group = lineitem.groupBy(group_col).agg(
        sketch_agg.alias("sk"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    def qcols(sk):
        # merging zero sketches yields a buffer the quantile extractor
        # RAISES on (not null-propagates) — gate on the row count so an
        # empty input/group produces null quantiles instead of a crash
        return [
            F.when(
                F.coalesce(F.col("n_rows"), F.lit(0)) > 0,
                F.round(F.kll_sketch_get_quantile_double(sk, F.lit(q)), 6),
            ).alias(f"p{int(q * 100)}")
            for q in quantiles
        ]

    groups = per_group.select(
        F.col(group_col).alias("grp"), "n_rows", *qcols(F.col("sk"))
    )
    total = per_group.agg(
        F.kll_merge_agg_double("sk").alias("sk"),
        F.coalesce(F.sum("n_rows"), F.lit(0)).alias("n_rows"),
    ).select(F.lit("__total__").alias("grp"), "n_rows", *qcols(F.col("sk")))
    return groups.unionByName(total)


def listagg_canonical(events: DataFrame) -> DataFrame:
    """Per-user ordered event-type string via ``listagg`` (SQL:2023).

    The clickstream-signature aggregate: each user's behavior serialized
    as a canonical comma-joined string, ordered by (ts, event_id) —
    fully deterministic even with timestamp ties. One key-shuffle with
    map-side partials; per-user strings are bounded by timeline length
    (the fixtures' ~10-100 events/user — a production deployment caps
    with a slice the same way pack_sequences bounds its windows).
    Spark 4's ``listagg ... WITHIN GROUP`` ↔ DuckDB ``string_agg ...
    ORDER BY`` twin.
    """
    return (
        events.groupBy("user_id")
        .agg(
            F.expr(
                "listagg(event_type, ',') WITHIN GROUP "
                "(ORDER BY ts, event_id)"
            ).alias("journey"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


def conditional_agg_suite(events: DataFrame) -> DataFrame:
    """Conditional/boolean aggregate parity row: count_if, FILTER-style
    conditional sums, bool_and/bool_or — the SQL:2023 aggregate
    surface beside the moments/percentile families. All map-side
    partial, one shuffle of O(types) rows.
    """
    return events.groupBy("event_type").agg(
        F.count_if(F.col("value") > 100).alias("n_big"),
        F.sum(
            F.when(F.col("value") > 100, dec("value", PRICE_DEC))
        ).cast("double").alias("sum_big"),
        F.bool_and(F.col("value") >= 0).alias("all_nonneg"),
        F.bool_or(F.col("value") > 190).alias("any_huge"),
        F.count_if(F.col("props").isNotNull()).alias("n_with_props"),
    )


def column_profile(lineitem: DataFrame) -> DataFrame:
    """One-pass multi-column data profile (profiling primitive).

    Null counts, distinct counts, min/max for a column set in a SINGLE
    aggregation — the Expand-based multi-distinct plan (one shuffle)
    instead of one scan per column, which is the difference between a
    profiling job that reads 100 TB once and one that reads it
    len(columns) times.
    """
    return lineitem.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_if(F.col("l_quantity").isNull()).alias("quantity_nulls"),
        F.count_distinct(F.col("l_quantity")).alias("quantity_distinct"),
        F.min("l_quantity").alias("quantity_min"),
        F.max("l_quantity").alias("quantity_max"),
        F.count_distinct(F.col("l_returnflag")).alias("returnflag_distinct"),
        F.count_distinct(F.col("l_linestatus")).alias("linestatus_distinct"),
        F.min("l_shipdate").alias("shipdate_min"),
        F.max("l_shipdate").alias("shipdate_max"),
        F.count_distinct(F.col("l_partkey")).alias("partkey_distinct"),
    )


def kll_rollup_check(
    lineitem: DataFrame,
    value_col: str = "l_quantity",
    group_col: str = "l_returnflag",
) -> DataFrame:
    """KLL MERGE invariant, hash-checked (the rollup gate
    ``kll_quantile_rollup`` rests on).

    Exact percentiles cannot be combined upward — the whole point of
    the KLL rollup is that per-group sketches MERGE to the global
    distribution without re-scanning. This check builds the per-group
    sketches, merges them, and compares the merged-sketch global
    p50/p95 against the EXACT global percentiles (computed once,
    oracle-matchable): ``ok`` flags assert the merged estimate lands
    within 5% of the global value range, the same band discipline as
    ``approx_percentile_check``. One corpus scan for the sketches, one
    for the exact values; the merge itself touches O(groups) rows.
    """
    merged = (
        lineitem.groupBy(group_col)
        .agg(
            F.kll_sketch_agg_double(value_col).alias("sk"),
            F.count(F.lit(1)).alias("n"),
        )
        .agg(
            F.kll_merge_agg_double("sk").alias("sk"),
            F.coalesce(F.sum("n"), F.lit(0)).alias("n"),
        )
        .select(
            # merging zero sketches yields a buffer the extractor RAISES
            # on (same gate as kll_quantile_rollup) — empty input must
            # surface null estimates, not a crash
            F.when(
                F.col("n") > 0,
                F.kll_sketch_get_quantile_double(F.col("sk"), F.lit(0.5)),
            ).alias("m50"),
            F.when(
                F.col("n") > 0,
                F.kll_sketch_get_quantile_double(F.col("sk"), F.lit(0.95)),
            ).alias("m95"),
        )
    )
    exact = lineitem.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.percentile(value_col, F.lit(0.5)), 6).alias("p50_exact"),
        F.round(F.percentile(value_col, F.lit(0.95)), 6).alias("p95_exact"),
        F.min(value_col).alias("lo"),
        F.max(value_col).alias("hi"),
    )
    band = (F.col("hi") - F.col("lo")) * 0.05
    return exact.crossJoin(F.broadcast(merged)).select(
        "n_rows",
        "p50_exact",
        "p95_exact",
        (F.abs(F.col("m50") - F.col("p50_exact")) <= band).alias("merged_p50_ok"),
        (F.abs(F.col("m95") - F.col("p95_exact")) <= band).alias("merged_p95_ok"),
    )


def theta_overlap_check(events: DataFrame, tol: float = 0.08) -> DataFrame:
    """Theta-sketch set-operation invariant, hash-checked (the gate for
    ``theta_segment_overlap``).

    Exact pairwise audience overlaps ARE computable at fixture scale:
    the distinct (segment, user) relation self-joins on user with
    ``segment_a < segment_b`` (bounded by the handful of segments), so
    every |A∩B| and |A∪B| is an exact integer the oracle reproduces.
    The sketch estimates from ``theta_segment_overlap`` must land
    within ``tol`` of the exact values (lgK=12 is sparse-mode EXACT at
    fixture cardinality — the flags certify the intersection/union
    plumbing, and hold at estimation-mode scale by the sketch's ~1.6%
    rsd ≪ 8%). Exact counts are the hash-checked payload.
    """
    su = events.select("event_type", "user_id").distinct()
    sizes = su.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        su.alias("a")
        .join(
            su.alias("b"),
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("segment_a"),
            F.col("b.event_type").alias("segment_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_overlap_exact"))
    )
    est = theta_segment_overlap(events)
    exact = (
        est.select("segment_a", "segment_b", "n_overlap", "n_union")
        .join(inter, ["segment_a", "segment_b"], "left")
        .na.fill({"n_overlap_exact": 0})
        .join(
            F.broadcast(sizes.withColumnRenamed("event_type", "segment_a")
                        .withColumnRenamed("n", "n_a")),
            "segment_a",
        )
        .join(
            F.broadcast(sizes.withColumnRenamed("event_type", "segment_b")
                        .withColumnRenamed("n", "n_b")),
            "segment_b",
        )
    )
    n_union_exact = F.col("n_a") + F.col("n_b") - F.col("n_overlap_exact")
    return exact.select(
        "segment_a",
        "segment_b",
        "n_overlap_exact",
        n_union_exact.alias("n_union_exact"),
        (
            F.abs(F.col("n_overlap") - F.col("n_overlap_exact"))
            <= F.greatest(F.lit(1.0), F.col("n_overlap_exact") * tol)
        ).alias("overlap_ok"),
        (
            F.abs(F.col("n_union") - n_union_exact)
            <= F.greatest(F.lit(1.0), n_union_exact * tol)
        ).alias("union_ok"),
    )


def mode_agg(events: DataFrame) -> DataFrame:
    """Deterministic per-group mode (most frequent value).

    The modal user per event type, with a pinned tie-break (highest
    count, then LOWEST user id) — Spark's ``mode()`` aggregate is
    non-deterministic on ties unless asked otherwise, and a mode that
    flaps across partitionings is useless under an exact oracle. Two
    map-side-partial aggregations: (type, user) counts, then one
    ``max_by`` over a struct whose ordering encodes the tie-break;
    the shuffle carries O(types × users-per-type) count cells, never
    events.
    """
    counts = events.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("c")
    )
    return counts.groupBy("event_type").agg(
        F.max_by(
            "user_id", F.struct(F.col("c"), (-F.col("user_id")).alias("nu"))
        ).alias("modal_user"),
        F.max("c").alias("modal_count"),
    )


def feature_binning(lineitem: DataFrame, n_buckets: int = 10) -> DataFrame:
    """Exact equi-depth feature binning (the QuantileDiscretizer shape)
    as a DISTRIBUTED exact quantile.

    The ML-preprocessing staple: bucket a numeric feature into
    ``n_buckets`` equal-frequency bins with exact interpolated
    (k/B)-quantile boundaries. Spark's built-in exact ``percentile``
    buffers the entire column in ONE task's memory — a non-starter for
    a 100 TB feature — so the cut points come from the scalable sort-
    based formulation instead:

    1. ONE scan aggregates to the distinct-value histogram (v, cnt) —
       everything downstream runs on |distinct| rows, never on rows;
    2. a distributed cumulative sum over the value order — range
       repartition, per-partition running sum, per-partition totals
       (a |partitions|-row relation) broadcast back as offsets — gives
       each value its global position interval [cum_start, cum_end);
    3. the B−1 target ranks ``q·(n−1)`` (the same positions
       Spark's percentile / DuckDB's quantile_cont evaluate) locate
       their floor/ceil values via a broadcast interval join against
       the histogram, and interpolate; boundaries round to 6 dp so
       every ``v ≥ bound`` comparison runs on bit-identical operands.

    Assignment + per-bucket stats also run on the histogram relation
    (counts re-aggregate `cnt`), so the fact table is scanned exactly
    once and no single task ever holds more than its histogram range.
    """
    fracs = [k / n_buckets for k in range(1, n_buckets)]
    hist = lineitem.groupBy(F.col("l_extendedprice").alias("v")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # Distributed cumsum: range-partition by value, run local sums,
    # broadcast the tiny per-partition totals back as offsets. The
    # output is independent of where the range boundaries fall.
    # checkpoint: every downstream relation (partition totals,
    # offsets, rank targets, the three cumsum consumers) derives from
    # this one materialized histogram — the raw table is scanned
    # exactly once, at this point.
    local = checkpoint(
        hist.repartitionByRange(8, "v")
        .withColumn("pid", F.spark_partition_id())
        .withColumn(
            "local_cum",
            F.sum("cnt").over(
                Window.partitionBy("pid")
                .orderBy("v")
                .rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    ptot = local.groupBy("pid").agg(F.sum("cnt").alias("ptot"))
    offs = ptot.select(
        "pid",
        F.coalesce(
            F.sum("ptot").over(
                Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("off"),
    )
    cum = local.join(F.broadcast(offs), "pid").select(
        "v",
        "cnt",
        (F.col("local_cum") + F.col("off") - F.col("cnt")).alias("cum_start"),
        (F.col("local_cum") + F.col("off")).alias("cum_end"),
    )
    n_rel = ptot.agg(F.sum("ptot").alias("n"))
    ranks = n_rel.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("k"),
                        (F.lit(f) * (F.col("n") - 1)).alias("pos"),
                    )
                    for k, f in enumerate(fracs, start=1)
                ]
            )
        ).alias("r")
    ).select(
        F.col("r.k").alias("k"),
        F.col("r.pos").alias("pos"),
        F.floor("r.pos").alias("lo_idx"),
        F.ceil("r.pos").alias("hi_idx"),
    )
    lo = cum.join(
        F.broadcast(ranks),
        (F.col("lo_idx") >= F.col("cum_start")) & (F.col("lo_idx") < F.col("cum_end")),
    ).select("k", "pos", F.col("v").alias("lo_v"))
    hi = cum.join(
        F.broadcast(ranks.select("k", F.col("hi_idx").alias("idx"))),
        (F.col("idx") >= F.col("cum_start")) & (F.col("idx") < F.col("cum_end")),
    ).select(F.col("k").alias("k2"), F.col("v").alias("hi_v"))
    bound_rows = lo.join(hi, F.col("k") == F.col("k2")).select(
        "k",
        F.round(
            F.col("lo_v")
            + (F.col("pos") - F.floor("pos")) * (F.col("hi_v") - F.col("lo_v")),
            6,
        ).alias("bound"),
    )
    bounds = bound_rows.agg(
        *[
            F.max(F.when(F.col("k") == k, F.col("bound"))).alias(f"b{k}")
            for k in range(1, n_buckets)
        ]
    )
    bucket = None
    for k in range(1, n_buckets):
        term = F.when(F.col("v") >= F.col(f"b{k}"), 1).otherwise(0)
        bucket = term if bucket is None else bucket + term
    binned = cum.crossJoin(F.broadcast(bounds)).select(
        "v", "cnt", bucket.alias("bucket_id")
    )
    return binned.groupBy("bucket_id").agg(
        F.sum("cnt").alias("n_rows"),
        F.min("v").alias("min_price"),
        F.max("v").alias("max_price"),
    )


def anomaly_mad(events: DataFrame, cut: str = "3.0 * 1.4826") -> DataFrame:
    """Robust per-group outlier detection via median absolute deviation.

    The training-data quality staple (mean/stddev z-scores are
    themselves skewed by the outliers they hunt): per event_type,
    ``med = median(value)``, ``mad = median(|value - med|)``, and a
    row is an outlier when ``|value - med| > 3·1.4826·mad`` (1.4826
    scales MAD to σ under normality). Exact interpolated medians keep
    the DuckDB oracle bit-identical; the cut multiplier is evaluated
    from the SAME expression text on both engines so the boundary
    comparison runs on identical doubles.

    Scale: three scans of a two-column projection (median, deviation
    median, outlier count) — nothing is materialized, each groupBy
    carries only |event_type| rows, and both join-backs broadcast the
    tiny per-group stats. Exact group medians buffer one group's
    column per task; for a 100 TB single-group column swap in
    approx_percentile or the distributed sort-based exact quantile
    demonstrated by feature_binning.
    """
    med = events.groupBy("event_type").agg(F.median("value").alias("med"))

    def deviations() -> DataFrame:
        return events.select("event_type", "value").join(
            F.broadcast(med), "event_type"
        ).withColumn("absdev", F.abs(F.col("value") - F.col("med")))

    mad = deviations().groupBy("event_type").agg(F.median("absdev").alias("mad"))
    cut_col = F.expr(cut) * F.col("mad")
    return (
        deviations()
        .join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col("absdev") > cut_col, 1).otherwise(0))
            .cast("long")
            .alias("n_outliers"),
            (F.floor(F.min("med") * 1e6 + F.lit(0.5)) / 1e6).alias("med_r"),
            (F.floor(F.min("mad") * 1e6 + F.lit(0.5)) / 1e6).alias("mad_r"),
        )
    )


def target_encoding(lineitem: DataFrame, m: float = 10.0) -> DataFrame:
    """Smoothed target encoding — the leakage-averse categorical
    feature encoder (Micci-Barreca 2001 shape).

    Per category (l_returnflag, l_linestatus) the encode is the
    shrinkage blend ``(sum_cat + m·μ) / (cnt_cat + m)`` with μ the
    global target mean — small categories pull toward the prior,
    large ones toward their own mean. Sums run as exact DECIMAL(12,2)
    (order-independent), the blend as one deterministic double
    expression mirrored in the oracle SQL; output rounds via the
    shared floor(x·1e6+0.5) convention.

    Scale: one shuffle on the category key plus a 1-row global
    aggregate broadcast back — the fact table is scanned twice (once
    per aggregate), never materialized, and the encode arithmetic
    runs on |categories| rows.
    """
    tgt = dec("l_extendedprice", PRICE_DEC)
    cat = lineitem.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(tgt).alias("s"),
    )
    tot = lineitem.agg(
        F.sum(tgt).alias("ts"), F.count(F.lit(1)).alias("tc")
    )
    enc = (
        F.col("s").cast("double") + F.lit(m) * (F.col("ts").cast("double") / F.col("tc"))
    ) / (F.col("n_rows") + F.lit(m))
    return (
        cat.crossJoin(F.broadcast(tot))
        .select(
            "l_returnflag",
            "l_linestatus",
            "n_rows",
            F.col("s").cast("double").alias("sum_target"),
            (F.floor(enc * 1e6 + F.lit(0.5)) / 1e6).alias("enc_smooth"),
        )
    )


def skew_profile(lineitem: DataFrame, k: int = 5) -> DataFrame:
    """Per-key skew diagnostics — the observability pass a 100 TB
    pipeline runs BEFORE choosing a join/agg strategy on a key.

    Heaviest ``k`` keys of l_partkey with their absolute count, share
    of all rows, and skew ratio (count ÷ mean-per-key) — the number
    that says "salt this key" (join_skewed is the cure; this is the
    diagnosis). Everything after the per-key count runs on |keys|
    rows; the top-k is a bounded TakeOrdered, the global totals a
    broadcast 1-row scalar, and the rank window orders k rows.
    """
    counts = lineitem.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("cnt"))
    tot = counts.agg(
        F.sum("cnt").alias("total"), F.count(F.lit(1)).alias("n_keys")
    )
    top = counts.orderBy(F.desc("cnt"), F.asc("l_partkey")).limit(k)
    rnk = F.row_number().over(Window.orderBy(F.desc("cnt"), F.asc("l_partkey")))
    share = F.col("cnt").cast("double") / F.col("total")
    skew = F.col("cnt").cast("double") * F.col("n_keys") / F.col("total")
    return top.crossJoin(F.broadcast(tot)).select(
        rnk.cast("long").alias("rnk"),
        "l_partkey",
        "cnt",
        (F.floor(share * 1e6 + F.lit(0.5)) / 1e6).alias("share_r"),
        (F.floor(skew * 1e6 + F.lit(0.5)) / 1e6).alias("skew_r"),
    )


def gini_by_group(events: DataFrame) -> DataFrame:
    """Per-group Gini concentration via a grouped-aggregate pandas UDF
    — the UDAF corner of the SURVEY §2.4 UDF/UDAF/UDTF surface.

    Gini of the value distribution per event_type (0 = perfectly
    equal, →1 = concentrated) — the inequality audit for spend/usage
    concentration. The input is scaled to exact integer cents ON THE
    JVM SIDE (2-dp doubles → int64) before crossing into Arrow, so
    both the rank-weighted sum and the total are exact integer
    arithmetic in numpy and the oracle's window formulation — the
    float division happens once, on identical operands, in both
    engines. Grouped-agg pandas UDFs cannot mix with builtin
    aggregates (INVALID_PANDAS_UDF_PLACEMENT), so the row count rides
    along as a second tiny pandas aggregate. This is the declared
    Arrow path: vectorized per group, no row-at-a-time Python.
    """
    # PandasUDFType is explicit because this module's
    # `from __future__ import annotations` stringifies type hints,
    # which defeats pandas_udf signature inference.
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def _gini(v100):
        import numpy as np

        x = np.sort(v100.to_numpy(dtype="int64"))
        n = x.size
        s = int(x.sum())
        if n == 0 or s == 0:
            return 0.0
        i = np.arange(1, n + 1, dtype="int64")
        si = int((i * x).sum())
        g = 2.0 * si / (float(n) * s) - (n + 1.0) / n
        from math import floor

        return floor(g * 1e6 + 0.5) / 1e6

    @pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def _n(v100):
        return int(v100.size)

    cents = events.select(
        "event_type",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("v100"),
    )
    return cents.groupBy("event_type").agg(
        _n(cents.v100).alias("n_rows"),
        _gini(cents.v100).alias("gini_r"),
    )


def benford_first_digit(lineitem: DataFrame) -> DataFrame:
    """Benford first-digit audit of ``l_extendedprice`` — the classic
    fraud / data-fabrication screen: naturally-occurring monetary
    amounts follow P(d) = log10(1 + 1/d); synthetic or truncated data
    does not. One hash aggregation over the first digit (extracted
    from the exact 2-dp decimal STRING, not via log10 — float log of
    an exact power of 10 is an off-by-ulp trap both engines would
    have to agree on); emits per-digit observed counts, Benford
    expectation, and the χ² total folded in exact decimal. The
    statistic itself is the flag — the fixture's uniform prices fail
    Benford loudly, which is precisely what the audit should say.
    """
    digit = F.substring(
        F.col("l_extendedprice").cast("decimal(12,2)").cast("string"), 1, 1
    ).cast("int")
    obs = lineitem.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).alias("n_obs")
    )
    total = obs.agg(F.sum("n_obs").alias("n_tot"))
    p_benford = F.round(F.log10(1.0 + 1.0 / F.col("digit")), 6)
    chi_term = F.round(
        F.pow(F.col("n_obs") - p_benford * F.col("n_tot"), 2)
        / (p_benford * F.col("n_tot")),
        6,
    )
    per_digit = obs.crossJoin(F.broadcast(total)).select(
        "digit",
        "n_obs",
        p_benford.alias("p_benford"),
        chi_term.alias("chi2_term"),
    )
    chi2 = per_digit.agg(
        F.sum(F.col("chi2_term").cast("decimal(18,6)"))
        .cast("double")
        .alias("chi2_total")
    )
    return per_digit.crossJoin(F.broadcast(chi2))


def _brand_basket_pairs(
    lineitem: DataFrame, part: DataFrame, min_support: int
) -> tuple[DataFrame, DataFrame]:
    """Shared basket machinery for ``copurchase_lift`` /
    ``graph.triangle_count``: broadcast the brand dim onto the fact
    scan, collapse to per-order sorted brand baskets in ONE
    ``collect_set`` aggregation (materialized — every consumer
    re-derives from the cache, the corpus scans once), explode the
    a < b oriented pairs JVM-side from the basket array, and cut
    pairs below ``min_support``. Returns ``(baskets, pairs)`` where
    pairs carries (brand_a, brand_b, n_ab).
    """
    dim = F.broadcast(part.select("p_partkey", "p_brand"))
    baskets = materialize(
        lineitem.join(dim, lineitem["l_partkey"] == dim["p_partkey"])
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("p_brand")).alias("basket"))
    )
    pairs = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(basket, (x, i) ->"
                    " transform(slice(basket, i + 2, size(basket)),"
                    " y -> struct(x AS brand_a, y AS brand_b))))"
                )
            ).alias("p")
        )
        .select("p.brand_a", "p.brand_b")
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= min_support)
    )
    return baskets, pairs


def copurchase_lift(
    lineitem: DataFrame,
    part: DataFrame,
    min_support: int = 3,
    top_k: int = 50,
) -> DataFrame:
    """Market-basket association rules over co-purchased brand pairs.

    The Apriori support/confidence/lift triple at the 2-itemset level
    — the "customers who bought X also bought Y" primitive. Scale
    shape: the brand dimension broadcasts onto the fact scan, baskets
    form in ONE ``collect_set`` aggregation keyed on the order (basket
    width is bounded by the dimension's cardinality, 25 brands — never
    corpus-sized), and pairs are generated JVM-side from each basket
    array with a nested ``transform`` — there is NO corpus self-join
    anywhere, which is what kills naive basket analysis at 100 TB.
    Brand marginals and the basket count are re-aggregations of the
    materialized baskets relation. Lift's count products run in double
    (the ADVICE-r8 overflow rule: n_ab·N as BIGINT wraps past ~3e9
    baskets); support/confidence/lift are exact-integer ratios rounded
    to 6 dp — identical IEEE results on both engines.

    Association rules are DIRECTIONAL (ADVICE r9): the pair relation
    is stored once under the a < b orientation, but BOTH rules'
    confidences are emitted — ``confidence_ab`` = n_ab/n_a = P(b|a)
    ("bought a also bought b") and ``confidence_ba`` = n_ab/n_b =
    P(a|b) — so either readout is available without re-mining. Lift
    is orientation-symmetric and stays single.

    Emits the ``top_k`` pairs by lift (ties break lexicographically):
    (rnk, brand_a, brand_b, n_ab, n_a, n_b, support, confidence_ab,
    confidence_ba, lift).
    """
    baskets, pairs = _brand_basket_pairs(lineitem, part, min_support)
    n_orders = baskets.agg(F.count(F.lit(1)).alias("n_orders"))
    marginals = baskets.select(
        F.explode("basket").alias("brand")
    ).groupBy("brand").agg(F.count(F.lit(1)).alias("n_brand"))
    m_a = marginals.select(
        F.col("brand").alias("brand_a"), F.col("n_brand").alias("n_a")
    )
    m_b = marginals.select(
        F.col("brand").alias("brand_b"), F.col("n_brand").alias("n_b")
    )
    scored = (
        pairs.join(F.broadcast(m_a), "brand_a")
        .join(F.broadcast(m_b), "brand_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "brand_a",
            "brand_b",
            "n_ab",
            "n_a",
            "n_b",
            F.round(F.col("n_ab") / F.col("n_orders"), 6).alias("support"),
            F.round(F.col("n_ab") / F.col("n_a"), 6).alias("confidence_ab"),
            F.round(F.col("n_ab") / F.col("n_b"), 6).alias("confidence_ba"),
            F.round(
                (F.col("n_ab").cast("double") * F.col("n_orders"))
                / (F.col("n_a").cast("double") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
    )
    order = [
        F.col("lift").desc(),
        F.col("brand_a").asc(),
        F.col("brand_b").asc(),
    ]
    top = scored.orderBy(*order).limit(top_k)
    w = Window.orderBy(*order)
    return top.select(
        F.row_number().over(w).alias("rnk"),
        "brand_a",
        "brand_b",
        "n_ab",
        "n_a",
        "n_b",
        "support",
        "confidence_ab",
        "confidence_ba",
        "lift",
    )


def standardize_features(events: DataFrame) -> DataFrame:
    """Per-group feature scaling: z-score + min-max of ``value``.

    The feature-standardization pass an ML pipeline runs before
    training (per-category scaling so one group's range does not
    drown another's): one tiny per-type moment/extrema aggregation
    broadcast back onto the fact scan — scaling 100 TB prices like
    the rollup itself, zero extra corpus shuffles. Moments are
    rounded to 6 dp before use (the ``trend_anomaly`` discipline:
    stddev accumulation order differs between engines); degenerate
    groups (σ = 0 or max = min) surface NULL, not a division blowup.

    Emits (event_id, event_type, value_q, z, minmax). The feature is
    quantized to 6 dp up front (``value_q``): float averages and
    stddevs over raw doubles are shuffle-order-dependent, so the
    moments come from EXACT decimal Σx / Σx² folds over the quantized
    value and the moment identity — order-independent on both engines
    (the ``ab_test_welch`` discipline, per-group).
    """
    # decimal(18,6): the square must stay inside precision 38 on BOTH
    # engines (18+18+... a (28,6)² would be silently rescaled by Spark
    # and rejected by DuckDB). Features beyond 1e12 don't need z-scores.
    v = F.round("value", 6)
    vd = v.cast("decimal(18,6)")
    q = events.select("event_id", "event_type", v.alias("value_q"))
    stats = (
        events.select("event_type", vd.alias("vd"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("vd").cast("double").alias("sx"),
            F.sum((F.col("vd") * F.col("vd")).cast("decimal(38,12)"))
            .cast("double")
            .alias("sxx"),
            F.min("vd").cast("double").alias("min_v"),
            F.max("vd").cast("double").alias("max_v"),
        )
        .select(
            "event_type",
            F.round(F.col("sx") / F.col("n"), 6).alias("mean_v"),
            # n = 1 branch is explicit: double /0 is NULL on Spark but
            # inf on DuckDB, and the engines disagree on NULL inside
            # greatest — a CASE keeps both honest.
            F.when(
                F.col("n") > 1,
                F.round(
                    F.sqrt(
                        F.greatest(
                            (
                                F.col("sxx")
                                - F.col("sx") * F.col("sx") / F.col("n")
                            )
                            / (F.col("n") - 1),
                            F.lit(0.0),
                        )
                    ),
                    6,
                ),
            ).alias("std_v"),
            "min_v",
            "max_v",
        )
    )
    return q.join(F.broadcast(stats), "event_type").select(
        "event_id",
        "event_type",
        "value_q",
        F.round(
            (F.col("value_q") - F.col("mean_v"))
            / F.nullif(F.col("std_v"), F.lit(0.0)),
            6,
        ).alias("z"),
        F.round(
            (F.col("value_q") - F.col("min_v"))
            / F.nullif(F.col("max_v") - F.col("min_v"), F.lit(0.0)),
            6,
        ).alias("minmax"),
    )


def ols_regression_group(events: DataFrame) -> DataFrame:
    """Per-type OLS linear trend over the daily-count series — the
    parametric twin of ``theil_sen_slope`` (same series, closed-form
    least squares instead of the median-of-pairwise-slopes).

    Classic "is this topic growing, and how fast" analytics (the
    reference's trend question, `README.md:4-7`, answered with a
    confidence-bearing fit instead of a ranking): y = daily event
    count, x = integer day index from a FIXED anchor (so the intercept
    means "fitted count at the anchor", comparable across groups).

    Scale shape: one corpus-sized aggregation to (type, day) counts,
    then five sufficient statistics (n, Σx, Σy, Σxy, Σx², Σy²) per
    type on the calendar-bounded relation — the textbook reduction
    that makes OLS a two-level aggregate at 100 TB, never a
    per-point regression. Every sufficient statistic is an exact
    BIGINT (day indexes and counts are small integers); the final
    slope/intercept/r² divisions run on exact-integer-valued doubles,
    so both engines compute bit-identical results before the 6-dp
    round. Degenerate groups (single day, or zero x/y variance)
    surface NULL through CASE, not a division blowup.

    Emits (event_type, n_days, slope_per_day, intercept_at_anchor,
    r2).
    """
    daily = events.groupBy(
        "event_type", F.date_trunc("DAY", "ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("y"))
    pt = daily.select(
        "event_type",
        F.datediff(F.col("day"), F.lit("2024-01-01").cast("date"))
        .cast("bigint")
        .alias("x"),
        F.col("y"),
    )
    s = pt.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n_days").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    den_x = n * sxx - sx * sx
    den_y = n * syy - sy * sy
    num = n * sxy - sx * sy
    return s.select(
        "event_type",
        "n_days",
        F.when(den_x > 0, F.round(num / den_x, 6)).alias("slope_per_day"),
        F.when(
            den_x > 0, F.round((sy * sxx - sx * sxy) / den_x, 6)
        ).alias("intercept_at_anchor"),
        F.when(
            (den_x > 0) & (den_y > 0),
            F.round((num * num) / (den_x * den_y), 6),
        ).alias("r2"),
    )


def chi_square_independence(events: DataFrame) -> DataFrame:
    """Pearson chi-square test of independence: event_type × day-of-week.

    The categorical-drift complement to ``ks_test_check`` (numeric) and
    ``mutual_information`` (information-theoretic): does the traffic
    mix depend on the weekday? One corpus-sized aggregation to the
    R×C contingency relation (R, C bounded by the domains, never by
    data); expected counts e_ij = r_i·c_j/N and per-cell terms
    (o−e)²/e run in doubles over exact integers (bit-identical on
    both engines — every operand is an exact small integer), each
    cell term is rounded to 6 dp and the statistic folds in exact
    decimal so the cross-cell accumulation order cannot flip a bit.

    Emits ONE row: (n, n_rows_levels, n_cols_levels, dof, chi2,
    cramers_v) — Cramér's V normalizes the statistic to [0,1] so
    monitoring can threshold it independent of traffic volume.
    """
    cells = events.groupBy(
        "event_type", F.dayofweek("ts").alias("dow")
    ).agg(F.count(F.lit(1)).alias("o"))
    # row/column marginals broadcast back onto the tiny cell relation
    rows = cells.groupBy("event_type").agg(F.sum("o").alias("r_tot"))
    cols = cells.groupBy("dow").agg(F.sum("o").alias("c_tot"))
    tot = cells.agg(
        F.sum("o").alias("n"),
        F.countDistinct("event_type").alias("n_r"),
        F.countDistinct("dow").alias("n_c"),
    )
    e = (F.col("r_tot") * F.col("c_tot")).cast("double") / F.col("n")
    term = F.round(
        (F.col("o") - e) * (F.col("o") - e) / e, 6
    ).cast("decimal(28,6)")
    scored = (
        cells.join(F.broadcast(rows), "event_type")
        .join(F.broadcast(cols), "dow")
        .crossJoin(F.broadcast(tot))  # 1-row scalar totals
        .select("n", "n_r", "n_c", term.alias("term"))
    )
    return scored.groupBy("n", "n_r", "n_c").agg(
        F.sum("term").cast("double").alias("chi2")
    ).select(
        F.col("n"),
        F.col("n_r").alias("n_row_levels"),
        F.col("n_c").alias("n_col_levels"),
        ((F.col("n_r") - 1) * (F.col("n_c") - 1)).cast("bigint").alias("dof"),
        F.round("chi2", 6).alias("chi2"),
        F.round(
            F.sqrt(
                F.col("chi2")
                / (
                    F.col("n")
                    * F.least(F.col("n_r") - 1, F.col("n_c") - 1)
                ).cast("double")
            ),
            6,
        ).alias("cramers_v"),
    )


def winsorize_features(events: DataFrame) -> DataFrame:
    """Per-group winsorization: clip ``value`` at the exact p05/p95
    order statistics — the outlier-taming step beside
    ``standardize_features`` (which z-scores but keeps tails).

    The percentile is the DISCRETE (type-1) order statistic — the
    k-th smallest under the total order (value_q, event_id) with
    k = ceil(p·n) — not the interpolated ``percentile_cont``:
    interpolation arithmetic is engine-specific in the last bit,
    order statistics are exact and replay identically in any engine
    (the oracle picks the same row). One window shuffle on the group
    key computes both bounds; at 100 TB the same bounds come from a
    tiny per-group aggregate (``approx_percentile`` or a KLL rollup,
    see ``kll_quantile_rollup``) broadcast back — the exact window
    variant is the correctness anchor.

    Emits (event_id, event_type, value_q, p05, p95, clipped,
    was_clipped).
    """
    v = F.round("value", 6)
    q = events.select("event_id", "event_type", v.alias("value_q"))
    w = Window.partitionBy("event_type").orderBy("value_q", "event_id")
    ranked = q.select(
        "event_id",
        "event_type",
        "value_q",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("n"),
    )
    # ceil(p·n) via exact integer arithmetic — ceil(n·0.05) in doubles
    # rides on the inexact binary 0.05 (2000·0.05 > 100 by one ulp,
    # flipping the ceiling); ⌈n/20⌉ = (n+19) div 20 is engine-proof.
    k05 = ((F.col("n") + 19) - ((F.col("n") + 19) % 20)) / 20
    k95 = ((F.col("n") * 19 + 19) - ((F.col("n") * 19 + 19) % 20)) / 20
    k05 = k05.cast("int")
    k95 = k95.cast("int")
    bounds = (
        ranked.select(
            "event_type",
            F.when(F.col("rk") == k05, F.col("value_q")).alias("p05_v"),
            F.when(F.col("rk") == k95, F.col("value_q")).alias("p95_v"),
        )
        .groupBy("event_type")
        .agg(
            F.max("p05_v").alias("p05"),
            F.max("p95_v").alias("p95"),
        )
    )
    return q.join(F.broadcast(bounds), "event_type").select(
        "event_id",
        "event_type",
        "value_q",
        "p05",
        "p95",
        F.least(F.greatest(F.col("value_q"), F.col("p05")), F.col("p95")).alias(
            "clipped"
        ),
        (
            (F.col("value_q") < F.col("p05"))
            | (F.col("value_q") > F.col("p95"))
        ).alias("was_clipped"),
    )


def quantile_normalization(events: DataFrame) -> DataFrame:
    """Per-group quantile normalization: replace each value with the
    GLOBAL distribution's order statistic at the same within-group
    relative rank — the batch-effect remover (genomics' classic, and
    the feature-space aligner when per-source value scales drift):
    after it, every group has exactly the global value distribution.

    Exact-rank semantics under the total order (value_q, event_id):
    within-group rank r of n maps to global rank k = ⌈r·N/n⌉ (integer
    ceil-division — no float quantile arithmetic anywhere), and the
    replacement is the k-th global order statistic, fetched by ONE
    integer equi-join against the globally-ranked relation. All-
    integer rank math and already-quantized values replay identically
    in any engine.

    The global row_number is a single-partition sort at gate scale
    (the correctness anchor); at 100 TB the same ranks come from a
    range-partitioned sort with per-partition offsets (rank = local
    row_number + running count of earlier partitions) or an
    approx-quantile lattice — both preserve this operator's join
    shape, only the rank source changes.

    Emits (event_id, event_type, value_q, group_rank, global_k,
    qn_value).
    """
    v = F.round("value", 6)
    q = events.select("event_id", "event_type", v.alias("value_q"))
    wg = Window.partitionBy("event_type").orderBy("value_q", "event_id")
    wall = Window.orderBy("value_q", "event_id")
    ranked = q.select(
        "event_id",
        "event_type",
        "value_q",
        F.row_number().over(wg).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("n_g"),
        F.count(F.lit(1)).over(
            Window.partitionBy()
        ).alias("n_all"),
    )
    # `div`, not `/`: Spark's `/` is double division, which rounds the
    # quotient once rk·n_all exceeds 2^53 (~1e8 rows) and would fetch
    # the wrong global order statistic exactly at scale (review
    # finding); `div` is the BIGINT integer division DuckDB's `//`
    # mirrors bit-for-bit.
    k = F.expr(
        "(rk * n_all + n_g - 1) div n_g"
    ).cast("bigint")
    lookup = q.select(
        F.row_number().over(wall).cast("bigint").alias("grk"),
        F.col("value_q").alias("qn_value"),
    )
    return (
        ranked.select(
            "event_id",
            "event_type",
            "value_q",
            F.col("rk").alias("group_rank"),
            k.alias("global_k"),
        )
        .join(lookup, F.col("global_k") == F.col("grk"))
        .select(
            "event_id",
            "event_type",
            "value_q",
            "group_rank",
            "global_k",
            "qn_value",
        )
    )


#: Poisson(1) inverse-CDF thresholds at the 16-bit slice grain
#: (floor(cum_pmf·65536)) — FIXED integer literals, so the weight
#: lookup replays bit-identically on every engine (no exp() at
#: runtime): weight w is the count of thresholds ≤ the slice value.
#: The 2^-16 grain biases each pmf cell by < 1.6e-5 — noise beside
#: the bootstrap's own O(1/√B) percentile error — and collapses the
#: w = 7/8 cells (p ≈ 1e-5 each) into w = 9 at the top value.
_POISSON1_CUM_64K = (
    24109,  # P(X=0)
    48218,  # P(X≤1)
    60273,  # P(X≤2)
    64291,  # P(X≤3)
    65296,  # P(X≤4)
    65497,  # P(X≤5)
    65530,  # P(X≤6)
    65535,  # P(X≤7)
    65535,  # P(X≤8), else 9
)


def bootstrap_ci_mean(
    events: DataFrame, n_boot: int = 100, seed: int = 17
) -> DataFrame:
    """Deterministic Poisson-bootstrap 95% CI for the mean of ``value``.

    The uncertainty readout the experimentation tier needs beside its
    point estimates. Classic bootstrap resampling is a driver-side
    loop; the distributed form is the POISSON BOOTSTRAP (each row
    enters replicate b with weight ~ Poisson(1) — the Google/streaming
    formulation): fan the corpus ×B, look the weight up from a
    portable hash (no RNG state, identical membership on every
    engine/partitioning), and collapse everything map-side in ONE
    aggregation keyed by replicate. Hashing is the hot path at this
    fan-out, so the hash is paid ONCE PER 8 REPLICATES: one explode
    fans ×⌈B/8⌉ groups and computes md5(event_id:group:seed); the
    eight replicates of a group then slice independent 16-bit lanes
    out of the one 32-hex digest as conditional aggregates — the
    hash-once/slice-many layout (an md5 per (row, replicate) measured
    8× the hashing; a row-explode of the lanes another ~1.7× on top
    of the aggregate-grid form). Each lane maps to a Poisson(1)
    weight through fixed integer thresholds (``_POISSON1_CUM_64K``).
    The 2-dp measure folds as exact decimal,
    so each replicate mean is order-independent; CI bounds are exact
    order statistics of the replicate means (indices ceil(0.025·m),
    ceil(0.975·m) over the m SURVIVING replicates — the
    ``winsorize_features`` discrete-quantile convention; a replicate
    whose Poisson weights are all zero drew no rows and is excluded
    from the ranking on both engines, and the indices follow m so the
    top rank can never vanish).

    Emits 1 row: (n_rows, n_boot, mean_obs, ci_lo, ci_hi).
    """
    n_groups = -(-n_boot // 8)
    # The ×⌈B/8⌉ md5 fan-out below is the hot path and runs INSIDE the
    # scan stage; a single-row-group fixture would serialize ~13× the
    # corpus's digest work on 1-3 scan tasks. Widen the two-column base
    # ONLY when the scan yields fewer partitions than cores — a no-op
    # at 100 TB where input splits exceed cluster parallelism (the
    # decontaminate_ngram precedent), and the shuffle moves the narrow
    # (event_id, value) projection, never the fanned rows.
    sc = events.sparkSession.sparkContext
    base = events.select("event_id", "value")
    if base.rdd.getNumPartitions() < sc.defaultParallelism:
        base = base.repartition(sc.defaultParallelism)
    grouped = base.select(
        F.col("value").cast("decimal(18,2)").alias("v"),
        F.explode(F.sequence(F.lit(0), F.lit(n_groups - 1))).alias("bhi"),
        F.col("event_id"),
    ).select(
        "v",
        "bhi",
        F.md5(
            F.concat_ws(":", F.col("event_id"), F.col("bhi"), F.lit(seed))
        ).alias("h"),
    )
    # the eight lanes never materialize as rows: each becomes a PAIR of
    # conditional aggregates over the ×⌈B/8⌉ relation (map-side combine
    # collapses every partition to ⌈B/8⌉×16 cells), and the B replicate
    # rows are stacked out of the aggregate grid afterwards — an
    # explode to corpus×B rows measured ~1.7× slower for identical
    # output.
    agg_cols = []
    for i in range(8):
        # fixed-width lowercase hex compares lexicographically ==
        # numerically, so the threshold test runs on the digest slice
        # directly — no per-lane conv() radix parse in the hot loop
        s16 = F.substring(F.col("h"), i * 4 + 1, 4)
        w = sum(
            (s16 >= F.lit(format(t, "04x"))).cast("int")
            for t in _POISSON1_CUM_64K
        )
        agg_cols.append(F.sum(F.col("v") * w).alias(f"sv{i}"))
        agg_cols.append(F.sum(w.cast("long")).alias(f"sw{i}"))
    per_group = grouped.groupBy("bhi").agg(*agg_cols)
    stack = ", ".join(f"{i}, sv{i}, sw{i}" for i in range(8))
    reps = (
        per_group.select(
            "bhi",
            F.expr(f"stack(8, {stack}) AS (blo, sv, sw)"),
        )
        .filter(F.col("bhi") * 8 + F.col("blo") < n_boot)
        # a zero-weight replicate drew no rows — it has no mean and is
        # EXCLUDED (not NULL-ranked: Spark windows sort NULLs first,
        # DuckDB last, so a NULL row would silently desynchronize the
        # order-statistic indices between engine and oracle)
        .filter(F.col("sw") > 0)
        .select(
            F.round(
                F.col("sv").cast("double") / F.col("sw").cast("double"),
                6,
            ).alias("rep_mean")
        )
    )
    w_ord = Window.orderBy(F.col("rep_mean").asc())
    # the CI order-statistic indices derive from the SURVIVING
    # replicate count m, not from n_boot (ADVICE r10: with fixed
    # indices a single excluded replicate makes rank ceil(0.975·B)
    # vanish and ci_hi silently collapses onto ci_lo); integer
    # ceil-division keeps the index arithmetic exact on both engines
    m = F.count(F.lit(1)).over(
        w_ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    bounds = (
        reps.select(
            "rep_mean",
            F.row_number().over(w_ord).alias("i"),
            m.alias("m"),
        )
        .filter(
            (F.col("i") == F.expr("(25 * m + 999) div 1000"))
            | (F.col("i") == F.expr("(975 * m + 999) div 1000"))
        )
        .groupBy()
        .agg(
            F.min("rep_mean").alias("ci_lo"),
            F.max("rep_mean").alias("ci_hi"),
        )
    )
    obs = events.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_obs"),
    )
    return obs.crossJoin(F.broadcast(bounds)).select(
        "n_rows",
        F.lit(n_boot).alias("n_boot"),
        "mean_obs",
        "ci_lo",
        "ci_hi",
    )


def item_cf_neighbors(
    lineitem: DataFrame, min_co: int = 2, k: int = 3
) -> DataFrame:
    """Item-item collaborative filtering: top-k cosine neighbors per
    part over order co-occurrence.

    The "people who bought this also bought" recommender primitive
    (Sarwar et al. 2001 item-based CF; the Amazon item-to-item shape)
    beside ``copurchase_lift``'s association rules — lift measures
    surprise, cosine similarity n_ij/√(n_i·n_j) is the scoring model
    a recommender serves. Scale shape: per-order PART baskets from
    ONE collect_set aggregation (basket width bounded by lines per
    order — single digits in order data), pairs generated JVM-side
    from each basket array (NO corpus self-join), one pair-keyed
    count, marginals re-aggregated from the same baskets relation,
    and the per-item top-k is a rank window Spark executes as a
    WindowGroupLimit (per-group heaps before the shuffle — the
    ``window_group_limit_check`` proof is this operator's cost
    model). Deterministic ties: (cosine desc, neighbor asc).

    Emits per (item, rank ≤ k): (item, neighbor, n_co, n_item,
    n_neighbor, cosine, rnk).
    """
    baskets = materialize(
        lineitem.select("l_orderkey", "l_partkey")
        .distinct()
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("items"))
    )
    # materialized: the symmetric union below references the pair
    # relation twice — unpersisted, the basket explode + pair count ran
    # once per orientation (round-12 optimization, guide §2.4).
    pairs = materialize(
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(items, (x, i) ->"
                    " transform(slice(items, i + 2, size(items)),"
                    " y -> struct(x AS a, y AS b))))"
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_co"))
        .filter(F.col("n_co") >= min_co)
    )
    marg = baskets.select(F.explode("items").alias("item")).groupBy(
        "item"
    ).agg(F.count(F.lit(1)).alias("n"))
    sym = pairs.select(
        F.col("a").alias("item"), F.col("b").alias("neighbor"), "n_co"
    ).unionByName(
        pairs.select(
            F.col("b").alias("item"), F.col("a").alias("neighbor"), "n_co"
        )
    )
    scored = (
        sym.join(marg.select(F.col("item"), F.col("n").alias("n_item")), "item")
        .join(
            marg.select(
                F.col("item").alias("neighbor"),
                F.col("n").alias("n_neighbor"),
            ),
            "neighbor",
        )
        .select(
            "item",
            "neighbor",
            "n_co",
            "n_item",
            "n_neighbor",
            F.round(
                F.col("n_co")
                / F.sqrt(
                    F.col("n_item").cast("double") * F.col("n_neighbor")
                ),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("item").orderBy(
        F.col("cosine").desc(), F.col("neighbor").asc()
    )
    return scored.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= k
    )


def lorenz_gini(orders: DataFrame) -> DataFrame:
    """Gini coefficient of customer revenue concentration — the
    inequality readout every "whale analysis" starts from (how far is
    the revenue Lorenz curve from the diagonal?).

    Per-customer revenue folds as exact DECIMAL(18,2) (the engine's
    money discipline), and the Gini uses the discrete formula over
    revenues sorted ascending,

        G = 2·Σᵢ i·xᵢ / (n·Σ xᵢ) − (n+1)/n ,

    with the rank sum computed EXACTLY from the distinct-revenue
    relation: a tied block of c customers at revenue v occupying
    ranks (m+1..m+c) contributes v·(c·m + c(c+1)/2) — so the whole
    statistic needs only ``range_cumsum`` over distinct revenues
    (no unpartitioned window, no per-row ranks), and every term is a
    DECIMAL(18,2) times an exact integer folded in DECIMAL(38,2).
    The final G is one fixed double chain over the exact totals.

    Emits ONE row: (n_customers, total_revenue, gini).
    """
    from big_data_trend_analysis_spark.functions.ranks import range_cumsum

    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev")
    )
    per_rev = per_cust.groupBy("rev").agg(
        F.count(F.lit(1)).alias("c")
    )
    cum = range_cumsum(per_rev, "rev", ["c"])
    # tied block at rev with count c ends at cum_c: ranks m+1..m+c
    # with m = cum_c - c; Σ ranks = c·m + c(c+1)/2 (exact BIGINT)
    rank_sum = F.expr(
        "c * (cum_c - c) + (c * (c + 1)) div 2"
    ).cast("decimal(19,0)")
    terms = cum.select(
        (F.col("rev").cast("decimal(18,2)") * rank_sum)
        .cast("decimal(38,2)")
        .alias("ix"),
        (
            F.col("rev").cast("decimal(18,2)")
            * F.col("c").cast("decimal(10,0)")
        )
        .cast("decimal(38,2)")
        .alias("xt"),
        F.col("c").alias("c"),
    )
    tot = terms.agg(
        F.sum("ix").alias("s_ix"),
        F.sum("xt").alias("s_x"),
        F.sum("c").alias("n"),
    )
    n = F.col("n").cast("double")
    g = F.round(
        2.0
        * F.col("s_ix").cast("double")
        / (n * F.col("s_x").cast("double"))
        - (n + 1.0) / n,
        6,
    )
    return tot.select(
        F.col("n").alias("n_customers"),
        F.col("s_x").cast("double").alias("total_revenue"),
        g.alias("gini"),
    )
