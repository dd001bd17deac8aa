"""Graph analytics over relational event data: fixed-iteration PageRank.

The reference's trend pipeline stops at first-order transition counts
(``event_transitions``); ranking the behavioral graph those transitions
form is the canonical "which state matters" extension (PageRank on the
event-type Markov chain). Spark-first shape:

- the graph is *derived in-plan* from the event log (lag window →
  weighted edge list) — no separate graph storage;
- iterations are **unrolled into one Catalyst plan**: each round is
  one equi-join (ranks ⋈ edges on src) + one hash aggregation (sum of
  contributions per dst). With a fixed iteration count the whole
  computation is a DAG Catalyst can see through — and, unlike the
  convergence-looped ``dedup_clusters``, it is exactly expressible in
  ANSI SQL (unrolled CTEs), so the driver hash-oracle covers it.
- arithmetic is **fixed-point**: every per-edge contribution and every
  scalar term is rounded to 6 dp and accumulated as ``decimal(18,6)``,
  so rank mass adds order-independently — the same discipline as the
  engine's money sums (functions/numeric.py), and the reason two
  engines (or two shuffle layouts) produce the identical hash.

100 TB posture: per iteration one shuffle on ``src`` (ranks are
node-sized, edges edge-sized; AQE broadcasts the smaller side) and one
on ``dst``. Dangling mass is a 1-row aggregate broadcast into the next
round. For deep iteration counts you would ``scope.checkpoint`` every
few rounds to truncate lineage exactly as ``operators/dedup.py``'s
label propagation does; at the unrolled depth used here (3) the plan
stays comfortably within codegen limits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from big_data_trend_analysis_spark.scope import checkpoint, materialize, materialize_tiny

#: Fixed-point rank representation: 6 dp is ~1e-6 mass granularity,
#: two orders below anything the output rounds to; 18 digits keeps
#: decimal sums exact far beyond any real node's in-mass.
_RANK_DEC = "decimal(18,6)"


def pagerank_fixed(events: DataFrame, d: float = 0.85, iters: int = 3) -> DataFrame:
    """Weighted PageRank over the event-type transition graph.

    Nodes are the distinct event types; edge (u, v) carries the count
    of u→v transitions in any user's (ts, event_id)-ordered timeline
    (the exact edge derivation of ``temporal.event_transitions``).
    ``iters`` power-iteration rounds of

        r'(v) = (1-d)/N + d·(Σ_u r(u)·w(u,v)/outw(u) + dm/N)

    with dm the dangling mass (rank held by nodes without out-edges).
    Every term is rounded to 6 dp before exact decimal accumulation,
    making the result bit-stable under any partitioning and under the
    DuckDB oracle's identical unrolled arithmetic.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # The graph relations are derived ONCE and materialized
    # (scope.checkpoint, the dedup_clusters lineage-truncation pattern):
    # without it Catalyst re-derives edges/nodes from the raw event
    # scan inside EVERY unrolled branch — each iteration references
    # ranks twice (contributions + dangling mass), so the un-truncated
    # plan doubles per round and re-shuffles the event log ~4× per
    # iteration. On a cluster this materialization is the standard
    # "build the edge list once, iterate over it" discipline.
    # eager=False throughout (round-12): plans still truncate at every
    # checkpoint. With AQE on (session default) each lazy checkpoint
    # call still materializes its upstream shuffle map stages at call
    # time (toRdd resolves the final physical plan); what eager=False
    # skips is the per-checkpoint driver-blocking RESULT job — the
    # final result stages all run inside the consumer action (ADVICE
    # r12: the win is the skipped blocking jobs, not zero work at call
    # time).
    edges = checkpoint(
        events.select(
            "user_id",
            F.col("event_type").alias("dst"),
            F.lag("event_type").over(w).alias("src"),
        )
        .filter(F.col("src").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w")),
        eager=False,
    )
    nodes = checkpoint(
        events.select(F.col("event_type").alias("node")).distinct(), eager=False
    )
    outw = checkpoint(edges.groupBy("src").agg(F.sum("w").alias("outw")), eager=False)
    nrel = nodes.agg(F.count(F.lit(1)).alias("n_nodes"))

    ranks = nodes.crossJoin(F.broadcast(nrel)).select(
        "node",
        F.round(F.lit(1.0) / F.col("n_nodes"), 6).cast(_RANK_DEC).alias("rank"),
    )
    for it in range(iters):
        contrib = (
            edges.join(
                ranks.select(
                    F.col("node").alias("src"),
                    F.col("rank").cast("double").alias("r"),
                ),
                "src",
            )
            .join(outw, "src")
            .select(
                F.col("dst").alias("node"),
                F.round(F.lit(d) * F.col("r") * F.col("w") / F.col("outw"), 6)
                .cast(_RANK_DEC)
                .alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("in_mass"))
        )
        dangling = (
            ranks.join(outw, ranks["node"] == outw["src"], "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0).cast(_RANK_DEC)).alias("dm"))
        )
        ranks = (
            nodes.crossJoin(F.broadcast(nrel))
            .crossJoin(F.broadcast(dangling))
            .join(contrib, "node", "left")
            .select(
                "node",
                (
                    # round() the Python literal: 1.0-0.85 is
                    # 0.15000000000000002 in IEEE — the oracle writes 0.15.
                    F.round(F.lit(round(1.0 - d, 12)) / F.col("n_nodes"), 6).cast(_RANK_DEC)
                    + F.round(
                        F.lit(d) * F.col("dm").cast("double") / F.col("n_nodes"), 6
                    ).cast(_RANK_DEC)
                    + F.coalesce(F.col("in_mass"), F.lit(0).cast(_RANK_DEC))
                )
                .cast(_RANK_DEC)
                .alias("rank"),
            )
        )
        # Truncate the rank lineage between rounds (nodes-sized, so the
        # eager job is trivial); the last round stays lazy — the caller
        # owns the final plan.
        if it < iters - 1:
            ranks = checkpoint(ranks, eager=False)
    return ranks.select("node", F.col("rank").cast("double").alias("rank"))


def triangle_count(
    lineitem: DataFrame,
    part: DataFrame,
    min_support: int = 3,
) -> DataFrame:
    """Triangle counting on the brand co-purchase graph.

    The canonical "how clustered is this graph" primitive, on the
    graph ``copurchase_lift`` mines: nodes are brands, edges are brand
    pairs co-purchased in ≥ ``min_support`` baskets. Edges come out of
    the basket relation already ORIENTED (a < b from the sorted basket
    array — each undirected edge stored exactly once), so triangles
    enumerate via the standard two-join oriented pattern
    e1(a,b) ⋈ e2(b,c) ⋈ e3(a,c) with a < b < c — every triangle found
    exactly once, no ×6 double count. 100 TB posture: the edge
    relation is dimension²-bounded (never corpus-sized) after ONE
    corpus aggregation into baskets (the ``copurchase_lift`` shape);
    on a power-law graph the same plan holds with degree-ordered
    orientation, which bounds the join fan-out by arboricity.

    Emits per-brand triangle participation plus the repeated global
    count: (brand, n_triangles, total_triangles).
    """
    from big_data_trend_analysis_spark.operators.aggregates import (
        _brand_basket_pairs,
    )

    _, pairs = _brand_basket_pairs(lineitem, part, min_support)
    edges = materialize_tiny(
        pairs.select(
            F.col("brand_a").alias("a"), F.col("brand_b").alias("b")
        )
    )
    # dimension²-bounded edge relation (≤ |brands|² rows at ANY corpus
    # scale): broadcast both probe sides so the two-join oriented
    # pattern runs map-side over the cached edges with zero exchanges
    # (round-12 optimization, guide §3.1).
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tris = (
        e1.join(F.broadcast(e2), F.col("e1.b") == F.col("e2.a"))
        .join(
            F.broadcast(e3),
            (F.col("e1.a") == F.col("e3.a"))
            & (F.col("e2.b") == F.col("e3.b")),
        )
        .select(
            F.col("e1.a").alias("x"),
            F.col("e1.b").alias("y"),
            F.col("e2.b").alias("z"),
        )
    )
    per_node = (
        tris.select(F.explode(F.array("x", "y", "z")).alias("brand"))
        .groupBy("brand")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    total = tris.agg(F.count(F.lit(1)).alias("total_triangles"))
    return per_node.crossJoin(F.broadcast(total))


def adamic_adar_linkpred(
    lineitem: DataFrame,
    part: DataFrame,
    min_support: int = 3,
    k: int = 20,
) -> DataFrame:
    """Adamic–Adar link prediction on the brand co-purchase graph:
    for brand pairs NOT yet co-purchased, score their likelihood by
    shared neighborhoods — AA(u,v) = Σ_{c ∈ N(u)∩N(v)} 1/ln(deg c)
    (Adamic & Adar 2003), the standard common-neighbor predictor that
    discounts promiscuous hubs.

    Completes the graph tier's missing archetype (pagerank ranks
    nodes, triangles measure closure, components cluster — link
    prediction asks "which edge appears NEXT?"). Scale shape: the
    edge relation is the dimension²-bounded ``_brand_basket_pairs``
    output (ONE corpus aggregation, the copurchase_lift machinery);
    wedges enumerate via the symmetric edge self-join through the
    common neighbor (fan-out bounded by Σ deg(c)² over the dim-sized
    graph, the triangle_count economics); existing edges drop via one
    anti-join; the global top-k executes as TakeOrdered on
    (score DESC, pair ASC). Determinism: common neighbors have
    deg ≥ 2 by construction (ln > 0); each 1/ln(deg) term rounds to
    6 dp and the pair score folds in exact decimal.

    Emits top-k candidate edges: (brand_a, brand_b, n_common,
    aa_score).
    """
    from big_data_trend_analysis_spark.operators.aggregates import (
        _brand_basket_pairs,
    )

    _, pairs = _brand_basket_pairs(lineitem, part, min_support)
    edges = materialize_tiny(
        pairs.select(F.col("brand_a").alias("a"), F.col("brand_b").alias("b"))
    )
    sym = edges.unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = sym.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    # The brand graph is dimension²-bounded at ANY scale (≤ |brands|²
    # edges regardless of corpus size), so every graph-sized side below
    # broadcasts: the wedge self-join, the degree lookup and the
    # existing-edge anti-join run map-side with zero exchanges of their
    # own (round-12 optimization, guide §3.1 — the previous shape
    # shuffle-joined relations of a few hundred rows through 4 extra
    # exchanges).
    s1, s2 = sym.alias("s1"), sym.alias("s2")
    wedges = s1.join(
        F.broadcast(s2),
        (F.col("s1.b") == F.col("s2.a"))
        & (F.col("s1.a") < F.col("s2.b")),
    ).select(
        F.col("s1.a").alias("u"),
        F.col("s2.b").alias("v"),
        F.col("s1.b").alias("c"),
    )
    scored = (
        wedges.join(F.broadcast(deg), wedges["c"] == deg["node"])
        .groupBy("u", "v")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.sum(
                F.round(
                    F.lit(1.0) / F.log(F.col("deg").cast("double")), 6
                ).cast("decimal(18,6)")
            )
            .cast("double")
            .alias("aa_score"),
        )
    )
    cand = scored.join(
        F.broadcast(edges),
        (scored["u"] == edges["a"]) & (scored["v"] == edges["b"]),
        "left_anti",
    )
    return (
        cand.orderBy(
            F.col("aa_score").desc(), F.col("u").asc(), F.col("v").asc()
        )
        .limit(k)
        .select(
            F.col("u").alias("brand_a"),
            F.col("v").alias("brand_b"),
            "n_common",
            "aa_score",
        )
    )


def connected_components(
    lineitem: DataFrame, iters: int = 6, min_support: int = 2
) -> DataFrame:
    """Connected components of the part co-purchase graph via
    fixed-iteration min-label propagation — the "how many product
    families does the basket data actually contain" readout
    completing the graph family (pagerank ranks, triangles cluster,
    Adamic–Adar predicts; components PARTITION).

    Nodes are the parts present in any order; an edge joins two parts
    co-purchased in ≥ ``min_support`` distinct orders (the
    ``copurchase_lift`` pair derivation at part granularity — a count
    cut that keeps the graph sparse where brand-level pairs are
    near-complete). Each of the ``iters`` rounds every node takes the
    MIN label over itself and its neighbors, so after d rounds
    label(v) = min node id within graph distance ≤ d — the exact
    bounded-radius semantics the oracle replays with a ≤ d-hop
    reachability CTE (the ``recursive_cte_reach`` device), identical
    whether or not the graph has converged. Scale shape: the pair
    relation derives from ONE basket aggregation; each round is one
    src-keyed equi-join + one min-aggregation on the node-sized label
    relation, lineage truncated per round (``scope.checkpoint``, the
    pagerank/dedup_clusters discipline) — the standard scalable CC
    loop (GraphX/GraphFrames run exactly this shape).

    Emits one row per part: (node, component, component_size,
    n_components).
    """
    baskets = materialize(
        lineitem.groupBy("l_orderkey").agg(
            F.sort_array(F.collect_set("l_partkey")).alias("basket")
        )
    )
    pairs = materialize(
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(basket, (x, i) ->"
                    " transform(slice(basket, i + 2, size(basket)),"
                    " y -> struct(x AS pa, y AS pb))))"
                )
            ).alias("p")
        )
        .select("p.pa", "p.pb")
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= min_support)
    )
    edges = materialize(
        pairs.select(F.col("pa").alias("src"), F.col("pb").alias("dst"))
        .unionByName(
            pairs.select(
                F.col("pb").alias("src"), F.col("pa").alias("dst")
            )
        )
    )
    labels = checkpoint(
        lineitem.select(F.col("l_partkey").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label")),
        eager=False,
    )
    for _ in range(iters):
        msgs = edges.join(
            labels.select(F.col("node").alias("src"), "label"), "src"
        ).select(F.col("dst").alias("node"), "label")
        # per-round checkpoint, not every-other: labels is referenced
        # TWICE per round (the messages join + the union), so an
        # uncheckpointed round duplicates its whole subtree into the
        # next plan — measured 7.2 s vs 4.1 s at sf0.1 for depth-2
        # (the pagerank "plan doubles per round" lesson, re-learned).
        # eager=False (round-12): the logical plan still truncates to a
        # LogicalRDD at every round (same anti-doubling). With AQE on,
        # each lazy checkpoint still runs its upstream shuffle map
        # stages at call time — what eager=False removes is the six
        # sequential driver-blocking RESULT jobs (34 jobs / 66 stages
        # measured at sf0.1 before; ADVICE r12 pinned the mechanism).
        labels = checkpoint(
            labels.unionByName(msgs)
            .groupBy("node")
            .agg(F.min("label").alias("label")),
            eager=False,
        )
    sizes = labels.groupBy("label").agg(
        F.count(F.lit(1)).alias("component_size")
    )
    ncomp = sizes.agg(F.count(F.lit(1)).alias("n_components"))
    return (
        labels.join(sizes, "label")
        .crossJoin(F.broadcast(ncomp))
        .select(
            "node",
            F.col("label").alias("component"),
            "component_size",
            "n_components",
        )
    )
