"""Relational core: projections, filters, joins, set ops, rollup.

The reference has *no* joins/groupBy at all (SURVEY.md §2.1 "Not
present"); these operators are the north-star relational core that a
100 TB deployment needs. Scale notes per operator are inline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from big_data_trend_analysis_spark.functions.numeric import exact_avg, exact_sum
from big_data_trend_analysis_spark.scope import materialize


def scan_project(lineitem: DataFrame) -> DataFrame:
    """Projection + cast directly over the scan (SURVEY §2.3 scan_project).

    Catalyst pushes the 4-column ReadSchema into the parquet reader —
    at 100 TB this reads ~1/3 of the table's bytes. Verified via
    ``.explain``: ReadSchema lists exactly these columns.
    """
    return lineitem.select(
        F.col("l_orderkey"),
        F.col("l_linenumber"),
        F.floor("l_quantity").cast("int").alias("qty_int"),
        F.col("l_returnflag"),
    )


def filter_pred(lineitem: DataFrame) -> DataFrame:
    """Conjunctive range + IN predicates (SURVEY §2.3 filter_pred).

    All three predicates are parquet-pushable (``PushedFilters`` in the
    scan node) → row-group skipping at scale.
    """
    return lineitem.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.03)
        & F.col("l_returnflag").isin("A", "R")
    ).select("l_orderkey", "l_linenumber", "l_shipdate", "l_discount", "l_returnflag")


def join_hash(
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    supplier: DataFrame,
) -> DataFrame:
    """orders ⋈ customer ⋈ nation ⋈ region dimension chain + a
    pre-aggregated supplier dim (SURVEY §2.3 join_hash).

    customer↔nation↔region are dimensions → Catalyst broadcasts them
    (within autoBroadcastJoinThreshold); the orders↔customer join is the
    only potentially-shuffled join, and AQE converts it to broadcast
    when customer fits. supplier joins AFTER its own per-nation
    aggregation — the dimension is reduced to ≤|nations| rows before it
    touches the fact-sized relation, the aggregate-then-join shape that
    keeps any secondary dimension broadcast-sized. Aggregated output
    keeps the result bounded at any scale factor.
    """
    supp_per_nation = supplier.groupBy(
        F.col("s_nationkey").alias("sn_key")
    ).agg(F.count(F.lit(1)).alias("n_suppliers"))
    joined = (
        orders.join(customer, orders.o_custkey == customer.c_custkey, "inner")
        .join(nation, customer.c_nationkey == nation.n_nationkey, "inner")
        .join(region, nation.n_regionkey == region.r_regionkey, "inner")
        .join(
            F.broadcast(supp_per_nation),
            nation.n_nationkey == F.col("sn_key"),
            "left",
        )
    )
    return (
        joined.groupBy(F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            exact_sum("o_totalprice").alias("sum_totalprice"),
            F.coalesce(F.first("n_suppliers"), F.lit(0)).alias("n_suppliers"),
        )
    )


def join_broadcast(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """lineitem ⋈ broadcast(part) (SURVEY §2.3 join_broadcast).

    Explicit ``broadcast()`` hint: part is a classic small dimension;
    broadcasting turns a 100 TB-side shuffle into a map-side hash join.
    """
    return (
        lineitem.join(F.broadcast(part), lineitem.l_partkey == part.p_partkey, "inner")
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            exact_sum("l_extendedprice").alias("sum_price"),
        )
    )


def join_semi_anti(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """Customers with (semi) / without (anti) orders, tagged + unioned.

    left_semi/left_anti never materialize the right side's columns —
    at scale Spark builds the join with only o_custkey (pruned scan).
    """
    with_orders = (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_semi")
        .select("c_custkey")
        .withColumn("tag", F.lit("has_orders"))
    )
    without_orders = (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey")
        .withColumn("tag", F.lit("no_orders"))
    )
    return with_orders.unionByName(without_orders)


def set_ops(events: DataFrame) -> DataFrame:
    """UNION ALL / INTERSECT / EXCEPT ALL over two event slices, tagged.

    Spark ``union`` is bag semantics (UNION ALL), ``intersect`` is set
    semantics, ``exceptAll`` is bag semantics — the oracle SQL mirrors
    each exactly (SURVEY §2.3 set_ops).
    """
    a = events.filter(F.col("event_type") == "purchase").select("user_id")
    b = events.filter(F.col("value") > 100.0).select("user_id")
    return (
        a.union(b).withColumn("tag", F.lit("union_all"))
        .unionByName(a.intersect(b).withColumn("tag", F.lit("intersect")))
        .unionByName(a.exceptAll(b).withColumn("tag", F.lit("except_all")))
    )


def correlated_subquery(customer: DataFrame, nation: DataFrame) -> DataFrame:
    """Customers above their nation's average balance.

    Declared as the classic correlated scalar subquery shape; built
    here as the decorrelated plan Catalyst produces anyway (aggregate →
    broadcast join back), so the intent is visible in the code: one
    pass for per-nation averages, one broadcast join — never a
    per-row subquery execution.
    """
    nation_avg = customer.groupBy("c_nationkey").agg(
        (F.sum(F.col("c_acctbal").cast("decimal(12,2)")).cast("double") / F.count(F.lit(1))).alias(
            "nation_avg_bal"
        )
    )
    return (
        customer.join(F.broadcast(nation_avg), "c_nationkey")
        .filter(F.col("c_acctbal") > F.col("nation_avg_bal"))
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .select(
            "c_custkey",
            F.col("n_name").alias("nation_name"),
            "c_acctbal",
            F.round("nation_avg_bal", 6).alias("nation_avg_bal"),
        )
    )


def cube_agg(customer: DataFrame, nation: DataFrame) -> DataFrame:
    """CUBE(nation, mktsegment) with explicit grouping indicators.

    Like rollup_agg but over the full 2^k grouping-set lattice; the
    ``is_total`` flags are derived with ``grouping()`` so the oracle
    (whose NULL-vs-total ambiguity differs) compares explicit booleans.
    """
    joined = customer.join(
        F.broadcast(nation), customer.c_nationkey == nation.n_nationkey, "inner"
    ).select(
        F.col("n_name").alias("nation_name"),
        F.col("c_mktsegment").alias("mktsegment"),
        "c_acctbal",
    )
    return joined.cube("nation_name", "mktsegment").agg(
        F.grouping("nation_name").cast("int").alias("nation_total"),
        F.grouping("mktsegment").cast("int").alias("segment_total"),
        F.count(F.lit(1)).alias("n_customers"),
        exact_sum("c_acctbal").alias("sum_acctbal"),
    )


def grouping_sets_agg(orders: DataFrame) -> DataFrame:
    """Explicit GROUPING SETS ((status, priority), (status), ()) totals.

    Completes the rollup/cube family with the general form: an
    arbitrary subset of the grouping lattice, declared via Spark 4's
    ``DataFrame.groupingSets``. Same physical shape as rollup/cube —
    a single Expand + partial-agg pass, one shuffle regardless of how
    many sets are requested (here 3, vs cube's 4) — so at 100 TB the
    cost is one scan + one |groups|-sized exchange, not one job per
    set. ``grouping()`` indicators disambiguate set-membership from
    genuine NULL group values, mirrored exactly by the oracle.
    """
    return orders.groupingSets(
        [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"], []],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(
        F.grouping("o_orderstatus").cast("int").alias("status_total"),
        F.grouping("o_orderpriority").cast("int").alias("priority_total"),
        F.count(F.lit(1)).alias("n_orders"),
        exact_sum("o_totalprice").alias("sum_price"),
    )


def rollup_agg(customer: DataFrame, nation: DataFrame) -> DataFrame:
    """ROLLUP(nation, mktsegment) totals (SURVEY §2.3 rollup_agg).

    Spark expands rollup into a single-pass Expand+partial-agg — one
    shuffle regardless of grouping-set count.
    """
    joined = customer.join(
        F.broadcast(nation), customer.c_nationkey == nation.n_nationkey, "inner"
    )
    return joined.rollup(
        F.col("n_name").alias("nation_name"), F.col("c_mktsegment").alias("mktsegment")
    ).agg(
        F.count(F.lit(1)).alias("n_customers"),
        exact_sum("c_acctbal").alias("sum_acctbal"),
        exact_avg("c_acctbal").alias("avg_acctbal"),
    )


def skyline_pareto(orders: DataFrame) -> DataFrame:
    """Pareto frontier (skyline) of orders over (totalprice, orderdate).

    An order is on the frontier iff no other order has BOTH a strictly
    higher total price AND a later-or-equal order date — the dominance
    query behind "best tradeoff" analytics (price/recency,
    cost/quality). Shape: the classic local-skyline-then-merge
    (ADVICE r6 — the previous per-price global window was a single-task
    O(rows) sort because o_totalprice is near-unique):

    1. LOCAL PRUNE — each partition drops its locally-dominated rows
       with ONE balanced exchange on ``spark_partition_id()`` (three
       window expressions sharing a single partition+sort). Dominance
       is transitive, so a locally-dominated row is also dominated by
       some local *survivor* — pruning is lossless and the survivors
       are a superset of the global frontier.
    2. GLOBAL MERGE — the original per-price running-max over the
       pruned relation only. Its unpartitioned window now orders the
       candidate set (tiny in the typical correlated case; O(frontier)
       in the anti-correlated worst case, where the output itself is
       that large — irreducible).

    Equal prices never dominate each other: within a partition the
    strictly-higher-price running max is carried across each
    equal-price run via a run-first marker + ``last(ignorenulls)``.
    """
    rows = orders.select(
        "o_orderkey",
        "o_totalprice",
        "o_orderdate",
        F.spark_partition_id().alias("pid"),
    )
    w = Window.partitionBy("pid").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderdate").desc()
    )
    cummax_prev = F.max("o_orderdate").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_price = F.lag("o_totalprice").over(w)
    is_run_first = prev_price.isNull() | (prev_price != F.col("o_totalprice"))
    # Sentinel = "no strictly higher price seen": any real date beats it,
    # and it distinguishes that case for null-date rows (kept, matching
    # the oracle's best_higher_date IS NULL branch).
    sentinel = F.lit("0001-01-01 00:00:00").cast("timestamp")
    marker = F.when(is_run_first, F.coalesce(cummax_prev, sentinel))
    best_local = F.last(marker, ignorenulls=True).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    candidates = (
        rows.withColumn("best_local", best_local)
        .filter(
            (F.col("best_local") == sentinel)
            | (F.col("o_orderdate") > F.col("best_local"))
        )
        .select("o_orderkey", "o_totalprice", "o_orderdate")
    )

    per_price = candidates.groupBy("o_totalprice").agg(
        F.max("o_orderdate").alias("dmax")
    )
    w2 = (
        Window.orderBy(F.col("o_totalprice").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    best_higher = per_price.select(
        "o_totalprice", F.max("dmax").over(w2).alias("best_higher_date")
    )
    return (
        candidates.join(best_higher, "o_totalprice")
        .filter(
            F.col("best_higher_date").isNull()
            | (F.col("o_orderdate") > F.col("best_higher_date"))
        )
        .select("o_orderkey", "o_totalprice", "o_orderdate")
    )


def expectations_check(lineitem: DataFrame, orders: DataFrame) -> DataFrame:
    """Data-contract expectation suite — the dbt-test / Great
    Expectations gate a production pipeline runs before publishing a
    table.

    One row per expectation: (expectation, observed, passed).
    Null-rate, value-range and accepted-values checks are scan-speed
    conditional aggregates folded into ONE pass over lineitem; the
    referential check (every l_orderkey resolves to an order) is a
    left-anti join counted — the orphan count a foreign key would
    enforce. All observations are exact counts, so the suite is
    oracle-hashable; ``passed`` derives from observed in-plan. At
    scale the single-pass conditional-agg shape is the point: N
    expectations cost one scan, not N.
    """
    one = lineitem.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("l_quantity").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("null_qty"),
        F.sum(
            F.when(
                (F.col("l_discount") < 0.0) | (F.col("l_discount") > 1.0), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("bad_discount"),
        F.sum(
            F.when(~F.col("l_returnflag").isin("N", "A", "R"), 1).otherwise(0)
        )
        .cast("long")
        .alias("bad_flag"),
    )
    orphans = (
        lineitem.select("l_orderkey")
        .join(orders.select("o_orderkey"), F.col("l_orderkey") == F.col("o_orderkey"), "left_anti")
        .agg(F.count(F.lit(1)).alias("n_orphans"))
    )

    # Unpivot the single aggregate row with stack() so the whole
    # lineitem suite is ONE scan — a union of per-expectation branches
    # would replay the scan once per expectation.
    scans = one.select(
        F.expr(
            "stack(4, "
            "'row_count_min_1000', n_rows, "
            "'quantity_not_null', null_qty, "
            "'discount_in_unit_range', bad_discount, "
            "'returnflag_accepted', bad_flag) AS (expectation, observed)"
        )
    )
    fk = orphans.select(
        F.lit("fk_orders_resolve").alias("expectation"),
        F.col("n_orphans").cast("long").alias("observed"),
    )
    passed = F.when(
        F.col("expectation") == "row_count_min_1000", F.col("observed") >= 1000
    ).otherwise(F.col("observed") == 0)
    return scans.unionByName(fk).select(
        "expectation", "observed", passed.alias("passed")
    )


def k_anonymity_check(events: DataFrame, k: int = 5) -> DataFrame:
    """k-anonymity audit over a quasi-identifier tuple.

    The privacy-governance check beside ``mask_pii``: after direct
    identifiers are masked, re-identification risk lives in
    quasi-identifier COMBINATIONS — any equivalence class with fewer
    than k members singles its users out. QI here is
    (event_type, day-of-week, hour): one hash aggregation to class
    sizes (the relation is |QI-space|-bounded, never corpus-sized),
    then per-class safety flags plus the two numbers a release
    decision needs — how many classes and how many ROWS would need
    suppression or generalization. Pure counts: deterministic on both
    engines with no float discipline at all.

    Emits one row per equivalence class plus repeated audit totals:
    (event_type, dow, hour, k_count, is_safe, n_risky_classes,
    n_risky_rows).
    """
    classes = materialize(
        events.groupBy(
            "event_type",
            F.dayofweek("ts").alias("dow"),
            F.hour("ts").alias("hour"),
        ).agg(F.count(F.lit(1)).alias("k_count"))
    )
    flagged = classes.withColumn("is_safe", F.col("k_count") >= k)
    audit = flagged.agg(
        F.count_if(~F.col("is_safe")).alias("n_risky_classes"),
        F.coalesce(
            F.sum(F.when(~F.col("is_safe"), F.col("k_count"))), F.lit(0)
        ).alias("n_risky_rows"),
    )
    return flagged.crossJoin(F.broadcast(audit))


def referential_integrity_check(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
) -> DataFrame:
    """Foreign-key audit over the star schema — the data-quality gate
    a warehouse runs on every load (dbt's ``relationships`` test):
    for each FK edge, how many child rows point at a missing parent
    (orphans), and how many parent rows no child references
    (unreferenced — not an error, but the skew/retention signal).

    Plan shape: ONE declarative plan for all six edges — the child
    and parent key sets stack into two tall (edge, key) relations
    (each union branch scans its table projecting only the key
    column), so ONE anti-join computes every edge's orphans and one
    more the unreferenced parents; no per-edge driver actions, no
    crossJoin. At 100 TB the tall child relation partitions on
    (edge, key) and each branch's distinct collapses map-side; the
    result is edge-count-sized regardless of scale.

    Emits (relation, child_rows, child_keys, orphan_keys,
    parent_keys, unreferenced_parent_keys).
    """
    edges = [
        ("lineitem.l_orderkey->orders", lineitem, "l_orderkey", orders, "o_orderkey"),
        ("lineitem.l_partkey->part", lineitem, "l_partkey", part, "p_partkey"),
        ("lineitem.l_suppkey->supplier", lineitem, "l_suppkey", supplier, "s_suppkey"),
        ("orders.o_custkey->customer", orders, "o_custkey", customer, "c_custkey"),
        ("customer.c_nationkey->nation", customer, "c_nationkey", nation, "n_nationkey"),
        ("supplier.s_nationkey->nation", supplier, "s_nationkey", nation, "n_nationkey"),
    ]

    def stack(frames: list[DataFrame]) -> DataFrame:
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out

    # ONE pass over every table, ONE (edge, key) shuffle, ONE edge-sized
    # re-aggregation (round-12 optimization; guide §2.4 "remove shuffles
    # outright"). The previous shape re-expanded the unpersisted distinct
    # key relations once per consumer — 3 full passes over all six
    # tables, two anti-joins and five per-edge aggregations (42 jobs /
    # 64 stages measured at sf0.1). Here each side lands tagged in one
    # tall relation; groupBy (edge, k) collapses duplicates map-side and
    # scores presence on both sides, and the per-edge rollup derives
    # every audit column from those per-key facts:
    #
    # - child_rows  = Σ c_rows (NULL keys group under k IS NULL, so the
    #   raw row count is preserved);
    # - child_keys  = distinct non-NULL child keys (the dbt
    #   ``relationships`` convention — COUNT(DISTINCT k): NULL FKs are
    #   ignored for key/orphan accounting);
    # - orphan_keys = those keys with no parent-side row (equi-join
    #   semantics: a NULL parent key never matches);
    # - parent_keys = distinct parent keys;
    # - unreferenced_parent_keys = parent keys with no child-side row
    #   (a NULL parent key can never be referenced).
    child = stack(
        [
            c.select(
                F.lit(name).alias("edge"),
                F.col(k).cast("long").alias("k"),
                F.lit(1).alias("side"),
            )
            for name, c, k, _, _ in edges
        ]
    )
    parent = stack(
        [
            p.select(
                F.lit(name).alias("edge"),
                F.col(pk).cast("long").alias("k"),
                F.lit(2).alias("side"),
            )
            for name, _, _, p, pk in edges
        ]
    )
    per_key = (
        child.unionByName(parent)
        .groupBy("edge", "k")
        .agg(
            F.count_if(F.col("side") == 1).alias("c_rows"),
            F.max(F.col("side") == 2).alias("in_parent"),
        )
    )
    key_known = F.col("k").isNotNull()
    child_key = (F.col("c_rows") > 0) & key_known
    return per_key.groupBy("edge").agg(
        F.sum("c_rows").alias("child_rows"),
        F.count_if(child_key).alias("child_keys"),
        F.count_if(child_key & ~F.col("in_parent")).alias("orphan_keys"),
        F.count_if(F.col("in_parent")).alias("parent_keys"),
        F.count_if(
            F.col("in_parent") & ((F.col("c_rows") == 0) | ~key_known)
        ).alias("unreferenced_parent_keys"),
    ).select(
        F.col("edge").alias("relation"),
        "child_rows",
        "child_keys",
        "orphan_keys",
        "parent_keys",
        "unreferenced_parent_keys",
    )
