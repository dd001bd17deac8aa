"""Local mirror of the driver's DuckDB differential oracle.

Compares a Spark result and a DuckDB result the way the driver does:
row count, column names, and an order-insensitive value comparison with
columns sorted by name and every non-float value rendered via ``str()``
on the RAW row objects (``DataFrame.collect()`` / cursor ``fetchall()``
— NOT pandas frames: pandas coerces dates and timestamps into one
datetime64 dtype, which hid a real driver mismatch in round 5 where
Spark returned ``2024-01-01 00:00:00`` and DuckDB ``2024-01-01`` for
the "same" week column). Used by tests/test_oracle_parity.py and
tools/parity_check.py so parity breaks locally before it breaks in
CORRECTNESS_r{N}.json.
"""

from __future__ import annotations

import duckdb

from big_data_trend_analysis_spark.sources.tables import TABLES


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'"
        )
    return con


def canon(cols: list[str], rows: list[tuple]) -> tuple[list[str], list[str]]:
    """The driver's canonical form: name-sorted columns, sorted rows,
    floats via ``%.10g``, bytes hex-encoded, everything else ``str()``."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                vals.append("%.10g" % v)
            elif isinstance(v, (bytes, bytearray)):
                vals.append(v.hex())
            else:
                vals.append(str(v))
        out.append("\x01".join(vals))
    out.sort()
    return [cols[i] for i in order], out


def run_spark(df) -> tuple[list[str], list[tuple]]:
    return df.columns, [tuple(r) for r in df.collect()]


def persistent_rdds(spark) -> set[int]:
    """Ids of the SparkContext's persistent RDDs (caches and local
    checkpoints). A ``registry.run`` call must add none."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def run_oracle(
    con: duckdb.DuckDBPyConnection, sql: str
) -> tuple[list[str], list[tuple]]:
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()


def assert_results_match(
    spark_res: tuple[list[str], list[tuple]],
    oracle_res: tuple[list[str], list[tuple]],
    name: str,
) -> None:
    scols, srows = spark_res
    ocols, orows = oracle_res
    assert len(srows) == len(orows), (
        f"{name}: row count {len(srows)} != oracle {len(orows)}"
    )
    assert sorted(scols) == sorted(ocols), (
        f"{name}: columns {sorted(scols)} != {sorted(ocols)}"
    )
    _, sv = canon(scols, srows)
    _, ov = canon(ocols, orows)
    bad = [
        (i, a.split("\x01"), b.split("\x01"))
        for i, (a, b) in enumerate(zip(sv, ov))
        if a != b
    ]
    assert not bad, f"{name}: {len(bad)} row mismatches, first 3: {bad[:3]}"
