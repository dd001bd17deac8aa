"""Parquet table catalog over the driver-generated test tables.

The batch-side equivalent of the reference's Kafka source (SURVEY.md
§2.1 S1): every streaming operator in this engine has a batch twin that
reads the same schema from parquet, which is what makes the whole
surface oracle-testable.

Scale posture: reads go through ``spark.read.parquet`` so the
vectorized reader, predicate pushdown, and column pruning apply. At
100 TB the same call reads a date-partitioned directory tree and
Catalyst prunes partitions from the WHERE clause; nothing in this
module would change.

Schema cache: the catalog is a fixed set of files, so each file's schema
is resolved once, not on every load. Inferring it is a Spark job that
reads the parquet footer: 100-140 ms per call in local mode on a 4-vCPU
host, more when it queues behind another client's stages under the FIFO
scheduler. ``_SCHEMAS`` maps each file's real path to its ``(mtime_ns,
size)``, the ``StructType`` Spark inferred and its TIMESTAMP(NANOS)
columns; a load whose file stat differs re-infers and replaces the
entry. The map holds plain Python values only, never a DataFrame or JVM
handle: every query call reads on its own child session, and a
SparkContext may be stopped and restarted within one process, so a JVM
object would tie a later load to a session or context that no longer
holds.
"""

from __future__ import annotations

import os
import threading

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

#: Every table the driver materializes per scale factor (TESTDATA.md).
TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _nano_ts_columns(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS) (footer-level probe).

    Spark has no TimestampType(NANOS); with
    ``spark.sql.legacy.parquet.nanosAsLong`` these arrive as long
    nanoseconds and we restore TimestampType by integer-dividing to
    microseconds — the same truncation DuckDB applies, so both engines
    see identical event times. Footer metadata only: no data read.
    """
    import pyarrow as pa

    schema = pq.read_schema(path)
    return [
        field.name
        for field in schema
        if pa.types.is_timestamp(field.type) and field.type.unit == "ns"
    ]


#: Real path -> (mtime_ns, size, inferred schema, nano-timestamp
#: columns), one entry per catalog file; see the module docstring.
_SCHEMAS: dict[str, tuple[int, int, StructType, tuple[str, ...]]] = {}
_SCHEMAS_LOCK = threading.Lock()


def _resolved_schema(spark: SparkSession, path: str) -> tuple[StructType, tuple[str, ...]]:
    """The schema Spark infers for ``path`` and its nano-timestamp
    columns, inferred once per version (mtime and size) of the file."""
    key = os.path.realpath(path)
    stat = os.stat(key)
    version = (stat.st_mtime_ns, stat.st_size)
    with _SCHEMAS_LOCK:
        hit = _SCHEMAS.get(key)
    if hit is not None and hit[:2] == version:
        return hit[2], hit[3]
    # Infer on a child session, so the caller's confs stay as they are:
    # TIMESTAMP(NANOS) columns must infer as long (restored below) and
    # naive micros timestamps as TIMESTAMP, not TIMESTAMP_NTZ — the
    # engine's event-time semantics are LTZ under a UTC session
    # (session.py ENGINE_CONF), matching DuckDB's naive read
    # bit-for-bit while keeping ts predicates pushdown-eligible (a
    # post-read cast would defeat parquet filter pushdown). Two threads
    # may both miss and both infer; the results are equal.
    infer = spark.newSession()
    infer.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    infer.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    schema = infer.read.parquet(path).schema
    nanos = tuple(_nano_ts_columns(path))
    with _SCHEMAS_LOCK:
        _SCHEMAS[key] = (*version, schema, nanos)
    return schema, nanos


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one catalog table from ``{sf_dir}/{name}.parquet``.

    The read passes the file's cached schema (``_resolved_schema``), so
    it runs no Spark job; only the first load of each version of a file
    pays Spark's footer inference, on a child session with the two
    confs that inference needs. The caller's session keeps its confs:
    the read needs neither, since given the cached schema Spark hands a
    TIMESTAMP(NANOS) column over as the long it declares, and a naive
    micros column as the TIMESTAMP it declares.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; catalog has {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema, nanos = _resolved_schema(spark, path)
    return _nanos_to_micros(spark.read.schema(schema).parquet(path), nanos)


def _nanos_to_micros(df: DataFrame, nanos: tuple[str, ...]) -> DataFrame:
    """``df`` with each long-nanosecond column of ``nanos`` (read as
    long under a ``_resolved_schema``) restored to a microsecond
    TIMESTAMP."""
    for col in nanos:
        df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    return df


def read_merged_schema(spark: SparkSession, path: str) -> DataFrame:
    """Read a parquet directory whose files span schema versions.

    A 100 TB table accumulates schema evolution (new telemetry columns
    appear mid-year); by default Spark takes ONE footer's schema and
    silently drops columns absent from it. ``mergeSchema`` unions the
    footers instead: rows from files predating a column surface it as
    null, and every file's columns are readable. Use for evolving
    ingest directories; the fixed-catalog ``load_table`` path skips the
    footer-merge cost.
    """
    return (
        spark.read.option("mergeSchema", "true")
        .option("recursiveFileLookup", "true")
        .parquet(path)
    )
