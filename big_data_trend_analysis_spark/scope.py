"""What one query call makes, how it caches intermediates, and its release.

Every ``QUERIES`` call runs inside a ``CallScope``
(``plans/registry._in_child_sessions`` opens it). The scope records
the call's temp directories, catalog tables and in-memory Derby
databases (made by the registry's side-effecting gate queries), the
relations ``materialize`` persists and the DataFrames ``checkpoint``
returns. ``release`` removes all of them; ``registry.run`` calls it
once the rows are collected, while a lazily returned DataFrame keeps
them until interpreter exit (its checkpoints go when Spark's
ContextCleaner collects them). An iterative operator need not wait for
either: ``free`` drops a round's checkpoint once the next round is
materialized.

This module is the one place that persists or checkpoints: operators
cache an intermediate only through ``materialize``,
``materialize_tiny`` and ``checkpoint``.

Persisted relations are counted per plan: Spark's CacheManager keeps
one entry for equal plans, so a release unpersists a plan only when no
other persist of it is still counted (another call's, or one made
outside any scope, which is never released). A checkpoint needs no
count: each one makes its own RDD.
"""

from __future__ import annotations

import contextlib
import shutil
import threading
from collections import Counter
from collections.abc import Iterator
from contextvars import ContextVar
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel


@dataclass
class CallScope:
    dirs: list[str] = field(default_factory=list)
    #: (session, name) of catalog tables.
    tables: list[tuple[SparkSession, str]] = field(default_factory=list)
    #: (session, name) of in-memory Derby databases.
    derby: list[tuple[SparkSession, str]] = field(default_factory=list)
    #: (plan hash, relation) of persisted relations.
    cached: list[tuple[int, DataFrame]] = field(default_factory=list)
    #: DataFrames returned by ``checkpoint``.
    checkpoints: list[DataFrame] = field(default_factory=list)

    def release(self) -> None:
        """Drop the tables and Derby databases, remove the directories,
        free the checkpoints' blocks and unpersist the relations no
        other persist still counts."""
        for spark, table in self.tables:
            spark.sql(f"DROP TABLE IF EXISTS {table}")
        for spark, db in self.derby:
            jvm = spark._jvm
            try:  # Derby reports a successful drop as an SQLException.
                jvm.org.apache.derby.iapi.jdbc.AutoloadedDriver().connect(
                    f"jdbc:derby:memory:{db};drop=true", jvm.java.util.Properties()
                )
            except Py4JJavaError:
                pass
        for path in self.dirs:
            shutil.rmtree(path, ignore_errors=True)
        for df in self.checkpoints:
            free(df)
        with _CACHE_LOCK:
            for key, df in self.cached:
                _CACHE_REFS[key] -= 1
                if not _CACHE_REFS[key]:
                    del _CACHE_REFS[key]
                    df.unpersist()


_CURRENT: ContextVar[CallScope | None] = ContextVar("call_scope", default=None)
_CACHE_REFS: Counter[int] = Counter()
_CACHE_LOCK = threading.Lock()


def current() -> CallScope | None:
    """The scope of the query call running in this context, if any."""
    return _CURRENT.get()


@contextlib.contextmanager
def opened() -> Iterator[CallScope]:
    """Make a new scope current for the enclosed block."""
    made = CallScope()
    token = _CURRENT.set(made)
    try:
        yield made
    finally:
        _CURRENT.reset(token)


def materialize(df: DataFrame) -> DataFrame:
    """Persist a multiply-referenced intermediate (MEMORY_AND_DISK).

    The LSH pipelines reference their shingle/candidate relations
    several times (self-joins reference them twice); without
    materialization Catalyst re-expands the whole subtree per reference
    — ngram_jaccard's un-persisted plan contained 44 parquet scans.
    Spark's CacheManager dedupes by canonicalized plan, so repeated
    calls share one cache entry. At 100 TB the same role is played by
    checkpointing the (corpus-fraction-sized) relation to storage.

    The persist is counted and recorded in the current scope. The
    count is taken before the persist, so a concurrent release of the
    same plan either sees it and keeps the cache, or has already
    unpersisted and this persist makes a new entry.
    """
    key = df.semanticHash()
    with _CACHE_LOCK:
        _CACHE_REFS[key] += 1
    made = _CURRENT.get()
    if made is not None:
        made.cached.append((key, df))
    return df.persist(StorageLevel.MEMORY_AND_DISK)


def materialize_tiny(df: DataFrame) -> DataFrame:
    """Persist a BOUNDED multiply-referenced relation on one partition.

    Reserved for relations whose cardinality is FIXED at any corpus
    scale (k event types, ≤ 7 weekdays, max_lag rows, |brands|² edges
    — the same boundedness argument that lets the stats tier broadcast
    them; width-parameterised bucket-grain rollups do NOT qualify and
    use plain ``materialize``). A plain persist is wasteful here: the
    cache materializes (and every downstream stage re-reads) at the
    full shuffle width, so each tiny consumer stage pays a cores-wide
    task wave to move a handful of rows (round-12 optimization, guide
    §2.2 "fewer, larger reduce partitions" taken to its
    bounded-relation limit).

    ``repartition(1)``, not ``coalesce(1)`` (round-13, VERDICT r12):
    coalesce on top of an aggregation collapses the final merge stage
    itself to one task — that task reads every upstream map task's
    partial output (~10⁶ × k rows at 100 TB). The extra k-row
    round-robin exchange keeps the aggregation merge at its
    AQE-chosen width and funnels only the k RESULT rows to the
    single-partition cache layout."""
    return materialize(df.repartition(1))


def checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """Checkpoint an intermediate (truncate its lineage) with
    ``localCheckpoint``, which stores blocks in executor memory/disk.

    ``eager=False`` still truncates the logical plan immediately (the
    DataFrame is backed by the checkpoint RDD either way) but defers
    materialization to the caller's next action — an iterative loop
    that already runs a periodic action (convergence count) then pays
    ONE job per check instead of one blocking checkpoint job per round
    (round-12 optimization; the connected_components lesson).

    The result is recorded in the current scope, whose release frees
    the checkpoint's blocks.
    """
    out = df.localCheckpoint(eager=eager)
    made = _CURRENT.get()
    if made is not None:
        made.checkpoints.append(out)
    return out


def free(df: DataFrame) -> None:
    """Free the blocks of a DataFrame ``checkpoint`` returned, before
    its scope's release. Only for a checkpoint nothing reads again: it
    has no lineage to recompute from. Freeing twice is harmless."""
    # A checkpointed DataFrame's plan is a LogicalRDD over the
    # checkpoint RDD.
    df._jdf.queryExecution().logical().rdd().unpersist(False)
