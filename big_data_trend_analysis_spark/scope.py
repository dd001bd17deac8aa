"""What one query call makes, and its release.

Every ``QUERIES`` call runs inside a ``CallScope``
(``plans/registry._in_child_sessions`` opens it). The scope records
the call's temp directories, catalog tables and in-memory Derby
databases (made by the registry's side-effecting gate queries) and the
relations ``operators/dedup._materialize`` persists. ``release``
removes all of them; ``registry.run`` calls it once the rows are
collected, while a lazily returned DataFrame keeps them until
interpreter exit.

Persisted relations are counted per plan: Spark's CacheManager keeps
one entry for equal plans, so a release unpersists a plan only when no
other persist of it is still counted (another call's, or one made
outside any scope, which is never released).
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

    def release(self) -> None:
        """Drop the tables and Derby databases, remove the directories
        and unpersist the relations no other persist still counts."""
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


def persist(df: DataFrame, level: StorageLevel) -> DataFrame:
    """``df.persist(level)``, counted and recorded in the current scope.

    The count is taken before the persist, so a concurrent release of
    the same plan either sees it and keeps the cache, or has already
    unpersisted and this persist makes a new entry.
    """
    key = df.semanticHash()
    with _CACHE_LOCK:
        _CACHE_REFS[key] += 1
    made = _CURRENT.get()
    if made is not None:
        made.cached.append((key, df))
    return df.persist(level)
