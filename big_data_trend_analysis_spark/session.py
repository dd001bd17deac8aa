"""SparkSession construction and tuning.

Scale posture: these configs are chosen so the same plans that pass the
sf0.01 correctness gate keep working on a 1000-executor cluster at
100 TB:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  broadcast demotion/promotion from runtime stats).
- ``spark.sql.shuffle.partitions`` sized to the local core count for
  tests; on a real cluster AQE's coalescing makes the initial number a
  ceiling, not a constant cost.
- Arrow execution for the (few) pandas UDFs.
- Session timezone pinned to UTC so event-time semantics are identical
  across driver, executors, and the DuckDB oracle.
- File listing fans out to at most the context's task slots
  (``defaultParallelism``: 4 on ``local[4]``, the total executor cores
  on a cluster). Spark lists a read of more than 32 paths in a Spark
  job of one task per path, up to 10,000 tasks. On ``local[4]`` (4-vCPU
  host) one trend query's batch of 300 backlog files was listed in a
  300-task job of 2.2 s, and with the bound in a 4-task job of
  0.09-0.15 s; with the once-per-batch hold in ``streaming/sinks.py``
  the drain fell from 5.2-5.6 s to 2.7-3.5 s, and perfbench
  trend_stream's backlog drain (two queries, 10 seeds) went from 12.7k
  to 26.2k events/s. Spark's 32-path threshold stays, so a cluster
  still lists in parallel.
"""

from __future__ import annotations

import os
import threading

from pyspark import SparkContext
from pyspark.sql import SparkSession

#: Defaults applied to every session the engine builds. Every one of
#: these is a stock Spark conf — no custom extensions (SURVEY.md §4.2:
#: no custom Catalyst rules are required for this capability surface).
ENGINE_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    # Driver testdata has stored events.ts as TIMESTAMP(NANOS) (read as
    # long + converted in sources/tables.py) and as naive TIMESTAMP(MICROS).
    # For the latter, Spark 4 would infer TIMESTAMP_NTZ, which breaks
    # epoch-seconds casts and diverges from the TIMESTAMP(LTZ) event-time
    # semantics the engine (and the DuckDB oracle, under the UTC session
    # timezone) uses — so inference is pinned off and naive micros read
    # as plain TIMESTAMP.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # parallelismFirst stays at the Spark DEFAULT (true): measured
    # round-12 (sf0.1, min-of-3), flipping it false serialized the
    # CPU-heavy byte-small reduce stages (tfidf_cosine_pairs 4.97 →
    # 8.18 s, dedup_minhash_check 1.98 → 2.41 s) for no offsetting win
    # — post-shuffle stages here are compute-bound long before they are
    # scheduling-bound. The advisory-size coalescing lesson lives where
    # byte-sized stages actually dominate (`aqe_coalesce_check` pins it
    # under its own confs).
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # AQE for CACHED plans too (stock conf, default false): without it
    # every persisted relation materializes — and every consumer
    # re-reads — at the fixed pre-AQE shuffle width, so the engine's
    # many small multiply-referenced caches (scope.materialize) paid
    # cores-wide task waves regardless of size (measured round-13:
    # sql_tpch_q2's ps cache 146 tasks → 62, the k-row stat caches
    # likewise). With it, AQE coalesces the cached plan's output by
    # BYTES — tiny relations collapse to few partitions, corpus-sized
    # ones stay wide. It does NOT replace ``scope.materialize_tiny``'s
    # repartition(1) for provably-bounded relations: an A/B at sf0.1
    # (local[4] on a 4-vCPU host, 3 alternating repetitions, rows
    # identical) with plain ``materialize`` in its place was slower on
    # 13 of the 16 queries that use it (friedman_test 1.35 → 2.06 s and
    # 21 → 32 jobs, pacf_by_type 1.32 → 1.71 s, kruskal_wallis 1.80 →
    # 2.06 s). Exchange reuse inside cached plans is unaffected;
    # results are unchanged (physical-only).
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # 10 MB default; dimension tables (region/nation/part at test SF)
    # broadcast automatically, and `broadcast()` hints cover the rest.
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # Read-side parallelism: one task per ~128 MB of parquet, the sweet
    # spot for the vectorized reader at cluster scale too.
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.parquet.filterPushdown": "true",
    # Pre-AQE shuffle width. Parameterised (SPARK_GRAFT_SHUFFLE_PARTITIONS)
    # because the right value is scale-dependent: the local default (32,
    # one per bench core) is a CEILING that AQE's coalescing then adapts
    # downward per stage; a cluster deployment sets it to ~2-3× total
    # cores and lets the same coalescing do the rest.
    "spark.sql.shuffle.partitions": os.environ.get(
        "SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"
    ),
}


#: Application ids of the SparkContexts the package was shipped to.
_SHIPPED: set[str] = set()
_SHIP_LOCK = threading.Lock()


def _package_zip() -> str:
    """Zip this package into the temp dir, once per source version."""
    import hashlib
    import pathlib
    import tempfile
    import zipfile

    pkg_dir = pathlib.Path(__file__).resolve().parent
    # Content-hash the zip name so edited package code always re-ships:
    # a uid-only name would let os.path.exists short-circuit and send a
    # stale zip to executors after a source change.
    sources = sorted(pkg_dir.rglob("*.py"))
    digest = hashlib.sha256()
    for py in sources:
        digest.update(str(py.relative_to(pkg_dir)).encode())
        digest.update(py.read_bytes())
    zip_path = os.path.join(
        tempfile.gettempdir(),
        f"bdta_spark_pkg_{os.getuid()}_{digest.hexdigest()[:16]}.zip",
    )
    if not os.path.exists(zip_path):
        tmp = zip_path + f".tmp{os.getpid()}"
        with zipfile.ZipFile(tmp, "w") as zf:
            for py in sources:
                zf.write(py, os.path.join(pkg_dir.name, py.relative_to(pkg_dir)))
        os.replace(tmp, zip_path)
    return zip_path


def _context(spark: SparkSession) -> SparkContext | None:
    """The session's SparkContext, or None on Spark Connect, which has
    none (pyspark 3.5 raises NotImplementedError there, 4.x
    AttributeError)."""
    try:
        return spark.sparkContext
    except (AttributeError, NotImplementedError):
        return None


def ship_package(spark: SparkSession) -> None:
    """Make this package importable on executor python workers.

    ``addPyFile``s the package zip — the same mechanism that ships code
    to a real cluster's executors, so pandas-UDF/mapInPandas plans work
    no matter where the driver process started or how workers are
    spawned. Ships once per SparkContext: every ``addPyFile`` call
    appends to the includes sent with each Python UDF and to the
    driver's ``sys.path``, even for a zip the context already has.
    """
    sc = _context(spark)
    if sc is None:
        # Workers on Spark Connect get code via the session's artifact
        # API instead.
        try:
            spark.addArtifacts(_package_zip(), pyfile=True)
        except Exception:
            pass
        return
    with _SHIP_LOCK:
        if sc.applicationId not in _SHIPPED:
            sc.addPyFile(_package_zip())
            _SHIPPED.add(sc.applicationId)


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine confs to ``spark`` and return it.

    Every ``QUERIES`` call applies this to its own child session
    (``plans/registry.py``), so a query always plans under
    ``ENGINE_CONF`` whether the caller's session was built by
    ``get_spark`` or by any other caller, and the caller's own
    confs are left as they are. Only runtime-mutable confs are touched;
    static ones (already-started executor settings) are left alone.
    The listing fan-out is bounded to the context's
    ``defaultParallelism`` (skipped on Spark Connect, which has no
    SparkContext). The package is shipped to executors once per
    SparkContext.
    """
    confs = dict(ENGINE_CONF)
    sc = _context(spark)
    if sc is not None:
        confs["spark.sql.sources.parallelPartitionDiscovery.parallelism"] = str(
            sc.defaultParallelism
        )
    for key, value in confs.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # Static conf on a running session — keep whatever it has.
            pass
    ship_package(spark)
    return spark


def get_spark(app_name: str = "bdta-spark", master: str | None = None) -> SparkSession:
    """Build (or get) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` for local runs;
    on a cluster, leave it unset and let spark-submit decide.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    for key, value in ENGINE_CONF.items():
        builder = builder.config(key, value)
    # Local-mode niceties; harmless on a cluster.
    builder = builder.config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    builder = builder.config("spark.ui.enabled", "false")
    spark = builder.getOrCreate()
    return tune_session(spark)
