"""SparkSession construction + runtime configuration.

Two entry paths:

- ``get_spark()``: build our own session (tests, bench) with scale-aware
  defaults (AQE on, shuffle partitions sized to the box, UTC).
- ``configure_runtime(spark)``: applied to ANY session — including the
  driver-owned one passed to ``__spark_entry__.entry`` — before reading
  fixtures. Only runtime-settable SQL confs go here. This is where the
  two correctness-critical confs live:

  * ``spark.sql.session.timeZone=UTC`` — fixture timestamps are NTZ /
    UTC; the DuckDB oracle is TZ-naive (FIXTURES.md).
  * ``spark.sql.legacy.parquet.nanosAsLong=true`` — ``events.parquet``
    stores ``ts`` as INT64 TIMESTAMP(NANOS) which Spark 4 otherwise
    refuses with PARQUET_TYPE_ILLEGAL (SURVEY.md §0).
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

# Runtime-settable confs applied to every session before fixture reads.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # sources/sf_datasource.py pushes the watermark bound into its scan;
    # without this Spark 4.1 rejects any read of a Python source that
    # implements pushFilters (DATA_SOURCE_PUSHDOWN_DISABLED).
    "spark.sql.python.filterPushdown.enabled": "true",
    # r13 OPT (guide §4.4's duplicated-expression trap, pure-JVM form):
    # InferFiltersFromGenerate adds `size(t) > 0 AND isnotnull(t)`
    # above every explode/posexplode while the array is still an alias;
    # predicate pushdown then SUBSTITUTES the full array-building
    # expression (tokenize / gram transform / sequence) into the filter
    # and pushes it below the exchange — so the expensive expression is
    # evaluated THREE times (twice in the filter, once in the project),
    # the filter copies running on the pre-shuffle side where a
    # single-split scan is single-core. The filter only pre-drops rows
    # explode drops anyway — excluding the rule cannot change any
    # result. Measured sf0.1 char-5 shingle explode: 3.16 s → 0.20 s
    # (16×); every gram/token/chunk explode path benefits, and at
    # 100 TB it removes 2× the corpus tokenize CPU from the scan side.
    "spark.sql.optimizer.excludedRules":
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8)))


# Confs that silently change query RESULTS if they don't hold — a failed
# set must not be swallowed (wrong timestamps are worse than a crash).
_CRITICAL_CONFS = ("spark.sql.session.timeZone", "spark.sql.legacy.parquet.nanosAsLong")


_SHIPPED_SESSIONS: set[str] = set()


def persist_once(df, level=None):
    """``df.persist(level)`` unless the CacheManager already holds this
    (canonicalized) plan — ``df.storageLevel`` performs that lookup
    even on a freshly-rebuilt DataFrame object. Re-persisting an
    already-cached plan is functionally idempotent but logs
    ``WARN CacheManager: Asked to cache already cached data`` on every
    re-entry (the bench's warmup + best-of-3 triples re-run identical
    entries), polluting the zero-WARN log discipline (VERDICT r8 #4).
    """
    from pyspark import StorageLevel

    if level is None:
        level = StorageLevel.MEMORY_AND_DISK
    if df.storageLevel == StorageLevel.NONE:
        return df.persist(level)
    return df


# r13 OPT: fanout's partition-count probe (``df.rdd.getNumPartitions``)
# physically plans the subplan — ~100 ms of driver work per call, paid
# on EVERY query build (the bench rebuilds each query per timed run).
# The count is a pure function of (session, analyzed plan), so it is
# memoized on the plan's semanticHash. A hash collision could only skip
# or add the repartition — a performance decision, never a correctness
# one (fanout is result-transparent). Reset when the application
# changes, like the load() memo.
_FANOUT_PARTS: dict[int, int] = {}
_FANOUT_APP: list[str] = [""]


def fanout(df, *keys: str):
    """Hash-repartition ``df`` to the session's default parallelism —
    but ONLY when its current plan would execute on fewer partitions
    (guide §2.5 "input skew / one huge unsplittable file: repartition
    immediately after the read"). The driver fixtures are single
    parquet files, so a scan is ONE split and any explode / gram build
    / Arrow crossing sitting directly on it runs single-core; at real
    scale a scan has thousands of splits and this gate never fires, so
    no exchange is added where the data already provides parallelism.

    Keyed (hash) repartition, not round-robin: deterministic under
    task retry (guide §2.5 SPARK-38388) and skips the
    sortBeforeRepartition local sort round-robin pays. Callers pass a
    high-cardinality key (e.g. doc_id).
    """
    spark = df.sparkSession
    app = spark.sparkContext.applicationId
    if app != _FANOUT_APP[0]:
        _FANOUT_PARTS.clear()
        _FANOUT_APP[0] = app
    par = spark.sparkContext.defaultParallelism
    key = df._jdf.queryExecution().analyzed().semanticHash()
    n = _FANOUT_PARTS.get(key)
    if n is None:
        n = df.rdd.getNumPartitions()
        _FANOUT_PARTS[key] = n
    if n >= par:
        return df
    from pyspark.sql import functions as F

    return df.repartition(par, *[F.col(k) for k in keys])


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on Python workers (UDF paths).

    The driver process may run from any cwd with the repo added to
    sys.path manually — Python workers inherit neither, so a pickled
    mapInPandas/pandas_udf that references this package would die with
    ModuleNotFoundError. Shipping a zip via addPyFile fixes any
    session, including the driver-owned one. On a real cluster the
    same call distributes the package to executors.
    """
    # applicationId is unique per SparkContext — id(spark) could be
    # reused by a new session after the old one is garbage-collected,
    # silently skipping addPyFile for the new context.
    key = spark.sparkContext.applicationId
    if key in _SHIPPED_SESSIONS:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    zip_path = os.path.join(
        tempfile.gettempdir(), f"{pkg_name}-pyfiles-{os.getpid()}.zip"
    )
    if not os.path.exists(zip_path):
        with zipfile.ZipFile(zip_path, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        arc = os.path.join(
                            pkg_name, os.path.relpath(full, pkg_dir)
                        )
                        zf.write(full, arc)
    spark.sparkContext.addPyFile(zip_path)
    _SHIPPED_SESSIONS.add(key)


def configure_runtime(spark: SparkSession) -> SparkSession:
    """Idempotently apply runtime confs to an existing session."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on some builds — verified below for critical ones
    for k in _CRITICAL_CONFS:
        actual = spark.conf.get(k, None)
        if actual != RUNTIME_CONFS[k]:
            raise RuntimeError(
                f"correctness-critical conf {k}={actual!r}, need {RUNTIME_CONFS[k]!r}"
            )
    _ship_package(spark)
    return spark


def get_spark(
    app_name: str = "salesforce-postgresql-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build a local session sized for this box.

    At 100 TB the same code runs unchanged on a real cluster: only
    ``master`` and the partition sizing confs change (see SCALE.md).
    """
    cores = default_parallelism()
    master = master or f"local[{cores}]"
    shuffle = shuffle_partitions or cores
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.default.parallelism", str(cores))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # UI off by default (port contention across parallel test
        # sessions); tests/shuffle_audit.py opts in to read the
        # /api/v1 stage-metrics endpoint.
        .config(
            "spark.ui.enabled",
            "true" if os.environ.get("SPARK_GRAFT_UI") == "true" else "false",
        )
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return configure_runtime(builder.getOrCreate())
