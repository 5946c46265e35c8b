"""SparkSession factory.

One engine entry point (SURVEY.md §7.1 phase 0): every test, bench run and
driver invocation goes through :func:`get_spark` so the scale-relevant knobs
live in exactly one place.

Design notes for the 100 TB target (tested on local[N]):

- AQE on: runtime shuffle-partition coalescing, skew-join splitting and
  dynamic broadcast conversion replace hand-tuned partition counts when the
  real cluster sees skewed keys.
- ``spark.sql.shuffle.partitions`` defaults to the local core count; on a
  real cluster this is overridden (or simply left to AQE's coalescing with a
  high initial value).
- Arrow enabled so every pandas UDF / ``applyInPandas`` crosses the
  JVM↔Python boundary in columnar batches, never row-at-a-time pickling.
- Session timezone pinned to UTC so timestamp semantics are reproducible
  and match the DuckDB oracle.
"""

from __future__ import annotations

import os
import threading as _threading
import time as _time

from pyspark.sql import SparkSession


def _local_cores() -> int:
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "") or os.cpu_count() or 8)
    except ValueError:
        return os.cpu_count() or 8


def get_spark(app_name: str = "cyber-etl-spark", **extra_conf: str) -> SparkSession:
    """Build (or fetch) the singleton SparkSession.

    ``extra_conf`` lets tests/bench override any config key
    (dots allowed via keyword splat of a dict).
    """
    cores = _local_cores()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_MASTER", f"local[{cores}]"))
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # TIMESTAMP(NANOS) parquet columns (one events layout) read as
        # long; sources.read_table floors them to µs
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    # isolate the table warehouse per process when asked (scripts/partest.py
    # shards the suite across JVMs; saveAsTable data must not collide)
    wh = os.environ.get("SPARK_GRAFT_WAREHOUSE")
    if wh:
        builder = builder.config("spark.sql.warehouse.dir", wh)
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(spark: SparkSession, data, schema):
    """A driver-side table as a Spark frame — the one way driver data
    enters a plan.

    ``data`` is rows (a sequence of row sequences) or columns (a mapping
    from column name to a sequence or ndarray); ``schema`` is a
    StructType or a DDL string and is kept as declared, nullability
    included.  Each column becomes one ``pa.array`` of the schema's
    Arrow type, and the Arrow table plans as a ``LocalRelation`` at
    every size, empty and with array columns included: broadcasting or
    materializing it is pure JVM.  ``createDataFrame`` of Python rows
    is an RDD-backed ``LogicalRDD`` whose every consumer pays
    Python-worker round trips, and rendering values into SQL text
    re-parses them per plan; neither is used.

    Decimal columns take Python ints or ``Decimal`` values, never an
    int64 ndarray (Arrow refuses that conversion)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    if isinstance(data, dict):
        cols = [data[f.name] for f in schema.fields]
    else:
        cols = list(zip(*data)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)


def session_token(spark: SparkSession) -> str:
    """Session-lifetime cache key.

    Memoization caches (edge builds, shingle tables, backbones) must not
    key on ``id(spark)``: a garbage-collected session's address can be
    reused by a new session object whose executors no longer hold the old
    localCheckpoint blocks — a stale-alias hazard.  The application id is
    unique per SparkContext lifetime."""
    return spark.sparkContext.applicationId


# Datasets (``sf_dir``s) whose artifacts the store holds at once.  A
# registry pass builds ~40 artifacts per dataset, so the bound counts
# datasets, not entries: an entry cap would evict and rebuild mid-pass.
_MAX_DATASETS = 4


class SessionMemo(dict):
    """The artifact store: ``(session_token, sf_dir, name, *params)`` →
    artifact, written only through :func:`artifact`.

    A plain dict never evicts: entries of a *stopped* session pin dead
    DataFrame plans (and their localCheckpoint RDD handles) forever, and
    a long-lived service cycling many datasets grows without bound.
    Eviction therefore happens on write, where the current session is
    known:

    - **dead-session purge**: PySpark allows one live SparkContext per
      process, so any entry whose token differs from the key being
      inserted belongs to a stopped session — dropped.
    - **dataset bound**: inserting a key for a dataset beyond the
      ``_MAX_DATASETS`` held drops the oldest dataset's artifacts whole.
    """

    def __setitem__(self, key, value) -> None:
        tok, ds = key[0], key[1]
        stale = [k for k in self if k[0] != tok]
        held = list(dict.fromkeys(k[1] for k in self if k[0] == tok))
        if ds not in held and len(held) >= _MAX_DATASETS:
            stale += [k for k in self if k[0] == tok and k[1] == held[0]]
        for k in stale:
            super().__delitem__(k)
        super().__setitem__(key, value)


_ARTIFACTS = SessionMemo()
# Guards store lookups and inserts (with their purges) only — never a
# build, because builds nest (symw -> w -> weighted edges).
_ARTIFACTS_LOCK = _threading.Lock()
# label -> seconds of the latest build, and label -> number of builds
# (a rebuild after eviction shows as a count of 2); bench.py publishes both.
BUILD_LOG: "dict[str, float]" = {}
BUILD_COUNT: "dict[str, int]" = {}


def artifact(spark: SparkSession, sf_dir: str, name: str, build, *params):
    """The shared artifact ``name`` (with ``params``) of dataset
    ``sf_dir`` in this session: ``build()`` runs on the first request,
    every later one returns the same object until it is evicted.

    The build runs outside the store lock and is timed into ``BUILD_LOG``
    under ``basename(sf_dir):name[:params]``.  A build that raises
    stores and logs nothing."""
    key = (session_token(spark), sf_dir, name, *params)
    with _ARTIFACTS_LOCK:
        if key in _ARTIFACTS:
            return _ARTIFACTS[key]
    t0 = _time.perf_counter()
    value = build()
    secs = round(_time.perf_counter() - t0, 4)
    label = ":".join(
        [os.path.basename(os.path.normpath(sf_dir)), name, *map(str, params)]
    )
    with _ARTIFACTS_LOCK:
        _ARTIFACTS[key] = value
        BUILD_LOG[label] = secs
        BUILD_COUNT[label] = BUILD_COUNT.get(label, 0) + 1
    return value
