"""Table catalog over the driver's synthetic parquet layout.

The engine's canonical columnar format is Parquet (the reference's feather
checkpoints → parquet; SURVEY.md §2.1 S7/S12).  Reads are plain
``spark.read.parquet`` so Catalyst gets predicate pushdown, column pruning
and partition pruning for free; the footer schema is resolved once per
file version and passed explicitly afterwards.

At 100 TB the same call reads a partitioned directory tree
(``.../lineitem/ship_year=1995/...``); nothing in the query layer changes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# (applicationId, path, st_mtime_ns, st_size) -> resolved StructType.
# The schema is cached, never the DataFrame: a query that reads one
# table twice and self-joins it (q191) needs two distinct relations.
_SCHEMAS: dict[tuple, StructType] = {}
_NANOS = "spark.sql.legacy.parquet.nanosAsLong"


def table_path(sf_dir: str, name: str) -> str:
    """The path :func:`read_table` reads: ``<dir>/<name>.parquet`` when
    it exists, else the ``<dir>/<name>/`` directory."""
    flat = os.path.join(sf_dir, f"{name}.parquet")
    return flat if os.path.exists(flat) else os.path.join(sf_dir, name)


def footer_rows(sf_dir: str, name: str) -> "int | None":
    """The row count of table ``name`` read from its parquet footers on
    the driver (no Spark job), or None when the path is not readable
    here (a remote store: Spark resolves it)."""
    import pyarrow.dataset as ds

    try:
        return ds.dataset(table_path(sf_dir, name), format="parquet").count_rows()
    except (OSError, ValueError):
        return None


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one catalog table. Accepts either ``<dir>/<name>.parquet``
    (driver layout) or a ``<dir>/<name>/`` partitioned directory.

    The schema is resolved once per (session, path, file version) and
    later reads pass it explicitly, which skips the one-task schema job
    ``spark.read.parquet`` otherwise submits on every call.  Rewriting
    the file changes its mtime and size, so the next read re-resolves.

    The events table's ``ts`` physical type has varied across driver data
    generations — TIMESTAMP(NANOS) (vectorized reader rejects it; read nanos
    as long via the legacy conf and floor to µs like DuckDB does) and naive
    TIMESTAMP(MICROS) (Spark infers TIMESTAMP_NTZ).  Both are normalized to
    the session-local TIMESTAMP type here so every downstream plan sees one
    timestamp semantics; the session timezone is pinned to UTC
    (session.get_spark), so the NTZ→LTZ cast is value-preserving and matches
    DuckDB's naive-timestamp reading of the same file.
    """
    path = table_path(sf_dir, name)
    try:
        st = os.stat(path)
        key = (spark.sparkContext.applicationId, path, st.st_mtime_ns, st.st_size)
    except OSError:  # not a local path (or missing): Spark resolves it
        key = None
    schema = _SCHEMAS.get(key)
    if schema is None:
        # get_spark sets the legacy conf; a session built elsewhere gets
        # it here, once, before its first footer is read
        if spark.conf.get(_NANOS, "false") != "true":
            spark.conf.set(_NANOS, "true")
        df = spark.read.parquet(path)
        if key is not None:
            _SCHEMAS[key] = df.schema
    else:
        df = spark.read.schema(schema).parquet(path)
    for f in df.schema.fields:
        if f.name == "ts" and f.dataType.simpleString() == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif f.name == "ts" and f.dataType.simpleString() == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Read every catalog table and register each as a temp view so the
    same workload can be written in either DataFrame or SQL form."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        df = read_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
