"""Bucketed tables — shuffle-free co-located joins.

At 100 TB the dominant cost of a fact-fact join is shuffling both sides
on the join key.  Writing both tables bucketed by that key
(``bucketBy(N, key).sortBy(key)``) pre-co-locates matching rows: Spark's
planner drops the Exchange on both sides and sort-merge-joins bucket
files directly.  This module wraps the write/read discipline; the test
asserts the Exchange really disappears from the physical plan.
"""

from __future__ import annotations

import hashlib
import os
import threading

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_key: str,
    n_buckets: int = 8,
    mode: str = "overwrite",
) -> None:
    (
        df.write.mode(mode)
        .bucketBy(n_buckets, bucket_key)
        .sortBy(bucket_key)
        .format("parquet")
        .saveAsTable(table)
    )


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, key: str, how: str = "inner"
) -> DataFrame:
    """Join two same-bucketed tables on their bucket key: with matching
    bucket counts neither side shuffles."""
    return spark.table(left_table).join(spark.table(right_table), key, how)


# ---- ensure-build lifecycle for the q400 bucketed fact pair -------------

from ..session import artifact  # noqa: E402

_PAIR_LOCK = threading.Lock()


def _dataset_digest(sf_dir: str, tables: tuple[str, ...]) -> str:
    """Identity of the source parquet files: path + size + mtime_ns (the
    statcat.catalog_path freshness rule — size alone would alias a
    regenerated dataset of identical byte length)."""
    h = hashlib.md5(os.path.abspath(sf_dir).encode())
    for t in tables:
        p = os.path.join(sf_dir, f"{t}.parquet")
        try:
            st = os.stat(p)
            h.update(f"{t}:{st.st_size}:{st.st_mtime_ns}".encode())
        except OSError:
            h.update(f"{t}:?".encode())
    return h.hexdigest()[:12]


def ensure_bucketed_fact_pair(
    spark: SparkSession, sf_dir: str, n_buckets: int = 8
) -> tuple[str, str]:
    """Idempotent, concurrency-safe build of the bucketed
    (lineitem, orders) pair joined by q400: both sides bucketed AND
    sorted by the shared order key ``ok`` into ``n_buckets`` buckets, so
    the sort-merge join consumes bucket files directly with no Exchange
    (and no per-task Sort when each bucket is a single sorted file).

    Lifecycle mirrors ``operators/statcat.ensure_catalog``: table names
    embed a (path, size, mtime) dataset digest so a regenerated dataset
    mints fresh tables; a module lock + per-(session, digest) artifact makes
    the threaded verification sweep race-safe (saveAsTable overwrite is
    NOT atomic, so the build itself must be serialized — the q380/q381
    race class).  Returns the two table names.

    Scale: this is the write-once/join-many discipline — at 100 TB the
    bucketed write costs one shuffle TOTAL, after which every key-joining
    consumer (and every groupBy on the bucket key) skips its Exchange.
    Column projection keeps the demo tables minimal; a production table
    would carry its full payload — the bucket spec, not the column list,
    is what the planner consumes."""
    from . import read_table

    digest = _dataset_digest(sf_dir, ("lineitem", "orders"))
    li_tbl = f"bkt_li_{digest}_{n_buckets}"
    ord_tbl = f"bkt_ord_{digest}_{n_buckets}"

    def build():
        with _PAIR_LOCK:
            if not (
                spark.catalog.tableExists(li_tbl) and spark.catalog.tableExists(ord_tbl)
            ):
                # a PREVIOUS process (in-memory catalog, so table registrations
                # die with the session) may have left the managed locations
                # behind — saveAsTable refuses to reuse them
                # (LOCATION_ALREADY_EXISTS).  The tables are derived artifacts
                # of this function alone, so clearing an orphaned location and
                # rebuilding is always safe.
                import shutil

                wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
                wh_local = wh.removeprefix("file:")
                for t in (li_tbl, ord_tbl):
                    if not spark.catalog.tableExists(t):
                        shutil.rmtree(os.path.join(wh_local, t), ignore_errors=True)
                li = read_table(spark, sf_dir, "lineitem").selectExpr(
                    "l_orderkey AS ok", "l_extendedprice", "l_discount", "l_returnflag"
                )
                orders = read_table(spark, sf_dir, "orders").selectExpr(
                    "o_orderkey AS ok", "o_orderpriority"
                )
                write_bucketed(li, li_tbl, "ok", n_buckets)
                write_bucketed(orders, ord_tbl, "ok", n_buckets)
        return li_tbl, ord_tbl

    return artifact(spark, sf_dir, "bucketed_pair", build, digest, n_buckets)
