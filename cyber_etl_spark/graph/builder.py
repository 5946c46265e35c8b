"""Property-graph construction from relational tables.

The reference materializes node/edge CSVs and bulk-loads Neo4j
(README.md:11, writeup p.2); here the graph IS a pair of DataFrames —
vertices and directed edge lists — and the algorithms in
:mod:`.algorithms` run on them inside the same Spark job.  No external
graph database.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import artifact
from ..sources import read_table
from ..sources.catalog import footer_rows

# Set size past which the distributed pair expansion scatters a part's
# supplier set as chunk pairs (operators/skew.chunked_pair_expand).
_PAIR_CHUNK = 4096
# Pair codes held between np.bincount flushes in the driver count (32 MB).
_BINCOUNT_CHUNK = 1 << 22


def co_supply_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric supplier–supplier edges: two suppliers are connected when
    they supply at least one common part (via lineitem).

    Mirrors the reference's implicit co-occurrence graphs (alert–actor
    MENTIONED weights, data_integration.ipynb:2783).  Built as
    distinct-project → self-equi-join on the part key — the join shuffles
    on ``l_partkey`` which is high-cardinality and evenly distributed, so
    this scales linearly; hot parts (skewed keys) are split by AQE.
    """
    # projection of the weighted build: one expensive self-join serves the
    # whole graph-query suite (weighted rows are exactly the distinct
    # pairs), materialized once per (session, dataset).
    def build():
        weighted = co_supply_edges_weighted(spark, sf_dir)
        edges = weighted.select("src", "dst")
        edges._cyber_symmetric = True  # both directions present by construction
        edges._cyber_rows = weighted._cyber_rows
        return edges

    return artifact(spark, sf_dir, "edges", build)


def co_supply_edges_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, dst, weight) — weight = number of distinct co-supplied
    parts.  The weighted analogue of :func:`co_supply_edges`, mirroring
    the reference's weighted MENTIONED edges (data_integration.ipynb:2783
    cell 49 computes per-edge weights for the GDS projection).
    Symmetric by construction (both directions emitted with equal
    weight).  Under the cap the i<j half is the driver counts of
    :func:`co_supply_counts`; past it, the distributed build."""

    def build():
        from .algorithms import _from_driver

        counts = co_supply_counts(spark, sf_dir)
        if counts is None:
            return _weighted_edges(read_table(spark, sf_dir, "lineitem"))
        return _mirrored(_from_driver(spark, counts))

    return artifact(spark, sf_dir, "weighted", build)


def co_supply_counts(
    spark: SparkSession, sf_dir: str
) -> "dict[str, np.ndarray] | None":
    """The co-supply graph's i<j half as driver arrays ``{src, dst,
    weight}`` sorted by (src, dst), or None when ``lineitem`` or its
    supplier-pair bound is past ``_BCAST_MAX_ROWS`` — the one point
    where every co-supply artifact picks the driver build or the
    distributed one, so a session scans ``lineitem`` for it once.
    A ``lineitem`` whose parquet footers already count more rows than
    the cap is refused with no Spark job."""
    from .algorithms import _BCAST_MAX_ROWS

    def build():
        rows = footer_rows(sf_dir, "lineitem")
        if rows is not None and rows > _BCAST_MAX_ROWS:
            return None
        return _driver_pair_counts(read_table(spark, sf_dir, "lineitem"))

    return artifact(spark, sf_dir, "pairs", build)


def _driver_pair_counts(li: DataFrame) -> "dict[str, np.ndarray] | None":
    """Count the i<j supplier pairs per part of ``li`` (l_partkey,
    l_suppkey) on the driver, or None past either bound of the cap.

    The collect is bounded (``limit(cap + 1)`` over one task), so the
    driver never holds more than cap + 1 rows, and the pair counts are
    refused when S(S−1)/2 > cap for S distinct suppliers, which bounds
    the count array too.  Pairs are deduplicated in numpy (a Spark ``distinct``
    before the collect costs a shuffle), then each part's sorted
    supplier run pairs position t with position t + d, one pass per d
    over the rows whose run still reaches that far — work proportional
    to the pair instances, however hot one part is — and the
    ``i·S + j`` codes go through ``np.bincount`` a bounded chunk at a
    time.  NULL keys pair with nothing, as in an equi-join."""
    from . import algorithms

    cap = algorithms._BCAST_MAX_ROWS
    # one task reads until cap + 1 rows, however many splits the table has
    tab = li.select("l_partkey", "l_suppkey").coalesce(1).limit(cap + 1).toArrow()
    if tab.num_rows > cap:
        return None
    tab = tab.drop_null()
    sids, si = np.unique(tab.column("l_suppkey").to_numpy(), return_inverse=True)
    n_sup = len(sids)
    if n_sup * (n_sup - 1) // 2 > cap:
        return None
    _, pi = np.unique(tab.column("l_partkey").to_numpy(), return_inverse=True)
    code = np.unique(pi.astype("int64") * n_sup + si)  # sorted (part, supplier)
    part, sup = code // n_sup, code % n_sup
    start = np.flatnonzero(np.r_[True, part[1:] != part[:-1]])
    run = np.diff(np.r_[start, len(part)])
    after = np.repeat(start + run, run) - np.arange(len(part)) - 1  # run rows after
    counts = np.zeros(n_sup * n_sup, "int64")
    pending, held = [], 0
    idx, d = np.flatnonzero(after > 0), 1
    while idx.size:
        pending.append(sup[idx] * n_sup + sup[idx + d])  # i < j: runs are sorted
        held += idx.size
        d += 1
        idx = idx[after[idx] >= d]
        if held >= _BINCOUNT_CHUNK or not idx.size:
            counts += np.bincount(np.concatenate(pending), minlength=len(counts))
            pending, held = [], 0
    nz = np.flatnonzero(counts)
    return {"src": sids[nz // n_sup], "dst": sids[nz % n_sup], "weight": counts[nz]}


def _weighted_edges(li: DataFrame) -> DataFrame:
    # One shuffle groups suppliers per part (collect_set dedupes), then the
    # i<j pair expansion happens IN-STAGE (posexplode + slice of the sorted
    # set) feeding straight into a partial hash agg — no self-join shuffle,
    # and only half the pairs are ever generated; the symmetric mirror is a
    # cheap union AFTER aggregation.  Skew guard at 100 TB: a part with k
    # suppliers would expand k²/2 rows in one task, so sets larger than
    # the chunk threshold are decomposed into chunk-pair rows and
    # scattered across the cluster (operators/skew.chunked_pair_expand)
    # — bounded task input regardless of the hottest key's degree.
    from ..operators.skew import chunked_pair_expand
    from .algorithms import _pin_counted

    # Materialize the per-part supplier sets BEFORE expansion: the
    # expansion plan references `sup` from multiple generator branches,
    # and without a checkpoint each branch re-runs the collect_set
    # aggregation over the fact table.  The max-degree statistic is
    # observed in the pin's own job.  The sets aggregate to a few MB,
    # which AQE would coalesce to 2 partitions — and the pair expansion
    # (k²/2 rows per set) would run in 2 tasks.  Hash-partitioning the
    # fact rows on the part key to the session's shuffle width instead
    # satisfies the aggregation's distribution (no extra exchange), and
    # a repartition to an explicit width is never coalesced: the pin and
    # the expansion run at full width.
    width = int(li.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    sup, st = _pin_counted(
        li.repartition(width, "l_partkey").groupBy(F.col("l_partkey").alias("p")).agg(
            F.sort_array(F.collect_set("l_suppkey")).alias("ss")
        ),
        max_deg=F.max(F.size("ss")),
    )
    upper, st_upper = _pin_counted(  # materialize the half; mirror is free
        # max_size: observed stat lets the operator drop the heavy-path
        # branches entirely when no key is actually skewed (the common
        # case); a genuinely hot part still takes the chunk-scatter path.
        chunked_pair_expand(sup, "ss", chunk=_PAIR_CHUNK, max_size=st["max_deg"] or 0)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("weight"))
    )
    upper._cyber_rows = st_upper["n"]
    return _mirrored(upper)


def _mirrored(upper: DataFrame) -> DataFrame:
    """Both directions of the pinned i<j half ``upper`` (whose count is
    its ``_cyber_rows``), marked symmetric and counted."""
    edges = upper.unionByName(
        upper.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "weight")
    )
    edges._cyber_symmetric = True  # mirror union emits both directions
    edges._cyber_rows = 2 * upper._cyber_rows  # the mirror rows are disjoint (src < dst)
    # the pinned src < dst half: one-orientation consumers read it instead
    # of scanning the mirror only to filter it away
    edges._cyber_upper = upper
    return edges
