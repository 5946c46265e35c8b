"""Property-graph construction from relational tables.

The reference materializes node/edge CSVs and bulk-loads Neo4j
(README.md:11, writeup p.2); here the graph IS a pair of DataFrames —
vertices and directed edge lists — and the algorithms in
:mod:`.algorithms` run on them inside the same Spark job.  No external
graph database.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import artifact
from ..sources import read_table


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
    weight)."""
    return artifact(spark, sf_dir, "weighted", lambda: _weighted_edges(spark, sf_dir))


def _weighted_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
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

    li = read_table(spark, sf_dir, "lineitem")
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
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
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
        chunked_pair_expand(sup, "ss", chunk=4096, max_size=st["max_deg"] or 0)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("weight"))
    )
    edges = upper.unionByName(
        upper.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "weight")
    )
    edges._cyber_symmetric = True  # mirror union emits both directions
    edges._cyber_rows = 2 * st_upper["n"]  # the mirror rows are disjoint (src < dst)
    # the pinned src < dst half: one-orientation consumers read it instead
    # of scanning the mirror only to filter it away
    edges._cyber_upper = upper
    return edges
