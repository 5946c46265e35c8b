"""The two query workloads and the seeded order of each mix.

Each workload is a frozen panel of query names, so later registry additions
or retags cannot change it.  A run executes every query of its panel, in an
order drawn with ``random.Random`` seeded by the workload name and
``--seed``.  The panels are fixed rather than sampled from the registry's
whole relational (91) and graph (44) pools: a run has room for one cold pass
and a few warm passes of a few seconds each, so a mix holds only a handful
of queries, and query costs differ by up to 10x across each pool (graph
pairs drawn from the whole pool, even cost-matched ones, spread
``warm_pass_s`` by 0.27 of its median across ten seeds).  With the
composition fixed, the seed moves only the order.  Each panel is chosen to
reach the layers its workload stands for.
"""

from __future__ import annotations

import random

POOLS = {
    # Short scan/join/aggregate queries that each resolve their tables
    # through read_table: two of the paper's Cypher queries (q114, q118),
    # and one query each over the etl (q83) and prefix (q63) operator
    # kernels.  None builds a shared artifact.
    "relational": [
        "q114_gq_tag_histogram",
        "q118_gq_language_popularity",
        "q63_rank_distribution",
        "q83_scd2_intervals",
    ],
    # Superstep loops in the builder (k-core peeling, hop-limited
    # Bellman-Ford) over a shared backbone-graph artifact that the cold
    # pass builds (with the quantiles kernel) and the warm passes hit.
    # Neither DuckDB oracle finishes at sf0.1, so both are also checked
    # against their oracle at sf0.01.
    "graph_loops": [
        "q128_kcore",
        "q129_sssp",
    ],
}


def draw(workload: str, seed: int) -> list[str]:
    """The query mix for ``(workload, seed)``: same seed, same order."""
    pool = POOLS[workload]
    return random.Random(f"{workload}:{seed}").sample(pool, len(pool))

