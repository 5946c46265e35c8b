"""TextRank over a bounded word co-occurrence graph — the q223/forecast
one-task-iteration pattern applied to graph centrality.

TextRank's node set is the VOCABULARY, not the corpus: corpus-scale
work (tokenize, co-occurrence counting, degree sums) stays distributed,
but iterating PageRank over a bounded vocabulary graph as Pregel
supersteps would pay ~10 scheduled shuffle rounds for a table that fits
in one Arrow batch (the q223 PCA lesson: bounded iteration state must
not loop as distributed supersteps).  This kernel replays the damped
recurrence in ONE mapInPandas task over the coalesced edge list.

Cross-engine exactness: ranks are EXACT INTEGERS in 1e-12 units; each
neighbor contribution is half-away integer division
((2·w·r_u + deg_u) div (2·deg_u)) and the damping update is
0.15·1e12 + half-away(17·S/20) — pure integer arithmetic that Python
big-ints and DuckDB HUGEINT evaluate bit-identically, so the unrolled
recursive-CTE oracle pins every iteration with no float anywhere.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame

# bounded-vocabulary contract: the edge list must fit one task — refuse
# rather than OOM (the exact_quantiles / forecast guard lesson)
_MAX_EDGE_ROWS = 2_000_000


def textrank_scores(edges: DataFrame, iterations: int = 5) -> DataFrame:
    """Damped PageRank (d = 0.85) over a symmetric weighted edge table
    ``(u, v, w, du)`` — ``du`` = u's weighted degree — returning one row
    per node: ``(word, r_units)`` where ``r_units`` is the final rank in
    exact 1e-12 integer units (callers round for display).

    All nodes start at 1e12 units; per iteration every node's incoming
    mass is S_v = Σ_u ha(w_uv·r_u / du) and
    r_v = 0.15e12 + ha(0.85·S_v), with ha = half-away integer division.
    The edge table must be symmetric (every u also appears as a v), so
    the node set is exactly the distinct u values.
    """
    schema = "word string, r_units decimal(38,0)"

    def kernel(batches):
        chunks = list(batches)
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        if len(pdf) > _MAX_EDGE_ROWS:
            raise ValueError(
                f"textrank_scores: {len(pdf)} edge rows exceed the "
                f"bounded-vocabulary contract ({_MAX_EDGE_ROWS}); the "
                "node set must be a vocabulary, never the corpus"
            )
        # plain Python ints end-to-end (arbitrary precision — the
        # HUGEINT twin of the oracle's arithmetic)
        rows = [
            (str(u), str(v), int(w), int(du))
            for u, v, w, du in zip(pdf["u"], pdf["v"], pdf["w"], pdf["du"])
        ]
        nodes = sorted({u for u, _, _, _ in rows})
        r = {u: 10**12 for u in nodes}
        for _ in range(iterations):
            s = dict.fromkeys(nodes, 0)
            for u, v, w, du in rows:
                s[v] += (2 * w * r[u] + du) // (2 * du)
            r = {v: 150_000_000_000 + (2 * 17 * s[v] + 20) // 40 for v in nodes}
        yield pd.DataFrame(
            {"word": nodes, "r_units": [r[u] for u in nodes]}
        )

    one_task = edges.select("u", "v", "w", "du").coalesce(1).limit(_MAX_EDGE_ROWS + 1)
    return one_task.mapInPandas(kernel, schema)
