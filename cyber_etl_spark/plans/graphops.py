"""Graph-layer queries — SURVEY.md §2.11 (the Cypher/GDS workload).

The reference answered these inside Neo4j + GDS; here the graph is a pair
of DataFrames and the algorithms are DataFrame-iterative (graph/
algorithms.py).  Oracles for the iterative algorithms are generated by
*unrolling* the fixed iteration count into chained DuckDB CTEs — same
dataflow, same arithmetic, so results match to 1e-6 rounding.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..graph.algorithms import connected_components, label_propagation, pagerank
from ..graph.builder import co_supply_edges
from ..session import artifact, local_frame
from ..sources import read_table
from .registry import query
from .textops import _JACCARD_FROM_COMMON, _SHINGLES_CTE


def _cached_lpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 4-superstep LPA community table on the co-supply graph,
    materialized once per (session, dataset) — q30 reports it, q43
    scores it (q100's LPA runs on the sparse backbone, a different
    graph, so it stays separate).  A community assignment is
    the canonical persisted artifact of a community run (the reference
    WRITES it back to Neo4j: gds.louvain.write); recomputing it per
    query was pure waste."""
    return artifact(
        spark, sf_dir, "lpa4",
        lambda: label_propagation(co_supply_edges(spark, sf_dir), iterations=4),
    )


def _cached_louvain1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Level-1 Louvain labels on the co-supply graph, built once per
    (session, dataset): q51 reports them and q101's hierarchy refines
    them — level 1 dominates the hierarchy's cost."""
    from ..graph.algorithms import louvain_level

    return artifact(
        spark, sf_dir, "louvain3",
        lambda: louvain_level(co_supply_edges(spark, sf_dir), rounds=3),
    )


_EDGES_CTE = """
ps AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
edges AS (
  SELECT DISTINCT a.s AS src, b.s AS dst
  FROM ps a JOIN ps b ON a.p = b.p AND a.s <> b.s
),
nodes AS (SELECT DISTINCT src FROM edges),
deg AS (SELECT src AS id, COUNT(*) AS deg FROM edges GROUP BY src),
nn AS (SELECT COUNT(*) AS n FROM nodes)
"""


def _rank_oracle(
    iterations: int, damping: float, variant: str, seeds: tuple | None = None
) -> str:
    """Unroll the fixed-iteration rank recurrence into chained CTEs.

    ``seeds``: personalized PR — start vector and teleport mass are the
    seed indicator/|S| instead of the uniform 1/n (mirrors
    graph/algorithms.pagerank(seeds=...))."""
    if variant == "articlerank":
        denom = "(dd.deg + (SELECT a FROM avgdeg))"
        extra = ",\navgdeg AS (SELECT AVG(deg) AS a FROM deg)"
    else:
        denom = "dd.deg"
        extra = ""
    if seeds is None:
        init = "1.0/(SELECT n FROM nn)"
        base = f"{1.0 - damping}/(SELECT n FROM nn)"
    else:
        in_list = ", ".join(str(s) for s in seeds)
        init = f"CASE WHEN src IN ({in_list}) THEN {1.0 / len(seeds)} ELSE 0.0 END"
        base = (
            f"CASE WHEN d.id IN ({in_list}) THEN {(1.0 - damping) / len(seeds)}"
            " ELSE 0.0 END"
        )
    steps = [f"pr0 AS (SELECT src AS id, {init} AS rank FROM nodes)"]
    for i in range(1, iterations + 1):
        steps.append(
            f"""pr{i} AS (
  SELECT d.id,
         {base} + {damping} * COALESCE(m.mass, 0.0) AS rank
  FROM deg d LEFT JOIN (
    SELECT e.dst AS id, SUM(p.rank / {denom}) AS mass
    FROM edges e
    JOIN pr{i - 1} p ON e.src = p.id
    JOIN deg dd ON e.src = dd.id
    GROUP BY e.dst
  ) m ON d.id = m.id
)"""
        )
    return (
        f"WITH {_EDGES_CTE}{extra},\n"
        + ",\n".join(steps)
        + f"\nSELECT id AS suppkey, round(rank, 6) AS rank FROM pr{iterations}"
    )


def _lpa_oracle(
    iterations: int,
    final_select: str | None = None,
    edges_cte: str | None = None,
) -> str:
    steps = ["lp0 AS (SELECT src AS id, src AS community FROM nodes)"]
    for i in range(1, iterations + 1):
        steps.append(
            f"""lp{i} AS (
  SELECT n.id, COALESCE(b.new_community, n.community) AS community
  FROM lp{i - 1} n LEFT JOIN (
    SELECT nid AS id, community AS new_community FROM (
      SELECT e.dst AS nid, p.community, COUNT(*) AS cnt,
             ROW_NUMBER() OVER (PARTITION BY e.dst
                                ORDER BY COUNT(*) DESC, p.community ASC) AS rn
      FROM edges e JOIN lp{i - 1} p ON e.src = p.id
      GROUP BY e.dst, p.community
    ) WHERE rn = 1
  ) b ON n.id = b.id
)"""
        )
    final = final_select or f"SELECT id AS suppkey, community FROM lp{iterations}"
    cte = _EDGES_CTE if edges_cte is None else edges_cte
    return f"WITH {cte},\n" + ",\n".join(steps) + "\n" + final


@query(
    "q26_degree_histogram",
    oracle=f"""
    WITH {_EDGES_CTE}
    SELECT deg, COUNT(*) AS n_suppliers FROM deg GROUP BY deg
    """,
    tags=("graph",),
)
def q26_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the supplier co-supply graph (graph profile
    step before any GDS run; cf. writeup p.4 graph projection)."""
    edges = co_supply_edges(spark, sf_dir)
    return (
        edges.groupBy(F.col("src").alias("id"))
        .agg(F.count(F.lit(1)).alias("deg"))
        .groupBy("deg")
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
    )


@query(
    "q27_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_SHINGLES_CTE},
    common AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY 1, 2
    ),
    pairs AS (SELECT id_a, id_b FROM ({_JACCARD_FROM_COMMON}) WHERE jaccard >= 0.5),
    gedges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    reach(u, v) AS (
      SELECT u, v FROM gedges
      UNION
      SELECT r.u, e.v FROM reach r JOIN gedges e ON r.v = e.u
    )
    SELECT u AS id, LEAST(u, MIN(v)) AS component FROM reach GROUP BY u
    """,
    tags=("graph", "dedup", "M2"),
)
def q27_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate *clusters*: connected components over the Jaccard ≥
    0.5 pair graph — the deterministic replacement for the reference's
    dedupe-library hierarchical clustering (SURVEY M2,
    data_integration.ipynb:2086-2358): block → score → components."""
    from .textops import cached_jaccard_pairs

    pairs = cached_jaccard_pairs(spark, sf_dir).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    return connected_components(pairs)


@query("q28_pagerank", oracle=_rank_oracle(10, 0.85, "pagerank"), tags=("graph", "Q6"))
def q28_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (10 iterations, d=0.85) on the co-supply graph — the
    centrality query shape of writeup Q6.  Oracle = the recurrence
    unrolled into 10 chained SQL steps."""
    edges = co_supply_edges(spark, sf_dir)
    r = pagerank(edges, iterations=10, damping=0.85, variant="pagerank")
    return r.select(F.col("id").alias("suppkey"), F.round("rank", 6).alias("rank"))


@query(
    "q29_articlerank", oracle=_rank_oracle(10, 0.85, "articlerank"), tags=("graph", "Q6")
)
def q29_articlerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ArticleRank — the exact GDS variant the reference ran
    (gds.articleRank.stream, writeup p.4): neighbor mass is divided by
    (outDegree + avgOutDegree) instead of outDegree."""
    edges = co_supply_edges(spark, sf_dir)
    r = pagerank(edges, iterations=10, damping=0.85, variant="articlerank")
    return r.select(F.col("id").alias("suppkey"), F.round("rank", 6).alias("rank"))


@query("q30_communities", oracle=_lpa_oracle(4), tags=("graph", "Q7"))
def q30_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label propagation (4 supersteps, min-label ties) — the
    deterministic community-detection operator standing in for GDS Louvain
    (writeup p.5 Q7; SURVEY §7.3: assert structure, not GDS tie-breaks)."""
    lp = _cached_lpa(spark, sf_dir)
    return lp.select(F.col("id").alias("suppkey"), "community")


@query(
    "q31_two_hop_neighborhood",
    oracle=f"""
    WITH {_EDGES_CTE},
    start AS (SELECT MIN(src) AS s FROM edges),
    hop1 AS (SELECT DISTINCT dst FROM edges WHERE src = (SELECT s FROM start)),
    hop2 AS (SELECT DISTINCT e.dst FROM edges e JOIN hop1 h ON e.src = h.dst)
    SELECT DISTINCT dst AS node
    FROM (SELECT dst FROM hop1 UNION ALL SELECT dst FROM hop2)
    WHERE dst <> (SELECT s FROM start)
    """,
    tags=("graph", "motif"),
)
def q31_two_hop_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hop neighborhood of the smallest supplier id — the reference's
    neighborhood motif `MATCH (n)-[a]-(o)-[b]-(p) WHERE n.login=...`
    (writeup p.5), expressed through the generic motif API
    (graph/motif.neighborhood: layered expansion, per-hop distinct)."""
    from ..graph.motif import neighborhood

    edges = co_supply_edges(spark, sf_dir)
    start = edges.agg(F.min("src").alias("id"))
    return neighborhood(edges, start, hops=2).select(F.col("id").alias("node"))


@query(
    "q105_motif_paths",
    oracle=f"""
    WITH {_EDGES_CTE},
    start AS (SELECT MIN(src) AS s FROM edges)
    SELECT e2.dst AS node, COUNT(*) AS n_paths
    FROM edges e1
    JOIN edges e2 ON e1.dst = e2.src
    WHERE e1.src = (SELECT s FROM start)
    GROUP BY e2.dst
    """,
    tags=("graph", "motif"),
)
def q105_motif_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path-ENUMERATION semantics through the generic motif API: count of
    2-hop paths from the smallest supplier to each endpoint — the
    unaggregated-MATCH multiplicity Cypher would report, vs q31's
    set-semantics reachability.  The start filter is a literal pushed
    into the first edge scan (one tiny min() job resolves it), so the
    join chain never expands from any other source vertex.  Enumeration
    is the right plan only while degᵏ is small — q107 is the aggregated
    recurrence that replaces it for counting at depth/scale."""
    from ..graph.motif import paths

    edges = co_supply_edges(spark, sf_dir)
    s = edges.agg(F.min("src")).collect()[0][0]
    return (
        paths(edges, 2, {0: lambda c: c == s})
        .groupBy(F.col("n2").alias("node"))
        .agg(F.count(F.lit(1)).alias("n_paths"))
    )


@query(
    "q107_path_counts",
    oracle=f"""
    WITH {_EDGES_CTE},
    start AS (SELECT MIN(src) AS s FROM edges)
    SELECT e3.dst AS node, COUNT(*) AS n_paths
    FROM edges e1
    JOIN edges e2 ON e1.dst = e2.src
    JOIN edges e3 ON e2.dst = e3.src
    WHERE e1.src = (SELECT s FROM start)
    GROUP BY e3.dst
    """,
    tags=("graph", "motif"),
)
def q107_path_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-hop path counts via the aggregated recurrence
    (graph/motif.path_counts): n_paths(v,k) = Σ_u n_paths(u,k-1)·A(u,v),
    aggregated between hops so state stays |V| rows — where q105's
    enumeration materializes degᵏ rows before its groupBy (~10× wall at
    sf0.1 for k=3; unrunnable at 100 TB).  The DuckDB oracle is the
    equivalent enumeration — identical counts, which is the point."""
    from ..graph.motif import path_counts

    edges = co_supply_edges(spark, sf_dir)
    s = edges.agg(F.min("src")).collect()[0][0]
    df = path_counts(edges, 3, lambda c: c == s)
    return df.select("node", F.col("n_paths").cast("long").alias("n_paths"))


def _modularity_oracle(iterations: int = 4) -> str:
    """LPA communities (unrolled) → Newman modularity of the partition."""
    lpa = _lpa_oracle(iterations)
    # reuse the unrolled LPA text up to its final SELECT, then score
    body = lpa[: lpa.rindex("\nSELECT")]
    return (
        body
        + f""",
final AS (SELECT id, community FROM lp{iterations}),
m AS (SELECT COUNT(*) / 2.0 AS m FROM edges),
internal AS (
  SELECT ca.community, COUNT(*) / 2.0 AS e_c
  FROM edges e
  JOIN final ca ON e.src = ca.id
  JOIN final cb ON e.dst = cb.id AND ca.community = cb.community
  GROUP BY ca.community
),
degsum AS (
  SELECT f.community, SUM(d.deg) AS deg_c
  FROM deg d JOIN final f ON d.id = f.id GROUP BY f.community
)
SELECT round(SUM(COALESCE(i.e_c, 0) / (SELECT m FROM m)
           - POW(d.deg_c / (2 * (SELECT m FROM m)), 2)), 6) AS modularity
FROM degsum d LEFT JOIN internal i ON d.community = i.community
"""
    )


@query("q43_modularity", oracle=_modularity_oracle(4), tags=("graph", "Q7"))
def q43_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the LPA partition — the objective Louvain
    (writeup p.5 Q7) optimizes, computed as pure aggregation:
    Q = Σ_c [e_c/m − (deg_c/2m)²].  Scores our deterministic community
    operator on the same scale GDS reports."""
    from ..graph.algorithms import _ecount, _sym

    edges = co_supply_edges(spark, sf_dir)
    labels = _cached_lpa(spark, sf_dir)
    # co_supply edges are symmetric by construction — _sym is a no-op
    # select over the memoized build and _ecount a cached scalar, where
    # an inline union+distinct would re-shuffle 2|E| rows per execution.
    e = _sym(edges)
    deg = e.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("deg"))
    m = _ecount(edges) / 2.0
    ca = labels.withColumnRenamed("id", "src").withColumnRenamed("community", "c_src")
    cb = labels.withColumnRenamed("id", "dst").withColumnRenamed("community", "c_dst")
    internal = (
        e.join(ca, "src")
        .join(cb, "dst")
        .where(F.col("c_src") == F.col("c_dst"))
        .groupBy(F.col("c_src").alias("community"))
        .agg((F.count(F.lit(1)) / 2.0).alias("e_c"))
    )
    degsum = (
        deg.join(labels, "id")
        .groupBy("community")
        .agg(F.sum("deg").alias("deg_c"))
    )
    scored = degsum.join(internal, "community", "left").select(
        (
            F.coalesce(F.col("e_c"), F.lit(0.0)) / F.lit(m)
            - F.pow(F.col("deg_c") / F.lit(2 * m), 2)
        ).alias("term")
    )
    return scored.agg(F.round(F.sum("term"), 6).alias("modularity"))


def _weighted_rank_oracle(iterations: int = 10, damping: float = 0.85) -> str:
    """Weighted PageRank unrolled: mass = Σ rank·w / out-strength."""
    steps = [
        "pr0 AS (SELECT src AS id, 1.0/(SELECT n FROM nn) AS rank FROM nodes)"
    ]
    for i in range(1, iterations + 1):
        steps.append(
            f"""pr{i} AS (
  SELECT d.id,
         {1.0 - damping}/(SELECT n FROM nn) + {damping} * COALESCE(m.mass, 0.0) AS rank
  FROM strength d LEFT JOIN (
    SELECT e.dst AS id, SUM(p.rank * e.w / dd.st) AS mass
    FROM wedges e
    JOIN pr{i - 1} p ON e.src = p.id
    JOIN strength dd ON e.src = dd.id
    GROUP BY e.dst
  ) m ON d.id = m.id
)"""
        )
    return (
        """WITH ps AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
wedges AS (
  SELECT a.s AS src, b.s AS dst, CAST(COUNT(*) AS DOUBLE) AS w
  FROM ps a JOIN ps b ON a.p = b.p AND a.s <> b.s
  GROUP BY 1, 2
),
nodes AS (SELECT DISTINCT src FROM wedges),
strength AS (SELECT src AS id, SUM(w) AS st FROM wedges GROUP BY src),
nn AS (SELECT COUNT(*) AS n FROM nodes),
"""
        + ",\n".join(steps)
        + f"\nSELECT id AS suppkey, round(rank, 6) AS rank FROM pr{iterations}"
    )


@query("q48_weighted_pagerank", oracle=_weighted_rank_oracle(10, 0.85), tags=("graph", "Q6"))
def q48_weighted_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over co-supply strength (shared-part counts) —
    the weighted-projection form the reference's GDS graph uses for its
    MENTIONED weights.  Mass splits proportionally to edge weight /
    out-strength; oracle is the unrolled weighted recurrence."""
    from ..graph.builder import co_supply_edges_weighted

    edges = co_supply_edges_weighted(spark, sf_dir)
    r = pagerank(edges, iterations=10, damping=0.85, weight_col="weight")
    return r.select(F.col("id").alias("suppkey"), F.round("rank", 6).alias("rank"))


def _louvain_round_ctes(
    r: int,
    prev: str,
    edges: str = "edges",
    deg: str = "deg",
    prefix: str = "",
    weighted: bool = False,
) -> str:
    """CTEs for one synchronized Louvain local-move round.

    Replays graph/algorithms.louvain_level exactly: w(i→C) neighbor-mass,
    Σdeg per community (minus own degree when i ∈ C), gain =
    w_ic − deg_i·deg_C\\i/2m, best community by (gain desc, id asc),
    move only on strict improvement over the current community's gain.
    All gain inputs are integer-valued (weights are edge counts), so the
    IEEE division/subtraction is bit-identical across engines — no
    rounding tolerance needed.  ``weighted`` switches the neighbor mass
    from COUNT(*) to SUM(w) for the contracted-graph levels; ``prefix``
    namespaces the CTEs so multiple levels coexist in one statement."""
    p = prefix
    mass = "SUM(e.w)" if weighted else "CAST(COUNT(*) AS DOUBLE)"
    # AS MATERIALIZED everywhere: each round references the previous
    # round's CTEs ~4x, and DuckDB's default inlining re-expands the
    # whole chain down to the parquet scan per reference — exponential
    # plan size (and thousands of transient file handles) by round 3.
    return f"""{p}wic{r} AS MATERIALIZED (
  SELECT e.src AS id, pp.community AS n_comm, {mass} AS w_ic
  FROM {edges} e JOIN {prev} pp ON e.dst = pp.id GROUP BY 1, 2
),
{p}ds{r} AS MATERIALIZED (
  SELECT pp.community, SUM(d.deg) AS deg_c
  FROM {deg} d JOIN {prev} pp ON d.id = pp.id GROUP BY 1
),
{p}cand{r} AS MATERIALIZED (
  SELECT w.id, w.n_comm, cur.community AS cur,
         w.w_ic - d.deg * (ds.deg_c - CASE WHEN w.n_comm = cur.community
                                           THEN d.deg ELSE 0 END)
                  / (2 * (SELECT m FROM mm)) AS gain
  FROM {p}wic{r} w
  JOIN {p}ds{r} ds ON ds.community = w.n_comm
  JOIN {deg} d ON d.id = w.id
  JOIN {prev} cur ON cur.id = w.id
),
{p}best{r} AS MATERIALIZED (
  SELECT id, n_comm AS best_comm, gain AS best_gain FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY id
                                 ORDER BY gain DESC, n_comm ASC) AS rn
    FROM {p}cand{r}
  ) WHERE rn = 1
),
{p}cg{r} AS MATERIALIZED (
  SELECT id, MAX(CASE WHEN n_comm = cur THEN gain END) AS cur_gain
  FROM {p}cand{r} GROUP BY id
),
{p}lv{r} AS MATERIALIZED (
  SELECT l.id,
         CASE WHEN b.best_comm IS NOT NULL
                   AND b.best_gain > COALESCE(cg.cur_gain, -1e18)
              THEN b.best_comm ELSE l.community END AS community
  FROM {prev} l
  LEFT JOIN {p}best{r} b ON b.id = l.id
  LEFT JOIN {p}cg{r} cg ON cg.id = l.id
)"""


def _louvain_oracle(rounds: int = 3) -> str:
    steps = ["mm AS (SELECT COUNT(*)/2.0 AS m FROM edges)",
             "lv0 AS (SELECT src AS id, src AS community FROM nodes)"]
    for r in range(1, rounds + 1):
        steps.append(_louvain_round_ctes(r, f"lv{r - 1}"))
    edges_cte = _EDGES_CTE.replace(" AS (", " AS MATERIALIZED (")
    return (
        f"WITH {edges_cte},\n"
        + ",\n".join(steps)
        + f"\nSELECT id AS suppkey, community FROM lv{rounds}"
    )


def _louvain_hier_oracle(rounds: int = 3) -> str:
    """Two-level hierarchical Louvain unrolled: level-1 rounds on the raw
    graph, community contraction (weights = directed edge counts between
    communities, self-loops included), level-2 weighted rounds, then each
    vertex mapped through its community's top-level community.  2m is the
    same scalar at both levels (contraction preserves total edge mass)."""
    steps = [
        "mm AS (SELECT COUNT(*)/2.0 AS m FROM edges)",
        "lv0 AS (SELECT src AS id, src AS community FROM nodes)",
    ]
    for r in range(1, rounds + 1):
        steps.append(_louvain_round_ctes(r, f"lv{r - 1}"))
    steps.append(
        f"""cedges AS MATERIALIZED (
  SELECT a.community AS src, b.community AS dst, CAST(COUNT(*) AS DOUBLE) AS w
  FROM edges e
  JOIN lv{rounds} a ON e.src = a.id
  JOIN lv{rounds} b ON e.dst = b.id
  GROUP BY 1, 2
),
cdeg AS MATERIALIZED (SELECT src AS id, SUM(w) AS deg FROM cedges GROUP BY 1),
cnodes AS MATERIALIZED (SELECT DISTINCT src FROM cedges),
clv0 AS MATERIALIZED (SELECT src AS id, src AS community FROM cnodes)"""
    )
    for r in range(1, rounds + 1):
        steps.append(
            _louvain_round_ctes(
                r, f"clv{r - 1}", edges="cedges", deg="cdeg", prefix="c", weighted=True
            )
        )
    edges_cte = _EDGES_CTE.replace(" AS (", " AS MATERIALIZED (")
    return (
        f"WITH {edges_cte},\n"
        + ",\n".join(steps)
        + f"""
SELECT l1.id AS suppkey, l2.community
FROM lv{rounds} l1 JOIN clv{rounds} l2 ON l2.id = l1.community"""
    )


@query("q101_louvain_hierarchy", oracle=_louvain_hier_oracle(3), tags=("graph", "Q7"))
def q101_louvain_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level hierarchical Louvain — full GDS parity shape (writeup
    p.5 Q7: gds.louvain recurses on the contracted graph).  Level 1's
    local moves run on the raw co-supply graph; communities contract to
    super-nodes (inter-community edge mass as weights, self-loops =
    internal mass); level 2 re-runs the weighted moves; vertices map
    through the hierarchy.  Oracle = both levels + contraction unrolled
    into one chained-CTE statement."""
    from ..graph.algorithms import louvain

    edges = co_supply_edges(spark, sf_dir)
    labels = louvain(
        edges, levels=2, rounds=3, level1=_cached_louvain1(spark, sf_dir)
    )
    return labels.select(F.col("id").alias("suppkey"), "community")


@query("q51_louvain_communities", oracle=_louvain_oracle(3), tags=("graph", "Q7"))
def q51_louvain_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic one-level Louvain (modularity-gain local moves,
    smallest-community ties) — the actual gds.louvain parity operator
    (writeup p.5 Q7), not the LPA approximation.  Oracle = the gain
    recurrence unrolled into 3 chained rounds of CTEs; behavior also
    pinned in tests/test_graph.py (planted communities, determinism,
    modularity ≥ LPA's on the same graph)."""
    labels = _cached_louvain1(spark, sf_dir)
    return labels.select(F.col("id").alias("suppkey"), "community")


@query(
    "q70_bfs_hops",
    oracle="""
    WITH e0 AS (
      SELECT 's:' || CAST(s_suppkey AS VARCHAR) AS src,
             'n:' || CAST(s_nationkey AS VARCHAR) AS dst FROM supplier
      UNION ALL
      SELECT 'c:' || CAST(c_custkey AS VARCHAR),
             'n:' || CAST(c_nationkey AS VARCHAR) FROM customer
    ),
    e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
    d0 AS (SELECT DISTINCT 's:' || CAST(s_suppkey AS VARCHAR) AS id
           FROM supplier WHERE s_suppkey < 3),
    r1 AS (SELECT DISTINCT e.dst AS id FROM e JOIN d0 ON e.src = d0.id),
    r2 AS (SELECT DISTINCT e.dst AS id FROM e JOIN r1 ON e.src = r1.id),
    r3 AS (SELECT DISTINCT e.dst AS id FROM e JOIN r2 ON e.src = r2.id),
    lv AS (
      SELECT id, 0 AS dist FROM d0
      UNION ALL SELECT id, 1 FROM r1
      UNION ALL SELECT id, 2 FROM r2
      UNION ALL SELECT id, 3 FROM r3
    )
    SELECT id, CAST(MIN(dist) AS INT) AS dist FROM lv GROUP BY id
    """,
    tags=("graph", "bfs"),
)
def q70_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS hop distances over a heterogeneous entity graph (suppliers and
    customers linked through their nation), sources = suppliers 0-2 —
    the k-hop generalization of the reference's Cypher neighborhood
    expansions (writeup p.5 Q6).  Oracle = per-level reachability CTEs
    with MIN over levels (first-reach == min distance)."""
    from ..graph.algorithms import bfs_distances

    sup = read_table(spark, sf_dir, "supplier")
    cust = read_table(spark, sf_dir, "customer")
    sid = F.concat(F.lit("s:"), F.col("s_suppkey").cast("string"))
    cid = F.concat(F.lit("c:"), F.col("c_custkey").cast("string"))
    snid = F.concat(F.lit("n:"), F.col("s_nationkey").cast("string"))
    cnid = F.concat(F.lit("n:"), F.col("c_nationkey").cast("string"))
    edges = sup.select(sid.alias("src"), snid.alias("dst")).unionByName(
        cust.select(cid.alias("src"), cnid.alias("dst"))
    )
    sources = sup.where(F.col("s_suppkey") < 3).select(sid.alias("id")).distinct()
    return bfs_distances(edges, sources, max_hops=3)


_SPARSE_EDGES_CTE = """
li2 AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
ew AS (SELECT a.s AS src, b.s AS dst, COUNT(*) AS w
       FROM li2 a JOIN li2 b ON a.p = b.p AND a.s < b.s GROUP BY 1, 2),
qq AS (SELECT quantile_cont(w, 0.95) AS q99 FROM ew),
se AS (SELECT src, dst FROM ew, qq WHERE w >= q99)
"""


def _sparse_upper_edges_w(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P95-weight backbone WITH the co-supply weight kept — the frame
    q404's spanning forest orders by; :func:`_sparse_upper_edges` is a
    projection of this one, so the threshold and the checkpoint run once
    per (session, dataset) regardless of which form consumers ask for.
    The weights are integer counts with few distinct values, so the
    threshold comes from their histogram and filters as a literal.
    Under the cap the backbone is cut from the driver counts
    (:func:`co_supply_counts`) by the same ``_interpolate`` formula over
    the sorted weights, and keeps those arrays as its driver copy."""
    from ..graph.algorithms import _from_driver
    from ..graph.builder import co_supply_counts, co_supply_edges_weighted
    from ..operators.quantiles import _interpolate, histogram_quantiles

    def build():
        counts = co_supply_counts(spark, sf_dir)
        if counts is not None:
            wt = counts["weight"]
            q99 = _interpolate(0.95, len(wt), np.sort(wt).astype("float64"))
            keep = wt >= q99 if q99 is not None else wt < 0  # None: no pairs
            return _from_driver(spark, {c: a[keep] for c, a in counts.items()})
        w = co_supply_edges_weighted(spark, sf_dir)._cyber_upper
        q99 = histogram_quantiles(w, "weight", {"q99": 0.95})["q99"]
        # no edges: a NULL threshold keeps no row, as `w >= NULL` does
        return (
            w.where(F.col("weight") >= F.lit(q99))
            .select("src", "dst", "weight")
            .localCheckpoint(eager=True)
        )

    return artifact(spark, sf_dir, "w", build)


def _sparse_upper_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P95-weight backbone of the co-supply graph, i<j orientation —
    the standard sparsification before cubic-ish analytics (triangles,
    node similarity).  A projection of the pinned
    :func:`_sparse_upper_edges_w`, memoized so q89/q157 and their peers
    share one frame object."""
    return artifact(
        spark, sf_dir, "se",
        lambda: _sparse_upper_edges_w(spark, sf_dir).select("src", "dst"),
    )


def _sparse_sym_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both directions of :func:`_sparse_upper_edges` — the neighborhood
    form q90 and q185 join on and the undirected edge list q100, q128
    and q162 iterate over.  A projection of the pinned
    :func:`_sparse_sym_weighted`: the same rows, pinned and counted once.
    A duplicate-free i<j list plus its mirror is symmetric and
    duplicate-free, so the frame is marked ``_cyber_symmetric`` (with
    its observed ``_cyber_rows``) and the graph loops' memoized
    derivations key on this one object without re-counting it.  It is
    marked ``_cyber_base`` too: the driver-local k-core (q128) and SSSP
    (q129) kernels share ``symw``'s one driver copy."""

    def build():
        symw, _ = _sparse_sym_weighted(spark, sf_dir)
        sym = symw.select("src", "dst")
        sym._cyber_symmetric = True
        sym._cyber_rows = symw._cyber_rows
        sym._cyber_base = symw
        return sym

    return artifact(spark, sf_dir, "sym", build)


@query(
    "q89_triangles",
    oracle=f"""
    WITH {_SPARSE_EDGES_CTE}
    SELECT ab.src AS a, ab.dst AS b, bc.dst AS c
    FROM se ab
    JOIN se bc ON ab.dst = bc.src
    JOIN se ac ON ac.src = ab.src AND ac.dst = bc.dst
    """,
    tags=("graph", "triangles"),
)
def q89_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle enumeration on the P95-weight backbone: the i<j<k
    oriented two-join form, which counts each triangle exactly once and
    keeps the join sides the (sparse) oriented edge list — the same
    degree-ordered orientation trick production triangle counting uses
    to bound intermediate size."""
    se = _sparse_upper_edges(spark, sf_dir)  # already materialized by the cache
    ab, bc, ac = se.alias("ab"), se.alias("bc"), se.alias("ac")
    return (
        ab.join(bc, F.col("ab.dst") == F.col("bc.src"))
        .join(
            ac,
            (F.col("ac.src") == F.col("ab.src")) & (F.col("ac.dst") == F.col("bc.dst")),
        )
        .select(
            F.col("ab.src").alias("a"),
            F.col("ab.dst").alias("b"),
            F.col("bc.dst").alias("c"),
        )
    )


@query(
    "q90_node_similarity",
    oracle=f"""
    WITH {_SPARSE_EDGES_CTE},
    sym AS (SELECT src, dst FROM se UNION SELECT dst, src FROM se),
    degs AS (SELECT src AS id, COUNT(*) AS n FROM sym GROUP BY 1),
    common AS (
      SELECT x.src AS id_a, y.src AS id_b, COUNT(*) AS c
      FROM sym x JOIN sym y ON x.dst = y.dst AND x.src < y.src
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(CAST(c AS DOUBLE) / (na.n + nb.n - c), 6) AS sim
    FROM common
    JOIN degs na ON na.id = id_a
    JOIN degs nb ON nb.id = id_b
    WHERE CAST(c AS DOUBLE) / (na.n + nb.n - c) >= 0.1
    """,
    tags=("graph", "similarity", "gds"),
)
def q90_node_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDS-style nodeSimilarity: neighborhood Jaccard over the sparse
    backbone (pairs sharing >=1 neighbor, score >= 0.1).  Same
    inverted-index economics as document Jaccard (q21): candidates come
    from an equi-join on the shared neighbor, never an all-pairs
    product."""
    sym = _sparse_sym_edges(spark, sf_dir)
    degs = sym.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("n"))
    # shared-neighbor "basket" form (the q322/q342 r12 treatment): each
    # dst's sorted neighbor list enumerates exactly the id_a < id_b
    # co-neighbor pairs via posexplode + slice — ONE exchange
    # (groupBy dst) instead of the sym⋈sym self-join; (src, dst) is
    # unique in the backbone union, so counts are identical
    nbrs = sym.groupBy("dst").agg(
        F.array_sort(F.collect_list("src")).alias("ss")
    )
    common = (
        nbrs.select(F.posexplode("ss").alias("i", "id_a"), "ss")
        .select(
            "id_a",
            F.explode(F.expr("slice(ss, i + 2, size(ss))")).alias("id_b"),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    na = degs.select(F.col("id").alias("id_a"), F.col("n").alias("na"))
    nb = degs.select(F.col("id").alias("id_b"), F.col("n").alias("nb"))
    sim = F.col("c").cast("double") / (F.col("na") + F.col("nb") - F.col("c"))
    return (
        common.join(F.broadcast(na), "id_a")
        .join(F.broadcast(nb), "id_b")
        .where(sim >= 0.1)
        .select("id_a", "id_b", F.round(sim, 6).alias("sim"))
    )


@query(
    "q100_community_revenue",
    oracle=_lpa_oracle(
        4,
        final_select="""
    SELECT p.community,
           COUNT(DISTINCT l.l_suppkey) AS n_suppliers,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                         AS DECIMAL(18,6))) AS DOUBLE) AS revenue
    FROM lineitem l JOIN lp4 p ON p.id = l.l_suppkey
    GROUP BY p.community
    """,
        edges_cte=_SPARSE_EDGES_CTE
        + """,
    edges AS (SELECT src, dst FROM se UNION SELECT dst, src FROM se),
    nodes AS (SELECT DISTINCT src FROM edges)""",
    ),
    tags=("graph", "integrated", "Q7"),
)
def q100_community_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integrated graph+relational analytics — the reference's whole
    premise (merge, build the graph, query both): LPA communities of the
    co-supply graph joined back onto lineitem for revenue per community.
    The community table is |V| rows → broadcast onto the fact scan;
    revenue accumulates in exact decimal straight from lineitem so no
    per-supplier double rounding compounds."""
    comm = label_propagation(_sparse_sym_edges(spark, sf_dir), iterations=4)
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(comm), li.l_suppkey == comm.id)
        .groupBy("community")
        .agg(
            F.countDistinct("l_suppkey").alias("n_suppliers"),
            F.expr(
                "CAST(SUM(CAST(l_extendedprice * (1 - l_discount)"
                " AS DECIMAL(18,6))) AS DOUBLE)"
            ).alias("revenue"),
        )
    )


def _sparse_sym_weighted(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, int | None]:
    """Symmetric (both directions) P95 backbone WITH integer weights —
    the substrate for weighted traversals (SSSP) and, projected, of
    :func:`_sparse_sym_edges`: :func:`_sparse_upper_edges_w` and its
    mirror pinned ONCE, with the backbone's lowest vertex id (None when
    it is empty), cached per (session, dataset).  Under the cap it is
    mirrored from ``w``'s driver arrays, which then are its own driver
    copy: the driver-local k-core and SSSP run with no collect."""
    from ..graph.algorithms import _from_driver, _on_driver, _pin_counted
    from ..graph.builder import co_supply_counts

    def build():
        w = _sparse_upper_edges_w(spark, sf_dir)
        if co_supply_counts(spark, sf_dir) is not None:
            up = _on_driver(w, w._cyber_rows)  # w's own arrays: no collect
            s, d, wt = up["src"], up["dst"], up["weight"]
            symw = _from_driver(
                spark, {"src": np.r_[s, d], "dst": np.r_[d, s], "weight": np.r_[wt, wt]}
            )
            return symw, (int(s.min()) if len(s) else None)  # s < d
        # the row count and the lowest vertex id are observed in the pin
        symw, st = _pin_counted(
            w.unionByName(
                w.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "weight")
            ),
            lo=F.min("src"),
        )
        symw._cyber_rows = st["n"]
        return symw, st["lo"]

    return artifact(spark, sf_dir, "symw", build)


_SYM_SE_CTE = """,
symse AS (SELECT src, dst FROM se UNION ALL SELECT dst, src FROM se)"""


def _kcore_oracle(k: int, rounds: int) -> str:
    """Unrolled synchronized peel: aN = survivors after round N; the
    final in-core degree is recomputed over the last survivor set."""
    steps = ["a0 AS (SELECT DISTINCT src AS id FROM symse)"]
    for i in range(1, rounds + 1):
        steps.append(
            f"""d{i} AS (
  SELECT e.src AS id, COUNT(*) AS c
  FROM symse e
  JOIN a{i - 1} x ON e.src = x.id
  JOIN a{i - 1} y ON e.dst = y.id
  GROUP BY e.src
)"""
        )
        steps.append(f"a{i} AS (SELECT id FROM d{i} WHERE c >= {k})")
    return (
        f"WITH {_SPARSE_EDGES_CTE}{_SYM_SE_CTE},\n"
        + ",\n".join(steps)
        + f"""
SELECT e.src AS suppkey, COUNT(*) AS core_deg
FROM symse e
JOIN a{rounds} x ON e.src = x.id
JOIN a{rounds} y ON e.dst = y.id
GROUP BY e.src"""
    )


@query("q128_kcore", oracle=_kcore_oracle(3, 4), tags=("graph", "kcore"))
def q128_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the P95 co-supply backbone (4 synchronized peel rounds
    — fixpoint at gate scale): suppliers that survive iterated removal
    of degree<3 vertices, with their in-core degree.  The classic
    subgraph-density primitive the reference's Neo4j side would get from
    GDS; here a shrink-only semi-join loop over a pinned edge list."""
    from ..graph.algorithms import kcore

    out = kcore(_sparse_sym_edges(spark, sf_dir), k=3, rounds=4)
    return out.select(F.col("id").alias("suppkey"), "core_deg")


def _ktruss_oracle(k: int, rounds: int) -> str:
    """Unrolled synchronized edge peel (truss).  AS MATERIALIZED on every
    round CTE: each level is referenced 3-4 times by the next (triangle
    self-joins), and DuckDB's default CTE inlining would re-evaluate the
    chain 4^rounds times (the q141 lesson)."""
    thr = k - 2
    steps = ["e0 AS MATERIALIZED (SELECT src, dst FROM se)"]
    for i in range(1, rounds + 2):
        steps.append(
            f"""t{i} AS MATERIALIZED (
  SELECT ab.src AS a, ab.dst AS b, bc.dst AS c
  FROM e{i - 1} ab JOIN e{i - 1} bc ON ab.dst = bc.src
  JOIN e{i - 1} ac ON ac.src = ab.src AND ac.dst = bc.dst
),
s{i} AS MATERIALIZED (
  SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS sup FROM (
    SELECT a AS src, b AS dst FROM t{i}
    UNION ALL SELECT b AS src, c AS dst FROM t{i}
    UNION ALL SELECT a AS src, c AS dst FROM t{i})
  GROUP BY src, dst
)"""
        )
        if i <= rounds:
            steps.append(
                f"""e{i} AS MATERIALIZED (
  SELECT e.src, e.dst FROM e{i - 1} e JOIN s{i} s USING (src, dst)
  WHERE s.sup >= {thr}
)"""
            )
    return (
        f"WITH {_SPARSE_EDGES_CTE},\n"
        + ",\n".join(steps)
        + f"""
SELECT e.src, e.dst, COALESCE(s.sup, 0) AS support
FROM e{rounds} e LEFT JOIN s{rounds + 1} s USING (src, dst)"""
    )


@query("q157_ktruss", oracle=_ktruss_oracle(3, 3), tags=("graph", "truss"))
def q157_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-truss of the P95 co-supply backbone (3 synchronized edge-peel
    rounds): edges kept only while they participate in >= 1 triangle
    within the surviving set, with the final in-truss support — the
    edge-wise sibling of q128's vertex k-core and a stricter cohesion
    filter (every k-truss edge lies in a (k-1)-core).  Shares the
    memoized backbone with q89/q90/q128."""
    from ..graph.algorithms import ktruss

    se = _sparse_upper_edges(spark, sf_dir)
    return ktruss(se, k=3, rounds=3)


def _sssp_oracle(iterations: int) -> str:
    steps = [
        """symw AS (SELECT src, dst, w FROM sew
             UNION ALL SELECT dst, src, w FROM sew)""",
        """d0 AS (SELECT (SELECT MIN(src) FROM symw) AS id, CAST(0 AS BIGINT) AS dist)""",
    ]
    for i in range(1, iterations + 1):
        steps.append(
            f"""d{i} AS (
  SELECT id, MIN(dist) AS dist FROM (
    SELECT id, dist FROM d{i - 1}
    UNION ALL
    SELECT e.dst AS id, d.dist + e.w AS dist
    FROM symw e JOIN d{i - 1} d ON e.src = d.id
  ) GROUP BY id
)"""
        )
    head = _SPARSE_EDGES_CTE.replace(
        "se AS (SELECT src, dst FROM ew, qq WHERE w >= q99)",
        "sew AS (SELECT src, dst, CAST(w AS BIGINT) AS w FROM ew, qq WHERE w >= q99)",
    )
    return (
        f"WITH {head},\n"
        + ",\n".join(steps)
        + f"\nSELECT id AS suppkey, dist FROM d{iterations}"
    )


@query("q129_sssp", oracle=_sssp_oracle(6), tags=("graph", "sssp"))
def q129_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cheapest path within <=6 hops from the lowest-id backbone
    supplier, edge cost = co-supply weight (integer Bellman-Ford — exact
    min-sums, no float accumulation anywhere).  Hop-limited SSSP is the
    bounded form that terminates deterministically on any graph and
    matches the unrolled-relaxation oracle by construction."""
    from ..graph.algorithms import sssp_hop_limited

    symw, src = _sparse_sym_weighted(spark, sf_dir)
    if src is None:
        return symw.select(
            F.col("src").alias("suppkey"), F.lit(0).cast("bigint").alias("dist")
        ).limit(0)
    out = sssp_hop_limited(symw, int(src), iterations=6)
    return out.select(F.col("id").alias("suppkey"), "dist")


@query(
    "q135_personalized_pagerank",
    oracle=_rank_oracle(10, 0.85, "pagerank", seeds=(1, 2, 3)),
    tags=("graph", "ppr"),
)
def q135_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from seed suppliers {1,2,3} on the co-supply
    graph — random-walk-with-restart relevance to the seed set, the
    recommendation/similar-node primitive GDS exposes as sourceNodes.
    Same superstep loop and cached degree/edge-share artifacts as q28's
    global PR (seed-independence of the heavy builds is the point: one
    graph build serves every seed set); only the teleport vector differs.
    Oracle: the q28 unroll with seed-indicator start/reset mass."""
    edges = co_supply_edges(spark, sf_dir)
    ranks = pagerank(edges, iterations=10, damping=0.85, seeds=[1, 2, 3])
    return ranks.select(
        F.col("id").alias("suppkey"), F.round("rank", 6).alias("rank")
    )


def _hits_oracle(iterations: int) -> str:
    """Unrolled HITS recurrence on the directed supplier→customer graph
    (mirrors graph/algorithms.hits: L2-normalized half-steps)."""
    steps = ["h0 AS (SELECT DISTINCT src AS id, 1.0 AS h FROM de)"]
    for i in range(1, iterations + 1):
        # one reference per CTE: the L2 normalizer is a global window
        # (OVER ()), not a scalar subquery — a second reference would let
        # CTE inlining re-evaluate the whole chain per level (4^k blowup)
        steps.append(
            f"""a{i} AS (
  SELECT dst, a / sqrt(SUM(a * a) OVER ()) AS a FROM (
    SELECT dst, SUM(h) AS a FROM de JOIN h{i - 1} ON de.src = h{i - 1}.id
    GROUP BY dst)),
h{i} AS (
  SELECT src AS id, h / sqrt(SUM(h * h) OVER ()) AS h FROM (
    SELECT src, SUM(a) AS h FROM de JOIN a{i} USING (dst) GROUP BY src))"""
        )
    return (
        """WITH de AS (
      SELECT DISTINCT l_suppkey AS src, o_custkey AS dst
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    """
        + ",\n".join(steps)
        + f"\nSELECT id AS suppkey, round(h, 6) AS hub FROM h{iterations}"
    )


def _purchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed supplier→customer purchase graph, built once per
    (session, dataset) — the same persisted-projection policy as
    co_supply_edges: the 600 k-row join+distinct is the graph BUILD, not
    part of any algorithm's marginal cost."""

    def build():
        li = read_table(spark, sf_dir, "lineitem")
        orders = read_table(spark, sf_dir, "orders")
        return (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .select(F.col("l_suppkey").alias("src"), F.col("o_custkey").alias("dst"))
            .distinct()
            .localCheckpoint(eager=True)
        )

    return artifact(spark, sf_dir, "purchase", build)


@query("q141_hits", oracle=_hits_oracle(5), tags=("graph", "hits", "directed"))
def q141_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hub scores on the DIRECTED supplier→customer purchase graph
    (lineitem ⋈ orders, distinct edges) — the directed-graph member of
    the rank family: 5 L2-normalized hub/authority half-steps
    (graph/algorithms.hits), oracle = the recurrence unrolled.  Directed
    semantics matter here: a supplier is a good hub if it sells to
    customers that many suppliers sell to — not expressible on the
    symmetrized co-supply projection the other rank queries use."""
    from ..graph.algorithms import hits

    edges = _purchase_edges(spark, sf_dir)
    hubs, _ = hits(edges, iterations=5)
    return hubs.select(
        F.col("src").alias("suppkey"), F.round("h", 6).alias("hub")
    )


@query(
    "q161_clustering_coefficient",
    oracle=f"""
    WITH {_SPARSE_EDGES_CTE},
    symse AS (SELECT src, dst FROM se UNION ALL SELECT dst, src FROM se),
    deg AS (SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS deg FROM symse GROUP BY 1),
    tri AS (
      SELECT ab.src AS a, ab.dst AS b, bc.dst AS c
      FROM se ab JOIN se bc ON ab.dst = bc.src
      JOIN se ac ON ac.src = ab.src AND ac.dst = bc.dst
    ),
    tcnt AS (
      SELECT id, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
        SELECT a AS id FROM tri
        UNION ALL SELECT b AS id FROM tri
        UNION ALL SELECT c AS id FROM tri
      ) GROUP BY id
    )
    SELECT deg.id AS suppkey, deg.deg, COALESCE(tcnt.n_tri, 0) AS n_tri,
           round(2.0 * COALESCE(tcnt.n_tri, 0) / (deg.deg * (deg.deg - 1)), 6)
             AS clustering
    FROM deg LEFT JOIN tcnt ON deg.id = tcnt.id
    WHERE deg.deg >= 2
    """,
    tags=("graph", "triangles", "clustering"),
)
def q161_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient on the P95 co-supply backbone:
    2·tri(v) / (deg(v)·(deg(v)−1)) — how close each supplier's
    neighborhood is to a clique, the classic small-world/cohesion
    metric next to q89's raw triangles and q128's k-core.  Triangle
    counts reuse the i<j<k oriented two-join enumeration (each triangle
    credited to all three corners via a 3-role union); degrees come
    from the symmetrized backbone; degree-1 vertices are excluded (the
    coefficient is undefined).  All shuffles key on vertex ids over the
    memoized sparse backbone."""
    se = _sparse_upper_edges(spark, sf_dir)
    sym = se.unionByName(
        se.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = sym.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("deg"))
    ab, bc, ac = se.alias("ab"), se.alias("bc"), se.alias("ac")
    tri = (
        ab.join(bc, F.col("ab.dst") == F.col("bc.src"))
        .join(
            ac,
            (F.col("ac.src") == F.col("ab.src")) & (F.col("ac.dst") == F.col("bc.dst")),
        )
        .select(
            F.col("ab.src").alias("a"),
            F.col("ab.dst").alias("b"),
            F.col("bc.dst").alias("c"),
        )
    )
    roles = (
        tri.select(F.col("a").alias("id"))
        .unionByName(tri.select(F.col("b").alias("id")))
        .unionByName(tri.select(F.col("c").alias("id")))
    )
    tcnt = roles.groupBy("id").agg(F.count(F.lit(1)).alias("n_tri"))
    return (
        deg.join(tcnt, "id", "left")
        .where(F.col("deg") >= 2)
        .select(
            F.col("id").alias("suppkey"),
            "deg",
            F.coalesce("n_tri", F.lit(0)).alias("n_tri"),
            F.round(
                2.0 * F.coalesce("n_tri", F.lit(0)) / (F.col("deg") * (F.col("deg") - 1)),
                6,
            ).alias("clustering"),
        )
    )


def _betweenness_oracle(n_sources: int, depth: int) -> str:
    """Unrolled sampled-Brandes: forward sigma BFS levels v0..v{depth},
    then the backward dependency sweep d{depth}..d{1}; AS MATERIALIZED
    throughout (every level is referenced 2-3 times — default inlining
    would re-evaluate the chain exponentially, the q141/q157 lesson).
    Per-level delta rounds to 6 dp, the iterative-oracle convention."""
    steps = [
        "symse AS MATERIALIZED (SELECT src, dst FROM se"
        " UNION ALL SELECT dst, src FROM se)",
        f"srcs AS MATERIALIZED (SELECT src AS s FROM symse GROUP BY src"
        f" ORDER BY src LIMIT {n_sources})",
        "v0 AS MATERIALIZED (SELECT s, s AS v, 0 AS dist,"
        " CAST(1 AS DOUBLE) AS sigma FROM srcs)",
    ]
    for l in range(1, depth + 1):
        steps.append(
            f"""n{l} AS MATERIALIZED (
  SELECT f.s, e.dst AS v, SUM(f.sigma) AS sigma
  FROM v{l - 1} f JOIN symse e ON e.src = f.v
  WHERE f.dist = {l - 1}
  GROUP BY f.s, e.dst
)"""
        )
        steps.append(
            f"""v{l} AS MATERIALIZED (
  SELECT * FROM v{l - 1}
  UNION ALL
  SELECT n.s, n.v, {l} AS dist, n.sigma
  FROM n{l} n ANTI JOIN v{l - 1} p ON n.s = p.s AND n.v = p.v
)"""
        )
    steps.append(
        f"d{depth} AS MATERIALIZED (SELECT s, v, CAST(0 AS DOUBLE) AS delta"
        f" FROM v{depth} WHERE dist = {depth})"
    )
    for l in range(depth, 0, -1):
        steps.append(
            f"""d{l - 1} AS MATERIALIZED (
  SELECT vn.s, vn.v,
         round(SUM(vn.sigma / w.sigma * (1 + COALESCE(dw.delta, 0))), 6) AS delta
  FROM v{depth} vn
  JOIN symse e ON e.src = vn.v
  JOIN v{depth} w ON w.s = vn.s AND w.v = e.dst AND w.dist = {l}
  LEFT JOIN d{l} dw ON dw.s = w.s AND dw.v = w.v
  WHERE vn.dist = {l - 1}
  GROUP BY vn.s, vn.v
)"""
        )
    alld = "\n  UNION ALL ".join(
        f"SELECT * FROM d{l}" for l in range(1, depth + 1)
    )
    steps.append(f"alld AS MATERIALIZED (\n  {alld}\n)")
    return (
        f"WITH {_SPARSE_EDGES_CTE},\n"
        + ",\n".join(steps)
        + """
SELECT vis.v AS suppkey, round(SUM(COALESCE(d.delta, 0)), 6) AS bc
FROM vdepth vis
LEFT JOIN alld d ON d.s = vis.s AND d.v = vis.v
WHERE vis.dist > 0
GROUP BY vis.v""".replace("vdepth", f"v{depth}")
    )


@query(
    "q162_betweenness_sampled",
    oracle=_betweenness_oracle(4, 4),
    tags=("graph", "centrality", "betweenness"),
)
def q162_betweenness_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot-sampled Brandes betweenness on the P95 co-supply backbone
    (4 lowest-id pivots, 4-hop cap): how often each supplier sits on
    shortest paths between others — the shortest-path centrality that
    completes the family next to PageRank/ArticleRank (flow), HITS
    (directed authority) and the clustering coefficient (cohesion).
    Sampling pivots (Brandes & Pich 2007) is THE scale story for
    betweenness: exact Brandes is O(|V|·|E|), pivots make it
    O(|S|·|E|·depth) with both sweeps vectorized over all pivots in one
    (source, vertex)-keyed loop."""
    from ..graph.algorithms import betweenness_sampled

    sym = _sparse_sym_edges(spark, sf_dir)
    sources = [
        r["src"]
        for r in sym.select("src").distinct().orderBy("src").limit(4).collect()
    ]
    out = betweenness_sampled(sym, sources, max_depth=4)
    return out.select(F.col("id").alias("suppkey"), "bc")


@query(
    "q167_graph_profile",
    oracle=f"""
    WITH {_SPARSE_EDGES_CTE},
    edges AS (SELECT src, dst FROM se UNION ALL SELECT dst, src FROM se),
    nodes AS (SELECT DISTINCT src FROM edges),
    deg AS (SELECT src AS id, COUNT(*) AS deg FROM edges GROUP BY src),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    tri AS (
      SELECT COUNT(*) AS t
      FROM se e1
      JOIN se e2 ON e1.dst = e2.src
      JOIN se e3 ON e3.src = e1.src AND e3.dst = e2.dst
    ),
    wed AS (SELECT SUM(CAST(deg * (deg - 1) AS HUGEINT)) AS w2 FROM deg),
    asst AS (
      SELECT COUNT(*) AS m2,
             SUM(CAST(dx.deg AS HUGEINT)) AS sx,
             SUM(CAST(dx.deg * dy.deg AS HUGEINT)) AS sxy,
             SUM(CAST(dx.deg * dx.deg AS HUGEINT)) AS sxx
      FROM edges e
      JOIN deg dx ON e.src = dx.id
      JOIN deg dy ON e.dst = dy.id
    )
    SELECT CAST(nn.n AS BIGINT) AS n_nodes,
           CAST(a.m2 // 2 AS BIGINT) AS n_edges,
           round(CAST(a.m2 AS DOUBLE) / (nn.n * (nn.n - 1)), 6) AS density,
           round(6.0 * tri.t / CAST(wed.w2 AS DOUBLE), 6) AS transitivity,
           CASE WHEN a.m2 * a.sxx - a.sx * a.sx = 0 THEN NULL
                ELSE round(CAST(a.m2 * a.sxy - a.sx * a.sx AS DOUBLE)
                           / CAST(a.m2 * a.sxx - a.sx * a.sx AS DOUBLE), 6)
           END AS assortativity
    FROM nn, tri, wed, asst a
    """,
    tags=("graph", "profile"),
)
def q167_graph_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row topology profile of the P95 co-supply BACKBONE — the
    summary a graph platform prints before any algorithm run (the
    reference eyeballed the same numbers off the Neo4j browser, writeup
    p.4): node/edge counts, density, global transitivity (6·triangles /
    Σ deg·(deg−1) — the closed-wedge fraction), and degree
    assortativity (Newman's Pearson r over edge endpoint degrees;
    symmetric list, so Σx = Σy and one denominator serves both).

    Profiled on the memoized sparse backbone (q89/q90/q100/q161's
    graph) deliberately: the RAW co-supply projection is a union of
    per-part near-cliques whose wedge/triangle counts explode
    quadratically — the same reason q161 sparsifies first; a topology
    profile describes the graph the algorithm suite actually runs.

    Every statistic accumulates in exact integer arithmetic
    (DECIMAL(38,0)/HUGEINT sums of integer degree products) and only
    the final ratios become doubles.  Triangles reuse the q161 i<j<k
    oriented two-join enumeration; everything else is one pass over
    the backbone + its degree table, combined via broadcast 1-row
    crossJoins."""
    se = _sparse_upper_edges(spark, sf_dir)
    edges = se.unionByName(
        se.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = edges.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    tri = (
        se.alias("e1")
        .join(se.alias("e2"), F.col("e1.dst") == F.col("e2.src"))
        .join(
            se.alias("e3"),
            (F.col("e3.src") == F.col("e1.src"))
            & (F.col("e3.dst") == F.col("e2.dst")),
        )
        .agg(F.count(F.lit(1)).alias("t"))
    )
    wed = deg.agg(
        F.sum((F.col("deg") * (F.col("deg") - 1)).cast("decimal(38,0)")).alias("w2")
    )
    dx, dy = deg.alias("dx"), deg.alias("dy")
    asst = (
        edges.join(dx, edges.src == F.col("dx.id"))
        .join(dy, edges.dst == F.col("dy.id"))
        .agg(
            F.count(F.lit(1)).alias("m2"),
            F.sum(F.col("dx.deg").cast("decimal(38,0)")).alias("sx"),
            F.sum(
                (F.col("dx.deg") * F.col("dy.deg")).cast("decimal(38,0)")
            ).alias("sxy"),
            F.sum(
                (F.col("dx.deg") * F.col("dx.deg")).cast("decimal(38,0)")
            ).alias("sxx"),
        )
    )
    nn = deg.agg(F.count(F.lit(1)).alias("n"))
    num = F.col("m2") * F.col("sxy") - F.col("sx") * F.col("sx")
    den = F.col("m2") * F.col("sxx") - F.col("sx") * F.col("sx")
    return (
        nn.crossJoin(F.broadcast(tri))
        .crossJoin(F.broadcast(wed))
        .crossJoin(F.broadcast(asst))
        .select(
            F.col("n").cast("long").alias("n_nodes"),
            F.floor(F.col("m2") / 2).cast("long").alias("n_edges"),
            F.round(
                F.col("m2").cast("double") / (F.col("n") * (F.col("n") - 1)), 6
            ).alias("density"),
            F.round(6.0 * F.col("t") / F.col("w2").cast("double"), 6).alias(
                "transitivity"
            ),
            F.when(den == 0, F.lit(None).cast("double"))
            .otherwise(F.round(num.cast("double") / den.cast("double"), 6))
            .alias("assortativity"),
        )
    )


def _walk_oracle(steps: int = 4) -> str:
    """Unrolled deterministic random walk: each level joins the ranked
    neighbor table at the md5-chosen slot and CARRIES the visited
    columns s1..si forward, so every CTE level has exactly ONE consumer
    (the next level) — the CLAUDE.md unrolled-oracle rule; a final
    multi-way join over w1..wN would give each level two consumers and
    invite DuckDB's CTE re-inlining to re-evaluate the walk-chain
    prefix O(steps²) times (review r7)."""
    ctes = [
        "nbr AS (SELECT src, dst,"
        " ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) AS rnk"
        " FROM edges)",
        "w0 AS (SELECT src AS walk_id, src AS pos FROM nodes)",
    ]
    for i in range(1, steps + 1):
        carried = ", ".join(f"w.s{j}" for j in range(1, i))
        carried = carried + ", " if carried else ""
        ctes.append(
            f"""w{i} AS (
  SELECT w.walk_id, {carried}n.dst AS s{i}, n.dst AS pos
  FROM w{i - 1} w
  JOIN deg d ON d.id = w.pos
  JOIN nbr n ON n.src = w.pos
   AND n.rnk = CAST('0x' || substr(md5(CAST(w.walk_id AS VARCHAR)
                                       || ':{i - 1}'), 1, 8) AS BIGINT)
               % d.deg + 1
)"""
        )
    sel = ", ".join(f"s{i}" for i in range(1, steps + 1))
    return (
        f"WITH {_EDGES_CTE},\n"
        + ",\n".join(ctes)
        + f"\nSELECT walk_id, {sel} FROM w{steps}"
    )


@query("q175_random_walks", oracle=_walk_oracle(4), tags=("graph", "walks", "training"))
def q175_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic RANDOM-WALK sampling (one 4-step walk per vertex)
    over the co-supply graph — the corpus-generation step of
    DeepWalk/node2vec-style graph embeddings, done reproducibly: step
    i's neighbor choice is md5(walk_id:i) mod degree into the
    dst-ranked adjacency list, so both engines (and any rerun) trace
    identical walks.

    Scale: the ranked adjacency + degree tables are built once; each
    step is one equi-join keyed on the current position — O(|V|) rows
    per step, O(steps) joins, no driver loop state.  The per-src
    neighbor ranking window is keyed by src (high-cardinality), so no
    single-task window."""
    from pyspark.sql.window import Window

    edges = co_supply_edges(spark, sf_dir)
    # pinned: the ranked adjacency feeds FOUR walk-step joins and the
    # degree table two consumers (the walk seed + 4 step joins) — each
    # reference re-ran the window / aggregation over the edge projection
    # (the q249/q374 shared-fan-out pin rule)
    nbr = edges.select(
        "src",
        "dst",
        F.row_number()
        .over(Window.partitionBy("src").orderBy("dst"))
        .alias("rnk"),
    ).localCheckpoint(eager=True)
    deg = edges.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("deg")
    ).localCheckpoint(eager=True)
    walks = deg.select(F.col("id").alias("walk_id"), F.col("id").alias("pos"))
    carried: list[str] = []
    for i in range(4):
        choice = (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("walk_id").cast("string"), F.lit(f":{i}")
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % F.col("deg")
            + 1
        )
        walks = (
            walks.join(deg.withColumnRenamed("id", "pos"), "pos")
            .join(
                nbr,
                (F.col("src") == F.col("pos")) & (F.col("rnk") == choice),
            )
            .select(
                "walk_id",
                *carried,
                F.col("dst").alias(f"s{i + 1}"),
                F.col("dst").alias("pos"),
            )
        )
        carried.append(f"s{i + 1}")
    return walks.select("walk_id", *carried)


def _eigenvector_oracle(iterations: int) -> str:
    """Unrolled power iteration on the symmetric co-supply graph —
    one reference per CTE level, L2 normalizer as OVER () (the q141
    lesson: a scalar subquery's second reference lets CTE inlining
    re-evaluate the chain 4^k times)."""
    steps = ["x0 AS (SELECT src AS id, 1.0 AS score FROM nodes)"]
    for i in range(1, iterations + 1):
        steps.append(
            f"""x{i} AS (
  SELECT id, s / sqrt(SUM(s * s) OVER ()) AS score FROM (
    SELECT e.dst AS id, SUM(x.score) AS s
    FROM edges e JOIN x{i - 1} x ON e.src = x.id
    GROUP BY e.dst))"""
        )
    return (
        f"WITH {_EDGES_CTE},\n"
        + ",\n".join(steps)
        + f"\nSELECT id AS suppkey, round(score, 6) AS score FROM x{iterations}"
    )


@query(
    "q196_eigenvector_centrality",
    oracle=_eigenvector_oracle(6),
    tags=("graph", "centrality", "gds"),
)
def q196_eigenvector_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EIGENVECTOR CENTRALITY (6 power iterations, L2-normalized) on the
    symmetric co-supply graph — the remaining GDS centrality next to
    PageRank/ArticleRank/PPR (damped mass-splitting), HITS (directed,
    two vectors) and sampled betweenness (path-based): a supplier is
    central in proportion to the centrality of its neighbors, the
    principal eigenvector of the adjacency matrix.  Oracle = the
    recurrence unrolled with the OVER () normalizer."""
    from ..graph.algorithms import eigenvector_centrality

    edges = co_supply_edges(spark, sf_dir)
    r = eigenvector_centrality(edges, iterations=6)
    return r.select(F.col("id").alias("suppkey"), F.round("score", 6).alias("score"))


def _q250_oracle() -> str:
    levels = []
    prev = "d0"
    for h in (1, 2, 3):
        levels.append(
            f"r{h} AS (SELECT DISTINCT p.pv, e.dst AS id"
            f" FROM e JOIN {prev} p ON e.src = p.id)"
        )
        prev = f"r{h}"
    return f"""
    WITH e0 AS (
      SELECT 's:' || CAST(s_suppkey AS VARCHAR) AS src,
             'n:' || CAST(s_nationkey AS VARCHAR) AS dst FROM supplier
      UNION ALL
      SELECT 'c:' || CAST(c_custkey AS VARCHAR),
             'n:' || CAST(c_nationkey AS VARCHAR) FROM customer
    ),
    e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
    d0 AS (SELECT DISTINCT 's:' || CAST(s_suppkey AS VARCHAR) AS pv,
                  's:' || CAST(s_suppkey AS VARCHAR) AS id
           FROM supplier WHERE s_suppkey < 4),
    {", ".join(levels)},
    lv AS (
      SELECT pv, id, 0 AS dist FROM d0
      UNION ALL SELECT pv, id, 1 FROM r1
      UNION ALL SELECT pv, id, 2 FROM r2
      UNION ALL SELECT pv, id, 3 FROM r3
    ),
    md AS (SELECT pv, id, MIN(dist) AS dist FROM lv GROUP BY 1, 2),
    hs AS (
      SELECT id, COUNT(*) AS n_pivots, SUM(12 // dist) AS h12
      FROM md WHERE dist >= 1 GROUP BY 1
    )
    SELECT id, CAST(n_pivots AS BIGINT) AS n_pivots,
           CAST(h12 AS BIGINT) AS h12,
           round(CAST(h12 AS DOUBLE) / 12, 6) AS harmonic
    FROM hs ORDER BY h12 DESC, id ASC LIMIT 100
    """


@query("q250_harmonic_centrality", oracle=_q250_oracle(), tags=("graph", "centrality"))
def q250_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot-sampled harmonic centrality over the supplier-nation-
    customer entity graph: h(v) = Σ_pivots 1/d(pivot, v), the
    closeness-family centrality that handles disconnected graphs
    gracefully (unreachable pivots contribute 0, no 1/∞ pathology) —
    closes the GDS centrality family next to PageRank/ArticleRank/
    eigenvector/HITS/betweenness (q28/q29/q196/q141/q162).

    Scale plan: distances for ALL pivots come from ONE synchronized
    frontier loop keyed by (pivot, id) (graph/algorithms.
    multi_bfs_distances — the q162 vectorization; p pivots cost the
    superstep count of one BFS); the harmonic rollup is a keyed agg and
    the top-100 a TakeOrdered.  Exactness: with hop cap 4, every 1/d is
    an exact multiple of 1/12, so the score is an exact INTEGER h12 =
    Σ 12/d and the reported double is one division of identical
    integers; ordering ties break on id.

    Grid budget: 12 div dist with dist in [1,12] - tiny integers throughout."""
    from ..graph.algorithms import multi_bfs_distances

    sup = read_table(spark, sf_dir, "supplier")
    cust = read_table(spark, sf_dir, "customer")
    sid = F.concat(F.lit("s:"), F.col("s_suppkey").cast("string"))
    cid = F.concat(F.lit("c:"), F.col("c_custkey").cast("string"))
    snid = F.concat(F.lit("n:"), F.col("s_nationkey").cast("string"))
    cnid = F.concat(F.lit("n:"), F.col("c_nationkey").cast("string"))
    edges = sup.select(sid.alias("src"), snid.alias("dst")).unionByName(
        cust.select(cid.alias("src"), cnid.alias("dst"))
    )
    sources = (
        sup.where(F.col("s_suppkey") < 4)
        .select(sid.alias("pivot"))
        .distinct()
        .withColumn("id", F.col("pivot"))
    )
    md = multi_bfs_distances(edges, sources, max_hops=3)
    hs = (
        md.where(F.col("dist") >= 1)
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_pivots"),
            F.sum(F.expr("12 div dist")).alias("h12"),
        )
    )
    return (
        hs.orderBy(F.col("h12").desc(), F.col("id").asc())
        .limit(100)
        .select(
            "id",
            F.col("n_pivots").cast("long").alias("n_pivots"),
            F.col("h12").cast("long").alias("h12"),
            F.round(F.col("h12").cast("double") / 12, 6).alias("harmonic"),
        )
    )


@query(
    "q253_degree_assortativity",
    oracle=f"""
    WITH {_SPARSE_EDGES_CTE}{_SYM_SE_CTE},
    deg AS (SELECT src AS id, COUNT(*) AS d FROM symse GROUP BY 1),
    ed AS (
      SELECT da.d AS j, db.d AS k
      FROM symse e JOIN deg da ON da.id = e.src JOIN deg db ON db.id = e.dst
    ),
    s AS (
      SELECT COUNT(*) AS m, SUM(CAST(j AS HUGEINT)) AS sj,
             SUM(CAST(j AS HUGEINT)*k) AS sjk,
             SUM(CAST(j AS HUGEINT)*j) AS sjj
      FROM ed
    )
    SELECT CAST(m AS BIGINT) AS m_directed_edges,
           round((CAST(m AS DOUBLE)*sjk - CAST(sj AS DOUBLE)*sj)
                 / NULLIF(CAST(m AS DOUBLE)*sjj - CAST(sj AS DOUBLE)*sj, 0.0),
                 6)
             AS assortativity
    FROM s
    """,
    tags=("graph", "statistic"),
)
def q253_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the P95 co-supply backbone — Newman's
    Pearson correlation of endpoint degrees over directed edge
    instances (each undirected edge counted in both orientations, the
    standard convention, which also makes Σj = Σk and collapses the
    formula to one sufficient-statistic pass).  Joins the
    graph-statistic profile family (q26 degree histogram, q161
    clustering coefficient, q167 profile).

    Scale plan: runs on the memoized sparse backbone (the q89/q161
    discipline — NEVER the raw co-supply projection); one degree agg,
    two endpoint-keyed joins, then a 1-row sufficient-statistic rollup
    (the q189 OLS shape).  Exactness: all five sums are exact integers
    (DECIMAL(38,0)/HUGEINT); the correlation is assembled in doubles
    from identical exact inputs — the double-path-safe plain round."""
    se = _sparse_upper_edges(spark, sf_dir)
    sym = se.unionByName(
        se.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = sym.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("d")
    )
    ed = (
        sym.join(
            F.broadcast(deg.select(F.col("id").alias("src"), F.col("d").alias("j"))),
            "src",
        )
        .join(
            F.broadcast(
                deg.select(F.col("id").alias("dst"), F.col("d").alias("k"))
            ),
            "dst",
        )
        .select("j", "k")
    )
    s = ed.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum(F.expr("CAST(j AS DECIMAL(38,0))")).alias("sj"),
        F.sum(F.expr("CAST(j AS DECIMAL(38,0))*k")).alias("sjk"),
        F.sum(F.expr("CAST(j AS DECIMAL(38,0))*j")).alias("sjj"),
    )
    return s.select(
        F.col("m").cast("long").alias("m_directed_edges"),
        F.round(
            (
                F.col("m").cast("double") * F.col("sjk").cast("double")
                - F.col("sj").cast("double") * F.col("sj").cast("double")
            )
            # NULL (not an error) on a degree-regular graph: the
            # denominator M·Σj² − (Σj)² is the degree variance scale
            / F.nullif(
                F.col("m").cast("double") * F.col("sjj").cast("double")
                - F.col("sj").cast("double") * F.col("sj").cast("double"),
                F.lit(0.0),
            ),
            6,
        ).alias("assortativity"),
    )


@query(
    "q254_rich_club",
    oracle=f"""
    WITH {_SPARSE_EDGES_CTE}{_SYM_SE_CTE},
    deg AS (SELECT src AS id, COUNT(*) AS d FROM symse GROUP BY 1),
    ks AS (SELECT unnest(generate_series(1, 20)) AS k),
    nk AS (
      SELECT k, COUNT(*) AS n_k FROM ks JOIN deg ON deg.d > ks.k GROUP BY 1
    ),
    ek AS (
      SELECT k, COUNT(*) AS e_k
      FROM ks
      JOIN se ON TRUE
      JOIN deg da ON da.id = se.src JOIN deg db ON db.id = se.dst
      WHERE da.d > ks.k AND db.d > ks.k
      GROUP BY 1
    )
    SELECT nk.k, CAST(nk.n_k AS BIGINT) AS n_nodes,
           CAST(COALESCE(ek.e_k, 0) AS BIGINT) AS n_edges,
           CAST((2*2*CAST(COALESCE(ek.e_k, 0) AS HUGEINT)*1000000
                 + nk.n_k*(nk.n_k-1))
                // (2*CAST(nk.n_k AS HUGEINT)*(nk.n_k-1)) AS DOUBLE)
             / 1000000 AS phi
    FROM nk LEFT JOIN ek USING (k)
    WHERE nk.n_k >= 2
    ORDER BY nk.k
    """,
    tags=("graph", "statistic"),
)
def q254_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient profile of the co-supply backbone:
    φ(k) = 2·E_k / (N_k(N_k−1)) over the subgraph of nodes with degree
    > k, for k = 1..20 — do high-degree suppliers preferentially
    interconnect?  The core-concentration diagnostic next to k-core
    (q128) and k-truss (q157).

    Scale plan: degree table once; the k sweep EXPLODES the bounded
    threshold list against the degree/edge tables (equi-free but
    bounded fan-out ≤ 20 per row, the q241 lag-explode economics — no
    per-k rescan of the graph).  Exactness: φ is a half-away 6-dp
    integer rational per k.

    Grid budget: the density numerator is widened to DECIMAL(38,0) in the expression; the published quotient is a <=1e6-unit rational."""
    se = _sparse_upper_edges(spark, sf_dir)
    sym = se.unionByName(
        se.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = sym.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("d")
    )
    ks = F.explode(F.sequence(F.lit(1), F.lit(20))).alias("k")
    nk = (
        deg.select("d", ks)
        .where(F.col("d") > F.col("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_k"))
    )
    ed = se.join(
        F.broadcast(deg.select(F.col("id").alias("src"), F.col("d").alias("da"))),
        "src",
    ).join(
        F.broadcast(deg.select(F.col("id").alias("dst"), F.col("d").alias("db"))),
        "dst",
    )
    ek = (
        ed.select("da", "db", ks)
        .where((F.col("da") > F.col("k")) & (F.col("db") > F.col("k")))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("e_k"))
    )
    return (
        nk.join(ek, "k", "left")
        .where(F.col("n_k") >= 2)
        .select(
            "k",
            F.col("n_k").cast("long").alias("n_nodes"),
            F.coalesce(F.col("e_k"), F.lit(0)).cast("long").alias("n_edges"),
            (
                F.expr(
                    "(4*CAST(coalesce(e_k, 0) AS DECIMAL(38,0))*1000000"
                    " + n_k*(n_k-1))"
                    " div (2*CAST(n_k AS DECIMAL(38,0))*(n_k-1))"
                ).cast("double")
                / 1_000_000
            ).alias("phi"),
        )
        .orderBy("k")
    )


def _q255_oracle(hops: int = 6) -> str:
    def pyramid(tag: str, src_cte: str) -> str:
        parts = []
        prev = src_cte
        for h in range(1, hops + 1):
            parts.append(
                f"r{tag}{h} AS (SELECT DISTINCT e.dst AS id"
                f" FROM symse e JOIN {prev} p ON e.src = p.id)"
            )
            prev = f"r{tag}{h}"
        lv = " UNION ALL ".join(
            [f"SELECT id, 0 AS dist FROM {src_cte}"]
            + [f"SELECT id, {h} FROM r{tag}{h}" for h in range(1, hops + 1)]
        )
        parts.append(f"lv{tag} AS ({lv})")
        parts.append(
            f"md{tag} AS (SELECT id, MIN(dist) AS dist FROM lv{tag}"
            " GROUP BY 1)"
        )
        return ",\n".join(parts)

    # every multiply-referenced CTE is MATERIALIZED: a plain CTE is
    # inlined per reference in DuckDB, re-evaluating the whole upstream
    # BFS pyramid (the q141 4^k blowup — this oracle HUNG before the
    # annotations); the final SELECT folds mdb in ONE aggregate pass
    # (sorted-list argmax) for the same reason
    return f"""
    WITH {_SPARSE_EDGES_CTE.replace("se AS (", "se AS MATERIALIZED (")}{_SYM_SE_CTE.replace("symse AS (", "symse AS MATERIALIZED (")},
    d0 AS (SELECT MIN(src) AS id FROM symse),
    {pyramid("a", "d0")},
    u AS MATERIALIZED (SELECT id FROM mda ORDER BY dist DESC, id ASC
                       LIMIT 1),
    {pyramid("b", "u")},
    res AS (
      SELECT MAX(dist) AS diameter_lb, COUNT(*) AS n_reached,
             (list(id ORDER BY dist DESC, id ASC))[1] AS end_node
      FROM mdb
    )
    SELECT u.id AS far_node, CAST(res.diameter_lb AS INT) AS diameter_lb,
           res.end_node, CAST(res.n_reached AS BIGINT) AS n_reached
    FROM u, res
    """


@query("q255_graph_diameter", oracle=_q255_oracle(), tags=("graph", "bfs"))
def q255_graph_diameter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diameter lower bound of the co-supply backbone by the classic
    BFS double sweep: BFS from the minimum-id vertex, hop to the
    farthest vertex found (deterministic min-id tie-break), BFS again —
    the second eccentricity is the standard tight diameter estimate at
    the cost of exactly two BFS passes (vs |V| for the exact
    diameter).  Joins the reachability family (q70 BFS, q129 SSSP,
    q250 harmonic) with a topology-summary output.

    Scale plan: two bfs_distances loops (per-level checkpoint,
    broadcast-under-cap frontier) on the memoized backbone; the argmax
    hops are TakeOrdered limit(1) — no global sorts, no driver-side
    vertex loop (the farthest vertex flows as a 1-row DataFrame into
    the second sweep's source).  Hop cap 6 bounds both sweeps (and the
    oracle's unrolled pyramids); a capped sweep still reports a valid
    lower bound, stated in the name."""
    from ..graph.algorithms import bfs_distances

    se = _sparse_upper_edges(spark, sf_dir)
    sym = se.unionByName(
        se.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    start = sym.agg(F.min("src").alias("id"))
    d1 = bfs_distances(se, start, max_hops=6)
    u = d1.orderBy(F.col("dist").desc(), F.col("id").asc()).limit(1).select("id")
    u = u.localCheckpoint(eager=True)  # feeds the sweep loop AND the output row
    d2 = bfs_distances(se, u, max_hops=6)
    ecc = d2.agg(
        F.max("dist").cast("int").alias("diameter_lb"),
        F.count(F.lit(1)).alias("n_reached"),
    )
    end = (
        d2.orderBy(F.col("dist").desc(), F.col("id").asc())
        .limit(1)
        .select(F.col("id").alias("end_node"))
    )
    return (
        u.select(F.col("id").alias("far_node"))
        .crossJoin(F.broadcast(ecc))
        .crossJoin(F.broadcast(end))
        .select(
            "far_node",
            "diameter_lb",
            "end_node",
            F.col("n_reached").cast("long").alias("n_reached"),
        )
    )


@query(
    "q289_attribute_assortativity",
    oracle=f"""
    WITH {_SPARSE_EDGES_CTE}{_SYM_SE_CTE},
    lab AS (SELECT s_suppkey AS id, s_nationkey AS a FROM supplier),
    ed AS (
      SELECT la.a AS na, lb.a AS nb
      FROM symse e JOIN lab la ON la.id = e.src JOIN lab lb ON lb.id = e.dst
    ),
    marg AS (SELECT na, COUNT(*) AS cnt FROM ed GROUP BY 1),
    s AS (
      SELECT (SELECT COUNT(*) FROM ed) AS m,
             (SELECT COUNT(*) FROM ed WHERE na = nb) AS same,
             (SELECT SUM(CAST(cnt AS HUGEINT)*cnt) FROM marg) AS sq
    )
    SELECT CAST(m AS BIGINT) AS m_directed_edges,
           CAST(same AS BIGINT) AS same_nation_edges,
           CASE WHEN CAST(m AS HUGEINT)*same - sq >= 0
                THEN CAST((2*(CAST(m AS HUGEINT)*same - sq)*1000000
                           + (CAST(m AS HUGEINT)*m - sq))
                          // (2*(CAST(m AS HUGEINT)*m - sq)) AS DOUBLE)
                     / 1000000
                ELSE -CAST((2*(sq - CAST(m AS HUGEINT)*same)*1000000
                            + (CAST(m AS HUGEINT)*m - sq))
                           // (2*(CAST(m AS HUGEINT)*m - sq)) AS DOUBLE)
                     / 1000000 END AS assortativity,
           CASE WHEN CAST(m AS HUGEINT)*same - sq >= 0
                THEN CAST((2*(CAST(m AS HUGEINT)*same - sq)*1000000
                           + CAST(m AS HUGEINT)*m)
                          // (2*CAST(m AS HUGEINT)*m) AS DOUBLE) / 1000000
                ELSE -CAST((2*(sq - CAST(m AS HUGEINT)*same)*1000000
                            + CAST(m AS HUGEINT)*m)
                           // (2*CAST(m AS HUGEINT)*m) AS DOUBLE) / 1000000
           END AS modularity
    FROM s
    """,
    tags=("graph", "statistic", "communities"),
)
def q289_attribute_assortativity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Categorical (nation) assortativity and modularity of the
    co-supply backbone: do suppliers co-supply within their own nation
    more than chance?  r = (m·same − Σc_a²)/(m² − Σc_a²) (Newman's
    attribute assortativity with symmetric marginals) and
    Q = (m·same − Σc_a²)/m² (the modularity of the nation partition) —
    the attribute companion of degree assortativity (q253), sharing all
    sufficient statistics.

    Scale plan: the memoized P95 backbone (q89/q161 discipline), one
    broadcast label join per endpoint, one marginal aggregation — every
    term a 1-row exact integer.  Exactness: both statistics are
    sign-aware half-away 6-dp integer rationals
    (DECIMAL(38,0)/HUGEINT; r can be negative — disassortative)."""
    se = _sparse_upper_edges(spark, sf_dir)
    sym = se.unionByName(
        se.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    sup = read_table(spark, sf_dir, "supplier")
    lab = sup.select(F.col("s_suppkey").alias("id"), F.col("s_nationkey").alias("a"))
    ed = (
        sym.join(
            F.broadcast(lab.select(F.col("id").alias("src"), F.col("a").alias("na"))),
            "src",
        )
        .join(
            F.broadcast(
                lab.select(F.col("id").alias("dst"), F.col("a").alias("nb"))
            ),
            "dst",
        )
        .select("na", "nb")
        .localCheckpoint(eager=True)  # feeds totals AND marginals
    )
    tot = ed.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum(F.when(F.col("na") == F.col("nb"), 1).otherwise(0)).alias(
            "same"
        ),
    )
    sq = (
        ed.groupBy("na")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(F.sum(F.expr("CAST(cnt AS DECIMAL(38,0))*cnt")).alias("sq"))
    )
    def _sha6(num: str, den: str):
        """Grid budget: callers pass DECIMAL(38,0)-widened operands (mm casts); quotients are +/-1e6-scale correlation rationals."""
        return F.expr(
            f"CASE WHEN ({num}) >= 0"
            f" THEN CAST((2*({num})*1000000 + ({den})) div (2*({den}))"
            "  AS DOUBLE) / 1000000"
            f" ELSE -CAST((2*(-({num}))*1000000 + ({den})) div (2*({den}))"
            "  AS DOUBLE) / 1000000 END"
        )

    mm = "CAST(m AS DECIMAL(38,0))"
    return tot.crossJoin(F.broadcast(sq)).select(
        F.col("m").cast("long").alias("m_directed_edges"),
        F.col("same").cast("long").alias("same_nation_edges"),
        _sha6(f"{mm}*same - sq", f"{mm}*m - sq").alias("assortativity"),
        _sha6(f"{mm}*same - sq", f"{mm}*m").alias("modularity"),
    )


# ---- minimum spanning forest (q404) ----------------------------------------

def _msf_cte(doublings: int = 14) -> str:
    """Shared Borůvka-in-SQL CTE chain ending in ``msfe(src, dst, w)``
    — the forest table both q404 (publishes it) and q405 (cuts it at
    thresholds) build on; see :func:`_q404_oracle` for the algorithm
    notes."""
    body = _q404_oracle(doublings)
    head = body.split("SELECT e.src")[0].rstrip().rstrip(",")
    return (
        head
        + """,
    msfe AS MATERIALIZED (
      SELECT e.src, e.dst, CAST(e.w AS BIGINT) AS w
      FROM fin, eidx e WHERE list_contains(fin.picked, e.r)
    )"""
    )


def _q404_oracle(doublings: int = 14, sew_sql: str | None = None) -> str:
    """Borůvka rounds as a recursive CTE — the same algorithm the Spark
    operator runs, so the oracle pins the per-round min-edge selections
    AND the final forest (unique under the strict (w DESC, src, dst)
    order, so ANY correct MST algorithm would agree — validated against
    a driver union-find Kruskal in tests).  State is the dense label
    list; per round: crossing edges via two index joins, per-component
    MIN rank, pointer list with 2-cycle break at the smaller label,
    then a FIXED chain of pointer doublings (2^14 covers any chain on
    the ≤ 2^14-node graphs of every oracle scale — chains shrink
    geometrically per doubling).  The base case scans eidx once
    (MAX(r)) to force materialization before recursion — without it
    this DuckDB's first recursive iteration sees the CTE empty."""
    chain = "pl1"
    steps = []
    for k in range(2, doublings + 2):
        steps.append(
            f"pl{k} AS (SELECT list_transform(rng.l, i -> p.pl[p.pl[i]]) AS pl"
            f" FROM pl{k-1} p, rng)"
        )
        chain = f"pl{k}"
    doubling_sql = ",\n        ".join(steps)
    return f"""
    WITH RECURSIVE li2 AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
    ew AS (SELECT a.s AS src, b.s AS dst, COUNT(*) AS w
           FROM li2 a JOIN li2 b ON a.p = b.p AND a.s < b.s GROUP BY 1, 2),
    qq AS (SELECT quantile_cont(w, 0.95) AS q99 FROM ew),
    sew AS MATERIALIZED ({{sew_inner}}),
    nodes AS MATERIALIZED (
      SELECT x AS node, ROW_NUMBER() OVER (ORDER BY x) AS idx
      FROM (SELECT src AS x FROM sew UNION SELECT dst FROM sew)
    ),
    eidx AS MATERIALIZED (
      SELECT ROW_NUMBER() OVER (ORDER BY w DESC, src, dst) AS r,
             na.idx AS ia, nb.idx AS ib, src, dst, w
      FROM sew JOIN nodes na ON src = na.node JOIN nodes nb ON dst = nb.node
    ),
    st AS (
      SELECT list_transform(range(1, (SELECT COUNT(*) FROM nodes) + 1), i -> i) AS labels,
             CAST([] AS BIGINT[]) AS picked
      FROM (SELECT MAX(r) AS _force FROM eidx)
      UNION ALL
      SELECT list_transform(st.labels, x -> z.pf[x]) AS labels,
             st.picked || z.rs AS picked
      FROM st, LATERAL (
        WITH labrows AS (
          SELECT n.i, st.labels[n.i] AS lab
          FROM (SELECT unnest(range(1, len(st.labels) + 1)) AS i) n
        ),
        cand AS (
          SELECT la.lab AS ca, lb.lab AS cb, e.r
          FROM eidx e JOIN labrows la ON e.ia = la.i
                      JOIN labrows lb ON e.ib = lb.i
          WHERE la.lab <> lb.lab
        ),
        mins AS (
          SELECT c, MIN(r) AS mr FROM (
            SELECT ca AS c, r FROM cand UNION ALL SELECT cb AS c, r FROM cand
          ) GROUP BY c
        ),
        ptr AS (
          SELECT m.c, CASE WHEN m.c = c2.ca THEN c2.cb ELSE c2.ca END AS p
          FROM mins m JOIN cand c2 ON m.mr = c2.r
        ),
        rng AS (SELECT list_transform(range(1, len(st.labels) + 1), i -> i) AS l),
        pl0 AS (
          SELECT list(COALESCE(p.p, n.i) ORDER BY n.i) AS pl
          FROM (SELECT unnest(range(1, len(st.labels) + 1)) AS i) n
          LEFT JOIN ptr p ON n.i = p.c
        ),
        pl1 AS (
          SELECT list_transform(rng.l, i ->
            CASE WHEN p.pl[p.pl[i]] = i AND i < p.pl[i] THEN i ELSE p.pl[i] END) AS pl
          FROM pl0 p, rng
        ),
        {doubling_sql}
        SELECT f.pl AS pf,
               (SELECT COALESCE(list(DISTINCT mr ORDER BY mr), CAST([] AS BIGINT[]))
                FROM mins) AS rs
        FROM {chain} f
      ) z
      WHERE len(z.rs) > 0
    ),
    fin AS (SELECT picked FROM st ORDER BY len(picked) DESC LIMIT 1)
    SELECT e.src, e.dst, CAST(e.w AS BIGINT) AS w
    FROM fin, eidx e WHERE list_contains(fin.picked, e.r)
    ORDER BY src, dst
    """.format(
        sew_inner=sew_sql
        or "SELECT src, dst, w FROM ew, qq WHERE w >= q99"
    )


def _msf_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized (src, dst, w) spanning-forest table — q404 publishes it,
    q405 cuts it; one Borůvka run per (session, dataset)."""
    from ..operators.mst import boruvka_msf

    def build():
        se = _sparse_upper_edges_w(spark, sf_dir)
        edges = se.select("src", "dst", (-F.col("weight")).alias("d"))
        return (
            boruvka_msf(edges, tail_cap=128)
            .join(se, ["src", "dst"])
            .select("src", "dst", F.col("weight").cast("long").alias("w"))
            .localCheckpoint(eager=True)
        )

    return artifact(spark, sf_dir, "msf", build)


@query(
    "q404_mst_backbone",
    oracle=_q404_oracle(),
    tags=("graph", "mst", "kernel"),
)
def q404_mst_backbone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum spanning forest of the weighted co-supply backbone — the
    spanning-tree family (single-linkage dendrogram skeleton): ordering
    edges by (shared-parts DESC, src, dst) — a strict total order, so
    the forest is UNIQUE and both engines must agree edge-for-edge —
    and running distributed Borůvka (operators/mst.boruvka_msf): per
    round every component picks its best crossing edge (all such picks
    are forest edges by the cut property), the pointer graph contracts
    by convergence-checked doubling, components at least halve.

    Scale plan: log₂(V) supersteps of joins + small-table pointer
    jumps, state checkpointed per round (the superstep pin rule); once
    the component count drops under tail_cap=128 the per-pair-min
    contracted remainder (≤ C(128,2) rows BY CONSTRUCTION) finishes
    with driver union-find under a limit-capped collect with a contract
    error — the statcat bounded-artifact rule.  At sf0.1 (V=1000) that
    is 3 distributed rounds + a ≤ 8128-row tail; at 100 TB only the
    round count grows.  The oracle replays Borůvka in SQL
    (:func:`_q404_oracle`) and was validated against an independent
    Kruskal union-find at all three scales.  The forest table itself is
    memoized (:func:`_msf_edges`) — q405's single-linkage sweep reuses
    it without a second Borůvka run."""
    return _msf_edges(spark, sf_dir).orderBy("src", "dst")


# ---- single-linkage sweep over the spanning forest (q405) ------------------

_Q405_ORACLE = f"""
    {_msf_cte()},
    allnodes AS (SELECT COUNT(*) AS v FROM nodes),
    bounds AS (SELECT MIN(w) AS wmin, MAX(w) AS wmax FROM msfe),
    th AS (SELECT CAST(q AS BIGINT) AS t_idx,
                  wmin + ((wmax - wmin) * q) // 4 AS t
           FROM bounds, (VALUES (1), (2), (3)) AS vq(q)),
    te AS MATERIALIZED (
      SELECT t_idx, t, src, dst FROM msfe, th WHERE w >= t
    ),
    sym AS MATERIALIZED (
      SELECT t_idx, src AS a, dst AS b FROM te
      UNION ALL SELECT t_idx, dst, src FROM te
    ),
    cc AS (
      SELECT DISTINCT t_idx, a AS n, a AS lab FROM sym
      UNION
      SELECT s.t_idx, s.b, cc.lab FROM cc JOIN sym s
        ON cc.t_idx = s.t_idx AND cc.n = s.a
    ),
    comp AS (SELECT t_idx, n, MIN(lab) AS c FROM cc GROUP BY 1, 2),
    sizes AS (SELECT t_idx, c, COUNT(*) AS sz FROM comp GROUP BY 1, 2),
    stat AS (SELECT t_idx, COUNT(*) AS ncc, SUM(sz) AS covered,
                    MAX(sz) AS maxsz
             FROM sizes GROUP BY 1),
    ecnt AS (SELECT t_idx, COUNT(*) AS ne FROM te GROUP BY 1)
    SELECT th.t_idx, th.t AS threshold,
           CAST(COALESCE(ecnt.ne, 0) AS BIGINT) AS n_edges_kept,
           CAST(COALESCE(stat.ncc, 0) + an.v - COALESCE(stat.covered, 0)
                AS BIGINT) AS n_clusters,
           CAST(GREATEST(COALESCE(stat.maxsz, 0), 1) AS BIGINT) AS max_size
    FROM th CROSS JOIN allnodes an
    LEFT JOIN stat ON th.t_idx = stat.t_idx
    LEFT JOIN ecnt ON th.t_idx = ecnt.t_idx
    ORDER BY th.t_idx
"""


@query(
    "q405_single_linkage_sweep",
    oracle=_Q405_ORACLE,
    tags=("graph", "clustering", "mst"),
)
def q405_single_linkage_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-linkage clustering read directly off the spanning forest —
    the classic MST⇄dendrogram equivalence: cutting the q404 forest at
    similarity threshold t yields EXACTLY the single-linkage clusters at
    level t, so one Borůvka run (memoized, shared with q404) serves the
    whole hierarchy.  Three data-driven integer thresholds (quartile
    grid between the forest's min and max weight, floor division —
    non-negative, so Spark `div` and DuckDB `//` agree) are swept in ONE
    Borůvka-contraction CC pass over a tag-shifted union graph (the
    q348 rule: k sweeps, one loop floor; tag·1e12 + node keeps labels
    in-tag since no cross-tag edges exist).  Per threshold: edges kept,
    cluster count (isolated backbone nodes count as singletons),
    largest cluster.

    Scale plan: components HALVE per contraction round (log₂ V rounds
    flat), which is the point — a cut forest's diameter is O(V), and
    the min-label CC operator measured 14 s here against contraction's
    ~4 s; stats are group-sized aggregates.  Driver scalars are two
    1-row aggregates (V, weight bounds) — the bounded-collect rule.
    Oracle: reachable-label UNION recursion per tag on the shared
    Borůvka CTE (Σ|component|² rows, bounded by the forest's V²)."""
    from ..operators.mst import boruvka_components

    msf = _msf_edges(spark, sf_dir)
    se = _sparse_upper_edges_w(spark, sf_dir)
    nodes = (
        se.select(F.col("src").alias("n"))
        .unionAll(se.select(F.col("dst").alias("n")))
        .distinct()
    )
    v_total = nodes.count()
    b = msf.agg(F.min("w").alias("wmin"), F.max("w").alias("wmax")).collect()[0]
    wmin, wmax = int(b.wmin), int(b.wmax)
    ths = [(q, wmin + ((wmax - wmin) * q) // 4) for q in (1, 2, 3)]
    th_df = local_frame(spark, ths, "t_idx long, t long")
    te = msf.crossJoin(F.broadcast(th_df)).where(F.col("w") >= F.col("t"))
    tag = F.col("t_idx") * F.lit(1_000_000_000_000)
    tagged = te.select(
        (tag + F.col("src")).alias("src"), (tag + F.col("dst")).alias("dst")
    )
    # tail_cap sized ABOVE the 3-tag union's component count at bench
    # scale (3 tags x ~400 non-isolated backbone nodes = ~1200 active
    # components; measured 1158 at sf0.1): at 1024 the loop paid one
    # full distributed round (~8 pin/count jobs) for a 13% overshoot
    # before handing off anyway (r12 A/B).  The remainder is a FOREST,
    # so the tail is ~|kept edges| rows (~3V), far under the C(2048,2)
    # contract cap; at cluster scale V >> 2048 and the log-round loop
    # engages unchanged.
    cc = boruvka_components(tagged, tail_cap=2048)
    sizes = cc.groupBy(
        F.expr("id div 1000000000000").alias("t_idx"), "component"
    ).agg(F.count(F.lit(1)).alias("sz"))
    stat = sizes.groupBy("t_idx").agg(
        F.count(F.lit(1)).alias("ncc"),
        F.sum("sz").alias("covered"),
        F.max("sz").alias("maxsz"),
    )
    ecnt = te.groupBy("t_idx").agg(F.count(F.lit(1)).alias("ne"))
    return (
        th_df.join(stat, "t_idx", "left")
        .join(ecnt, "t_idx", "left")
        .select(
            "t_idx",
            F.col("t").alias("threshold"),
            F.coalesce(F.col("ne"), F.lit(0)).cast("long").alias("n_edges_kept"),
            (
                F.coalesce(F.col("ncc"), F.lit(0))
                + F.lit(v_total)
                - F.coalesce(F.col("covered"), F.lit(0))
            )
            .cast("long")
            .alias("n_clusters"),
            F.greatest(F.coalesce(F.col("maxsz"), F.lit(0)), F.lit(1))
            .cast("long")
            .alias("max_size"),
        )
        .orderBy("t_idx")
    )


# ---- incremental MSF maintenance (q406) ------------------------------------

_Q406_SLICE_SQL = (
    "COALESCE(CAST(('0x' || substr(md5(CAST(src AS VARCHAR) || ':' ||"
    " CAST(dst AS VARCHAR)), 1, 8)) AS BIGINT) % 10 = 0, FALSE)"
)
_Q406_SLICE_SPARK = (
    "COALESCE(CAST(conv(substr(md5(CAST(src AS STRING) || ':' ||"
    " CAST(dst AS STRING)), 1, 8), 16, 10) AS BIGINT) % 10 = 0, false)"
)
_Q406_SEW = f"""
      SELECT src, dst, w
      FROM ew, qq, (SELECT quantile_cont(w, 0.90) AS p90 FROM ew) t90
      WHERE (w >= q99)
         OR (w >= p90 AND w < q99 AND {_Q406_SLICE_SQL})
"""


@query(
    "q406_incremental_msf",
    oracle=_q404_oracle(sew_sql=_Q406_SEW),
    tags=("graph", "mst", "ivm"),
)
def q406_incremental_msf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental spanning-forest maintenance — the MST sparsification
    theorem as an IVM identity: for an edge batch Δ arriving on top of
    the backbone A, MST(A ∪ Δ) = MST(MST(A) ∪ Δ), because a non-forest
    edge of A is the maximum of some cycle and the cycle property
    (unique under the strict total order) bars it from every future
    forest.  So the maintained side re-runs Borůvka on just the CACHED
    forest (V−1 rows, q404's memoized artifact) plus Δ — never
    rescanning A's full edge set — while the ORACLE rebuilds from
    (A ∪ Δ) directly; the hash gate proves maintain == rebuild
    edge-for-edge.  Δ is a deterministic md5 tenth of the [P90, P95)
    co-supply band (engine-shared predicate text), disjoint from A by
    construction.

    Scale plan: the maintained input is |MSF| + |Δ| edges — at 100 TB
    that is the difference between a log-round pass over ~V rows and
    one over E rows; this is exactly how a lakehouse would keep a
    similarity-forest artifact fresh under daily edge arrivals (the
    q382/q401 delta-view discipline applied to graph structure).
    Determinism: same strict (w DESC, src, dst) order, unique forest,
    bit-equal across engines."""
    from ..graph.builder import co_supply_edges_weighted
    from ..operators.mst import boruvka_msf
    from ..operators.quantiles import histogram_quantiles

    wedges = co_supply_edges_weighted(spark, sf_dir)._cyber_upper
    # integer weights with few distinct values: the histogram's literals
    qs = histogram_quantiles(wedges, "weight", {"p90": 0.90, "p95": 0.95})
    delta = (
        wedges.where(
            (F.col("weight") >= F.lit(qs["p90"]))
            & (F.col("weight") < F.lit(qs["p95"]))
            & F.expr(_Q406_SLICE_SPARK)
        )
        .select("src", "dst", F.col("weight").cast("long").alias("w"))
    )
    base = _msf_edges(spark, sf_dir)  # MST(A), memoized
    # pin the maintained input ONCE: it feeds >= 4 scans (node set,
    # crossing-edge joins of the Borůvka tail, the final weight join),
    # each of which would otherwise re-run the delta chain — the
    # band filter + md5 slice over the full co-supply edge set (r12
    # profiling: ~2 s/rescan at sf0.1; the pin is V-1+|Δ| rows)
    union_input = (
        base.unionByName(delta)
        .select("src", "dst", "w", (-F.col("w")).alias("d"))
        .localCheckpoint(eager=True)
    )
    # the maintained input is ~V rows, so at test scale the whole graph
    # fits the driver-tail contract (zero superstep floors); at cluster
    # scale V exceeds tail_cap and the log-round loop engages unchanged
    msf2 = boruvka_msf(union_input.select("src", "dst", "d"), tail_cap=1024)
    return (
        msf2.join(union_input, ["src", "dst"])
        .select("src", "dst", F.col("w").cast("long").alias("w"))
        .orderBy("src", "dst")
    )


# ---- Luby maximal independent set (q412) -----------------------------------

_Q412_ORACLE = """
    WITH RECURSIVE li2 AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
    ew AS (SELECT a.s AS src, b.s AS dst, COUNT(*) AS w
           FROM li2 a JOIN li2 b ON a.p = b.p AND a.s < b.s GROUP BY 1, 2),
    qq AS (SELECT quantile_cont(w, 0.95) AS q99 FROM ew),
    sew AS MATERIALIZED (SELECT src, dst FROM ew, qq WHERE w >= q99),
    nodes AS MATERIALIZED (
      SELECT x AS node, ROW_NUMBER() OVER (ORDER BY x) AS idx
      FROM (SELECT src AS x FROM sew UNION SELECT dst FROM sew)
    ),
    eidx AS MATERIALIZED (
      SELECT na.idx AS ia, nb.idx AS ib
      FROM sew JOIN nodes na ON src = na.node JOIN nodes nb ON dst = nb.node
    ),
    prio AS MATERIALIZED (
      SELECT idx, node,
             CAST(('0x' || substr(md5('mis:' || CAST(node AS VARCHAR)), 1, 13))
                  AS BIGINT) AS pr
      FROM nodes
    ),
    plist AS MATERIALIZED (SELECT list(pr ORDER BY idx) AS pl FROM prio),
    st AS (
      SELECT 0 AS k,
             list_transform(range(1, (SELECT COUNT(*) FROM nodes) + 1), i -> 0) AS s,
             list_transform(range(1, (SELECT COUNT(*) FROM nodes) + 1), i -> 0) AS r
      FROM (SELECT MAX(ia) FROM eidx), (SELECT MAX(pl[1]) FROM plist)
      UNION ALL
      SELECT k + 1, z.s2, z.r2
      FROM st, LATERAL (
        WITH srows AS (
          SELECT n.i, st.s[n.i] AS sv
          FROM (SELECT unnest(range(1, len(st.s) + 1)) AS i) n
        ),
        uedges AS (
          SELECT e.ia, e.ib FROM eidx e
          JOIN srows sa ON e.ia = sa.i JOIN srows sb ON e.ib = sb.i
          WHERE sa.sv = 0 AND sb.sv = 0
        ),
        blocked AS (
          SELECT DISTINCT CASE WHEN (p.pl[ia], ia) < (p.pl[ib], ib)
                               THEN ia ELSE ib END AS i
          FROM uedges, plist p
        ),
        winners AS (
          SELECT sr.i FROM srows sr
          WHERE sr.sv = 0 AND sr.i NOT IN (SELECT i FROM blocked)
        ),
        excluded AS (
          SELECT DISTINCT u.ib AS i FROM uedges u JOIN winners w ON u.ia = w.i
          UNION
          SELECT DISTINCT u.ia FROM uedges u JOIN winners w ON u.ib = w.i
        ),
        wind AS (
          SELECT list(CASE WHEN w.i IS NOT NULL THEN 1 ELSE 0 END ORDER BY n.i) AS wl
          FROM (SELECT unnest(range(1, len(st.s) + 1)) AS i) n
          LEFT JOIN winners w ON n.i = w.i
        ),
        xind AS (
          SELECT list(CASE WHEN x.i IS NOT NULL THEN 1 ELSE 0 END ORDER BY n.i) AS xl
          FROM (SELECT unnest(range(1, len(st.s) + 1)) AS i) n
          LEFT JOIN excluded x ON n.i = x.i
        )
        SELECT list_transform(range(1, len(st.s) + 1),
                 i -> CASE WHEN st.s[i] = 0 AND w.wl[i] = 1 THEN 1
                           WHEN st.s[i] = 0 AND x.xl[i] = 1 THEN 2
                           ELSE st.s[i] END) AS s2,
               list_transform(range(1, len(st.s) + 1),
                 i -> CASE WHEN st.s[i] = 0 AND w.wl[i] = 1 THEN st.k + 1
                           ELSE st.r[i] END) AS r2
        FROM wind w, xind x
      ) z
      WHERE len(list_filter(st.s, x -> x = 0)) > 0
    ),
    fin AS (SELECT s, r FROM st ORDER BY k DESC LIMIT 1)
    SELECT n.node AS id, CAST(f.r[n.idx] AS BIGINT) AS round
    FROM fin f, nodes n
    WHERE f.s[n.idx] = 1
    ORDER BY n.node
"""


@query(
    "q412_luby_mis",
    oracle=_Q412_ORACLE,
    tags=("graph", "mis", "kernel"),
)
def q412_luby_mis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal independent set on the co-supply backbone via
    DETERMINISTIC Luby elimination (graph/algorithms.luby_mis) — the
    anti-clique counterpart of the community family: an MIS is the
    canonical "pick non-conflicting representatives" primitive (audit
    one supplier per co-supply conflict group; also the basis of
    symmetry-breaking for distributed coloring).  Luby's random
    permutation is replaced by md5 priorities, so both engines
    eliminate the SAME nodes in the SAME rounds and the gate pins the
    full (node, entry-round) table, not just set size.

    Scale plan: O(log n) supersteps (Luby 1986 — a constant expected
    fraction of undecided edges dies per round), each two semi-joins +
    an anti-join over the SHRINKING undecided subgraph, its state
    pinned every round (graph/algorithms._pin).  The oracle replays the
    rounds as a recursive CTE over dense status/round lists (the q404
    machinery) and was validated against an independent adjacency-dict
    Python implementation at all three scales.  Set invariants
    (independence, maximality) are pinned separately in
    tests/test_mis.py on random graphs."""
    from ..graph.algorithms import luby_mis

    se = _sparse_upper_edges(spark, sf_dir)
    return luby_mis(se).select(
        "id", F.col("round").cast("long").alias("round")
    ).orderBy("id")
