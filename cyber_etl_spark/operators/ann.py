"""Similarity search over embedding columns.

Brute-force cosine top-k as the exact baseline, and random-hyperplane LSH
bucketing as the scale path.  Embeddings stay ``array<float>`` columns; all
math is JVM-side column expressions (functions.vectors) — no UDF, no
collect.

Scale notes:
- Brute force broadcasts the *query* set (small) against the corpus
  (arbitrarily large): cost O(|Q|·n) distributed over the corpus
  partitions, with per-group top-k via window rank so only k rows per
  query survive the shuffle.
- LSH bucketing joins query and corpus on a band of sign-bits: shuffle is
  O(n·bands) and the cross product only happens within buckets.  Plane
  vectors are literal constants (deterministic seed), broadcast with the
  plan itself.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.vectors import cosine_similarity, dot, to_double_array
from ..session import local_frame

# Target bytes for one folded corpus block (ids + double matrix) in the
# blocked-GEMM operators.  64 MB keeps a block row far under Spark's 2 GB
# row / Arrow-batch hard limit while still amortizing the GEMM; tests
# monkeypatch this to force many blocks on tiny data.
_TARGET_BLOCK_BYTES = 64 << 20


def _dynamic_n_blocks(
    vecs: DataFrame, min_blocks: int = 16, target_bytes: int | None = None
) -> int:
    """Number of hash blocks so each block's folded matrix stays around
    ``_TARGET_BLOCK_BYTES``: ceil(rows · dim · 8 / target), floored at
    ``min_blocks`` for parallelism.  One distributed aggregate job
    (count + first vector width) — same cost class as the existing
    ``max_queries`` cap check, and the operators' outputs are
    block-count-invariant by construction (exact verification / global
    rank happens after the blocked scoring), so sizing only affects
    memory and parallelism, never results.  ``vecs`` must expose the
    vector as column ``v``."""
    import math

    tb = target_bytes if target_bytes is not None else _TARGET_BLOCK_BYTES
    row = vecs.agg(
        F.count(F.lit(1)).alias("n"), F.first(F.size(F.col("v"))).alias("dim")
    ).first()
    n, dim = (row["n"] or 0), (row["dim"] or 0)
    return max(min_blocks, math.ceil(n * dim * 8 / tb))


def brute_force_knn(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = 6,
    max_queries: int = 10_000,
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, cosine) — self-matches
    excluded.  ``round_digits`` quantizes the ranking score so results are
    reproducible across engines' last-ulp float differences.

    Distributed as per-partition top-k merge: the corpus folds into
    hash-assigned blocks, each block scores against the (broadcast) query
    matrix with one BLAS GEMM and emits only its local top-k per query
    (with a round-margin so global ties survive), and a final window
    rank merges k·blocks candidate rows — the classic scalable
    brute-force kNN plan: no per-pair Arrow traffic, no global re-score.
    """
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    rd = 6 if round_digits is None else round_digits
    id_type = corpus.schema[id_col].dataType
    out_schema = StructType(
        [
            StructField("query_id", id_type),
            StructField("neighbor_id", id_type),
            StructField("cosine", DoubleType()),
        ]
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), to_double_array(F.col(vec_col)).alias("qv")
    )
    # The whole probe set folds into ONE row (collect_list) so each corpus
    # block scores it with a single GEMM; that row lives under Spark's 2 GB
    # row / Arrow batch limit only while |Q| stays probe-sized.  Enforce the
    # contract up front (distributed count — scale-safe) instead of letting
    # a large |Q| OOM the collect_list task.
    n_q = q.limit(max_queries + 1).count()
    if n_q > max_queries:
        raise ValueError(
            f"brute_force_knn query set exceeds max_queries={max_queries}; "
            "use lsh_bucket_candidates/ivf for large query sets"
        )
    qb = q.groupBy().agg(F.collect_list(F.struct("query_id", "qv")).alias("qitems"))
    c = corpus.select(
        F.col(id_col).alias("id"), to_double_array(F.col(vec_col)).alias("v")
    )
    # corpus side is unbounded → block count must scale with it: at
    # ~10M × 768-d doubles a static 16-way fold would put ~4 GB in ONE
    # aggregated row, over the 2 GB row/Arrow limit.  Derived sizing keeps
    # every block ~_TARGET_BLOCK_BYTES at any corpus size.
    n_blocks = _dynamic_n_blocks(c)
    chunks = c.groupBy(
        F.pmod(F.xxhash64(F.col("id")), F.lit(n_blocks)).alias("blk")
    ).agg(F.collect_list(F.struct("id", "v")).alias("items"))
    joined = chunks.crossJoin(F.broadcast(qb)).select("items", "qitems")
    margin = 10.0 ** (-rd)

    def score(batches):
        for pdf in batches:
            for items, qitems in zip(pdf["items"], pdf["qitems"]):
                if len(qitems) == 0 or len(items) == 0:
                    continue  # empty probe/block: np.stack([]) raises
                ids = np.asarray([r["id"] for r in items])
                x = np.stack([np.asarray(r["v"]) for r in items])
                qids = np.asarray([r["query_id"] for r in qitems])
                qm = np.stack([np.asarray(r["qv"]) for r in qitems])
                s = (x @ qm.T) / np.outer(
                    np.linalg.norm(x, axis=1), np.linalg.norm(qm, axis=1)
                )
                s = np.where(ids[:, None] != qids[None, :], s, -np.inf)
                kk = min(k, s.shape[0])
                thr = np.partition(s, -kk, axis=0)[-kk, :]
                # keep every row that could still tie globally after
                # rounding; -inf (self) rows never pass the finite check
                mask = (s >= thr[None, :] - margin) & np.isfinite(s)
                ia, iq = np.nonzero(mask)
                if len(ia):
                    yield pd.DataFrame(
                        {
                            "query_id": qids[iq],
                            "neighbor_id": ids[ia],
                            "cosine": s[ia, iq],
                        }
                    )

    scored = joined.mapInPandas(score, schema=out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.select(
            "query_id", "neighbor_id", F.round("cosine", rd).alias("cosine")
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .drop("rn")
    )


def groupwise_max_cosine(
    corpus: DataFrame,
    queries: DataFrame,
    group_col: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    max_queries: int = 10_000,
) -> DataFrame:
    """Per-(query, corpus-group) MAX cosine — the mining primitive behind
    hard-negative/hard-positive audits: for every probe, the best match
    inside EVERY corpus group (label), without materializing any top-k
    that might miss a group entirely (a same-label nearest neighbor can
    sit at rank 1000 of a plain kNN).  Returns
    ``(query_id, <group_col>, cosine)``.

    Distributed exactly like :func:`brute_force_knn`: the probe matrix
    broadcasts as one folded row (``max_queries`` contract enforced
    up front), the corpus folds into size-bounded hash blocks, each
    block runs ONE GEMM and reduces to its local per-(query, group)
    max — |Q|·|groups-in-block| rows per block — and a global
    groupBy(max) merges blocks.  max is order-independent and
    round(·, 6) is monotone, so round(global max) is reproducible
    across any blocking/merge order — the brute_force_knn hash-oracle
    discipline.  Self-matches (same id) are excluded."""
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    id_type = corpus.schema[id_col].dataType
    group_type = corpus.schema[group_col].dataType
    out_schema = StructType(
        [
            StructField("query_id", id_type),
            StructField(group_col, group_type),
            StructField("cosine", DoubleType()),
        ]
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        to_double_array(F.col(vec_col)).alias("qv"),
    )
    n_q = q.limit(max_queries + 1).count()
    if n_q > max_queries:
        raise ValueError(
            f"groupwise_max_cosine query set exceeds max_queries="
            f"{max_queries}; mine hard negatives in probe-sized batches"
        )
    qb = q.groupBy().agg(
        F.collect_list(F.struct("query_id", "qv")).alias("qitems")
    )
    c = corpus.select(
        F.col(id_col).alias("id"),
        F.col(group_col).alias("grp"),
        to_double_array(F.col(vec_col)).alias("v"),
    )
    n_blocks = _dynamic_n_blocks(c)
    chunks = c.groupBy(
        F.pmod(F.xxhash64(F.col("id")), F.lit(n_blocks)).alias("blk")
    ).agg(F.collect_list(F.struct("id", "grp", "v")).alias("items"))
    joined = chunks.crossJoin(F.broadcast(qb)).select("items", "qitems")

    def score(batches):
        for pdf in batches:
            for items, qitems in zip(pdf["items"], pdf["qitems"]):
                if len(qitems) == 0 or len(items) == 0:
                    continue  # empty probe/block: np.stack([]) raises
                ids = np.asarray([r["id"] for r in items])
                grps = pd.Series([r["grp"] for r in items])
                x = np.stack([np.asarray(r["v"]) for r in items])
                qids = np.asarray([r["query_id"] for r in qitems])
                qm = np.stack([np.asarray(r["qv"]) for r in qitems])
                s = (x @ qm.T) / np.outer(
                    np.linalg.norm(x, axis=1), np.linalg.norm(qm, axis=1)
                )
                s = np.where(ids[:, None] != qids[None, :], s, -np.inf)
                for g, idx in grps.groupby(grps).groups.items():
                    mx = s[np.asarray(idx), :].max(axis=0)
                    fin = np.isfinite(mx)
                    if fin.any():
                        yield pd.DataFrame(
                            {
                                "query_id": qids[fin],
                                group_col: g,
                                "cosine": mx[fin],
                            }
                        )

    scored = joined.mapInPandas(score, schema=out_schema)
    return scored.groupBy("query_id", group_col).agg(
        F.round(F.max("cosine"), round_digits).alias("cosine")
    )


def _plane_literals(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.RandomState(seed)
    return rng.normal(size=(n_planes, dim)).round(6).tolist()


def lsh_bucket_candidates(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 8,
    bands: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Random-hyperplane LSH candidates: (query_id, neighbor_id) pairs that
    share at least one band of sign-bits.  Feed into an exact re-rank (the
    brute-force scorer restricted to candidates) for an ANN search whose
    shuffle volume is O(n·bands) instead of O(n·|Q|)."""
    assert n_planes % bands == 0
    bits_per_band = n_planes // bands
    planes_np = np.asarray(_plane_literals(dim, n_planes, seed))

    import pandas as pd
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    id_type = corpus.schema[id_col].dataType
    weights = 2 ** np.arange(bits_per_band)

    def band_rows(df: DataFrame, name: str) -> DataFrame:
        """(id, band, val) sign-bit band signatures — ALL plane dot
        products in one GEMM per Arrow batch instead of n_planes
        interpreted fold expressions (and n_planes·dim plan literals)."""
        out_schema = StructType(
            [
                StructField(name, id_type),
                StructField("band", IntegerType()),
                StructField("val", LongType()),
            ]
        )
        src = df.select(
            F.col(id_col).alias("id"), to_double_array(F.col(vec_col)).alias("v")
        )

        def sig(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                mat = np.stack([np.asarray(x) for x in pdf["v"]])
                bits = (mat @ planes_np.T) >= 0
                for b in range(bands):
                    vals = (
                        bits[:, b * bits_per_band : (b + 1) * bits_per_band]
                        .astype(np.int64)
                        @ weights
                    )
                    yield pd.DataFrame(
                        {name: pdf["id"], "band": b, "val": vals}
                    )

        return src.mapInPandas(sig, schema=out_schema)

    return (
        band_rows(corpus, "neighbor_id")
        .join(band_rows(queries, "query_id"), ["band", "val"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )


def cosine_neardup_pairs(
    corpus: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    n_blocks: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine ≥ t).

    Exact all-pairs via a **block-matrix similarity join**: vectors are
    hash-assigned to ``n_blocks`` blocks, each block folded into one row
    (ids + matrix), the ~B²/2 unordered block pairs are joined, and each
    block pair is scored with a single BLAS GEMM inside ``mapInPandas``.
    Only pairs at/above the threshold are ever materialized, so shuffle
    and Arrow volume is O(n·B·d) instead of the O(n²·d) a per-pair self
    join ships.  ``n_blocks`` defaults to derived sizing (corpus bytes /
    ``_TARGET_BLOCK_BYTES``) so a block's matrix never approaches the
    2 GB row limit at any corpus size; beyond exact-all-pairs economics,
    :func:`lsh_bucket_candidates` bounds the candidate pairs instead.
    """
    v = corpus.select(
        F.col(id_col).alias("id"), to_double_array(F.col(vec_col)).alias("v")
    )
    if n_blocks is None:
        n_blocks = _dynamic_n_blocks(v)
    return _blocked_pair_scores(v, threshold, round_digits, n_blocks)


def _blocked_pair_scores(
    v: DataFrame,
    threshold: float,
    round_digits: int,
    n_blocks: int,
    grouped: bool = False,
) -> DataFrame:
    """Blocked-GEMM pair scoring core shared by the all-pairs and the
    within-group (semantic-dedup cell) operators.

    ``v`` must expose ``(id, v)`` — plus ``grp`` when ``grouped`` — and
    pairs are only formed inside a group (the ungrouped form is one
    implicit global group).  Blocks are hash-split WITHIN each group, so
    a skewed group never folds into a single >2 GB row; the ~B²/2
    unordered block pairs per group are each scored with one BLAS GEMM
    inside ``mapInPandas``, and only at-threshold pairs materialize.
    """
    from pyspark.sql.types import DoubleType, StructField, StructType

    id_type = v.schema["id"].dataType
    out_schema = StructType(
        [
            StructField("id_a", id_type),
            StructField("id_b", id_type),
            StructField("cosine", DoubleType()),
        ]
    )
    if not grouped:
        v = v.withColumn("grp", F.lit(0))
    chunks = v.groupBy(
        "grp", F.pmod(F.xxhash64(F.col("id")), F.lit(n_blocks)).alias("blk")
    ).agg(F.collect_list(F.struct("id", "v")).alias("items"))
    a, b = chunks.alias("a"), chunks.alias("b")
    joined = a.join(
        F.broadcast(b),
        (F.col("a.grp") == F.col("b.grp")) & (F.col("a.blk") <= F.col("b.blk")),
    ).select(
        (F.col("a.blk") == F.col("b.blk")).alias("diag"),
        F.col("a.items").alias("items_a"),
        F.col("b.items").alias("items_b"),
    )
    return _score_joined_blocks(joined, out_schema, threshold, round_digits)


def _score_joined_blocks(
    joined: DataFrame,
    out_schema,
    threshold: float,
    round_digits: int,
) -> DataFrame:
    """Shared GEMM scorer over a joined block-pair frame exposing
    ``(diag boolean, items_a, items_b)``: each row is one block pair
    scored with a single BLAS GEMM; diagonal rows (a block against
    itself) keep only the strict upper triangle so every unordered pair
    materializes exactly once, oriented (smaller id, larger id).  Only
    at/above-threshold entries are emitted, then the exact rounded
    filter is re-applied JVM-side so semantics match the SQL oracles."""
    # margin keeps raw values that round UP to the threshold; the exact
    # rounded filter is re-applied below so semantics match the oracle.
    raw_cut = threshold - 10.0 ** (-round_digits)
    import pandas as pd

    def score(batches):
        for pdf in batches:
            for diag, items_a, items_b in zip(
                pdf["diag"], pdf["items_a"], pdf["items_b"]
            ):
                ids_a = np.asarray([r["id"] for r in items_a])
                ids_b = np.asarray([r["id"] for r in items_b])
                xa = np.stack([np.asarray(r["v"]) for r in items_a])
                xb = np.stack([np.asarray(r["v"]) for r in items_b])
                m = (xa @ xb.T) / np.outer(
                    np.linalg.norm(xa, axis=1), np.linalg.norm(xb, axis=1)
                )
                hit = m >= raw_cut
                if diag:
                    # within a block each unordered pair appears twice;
                    # keep the (smaller id, larger id) orientation once.
                    hit &= ids_a[:, None] < ids_b[None, :]
                    ia, ib = np.nonzero(hit)
                    lo, hi = ids_a[ia], ids_b[ib]
                else:
                    # off-diagonal: the smaller id can sit on either side.
                    ia, ib = np.nonzero(hit)
                    lo = np.minimum(ids_a[ia], ids_b[ib])
                    hi = np.maximum(ids_a[ia], ids_b[ib])
                if len(ia):
                    yield pd.DataFrame(
                        {"id_a": lo, "id_b": hi, "cosine": m[ia, ib]}
                    )

    scored = joined.mapInPandas(score, schema=out_schema)
    cos = F.round(F.col("cosine"), round_digits)
    return scored.select("id_a", "id_b", cos.alias("cosine")).where(
        F.col("cosine") >= threshold
    )


def _eps_candidate_cell_pairs(
    anchors: "np.ndarray", radii: "np.ndarray", eps: float
) -> list[tuple[int, int]]:
    """Triangle-inequality candidate cell pairs for an eps-distance join
    over NORMALIZED vectors: cells ``i <= j`` (positional indices) survive
    iff ``||anchor_i - anchor_j|| <= r_i + r_j + eps``.  Any pair of
    points (x in cell i, y in cell j) with ``||x̂ - ŷ|| <= eps`` forces
    ``||a_i - a_j|| <= ||a_i - x̂|| + ||x̂ - ŷ|| + ||ŷ - a_j|| <=
    r_i + eps + r_j``, so pruned cell pairs PROVABLY contain no
    qualifying point pair — recall is 1.0 by construction, for any
    anchor choice, as long as each radius is the max member distance to
    its own cell's anchor.  A small float slack is added to the RHS so
    double rounding in the norm computations can never flip a boundary
    pair out."""
    d = np.linalg.norm(anchors[:, None, :] - anchors[None, :, :], axis=2)
    rhs = radii[:, None] + radii[None, :] + eps + 1e-9
    keep = d <= rhs
    k = len(anchors)
    return [(i, j) for i in range(k) for j in range(i, k) if keep[i, j]]


# Bounded-collect guard for the eps kernel's per-cell statistics: the
# centroid/anchor/radius tables are n_cells rows by construction, and the
# driver-side candidate enumeration is O(n_cells²).
_MAX_EPS_CELLS = 1024


def eps_neighbor_pairs(
    corpus: DataFrame,
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
    iters: int = 1,
    round_digits: int = 6,
    _stats_out: dict | None = None,
) -> DataFrame:
    """EXACT eps-neighbor pairs (id_a < id_b, cosine ≥ t) with
    candidate-FIRST cell pruning — the kernel for neighbor-GRAPH
    consumers (DBSCAN q194, label spreading q235), where the pair table
    is an intermediate eps-graph rather than the query output.

    Structure (the q22 candidate-first discipline, carried to exact
    geometry): k-means cells partition the corpus; per cell, an anchor
    (the normalized centroid) and a radius (max member distance to the
    anchor, over NORMALIZED vectors) are computed in one corpus pass;
    cell pairs whose anchors sit further apart than ``r_i + r_j + eps``
    (eps = chord length ``sqrt(2 - 2·t⁻)``) are PROVABLY pair-free by
    the triangle inequality (:func:`_eps_candidate_cell_pairs`) and are
    never scored.  Surviving cell pairs are sub-blocked (largest-cell
    sizing, the :func:`semantic_neardup_pairs` rule, so no folded row
    approaches the 2 GB limit regardless of skew) and scored with the
    shared GEMM kernel; the exact rounded-cosine filter re-applies at
    the end, so results are IDENTICAL to :func:`cosine_neardup_pairs`
    at any parameterization — pruning affects cost, never output.

    Honesty note (measured on the synthetic testdata): at t = 0.3 the
    eps chord is 1.183 while this corpus's cell radii plateau at ~0.95
    for any k ≤ 128 (true pairs concentrate AT the threshold — median
    pair cosine 0.328), so no cell pair prunes here and the kernel
    degrades to the same ~B²/2 block pairs as the exact all-pairs
    kernel, at the cost of one extra Lloyd pass.  Sign-bit LSH cannot
    fix that: at θ(0.3) = 72.5° per-plane collision is 0.597, so any
    banding with sub-quadratic candidates has material miss probability
    on at-threshold pairs — it would fail the exact oracle.  What the
    kernel buys is the 100 TB contract: on clusterable corpora (tight
    near-dup families, t ≥ 0.5 regimes) candidate cell pairs collapse
    toward the diagonal and compute drops from O(n²·d) to
    O(Σ_cand |c_i||c_j|·d), while the degenerate worst case costs what
    exact all-pairs already costs.  ``_stats_out`` (tests/telemetry)
    receives ``{"n_cells", "kept_cell_pairs", "total_cell_pairs"}``."""
    import math

    from pyspark.sql.types import DoubleType, StructField, StructType

    if not 1 <= n_cells <= _MAX_EPS_CELLS:
        raise ValueError(
            f"eps_neighbor_pairs: n_cells={n_cells} outside [1, {_MAX_EPS_CELLS}] "
            "— per-cell statistics are collected driver-side and candidate "
            "enumeration is O(n_cells²), so the cell count must stay bounded"
        )
    # the micro-grid quantized form (vm, v) drives the DETERMINISTIC
    # k-means; the raw double vector (vr) rides along untouched because
    # radius + pair scoring must see the exact oracle-side values — a
    # 1e-6-grid snap shifts 6th-decimal cosines and can flip a boundary
    # pair, which cell assignment (a pure cost knob) never can.
    vecs = (
        corpus.select(
            F.col(id_col).alias("id"),
            to_double_array(F.col(vec_col)).alias("vr"),
        )
        .withColumn("vm", micro_array(F.col("vr")))
        .withColumn("v", F.transform("vm", lambda m: m.cast("double") / _MICRO))
        .localCheckpoint(eager=True)
    )
    cents = _kmeans_core(vecs, n_cells, iters)
    members = nearest_centroid_assign(vecs, cents, extra_cols=("vr",)).select(
        "cell", "id", F.col("vr").alias("v")
    )
    # feeds the radius pass AND the scoring pass
    members = members.localCheckpoint(eager=True)

    # ---- driver-side per-cell geometry (bounded: ≤ n_cells rows) ----
    from pyspark.sql.types import DoubleType as _Dbl
    from pyspark.sql.types import StructField as _SF
    from pyspark.sql.types import StructType as _ST

    crows = sorted(cents.collect(), key=lambda r: r["cell"])
    if not crows:  # empty corpus → empty pair table, same as the exact kernel
        id_type = vecs.schema["id"].dataType
        return local_frame(
            corpus.sparkSession,
            [],
            _ST(
                [
                    _SF("id_a", id_type),
                    _SF("id_b", id_type),
                    _SF("cosine", _Dbl()),
                ]
            ),
        )
    cell_ids = [r["cell"] for r in crows]
    cmat = np.array([list(r["cv"]) for r in crows], dtype=np.float64)
    cnorm = np.linalg.norm(cmat, axis=1)
    # a zero-norm centroid (fully degenerate cell) gets an arbitrary
    # anchor and a never-prunes radius below
    safe = np.where(cnorm > 0, cnorm, 1.0)
    anchors = cmat / safe[:, None]
    cell_pos = {c: i for i, c in enumerate(cell_ids)}
    dim = cmat.shape[1]

    import pandas as pd
    from pyspark.sql.types import LongType

    rad_schema = StructType(
        [
            StructField("cell", cents.schema["cell"].dataType),
            StructField("r", DoubleType()),
            StructField("cnt", LongType()),
        ]
    )

    def rad(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack([np.asarray(v) for v in pdf["v"]])
            nrm = np.linalg.norm(x, axis=1)
            xn = x / np.where(nrm > 0, nrm, 1.0)[:, None]
            cells, rs, ns = [], [], []
            for c, idx in pdf.groupby("cell").indices.items():
                a = anchors[cell_pos[c]]
                cells.append(c)
                rs.append(float(np.linalg.norm(xn[idx] - a, axis=1).max()))
                ns.append(len(idx))
            yield pd.DataFrame({"cell": cells, "r": rs, "cnt": ns})

    stats = (
        members.mapInPandas(rad, rad_schema)
        .groupBy("cell")
        .agg(F.max("r").alias("r"), F.sum("cnt").alias("n"))
        .collect()
    )  # bounded: ≤ n_cells rows by construction
    radii = np.full(len(cell_ids), 2.0)  # memberless cells never prune
    counts = np.zeros(len(cell_ids), dtype=np.int64)
    for row in stats:
        radii[cell_pos[row["cell"]]] = row["r"]
        counts[cell_pos[row["cell"]]] = row["n"]
    raw_cut = threshold - 10.0 ** (-round_digits)
    eps = math.sqrt(max(0.0, 2.0 - 2.0 * raw_cut))
    cand = _eps_candidate_cell_pairs(anchors, radii, eps)
    total = len(cell_ids) * (len(cell_ids) + 1) // 2
    if _stats_out is not None:
        _stats_out.update(
            n_cells=len(cell_ids),
            kept_cell_pairs=len(cand),
            total_cell_pairs=total,
        )

    # ---- sub-blocking: size from the largest cell (skew-proof) ----
    mx = int(counts.max()) if len(counts) else 0
    n_sub = max(1, math.ceil(mx * dim * 8 / _TARGET_BLOCK_BYTES))
    allowed = [
        (int(cell_ids[i]), p, int(cell_ids[j]), q)
        for (i, j) in cand
        for p in range(n_sub)
        for q in range(n_sub)
        if i != j or p <= q
    ]
    spark = corpus.sparkSession
    allowed_df = local_frame(
        spark, allowed, "cell_a long, sub_a int, cell_b long, sub_b int"
    )
    chunks = members.groupBy(
        "cell", F.pmod(F.xxhash64(F.col("id")), F.lit(n_sub)).cast("int").alias("sub")
    ).agg(F.collect_list(F.struct("id", "v")).alias("items"))
    a = chunks.withColumnRenamed("cell", "cell_a").withColumnRenamed("sub", "sub_a")
    b = chunks.withColumnRenamed("cell", "cell_b").withColumnRenamed("sub", "sub_b")
    joined = (
        a.join(F.broadcast(allowed_df), ["cell_a", "sub_a"])
        .join(
            b.withColumnRenamed("items", "items_b"),
            ["cell_b", "sub_b"],
        )
        .select(
            (
                (F.col("cell_a") == F.col("cell_b"))
                & (F.col("sub_a") == F.col("sub_b"))
            ).alias("diag"),
            F.col("items").alias("items_a"),
            "items_b",
        )
    )
    id_type = members.schema["id"].dataType
    out_schema = StructType(
        [
            StructField("id_a", id_type),
            StructField("id_b", id_type),
            StructField("cosine", DoubleType()),
        ]
    )
    return _score_joined_blocks(joined, out_schema, threshold, round_digits)


def ivf_assign(
    corpus: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_iters: int = 2,
) -> tuple[DataFrame, DataFrame]:
    """IVF coarse quantization → (centroids, assignments).

    By DEFAULT the centroids are TRAINED — ``train_iters`` Lloyd k-means
    iterations via :func:`kmeans_fit` (deterministic: micro-grid integer
    means, (sim desc, cell asc) tie-breaks) — so cell balance reflects
    the data distribution rather than data-order luck; balanced cells
    are what make probe recall and the hive-partitioned index layout
    predictable (r5 verdict item 3).  ``train_iters=0`` falls back to
    raw seeds (the first ``n_cells`` vectors by id) for callers that
    want an index without a training pass.

    At scale the centroid table is tiny → broadcast; assignment is one
    pass over the corpus; the assignment column becomes a partition key so
    each IVF cell is co-located for probing.

    The seed pick is ``orderBy(id).limit(n_cells)`` — compiles to
    TakeOrderedAndProject (per-partition top-N + driver merge of N rows),
    NOT an unpartitioned row_number window that would drag the whole
    corpus through one task.  Cell ids are the seed vector ids themselves:
    the id→cell mapping is monotone, so all (sim desc, cell asc)
    tie-breaks order identically to a 1..n numbering.
    """
    if train_iters > 0:
        return kmeans_fit(corpus, n_cells, train_iters, id_col, vec_col)
    seeds = (
        corpus.select(
            F.col(id_col).alias("cell"), to_double_array(F.col(vec_col)).alias("cv")
        )
        .orderBy("cell")
        .limit(n_cells)
    )
    # Materialize the seed pick ONCE (one TakeOrdered job) and rebuild it
    # as a local relation: the GEMM assignment's driver-side centroid read
    # AND the caller's probe-selection subtree both consume the local
    # table, so neither re-scans the corpus inside the main job.
    cents = local_frame(corpus.sparkSession, seeds.collect(), seeds.schema)
    vecs = corpus.select(
        F.col(id_col).alias("id"), to_double_array(F.col(vec_col)).alias("v")
    )
    return cents, nearest_centroid_assign(vecs, cents)


def nearest_centroid_assign(
    vecs: DataFrame, cents: DataFrame, extra_cols: tuple[str, ...] = ()
) -> DataFrame:
    """(id, cell, *extra_cols): nearest centroid by rounded cosine, tie →
    smallest cell — SHUFFLE-FREE, one GEMM per Arrow batch.

    The centroid table (tiny by construction: Lloyd cells / IVF lists)
    is collected once into a k×d matrix shipped in the task closure, and
    each corpus batch scores V·Cᵀ with one BLAS call inside
    ``mapInPandas`` — the same kernel economics as
    :func:`cosine_neardup_pairs`.  This replaces (a) the per-id
    row_number window (shuffles n·n_cells scored rows per call — per
    Lloyd iteration — the dominant k-means cost at 100 TB) and (b) the
    earlier JVM higher-order ``transform`` argmax, whose per-element
    interpreted fold costs n·n_cells·d interpreted ops per pass (~1.5×
    whole-query wall at sf0.1, linearly worse at scale).

    Determinism contract (matches the q40/q125 oracles bit-for-bit):
    similarity is rounded HALF-AWAY-FROM-ZERO to 1e-6 (Spark
    ``round``/DuckDB ``round`` double semantics — NOT numpy's
    half-even), then argmax breaks ties to the smallest cell (centroid
    rows sorted by cell; ``np.argmax`` takes the first maximum).  A
    zero-norm vector scores NaN against every centroid and lands in the
    smallest cell in both the old and new forms.  ``extra_cols`` ride
    along so callers never need an id-keyed join to recover vector
    payloads next to the assignment; ``vecs`` must expose ``id`` and
    ``v``."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import StructField, StructType

    rows = sorted(cents.select("cell", "cv").collect(), key=lambda r: r["cell"])
    out_schema = StructType(
        [
            vecs.schema["id"],
            StructField("cell", cents.schema["cell"].dataType),
            *[vecs.schema[c] for c in extra_cols],
        ]
    )
    if not rows:
        # empty centroid table + empty corpus (empty-corpus seeding) →
        # empty assignment, matching the vacuous-empty behavior of the
        # replaced broadcast-argmax form.  Empty centroids with a
        # NON-empty corpus is a caller bug (broken index, over-filtered
        # cents) — degrading silently there would drop every vector, so
        # it stays loud.  The emptiness probe is one limit(1) job, paid
        # only on this error path.
        if vecs.limit(1).count() == 0:
            return local_frame(vecs.sparkSession, [], out_schema)
        raise ValueError(
            "empty centroid table with a non-empty vector input — "
            "refusing to silently assign nothing"
        )
    cells = np.array([r["cell"] for r in rows], dtype=np.int64)
    cmat = np.array([list(r["cv"]) for r in rows], dtype=np.float64)
    cnorm = np.sqrt((cmat * cmat).sum(axis=1))

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vmat = np.array(pdf["v"].tolist(), dtype=np.float64)
            vnorm = np.sqrt((vmat * vmat).sum(axis=1))
            with np.errstate(divide="ignore", invalid="ignore"):
                sims = (vmat @ cmat.T) / np.outer(vnorm, cnorm)
            scaled = sims * 1e6
            rounded = np.where(
                sims >= 0, np.floor(scaled + 0.5), np.ceil(scaled - 0.5)
            )
            idx = np.argmax(rounded, axis=1)  # first max = smallest cell
            out = {"id": pdf["id"], "cell": cells[idx]}
            for c in extra_cols:
                out[c] = pdf[c]
            yield pd.DataFrame(out)

    return vecs.mapInPandas(assign, out_schema)


def ivf_knn(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index: tuple[DataFrame, DataFrame] | None = None,
    train_iters: int = 2,
) -> DataFrame:
    """IVF-style ANN: probe the ``nprobe`` nearest cells per query and
    re-rank only vectors in those cells — candidate count ≈
    corpus·nprobe/n_cells instead of the full corpus.

    ``index``: a pre-built ``(centroids, assignments)`` pair — typically
    :func:`load_ivf_index` output — skips the per-query index build
    entirely (the production lifecycle: the index is built once per
    corpus version and persisted; queries only scan it).  ``n_cells`` is
    ignored when an index is supplied."""
    cents, assign = (
        index
        if index is not None
        else ivf_assign(corpus, n_cells, id_col, vec_col, train_iters)
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"), to_double_array(F.col(vec_col)).alias("qv")
    )
    # top-nprobe cells per query, shuffle-free: score the broadcast
    # centroid array inside the projection, sort it descending (ties →
    # cell asc via the -cell struct field) and explode the head slice —
    # no per-query window shuffle over |Q|·n_cells rows.
    carr = cents.agg(F.collect_list(F.struct("cell", "cv")).alias("cs"))
    scored_cells = F.reverse(
        F.array_sort(
            F.transform(
                F.col("cs"),
                lambda c: F.struct(
                    F.round(cosine_similarity(F.col("qv"), c["cv"]), 6).alias("sim"),
                    (-c["cell"]).alias("negcell"),
                ),
            )
        )
    )
    probes = (
        qv.crossJoin(F.broadcast(carr))
        .select(
            "query_id",
            "qv",
            F.explode(F.slice(scored_cells, 1, nprobe)).alias("pc"),
        )
        .select("query_id", "qv", (-F.col("pc.negcell")).alias("cell"))
    )
    cand = (
        corpus.select(
            F.col(id_col).alias("neighbor_id"), to_double_array(F.col(vec_col)).alias("cv")
        )
        .join(assign.withColumnRenamed("id", "neighbor_id"), "neighbor_id")
        .join(probes, "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        F.round(cosine_similarity(F.col("qv"), F.col("cv")), 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= k).drop("rn")


# ---- semantic dedup (SemDeDup-style: k-means cells + within-cell pairs) ----

# Micro-unit grid for cross-engine-deterministic k-means: every embedding
# element is snapped to an exact 1e-6 integer grid up front, so centroid
# means are EXACT integer sums (order-independent — no decimal-cast tie
# hazard on raw doubles) followed by one deterministic double division.
_MICRO = 1_000_000


def micro_array(col) -> F.Column:
    """array<double> → array<bigint> on the 1e-6 integer micro grid:
    ``floor(x·1e6 + 0.5)`` is the half-up snap both engines compute
    bit-identically on the same double input (floor is exact; no
    decimal-cast rounding-mode divergence).  THE quantization
    convention — every consumer (k-means, PQ, feature profiles) must
    use this one expression so the grid can never silently diverge."""
    return F.transform(
        col, lambda x: F.floor(x.cast("double") * _MICRO + F.lit(0.5)).cast("long")
    )


def _quantized_vecs(corpus: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, vm: array<bigint> micro-units, v: array<double> = vm/1e6)."""
    return corpus.select(
        F.col(id_col).alias("id"), micro_array(F.col(vec_col)).alias("vm")
    ).withColumn("v", F.transform("vm", lambda m: m.cast("double") / _MICRO))


def _nearest_cell(vecs: DataFrame, cents: DataFrame) -> DataFrame:
    """Assign each (id, v) to its nearest centroid — the shuffle-free
    broadcast-argmax form (see :func:`nearest_centroid_assign`)."""
    return nearest_centroid_assign(vecs, cents)


def kmeans_fit(
    corpus: DataFrame,
    n_cells: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Lloyd k-means over an embedding column, cross-engine deterministic.

    Seeds are the first ``n_cells`` vectors by id (TakeOrdered — no full
    sort); each iteration assigns every vector to its nearest centroid by
    rounded cosine and recomputes centroids as the element-wise mean of
    members, computed on the exact micro-unit integer grid (see
    ``_MICRO``) so shuffle order cannot perturb a single bit.  Cells that
    lose all members keep their previous centroid.  Returns
    ``(centroids (cell, cv), assignments (id, cell))`` for the FINAL
    centroids.

    Scale: the centroid table is ``n_cells`` rows (broadcast); each
    iteration is ONE corpus pass — the assignment argmax and the
    micro-unit posexplode run in the same projection (no id-keyed join),
    feeding a (cell, pos)-keyed agg with map-side partial sums
    (≤ n_cells·dim rows out).  Loop state (centroids) is pinned per
    iteration; the quantized corpus is pinned ONCE (the multi-pass
    algorithm re-reads it iters+1 times — executor-storage cache, the
    standard k-means trade; on a cluster this is persist-equivalent).
    """
    vecs = _quantized_vecs(corpus, id_col, vec_col).localCheckpoint(eager=True)
    cents = _kmeans_core(vecs, n_cells, iters)
    return cents, nearest_centroid_assign(vecs, cents)


def _kmeans_core(vecs: DataFrame, n_cells: int, iters: int) -> DataFrame:
    """Lloyd loop over a pinned (id, vm, v) frame → final centroids."""
    cents = (
        vecs.orderBy("id")
        .limit(n_cells)
        .select(F.col("id").alias("cell"), F.col("v").alias("cv"))
        .localCheckpoint(eager=True)
    )
    for _ in range(iters):
        # both aggregates have intrinsically bounded outputs
        # (≤ n_cells·dim, then ≤ n_cells rows) — map-side partial sums do
        # the heavy lifting, so collapsing the reduce side to a handful
        # of tasks is always right, at any corpus size (the `_nw`
        # loop-stage rule from the graph family).
        sums = (
            nearest_centroid_assign(vecs, cents, extra_cols=("vm",))
            .select("cell", F.posexplode("vm").alias("pos", "mval"))
            .groupBy("cell", "pos")
            .agg(
                F.floor(F.sum("mval") / F.count("mval") + F.lit(0.5))
                .cast("long")
                .alias("cmicro")
            )
            .coalesce(8)
        )
        newc = sums.groupBy("cell").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cmicro"))),
                lambda s: s["cmicro"].cast("double") / _MICRO,
            ).alias("cv_new")
        ).coalesce(1)
        cents = (
            cents.join(newc, "cell", "left")
            .select("cell", F.coalesce("cv_new", "cv").alias("cv"))
            .localCheckpoint(eager=True)
        )
    return cents


def semantic_neardup_pairs(
    corpus: DataFrame,
    n_cells: int = 8,
    iters: int = 2,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    prebuilt: tuple[DataFrame, DataFrame] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Within-cell cosine pairs after k-means clustering — the SemDeDup
    candidate structure (Abbas et al. 2023: duplicates concentrate inside
    k-means cells, so only O(Σ|cell|²) ≪ n² pairs are ever scored).

    Returns ``(assign (id, cell), pairs (id_a < id_b, cosine ≥ t))``.
    Pair scoring reuses the blocked-GEMM core with the cell as the group
    key: a skewed giant cell hash-splits into many block rows instead of
    folding into one >2 GB row, and block sizing derives from the LARGEST
    cell (one tiny agg job), so memory is bounded regardless of skew.

    ``prebuilt``: a ``(vecs, cents)`` pair as built by
    ``plans.textops.cached_kmeans`` — skips the quantize pin and the
    Lloyd loop (a trained clustering is a shared session artifact, the
    q375/statcat routing rule); ``n_cells``/``iters`` are ignored then.
    """
    import math

    if prebuilt is not None:
        vecs, cents = prebuilt
    else:
        vecs = _quantized_vecs(corpus, id_col, vec_col).localCheckpoint(eager=True)
        cents = _kmeans_core(vecs, n_cells, iters)
    members = nearest_centroid_assign(vecs, cents, extra_cols=("v",)).select(
        F.col("cell").alias("grp"), "id", "v"
    )
    # one sizing job: largest cell row count + vector width
    stats = (
        members.groupBy("grp")
        .agg(F.count(F.lit(1)).alias("c"), F.first(F.size("v")).alias("d"))
        .agg(F.max("c").alias("mx"), F.first("d").alias("dim"))
        .first()
    )
    mx = (stats["mx"] or 0) if stats else 0
    dim = (stats["dim"] or 0) if stats else 0
    n_blocks = max(1, math.ceil(mx * dim * 8 / _TARGET_BLOCK_BYTES))
    pairs = _blocked_pair_scores(
        members, threshold, round_digits, n_blocks, grouped=True
    )
    assign = members.select("id", F.col("grp").alias("cell"))
    return assign, pairs


def semantic_dedup(
    corpus: DataFrame,
    n_cells: int = 8,
    iters: int = 2,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    prebuilt: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """SemDeDup survivors: drop every document that has a SMALLER-id
    within-cell neighbor at/above the cosine threshold (deterministic
    keep-first rule — the id-order analogue of the paper's one-per-group
    choice).  Returns ``(id_col, cell)`` for the kept documents.

    Cross-cell near-duplicates are out of contract by construction (the
    SemDeDup approximation); the exact global variant is
    :func:`cosine_neardup_pairs`.
    """
    assign, pairs = semantic_neardup_pairs(
        corpus, n_cells, iters, threshold, id_col, vec_col,
        prebuilt=prebuilt,
    )
    dropped = pairs.select(F.col("id_b").alias("id")).distinct()
    return assign.join(dropped, "id", "left_anti").select(
        F.col("id").alias(id_col), "cell"
    )


def scalar_quantize_int8(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-vector int8 scalar quantization → (id, scale, codes, dequant).

    The vector-compression step of a 100 TB ANN index: each element maps
    to ``floor(x / scale)`` with ``scale = max|x| / 127`` — an 8× storage
    cut (int8 codes vs float64) that dominates index footprint and scan
    bandwidth at scale; queries stay full-precision and score against the
    dequantized codes (asymmetric distance computation, the
    IVF-SQ/Faiss pattern).  All arithmetic is elementwise IEEE double →
    floor, so codes are bit-reproducible in any engine (``floor`` + INT
    cast, never a rounding cast — CLAUDE.md convention).  All-zero
    vectors (scale 0) are dropped: they have no direction to preserve.

    JVM-side higher-order transforms; no Python.  ``dequant`` feeds
    directly into :func:`brute_force_knn`/:func:`ivf_knn` as the corpus
    side.
    """
    v = to_double_array(F.col(vec_col))
    out = df.select(
        F.col(id_col).alias("id"),
        v.alias("v"),
        (F.array_max(F.transform(v, lambda x: F.abs(x))) / 127.0).alias("scale"),
    ).where(F.col("scale") > 0)
    # clamp the floor at -127: when the max-|x| element is negative and
    # the float divide lands at -127.0000…01, floor alone would emit
    # -128 — outside the symmetric int8 contract this operator promises
    # (and outside what a signed-magnitude int8 sink can hold)
    codes = F.transform(
        "v",
        lambda x: F.greatest(F.lit(-127), F.floor(x / F.col("scale"))).cast("int"),
    )
    return out.select(
        "id",
        "scale",
        codes.alias("codes"),
        F.transform(codes, lambda c: c * F.col("scale")).alias("dequant"),
    )


def save_ivf_index(cents: DataFrame, assign: DataFrame, path: str) -> None:
    """Persist an IVF index (centroids + cell assignments) as parquet —
    the build-once/query-many lifecycle of a production ANN deployment.
    Assignments are written HIVE-PARTITIONED by cell (``partitionBy``,
    not just clustered): cell is then a real partition column, so a
    probe join on it is eligible for dynamic partition pruning and a
    literal cell predicate prunes directories outright — a
    repartition-only layout would leave every query scanning the full
    assignments table.  The pre-write repartition keeps one file per
    cell directory."""
    import os

    cents.write.mode("overwrite").parquet(os.path.join(path, "centroids"))
    assign.repartition("cell").write.mode("overwrite").partitionBy("cell").parquet(
        os.path.join(path, "assignments")
    )


def load_ivf_index(spark, path: str) -> tuple[DataFrame, DataFrame]:
    """Load a persisted IVF index → (centroids, assignments), directly
    usable as :func:`ivf_knn`'s ``index`` argument."""
    import os

    cents = spark.read.parquet(os.path.join(path, "centroids"))
    # partition-column type inference narrows the hive-partitioned cell
    # directory values to INT; restore the exact type the index was
    # built with (the centroids table preserves it as a data column)
    assign = spark.read.parquet(os.path.join(path, "assignments")).withColumn(
        "cell", F.col("cell").cast(cents.schema["cell"].dataType)
    )
    return cents, assign


def ivf_index_append(
    spark,
    path: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Incrementally extend a persisted IVF index: assign a NEW vector
    batch to the EXISTING centroids (no retraining — the index's cell
    geometry, and therefore every previously persisted assignment,
    stays valid) and append the assignments into the hive-partitioned
    layout.  Returns the appended assignment frame.

    This is the production maintenance path between full rebuilds: one
    shuffle-free GEMM assignment pass over the new batch and a
    partition-local append — the corpus already in the index is never
    reassigned.  The append is RETRY-SAFE: the new batch is anti-joined
    against the ids already in the index (an id-column-pruned scan of
    the assignments — no vectors read), so a re-run maintenance job
    cannot write duplicate (id, cell) rows and break the
    one-row-per-id invariant ``ivf_knn`` re-ranking assumes (ADVICE
    r6).  The returned frame is pinned (``localCheckpoint``) — callers
    consuming it do not re-execute the GEMM pass the write already ran.
    Cell balance slowly drifts as the corpus grows; operators monitor
    per-cell counts with :func:`ivf_cell_stats` and schedule a retrain
    (``ivf_assign``) when skew crosses policy — the same rebuild
    cadence any IVF deployment runs."""
    import os

    cents = spark.read.parquet(os.path.join(path, "centroids"))
    existing = (
        spark.read.parquet(os.path.join(path, "assignments"))
        .select("id")
        .withColumnRenamed("id", id_col)
    )
    fresh = new_vectors.join(existing, id_col, "left_anti")
    vecs = _quantized_vecs(fresh, id_col, vec_col)
    assign = nearest_centroid_assign(vecs, cents).localCheckpoint(eager=True)
    assign.repartition("cell").write.mode("append").partitionBy("cell").parquet(
        os.path.join(path, "assignments")
    )
    return assign


def ivf_cell_stats(
    assign: DataFrame,
    cell_col: str = "cell",
    baseline: DataFrame | None = None,
) -> DataFrame:
    """Per-cell skew report over an IVF assignment table — the
    maintenance audit that decides when :func:`ivf_index_append` drift
    warrants a retrain (the rebuild-cadence policy input documented on
    the append path).

    One row per observed cell: ``n_vectors``, ``share`` (fraction of
    the corpus), ``ratio`` (n·k / total — 1.0 is perfect balance), and
    the table-wide ``max_ratio`` / ``min_ratio`` so a single row tells
    an operator how far the worst cell sits from balance.  With
    ``baseline`` (a prior (cell, n_vectors) snapshot, e.g. the counts
    at index-build time), adds ``baseline_n`` and ``drift`` =
    n_vectors − baseline_n per cell — growth concentration since the
    last rebuild.

    Scale: one groupBy over the assignment ids (column-pruned scan of
    the hive layout), then a broadcast 1-row totals crossJoin — no
    window over the data, no driver collect; the output is k rows."""
    cnt = assign.groupBy(F.col(cell_col).alias("cell")).agg(
        F.count(F.lit(1)).alias("n_vectors")
    )
    tot = cnt.agg(
        F.sum("n_vectors").alias("_t"),
        F.count(F.lit(1)).alias("_k"),
        F.max("n_vectors").alias("_mx"),
        F.min("n_vectors").alias("_mn"),
    )
    out = cnt.crossJoin(F.broadcast(tot)).select(
        "cell",
        "n_vectors",
        F.round(F.col("n_vectors") / F.col("_t"), 6).alias("share"),
        F.round(F.col("n_vectors") * F.col("_k") / F.col("_t"), 6).alias("ratio"),
        F.round(F.col("_mx") * F.col("_k") / F.col("_t"), 6).alias("max_ratio"),
        F.round(F.col("_mn") * F.col("_k") / F.col("_t"), 6).alias("min_ratio"),
    )
    if baseline is not None:
        base = baseline.select(
            F.col(cell_col).alias("cell"),
            F.col("n_vectors").alias("baseline_n"),
        )
        out = (
            out.join(F.broadcast(base), "cell", "left")
            .withColumn("baseline_n", F.coalesce("baseline_n", F.lit(0)))
            .withColumn("drift", F.col("n_vectors") - F.col("baseline_n"))
        )
    return out


# ---- product quantization (PQ) + asymmetric-distance kNN -----------------


def _pq_subvecs(vecs: DataFrame, m: int, subdim: int) -> DataFrame:
    """(id, sub, svm): the micro-unit vector split into ``m`` contiguous
    ``subdim``-wide subvectors — the PQ decomposition."""
    subs = F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("sub")
    return (
        vecs.select("id", "vm", subs)
        .withColumn("svm", F.expr(f"slice(vm, sub * {subdim} + 1, {subdim})"))
        .drop("vm")
    )


def _pq_assign(subvecs: DataFrame, cents: DataFrame, with_svm: bool):
    """Nearest sub-codebook centroid per (id, sub) by EXACT integer
    squared L2 on the micro grid — one int64 broadcast-difference per
    Arrow batch, ties to the smallest cell (rows sorted; argmin takes
    the first minimum).  Exactness is what lets a SQL oracle replay the
    assignment bit-for-bit: there is no rounding step at all."""
    import numpy as np
    import pandas as pd

    rows = sorted(
        cents.select("sub", "cell", "cm").collect(), key=lambda r: (r["sub"], r["cell"])
    )
    by_sub: dict[int, tuple] = {}
    for s in {r["sub"] for r in rows}:
        srows = [r for r in rows if r["sub"] == s]
        by_sub[s] = (
            np.array([r["cell"] for r in srows], dtype=np.int64),
            np.array([list(r["cm"]) for r in srows], dtype=np.int64),
        )

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out_frames = []
            for s, grp in pdf.groupby("sub", sort=False):
                cells, cmat = by_sub[int(s)]
                x = np.array(grp["svm"].tolist(), dtype=np.int64)
                # (n, k) exact int64 squared distances
                diff = x[:, None, :] - cmat[None, :, :]
                d2 = (diff * diff).sum(axis=2)
                idx = d2.argmin(axis=1)  # first min = smallest cell
                cols = {"id": grp["id"], "sub": grp["sub"], "cell": cells[idx]}
                if with_svm:
                    cols["svm"] = grp["svm"]
                out_frames.append(pd.DataFrame(cols))
            yield pd.concat(out_frames, ignore_index=True)

    schema = "id long, sub int, cell long" + (", svm array<long>" if with_svm else "")
    return subvecs.mapInPandas(assign, schema)


def pq_fit_codebooks(
    subvecs: DataFrame, n_cells: int, iters: int, seeds: DataFrame
) -> DataFrame:
    """Per-subspace Lloyd on the exact micro-unit integer grid →
    (sub, cell, cm: array<bigint>).  Mirrors ``_kmeans_core`` (seed =
    first ``n_cells`` vectors by id, integer-mean update with empty-cell
    carry-over) but with squared-L2 assignment per subspace — PQ's
    metric — and NO rounding anywhere, so a chained-CTE oracle replays
    it exactly."""
    cents = (
        subvecs.join(F.broadcast(seeds), "id")
        .select("sub", F.col("id").alias("cell"), F.col("svm").alias("cm"))
        .localCheckpoint(eager=True)
    )
    for _ in range(iters):
        sums = (
            _pq_assign(subvecs, cents, with_svm=True)
            .select("sub", "cell", F.posexplode("svm").alias("pos", "mval"))
            .groupBy("sub", "cell", "pos")
            .agg(
                F.floor(F.sum("mval") / F.count("mval") + F.lit(0.5))
                .cast("long")
                .alias("cmicro")
            )
            .coalesce(8)
        )
        newc = (
            sums.groupBy("sub", "cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "cmicro"))),
                    lambda s: s["cmicro"],
                ).alias("cm_new")
            )
            .coalesce(1)
        )
        cents = (
            cents.join(newc, ["sub", "cell"], "left")
            .select("sub", "cell", F.coalesce("cm_new", "cm").alias("cm"))
            .localCheckpoint(eager=True)
        )
    return cents


def pq_adc_knn(
    corpus: DataFrame,
    queries: DataFrame | None = None,
    m: int = 4,
    n_cells: int = 16,
    iters: int = 1,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Top-``k`` nearest neighbors by PRODUCT-QUANTIZATION asymmetric
    distance (Jégou et al., PAMI'11): vectors are compressed to ``m``
    sub-codebook codes (here 4x16 cells = 4 bytes/vector, a 64x cut vs
    raw float32x64), queries stay full-precision, and the approximate
    distance is a sum of ``m`` table lookups.

    Scale design: codebooks are m·n_cells rows (broadcast); encoding is
    one shuffle-free GEMM-style pass (``_pq_assign``); the per-query
    lookup table is |Q|·m·n_cells rows (broadcast); the ADC scan joins
    the CODE table — never the raw vectors — so the per-candidate cost
    is ``m`` int adds and the data moved is 4 bytes/vector, which is the
    entire point of PQ at 100 TB.  Everything runs on the exact
    micro-unit integer grid: squared-L2 assignment, integer-mean
    updates, and integer ADC sums — zero float rounding, so the DuckDB
    oracle (chained-CTE Lloyd unroll per subspace) hash-matches
    bit-for-bit.

    ``queries``: full-precision query vectors (defaults to corpus ids
    < 20, the q40 convention).  Self-matches are excluded.
    """
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    subdim = dim // m
    vecs = _quantized_vecs(corpus, id_col, vec_col).localCheckpoint(eager=True)
    subvecs = _pq_subvecs(vecs, m, subdim).localCheckpoint(eager=True)
    seeds = vecs.orderBy("id").limit(n_cells).select("id")
    cents = pq_fit_codebooks(subvecs, n_cells, iters, seeds)
    codes = _pq_assign(subvecs, cents, with_svm=False)
    if queries is None:
        qsub = subvecs.where(F.col("id") < 20)
    else:
        qsub = _pq_subvecs(
            _quantized_vecs(queries, id_col, vec_col), m, subdim
        )
    qsub = qsub.select(
        F.col("id").alias("query_id"), "sub", F.col("svm").alias("qvm")
    )
    # |Q|*m*n_cells-row lookup table: exact int64 squared L2 per cell
    d_expr = F.aggregate(
        F.zip_with("qvm", "cm", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    lut = qsub.join(F.broadcast(cents), "sub").select(
        "query_id", "sub", "cell", d_expr.alias("d")
    )
    adc = (
        codes.join(F.broadcast(lut), ["sub", "cell"])
        .where(F.col("id") != F.col("query_id"))
        .groupBy("query_id", F.col("id").alias("neighbor_id"))
        .agg(F.sum("d").alias("adc"))
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("neighbor_id").asc()
    )
    return (
        adc.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= k).drop("rn")
    )


# ---- hard-example mining for embedding training ---------------------------


def triplet_mining(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    round_digits: int = 6,
    n_blocks: int | None = None,
) -> DataFrame:
    """Per-anchor HARD TRIPLETS for metric/embedding training: for every
    vector, the hardest NEGATIVE (highest-cosine vector with a DIFFERENT
    label) and the hardest POSITIVE (lowest-cosine vector with the SAME
    label) → (anchor_id, label, pos_id, pos_cos, neg_id, neg_cos),
    pos columns NULL when the anchor's label has no other member.

    Physical plan mirrors :func:`cosine_neardup_pairs`' block-matrix
    join, but the kernel reduces INSIDE each block pair: one GEMM scores
    the pair, label masks split same/different, and only each anchor's
    BLOCK-LOCAL extremes leave the kernel (≤ 2 rows per anchor per
    block pair, never the O(n²) score matrix) — a global per-anchor
    ordered-argmax merge finishes.  Ties break to the smallest
    candidate id on the 6-dp-rounded score (half-away rounding, the
    Spark/DuckDB convention — numpy's half-even is the documented
    trap), so the result is deterministic and hash-gateable.  At corpus
    sizes where even block-local extremes are too many, mine within
    ANN cells (ivf_assign) instead — the documented approximate path.
    """
    import pandas as pd
    from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

    v = corpus.select(
        F.col(id_col).alias("id"),
        to_double_array(F.col(vec_col)).alias("v"),
        F.col(label_col).cast("long").alias("lbl"),
    )
    if n_blocks is None:
        n_blocks = _dynamic_n_blocks(v)
    chunks = v.groupBy(
        F.pmod(F.xxhash64(F.col("id")), F.lit(n_blocks)).alias("blk")
    ).agg(F.collect_list(F.struct("id", "v", "lbl")).alias("items"))
    a, b = chunks.alias("a"), chunks.alias("b")
    joined = a.join(F.broadcast(b), F.col("a.blk") <= F.col("b.blk")).select(
        F.col("a.blk").alias("blk_a"),
        F.col("b.blk").alias("blk_b"),
        F.col("a.items").alias("items_a"),
        F.col("b.items").alias("items_b"),
    )
    id_type = v.schema["id"].dataType
    out_schema = StructType(
        [
            StructField("anchor_id", id_type),
            StructField("kind", StringType()),
            StructField("cand_id", id_type),
            StructField("cos", DoubleType()),
        ]
    )
    scale = 10.0 ** round_digits

    def _round_half_away(m):
        return np.where(
            m >= 0, np.floor(m * scale + 0.5), np.ceil(m * scale - 0.5)
        ) / scale

    def _extremes(anchors_ids, anchors_lbl, cand_ids, cand_lbl, m, self_block):
        """Block-local per-anchor extremes from score matrix m
        (anchors x candidates) — yields dict rows.  CALLER CONTRACT:
        candidates are sorted by id ascending, so np.argmax's
        first-occurrence rule IS the smallest-id tie-break — exact, no
        float tricks, no per-row Python loop."""
        rows = {"anchor_id": [], "kind": [], "cand_id": [], "cos": []}
        mr = _round_half_away(m)
        diff = anchors_lbl[:, None] != cand_lbl[None, :]
        same = ~diff
        if self_block:
            eye = anchors_ids[:, None] == cand_ids[None, :]
            diff &= ~eye
            same &= ~eye
        for kind, mask, key in (("neg", diff, mr), ("pos", same, -mr)):
            masked = np.where(mask, key, -np.inf)
            has = mask.any(axis=1)
            if not has.any():
                continue
            idx = np.argmax(masked, axis=1)  # first max = smallest cand id
            sel = np.nonzero(has)[0]
            rows["anchor_id"].extend(anchors_ids[sel])
            rows["kind"].extend([kind] * len(sel))
            rows["cand_id"].extend(cand_ids[idx[sel]])
            rows["cos"].extend(mr[sel, idx[sel]])
        return rows

    def score(batches):
        for pdf in batches:
            for blk_a, blk_b, items_a, items_b in zip(
                pdf["blk_a"], pdf["blk_b"], pdf["items_a"], pdf["items_b"]
            ):
                ids_a = np.asarray([r["id"] for r in items_a])
                ids_b = np.asarray([r["id"] for r in items_b])
                la = np.asarray([r["lbl"] for r in items_a])
                lb = np.asarray([r["lbl"] for r in items_b])
                xa = np.stack([np.asarray(r["v"]) for r in items_a])
                xb = np.stack([np.asarray(r["v"]) for r in items_b])
                # id-sort BOTH sides: _extremes' argmax tie-break
                # contract (first occurrence = smallest candidate id)
                oa, ob = np.argsort(ids_a), np.argsort(ids_b)
                ids_a, la, xa = ids_a[oa], la[oa], xa[oa]
                ids_b, lb, xb = ids_b[ob], lb[ob], xb[ob]
                m = (xa @ xb.T) / np.outer(
                    np.linalg.norm(xa, axis=1), np.linalg.norm(xb, axis=1)
                )
                self_block = blk_a == blk_b
                out = _extremes(ids_a, la, ids_b, lb, m, self_block)
                if not self_block:
                    o2 = _extremes(ids_b, lb, ids_a, la, m.T, False)
                    for c in out:
                        out[c].extend(o2[c])
                if out["anchor_id"]:
                    yield pd.DataFrame(out)

    cand = joined.mapInPandas(score, schema=out_schema)
    # global merge: per anchor, hardest negative = max (cos, -id);
    # hardest positive = min (cos, id) — same tie rule as the kernel
    neg = (
        cand.where(F.col("kind") == "neg")
        .groupBy("anchor_id")
        .agg(
            F.max_by(
                F.struct("cand_id", "cos"), F.struct(F.col("cos"), -F.col("cand_id"))
            ).alias("w")
        )
        .select(
            "anchor_id",
            F.col("w.cand_id").alias("neg_id"),
            F.col("w.cos").alias("neg_cos"),
        )
    )
    pos = (
        cand.where(F.col("kind") == "pos")
        .groupBy("anchor_id")
        .agg(
            F.min_by(
                F.struct("cand_id", "cos"), F.struct(F.col("cos"), F.col("cand_id"))
            ).alias("w")
        )
        .select(
            "anchor_id",
            F.col("w.cand_id").alias("pos_id"),
            F.col("w.cos").alias("pos_cos"),
        )
    )
    labels = v.select(F.col("id").alias("anchor_id"), F.col("lbl").alias("label"))
    return (
        labels.join(neg, "anchor_id", "left")
        .join(pos, "anchor_id", "left")
        .select("anchor_id", "label", "pos_id", "pos_cos", "neg_id", "neg_cos")
    )
