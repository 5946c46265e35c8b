"""Distributed PCA building blocks: exact integer Gram accumulation.

The covariance (Gram) matrix of an embedding corpus is the one PCA input
that touches every row, so it is the only part that must be distributed;
everything downstream (the d x d eigen problem) is constant-sized.  The
trap at scale is HOW the Gram matrix is accumulated:

- exploding (row, i, j, x_i*x_j) is O(n * d^2) shuffle rows — 4 TRILLION
  rows for a billion 64-dim vectors;
- per-partition float GEMM partials are O(d^2) per partition but their
  final sum is partitioning-dependent (float addition does not commute
  with the shuffle), so the result would not be reproducible, let alone
  hash-comparable across engines.

This kernel does per-ARROW-BATCH integer GEMM instead: vectors snap to
the 1e-6 micro grid (the repo-wide quantization convention,
operators/ann.micro_array), each batch computes Q^T Q in int64 — exact:
a cell accumulates at most batch_rows * (|x|_max * 1e6)^2, so with the
input contract |x| < 3 and Arrow's ~10k-row default batches the bound
is 1e4 * 9e12 = 9e16 << 2^63 (even 100k-row batches stay at 9e17) —
and the per-batch partial matrices are summed EXACTLY downstream as
DECIMAL(38,0).
Integer sums commute, so the result is independent of partitioning,
batch slicing and shuffle order — bit-identical to a single-threaded
computation and to DuckDB's HUGEINT oracle.

Reference family: the notebooks' sklearn-style decompositions of feature
tables (exploratory PCA/correlation cells in data_integration.ipynb);
re-expressed as a distributed exact kernel.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_MICRO = 1_000_000


def gram_micro_partials(vecs: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-batch exact Gram partials on the micro grid.

    Returns rows ``(i, j, s)`` with 1-based dimension indices:

    - ``i >= 1, j >= i``: upper-triangle partial ``sum(q_i * q_j)``
    - ``i >= 1, j = 0``: partial column sum ``sum(q_i)``
    - ``i = 0, j = 0``: partial row count

    Callers ``groupBy(i, j).agg(sum(cast(s as decimal(38,0))))`` to get
    the exact corpus-level sums; the single shuffle moves O(d^2) rows per
    batch, never O(n * d^2).
    """
    schema = "i INT, j INT, s LONG"

    def kernel(it):
        for pdf in it:
            if not len(pdf):
                continue
            m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            q = np.floor(m * _MICRO + 0.5).astype(np.int64)
            g = q.T @ q  # exact int64 GEMM (bound documented above)
            d = g.shape[0]
            iu, ju = np.triu_indices(d)
            cs = q.sum(axis=0)
            yield pd.DataFrame(
                {
                    "i": np.concatenate([iu + 1, np.arange(1, d + 1), [0]]),
                    "j": np.concatenate([ju + 1, np.zeros(d, np.int64), [0]]),
                    "s": np.concatenate([g[iu, ju], cs, [len(pdf)]]),
                }
            )

    return vecs.mapInPandas(kernel, schema)


def gram_exact(vecs: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Exact corpus Gram sums: ``(i, j, s DECIMAL(38,0))`` with the same
    row encoding as :func:`gram_micro_partials` (upper triangle + column
    sums at j=0 + count at (0,0)), pinned for multi-consumer reads."""
    return (
        gram_micro_partials(vecs, vec_col)
        .groupBy("i", "j")
        .agg(F.sum(F.col("s").cast("decimal(38,0)")).alias("s"))
        .localCheckpoint(eager=True)
    )


def power_iterate_table(
    am: DataFrame, dim: int, iterations: int = 8, v0: float = 0.125
) -> DataFrame:
    """Power iteration over a BOUNDED (i, j, a) matrix table as ONE task.

    The d x d matrix is constant-sized by contract (d is the embedding
    width, never the corpus), so 8 distributed supersteps would buy
    nothing and cost 8 shuffle rounds plus a nested broadcast chain —
    measured 13.5 s at sf0.1 for 4096 rows.  The right physical plan is
    a single mapInPandas task over the coalesced table: build the dense
    matrix, iterate in numpy, emit (dim, loading, eigval_share).

    Arithmetic replays the declarative form exactly: per-step
    renormalized iterates rounded to 6 dp with the sign-aware
    floor(x*1e6 + 0.5) / ceil(x*1e6 - 0.5) snap — Spark round()'s
    HALF-AWAY-FROM-ZERO, NOT numpy's half-even (the ann kernel lesson);
    the Rayleigh share is the rounded L2 norm of the final matvec."""
    schema = "dim int, loading double, eigval_share double"

    def kernel(batches):
        chunks = list(batches)
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        if not len(pdf):
            return
        if len(pdf) > dim * dim:
            # enforce the bounded-input contract instead of OOM-ing the
            # single task (the exact_quantiles guard lesson): this
            # kernel is for d x d matrix TABLES, never data
            raise ValueError(
                f"power_iterate_table: {len(pdf)} rows exceed the "
                f"dim*dim={dim * dim} bounded-matrix contract"
            )
        a = np.zeros((dim, dim))
        a[pdf["i"].to_numpy() - 1, pdf["j"].to_numpy() - 1] = pdf[
            "a"
        ].to_numpy()

        def r6(x):
            return (
                np.where(
                    x >= 0,
                    np.floor(x * 1e6 + 0.5),
                    np.ceil(x * 1e6 - 0.5),
                )
                / 1e6
            )

        v = np.full(dim, v0)
        for _ in range(iterations):
            u = a @ v
            v = r6(u / np.sqrt((u * u).sum()))
        u9 = a @ v
        lam = float(r6(np.sqrt((u9 * u9).sum())))
        yield pd.DataFrame(
            {
                "dim": np.arange(1, dim + 1, dtype=np.int32),
                "loading": v,
                "eigval_share": lam,
            }
        )

    return am.coalesce(1).limit(dim * dim + 1).mapInPandas(kernel, schema)
