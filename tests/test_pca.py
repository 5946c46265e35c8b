"""Exact-integer Gram kernel (operators/pca.py): numpy ground truth and
partitioning-independence — the property the DECIMAL(38,0) merge claims."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from cyber_etl_spark.operators.pca import gram_exact


def _mk(spark, n=97, d=5, seed=3):
    rng = np.random.RandomState(seed)
    m = (rng.rand(n, d) - 0.5).astype(np.float32)
    rows = [(i, [float(x) for x in m[i]]) for i in range(n)]
    return m, spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _collect(df):
    return {
        (r["i"], r["j"]): int(r["s"]) for r in df.collect()
    }


def test_gram_exact_matches_numpy(spark):
    m, df = _mk(spark)
    got = _collect(gram_exact(df))
    q = np.floor(m.astype(np.float64) * 1_000_000 + 0.5).astype(object)
    g = q.T @ q  # object dtype -> exact Python ints
    n, d = m.shape
    assert got[(0, 0)] == n
    for i in range(d):
        assert got[(i + 1, 0)] == int(q[:, i].sum())
        for j in range(i, d):
            assert got[(i + 1, j + 1)] == int(g[i, j])
    # upper triangle only (j >= i), plus the j=0 colsum/count rows
    assert all(j == 0 or j >= i for (i, j) in got)


def test_gram_exact_partitioning_independent(spark):
    _, df = _mk(spark, n=64)
    a = _collect(gram_exact(df.coalesce(1)))
    b = _collect(gram_exact(df.repartition(7)))
    assert a == b


def test_q223_matches_numpy_recurrence_replay(spark):
    """The oracle proves Spark == DuckDB; this proves both == the MATH:
    a single-node numpy replay of the exact same recurrence (integer
    covariance -> trace-normalized matrix rounded to 12 dp -> 8 power
    steps with 6-dp renormalized iterates) reproduces q223's loadings
    and Rayleigh share.  The replay is the batch twin in the same sense
    the streaming twin tests are: same arithmetic, trivially-auditable
    implementation.

    NOTE the query reports the deterministic 8-STEP POWER ITERATE, not
    a converged eigenvector: this synthetic corpus is near-isotropic
    (lambda1/lambda2 ~ 1.07 at sf0.001), where convergence would take
    hundreds of steps on ANY implementation — the docstring says so.
    On a gapped spectrum the same recurrence converges; the last assert
    pins that on constructed gapped data."""
    from cyber_etl_spark.plans import QUERIES

    rows = (
        QUERIES["q223_pca_top_component"]
        .builder(spark, "/root/testdata/sf0.001")
        .collect()
    )
    v = np.array([r.loading for r in sorted(rows, key=lambda r: r.dim)])
    share = rows[0].eigval_share

    import pyarrow.parquet as pq

    m = np.stack(
        pq.read_table("/root/testdata/sf0.001/embeddings.parquet")
        .to_pandas()["embedding"]
        .to_numpy()
    ).astype(np.float64)
    q = np.floor(m * 1_000_000 + 0.5)
    n = len(q)
    cov = (n * (q.T @ q) - np.outer(q.sum(0), q.sum(0)))  # n^2 * covariance
    a = np.round(cov / np.trace(cov), 12)
    vv = np.full(64, 0.125)
    for _ in range(8):
        u = a @ vv
        vv = np.round(u / np.sqrt((u * u).sum()), 6)
    u9 = a @ vv
    assert np.allclose(v, vv, atol=2e-6)
    assert abs(share - np.sqrt((u9 * u9).sum())) < 2e-6

    # on a GAPPED spectrum the recurrence does converge in 8 steps
    rng = np.random.RandomState(0)
    g = rng.randn(200, 64) * 0.01
    g[:, 7] += rng.randn(200) * 3.0  # dominant direction
    gq = np.floor(g * 1_000_000 + 0.5)
    gc = 200 * (gq.T @ gq) - np.outer(gq.sum(0), gq.sum(0))
    ga = np.round(gc / np.trace(gc), 12)
    gv = np.full(64, 0.125)
    for _ in range(8):
        gu = ga @ gv
        gv = np.round(gu / np.sqrt((gu * gu).sum()), 6)
    top = np.linalg.eigh(gc)[1][:, -1]
    assert abs(gv @ top) / np.linalg.norm(gv) > 0.999


def test_power_iterate_table_rejects_unbounded_input(spark):
    import pytest
    from py4j.protocol import Py4JJavaError

    from cyber_etl_spark.operators.pca import power_iterate_table

    big = spark.range(200).selectExpr(
        "CAST(id % 8 + 1 AS INT) AS i",
        "CAST(id % 8 + 1 AS INT) AS j",
        "CAST(0.1 AS DOUBLE) AS a",
    )
    # the one task sees at most dim*dim + 1 rows, never the whole input
    with pytest.raises((Py4JJavaError, Exception), match=r"\b65 rows exceed .*bounded-matrix"):
        power_iterate_table(big, dim=8).collect()
