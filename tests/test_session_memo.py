"""The session module.  The artifact store — one ``SessionMemo`` behind
``artifact()``: hits return the built object, failed builds leave no
trace, and eviction on write drops stopped sessions and whole surplus
datasets.  ``local_frame``: driver tables reach Spark as exact local
relations, and by no other path."""

from __future__ import annotations

import math
from datetime import date, datetime
from decimal import Decimal
from types import SimpleNamespace

import pytest

from cyber_etl_spark import session
from cyber_etl_spark.session import SessionMemo, artifact, session_token


def _spark(app_id: str = "app-1"):
    """Stand-in exposing only what ``session_token`` reads."""
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


@pytest.fixture
def store(monkeypatch):
    """A fresh, empty store and build log for one test."""
    memo = SessionMemo()
    monkeypatch.setattr(session, "_ARTIFACTS", memo)
    monkeypatch.setattr(session, "BUILD_LOG", {})
    monkeypatch.setattr(session, "BUILD_COUNT", {})
    return memo


def test_hit_returns_same_object(store):
    calls = []

    def build():
        calls.append(1)
        return object()

    first = artifact(_spark(), "/data/sf0.1", "edges", build)
    assert artifact(_spark(), "/data/sf0.1", "edges", build) is first
    assert len(calls) == 1
    assert session.BUILD_COUNT == {"sf0.1:edges": 1}
    assert list(store) == [("app-1", "/data/sf0.1", "edges")]


def test_raising_build_leaves_no_entry_or_log(store):
    def build():
        raise RuntimeError("boom")

    with pytest.raises(RuntimeError, match="boom"):
        artifact(_spark(), "/data/sf0.1", "edges", build)
    assert len(store) == 0
    assert session.BUILD_LOG == {} and session.BUILD_COUNT == {}
    # the next request builds afresh
    assert artifact(_spark(), "/data/sf0.1", "edges", lambda: 7) == 7


def test_two_datasets_get_distinct_labels(store):
    artifact(_spark(), "/data/sf0.01", "se", lambda: "small")
    artifact(_spark(), "/data/sf0.1/", "se", lambda: "big")
    artifact(_spark(), "/data/sf0.1", "kmeans", lambda: "km", 16, 2)
    assert set(session.BUILD_LOG) == {"sf0.01:se", "sf0.1:se", "sf0.1:kmeans:16:2"}
    assert artifact(_spark(), "/data/sf0.01", "se", lambda: None) == "small"


def test_dead_session_entries_evicted_on_write(store):
    artifact(_spark("app-old"), "/data/a", "edges", lambda: "stale1")
    artifact(_spark("app-old"), "/data/b", "pos", lambda: "stale2", 8)
    assert len(store) == 2
    # a write from a NEW session (PySpark allows one live context per
    # process, so a different token == the old session is stopped)
    artifact(_spark("app-new"), "/data/a", "edges", lambda: "fresh")
    assert list(store) == [("app-new", "/data/a", "edges")]


def test_dataset_bound_drops_oldest_dataset(store, monkeypatch):
    monkeypatch.setattr(session, "_MAX_DATASETS", 2)
    for ds in ("/data/0", "/data/1"):
        for name in ("edges", "se", "sym"):
            artifact(_spark(), ds, name, lambda: name)
    assert len(store) == 6
    artifact(_spark(), "/data/2", "edges", lambda: "new")
    # every artifact of the oldest dataset goes, none of the others
    assert {k[1] for k in store} == {"/data/1", "/data/2"}
    assert len(store) == 4
    # evicted, so the next request rebuilds and the count shows it
    artifact(_spark(), "/data/0", "edges", lambda: "again")
    assert session.BUILD_COUNT["0:edges"] == 2


def test_overwrite_at_capacity_keeps_other_entries(store, monkeypatch):
    """A new artifact of an already-held dataset at the bound evicts
    nothing."""
    monkeypatch.setattr(session, "_MAX_DATASETS", 2)
    artifact(_spark(), "/data/a", "edges", lambda: 1)
    artifact(_spark(), "/data/b", "edges", lambda: 2)
    artifact(_spark(), "/data/b", "se", lambda: 3)
    assert {(k[1], k[2]) for k in store} == {
        ("/data/a", "edges"), ("/data/b", "edges"), ("/data/b", "se"),
    }


def test_nested_build(store):
    """Builds nest (symw -> w -> weighted edges); the store lock is not
    held across a build, so an inner artifact() call does not deadlock."""

    def outer():
        inner = artifact(_spark(), "/data/a", "w", lambda: [1, 2])
        return inner + [3]

    assert artifact(_spark(), "/data/a", "symw", outer) == [1, 2, 3]
    assert list(session.BUILD_COUNT) == ["a:w", "a:symw"]
    assert session.BUILD_LOG["a:symw"] >= session.BUILD_LOG["a:w"]


def test_builder_cache_purges_foreign_token(spark, sf_smoke):
    """End to end: seed the real store with a dead-session entry,
    trigger a build, and observe the stale entry gone while the fresh
    one is served from the store."""
    from cyber_etl_spark.graph import builder

    with session._ARTIFACTS_LOCK:
        session._ARTIFACTS[("dead-app-id", sf_smoke, "edges")] = "ghost"
    e1 = builder.co_supply_edges(spark, sf_smoke)
    assert ("dead-app-id", sf_smoke, "edges") not in session._ARTIFACTS
    assert (session_token(spark), sf_smoke, "edges") in session._ARTIFACTS
    # second call is a pure hit (same object)
    assert builder.co_supply_edges(spark, sf_smoke) is e1


# ---- local_frame: the one path from driver data to a Spark frame ----------

_TYPES_DDL = (
    "k bigint, i int, b boolean, d double, big decimal(38,0),"
    " dec decimal(18,6), s string, day date, ts timestamp"
)
_TYPES_ROWS = [
    [2**63 - 1, -(2**31), True, float("nan"), 10**30, Decimal("1.234567"),
     "it's a \\ 'quote'", date(2020, 1, 2), datetime(2020, 1, 2, 3, 4, 5, 678901)],
    [-(2**63), 2**31 - 1, False, float("inf"), -(10**25), Decimal("-0.000001"),
     "", date(1970, 1, 1), datetime(1999, 12, 31, 23, 59, 59)],
    [0, 0, None, float("-inf"), 2**63, None, None, None, None],
    [None, None, True, -0.0, None, Decimal("3"), "ü", None, None],
    [1, 1, False, 0.1 + 0.2, 0, Decimal("0"), "x", date(2024, 2, 29),
     datetime(2024, 2, 29, 0, 0, 0, 1)],
]


def _same(x, y) -> bool:
    """Exact equality: NaN equals NaN, and -0.0 differs from 0.0."""
    if isinstance(x, float) and isinstance(y, float):
        return (math.isnan(x) and math.isnan(y)) or (
            x == y and math.copysign(1, x) == math.copysign(1, y)
        )
    if isinstance(x, Decimal):  # decimal columns also take Python ints
        return x == y
    return type(x) is type(y) and x == y


@pytest.mark.parametrize("case", ["types", 0, 1, 1000, 1001, 5000, "array"])
def test_local_frame_is_an_exact_local_relation(spark, case):
    """Driver rows reach Spark as a ``LocalRelation`` at every size, empty
    and with an array column included; every type round-trips exactly
    (NaN, ±inf, −0.0, decimals past int64, quotes and backslashes, dates,
    µs timestamps, NULL) under the declared schema; and a broadcast
    consumer runs no Python-backed scan."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    from cyber_etl_spark.session import local_frame

    if case == "types":
        rows, ddl = _TYPES_ROWS, _TYPES_DDL
    elif case == "array":
        rows, ddl = [[i, [i, -i, None]] for i in range(3)], "k bigint, v array<bigint>"
    else:
        rows, ddl = [[i, i / 7] for i in range(case)], "k bigint, v double"
    df = local_frame(spark, rows, ddl)
    assert df.schema == StructType.fromDDL(ddl)
    assert df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName() == "LocalRelation"
    if case == "types":  # µs timestamps compared in the session time zone
        df = df.withColumn("ts", F.col("ts").cast("string"))
        rows = [r[:-1] + [None if r[-1] is None else str(r[-1])] for r in rows]
    got = [list(r) for r in df.collect()]
    assert len(got) == len(rows)
    assert all(_same(x, y) for g, r in zip(got, rows) for x, y in zip(g, r)), got
    joined = spark.range(5).join(F.broadcast(df), F.col("id") == F.col("k"))
    joined.write.format("noop").mode("overwrite").save()
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    assert "Python" not in plan, plan


def test_local_frame_takes_columns(spark):
    """Columns (``{name: ndarray}``) build the same relation as rows."""
    import numpy as np

    from cyber_etl_spark.session import local_frame

    cols = {"v": np.array([2.5, -1.0]), "k": np.array([7, 8], "int64")}
    df = local_frame(spark, cols, "k bigint, v double")
    assert [tuple(r) for r in df.collect()] == [(7, 2.5), (8, -1.0)]


def test_one_path_from_driver_data():
    """``createDataFrame(`` appears in the engine only inside
    ``local_frame``: every driver table takes the one Arrow path, so no
    RDD-backed frame or SQL-text table can regrow beside it."""
    import inspect
    import pathlib

    import cyber_etl_spark

    pkg = pathlib.Path(cyber_etl_spark.__file__).parent
    hits = [
        f"{p.relative_to(pkg)}:{n}"
        for p in sorted(pkg.rglob("*.py"))
        for n, line in enumerate(p.read_text().splitlines(), 1)
        if "createDataFrame(" in line
    ]
    src, start = inspect.getsourcelines(session.local_frame)
    allowed = {
        f"session.py:{start + i}" for i, line in enumerate(src) if "createDataFrame(" in line
    }
    assert hits and set(hits) <= allowed, hits
