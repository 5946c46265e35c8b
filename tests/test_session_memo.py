"""The artifact store — one ``SessionMemo`` behind ``artifact()``: hits
return the built object, failed builds leave no trace, and eviction on
write drops stopped sessions and whole surplus datasets."""

from __future__ import annotations

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
