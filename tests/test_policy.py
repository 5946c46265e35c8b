"""Contract guards of the bandit replay kernel (operators/policy.py).

The replay itself is pinned cross-engine by q299's recursive-CTE oracle;
these tests pin the kernel's loud-failure contracts (r8 advice): NULL or
fractional reward cells and unbounded grids must raise contract-named
errors instead of crashing mid-walk or collecting huge frames.
"""

from __future__ import annotations

import pytest


def _run(spark, rows):
    from cyber_etl_spark.operators.policy import epsilon_greedy_replay

    df = spark.createDataFrame(rows, "day string, a double, b double")
    return epsilon_greedy_replay(df, ["a", "b"]).collect()


def test_replay_happy_path(spark):
    out = _run(spark, [("d1", 1.0, 2.0), ("d2", 3.0, 0.0)])
    assert sum(r.pulls for r in out) == 2
    assert out[0].policy_total == out[1].policy_total


def test_replay_rejects_null_reward(spark):
    with pytest.raises(Exception, match="NULL/NaN"):
        _run(spark, [("d1", 1.0, None), ("d2", 3.0, 0.0)])


def test_replay_rejects_fractional_reward(spark):
    with pytest.raises(Exception, match="non-integer"):
        _run(spark, [("d1", 1.0, 2.5), ("d2", 3.0, 0.0)])


def test_replay_rejects_unbounded_grid(spark, monkeypatch):
    import cyber_etl_spark.operators.policy as policy

    monkeypatch.setattr(policy, "_MAX_GRID_ROWS", 1)
    from cyber_etl_spark.operators.policy import epsilon_greedy_replay

    df = spark.createDataFrame(
        [(f"d{i}", 1.0, 2.0) for i in range(5)], "day string, a double, b double"
    )
    # the one task sees at most cap + 1 rows, never the whole grid
    with pytest.raises(Exception, match=r"\b2 rows exceed the bounded-grid"):
        epsilon_greedy_replay(df, ["a", "b"]).collect()
