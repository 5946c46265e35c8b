"""Self-tests of the benchmark.

    python3 -m pytest perfbench/test_perfbench.py -q

The draw tests are pure Python.  The session tests start one traced worker
over a short mix (about a minute) and one full ``run.py`` per trace mode.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
from workloads import POOLS, draw  # noqa: E402


@pytest.mark.parametrize("workload", sorted(POOLS))
def test_same_seed_same_mix(workload):
    for seed in (0, 1, 7, 12345):
        mix = draw(workload, seed)
        assert mix == draw(workload, seed)
        assert sorted(mix) == sorted(POOLS[workload])
    assert len({tuple(draw(workload, s)) for s in range(10)}) > 1


def test_every_panel_query_has_a_reference():
    with open(os.path.join(HERE, "refs.json")) as fh:
        refs = json.load(fh)
    for names in POOLS.values():
        for n in names:
            assert refs[n]["sf0.1"] is not None, n


def test_tail_percentile():
    assert run.percentile_tail([float(i) for i in range(200)]) == (189.0, 95.0)
    value, pct = run.percentile_tail([float(i) for i in range(12)])
    assert (value, round(pct, 2)) == (10.0, 91.67)


@pytest.fixture(scope="module")
def traced_session():
    names = ["q114_gq_tag_histogram", "q63_rank_distribution", "q83_scd2_intervals",
             "q157_ktruss"]
    spec = run.make_spec(names, True, 0, min_warm=2, max_warm=2, deadline=600)
    rec, _ = run.run_session(spec, "selftest")
    return rec


def test_event_log_job_counts_match_status_tracker(traced_session):
    assert run.job_count_mismatches(traced_session) == []
    assert sum(q["jobs"] for p in traced_session["passes"] for q in p) > 0


def test_in_job_plus_outside_job_is_wall(traced_session):
    groups: dict[str, list[dict]] = {}
    for j in traced_session["jobs"].values():
        groups.setdefault(j["group"], []).append(j)
    for q in traced_session["passes"][-1]:
        in_job, outside = run.job_split(q, groups[q["group"]])
        assert in_job > 0
        assert abs(in_job + outside - q["wall"]) <= 0.05 * q["wall"] + 0.01, q["name"]


def test_layers_are_attributed(traced_session):
    metrics, detail = run.per_layer(traced_session)
    assert metrics["sources.read_table_calls"] > 0
    assert metrics["graph.calls"] > 0 and metrics["graph.jobs"] > 0
    # prefix and etl kernels are imported lazily inside the query builders
    assert metrics["operators.calls"] > 0 and metrics["operators.jobs"] > 0
    assert metrics["operators.prefix.s"] > 0 and metrics["operators.etl.s"] > 0
    assert detail["warm_memo_builds"] == [0.0]
    assert traced_session["failures"] == []


@pytest.mark.parametrize("trace", (0, 1))
def test_result_line(trace):
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "relational",
         "--seed", "3", "--seconds", "4", "--trace", str(trace)],
        capture_output=True, text=True, timeout=180, cwd=os.path.dirname(HERE),
    )
    assert out.returncode == 0, out.stderr[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    wanted = bench["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in wanted
    }
    assert not os.path.exists(os.path.join(os.path.dirname(HERE), ".perfbench_runs"))
