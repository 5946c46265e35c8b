"""Query-session benchmark for the cyber_etl_spark engine.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 6 --trace 0

Runs from the root of a checkout.  Each run starts one fresh worker process
(``worker.py``) in its own run directory under ``.perfbench_runs/``
with its own TMPDIR, SPARK_LOCAL_DIRS and warehouse, and PYTHONPATH at the
checkout root; the directory is removed afterwards, so engine temp files
(statcat catalog, graph barrier dirs) neither persist across runs nor land
in /tmp.  The worker is one client in a closed loop over a seeded mix drawn
from the workload's panel (``workloads.py``): one cold pass, one warm-up
pass, then measured warm passes until they fill ``--seconds``.  Every
query's output in the last pass is checked against ``refs.json``.

Output: a detail record line, then the result line
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones (event log
on, layer wrappers on half the warm passes).  Exit code 1 when an output
mismatches or a query fails, 2 when the engine or its data is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from tracing import union_ms  # noqa: E402
from workloads import POOLS, draw  # noqa: E402

DATA = {sf: os.path.join(HERE, "data", sf) for sf in ("sf0.1", "sf0.01")}
DRIVER_MEMORY = "3g"
FLOOR_JOBS = 6
MIN_WARM = {False: 2, True: 4}
MAX_WARM = 40
DEADLINE_S = 170
# the operators modules that warm passes call outside a graph kernel
OPERATOR_MODULES = ("etl", "prefix")
UNITS = {
    "setup_s": "s", "cold_pass_s": "s", "warm_pass_s": "s", "query_p50_s": "s",
    "query_tail_s": "s", "peak_rss_mb": "MB", "retained_heap_mb": "MB",
    "failed_frac": "ratio",
}
# The result line gates only metrics that stay steady across seeds.  The
# record also carries query_tail_s (a run has 4-8 warm samples, so it is
# the mix's slowest query), failed_frac (0 on every healthy run) and the
# memory figures (peak RSS spread by 0.20-0.27 of its median across seeds).
REPORTED = ("setup_s", "cold_pass_s", "warm_pass_s", "query_p50_s")


def fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def percentile_tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest sample that has ten samples above
    it, or a tenth of the samples when there are fewer than a hundred."""
    xs = sorted(samples)
    n = len(xs)
    above = max(1, min(10, n // 10)) if n > 1 else 0
    return xs[n - 1 - above], 100.0 * (n - above) / n


def make_spec(names: list[str], trace: bool, seconds: float, min_warm: int,
              max_warm: int = MAX_WARM, deadline: float = DEADLINE_S) -> dict:
    """Worker spec for one session over ``names`` (see ``worker.py``)."""
    return {
        "names": names, "sf_dir": DATA["sf0.1"], "check_sf_dir": DATA["sf0.01"],
        "refs": os.path.join(HERE, "refs.json"), "trace": trace,
        "seconds": seconds, "min_warm": min_warm, "max_warm": max_warm,
        "floor_jobs": FLOOR_JOBS, "t0": time.monotonic(), "deadline": deadline,
    }


def run_session(spec: dict, tag: str) -> tuple[dict, float]:
    """Run one worker process in a fresh run directory under
    ``.perfbench_runs/``, removed afterwards; (its record, setup seconds)."""
    runs = os.path.join(ROOT, ".perfbench_runs")
    os.makedirs(runs, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{tag}-", dir=runs)
    try:
        return run_worker(spec, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(runs)
        except OSError:
            pass


def run_worker(spec: dict, run_dir: str) -> tuple[dict, float]:
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "local", "warehouse", "events", "cwd")}
    for d in dirs.values():
        os.makedirs(d)
    spec = dict(spec, tmp=dirs["tmp"], events=dirs["events"], out=os.path.join(run_dir, "out.json"))
    spec_path = os.path.join(run_dir, "spec.json")
    with open(spec_path, "w") as fh:
        json.dump(spec, fh)
    env = dict(
        os.environ,
        TMPDIR=dirs["tmp"],
        SPARK_LOCAL_DIRS=dirs["local"],
        SPARK_GRAFT_WAREHOUSE=dirs["warehouse"],
        PYTHONPATH=os.pathsep.join([ROOT, HERE]),
        PYSPARK_PYTHON=sys.executable,
        PYTHONHASHSEED="0",
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
    )
    log_path = os.path.join(run_dir, "worker.log")
    with open(log_path, "w") as log:
        t_spawn = time.monotonic()
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), spec_path],
            cwd=dirs["cwd"], env=env, stdin=subprocess.DEVNULL, stdout=log,
            stderr=subprocess.STDOUT, start_new_session=True,
        )
        try:
            code = proc.wait(timeout=spec["deadline"] - (time.monotonic() - spec["t0"]))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            stop_group(proc.pid)
    if code != 0 or not os.path.exists(spec["out"]):
        with open(log_path, errors="replace") as fh:
            tail = fh.read()[-3000:]
        fail(f"worker {'timed out' if code is None else f'exited {code}'}:\n{tail}")
    with open(spec["out"]) as fh:
        rec = json.load(fh)
    return rec, rec["ready_monotonic"] - t_spawn


def live_members(pgid: int) -> list[int]:
    """Pids of the live (not zombie) processes in process group ``pgid``."""
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        state, _, pgrp = stat[stat.rindex(")") + 2:].split()[:3]
        if int(pgrp) == pgid and state != "Z":
            pids.append(int(d))
    return pids


def stop_group(pgid: int) -> None:
    """Wait for the worker's process group (its JVM and Python workers) to
    exit; terminate, then kill, whatever is still running after a grace
    period."""
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                return
        for _ in range(50):
            if not live_members(pgid):
                return
            time.sleep(0.1)
    raise RuntimeError(f"processes {live_members(pgid)} survived SIGKILL")


def end_to_end(
    rec: dict, setup_s: float, warm: list[list[dict]], failed_frac: float
) -> tuple[dict, dict]:
    cold = rec["passes"][0]
    samples = [q["wall"] for p in warm for q in p]
    tail, pct = percentile_tail(samples)
    return {
        "setup_s": setup_s,
        "cold_pass_s": sum(q["wall"] for q in cold),
        "warm_pass_s": statistics.median(sum(q["wall"] for q in p) for p in warm),
        "query_p50_s": statistics.median(samples),
        "query_tail_s": tail,
        "peak_rss_mb": rec["peak_rss_mb"],
        "retained_heap_mb": rec["retained_heap_mb"],
        "failed_frac": failed_frac,
    }, {"tail_percentile": pct, "warm_samples": len(samples)}


def job_split(q: dict, qjobs: list[dict]) -> tuple[float, float]:
    """(in-job, outside-job) seconds of one query execution.

    In-job time is the union of its jobs' [submit, end] intervals from the
    event log; outside-job time is the rest of its wall-clock window.  The
    two are measured independently, so their sum matches the query's
    ``perf_counter`` wall time only if every job of the query's group ran
    inside the query's window."""
    spans = [(j["start_ms"], j["end_ms"]) for j in qjobs]
    lo, hi = q["epoch_ms"]
    in_job = union_ms(spans) / 1000
    outside = (hi - lo - union_ms(spans, lo, hi)) / 1000
    return in_job, outside


def per_layer(rec: dict) -> tuple[dict, dict]:
    jobs = rec["jobs"]
    by_group: dict[str, list[dict]] = {}
    for j in jobs.values():
        by_group.setdefault(j["group"], []).append(j)

    def pass_metrics(p: list[dict]) -> dict:
        m: dict[str, float] = {}

        def add(k: str, v: float) -> None:
            m[k] = m.get(k, 0.0) + v

        for q in p:
            lay = q["layers"]
            qjobs = [j for j in by_group.get(q["group"], []) if j["end_ms"] is not None]
            in_job, outside = job_split(q, qjobs)
            add("sources.read_table_calls", lay["calls"].get("sources.read_table", 0))
            add("sources.read_table_s", lay["secs"].get("sources.read_table", 0.0))
            add("plans.builder_s", q["builder"])
            add("plans.action_s", q["action"])
            add("driver.outside_job_s", outside)
            for layer in ("graph", "operators"):
                mine = [k for k in lay["calls"] if k.startswith(layer + ".")]
                add(f"{layer}.calls", sum(lay["calls"][k] for k in mine))
                add(f"{layer}.s", sum(lay["secs"][k] for k in mine))
                add(f"{layer}.jobs", sum(1 for j in qjobs if layer in j["layers"]))
            for mod in OPERATOR_MODULES:
                add(f"operators.{mod}.s", lay["secs"].get(f"operators.{mod}", 0.0))
            add("session.memo_builds", lay["memo_builds"])
            add("session.memo_build_s", lay["memo_build_s"])
            add("session.memo_lookups", lay["memo_hits"] + lay["memo_misses"])
            add("session.memo_hits", lay["memo_hits"])
            add("spark.jobs", len(qjobs))
            add("spark.tasks", sum(j["tasks"] for j in qjobs))
            add("spark.in_job_s", in_job)
            add("spark.executor_run_s", sum(j["run_ms"] for j in qjobs) / 1000)
            add("spark.executor_cpu_s", sum(j["cpu_ns"] for j in qjobs) / 1e9)
            add("spark.shuffle_read_mb", sum(j["shuffle_read"] for j in qjobs) / 2**20)
            add("spark.shuffle_write_mb", sum(j["shuffle_write"] for j in qjobs) / 2**20)
            add("wall_s", q["wall"])
        return m

    cold = pass_metrics(rec["passes"][0])
    traced = [pass_metrics(p) for p in rec["passes"][2:] if p[0]["traced"]]
    plain = [sum(q["wall"] for q in p) for p in rec["passes"][2:] if not p[0]["traced"]]
    out = {k: statistics.median(t[k] for t in traced) for k in traced[0]}
    lookups = out.pop("session.memo_lookups")
    out["session.memo_misses"] = lookups - out["session.memo_hits"]
    out["session.memo_builds"] = cold["session.memo_builds"]
    out["session.memo_build_s"] = cold["session.memo_build_s"]
    out["spark.job_floor_ms"] = rec["job_floor_ms"]
    out["trace.overhead_s"] = out.pop("wall_s") - statistics.median(plain)
    detail = {
        "warm_jobs_per_pass": [t["spark.jobs"] for t in traced],
        "warm_memo_builds": [t["session.memo_builds"] for t in traced],
        "warm_memo_hit_ratio": (
            out["session.memo_hits"] / lookups if lookups else "no lookups"
        ),
        "cold_layers": cold,
        "wrapped_functions": rec["wrapped"],
    }
    return out, detail


def job_count_mismatches(rec: dict) -> list[str]:
    """Queries whose event-log job count differs from the statusTracker's."""
    counts: dict[str, int] = {}
    for j in rec["jobs"].values():
        counts[j["group"]] = counts.get(j["group"], 0) + 1
    return [
        f"{q['group']}: event log {counts.get(q['group'], 0)} jobs, tracker {q['jobs']}"
        for p in rec["passes"] for q in p if counts.get(q["group"], 0) != q["jobs"]
    ]


def layer_unit(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith(("_s", ".s")):
        return "s"
    return "count"


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(POOLS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    trace = bool(args.trace)

    if not os.path.isfile(os.path.join(ROOT, "cyber_etl_spark", "plans", "__init__.py")):
        fail(f"no cyber_etl_spark package under {ROOT}")
    for d in DATA.values():
        if not os.path.isfile(os.path.join(d, "lineitem.parquet")):
            fail(f"missing benchmark data in {d}")

    names = draw(args.workload, args.seed)
    spec = make_spec(names, trace, args.seconds, MIN_WARM[trace])
    rec, setup_s = run_session(spec, f"{args.workload}-{args.seed}")

    failures = list(rec["failures"])
    passes = rec["passes"]
    attempted = sum(len(p) for p in passes) + len(rec["small_checks"])
    failed = sum(1 for p in passes for q in p if q["err"] or q.get("mismatch"))
    failed += sum(1 for c in rec["small_checks"] if c["mismatch"])
    warm = [p for p in passes[2:] if not p[0]["traced"]]
    if len(passes) - 2 < MIN_WARM[trace]:
        fail(f"only {len(passes) - 2} measured warm passes fit before the deadline")
    e2e, tail = end_to_end(rec, setup_s, warm, failed / attempted)
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": trace,
        "cores": rec["cores"], "job_floor_ms": rec["job_floor_ms"], "mix": names,
        "cold_pass": sum(q["wall"] for q in passes[0]),
        "warmup_pass": sum(q["wall"] for q in passes[1]),
        "warm_passes": [sum(q["wall"] for q in p) for p in passes[2:]],
        "warm_query_s": {
            n: statistics.median(q["wall"] for p in warm for q in p if q["name"] == n)
            for n in names
        },
        **{k: {"value": v, "unit": UNITS[k]} for k, v in e2e.items()},
        **tail,
        "small_checks": rec["small_checks"],
        "steal_s": rec["steal_s"],
    }
    if trace:
        metrics, layer_detail = per_layer(rec)
        failures += job_count_mismatches(rec)
        detail.update(layer_detail)
        detail["per_layer"] = metrics
        result_metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in metrics.items()}
    else:
        result_metrics = {k: {"value": e2e[k], "unit": UNITS[k]} for k in REPORTED}
    detail["failures"] = failures
    print(json.dumps(detail))
    for f in failures:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    correct = not failures
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed, "metrics": result_metrics,
    }))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
