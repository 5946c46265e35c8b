"""One benchmark session, run as a fresh process by ``run.py``.

Usage: ``python3 worker.py SPEC.json`` where the spec names the query mix,
the data directories, the measuring window and the output file.

The session is one client in a closed loop: it sets Spark up, runs a cold
pass over the mix, one unmeasured warm-up pass, then measured warm passes
over the same mix until their time fills the window, one query at a time.  Each query is built and executed into the
``noop`` sink (as ``bench.py`` does) inside the timed region; outputs are
collected and checked against stored references outside it, once per
query, from the last warm pass (by then every shared artifact has been
built and read back).  With tracing
on, half the warm passes run with the layer wrappers disabled, so the
record carries the tracing overhead; the Spark event log stays on in both.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time


def digest(pdf) -> dict:
    """Order-insensitive digest of a result, in ``testing.canonicalize`` form."""
    from cyber_etl_spark.testing import canonicalize

    h = hashlib.sha256()
    rows = canonicalize(pdf)
    for row in rows:
        h.update(("\x1f".join(row) + "\x1e").encode())
    return {"rows": len(rows), "cols": sorted(pdf.columns), "sha": h.hexdigest()}


def check(df, ref: dict | None) -> str | None:
    """None when ``df`` matches ``ref``, else a one-line reason."""
    if ref is None:
        return "no reference"
    got = digest(df.toPandas())
    if got == ref:
        return None
    return f"expected {ref['rows']} rows {ref['sha'][:12]}, got {got['rows']} rows {got['sha'][:12]}"


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def steal_s() -> float:
    """CPU seconds the hypervisor has taken from this machine since boot
    (the ``steal`` column of /proc/stat): context for slow runs."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def main() -> None:
    steal0 = steal_s()
    with open(sys.argv[1]) as fh:
        spec = json.load(fh)
    names: list[str] = spec["names"]
    sf_dir: str = spec["sf_dir"]
    trace: bool = spec["trace"]
    with open(spec["refs"]) as fh:
        refs = json.load(fh)

    from cyber_etl_spark.plans import QUERIES
    from cyber_etl_spark.session import get_spark
    from cyber_etl_spark.sources import load_all

    conf = {
        "spark.ui.retainedJobs": "100000",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={spec['tmp']} -XX:-UsePerfData",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": spec["events"],
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", **conf)
    tables = load_all(spark, sf_dir)
    tables["lineitem"].groupBy("l_returnflag").count().count()
    ready = time.monotonic()
    setup_steal = steal_s() - steal0

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    spark.range(10).count()
    floor = []
    for _ in range(spec["floor_jobs"]):
        t0 = time.perf_counter()
        spark.range(10).count()
        floor.append(time.perf_counter() - t0)
    floor.sort()
    job_floor_ms = floor[len(floor) // 2] * 1000

    tracer = None
    if trace:
        from tracing import LayerTracer

        tracer = LayerTracer(sc)
        tracer.install()

    failures: list[str] = []

    def run_pass(p: int, traced: bool) -> tuple[list[dict], list]:
        recs, dfs = [], []
        traced = traced and tracer is not None
        if tracer:
            tracer.enabled = traced
        for i, name in enumerate(names):
            group = f"pb:{p}:{i}:{name}"
            sc.setJobGroup(group, name)
            if tracer:
                tracer.reset()
            df, err = None, None
            e0 = time.time()
            t0 = time.perf_counter()
            t1 = t0
            try:
                df = QUERIES[name].builder(spark, sf_dir)
                t1 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001 — counted as a failure
                err = f"{type(exc).__name__}: {str(exc)[:200]}"
            t2 = time.perf_counter()
            e1 = time.time()
            rec = {
                "name": name, "pass": p, "traced": traced, "wall": t2 - t0,
                "builder": t1 - t0, "action": t2 - t1,
                "epoch_ms": [e0 * 1000, e1 * 1000],
                "jobs": len(tracker.getJobIdsForGroup(group)), "group": group,
                "err": err,
            }
            if tracer:
                rec["layers"] = tracer.snapshot()
            if err:
                failures.append(f"{name} pass {p}: {err}")
            recs.append(rec)
            dfs.append(df)
        sc.setJobGroup("pb:idle", "idle")
        if tracer:
            tracer.enabled = False
        return recs, dfs

    def check_pass(recs: list[dict], dfs: list) -> None:
        for rec, df in zip(recs, dfs):
            if df is None:
                continue
            try:
                why = check(df, refs.get(rec["name"], {}).get("sf0.1"))
            except Exception as exc:  # noqa: BLE001 — counted as a failure
                why = f"{type(exc).__name__}: {str(exc)[:200]}"
            rec["mismatch"] = why
            if why:
                failures.append(f"{rec['name']} pass {rec['pass']}: {why}")

    # pass 0 is the cold pass and pass 1 a warm-up pass that is recorded but
    # not measured: passes still speed up after the cold one (JIT).  Only
    # the measured passes count toward the window.
    passes: list[list[dict]] = []
    pass_steal: list[float] = []
    spent = 0.0
    while len(passes) < spec["max_warm"] + 2:
        p = len(passes)
        measured = p - 2
        if measured >= spec["min_warm"] and spent >= spec["seconds"]:
            break
        if measured > 0 and time.monotonic() - spec["t0"] + 2 * last + 30 > spec["deadline"]:
            break
        # traced runs order measured passes untraced, traced, traced,
        # untraced, ... so that drift cancels out of the tracing overhead
        s0 = steal_s()
        recs, dfs = run_pass(p, p == 0 or measured % 4 in (1, 2))
        pass_steal.append(steal_s() - s0)
        passes.append(recs)
        last = sum(r["wall"] for r in recs)
        if measured >= 0:
            spent += last
    check_pass(passes[-1], dfs)

    # traced runs also check queries whose oracle cannot finish at the
    # measured scale against that oracle at the smaller scale (their sf0.1
    # reference is the engine output that passed the same check)
    small = []
    for name in sorted(set(names)) if trace else ():
        ref = refs.get(name, {}).get("sf0.01")
        if ref is None or refs[name].get("sf0.1_source") == "oracle":
            continue
        sc.setJobGroup(f"pb:check:{name}", name)
        try:
            why = check(QUERIES[name].builder(spark, spec["check_sf_dir"]), ref)
        except Exception as exc:  # noqa: BLE001
            why = f"{type(exc).__name__}: {str(exc)[:200]}"
        small.append({"name": name, "mismatch": why})
        if why:
            failures.append(f"{name} at sf0.01: {why}")

    cores = sc.defaultParallelism
    jvm_pid = sc._gateway.proc.pid
    rss = peak_rss_mb(os.getpid()) + peak_rss_mb(jvm_pid)
    # what the session still holds (memo artifacts, cached blocks) after a
    # full collection
    jvm = sc._jvm
    jvm.java.lang.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    retained_heap_mb = heap.getUsed() / 2**20
    app_id = sc.applicationId
    spark.stop()

    out = {
        "ready_monotonic": ready,
        "job_floor_ms": job_floor_ms,
        "cores": cores,
        "passes": passes,
        "steal_s": {"setup": setup_steal, "passes": pass_steal},
        "small_checks": small,
        "failures": failures,
        "peak_rss_mb": rss,
        "retained_heap_mb": retained_heap_mb,
    }
    if trace:
        from tracing import parse_event_log

        out["jobs"] = {
            str(k): v for k, v in parse_event_log(os.path.join(spec["events"], app_id)).items()
        }
        out["wrapped"] = tracer.wrapped
    with open(spec["out"], "w") as fh:
        json.dump(out, fh)


if __name__ == "__main__":
    main()
