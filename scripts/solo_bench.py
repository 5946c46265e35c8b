"""Solo per-query A/B timer — the bench-loop replica for perf triage.

Times the named queries in ONE warm process at sf0.1 (or $SPARK_GRAFT_SF_DIR)
with the exact bench methodology (noop sink, job-group job counts), but
min-of-R with the passes INTERLEAVED round-robin across the query list —
the r6 lesson: the first-measured variant pays process warm-up, enough to
flip a sequential "winner".  Shared memoized artifacts are warmed by a
pass 0 of every query, so the reported minima are marginal steady-state
costs (the bench's own contract); pass 0's times are reported apart as
``cold`` (artifact builds included, in list order).

Usage: python scripts/solo_bench.py q405_single_linkage_sweep q412_luby_mis [...]
       SOLO_REPS=4 python scripts/solo_bench.py ...
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    names = [a for a in sys.argv[1:] if not a.startswith("-")]
    reps = int(os.environ.get("SOLO_REPS", "3"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from cyber_etl_spark.plans import QUERIES
    from cyber_etl_spark.session import get_spark
    from cyber_etl_spark.sources import load_all

    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    spark = get_spark("solo-bench", **{"spark.ui.retainedJobs": "100000"})
    tables = load_all(spark, sf_dir)
    tables["lineitem"].groupBy("l_returnflag").count().count()

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    for _ in range(3):
        spark.range(10).count()
    t0 = time.perf_counter()
    for _ in range(20):
        spark.range(10).count()
    floor_ms = round((time.perf_counter() - t0) / 20 * 1000, 1)
    print(f"job_floor_ms={floor_ms}", flush=True)

    # warm pass 0, not in the min: shared artifact builds + codegen; its
    # time per query is the cold cost, builds included
    cold: dict[str, float] = {}
    for n in names:
        t0 = time.perf_counter()
        QUERIES[n].builder(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        cold[n] = round(time.perf_counter() - t0, 3)
        print(f"  pass0 {n}: {cold[n]:.3f}s", flush=True)

    best: dict[str, float] = {}
    jobs: dict[str, int] = {}
    for rep in range(reps):
        for n in names:
            group = f"solo:{n}:{rep}"
            sc.setJobGroup(group, n)
            t0 = time.perf_counter()
            QUERIES[n].builder(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            dt = time.perf_counter() - t0
            nj = len(tracker.getJobIdsForGroup(group))
            if n not in best or dt < best[n]:
                best[n], jobs[n] = dt, nj
            print(f"  rep{rep} {n}: {dt:.3f}s jobs={nj}", flush=True)
    print(json.dumps({"floor_ms": floor_ms, "cold": cold, "best": {k: round(v, 3) for k, v in best.items()}, "jobs": jobs}))


if __name__ == "__main__":
    main()
