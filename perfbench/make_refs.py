"""Compute the stored output references in ``refs.json``.

Run once, from the repository root, whenever the panels or the data change:

    python3 perfbench/make_refs.py

For every panel query the reference is the digest (see ``worker.digest``)
of its DuckDB oracle's result on ``data/sf0.1``.  An oracle that fails, runs
out of ``--memory`` or runs past ``--cap`` seconds there is run on
``data/sf0.01`` instead; such a
query is then also checked at sf0.01 on every benchmark run, and its sf0.1
reference is the engine's own sf0.1 output, recorded only if the engine
matched the oracle at sf0.01.  Queries without an oracle get an engine
reference at sf0.1.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

from worker import digest  # noqa: E402
from workloads import POOLS  # noqa: E402


def oracle_digest(
    sql: str, sf_dir: str, cap: float, memory: str, tmp: str
) -> tuple[dict | None, str]:
    from cyber_etl_spark.testing import duck_connection

    con = duck_connection(sf_dir)
    con.execute(f"SET temp_directory='{tmp}'")
    con.execute(f"SET memory_limit='{memory}'")
    con.execute("SET max_temp_directory_size='4GB'")
    timer = threading.Timer(cap, con.interrupt)
    timer.start()
    t0 = time.perf_counter()
    try:
        return digest(con.sql(sql).df()), f"{time.perf_counter() - t0:.1f}s"
    except Exception as exc:  # noqa: BLE001 — recorded, the query stays in its panel
        return None, f"{type(exc).__name__}: {str(exc).splitlines()[0][:120]}"
    finally:
        timer.cancel()
        con.close()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cap", type=float, default=60.0)
    ap.add_argument("--memory", default="3GB", help="DuckDB memory limit")
    ap.add_argument("--only", nargs="*", help="recompute these queries only")
    args = ap.parse_args()

    from cyber_etl_spark.plans import QUERIES

    names = sorted({n for pool in POOLS.values() for n in pool})
    out_path = os.path.join(HERE, "refs.json")
    refs: dict = {}
    if args.only and os.path.exists(out_path):
        with open(out_path) as fh:
            refs = json.load(fh)
    todo = args.only or names
    big, small = (os.path.join(HERE, "data", s) for s in ("sf0.1", "sf0.01"))
    engine_needed = []
    with tempfile.TemporaryDirectory() as tmp:
        for name in todo:
            oracle = QUERIES[name].oracle
            rec: dict = {"sf0.1": None, "sf0.1_source": None, "sf0.01": None}
            if oracle is None:
                engine_needed.append(name)
                note = "no oracle"
            else:
                rec["sf0.1"], note = oracle_digest(oracle, big, args.cap, args.memory, tmp)
                rec["sf0.1_source"] = "oracle" if rec["sf0.1"] else None
                if rec["sf0.1"] is None:
                    rec["sf0.01"], note2 = oracle_digest(oracle, small, args.cap, args.memory, tmp)
                    note = f"{note}; sf0.01 {note2}"
                    engine_needed.append(name)
            rec["note"] = note
            refs[name] = rec
            print(name, note, file=sys.stderr, flush=True)

    if engine_needed:
        from cyber_etl_spark.session import get_spark

        spark = get_spark("perfbench-refs")
        for name in engine_needed:
            rec = refs[name]
            q = QUERIES[name]
            if q.oracle is not None and (
                rec["sf0.01"] is None
                or digest(q.builder(spark, small).toPandas()) != rec["sf0.01"]
            ):
                rec["note"] += "; engine not verified at sf0.01, no engine reference"
                continue
            rec["sf0.1"] = digest(q.builder(spark, big).toPandas())
            rec["sf0.1_source"] = "engine"
            print(name, "engine reference", file=sys.stderr, flush=True)
        spark.stop()

    with open(out_path, "w") as fh:
        json.dump({n: refs[n] for n in sorted(refs)}, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
