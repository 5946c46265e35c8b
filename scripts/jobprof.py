"""Per-job profile of registered queries — job group, owner, seconds.

Runs the named queries in a fresh session with an uncompressed Spark
event log and lists every job each one submitted: its seconds, task
count, owner and call site.  The owner is the innermost shared artifact
(``session.artifact``) being built when the job ran, or ``build`` /
``action`` for the query's own builder and its final ``noop`` write —
the attribution a bare job count lacks (which jobs are memo builds vs
loop pins vs the final write).

    python scripts/jobprof.py --cold q128_kcore q129_sssp
    python scripts/jobprof.py q141_hits          # warm: after an untimed pass

``--cold`` profiles the first pass (every artifact built in it); without
it one untimed pass runs first and the profile is of the warm pass.
``SPARK_GRAFT_SF_DIR`` picks the dataset (default sf0.1).  The set-up
mirrors perfbench's: all tables loaded and one shuffle run before the
profiled pass.  Stdout is the listing; Spark's logs go to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def _label_artifacts(sc) -> None:
    """Rebind ``artifact`` in every engine module so jobs submitted while
    an artifact builds carry its name as their description."""
    import cyber_etl_spark.session as session

    orig = session.artifact
    desc = "spark.job.description"

    def labelled(spark, sf_dir, name, build, *params):
        def run():
            prev = sc.getLocalProperty(desc)
            sc.setLocalProperty(desc, name)
            try:
                return build()
            finally:
                sc.setLocalProperty(desc, prev)

        return orig(spark, sf_dir, name, run, *params)

    for mod in list(sys.modules.values()):
        if (getattr(mod, "__name__", "") or "").startswith("cyber_etl_spark") and (
            getattr(mod, "artifact", None) is orig
        ):
            mod.artifact = labelled


def _jobs(log: str) -> list[dict]:
    """One record per job of an uncompressed event log."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(log) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                infos = ev.get("Stage Infos") or [{}]
                last = max(infos, key=lambda st: st.get("Stage ID", -1))
                jobs[ev["Job ID"]] = {
                    "id": ev["Job ID"],
                    "group": props.get("spark.jobGroup.id"),
                    "owner": props.get("spark.job.description"),
                    "site": last.get("Stage Name", ""),
                    "start": ev["Submission Time"],
                    "end": None,
                    "tasks": 0,
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, ev["Job ID"])
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                if jid is not None:
                    jobs[jid]["tasks"] += 1
    return [jobs[k] for k in sorted(jobs)]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("names", nargs="+")
    ap.add_argument("--cold", action="store_true", help="profile the first pass")
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from cyber_etl_spark.plans import QUERIES
    from cyber_etl_spark.session import get_spark
    from cyber_etl_spark.sources import load_all

    events = tempfile.mkdtemp(prefix="jobprof_events_")
    try:
        spark = get_spark(
            "jobprof",
            **{
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": events,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        sc = spark.sparkContext
        load_all(spark, sf_dir)["lineitem"].groupBy("l_returnflag").count().count()
        _label_artifacts(sc)

        def run_pass(tag: str) -> dict[str, float]:
            wall = {}
            for n in args.names:
                sc.setJobGroup(f"{tag}:{n}", "build")
                t0 = time.perf_counter()
                df = QUERIES[n].builder(spark, sf_dir)
                sc.setLocalProperty("spark.job.description", "action")
                df.write.format("noop").mode("overwrite").save()
                wall[n] = time.perf_counter() - t0
            sc.setLocalProperty("spark.jobGroup.id", None)
            return wall

        if not args.cold:
            run_pass("untimed")
        tag = "cold" if args.cold else "warm"
        wall = run_pass(tag)
        spark.stop()  # flushes the event log
        (log,) = [os.path.join(events, f) for f in os.listdir(events)]
        jobs = [j for j in _jobs(log) if (j["group"] or "").startswith(tag + ":")]
    finally:
        shutil.rmtree(events, ignore_errors=True)

    repo = re.escape(ROOT + os.sep)
    print(f"# {tag} pass over {os.path.basename(os.path.normpath(sf_dir))}:"
          f" {len(jobs)} jobs, {sum(j['tasks'] for j in jobs)} tasks")
    print("# group\tjob\towner\tsecs\ttasks\tcall site")
    for n in args.names:
        mine = [j for j in jobs if j["group"] == f"{tag}:{n}"]
        for j in mine:
            secs = (j["end"] - j["start"]) / 1000 if j["end"] else float("nan")
            site = re.sub(repo, "", j["site"])
            print(f"{n}\t{j['id']}\t{j['owner']}\t{secs:.3f}\t{j['tasks']}\t{site}")
        print(f"# {n}: {wall[n]:.3f} s wall, {len(mine)} jobs")


if __name__ == "__main__":
    main()
