"""Per-layer tracing, done from outside the engine.

Two sources:

* ``LayerTracer`` rebinds the public functions of each engine layer in
  every ``cyber_etl_spark`` module namespace that holds them (plan modules
  import ``read_table`` and the graph kernels by name, so wrapping only the
  defining module would miss those calls).  Plan functions also import
  kernels lazily (``from ..operators.prefix import global_ranks`` inside a
  query), so every layer module is imported before wrapping: the lazy
  import then reads the wrapper from the defining module.  The outermost call into a layer
  is timed and counted, and tags the Spark jobs it submits with a local
  property, so the event log can attribute jobs to layers.  ``SessionMemo``
  lookups and builds are counted the same way.
* ``parse_event_log`` reads Spark's uncompressed JSON event log and returns
  one record per job: group, layer tags, submit/end time, tasks, executor
  run and CPU time, shuffle bytes.

Layers:

* ``sources``: ``cyber_etl_spark.sources.catalog.read_table``.
* ``graph``: public functions of ``graph.algorithms``, ``graph.builder`` and
  ``operators.mst``.
* ``operators``: public functions of every other ``operators`` module.
  Graph and operators share one "kernel" span stack: only the outermost
  kernel call is timed, so ``graph.s`` and ``operators.s`` never overlap.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import pkgutil
import sys
import time
from collections import defaultdict

PKG = "cyber_etl_spark"
GRAPH_MODULES = (
    f"{PKG}.graph.algorithms",
    f"{PKG}.graph.builder",
    f"{PKG}.operators.mst",
)
OPERATOR_PREFIX = f"{PKG}.operators."
LAYER_PACKAGES = ("graph", "operators", "sources")
READ_TABLE = (f"{PKG}.sources.catalog", "read_table")
PROP = "perfbench.layer."


def layer_of(fn) -> tuple[str, str] | None:
    """(layer, sub-layer) of an engine function, or None if not traced."""
    mod = getattr(fn, "__module__", "") or ""
    name = getattr(fn, "__name__", "")
    if name.startswith("_"):
        return None
    if (mod, name) == READ_TABLE:
        return "sources", "read_table"
    if mod in GRAPH_MODULES:
        return "graph", mod.rsplit(".", 1)[1]
    if mod.startswith(OPERATOR_PREFIX):
        return "operators", mod.rsplit(".", 1)[1]
    return None


class LayerTracer:
    """Counts and times calls into the engine layers while ``enabled``."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.enabled = False
        self._kernel_depth = 0
        self._sources_depth = 0
        self._miss_at: dict = {}
        self.wrapped = 0
        self.reset()

    def reset(self) -> None:
        """Start a fresh set of counters (called before every query)."""
        self.calls: dict[str, int] = defaultdict(int)
        self.secs: dict[str, float] = defaultdict(float)
        self.memo_hits = 0
        self.memo_misses = 0
        self.built: list[dict] = []
        self.looked_up: set[str] = set()

    def snapshot(self) -> dict:
        return {
            "calls": dict(self.calls),
            "secs": dict(self.secs),
            "memo_hits": self.memo_hits,
            "memo_misses": self.memo_misses,
            "memo_builds": len(self.built),
            "memo_build_s": sum(b["secs"] for b in self.built if b["parent"] is None),
            "memo_built": list(self.built),
            "memo_used": sorted(self.looked_up),
        }

    # -- function wrapping ---------------------------------------------
    def _wrap(self, fn, layer: str, sub: str):
        tracer = self
        key = f"{layer}.{sub}"
        is_kernel = layer != "sources"

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            depth = tracer._kernel_depth if is_kernel else tracer._sources_depth
            if depth:
                return fn(*args, **kwargs)
            if is_kernel:
                tracer._kernel_depth += 1
            else:
                tracer._sources_depth += 1
            tracer.sc.setLocalProperty(PROP + layer, sub)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.secs[key] += time.perf_counter() - t0
                tracer.calls[key] += 1
                tracer.sc.setLocalProperty(PROP + layer, None)
                if is_kernel:
                    tracer._kernel_depth -= 1
                else:
                    tracer._sources_depth -= 1

        traced.__perfbench_wrapped__ = fn
        return traced

    def install(self) -> None:
        """Rebind every traced function in every engine module."""
        for sub in LAYER_PACKAGES:
            pkg = importlib.import_module(f"{PKG}.{sub}")
            for info in pkgutil.iter_modules(pkg.__path__, pkg.__name__ + "."):
                importlib.import_module(info.name)
        wrappers: dict[int, object] = {}
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == PKG or mod_name.startswith(PKG + ".")):
                continue
            for attr, val in list(vars(mod).items()):
                if not inspect.isfunction(val) or hasattr(val, "__perfbench_wrapped__"):
                    continue
                where = layer_of(val)
                if where is None:
                    continue
                if id(val) not in wrappers:
                    wrappers[id(val)] = self._wrap(val, *where)
                setattr(mod, attr, wrappers[id(val)])
                self.wrapped += 1
        self._install_memo()

    def _install_memo(self) -> None:
        """Count ``SessionMemo`` lookups, hits and builds.  A build is timed
        from the lookup that missed to the insert; builds that ran inside
        another build record it as their ``parent``."""
        from cyber_etl_spark.session import SessionMemo

        tracer = self
        contains, setitem = SessionMemo.__contains__, SessionMemo.__setitem__
        memo_names = {
            id(val): f"{mod_name[len(PKG) + 1:]}.{attr}"
            for mod_name, mod in list(sys.modules.items())
            if mod is not None and mod_name.startswith(PKG + ".")
            for attr, val in vars(mod).items()
            if isinstance(val, SessionMemo)
        }

        def label(memo, key) -> str:
            return ":".join([memo_names.get(id(memo), "memo")] + [str(x) for x in key[2:]])

        def traced_contains(memo, key):
            hit = contains(memo, key)
            if tracer.enabled and isinstance(key, tuple) and key:
                tracer.looked_up.add(label(memo, key))
                if hit:
                    tracer.memo_hits += 1
                else:
                    tracer.memo_misses += 1
                    tracer._miss_at[(id(memo), key)] = time.perf_counter()
            return hit

        def traced_setitem(memo, key, value):
            setitem(memo, key, value)
            t0 = tracer._miss_at.pop((id(memo), key), None)
            if t0 is None:
                return
            name = label(memo, key)
            for inner in tracer.built:
                if inner["start"] >= t0 and inner["parent"] is None:
                    inner["parent"] = name
            tracer.built.append({
                "label": name, "start": t0, "secs": time.perf_counter() - t0, "parent": None,
            })

        SessionMemo.__contains__ = traced_contains
        SessionMemo.__setitem__ = traced_setitem


# -- Spark event log -------------------------------------------------------
def parse_event_log(path: str) -> dict[int, dict]:
    """Job id -> {group, layers, start_ms, end_ms, tasks, run_ms, cpu_ns,
    shuffle_read, shuffle_write} from one uncompressed event log."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jid = ev["Job ID"]
                jobs[jid] = {
                    "group": props.get("spark.jobGroup.id"),
                    "layers": {
                        k[len(PROP):]: v for k, v in props.items() if k.startswith(PROP)
                    },
                    "start_ms": ev["Submission Time"],
                    "end_ms": None,
                    "tasks": 0,
                    "run_ms": 0,
                    "cpu_ns": 0,
                    "shuffle_read": 0,
                    "shuffle_write": 0,
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end_ms"] = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                tm = ev.get("Task Metrics")
                if jid is None or not tm:
                    continue
                job = jobs[jid]
                job["tasks"] += 1
                job["run_ms"] += tm.get("Executor Run Time", 0)
                job["cpu_ns"] += tm.get("Executor CPU Time", 0)
                rd = tm.get("Shuffle Read Metrics", {})
                job["shuffle_read"] += rd.get("Remote Bytes Read", 0) + rd.get(
                    "Local Bytes Read", 0
                )
                job["shuffle_write"] += tm.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0
                )
    return jobs


def union_ms(intervals: list[tuple[float, float]], lo: float = float("-inf"),
             hi: float = float("inf")) -> float:
    """Length of the union of [start, end] intervals, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
