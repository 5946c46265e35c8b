"""Graph algorithms as DataFrame-iterative computations.

GraphFrames isn't available in this environment, and the reference's
algorithms ran inside Neo4j GDS (gds.articleRank / gds.louvain, writeup
pp.4-5, SURVEY.md §2.11 Q6/Q7).  Each algorithm here is a loop of
join + hash-aggregation steps over (src, dst) edge DataFrames — the same
dataflow a Pregel superstep compiles to — with per-iteration
``localCheckpoint`` to truncate the lineage (otherwise the plan doubles
every superstep and the driver OOMs planning, not computing).

Determinism:
- connected_components / label_propagation are integer-valued with min /
  rank-based tie-breaks → bit-deterministic at any partitioning.
- pagerank/articlerank sum doubles per node; shuffle order perturbs the
  last ulps only, so results are compared rounded (1e-6).

Scale: every superstep shuffles O(|E|) rows keyed by vertex id.  At
100 TB-graph scale the win comes from (a) pre-partitioning both the edge
list and the rank/label state by vertex id so each superstep co-locates,
(b) AQE skew-splitting for celebrity vertices.
"""

from __future__ import annotations

import threading
import weakref
from contextlib import contextmanager

import numpy as np
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..session import local_frame

# Derived tables (symmetrized edges, degree/share tables) are pure
# functions of their input edge DataFrame and get rebuilt by every
# algorithm that shares a graph — memoize them per edge-DataFrame.
# Weak keys: when a caller's edge frame is garbage collected the entry
# dies with it, so an unrelated frame can never alias a stale result.
_DERIVED: "weakref.WeakKeyDictionary[DataFrame, dict]" = weakref.WeakKeyDictionary()

# Forced-broadcast ceiling for per-superstep state vectors (ranks/labels).
# 1 M rows ≈ 16-24 MB serialized — comfortably under executor overhead
# budgets.  Beyond this the loop falls back to a shuffle join and AQE's
# dynamic broadcast conversion takes over if the vector is actually small;
# a 10 M-row forced broadcast (hundreds of MB, re-shipped every superstep)
# OOMs real executors long before the driver notices.
_BCAST_MAX_ROWS = 1_000_000

# AQE is session-wide: the first _aqe_off entrant saves and disables it,
# the last to leave restores it.
_AQE_LOCK = threading.Lock()
_aqe_depth = 0
_aqe_saved: "str | None" = None


@contextmanager
def _aqe_off(spark, enabled: bool = True):
    """Disable adaptive execution for the enclosed LOOP-INTERNAL actions.

    Per-superstep pin jobs in the force-broadcast rank loops are one
    hinted broadcast join + one aggregation whose width `_nw` already
    sizes — AQE contributes nothing there but materializes every
    exchange as an extra scheduler job (r13 A/B, interleaved min-of-3:
    q28 3.17→2.88 s / 33→22 jobs, q135 3.06→2.36, q29 2.59→2.31; jobs
    −1/superstep each).  Loops with UNHINTED or self-join shuffles (CC,
    ktruss, luby, betweenness) measured WORSE wall with AQE off — AQE's
    parallel stage materialization overlaps their independent subtrees —
    so only the single-shuffle-per-step rank/frontier loops with a
    blocking action per superstep use this, and only on their broadcast
    path (past `_BCAST_MAX_ROWS` — the 100 TB regime — AQE stays on for
    skew handling).  The toggle is scoped to the loop's own blocking
    actions; frames returned to callers plan under the session default
    again.  AQE is adaptive EXECUTION, never results — a query planned
    concurrently on a threaded sweep at worst runs non-adaptively while
    some loop is inside this block; overlapping blocks share one saved
    value, so the last to leave restores the session default.
    """
    global _aqe_depth, _aqe_saved
    if not enabled:
        yield
        return
    key = "spark.sql.adaptive.enabled"
    with _AQE_LOCK:
        if _aqe_depth == 0:
            _aqe_saved = spark.conf.get(key)
            spark.conf.set(key, "false")
        _aqe_depth += 1
    try:
        yield
    finally:
        with _AQE_LOCK:
            _aqe_depth -= 1
            if _aqe_depth == 0:
                spark.conf.set(key, _aqe_saved)


def _width(rows: int, rows_per_part: int = 200_000) -> int:
    """Target stage width for loop-internal jobs: ~rows_per_part rows per
    task with a floor of 8 (same economics as :func:`_compact`)."""
    return max(8, rows // rows_per_part)


def _nw(df: DataFrame, w: int) -> DataFrame:
    """Collapse the consuming stage of a loop-internal shuffle to ``w``
    tasks — the plan-local replacement for mutating the session-global
    ``spark.sql.shuffle.partitions`` (which leaked the shrunken width to
    any concurrently planned query on the same session).

    ``coalesce`` is narrow: placed right after a shuffle-producing
    operator (aggregation or shuffle join) it merges that exchange's
    reduce partitions into ``w`` tasks *within the same stage* — map-side
    partial aggregation below the exchange is untouched, so shuffle BYTES
    are identical; only the scheduling floor changes (32 near-empty reduce
    tasks per groupBy per superstep on a 60 k-edge graph was 2x wall on
    q43 at sf0.1; checkpoint jobs bypass AQE re-optimization and AQE's
    ``parallelismFirst`` default keeps tiny shuffles wide anyway).  On a
    big graph ``w`` exceeds the exchange's partition count and coalesce
    is a no-op, so cluster-scale parallelism is untouched.
    """
    return df.coalesce(w)


def _derived(edges: DataFrame, tag: tuple, build) -> DataFrame:
    slot = _DERIVED.setdefault(edges, {})
    if tag not in slot:
        slot[tag] = build()
    return slot[tag]


def _on_driver(df: DataFrame, rows: int) -> dict:
    """``{column: ndarray}`` copy of the pinned frame ``df`` on the driver,
    collected through Arrow once and memoized with the frame — the local
    path of a loop whose edge list is at or under ``_BCAST_MAX_ROWS``.

    Under the cap every superstep would broadcast the whole edge list to
    every task anyway; one driver copy runs the loop with no job, no
    Python worker and no Arrow round trip per call (the textrank rule:
    bounded iteration state must not loop as distributed supersteps).
    ``rows`` is the frame's known row count: past the cap the frame is
    refused before anything is collected.  A frame marked
    ``_cyber_base`` is a projection of that pinned frame and reads its
    copy, so projections of one artifact share one collect.  Callers
    return their result as a :func:`local_frame`, read with no job and
    no worker.
    """
    if rows > _BCAST_MAX_ROWS:
        raise ValueError(
            f"{rows} edge rows exceed the driver-copy cap ({_BCAST_MAX_ROWS}); "
            "past it the loop must run distributed"
        )
    df = getattr(df, "_cyber_base", df)
    return _derived(
        df, ("driver",), lambda: {c: s.to_numpy() for c, s in df.toPandas().items()}
    )


def _from_driver(spark, cols: dict) -> DataFrame:
    """The inverse of :func:`_on_driver`: a frame over the driver integer
    arrays ``cols`` (``{column: ndarray}``, each column a ``bigint``),
    with those arrays as its driver copy and their length as its
    ``_cyber_rows`` — an artifact built on the driver that a later
    driver-local loop reads with no collect.

    The Arrow local relation is pinned lazily: building the frame
    submits no job, and distributed consumers that iterate over it read
    the checkpointed rows from the first action on, not a relation
    re-shipped with every plan."""
    ddl = ", ".join(f"{c} bigint" for c in cols)
    df = local_frame(spark, cols, ddl).localCheckpoint(eager=False)
    df._cyber_rows = len(next(iter(cols.values())))
    _derived(df, ("driver",), lambda: cols)
    return df


def _compact(df: DataFrame, rows_hint: int, rows_per_part: int = 200_000) -> DataFrame:
    """Right-size partitions before materializing loop state.

    Superstep cost on small-to-medium graphs is dominated by task launch,
    not data: a 1M-row edge table inherited across 10 supersteps at the
    global shuffle-partition count (e.g. 32) schedules 320 near-empty
    tasks.  Coalesce (narrow, no shuffle) down to ~rows_per_part rows per
    partition with a floor of 8; on a big cluster with billions of rows
    the target exceeds the current count and this is a no-op, so
    parallelism at scale is untouched.
    """
    target = max(8, rows_hint // rows_per_part)
    try:
        cur = df.rdd.getNumPartitions()
    except Exception:
        return df
    return df.coalesce(target) if target < cur else df


def _pin(df: DataFrame, w: int, eager: bool) -> DataFrame:
    """Pin one superstep's loop state: ``coalesce(w)``, ``localCheckpoint``,
    and hand back the pinned rows as a fresh frame with no statistics.

    A checkpointed frame keeps the size estimate of the plan that made
    it.  A state that joins itself multiplies two such estimates every
    superstep, so ``sizeInBytes`` doubles its digit count per superstep
    (43, 106, 231, 482 … digits) and Catalyst's statistics pass turns
    exponential: chained pins ran flat for ~14 supersteps, then ×2-3 per
    superstep, all of it on the driver after the last job ended.
    Re-wrapping the checkpoint's RDD as a new relation (no job, no
    Python round trip — never a rebuild from the pickled ``df.rdd``) drops the
    inherited estimate; the new frame reports the session default
    (``spark.sql.defaultSizeInBytes``) like any RDD-backed relation.

    The coalesce merges the partitions that union states (Luby's merged
    frame) would otherwise compound round over round.  Size ``w`` with
    :func:`_width` where the loop knows its rows, so past the floor it
    never narrows a wide stage.  ``eager=False`` when the caller's next
    action (a count) materializes the pin in the same job.
    """
    p = df.coalesce(w).localCheckpoint(eager=eager)
    spark = p.sparkSession
    # p's plan is the LogicalRDD over the checkpointed RDD: wrap that RDD
    # itself, so reads of the new frame plan nothing above it
    jdf = spark._jsparkSession.internalCreateDataFrame(
        p._jdf.logicalPlan().rdd(), p._jdf.schema(), False
    )
    return DataFrame(jdf, spark)


def _pin_counted(df: DataFrame, **stats) -> tuple[DataFrame, dict]:
    """Pin ``df`` (eager ``localCheckpoint``) and return it with its row
    count ``n`` and the aggregate ``stats`` (name → Column), observed in
    the pin's own job: no count or collect job after it.  The eager pin
    is a tracked SQL execution, so the observation is complete when it
    returns."""
    obs = Observation()
    aggs = [F.count(F.lit(1)).alias("n")] + [c.alias(k) for k, c in stats.items()]
    pinned = df.observe(obs, *aggs).localCheckpoint(eager=True)
    return pinned, obs.get


def _sym_counted(edges: DataFrame) -> tuple[DataFrame, int]:
    """Symmetrize (undirected semantics) and MATERIALIZE the edge list,
    with its row count — one derivation per edge frame.

    Every superstep references the edges; without materialization Spark
    re-executes the upstream plan (e.g. the co-supply self-join, or a
    whole similarity-join pipeline) once per iteration per action —
    the classic iterative-algorithm trap.  localCheckpoint pins the
    computed edge partitions in executor storage once, and the count is
    observed in that pin.  Builders that pin a symmetric frame
    themselves mark it (``_cyber_symmetric``, and ``_cyber_rows`` when
    they observed its count): neither is redone here.
    """

    def build():
        if getattr(edges, "_cyber_symmetric", False):
            # the union+distinct would be an identity: skip the extra
            # 2|E|-row shuffle entirely
            base = edges.select("src", "dst")
            n = getattr(edges, "_cyber_rows", None)
            if n is None:
                n = base.count()
        else:
            base, st = _pin_counted(
                edges.select("src", "dst")
                .union(
                    edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
                )
                .distinct()
            )
            n = st["n"]
        # coalesce is narrow — re-reading the checkpoint merged into
        # right-sized partitions costs nothing and every superstep that
        # scans the edges schedules proportionally fewer tasks
        return _compact(base, n), n

    return _derived(edges, ("sym",), build)


def _sym(edges: DataFrame) -> DataFrame:
    """The pinned symmetric edge list of :func:`_sym_counted`."""
    return _sym_counted(edges)[0]


def _ecount(edges: DataFrame) -> int:
    """Row count of :func:`_sym`'s edge list — sizes the loops' shuffle
    width and their broadcast-or-shuffle choice."""
    return _sym_counted(edges)[1]


def _vertices(edges: DataFrame) -> tuple[DataFrame, int]:
    """(id) vertex frame of the symmetrized list and its row count,
    pinned once per edge frame (lazy pin + count: one job) — the loops'
    initial state and their up-front broadcast bound."""

    def build():
        v = _sym(edges).select(F.col("src").alias("id")).distinct()
        v = v.localCheckpoint(eager=False)
        return v, v.count()

    return _derived(edges, ("vertices",), build)


def connected_components(edges: DataFrame, max_iterations: int = 40) -> DataFrame:
    """Min-label propagation connected components → (id, component).

    ``component`` is the smallest vertex id reachable from ``id`` —
    exactly the deterministic cluster id needed by the entity-resolution
    pipeline (SURVEY.md M2: blocking → scoring → connected components).
    Converges in O(diameter) supersteps (pointer jumping compresses
    that to ~O(log diameter)); each superstep is one join +
    min-aggregation.  Every superstep's label frame is pinned through
    :func:`_pin`: the state joins itself (hook, then pointer jumping),
    and a plain checkpoint chain would compound its inherited size
    estimate into exponential planning past ~14 supersteps.
    """
    e = _sym(edges)
    vertices, n_nodes = _vertices(edges)
    labels = vertices.withColumn("component", F.col("id"))
    # Convergence detection: labels are monotone non-increasing (least of
    # self and neighbor minima), so Σcomponent strictly decreases iff any
    # vertex changed.  Comparing sums costs one tiny aggregate over the
    # already-checkpointed label vector — no join, no extra shuffle —
    # versus the join-and-count diff it replaces.  DECIMAL(38,0) keeps the
    # sum exact for billions of 64-bit ids (no i64 overflow, no double
    # rounding).
    prev_sum = None
    w = _width(_ecount(edges))
    # Label/neighbor-min/hooked frames are all ≤|V| rows: under the cap
    # broadcast them into every per-superstep join (the loop-family
    # policy) — stats-less state frames otherwise plan SortMergeJoins
    # that re-exchange the EDGE side every superstep, and checkpoint jobs
    # bypass AQE's broadcast conversion.  Past the cap the shuffle plan
    # is unchanged.  Labels are integers with min tie-breaks, so join
    # strategy cannot perturb the result.
    bx = (
        (lambda d: F.broadcast(d))
        if n_nodes <= _BCAST_MAX_ROWS
        else (lambda d: d)
    )
    for it in range(max_iterations):
        # agg left un-wrapped: its hashpartitioning(nid) is reused by the
        # join below (see _nw docstring on partitioning erasure)
        lb = bx(labels)
        neighbor_min = (
            _nw(e.join(lb, e.src == lb.id), w)
            .groupBy(F.col("dst").alias("nid"))
            .agg(F.min("component").alias("nmin"))
        )
        nm = bx(neighbor_min)
        hooked = labels.join(nm, labels.id == nm.nid, "left").select(
            "id",
            F.least(
                F.col("component"), F.coalesce(F.col("nmin"), F.col("component"))
            ).alias("component"),
        )
        # pointer jumping: adopt the label of my label — halves chain depth
        # every iteration, so convergence is O(log diameter) supersteps
        # instead of O(diameter)
        x, y = hooked.alias("x"), bx(hooked.alias("y"))
        new_labels = (
            _nw(x.join(y, F.col("x.component") == F.col("y.id"), "left"), w)
            .select(
                F.col("x.id").alias("id"),
                F.least(
                    F.col("x.component"),
                    F.coalesce(F.col("y.component"), F.col("x.component")),
                ).alias("component"),
            )
        )
        new_labels = _pin(new_labels, w, eager=False)
        # LAZY pin + observed count: the count is the one action that
        # materializes the superstep's checkpoint, and the convergence
        # sum rides it as a CollectMetrics observation — one job per
        # superstep where the eager pin + agg-collect pair cost three
        # (r13; the luby count-materializes-pin form with the metric
        # folded in).
        obs = Observation()
        new_labels.observe(
            obs, F.sum(F.col("component").cast("decimal(38,0)")).alias("s")
        ).count()
        cur_sum = obs.get["s"]
        labels = new_labels
        # None == None breaks too: an empty graph is trivially converged
        if it > 0 and cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels


def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    variant: str = "pagerank",
    weight_col: str | None = None,
    seeds: list | None = None,
) -> DataFrame:
    """Iterative (Article)PageRank → (id, rank).

    ``seeds``: personalized PageRank — the start vector and the
    (1-damping) teleport mass concentrate on the seed set instead of
    spreading uniformly (random walk with restart to the seeds; the
    GDS ``sourceNodes`` option).  Seed-independent artifacts (degree,
    edge shares) are cached across seed sets.

    ``variant='pagerank'``: classic PR — incoming mass is rank/outDegree.
    ``variant='articlerank'``: Neo4j GDS ArticleRank (writeup p.4 Q6) —
    incoming mass is rank/(outDegree + avgOutDegree), damping applied the
    same way; this is the exact GDS formula, not the PageRank
    approximation GraphFrames would have offered.

    Vertices are the distinct edge endpoints (the reference projects the
    graph before running GDS, so isolated nodes don't participate either).
    """
    if weight_col is None:
        e = _sym(edges).withColumn("w", F.lit(1.0))
    else:
        # weighted graph: assume the caller provides a symmetric edge
        # list (weight must be identical in both directions)
        e = _derived(
            edges,
            ("wedges", weight_col),
            lambda: edges.select(
                "src", "dst", F.col(weight_col).cast("double").alias("w")
            ).localCheckpoint(eager=True),
        )
    # deg doubles as out-strength: Σw for weighted, edge count otherwise
    deg = _derived(
        edges,
        ("deg", weight_col),
        lambda: e.groupBy(F.col("src").alias("id"))
        .agg(F.sum("w").alias("deg"))
        .localCheckpoint(eager=True),
    )
    n = deg.count()
    deg = _derived(
        edges,
        ("deg-compact", weight_col),
        lambda: _compact(deg, n).localCheckpoint(eager=True),  # reused every superstep
    )
    m = (
        _ecount(edges)
        if weight_col is None
        else _derived(edges, ("ecount", weight_col), lambda: e.count())
    )
    if variant == "articlerank":
        avg_deg = deg.agg(F.avg("deg")).collect()[0][0]
        denom = F.col("deg") + F.lit(float(avg_deg))
    elif variant == "pagerank":
        denom = F.col("deg")
    else:
        raise ValueError(f"unknown variant: {variant}")

    # the per-edge share w/denom is STATIC across supersteps — join deg
    # once, checkpoint, and the loop only ever joins the rank vector.
    eshare = _derived(
        edges,
        ("eshare", weight_col, variant),
        lambda: _compact(
            e.join(deg, e.src == deg.id).select(
                "src", "dst", (F.col("w") / denom).alias("share")
            ),
            m,
        ).localCheckpoint(eager=True),
    )
    if seeds is None:
        ranks = deg.select("id", F.lit(1.0 / n).alias("rank"))
        base_col = F.lit((1.0 - damping) / n)
    else:
        # personalized PR: all reset mass returns to the seed set — both
        # the start vector and the teleport term are the seed indicator
        # (classic PPR: r = d·M·r + (1-d)·p).  The seed list is probe-
        # sized (an isin literal), and the eshare/deg artifacts above are
        # seed-independent, so PPR for any seed set reuses the cached
        # global-PR build.
        if not seeds:
            raise ValueError("personalized pagerank needs a non-empty seed list")
        init = F.when(F.col("id").isin(list(seeds)), F.lit(1.0 / len(seeds))).otherwise(
            F.lit(0.0)
        )
        ranks = deg.select("id", init.alias("rank"))
        base_col = F.when(
            F.col("id").isin(list(seeds)), F.lit((1.0 - damping) / len(seeds))
        ).otherwise(F.lit(0.0))
    # rank vector is |V| rows — broadcast it while it fits comfortably;
    # past that AQE picks a shuffle join and the loop still works.
    bcast = n <= _BCAST_MAX_ROWS
    w = _width(m)
    with _aqe_off(e.sparkSession, bcast):
      for i in range(iterations):
        r = F.broadcast(ranks) if bcast else ranks
        contribs = (
            eshare.join(r, eshare.src == r.id)
            .select(
                F.col("dst").alias("to"),
                (F.col("rank") * F.col("share")).alias("c"),
            )
            .groupBy("to")
            .agg(F.sum("c").alias("mass"))
        )
        # e is symmetric in EVERY path (_sym() for unweighted input, the
        # documented caller contract for weight_col), so each node has an
        # in-edge and `contribs` already covers the full node set: the
        # former `deg LEFT JOIN contribs` was an identity costing one
        # SortMergeJoin + an exchange and sort of BOTH sides per superstep
        # (checkpointed frames carry no stats and checkpoint jobs bypass
        # AQE's dynamic broadcast conversion).  `mass` is never NULL for
        # the same reason, so the coalesce is gone too — per-node values
        # are bit-identical.  On the bcast path the agg is plan-terminal
        # (next use is a broadcast collect) → _nw-collapse it; on the
        # shuffle path leave it un-wrapped so hashpartitioning(to→id)
        # feeds the next superstep's rank join exchange-free.
        ranks = (
            (_nw(contribs, w) if bcast else contribs)
            .select(F.col("to").alias("id"), "mass")
            .select(
                "id",
                (base_col + F.lit(damping) * F.col("mass")).alias("rank"),
            )
        )
        if bcast:
            # a forced broadcast of an UNcheckpointed superstep chain is
            # quadratic: materializing superstep k's broadcast re-runs
            # every nested broadcast below it as its own job (measured
            # 18 jobs / 7.2s vs 2.9s for 4 LPA supersteps at sf0.1).
            # The vector is <= _BCAST_MAX_ROWS by definition of this
            # branch, so pinning it per superstep is one tiny blocking
            # job that makes the next broadcast (and any multi-reference
            # caller) read a flat checkpoint instead of a chain.
            ranks = _compact(ranks, n).localCheckpoint(eager=True)
        # big-vector path: truncate lineage every 5 supersteps, not per
        # superstep (each eager checkpoint of a large vector is a real
        # blocking job; a few chained shuffle-join supersteps plan fine
        # and run as ONE job).
        elif (i + 1) % 5 == 0 and (i + 1) < iterations:
            ranks = _compact(ranks, n).localCheckpoint(eager=True)
    return ranks


def label_propagation(edges: DataFrame, iterations: int = 4) -> DataFrame:
    """Synchronous label propagation → (id, community).

    Deterministic variant of GDS Louvain/LPA community detection (writeup
    p.5 Q7): each superstep every vertex adopts its neighbors' most
    frequent label, ties broken by smallest label value.  Fixed iteration
    count + total tie order ⇒ reproducible communities (SURVEY.md §7.3
    hard part 3: assert structure, not GDS's internal tie-breaking).
    """
    e = _sym(edges)
    vertices, n = _vertices(edges)
    labels = vertices.withColumn("community", F.col("id"))
    bcast = n <= _BCAST_MAX_ROWS  # label vector small → map-side join
    w = _width(_ecount(edges))
    for i in range(iterations):
        # ONE exchange replaces the former count-then-argmax pair:
        # mode(community, deterministic=True) is EXACTLY "most frequent
        # label, ties to smallest" (a TypedImperativeAggregate with
        # map-side partial count maps, so shuffle bytes are the partial
        # (community → cnt) maps — the same information the two-phase
        # form shipped, in half the shuffle rounds).
        lab = F.broadcast(labels) if bcast else labels
        best = (
            e.join(lab, e.src == lab.id)
            .groupBy(F.col("dst").alias("nid"))
            .agg(F.mode("community", True).alias("new_community"))
        )
        # label update: best is ≤|V| rows — broadcast it under the cap
        # (the left join's right side) so the checkpointed label vector
        # is never re-exchanged/sorted into a SortMergeJoin; on the
        # bcast path the agg is then plan-terminal → _nw-collapse it.
        # Past the cap keep the agg un-wrapped so hashpartitioning(nid)
        # feeds the shuffle join exchange-free.
        b = F.broadcast(_nw(best, w)) if bcast else best
        labels = _nw(labels.join(b, labels.id == b.nid, "left"), w).select(
            "id",
            F.coalesce(F.col("new_community"), F.col("community")).alias("community"),
        )
        if bcast:
            # see pagerank: broadcasting an uncheckpointed chain re-runs
            # every nested broadcast per materialization — pin the
            # (small) vector each superstep so the next broadcast (and
            # any multi-reference caller, e.g. modularity) reads a flat
            # plan.
            labels = labels.localCheckpoint(eager=True)
        elif (i + 1) % 4 == 0 and (i + 1) < iterations:
            # past the cap: truncate lineage every 4 supersteps
            labels = labels.localCheckpoint(eager=True)
    return labels


def modularity(edges: DataFrame, labels: DataFrame) -> float:
    """Newman modularity Q = Σ_c [e_c/m − (deg_c/2m)²] of a partition
    (labels: id, community) over an undirected edge list."""
    e = _sym(edges)
    deg = e.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("deg"))
    m = _ecount(edges) / 2.0
    ca = labels.select(F.col("id").alias("src"), F.col("community").alias("c_src"))
    cb = labels.select(F.col("id").alias("dst"), F.col("community").alias("c_dst"))
    internal = (
        e.join(ca, "src")
        .join(cb, "dst")
        .where(F.col("c_src") == F.col("c_dst"))
        .groupBy(F.col("c_src").alias("community"))
        .agg((F.count(F.lit(1)) / 2.0).alias("e_c"))
    )
    degsum = deg.join(labels, "id").groupBy("community").agg(F.sum("deg").alias("deg_c"))
    row = (
        degsum.join(internal, "community", "left")
        .select(
            (
                F.coalesce(F.col("e_c"), F.lit(0.0)) / F.lit(m)
                - F.pow(F.col("deg_c") / F.lit(2 * m), 2)
            ).alias("term")
        )
        .agg(F.sum("term").alias("q"))
        .collect()[0]
    )
    return float(row.q)


def louvain_level(
    edges: DataFrame,
    rounds: int = 3,
    init: DataFrame | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """One Louvain level: synchronized modularity-gain local moves →
    (id, community).

    Each round every node evaluates its neighboring communities and
    adopts the one maximizing the (constant-factor-scaled) gain
    ``w(i→C) − deg_i · deg_C\\i / 2m``, ties broken by smallest community
    id, moving only on strict improvement over its current community.
    Synchronized rounds + total tie order ⇒ deterministic, unlike GDS
    Louvain's run-to-run variance (SURVEY §7.3 hard part 3).  This is the
    aggregateMessages dataflow written as joins; :func:`louvain` recurses
    on the community-contracted graph for the full GDS-style hierarchy.

    ``weight_col``: treat ``edges`` as an already-symmetric directed
    weighted edge list (self-loops allowed — the contracted-graph shape).
    Weighted degrees/masses are sums of integer-valued doubles, so the
    gain arithmetic stays bit-deterministic.
    """
    if weight_col is None:
        e = _sym(edges).withColumn("w", F.lit(1.0))
        e_rows = _ecount(edges)
    else:
        e = edges.select(
            "src", "dst", F.col(weight_col).cast("double").alias("w")
        ).localCheckpoint(eager=True)
        e_rows = e.count()  # cheap: scans the fresh checkpoint
    deg = (
        e.groupBy(F.col("src").alias("id"))
        .agg(F.sum("w").alias("deg"))
        .localCheckpoint(eager=True)
    )
    # one aggregate serves both scalars: Σdeg counts every edge endpoint
    # once, so Σdeg = 2m — no separate scan of the (much larger) edge list
    stats = deg.agg(
        F.count(F.lit(1)).alias("n"), F.sum("deg").alias("degsum")
    ).collect()[0]
    n, m = stats.n, (stats.degsum or 0.0) / 2.0
    if n == 0:
        return deg.select("id", F.col("id").alias("community"))
    deg = _compact(deg, n)
    # carry (id, community, deg) as ONE state table: the candidate scoring
    # needs a node's current community AND degree, and fusing them removes
    # a per-round |V|-row join (and its broadcast materialization job)
    # versus separate labels/deg tables.
    if init is None:
        # identity labels are a projection of the already-materialized deg
        # table — checkpointing them again would be a pure-overhead job
        state = deg.select("id", F.col("id").alias("community"), "deg")
    else:
        # LEFT join from init: an isolated init vertex (no edges → no deg
        # row) must survive with its init community, as the pre-fusion
        # contract guaranteed; deg 0 is correct for it (it can never move
        # — it has no neighboring communities to join).
        state = _compact(
            init.localCheckpoint(eager=True)
            .join(deg.select("id", "deg"), "id", "left")
            .select("id", "community", F.coalesce("deg", F.lit(0.0)).alias("deg")),
            n,
        )
    bcast = n <= _BCAST_MAX_ROWS
    w_stage = _width(e_rows)
    for _ in range(rounds):
        lab_dst = state.select(
            F.col("id").alias("dst"), F.col("community").alias("n_comm")
        )
        # w(i→C): edge mass from i into each neighboring community C — the
        # label vector is |V| rows vs |E| edges, so map-side join while it
        # fits.  sum(w) == count for the unit-weight path (integer-valued
        # double addition is exact), so one formulation serves both.
        w_ic = _nw(
            e.join(F.broadcast(lab_dst) if bcast else lab_dst, "dst")
            .groupBy(F.col("src").alias("id"), "n_comm")
            .agg(F.sum("w").alias("w_ic")),
            w_stage,
        )
        # Σdeg over each community, minus i's own degree when i ∈ C.
        degsum = state.groupBy("community").agg(F.sum("deg").alias("deg_c"))
        # degsum (≤ #communities rows) and state (≤ |V| rows) both
        # broadcast under the cap: w_ic leaves its groupBy partitioned
        # by (id, n_comm), so the former SortMergeJoins re-exchanged it
        # TWICE (→ n_comm for degsum, → id for state) plus sorted both
        # small sides — broadcast joins keep w_ic in place and the only
        # remaining exchange is the groupBy("id") below.  Past the cap
        # the shuffle plan is unchanged.
        dg = F.broadcast(degsum) if bcast else degsum
        st = state.withColumnRenamed("community", "cur")
        cand = (
            w_ic.join(dg, w_ic.n_comm == dg.community)
            .join(F.broadcast(st) if bcast else st, "id")
        ).select(
            "id",
            "n_comm",
            "cur",
            (
                F.col("w_ic")
                - F.col("deg")
                * (
                    F.col("deg_c")
                    - F.when(F.col("n_comm") == F.col("cur"), F.col("deg")).otherwise(
                        F.lit(0)
                    )
                )
                / F.lit(2 * m)
            ).alias("gain"),
        )
        # on the bcast path best (≤|V| rows) broadcasts into the state
        # join below (left join, right side), so the checkpointed state
        # never re-exchanges; past the cap the agg stays un-wrapped so
        # hashpartitioning(id) feeds the shuffle join exchange-free
        best = cand.groupBy("id").agg(
            F.expr("max_by(n_comm, struct(gain, -n_comm))").alias("best_comm"),
            F.max(F.struct("gain", (-F.col("n_comm")).alias("nc"))).alias("best_key"),
            F.max(
                F.when(F.col("n_comm") == F.col("cur"), F.col("gain"))
            ).alias("cur_gain"),
        )
        state = _compact(
            _nw(
                state.join(
                    F.broadcast(_nw(best, w_stage)) if bcast else best,
                    "id",
                    "left",
                ),
                w_stage,
            )
            .select(
                "id",
                F.when(
                    F.col("best_comm").isNotNull()
                    & (F.col("best_key.gain") > F.coalesce(F.col("cur_gain"), F.lit(-1e18))),
                    F.col("best_comm"),
                )
                .otherwise(F.col("community"))
                .alias("community"),
                "deg",
            )
            .localCheckpoint(eager=True),
            n,
        )
    return state.select("id", "community")


def louvain(
    edges: DataFrame,
    levels: int = 2,
    rounds: int = 3,
    level1: DataFrame | None = None,
) -> DataFrame:
    """Hierarchical Louvain (GDS-style, writeup p.5 Q7): run local moves,
    CONTRACT communities into super-nodes (edge weights = inter-community
    edge mass, self-loops = internal mass), and recurse on the contracted
    graph → (id, community) with each original vertex mapped to its
    top-level community.

    The contracted graph is tiny relative to |V| (one row per community
    pair), so each additional level costs one groupBy over the edge list
    plus the local-move rounds on a much smaller graph — the standard
    scale shape: level 1 dominates, the hierarchy is nearly free.
    Deterministic end-to-end: community ids are min-member vertex ids at
    every level, moves tie-break (gain desc, community asc).
    """
    # ``level1``: a precomputed first-level assignment (callers that also
    # report level 1 share one build — the dominant cost of the hierarchy)
    level_labels = (
        level1 if level1 is not None else louvain_level(edges, rounds=rounds)
    )  # cur-graph node → community
    composed = level_labels  # ORIGINAL vertex → latest-level community
    cur_edges = _sym(edges).withColumn("w", F.lit(1.0))
    for _ in range(1, levels):
        lab_src = level_labels.select(
            F.col("id").alias("src"), F.col("community").alias("c_src")
        )
        lab_dst = level_labels.select(
            F.col("id").alias("dst"), F.col("community").alias("c_dst")
        )
        # level_labels has ≤ |V| rows at every level (labels only shrink
        # under contraction), so the memoized node count of the ORIGINAL
        # graph is a valid one-sided broadcast bound — the former
        # per-level count() job existed only for this decision
        n = _vertices(edges)[1]
        bsrc = F.broadcast(lab_src) if n <= _BCAST_MAX_ROWS else lab_src
        bdst = F.broadcast(lab_dst) if n <= _BCAST_MAX_ROWS else lab_dst
        # the contraction/remap tables are community-count-sized — run
        # their materializations at the same right-sized width as the
        # local-move loops
        w_stage = _width(_ecount(edges))
        contracted = (
            _nw(
                cur_edges.join(bsrc, "src")
                .join(bdst, "dst")
                .groupBy(F.col("c_src").alias("src"), F.col("c_dst").alias("dst"))
                .agg(F.sum("w").alias("w")),
                w_stage,
            )
            .localCheckpoint(eager=True)
        )
        upper = louvain_level(contracted, rounds=rounds, weight_col="w")
        remap = upper.select(
            F.col("id").alias("community"), F.col("community").alias("upper_comm")
        )
        composed = (
            _nw(composed.join(remap, "community"), w_stage)
            .select("id", F.col("upper_comm").alias("community"))
            .localCheckpoint(eager=True)
        )
        cur_edges, level_labels = contracted, upper
    return composed


def bfs_distances(
    edges: DataFrame, sources: DataFrame, max_hops: int = 3
) -> DataFrame:
    """Minimum hop distance from a source vertex set → (id, dist).

    Synchronized frontier expansion (the Pregel BFS): each hop joins the
    previous frontier into the edge list, anti-joins already-settled
    vertices, and checkpoints the (small) frontier.  First-reach level is
    the minimum distance, so the result is exact and deterministic.
    Frontiers are broadcast while small; the edge side never moves.
    (Reference analogue: the Cypher neighborhood expansions, writeup p.5
    Q6 two-hop — this generalizes them to k hops with distances.)
    """
    e = _sym(edges)
    # LAZY pin + count: the count is the action that materializes the
    # checkpoint, so each level costs ONE job instead of a dedicated
    # eager-pin job plus a count job (r12, guide §1.2 job floor).
    dist0 = sources.select(
        "id", F.lit(0).cast("int").alias("dist")
    ).localCheckpoint(eager=False)
    n_frontier = dist0.count()
    # settled vertices ride as a LIST of per-level pins unioned lazily —
    # re-pinning the growing union each level was a third job per hop
    # carrying no new information (every member is already cached; the
    # union depth is bounded by max_hops)
    settled = [dist0]
    dist = dist0
    frontier = dist0.select("id")
    w = _width(_ecount(edges))
    # the settled set is ≤ |V| BY CONSTRUCTION (one row per reached
    # vertex), so one memoized node bound decides broadcastability for
    # the whole loop (the CC policy)
    n_nodes = _vertices(edges)[1]
    bcast = n_nodes <= _BCAST_MAX_ROWS
    # under the cap every join is hinted-broadcast and the one distinct
    # exchange is _nw-sized — the AQE-off loop class (see _aqe_off)
    with _aqe_off(e.sparkSession, bcast):
      for h in range(1, max_hops + 1):
        if bcast:
            # ONE broadcast of the settled union serves BOTH per-level
            # joins (r13): the expansion join keeps the frontier filter
            # (dist = h-1) in the join CONDITION, so its broadcast
            # subtree canonicalizes identically to the anti-join's and
            # ReuseExchange builds it once — replacing the former
            # frontier broadcast + the anti-join's unhinted SortMergeJoin
            # (which re-exchanged the settled side every level).  ids
            # are unique in `dist`, so the condition-filtered probe
            # matches at most one build row, exactly the old frontier
            # semantics.
            st1, st2 = F.broadcast(dist), F.broadcast(dist)
            nxt = (
                _nw(
                    e.join(
                        st1,
                        (e.src == st1["id"]) & (st1["dist"] == F.lit(h - 1)),
                    )
                    .select(F.col("dst").alias("id"))
                    .distinct()
                    .join(st2, "id", "left_anti"),
                    w,
                )
                .withColumn("dist", F.lit(h).cast("int"))
                .localCheckpoint(eager=False)
            )
        else:
            # past the cap (the 100 TB regime) keep the frontier-keyed
            # shuffle shape: the frontier side is far smaller than the
            # settled union, and AQE's dynamic broadcast conversion
            # still applies when it shrinks again
            nxt = (
                _nw(
                    e.join(frontier, e.src == frontier["id"])
                    .select(F.col("dst").alias("id"))
                    .distinct()
                    .join(dist, "id", "left_anti"),
                    w,
                )
                .withColumn("dist", F.lit(h).cast("int"))
                .localCheckpoint(eager=False)
            )
        n_frontier = nxt.count()
        if n_frontier == 0:
            break
        settled.append(nxt)
        dist = settled[0]
        for s in settled[1:]:
            dist = dist.unionByName(s)
        frontier = nxt.select("id")
    return dist


def kcore(edges: DataFrame, k: int = 3, rounds: int = 4) -> DataFrame:
    """k-core decomposition by synchronized peeling → (id, core_deg).

    Each round drops every vertex whose degree WITHIN the surviving set
    is below ``k``; after ``rounds`` rounds (or earlier fixpoint — the
    peel is monotone, so stopping at a stable round equals running all
    of them) the survivors and their in-core degrees are returned.
    Vertices left without an in-core edge are absent.

    At or under ``_BCAST_MAX_ROWS`` edges the whole peel runs on the
    driver over the memoized copy of the pinned edge list
    (:func:`_on_driver`): ``np.unique`` indexes the vertices and one
    ``np.bincount`` per round gives the in-core degrees — integer counts,
    exact by construction.  Past the cap one round = two semi-joins of
    the (pinned) edge list against the active set + a src-keyed count;
    the active set only shrinks and is checkpointed per round per the
    loop-state discipline, and the edge side never re-shuffles.
    """
    m = _ecount(edges)
    if m <= _BCAST_MAX_ROWS:
        # a symmetric-marked frame's rows ARE its _sym rows: read its copy
        sym = edges if getattr(edges, "_cyber_symmetric", False) else _sym(edges)
        cols = _on_driver(sym, m)
        s, d = np.asarray(cols["src"], "int64"), np.asarray(cols["dst"], "int64")
        ids, inv = np.unique(np.concatenate([s, d]), return_inverse=True)
        s, d = inv[: len(s)], inv[len(s) :]
        act = np.zeros(len(ids), bool)
        act[s] = True  # round 0: every vertex

        def local_deg(a):
            live = a[s] & a[d]
            return np.bincount(s[live], minlength=len(ids))

        for _ in range(rounds):
            deg = local_deg(act)
            nxt = (deg > 0) & (deg >= k)
            stable = nxt.sum() == act.sum()  # fixpoint — further rounds are no-ops
            act = nxt
            if stable or not act.any():
                break
        deg = local_deg(act)
        keep = deg > 0
        return local_frame(
            edges.sparkSession,
            {"id": ids[keep], "core_deg": deg[keep]},
            "id bigint, core_deg bigint",
        )

    e = _sym(edges)
    active, n = _vertices(edges)  # round 0: every vertex
    w = _width(m)

    def in_core_deg(act: DataFrame) -> DataFrame:
        return _nw(
            e.join(act.select(F.col("id").alias("src")), "src", "left_semi")
            .join(act.select(F.col("id").alias("dst")), "dst", "left_semi")
            .groupBy("src")
            .agg(F.count(F.lit(1)).alias("core_deg")),
            w,
        )

    for _ in range(rounds):
        nxt = (
            in_core_deg(active)
            .where(F.col("core_deg") >= k)
            .select(F.col("src").alias("id"))
            .localCheckpoint(eager=False)
        )
        n_nxt = nxt.count()  # the action that materializes the pin
        if n_nxt == n:  # fixpoint — further rounds are no-ops
            active = nxt
            break
        active, n = nxt, n_nxt
        if n == 0:
            break
    if n == 0:
        return active.withColumn("core_deg", F.lit(0).cast("long")).limit(0)
    return in_core_deg(active).select(F.col("src").alias("id"), "core_deg")


def ktruss(edges_upper: DataFrame, k: int = 3, rounds: int = 3) -> DataFrame:
    """k-truss decomposition by synchronized EDGE peeling →
    (src, dst, support): each round drops every edge participating in
    fewer than k-2 triangles WITHIN the surviving edge set; the final
    support is recomputed over the last survivor set (0 for edges whose
    last triangle dissolved in the final round but were not yet peeled
    — the fixed-round synchronized semantics the oracle unrolls).

    The truss is the edge-wise sibling of :func:`kcore`'s vertex peel —
    a stricter cohesion filter (every k-truss edge lies in a (k-1)-core,
    not vice versa).  Input is the i<j upper-oriented edge list.

    Scale shape: one round = the q89 triangle enumeration on the pinned
    survivor set (two self-joins, both keyed on edge endpoints), a
    3-role union exploding each triangle to its edges, and an
    (src, dst)-keyed count whose partitioning feeds the survivor join
    exchange-free (NOT `_nw`-wrapped — the loop rule).  The edge set
    only shrinks; fixpoint exits early.
    """
    if k < 3:
        raise ValueError(f"k-truss needs k >= 3, got {k}")
    # lazy pin + count: one job, not two (the bfs_distances r12 pattern)
    e = edges_upper.select("src", "dst").localCheckpoint(eager=False)
    m = e.count()
    w = _width(m)
    thr = k - 2
    # the survivor edge set only SHRINKS, so the initial edge count is a
    # one-sided bound for every round's join sides (the CC policy):
    # under the cap the triangle self-joins and the survivor⋈support
    # join are hinted-broadcast (the stats-less pinned frames otherwise
    # plan SortMergeJoins that re-exchange both sides every round), and
    # the loop joins the scoped-AQE-off class.  Past the cap the shuffle
    # plan is unchanged.
    bcast = m <= _BCAST_MAX_ROWS
    bx = (lambda d: F.broadcast(d)) if bcast else (lambda d: d)

    def support(edges_cur: DataFrame) -> DataFrame:
        ab, bc, ac = (edges_cur.alias(x) for x in ("ab", "bc", "ac"))
        tri = (
            ab.join(bx(bc), F.col("ab.dst") == F.col("bc.src"))
            .join(
                bx(ac),
                (F.col("ac.src") == F.col("ab.src"))
                & (F.col("ac.dst") == F.col("bc.dst")),
            )
            .select(
                F.col("ab.src").alias("a"),
                F.col("ab.dst").alias("b"),
                F.col("bc.dst").alias("c"),
            )
        )
        roles = (
            tri.select(F.col("a").alias("src"), F.col("b").alias("dst"))
            .unionByName(tri.select(F.col("b").alias("src"), F.col("c").alias("dst")))
            .unionByName(tri.select(F.col("a").alias("src"), F.col("c").alias("dst")))
        )
        return roles.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("support"))

    with _aqe_off(e.sparkSession, bcast):
      for _ in range(rounds):
        nxt = _nw(
            e.join(bx(support(e)), ["src", "dst"]).where(F.col("support") >= thr), w
        ).select("src", "dst").localCheckpoint(eager=False)
        m_nxt = nxt.count()  # the action that materializes the pin
        if m_nxt == m:  # fixpoint — further rounds are no-ops
            e = nxt
            break
        e, m = nxt, m_nxt
        if m == 0:
            break
    return e.join(bx(support(e)), ["src", "dst"], "left").select(
        "src", "dst", F.coalesce("support", F.lit(0)).alias("support")
    )


def multi_bfs_distances(
    edges: DataFrame, sources: DataFrame, max_hops: int = 3
) -> DataFrame:
    """Per-SOURCE minimum hop distances from a pivot set →
    (pivot, id, dist) — :func:`bfs_distances` vectorized over pivots
    (the q162 betweenness trick): ONE synchronized frontier loop whose
    state is keyed by (pivot, id), so p pivots cost the same number of
    supersteps as one, with |S|·|frontier| work per level instead of p
    sequential loops.  ``sources`` must have columns (pivot, id).

    The settled set and frontier follow bfs_distances' conventions
    exactly: per-level checkpoint, plan-local width, broadcast while
    small with shuffle fallback past the cap."""
    e = _sym(edges)
    # lazy pin + count and the settled-pin list: one job per level
    # instead of three (see bfs_distances)
    dist0 = sources.select(
        "pivot", "id", F.lit(0).cast("int").alias("dist")
    ).localCheckpoint(eager=False)
    n_frontier = dist0.count()
    settled = [dist0]
    dist = dist0
    frontier = dist0.select("pivot", "id")
    w = _width(_ecount(edges))
    # state is ≤ |pivots|·|V| rows BY CONSTRUCTION — one up-front bound
    # (the betweenness policy) decides the anti-join's broadcast for the
    # whole loop; the expansion join stays frontier-keyed (its key is
    # bare `id`, a different broadcast mode, so nothing would be reused)
    n_nodes = _vertices(edges)[1]
    bcast_state = n_frontier * n_nodes <= _BCAST_MAX_ROWS
    # under the state bound both joins are hinted-broadcast and the one
    # distinct exchange is _nw-sized — the AQE-off loop class
    with _aqe_off(e.sparkSession, bcast_state):
      for h in range(1, max_hops + 1):
        fr = F.broadcast(frontier) if n_frontier <= _BCAST_MAX_ROWS else frontier
        st = F.broadcast(dist) if bcast_state else dist
        nxt = (
            _nw(
                e.join(fr, e.src == fr["id"])
                .select("pivot", F.col("dst").alias("id"))
                .distinct()
                .join(st, ["pivot", "id"], "left_anti"),
                w,
            )
            .withColumn("dist", F.lit(h).cast("int"))
            .localCheckpoint(eager=False)
        )
        n_frontier = nxt.count()
        if n_frontier == 0:
            break
        settled.append(nxt)
        dist = settled[0]
        for s in settled[1:]:
            dist = dist.unionByName(s)
        frontier = nxt.select("pivot", "id")
    return dist


def sssp_hop_limited(
    wedges: DataFrame, source: int, iterations: int = 6
) -> DataFrame:
    """Cheapest-path-within-``iterations``-hops from ``source`` →
    (id, dist): Bellman-Ford relaxation over a weighted symmetric edge
    list (src, dst, weight), integer weights so min-distances are exact
    and engine-portable (no float accumulation order anywhere).  An
    empty edge list gives no rows; a source without edges gets only
    itself at 0.

    The edges are pinned and counted once per edge frame — not at all
    when the frame's builder pinned it and recorded ``_cyber_rows``.  At
    or under ``_BCAST_MAX_ROWS`` rows every hop runs on the driver over
    the memoized copy of the pinned edges (:func:`_on_driver`): one
    ``np.minimum.at`` per hop relaxes all edges out of the previous
    distance vector.  Past the cap the supersteps unroll into ONE lazy
    plan that reads each distance vector once: a zero-weight self-loop
    per vertex brings its own distance back through the relaxation
    join, the source's 0 is re-offered as a one-row constant, the edge
    exchange is reused by every superstep and the vector leaves each
    aggregation hash-partitioned by ``id``.
    """
    spark = wedges.sparkSession

    def build():
        rows = getattr(wedges, "_cyber_rows", None)
        if rows is not None:  # pinned and counted by its builder
            return wedges, rows
        e = wedges.select("src", "dst", "weight").localCheckpoint(eager=False)
        rows = e.count()  # the action that materializes the pin
        return _compact(e, rows), rows

    base, rows = _derived(wedges, ("sssp_edges",), build)
    if rows == 0:
        return local_frame(spark, [], "id bigint, dist bigint")
    if rows <= _BCAST_MAX_ROWS:
        cols = _on_driver(base, rows)
        s, d, w = (np.asarray(cols[c], "int64") for c in ("src", "dst", "weight"))
        ids, inv = np.unique(np.concatenate([s, d, [source]]), return_inverse=True)
        s, d = inv[: len(s)], inv[len(s) : -1]
        unreached = np.iinfo("int64").max
        dist = np.full(len(ids), unreached)
        dist[inv[-1]] = 0  # the source
        for _ in range(iterations):
            out = dist[s] != unreached
            nxt = dist.copy()
            np.minimum.at(nxt, d[out], dist[s[out]] + w[out])
            dist = nxt
        keep = dist != unreached
        return local_frame(
            spark, {"id": ids[keep], "dist": dist[keep]}, "id bigint, dist bigint"
        )

    e = base.select("src", "dst", F.col("weight").cast("long").alias("w"))

    def build_loops():
        v = e.select("src").union(e.select("dst")).distinct()
        loops = v.select("src", F.col("src").alias("dst"), F.lit(0).cast("long").alias("w"))
        return e.unionByName(loops).localCheckpoint(eager=True)

    ex = _derived(wedges, ("sssp_loops",), build_loops)
    seed = local_frame(spark, [[int(source), 0]], "id bigint, dist bigint")
    dist = seed
    for _ in range(iterations):
        dist = (
            dist.join(ex, F.col("id") == F.col("src"))
            .select(F.col("dst").alias("id"), (F.col("dist") + F.col("w")).alias("dist"))
            .unionByName(seed)
            .groupBy("id")
            .agg(F.min("dist").alias("dist"))
        )
    return dist


def hits(edges: DataFrame, iterations: int = 5) -> tuple[DataFrame, DataFrame]:
    """HITS (Kleinberg) hubs & authorities on a DIRECTED edge list →
    ((src id, hub), (dst id, auth)).

    The directed counterpart of the rank family (which runs on the
    symmetrized co-supply graph): per iteration every authority score is
    the sum of its in-neighbors' hub scores and every hub score the sum
    of its out-neighbors' authority scores, each side L2-normalized.

    The loop itself runs UNNORMALIZED (r13): the HITS recurrence is
    linear, so every per-iteration L2 normalizer is a pure scalar that
    cancels exactly — hubs_t = (AᵀA)ᵗ·1 / ‖(AᵀA)ᵗ·1‖ whether you divide
    per half-step or once at the end.  Dividing once removes TWO 1-row
    normalizer broadcasts and one |V|-row vector broadcast per iteration
    (r12 profile: 9 broadcast-exchange jobs + 1 pin per iteration, 53
    jobs total for q141; now 3 per iteration).  Overflow headroom: raw
    magnitudes grow by ≈σ₁² ≈ (max degree)² per iteration; even at
    degree 1e6 that is 1e12/iter — doubles (1e308) allow ~25 iterations
    at 100 TB-graph degrees, far above the fixed 5-6 used here.
    Float drift vs the per-step-divided form is the last-ulps class the
    rounded comparison already absorbs (same argument as shuffle-order
    drift in pagerank); the swap was verified output-identical at
    sf0.001/0.01/0.1 against the unchanged per-step-normalized oracle.

    Determinism: double sums drift by shuffle order in the last ulps
    only (same argument as pagerank); callers compare rounded.  Scale:
    each half-step is one join + hash-agg shuffled on a vertex key,
    O(|E|) rows.
    """
    if iterations < 1:
        raise ValueError(f"need iterations >= 1, got {iterations}")
    e = _derived(
        edges,
        ("hits-edges",),
        lambda: edges.select("src", "dst").distinct().localCheckpoint(eager=True),
    )
    m = _derived(edges, ("hits-ecount",), lambda: e.count())
    n_src = _derived(
        edges, ("hits-nsrc",), lambda: e.select("src").distinct().count()
    )
    n_dst = _derived(
        edges, ("hits-ndst",), lambda: e.select("dst").distinct().count()
    )
    w = _width(m)
    # vectors under the cap join broadcast (map-side over the pinned edge
    # list); above it the shuffle join takes over — same policy as the
    # pagerank loop
    bc_h = (lambda d: F.broadcast(d)) if n_src <= _BCAST_MAX_ROWS else (lambda d: d)
    bc_a = (lambda d: F.broadcast(d)) if n_dst <= _BCAST_MAX_ROWS else (lambda d: d)
    hubs = e.select("src").distinct().withColumn("h", F.lit(1.0))
    hubs = _compact(hubs, n_src).localCheckpoint(eager=True)
    a_raw = None
    # hinted-broadcast joins + aggs only: the AQE-off loop class
    # (see _aqe_off)
    with _aqe_off(e.sparkSession, n_src <= _BCAST_MAX_ROWS):
      for _ in range(iterations):
        # one un-normalized double half-step per pin: a_raw is referenced
        # once (the h_raw join) inside the one action that pins `hubs`,
        # so nothing recomputes; only `hubs` crosses iterations.
        a_raw = _nw(
            e.join(bc_h(hubs), "src").groupBy("dst").agg(F.sum("h").alias("a")), w
        )
        hubs = _nw(
            e.join(bc_a(a_raw), "dst").groupBy("src").agg(F.sum("a").alias("h")), w
        )
        hubs = _compact(hubs, n_src).localCheckpoint(eager=True)
    # single final normalization of each returned side (exact-cancel
    # argument above).  auths derives from the PINNED penultimate hub
    # vector, so consuming it never re-runs the loop.
    h_norm = hubs.agg(F.sqrt(F.sum(F.col("h") * F.col("h"))).alias("nrm"))
    hubs_out = hubs.crossJoin(F.broadcast(h_norm)).select(
        "src", (F.col("h") / F.col("nrm")).alias("h")
    )
    a_norm = a_raw.agg(F.sqrt(F.sum(F.col("a") * F.col("a"))).alias("nrm"))
    auths_out = a_raw.crossJoin(F.broadcast(a_norm)).select(
        "dst", (F.col("a") / F.col("nrm")).alias("a")
    )
    return hubs_out, auths_out


def betweenness_sampled(
    edges: DataFrame, sources: list, max_depth: int = 4
) -> DataFrame:
    """Sampled Brandes betweenness → (id, bc): forward BFS from each
    pivot source accumulating shortest-path counts (sigma), then the
    backward dependency sweep delta(v) = Σ_w sigma_v/sigma_w·(1+delta_w)
    over shortest-path successors, summed across sources — the standard
    pivot-sampled estimator (Brandes 2001; sampling per Brandes/Pich
    2007), hop-capped so the iteration count is fixed and the oracle
    can unroll it.

    Both sweeps are vectorized over ALL sources at once: state is keyed
    (source, vertex), each superstep is one keyed join + aggregate over
    the pinned symmetric edge list, checkpointed per level (loop-state
    discipline).  sigma stays integral (exact); delta rounds to 6 dp per
    level — the iterative-oracle float convention.  Scale: |S|·|V| state
    rows, |S|·|E| join work per level, sources are a handful of pivots.
    """
    e = _sym(edges)
    if not sources:
        raise ValueError("betweenness_sampled needs at least one source")
    spark = e.sparkSession
    # Per-level state (visited/frontier/delta) is bounded by |S|·|V| BY
    # CONSTRUCTION, so ONE up-front bound decides broadcastability for the
    # whole loop (no per-level counts): under the cap every per-level join
    # broadcasts the state side and the pinned edge list never moves —
    # without the hint each level ran 2 SortMergeJoins whose exchanges
    # re-shuffled both sides (state frames carry no stats and checkpoint
    # jobs bypass AQE's broadcast conversion).  Past the cap the shuffle
    # plan is unchanged.  sigma is integral (join strategy can't perturb
    # it); delta keeps the per-level round(…, 6) convention.
    n_nodes = _vertices(edges)[1]
    small = len(sources) * n_nodes <= _BCAST_MAX_ROWS
    bx = (lambda d: F.broadcast(d)) if small else (lambda d: d)
    src_df = local_frame(spark, [[int(s)] for s in sources], "s long")
    lvl0 = src_df.select(
        "s", F.col("s").alias("v"), F.lit(0).alias("dist"), F.lit(1.0).alias("sigma")
    ).localCheckpoint(eager=True)
    # per-level pins unioned lazily (the bfs_distances r12 pattern): each
    # level pins only ITS rows instead of re-caching the whole growing
    # visited set every level; the union depth is bounded by max_depth
    levels = [lvl0]
    visited = lvl0
    for lvl in range(1, max_depth + 1):
        frontier = levels[-1]
        nxt = (
            e.join(bx(frontier), frontier.v == e.src)
            .groupBy("s", F.col("dst").alias("nv"))
            .agg(F.sum("sigma").alias("sigma"))
            .join(
                bx(visited.select("s", F.col("v").alias("nv"))),
                ["s", "nv"],
                "left_anti",
            )
            .select("s", F.col("nv").alias("v"), F.lit(lvl).alias("dist"), "sigma")
            .localCheckpoint(eager=True)
        )
        levels.append(nxt)
        visited = levels[0]
        for x in levels[1:]:
            visited = visited.unionByName(x)
    # backward dependency sweep
    delta = visited.where(F.col("dist") == max_depth).select(
        "s", "v", F.lit(0.0).alias("delta")
    )
    deltas = [delta]
    for lvl in range(max_depth, 0, -1):
        w_nodes = (
            visited.where(F.col("dist") == lvl)
            .join(bx(delta), ["s", "v"], "left")
            .select(
                "s",
                F.col("v").alias("w"),
                F.col("sigma").alias("sigma_w"),
                F.coalesce("delta", F.lit(0.0)).alias("delta_w"),
            )
        )
        v_nodes = visited.where(F.col("dist") == lvl - 1).select(
            "s", "v", F.col("sigma").alias("sigma_v")
        )
        delta = (
            e.join(bx(v_nodes), v_nodes.v == e.src)
            .join(bx(w_nodes.withColumnRenamed("w", "dst")), ["s", "dst"])
            .groupBy("s", "v")
            .agg(
                F.round(
                    F.sum(
                        F.col("sigma_v") / F.col("sigma_w") * (1.0 + F.col("delta_w"))
                    ),
                    6,
                ).alias("delta")
            )
            .localCheckpoint(eager=True)
        )
        deltas.append(delta)
    all_delta = deltas[0]
    for d in deltas[1:]:
        all_delta = all_delta.unionByName(d)
    out = (
        visited.where(F.col("dist") > 0)
        .join(bx(all_delta), ["s", "v"], "left")
        .groupBy(F.col("v").alias("id"))
        .agg(F.round(F.sum(F.coalesce("delta", F.lit(0.0))), 6).alias("bc"))
    )
    return out


def eigenvector_centrality(edges: DataFrame, iterations: int = 6) -> DataFrame:
    """Eigenvector centrality (power iteration, GDS
    ``gds.eigenvector``) on a SYMMETRIC edge list → (id, score):
    x_{t+1} = normalize_L2(A · x_t), x_0 = 1.

    The undirected member of the spectral family next to HITS (q141 —
    which is exactly this recurrence run on a directed graph with two
    alternating vectors).  Loop discipline identical to :func:`hits`:
    pinned distinct edge list, broadcast-under-cap state vector, `_nw`
    plan-local widths — and the r13 UNNORMALIZED loop: power iteration
    is linear, so the per-step L2 normalizer is a scalar that cancels
    exactly (x_t = Aᵗ·1 / ‖Aᵗ·1‖ either way); one final normalization
    replaces one 1-row normalizer broadcast + crossJoin per step (see
    hits() for the overflow headroom and last-ulps drift argument —
    verified output-identical at sf0.001/0.01/0.1 against the unchanged
    per-step-normalized oracle).
    """
    if iterations < 1:
        raise ValueError(f"need iterations >= 1, got {iterations}")
    e = _derived(
        edges,
        ("eig-edges",),
        lambda: edges.select("src", "dst").distinct().localCheckpoint(eager=True),
    )
    m = _derived(edges, ("eig-ecount",), lambda: e.count())
    n = _derived(edges, ("eig-n",), lambda: e.select("src").distinct().count())
    w = _width(m)
    bc = (lambda d: F.broadcast(d)) if n <= _BCAST_MAX_ROWS else (lambda d: d)
    x = e.select("src").distinct().withColumn("score", F.lit(1.0))
    x = _compact(x, n).localCheckpoint(eager=True)
    # hinted-broadcast join + agg only: the AQE-off loop class
    with _aqe_off(e.sparkSession, n <= _BCAST_MAX_ROWS):
      for i in range(iterations):
        x = _nw(
            e.join(bc(x.select(F.col("src"), F.col("score"))), "src")
            .groupBy("dst")
            .agg(F.sum("score").alias("score")),
            w,
        ).withColumnRenamed("dst", "src")
        x = _compact(x, n).localCheckpoint(eager=True)
    nrm = x.agg(F.sqrt(F.sum(F.col("score") * F.col("score"))).alias("nrm"))
    return x.crossJoin(F.broadcast(nrm)).select(
        F.col("src").alias("id"), (F.col("score") / F.col("nrm")).alias("score")
    )


def luby_mis(edges: DataFrame, max_rounds: int = 64) -> DataFrame:
    """Deterministic Luby maximal independent set → (id, round).

    The third distributed-graph primitive family next to label
    propagation and Borůvka contraction: per round, every UNDECIDED
    node whose (priority, id) is a strict local maximum over its
    undecided neighbors joins the MIS (priorities are md5-derived, so
    the "random" permutation is deterministic and engine-portable);
    winners' undecided neighbors are excluded, and the surviving
    subgraph shrinks by a constant fraction in expectation — O(log n)
    rounds (Luby 1986).  The result is BOTH independent (no edge inside
    the set — winners are local maxima, two adjacent winners are
    impossible) and maximal (a node is only decided by joining or by an
    adjacent winner), pinned by tests; `round` records the superstep a
    node entered.

    Scale contract: each round is two semi-joins + one anti-join over
    the SHRINKING undecided edge set; node state, edge state AND the
    round's winners ride ONE union frame whose per-round pin
    (:func:`_pin`) is LAZY and materialized by the early-exit count —
    one job per round.  The pin drops the size estimate the self-
    referencing state would otherwise compound, and its coalesce keeps
    the union's partitions from multiplying round over round."""
    pr = (
        "CAST(conv(substr(md5('mis:' || CAST({n} AS STRING)), 1, 13),"
        " 16, 10) AS BIGINT)"
    )

    # Node, edge and winner state ride ONE union frame (_k = 0 edges,
    # 1 undecided nodes, 2 this round's winners with b = entry round) so
    # the whole round materializes in a single job: the merged lazy pin
    # is forced by the early-exit count (count-materializes-pin, r12) and
    # the winners/excluded/rm subtrees are branches of that one job —
    # the former per-round winners pin and the separate limit(1).count()
    # job are gone (r12 optimization 2: 66 → ~30 jobs; the loop is
    # job-floor bound).  Winner rows are published from each round's
    # PINNED state, so nothing recomputes at output time.
    def _split(st: DataFrame) -> tuple[DataFrame, DataFrame]:
        nodes = st.where(F.col("_k") == 1).select(F.col("a").alias("n"))
        es = st.where(F.col("_k") == 0).select(
            F.col("a").alias("src"), F.col("b").alias("dst"), "pa", "pb"
        )
        return nodes, es

    def _merge(
        nodes: DataFrame, es: DataFrame, winners: DataFrame | None = None
    ) -> DataFrame:
        out = es.select(
            F.lit(0).alias("_k"),
            F.col("src").cast("long").alias("a"),
            F.col("dst").cast("long").alias("b"),
            F.col("pa"),
            F.col("pb"),
        ).unionAll(
            nodes.select(
                F.lit(1).alias("_k"),
                F.col("n").cast("long").alias("a"),
                F.lit(None).cast("long").alias("b"),
                F.lit(None).cast("bigint").alias("pa"),
                F.lit(None).cast("bigint").alias("pb"),
            )
        )
        if winners is not None:
            out = out.unionAll(
                winners.select(
                    F.lit(2).alias("_k"),
                    F.col("n").cast("long").alias("a"),
                    F.col("round").cast("long").alias("b"),
                    F.lit(None).cast("bigint").alias("pa"),
                    F.lit(None).cast("bigint").alias("pb"),
                )
            )
        return out

    state = _merge(
        edges.select(F.col("src").alias("n"))
        .unionAll(edges.select(F.col("dst").alias("n")))
        .distinct(),
        edges.select(
            "src",
            "dst",
            F.expr(pr.format(n="src")).alias("pa"),
            F.expr(pr.format(n="dst")).alias("pb"),
        ),
    ).localCheckpoint(eager=False)
    und_nodes, und_edges = _split(state)
    # one up-front bound decides broadcastability for the whole loop (the
    # CC policy): every per-round side table (blocked ≤ |E|, winners
    # ≤ |V|, excluded ≤ 2|E|, rm ≤ |V|+2|E|) only shrinks with the
    # undecided subgraph.  With the pre-join distincts dropped under the
    # cap, `rm` can carry up to |V|+2|E| UNDEDUPED rows ≈ 2·n0, so the
    # effective cap is HALVED (ADVICE r12) to keep every broadcast build
    # under the same row budget as the other loops.  Under the cap the
    # pre-join distincts are dropped: their only job is bounding SHUFFLED
    # bytes, and a broadcast semi/anti hash build dedups keys itself —
    # row sets are unchanged, the per-round shuffle exchanges (and their
    # AQE stage jobs) disappear.  Past the cap the distinct+shuffle plan
    # is exactly the old one.
    n0 = state.count()
    w = _width(n0)
    bcast = n0 <= _BCAST_MAX_ROWS // 2
    bc = (lambda d: F.broadcast(d)) if bcast else (lambda d: d)
    n_und = n0  # nodes exist iff state is non-empty (every edge has ends)
    mis_frames: list[DataFrame] = []
    for k in range(1, max_rounds + 1):
        if n_und == 0:
            break
        blocked = und_edges.select(
            F.when(
                F.struct(F.col("pa"), F.col("src"))
                < F.struct(F.col("pb"), F.col("dst")),
                F.col("src"),
            )
            .otherwise(F.col("dst"))
            .alias("n")
        )
        if not bcast:
            blocked = blocked.distinct()
        # winners is NOT pinned: all its consumers (the _k=2 state rows,
        # both excluded semi-joins, the rm anti-joins) are branches of
        # the ONE merged-state job below; the deterministic md5-priority
        # anti-join over pinned inputs re-evaluates in-job with its
        # `blocked` exchange reused (ReuseExchange), instead of paying a
        # dedicated checkpoint job per round (r12 A/B)
        winners = und_nodes.join(bc(blocked), "n", "left_anti").select("n")
        bw = bc(winners)
        excluded = (
            und_edges.join(bw, und_edges.src == bw.n, "leftsemi")
            .select(F.col("dst").alias("n"))
            .unionAll(
                und_edges.join(bw, und_edges.dst == bw.n, "leftsemi").select(
                    F.col("src").alias("n")
                )
            )
        )
        if not bcast:
            excluded = excluded.distinct()
        rm = winners.select("n").unionAll(excluded)
        if not bcast:
            rm = rm.distinct()
        brm = bc(rm)
        nxt_nodes = und_nodes.join(brm, "n", "left_anti")
        nxt_edges = und_edges.join(
            brm, und_edges.src == brm.n, "left_anti"
        ).join(brm, und_edges.dst == brm.n, "left_anti")
        merged = _merge(
            nxt_nodes, nxt_edges, winners.select("n", F.lit(k).alias("round"))
        )
        state = _pin(merged, w, eager=False)
        und_nodes, und_edges = _split(state)
        n_und = und_nodes.count()  # one job: materializes the round's pin
        mis_frames.append(
            state.where(F.col("_k") == 2).select(
                F.col("a").alias("n"), F.col("b").cast("int").alias("round")
            )
        )
    # ADVICE r12: decide completion by the FINAL undecided count, not
    # for/else — a graph whose last allowed round decides every node is
    # complete, not an error.
    if n_und != 0:
        raise RuntimeError(
            f"luby_mis: undecided nodes remain after {max_rounds} rounds"
        )
    if not mis_frames:
        # empty edge input: no nodes, empty MIS (ADVICE r12 — was an
        # IndexError); reuse the state frame's lineage for the schema
        return (
            state.select(
                F.col("a").alias("id"), F.col("b").cast("int").alias("round")
            ).limit(0)
        )
    out = mis_frames[0]
    for f in mis_frames[1:]:
        out = out.unionAll(f)
    # one read of w partitions, not w per round: the winners are few
    return out.coalesce(w).withColumnRenamed("n", "id")
