"""Louvain-level behavior: determinism and modularity improvement."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _toy_edges(spark):
    # two 4-cliques joined by one bridge edge — unambiguous communities
    c1 = [(a, b) for a in range(4) for b in range(4) if a < b]
    c2 = [(a + 10, b + 10) for a in range(4) for b in range(4) if a < b]
    rows = c1 + c2 + [(3, 10)]
    return spark.createDataFrame(rows, "src long, dst long")


@pytest.fixture(params=["under_cap", "past_cap"])
def cap_side(request, monkeypatch):
    """Both sides of ``_BCAST_MAX_ROWS``: k-core and SSSP run on the
    driver at or under it and as distributed loops past it (cap 0)."""
    from cyber_etl_spark.graph import algorithms

    if request.param == "past_cap":
        monkeypatch.setattr(algorithms, "_BCAST_MAX_ROWS", 0)
    return request.param


def test_louvain_finds_planted_communities(spark):
    from cyber_etl_spark.graph.algorithms import louvain_level, modularity

    edges = _toy_edges(spark)
    labels = louvain_level(edges, rounds=3)
    got = {r.id: r.community for r in labels.collect()}
    assert len({got[i] for i in range(4)}) == 1, "clique 1 must be one community"
    assert len({got[i + 10] for i in range(4)}) == 1, "clique 2 must be one community"
    assert got[0] != got[10], "bridged cliques must stay separate"
    q = modularity(edges, labels)
    singleton = edges.select(F.col("src").alias("id")).union(
        edges.select("dst")
    ).distinct().withColumn("community", F.col("id"))
    assert q > modularity(edges, singleton)


def test_louvain_deterministic(spark):
    from cyber_etl_spark.graph.algorithms import louvain_level

    edges = _toy_edges(spark)
    a = sorted(map(tuple, louvain_level(edges, rounds=3).collect()))
    b = sorted(map(tuple, louvain_level(edges, rounds=3).collect()))
    assert a == b


def test_session_caches_key_on_application_id(spark, sf_smoke):
    """Stale-alias guard: the artifact store must key on the Spark
    applicationId (unique per SparkContext lifetime), never id(spark) —
    a GC'd session's address can be reused while its localCheckpoint
    blocks are gone (VERDICT r02 'What's wrong' #4)."""
    from cyber_etl_spark import session
    from cyber_etl_spark.graph import builder
    from cyber_etl_spark.plans import textops

    token = session.session_token(spark)
    assert token == spark.sparkContext.applicationId
    builder.co_supply_edges(spark, sf_smoke)
    textops.cached_shingles(spark, sf_smoke)
    for key in session._ARTIFACTS:
        assert isinstance(key[0], str), key  # applicationId, never id(spark)
    # the artifacts just built carry this session's token
    for name in ("edges", "weighted", "shingles"):
        assert (token, sf_smoke, name) in session._ARTIFACTS


def test_aqe_off_overlapping_threads_restore_setting(spark):
    """Two overlapping _aqe_off blocks on different threads: when the
    first leaves before the second, the session must still end with AQE
    back on (a per-block save/restore would leave it off)."""
    import threading

    from cyber_etl_spark.graph.algorithms import _aqe_off

    key = "spark.sql.adaptive.enabled"
    assert spark.conf.get(key) == "true"
    a_in, b_in, a_out = threading.Event(), threading.Event(), threading.Event()
    inside = []

    def first():
        with _aqe_off(spark):
            a_in.set()
            b_in.wait(30)
        a_out.set()

    def second():
        a_in.wait(30)
        with _aqe_off(spark):
            b_in.set()
            a_out.wait(30)
            inside.append(spark.conf.get(key))

    threads = [threading.Thread(target=first), threading.Thread(target=second)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(60)
    assert not any(t.is_alive() for t in threads)
    assert a_in.is_set() and b_in.is_set() and a_out.is_set()
    assert inside == ["false"]  # the first exit left the second block's AQE off
    assert spark.conf.get(key) == "true"


def test_chained_pins_drop_inherited_size_estimate(spark):
    """24 chained supersteps of a self-joining state pinned through
    ``_pin``: every pinned frame's size estimate stays a plain Long (a
    checkpoint chain multiplies two inherited estimates per superstep,
    so the estimate's digit count doubles), and the rows equal the
    recurrence replayed on the driver.  The state is a permutation
    squared by a self-join each superstep (p <- p∘p), which never
    converges, so every superstep moves every row."""
    import random

    from cyber_etl_spark.graph.algorithms import _pin

    n, steps = 200, 24
    perm = list(range(n))
    random.Random(7).shuffle(perm)
    state = spark.createDataFrame(list(enumerate(perm)), "id long, p long")
    expected = perm
    for _ in range(steps):
        x, y = state.alias("x"), state.alias("y")
        state = _pin(
            x.join(y, F.col("x.p") == F.col("y.id")).select(
                F.col("x.id").alias("id"), F.col("y.p").alias("p")
            ),
            8,
            eager=False,
        )
        assert state.count() == n
        stats = state._jdf.queryExecution().optimizedPlan().stats()
        assert int(stats.sizeInBytes()) < 2**63
        expected = [expected[expected[i]] for i in range(n)]
    assert sorted(map(tuple, state.collect())) == list(enumerate(expected))
    assert expected != perm  # the squarings moved the rows


def test_rank_loop_without_forced_broadcast(spark, monkeypatch):
    """Above _BCAST_MAX_ROWS the loops must not force-broadcast the state
    vector: pin the cutoff to 0 and check the shuffle-join path produces
    the identical result (AQE may still choose broadcast dynamically —
    what matters is we never FORCE hundreds of MB per superstep)."""
    from cyber_etl_spark.graph import algorithms

    edges = _toy_edges(spark)
    with_bcast = sorted(
        (r.id, round(r.rank, 9))
        for r in algorithms.pagerank(edges, iterations=3).collect()
    )
    lpa_bcast = sorted(map(tuple, algorithms.label_propagation(edges, 2).collect()))
    # fresh edge frame: _derived memoizes per-DataFrame, and the cutoff
    # is read at call time
    edges2 = _toy_edges(spark)
    monkeypatch.setattr(algorithms, "_BCAST_MAX_ROWS", 0)
    without = sorted(
        (r.id, round(r.rank, 9))
        for r in algorithms.pagerank(edges2, iterations=3).collect()
    )
    lpa_plain = sorted(map(tuple, algorithms.label_propagation(edges2, 2).collect()))
    assert with_bcast == without
    assert lpa_bcast == lpa_plain
    assert algorithms._BCAST_MAX_ROWS == 0  # monkeypatch active for the run


def test_bfs_frontier_broadcast_capped(spark, monkeypatch):
    """bfs_distances must apply the _BCAST_MAX_ROWS guard per hop: on a
    dense graph a hop-2 frontier can be a large fraction of |V|, and an
    unconditional F.broadcast re-ships a multi-GB table every hop
    (VERDICT r03 'What's wrong' #2).  Force the fallback (cap 0) and the
    shuffle-join path must produce identical distances."""
    from cyber_etl_spark.graph import algorithms

    edges = _toy_edges(spark)
    sources = edges.select(F.col("src").alias("id")).where(F.col("id") == 0).distinct()
    with_bcast = sorted(
        map(tuple, algorithms.bfs_distances(edges, sources, max_hops=4).collect())
    )
    monkeypatch.setattr(algorithms, "_BCAST_MAX_ROWS", 0)
    without = sorted(
        map(tuple, algorithms.bfs_distances(_toy_edges(spark), sources, max_hops=4).collect())
    )
    assert with_bcast == without
    assert with_bcast  # non-trivial: the toy graph reaches vertices


def test_louvain_improves_on_lpa_cosupply(spark, sf_smoke):
    from cyber_etl_spark.graph.algorithms import (
        label_propagation,
        louvain_level,
        modularity,
    )
    from cyber_etl_spark.graph.builder import co_supply_edges

    edges = co_supply_edges(spark, sf_smoke)
    q_lpa = modularity(edges, label_propagation(edges, iterations=4))
    q_louvain = modularity(edges, louvain_level(edges, rounds=3))
    assert q_louvain >= q_lpa - 1e-9


def test_louvain_hierarchy_refines_level(spark):
    """Hierarchical Louvain composes levels: every original vertex gets a
    top-level community, the partition is no finer than level 1's, and on
    the planted two-clique graph the hierarchy keeps the exact split."""
    from cyber_etl_spark.graph.algorithms import louvain, louvain_level, modularity

    edges = _toy_edges(spark)
    lab1 = {r.id: r.community for r in louvain_level(edges, rounds=3).collect()}
    lab2 = {r.id: r.community for r in louvain(edges, levels=2, rounds=3).collect()}
    assert set(lab2) == set(lab1)
    # level-2 only merges level-1 communities, never splits them
    for a in lab1:
        for b in lab1:
            if lab1[a] == lab1[b]:
                assert lab2[a] == lab2[b]
    assert len(set(lab2.values())) == 2  # the planted split survives
    assert modularity(edges, louvain(edges, levels=2, rounds=3)) >= modularity(
        edges, louvain_level(edges, rounds=3)
    ) - 1e-9


def test_kcore_peel_semantics(spark, cap_side):
    """On a path-plus-clique graph the 2-core is exactly the clique: the
    path tail peels off over successive rounds (degree-1 endpoints
    cascade), which a single-round degree filter would get wrong."""
    from cyber_etl_spark.graph.algorithms import kcore

    # 4-clique {0,1,2,3} with a pendant path 3-10-11-12
    cl = [(a, b) for a in range(4) for b in range(4) if a != b]
    path = [(3, 10), (10, 3), (10, 11), (11, 10), (11, 12), (12, 11)]
    edges = spark.createDataFrame(cl + path, "src long, dst long")
    out = {r.id: r.core_deg for r in kcore(edges, k=2, rounds=5).collect()}
    assert set(out) == {0, 1, 2, 3}
    assert all(d == 3 for d in out.values())
    # k above the clique degree leaves nothing
    assert kcore(edges, k=4, rounds=5).count() == 0


def test_sssp_prefers_cheap_multi_hop(spark, cap_side):
    """Integer Bellman-Ford must take a cheaper 2-hop route over an
    expensive direct edge, and respect the hop limit."""
    from cyber_etl_spark.graph.algorithms import sssp_hop_limited

    rows = [
        (0, 1, 10), (1, 0, 10),
        (0, 2, 1), (2, 0, 1),
        (2, 1, 2), (1, 2, 2),
        (1, 3, 1), (3, 1, 1),
    ]
    edges = spark.createDataFrame(rows, "src long, dst long, weight long")
    d = {r.id: r.dist for r in sssp_hop_limited(edges, 0, iterations=4).collect()}
    assert d == {0: 0, 2: 1, 1: 3, 3: 4}  # 0-2-1 (3) beats 0-1 (10)
    d1 = {r.id: r.dist for r in sssp_hop_limited(edges, 0, iterations=1).collect()}
    assert d1 == {0: 0, 1: 10, 2: 1}  # one relaxation: direct edges only


def test_sssp_source_without_edges(spark, cap_side):
    """A source outside a non-empty graph is reached at distance 0 and
    nothing else; an empty edge list is an empty graph and gives no
    rows, with the (id bigint, dist bigint) schema."""
    from cyber_etl_spark.graph.algorithms import sssp_hop_limited

    edges = spark.createDataFrame(
        [(0, 1, 5), (1, 0, 5)], "src long, dst long, weight long"
    )
    assert [tuple(r) for r in sssp_hop_limited(edges, 99, iterations=3).collect()] == [
        (99, 0)
    ]
    empty = spark.createDataFrame([], "src long, dst long, weight long")
    out = sssp_hop_limited(empty, 0, iterations=3)
    assert out.count() == 0
    assert out.schema.simpleString() == "struct<id:bigint,dist:bigint>"


def test_sssp_submits_no_job_per_superstep(spark):
    """Once the edge side is derived, a call builds one lazy plan: the
    call itself submits as many jobs for 6 supersteps as for 2 (none),
    and both plans give the unrolled relaxation's distances."""
    from cyber_etl_spark.graph.algorithms import sssp_hop_limited

    rows = [(0, 1, 10), (0, 2, 1), (2, 1, 2), (1, 3, 1), (3, 4, 7)]
    edges = spark.createDataFrame(
        rows + [(b, a, w) for a, b, w in rows], "src long, dst long, weight long"
    )
    sssp_hop_limited(edges, 0, iterations=1).collect()  # derives the edge side
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    jobs, dists = {}, {}
    for it in (2, 6):
        group = f"sssp-supersteps-{it}"
        sc.setJobGroup(group, group)
        try:
            out = sssp_hop_limited(edges, 0, iterations=it)
            jobs[it] = len(tracker.getJobIdsForGroup(group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        dists[it] = {r.id: r.dist for r in out.collect()}
    assert jobs[2] == jobs[6]
    assert dists[2] == {0: 0, 1: 3, 2: 1, 3: 11}
    assert dists[6] == {0: 0, 1: 3, 2: 1, 3: 4, 4: 11}


def _random_graph(spark, seed: int, n: int = 40, m: int = 80):
    """Seeded random graph with duplicate and self-loop edges: (src, dst)
    as drawn, and a symmetric weighted list for SSSP."""
    import random

    rnd = random.Random(seed)
    pairs = [(rnd.randrange(n), rnd.randrange(n)) for _ in range(m)]
    weighted = [(a, b, rnd.randint(1, 9)) for a, b in pairs]
    weighted += [(b, a, w) for a, b, w in weighted]
    return (
        spark.createDataFrame(pairs, "src long, dst long"),
        spark.createDataFrame(weighted, "src long, dst long, weight long"),
    )


def test_kcore_sssp_local_equals_distributed(spark, monkeypatch):
    """The driver-local loops and the distributed loops are two plans for
    one computation: on a seeded random graph they must agree row for
    row, for every k, round count, hop count and an outside source."""
    from cyber_etl_spark.graph import algorithms

    def run_all():
        edges, wedges = _random_graph(spark, seed=7)
        kc = {
            (k, r): sorted(map(tuple, algorithms.kcore(edges, k=k, rounds=r).collect()))
            for k in (2, 3, 4)
            for r in range(1, 6)
        }
        sp = {
            (src, it): sorted(
                map(tuple, algorithms.sssp_hop_limited(wedges, src, iterations=it).collect())
            )
            for src in (0, 999)
            for it in range(7)
        }
        empty = algorithms.kcore(spark.createDataFrame([], "src long, dst long"), k=2)
        return kc, sp, (empty.collect(), empty.schema.simpleString())

    local = run_all()
    monkeypatch.setattr(algorithms, "_BCAST_MAX_ROWS", 0)
    distributed = run_all()
    assert local == distributed
    kc, sp, empty = local
    # non-trivial peels: k and the round count both matter, and k=4 empties
    assert len({tuple(v) for v in kc.values()}) > 5 and kc[(4, 5)] == []
    assert sp[(999, 6)] == [(999, 0)]
    assert len(sp[(0, 6)]) > len(sp[(0, 1)]) > 1
    assert empty == ([], "struct<id:bigint,core_deg:bigint>")


def test_kcore_sssp_warm_call_runs_no_job(spark):
    """Under the cap, once the memoized driver copy of the edges exists,
    a warm call submits no job while it builds, its result's collect
    submits none either, and its executed plan holds no Python node —
    the whole loop ran on the driver."""
    from cyber_etl_spark.graph.algorithms import kcore, sssp_hop_limited

    edges, wedges = _random_graph(spark, seed=3)
    calls = {
        "kcore": lambda: kcore(edges, k=3, rounds=4),
        "sssp": lambda: sssp_hop_limited(wedges, 0, iterations=6),
    }
    for make in calls.values():
        make().collect()  # derives the pinned edge side, its count and copy
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    for name, make in calls.items():
        built, ran = f"warm-build-{name}", f"warm-run-{name}"
        try:
            sc.setJobGroup(built, built)
            out = make()
            sc.setJobGroup(ran, ran)
            rows = out.collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert rows, name
        assert tracker.getJobIdsForGroup(built) == [], name
        assert tracker.getJobIdsForGroup(ran) == [], name
        plan = out._jdf.queryExecution().executedPlan().toString()
        for node in ("MapInPandas", "ArrowEvalPython", "PythonUDF"):
            assert node not in plan, (name, plan)


def test_driver_copy_refuses_past_cap_before_collect(spark, monkeypatch):
    """An edge frame whose known row count exceeds the cap is refused
    from that count alone: no collect job is submitted."""
    from cyber_etl_spark.graph import algorithms

    path = [(0, 1), (1, 0), (1, 2), (2, 1)]
    edges = spark.createDataFrame(path, "src long, dst long")
    edges._cyber_symmetric = True  # its builder pinned and counted it
    edges._cyber_rows = len(path)
    monkeypatch.setattr(algorithms, "_BCAST_MAX_ROWS", len(path) - 1)
    sc = spark.sparkContext
    group = "driver-copy-past-cap"
    try:
        sc.setJobGroup(group, group)
        with pytest.raises(ValueError, match="exceed"):
            algorithms._on_driver(edges, algorithms._ecount(edges))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []


@pytest.mark.parametrize(
    "name", ["q128_kcore", "q129_sssp", "q27_dedup_clusters", "q412_luby_mis"]
)
def test_kcore_sssp_past_cap_match_oracle(spark, sf_correct, monkeypatch, name):
    """Past ``_BCAST_MAX_ROWS`` k-core semi-joins the active set without
    a broadcast hint, SSSP joins its distance vector to the exchanged
    edge side, and CC and Luby MIS join their pinned state without
    broadcast hints (Luby also keeps its pre-join distincts): every plan
    must still match the DuckDB oracle."""
    from cyber_etl_spark.graph import algorithms
    from cyber_etl_spark.testing import compare_query

    monkeypatch.setattr(algorithms, "_BCAST_MAX_ROWS", 0)
    res = compare_query(spark, sf_correct, name)
    assert res.ok, f"{name}: {res.detail}"


def test_ktruss_edge_peel_semantics(spark):
    """On a clique-plus-triangle-chain graph: the 4-clique is a 4-truss
    (every edge in 2 triangles); a pendant triangle is 3-truss only; a
    dangling edge (no triangle) peels immediately.  Edges are i<j
    upper-oriented."""
    from cyber_etl_spark.graph.algorithms import ktruss

    clique = [(a, b) for a in range(4) for b in range(4) if a < b]
    pendant_tri = [(3, 10), (3, 11), (10, 11)]
    dangle = [(11, 20)]
    edges = spark.createDataFrame(
        clique + pendant_tri + dangle, "src long, dst long"
    )
    t3 = {(r.src, r.dst): r.support for r in ktruss(edges, k=3, rounds=4).collect()}
    # 3-truss keeps the clique and the pendant triangle, drops the dangle
    assert set(t3) == set(clique + pendant_tri)
    assert all(s >= 1 for s in t3.values())
    t4 = {(r.src, r.dst) for r in ktruss(edges, k=4, rounds=4).collect()}
    # 4-truss: only the clique (each edge in 2 surviving triangles)
    assert t4 == set(clique)
    # monotone: higher k only removes edges
    assert t4 <= set(t3)
    # k < 3 is ill-defined
    import pytest

    with pytest.raises(ValueError, match="k >= 3"):
        ktruss(edges, k=2)


def test_betweenness_exact_on_path_graph(spark):
    """With ALL vertices as pivots the sampled estimator IS exact
    Brandes: on the path 0-1-2-3 the interior vertices each carry 4
    dependency units (ordered pairs (0,2),(0,3) and reverses through 1;
    symmetrically through 2), endpoints carry 0."""
    from cyber_etl_spark.graph.algorithms import betweenness_sampled

    path = [(0, 1), (1, 0), (1, 2), (2, 1), (2, 3), (3, 2)]
    edges = spark.createDataFrame(path, "src long, dst long")
    out = {r.id: r.bc for r in betweenness_sampled(edges, [0, 1, 2, 3], 4).collect()}
    assert out == {0: 0.0, 1: 4.0, 2: 4.0, 3: 0.0}


def test_betweenness_star_center_dominates(spark):
    """Star K1,4: the hub lies on every leaf-to-leaf shortest path
    (4·3 = 12 ordered pairs), leaves on none."""
    from cyber_etl_spark.graph.algorithms import betweenness_sampled

    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 5)] + [(i, 0) for i in range(1, 5)],
        "src long, dst long",
    )
    out = {r.id: r.bc for r in betweenness_sampled(edges, list(range(5)), 3).collect()}
    assert out[0] == 12.0
    assert all(out[i] == 0.0 for i in range(1, 5))


@pytest.fixture
def fresh_store(monkeypatch):
    """An empty artifact store: every shared artifact builds again."""
    from cyber_etl_spark import session

    monkeypatch.setattr(session, "_ARTIFACTS", session.SessionMemo())
    monkeypatch.setattr(session, "BUILD_LOG", {})
    monkeypatch.setattr(session, "BUILD_COUNT", {})
    return session


def test_backbone_cold_build_job_budget(spark, sf_correct, fresh_store):
    """Cold, the co-supply backbone plus the first q128 and q129 calls
    submit 3 jobs: the one bounded lineitem collect the driver counts
    come from, and the two queries' writes.  ``w`` and ``symw`` are
    built from those arrays with no job, the driver-local loops read
    ``symw``'s seeded copy with no collect, and neither ``weighted``
    nor ``edges`` is built."""
    from cyber_etl_spark.plans import QUERIES
    from cyber_etl_spark.sources import read_table

    read_table(spark, sf_correct, "lineitem")  # the schema job is not the backbone's
    sc = spark.sparkContext
    group = "cold-backbone"
    try:
        sc.setJobGroup(group, group)
        for name in ("q128_kcore", "q129_sssp"):
            QUERIES[name].builder(spark, sf_correct).write.format("noop").mode(
                "overwrite"
            ).save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= 3, len(jobs)
    assert fresh_store.BUILD_COUNT == {
        f"sf0.01:{a}": 1 for a in ("pairs", "w", "symw", "sym")
    }


def test_backbone_observed_stats_match_counts(spark, sf_correct, fresh_store):
    """The row counts and lowest vertex id observed in the backbone pins
    equal ``count()`` and ``agg(min)`` over the pinned frames."""
    from cyber_etl_spark.graph.algorithms import _ecount
    from cyber_etl_spark.graph.builder import co_supply_edges, co_supply_edges_weighted
    from cyber_etl_spark.plans.graphops import _sparse_sym_edges, _sparse_sym_weighted

    weighted = co_supply_edges_weighted(spark, sf_correct)
    assert weighted._cyber_rows == weighted.count() > 0
    assert co_supply_edges(spark, sf_correct)._cyber_rows == weighted._cyber_rows
    symw, lo = _sparse_sym_weighted(spark, sf_correct)
    assert symw._cyber_rows == symw.count() > 0
    assert lo == symw.agg(F.min("src")).collect()[0][0]
    sym = _sparse_sym_edges(spark, sf_correct)
    assert _ecount(sym) == sym.count() == symw._cyber_rows


def _hot_part_lineitem(tmp_path) -> str:
    """A dataset directory holding a seeded lineitem-like table
    (l_partkey, l_suppkey): 200 small parts with repeated (part,
    supplier) rows, and one hot part supplied by 40 of the 50
    suppliers, each of its rows twice."""
    import random

    import pandas as pd

    rnd = random.Random(11)
    rows = [(p, rnd.randrange(50)) for p in range(200) for _ in range(rnd.randint(1, 6))]
    rows += [(999, s) for s in rnd.sample(range(50), 40) for _ in range(2)]
    rnd.shuffle(rows)
    pd.DataFrame(rows, columns=["l_partkey", "l_suppkey"]).to_parquet(
        tmp_path / "lineitem.parquet"
    )
    return str(tmp_path)


@pytest.mark.parametrize("data", ["sf0.01", "hot_part"])
def test_driver_backbone_equals_distributed(spark, sf_correct, tmp_path, monkeypatch, data):
    """Under the cap the co-supply pair counts, the P95 backbone ``w``,
    its mirror ``symw`` and the lowest vertex id come from driver arrays;
    past it (cap 0) from the distributed build.  Both agree row for row
    — at sf0.01 and on a table whose hot part, with a chunk of 8, takes
    the pair expansion's chunk-scatter path.  ``symw``'s seeded driver
    copy holds its rows."""
    from cyber_etl_spark import session
    from cyber_etl_spark.graph import algorithms, builder
    from cyber_etl_spark.plans.graphops import _sparse_sym_weighted, _sparse_upper_edges_w

    sf = sf_correct if data == "sf0.01" else _hot_part_lineitem(tmp_path)
    monkeypatch.setattr(builder, "_PAIR_CHUNK", 8)

    def rows(df):
        return sorted(map(tuple, df.collect()))

    def build():
        monkeypatch.setattr(session, "_ARTIFACTS", session.SessionMemo())
        counts = builder.co_supply_counts(spark, sf)
        upper = builder.co_supply_edges_weighted(spark, sf)._cyber_upper
        symw, lo = _sparse_sym_weighted(spark, sf)
        return counts, symw, (rows(upper), rows(_sparse_upper_edges_w(spark, sf)), rows(symw), lo)

    counts, symw, local = build()
    copy = algorithms._on_driver(symw, symw._cyber_rows)
    assert sorted(zip(*(copy[c].tolist() for c in ("src", "dst", "weight")))) == local[2]
    monkeypatch.setattr(algorithms, "_BCAST_MAX_ROWS", 0)
    refused, _, distributed = build()
    assert refused is None
    assert local == distributed
    upper, w, symw_rows, lo = local
    assert list(zip(*(counts[c].tolist() for c in ("src", "dst", "weight")))) == upper
    assert 0 < len(w) < len(upper) and len(symw_rows) == 2 * len(w)
    assert lo == min(s for s, _, _ in w)
    if data == "hot_part":
        assert (50 * 49) // 2 >= len(upper) > (40 * 39) // 2  # the hot part's pairs and more


def test_driver_counts_refused_past_either_bound(spark, sf_smoke, monkeypatch, fresh_store):
    """Past either bound — more than cap lineitem rows, or more than cap
    possible supplier pairs — the driver count refuses and the backbone
    builds distributed; at the bound it is accepted.  No collect hands
    the driver more than cap + 1 rows."""
    from cyber_etl_spark.graph import algorithms, builder
    from cyber_etl_spark.plans.graphops import _sparse_sym_weighted
    from cyber_etl_spark.sources import read_table

    li = read_table(spark, sf_smoke, "lineitem")
    seen = []
    to_arrow = type(li).toArrow

    def spy(df):
        tab = to_arrow(df)
        seen.append((algorithms._BCAST_MAX_ROWS, tab.num_rows))
        return tab

    monkeypatch.setattr(type(li), "toArrow", spy)

    def counts_at(cap, df):
        monkeypatch.setattr(algorithms, "_BCAST_MAX_ROWS", cap)
        return builder._driver_pair_counts(df)

    # rows: 6000 lineitem rows over 10 suppliers (45 possible pairs)
    assert counts_at(100, li) is None
    assert counts_at(li.count(), li) is not None
    # pairs: 30 rows over 30 suppliers (435 possible pairs)
    star = spark.createDataFrame(
        [(i % 3, i) for i in range(30)], "l_partkey long, l_suppkey long"
    )
    assert counts_at(434, star) is None
    assert counts_at(435, star) is not None
    assert seen[0] == (100, 101)
    assert all(n <= cap + 1 for cap, n in seen)
    # the backbone past the row bound: the distributed build
    counts_at(100, li)
    _sparse_sym_weighted(spark, sf_smoke)
    assert {"sf0.001:pairs", "sf0.001:weighted"} <= set(fresh_store.BUILD_COUNT)
    assert seen[-1] == (100, 101)


def test_driver_counts_refused_by_footer_rows(spark, sf_smoke, monkeypatch, fresh_store):
    """When ``lineitem``'s parquet footers count more rows than the cap,
    ``co_supply_counts`` refuses with no Spark job and no collect."""
    from cyber_etl_spark.graph import algorithms, builder
    from cyber_etl_spark.sources.catalog import footer_rows

    rows = footer_rows(sf_smoke, "lineitem")
    assert rows == 6000
    monkeypatch.setattr(algorithms, "_BCAST_MAX_ROWS", rows - 1)
    calls = []
    monkeypatch.setattr(type(spark.range(1)), "toArrow", lambda df: calls.append(df))
    sc = spark.sparkContext
    group = "footer-refusal"
    try:
        sc.setJobGroup(group, group)
        assert builder.co_supply_counts(spark, sf_smoke) is None
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert calls == []


def test_observation_after_eager_pin_returns(spark):
    """An ``Observation`` read after an eager ``localCheckpoint`` holds
    the pin's metrics at once — on a shuffled frame (AQE stage jobs) and
    on an empty one; a read that blocks would fail the timeout, not hang
    the suite.  ``_sym`` counts an unmarked edge list in its pin."""
    import threading

    from cyber_etl_spark.graph.algorithms import _ecount, _pin_counted, _sym

    agg = spark.range(1000).select((F.col("id") % 17).alias("k")).groupBy("k").count()
    for df, want in ((agg, {"n": 17, "lo": 0}), (agg.where("k < 0"), {"n": 0, "lo": None})):
        out = {}
        t = threading.Thread(
            target=lambda: out.setdefault("st", _pin_counted(df, lo=F.min("k"))[1]),
            daemon=True,
        )
        t.start()
        t.join(timeout=120)
        assert not t.is_alive(), "Observation.get blocked after the eager pin"
        assert out["st"] == want
    edges = _toy_edges(spark)
    assert _ecount(edges) == _sym(edges).count() == 2 * 13


@pytest.mark.parametrize(
    "name",
    [
        "q89_triangles",
        "q90_node_similarity",
        "q100_community_revenue",
        "q128_kcore",
        "q129_sssp",
        "q157_ktruss",
        "q162_betweenness_sampled",
        "q404_mst_backbone",
        "q406_incremental_msf",
    ],
)
def test_backbone_consumers_match_oracle(spark, sf_correct, name):
    """Every consumer of the histogram-thresholded backbone (and q406's
    histogram band) matches its DuckDB oracle at sf0.01."""
    from cyber_etl_spark.testing import compare_query

    res = compare_query(spark, sf_correct, name)
    assert res.ok, f"{name}: {res.detail}"
