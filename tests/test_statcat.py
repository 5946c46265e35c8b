"""Behavior tests for the persisted stats catalog (operators/statcat,
plans/statcat q377–q379).

The oracle gate already hash-pins the build rows (q377), the merge
identity cross-engine (q378) and the persist→reload→estimate path
(q379); these tests pin the operator contracts the SQL twins can't see:
the merge identity on crafted unbalanced splits (including a sub-k
side), the parquet round-trip, the rebuild-if-missing lifecycle, and
the published estimator guarantees (CMS one-sided, KMV self-calibrating
RSE — bounds from the literature, never hand-tuned)."""

from __future__ import annotations

import math
import os
import shutil

import pytest
from pyspark.sql import functions as F


def _rows(df):
    return sorted(
        (r.tbl, r.col, r.kind, r.r, r.b, int(r.v)) for r in df.collect()
    )


def test_merge_equals_full_build(spark):
    """merge(build(A), build(B)) == build(A ∪ B) exactly, on a crafted
    unbalanced split where one side has FEWER than k distinct keys (the
    sub-k kmv branch) and the sides share keys (cms cells must add
    across sides, kmv must dedup the shared hashes)."""
    from cyber_etl_spark.operators.statcat import (
        key_sketches,
        merge_catalogs,
        value_moments,
    )

    full = spark.range(0, 500).select(
        (F.col("id") % 80).alias("k"), (F.col("id") % 7).cast("double").alias("x")
    )
    a = full.where(F.col("id") % 10 < 9)  # ~90%, all 80 keys
    b = full.where(F.col("id") % 10 >= 9)  # ~10%, shares keys with a

    def build(df):
        return key_sketches(df, "t", "k").unionAll(value_moments(df, "t", "x"))

    merged = merge_catalogs(build(a), build(b))
    assert _rows(merged) == _rows(build(full))


def test_merge_subk_side(spark):
    """A delta batch with < k distinct keys merges exactly (its kmv side
    is the whole hash set, not a cut)."""
    from cyber_etl_spark.operators.statcat import key_sketches, merge_catalogs

    full = spark.range(0, 200).select((F.col("id") % 60).alias("k"))
    a = full.where(F.col("k") < 55)
    b = full.where(F.col("k") >= 55)  # 5 distinct — sub-k
    merged = merge_catalogs(
        key_sketches(a, "t", "k"), key_sketches(b, "t", "k")
    )
    assert _rows(merged) == _rows(key_sketches(full, "t", "k"))


def test_catalog_parquet_roundtrip(spark, sf_smoke, tmp_path):
    """save → load preserves every row and the DECIMAL(38,0) value type
    (a hive partition-column narrowing or decimal downcast would
    corrupt the artifact silently)."""
    from cyber_etl_spark.operators.statcat import load_catalog, save_catalog
    from cyber_etl_spark.plans.statcat import build_catalog

    cat = build_catalog(spark, sf_smoke)
    path = str(tmp_path / "cat")
    save_catalog(cat, path)
    back = load_catalog(spark, path)
    assert dict(back.dtypes)["v"] == "decimal(38,0)"
    assert _rows(back) == _rows(cat)


def test_estimates_rebuild_if_missing(spark, sf_smoke):
    """q379's lifecycle: a missing artifact is rebuilt on first touch;
    a second call serves the SAME result from the persisted parquet
    (no rebuild — the artifact dir's mtime is unchanged)."""
    from cyber_etl_spark.operators.statcat import catalog_path
    from cyber_etl_spark.plans import QUERIES
    from cyber_etl_spark.plans.statcat import _CAT_TABLES, _KEY_SPEC

    path = catalog_path(sf_smoke, _CAT_TABLES, spec=_KEY_SPEC)
    shutil.rmtree(path, ignore_errors=True)
    first = QUERIES["q379_catalog_served_estimates"].builder(spark, sf_smoke)
    rows1 = sorted(map(tuple, first.collect()))
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    mtime = os.path.getmtime(os.path.join(path, "_SUCCESS"))
    second = QUERIES["q379_catalog_served_estimates"].builder(spark, sf_smoke)
    rows2 = sorted(map(tuple, second.collect()))
    assert rows1 == rows2
    assert os.path.getmtime(os.path.join(path, "_SUCCESS")) == mtime


def test_estimator_published_bounds(spark, sf_correct):
    """Self-calibrating gates (the q88/q173 rule — tolerances derived
    from published bounds, never hand-tuned):

    - CMS join/self-join estimates are ONE-SIDED: est >= exact, always
      (every bucket inner product over-counts by collisions only).
    - KMV distinct estimate: RSE of (k-1)/u_k is ~ 1/sqrt(k-2)
      (Beyer et al. 2007); assert within 4 sigma of the truth.
    """
    from cyber_etl_spark.operators.statcat import KMV_K
    from cyber_etl_spark.plans import QUERIES
    from cyber_etl_spark.sources import read_table

    est = {
        (r.tbl, r.col, r.stat): r.value
        for r in QUERIES["q379_catalog_served_estimates"]
        .builder(spark, sf_correct)
        .collect()
    }
    li = read_table(spark, sf_correct, "lineitem")
    od = read_table(spark, sf_correct, "orders")
    ev = read_table(spark, sf_correct, "events")

    def self_pairs(df, col):
        return (
            df.groupBy(col)
            .count()
            .agg(F.sum(F.expr("CAST(count AS DECIMAL(38,0)) * count")))
            .collect()[0][0]
        )

    assert est[("events", "user_id", "selfjoin_pairs_cms")] >= float(
        self_pairs(ev, "user_id")
    )
    assert est[("lineitem", "l_orderkey", "selfjoin_pairs_cms")] >= float(
        self_pairs(li, "l_orderkey")
    )
    cross_exact = (
        li.groupBy("l_orderkey")
        .count()
        .withColumnRenamed("count", "cl")
        .join(
            od.groupBy("o_orderkey").count().withColumnRenamed("count", "co"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .agg(F.sum(F.expr("CAST(cl AS DECIMAL(38,0)) * co")))
        .collect()[0][0]
    )
    assert est[("lineitem,orders", "l_orderkey=o_orderkey", "join_pairs_cms")] >= float(
        cross_exact
    )
    rse = 1.0 / math.sqrt(KMV_K - 2)
    for tbl, col, df in (
        ("events", "user_id", ev.select(F.col("user_id").alias("k"))),
        ("lineitem", "l_orderkey", li.select(F.col("l_orderkey").alias("k"))),
        ("orders", "o_orderkey", od.select(F.col("o_orderkey").alias("k"))),
    ):
        true_d = df.distinct().count()
        got = est[(tbl, col, "distinct_kmv")]
        if true_d < KMV_K:
            assert got == float(true_d)  # exact branch
        else:
            assert abs(got - true_d) <= 4 * rse * true_d, (tbl, got, true_d)


def test_catalog_bound_contract(spark, sf_smoke):
    """An artifact larger than the construction bound raises the
    contract error instead of serving from a corrupt catalog."""
    from cyber_etl_spark.plans.statcat import (
        _CAT_MAX_ROWS,
        _estimates_from_catalog,
    )

    bad = spark.range(0, _CAT_MAX_ROWS + 5).select(
        F.lit("t").alias("tbl"),
        F.lit("c").alias("col"),
        F.lit("cms").alias("kind"),
        F.lit(0).cast("long").alias("r"),
        F.col("id").alias("b"),
        F.lit(1).cast("decimal(38,0)").alias("v"),
    )
    with pytest.raises(ValueError, match="construction bound"):
        _estimates_from_catalog(spark, bad)


def test_equidepth_hist_exact_ranks(spark):
    """Boundaries are the data values at EXACT ranks ceil(i·n/10)
    (k_0 = 1), for an n NOT divisible by 10 and for n divisible by 10
    — the two regimes of the (k−0.5)/n mark argument (a naive i/10
    mark can select rank k±1 when fl(i/10)·n crosses the integer)."""
    from cyber_etl_spark.operators.statcat import HIST_BUCKETS, equidepth_hist

    for n in (997, 1000):
        vals = [(float(i) / 7.0,) for i in range(n)]
        df = spark.createDataFrame(vals, "x double")
        got = {
            r.b: int(r.v)
            for r in equidepth_hist(df, "t", "x").collect()
        }
        xs = sorted(v[0] for v in vals)
        import math

        for i in range(HIST_BUCKETS + 1):
            k = max(1, (i * n + 9) // 10)
            want = math.floor(xs[k - 1] * 1_000_000 + 0.5)
            assert got[i] == want, (n, i, k, got[i], want)


def test_merge_rejects_hist_rows(spark):
    """Order statistics don't merge — folding hist rows must raise, not
    silently corrupt the artifact."""
    from cyber_etl_spark.operators.statcat import (
        equidepth_hist,
        key_sketches,
        merge_catalogs,
    )

    df = spark.range(0, 100).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("x")
    )
    h = equidepth_hist(df, "t", "x")
    s = key_sketches(df, "t", "k")
    with pytest.raises(Exception, match="hist rows do not merge"):
        merge_catalogs(s.unionAll(h), s).collect()


def test_ensure_catalog_concurrent(spark, sf_smoke, tmp_path):
    """Two threads racing ensure_catalog on a clean path (the
    q380/q381 sweep race, replayed): exactly one build lands, both
    readers see a complete artifact, no temp dirs leak."""
    import threading

    from cyber_etl_spark.operators.statcat import (
        ensure_catalog,
        key_sketches,
        load_catalog,
    )
    from cyber_etl_spark.sources import read_table

    path = str(tmp_path / "racecat")
    df = read_table(spark, sf_smoke, "events").select("user_id")

    def build():
        return key_sketches(df, "events", "user_id")

    errs = []

    def run():
        try:
            ensure_catalog(path, build)
        except Exception as e:  # pragma: no cover - the assertion target
            errs.append(e)

    ts = [threading.Thread(target=run) for _ in range(2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs, errs
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    assert load_catalog(spark, path).count() > 0
    leftovers = [d for d in os.listdir(str(tmp_path)) if ".tmp-" in d]
    assert leftovers == []


def test_kmv_stream_snapshot_equals_batch_sketch(spark, tmp_path):
    """The KMV streaming twin: after every trigger the state equals the
    batch bottom-k of everything fed so far — checked at the FINAL
    generation against operators/statcat.key_sketches' kmv rows, and at
    an intermediate generation against the fed prefix (the bottom-k-of-
    union slicing-independence that makes the catalog streaming-
    maintainable)."""
    import pyarrow as pa
    from _feed import write_feed

    from cyber_etl_spark.operators.statcat import key_sketches
    from cyber_etl_spark.streaming import read_event_stream, run_stream_to_memory
    from cyber_etl_spark.streaming.stateful import kmv_stream

    n = 900
    pdf = (
        spark.range(n)
        .select((F.col("id") * 37 % 211).alias("event_type"))
        .toPandas()
    )
    pdf["event_type"] = pdf["event_type"].astype(str)
    pdf["event_id"] = range(len(pdf))
    pdf["ts"] = [1_700_000_000_000_000 + i for i in range(len(pdf))]
    pdf["user_id"] = 1
    pdf["value"] = 0.0
    pdf["props"] = ""
    pdf = pdf[["event_id", "ts", "user_id", "event_type", "value", "props"]]
    d = tmp_path / "kmv_feed"
    d.mkdir()
    for i in range(3):
        chunk = pdf.iloc[i * 300 : (i + 1) * 300]
        write_feed(pa.Table.from_pandas(chunk), str(d / f"chunk_{i}.parquet"))
    stream = read_event_stream(spark, str(d), empty_dir_ts="micros").select(
        F.lit("t.k").alias("name"), F.col("event_type").alias("item")
    )
    run_stream_to_memory(kmv_stream(stream, k=32), "kmv_mem", mode="update")
    rows = spark.sql("SELECT * FROM kmv_mem").collect()
    assert max(r.gen for r in rows) == 3

    def batch_kmv(upto: int) -> list[int]:
        df = spark.createDataFrame(
            pdf.iloc[:upto][["event_type"]].rename(columns={"event_type": "k"})
        )
        return sorted(
            int(r.v)
            for r in key_sketches(df, "t", "k")
            .where(F.col("kind") == "kmv")
            .collect()
        )

    for gen, upto in ((2, 600), (3, 900)):
        got = sorted(r.u for r in rows if r.gen == gen)
        assert got == batch_kmv(upto), gen


def test_catalog_lookup_partition_prunes(spark, sf_smoke):
    """The hive (tbl, col) layout's whole point: a one-column catalog
    lookup must prune at the PARTITION level (PartitionFilters carry
    both predicates, DataFilters stay empty) — i.e. load_catalog's
    type-restoring casts do not defeat pruning."""
    from cyber_etl_spark.operators.statcat import (
        catalog_path,
        ensure_catalog,
        load_catalog,
    )
    from cyber_etl_spark.plans.statcat import _CAT_TABLES, _KEY_SPEC, build_catalog

    path = catalog_path(sf_smoke, _CAT_TABLES, spec=_KEY_SPEC)
    ensure_catalog(path, lambda: build_catalog(spark, sf_smoke))
    df = load_catalog(spark, path).where(
        (F.col("tbl") == "events") & (F.col("col") == "user_id")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert scan, plan
    line = scan[0]
    pf = line.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "tbl" in pf and "= events" in pf, line
    assert "col" in pf and "= user_id" in pf, line
    assert "DataFilters: []" in line, line


def test_ew_merge_is_additive_and_minh_merge_is_min(spark):
    """The two r12 mergeable kinds: ew bucket counts fold by addition
    on ANY disjoint split; minh signature rows fold by per-slot MIN on
    ANY split (idempotent — overlapping sides allowed)."""
    from cyber_etl_spark.operators.statcat import (
        equiwidth_counts,
        merge_catalogs,
        minhash_rows,
    )

    full = spark.range(0, 400).select(
        (F.col("id") % 90).cast("double").alias("x"),
        (F.col("id") % 37).alias("k"),
    )
    a = full.where(F.col("k") % 3 == 0)
    b = full.where(F.col("k") % 3 != 0)

    ew_full = _rows(equiwidth_counts(full, "t", "x", 10_000_000))
    ew_merged = _rows(
        merge_catalogs(
            equiwidth_counts(a, "t", "x", 10_000_000),
            equiwidth_counts(b, "t", "x", 10_000_000),
        )
    )
    assert ew_merged == ew_full

    mh_full = _rows(minhash_rows(full, "t", "k", slots=8))
    # overlapping split: MIN is idempotent, merge must still equal full
    a2 = full.where(F.col("k") < 25)
    b2 = full.where(F.col("k") > 10)
    mh_merged = _rows(
        merge_catalogs(
            minhash_rows(a2, "t", "k", slots=8),
            minhash_rows(b2, "t", "k", slots=8),
        )
    )
    assert mh_merged == mh_full
    assert len(mh_full) == 8


def test_ew_negative_value_raises(spark):
    """The ew grid is non-negative-only: Spark `div` truncates toward
    zero while DuckDB `//` floors, so a negative micro value must fail
    loudly instead of silently diverging cross-engine."""
    from cyber_etl_spark.operators.statcat import equiwidth_counts

    neg = spark.range(0, 10).select((F.col("id") - 5).cast("double").alias("x"))
    with pytest.raises(Exception, match="negative"):
        equiwidth_counts(neg, "t", "x", 1_000_000).collect()


def test_minhash_slot_match_estimates_jaccard(spark):
    """P[slot signature match] = Jaccard: on two sets with known
    overlap, the match share must land within the binomial 4σ band
    (published bound, never hand-tuned): σ = sqrt(J(1-J)/slots)."""
    from cyber_etl_spark.operators.statcat import minhash_rows

    slots = 64
    a = spark.range(0, 300).select(F.col("id").alias("k"))  # {0..299}
    b = spark.range(150, 450).select(F.col("id").alias("k"))  # {150..449}
    j_true = 150 / 450  # |∩|=150, |∪|=450
    sa = {r.r: int(r.v) for r in minhash_rows(a, "t", "k", slots=slots).collect()}
    sb = {r.r: int(r.v) for r in minhash_rows(b, "t", "k", slots=slots).collect()}
    matches = sum(1 for r in sa if sa[r] == sb[r])
    sigma = math.sqrt(j_true * (1 - j_true) / slots)
    assert abs(matches / slots - j_true) <= 4 * sigma


def test_decided_join_strategy_appears_in_plan(spark, sf_smoke):
    """q389's decision is executable, not just reported: when the
    catalog clears the customer side, BroadcastHashJoin must appear in
    the executed plan; when the threshold rejects it, the shuffle
    (merge) fallback must."""
    from cyber_etl_spark.plans.statcat import decided_join

    joined, bcast = decided_join(spark, sf_smoke)
    assert bcast  # smoke-scale customer is tiny
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan

    joined_smj, bcast_smj = decided_join(spark, sf_smoke, threshold=10)
    assert not bcast_smj
    plan_smj = joined_smj._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan_smj
    assert "BroadcastHashJoin" not in plan_smj


def test_ew_stream_snapshot_equals_batch_histogram(spark, tmp_path):
    """The ew streaming twin: after every trigger the per-bucket state
    equals the batch equiwidth_counts of everything fed so far — the
    additive-merge identity under arbitrary micro-batch slicing that
    makes the ew kind streaming-maintainable (and which the equi-depth
    kind, being order statistics, can never have)."""
    import pyarrow as pa
    from _feed import write_feed

    from cyber_etl_spark.operators.statcat import equiwidth_counts
    from cyber_etl_spark.streaming import read_event_stream, run_stream_to_memory
    from cyber_etl_spark.streaming.stateful import ew_stream

    n = 900
    pdf = (
        spark.range(n)
        .select(((F.col("id") * 37 % 211) / 7.0).alias("value"))
        .toPandas()
    )
    pdf["event_id"] = range(len(pdf))
    pdf["ts"] = [1_700_000_000_000_000 + i for i in range(len(pdf))]
    pdf["user_id"] = 1
    pdf["event_type"] = "x"
    pdf["props"] = ""
    pdf = pdf[["event_id", "ts", "user_id", "event_type", "value", "props"]]
    d = tmp_path / "ew_feed"
    d.mkdir()
    for i in range(3):
        chunk = pdf.iloc[i * 300 : (i + 1) * 300]
        write_feed(pa.Table.from_pandas(chunk), str(d / f"chunk_{i}.parquet"))
    stream = read_event_stream(spark, str(d), empty_dir_ts="micros").select(
        F.lit("t.x").alias("name"), F.col("value").alias("x")
    )
    cell = 5_000_000
    run_stream_to_memory(ew_stream(stream, cell), "ew_mem", mode="update")
    rows = spark.sql("SELECT * FROM ew_mem").collect()
    assert max(r.gen for r in rows) == 3

    def batch_hist(upto: int) -> list[tuple[int, int]]:
        df = spark.createDataFrame(pdf.iloc[:upto][["value"]])
        return sorted(
            (int(r.b), int(r.v))
            for r in equiwidth_counts(df, "t", "value", cell).collect()
        )

    for gen, upto in ((1, 300), (2, 600), (3, 900)):
        got = sorted((r.b, r.c) for r in rows if r.gen == gen)
        assert got == batch_hist(upto), gen


def test_minh_stream_snapshot_equals_batch_signature(spark, tmp_path):
    """The minh streaming twin: after every trigger the per-slot state
    equals the batch minhash_rows of everything fed so far — and
    because MIN is idempotent, REPLAYING a chunk (at-least-once
    delivery) must leave the signature unchanged."""
    import pyarrow as pa
    from _feed import write_feed

    from cyber_etl_spark.operators.statcat import minhash_rows
    from cyber_etl_spark.streaming import read_event_stream, run_stream_to_memory
    from cyber_etl_spark.streaming.stateful import minh_stream

    n = 600
    pdf = (
        spark.range(n)
        .select((F.col("id") * 13 % 97).alias("event_type"))
        .toPandas()
    )
    pdf["event_type"] = pdf["event_type"].astype(str)
    pdf["event_id"] = range(len(pdf))
    pdf["ts"] = [1_700_000_000_000_000 + i for i in range(len(pdf))]
    pdf["user_id"] = 1
    pdf["value"] = 0.0
    pdf["props"] = ""
    pdf = pdf[["event_id", "ts", "user_id", "event_type", "value", "props"]]
    d = tmp_path / "minh_feed"
    d.mkdir()
    for i in range(2):
        chunk = pdf.iloc[i * 300 : (i + 1) * 300]
        write_feed(pa.Table.from_pandas(chunk), str(d / f"chunk_{i}.parquet"))
    # chunk 2 REPLAYS chunk 0 — idempotence under at-least-once delivery
    write_feed(
        pa.Table.from_pandas(pdf.iloc[0:300]), str(d / "chunk_2.parquet")
    )
    stream = read_event_stream(spark, str(d), empty_dir_ts="micros").select(
        F.lit("t.k").alias("name"), F.col("event_type").alias("item")
    )
    run_stream_to_memory(minh_stream(stream, slots=8), "minh_mem", mode="update")
    rows = spark.sql("SELECT * FROM minh_mem").collect()
    assert max(r.gen for r in rows) == 3

    def batch_sig(upto: int) -> list[tuple[int, int]]:
        df = spark.createDataFrame(
            pdf.iloc[:upto][["event_type"]].rename(columns={"event_type": "k"})
        )
        return sorted(
            (int(r.r), int(r.v))
            for r in minhash_rows(df, "t", "k", slots=8).collect()
        )

    sig2 = sorted((r.r, r.v) for r in rows if r.gen == 2)
    assert sig2 == batch_sig(600)
    # the replayed chunk must not move the signature
    sig3 = sorted((r.r, r.v) for r in rows if r.gen == 3)
    assert sig3 == sig2


def test_tri_merge_is_additive_and_bound_holds(spark):
    """The r12 s4 trigram kind: df rows fold by addition on disjoint
    row splits, and the q408 bound property min-trigram-df >= LIKE
    count holds for every substring probe of the vocabulary."""
    from cyber_etl_spark.operators.statcat import merge_catalogs, trigram_rows

    words = ["widget", "bolt", "gear", "bracket", "nut", "x"]
    full = spark.range(0, 300).select(
        F.concat(
            F.lit("pre "),
            F.element_at(
                F.array(*[F.lit(w) for w in words]),
                (F.col("id") % len(words) + 1).cast("int"),
            ),
        ).alias("nm")
    )
    a = full.where(F.length("nm") % 2 == 0)
    b = full.where(~(F.length("nm") % 2 == 0))
    t_full = _rows(trigram_rows(full, "t", "nm"))
    t_merged = _rows(
        merge_catalogs(
            trigram_rows(a, "t", "nm"), trigram_rows(b, "t", "nm")
        )
    )
    assert t_merged == t_full

    import hashlib

    dfc = {
        r.b: int(r.v)
        for r in trigram_rows(full, "t", "nm").where(F.col("r") == 0).collect()
    }
    for probe in ["widget", "ge", "bra", "e b", "qqq"]:
        exact = full.where(F.col("nm").like(f"%{probe}%")).count()
        tris = [probe[i : i + 3] for i in range(max(len(probe) - 2, 0))]
        if not tris:
            bound = 300
        else:
            bound = min(
                dfc.get(int(hashlib.md5(g.encode()).hexdigest()[:13], 16), 0)
                for g in tris
            )
        assert bound >= exact, (probe, bound, exact)


def test_tri_stream_snapshot_equals_batch_build(spark, tmp_path):
    """The tri streaming twin: after every trigger the per-trigram df
    state (plus the row-count register) equals the batch trigram_rows
    of everything fed so far — the additive identity q407 gates,
    holding under arbitrary micro-batch slicing."""
    import pyarrow as pa
    from _feed import write_feed

    from cyber_etl_spark.operators.statcat import trigram_rows
    from cyber_etl_spark.streaming import read_event_stream, run_stream_to_memory
    from cyber_etl_spark.streaming.stateful import tri_stream

    words = ["widget", "bolt", "gear", "bracket", "nut", "ox"]
    n = 450
    texts = [f"pre {words[i % len(words)]} {i % 7}" for i in range(n)]
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "event_id": range(n),
            "ts": [1_700_000_000_000_000 + i for i in range(n)],
            "user_id": 1,
            "event_type": "x",
            "value": 0.0,
            "props": texts,
        }
    )
    d = tmp_path / "tri_feed"
    d.mkdir()
    for i in range(3):
        chunk = pdf.iloc[i * 150 : (i + 1) * 150]
        write_feed(pa.Table.from_pandas(chunk), str(d / f"chunk_{i}.parquet"))
    stream = read_event_stream(spark, str(d), empty_dir_ts="micros").select(
        F.lit("docs").alias("name"), F.col("props").alias("s")
    )
    run_stream_to_memory(tri_stream(stream), "tri_mem", mode="update")
    rows = spark.sql("SELECT * FROM tri_mem").collect()
    assert max(r.gen for r in rows) == 3

    def batch_rows(upto: int) -> list[tuple[int, int, int]]:
        df = spark.createDataFrame(pdf.iloc[:upto][["props"]])
        return sorted(
            (int(r.r), int(r.b), int(r.v))
            for r in trigram_rows(df, "t", "props").collect()
        )

    for gen, upto in ((1, 150), (2, 300), (3, 450)):
        got = sorted((r.r, r.b, r.v) for r in rows if r.gen == gen)
        assert got == batch_rows(upto), gen
