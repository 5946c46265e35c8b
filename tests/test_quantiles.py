"""Distributed exact-quantile kernel (operators/quantiles.py).

The kernel must be bit-identical to Spark's in-memory ``percentile``
aggregate (whose interpolation formula it replicates) while holding only
one *partition* of values per task — the property that lets the exact
quantile family (q61/q112/q130/q146) survive a global group at 100 TB.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from cyber_etl_spark.operators import quantiles
from cyber_etl_spark.operators.quantiles import exact_quantiles, histogram_quantiles
from cyber_etl_spark.sources import read_table


def _spark_ref(df, col, probs, groups):
    aggs = [F.expr(f"percentile({col}, {p})").alias(a) for a, p in probs.items()]
    if groups:
        return {
            tuple(r[g] for g in groups): tuple(r[a] for a in probs)
            for r in df.groupBy(*groups).agg(*aggs).collect()
        }
    return {(): tuple(df.agg(*aggs).collect()[0][a] for a in probs)}


def _kernel(df, col, probs, groups, **kw):
    return {
        tuple(r[g] for g in groups): tuple(r[a] for a in probs)
        for r in exact_quantiles(df, col, probs, groups, **kw).collect()
    }


def test_grouped_matches_builtin_percentile_bitwise(spark, sf_smoke):
    events = read_table(spark, sf_smoke, "events")
    probs = {"p10": 0.1, "p25": 0.25, "p50": 0.5, "p75": 0.75, "p99": 0.99}
    assert _kernel(events, "value", probs, ["event_type"]) == _spark_ref(
        events, "value", probs, ["event_type"]
    )


def test_global_group_matches_builtin(spark, sf_smoke):
    orders = read_table(spark, sf_smoke, "orders")
    probs = {"med": 0.5, "p90": 0.9}
    assert _kernel(orders, "o_totalprice", probs, []) == _spark_ref(
        orders, "o_totalprice", probs, []
    )


def test_integer_column_and_multi_group(spark, sf_smoke):
    docs = read_table(spark, sf_smoke, "documents")
    probs = {"med": 0.5}
    assert _kernel(docs, "n_chars", probs, ["source", "lang"]) == _spark_ref(
        docs, "n_chars", probs, ["source", "lang"]
    )


def test_tiny_groups_and_nulls(spark):
    rows = [
        ("a", 1.0),
        ("a", None),
        ("b", 5.0),
        ("b", 7.0),
        ("c", None),  # all-null group: omitted (documented behavior)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    got = _kernel(df, "v", {"med": 0.5, "p75": 0.75}, ["g"], num_partitions=4)
    assert got == {("a",): (1.0, 1.0), ("b",): (6.0, 6.5)}


def test_single_partition_width_still_exact(spark, sf_smoke):
    """num_partitions=1 degenerates to a single sorted run — still the
    same interpolation; the width knob only changes placement."""
    events = read_table(spark, sf_smoke, "events").limit(500)
    probs = {"p33": 0.33}
    assert _kernel(events, "value", probs, ["event_type"], num_partitions=1) == (
        _spark_ref(events, "value", probs, ["event_type"])
    )


def test_selection_emits_bounded_rows(spark, sf_smoke):
    """The selection pass ships <= 2*|probs| rows per group to the
    driver regardless of data size — the scale contract."""
    events = read_table(spark, sf_smoke, "events")
    qs = exact_quantiles(events, "value", {"a": 0.25, "b": 0.75}, ["event_type"])
    n_groups = events.select("event_type").distinct().count()
    assert qs.count() == n_groups
    assert len(qs.columns) == 3


def test_weighted_lower_quantile_small_case(spark):
    """Weighted mode: smallest value whose running weight reaches p*W.
    g=a: values 1(w3), 5(w1) -> W=4, T=2 -> cum(1)=3 >= 2 -> 1.0.
    g=b: values 2(w1), 4(w1), 9(w2) -> W=4, T=2 -> cum(4)=2 >= 2 -> 4.0.
    Zero/negative weights are ignored."""
    rows = [
        ("a", 1.0, 3),
        ("a", 5.0, 1),
        ("b", 2.0, 1),
        ("b", 4.0, 1),
        ("b", 9.0, 2),
        ("b", 0.5, 0),  # zero weight: ignored
    ]
    df = spark.createDataFrame(rows, "g string, v double, w long")
    got = {
        r["g"]: r["wm"]
        for r in exact_quantiles(
            df, "v", {"wm": 0.5}, ["g"], weight_col="w", num_partitions=3
        ).collect()
    }
    assert got == {"a": 1.0, "b": 4.0}


def test_weighted_matches_sql_cumsum_definition(spark, sf_smoke):
    """Weighted kernel == the window-cumsum SQL definition on real data,
    across several probabilities and a partition-boundary-heavy width."""
    import pyspark.sql.functions as F
    from pyspark.sql.window import Window

    docs = read_table(spark, sf_smoke, "documents").select(
        "source", F.col("n_chars").cast("long").alias("val")
    ).where(F.col("val") > 0)
    probs = {"p25": 0.25, "p50": 0.5, "p90": 0.9}
    got = {
        (r["source"],): tuple(r[a] for a in probs)
        for r in exact_quantiles(
            docs, "val", probs, ["source"], weight_col="val", num_partitions=7
        ).collect()
    }
    w = Window.partitionBy("source").orderBy("val").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = Window.partitionBy("source")
    c = docs.select(
        "source",
        "val",
        F.sum("val").over(w).alias("cw"),
        F.sum("val").over(tot).alias("w"),
    )
    ref = {}
    for a, p in probs.items():
        rows = (
            c.where(F.col("cw") >= F.lit(p) * F.col("w"))
            .groupBy("source")
            .agg(F.min("val").cast("double").alias("q"))
            .collect()
        )
        for r in rows:
            ref.setdefault((r["source"],), {})[a] = r["q"]
    assert got == {k: tuple(v[a] for a in probs) for k, v in ref.items()}


def test_skewed_giant_group_still_exact(spark):
    """The motivating regime: one group holds ~99% of rows (the 'global
    group' shape that OOMs a single aggregation buffer at scale).  The
    kernel must spread it across partitions and still match the
    built-in bit-for-bit."""
    import pyspark.sql.functions as F

    df = spark.range(50_000).select(
        F.when(F.col("id") % 100 == 0, "small").otherwise("giant").alias("g"),
        (F.sin(F.col("id").cast("double")) * 1000).alias("v"),
    )
    probs = {"p01": 0.01, "p50": 0.5, "p99": 0.99}
    got = _kernel(df, "v", probs, ["g"], num_partitions=16)
    ref = _spark_ref(df, "v", probs, ["g"])
    assert got == ref
    # and the giant group really spans many range partitions
    ranged = df.select("g", F.col("v").alias("_v")).repartitionByRange(
        16, "g", "_v"
    )
    parts = (
        ranged.withColumn("p", F.spark_partition_id())
        .where(F.col("g") == "giant")
        .select("p")
        .distinct()
        .count()
    )
    assert parts >= 8


def test_null_group_value_string_col(spark):
    """A NULL group VALUE (not null measure) is its own group, exactly
    like the built-in percentile aggregate treats it."""
    rows = [("a", 1.0), ("a", 3.0), (None, 10.0), (None, 20.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    got = _kernel(df, "v", {"med": 0.5}, ["g"], num_partitions=3)
    assert got == {("a",): (2.0,), (None,): (15.0,)}


def test_weighted_p_zero_returns_group_min(spark):
    """p=0 weighted threshold: the SQL twin's cw >= 0 picks the first
    (minimum) value — the kernel must match, not return NULL (review
    r6 finding)."""
    df = spark.createDataFrame(
        [("a", 5.0, 2), ("a", 1.0, 3), ("b", 9.0, 1)], "g string, v double, w long"
    )
    got = _kernel(df, "v", {"mn": 0.0, "mx": 1.0}, ["g"], weight_col="w")
    assert got == {("a",): (1.0, 5.0), ("b",): (9.0, 9.0)}


def test_float_group_column_rejected(spark):
    """Float group keys are unsupported (ADVICE r6: NaN would fold into
    the NULL group while range-partitioning sorts NaN last — wrong
    selection) — the kernel must refuse loudly."""
    df = spark.range(10).select(
        (F.col("id") % 3).cast("double").alias("g"), F.col("id").alias("v")
    )
    with pytest.raises(TypeError, match="float-typed group column"):
        exact_quantiles(df, "v", {"p50": 0.5}, ["g"])


def test_bounded_group_contract_enforced(spark):
    """The control tables are O(|groups| x |partitions|) on the driver —
    the kernel must fail with guidance (not silently build a huge dict)
    when the group count crosses the bound (r6 verdict item 4)."""
    df = spark.range(200).select(
        F.col("id").cast("string").alias("g"), F.col("id").alias("v")
    )
    with pytest.raises(ValueError, match="max_control_rows"):
        exact_quantiles(df, "v", {"p50": 0.5}, ["g"], max_control_rows=50)
    # under the bound the same frame works
    out = exact_quantiles(df, "v", {"p50": 0.5}, ["g"], max_control_rows=10_000)
    assert out.count() == 200


_HIST_PROBS = {"p0": 0.0, "p50": 0.5, "p90": 0.9, "p95": 0.95, "p100": 1.0}


@pytest.mark.parametrize(
    "values",
    [
        [3, 3, 3, 7, 7, 1, 1, 1, 1, 9],  # ties straddling the marks
        [5],  # n = 1
        [],  # empty input
        [None, 4, None, 2, 2, 8, None],  # NULLs are dropped
        [None, None],  # only NULLs: as empty
        [(i * 7919) % 41 for i in range(997)],  # few values, many rows
    ],
    ids=["ties", "n1", "empty", "nulls", "all_null", "few_values"],
)
def test_histogram_quantiles_match_exact_kernel(spark, values):
    """On integer columns the histogram reads the same floor/ceil ranks
    and interpolates with the same formula as the range-partition
    kernel: equal to the last bit, None for every alias with no rows."""
    df = spark.createDataFrame([(v,) for v in values], "v long")
    want = exact_quantiles(df, "v", _HIST_PROBS).collect()
    got = histogram_quantiles(df, "v", _HIST_PROBS)
    if any(v is not None for v in values):
        assert got == want[0].asDict()
    else:
        assert want == [] and got == dict.fromkeys(_HIST_PROBS)


def test_histogram_quantiles_backbone_weights(spark, sf_smoke):
    """The co-supply weights the graph backbones threshold on: the
    histogram's P90/P95 equal the range-partition kernel's."""
    from cyber_etl_spark.graph.builder import co_supply_edges_weighted

    w = co_supply_edges_weighted(spark, sf_smoke).where(F.col("src") < F.col("dst"))
    probs = {"p90": 0.9, "p95": 0.95}
    assert histogram_quantiles(w, "weight", probs) == (
        exact_quantiles(w, "weight", probs).collect()[0].asDict()
    )


def test_histogram_quantiles_cap(spark, monkeypatch):
    """At the control-row cap the histogram is collected whole; one
    distinct value past it the helper refuses instead of shipping a
    high-cardinality column to the driver."""
    df = spark.range(50).select((F.col("id") % 5).alias("v"))
    monkeypatch.setattr(quantiles, "_MAX_CONTROL_ROWS", 5)
    assert histogram_quantiles(df, "v", {"med": 0.5}) == {"med": 2.0}
    monkeypatch.setattr(quantiles, "_MAX_CONTROL_ROWS", 4)
    with pytest.raises(ValueError, match="more than 4 distinct values"):
        histogram_quantiles(df, "v", {"med": 0.5})
