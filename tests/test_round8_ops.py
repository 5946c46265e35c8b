"""Behavior pins for round-8 operators whose defining properties the
hash gate cannot check (both engines share the formula, so only an
independent invariant catches a semantic error).
"""

from __future__ import annotations

import math


def test_ams_estimate_within_calibrated_bound(spark, sf_smoke):
    """q88-style SELF-CALIBRATING tolerance (never hand-tuned): one AMS
    group mean of m=4 estimators has Var ≤ 2·F2²/m, so the median of 4
    group means sits within sqrt(2/m)·F2 of F2 at ~1 sigma; assert 4
    sigma — derived from Alon-Matias-Szegedy Thm 2.2, not from the
    observed value."""
    from cyber_etl_spark.plans import QUERIES

    row = QUERIES["q246_ams_f2_sketch"].builder(spark, sf_smoke).collect()[0]
    sigma = math.sqrt(2.0 / 4.0) * row["f2_exact"]
    assert abs(row["f2_estimate"] - row["f2_exact"]) <= 4 * sigma
    assert row["rel_err"] <= 4 * math.sqrt(2.0 / 4.0)


def test_rake_phrases_contain_no_stopwords_and_score_positive(spark, sf_smoke):
    from cyber_etl_spark.functions.text import EN_STOPWORDS
    from cyber_etl_spark.plans import QUERIES

    rows = QUERIES["q243_rake_keyphrases"].builder(spark, sf_smoke).collect()
    assert len(rows) > 0
    for r in rows:
        words = r["phrase"].split(" ")
        assert 1 <= len(words) <= 4
        assert all(w not in EN_STOPWORDS for w in words), r["phrase"]
        assert r["rake_score"] > 0
        assert r["n_occurrences"] >= 1
    # scores are sums of per-word degree/freq ratios with deg >= freq
    # contribution >= 1 per word, so a phrase scores at least its length
    for r in rows:
        assert r["rake_score"] >= len(r["phrase"].split(" ")) - 1e-9


def test_naive_bayes_plumbing_invariants(spark, sf_smoke):
    """This corpus gives NB nothing to learn (all langs draw from one
    template vocabulary — the q177 lesson again), so accuracy is NOT a
    valid pin; what must hold regardless of signal: every md5-test doc
    is classified exactly once, the posterior argmax is not constant
    (likelihoods really enter — a broken likelihood join would collapse
    to the prior's single majority class), and the whole matrix is
    deterministic across runs."""
    from pyspark.sql import functions as F

    from cyber_etl_spark.plans import QUERIES
    from cyber_etl_spark.sources import read_table

    rows = QUERIES["q249_naive_bayes"].builder(spark, sf_smoke).collect()
    n_total = sum(r["n_docs"] for r in rows)
    docs = read_table(spark, sf_smoke, "documents")
    n_test = docs.where(
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
        ).cast("bigint")
        % 5
        == 0
    ).count()
    assert n_total == n_test > 0
    assert len({r["pred_lang"] for r in rows}) >= 2
    again = QUERIES["q249_naive_bayes"].builder(spark, sf_smoke).collect()
    key = lambda r: (r["true_lang"], r["pred_lang"], r["n_docs"])  # noqa: E731
    assert sorted(map(key, rows)) == sorted(map(key, again))


def test_gini_bounds_and_degenerate_case(spark, sf_smoke):
    """Gini of real revenue sits in (0, 1); a constant vector must give
    exactly 0 (the closed form's own sanity anchor)."""
    from cyber_etl_spark.plans import QUERIES

    row = QUERIES["q259_gini_revenue"].builder(spark, sf_smoke).collect()[0]
    assert 0.0 < row["gini"] < 1.0

    from pyspark.sql import functions as F

    from cyber_etl_spark.operators.prefix import global_ranks

    df = spark.range(100).select(
        F.col("id").alias("o_custkey"), F.lit(500).alias("xc")
    )
    r = global_ranks(df, order_cols=["xc", "o_custkey"], rn_col="i")
    s = r.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xc").alias("sx"),
        F.sum(F.expr("CAST(i AS DECIMAL(38,0))*xc")).alias("six"),
    ).collect()[0]
    num = 2 * s["six"] - (s["n"] + 1) * s["sx"]
    assert num == 0  # constant vector → Lorenz diagonal → Gini 0


def test_textrank_uniform_ring_gives_equal_scores(spark, sf_smoke):
    """On a regular graph (ring, all weights equal) PageRank's fixpoint
    is uniform, and every iteration preserves uniformity exactly — an
    independent pin on the kernel's damping/contribution arithmetic
    (both engines share the integer formula, so only structure catches
    a semantic slip)."""
    from cyber_etl_spark.operators.textrank import textrank_scores

    n = 6
    edges = [(f"w{i}", f"w{(i + 1) % n}", 1) for i in range(n)] + [
        (f"w{(i + 1) % n}", f"w{i}", 1) for i in range(n)
    ]
    df = spark.createDataFrame(edges, "u string, v string, w long")
    dg = df.groupBy("u").sum("w").withColumnRenamed("sum(w)", "du")
    rows = textrank_scores(df.join(dg, "u"), iterations=5).collect()
    assert len(rows) == n
    units = {int(r["r_units"]) for r in rows}
    assert len(units) == 1  # uniform
    # total mass ~ n * 1e12 (damping keeps it conserved up to rounding)
    assert abs(sum(int(r["r_units"]) for r in rows) - n * 10**12) <= n


def test_textrank_bounded_vocabulary_guard(spark):
    """The one-task kernel must REFUSE corpus-scale edge lists rather
    than OOM a single task (the exact_quantiles/forecast guard rule)."""
    import pytest

    from cyber_etl_spark.operators import textrank as tr

    df = spark.range(0, 1000).selectExpr(
        "CAST(id AS STRING) AS u",
        "CAST(id + 1 AS STRING) AS v",
        "1 AS w",
        "1 AS du",
    )
    old = tr._MAX_EDGE_ROWS
    tr._MAX_EDGE_ROWS = 100
    try:
        # the one task sees at most cap + 1 rows, never the corpus
        with pytest.raises(Exception, match=r"\b101 edge rows exceed .*bounded-vocabulary"):
            tr.textrank_scores(df).collect()
    finally:
        tr._MAX_EDGE_ROWS = old


def test_holt_winters_recovers_pure_seasonal_series(spark):
    """On a zero-trend, perfectly periodic series the HW recurrence must
    converge to level = series mean, trend = 0, seasonals = offsets —
    and with dyadic weights the forecast reproduces the cycle exactly
    after enough periods (error halves each season)."""
    from cyber_etl_spark.operators.forecast import holt_winters_forecast

    cycle = [10.0, 12.0, 8.0, 14.0, 6.0, 11.0, 9.0]  # mean = 10
    rows = [(i, cycle[i % 7]) for i in range(7 * 40)]
    df = spark.createDataFrame(rows, "day int, x double")
    out = {r["horizon"]: r for r in holt_winters_forecast(df).collect()}
    assert len(out) == 7
    assert abs(out[1]["level"] - 10.0) < 1e-6
    assert abs(out[1]["trend"]) < 1e-6
    for h in range(1, 8):
        # horizon h continues the cycle: position (280 + h - 1) % 7
        expect = cycle[(7 * 40 + h - 1) % 7]
        assert abs(out[h]["forecast"] - expect) < 1e-5, (h, out[h])


def test_holt_winters_needs_two_seasons(spark):
    from cyber_etl_spark.operators.forecast import holt_winters_forecast

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(10)], "day int, x double"
    )
    assert holt_winters_forecast(df).count() == 0


def test_kruskal_wallis_matches_independent_replay(spark, sf_smoke):
    """Pin q240's H against a from-scratch pandas replay (average ranks
    per row, the textbook formula 12/(N(N+1))·Σ R_g²/n_g − 3(N+1) with
    the tie-correction divisor) — the independent check that catches
    coefficient errors the cross-engine hash gate structurally cannot
    (r8 found a 4× slip exactly this way)."""
    import pandas as pd

    from cyber_etl_spark.plans import QUERIES
    from cyber_etl_spark.sources import read_table

    row = QUERIES["q240_kruskal_wallis"].builder(spark, sf_smoke).collect()[0]
    ev = (
        read_table(spark, sf_smoke, "events")
        .select("event_type", "value")
        .toPandas()
        .dropna(subset=["value"])
    )
    ev["rank"] = ev["value"].rank(method="average")
    n = len(ev)
    s = sum(
        g["rank"].sum() ** 2 / len(g) for _, g in ev.groupby("event_type")
    )
    h = 12.0 / (n * (n + 1)) * s - 3.0 * (n + 1)
    ties = ev.groupby("value").size()
    cf = 1.0 - float((ties**3 - ties).sum()) / (n**3 - n)
    assert row["n"] == n
    assert abs(row["h_stat"] - h) < 1e-4, (row["h_stat"], h)
    assert abs(row["h_tie_corrected"] - h / cf) < 1e-4
    assert row["h_stat"] >= 0.0


def test_gzip_quality_anchors(spark, sf_smoke):
    """Pin q308's rows-only compressor semantics with independent
    anchors: (a) the template corpus compresses (avg < 0.9 everywhere,
    and repetitive sources well below 1); (b) a crafted repeated
    document lands under 0.2 while an md5-hex high-entropy document
    stays above 0.4; (c) ratios are invariant to which executor batch
    a row lands in (two different partitionings agree)."""
    from cyber_etl_spark.plans import QUERIES

    rows = QUERIES["q308_gzip_quality"].builder(spark, sf_smoke).collect()
    assert len(rows) > 0
    for r in rows:
        assert 0.0 < r["min_ratio"] <= r["avg_ratio"] <= r["max_ratio"]
        assert r["avg_ratio"] < 0.9

    import hashlib
    import zlib

    rep = "the same words again and again " * 50
    ent = "".join(
        hashlib.md5(str(i).encode()).hexdigest() for i in range(100)
    )
    df = spark.createDataFrame(
        [(1, rep, "a", "x", len(rep)), (2, ent, "a", "x", len(ent))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    from pyspark.sql.functions import col

    from cyber_etl_spark.functions.text import gzip_ratio_udf

    gz = gzip_ratio_udf()
    got = {}
    for n in (1, 2):
        # same rows through different batchings must agree exactly
        vals = dict(
            df.repartition(n)
            .select("doc_id", gz(col("text")).alias("r"))
            .collect()
        )
        got[n] = vals
    assert got[1] == got[2]
    assert got[1][1] < 0.2  # repetitive
    assert got[1][2] > 0.4  # high-entropy


def test_hll_oracled_within_published_rse(spark, sf_smoke):
    """q312's 256-register HLL must estimate within 4 sigma of the
    published standard error RSE = 1.04/sqrt(m) — a self-calibrating
    bound (Flajolet et al. 2007), never hand-tuned; also the register
    sum must be mergeable (register-wise MAX is what the query
    aggregates, so two disjoint halves can never LOWER a register)."""
    from cyber_etl_spark.plans import QUERIES

    import math

    row = QUERIES["q312_hll_oracled"].builder(spark, sf_smoke).collect()[0]
    n, m = row["n_exact"], 256
    rse = 1.04 / math.sqrt(m)
    t = n / m
    lc_rse = math.sqrt(m * (math.exp(t) - t - 1)) / n  # linear counting
    assert row["rel_err"] <= 4 * max(rse, lc_rse), row
    assert 0 < row["registers_hit"] <= 256
