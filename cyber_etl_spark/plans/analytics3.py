"""Round-8 analytics additions (q238+): classical multi-group tests
(one-way ANOVA, Kruskal-Wallis), distribution comparison (two-sample
Kolmogorov-Smirnov), and time-series autocorrelation — the remaining
corners of the grouped-statistics family started by q137/q144/q189 and
the rank-statistics family started by q215/q221/q227/q228.

Family ancestry: the reference's workload is exploratory pandas
analytics over event/alert tables (value_counts, groupby().describe(),
notebook eval cells — e.g. data_integration.ipynb's ad-hoc
distribution-profiling); these re-express the same analysis patterns as
declarative, shuffle-conscious Spark plans with exact DuckDB twins.

Float discipline (module contract, same as analytics2): every reported
statistic is derived from EXACT integer/decimal sufficient statistics
(counts, decimal sums, integer rank sums); cross-group sums of
unavoidably-double terms are snapped to a fixed decimal grid per term
and summed exactly, so engine summation order cannot perturb the value;
final divisions run once on identical exact inputs in both engines.
Integer rationals round via the half-away integer-division idiom
(`_ha6` in analytics2) — negative-capable numerators use the
sign-aware CASE form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import artifact
from ..sources import read_table
from .analytics2 import _ha6, _ha6_sql
from .registry import query


@query(
    "q238_anova_f",
    oracle="""
    WITH g AS (
      SELECT o_orderpriority AS grp, COUNT(*) AS n,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS s,
             SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                      * CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(38,4)))
               AS q
      FROM orders GROUP BY 1
    ),
    t AS (
      SELECT COUNT(*) AS k, SUM(n) AS nt,
             SUM(CAST(s*100 AS HUGEINT)) AS stc,
             SUM(CAST(q*10000 AS HUGEINT)) AS qtu4,
             SUM((2*CAST(s*100 AS HUGEINT)*CAST(s*100 AS HUGEINT) + 100*n)
                 // (200*n)) AS sbu
      FROM g
    ),
    f AS (
      SELECT k, nt, sbu,
             sbu - (2*stc*stc + 100*nt) // (200*nt) AS ssbu,
             (qtu4 + 50) // 100 - sbu AS sswu
      FROM t
    )
    SELECT CAST(k AS BIGINT) AS k, CAST(nt AS BIGINT) AS n,
           CAST(ssbu AS DOUBLE) / 100 AS ssb,
           CAST(sswu AS DOUBLE) / 100 AS ssw,
           CAST((2*ssbu*(nt-k)*1000000 + sswu*(k-1))
                // (2*sswu*(k-1)) AS DOUBLE) / 1000000 AS f_stat
    FROM f
    """,
    tags=("stats", "anova", "grouped"),
)
def q238_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F of order price across the five order priorities:
    between/within sums of squares from per-group sufficient statistics
    (n, exact DECIMAL sum, exact DECIMAL sum of squares) — one groupBy
    pass with map-side partials, then a 5-row rollup; no row ever
    carries more than its own contribution, the distributed shape of
    every moment statistic in this repo (q137/q144/q189 family).

    Exactness: sums of squares never pass through doubles at all —
    a double snap is MEANINGLESS here because s²/n ≈ 1e15 already at
    sf0.01, where a double's ULP (0.25) exceeds a 1e-6 grid, and the
    two engines materialize different decimals from the same "rounded"
    double (the sf0.01 lesson that produced this form).  Instead s
    stays in integer CENTS (sc = s·100) and every term is half-away
    integer division on a 1e-2-dollar² unit grid — 1e-6 units would
    overflow the int64 `div` QUOTIENT at sf0.1 group sums (Spark's
    decimal `div` yields BIGINT and wraps silently outside ANSI mode,
    the second sf0.01 lesson): term = (2·sc² + 100n) div (200n);
    ssb/ssw are exact integer unit differences and F is one more exact
    integer rational, half-away at 6 dp with DECIMAL(38,0)/HUGEINT
    numerators.  Remaining bound: the unit quotient sc²/(100n) re-hits
    int64 at ~9e9 dollars of mean order value × group size — per-group
    revenue beyond ~1e13 dollars needs a 1e0 grid, one constant."""
    o = read_table(spark, sf_dir, "orders")
    yd = F.col("o_totalprice").cast("decimal(18,2)")
    g = o.groupBy(F.col("o_orderpriority").alias("grp")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(yd).alias("s"),
        F.sum((yd * yd).cast("decimal(38,4)")).alias("q"),
    )
    t = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("nt"),
        F.sum(F.expr("CAST(s*100 AS DECIMAL(38,0))")).alias("stc"),
        F.sum(F.expr("CAST(q*10000 AS DECIMAL(38,0))")).alias("qtu4"),
        F.sum(
            F.expr(
                "CAST((2*CAST(s*100 AS DECIMAL(38,0))"
                "*CAST(s*100 AS DECIMAL(38,0))"
                " + 100*n) div (200*n) AS DECIMAL(38,0))"
            )
        ).alias("sbu"),
    )
    f = t.select(
        "k",
        "nt",
        "sbu",
        F.expr(
            "sbu - CAST((2*stc*stc + 100*nt) div (200*nt) AS DECIMAL(38,0))"
        ).alias("ssbu"),
        F.expr("CAST((qtu4 + 50) div 100 AS DECIMAL(38,0)) - sbu").alias(
            "sswu"
        ),
    )
    return f.select(
        F.col("k").cast("long").alias("k"),
        F.col("nt").cast("long").alias("n"),
        (F.col("ssbu").cast("double") / 100).alias("ssb"),
        (F.col("sswu").cast("double") / 100).alias("ssw"),
        (
            F.expr(
                "(2*ssbu*(nt-k)*1000000 + sswu*(k-1))"
                " div (2*sswu*(k-1))"
            ).cast("double")
            / 1_000_000
        ).alias("f_stat"),
    )


@query(
    "q239_ks_test",
    oracle="""
    WITH s AS (
      SELECT value,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS n1,
             SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS n2
      FROM events
      WHERE event_type IN ('purchase', 'view') AND value IS NOT NULL
      GROUP BY 1
    ),
    c AS (
      SELECT value,
             SUM(n1) OVER (ORDER BY value) AS cum1,
             SUM(n2) OVER (ORDER BY value) AS cum2
      FROM s
    ),
    t AS (SELECT SUM(n1) AS na, SUM(n2) AS nb FROM s),
    d AS (
      SELECT value, na, nb,
             ABS(CAST(cum1 AS HUGEINT)*nb - CAST(cum2 AS HUGEINT)*na) AS dnum
      FROM c, t
    )
    SELECT value AS at_value, CAST(na AS BIGINT) AS n_a,
           CAST(nb AS BIGINT) AS n_b,
           CAST((2*dnum*1000000 + CAST(na AS HUGEINT)*nb)
                // (2*CAST(na AS HUGEINT)*nb) AS DOUBLE) / 1000000 AS ks_d
    FROM d ORDER BY dnum DESC, value ASC LIMIT 1
    """,
    tags=("stats", "distribution", "prefix-kernel"),
)
def q239_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between the purchase and
    view value distributions: D = max over the pooled support of
    |ECDF_a - ECDF_b|, reported with the value where the supremum is
    attained (smallest such value on ties — a deterministic total
    order).

    Scale plan: aggregate to the distinct-value table first (one
    shuffle), then BOTH cumulative counts come from ONE pass of the
    multi-spec prefix kernel (operators/prefix.running_totals) — no
    single-task whole-table window, per-partition memory, the q221
    shape.  The supremum is a TakeOrdered limit(1), not a global sort.
    Exactness: D's numerator |cum1·nb - cum2·na| and denominator na·nb
    are exact integers (DECIMAL(38,0)/HUGEINT widened — the product
    overflows int64 once both samples pass ~3e9 rows), so the 6-dp
    result is the half-away integer division of identical integers in
    both engines."""
    from ..operators.prefix import running_totals

    ev = read_table(spark, sf_dir, "events")
    s = (
        ev.where(
            F.col("event_type").isin("purchase", "view")
            & F.col("value").isNotNull()
        )
        .groupBy("value")
        .agg(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("n1"),
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias(
                "n2"
            ),
        )
    )
    c = running_totals(s, [("n1", "cum1"), ("n2", "cum2")], order_cols=["value"])
    t = s.agg(F.sum("n1").alias("na"), F.sum("n2").alias("nb"))
    d = c.crossJoin(F.broadcast(t)).withColumn(
        "dnum",
        F.expr(
            "ABS(CAST(cum1 AS DECIMAL(38,0))*nb - CAST(cum2 AS DECIMAL(38,0))*na)"
        ),
    )
    return (
        d.orderBy(F.col("dnum").desc(), F.col("value").asc())
        .limit(1)
        .select(
            F.col("value").alias("at_value"),
            F.col("na").cast("long").alias("n_a"),
            F.col("nb").cast("long").alias("n_b"),
            (
                F.expr(
                    "(2*dnum*1000000 + CAST(na AS DECIMAL(38,0))*nb)"
                    " div (2*CAST(na AS DECIMAL(38,0))*nb)"
                ).cast("double")
                / 1_000_000
            ).alias("ks_d"),
        )
    )


@query(
    "q240_kruskal_wallis",
    oracle="""
    WITH sv AS (
      SELECT value, COUNT(*) AS n FROM events
      WHERE value IS NOT NULL GROUP BY 1
    ),
    c AS (
      SELECT value, n, SUM(n) OVER (ORDER BY value) AS cum FROM sv
    ),
    svt AS (
      SELECT value, event_type, COUNT(*) AS ng FROM events
      WHERE value IS NOT NULL GROUP BY 1, 2
    ),
    pg AS (
      SELECT event_type,
             SUM(ng) AS n_g,
             SUM(CAST(ng AS HUGEINT)*(2*c.cum - c.n + 1)) AS two_r
      FROM svt JOIN c USING (value) GROUP BY 1
    ),
    tt AS (
      SELECT SUM(n_g) AS nt, COUNT(*) AS k,
             SUM((2*CAST(two_r AS HUGEINT)*two_r + n_g)
                 // (2*CAST(n_g AS HUGEINT))) AS su
      FROM pg
    ),
    tie AS (
      SELECT SUM(CAST(n AS HUGEINT)*n*n - n) AS tsum FROM sv
    ),
    h AS (
      SELECT nt, k,
             3.0*CAST(su AS DOUBLE)
               / (CAST(nt AS DOUBLE)*(nt+1)) - 3.0*(nt+1) AS h_stat,
             1.0 - CAST(tsum AS DOUBLE)
                     / (CAST(nt AS DOUBLE)*nt*nt - nt) AS cf
      FROM tt, tie
    )
    SELECT CAST(k AS BIGINT) AS k, CAST(nt AS BIGINT) AS n,
           round(h_stat, 6) AS h_stat,
           round(h_stat / cf, 6) AS h_tie_corrected
    FROM h
    """,
    tags=("stats", "rank", "prefix-kernel"),
)
def q240_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H across the five event types on ``value`` —
    the nonparametric ANOVA, with exact average-rank tie handling and
    the standard tie-correction factor.

    Scale plan: ranks are never materialized per row (the q215/q227
    discipline).  The distinct-value table gets ONE global running
    count via the prefix kernel; the per-(value, type) count table
    joins it to produce exact integer doubled rank sums
    2R_g = Σ ng·(2·cum - n + 1).  Everything after is k-row arithmetic.
    Exactness: per-group H terms are snapped to QUARTER-units —
    su = Σ ha((2R_g)² / n_g) = 4·Σ R_g²/n_g exactly, so
    H = 3·su/(N(N+1)) − 3(N+1) assembles in doubles from identical
    exact inputs (a 1e-6 grid here is both meaningless — su ~ n_g·N²
    dwarfs it — and an int64 `div`-QUOTIENT overflow at sf0.1, the
    q238 lesson, found when the bench first ran this at 600k rows;
    ANSI mode turned the silent wrap into a long-overflow error).
    Remaining bound: the quotient (2R_g)²/n_g ≈ n_g·N² re-hits int64
    at N ≈ 2.4e6 ranked rows per run — beyond that, coarsen the grid
    by powers of 4 (one constant).  The r8 review also fixed a 4×
    coefficient error (3·ΣR²/n, not 12) that the hash gate could never
    catch — both engines shared it; the independent replay test in
    tests/test_round8_ops.py now pins H against per-row average ranks."""
    from ..operators.prefix import running_total

    ev = read_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    sv = ev.groupBy("value").agg(F.count(F.lit(1)).alias("n"))
    c = running_total(sv, "n", order_cols=["value"], out_col="cum")
    svt = ev.groupBy("value", "event_type").agg(F.count(F.lit(1)).alias("ng"))
    pg = (
        svt.join(c, "value")
        .groupBy("event_type")
        .agg(
            F.sum("ng").alias("n_g"),
            F.sum(
                F.expr(
                    "CAST(ng AS DECIMAL(38,0))*(2*cum - n + 1)"
                )
            ).alias("two_r"),
        )
    )
    tt = pg.agg(
        F.sum("n_g").alias("nt"),
        F.count(F.lit(1)).alias("k"),
        F.sum(
            F.expr(
                "(2*CAST(two_r AS DECIMAL(38,0))*two_r + n_g)"
                " div (2*CAST(n_g AS DECIMAL(38,0)))"
            )
        ).alias("su"),
    )
    tie = sv.agg(
        F.sum(F.expr("CAST(n AS DECIMAL(38,0))*n*n - n")).alias("tsum")
    )
    h = tt.crossJoin(F.broadcast(tie)).select(
        "nt",
        "k",
        (
            3.0
            * F.col("su").cast("double")
            / (F.col("nt").cast("double") * (F.col("nt") + 1))
            - 3.0 * (F.col("nt") + 1)
        ).alias("h_stat"),
        (
            1.0
            - F.col("tsum").cast("double")
            / (
                F.col("nt").cast("double") * F.col("nt") * F.col("nt")
                - F.col("nt")
            )
        ).alias("cf"),
    )
    return h.select(
        F.col("k").cast("long").alias("k"),
        F.col("nt").cast("long").alias("n"),
        F.round("h_stat", 6).alias("h_stat"),
        F.round(F.col("h_stat") / F.col("cf"), 6).alias("h_tie_corrected"),
    )


@query(
    "q241_acf",
    oracle="""
    WITH g AS (
      SELECT CAST(ts AS DATE) AS day, COUNT(*) AS x
      FROM events GROUP BY 1
    ),
    t AS (SELECT COUNT(*) AS nd, SUM(x) AS s FROM g),
    p AS (
      SELECT b.day - a.day AS k, COUNT(*) AS n_pairs,
             SUM((CAST(nd AS HUGEINT)*a.x - s)
                 * (CAST(nd AS HUGEINT)*b.x - s)) AS num
      FROM g a JOIN t ON TRUE
      JOIN g b ON b.day >= a.day AND b.day <= a.day + 14
      GROUP BY 1
    ),
    den AS (
      SELECT SUM((CAST(nd AS HUGEINT)*x - s)
                 * (CAST(nd AS HUGEINT)*x - s)) AS den
      FROM g, t
    )
    SELECT CAST(k AS INT) AS lag_days, CAST(n_pairs AS BIGINT) AS n_pairs,
           CAST(CASE WHEN num >= 0
                     THEN (2*num*1000000 + den.den) // (2*den.den)
                     ELSE -((2*(-num)*1000000 + den.den) // (2*den.den)) END
                AS DOUBLE) / 1000000 AS acf
    FROM p, den
    """,
    tags=("timeseries", "acf", "agg-grid"),
)
def q241_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the daily event-count series at calendar-day
    lags 0..14: r_k = Σ (x_t - x̄)(x_{t+k} - x̄) / Σ (x_t - x̄)², summed
    over day pairs exactly k days apart — the seasonality screen that
    complements the explicit decomposition (q213) and change-point
    (q216) members of the time-series family.

    Scale plan: events aggregate to the per-DAY grid first (bounded by
    the calendar, the q216/q213 convention); the lag pairing is an
    EQUI-join on day = day + k after exploding the 15 lag offsets —
    no range/nested-loop join, no per-row work proportional to the lag
    count before aggregation.  Exactness: both sides are centered by
    multiplying through by the day count (nd·x - S is an exact
    integer), so numerator and denominator are exact integer sums;
    the final ratio is the sign-aware half-away 6-dp integer division
    (negative autocorrelations), DECIMAL(38,0)/HUGEINT-widened — the
    centered product reaches (nd·x_max)² ≈ 1e28 already at web-scale
    daily volumes."""
    ev = read_table(spark, sf_dir, "events")
    g = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("x")
    )
    t = g.agg(F.count(F.lit(1)).alias("nd"), F.sum("x").alias("s"))
    a = (
        g.crossJoin(F.broadcast(t))
        .withColumn("k", F.explode(F.sequence(F.lit(0), F.lit(14))))
        .select(
            F.date_add(F.col("day"), F.col("k")).alias("bday"),
            F.col("k"),
            F.expr("CAST(nd AS DECIMAL(38,0))*x - s").alias("ca"),
        )
    )
    b = g.crossJoin(F.broadcast(t)).select(
        F.col("day").alias("bday"),
        F.expr("CAST(nd AS DECIMAL(38,0))*x - s").alias("cb"),
    )
    p = (
        a.join(b, "bday")
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.expr("ca*cb")).alias("num"),
        )
    )
    den = g.crossJoin(F.broadcast(t)).agg(
        F.sum(
            F.expr(
                "(CAST(nd AS DECIMAL(38,0))*x - s)"
                "*(CAST(nd AS DECIMAL(38,0))*x - s)"
            )
        ).alias("den")
    )
    return p.crossJoin(F.broadcast(den)).select(
        F.col("k").cast("int").alias("lag_days"),
        F.col("n_pairs").cast("long").alias("n_pairs"),
        (
            F.expr(
                "CASE WHEN num >= 0"
                " THEN (2*num*1000000 + den) div (2*den)"
                " ELSE -((2*(-num)*1000000 + den) div (2*den)) END"
            ).cast("double")
            / 1_000_000
        ).alias("acf"),
    )


@query(
    "q242_zipf_slope",
    oracle="""
    WITH v AS (
      SELECT w, COUNT(*) AS freq FROM (
        SELECT unnest(list_filter(string_split(text, ' '), x -> x <> ''))
          AS w
        FROM documents
      ) GROUP BY 1
    ),
    top AS (
      SELECT w, freq FROM v ORDER BY freq DESC, w ASC LIMIT 1000
    ),
    r AS (
      SELECT freq, ROW_NUMBER() OVER (ORDER BY freq DESC, w ASC) AS rnk
      FROM top
    ),
    pts AS (
      SELECT CAST(round(ln(CAST(rnk AS DOUBLE)), 12) AS DECIMAL(20,12)) AS x,
             CAST(round(ln(CAST(freq AS DOUBLE)), 12) AS DECIMAL(20,12)) AS y
      FROM r
    ),
    s AS (
      SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x*x) AS sxx, SUM(x*y) AS sxy
      FROM pts
    )
    SELECT CAST(n AS BIGINT) AS n_points,
           round((n*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
                 / (n*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)),
                 6) AS zipf_slope,
           round((CAST(sy AS DOUBLE)
                  - ((n*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
                     / (n*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)))
                    * CAST(sx AS DOUBLE)) / n, 6) AS intercept
    FROM s
    """,
    tags=("text", "zipf", "ols", "prefix-kernel"),
)
def q242_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus unigram distribution: OLS slope of
    ln(freq) against ln(rank) over the top-1000 vocabulary — the
    classic power-law diagnostic for a training corpus (a healthy
    natural-language crawl sits near slope −1; template/boilerplate
    corpora flatten).  Joins q78 (vocab build) and q204 (Gopher rules)
    in the corpus-statistics family.

    Scale plan: the vocabulary aggregate is the only corpus-scale
    shuffle; the top-1000 cut is a TakeOrdered (no global sort), and
    ranks come from the prefix kernel over the 1000-row survivor table
    (global_ranks — no bare whole-table window, the audit invariant).
    Float discipline: x/y are ln() of small integers, snapped at 12 dp
    and accumulated as DECIMAL(20,12) with exact decimal products
    (q77's snap-then-sum), so the 1000-term summation order cannot
    perturb the five sufficient statistics; the closed-form slope /
    intercept divisions then run once on identical exact inputs (the
    q189 OLS shape)."""
    from ..operators.prefix import global_ranks

    docs = read_table(spark, sf_dir, "documents")
    from ..functions.text import tokens as tok_expr

    v = (
        docs.select(F.explode(tok_expr(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    top = v.orderBy(F.col("freq").desc(), F.col("w").asc()).limit(1000)
    top = top.withColumn("negf", -F.col("freq"))
    r = global_ranks(top, order_cols=["negf", "w"], rn_col="rnk")
    pts = r.select(
        F.round(F.log(F.col("rnk").cast("double")), 12)
        .cast("decimal(20,12)")
        .alias("x"),
        F.round(F.log(F.col("freq").cast("double")), 12)
        .cast("decimal(20,12)")
        .alias("y"),
    )
    s = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("x*x")).alias("sxx"),
        F.sum(F.expr("x*y")).alias("sxy"),
    )
    n = F.col("n")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, sxy = F.col("sxx").cast("double"), F.col("sxy").cast("double")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return s.select(
        n.cast("long").alias("n_points"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
    )


def _stoplist_sql() -> str:
    """The EN_STOPWORDS tuple as a SQL IN-list literal — generated from
    the same Python constant the Spark builder uses, so the two engines
    can never disagree on the phrase-boundary vocabulary."""
    from ..functions.text import EN_STOPWORDS

    return ", ".join(f"'{w}'" for w in EN_STOPWORDS)


_Q243_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
      FROM documents
    ),
    pos AS (
      SELECT doc_id, i, t[i] AS w,
             t[i] IN ({_stoplist_sql()}) AS stop
      FROM toks, unnest(range(1, len(t) + 1)) AS r(i)
    ),
    isl AS (
      SELECT doc_id, i, w,
             i - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS grp
      FROM pos WHERE NOT stop
    ),
    phr AS (
      SELECT doc_id, grp, string_agg(w, ' ' ORDER BY i) AS phrase,
             COUNT(*) AS plen
      FROM isl GROUP BY 1, 2
    ),
    ph AS (SELECT phrase, plen FROM phr WHERE plen <= 4),
    pw AS (
      SELECT phrase, plen, unnest(string_split(phrase, ' ')) AS w FROM ph
    ),
    ws AS (
      SELECT w, COUNT(*) AS freq, SUM(plen) AS deg FROM pw GROUP BY 1
    ),
    wu AS (
      SELECT w, (2*CAST(deg AS HUGEINT)*1000000 + freq) // (2*freq) AS su
      FROM ws
    ),
    psc AS (
      SELECT pw.phrase, SUM(wu.su) AS score_u
      FROM (SELECT DISTINCT phrase FROM ph) d
      JOIN pw ON pw.phrase = d.phrase
      JOIN wu ON wu.w = pw.w
      GROUP BY 1
    ),
    pcnt AS (SELECT phrase, COUNT(*) AS n_occurrences FROM ph GROUP BY 1)
    SELECT p.phrase, pcnt.n_occurrences,
           CAST(p.score_u AS DOUBLE) / 1000000 AS rake_score
    FROM psc p JOIN pcnt ON pcnt.phrase = p.phrase
    ORDER BY p.score_u DESC, p.phrase ASC LIMIT 50
"""


@query("q243_rake_keyphrases", oracle=_Q243_ORACLE, tags=("text", "keyphrase"))
def q243_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction over the corpus: candidate phrases are
    maximal stopword-free token runs (gaps-and-islands over token
    positions, phrases capped at 4 tokens), each word scored
    degree/frequency over the candidate set, each phrase scored as the
    sum of its word scores — the classic unsupervised keyword extractor,
    here as a fully distributed plan (completes the text-mining family
    next to PMI collocations q170/q237 and BM25 q67).

    Scale plan: posexplode → per-DOC island window (doc_id is the
    high-cardinality partition key — audit-safe) → two corpus-wide
    hash aggregations (word stats, phrase scores) and a broadcast-able
    word-score join; the top-50 is a TakeOrdered.  Exactness: the only
    rational, deg/freq, becomes half-away integer micro-units per WORD
    ((2·deg·1e6 + freq) div (2·freq)); phrase scores are exact integer
    sums of those units, so ranking and the reported score are
    integer-deterministic in both engines (phrase text breaks ties).

    Grid budget: deg is widened to DECIMAL(38,0); the quotient <= 1e6*max-degree (per-doc token counts), bounded."""
    from ..functions.text import EN_STOPWORDS, tokens as tok_expr
    from pyspark.sql.window import Window

    docs = read_table(spark, sf_dir, "documents")
    pos = docs.select(
        "doc_id", F.posexplode(tok_expr(F.col("text"))).alias("i0", "w")
    ).withColumn("i", F.col("i0") + 1)
    stops = F.array(*[F.lit(s) for s in EN_STOPWORDS])
    isl = pos.where(~F.array_contains(stops, F.col("w"))).withColumn(
        "grp",
        F.col("i")
        - F.row_number().over(Window.partitionBy("doc_id").orderBy("i")),
    )
    phr = (
        isl.groupBy("doc_id", "grp")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "w"))),
                    lambda s: s["w"],
                ),
                " ",
            ).alias("phrase"),
            F.count(F.lit(1)).alias("plen"),
        )
        .where(F.col("plen") <= 4)
        .select("phrase", "plen")
    )
    pw = phr.select(
        "phrase", "plen", F.explode(F.split(F.col("phrase"), " ")).alias("w")
    )
    ws = pw.groupBy("w").agg(
        F.count(F.lit(1)).alias("freq"), F.sum("plen").alias("deg")
    )
    wu = ws.select(
        "w",
        F.expr(
            "(2*CAST(deg AS DECIMAL(38,0))*1000000 + freq) div (2*freq)"
        ).alias("su"),
    )
    dph = phr.select("phrase").distinct()
    psc = (
        dph.join(pw.select("phrase", "w"), "phrase")
        .join(wu, "w")
        .groupBy("phrase")
        .agg(F.sum("su").alias("score_u"))
    )
    pcnt = phr.groupBy("phrase").agg(F.count(F.lit(1)).alias("n_occurrences"))
    return (
        psc.join(pcnt, "phrase")
        .orderBy(F.col("score_u").desc(), F.col("phrase").asc())
        .limit(50)
        .select(
            "phrase",
            "n_occurrences",
            (F.col("score_u").cast("double") / 1_000_000).alias("rake_score"),
        )
    )


@query(
    "q244_js_divergence",
    oracle="""
    WITH c AS (
      SELECT source, w, COUNT(*) AS c FROM (
        SELECT source,
               unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
        FROM documents
      ) GROUP BY 1, 2
    ),
    n AS (SELECT source, SUM(c) AS n FROM c GROUP BY 1),
    sh AS (
      SELECT a.source AS s1, b.source AS s2, a.c AS c1, b.c AS c2,
             na.n AS n1, nb.n AS n2
      FROM c a JOIN c b ON a.w = b.w AND a.source < b.source
      JOIN n na ON na.source = a.source
      JOIN n nb ON nb.source = b.source
    ),
    t AS (
      SELECT s1, s2, ANY_VALUE(n1) AS n1, ANY_VALUE(n2) AS n2,
             SUM(c1) AS c1s, SUM(c2) AS c2s,
             SUM(CAST(round((CAST(c1 AS DOUBLE)/n1)
                   * ln(2.0*c1*n2 / (CAST(c1 AS DOUBLE)*n2 + CAST(c2 AS DOUBLE)*n1)),
                   12) AS DECIMAL(20,12))) AS ta,
             SUM(CAST(round((CAST(c2 AS DOUBLE)/n2)
                   * ln(2.0*c2*n1 / (CAST(c1 AS DOUBLE)*n2 + CAST(c2 AS DOUBLE)*n1)),
                   12) AS DECIMAL(20,12))) AS tb
      FROM sh GROUP BY 1, 2
    )
    SELECT s1 AS source_a, s2 AS source_b,
           round(0.5*(CAST(ta AS DOUBLE)
                      + ln(2.0)*(1.0 - CAST(c1s AS DOUBLE)/n1))
                 + 0.5*(CAST(tb AS DOUBLE)
                        + ln(2.0)*(1.0 - CAST(c2s AS DOUBLE)/n2)), 6)
             AS js_divergence
    FROM t ORDER BY 1, 2
    """,
    tags=("text", "divergence", "drift"),
)
def q244_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between the unigram distributions of
    every pair of sources — the symmetric, bounded corpus-drift measure
    that complements PSI (q149) and the embedding-space drift monitor
    (q174); the standard report when deciding source mixing weights.

    Scale plan: ONE corpus-scale aggregation to (source, word) counts;
    the pair stage is a word-keyed self-join whose fan-out per word is
    bounded by the source count (≤ S² pairs per word, S fixed), then a
    10-row rollup — no per-pair rescan of the corpus.  Words present in
    only one distribution contribute exactly p·ln2, folded in CLOSED
    FORM from the shared-mass totals (ln2·(1 − Σ_shared p)) instead of
    materializing the one-sided anti-joins.  Float discipline: each
    shared-word term is ln() of an exact integer rational times an
    exact rational, snapped at 12 dp and summed as DECIMAL (the q77
    discipline — 6 dp would zero out sub-1e-6 vocabulary-tail terms);
    the shared masses Σc are exact integers, so the final assembly runs
    on identical exact inputs."""
    from ..functions.text import tokens as tok_expr

    docs = read_table(spark, sf_dir, "documents")
    c = (
        docs.select(
            "source", F.explode(tok_expr(F.col("text"))).alias("w")
        )
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n = c.groupBy("source").agg(F.sum("c").alias("n"))
    a = c.select(
        F.col("source").alias("s1"), "w", F.col("c").alias("c1")
    ).join(
        F.broadcast(n.select(F.col("source").alias("s1"), F.col("n").alias("n1"))),
        "s1",
    )
    b = c.select(
        F.col("source").alias("s2"), "w", F.col("c").alias("c2")
    ).join(
        F.broadcast(n.select(F.col("source").alias("s2"), F.col("n").alias("n2"))),
        "s2",
    )
    sh = a.join(b, "w").where(F.col("s1") < F.col("s2"))
    ta = F.sum(
        F.round(
            (F.col("c1").cast("double") / F.col("n1"))
            * F.log(
                2.0
                * F.col("c1")
                * F.col("n2")
                / (
                    F.col("c1").cast("double") * F.col("n2")
                    + F.col("c2").cast("double") * F.col("n1")
                )
            ),
            12,
        ).cast("decimal(20,12)")
    )
    tb = F.sum(
        F.round(
            (F.col("c2").cast("double") / F.col("n2"))
            * F.log(
                2.0
                * F.col("c2")
                * F.col("n1")
                / (
                    F.col("c1").cast("double") * F.col("n2")
                    + F.col("c2").cast("double") * F.col("n1")
                )
            ),
            12,
        ).cast("decimal(20,12)")
    )
    t = sh.groupBy("s1", "s2").agg(
        F.any_value("n1").alias("n1"),
        F.any_value("n2").alias("n2"),
        F.sum("c1").alias("c1s"),
        F.sum("c2").alias("c2s"),
        ta.alias("ta"),
        tb.alias("tb"),
    )
    ln2 = F.log(F.lit(2.0))
    return t.select(
        F.col("s1").alias("source_a"),
        F.col("s2").alias("source_b"),
        F.round(
            0.5
            * (
                F.col("ta").cast("double")
                + ln2 * (1.0 - F.col("c1s").cast("double") / F.col("n1"))
            )
            + 0.5
            * (
                F.col("tb").cast("double")
                + ln2 * (1.0 - F.col("c2s").cast("double") / F.col("n2"))
            ),
            6,
        ).alias("js_divergence"),
    ).orderBy("source_a", "source_b")


@query(
    "q246_ams_f2_sketch",
    oracle="""
    WITH hh AS (
      SELECT CAST(('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 8))
                  AS BIGINT) AS h
      FROM lineitem
    ),
    est AS (
      SELECT SUM(1 - 2*((h // 1) % 2)) AS sk0,
             SUM(1 - 2*((h // 2) % 2)) AS sk1,
             SUM(1 - 2*((h // 4) % 2)) AS sk2,
             SUM(1 - 2*((h // 8) % 2)) AS sk3,
             SUM(1 - 2*((h // 16) % 2)) AS sk4,
             SUM(1 - 2*((h // 32) % 2)) AS sk5,
             SUM(1 - 2*((h // 64) % 2)) AS sk6,
             SUM(1 - 2*((h // 128) % 2)) AS sk7,
             SUM(1 - 2*((h // 256) % 2)) AS sk8,
             SUM(1 - 2*((h // 512) % 2)) AS sk9,
             SUM(1 - 2*((h // 1024) % 2)) AS sk10,
             SUM(1 - 2*((h // 2048) % 2)) AS sk11,
             SUM(1 - 2*((h // 4096) % 2)) AS sk12,
             SUM(1 - 2*((h // 8192) % 2)) AS sk13,
             SUM(1 - 2*((h // 16384) % 2)) AS sk14,
             SUM(1 - 2*((h // 32768) % 2)) AS sk15
      FROM hh
    ),
    med AS (
      -- median of the 4 group means of 4 estimators each: with an even
      -- count, take the LOWER median (2nd of 4) — deterministic, via a
      -- sorted 4-element list (no window)
      SELECT (list_sort(w))[2] AS ss FROM (
        SELECT [CAST(sk0 AS HUGEINT)*sk0 + CAST(sk1 AS HUGEINT)*sk1 + CAST(sk2 AS HUGEINT)*sk2 + CAST(sk3 AS HUGEINT)*sk3, CAST(sk4 AS HUGEINT)*sk4 + CAST(sk5 AS HUGEINT)*sk5 + CAST(sk6 AS HUGEINT)*sk6 + CAST(sk7 AS HUGEINT)*sk7, CAST(sk8 AS HUGEINT)*sk8 + CAST(sk9 AS HUGEINT)*sk9 + CAST(sk10 AS HUGEINT)*sk10 + CAST(sk11 AS HUGEINT)*sk11, CAST(sk12 AS HUGEINT)*sk12 + CAST(sk13 AS HUGEINT)*sk13 + CAST(sk14 AS HUGEINT)*sk14 + CAST(sk15 AS HUGEINT)*sk15] AS w FROM est
      )
    ),
    exact AS (
      SELECT SUM(CAST(c AS HUGEINT)*c) AS f2 FROM (
        SELECT l_partkey, COUNT(*) AS c FROM lineitem GROUP BY 1
      )
    )
    SELECT CAST(exact.f2 AS BIGINT) AS f2_exact,
           CAST((med.ss + 2) // 4 AS BIGINT) AS f2_estimate,
           CAST((2*ABS(exact.f2*4 - med.ss)*1000000 + exact.f2*4)
                // (2*exact.f2*4) AS DOUBLE) / 1000000 AS rel_err
    FROM exact, med
    """,
    tags=("sketch", "join-cardinality", "exact-rational"),
)
def q246_ams_f2_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS (Alon-Matias-Szegedy) second-frequency-moment sketch of the
    lineitem part key, audited against the exact F2 = Σ freq² — the
    one-pass, O(1)-memory estimator of SELF-JOIN SIZE that a query
    planner consults before picking a join strategy; completes the
    mergeable-sketch family next to HLL (q173), count-min (q224) and
    KLL (q88), and unlike those three it is fully oracled: the ±1 hash
    is md5-derived, so every sketch counter is a deterministic exact
    integer in both engines.

    16 estimators (4 groups × 4) ride ONE map-side aggregation with
    ONE md5 per row — estimator j's ±1 hash is bit j of the key's
    digest (independent functions of the key, and a row's 16 signs cost
    shifts/masks, not 16 digests: the r8 bench found the exploded
    16-md5 form spent 8 s at sf0.1, 6.5 of them hashing); the sketch
    reduces to 16 sums regardless of data size, and sketches of
    partitions/days merge by plain addition (the mergeability that
    makes it a streaming/cube primitive).  Estimate = median of the 4
    group means of sk² (lower median of an even count, deterministic);
    rel_err vs the exact groupBy-count F2 is a half-away 6-dp integer
    rational.  The estimator's variance bound (2·F2²/16 per group mean)
    is Alon-Matias-Szegedy Thm 2.2; the audit row makes the bound
    observable rather than trusted.

    Grid budget: ss and f2 are DECIMAL(38,0) end to end; the rel_err quotient is ~1e6*relative-error (sketch-bounded); f2_estimate's long cast raises under ANSI past int64 (n^2-scale F2 at ~3e9 rows of one key)."""
    li = read_table(spark, sf_dir, "lineitem")
    hh = li.select(
        F.conv(
            F.substring(F.md5(F.col("l_partkey").cast("string")), 1, 8),
            16,
            10,
        )
        .cast("bigint")
        .alias("h")
    )
    est = hh.agg(
        *[
            F.sum(F.expr(f"1 - 2*((h div {1 << j}) % 2)")).alias(f"sk{j}")
            for j in range(16)
        ]
    )
    gss = ", ".join(
        "CAST(sk{a} AS DECIMAL(38,0))*sk{a}"
        " + CAST(sk{b} AS DECIMAL(38,0))*sk{b}"
        " + CAST(sk{c} AS DECIMAL(38,0))*sk{c}"
        " + CAST(sk{d} AS DECIMAL(38,0))*sk{d}".format(
            a=4 * g, b=4 * g + 1, c=4 * g + 2, d=4 * g + 3
        )
        for g in range(4)
    )
    med = est.select(
        F.expr(f"array_sort(array({gss}))[1]").alias("ss")
    )
    exact = (
        li.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.sum(F.expr("CAST(c AS DECIMAL(38,0))*c")).alias("f2"))
    )
    return exact.crossJoin(F.broadcast(med)).select(
        F.col("f2").cast("long").alias("f2_exact"),
        F.expr("(ss + 2) div 4").cast("long").alias("f2_estimate"),
        (
            F.expr(
                "(2*ABS(f2*4 - ss)*1000000 + f2*4) div (2*f2*4)"
            ).cast("double")
            / 1_000_000
        ).alias("rel_err"),
    )


@query(
    "q247_isotonic_calibration",
    oracle="""
    WITH base AS (
      SELECT LEAST(CAST(floor(value/50) AS BIGINT), 9) AS band,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events WHERE value IS NOT NULL
    ),
    bins AS (SELECT band, COUNT(*) AS n, SUM(y) AS k FROM base GROUP BY 1),
    pfx AS (
      SELECT a.band, ANY_VALUE(a.n) AS n, ANY_VALUE(a.k) AS k,
             SUM(b.n) AS cw, SUM(b.k) AS cp
      FROM bins a JOIN bins b ON b.band <= a.band
      GROUP BY a.band
    ),
    pairs AS (
      SELECT j.band AS jb, k2.band AS kb,
             (2*(k2.cp - (j.cp - j.k))*1000000000000
              + (k2.cw - (j.cw - j.n)))
             // (2*(k2.cw - (j.cw - j.n))) AS u12
      FROM pfx j JOIN pfx k2 ON j.band <= k2.band
    ),
    mn AS (
      SELECT i.band, p.jb, MIN(p.u12) AS m
      FROM pfx i JOIN pairs p ON p.jb <= i.band AND p.kb >= i.band
      GROUP BY 1, 2
    ),
    iso AS (SELECT band, MAX(m) AS u12 FROM mn GROUP BY 1)
    SELECT b.band, CAST(b.n AS BIGINT) AS n, CAST(b.k AS BIGINT) AS k,
           CAST((2*b.k*1000000 + b.n) // (2*b.n) AS DOUBLE) / 1000000
             AS rate,
           CAST((2*i.u12 + 1000000) // 2000000 AS DOUBLE) / 1000000
             AS iso_rate
    FROM bins b JOIN iso i ON i.band = b.band
    ORDER BY b.band
    """,
    tags=("ml-eval", "calibration", "isotonic"),
)
def q247_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (PAV) calibration of the banded purchase-rate model —
    the monotone-regression fit of empirical purchase rate over score
    bands, via the minimax identity iso_i = max_{j≤i} min_{k≥i}
    avg(y over bands j..k): the closed form of pool-adjacent-violators
    that needs no sequential pooling loop.  Completes the calibration
    corner opened by q234 (ECE measures miscalibration; this REPAIRS
    it, the standard post-hoc recalibrator).

    Scale plan: ONE corpus-scale aggregation to ≤10 (band, n, k) rows;
    everything after — prefix sums, the O(B²) pair table, the O(B³)
    minimax join — is bounded by the band count, broadcast-sized by
    construction, and WINDOWLESS (prefixes via a tiny self-join, so the
    single-task-window audit has nothing to flag).  Exactness: every
    interval average is an exact integer rational (prefix-count
    differences); candidates are snapped to half-away 1e-12 integer
    units BEFORE min/max (comparison of snapped units is deterministic
    and 1e-12 cannot reorder rates that differ at the 1e-6 grid), and
    the final 6-dp re-snap is one more integer division."""
    ev = read_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    base = ev.select(
        F.least(F.floor(F.col("value") / 50), F.lit(9)).cast("long").alias(
            "band"
        ),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    bins = (
        base.groupBy("band")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("k"))
        .localCheckpoint(eager=True)  # ≤10 rows; feeds 4 consumers
    )
    b2 = bins.select(
        F.col("band").alias("b2"), F.col("n").alias("n2"), F.col("k").alias("k2")
    )
    pfx = (
        bins.join(F.broadcast(b2), F.col("b2") <= F.col("band"))
        .groupBy("band")
        .agg(
            F.any_value("n").alias("n"),
            F.any_value("k").alias("k"),
            F.sum("n2").alias("cw"),
            F.sum("k2").alias("cp"),
        )
    )
    pj = pfx.select(
        F.col("band").alias("jb"),
        (F.col("cp") - F.col("k")).alias("epj"),
        (F.col("cw") - F.col("n")).alias("ewj"),
    )
    pk = pfx.select(
        F.col("band").alias("kb"), F.col("cp").alias("cpk"), F.col("cw").alias("cwk")
    )
    pairs = pj.join(F.broadcast(pk), F.col("jb") <= F.col("kb")).select(
        "jb",
        "kb",
        F.expr(
            "(2*CAST(cpk - epj AS DECIMAL(38,0))*1000000000000"
            " + (cwk - ewj)) div (2*CAST(cwk - ewj AS DECIMAL(38,0)))"
        ).alias("u12"),
    )
    ib = pfx.select(F.col("band").alias("ib"))
    mn = (
        ib.join(
            F.broadcast(pairs),
            (F.col("jb") <= F.col("ib")) & (F.col("kb") >= F.col("ib")),
        )
        .groupBy("ib", "jb")
        .agg(F.min("u12").alias("m"))
    )
    iso = mn.groupBy("ib").agg(F.max("m").alias("u12"))
    return (
        bins.join(F.broadcast(iso), F.col("ib") == F.col("band"))
        .select(
            "band",
            F.col("n").cast("long").alias("n"),
            F.col("k").cast("long").alias("k"),
            _ha6("k", "n").alias("rate"),
            (
                F.expr("(2*u12 + 1000000) div 2000000").cast("double")
                / 1_000_000
            ).alias("iso_rate"),
        )
        .orderBy("band")
    )


_Q248_SQL = """
    WITH RECURSIVE d AS (
      SELECT CAST(ts AS DATE) AS day, COUNT(*) AS x
      FROM events GROUP BY 1
    ),
    i AS (
      SELECT ROW_NUMBER() OVER (ORDER BY day) AS t, CAST(x AS DOUBLE) AS x
      FROM d
    ),
    rec(t, l, b) AS (
      SELECT 1, x1.x, x2.x - x1.x
      FROM i x1 JOIN i x2 ON x1.t = 1 AND x2.t = 2
      UNION ALL
      SELECT r.t + 1,
             0.5*i.x + 0.5*(r.l + r.b),
             0.5*((0.5*i.x + 0.5*(r.l + r.b)) - r.l) + 0.5*r.b
      FROM rec r JOIN i ON i.t = r.t + 1
    ),
    last AS (
      SELECT l, b, t FROM rec WHERE t = (SELECT MAX(t) FROM rec)
    )
    SELECT h.h AS horizon, CAST(last.t AS BIGINT) AS n_days,
           round(last.l, 6) AS level,
           round(last.b, 6) AS trend,
           round(last.l + h.h * last.b, 6) AS forecast
    FROM last CROSS JOIN (VALUES (1),(2),(3),(4),(5),(6),(7)) AS h(h)
    ORDER BY horizon
"""


@query(
    "q248_holt_forecast",
    oracle=_Q248_SQL,
    tags=("timeseries", "forecast", "sql", "recursive"),
)
def q248_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend exponential smoothing of the daily event
    series (α = β = 1/2), with a 7-day-ahead forecast fan — the
    double-smoothing forecaster that joins the seasonal-naive backtest
    (q183), classical decomposition (q213) and EWMA (q155) in the
    forecasting family, expressed as ONE recursive SQL query whose
    IDENTICAL text runs on both engines (the q207/q57 discipline).

    Scale plan: the corpus-scale work (daily aggregation) is one
    distributed groupBy; the recurrence walks the per-DAY grid —
    bounded by the calendar, the q216/q213 convention — in ONE
    mapInPandas task (operators/forecast.holt_linear_forecast, the
    q223 bounded-state kernel shape).  Spark's own WITH RECURSIVE was
    the first implementation and the measured trap: ~one scheduled
    join round per DAY, 17 s at sf0.1 vs 0.4 s for the kernel — Spark
    recursion is for bounded-DEPTH reachability (q207), never for
    long sequential chains; the DuckDB oracle keeps the recursive-CTE
    text, which is exactly the cross-engine pin on the kernel's walk.
    Exactness: α = β = 0.5 makes every recurrence step a sequence of
    IEEE double ops on identical inputs with an identical expression
    tree — halving and adding are exactly-rounded operations, so both
    engines walk bit-identical (level, trend) trajectories with NO
    per-step snapping needed; the final round(,6) is the
    double-path-safe plain round, applied Spark-side to the kernel's
    unrounded outputs."""
    from ..operators.forecast import holt_linear_forecast

    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("x")
    )
    out = holt_linear_forecast(daily, order_col="day", value_col="x")
    return out.select(
        "horizon",
        "n_days",
        F.round("level", 6).alias("level"),
        F.round("trend", 6).alias("trend"),
        F.round("forecast", 6).alias("forecast"),
    ).orderBy("horizon")


@query(
    "q249_naive_bayes",
    oracle="""
    WITH base AS (
      SELECT doc_id, lang,
             list_filter(string_split(text, ' '), x -> x <> '') AS t,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 5 = 0 AS is_test
      FROM documents
    ),
    trtok AS (
      SELECT lang AS c, unnest(t) AS w FROM base WHERE NOT is_test
    ),
    cls AS (
      SELECT c, COUNT(*) AS tc FROM trtok GROUP BY 1
    ),
    pri AS (
      SELECT lang AS c, COUNT(*) AS nd FROM base WHERE NOT is_test GROUP BY 1
    ),
    v AS (SELECT COUNT(DISTINCT w) AS v FROM trtok),
    ndoc AS (SELECT SUM(nd) AS ntr FROM pri),
    cw AS (
      SELECT c, w, COUNT(*) AS cwc FROM trtok GROUP BY 1, 2
    ),
    lp AS (
      SELECT cw.c, cw.w,
             CAST(round(ln((cwc + 1.0) / (cls.tc + v.v)), 6)
                  AS DECIMAL(18,6))
               - CAST(round(ln(1.0 / (cls.tc + v.v)), 6) AS DECIMAL(18,6))
               AS delta
      FROM cw JOIN cls ON cls.c = cw.c, v
    ),
    tetok AS (
      SELECT doc_id, lang, w, COUNT(*) AS cnt FROM (
        SELECT doc_id, lang, unnest(t) AS w FROM base WHERE is_test
      ) GROUP BY 1, 2, 3
    ),
    ted AS (
      SELECT doc_id, lang, SUM(cnt) AS n_tok FROM tetok GROUP BY 1, 2
    ),
    ov AS (
      SELECT t.doc_id, lp.c, SUM(t.cnt * lp.delta) AS dsum
      FROM tetok t JOIN lp ON lp.w = t.w
      GROUP BY 1, 2
    ),
    sc AS (
      SELECT ted.doc_id, ted.lang, cls.c,
             CAST(round(ln(CAST(pri.nd AS DOUBLE) / ndoc.ntr), 6)
                  AS DECIMAL(18,6))
               + ted.n_tok
                 * CAST(round(ln(1.0 / (cls.tc + v.v)), 6) AS DECIMAL(18,6))
               + COALESCE(ov.dsum, 0) AS score
      FROM ted
      CROSS JOIN cls
      JOIN pri ON pri.c = cls.c
      LEFT JOIN ov ON ov.doc_id = ted.doc_id AND ov.c = cls.c, v, ndoc
    ),
    pred AS (
      SELECT doc_id, lang,
             (list(c ORDER BY score DESC, c ASC))[1] AS pred
      FROM sc GROUP BY 1, 2
    )
    SELECT lang AS true_lang, pred AS pred_lang,
           COUNT(*) AS n_docs
    FROM pred GROUP BY 1, 2 ORDER BY 1, 2
    """,
    tags=("ml", "text", "classifier"),
)
def q249_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes language classifier, trained and scored
    inside the engine: md5-stable 80/20 split, Laplace-smoothed token
    likelihoods from the training split, argmax posterior per test doc,
    reported as the confusion matrix — the classic scalable text
    classifier (one of the few that trains in ONE aggregation pass),
    completing the supervised corner of the ML family next to IRLS
    logistic regression (q222) and label spreading (q235).

    Scale plan: training is two hash aggregations over the exploded
    token stream ((class, word) counts + class totals); scoring never
    expands test tokens × classes — the unseen-word mass is folded in
    closed form (score = prior + n_tok·u_c + Σ_overlap cnt·(logp−u_c)),
    so the only per-class fan-out is k rows per DOC (broadcast class
    table), and the overlap join is word-keyed (the q244 economics).
    Exactness: every log term is snapped at 6 dp to DECIMAL and summed
    exactly (q77's discipline); scores are therefore exact decimals,
    and the argmax breaks ties by class name ascending via a sorted
    (score, class) list — no window, deterministic in both engines."""
    from ..functions.text import tokens as tok_expr

    docs = read_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        "lang",
        tok_expr(F.col("text")).alias("t"),
        (
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
                16,
                10,
            ).cast("bigint")
            % 5
            == 0
        ).alias("is_test"),
    # pinned: the full-text tokenize feeds five consumers (class totals,
    # priors, vocabulary, (class, word) counts, test tokens) and Spark
    # has no cross-consumer CSE — each re-ran the tokenize (the
    # q192/q374 shared-fan-out pin rule)
    ).localCheckpoint(eager=True)
    trtok = base.where(~F.col("is_test")).select(
        F.col("lang").alias("c"), F.explode("t").alias("w")
    )
    cls = trtok.groupBy("c").agg(F.count(F.lit(1)).alias("tc"))
    pri = (
        base.where(~F.col("is_test"))
        .groupBy(F.col("lang").alias("c"))
        .agg(F.count(F.lit(1)).alias("nd"))
    )
    v = trtok.agg(F.count_distinct("w").alias("v"))
    ndoc = pri.agg(F.sum("nd").alias("ntr"))
    cw = trtok.groupBy("c", "w").agg(F.count(F.lit(1)).alias("cwc"))
    lp = (
        cw.join(F.broadcast(cls), "c")
        .crossJoin(F.broadcast(v))
        .select(
            "c",
            "w",
            (
                F.round(F.log((F.col("cwc") + 1.0) / (F.col("tc") + F.col("v"))), 6)
                .cast("decimal(18,6)")
                - F.round(F.log(1.0 / (F.col("tc") + F.col("v"))), 6)
                .cast("decimal(18,6)")
            ).alias("delta"),
        )
    )
    tetok = (
        base.where(F.col("is_test"))
        .select("doc_id", "lang", F.explode("t").alias("w"))
        .groupBy("doc_id", "lang", "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    ted = tetok.groupBy("doc_id", "lang").agg(F.sum("cnt").alias("n_tok"))
    ov = (
        tetok.join(lp, "w")
        .groupBy("doc_id", "c")
        .agg(F.sum(F.col("cnt") * F.col("delta")).alias("dsum"))
    )
    sc = (
        ted.crossJoin(F.broadcast(cls.join(pri, "c")))
        .crossJoin(F.broadcast(v))
        .crossJoin(F.broadcast(ndoc))
        .join(ov, ["doc_id", "c"], "left")
        .select(
            "doc_id",
            "lang",
            "c",
            (
                F.round(
                    F.log(F.col("nd").cast("double") / F.col("ntr")), 6
                ).cast("decimal(18,6)")
                + F.col("n_tok")
                * F.round(F.log(1.0 / (F.col("tc") + F.col("v"))), 6).cast(
                    "decimal(18,6)"
                )
                + F.coalesce(F.col("dsum"), F.lit(0))
            ).alias("score"),
        )
    )
    pred = sc.groupBy("doc_id", "lang").agg(
        F.array_sort(
            F.collect_list(F.struct((-F.col("score")).alias("ns"), F.col("c")))
        )
        .getItem(0)
        .getField("c")
        .alias("pred")
    )
    return (
        pred.groupBy(
            F.col("lang").alias("true_lang"), F.col("pred").alias("pred_lang")
        )
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("true_lang", "pred_lang")
    )


@query(
    "q251_target_encoding",
    oracle="""
    WITH li AS (
      SELECT l_orderkey, l_linenumber, l_suppkey,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      FROM lineitem
    ),
    cat AS (
      SELECT l_suppkey, COUNT(*) AS nc, SUM(y) AS sc FROM li GROUP BY 1
    ),
    tot AS (SELECT COUNT(*) AS n, SUM(y) AS yt FROM li)
    SELECT li.l_orderkey, li.l_linenumber,
           CAST((2*((CAST(cat.sc AS HUGEINT) - li.y)*tot.n + 10*tot.yt)
                   *1000000
                 + (cat.nc - 1 + 10)*CAST(tot.n AS HUGEINT))
                // (2*(cat.nc - 1 + 10)*CAST(tot.n AS HUGEINT)) AS DOUBLE)
             / 1000000 AS enc
    FROM li JOIN cat USING (l_suppkey), tot
    """,
    tags=("ml", "feature", "encoding"),
)
def q251_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of the supplier key against the
    return flag, with additive smoothing toward the global prior
    (m = 10 pseudo-observations): enc_i = (S_c − y_i + m·ȳ)/(n_c − 1 + m)
    — the high-cardinality categorical encoder every tabular-ML
    pipeline needs, leakage-free by construction (each row's own label
    is subtracted; the q214/q148 leakage discipline applied to feature
    engineering).

    Scale plan: one category aggregation + one 1-row global aggregate,
    then a single fact-side join (category table broadcasts under AQE);
    per-row work is closed-form arithmetic — no per-category windows,
    no second pass.  Exactness: multiplying through by the global count
    N makes the encoding an exact integer rational ((S_c−y)·N + m·Y)
    over ((n_c−1+m)·N), half-away 6 dp in DECIMAL/HUGEINT (the N²-scale
    numerator passes int64 at ~3e9 rows)."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_suppkey",
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    cat = li.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("nc"), F.sum("y").alias("sc")
    )
    tot = li.agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("yt"))
    return (
        li.join(cat, "l_suppkey")
        .crossJoin(F.broadcast(tot))
        .select(
            "l_orderkey",
            "l_linenumber",
            (
                F.expr(
                    "(2*((CAST(sc AS DECIMAL(38,0)) - y)*n + 10*yt)*1000000"
                    " + (nc - 1 + 10)*CAST(n AS DECIMAL(38,0)))"
                    " div (2*(nc - 1 + 10)*CAST(n AS DECIMAL(38,0)))"
                ).cast("double")
                / 1_000_000
            ).alias("enc"),
        )
    )


@query(
    "q252_sax_symbolic",
    oracle="""
    WITH d AS (
      SELECT CAST(ts AS DATE) AS day, COUNT(*) AS x FROM events GROUP BY 1
    ),
    wk AS (
      SELECT (day - DATE '2020-01-06') // 7 AS week,
             COUNT(*) AS nd, SUM(x) AS sx
      FROM d GROUP BY 1
    ),
    t AS (
      SELECT COUNT(*) AS nw, SUM(sx) AS st, SUM(CAST(nd AS HUGEINT)) AS ndt,
             SUM(CAST(sx AS HUGEINT)*sx*10000 // (CAST(nd AS HUGEINT)*nd))
               AS q4
      FROM wk
    ),
    z AS (
      SELECT wk.week, wk.nd, wk.sx,
             CAST(sx AS DOUBLE)/nd AS paa,
             CAST(st AS DOUBLE)/ndt AS gm,
             sqrt(GREATEST(CAST(q4 AS DOUBLE)/10000/nw
                           - (CAST(st AS DOUBLE)/ndt)
                             *(CAST(st AS DOUBLE)/ndt), 0.0)) AS gs
      FROM wk, t
    )
    SELECT CAST(week AS BIGINT) AS week, CAST(nd AS BIGINT) AS n_days,
           CAST((2*CAST(sx AS HUGEINT)*1000000 + nd) // (2*CAST(nd AS HUGEINT))
                AS DOUBLE) / 1000000 AS paa,
           CASE WHEN paa < gm - 0.6745*gs THEN 'a'
                WHEN paa < gm THEN 'b'
                WHEN paa < gm + 0.6745*gs THEN 'c'
                ELSE 'd' END AS symbol
    FROM z ORDER BY week
    """,
    tags=("timeseries", "symbolic", "sax"),
)
def q252_sax_symbolic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX (Symbolic Aggregate approXimation) of the daily event series:
    weekly piecewise-aggregate means, discretized into a 4-letter
    alphabet at the Gaussian quartile breakpoints (±0.6745σ around the
    mean of the weekly means) — the symbolic representation behind
    motif discovery and anomaly grammars, joining q213/q216/q241/q248
    in the time-series family.

    Scale plan: two calendar-bounded aggregations (day grid → week
    grid); the global mean/σ of weekly means is a 1-row broadcast.
    Exactness: the reported PAA is a half-away 6-dp integer rational;
    the symbol comparisons run on doubles computed from identical
    exact integers in both engines (the per-week mean-square term is
    pre-snapped to a 1e-4 integer grid inside the aggregate, so the
    variance input is an exact integer sum) — the double-path rule:
    same binary inputs, same comparisons, same letters."""
    ev = read_table(spark, sf_dir, "events")
    d = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("x")
    )
    wk = d.groupBy(
        F.expr("datediff(day, DATE '2020-01-06') div 7").alias("week")
    ).agg(F.count(F.lit(1)).alias("nd"), F.sum("x").alias("sx"))
    t = wk.agg(
        F.count(F.lit(1)).alias("nw"),
        F.sum("sx").alias("st"),
        F.sum(F.expr("CAST(nd AS DECIMAL(38,0))")).alias("ndt"),
        F.sum(
            F.expr(
                "CAST(sx AS DECIMAL(38,0))*sx*10000"
                " div (CAST(nd AS DECIMAL(38,0))*nd)"
            )
        ).alias("q4"),
    )
    z = wk.crossJoin(F.broadcast(t)).select(
        "week",
        "nd",
        "sx",
        (F.col("sx").cast("double") / F.col("nd")).alias("paa_raw"),
        (F.col("st").cast("double") / F.col("ndt")).alias("gm"),
        F.sqrt(
            F.greatest(
                F.col("q4").cast("double") / 10000 / F.col("nw")
                - (F.col("st").cast("double") / F.col("ndt"))
                * (F.col("st").cast("double") / F.col("ndt")),
                F.lit(0.0),
            )
        ).alias("gs"),
    )
    return z.select(
        F.col("week").cast("long").alias("week"),
        F.col("nd").cast("long").alias("n_days"),
        (
            F.expr(
                "(2*CAST(sx AS DECIMAL(38,0))*1000000 + nd)"
                " div (2*CAST(nd AS DECIMAL(38,0)))"
            ).cast("double")
            / 1_000_000
        ).alias("paa"),
        F.when(
            F.col("paa_raw") < F.col("gm") - 0.6745 * F.col("gs"), "a"
        )
        .when(F.col("paa_raw") < F.col("gm"), "b")
        .when(F.col("paa_raw") < F.col("gm") + 0.6745 * F.col("gs"), "c")
        .otherwise("d")
        .alias("symbol"),
    ).orderBy("week")


@query(
    "q256_readability",
    oracle="""
    WITH d AS (
      SELECT source,
             len(list_filter(string_split(text, ' '), x -> x <> '')) AS w,
             GREATEST(length(regexp_replace(text, '[^.!?]', '', 'g')), 1)
               AS s,
             len(regexp_extract_all(text, '[aeiouyAEIOUY]+')) AS syl
      FROM documents
    ),
    r AS (
      SELECT source, w,
             CAST((2*CAST(w AS HUGEINT)*1000000 + s) // (2*CAST(s AS HUGEINT))
                  AS DOUBLE) / 1000000 AS wps,
             CAST((2*CAST(syl AS HUGEINT)*1000000 + w)
                  // (2*CAST(w AS HUGEINT)) AS DOUBLE) / 1000000 AS spw
      FROM d WHERE w > 0
    ),
    f AS (
      SELECT source, w,
             CAST(round(206.835 - 1.015*wps - 84.6*spw, 6)
                  AS DECIMAL(18,6)) AS flesch
      FROM r
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST((2*SUM(CAST(w AS HUGEINT))*1000000 + COUNT(*))
                // (2*COUNT(*)) AS DOUBLE) / 1000000 AS avg_words,
           round(CAST(SUM(flesch) AS DOUBLE) / COUNT(*), 6) AS avg_flesch
    FROM f GROUP BY 1 ORDER BY 1
    """,
    tags=("text", "quality", "readability"),
)
def q256_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease profile per source — words/sentence and
    vowel-group syllable approximation, the classic readability score
    as a corpus-quality dimension next to the Gopher rules (q204),
    stopword/punctuation quality (q16) and repetition (q92).

    Scale plan: one projection pass (three counting expressions, all
    JVM-side regex) + one per-source aggregate.  Exactness: both
    per-doc ratios are half-away 6-dp integer rationals; the Flesch
    assembly multiplies snapped rationals by exact decimal constants
    and is itself snapped to DECIMAL(18,6) per doc before the per-source
    sum (the q77 snap-then-sum discipline), so aggregation order cannot
    perturb the average.  Vowel-class counting avoids lower(): the
    class lists both cases explicitly, sidestepping locale-dependent
    case folding (Java vs utf8proc) entirely.

    Grid budget: syllable/word sums widened to DECIMAL(38,0) where n^2-risk exists; quotients are per-doc rationals <= 1e6*small."""
    from ..functions.text import tokens as tok_expr

    docs = read_table(spark, sf_dir, "documents")
    d = docs.select(
        "source",
        F.size(tok_expr(F.col("text"))).alias("w"),
        F.greatest(
            F.length(F.regexp_replace(F.col("text"), r"[^.!?]", "")), F.lit(1)
        ).alias("s"),
        F.expr("regexp_count(text, '[aeiouyAEIOUY]+')").alias("syl"),
    ).where(F.col("w") > 0)
    r = d.select(
        "source",
        "w",
        (
            F.expr(
                "(2*CAST(w AS DECIMAL(38,0))*1000000 + s)"
                " div (2*CAST(s AS DECIMAL(38,0)))"
            ).cast("double")
            / 1_000_000
        ).alias("wps"),
        (
            F.expr(
                "(2*CAST(syl AS DECIMAL(38,0))*1000000 + w)"
                " div (2*CAST(w AS DECIMAL(38,0)))"
            ).cast("double")
            / 1_000_000
        ).alias("spw"),
    )
    f = r.select(
        "source",
        "w",
        F.round(206.835 - 1.015 * F.col("wps") - 84.6 * F.col("spw"), 6)
        .cast("decimal(18,6)")
        .alias("flesch"),
    )
    return (
        f.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (
                F.expr(
                    "(2*SUM(CAST(w AS DECIMAL(38,0)))*1000000 + COUNT(*))"
                    " div (2*COUNT(*))"
                ).cast("double")
                / 1_000_000
            ).alias("avg_words"),
            F.round(
                F.sum("flesch").cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_flesch"),
        )
        .orderBy("source")
    )


@query(
    "q257_session_entropy",
    oracle="""
    WITH c AS (
      SELECT user_id, event_type, COUNT(*) AS c FROM events GROUP BY 1, 2
    ),
    u AS (
      SELECT user_id, SUM(c) AS n,
             SUM(CAST(round(c * ln(CAST(c AS DOUBLE)), 12)
                      AS DECIMAL(26,12))) AS slc
      FROM c GROUP BY 1
    ),
    h AS (
      SELECT user_id, n,
             ln(CAST(n AS DOUBLE)) - CAST(slc AS DOUBLE)/n AS ent
      FROM u
    ),
    b AS (
      SELECT CAST(floor(ent / 0.25) AS INT) AS bucket,
             CAST(round(ent, 12) AS DECIMAL(26,12)) AS ent12
      FROM h
    )
    SELECT bucket, COUNT(*) AS n_users,
           round(CAST(SUM(ent12) AS DOUBLE) / COUNT(*), 6) AS avg_entropy
    FROM b GROUP BY 1 ORDER BY 1
    """,
    tags=("behavior", "entropy", "profile"),
)
def q257_session_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type entropy distribution: H = ln n − (Σ c·ln c)/n
    per user, bucketed at 0.25-nat resolution with per-bucket mean —
    the behavioral-diversity profile (bots sit at H ≈ 0, organic users
    spread) that complements the per-dimension feature profile (q202)
    and k-anonymity audit (q206).

    Scale plan: two keyed aggregations (user × type → user), then the
    bounded bucket rollup; no windows, no per-user state beyond two
    accumulators.  Exactness: the c·ln c terms are snapped at 12 dp and
    DECIMAL-summed per user (q77 discipline); per-user H is then one
    double expression from exact inputs, re-snapped at 12 dp before the
    per-bucket mean so the bucket aggregation order cannot perturb the
    reported average; bucket edges compare identical doubles."""
    ev = read_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("c"))
    u = c.groupBy("user_id").agg(
        F.sum("c").alias("n"),
        F.sum(
            F.round(F.col("c") * F.log(F.col("c").cast("double")), 12).cast(
                "decimal(26,12)"
            )
        ).alias("slc"),
    )
    h = u.select(
        "user_id",
        "n",
        (
            F.log(F.col("n").cast("double"))
            - F.col("slc").cast("double") / F.col("n")
        ).alias("ent"),
    )
    b = h.select(
        F.floor(F.col("ent") / 0.25).cast("int").alias("bucket"),
        F.round(F.col("ent"), 12).cast("decimal(26,12)").alias("ent12"),
    )
    return (
        b.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.round(
                F.sum("ent12").cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_entropy"),
        )
        .orderBy("bucket")
    )


@query(
    "q258_partition_skew_audit",
    oracle="""
    WITH b AS (
      SELECT CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 8))
                  AS BIGINT) % 32 AS bucket,
             COUNT(*) AS n
      FROM lineitem GROUP BY 1
    ),
    t AS (
      SELECT SUM(n) AS nt, MAX(n) AS nmax, COUNT(*) AS nb FROM b
    )
    SELECT CAST(t.nb AS BIGINT) AS n_buckets, CAST(t.nt AS BIGINT) AS n_rows,
           CAST(t.nmax AS BIGINT) AS max_bucket_rows,
           CAST((2*CAST(t.nmax AS HUGEINT)*t.nb*1000000 + t.nt)
                // (2*CAST(t.nt AS HUGEINT)) AS DOUBLE) / 1000000
             AS skew_ratio,
           CAST((2*CAST(t.nmax AS HUGEINT)*1000000 + t.nt)
                // (2*CAST(t.nt AS HUGEINT)) AS DOUBLE) / 1000000
             AS max_share
    FROM t
    """,
    tags=("ops", "skew", "audit"),
)
def q258_partition_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-partition skew audit of the l_orderkey join key: rows
    per md5-derived hash bucket (32 = this repo's shuffle width),
    reporting the max/mean skew ratio and the largest bucket's share —
    the measurement AQE's skew-join logic acts on, surfaced as a query
    so operators can audit a key BEFORE shipping the join (companion to
    the salting operators q102/q103 and the IVF cell audit q166).

    Scale plan: one map-side-combined aggregation to 32 rows, then a
    1-row rollup.  Exactness: both ratios are half-away 6-dp integer
    rationals (skew = nmax·nb/nt, share = nmax/nt).

    Grid budget: numerators widened to DECIMAL(38,0) (nt casts); quotients are skew ratios <= 1e6*partitions."""
    li = read_table(spark, sf_dir, "lineitem")
    b = li.groupBy(
        (
            F.conv(
                F.substring(F.md5(F.col("l_orderkey").cast("string")), 1, 8),
                16,
                10,
            ).cast("bigint")
            % 32
        ).alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n"))
    t = b.agg(
        F.sum("n").alias("nt"),
        F.max("n").alias("nmax"),
        F.count(F.lit(1)).alias("nb"),
    )
    return t.select(
        F.col("nb").cast("long").alias("n_buckets"),
        F.col("nt").cast("long").alias("n_rows"),
        F.col("nmax").cast("long").alias("max_bucket_rows"),
        (
            F.expr(
                "(2*CAST(nmax AS DECIMAL(38,0))*nb*1000000 + nt)"
                " div (2*CAST(nt AS DECIMAL(38,0)))"
            ).cast("double")
            / 1_000_000
        ).alias("skew_ratio"),
        (
            F.expr(
                "(2*CAST(nmax AS DECIMAL(38,0))*1000000 + nt)"
                " div (2*CAST(nt AS DECIMAL(38,0)))"
            ).cast("double")
            / 1_000_000
        ).alias("max_share"),
    )


@query(
    "q259_gini_revenue",
    oracle="""
    WITH cr AS (
      SELECT o_custkey,
             SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2))*100 AS HUGEINT))
               AS xc
      FROM orders GROUP BY 1
    ),
    r AS (
      SELECT xc,
             ROW_NUMBER() OVER (ORDER BY xc, o_custkey) AS i
      FROM cr
    ),
    s AS (
      SELECT COUNT(*) AS n, SUM(xc) AS sx, SUM(CAST(i AS HUGEINT)*xc) AS six
      FROM r
    )
    SELECT CAST(n AS BIGINT) AS n_customers,
           CAST(sx AS DOUBLE) / 100 AS total_revenue,
           CAST((2*(2*six - (n+1)*CAST(sx AS HUGEINT))*1000000
                 + CAST(n AS HUGEINT)*sx)
                // (2*CAST(n AS HUGEINT)*sx) AS DOUBLE) / 1000000 AS gini
    FROM s
    """,
    tags=("stats", "inequality", "prefix-kernel"),
)
def q259_gini_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-customer revenue — the Lorenz-curve
    inequality summary G = (2·Σ i·x_(i))/(n·Σx) − (n+1)/n over
    ascending-sorted revenues, the concentration audit that
    complements top-N+other (q197), market share (q110) and decile
    lift (q190).

    Scale plan: one customer aggregation, then ranks from the prefix
    kernel's global_ranks (no whole-table single-task window); the
    Lorenz sum Σ i·x is one more keyed aggregate.  Exactness: revenues
    are integer cents, ranks exact integers with a (xc, custkey) total
    order, so G is an exact integer rational — half-away 6 dp in
    DECIMAL(38,0)/HUGEINT (Σ i·x reaches n²·x̄·100 ≈ 1e38 only past
    ~1e12 customers)."""
    from ..operators.prefix import global_ranks

    o = read_table(spark, sf_dir, "orders")
    cr = o.groupBy("o_custkey").agg(
        F.sum(
            F.expr(
                "CAST(CAST(o_totalprice AS DECIMAL(18,2))*100"
                " AS DECIMAL(38,0))"
            )
        ).alias("xc")
    )
    r = global_ranks(cr, order_cols=["xc", "o_custkey"], rn_col="i")
    s = r.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xc").alias("sx"),
        F.sum(F.expr("CAST(i AS DECIMAL(38,0))*xc")).alias("six"),
    )
    return s.select(
        F.col("n").cast("long").alias("n_customers"),
        (F.col("sx").cast("double") / 100).alias("total_revenue"),
        (
            F.expr(
                "(2*(2*six - (n+1)*CAST(sx AS DECIMAL(38,0)))*1000000"
                " + CAST(n AS DECIMAL(38,0))*sx)"
                " div (2*CAST(n AS DECIMAL(38,0))*sx)"
            ).cast("double")
            / 1_000_000
        ).alias("gini"),
    )


@query(
    "q260_negative_sampling",
    oracle="""
    WITH pos AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    np AS (SELECT COUNT(*) AS np FROM part),
    samp AS (
      SELECT c, p FROM pos
      WHERE CAST(('0x' || substr(md5(CAST(c AS VARCHAR)), 1, 8)) AS BIGINT)
            % 8 = 0
    ),
    cand AS (
      SELECT samp.c, samp.p AS pos_part, j.j,
             CAST(('0x' || substr(md5(CAST(samp.c AS VARCHAR) || ':'
                          || CAST(samp.p AS VARCHAR) || ':'
                          || CAST(j.j AS VARCHAR)), 1, 8)) AS BIGINT)
               % np.np AS neg_part
      FROM samp CROSS JOIN (VALUES (1),(2),(3)) AS j(j), np
    )
    SELECT cand.c AS custkey, cand.pos_part, cand.j AS draw,
           cand.neg_part
    FROM cand
    LEFT JOIN pos ON pos.c = cand.c AND pos.p = cand.neg_part
    WHERE pos.p IS NULL
    ORDER BY custkey, pos_part, draw
    """,
    tags=("ml", "recsys", "sampling"),
)
def q260_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for recommender training: for a
    stable 1-in-8 customer sample, each (customer, purchased-part)
    positive draws 3 md5-derived candidate parts from the catalog, and
    candidates that are accidental positives are anti-joined away —
    the contrastive-pair generator every two-tower/BPR pipeline needs,
    with md5 replacing rand() so the sample is replayable and
    hash-gateable (the q168/q231 determinism discipline).

    Scale plan: positives come from one join + distinct; candidate
    generation is a ×3 VALUES fan-out (no cross join against the part
    table — the catalog size enters only as a broadcast modulus); the
    false-negative filter is one keyed LEFT join back to the positives
    (at production scale a bloom prefilter (q122's operator) absorbs
    it).  Everything is exact integer arithmetic."""
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    pos = (
        o.join(li, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
        .localCheckpoint(eager=True)  # feeds the sample AND the anti filter
    )
    np_ = part.agg(F.count(F.lit(1)).alias("np"))
    samp = pos.where(
        F.conv(
            F.substring(F.md5(F.col("c").cast("string")), 1, 8), 16, 10
        ).cast("bigint")
        % 8
        == 0
    )
    cand = (
        samp.crossJoin(F.broadcast(np_))
        .withColumn("j", F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))))
        .select(
            "c",
            F.col("p").alias("pos_part"),
            "j",
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                ":",
                                F.col("c").cast("string"),
                                F.col("p").cast("string"),
                                F.col("j").cast("string"),
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("bigint")
                % F.col("np")
            ).alias("neg_part"),
        )
    )
    return (
        cand.join(
            pos.select(F.col("c"), F.col("p").alias("neg_part")),
            ["c", "neg_part"],
            "left_anti",
        )
        .select(
            F.col("c").alias("custkey"),
            "pos_part",
            F.col("j").alias("draw"),
            "neg_part",
        )
        .orderBy("custkey", "pos_part", "draw")
    )


@query(
    "q261_tfidf_cosine_pairs",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
      FROM documents
    ),
    grams AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t)-1),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS token
      FROM toks
    ),
    post AS (
      SELECT token, doc_id, COUNT(*) AS tf FROM grams GROUP BY 1, 2
    ),
    nn AS (SELECT COUNT(DISTINCT doc_id) AS n FROM post),
    dfr AS (SELECT token, COUNT(*) AS df FROM post GROUP BY 1),
    w AS (
      SELECT post.token, post.doc_id, dfr.df,
             CAST(round(post.tf * (ln((nn.n + 1.0)/(dfr.df + 1.0)) + 1.0), 6)
                  AS DECIMAL(18,6)) AS w
      FROM post JOIN dfr USING (token), nn
    ),
    nrm AS (
      SELECT doc_id, sqrt(CAST(SUM(CAST(w*w AS DECIMAL(38,12))) AS DOUBLE))
               AS nrm
      FROM w GROUP BY 1
    ),
    dot AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             COUNT(*) AS n_shared,
             SUM(CAST(a.w*b.w AS DECIMAL(38,12))) AS dp
      FROM w a JOIN w b ON a.token = b.token AND a.doc_id < b.doc_id
      WHERE a.df <= 100 AND b.df <= 100
      GROUP BY 1, 2
    ),
    cosd AS (
      SELECT doc_a, doc_b, n_shared,
             round(CAST(dp AS DOUBLE) / (na.nrm * nb.nrm), 6) AS cosine
      FROM dot JOIN nrm na ON na.doc_id = doc_a
               JOIN nrm nb ON nb.doc_id = doc_b
    )
    SELECT doc_a, doc_b, CAST(n_shared AS BIGINT) AS n_shared, cosine
    FROM cosd WHERE cosine >= 0.4
    ORDER BY cosine DESC, doc_a, doc_b LIMIT 50
    """,
    tags=("text", "similarity", "tfidf", "inverted-index"),
)
def q261_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top lexically-similar document pairs by TF-IDF cosine, computed
    THROUGH the inverted index: the sparse-vector twin of the
    embedding-cosine near-dup (q39) and the weighted upgrade of token
    Jaccard (q21) — the classic duplicate-detection score when no
    embeddings exist.  Terms are 3-word shingles, not unigrams: this
    corpus is template text over a ~31-word vocabulary (the q177
    lesson), so unigram TF-IDF degenerates (every word is a stopword);
    the q22/q49 shingle definition restores a discriminative term
    space.

    Scale plan: the pair stage is a posting-list self-join restricted
    to discriminative tokens (df ≤ 100): candidate volume is
    Σ_token df² over that capped set — the q119/q177 inverted-index
    economics; common tokens are excluded from PAIRING but still count
    toward norms, the standard df-cap approximation (understates
    cosine, never invents pairs).  No per-pair rescan; the cut is a
    TakeOrdered.  Exactness: weights are 6-dp-snapped decimals, dot
    products exact decimal sums; only the final norm division is
    double (identical inputs both engines), re-snapped at 6 dp."""
    w = _tfidf_weights(spark, sf_dir)
    nrm = w.groupBy("doc_id").agg(
        F.sqrt(
            F.sum(F.expr("CAST(w*w AS DECIMAL(38,12))")).cast("double")
        ).alias("nrm")
    )
    wp = w.where(F.col("df") <= 100)
    # posting-list "basket" form (the q322/q342 r12 treatment): each
    # token's doc-sorted (doc, w) posting list enumerates exactly the
    # doc_a < doc_b candidate pairs via posexplode + slice — ONE
    # exchange (groupBy token) instead of the posting self-join; doc_id
    # is unique within a token's postings, so the aggregates are
    # identical
    post = wp.groupBy("token").agg(
        F.array_sort(F.collect_list(F.struct("doc_id", "w"))).alias("ps")
    )
    dot = (
        post.select(F.posexplode("ps").alias("i", "a"), "ps")
        .select(
            "a", F.explode(F.expr("slice(ps, i + 2, size(ps))")).alias("b")
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.w").alias("wa"),
            F.col("b.w").alias("wb"),
        )
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("n_shared"),
            F.sum(F.expr("CAST(wa*wb AS DECIMAL(38,12))")).alias("dp"),
        )
    )
    cosd = (
        dot.join(
            nrm.select(F.col("doc_id").alias("doc_a"), F.col("nrm").alias("na")),
            "doc_a",
        )
        .join(
            nrm.select(F.col("doc_id").alias("doc_b"), F.col("nrm").alias("nb")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            F.round(
                F.col("dp").cast("double") / (F.col("na") * F.col("nb")), 6
            ).alias("cosine"),
        )
    )
    return (
        cosd.where(F.col("cosine") >= 0.4)
        .orderBy(F.col("cosine").desc(), "doc_a", "doc_b")
        .limit(50)
        .select(
            "doc_a",
            "doc_b",
            F.col("n_shared").cast("long").alias("n_shared"),
            "cosine",
        )
    )



def _bm25_index(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Memoized (post, dl, st, dfr) retrieval index over 3-shingle terms
    — the posting list (token, doc_id, tf), per-doc lengths, the 1-row
    corpus stats (n_docs, avgdl) and the df table, built from ONE pinned
    tokenize+shingle pass per (session, dataset).  Shared by the
    ranking-eval family (q263 MRR, q266+ NDCG): each consumer's marginal
    cost is its own joins, never a re-tokenize."""
    return artifact(spark, sf_dir, "bm25idx", lambda: _build_bm25_index(spark, sf_dir))


def _build_bm25_index(spark: SparkSession, sf_dir: str) -> tuple:
    from ..functions.text import shingles, tokens as tok_expr

    docs = read_table(spark, sf_dir, "documents")
    grams = docs.select(
        "doc_id", F.explode(shingles(tok_expr(F.col("text")), 3)).alias("token")
    ).localCheckpoint(eager=True)  # feeds postings, doclens
    post = grams.groupBy("token", "doc_id").agg(
        F.count(F.lit(1)).alias("tf")
    ).localCheckpoint(eager=True)  # feeds dfr + every consumer's joins
    dl = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    st = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (
            F.sum(F.col("dl").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avgdl"),
    )
    dfr = post.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    return post, dl, st, dfr


def _tfidf_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized (token, doc_id, df, w) 6-dp TF-IDF table over 3-shingle
    terms — pinned once per (session, dataset); feeds q261's norms and
    both pair-join sides (and any future lexical-similarity query)."""
    return artifact(spark, sf_dir, "tfidf3", lambda: _build_tfidf_weights(spark, sf_dir))


def _build_tfidf_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import shingles, tokens as tok_expr

    docs = read_table(spark, sf_dir, "documents")
    postings = (
        docs.select(
            "doc_id",
            F.explode(shingles(tok_expr(F.col("text")), 3)).alias("token"),
        )
        .groupBy("token", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    nn = postings.agg(F.count_distinct("doc_id").alias("n"))
    dfr = postings.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    w = (
        postings.join(F.broadcast(dfr), "token")
        .crossJoin(F.broadcast(nn))
        .select(
            "token",
            "doc_id",
            "df",
            F.round(
                F.col("tf")
                * (F.log((F.col("n") + 1.0) / (F.col("df") + 1.0)) + 1.0),
                6,
            )
            .cast("decimal(18,6)")
            .alias("w"),
        )
        .localCheckpoint(eager=True)
    )
    return w


def _q262_oracle(steps: int = 60) -> str:
    """Unrolled expected-steps-to-absorption iteration t = 1 + Q t over
    the transient-to-transient matrix — q236's per-term 1e-12 integer
    snap makes the SQL aggregate and the numpy reduction walk identical
    trajectories; each level references only the previous one; qt is
    MATERIALIZED (the q255 lesson)."""
    levels = ["t0 AS (SELECT DISTINCT i, 0.0 AS t FROM qt)"]
    for k in range(1, steps + 1):
        levels.append(
            f"""t{k} AS {"MATERIALIZED " if k % 15 == 0 else ""}(
  SELECT q.i,
         1.0 + SUM(CAST(floor(q.p * COALESCE(x.t, 0.0)
                        * 1000000000000 + 0.5) AS BIGINT))
           / 1000000000000.0 AS t
  FROM qt q LEFT JOIN t{k - 1} x ON q.j = x.i
  GROUP BY 1
)"""
        )
    return f"""
    WITH pe AS (
      SELECT user_id, event_type, ts, event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    fp AS (
      SELECT user_id, MIN(rn) AS prn FROM pe
      WHERE event_type = 'purchase' GROUP BY 1
    ),
    j AS (
      SELECT pe.user_id, rn,
             CASE WHEN event_type = 'purchase' THEN '__conv'
                  ELSE event_type END AS st
      FROM pe LEFT JOIN fp USING (user_id)
      WHERE fp.prn IS NULL OR rn <= fp.prn
    ),
    steps_t AS (
      SELECT user_id,
             COALESCE(LAG(st) OVER (PARTITION BY user_id ORDER BY rn),
                      '__start') AS i,
             st AS jn
      FROM j
    ),
    terminal AS (
      SELECT user_id, st AS i, '__null' AS jn
      FROM (SELECT user_id, st,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY rn DESC) AS rr
            FROM j)
      WHERE rr = 1 AND st <> '__conv'
    ),
    trans AS (
      SELECT i, jn FROM steps_t UNION ALL SELECT i, jn FROM terminal
    ),
    cnt AS (SELECT i, jn, COUNT(*) AS c FROM trans GROUP BY 1, 2),
    tot AS (SELECT i, SUM(c) AS t FROM cnt GROUP BY 1),
    prob AS (
      SELECT i, jn, CAST(c AS DOUBLE) / t AS p
      FROM cnt JOIN tot USING (i)
    ),
    qt AS MATERIALIZED (
      SELECT i, jn AS j, p FROM prob
      WHERE jn <> '__conv' AND jn <> '__null'
    ),
    {",".join(levels)}
    SELECT i AS state, round(t, 6) AS exp_steps
    FROM t{steps} ORDER BY state
    """


@query(
    "q262_absorption_time",
    oracle=_q262_oracle(),
    tags=("attribution", "markov", "iterative"),
)
def q262_absorption_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected steps to absorption (conversion OR journey end) from
    each state of the purchase-truncated journey chain — the
    fundamental-matrix row sums t = (I − Q)⁻¹·1, the "how long until
    this journey resolves" companion to q236's "where does it resolve"
    (absorption probabilities / removal effects) and q210's
    non-parametric time-to-event curve.

    Scale split and exactness are q236's, by construction: the
    corpus-scale journey/transition build is SHARED with q236 through
    the memoized helper (plans/analytics2._journey_prob — one user
    window pass serves both queries per session); the chain is
    (channels+2)² constant-sized state, so the 60 fixpoint iterations
    of t = 1 + Q·t run in ONE task with every per-step term snapped to
    the 1e-12 integer grid (order-independent sums → the numpy loop
    and the unrolled SQL walk bit-identical trajectories)."""
    from ..plans.analytics2 import _MAX_CHAIN_ROWS, _journey_prob

    _, prob = _journey_prob(spark, sf_dir)
    qt = prob.where(
        (F.col("jn") != "__conv") & (F.col("jn") != "__null")
    ).select("i", F.col("jn").alias("j"), "p")

    def kernel(batches):
        import numpy as np
        import pandas as pd

        chunks = list(batches)
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        if len(pdf) > _MAX_CHAIN_ROWS:
            # bounded-state contract (the q236 kernel guard): the
            # transient matrix is states², event-TYPE cardinality
            raise ValueError(
                f"absorption-time kernel: {len(pdf)} rows exceed the "
                "bounded chain contract (states^2)"
            )
        states = sorted(set(pdf["i"]))
        idx = {s: k for k, s in enumerate(states)}
        q = np.zeros((len(states), len(states)))
        for i_s, j_s, p in zip(pdf["i"], pdf["j"], pdf["p"]):
            if j_s in idx:
                q[idx[i_s], idx[j_s]] = p
        t = np.zeros(len(states))
        for _ in range(60):
            # replay the oracle's exact arithmetic: per-term 1e-12
            # snap, exact integer sum, then the +1
            terms = np.floor(q * t[None, :] * 1e12 + 0.5).astype(np.int64)
            t = 1.0 + terms.sum(axis=1) / 1e12
        # Spark/DuckDB round() is HALF-AWAY; np.round is half-even and
        # WILL eventually flip a hash (CLAUDE.md rule) — floor snap
        # (values are nonnegative step counts)
        yield pd.DataFrame(
            {
                "state": states,
                "exp_steps": np.floor(t * 1e6 + 0.5) / 1e6,
            }
        )

    one_task = qt.coalesce(1).limit(_MAX_CHAIN_ROWS + 1)
    out = one_task.mapInPandas(kernel, "state string, exp_steps double")
    return out.orderBy("state")


@query(
    "q263_retrieval_mrr",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
      FROM documents
    ),
    grams AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t)-1),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS token
      FROM toks
    ),
    post AS (
      SELECT token, doc_id, COUNT(*) AS tf FROM grams GROUP BY 1, 2
    ),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM grams GROUP BY 1),
    st AS (
      SELECT COUNT(*) AS n_docs,
             CAST(SUM(CAST(dl AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
               AS avgdl
      FROM dl
    ),
    dfr AS (SELECT token, COUNT(*) AS df FROM post GROUP BY 1),
    qs AS (
      SELECT token AS qtok, df FROM dfr
      WHERE df BETWEEN 5 AND 50
      ORDER BY df DESC, token ASC LIMIT 10
    ),
    cand AS (
      SELECT qs.qtok, p.doc_id, p.tf, d.dl,
             round(p.tf * 2.2
                   / (p.tf + 1.2*(1 - 0.75 + 0.75*d.dl/st.avgdl)), 6)
               AS score
      FROM qs JOIN post p ON p.token = qs.qtok
      JOIN dl d ON d.doc_id = p.doc_id, st
    ),
    rk AS (
      SELECT qtok, doc_id, tf, score,
             ROW_NUMBER() OVER (PARTITION BY qtok
                                ORDER BY score DESC, doc_id ASC) AS rnk
      FROM cand
    ),
    per AS (
      SELECT qtok,
             COUNT(*) AS n_candidates,
             SUM(CASE WHEN tf >= 2 THEN 1 ELSE 0 END) AS n_gold,
             MIN(CASE WHEN tf >= 2 THEN rnk END) AS first_gold,
             SUM(CASE WHEN tf >= 2 AND rnk <= 10 THEN 1 ELSE 0 END)
               AS gold_in_10
      FROM rk GROUP BY 1
    )
    SELECT qtok AS query_shingle,
           CAST(n_candidates AS BIGINT) AS n_candidates,
           CAST(n_gold AS BIGINT) AS n_gold,
           CASE WHEN first_gold IS NULL THEN 0.0
                ELSE CAST((2*1000000 + first_gold) // (2*first_gold)
                          AS DOUBLE) / 1000000 END AS rr,
           CASE WHEN n_gold = 0 THEN 0.0
                ELSE CAST((2*gold_in_10*1000000 + n_gold) // (2*n_gold)
                          AS DOUBLE) / 1000000 END AS recall_at_10
    FROM per ORDER BY query_shingle
    """,
    tags=("retrieval", "eval", "bm25"),
)
def q263_retrieval_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval evaluation through the index: for ten deterministic
    mid-frequency shingle queries, rank candidates by the BM25
    tf/length component and report reciprocal rank of the first
    multi-occurrence ("truly about it") document plus recall@10 —
    the ranking-eval corner (MRR / recall@k) that completes the
    eval family next to threshold-free AUC/AP (q215/q221) and the
    retrieval scorers themselves (q67/q132/q198).

    Scale plan: query selection is a TakeOrdered over the df table;
    candidates per query are one posting-list read bounded by the df
    band (≤ 50 docs), so the per-query ranking window is bounded by
    construction (never a corpus-wide partition).  Reuses the memoized
    TF-IDF/posting machinery's term space (3-shingles — unigrams
    degenerate on this corpus).  Exactness: scores are doubles from
    identical exact inputs, 6-dp rounded with doc_id tie-breaks (the
    q67 ranking discipline); rr and recall are half-away 6-dp integer
    rationals.

    Grid budget: ranks and gold counts <= 10 per query - tiny integers."""
    from pyspark.sql.window import Window

    post, dl, st, dfr = _bm25_index(spark, sf_dir)
    qs = (
        dfr.where(F.col("df").between(5, 50))
        .orderBy(F.col("df").desc(), F.col("token").asc())
        .limit(10)
        .select(F.col("token").alias("qtok"))
    )
    cand = (
        F.broadcast(qs)
        .join(post, post.token == F.col("qtok"))
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(st))
        .select(
            "qtok",
            "doc_id",
            "tf",
            F.round(
                F.col("tf")
                * 2.2
                / (
                    F.col("tf")
                    + 1.2 * (1 - 0.75 + 0.75 * F.col("dl") / F.col("avgdl"))
                ),
                6,
            ).alias("score"),
        )
    )
    rk = cand.withColumn(
        "rnk",
        F.row_number().over(
            Window.partitionBy("qtok").orderBy(
                F.col("score").desc(), F.col("doc_id").asc()
            )
        ),
    )
    per = rk.groupBy("qtok").agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.sum(F.when(F.col("tf") >= 2, 1).otherwise(0)).alias("n_gold"),
        F.min(F.when(F.col("tf") >= 2, F.col("rnk"))).alias("first_gold"),
        F.sum(
            F.when((F.col("tf") >= 2) & (F.col("rnk") <= 10), 1).otherwise(0)
        ).alias("gold_in_10"),
    )
    return per.select(
        F.col("qtok").alias("query_shingle"),
        F.col("n_candidates").cast("long").alias("n_candidates"),
        F.col("n_gold").cast("long").alias("n_gold"),
        F.when(F.col("first_gold").isNull(), F.lit(0.0))
        .otherwise(
            F.expr("(2*1000000 + first_gold) div (2*first_gold)").cast(
                "double"
            )
            / 1_000_000
        )
        .alias("rr"),
        F.when(F.col("n_gold") == 0, F.lit(0.0))
        .otherwise(
            F.expr("(2*gold_in_10*1000000 + n_gold) div (2*n_gold)").cast(
                "double"
            )
            / 1_000_000
        )
        .alias("recall_at_10"),
    ).orderBy("query_shingle")


@query(
    "q264_burstiness_fano",
    oracle="""
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS x
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT event_type, COUNT(*) AS nd, SUM(x) AS sx,
             SUM(CAST(x AS HUGEINT)*x) AS sxx
      FROM d GROUP BY 1
    )
    SELECT event_type, CAST(nd AS BIGINT) AS n_days,
           CAST((2*CAST(sx AS HUGEINT)*1000000 + nd)
                // (2*CAST(nd AS HUGEINT)) AS DOUBLE) / 1000000
             AS mean_daily,
           CAST((2*(CAST(nd AS HUGEINT)*sxx - CAST(sx AS HUGEINT)*sx)
                   *1000000
                 + (nd-1)*CAST(nd AS HUGEINT)*sx)
                // (2*(nd-1)*CAST(nd AS HUGEINT)*sx) AS DOUBLE) / 1000000
             AS fano
    FROM s WHERE nd >= 2 ORDER BY event_type
    """,
    tags=("timeseries", "dispersion"),
)
def q264_burstiness_fano(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fano factor (index of dispersion, sample-variance/mean) of the
    per-type daily count series — the burstiness screen: a Poisson
    arrival process sits at 1, campaign/bot traffic far above; the
    cheap companion to the seasonal-anomaly (q193) and change-point
    (q216) detectors.

    Scale plan: one grid aggregation + a per-type sufficient-statistic
    rollup (the q189 shape).  Exactness: Fano = s²/x̄ with the sample
    variance s² = (n·Σx² − (Σx)²)/(n(n−1)) and mean x̄ = Σx/n collapses
    to ONE exact integer rational, (n·Σx² − (Σx)²)/((n−1)·Σx), with
    half-away 6-dp division, DECIMAL/HUGEINT widened."""
    ev = read_table(spark, sf_dir, "events")
    d = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("x")
    )
    s = d.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("nd"),
        F.sum("x").alias("sx"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0))*x")).alias("sxx"),
    )
    return (
        s.where(F.col("nd") >= 2)
        .select(
            "event_type",
            F.col("nd").cast("long").alias("n_days"),
            (
                F.expr(
                    "(2*CAST(sx AS DECIMAL(38,0))*1000000 + nd)"
                    " div (2*CAST(nd AS DECIMAL(38,0)))"
                ).cast("double")
                / 1_000_000
            ).alias("mean_daily"),
            (
                F.expr(
                    "(2*(CAST(nd AS DECIMAL(38,0))*sxx"
                    " - CAST(sx AS DECIMAL(38,0))*sx)*1000000"
                    " + (nd-1)*CAST(nd AS DECIMAL(38,0))*sx)"
                    " div (2*(nd-1)*CAST(nd AS DECIMAL(38,0))*sx)"
                ).cast("double")
                / 1_000_000
            ).alias("fano"),
        )
        .orderBy("event_type")
    )


@query(
    "q265_hourly_concentration",
    oracle="""
    WITH h AS (
      SELECT event_type, date_part('hour', ts) AS hh, COUNT(*) AS c
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT event_type, SUM(c) AS n, SUM(CAST(c AS HUGEINT)*c) AS scc,
             COUNT(*) AS n_hours, MAX(c) AS cmax
      FROM h GROUP BY 1
    )
    SELECT event_type, CAST(n_hours AS BIGINT) AS n_hours,
           CAST((2*CAST(scc AS HUGEINT)*1000000
                 + CAST(n AS HUGEINT)*n)
                // (2*CAST(n AS HUGEINT)*n) AS DOUBLE) / 1000000 AS hhi,
           CAST((2*CAST(cmax AS HUGEINT)*1000000 + n)
                // (2*CAST(n AS HUGEINT)) AS DOUBLE) / 1000000
             AS peak_share
    FROM s ORDER BY event_type
    """,
    tags=("timeseries", "concentration"),
)
def q265_hourly_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day concentration per event type: the Herfindahl index
    Σ (c_h/n)² over the 24 hourly shares plus the peak hour's share —
    uniform traffic sits at 1/24, scheduled/bot activity spikes toward
    1; complements the dispersion screen (q264) and the hourly rollup
    (q14) with a single comparable concentration number.

    Scale plan: one bounded-key aggregation (type × 24) + per-type
    rollup.  Exactness: HHI = Σc²/n² and peak share are exact integer
    rationals, half-away 6 dp.

    Grid budget: numerators widened to DECIMAL(38,0) (n casts); quotients are HHI-class rationals <= 1e6."""
    ev = read_table(spark, sf_dir, "events")
    h = ev.groupBy("event_type", F.hour("ts").alias("hh")).agg(
        F.count(F.lit(1)).alias("c")
    )
    s = h.groupBy("event_type").agg(
        F.sum("c").alias("n"),
        F.sum(F.expr("CAST(c AS DECIMAL(38,0))*c")).alias("scc"),
        F.count(F.lit(1)).alias("n_hours"),
        F.max("c").alias("cmax"),
    )
    return s.select(
        "event_type",
        F.col("n_hours").cast("long").alias("n_hours"),
        (
            F.expr(
                "(2*CAST(scc AS DECIMAL(38,0))*1000000"
                " + CAST(n AS DECIMAL(38,0))*n)"
                " div (2*CAST(n AS DECIMAL(38,0))*n)"
            ).cast("double")
            / 1_000_000
        ).alias("hhi"),
        (
            F.expr(
                "(2*CAST(cmax AS DECIMAL(38,0))*1000000 + n)"
                " div (2*CAST(n AS DECIMAL(38,0)))"
            ).cast("double")
            / 1_000_000
        ).alias("peak_share"),
    ).orderBy("event_type")
